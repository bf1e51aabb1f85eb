package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Blocked record linkage (entity resolution) — Fellegi–Sunter shape:
  * candidate pairs come from an EQUI-join on blocking keys (the only way
  * linkage scales: a 100 TB customer file never all-pairs; block quality
  * governs recall, block cardinality governs cost), then each pair is
  * scored by a weighted sum of field-agreement indicators and thresholded.
  * Integer weights and exact predicates (equality, levenshtein bounds)
  * keep the verdict engine-independent — no probabilistic EM fit here,
  * the weights are the caller's trained/odds-derived constants.
  *
  * Scale shape: one shuffle on the blocking key per side; per-block work
  * is |L_b|×|R_b|, so a skewed block (everyone named "SMITH") is the
  * operational risk — cap or salt hot blocks upstream, exactly the
  * [[Skew]] treatment. The agreement expressions run inside the join's
  * generated code; no UDFs.
  */
object Entity {

  /** Link `left` to `right`: both frames must carry the `blockCols`
    * (same names) plus their payload fields; every non-block column is
    * prefixed `l_`/`r_` so `agreements` predicates can reference both
    * sides. Each agreement is (SQL predicate, integer weight); a pair's
    * score is the weight sum of satisfied predicates, kept when
    * `score >= threshold`. Output: block cols + prefixed fields +
    * one `a<i>` indicator per agreement + `score`.
    */
  def blockedLink(left: DataFrame, right: DataFrame, blockCols: Seq[String],
                  agreements: Seq[(String, Int)], threshold: Int): DataFrame = {
    require(blockCols.nonEmpty, "blocking keys required — never all-pairs")
    require(agreements.nonEmpty, "need at least one agreement predicate")
    val cand = prefix(left, "l_", blockCols).join(prefix(right, "r_", blockCols),
      blockCols)
    score(cand, agreements, threshold)
  }

  /** [[blockedLink]] with the hot-block (skew) treatment applied: the
    * scaladoc's "everyone named SMITH" block puts |L_b|×|R_b| pair work
    * in ONE reducer under the plain equi-join; here the `left` side
    * scatters over `salts` sub-keys ([[Skew.saltExpr]] — content hash +
    * partition id, so identical hot rows still spread) and the `right`
    * side replicates `salts`×, so the hot block's max task shrinks to
    * (|L_b|/salts)×|R_b|. Total pair work is unchanged — salting moves
    * the straggler/OOM ceiling, not the join size — and the OUTPUT is
    * row-identical to [[blockedLink]] (each left row meets each right
    * block-mate exactly once: only on the left row's own salt).
    */
  def blockedLinkSalted(left: DataFrame, right: DataFrame,
                        blockCols: Seq[String],
                        agreements: Seq[(String, Int)], threshold: Int,
                        salts: Int = 16): DataFrame = {
    require(blockCols.nonEmpty, "blocking keys required — never all-pairs")
    require(agreements.nonEmpty, "need at least one agreement predicate")
    require(salts > 0, "salts must be positive")
    val l = prefix(left, "l_", blockCols)
    val saltedL = l.withColumn("__salt", Skew.saltExpr(l, salts))
    val saltedR = prefix(right, "r_", blockCols)
      .withColumn("__salt", explode(expr(s"sequence(0, ${salts - 1})")))
    score(saltedL.join(saltedR, blockCols :+ "__salt"), agreements, threshold)
      .drop("__salt")
  }

  /** The (id → entity label) assignment behind [[goldenRecords]] and the
    * merge audits: the connected components of the match graph from
    * [[graft.llm.Dedup.dupClusters]] (min-label propagation with pointer
    * jumping, run to its fixed point, loud failure if it does not
    * converge), each id labelled with its component's minimum id.
    * `pairs`: matched (lid, rid) id pairs; `ids`: every record id (an id
    * in no pair is its own label). Output: (id, label).
    */
  def entityLabels(pairs: DataFrame, ids: DataFrame): DataFrame = {
    val clusters = Dedup.dupClusters(pairs.selectExpr(
      "CAST(lid AS BIGINT) AS doc_a", "CAST(rid AS BIGINT) AS doc_b"))
    ids.join(clusters.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_rep"), col("id")).as("label"))
  }

  /** Survivorship over a matched-pair set — the step AFTER linkage: fold
    * matches into entities ([[entityLabels]]) and elect ONE golden
    * record per entity by the caller's ordered preference rule (the MDM
    * "survivorship" policy: most-complete / most-trusted / freshest).
    * Linkage components are tiny by construction (stars and short chains
    * around one real-world entity), so the differential oracle replays a
    * fixed number of min-label rounds as chained CTEs; a component deeper
    * than those rounds would make the oracle disagree, not pass.
    *
    * `pairs`: matched (lid, rid) id pairs from [[blockedLink]] — the two
    * id spaces must be disjoint. `records`: (id, payload…) for EVERY
    * record on either side; unmatched records survive as singleton
    * entities (the golden record is themselves — a real MDM table keeps
    * them). `pick`: best-first sort for the election; make it total
    * (tie-break on id) or the winner is nondeterministic.
    *
    * Output: (entity_id = min member id, n_members, golden payload…).
    */
  def goldenRecords(pairs: DataFrame, records: DataFrame,
                    pick: Seq[Column]): DataFrame = {
    val members = records.join(entityLabels(pairs, records.select("id")),
      Seq("id"))
    val golden = members
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("label")).orderBy(pick: _*)))
      .where(col("__rn") === 1).drop("__rn")
    members.groupBy("label")
      .agg(min("id").as("entity_id"), count(lit(1)).as("n_members"))
      .join(golden, Seq("label"))
      .drop("label")
  }

  private def prefix(df: DataFrame, p: String, blockCols: Seq[String]) =
    df.columns.filterNot(blockCols.contains).foldLeft(df)(
      (d, c) => d.withColumnRenamed(c, s"$p$c"))

  private def score(cand: DataFrame, agreements: Seq[(String, Int)],
                    threshold: Int): DataFrame = {
    val scored = agreements.zipWithIndex.foldLeft(cand) {
      case (d, ((pred, w), i)) =>
        d.withColumn(s"a$i",
          expr(s"CASE WHEN $pred THEN $w ELSE 0 END"))
    }
    scored
      .withColumn("score",
        expr(agreements.indices.map(i => s"a$i").mkString(" + ")))
      .where(col("score") >= threshold)
  }

  /** Fellegi–Sunter EM parameter estimation — the scaladoc above says
    * "the weights are the caller's trained constants"; THIS is the
    * trainer (the Splink/fastLink core): unsupervised EM over the
    * candidate pairs' binary agreement patterns, estimating λ (match
    * prevalence among candidates) and per-field m/u probabilities
    * (P(agree | match) / P(agree | non-match)), whose ratio is the
    * field's match weight.
    *
    * Scale shape: the corpus-scale work is ONE group-by over the
    * candidate pairs → the 2^k-row agreement-pattern histogram; EM runs
    * driver-side on that histogram (model-sized state, the lloydLoop
    * discipline — k fields is ≤ 2^k ≤ tens of rows no matter how many
    * billions of pairs), so iteration cost is independent of corpus
    * size.
    *
    * Determinism: every EM quantity is a FIXED IEEE tree — per-pattern
    * match likelihood folds factors in field order j ascending starting
    * from λ, the M-step sums fold patterns in ascending (a0,…,ak)
    * order, and each update is one division — so an engine replaying
    * the identical operation sequence (the oracle's chained per-
    * iteration CTE folds) reproduces every parameter bit-identically.
    * Initial values are exact dyadics (λ=0.25, m=0.75, u=0.25).
    *
    * `cand`: candidate pairs with binary 0/1 agreement columns `aCols`.
    * Output: one row per observed pattern — (aCols…, n, p_match) plus
    * the final (λ, m_j, u_j) repeated on every row, RAW doubles (the
    * caller applies its engine's ROUND at the output edge).
    */
  def emWeights(cand: DataFrame, aCols: Seq[String], iters: Int = 5): DataFrame = {
    require(aCols.nonEmpty && aCols.size <= 8, "1..8 agreement fields")
    require(iters >= 1, "iters must be positive")
    val spark = cand.sparkSession
    val k = aCols.size
    val hist0 = cand.groupBy(aCols.map(col): _*)
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (aCols.indices.map(r.getInt).toArray, r.getLong(k)))
    val hist = hist0.sortBy(_._1.toSeq)(
      math.Ordering.Implicits.seqOrdering[Seq, Int])
    val nTot = hist.map(_._2).sum
    var lam = 0.25
    val m = Array.fill(k)(0.75)
    val u = Array.fill(k)(0.25)
    def weights(): Array[(Array[Int], Long, Double)] = hist.map { case (g, n) =>
      var pm = lam
      var pu = 1.0 - lam
      var j = 0
      while (j < k) {
        pm = pm * (if (g(j) == 1) m(j) else 1.0 - m(j))
        pu = pu * (if (g(j) == 1) u(j) else 1.0 - u(j))
        j += 1
      }
      (g, n, pm / (pm + pu))
    }
    for (_ <- 1 to iters) {
      val ws = weights()
      val sNW = ws.foldLeft(0.0) { case (a, (_, n, w)) => a + n.toDouble * w }
      val sNU = ws.foldLeft(0.0) { case (a, (_, n, w)) =>
        a + n.toDouble * (1.0 - w)
      }
      lam = sNW / nTot.toDouble
      var j = 0
      while (j < k) {
        m(j) = ws.foldLeft(0.0) { case (a, (g, n, w)) =>
          a + (if (g(j) == 1) n.toDouble * w else 0.0)
        } / sNW
        u(j) = ws.foldLeft(0.0) { case (a, (g, n, w)) =>
          a + (if (g(j) == 1) n.toDouble * (1.0 - w) else 0.0)
        } / sNU
        j += 1
      }
    }
    // raw doubles out — the caller applies the engine's own ROUND(…,6)
    // at the output edge (Spark-ROUND vs DuckDB-ROUND is the proven
    // repo-wide pairing; a driver-side BigDecimal round would introduce
    // a THIRD rounding convention)
    val rows = weights().map { case (g, n, w) =>
      // Seq[Any] — a plain Seq(n, w, lam) would WIDEN the Long count to
      // Double via weak conformance and break the LongType schema slot
      org.apache.spark.sql.Row.fromSeq(
        g.toSeq ++ Seq[Any](n, w, lam) ++ m.toSeq ++ u.toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(
      aCols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.IntegerType)) ++
        Seq(
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("p_match",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("lambda",
            org.apache.spark.sql.types.DoubleType)) ++
        aCols.indices.map(j => org.apache.spark.sql.types.StructField(
          s"m${j + 1}", org.apache.spark.sql.types.DoubleType)) ++
        aCols.indices.map(j => org.apache.spark.sql.types.StructField(
          s"u${j + 1}", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)), schema)
  }
}
