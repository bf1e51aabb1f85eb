package graft.llm

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Shared

/** IVF (inverted-file) approximate nearest neighbor — the partition-led
  * scale path next to [[Similarity.lshTopK]]'s hash-led one: cluster the
  * corpus once (k-means), then search only the `nprobe` clusters nearest
  * each probe.
  *
  * Division of labor:
  *   - TRAINING uses spark.ml k-means (seeded => deterministic) — a
  *     one-off batch job whose output is just `k` centroid vectors;
  *   - the QUERY path is pure DataFrame algebra with the codegen'd
  *     `graft_cosine` expression: centroids live in a k-row table that
  *     broadcasts to every executor, corpus rows rank their own nearest
  *     centroid (no mllib, no UDF at query time), probes shortlist
  *     `nprobe` centroids, and the candidate join is a shuffle equi-join
  *     on cluster id — the corpus never meets more than nprobe/k of
  *     itself per probe.
  *
  * At 100 TB the cluster assignment is written once as a bucketed column
  * and re-used by every query; here it's computed inline.
  */
object Ivf {

  /** K-row centroid table (centroid_id, centroid: array<float>). */
  def train(vecs: DataFrame, k: Int = 16, seed: Long = 42L,
            maxIter: Int = 10): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setFeaturesCol("features")
      .fit(vecs.select(array_to_vector(col("embedding")).as("features")))
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toDF("centroid_id", "centroid")
  }

  /** Nearest-centroid assignment per vector: broadcast the k-row centroid
    * table, take the per-vector argmax with `max_by` — partial aggregation
    * collapses the k candidate rows map-side, so ~one row per vector
    * crosses the wire (a row_number window here would shuffle AND sort
    * k× the corpus). Ties break toward the smaller centroid_id. Output:
    * (vec_id, embedding, centroid_id).
    */
  def assign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.join(broadcast(centroids))
      .withColumn("__c", expr("graft_cosine(embedding, centroid)"))
      .groupBy("vec_id")
      .agg(
        first("embedding").as("embedding"), // constant within the group
        expr("max_by(centroid_id, struct(__c, -centroid_id))").as("centroid_id"))

  /** Probe side: the `nprobe` nearest centroids per probe. */
  private def shortlist(probes: DataFrame, centroids: DataFrame,
                        nprobe: Int): DataFrame = {
    val w = Window.partitionBy("probe_id")
      .orderBy(col("__c").desc, col("centroid_id"))
    probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .join(broadcast(centroids))
      .withColumn("__c", expr("graft_cosine(pe, centroid)"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= nprobe)
      .select(col("probe_id"), col("pe"), col("centroid_id"))
  }

  /** One Lloyd iteration in pure DataFrame algebra — the differential
    * window into the k-means training [[train]] wraps in spark.ml: assign
    * every vector to its nearest centroid (cosine; ties toward the
    * smaller centroid_id, the same rule as [[assign]]), then recompute
    * each centroid component as an exact DECIMAL(18,9) sum over members
    * divided (one correctly-rounded double division) by the member count.
    *
    * Scale shape: assignment is the [[assign]] broadcast + map-side
    * max_by; the recompute shuffles k×dims partial sums (map-side
    * combine), never the corpus. Output long-form:
    * (centroid_id, dim 0-based, component, n_members) — empty clusters
    * simply emit no rows (no 0/0 anywhere).
    */
  def lloydIterate(vecs: DataFrame, centroids: DataFrame): DataFrame =
    assign(vecs, centroids)
      .select(col("centroid_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("centroid_id", "dim")
      .agg(sum(col("v").cast("double").cast("decimal(18,9)")).as("s"),
        count(lit(1)).as("n_members"))
      .select(col("centroid_id"), col("dim").cast("int").as("dim"),
        round(col("s").cast("double") / col("n_members"), 6).as("component"),
        col("n_members"))

  /** `iters` chained Lloyd steps — the full training loop, differentially
    * checkable end to end. Between iterations the k×dims model state is
    * collected to the driver and re-broadcast as the next centroid table:
    * this is the spark.ml KMeans pattern, and it is correct at any corpus
    * scale because the model is metadata-sized BY CONSTRUCTION (it must
    * fit in a broadcast every iteration regardless) — the corpus itself
    * is never collected and is scanned exactly once per iteration.
    * Components round-trip through FLOAT (the embedding element type) so
    * each iteration's input is bit-identical to what the oracle's chained
    * replay feeds its next stage. A centroid that loses every member
    * emits no rows and drops out of later iterations in both engines.
    */
  def lloydLoop(vecs: DataFrame, centroids: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val spark = vecs.sparkSession
    import spark.implicits._
    var cents = centroids
    var out = lloydIterate(vecs, cents)
    for (_ <- 2 to iters) {
      // explicit int/float casts in the SELECT (not getInt on whatever
      // arrived): a centroid table keyed by BIGINT would otherwise throw
      // ClassCastException at collect time (r9 ADVICE)
      val model = out
        .select(col("centroid_id").cast("int"), col("dim").cast("int"),
          col("component").cast("float").as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getFloat(2)))
        .groupBy(_._1).toSeq
        .map { case (cid, rs) => (cid, rs.sortBy(_._2).map(_._3).toArray) }
      cents = model.toDF("centroid_id", "centroid")
      out = lloydIterate(vecs, cents)
    }
    out
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embedding corpus (k-means centroids via [[train]], or any fixed
    * centroid table), then prune WITHIN each cluster — a vector is
    * dropped iff some smaller-id vector in its cluster clears
    * `minCosine` (the same one-pass greedy min-id survivor rule
    * [[Dedup.dedupe]] uses for text; compose [[Dedup.dupClusters]] over
    * the dropped pairs when transitive-closure grouping is wanted
    * instead). Engine-exact: the decision cosine is ROUND(...,6)'d the
    * same way in the Spark plan and the oracle.
    *
    * Scale shape — the published SemDeDup design point: the assignment
    * is [[assign]] (k-row centroid broadcast, map-side max_by, ~one row
    * per vector crosses the wire), and the candidate join is a shuffle
    * equi-join ON CLUSTER ID, so the quadratic term is bounded by
    * cluster population — k grows with the corpus and the corpus never
    * meets itself across clusters. No all-pairs, no corpus broadcast.
    *
    * Output: surviving (vec_id, centroid_id), one row per kept vector.
    */
  def semanticDedup(vecs: DataFrame, centroids: DataFrame,
                    minCosine: Double): DataFrame = {
    require(minCosine <= 1.0, "a cosine threshold above 1 matches nothing")
    // Exact-collapse first (the same principle Dedup.dedupe applies
    // before MinHash and simhashPipeline before banding): a verbatim
    // copy can never survive — its group's min id is a cos=1.0 smaller
    // neighbor — and a representative drops iff some other GROUP's
    // representative (= that group's min id, which bounds every member
    // id from below at the same cosine) clears the threshold. So the
    // quadratic within-cluster prune runs on DISTINCT vectors only:
    // under an n-copy corpus that is n² less pair work, identical
    // survivors by construction (IvfSpec pins the equivalence).
    val reps = vecs.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val a = assign(reps, centroids)
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
    val dropped = a.as("x")
      .join(a.as("y"), expr("x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id"))
      .where(expr("CAST(ROUND(graft_cosine(x.embedding, y.embedding), 6) AS DOUBLE)")
        >= minCosine)
      .select(expr("y.vec_id").as("vec_id")).distinct()
    a.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("centroid_id"))
  }

  /** IVF top-k: exact cosine over candidates from the probed clusters
    * only. Self-matches excluded, rank ties broken on cand_id.
    */
  def topK(probes: DataFrame, corpus: DataFrame, centroids: DataFrame,
           k: Int, nprobe: Int = 4): DataFrame = {
    val assigned = assign(corpus, centroids)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("centroid_id"))
    val pairs = shortlist(probes, centroids, nprobe)
      .join(assigned, Seq("centroid_id"))
      .where(expr("cand_id <> probe_id"))
      .select(col("probe_id"), col("cand_id"),
        expr("CAST(ROUND(graft_cosine(pe, ce), 6) AS DOUBLE)").as("cos"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("cand_id"))
    pairs.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF maintenance ACTION (r15 verdict #6): split the heaviest
    * cluster. [[inertia]]/`llm_ivf_balance` audit skew and
    * `llm_ivf_incremental` ingests, but a hot shard eventually needs
    * surgery — this is the nlist-rebalance step a vector DB runs when
    * one inverted list owns the probe tail: one Lloyd step over the
    * heavy cluster's members on 2 seeded sub-centroids, emitting the
    * UPDATED CENTROID ROWS ONLY (long form, the [[lloydIterate]] shape:
    * centroid_id, dim, component, n_members) — untouched clusters are
    * not re-emitted and their members are never rescanned (the
    * scd2Incremental touched-keys discipline).
    *
    * Deterministic seeding: sub-seed A = the member with the smallest
    * vec_id (keeps the split cluster's id); sub-seed B = the member
    * LEAST similar to A by raw cosine (ties toward the smaller vec_id
    * — the [[assign]] precedent), taking id max(centroids)+1. One
    * Lloyd step then reassigns members between the two seeds (raw-
    * cosine argmax, ties toward the smaller centroid id) and emits the
    * two sub-centroids as DECIMAL-exact member means.
    *
    * Scale shape: ONE corpus assign (broadcast k-row table, map-side
    * max_by) is localCheckpointed; everything after runs on the heavy
    * cluster's members only — the occupancy argmax and the two seed
    * picks are model-sized collects (k rows / 1 row each), and the
    * sub-assignment broadcasts a 2-row table. A 1-member cluster
    * degenerates safely (both seeds coincide, everything stays on the
    * original id; the new id emits no rows).
    */
  def splitHeaviest(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val a = Shared.cut(assign(vecs, centroids)
      .select(col("vec_id"), col("embedding"),
        col("centroid_id").cast("int").as("centroid_id")))
    val heavyId = a.groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("centroid_id")).limit(1)
      .collect()(0).getInt(0)
    val newId = centroids
      .agg(max(col("centroid_id").cast("int"))).collect()(0).getInt(0) + 1
    // touched-cluster-only from here on (plan-gated): the split never
    // rescans the rest of the corpus
    val members = a.where(col("centroid_id") === heavyId)
      .select(col("vec_id"), col("embedding"))
    val seedA = members.orderBy("vec_id").limit(1)
      .select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray
    val seedADf = Seq((0, seedA)).toDF("sid", "sa")
    val seedB = members.crossJoin(broadcast(seedADf))
      .withColumn("__c", expr("graft_cosine(embedding, sa)"))
      .orderBy(col("__c").asc, col("vec_id").asc).limit(1)
      .select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray
    val subCentroids = Seq((heavyId, seedA), (newId, seedB))
      .toDF("centroid_id", "centroid")
    lloydIterate(members, subCentroids)
  }

  /** Per-cluster k-means inertia — the within-cluster sum of squared
    * euclidean distance to the cluster MEAN, i.e. the objective a
    * training loop monitors between Lloyd steps — without ever
    * materializing the mean per row: Σ_p Σ_d (x − μ_d)² expands to
    * Σ_d (Q_d − S_d²/n) with S_d = Σx and Q_d = Σx² per (cluster, dim).
    *
    * Engine-exact by the house split: the corpus-scale sums S/Q run on
    * DECIMAL(18,9) (exact, order-free — the same cast [[lloydIterate]]
    * pins); all IEEE arithmetic is confined to the k×dims cells, whose
    * per-cluster reduction folds in fixed dim order.
    *
    * Scale shape: one broadcast-assign + one (cluster, dim) partial
    * aggregate — k×dims cells cross the wire, never the corpus.
    * Output: (centroid_id, n_members, inertia).
    */
  def inertia(vecs: DataFrame, centroids: DataFrame): DataFrame =
    assign(vecs, centroids)
      .select(col("centroid_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vd", col("v").cast("double").cast("decimal(18,9)"))
      .groupBy("centroid_id", "dim")
      .agg(sum(col("vd")).as("s"), sum(expr("vd * vd")).as("q"),
        count(lit(1)).as("n"))
      .withColumn("term", expr(
        "CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n"))
      .groupBy("centroid_id")
      .agg(max("n").as("n_members"),
        expr(
          """aggregate(transform(array_sort(collect_list(struct(dim, term))),
            |  s -> s.term), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""
            .stripMargin).as("__i"))
      .select(col("centroid_id"), col("n_members"),
        expr("CAST(ROUND(__i, 6) AS DOUBLE)").as("inertia"))
}
