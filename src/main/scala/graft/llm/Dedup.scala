package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Shared

/** Document deduplication for large-scale training-data pipelines: exact
  * (normalized-hash), MinHash+LSH banding, SimHash banding, and exact
  * n-gram-Jaccard verification of LSH candidates.
  *
  * This is extension surface beyond the reference engine (which ships no
  * dedup operators; its `documents`-like workloads would run these as plain
  * SQL) — designed per SURVEY.md §7 Phase 3.
  *
  * 100 TB design rules applied here:
  *   - candidate generation is a *shuffle join on band signatures*, never an
  *     all-pairs comparison and never a broadcast of the corpus: docs that
  *     share no band hash never meet;
  *   - MinHash is N parallel `min()` aggregates in ONE groupBy(doc_id) —
  *     map-side partial aggregation means the shuffle carries one row per
  *     (doc, partition), not shingles×N exploded rows (round-2 design);
  *   - SimHash is a per-document bit-vote *expression* over the collected
  *     token-hash set — one shuffle of distinct tokens, not tokens×bits
  *     (the round-2 design shuffled 60× more rows);
  *   - Jaccard verification runs only on LSH candidate pairs (bounded set),
  *     not on the cross product;
  *   - all hashes are deterministic (md5-derived), so results are
  *     reproducible across runs and engines — no RNG, no seed drift.
  *
  * Everything is built from codegen'd built-ins (split / transform /
  * explode / md5 / min) — no UDFs in the hot path.
  */
object Dedup {

  /** Whitespace-collapsed lowercase normalization — the usual first step
    * before hashing document text.
    */
  val normalizeExpr = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"

  /** Exact dedup: group documents on the md5 of their normalized text.
    * Output: one row per distinct content fingerprint with the surviving
    * (minimum) doc_id and the duplicate count.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(s"md5($normalizeExpr)").as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count("*").as("n_docs"))

  /** Distinct word n-gram shingles per document: (doc_id, shingle).
    * Deliberately NOT spread (cf. TextAnalysis.spread): the explode's
    * scan-stage cost is small and the distinct's shuffle restores
    * parallelism one stage later — measured at sf0.1, inserting a
    * repartition here made every shingle consumer 40-60% SLOWER (extra
    * stage barrier + shuffle of the raw text for nothing).
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), expr(s"split($normalizeExpr, ' ')").as("w"))
      .where(expr(s"size(w) >= $n"))
      .select(
        col("doc_id"),
        explode(expr(
          s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', ${
            (0 until n).map(j => s"w[i+$j]").mkString(", ")}))")).as("shingle"))
      .distinct()

  /** Mersenne prime 2^31-1: the universal-hash modulus. With 28-bit x and
    * a < p, a*x + b < 2^59 — no int64 overflow even under ANSI mode.
    */
  val MinhashP: Long = 2147483647L

  /** Deterministic universal-hash coefficients (a_i, b_i) for permutation
    * i, derived from md5 so both engines and the oracle SQL builder embed
    * identical literals: a in [1, p-1], b in [0, p-1].
    */
  def hashCoeffs(i: Int): (Long, Long) = {
    def h(tag: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$i".getBytes("UTF-8"))
      d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL)).abs
    }
    (1 + h("a") % (MinhashP - 1), h("b") % MinhashP)
  }

  /** One md5 per shingle, folded to a 28-bit integer (7 hex chars) — the
    * shared input to all k permutations.
    */
  val shingleHashExpr = "CAST(conv(substr(md5(shingle), 1, 7), 16, 10) AS BIGINT)"

  /** MinHash signatures, wide: one row per doc_id with columns h0..h{N-1},
    * h_i = min over shingles of ((a_i * x + b_i) mod p) where x is a
    * 28-bit md5-derived shingle hash — the classic universal-hashing
    * MinHash (Broder; a*x+b mod p is a pairwise-independent permutation
    * family). ONE md5 per distinct shingle feeds all N permutations; the
    * per-permutation work is two integer ops, so widening N costs almost
    * nothing (the previous salted-md5-per-permutation form burned N crypto
    * hashes per shingle — the dominant operator cost at sf0.1). N parallel
    * min-aggregates in a single groupBy: partial aggregation shrinks the
    * shuffle to ~one row per (doc, input partition).
    */
  def minhash(docs: DataFrame, numHashes: Int = 8, shingleWords: Int = 3): DataFrame =
    shingles(docs, shingleWords)
      .select(col("doc_id"), expr(shingleHashExpr).as("x"))
      .groupBy("doc_id")
      .agg(
        minhashAgg(0).as("h0"),
        (1 until numHashes).map(i => minhashAgg(i).as(s"h$i")): _*)

  private def minhashAgg(i: Int) = {
    val (a, b) = hashCoeffs(i)
    min(expr(s"($a * x + $b) % $MinhashP"))
  }

  /** One row per (doc_id, band, sig): the banded MinHash signatures every
    * LSH candidate generator joins on.
    */
  def bandSignatures(docs: DataFrame, numHashes: Int = 8, bands: Int = 4): DataFrame =
    bandSignaturesFromMinhash(minhash(docs, numHashes), numHashes, bands)

  /** [[bandSignatures]] over an already-computed [[minhash]] table — the
    * shared-base entry point for callers that re-band one signature set
    * several ways ([[lshTuning]]); identical expressions, so composing
    * `bandSignaturesFromMinhash(minhash(d))` IS `bandSignatures(d)`.
    */
  private[llm] def bandSignaturesFromMinhash(mh: DataFrame, numHashes: Int,
                                             bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // '_'-separated: h's are integers now, and concat(12,345) == concat(123,45)
    // without a separator — silent band collisions
    val sigs = (0 until bands).map { b =>
      val cat = (0 until rows).map(r => s"h${b * rows + r}")
        .mkString("concat_ws('_', ", ", ", ")")
      s"struct($b AS band, $cat AS sig)"
    }
    mh
      .select(col("doc_id"), explode(expr(sigs.mkString("array(", ", ", ")"))).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Banded-LSH candidate pairs: docs sharing at least one band signature.
    * `numHashes` minhashes grouped into `bands` bands of numHashes/bands
    * values; the join key is (band, signature) — a shuffle, not a broadcast.
    * Output: (doc_a, doc_b, n_bands) with doc_a < doc_b.
    */
  def lshCandidates(docs: DataFrame, numHashes: Int = 8, bands: Int = 4): DataFrame =
    candidatesFromBandSigs(bandSignatures(docs, numHashes, bands))

  /** The band-signature self-join of [[lshCandidates]], split out so
    * shared-base callers can band one minhash table several ways.
    */
  private[llm] def candidatesFromBandSigs(bandSigs: DataFrame): DataFrame = {
    val a = bandSigs.as("a")
    val b = bandSigs.as("b")
    a.join(b,
        expr("a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"))
      .groupBy(expr("a.doc_id").as("doc_a"), expr("b.doc_id").as("doc_b"))
      .agg(countDistinct(expr("a.band")).as("n_bands"))
  }

  /** LSH banding-point tuning report: for each (bands, rowsPerBand) split
    * of the signature, the candidate-pair count, how many candidates
    * verify at `threshold` exact Jaccard, and the precision — the
    * measurement a deployment runs on a SAMPLE before committing a
    * banding point for the full corpus (more bands = higher recall and
    * more candidates to verify; this report prices that trade).
    * MinHash signatures are computed ONCE and re-banded per config; each
    * config's candidate set is (band, sig)-equi-joined — never
    * all-pairs. The configs' candidates are tagged with their `bands`
    * and verified in ONE pass, so the per-document shingle sets are built
    * once per call, not once per config.
    * All counts are exact integers; precision is the one ROUND(…,6) edge.
    *
    * Output: (bands, rows_per_band, n_candidates, n_verified, precision).
    */
  def lshTuning(docs: DataFrame,
                configs: Seq[(Int, Int)] = Seq((2, 4), (4, 2), (8, 1)),
                threshold: Double = 0.6, numHashes: Int = 8): DataFrame = {
    require(configs.nonEmpty, "need at least one banding config")
    // ONE checkpointed minhash table feeds every config's banding, and
    // the tagged candidate union is materialized once for its two
    // consumers (count + verify) — the lazy derivation re-ran the
    // scan→shingle→minhash chain per config and consumer (26 parquet
    // scans / 97 Exchanges executed). The doc-set table deliberately
    // stays lazy: checkpointing the shingle table was A/B'd and lost
    // (3.16 → 3.69 s) — the corpus-scale string materialization costs
    // more than the re-derive.
    val mh = Shared.cut(minhash(docs, numHashes))
    val cands = Shared.cut(configs.map { case (bands, rows) =>
      require(bands * rows == numHashes, s"($bands x $rows) != $numHashes")
      candidatesFromBandSigs(bandSignaturesFromMinhash(mh, numHashes, bands))
        .select(lit(bands).as("bands"), col("doc_a"), col("doc_b"))
    }.reduce(_.unionAll(_)))
    val verified = verify(docs, cands, keepZeros = false)
      .where(col("jaccard") >= threshold)
      .groupBy("bands").agg(count(lit(1)).as("n_verified"))
    // left joins from the config table: a config with no candidate still
    // reports its row (0 candidates, NULL precision)
    docs.sparkSession.createDataFrame(configs).toDF("bands", "rows_per_band")
      .join(cands.groupBy("bands").agg(count(lit(1)).as("n_candidates")),
        Seq("bands"), "left")
      .join(verified, Seq("bands"), "left")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"))
      .withColumn("precision", expr(
        "CAST(ROUND(CAST(n_verified AS DOUBLE) / NULLIF(n_candidates, 0), 6) AS DOUBLE)"))
  }

  /** Exact n-gram Jaccard similarity, computed only for the given candidate
    * pairs (columns doc_a, doc_b) — the verify stage after LSH. Pairs
    * sharing no shingle emit no row. Output: (doc_a, doc_b, jaccard).
    */
  def jaccard(docs: DataFrame, candidates: DataFrame): DataFrame =
    verify(docs, candidates.select("doc_a", "doc_b"), keepZeros = false)

  /** [[jaccard]] with ZERO-overlap candidate pairs retained (jaccard = 0
    * when no shingle is shared) and every extra candidate column carried
    * through — the form downstream rankers need when the ABSENCE of
    * lexical overlap is the signal (paraphrase mining pairs semantic
    * similarity with lexical distance). Pairs whose docs have no
    * shingles at all (under 3 tokens) drop at the set join — no 0/0
    * reaches the division. Output: (doc_a, doc_b, extra candidate
    * columns…, jaccard).
    */
  def jaccardWithZeros(docs: DataFrame, candidates: DataFrame): DataFrame =
    verify(docs, candidates, keepZeros = true)

  /** Verified near-duplicate pairs: [[lshCandidates]] verified by exact
    * shingle [[jaccard]], kept at or above `threshold`. Output: (doc_a,
    * doc_b) with doc_a < doc_b. Lazy — callers decide what to checkpoint.
    */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.6,
                   numHashes: Int = 8, bands: Int = 4): DataFrame =
    jaccard(docs, lshCandidates(docs, numHashes, bands))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")

  /** The exact-collapse survivors: the rows of `docs` whose doc_id is the
    * minimum of its normalized-content class ([[exact]]'s keep_id).
    * Lazy — callers decide what to checkpoint.
    */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs.join(exact(docs).select(col("keep_id").as("doc_id")), Seq("doc_id"))

  /** The one Jaccard verify body: each document's [[shingles]] are
    * collected into one set row, and each candidate pair (doc_a, doc_b,
    * any extra columns) joins both docs' sets and scores
    * |A∩B| / (|A| + |B| − |A∩B|) with an in-place `array_intersect`,
    * ROUND(…,6)'d. `keepZeros = false` drops pairs that share no shingle.
    * Output: (doc_a, doc_b, extra candidate columns…, jaccard).
    *
    * Two conditions hold the result exact and bounded:
    *   - the shingles in a set must be DISTINCT per document
    *     ([[shingles]] ends in a `distinct()`): `array_intersect` counts
    *     distinct elements, so a repeated shingle would count once in
    *     |A∩B| but twice in |A|;
    *   - each document's full shingle set is ONE row, so executor row
    *     memory bounds the size of a document.
    *
    * Why sets and not an exploded join: joining every candidate pair
    * against both docs' exploded shingle rows moves pairs × shingles-per-
    * doc rows through two exchanges plus a (doc_a, doc_b) re-aggregation
    * (at sf0.1 on llm_simhash_pr_curve's 271k candidates: ≈ 14M shuffled
    * shingle strings, 7.9 s of the entry's 10.3 s). The set form moves
    * each doc's set once per partner, with no post-join aggregation;
    * `array_intersect` is a codegen'd expression, not a lambda HOF.
    */
  private def verify(docs: DataFrame, candidates: DataFrame,
                     keepZeros: Boolean): DataFrame = {
    val sets = shingles(docs).groupBy("doc_id")
      .agg(collect_list(col("shingle")).as("__sh_set"), count(lit(1)).as("__n_sh"))
    def side(s: String) = sets.select(col("doc_id").as(s"doc_$s"),
      col("__sh_set").as(s"__s$s"), col("__n_sh").as(s"__n$s"))
    val scored = candidates.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .withColumn("__n_both", expr("CAST(size(array_intersect(__sa, __sb)) AS BIGINT)"))
    val extra = candidates.columns.filterNot(Set("doc_a", "doc_b")).map(col)
    (if (keepZeros) scored else scored.where(col("__n_both") > 0))
      .select(Seq(col("doc_a"), col("doc_b")) ++ extra :+ expr(
        "CAST(ROUND(CAST(__n_both AS DOUBLE) / (__na + __nb - __n_both), 6) AS DOUBLE)")
        .as("jaccard"): _*)
  }

  /** Shingle containment (Broder): |shingles(doc) ∩ shingles(probe)| /
    * |shingles(probe)| — the asymmetric near-dup metric and the standard
    * DECONTAMINATION check: a probe (benchmark/eval document) with high
    * containment in a corpus document has leaked into the training set,
    * even when the corpus document is much larger (plain Jaccard would
    * dilute the overlap away).
    *
    * Scale shape: the probe set is the SMALL side — its distinct shingles
    * broadcast to the corpus-shingle stream, so the corpus is touched
    * once, shuffles only on (doc, probe) hit groups, and docs sharing no
    * shingle with any probe never leave their partition. Output: one row
    * per (doc_id, probe_id) with at least one shared shingle.
    */
  def containment(docs: DataFrame, probes: DataFrame, n: Int = 3,
                  minContainment: Double = 0.0): DataFrame = {
    // ps feeds two broadcasts (the join and the sizes) but its distinct's
    // shuffle is canonically identical in both subtrees, so ReuseExchange
    // computes the probe scan+explode once (verified in the final plan:
    // one probe-side FileScan + Generate, sizes via ReusedExchange)
    val ps = shingles(probes, n)
      .select(col("doc_id").as("probe_id"), col("shingle"))
    val sizes = ps.groupBy("probe_id").agg(count("*").as("n_probe_sh"))
    shingles(docs, n)
      .join(broadcast(ps), Seq("shingle"))
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("doc_id", "probe_id")
      .agg(count("*").as("n_shared"))
      .join(broadcast(sizes), Seq("probe_id"))
      .select(col("doc_id"), col("probe_id"), col("n_shared"),
        expr("CAST(ROUND(CAST(n_shared AS DOUBLE) / n_probe_sh, 6) AS DOUBLE)")
          .as("containment"))
      .where(col("containment") >= minContainment)
  }

  /** [[containment]] with a Bloom-filter prefilter on the corpus side —
    * the decontamination shape for when the probe set is itself large (a
    * full eval-suite union can reach 10^8+ distinct shingles: too big to
    * broadcast as a join hash table, and shuffling every corpus shingle
    * against it is the 100 TB bottleneck). Two passes over the probe
    * shingles: (1) build a compact Bloom filter (~1.2 bytes/key at 1%
    * fpp vs tens of bytes/entry in a broadcast relation) over their
    * xxhash64 keys; (2) probe it INSIDE the corpus-side scan stage via
    * [[graft.functions.BloomMightContain]] (codegen, pre-shuffle), so
    * only corpus shingles that might hit a probe ever reach the join.
    * The join then confirms exactly — false positives produce no pairs —
    * so the RESULT IS BIT-IDENTICAL to [[containment]] at any fpp; fpp
    * only tunes how much of the corpus the prefilter drops. No broadcast
    * hint on the confirm join: post-filter sizes are data-dependent and
    * AQE picks the strategy from measured sizes.
    *
    * Output: identical to [[containment]].
    */
  def containmentBloom(docs: DataFrame, probes: DataFrame, n: Int = 3,
                       minContainment: Double = 0.0,
                       fpp: Double = 0.01): DataFrame = {
    val ps = shingles(probes, n)
      .select(col("doc_id").as("probe_id"), col("shingle"))
    // the filter build takes two driver-side actions — a count to size
    // expectedNumItems (the row count upper-bounds the distinct-key
    // count) and the aggregate build itself — so persist the
    // probe-shingle subtree around them: the 10^8-shingle regime this
    // operator exists for pays ONE scan+explode materialization, not
    // two. Unpersisted before return — the lazy confirm join + sizes
    // below share one probe-side exchange via ReuseExchange at
    // execution, and a production ingest loop would persist the BUILT
    // filter alongside the probe set and skip the build entirely.
    ps.persist()
    val bloom =
      try {
        val keys = ps.select(expr("xxhash64(shingle)").as("gh"))
        keys.stat.bloomFilter("gh", math.max(ps.count(), 1L), fpp)
      } finally { ps.unpersist(); () }
    val bytes = { val bos = new java.io.ByteArrayOutputStream()
                  bloom.writeTo(bos); bos.toByteArray }
    val mightHit = call_function("graft_bloom_might_contain",
      expr("xxhash64(shingle)"), lit(bytes))
    val sizes = ps.groupBy("probe_id").agg(count("*").as("n_probe_sh"))
    shingles(docs, n)
      .where(mightHit)
      .join(ps, Seq("shingle"))
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("doc_id", "probe_id")
      .agg(count("*").as("n_shared"))
      .join(sizes, Seq("probe_id"))
      .select(col("doc_id"), col("probe_id"), col("n_shared"),
        expr("CAST(ROUND(CAST(n_shared AS DOUBLE) / n_probe_sh, 6) AS DOUBLE)")
          .as("containment"))
      .where(col("containment") >= minContainment)
  }

  /** MULTI-SUITE decontamination in ONE corpus pass — the sweep a real
    * pretraining run actually needs: every benchmark suite (its own probe
    * docs, its own containment threshold) checked against the corpus
    * without a per-suite job loop that would rescan 100 TB once per
    * suite. `probes` carries (suite, doc_id, text); `thresholds` is the
    * (suite, min_containment) dimension row set.
    *
    * Shape: probe docs are shingled ONCE across all suites (a doc shared
    * by two suites contributes one shingle set), the Bloom prefilter is
    * built over the union (any suite's gram can hit), and the corpus
    * shingle stream — the 100 TB side — is scanned exactly once. Suite
    * tags and per-suite thresholds fan out AFTER the per-(doc, probe)
    * match count, via broadcast joins against suite-cardinality tables,
    * so the expensive half of the plan is completely suite-agnostic
    * (PlanShapeSpec gates the single corpus scan). Exact semantics per
    * suite: identical to [[containmentBloom]] at that suite's threshold.
    *
    * Output: (suite, doc_id, probe_id, n_shared, containment).
    */
  def containmentBloomSuites(docs: DataFrame, probes: DataFrame,
                             thresholds: DataFrame, n: Int = 3,
                             fpp: Double = 0.01): DataFrame = {
    // the probe side is suite-sized by definition (benchmark suites, not
    // the corpus), and it feeds FOUR consumers: the bloom's count, the
    // bloom build, the confirm join, and the per-probe size lookup.
    // localCheckpoint is the multi-consumer cut (the llm_pipeline_e2e
    // pattern): one scan+shingle materialization, and the 100 TB corpus
    // stays the only file scan in the final plan.
    val ps = Shared.cut(shingles(probes.select("doc_id", "text").dropDuplicates("doc_id"), n)
      .select(col("doc_id").as("probe_id"), col("shingle")))
    val bloom = {
      val keys = ps.select(expr("xxhash64(shingle)").as("gh"))
      keys.stat.bloomFilter("gh", math.max(ps.count(), 1L), fpp)
    }
    val bytes = { val bos = new java.io.ByteArrayOutputStream()
                  bloom.writeTo(bos); bos.toByteArray }
    val mightHit = call_function("graft_bloom_might_contain",
      expr("xxhash64(shingle)"), lit(bytes))
    val sizes = ps.groupBy("probe_id").agg(count("*").as("n_probe_sh"))
    val suiteOf = Shared.cut(probes.select(col("suite"), col("doc_id").as("probe_id"))
      .distinct())
    shingles(docs, n)
      .where(mightHit)
      .join(ps, Seq("shingle"))
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("doc_id", "probe_id")
      .agg(count("*").as("n_shared"))
      .join(sizes, Seq("probe_id"))
      .join(broadcast(suiteOf), Seq("probe_id"))
      .join(broadcast(thresholds), Seq("suite"))
      .withColumn("containment",
        expr("CAST(ROUND(CAST(n_shared AS DOUBLE) / n_probe_sh, 6) AS DOUBLE)"))
      .where(col("containment") >= col("min_containment"))
      .select(col("suite"), col("doc_id"), col("probe_id"), col("n_shared"),
        col("containment"))
  }

  /** Exact duplicate-SPAN detection (the signal behind Lee et al. 2021's
    * "Deduplicating Training Data Makes Language Models Better" exact
    * substring dedup): for every document, find the maximal token spans
    * that appear verbatim (after normalization) in at least one OTHER
    * document, via `gramTokens`-token gram fingerprints at every
    * position. Within-document repetition is deliberately out of scope —
    * that is [[TextAnalysis.repetition]]'s signal; here df counts
    * distinct documents.
    *
    * Shape: position-indexed gram hashes (one md5 per position — per-row
    * expression work, computed ONCE), document frequency per gram hash as
    * a run-boundary count inside ONE window over the gram-hash shuffle
    * (rows sort by (doc_id, p) within each gh partition; the first row of
    * each doc run flags 1; the full-partition flag sum is the distinct-doc
    * count — so the df aggregate and the df filter share one exchange
    * instead of re-deriving the gram subtree for a self-join), then
    * per-doc interval union: duplicated positions within `gramTokens` of
    * each other (adjacent, touching spans also merge — the comparison is
    * `<=`) merge into one span (flag-and-running-sum islands, the
    * standard windowed interval merge), giving the EXACT union size —
    * overlapping gram windows are never double-counted. Per-doc windows
    * partition on doc_id: parallel across docs, sequential only within
    * one (bounded by document length). A gram shared by very many
    * documents concentrates its rows in one gh partition — the same skew
    * a join-on-gh formulation has; boilerplate that hot should be
    * stripped first ([[TextAnalysis.lineDedup]]).
    *
    * NULL `text` normalizes to no grams, so NULL-text documents (like any
    * document shorter than `gramTokens`) produce no output row.
    *
    * Output (all scalar), one row per document with at least one
    * duplicated span: (doc_id, n_tokens, n_spans, dup_tokens, dup_frac).
    */
  def dupSpans(docs: DataFrame, gramTokens: Int = 5): DataFrame = {
    require(gramTokens >= 2, "need gramTokens >= 2")
    val grams = docs
      .select(col("doc_id"), expr(s"split($normalizeExpr, ' ')").as("w"))
      .where(expr(s"size(w) >= $gramTokens"))
      .select(col("doc_id"), expr("CAST(size(w) AS BIGINT)").as("n_tokens"),
        posexplode(expr(
          s"""transform(sequence(0, size(w) - $gramTokens),
             |          i -> md5(concat_ws(' ', slice(w, i + 1, $gramTokens))))""".stripMargin)))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("long").as("p"), col("col").as("gh"))
    // distinct-doc count per gh in one pass: both window specs partition
    // on gh, so they share a single exchange (the ordered spec sorts, the
    // unbounded sum reuses the same partition)
    val wGhOrd = Window.partitionBy("gh").orderBy("doc_id", "p")
    val wGhAll = Window.partitionBy("gh")
    val wOrd = Window.partitionBy("doc_id").orderBy("p")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grams
      .withColumn("__fst",
        when(lag("doc_id", 1).over(wGhOrd) === col("doc_id"), 0L).otherwise(1L))
      .withColumn("__df", sum("__fst").over(wGhAll))
      .where(col("__df") >= 2)
      // NULL lag (first dup position) falls through to otherwise(1):
      // every island starts with a 1-flag, islands = running flag sum
      .withColumn("__new",
        when(col("p") - lag("p", 1).over(wOrd) <= gramTokens, 0L).otherwise(1L))
      .withColumn("__isl", sum("__new").over(wRun))
      .groupBy("doc_id", "n_tokens", "__isl")
      .agg(min("p").as("s"), max("p").as("e"))
      .withColumn("span_tokens", col("e") - col("s") + lit(gramTokens.toLong))
      .groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("n_spans"), sum("span_tokens").as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"), col("dup_tokens"),
        expr("CAST(ROUND(CAST(dup_tokens AS DOUBLE) / n_tokens, 6) AS DOUBLE)")
          .as("dup_frac"))
  }

  /** The REMOVAL counterpart of [[dupSpans]] (Lee et al. 2021 apply exact
    * substring dedup as a transformation, not just a report): a position
    * is redundant iff its gram occurs in >= 2 distinct documents AND this
    * document is not the minimum doc_id holding that gram, so each
    * duplicated GRAM survives only in its minimum-doc_id holder,
    * deterministically. The guarantee is per gram, not per passage: a
    * multi-gram passage whose grams have different minimum-doc_id holders
    * keeps each gram in its own holder, so the surviving copy of the
    * passage can be split across documents (the same conservative bias as
    * Lee et al.'s span cuts — redundant text is never kept twice, but a
    * long shared passage is not guaranteed one intact copy).
    *
    * Shape: the gram side reuses [[dupSpans]]'s one-pass window (df and
    * min-holder computed in the SAME gh partition — one exchange), then
    * redundant positions merge into spans per doc. The token side
    * re-splits the text (deliberately a second scan: the gram side's
    * per-position md5 is the expensive half, and carrying the token
    * array through the gh shuffle would multiply the text by its
    * position count); tokens join the per-doc span ARRAY on doc_id —
    * one shuffle that the reassembly groupBy then reuses — and drop
    * positions inside any span (per-row span-array probe, bounded by
    * the doc's span count). Docs with nothing scrubbed (including every
    * first-occurrence holder and sub-gram docs) pass through whole.
    *
    * Output (all scalar, one row per document): (doc_id, n_tokens,
    * kept_tokens, scrub_md5) where scrub_md5 hashes the space-joined
    * kept normalized tokens (md5('') for a fully-scrubbed document).
    */
  def scrubDupSpans(docs: DataFrame, gramTokens: Int = 5): DataFrame = {
    require(gramTokens >= 2, "need gramTokens >= 2")
    // NULL text = the empty document (one empty token, nothing to scrub)
    // — per-document operators must not emit NULL stats rows
    val toks = docs
      .withColumn("text", coalesce(col("text"), lit("")))
      .select(col("doc_id"), expr(s"split($normalizeExpr, ' ')").as("w"))
    val grams = toks
      .where(expr(s"size(w) >= $gramTokens"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, size(w) - $gramTokens),
             |          i -> md5(concat_ws(' ', slice(w, i + 1, $gramTokens))))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("p"), col("col").as("gh"))
    val wGhOrd = Window.partitionBy("gh").orderBy("doc_id", "p")
    val wGhAll = Window.partitionBy("gh")
    val wOrd = Window.partitionBy("doc_id").orderBy("p")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = grams
      .withColumn("__fst",
        when(lag("doc_id", 1).over(wGhOrd) === col("doc_id"), 0L).otherwise(1L))
      .withColumn("__df", sum("__fst").over(wGhAll))
      .withColumn("__mind", min("doc_id").over(wGhAll))
      .where(col("__df") >= 2 && col("doc_id") =!= col("__mind"))
      .withColumn("__new",
        when(col("p") - lag("p", 1).over(wOrd) <= gramTokens, 0L).otherwise(1L))
      .withColumn("__isl", sum("__new").over(wRun))
      .groupBy("doc_id", "__isl")
      .agg(min("p").as("s"),
        (max("p") + lit(gramTokens - 1).cast("long")).as("e"))
    val spanArrs = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("__spans"))
    val tokenRows = toks.select(col("doc_id"),
      expr("CAST(size(w) AS BIGINT)").as("n_tokens"),
      posexplode(col("w")))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("long").as("p"), col("col").as("tok"))
    val keptAgg = tokenRows
      .join(spanArrs, Seq("doc_id"), "left")
      .where(col("__spans").isNull ||
        expr("NOT exists(__spans, x -> p >= x.s AND p <= x.e)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        expr("""md5(concat_ws(' ', transform(
               |  array_sort(collect_list(struct(p, tok))), s -> s.tok)))""".stripMargin)
          .as("scrub_md5"))
    // fully-scrubbed docs vanish from keptAgg — restore them (and carry
    // n_tokens for every doc) from the token source
    toks.select(col("doc_id"), expr("CAST(size(w) AS BIGINT)").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("scrub_md5"), expr("md5('')")).as("scrub_md5"))
  }

  /** End-to-end corpus dedup — the operator as a pipeline actually uses
    * it. Two passes: (1) exact dups collapse to the minimum doc_id per
    * normalized-content fingerprint; (2) LSH candidates verified by exact
    * n-gram Jaccard drop every survivor that has a verified near-dup of
    * SMALLER doc_id (the one-pass greedy rule — deterministic and
    * shuffle-bounded; a transitive-closure union-find would need
    * iteration and is deliberately not done here). Output: the surviving
    * rows of `docs`.
    */
  def dedupe(docs: DataFrame, jaccardThreshold: Double = 0.6,
             numHashes: Int = 8, bands: Int = 4): DataFrame = {
    val (survivors, pairs) = survivorsAndPairs(docs, jaccardThreshold,
      numHashes, bands)
    val nearDrop = pairs.select(col("doc_b").as("doc_id")).distinct()
    survivors.join(nearDrop, Seq("doc_id"), "left_anti")
  }

  /** Shared front half of both dedup pipelines: exact-pass survivors and
    * their verified (Jaccard >= threshold) near-dup pairs — one
    * definition so the greedy and clustered variants can never silently
    * diverge on survivor/pair construction.
    */
  private def survivorsAndPairs(docs: DataFrame, jaccardThreshold: Double,
                                numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    // localCheckpoint (r16 opt): the exact-survivor corpus feeds the
    // candidate chain, the verify chain AND every caller's final
    // anti-join — the lazy form re-derived the scan+md5+collapse per
    // consumer (llm_dedup_quality: 7 parquet scans / 23 Exchanges
    // executed). Materializing the survivor stage is what a real
    // pipeline's stage boundary does anyway (the llm_pipeline_e2e
    // precedent).
    val survivors = Shared.cut(exactSurvivors(docs))
    (survivors, nearDupPairs(survivors, jaccardThreshold, numHashes, bands))
  }

  /** Duplicate-cluster connected components over verified near-dup pairs
    * (columns doc_a, doc_b) — the standard corpus-dedup grouping the
    * one-pass greedy rule in [[dedupe]] approximates: in a chain A~B~C
    * where (A, C) never band-match, all three belong to ONE cluster, and
    * only the representative (minimum doc_id in the component) survives.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round every node takes the minimum label over itself and its
    * neighbors (one shuffle join + partial-aggregated min), then jumps to
    * its label's label (a second join) — the jump halves chain depth, so
    * convergence is O(log n) rounds, not O(diameter). Labels are monotone
    * non-increasing minimums, so the fixed point is exactly the component
    * minimum and every round is deterministic (no RNG, no tie-breaks).
    *
    * Scale notes: each round shuffles |E| + |V| rows, bounded by the
    * verified pair set (already LSH-pruned, never all-pairs); per-round
    * results are checkpointed to truncate lineage. `checkpointDir = None`
    * uses [[graft.Shared.cut]] (executor-local storage — right for a
    * single JVM, and what the declared entries use); a cluster
    * deployment passes `Some(durablePath)` (HDFS/object store), which
    * switches every round to reliable `checkpoint()` so a lost executor
    * replays one round from durable files, not the whole loop from the
    * source scan. The convergence probe is a `limit(1)`-style existence
    * check (isEmpty), not a count — it short-circuits on the first
    * changed row. It runs after every round: probing every 2nd round
    * instead ran more Spark jobs (49 vs 31, 8x corpus), because pointer
    * jumping converges in ~2 rounds on LSH near-dup graphs, so each
    * skipped probe cost an extra |E|+|V| round.
    *
    * Output: (doc_id, cluster_rep) for every doc that appears in at least
    * one pair; singleton docs are their own cluster by definition and are
    * left to the caller (see [[dedupeClustered]]).
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 25,
                  checkpointDir: Option[String] = None): DataFrame = {
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        pairs.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint() // eager + durable: lineage ends at the files
      case None => Shared.cut
    }
    val edges = ckpt(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct())
    var labels = ckpt(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")))
    def round(lbl: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(lbl.select(col("doc_id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("label").as("nmin"))
      val prop = lbl.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      ckpt(prop
        .join(prop.select(col("doc_id").as("via"), col("label").as("via_label")),
          prop("label") === col("via"), "left")
        .select(prop("doc_id"),
          coalesce(col("via_label"), prop("label")).as("label")))
    }
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val next = round(labels)
      iter += 1
      done = next.as("n").join(labels.as("o"), Seq("doc_id"))
        .where(col("n.label") =!= col("o.label"))
        .isEmpty
      Shared.free(labels)
      labels = next
    }
    Shared.free(edges)
    // returning unconverged labels would be SILENTLY wrong clusters;
    // with pointer jumping, 25 rounds cover any realistic component
    // diameter, so hitting the cap means something is broken
    if (!done) throw new IllegalStateException(
      s"dupClusters did not converge in $maxIters rounds; raise maxIters")
    labels.select(col("doc_id"), col("label").as("cluster_rep"))
  }

  /** [[dedupe]] with transitive-closure semantics: exact pass first, then
    * verified near-dup pairs group into connected components and only each
    * component's minimum doc_id survives. Docs in no pair are singleton
    * components and survive untouched (left-anti on the non-representative
    * set keeps them without a join against the full corpus).
    */
  def dedupeClustered(docs: DataFrame, jaccardThreshold: Double = 0.6,
                      numHashes: Int = 8, bands: Int = 4,
                      checkpointDir: Option[String] = None): DataFrame = {
    val (survivors, pairs) = survivorsAndPairs(docs, jaccardThreshold,
      numHashes, bands)
    val nonReps = dupClusters(pairs, checkpointDir = checkpointDir)
      .where(col("doc_id") =!= col("cluster_rep"))
      .select("doc_id")
    survivors.join(nonReps, Seq("doc_id"), "left_anti")
  }

  /** [[dedupeClustered]] with QUALITY-RANKED survivor selection — the
    * curation rule real corpus pipelines want: where the min-id rule
    * keeps an arbitrary cluster member, scrapes that capture the same
    * page from several mirrors should keep the CLEANEST, LONGEST copy
    * (boilerplate-stripped mirrors rank above ad-littered ones). The
    * survivor per duplicate component is argmax over (alnum_ratio,
    * n_tokens, -doc_id) — the same alnum/token signals
    * TextAnalysis.stats computes, ROUND(…,6)'d so both engines rank on
    * identical values; doc_id breaks exact ties deterministically.
    *
    * Exact copies collapse to their min-id representative FIRST (shared
    * [[survivorsAndPairs]] front half), which cannot change the outcome:
    * a verbatim copy scores identically to its representative and
    * carries a larger doc_id, so it could never have won the tie-break.
    *
    * Scale shape: identical to [[dedupeClustered]] plus one window over
    * `cluster_rep` partitions — cluster populations are bounded by the
    * verified near-dup cliques (LSH-pruned, never corpus-sized), so no
    * partition of the window is a straggler; the scoring expressions are
    * per-row codegen on the clustered docs only, and the final anti-join
    * touches the drop set, not the corpus.
    */
  def dedupeByQuality(docs: DataFrame, jaccardThreshold: Double = 0.6,
                      numHashes: Int = 8, bands: Int = 4,
                      checkpointDir: Option[String] = None): DataFrame = {
    val (survivors, pairs) = survivorsAndPairs(docs, jaccardThreshold,
      numHashes, bands)
    val labeled = dupClusters(pairs, checkpointDir = checkpointDir)
    val scored = survivors.join(labeled, Seq("doc_id"))
      .withColumn("__q_alnum", expr(
        """ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '')) AS DOUBLE)
          |      / NULLIF(length(text), 0), 6)""".stripMargin))
      .withColumn("__q_tokens", expr("size(split(trim(text), '\\\\s+'))"))
    val best = scored
      .withColumn("__rn", expr(
        """row_number() OVER (PARTITION BY cluster_rep
          |  ORDER BY __q_alnum DESC NULLS LAST, __q_tokens DESC, doc_id)""".stripMargin))
      .where(col("__rn") === 1)
      .select("doc_id")
    val drops = labeled.select("doc_id").join(best, Seq("doc_id"), "left_anti")
    survivors.join(drops, Seq("doc_id"), "left_anti")
  }

  /** INCREMENTAL corpus dedup — the filter a production pipeline runs on
    * every NEW batch of crawled/ingested documents against the corpus it
    * already accepted: drop incoming docs that exactly or nearly
    * duplicate an EXISTING doc, keep the rest. Within-batch duplicates
    * are deliberately out of scope (run [[dedupe]]/[[dedupeClustered]] on
    * the batch first or after — the operators compose); this one never
    * touches existing-existing pairs either, so re-running it cannot
    * shrink the accepted corpus.
    *
    * Contract: doc_id must be unique ACROSS both inputs (true for any
    * monotone ingest id); both need (doc_id, text). NULL-text incoming
    * rows survive untouched (a NULL fingerprint matches nothing and
    * yields no shingles — SQL join semantics).
    *
    * Scale shape, in corpus-size terms (existing |C|, incoming batch
    * |B|, typically |B| << |C|): the exact pass is a left-anti join of
    * the batch against the existing fingerprint set — a shuffle on the
    * fingerprint hash, partial-agg'd distinct on the big side, no
    * broadcast of the corpus. The near-dup pass band-joins the batch's
    * MinHash signatures against the existing side's — the SAME banded
    * shuffle join as [[lshCandidates]], except the quadratic term is
    * |C∩band|·|B∩band| instead of |C∩band|², and only cross pairs
    * survive. Jaccard verification then runs on candidate pairs only.
    * The existing side's signatures are recomputed here; a real ingest
    * loop would persist them once (they are deterministic md5-derived
    * integers — see [[minhash]]) and amortize the corpus scan away,
    * leaving per-batch cost ~O(|B| + candidates).
    *
    * Output: the surviving rows of `incoming`, original schema.
    */
  def dedupeIncremental(existing: DataFrame, incoming: DataFrame,
                        jaccardThreshold: Double = 0.6,
                        numHashes: Int = 8, bands: Int = 4): DataFrame = {
    // reserved dunder names: the contract only requires (doc_id, text),
    // so extra user columns are legal — a plain "fp" here would make
    // col(...) ambiguous against an incoming column of the same name
    val exFp = existing.select(expr(s"md5($normalizeExpr)").as("__ex_fp")).distinct()
    // localCheckpoint (r17 opt, guide §2.4): the exact-survivor batch
    // feeds THREE consumers — its band signatures (minhash chain), the
    // cross-corpus shingle union in the jaccard verify, and the final
    // anti-join — and its own derivation is an md5-fingerprint pass plus
    // an anti-join against the whole accepted corpus's fingerprints, so
    // the lazy form re-ran that corpus pass per consumer
    // (llm_dedup_incremental executed 25 parquet scans / 28 Exchanges;
    // llm_split_leakage 44/49 — plans/r17/*_before.txt)
    val exactSurvivors = Shared.cut(incoming
      .withColumn("__fp", expr(s"md5($normalizeExpr)"))
      .join(exFp, col("__fp") === exFp("__ex_fp"), "left_anti")
      .drop("__fp"))
    val cross = bandSignatures(existing, numHashes, bands).as("a")
      .join(bandSignatures(exactSurvivors, numHashes, bands).as("b"),
        expr("a.band = b.band AND a.sig = b.sig"))
      .groupBy(expr("a.doc_id").as("doc_a"), expr("b.doc_id").as("doc_b"))
      .agg(countDistinct(expr("a.band")).as("n_bands"))
    // shingle source spans both corpora: jaccard() resolves each pair
    // side by doc_id, and ids are unique across inputs by contract
    val allDocs = existing.select("doc_id", "text")
      .unionByName(exactSurvivors.select("doc_id", "text"))
    val nearDrop = jaccard(allDocs, cross)
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    exactSurvivors.join(nearDrop, Seq("doc_id"), "left_anti")
  }

  /** SimHash (60-bit to stay in signed-int64 range in every engine):
    * per-bit majority vote over the md5 hashes of the document's distinct
    * tokens. The vote runs as `bits` integer `sum()` aggregates in ONE
    * groupBy — bit b's vote is positive iff 2·(tokens with bit b set) >
    * n_tokens — so the whole operator stays inside whole-stage codegen
    * and partial aggregation shrinks the shuffle to ~one 60-long row per
    * (doc, partition). The previous collect_list + higher-order-function
    * fold shuffled every token hash AND ran the 60×tokens vote through
    * interpreted lambdas (HOFs skip codegen) — at sf0.1 that cost ~15%
    * of the operator (the tokenize+distinct shuffle dominates locally);
    * the win grows with corpus size since the collect_list shuffle and
    * per-doc state scale with tokens×8 bytes where the sum form stays at
    * 61 longs. Integer arithmetic, order-independent, engine-exact.
    * Output: (doc_id, simhash).
    */
  def simhash(docs: DataFrame, bits: Int = 60): DataFrame =
    docs
      .select(col("doc_id"), explode(expr(s"split($normalizeExpr, ' ')")).as("tok"))
      .distinct()
      .select(col("doc_id"),
        expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .groupBy("doc_id")
      .agg(
        count("*").as("n_tok"),
        (0 until bits).map(b =>
          sum(expr(s"shiftright(h, $b) & 1")).as(s"c$b")): _*)
      .select(col("doc_id"),
        expr(
          (0 until bits).map(b =>
            s"IF(2 * c$b > n_tok, shiftleft(CAST(1 AS BIGINT), $b), CAST(0 AS BIGINT))")
            .mkString("CAST(", " + ", " AS BIGINT)")).as("simhash"))

  /** SimHash near-dup candidates at scale: band the fingerprint into
    * `bits/bandBits` chunks and shuffle-join on matching chunks, then
    * filter by exact Hamming distance. Never an all-pairs scan.
    *
    * Recall guarantee: a pair at Hamming distance d differs in at most d
    * bands, so it agrees on at least one band — i.e. is found — only when
    * d < bits/bandBits; a require enforces it so callers cannot silently
    * drop in-threshold pairs.
    *
    * Parameter trade-off (round-4 verdict): the banded join is quadratic
    * in distinct fingerprints that collide on a band, and a RANDOM pair
    * collides on some band with probability ~ nBands/2^bandBits. The old
    * (bandBits=6, maxHamming=8) point pays 10/64 ~ 16% random-collision
    * rate for a radius-8 recall guarantee — fine for dup-heavy template
    * corpora (few distinct fingerprints) but quadratic-with-a-large-
    * constant on heterogeneous web-scale text. The default is therefore
    * the industry operating point (Manku et al., WWW'07: 64-bit simhash,
    * Hamming <= 3, 4 bands): bandBits=15, maxHamming=3 — random collision
    * 4/32768 ~ 0.012%, ~1300x fewer junk candidates per band join, at the
    * cost of the narrower radius. Callers that need radius 8 pass (6, 8)
    * explicitly and accept the cost (the llm_simhash_radius8 entry keeps
    * that configuration differentially checked; ScaleProbe reports the
    * candidate growth of both points side by side).
    */
  def simhashCandidates(docs: DataFrame, bandBits: Int = 15, maxHamming: Int = 3,
                        bits: Int = 60): DataFrame = {
    val nBands = bits / bandBits
    require(maxHamming < nBands,
      s"recall guarantee needs maxHamming < bits/bandBits ($maxHamming >= $nBands)")
    val mask = (1L << bandBits) - 1
    // Dup-heavy corpora collapse to FAR fewer distinct fingerprints than
    // documents (a template cluster is ONE simhash), so the banded join
    // runs over distinct fingerprints only and group members expand back
    // into doc pairs afterwards. The naive doc-level band join enumerates
    // |cluster|² matches per band and dedupes them through a second full
    // shuffle — measured 30M join rows for 2.5M output pairs at sf0.1
    // under the (6,8) banding; this shape emits each output pair exactly
    // once. (Join residuals that dedupe bands in place measured worse
    // still: HOF lambdas skip whole-stage codegen, and a 45-comparison
    // unrolled CASE outgrows JIT method limits and runs interpreted.)
    val groups = simhash(docs, bits)
      .groupBy("simhash").agg(collect_list("doc_id").as("members"))
    val fpPairs = bandedFpPairs(groups.select("simhash"),
      bandBits, maxHamming, bits)
    // cross-group expansion: every member pair across the two clusters
    val cross = fpPairs
      .join(groups.as("ga"), expr("sim_a = ga.simhash"))
      .join(groups.as("gb"), expr("sim_b = gb.simhash"))
      .select(col("hamming"), explode(expr("ga.members")).as("da"),
        col("gb.members").as("mb"))
      .select(col("hamming"), col("da"), explode(col("mb")).as("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    // intra-group pairs: identical fingerprints, hamming 0 by definition
    val intra = groups.where(size(col("members")) > 1)
      .select(explode(col("members")).as("da"), col("members").as("mb"))
      .select(col("da"), explode(col("mb")).as("db"))
      .where(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        lit(0).cast("int").as("hamming"))
    cross.union(intra)
  }

  /** Distinct-fingerprint near-dup pairs under the banded join — the
    * shared front-half of [[simhashCandidates]] and [[simhashNearGroups]].
    * The Hamming cut rides IN the join residual: xor+bit_count are
    * codegen'd integer ops, so evaluating them on every raw band match
    * (12.6M at sf0.1 under the (6,8) banding) costs less than shuffling
    * the out-of-radius pairs into the distinct (5.7M -> 546k rows through
    * that exchange, measured at the same configuration). Input: a
    * one-column DataFrame of distinct `simhash` values.
    */
  private def bandedFpPairs(fps: DataFrame, bandBits: Int, maxHamming: Int,
                            bits: Int): DataFrame = {
    val nBands = bits / bandBits
    val mask = (1L << bandBits) - 1
    val banded = fps.select(col("simhash"),
      explode(expr(s"sequence(0, ${nBands - 1})")).as("band"))
      .withColumn("chunk", expr(s"shiftright(simhash, band * $bandBits) & $mask"))
    banded.as("a")
      .join(banded.as("b"),
        expr("a.band = b.band AND a.chunk = b.chunk AND a.simhash < b.simhash" +
          s" AND bit_count(a.simhash ^ b.simhash) <= $maxHamming"))
      .select(expr("a.simhash").as("sim_a"), expr("b.simhash").as("sim_b"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(sim_a ^ sim_b) AS INT)"))
  }

  /** [[simhashCandidates]] with reporting COLLAPSED to the fingerprint-
    * group level: one row per near-dup fingerprint pair (plus one row
    * per multi-member identical-fingerprint group), carrying member
    * counts instead of enumerating member pairs.
    *
    * Why this exists (measured, ScaleBench x100): doc-level pair
    * reporting is OUTPUT-bound on dup-heavy corpora — under 100× pure
    * replication every fingerprint pair fans out to ~10^4 doc pairs and
    * [[simhashCandidates]] read 342.9 s at SF~10 simply because its
    * answer was four orders of magnitude larger, while the distinct-
    * fingerprint work underneath was unchanged. This variant's output
    * is O(distinct fingerprint pairs) — the same dedup information
    * (which clusters merge, how much mass each carries: pair_count is
    * exactly the number of doc pairs the expanded form would emit) at
    * the size a 100 TB pipeline can actually materialize. No
    * collect_list anywhere: a mega-template group (10^6+ members at
    * web scale) is a count here, never an in-memory array.
    *
    * Output: (sim_a, sim_b, hamming, docs_a, docs_b, pair_count);
    * sim_a = sim_b with hamming 0 for the intra-group rows.
    */
  def simhashNearGroups(docs: DataFrame, bandBits: Int = 15, maxHamming: Int = 3,
                        bits: Int = 60): DataFrame =
    fingerprintNearGroups(simhash(docs, bits), bandBits, maxHamming, bits)

  /** Fingerprint-level near-group reporting over ANY 64-bit-or-less
    * Hamming fingerprint column — the shared core of [[simhashNearGroups]]
    * and the perceptual-image-hash dedup ([[Multimodal.dhashImages]]'s
    * dHash rides the same banded equi-join): input is per-item
    * (…, `simhash`) rows, output one row per near-dup fingerprint pair
    * within `maxHamming` (plus one row per multi-member identical-
    * fingerprint group), carrying member counts instead of enumerating
    * member pairs. The banding is LOSSLESS for `maxHamming <
    * bits/bandBits` (pigeonhole: fewer flipped bits than bands leaves
    * one band untouched), so the result is exactly the all-pairs
    * Hamming join's — at banded equi-join cost, never all-pairs.
    */
  def fingerprintNearGroups(fps: DataFrame, bandBits: Int = 15,
                            maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    val nBands = bits / bandBits
    require(maxHamming < nBands,
      s"recall guarantee needs maxHamming < bits/bandBits ($maxHamming >= $nBands)")
    val groups = fps
      .groupBy("simhash").agg(count("*").as("n_docs"))
    val cross = bandedFpPairs(groups.select("simhash"), bandBits, maxHamming, bits)
      .join(groups.as("ga"), expr("sim_a = ga.simhash"))
      .join(groups.as("gb"), expr("sim_b = gb.simhash"))
      .select(col("sim_a"), col("sim_b"), col("hamming"),
        expr("ga.n_docs").as("docs_a"), expr("gb.n_docs").as("docs_b"),
        expr("ga.n_docs * gb.n_docs").as("pair_count"))
    val intra = groups.where(col("n_docs") > 1)
      .select(col("simhash").as("sim_a"), col("simhash").as("sim_b"),
        lit(0).cast("int").as("hamming"),
        col("n_docs").as("docs_a"), col("n_docs").as("docs_b"),
        expr("n_docs * (n_docs - 1) DIV 2").as("pair_count"))
    cross.union(intra)
  }

  /** Exact-collapse composed in FRONT of the simhash banding — the
    * doc-level-pairs answer to the SF~10 output blow-up, the way
    * [[dedupe]] fronts MinHash with [[exact]]: normalized-identical
    * copies (the dominant dup mass in crawled corpora) collapse to one
    * surviving representative first, [[simhashCandidates]] then runs
    * over exact survivors only, and every reported survivor pair carries
    * the collapsed copy counts — `pair_count = copies_a * copies_b` is
    * exactly how many underlying doc pairs the pair expands to, and each
    * multi-copy exact class reports its own C(n,2) mass as a
    * (keep_id, keep_id, hamming 0) row. Total `pair_count` mass is
    * IDENTICAL to `count(*)` of [[simhashCandidates]] on the full corpus
    * (copies share their representative's fingerprint, so banding
    * decisions are unchanged — property-tested), but the output is
    * O(survivor pairs): the 100x-replication staging that made the
    * expanded form output-bound (342.9 s at SF~10 — the answer itself
    * was ~10^4x larger) costs this form one extra exact groupBy.
    *
    * Output: (doc_a, doc_b, hamming, copies_a, copies_b, pair_count);
    * doc_a = doc_b with hamming 0 for the multi-copy exact classes.
    */
  def simhashPipeline(docs: DataFrame, bandBits: Int = 15, maxHamming: Int = 3,
                      bits: Int = 60): DataFrame = {
    val ex = exact(docs)
    val counts = ex.select(col("keep_id").as("doc_id"),
      col("n_docs").as("n_copies"))
    val survivors = docs.join(counts, Seq("doc_id"))
    val cross = simhashCandidates(survivors, bandBits, maxHamming, bits)
      .join(counts.select(col("doc_id").as("doc_a"),
        col("n_copies").as("copies_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"),
        col("n_copies").as("copies_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("copies_a"), col("copies_b"),
        expr("copies_a * copies_b").as("pair_count"))
    val intra = ex.where(col("n_docs") > 1)
      .select(col("keep_id").as("doc_a"), col("keep_id").as("doc_b"),
        lit(0).cast("int").as("hamming"),
        col("n_docs").as("copies_a"), col("n_docs").as("copies_b"),
        expr("n_docs * (n_docs - 1) DIV 2").as("pair_count"))
    cross.union(intra)
  }

  /** Triangle enumeration over a candidate-pair graph (edges doc_a <
    * doc_b) — the node-iterator wedge join: (a,b)+(b,c) wedges closed by
    * the (a,c) edge, all hash equi-joins, output ordered a<b<c exactly
    * once. Triangle density distinguishes genuine duplicate communities
    * (near-cliques) from chains of borderline pairs — the graph-shape
    * diagnostic run before trusting transitive-closure cluster sizes.
    * Cost is Σ wedge counts (degree-bounded), never |V|² — the standard
    * distributed triangle algorithm; a skewed hub degree salts like any
    * other hot join key.
    */
  def dupTriangles(pairs: DataFrame): DataFrame = {
    // normalize instead of trusting the docstring contract (r9 ADVICE):
    // orient every edge small<large, drop self-loops and duplicate edges
    // — a repeated or reversed input pair would otherwise silently
    // multiply the triangle count. Cheap: the edge list is pair-bounded.
    val edges = pairs.select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") < col("doc_b"))
      .distinct()
    val e1 = edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val e2 = edges.select(col("doc_a").as("b2"), col("doc_b").as("c"))
    val e3 = edges.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
    e1.join(e2, expr("b = b2"))
      .join(e3, expr("a = a3 AND c = c3"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Content-defined chunking (the rolling-hash boundary scheme behind
    * FastCDC / restic / borg dedup stores): a chunk boundary falls after
    * position i iff the hash of the `w`-gram ENDING at i ≡ 0 (mod
    * `divisor`) — so boundaries depend only on LOCAL content, and an
    * insertion early in a document re-chunks O(1) chunks instead of
    * shifting every fixed-size block (the failure mode of fixed-width
    * chunking). Emitted chunk md5s are the storage-dedup keys: identical
    * passages shared across documents produce identical chunks wherever
    * they sit.
    *
    * Engine-exact: the rolling hash is md5 of the gram (the one shared
    * hash), boundary test on its first 4 hex chars; boundaries at
    * exactly end-of-doc are dropped so the cut list is strictly
    * increasing without any order-mangling distinct.
    *
    * Scale shape: per-row positional expression work (one Generate over
    * each doc's own positions) + a per-doc collect_list bounded by the
    * doc's boundary count — no corpus-wide state, embarrassingly
    * parallel. Output: (doc_id, chunk_idx, start, len, chunk_md5).
    */
  def cdcChunks(docs: DataFrame, w: Int = 8, divisor: Int = 64): DataFrame = {
    require(w >= 2 && divisor >= 2, "window >= 2, divisor >= 2")
    // conditional spread (r13 verdict #4): the boundary scan runs one md5
    // PER CHARACTER POSITION — far past the ~150-calls/row bar where the
    // spread pays — and on a one-row-group input the whole rolling-hash
    // stage otherwise serializes into ONE task (the downstream groupBy
    // restores parallelism only AFTER the expensive stage). Identity on
    // any real multi-split table.
    val n = TextAnalysis.spread(
      docs.select(col("doc_id"), expr(normalizeExpr).as("norm"))
        .where(length(col("norm")) >= 1))
    val bs = n.select(col("doc_id"), explode(expr(
      s"""filter(transform(sequence($w, greatest(length(norm), $w)),
         |  i -> IF(i <= length(norm) AND
         |          conv(substring(md5(substring(norm, i - ${w - 1}, $w)), 1, 4),
         |               16, 10) % $divisor = 0
         |          AND i < length(norm), i, -1)),
         |  x -> x >= 0)""".stripMargin)).as("b"))
    val ag = bs.groupBy("doc_id").agg(sort_array(collect_list(col("b"))).as("bl"))
    n.join(ag, Seq("doc_id"), "left")
      .withColumn("cuts", expr(
        "concat(array(0), coalesce(bl, array()), array(length(norm)))"))
      .select(col("doc_id"), col("norm"), posexplode(expr(
        """transform(sequence(0, size(cuts) - 2),
          |  j -> struct(cuts[j] AS s, cuts[j + 1] - cuts[j] AS l))"""
          .stripMargin)).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        col("c.s").cast("int").as("start"), col("c.l").cast("int").as("len"),
        expr("md5(substring(norm, c.s + 1, c.l))").as("chunk_md5"))
  }

  /** PageRank over the undirected duplicate-candidate graph — `iters`
    * power steps with damping 0.85: the centrality signal that ranks
    * which documents sit at the CORE of a near-dup neighborhood (tight
    * template families, boilerplate hubs) vs its fringe, the next graph
    * analytic after [[dupClusters]] membership and [[dupTriangles]]
    * density.
    *
    * Determinism: a node's incoming Σ pr/deg is an IEEE sum over an
    * unordered join result, so each iteration folds the contributions in
    * fixed neighbor order (array_sort(collect_list) — the house ordered
    * fold). Edges are normalized (oriented + distinct) like
    * [[dupTriangles]].
    *
    * Scale shape: per iteration one equi-join of the edge list against
    * the k-node rank table and one degree-bounded aggregate — the fold
    * array is one node's neighbor list, bounded by the candidate graph's
    * max degree (feed exact-collapse survivors, as with triangles, to
    * keep copy-class hubs from inflating it). Output:
    * (doc_id, deg, pr).
    */
  def pageRank(pairs: DataFrame, iters: Int = 2,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be positive")
    // localCheckpoint the normalized edge list, the degree table and each
    // round's ranks — the dupClusters/labelPropagation per-round
    // discipline this operator was missing (r17 opt, guide §2.4/§3.3):
    // `sym` is referenced by deg AND every iteration's contribution join,
    // `deg` three times (adj, rank init, final join), and `ranks` chains
    // per round — so the lazy form re-derived the WHOLE upstream
    // candidate-pair computation (scan→shingle→minhash→band join→jaccard
    // verify) once per reference: llm_pagerank's executed plan ran
    // 74 parquet scans / 136 Exchanges for a 2-iteration walk over one
    // pair join (plans/r17/llm_pagerank_before.txt).
    val edges = Shared.cut(pairs.select(
        least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") < col("b"))
      .distinct())
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val deg = Shared.cut(sym.groupBy("src").agg(count(lit(1)).as("deg")))
    val adj = sym.join(deg, Seq("src"))
    var ranks = deg.select(col("src").as("doc_id"),
      expr("CAST(1.0 AS DOUBLE)").as("pr"))
    for (_ <- 1 to iters) {
      val contrib = adj.join(ranks, adj("src") === ranks("doc_id"))
        .select(col("dst"), col("src"), expr("pr / deg").as("c"))
      val prev = ranks
      ranks = Shared.cut(contrib.groupBy(col("dst").as("doc_id"))
        .agg(expr(
          s"""CAST(${damping} AS DOUBLE) * aggregate(
             |  transform(array_sort(collect_list(struct(src, c))),
             |    s -> s.c), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
             |+ CAST(${1.0 - damping} AS DOUBLE)""".stripMargin).as("pr")))
      // free superseded ROUND state only: the initial `ranks` is a
      // projection over deg's checkpoint (its plan is not a LogicalRDD),
      // and deg itself is still consumed by the final join below
      if (prev.queryExecution.logical
            .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
        Shared.free(prev)
    }
    ranks.join(deg, ranks("doc_id") === deg("src"))
      .select(col("doc_id"), col("deg"),
        expr("CAST(ROUND(pr, 6) AS DOUBLE)").as("pr"))
  }

  /** Semi-supervised LABEL PROPAGATION over a candidate-pair graph (Zhu
    * & Ghahramani 2002 — the label-spread primitive behind cluster
    * naming / topic assignment on dedup graphs): seed nodes carry fixed
    * labels (clamped every round); unlabeled nodes synchronously adopt
    * the plurality label among their labeled neighbors, ties to the
    * lexicographically smallest label so every round is deterministic;
    * nodes with no labeled neighbor keep their previous state. Edges are
    * normalized (oriented + distinct) like [[pageRank]].
    *
    * Scale shape: per iteration one equi-join of the symmetric edge list
    * against the label table, one (node, label) partial-aggregated
    * count, and one per-node struct-min argmax — label state is one row
    * per node, never an adjacency collect; rounds track the candidate
    * graph like [[dupClusters]]. Output: (doc_id, label) for every graph
    * node, label NULL where no seed ever reached.
    */
  def labelPropagation(pairs: DataFrame, seeds: DataFrame,
                       iters: Int = 2): DataFrame = {
    require(iters >= 1, "iters must be positive")
    // localCheckpoint the symmetric edge list and each round's labels —
    // the dupClusters/kCore per-round discipline this operator was
    // missing (r16 opt): `sym` is referenced by every iteration AND the
    // node seed, and `labels` chains joins per round, so the lazy form
    // re-derived the whole upstream pair computation once per reference
    // (llm_label_propagation executed plan: 95 parquet scans / 267
    // Exchanges for a 2-iteration spread over one candidate-pair join).
    val edges = Shared.cut(pairs.select(
        least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") < col("b"))
      .distinct())
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val nodes = sym.select(col("src").as("doc_id")).distinct()
    val sd = Shared.cut(seeds.select(col("doc_id"), col("label").as("seed_label")))
    var labels = Shared.cut(nodes.join(sd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("seed_label").as("label")))
    for (_ <- 1 to iters) {
      val nbr = sym
        .join(labels.where(col("label").isNotNull)
            .select(col("doc_id").as("dst"), col("label")),
          Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
      val best = nbr.groupBy(col("src").as("doc_id"))
        .agg(min(struct((lit(Long.MaxValue) - col("cnt")).as("nc"),
          col("label").as("l"))).as("m"))
        .select(col("doc_id"), col("m.l").as("best_label"))
      val prev = labels
      labels = Shared.cut(labels.join(best, Seq("doc_id"), "left")
        .join(sd, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("seed_label"), col("best_label"), col("label"))
            .as("label")))
      Shared.free(prev)
    }
    labels
  }

  /** k-CORE decomposition by iterative peeling (Seidman 1983) over a
    * candidate-pair graph — the density gate that separates template /
    * boilerplate farms (every member near-duplicates many others, so the
    * cluster survives peeling) from incidental pairwise matches (degree-1
    * edges dissolve in the first round). Each round: one degree
    * aggregation over the surviving symmetric edge list, one semi-join
    * filter of edges to nodes with degree ≥ k on BOTH endpoints — no
    * adjacency materialization, rounds track the candidate graph like
    * [[dupClusters]]. Fixed `rounds` here (the differential oracle
    * replays them as chained CTEs); a production fixpoint loops until the
    * edge count stops shrinking, checkpointing each round like
    * [[dupClusters]] — `localCheckpoint` already cuts the per-round
    * lineage.
    *
    * Output: (doc_id, degree) for nodes still alive after the last peel,
    * degree = surviving within-core neighbor count.
    */
  def kCore(pairs: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    val und = pairs.select(
        least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    var sym = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
    for (_ <- 1 to rounds) {
      val keep = sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("src"))
      sym = Shared.cut(sym
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst"))
    }
    sym.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("degree"))
  }

  /** Link prediction by common-neighbor count (the simplest principled
    * scorer — Liben-Nowell & Kleinberg 2003): for every NON-adjacent doc
    * pair two hops apart in the candidate-pair graph, how many shared
    * neighbors connect them. On a near-dup graph this surfaces "probable
    * duplicates the banding missed": two docs each near-identical to the
    * same third documents almost certainly match each other.
    *
    * One wedge self-join on the shared middle (the [[dupTriangles]]
    * shape — work ∝ Σ deg², bounded by the same front-collapse rule) +
    * one integer count + one anti-join against the existing edge set;
    * log-free on purpose (Adamic–Adar's 1/log(deg) weights die at the
    * cross-engine gate — counts and min-degree carry the same ranking
    * signal exactly).
    */
  def linkPredict(pairs: DataFrame, minCommon: Long = 2): DataFrame = {
    val und = pairs.select(
        least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") < col("b"))
      .distinct()
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
    val wedges = sym.select(col("src").as("u"), col("dst").as("m"))
      .join(sym.select(col("src").as("m"), col("dst").as("w")), Seq("m"))
      .where(col("u") < col("w"))
      .groupBy(col("u").as("doc_a"), col("w").as("doc_b"))
      .agg(count(lit(1)).as("common_cnt"))
      .where(col("common_cnt") >= minCommon)
    wedges.join(und.select(col("a").as("doc_a"), col("b").as("doc_b")),
      Seq("doc_a", "doc_b"), "left_anti")
  }

  /** Corpus-source similarity via group-level MinHash: which crawls / dumps
    * / sources substantially duplicate each other, answered WITHOUT ever
    * comparing documents.
    *
    * min() is associative, so the per-group minimum of each permutation's
    * per-shingle hash IS the MinHash signature of the UNION of the group's
    * shingle sets — re-keying documents by `groupCol` before [[minhash]]
    * collapses the whole corpus map-side (partial aggregation) into
    * |groups| × numHashes integers: a few hundred bytes per group at ANY
    * corpus size. The pairwise stage unpivots signatures to (group,
    * permutation, hash) rows and hash-joins on the permutation index —
    * tiny × tiny, never an NLJ over documents. The agreement fraction
    * estimates the Jaccard similarity of the groups' union shingle sets
    * (the classic MinHash estimator, Broder 1997).
    *
    * Output: (src_a, src_b, n_agree, est_jaccard) with src_a < src_b.
    */
  def groupSimilarity(docs: DataFrame, groupCol: String,
                      numHashes: Int = 8): DataFrame = {
    val sigs = minhash(docs.select(col(groupCol).as("doc_id"), col("text")),
      numHashes)
    val unpivot = (0 until numHashes)
      .map(i => s"struct($i AS i, h$i AS h)")
      .mkString("array(", ", ", ")")
    val long = sigs
      .select(col("doc_id").as("grp"), explode(expr(unpivot)).as("ih"))
      .select(col("grp"), col("ih.i").as("i"), col("ih.h").as("h"))
    val a = long.as("a")
    val b = long.as("b")
    a.join(b, expr("a.i = b.i AND a.grp < b.grp"))
      .groupBy(expr("a.grp").as("src_a"), expr("b.grp").as("src_b"))
      .agg(count(when(expr("a.h = b.h"), true)).as("n_agree"))
      .withColumn("est_jaccard",
        expr(s"CAST(n_agree AS DOUBLE) / $numHashes"))
  }
}
