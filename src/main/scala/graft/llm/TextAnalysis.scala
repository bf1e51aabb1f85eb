package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Shared

/** Text-analysis operators for training-data pipelines: quality statistics,
  * token counting, n-gram-heuristic language ID and document fingerprinting.
  * Extension surface beyond the reference engine (SURVEY.md §7 Phase 3).
  *
  * All of it is per-row expression work (codegen'd built-ins — regexp,
  * split, md5, aggregate) plus at most one groupBy keyed on doc_id, so the
  * operators are embarrassingly parallel over corpus partitions: nothing
  * here shuffles anything wider than (doc_id, lang-vote).
  */
object TextAnalysis {

  /** Spread a SMALL input across all cores before per-row-heavy compute.
    * A single parquet file with one row group plans one scan partition, so
    * a map-only operator (no shuffle anywhere downstream to restore
    * parallelism) runs on one core no matter how many are free. The
    * repartition is conditional: when the scan already carries >= default
    * parallelism (any realistic multi-file table — at 100 TB, thousands
    * of splits), this is an identity and no shuffle is added. Only worth
    * it when per-row cost >> row width (here: ~150 md5 calls per row)
    * AND no early downstream shuffle restores parallelism anyway —
    * measured at sf0.1, spreading the shingle/token exploders (distinct
    * follows one stage later) made them 40-60% slower.
    *
    * Call ONLY on scan-level inputs: `df.rdd` on an AQE plan with
    * upstream exchanges executes those stages eagerly just to count
    * partitions.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Per-document quality stats: char/token counts, average word length,
    * punctuation and whitespace ratios — the usual cheap quality filters.
    */
  def stats(docs: DataFrame): DataFrame =
    // NULLIF guards: Spark 4 runs ANSI mode by default, so an empty document
    // must yield NULL ratios, not a DIVIDE_BY_ZERO that kills the job.
    docs.selectExpr(
      "doc_id",
      "CAST(length(text) AS BIGINT) AS n_chars",
      "CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_tokens",
      """CAST(ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '')) AS DOUBLE)
        |     / NULLIF(length(text), 0), 6) AS DOUBLE) AS alnum_ratio""".stripMargin,
      """CAST(ROUND(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
        |     / NULLIF(length(text), 0), 6) AS DOUBLE) AS space_ratio""".stripMargin,
      """CAST(ROUND(CAST(length(regexp_replace(lower(trim(text)), '\\s+', ' ')) AS DOUBLE)
        |     / NULLIF(size(split(trim(text), '\\s+')), 0), 6) AS DOUBLE) AS avg_token_len""".stripMargin)

  /** Quality filter over [[stats]]: keep documents inside the usual
    * training-data quality envelope (token count band, mostly-alphanumeric
    * content, sane whitespace density). NULL ratios (empty docs) fail
    * every predicate and drop out, as they should.
    */
  def qualityFilter(docs: DataFrame,
                    minTokens: Long = 5, maxTokens: Long = 5000,
                    minAlnum: Double = 0.7,
                    maxSpace: Double = 0.4): DataFrame =
    stats(docs)
      .where(col("n_tokens").between(minTokens, maxTokens)
        && col("alnum_ratio") >= minAlnum
        && col("space_ratio") <= maxSpace)

  /** BPE-ish token counting: word pieces = runs of letters/digits plus
    * single punctuation marks (a cheap stand-in for a real BPE vocab; at
    * 100 TB the same regexp runs inside codegen per partition).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "CAST(size(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\\\s]', 0)) AS BIGINT) AS n_bpeish",
      "CAST(size(array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0))) AS BIGINT) AS n_unique_words")

  /** Stopword-vote language ID. `votes` maps language code -> marker words;
    * the prediction is the language with the most distinct marker-word hits
    * (ties broken by language code; zero hits => 'und'). The vote join is a
    * shuffle on token, with the tiny marker table broadcast.
    */
  def langId(docs: DataFrame,
             votes: Map[String, Seq[String]] = defaultVotes): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = votes.toSeq
      .flatMap { case (lang, ws) => ws.map(w => (lang, w)) }
      .toDF("lang_cand", "marker")
    val toks = docs
      .select(col("doc_id"),
        explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("tok"))
      .distinct()
    val scores = toks.join(broadcast(markers), expr("tok = marker"))
      .groupBy("doc_id", "lang_cand").agg(count("*").as("hits"))
    val best = scores
      .withColumn("rn", expr(
        "row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand)"))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lang_cand").as("pred_lang"), col("hits"))
    docs.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Tiny per-language marker-word lists (public common stopwords). */
  val defaultVotes: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"))

  /** Deterministic train/validation/test assignment by CONTENT hash — the
    * standard split discipline for training corpora: a document lands in
    * the same split on every run, every engine, and every re-shard of the
    * input (no RNG, no row order dependence), and exact duplicates land
    * in the same split so near-identical text cannot straddle the
    * train/test boundary. Pure per-row expression work — embarrassingly
    * parallel, no shuffle.
    */
  /** md5-derived percent bucket (0..99) of any SQL expression — the ONE
    * copy of the cross-engine hash idiom (DuckDB twin:
    * `('0x'||substr(md5(e),1,15))::BIGINT % 100`). Explicit BIGINT
    * before the mod: conv() returns STRING, and the arithmetic must stay
    * exact 64-bit (a DOUBLE detour would round 60-bit hashes and diverge
    * from the oracle's integer mod).
    */
  private[llm] def pctBucket(e: String): String =
    s"CAST(CAST(conv(substr(md5($e), 1, 15), 16, 10) AS BIGINT) % 100 AS INT)"

  def hashSplit(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    docs.select(
      col("doc_id"),
      expr(pctBucket(Dedup.normalizeExpr)).as("bucket"))
      .withColumn("split",
        expr(s"CASE WHEN bucket < $trainPct THEN 'train' " +
          s"WHEN bucket < ${trainPct + valPct} THEN 'val' ELSE 'test' END"))
  }

  /** Corpus-level n-gram statistics: document frequency of word n-grams,
    * top-k — the contamination/boilerplate-analysis primitive (which
    * phrases dominate the corpus?). Distinct-per-doc shingles feed ONE
    * count aggregate; the top-k is a TakeOrdered, not a global sort.
    */
  def ngramStats(docs: DataFrame, n: Int = 2, k: Int = 20): DataFrame =
    Dedup.shingles(docs, n)
      .groupBy("shingle")
      .agg(count("*").as("df"))
      .orderBy(col("df").desc, col("shingle"))
      .limit(k)

  /** HyperLogLog-style distinct-token sketch per group — the cardinality
    * estimator a 100 TB corpus uses where `count(DISTINCT token)` would
    * shuffle every token: per group only m=64 small registers move
    * (map-side max-combined), a ~10⁶× reduction at web scale.
    *
    * Engine-exact by construction (the reason this is NOT
    * `approx_count_distinct`, whose HLL++ internals are
    * implementation-defined): the hash is md5 (the one shared hash) —
    * bucket from 3 hex chars, rho from the leading-zero run of a
    * disjoint 13-hex-char field (string arithmetic, no floats); the
    * harmonic denominator Σ 2^(-M_j) is scaled by 2^53 into an EXACT
    * BIGINT sum (doubles would hit fold-order ULP drift); the estimate
    * is one literal·literal product and one division — correctly
    * rounded, deterministic. Registers for unseen buckets contribute
    * 2^53 each (rho 0). The raw-HLL estimator without the small/large
    * range corrections, reported next to the exact count so the error
    * is visible — the tuning measurement, not a black box.
    *
    * Output: (group, n_buckets_hit, harmonic_s, hll_est, n_exact).
    */
  /** The per-group token stream feeding the HLL sketch family. */
  private def hllTokens(docs: DataFrame, groupCol: String): DataFrame =
    docs.select(col(groupCol).as("grp"),
        explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("tok"))
      .where(length(col("tok")) > 0)

  /** HLL registers per (group, bucket) — the 64-int mergeable state. */
  private def hllRegisters(toks: DataFrame): DataFrame =
    toks
      .withColumn("__h", md5(col("tok")))
      .withColumn("bucket",
        expr("CAST(conv(substring(__h, 14, 3), 16, 10) AS INT) % 64"))
      .withColumn("__zeros",
        expr("length(regexp_extract(substring(__h, 1, 13), '^0*', 0))"))
      .withColumn("rho", expr(
        """CASE WHEN __zeros = 13 THEN 53
          |ELSE __zeros * 4 + 1 + (CASE substring(__h, __zeros + 1, 1)
          |  WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
          |  WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
          |  ELSE 0 END) END""".stripMargin))
      .groupBy("grp", "bucket").agg(max("rho").as("mj"))

  def distinctSketch(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val m = 64
    val alphaNum = 0.7213 / (1 + 1.079 / m) * m * m * math.pow(2, 53)
    val toks = hllTokens(docs, groupCol)
    val regs = hllRegisters(toks)
    val sketch = regs.groupBy("grp").agg(
      count(lit(1)).as("n_buckets_hit"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)")).as("__s_hit"))
    val exact = toks.groupBy("grp")
      .agg(countDistinct(col("tok")).as("n_exact"))
    sketch.join(exact, Seq("grp"))
      .withColumn("harmonic_s", expr(
        s"__s_hit + CAST($m - n_buckets_hit AS BIGINT) * shiftleft(CAST(1 AS BIGINT), 53)"))
      .select(col("grp").as(groupCol), col("n_buckets_hit"),
        col("harmonic_s"),
        expr(s"CAST(ROUND(CAST($alphaNum AS DOUBLE) / harmonic_s, 6) AS DOUBLE)")
          .as("hll_est"),
        col("n_exact"))
  }

  /** HLL sketch MERGE — the property that makes the sketch THE 100 TB
    * cardinality tool: per-source registers union by per-bucket MAX
    * (associative, commutative, idempotent), so shards sketch
    * independently and the coordinator combines 64 ints per shard —
    * never re-touching a token. One output row: the union estimate from
    * the MERGED registers next to the exact union cardinality and the
    * per-source exact SUM — the sum-to-union gap is precisely the
    * cross-source vocabulary overlap the merge deduplicates (union
    * cardinality does not sum; register merge handles that for free).
    *
    * Identical register/estimator arithmetic to [[distinctSketch]]
    * (engine-exact md5 buckets, 2^53-scaled BIGINT harmonic sum); the
    * merged-register estimate is BIT-IDENTICAL to sketching the corpus
    * as one group — the merge identity a property test pins.
    */
  def distinctSketchMerged(docs: DataFrame,
                           groupCol: String = "source"): DataFrame = {
    val m = 64
    val alphaNum = 0.7213 / (1 + 1.079 / m) * m * m * math.pow(2, 53)
    val toks = hllTokens(docs, groupCol)
    val merged = hllRegisters(toks).groupBy("bucket").agg(max("mj").as("mj"))
    val sk = merged.agg(
      count(lit(1)).as("n_buckets_hit"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)")).as("__s_hit"))
    val exactUnion = toks.agg(countDistinct(col("tok")).as("n_exact_union"))
    val perSource = toks.groupBy("grp")
      .agg(countDistinct(col("tok")).as("__e"))
      .agg(count(lit(1)).as("n_sources"), sum("__e").as("sum_exact_sources"))
    sk.crossJoin(perSource).crossJoin(exactUnion)
      .withColumn("harmonic_s", expr(
        s"__s_hit + CAST($m - n_buckets_hit AS BIGINT) * shiftleft(CAST(1 AS BIGINT), 53)"))
      .select(col("n_sources"), col("n_buckets_hit"), col("harmonic_s"),
        expr(s"CAST(ROUND(CAST($alphaNum AS DOUBLE) / harmonic_s, 6) AS DOUBLE)")
          .as("hll_union_est"),
        col("n_exact_union"), col("sum_exact_sources"))
  }

  /** Pairwise source-vocabulary overlap WITHOUT comparing tokens across
    * sources: every (source a, source b) pair's distinct-token
    * intersection estimated by HLL inclusion–exclusion — est(a) + est(b)
    * − est(a ∪ b), where the union sketch is the bucketwise register max
    * (the property that makes HLL mergeable). One token scan builds the
    * per-source registers; everything after operates on |sources| × 64
    * integers, so answering "which crawls duplicate each other's
    * vocabulary" over a 100 TB corpus costs one scan + model-sized
    * arithmetic — the [[distinctSketchMerged]] state taken to its real
    * multi-way use.
    *
    * Determinism: registers are exact integers (md5-derived), harmonic
    * sums are exact integer Σ 2^(53−mj) over DENSIFIED registers (all 64
    * buckets, absent → 0), each estimate is ONE IEEE division, and the
    * inclusion–exclusion is a fixed three-term tree — rounding only at
    * the output edge.
    */
  def distinctOverlap(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val m = 64
    val alphaNum = 0.7213 / (1 + 1.079 / m) * m * m * math.pow(2, 53)
    val regs = hllRegisters(hllTokens(docs, groupCol))
    val dense = regs.select(col("grp")).distinct()
      .withColumn("bucket", explode(expr(s"sequence(0, ${m - 1})")))
      .join(regs, Seq("grp", "bucket"), "left")
      .withColumn("mj", expr("coalesce(mj, 0)"))
    val perSource = dense.groupBy("grp")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)")).as("hs"))
      .withColumn("est", expr(s"CAST($alphaNum AS DOUBLE) / hs"))
    val pairs = dense.select(col("grp").as("src_a"), col("bucket"),
        col("mj").as("ma"))
      .join(dense.select(col("grp").as("src_b"), col("bucket"),
        col("mj").as("mb")), Seq("bucket"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - greatest(ma, mb))"))
        .as("hs_u"))
      .withColumn("est_u", expr(s"CAST($alphaNum AS DOUBLE) / hs_u"))
    pairs
      .join(broadcast(perSource.select(col("grp").as("src_a"),
        col("est").as("ea"))), Seq("src_a"))
      .join(broadcast(perSource.select(col("grp").as("src_b"),
        col("est").as("eb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        expr("CAST(ROUND(ea, 6) AS DOUBLE)").as("est_a"),
        expr("CAST(ROUND(eb, 6) AS DOUBLE)").as("est_b"),
        expr("CAST(ROUND(est_u, 6) AS DOUBLE)").as("est_union"),
        expr("CAST(ROUND(ea + eb - est_u, 6) AS DOUBLE)").as("est_overlap"))
  }

  /** Per-document TF-IDF keyword extraction: each doc's top-k tokens by
    * tf · N/df (the log-free idf variant — tf·N is an exact BIGINT, one
    * IEEE division by df, so the ranking doubles are bit-identical
    * cross-engine with no rounding edge; ties break on the token). The
    * document-labeling primitive of corpus curation: topical tags,
    * boilerplate detection (top keyword shared corpus-wide), and the
    * input to keyword-stratified sampling.
    *
    * Scale shape: tf is one (doc, token) hash agg with map-side partials;
    * df reduces the SAME aggregate by token (no second scan of the
    * corpus); N rides a broadcast 1-row aggregate; the per-doc top-k is
    * a WindowGroupLimit rank prune, never a global sort.
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 5): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("tok"))
      .where(length(col("tok")) > 0)
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(df, Seq("tok")).crossJoin(broadcast(n))
      .withColumn("score", expr("CAST(tf * __n AS DOUBLE) / df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        expr("CAST(ROUND(score, 6) AS DOUBLE)").as("score"), col("rank"))
  }

  /** Per-document NOVELTY scoring against the corpus — the doc-level
    * counterpart of [[ngramStats]]/[[heavyHitters]]'s corpus-level views:
    * for each document, the fraction of its distinct word n-grams whose
    * corpus document frequency is <= `maxDf`. High rare_ratio marks
    * content the corpus has not seen elsewhere (worth keeping for
    * diversity); near-zero marks template/boilerplate mass that
    * contributes nothing new — the standard cheap diversity filter next
    * to the dedup family (which only acts on near-IDENTICAL docs; this
    * scores partial overlap without needing a candidate pair).
    *
    * All-integer arithmetic until the final ROUND(…,6) ratio, so the
    * score is deterministic under any aggregation order. Scale shape:
    * the DF table is one shuffle on shingle with map-side partial
    * counts; the join back is shingle-keyed (both sides already
    * distinct per doc, never corpus×corpus); the per-doc rollup shuffles
    * on doc_id. No broadcast of corpus state, no all-pairs term — cost
    * tracks the shingle count linearly, same as the MinHash front half.
    * Docs too short to shingle (< n words) surface with 0/0 counts and
    * a NULL ratio rather than dropping out.
    */
  def novelty(docs: DataFrame, n: Int = 3, maxDf: Long = 2): DataFrame = {
    val sh = Dedup.shingles(docs, n)
    val dfTab = sh.groupBy("shingle").agg(count("*").as("__df"))
    val perDoc = sh.join(dfTab, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count("*").as("n_shingles"),
        sum(when(col("__df") <= maxDf, 1L).otherwise(0L)).as("n_rare"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .withColumn("rare_ratio", expr(
        "CAST(ROUND(CAST(n_rare AS DOUBLE) / NULLIF(n_shingles, 0), 6) AS DOUBLE)"))
  }

  /** Heavy-hitter n-grams by EXACT document frequency, found through a
    * count-min-sketch prefilter — the threshold counterpart of
    * [[ngramStats]]'s top-k for when the corpus's distinct-gram
    * cardinality, not the row count, is the bottleneck. At 100 TB a
    * plain groupBy over every gram occurrence must hold (then spill)
    * billions of long-tail keys in the aggregation hash maps just to
    * discard them against the threshold. Two passes instead: (1) one
    * scan builds a fixed-size CMS (eps·conf bound the memory, never the
    * key count) over the grams' xxhash64 keys; (2) the second scan keeps
    * only grams the sketch estimates at >= minDf — a guaranteed SUPERSET
    * of the true heavy hitters, since CMS never under-estimates (and an
    * xxhash64 collision only merges counts upward) — and the exact
    * count + threshold then run over candidate keys only. Result is
    * EXACT: bit-identical to the plain GROUP BY ... HAVING at any
    * (eps, confidence); the knobs only trade sketch size against how
    * much of the tail leaks into the confirm pass.
    *
    * Like [[Dedup.containmentBloom]], the sketch rides the plan as a
    * codegen'd expression ([[graft.functions.CmsEstimate]]) — the
    * prefilter runs inside the scan stage, before any exchange.
    * Output: (shingle, df) for every gram with df >= minDf.
    */
  def heavyHitters(docs: DataFrame, minDf: Long, n: Int = 2,
                   eps: Double = 0.001, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    require(minDf >= 1, "need minDf >= 1")
    val keyed = Dedup.shingles(docs, n)
      .select(col("shingle"), expr("xxhash64(shingle)").as("__gh"))
    val cms = keyed.stat.countMinSketch("__gh", eps, confidence, seed)
    val bytes = { val bos = new java.io.ByteArrayOutputStream()
                  cms.writeTo(bos); bos.toByteArray }
    keyed
      .where(call_function("graft_cms_estimate", col("__gh"), lit(bytes))
        >= minDf)
      .groupBy("shingle")
      .agg(count("*").as("df"))
      .where(col("df") >= minDf)
  }

  /** N-gram draft table for speculative decoding (the corpus-statistics
    * draft model of Prompt-Lookup/NGram-Spec style serving): for every
    * word whose most frequent successor occurs at least `minCount`
    * times, emit that argmax successor plus its count and the word's
    * successor-vocabulary width. One explode over the normalized token
    * stream (NO distinct — corpus frequency, not document frequency,
    * is what a draft model samples), one (w1, w2) partial-aggregated
    * count, then the per-w1 argmax as a second AGGREGATE (`min_by` on
    * the composite (−cnt, w2) key) — no window, no per-partition sort,
    * both aggregations map-side partial; ties break to the
    * lexicographically first successor so the table is deterministic.
    */
  def ngramDraft(docs: DataFrame, minCount: Long = 3): DataFrame =
    docs
      .select(expr(s"split(${Dedup.normalizeExpr}, ' ')").as("w"))
      .where(expr("size(w) >= 2"))
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
        .as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("w1")
      .agg(
        expr("min_by(named_struct('draft', w2, 'cnt', cnt)," +
          " named_struct('nc', -cnt, 'w2', w2))").as("best"),
        count(lit(1)).as("n_next"))
      .where(col("best.cnt") >= minCount)
      .select(col("w1"), col("best.draft").as("draft"),
        col("best.cnt").as("cnt"), col("n_next"))

  /** Token-budget shard packing: assign documents to output shards so
    * each shard carries ~`tokensPerShard` tokens — the balanced-shard
    * writer step of a training pipeline (downstream dataloaders want
    * shards of equal token mass, not equal document count). A doc goes
    * to the shard where its tokens START in the global doc_id-ordered
    * prefix sum: deterministic, reproducible across runs and engines.
    *
    * Scale shape: a single global running-sum window would collapse to
    * ONE task (no partition spec). Instead the prefix sum is two-phase,
    * the same decomposition as the bucketed as-of: intra-bucket cumsum
    * windows partition on a coarse doc_id bucket (parallel), bucket
    * totals prefix-sum over the tiny per-bucket summary (the only
    * single-partition step — |buckets| rows), and a join stitches the
    * offsets back. Output: (doc_id, n_tokens, cum_tokens, shard).
    *
    * PRECONDITION: doc_ids must be reasonably DENSE (sequential-ish),
    * as fixture and crawl-reindex ids are — `doc_id div bucketDocs`
    * then yields ~bucketDocs docs per bucket and |buckets| ~ N/4096.
    * Hashed/UUID-derived ids would put ~one doc in each bucket and the
    * summary window degenerates back to a per-doc single-task scan;
    * re-key such corpora first (row_number over a sort is itself a
    * global prefix problem — assigning dense ids at ingest is the
    * scalable path).
    */
  def packShards(docs: DataFrame, tokensPerShard: Long = 1 << 16,
                 bucketDocs: Long = 4096): DataFrame = {
    require(tokensPerShard > 0 && bucketDocs > 0, "budgets must be positive")
    // `div` (exact int64 division), NOT `/`: the column `/` operator is
    // DOUBLE division and loses exactness past 2^53 — real corpora's
    // cumulative token counts get there
    val toks = docs.select(col("doc_id"),
      expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)").as("n_tokens"),
      expr(s"doc_id div $bucketDocs").as("__bkt"))
    val wIn = Window.partitionBy("__bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = toks.withColumn("__cum_in", sum("n_tokens").over(wIn))
    val wB = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("__bkt").agg(sum("n_tokens").as("__bsum"))
      .withColumn("__off", coalesce(sum("__bsum").over(wB), lit(0L)))
      .select(col("__bkt"), col("__off"))
    intra.join(offsets, Seq("__bkt"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__cum_in") + col("__off")).as("cum_tokens"))
      .withColumn("shard",
        expr(s"(cum_tokens - n_tokens) div $tokensPerShard"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1: "repetition"
    * quality filters): per document, the most frequent word n-gram, the
    * fraction of all n-grams it accounts for, and the duplicate-n-gram
    * ratio (1 - distinct/total). Boilerplate, keyword-stuffed and
    * template pages score high and get filtered before training.
    *
    * Shape: NON-distinct n-grams (frequency matters here, unlike
    * [[Dedup.shingles]]) -> one (doc, gram) count aggregate
    * (partial-agg'd) -> per-doc window for totals + the top-1 by
    * (count desc, gram asc) — a deterministic tie-break, and the rank
    * filter prunes via WindowGroupLimit before the final sort.
    * Output: (doc_id, top_gram, top_n, n_grams, n_distinct, top_frac,
    * dup_ratio) — all scalar columns.
    */
  /** Token-distribution DIVERSITY per document: the Gini–Simpson index
    * (1 - Σp²) and the effective vocabulary size (inverse Simpson,
    * n²/Σcnt² — the Hill number of order 2), the perplexity-style
    * "how concentrated is this doc's token distribution" signal next to
    * [[repetition]]'s top-1/distinct-count gram views. Low eff_vocab on
    * a long doc marks keyword-stuffing / generated loops that unigram
    * counts alone miss. Deliberately NOT Shannon entropy: log is not
    * correctly-rounded IEEE, so a JVM-vs-C log2 can differ in the last
    * ulp and break the cross-engine differential — Σcnt² stays exact
    * 64-bit integer all the way, so both indices are bit-identical in
    * any engine after the single final division. Scale shape: one
    * explode + two keyed aggregations (both with map-side partials);
    * no window, no join, no corpus state.
    */
  def tokenDiversity(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("tok"))
      .groupBy("doc_id", "tok").agg(count("*").as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(expr("cnt * cnt")).as("__s2"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("""CAST(ROUND(1.0 - CAST(__s2 AS DOUBLE)
                / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6)
                AS DOUBLE)""").as("simpson"),
        expr("""CAST(ROUND(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)
                / CAST(__s2 AS DOUBLE), 6) AS DOUBLE)""").as("eff_vocab"))

  def repetition(docs: DataFrame, n: Int = 2): DataFrame = {
    val grams = docs
      .select(col("doc_id"), expr(s"split(${Dedup.normalizeExpr}, ' ')").as("w"))
      .where(expr(s"size(w) >= $n"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', ${
          (0 until n).map(j => s"w[i+$j]").mkString(", ")}))")).as("gram"))
    val counts = grams.groupBy("doc_id", "gram").agg(count("*").as("c"))
    val wAll = Window.partitionBy("doc_id")
    val wTop = wAll.orderBy(col("c").desc, col("gram"))
    counts
      .withColumn("n_grams", sum("c").over(wAll))
      .withColumn("n_distinct", count("*").over(wAll))
      .withColumn("__rn", row_number().over(wTop))
      .where(col("__rn") === 1)
      .select(col("doc_id"), col("gram").as("top_gram"), col("c").as("top_n"),
        col("n_grams"), col("n_distinct"),
        expr("CAST(ROUND(CAST(c AS DOUBLE) / n_grams, 6) AS DOUBLE)")
          .as("top_frac"),
        expr("CAST(ROUND(1 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS DOUBLE)")
          .as("dup_ratio"))
  }

  /** Fixed-size token chunking with overlap — the context-window packing
    * step of a training pipeline: each document becomes ceil((n-size)/
    * stride)+1 windows of `chunkTokens` tokens advancing by stride =
    * chunkTokens - overlap (the final window may be shorter; every token
    * is covered). Pure per-row expression work (transform + slice over
    * the token array, one explode) — no shuffle, no UDF; integer-only
    * index math so the windows replay exactly in any engine.
    * Output: (doc_id, chunk_idx, n_chunk_tokens, chunk_md5).
    */
  def chunk(docs: DataFrame, chunkTokens: Int = 64, overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"),
        expr(s"split(${Dedup.normalizeExpr}, ' ')").as("w"))
      .select(col("doc_id"), explode(expr(
        s"""transform(
           |  sequence(0, CAST((GREATEST(size(w) - $chunkTokens, 0) + ${stride - 1})
           |                   div $stride AS INT)),
           |  i -> struct(i AS idx, slice(w, i * $stride + 1, $chunkTokens) AS cw))""".stripMargin))
        .as("c"))
      .select(col("doc_id"),
        col("c.idx").cast("int").as("chunk_idx"),
        expr("CAST(size(c.cw) AS BIGINT)").as("n_chunk_tokens"),
        expr("md5(concat_ws(' ', c.cw))").as("chunk_md5"))
  }

  /** Deterministic stratified sample: the k "first" documents per stratum
    * under an ID-hash order — every run, engine, and input sharding picks
    * the same k (an RNG sample would not be oracle-checkable, and at
    * 100 TB resumability matters more than true randomness). NOTE the
    * hash input is doc_id, not content: re-ingesting with new ids picks
    * a different sample — use [[hashSplit]]'s content hash when
    * duplicate-co-assignment matters. Executes as WindowGroupLimit: the
    * rank filter prunes per-partition before the per-stratum sort ships
    * anything.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String, k: Int): DataFrame =
    docs
      .withColumn("__h", expr("md5(CAST(doc_id AS STRING))"))
      .withColumn("__rn", expr(
        s"row_number() OVER (PARTITION BY $stratumCol ORDER BY __h, doc_id)"))
      .where(col("__rn") <= k)
      .drop("__h", "__rn")

  /** The BM25 per-(doc, term) contribution as ONE expression string valid
    * in BOTH Spark SQL and DuckDB (same functions, same literals, same
    * operator sequencing => same IEEE doubles modulo ln's last ulp,
    * which the ROUND(…, 6) absorbs). Expects columns (tf, df, dl,
    * n_docs, tot) in scope. Lucene's positive idf variant:
    * ln((N - df + 0.5)/(df + 0.5) + 1). The contribution rounds to 6
    * decimals and CASTs to DECIMAL so the per-doc SUM is exact and
    * order-independent — float summation order across partitions could
    * otherwise flip the last bit (the repo's money-on-DECIMAL rule).
    */
  private[graft] def bm25Contribution(k1: Double, b: Double): String =
    s"""CAST(ROUND(
       |  ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + CAST(1.0 AS DOUBLE))
       |  * (CAST(tf AS DOUBLE) * CAST(${k1 + 1.0} AS DOUBLE))
       |  / (CAST(tf AS DOUBLE) + CAST($k1 AS DOUBLE) * (CAST(${1.0 - b} AS DOUBLE)
       |     + CAST($b AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))
       |, 6) AS DECIMAL(20, 6))""".stripMargin

  /** BM25 relevance of every document against a fixed query — the
    * retrieval-scoring primitive of targeted data curation (select the
    * training subset most relevant to a benchmark/task description;
    * query-conditioned quality filtering). Okapi BM25 with Lucene's
    * non-negative idf; deterministic: no RNG, exact integer tf/df/dl
    * statistics, contributions rounded to 6 decimals and summed on
    * DECIMAL (order-independent).
    *
    * Scale shape: the query-term table (broadcast, a handful of rows)
    * filters the token stream BEFORE the tf groupBy, so the per-term
    * shuffle carries only matching tokens; document length and the two
    * corpus constants (N, total tokens) come from one full-corpus
    * aggregate each — partial-agg'd, tiny outputs, the constants frame
    * broadcast into the score expression. No all-pairs anything; a
    * 100 TB corpus pays two token-stream scans (dl + tf) and joins on
    * doc_id.
    *
    * Output: (doc_id, n_terms, bm25) for documents matching >= 1 query
    * term.
    */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queryTerms.distinct.toDF("tok")
    val toks = docs.select(col("doc_id"),
      explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count("*").as("dl"))
    val consts = dl.agg(count("*").as("n_docs"), sum("dl").as("tot"))
    val tf = toks.join(broadcast(q), Seq("tok"))
      .groupBy("doc_id", "tok").agg(count("*").as("tf"))
    // tf is one row per (doc, term), so df per term is a plain count
    val dfreq = tf.groupBy("tok").agg(count("*").as("df"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), expr(bm25Contribution(k1, b)).as("c"))
      .groupBy("doc_id")
      .agg(count("*").as("n_terms"),
        expr("CAST(SUM(c) AS DOUBLE)").as("bm25"))
  }

  /** Per-domain quota cap (the FineWeb/CCNet "no domain may dominate the
    * mix" step): keep at most `maxPerKey` documents per `keyCol`,
    * preferring higher-quality text — ranked by [[stats]]'s alnum_ratio
    * (NULLs, i.e. empty docs, rank last) with doc_id as the
    * deterministic tie-break. No RNG, no reliance on input order: the
    * same cap survives re-shards and engine changes.
    *
    * Scale shape: the rank filter sits directly above its window, so
    * Spark plans a WindowGroupLimit — each map task keeps only its
    * per-domain top `maxPerKey` BEFORE the shuffle, and the exchange
    * carries O(domains × maxPerKey × tasks) rows, not the corpus. A
    * mega-domain (half the crawl on one host) costs its winners per
    * task, never a full-domain sort on one reducer.
    */
  def domainCap(docs: DataFrame, maxPerKey: Int,
                keyCol: String = "source"): DataFrame =
    docs
      .withColumn("__q", expr(
        """CAST(ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '')) AS DOUBLE)
          |     / NULLIF(length(text), 0), 6) AS DOUBLE)""".stripMargin))
      .withColumn("__rn", expr(
        s"row_number() OVER (PARTITION BY $keyCol ORDER BY __q DESC NULLS LAST, doc_id)"))
      .where(col("__rn") <= maxPerKey)
      .drop("__q", "__rn")

  /** Deterministic mixture sample: per-source keep rates (pct of each
    * source's documents), applied by ID-hash bucket — how a training
    * mix is rebalanced ("keep 100% of wiki, 10% of crawl"). A document's
    * fate depends only on its id hash and its source's rate: stable
    * across runs and reshards, no RNG, join with the tiny rate table
    * broadcast. Sources absent from `rates` drop out entirely.
    */
  def mixtureSample(docs: DataFrame, rates: Map[String, Int],
                    sourceCol: String = "source"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rateDF = rates.toSeq.toDF(sourceCol, "keep_pct")
    docs
      .join(broadcast(rateDF), Seq(sourceCol))
      .where(expr(s"${pctBucket("CAST(doc_id AS STRING)")} < keep_pct"))
      .drop("keep_pct")
  }

  /** Line-level boilerplate removal (the CCNet / RefinedWeb / FineWeb
    * pre-dedup step): a LINE that recurs across >= `minDocs` distinct
    * documents (normalized: lowercased, whitespace-collapsed) is
    * boilerplate — headers, footers, nav bars, cookie banners — and is
    * stripped from every document; what remains is reassembled in the
    * original line order.
    *
    * Scale shape: the line document-frequency is one groupBy on the
    * normalized line hash (bounded by the corpus's distinct-line count,
    * partial-agg'd); the boilerplate set joins back on that same hash —
    * a shuffle equi-join AQE flips to broadcast when the set is small,
    * which on real web corpora it is not (millions of boilerplate
    * lines), so no broadcast is forced here. Reassembly is a per-doc
    * aggregate: collect the kept (line_no, line) pairs, array_sort
    * restores original order (collect_list order is not deterministic
    * across retries), concat back. Per-doc state is bounded by the
    * document's own size — the same bound every per-doc operator here
    * carries.
    *
    * Empty/blank lines are never counted as boilerplate (every doc has
    * them; stripping them would mangle paragraph structure) and are
    * always kept.
    *
    * Output (all scalar): (doc_id, n_lines, n_kept, kept_md5) where
    * kept_md5 hashes the reassembled text (md5('') for a fully-stripped
    * document). With `keepText = true` the reassembled text itself is
    * appended as `kept_text` — the column that lets this operator FRONT a
    * dedup pipeline (the CCNet ordering: strip boilerplate lines first,
    * THEN dedup on what remains — `Dedup.exact(lineDedup(docs, keepText =
    * true).select($"doc_id", $"kept_text".as("text")))`); the default
    * stays hash-only because the declared differential entries must emit
    * scalar digests, not full documents.
    */
  def lineDedup(docs: DataFrame, minDocs: Long = 2,
                keepText: Boolean = false): DataFrame = {
    require(minDocs >= 2, "a line is boilerplate only if it recurs: minDocs >= 2")
    // NULL text = the empty document (one blank line, always kept) — a
    // NULL row must not vanish from the output of a per-document operator
    val lines = docs
      .select(col("doc_id"), posexplode(split(coalesce(col("text"), lit("")), "\n")))
      .select(col("doc_id"), col("pos").cast("long").as("line_no"),
        col("col").as("line"))
      .withColumn("key",
        md5(regexp_replace(lower(trim(col("line"))), "\\s+", " ")))
    val boiler = lines
      .where(length(trim(col("line"))) > 0)
      .select("key", "doc_id").distinct()
      .groupBy("key").agg(count(lit(1)).as("line_df"))
      .where(col("line_df") >= minDocs)
      .select("key")
    // reassemble ONCE (one collect_list buffer + sort per doc), derive
    // the hash post-agg — a second aggregate expression would build and
    // sort a second per-doc buffer for the same bytes
    val out = lines
      .join(boiler.withColumn("__bl", lit(true)), Seq("key"), "left")
      .withColumn("keep", col("__bl").isNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        expr("""concat_ws(chr(10), transform(
               |  array_sort(collect_list(CASE WHEN keep THEN struct(line_no, line) END)),
               |  s -> s.line))""".stripMargin).as("kept_text"))
      .withColumn("kept_md5", md5(col("kept_text")))
    if (keepText)
      out.select("doc_id", "n_lines", "n_kept", "kept_md5", "kept_text")
    else out.drop("kept_text")
  }

  /** PII patterns as (name, regex, replacement). The regexes restrict
    * themselves to the syntax subset Java regex and RE2 interpret
    * identically (char classes, greedy counted repetition, ASCII \b) so
    * the DuckDB oracle replays them bit-for-bit; alternation is avoided
    * entirely — Java picks the leftmost-FIRST branch, RE2 the
    * leftmost-LONGEST, and a pattern like `\d{3}-\d{4}|\d{3}-\d{3}-\d{4}`
    * silently diverges between engines.
    */
  val defaultPiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** PII scrubbing: sequentially redact each pattern, counting matches as
    * each pattern sees the text (i.e. after the previous patterns'
    * replacements — the order is part of the semantics: emails go first
    * so the IP pattern cannot fire inside a dotted domain). Pure per-row
    * codegen'd regexp work — no shuffle, no UDF; embarrassingly parallel
    * over corpus partitions at any scale.
    *
    * Output (all scalar): (doc_id, n_<name> per pattern, scrub_md5) —
    * the hash of the fully-scrubbed text, so a differential check proves
    * the replacements landed at identical offsets in both engines.
    * NULL `text` is treated as the empty document (zero matches,
    * scrub_md5 = md5('')) — library callers never get NULL counts back.
    */
  def piiScrub(docs: DataFrame,
               patterns: Seq[(String, String, String)] = defaultPiiPatterns): DataFrame = {
    require(patterns.nonEmpty, "need at least one pattern")
    val scrubbed = patterns.zipWithIndex.foldLeft(
      docs.withColumn("__t0", coalesce(col("text"), lit("")))) {
      case (df, ((name, pat, rep), i)) =>
        df.withColumn(s"n_$name",
            size(regexp_extract_all(col(s"__t$i"), lit(pat), lit(0))).cast("long"))
          .withColumn(s"__t${i + 1}", regexp_replace(col(s"__t$i"), pat, rep))
    }
    scrubbed.select(
      col("doc_id") +:
        patterns.map { case (name, _, _) => col(s"n_$name") } :+
        md5(col(s"__t${patterns.size}")).as("scrub_md5"): _*)
  }

  /** Document fingerprint: k smallest md5 hashes of the character 8-grams
    * (a k-min sketch — winnowing-style selection without the window walk).
    * Deterministic, and two near-identical documents share most of the k.
    *
    * One per-row expression — no explode, no groupBy, no shuffle: the
    * k-min selection over a document's own grams never needs to leave the
    * row, so the operator is embarrassingly parallel over corpus
    * partitions. The explode+collect_set formulation is ~15% faster at
    * sf0.1 locally (higher-order functions skip codegen) but shuffles
    * every gram hash of every document — ~70× the corpus size through
    * the wire, which is the wrong trade everywhere beyond a laptop.
    *
    * `stride` samples every stride-th gram position — at stride 2 half the
    * md5 calls (the per-row cost driver) for a sketch that still shares
    * most minima between near-identical documents.
    */
  def fingerprint(docs: DataFrame, k: Int = 4, gram: Int = 8,
                  stride: Int = 2): DataFrame =
    spread(docs)
      .select(col("doc_id"), expr(Dedup.normalizeExpr).as("norm"))
      .where(length(col("norm")) >= gram)
      .select(col("doc_id"), expr(
        s"""concat_ws(',', slice(array_sort(array_distinct(
           |  transform(sequence(1, length(norm) - ${gram - 1}, $stride),
           |            i -> md5(substring(norm, i, $gram))))), 1, $k))""".stripMargin)
        .as("fp"))

  /** Vocabulary encode — the tokenizer-vocab step of a training-data
    * pipeline: build the top-`vocabSize` word vocabulary (document-count
    * ranked, ties on the word so the id assignment is total and
    * deterministic), then map every document's token stream to ids
    * (out-of-vocabulary -> -1). The vocabulary is corpus-derived yet
    * BROADCAST-sized by construction, so the encode join never shuffles
    * the corpus: tokens explode map-side, hit the broadcast dictionary,
    * and re-assemble per doc in one groupBy. Output per doc:
    * (doc_id, n_tokens, n_oov, ids_fp) where ids_fp is the md5 of the
    * comma-joined id sequence IN TOKEN ORDER — a scalar digest of the
    * exact encoding (driver-comparator contract: no array columns out).
    */
  def vocabEncode(docs: DataFrame, vocabSize: Int = 100): DataFrame = {
    val toks = spread(docs)
      .select(col("doc_id"), posexplode(expr(
        s"split(${Dedup.normalizeExpr}, ' ')")).as(Seq("pos", "tok")))
      .where(length(col("tok")) > 0)
    val vocab = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), (row_number().over(
        Window.orderBy(col("df").desc, col("tok"))) - 1).as("tok_id"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("tok_id"), lit(-1)).as("tok_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tok_id") === -1, 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(",",
          expr("transform(array_sort(collect_list(struct(pos, tok_id)))," +
            " s -> CAST(s.tok_id AS STRING))")))
          .as("ids_fp"))
  }

  /** Winnowing fingerprints (Schleimer et al., the MOSS scheme): hash
    * every `gram`-char window of the normalized text, then keep the
    * MINIMUM hash of each run of `window` consecutive gram hashes — any
    * shared substring of length >= gram + window - 1 is guaranteed to
    * contribute a shared fingerprint, while only ~2/(window+1) of grams
    * survive. The value-SET of window minima is reported (positions
    * dropped at the output edge, which also makes the selection
    * tie-break-free): per doc, the number of windows, distinct
    * fingerprints kept, and their exact integer sum as a comparable
    * digest.
    *
    * Per-row expression work + one per-doc window over the doc's own
    * grams (never corpus-wide) + one aggregation — no corpus shuffle
    * beyond the per-doc groupBy, embarrassingly parallel at 100 TB.
    * Hashes are the repo-standard 28-bit md5 prefix, so sums stay exact
    * BIGINTs in both engines.
    */
  def winnow(docs: DataFrame, gram: Int = 8, window: Int = 4): DataFrame =
    spread(docs)
      .select(col("doc_id"), expr(Dedup.normalizeExpr).as("norm"))
      .where(length(col("norm")) >= gram + window - 1)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(norm) - ${gram - 1}), " +
          s"i -> CAST(conv(substr(md5(substring(norm, i, $gram)), 1, 7), 16, 10) AS BIGINT))"))
        .as(Seq("pos", "h")))
      .withColumn("wmin", min(col("h")).over(
        Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(1 - window, 0)))
      .where(col("pos") >= window - 1) // first complete window
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("wmin")).as("n_fps"),
        sum_distinct(col("wmin")).as("fp_sum"))

  /** One BPE merge-training step over the corpus — the TRAIN side of
    * tokenization ([[vocabEncode]] is the encode side): words collapse to
    * a frequency dictionary first (the classic BPE preprocessing — after
    * this the corpus size is out of the cost entirely; everything
    * downstream is vocabulary-sized), words split to space-separated
    * symbol sequences, adjacent-pair counts weight by word frequency, the
    * argmax pair (ties lexicographic) merges via ONE literal
    * space-delimited `replace` pass (non-overlapping leftmost — both
    * engines share exactly these semantics, which is what makes the step
    * differentially checkable; true BPE would re-scan overlaps
    * iteratively), and pairs are re-counted. Output: the top `k` PRE-merge
    * pairs with their pre/post counts — the chosen pair's count must
    * collapse to ~0, and pairs whose symbols were consumed by the merge
    * shrink (newly created merged-symbol pairs are post-merge-only and
    * deliberately outside this signature).
    */
  def bpeMergeStep(docs: DataFrame, k: Int = 20): DataFrame = {
    def pairCounts(d: DataFrame, seqCol: String): DataFrame =
      d.select(col("wc"), split(col(seqCol), " ").as("s"))
        .where(size(col("s")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(s) - 2), i -> concat(s[i], ' ', s[i+1]))"))
          .as("pair"))
        .groupBy("pair").agg(sum("wc").as("n"))
    val words = docs
      .select(explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .withColumn("seq", concat_ws(" ", split(col("w"), "")))
    val before = pairCounts(words, "seq")
    val best = before.orderBy(col("n").desc, col("pair")).limit(1)
      .select(col("pair").as("bp"))
    val merged = words.crossJoin(broadcast(best))
      .withColumn("seq2", expr(
        """trim(replace(concat(' ', seq, ' '),
          |             concat(' ', bp, ' '),
          |             concat(' ', replace(bp, ' ', ''), ' ')))""".stripMargin))
    val after = pairCounts(merged, "seq2")
      .withColumnRenamed("n", "n_after")
    before
      .join(after, Seq("pair"), "left")
      .select(col("pair"), col("n").as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .orderBy(col("n_before").desc, col("pair"))
      .limit(k)
  }

  /** One WORDPIECE training selection step (Schuster & Nakajima 2012 —
    * the BERT tokenizer's merge rule): instead of BPE's raw pair
    * frequency, rank candidate merges by the likelihood gain
    * score(a b) = freq(ab) / (freq(a)·freq(b)), so a pair of rare
    * symbols that always co-occur beats a pair of frequent symbols that
    * merely collide. Same word-frequency-dictionary shape as
    * [[bpeMergeStep]] — counting shuffles the VOCABULARY, never the
    * corpus. Counts are exact BIGINTs; the score is one double division
    * over double products (correctly-rounded IEEE ops on identical
    * inputs — no ROUND edge, the weighted-sample precedent), ties
    * broken lexicographically by pair.
    */
  def wordpieceStep(docs: DataFrame, k: Int = 20): DataFrame = {
    val words = docs
      .select(explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .withColumn("seq", concat_ws(" ", split(col("w"), "")))
    val syms = words
      .select(col("wc"), explode(split(col("seq"), " ")).as("sym"))
      .where(length(col("sym")) > 0)
      .groupBy("sym").agg(sum("wc").as("sf"))
    val pairs = words.select(col("wc"), split(col("seq"), " ").as("s"))
      .where(size(col("s")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(0, size(s) - 2), i -> concat(s[i], ' ', s[i+1]))"))
        .as("pair"))
      .groupBy("pair").agg(sum("wc").as("n"))
    val scored = pairs
      .withColumn("l", expr("split(pair, ' ')[0]"))
      .withColumn("r", expr("split(pair, ' ')[1]"))
      .join(broadcast(syms.select(col("sym").as("l"), col("sf").as("lf"))),
        Seq("l"))
      .join(broadcast(syms.select(col("sym").as("r"), col("sf").as("rf"))),
        Seq("r"))
      .withColumn("score", expr(
        "CAST(n AS DOUBLE) / (CAST(lf AS DOUBLE) * CAST(rf AS DOUBLE))"))
    val w = Window.orderBy(col("score").desc, col("pair"))
    scored.orderBy(col("score").desc, col("pair")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select("rank", "pair", "n", "lf", "rf", "score")
  }

  /** Full BPE training loop — `iters` chained merge steps over the
    * word-frequency dictionary, returning the learned merge table
    * (iter, merge_pair, n_merged): the artifact a tokenizer build
    * actually ships. Each step counts adjacent symbol pairs over the
    * CURRENT dictionary, collects the single best (count, then
    * lexicographic — deterministic) pair to the driver — the model is
    * one row per iteration, the lloydLoop pattern — and applies the
    * merge as the same non-overlap-leftmost space-delimited replace
    * [[bpeMergeStep]] pins. The corpus is scanned ONCE (the dict is
    * vocabulary-sized and localCheckpointed between steps); each
    * iteration shuffles pairs of the dict, not the corpus.
    */
  def bpeTrain(docs: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    def pairCounts(d: DataFrame): DataFrame =
      d.select(col("wc"), split(col("seq"), " ").as("s"))
        .where(size(col("s")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(s) - 2), i -> concat(s[i], ' ', s[i+1]))"))
          .as("pair"))
        .groupBy("pair").agg(sum("wc").as("n"))
    var dict = Shared.cut(docs
      .select(explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .withColumn("seq", concat_ws(" ", split(col("w"), ""))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= iters && !exhausted) {
      val best = pairCounts(dict)
        .orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val bp = best(0).getString(0)
        merges += ((it, bp, best(0).getLong(1)))
        dict = Shared.cut(dict.withColumn("seq",
            trim(replace(concat(lit(" "), col("seq"), lit(" ")),
              lit(s" $bp "), lit(s" ${bp.replace(" ", "")} ")))))
        it += 1
      }
    }
    merges.toSeq.toDF("iter", "merge_pair", "n_merged")
  }

  /** BPE ENCODE — apply a learned merge table ([[bpeTrain]] over the same
    * corpus) to every document and report per-doc token statistics: the
    * tokenizer-application half of the BPE lifecycle, and the per-doc
    * token count a budget/packing stage actually consumes.
    *
    * Scale shape — the corpus NEVER flows through the merge passes: the
    * unique-word dictionary (vocabulary-sized) is tokenized once through
    * the `iters` chained space-delimited replaces (identical
    * non-overlap-leftmost semantics to [[bpeTrain]]'s dict evolution),
    * then each document's exploded words equi-join the (word → token
    * count) map — one shuffle on the word key, merge work proportional
    * to |vocab| · iters regardless of corpus size. (No broadcast hint:
    * a web-scale vocabulary is join-sized, not broadcast-sized; AQE may
    * still broadcast a small one.)
    *
    * Output: (doc_id, n_words, n_tokens, n_multi) — n_multi counts the
    * emitted symbols longer than one character (i.e. actual merges).
    */
  def bpeEncode(docs: DataFrame, iters: Int = 4): DataFrame = {
    val merges = bpeTrain(docs, iters).orderBy("iter").collect()
      .map(_.getString(1))
    val words = docs.select(col("doc_id"),
      explode(expr(s"filter(split(${Dedup.normalizeExpr}, ' '), " +
        "w -> length(w) > 0)")).as("w"))
    var dict = words.select("w").distinct()
      .withColumn("seq", concat_ws(" ", split(col("w"), "")))
    merges.foreach { bp =>
      dict = dict.withColumn("seq",
        trim(replace(concat(lit(" "), col("seq"), lit(" ")),
          lit(s" $bp "), lit(s" ${bp.replace(" ", "")} "))))
    }
    val tok = dict.select(col("w"),
      size(split(col("seq"), " ")).cast("long").as("nt"),
      expr("CAST(size(filter(split(seq, ' '), t -> length(t) > 1)) AS BIGINT)")
        .as("nm"))
    words.join(tok, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("nt").as("n_tokens"),
        sum("nm").as("n_multi"))
  }

  /** Tokenizer-fit report per source: fertility (tokens emitted per
    * word) and compression (characters per token) of the [[bpeTrain]]ed
    * tokenizer, rolled up by corpus source — the eval a tokenizer change
    * ships with, and the per-source table that flags a domain (code, CJK,
    * tables) the merge vocabulary underserves (fertility → 1.0 means
    * whole words fuse; → avg word length means it degrades to chars).
    *
    * Scale shape: [[bpeEncode]]'s vocab-bounded merge work + one
    * source-keyed rollup; ratios are single IEEE divisions of exact
    * BIGINT sums at the output edge. Docs with no tokens drop out (and
    * contribute nothing to either ratio).
    */
  def tokenizerFertility(docs: DataFrame, iters: Int = 4): DataFrame =
    bpeEncode(docs, iters)
      .join(docs.select(col("doc_id"), col("source"),
        length(replace(expr(Dedup.normalizeExpr), lit(" "), lit("")))
          .cast("long").as("chars")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"), sum("chars").as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("CAST(ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)," +
          " 6) AS DOUBLE)").as("fertility"),
        expr("CAST(ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)," +
          " 6) AS DOUBLE)").as("chars_per_token"))

  /** CCNet-style statistical-LM quality signal, log-free: score every
    * document by how PREDICTABLE its word transitions are under the
    * corpus's own bigram model — fluent prose repeats the corpus's
    * transitions (high avg p(w2|w1) = c(w1 w2)/c(w1)), gibberish /
    * boilerplate-shredded text lands on rare transitions. The standard
    * formulation is perplexity (needs log, which is NOT correctly-rounded
    * IEEE and therefore banned from the differential edge); the mean
    * transition probability plus the rare-bigram rate rank documents the
    * same way and stay engine-exact: each p is ONE IEEE division of two
    * exact integers, and the per-doc mean folds in position order.
    *
    * Scale shape: bigrams come from each row's own token array (one
    * Generate, no self-join); the count tables are vocabulary²-bounded
    * and join back on hash-partitioned keys — two shuffles on (w1,w2) /
    * w1, plus the per-doc aggregate. Nothing is corpus × corpus.
    *
    * Output: (doc_id, n_bigrams, n_rare, avg_p) — docs with < 2 tokens
    * drop out (no transitions to score).
    */
  def bigramScore(docs: DataFrame, minCount: Long = 2): DataFrame = {
    val toks = docs.select(col("doc_id"),
      expr(s"filter(split(${Dedup.normalizeExpr}, ' '), w -> length(w) > 0)")
        .as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bg = toks.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(i AS pos, t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.pos"), col("b.w1"), col("b.w2"))
    val cbi = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    bg.join(cbi, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .withColumn("p", expr("CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12") < minCount, 1L).otherwise(0L)).as("n_rare"),
        expr(
          """aggregate(transform(array_sort(collect_list(struct(pos, p))),
            |  s -> s.p), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""
            .stripMargin).as("__s"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        expr("CAST(ROUND(__s / n_bigrams, 6) AS DOUBLE)").as("avg_p"))
  }

  /** Greedy maximal-coverage subset selection (Nemhauser et al. 1978:
    * the greedy pick is a (1−1/e) approximation for submodular
    * coverage): each of the k steps takes the document adding the most
    * UNSEEN shingles — the "most informative k docs" curation pick
    * (facility-location-style data selection). Same driver-greedy shape
    * as `Similarity.mmrSelect`: k collect-1-ROW steps, each one
    * distinct-shingle anti-join + one count agg + one TakeOrdered; the
    * covered-set side is shingles of ≤k picked docs (broadcast-sized by
    * construction). Gains are exact integers, ties to min doc_id — the
    * oracle replays the rounds as chained CTEs.
    */
  def coverageSelect(docs: DataFrame, k: Int, n: Int = 3): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = Shared.cut(Dedup.shingles(docs, n))
    var pickedIds = List.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var covered = 0L
    for (step <- 1 to k) {
      val base =
        if (pickedIds.isEmpty) sh
        else {
          val covSh = sh.where(col("doc_id").isin(pickedIds: _*))
            .select("shingle").distinct()
          sh.where(!col("doc_id").isin(pickedIds: _*))
            .join(covSh, Seq("shingle"), "left_anti")
        }
      val top = base.groupBy("doc_id").agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val r = top(0)
        covered += r.getLong(1)
        out += ((step, r.getLong(0), r.getLong(1), covered))
        pickedIds ::= r.getLong(0)
      }
    }
    out.toSeq.toDF("step", "doc_id", "gain", "covered_total")
  }

  /** Green-list watermark detector (the Kirchenbauer et al. 2023 scheme's
    * detection side): a watermarking LLM biases each token toward a
    * pseudorandom "green list" seeded by the previous token; the detector
    * recomputes membership for every adjacent pair and tests whether the
    * green fraction beats the 1/2 a clean text would show. Here the green
    * test is the md5 parity of (seed, prev, cur) — the same keyed-hash
    * shape as the real scheme, and exactly reproducible in any engine.
    *
    * z = (2g − n)/√n (the one-proportion z against p=1/2 — integer
    * numerator, correctly-rounded sqrt and division, so bit-identical
    * cross-engine); the flag decision 2g−n > 4√n is taken in PURE
    * integers as (2g−n) > 0 AND (2g−n)² > 16n — no float ever decides
    * membership. One token-pair scan, one partial-aggregated per-doc
    * count — embarrassingly parallel at any corpus size.
    */
  def watermarkDetect(docs: DataFrame, seed: String): DataFrame = {
    val toks = docs.select(col("doc_id"),
      expr(s"filter(split(${Dedup.normalizeExpr}, ' '), w -> length(w) > 0)")
        .as("t"))
    toks.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(t[i - 1] AS prev, t[i] AS cur))")).as("b"))
      .withColumn("green", expr(
        s"CAST(conv(substr(md5(concat('$seed', ':', b.prev, '|', b.cur)), " +
          "1, 15), 16, 10) AS BIGINT) % 2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"), sum("green").as("n_green"))
      .select(col("doc_id"), col("n_scored"), col("n_green"),
        expr("CAST(ROUND(CAST(2 * n_green - n_scored AS DOUBLE) " +
          "/ SQRT(CAST(n_scored AS DOUBLE)), 6) AS DOUBLE)").as("z_green"),
        expr("CAST(2 * n_green > n_scored AND " +
          "(2 * n_green - n_scored) * (2 * n_green - n_scored) " +
          "> 16 * n_scored AS BOOLEAN)").as("flagged"))
  }

  /** Interpolated Kneser–Ney held-out scorer — the composition of the
    * `llm_kn_counts`/`llm_kn_discounts` statistics into the actual
    * smoothed bigram LM (the production quality-filter form; SRILM/KenLM
    * -interpolate): with absolute discount D and train-side tables
    * c12(c,t), c1(c)=Σ_t c12, fan(c)=N1+(c·), cont(t)=N1+(·t), n_bt =
    * total bigram types,
    *
    *   P_KN(t|c) = (max(c12 − D, 0) + D·fan(c)·cont(t)/n_bt) / c1(c)
    *
    * and an unseen CONTEXT backs off to the continuation distribution
    * alone, P = cont(t)/n_bt. D is pinned to the dyadic 3/4 (the
    * textbook constant) so with the whole formula multiplied through by
    * 4·n_bt every per-bigram probability is ONE IEEE division of two
    * EXACT int64 products — ((4·c12−3)·n_bt + 3·fan·cont) / (4·c1·n_bt)
    * — identical in any engine (the estimated D = n1/(n1+2n2) is itself
    * a data-dependent double whose downstream products would be
    * libm-free but order-sensitive; the dup-heavy fixture corpus has
    * n1 = n2 = 0 where it is not even defined — `llm_kn_discounts`
    * publishes it for consumers who want it).
    *
    * Per-doc outputs are log-free by the house determinism rule (log is
    * not correctly-rounded IEEE; perplexity exp(−E[ln p]) is a
    * monotone driver-side transform the consumer applies): avg_p_kn
    * (position-ordered fold), n_oov / n_ctx_oov censuses, and
    * hard_frac_ppm — the fraction of bigrams with p below the exact
    * dyadic 2⁻¹⁰ (comparisons on bit-identical doubles, so the integer
    * is deterministic).
    *
    * Scale shape: every model table derives from ONE bigram-type
    * aggregate (vocabulary²-bounded, map-side combined) which is
    * localCheckpointed and re-read by the three derivations instead of
    * recomputing the corpus bigram scan three times; the 1-row type
    * count broadcasts, the model joins are vocab-bounded.
    */
  def knScoreHeldOut(docs: DataFrame, trainDocs: DataFrame): DataFrame = {
    def toks(d: DataFrame) = d.select(col("doc_id"),
      expr(s"filter(split(${Dedup.normalizeExpr}, ' '), w -> length(w) > 0)")
        .as("t"))
    def bigrams(t: DataFrame) = t.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(i AS pos, t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.pos"), col("b.w1"), col("b.w2"))
    val cbi = Shared.cut(bigrams(toks(trainDocs)).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12")))
    val ctx = cbi.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("fan"))
    val cont = cbi.groupBy(col("w2")).agg(count(lit(1)).as("cont"))
    val nbt = cbi.agg(count(lit(1)).as("n_bt"))
    bigrams(toks(docs))
      .join(cbi, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(nbt))
      .withColumn("p", expr(
        """CASE WHEN c1 IS NULL THEN
          |       CAST(COALESCE(cont, 0) AS DOUBLE) / CAST(n_bt AS DOUBLE)
          |     ELSE CAST((CASE WHEN c12 IS NULL THEN 0 ELSE 4 * c12 - 3 END)
          |                 * n_bt + 3 * fan * COALESCE(cont, 0) AS DOUBLE)
          |          / CAST(4 * c1 * n_bt AS DOUBLE)
          |END""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("c1").isNull, 1L).otherwise(0L)).as("n_ctx_oov"),
        sum(when(col("p") < lit(0.0009765625d), 1L).otherwise(0L))
          .as("__hard"),
        expr(
          """aggregate(transform(array_sort(collect_list(struct(pos, p))),
            |  s -> s.p), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""
            .stripMargin).as("__s"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        col("n_ctx_oov"),
        expr("CAST(ROUND(__s / n_bigrams, 6) AS DOUBLE)").as("avg_p_kn"),
        expr("CAST(FLOOR(__hard * 1000000 / n_bigrams) AS BIGINT)")
          .as("hard_frac_ppm"))
  }

  /** Trigram interpolated Kneser–Ney with bigram backoff (r15 verdict
    * #5 — the KenLM-default order-3 form of [[knScoreHeldOut]]). All
    * model tables derive from ONE trigram-type aggregate ctri(w1,w2,w3)
    * (vocabulary³-bounded in theory, corpus-bounded in practice,
    * map-side combined, localCheckpointed):
    *
    *   ctx3(w1,w2): c12tot = Σ c123, fan3 = N1+(w1 w2 ·)
    *   cmid(w2,w3): cp = N1+(· w2 w3)      (continuation counts)
    *   mid(w2):     midtot = Σ_w3 cp, fan2 = N1+(w2 ·) at cont level
    *   cont(w3):    N1+(· w3) over cmid;  nbt = |cmid| types
    *
    * With both discounts pinned to the dyadic 3/4 and multiplied
    * through, a seen context scores
    *
    *   P = (G3·4·midtot·nbt + 3·fan3·(G2·nbt + 3·fan2·cont))
    *       / (16·c12tot·midtot·nbt),   G_k = (4·c − 3)⁺
    *
    * an unseen (w1,w2) backs off to the bigram-level continuation model
    * (G2·nbt + 3·fan2·cont) / (4·midtot·nbt), and an unseen middle word
    * to cont/nbt. The top-order products reach ~1.6e22 — past int64 —
    * so numerator and denominator are computed EXACTLY in DECIMAL(38,0)
    * (DuckDB: HUGEINT) and each P stays ONE correctly-rounded IEEE
    * division of two exact integers; outputs are log-free as always
    * (position-ordered fold for avg, exact dyadic 2⁻¹⁴ hard threshold —
    * trigram probabilities sit an order below bigram ones).
    *
    * Scale shape: the eval stream equi-joins four vocab-bounded model
    * tables (the 1-row type count broadcasts); nothing corpus-scale is
    * ever shuffled twice — the trigram aggregate is the single heavy
    * shuffle, shared via localCheckpoint by all four derivations.
    */
  def kn3ScoreHeldOut(docs: DataFrame, trainDocs: DataFrame): DataFrame = {
    def toks(d: DataFrame) = d.select(col("doc_id"),
      expr(s"filter(split(${Dedup.normalizeExpr}, ' '), w -> length(w) > 0)")
        .as("t"))
    def trigrams(t: DataFrame) = t.where(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 3), " +
          "i -> struct(i AS pos, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"))
        .as("g"))
      .select(col("doc_id"), col("g.pos"), col("g.w1"), col("g.w2"),
        col("g.w3"))
    val ctri = Shared.cut(trigrams(toks(trainDocs)).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c123")))
    val ctx3 = ctri.groupBy("w1", "w2")
      .agg(sum("c123").as("c12tot"), count(lit(1)).as("fan3"))
    // continuation level: each ctri row is one distinct-w1 type, so
    // count(*) IS N1+(· w2 w3)
    val cmid = Shared.cut(ctri.groupBy("w2", "w3").agg(count(lit(1)).as("cp")))
    val mid = cmid.groupBy("w2")
      .agg(sum("cp").as("midtot"), count(lit(1)).as("fan2"))
    val cont = cmid.groupBy("w3").agg(count(lit(1)).as("cont"))
    val nbt = cmid.agg(count(lit(1)).as("n_bt"))
    trigrams(toks(docs))
      .join(ctri, Seq("w1", "w2", "w3"), "left")
      .join(ctx3, Seq("w1", "w2"), "left")
      .join(cmid, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(cont, Seq("w3"), "left")
      .crossJoin(broadcast(nbt))
      .withColumn("p", expr(
        """CASE
          |  WHEN midtot IS NULL THEN
          |    CAST(COALESCE(cont, 0) AS DOUBLE) / CAST(n_bt AS DOUBLE)
          |  WHEN c12tot IS NULL THEN
          |    CAST(CAST((CASE WHEN cp IS NULL THEN 0 ELSE 4 * cp - 3 END)
          |           AS DECIMAL(38,0)) * n_bt
          |         + CAST(3 AS DECIMAL(38,0)) * fan2 * COALESCE(cont, 0)
          |         AS DOUBLE)
          |    / CAST(CAST(4 AS DECIMAL(38,0)) * midtot * n_bt AS DOUBLE)
          |  ELSE
          |    CAST(CAST((CASE WHEN c123 IS NULL THEN 0 ELSE 4 * c123 - 3 END)
          |           AS DECIMAL(38,0)) * 4 * midtot * n_bt
          |         + CAST(3 AS DECIMAL(38,0)) * fan3
          |           * (CAST((CASE WHEN cp IS NULL THEN 0 ELSE 4 * cp - 3 END)
          |                AS DECIMAL(38,0)) * n_bt
          |              + CAST(3 AS DECIMAL(38,0)) * fan2 * COALESCE(cont, 0))
          |         AS DOUBLE)
          |    / CAST(CAST(16 AS DECIMAL(38,0)) * c12tot * midtot * n_bt
          |           AS DOUBLE)
          |END""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("c123").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(when(col("c12tot").isNull, 1L).otherwise(0L)).as("n_ctx_oov"),
        sum(when(col("midtot").isNull, 1L).otherwise(0L)).as("n_mid_oov"),
        sum(when(col("p") < lit(0.00006103515625d), 1L).otherwise(0L))
          .as("__hard"),
        expr(
          """aggregate(transform(array_sort(collect_list(struct(pos, p))),
            |  s -> s.p), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""
            .stripMargin).as("__s"))
      .select(col("doc_id"), col("n_trigrams"), col("n_oov"),
        col("n_ctx_oov"), col("n_mid_oov"),
        expr("CAST(ROUND(__s / n_trigrams, 6) AS DOUBLE)").as("avg_p_kn3"),
        expr("CAST(FLOOR(__hard * 1000000 / n_trigrams) AS BIGINT)")
          .as("hard_frac_ppm"))
  }

  /** [[bigramScore]] with a HELD-OUT model — the honest form of the
    * perplexity filter: transition counts come from `trainDocs` only,
    * scoring runs over `docs` (a disjoint split), so no document is ever
    * scored by a model it leaked into (in-corpus counts flatter every
    * member; CCNet scores with a model trained elsewhere for exactly
    * this reason). Bigrams absent from the trained table contribute
    * p = 0 and are counted as `n_oov` — the log-free stand-in for the
    * OOV penalty. Same shapes as [[bigramScore]]: two train-side aggs
    * (vocabulary-bounded), one broadcast-sized model join onto the eval
    * bigrams, position-ordered fold for the per-doc sum.
    */
  def bigramScoreHeldOut(docs: DataFrame, trainDocs: DataFrame,
                         minCount: Long = 2): DataFrame = {
    def toks(d: DataFrame) = d.select(col("doc_id"),
      expr(s"filter(split(${Dedup.normalizeExpr}, ' '), w -> length(w) > 0)")
        .as("t"))
    def bigrams(t: DataFrame) = t.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(i AS pos, t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.pos"), col("b.w1"), col("b.w2"))
    val trainToks = toks(trainDocs)
    val uni = trainToks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val cbi = bigrams(trainToks).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12"))
    bigrams(toks(docs))
      .join(cbi, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .withColumn("p", expr(
        """CASE WHEN c12 IS NULL OR c1 IS NULL THEN CAST(0.0 AS DOUBLE)
          |     ELSE CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) END""".stripMargin))
      .withColumn("oov", expr("CASE WHEN c12 IS NULL THEN 1 ELSE 0 END"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("oov")).as("n_oov"),
        sum(when(col("c12").isNotNull && col("c12") < minCount, 1L)
          .otherwise(0L)).as("n_rare"),
        expr(
          """aggregate(transform(array_sort(collect_list(struct(pos, p))),
            |  s -> s.p), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""
            .stripMargin).as("__s"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("n_rare"),
        expr("CAST(ROUND(__s / n_bigrams, 6) AS DOUBLE)").as("avg_p"))
  }

  /** Build the training mix under a global token budget: source s with
    * weight w_s gets quota ⌊B·w_s/Σw⌋ tokens, filled in the seeded-md5
    * document order (reproducible across runs, engines and cluster
    * sizes); the document that crosses the quota line is the last one in,
    * so every quota is met and overshoots by less than one document.
    *
    * Scale shape: the within-source running token sum uses the SAME
    * two-phase hash-prefix decomposition as [[TrainOrder.shuffleOrder]] —
    * running sums within (source, bucket) partitions, bucket token totals
    * prefix-summed per source over a metadata-scale (sources × 256 rows)
    * window — so no source ever serializes into one task no matter how
    * large its corpus slice. The differential oracle computes the same
    * selection with ONE flat per-source window; green proves the
    * two-phase stitch.
    */
  def tokenBudgetMix(docs: DataFrame, weights: Map[String, Long],
                     budgetTokens: Long, seed: String,
                     sourceCol: String = "source",
                     bucketHexChars: Int = 2): DataFrame = {
    require(weights.nonEmpty, "weights must not be empty")
    require(weights.values.forall(_ > 0), "weights must be positive")
    require(budgetTokens > 0, "budget must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val quotas = quotaTable(weights, budgetTokens).toDF(sourceCol, "__quota")
    val keyed = docs
      .join(broadcast(quotas), Seq(sourceCol)) // unweighted sources drop out
      .select(col(sourceCol).as("__src"), col("doc_id"),
        expr(s"CAST(size(split(${Dedup.normalizeExpr}, ' ')) AS BIGINT)")
          .as("n_tokens"),
        col("__quota"),
        md5(concat(lit(seed), lit(":"), col("doc_id").cast("string")))
          .as("__key"))
      .withColumn("__bkt", substring(col("__key"), 1, bucketHexChars))
    val wIn = Window.partitionBy("__src", "__bkt").orderBy("__key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = keyed.withColumn("__run", sum("n_tokens").over(wIn))
    val wB = Window.partitionBy("__src").orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__src", "__bkt")
      .agg(sum("n_tokens").as("__t"))
      .withColumn("__off", coalesce(sum("__t").over(wB), lit(0L)))
      .select(col("__src"), col("__bkt"), col("__off"))
    intra.join(offsets, Seq("__src", "__bkt"))
      .withColumn("cum_tokens", col("__off") + col("__run"))
      .where(col("cum_tokens") - col("n_tokens") < col("__quota"))
      .select(col("doc_id"), col("__src").as(sourceCol), col("n_tokens"),
        col("cum_tokens"))
  }

  /** The integer quota split [[tokenBudgetMix]] uses — exposed so the
    * oracle SQL embeds the IDENTICAL literals.
    */
  def quotaTable(weights: Map[String, Long],
                 budgetTokens: Long): Seq[(String, Long)] = {
    val totalW = weights.values.sum
    weights.toSeq.sortBy(_._1)
      .map { case (s, w) => (s, budgetTokens * w / totalW) }
  }

  /** Policy blocklist filter — the safety/content-policy stage of corpus
    * curation: per (doc, category) occurrence counts of the category's
    * blocklist terms, with the block verdict at `maxHits`. The term table
    * is policy-sized and broadcasts (the langId marker-join shape); the
    * only shuffle is the partially-aggregated per-doc count. Documents
    * hitting no category emit no rows (they pass by absence).
    */
  def blocklistFilter(docs: DataFrame, lists: Map[String, Seq[String]],
                      maxHits: Long = 0): DataFrame = {
    require(lists.nonEmpty, "blocklist must not be empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = lists.toSeq
      .flatMap { case (c, ws) => ws.map(w => (c, w)) }
      .toDF("category", "term")
    docs
      .select(col("doc_id"),
        explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("tok"))
      .join(broadcast(terms), expr("tok = term"))
      .groupBy("doc_id", "category")
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("blocked", col("n_hits") > maxHits)
  }

  /** Deterministic per-bucket weights for [[classifierScore]]: Knuth
    * multiplicative mix of the bucket index folded to [-500, 500]. Stands
    * in for trained coefficients — the DISTRIBUTION shape (a broadcast
    * bucket->weight table) is the part under test, and being closed-form
    * lets the DuckDB oracle embed the identical integers.
    */
  def hashedWeights(spark: org.apache.spark.sql.SparkSession,
                    buckets: Int): DataFrame =
    spark.range(buckets.toLong).selectExpr(
      "CAST(id AS BIGINT) AS bucket",
      "(id * 2654435761) % 1001 - 500 AS w")

  /** Feature-hashed linear-classifier inference — the quality-model scoring
    * pass every corpus-curation pipeline runs over 100 TB (fastText-style:
    * bag of hashed tokens x weight vector).
    *
    * Tokens hash to `buckets` feature buckets (low bits of the shared
    * 60-bit md5 token hash); the weight table rides a BroadcastHashJoin
    * (it is model-sized, never corpus-sized), and the only shuffle is the
    * per-document partial-aggregated logit sum. Scoring is pure integer
    * arithmetic end to end — no sigmoid (monotone in the logit, so the
    * decision `logit > 0` is identical and nothing non-correctly-rounded
    * crosses engines; callers wanting probabilities apply it downstream).
    */
  def classifierScore(docs: DataFrame, weights: DataFrame,
                      buckets: Int): DataFrame =
    docs
      .select(col("doc_id"),
        explode(expr(s"split(${Dedup.normalizeExpr}, ' ')")).as("tok"))
      .where(length(col("tok")) > 0)
      .select(col("doc_id"),
        expr(s"CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT) % $buckets")
          .as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("logit"))
      .withColumn("pred", col("logit") > 0)

  /** DSIR-style data selection via hashed-ngram importance (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"), log-free for the differential oracle: word BIGRAMS
    * hash into `buckets` feature buckets; the target slice
    * (`targetPred`) and the raw remainder each reduce to a bucket
    * histogram — `buckets` rows of model state, broadcast back like
    * [[classifierScore]]'s weights — and a document's importance is the
    * ratio of its expected target mass to its expected raw mass,
    *   score = (1 + Σ_grams tgt[bucket]) / (1 + Σ_grams raw[bucket]),
    * exact BIGINT numerator and denominator (add-one smoothing keeps the
    * divisor positive under ANSI), ONE IEEE division at the output edge
    * (correctly rounded, so cross-engine deterministic) — never the
    * per-bucket log-ratio sum (log is not correctly-rounded IEEE).
    * `selected` thresholds the ratio at 1 (doc looks more target-like
    * than raw-like) — a per-row predicate, no global rank window, so
    * selection stays embarrassingly parallel at 100 TB. Two corpus
    * passes by construction (model build, then apply) — the same shape
    * as BPE training and the quality classifier.
    */
  def importanceScore(docs: DataFrame, targetPred: org.apache.spark.sql.Column,
                      buckets: Int = 64): DataFrame = {
    val grams = docs
      .select(col("doc_id"), targetPred.as("is_target"),
        expr(s"split(${Dedup.normalizeExpr}, ' ')").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), col("is_target"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1]))"))
        .as("gram"))
      .select(col("doc_id"), col("is_target"),
        expr(s"CAST(conv(substr(md5(gram), 1, 15), 16, 10) AS BIGINT) % $buckets")
          .as("bucket"))
    val hist = grams.groupBy("bucket").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("tgt_cnt"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("raw_cnt"))
    grams
      .join(broadcast(hist), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum("tgt_cnt").as("tgt_mass"), sum("raw_cnt").as("raw_mass"))
      .withColumn("score",
        expr("CAST(ROUND((1 + tgt_mass) / (1 + raw_mass), 6) AS DOUBLE)"))
      .withColumn("selected", col("tgt_mass") > col("raw_mass"))
  }

  /** T5-style SPAN CORRUPTION (Raffel et al. 2020 §3.1.4's denoising
    * objective, the deterministic variant a data pipeline materializes):
    * tokens group into fixed `blockSize` blocks; a block is masked iff
    * its seeded md5 draw lands under `maskPct` — so corruption is a pure
    * function of (doc_id, block), reproducible across runs and engines.
    * The INPUT sequence replaces each masked block with a numbered
    * sentinel `<X{k}>` (k = the block's rank among the doc's masked
    * blocks); the TARGET sequence is each sentinel followed by the
    * tokens it hid. Sequences leave the operator as md5 fingerprints
    * (+ exact counts) — scalar, order-pinned via doubled positions
    * (token 2i+1, sentinel 2·blockSize·block < first hidden token's
    * position), so
    * the oracle rebuilds both strings with string_agg ORDER BY pos.
    * One corpus pass; the only window partitions by doc_id (cluster-
    * scale cardinality).
    */
  def spanCorrupt(docs: DataFrame, blockSize: Int = 3,
                  maskPct: Int = 15): DataFrame = {
    require(blockSize >= 1 && maskPct >= 0 && maskPct <= 100,
      "need blockSize >= 1 and maskPct in [0, 100]")
    // ONE corpus pass: every output (counts, span count, both sequence
    // fingerprints) folds out of a single grouped aggregation over the
    // token stream — per-token rows carry 0–2 sequence items as
    // conditional arrays (a masked block's FIRST present token also
    // emits the sentinel), flatten+sort inside the agg rebuilds order.
    // The two windows partition by doc_id (cluster-scale cardinality).
    val toks = docs
      .select(col("doc_id"),
        posexplode(expr(s"split(${Dedup.normalizeExpr}, ' ')"))
          .as(Seq("i", "tok")))
      .where(length(col("tok")) > 0)
      .withColumn("blk", expr(s"i DIV $blockSize"))
      .withColumn("masked", expr(
        s"CAST(conv(substr(md5(concat(doc_id, ':', blk)), 1, 15), 16, 10)" +
          s" AS BIGINT) % 100 < $maskPct"))
    // k: the block's rank among the doc's masked blocks (dense over
    // masked token rows; the masked=false branch is never read).
    // r: position of this token within its block — r=1 emits sentinels.
    val wk = Window.partitionBy(col("doc_id"), col("masked")).orderBy("blk")
    val wr = Window.partitionBy(col("doc_id"), col("blk")).orderBy("i")
    val tagged = toks
      .withColumn("k", dense_rank().over(wk))
      .withColumn("r", row_number().over(wr))
      .withColumn("in_items", expr(
        s"""CASE WHEN NOT masked THEN array(struct(2 * i + 1 AS pos, tok AS txt))
           |     WHEN r = 1 THEN
           |       array(struct(${2 * blockSize} * blk AS pos, concat('<X', k, '>') AS txt))
           |     ELSE array() END""".stripMargin))
      .withColumn("tg_items", expr(
        s"""CASE WHEN masked AND r = 1 THEN
           |       array(struct(${2 * blockSize} * blk AS pos, concat('<X', k, '>') AS txt),
           |             struct(2 * i + 1 AS pos, tok AS txt))
           |     WHEN masked THEN array(struct(2 * i + 1 AS pos, tok AS txt))
           |     ELSE array() END""".stripMargin))
    def fp(c: String) = expr(
      s"""md5(array_join(transform(array_sort(flatten(collect_list($c))),
         |  s -> s.txt), ' '))""".stripMargin)
    tagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
      countDistinct(when(col("masked"), col("blk"))).as("n_spans"),
      fp("in_items").as("input_md5"),
      fp("tg_items").as("target_md5"))
  }

  /** EXACT word-level WER (word error rate) — the transcript-quality
    * metric an ASR/caption-curation stage computes between a reference
    * and hypothesis word sequence. Word-level edit distance is computed
    * by ENCODING each document's words into single ASCII characters
    * (one symbol per distinct word, per-doc dense index → `chr(32+idx)`)
    * and running the engines' native character `levenshtein` on the
    * encodings — exact dynamic programming at word granularity without
    * a UDF. The alphabet must stay pure ASCII: DuckDB's levenshtein is
    * BYTE-based while Spark's walks codepoints (probed '中'/'国' → 3 vs
    * 1), so any multi-byte symbol would diverge; `maxWords` = 40 bounds
    * the per-doc vocabulary (≤ 40 ref + ≤ 40 typo variants = 80 < the
    * 94 printable ASCII symbols) and the O(n·m) DP cell count.
    *
    * The hypothesis derives deterministically from the reference (this
    * fixture has no parallel transcript): md5-keyed per-(doc, pos,
    * word) — drop when h%7=0 (deletion), append-'q' typo when h%11=3
    * (substitution). The METRIC is the real one; `n_edits` is the true
    * minimal edit distance of the derived pair (adjacent drops and
    * typos interact — it is not simply #drops + #typos).
    *
    * Scale shape: one scan → per-(doc,word) rows; the vocabulary index
    * is a per-doc window over ≤ 80 rows; encode is a group-by-doc fold;
    * the DP runs per row on ≤ 40×40 cells — embarrassingly parallel,
    * no corpus-scale shuffle beyond the doc_id hash partitioning.
    */
  def werEval(docs: DataFrame, maxWords: Int = 40): DataFrame = {
    require(maxWords >= 1 && maxWords * 2 <= 94,
      "per-doc vocabulary (2*maxWords) must fit the printable-ASCII alphabet")
    val words = docs.select(col("doc_id"),
      posexplode(expr(s"slice(filter(split(${Dedup.normalizeExpr}, ' '), " +
        s"w -> length(w) > 0), 1, $maxWords)")).as(Seq("pos", "w")))
    val flags = words
      .withColumn("hsh", expr(
        "conv(substr(md5(concat(cast(doc_id AS string), '|', " +
          "cast(pos AS string), '|', w)), 1, 15), 16, 10)").cast("long"))
      .withColumn("keep", expr("hsh % 7 != 0"))
      .withColumn("hw", expr("CASE WHEN hsh % 11 = 3 THEN concat(w, 'q') ELSE w END"))
    // index EVERY hyp variant, kept or not — restricting to kept rows
    // would drop a (dropped, typo-flagged) word's hw from the vocab and
    // the inner join below would silently eat the REF word with it
    // (caught by the werEval bounds test: n_ref read 39 of 40)
    val vocab = flags.select(col("doc_id"), col("w"))
      .union(flags.select(col("doc_id"), col("hw").as("w")))
      .distinct()
      .withColumn("idx",
        row_number().over(Window.partitionBy("doc_id").orderBy("w")))
      .withColumn("ch", expr("chr(32 + idx)"))
    flags
      .join(vocab.select(col("doc_id"), col("w"), col("ch").as("rch")),
        Seq("doc_id", "w"))
      .join(vocab.select(col("doc_id"), col("w").as("hw"), col("ch").as("hch")),
        Seq("doc_id", "hw"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_ref"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_hyp"),
        expr("array_join(transform(array_sort(collect_list(struct(pos, rch)))," +
          " s -> s.rch), '')").as("enc_ref"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN keep THEN struct(pos, hch) END)), s -> s.hch), '')")
          .as("enc_hyp"))
      .select(col("doc_id"),
        col("n_ref").cast("long").as("n_ref"),
        col("n_hyp").cast("long").as("n_hyp"),
        expr("CAST(levenshtein(enc_ref, enc_hyp) AS BIGINT)").as("n_edits"),
        expr("CAST(ROUND(CAST(levenshtein(enc_ref, enc_hyp) AS DOUBLE) " +
          "/ CAST(n_ref AS DOUBLE), 6) AS DOUBLE)").as("wer"))
  }
}
