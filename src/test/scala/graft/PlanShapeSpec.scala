package graft

/** Plan-shape assertions — the "would this survive 100×?" gate (round-2
  * verdict item #2). Correctness is the DuckDB differential check; these
  * tests pin the *physical plans* we rely on at scale:
  *
  *   - no CartesianProduct anywhere in the declared query set;
  *   - filters/pushdown actually reach the parquet scans (q6/q19);
  *   - rank-limit pushdown (WindowGroupLimit) prunes before the shuffle;
  *   - the ANN bucket join is an equi join, never a nested-loop;
  *   - q18/q21's lineitem-derived build sides flip from broadcast to
  *     shuffled joins once they exceed the broadcast threshold — the AQE
  *     behavior that keeps those plans alive at real scale.
  */
class PlanShapeSpec extends SparkSpec {

  test("no declared query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = staticPlan(fn(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("src_nested_struct: the scan prunes to the ACCESSED nested fields") {
    val plan = staticPlan(SparkEntry.queries("src_nested_struct")(spark, sfSmoke))
    assert(plan.contains("meta") && plan.contains("lang"),
      s"nested read-back missing from plan:\n$plan")
    assert(!plan.contains("src:string"),
      s"unaccessed struct field 'src' must be pruned from the ReadSchema:\n$plan")
  }

  test("llm_bitext_mine: the probe slice broadcasts into an NLJ (the hint), never a cartesian") {
    val plan = staticPlan(SparkEntry.queries("llm_bitext_mine")(spark, sfSmoke))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"probe-broadcast NLJ expected (two join OUTPUTS theta-joined have no stats — without the hint this degenerates to a CartesianProduct):\n$plan")
  }

  test("llm_ivf_balance: the k-row centroid table broadcasts, corpus never shuffles for assignment") {
    val plan = staticPlan(SparkEntry.queries("llm_ivf_balance")(spark, sfSmoke))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"centroid side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a k-row centroid table shuffled the corpus:\n$plan")
  }

  test("er_incremental_link: the arriving batch broadcasts, the corpus never reshuffles") {
    val plan = staticPlan(SparkEntry.queries("er_incremental_link")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"ingest-time linkage must broadcast the batch side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a batch-sized feed shuffled the whole corpus:\n$plan")
  }

  test("llm_lm_heldout: the trained model joins broadcast onto the eval bigrams") {
    val plan = staticPlan(SparkEntry.queries("llm_lm_heldout")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"the vocabulary-bounded model tables must broadcast:\n$plan")
  }

  test("cdc_apply: latest-change selection is agg+join, never a window sort") {
    val plan = staticPlan(SparkEntry.queries("cdc_apply")(spark, sfSmoke))
    assert(!plan.contains("Window"),
      s"changelog apply fell back to a per-key window sort:\n$plan")
    assert(plan.contains("HashAggregate"),
      "latest-sequence selection should be a hash aggregation")
  }

  test("llm_dataset_card: rollup reads the corpus exactly once (Expand, no re-scan)") {
    val plan = staticPlan(SparkEntry.queries("llm_dataset_card")(spark, sfSmoke))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"dataset card should be ONE corpus scan, saw $scans:\n$plan")
    assert(plan.contains("Expand"),
      s"rollup should plan an Expand over the single scan:\n$plan")
  }

  test("agg_hoover: per-source stats broadcast back, corpus never sort-merge-joins") {
    val plan = staticPlan(SparkEntry.queries("agg_hoover")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"the |sources|-row stats table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a model-sized stats table shuffled the corpus:\n$plan")
  }

  test("ts_event_pattern: one user shuffle, no window sort, no join") {
    val plan = staticPlan(SparkEntry.queries("ts_event_pattern")(spark, sfSmoke))
    assert(!plan.contains("Window"),
      s"sequence build should be sort-inside-aggregate, not a window:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs in this plan:\n$plan")
  }

  test("qc_t_closeness: the |V|-row global histogram broadcasts") {
    val plan = staticPlan(SparkEntry.queries("qc_t_closeness")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"global sensitive-value histogram must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a |V|-row table shuffled the class counts:\n$plan")
  }

  test("llm_ngram_draft: argmax is pure aggregation — no window sort anywhere") {
    val plan = staticPlan(SparkEntry.queries("llm_ngram_draft")(spark, sfSmoke))
    assert(!plan.contains("Window"),
      s"per-word argmax should be min_by aggregation, not a window:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      s"expected hash aggregation:\n$plan")
  }

  test("cdc_join_incremental: delta key sets broadcast, no cartesian") {
    val plan = staticPlan(SparkEntry.queries("cdc_join_incremental")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"batch-sized delta keys must broadcast into the view/fact joins:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in refresh:\n$plan")
  }

  test("ts_holt_forecast: the unrolled filter is one aggregation, no join") {
    val plan = staticPlan(SparkEntry.queries("ts_holt_forecast")(spark, sfSmoke))
    assert(!plan.contains("Join"),
      s"driver-unrolled coefficients must not join anything:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected the pivot agg:\n$plan")
  }

  test("llm_rrf_fusion: retriever lists are TakeOrdered cuts, never global sorts") {
    val plan = staticPlan(SparkEntry.queries("llm_rrf_fusion")(spark, sfSmoke))
    assert(plan.contains("TakeOrdered"),
      s"the lexical top-50 must be a TakeOrdered, not a full sort+limit:\n$plan")
  }

  test("sql_udf: SQL function bodies inline — no UDF call survives in the plan") {
    val plan = staticPlan(SparkEntry.queries("sql_udf")(spark, sfSmoke))
    assert(!plan.contains("graft_disc") && !plan.contains("graft_big_orders"),
      s"SQL UDF bodies must inline into the plan:\n$plan")
  }

  test("join_geo_box: cell-neighborhood equi-join, never an all-pairs NLJ") {
    val plan = staticPlan(SparkEntry.queries("join_geo_box")(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"spatial candidates must come from the cell equi-join:\n$plan")
  }

  test("er_blocked_link: candidates from the block equi-join, never all-pairs") {
    val plan = staticPlan(SparkEntry.queries("er_blocked_link")(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"linkage must candidate via the blocking equi-join:\n$plan")
  }

  test("er_blocked_link_hot: salted candidates stay a (blk, salt) equi-join") {
    val plan = staticPlan(SparkEntry.queries("er_blocked_link_hot")(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"salted linkage must candidate via the blocking equi-join:\n$plan")
    assert(plan.contains("__salt"),
      s"the hot-block treatment's salt column vanished from the plan:\n$plan")
  }

  test("join_geo_knn: kNN candidates from the cell equi-join, rank prunes via WindowGroupLimit") {
    val plan = staticPlan(SparkEntry.queries("join_geo_knn")(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"spatial kNN candidates must come from the cell equi-join:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=3 should prune below the window shuffle:\n$plan")
  }

  test("llm_keywords: top-3 rank prunes via WindowGroupLimit, df joins broadcast") {
    val plan = staticPlan(SparkEntry.queries("llm_keywords")(spark, sfSmoke))
    assert(plan.contains("WindowGroupLimit"),
      s"per-doc top-3 should prune below the window shuffle:\n$plan")
  }

  test("qc_dataset_fingerprint: ONE corpus scan, commutative partial aggregation") {
    val plan = staticPlan(SparkEntry.queries("qc_dataset_fingerprint")(spark, sfSmoke))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"fingerprint should be ONE corpus scan, saw $scans:\n$plan")
    assert(plan.contains("partial_"),
      s"the commutative folds must partial-aggregate map-side:\n$plan")
  }

  test("join_allen_relations: binned equi-join, no nested loop") {
    val plan = staticPlan(SparkEntry.queries("join_allen_relations")(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval census must ride the binned equi-join:\n$plan")
  }

  test("llm_negative_sample: probes broadcast into the corpus join") {
    val plan = staticPlan(SparkEntry.queries("llm_negative_sample")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"probe-side lookup should broadcast, corpus stays in place:\n$plan")
  }

  test("llm_edit_distance_join: candidates are an equi join on segment text") {
    val plan = staticPlan(
      SparkEntry.queries("llm_edit_distance_join")(spark, sfSmoke))
    val segJoin =
      """(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[la#\d+, i#\d+, seg#""".r
    assert(segJoin.findFirstIn(plan).isDefined,
      s"segment candidates must hash-join on (la, i, seg):\n$plan")
  }

  test("llm_vocab_map: the dictionary broadcasts into the token stream") {
    val plan = staticPlan(SparkEntry.queries("llm_vocab_map")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary lookup should broadcast, tokens stay in place:\n$plan")
  }

  test("llm_quality_classifier: weight table broadcasts; only the doc agg shuffles") {
    val plan = staticPlan(
      SparkEntry.queries("llm_quality_classifier")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"model weights must broadcast into the token stream:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a model-sized table shuffled the corpus:\n$plan")
  }

  test("llm_token_budget_mix: running sums partition by (source, bucket)") {
    val plan = staticPlan(
      SparkEntry.queries("llm_token_budget_mix")(spark, sfSmoke))
    assert("hashpartitioning\\(__src#\\d+, __bkt#\\d+".r
      .findFirstIn(plan).isDefined,
      s"quota fill lost its two-phase bucket decomposition — a mega-source " +
        s"would serialize into one window task:\n$plan")
  }

  test("llm_cluster_quota: centroid table broadcasts; quota windows stay bucketed") {
    val plan = staticPlan(
      SparkEntry.queries("llm_cluster_quota")(spark, sfSmoke))
    assert(plan.contains("BroadcastHashJoin"),
      s"the 8-row centroid table must broadcast into the assignment:\n$plan")
    assert("hashpartitioning\\(__src#\\d+, __bkt#\\d+".r
      .findFirstIn(plan).isDefined,
      s"per-cluster quota fill lost its two-phase bucket decomposition — " +
        s"a hot topic cluster would serialize into one window task:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") ||
      !plan.contains("Sort [__key"),
      s"quota selection must never globally sort the corpus:\n$plan")
  }

  test("llm_source_similarity: corpus collapses via partial min-aggregation") {
    val plan = staticPlan(
      SparkEntry.queries("llm_source_similarity")(spark, sfSmoke))
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"group signatures lost map-side partial aggregation — the shuffle " +
        s"would carry shingle rows instead of |groups|x8 integers:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"signature pairing must stay an equi join on the permutation index:\n$plan")
  }

  test("dynamic partition pruning reaches the partitioned fact scan") {
    // the partition-layout twin of the bloom-filter gate: when the fact
    // table is partitioned on the join key, a selective dim predicate
    // must prune fact PARTITIONS at runtime (skip whole directories, not
    // just rows) — at 100 TB the difference between listing 3 partitions
    // and scanning them all
    val dir = Session.scratch(spark, "dpp")
    Tables.load(spark, sfBench, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim filter sits on a NON-key column, so static constraint
    // propagation cannot pre-prune the fact side — only the runtime
    // subquery over the filtered dim can supply the partition list
    val dim = Tables.load(spark, sfBench, "orders")
      .select("o_orderstatus", "o_orderpriority").distinct()
      .where("o_orderpriority = '1-URGENT'")
    val q = fact.join(dim, Seq("o_orderstatus"))
      .groupBy("o_orderstatus").count()
    val plan = staticPlan(q)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the partitioned fact scan:\n$plan")
  }

  test("cached relation is reused by later consumers (InMemoryTableScan)") {
    val li = Tables.load(spark, sfSmoke, "lineitem")
      .select("l_returnflag", "l_quantity").cache()
    try {
      li.count() // materialize
      val p1 = staticPlan(li.groupBy("l_returnflag").count())
      val p2 = staticPlan(li.selectExpr("SUM(l_quantity)"))
      assert(p1.contains("InMemoryTableScan") && p2.contains("InMemoryTableScan"),
        s"consumers re-scanned parquet instead of the cache:\n$p1\n$p2")
    } finally li.unpersist()
  }

  test("join strategy hints are honored (BROADCAST / MERGE / SHUFFLE_HASH)") {
    Tables.register(spark, sfSmoke)
    def planFor(hint: String) = staticPlan(spark.sql(
      s"SELECT /*+ $hint(n) */ c.c_custkey, n.n_name FROM customer c " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey"))
    assert(planFor("BROADCAST").contains("BroadcastHashJoin"))
    assert(planFor("MERGE").contains("SortMergeJoin"),
      "MERGE hint must override the broadcast-eligible default")
    assert(planFor("SHUFFLE_HASH").contains("ShuffledHashJoin"))
  }

  test("runtime bloom-filter injection prunes the fact side of a selective shuffle join") {
    // the AQE-era runtime filter: a selective dim-side predicate grows a
    // bloom filter that is pushed into the fact-side scan stage BEFORE the
    // shuffle — at 100 TB this is the difference between shuffling the
    // whole fact table and shuffling the ~1% that can match. Thresholds
    // are relaxed because the fixture is toy-sized; the mechanism (and
    // that our query shapes stay eligible for it) is what's under test.
    val overrides = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = overrides.keys.map(k => k -> spark.conf.get(k)).toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      Tables.register(spark, sfBench)
      val plan = staticPlan(spark.sql(
        """SELECT l.l_orderkey, l.l_quantity
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_totalprice > 550000""".stripMargin))
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter reached the lineitem scan stage:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q6: filters pushed into the lineitem parquet scan") {
    val pushed = pushedFilters(SparkEntry.queries("tpch_q6")(spark, sfSmoke))
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate range not pushed to parquet: $pushed")
    assert(pushed.contains("LessThan(l_quantity"),
      s"quantity bound not pushed to parquet: $pushed")
  }

  test("q19: pushdown + pruned read schema on part") {
    val plan = staticPlan(SparkEntry.queries("tpch_q19")(spark, sfSmoke))
    assert(plan.contains("PushedFilters: ["))
    // q19 projects a handful of columns; the scan must not read all of part
    assert(!plan.contains("p_comment"), "part scan reads unprojected columns")
  }

  test("join_existence: EXISTS-under-OR plans the mark join (ExistenceJoin)") {
    val plan = staticPlan(SparkEntry.queries("join_existence")(spark, sfSmoke))
    assert(plan.contains("ExistenceJoin"),
      s"EXISTS OR predicate did not plan an ExistenceJoin:\n$plan")
  }

  test("win_row_number_topn: rank-limit pushdown (WindowGroupLimit)") {
    val plan = staticPlan(SparkEntry.queries("win_row_number_topn")(spark, sfSmoke))
    assert(plan.contains("WindowGroupLimit"),
      "top-n-per-key filter is not pruning below the window sort")
  }

  test("llm_ann_bucketed: bucket join is an equi join, not a nested loop") {
    val plan = staticPlan(SparkEntry.queries("llm_ann_bucketed")(spark, sfSmoke))
    assert(!plan.contains("NestedLoopJoin"), "bucket join degenerated to NLJ")
  }

  test("as-of join: at most two shuffles (right pre-agg + window), no join operator") {
    val plan = SparkEntry.queries("ts_asof_join")(spark, sfSmoke)
      .queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // the right side's (user, ts) dedup aggregation shuffles once, the
    // running-last window once more on (user); a range-join formulation
    // would add a pair-enumerating join on top of those
    assert(exchanges.size <= 2, s"as-of join shuffles too much:\n$plan")
    assert(!plan.toString.contains("Join"), "as-of should compose without a join")
  }

  /** (PushedFilters, Location) of every FileSourceScanExec under a
    * BroadcastExchange, collected from the PHYSICAL NODES with AQE off —
    * a rendered-string walk would pass vacuously whenever plan rendering
    * truncates the scan lines (maxToStringFields), and AQE's executedPlan
    * hides exchanges inside un-traversable query stages until run time.
    */
  private def broadcastScans(name: String): Seq[(String, String)] = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      SparkEntry.queries(name)(spark, sfSmoke).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              (f.metadata.getOrElse("PushedFilters", ""),
                f.metadata.getOrElse("Location", ""))
          }
      }.flatten
    } finally spark.conf.set(key, prev)
  }

  test("llm_ivf_topk: only the k-row centroid slice broadcasts, never the corpus") {
    val scans = broadcastScans("llm_ivf_topk")
    assert(scans.nonEmpty, "centroids should broadcast")
    // a broadcast subtree bottoming out in an UNFILTERED embeddings scan
    // would ship the whole corpus to every executor — the centroid slice
    // carries its vec_id pushdown on the scan node
    scans.foreach { case (filters, loc) =>
      assert(filters.contains("LessThan(vec_id"),
        s"corpus-wide broadcast in IVF plan: $loc / $filters")
    }
  }

  test("skew_salted_join: the salted big side never broadcasts") {
    // lineitem (the salted side) must arrive via shuffle; broadcasting the
    // big side would defeat the whole salting exercise
    broadcastScans("skew_salted_join").foreach { case (_, loc) =>
      assert(!loc.contains("lineitem.parquet"),
        s"salted big side is broadcast: $loc")
    }
  }

  test("llm_hash_split: map-only plan — no shuffle beyond the output sort") {
    val plan = staticPlan(SparkEntry.queries("llm_hash_split")(spark, sfSmoke))
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    // one range-partitioning exchange for the ORDER BY is the only
    // acceptable shuffle; the split assignment itself must stay per-row
    assert(exchanges <= 1, s"hash split shuffles more than the sort:\n$plan")
  }

  test("llm_stratified_sample: per-stratum rank prunes via WindowGroupLimit") {
    val plan = staticPlan(SparkEntry.queries("llm_stratified_sample")(spark, sfSmoke))
    assert(plan.contains("WindowGroupLimit"),
      "stratified sample should prune before the per-stratum sort ships rows")
  }

  test("llm_pack_shards: the big-data cumsum window is bucket-partitioned") {
    val plan = staticPlan(SparkEntry.queries("llm_pack_shards")(spark, sfSmoke))
    // the intra-bucket window must carry the __bkt partition spec; the
    // only permissible unpartitioned window is over the bucket summary
    assert(plan.contains("windowspecdefinition(__bkt"),
      s"prefix sum is not bucket-partitioned:\n$plan")
  }

  test("llm_domain_cap: per-domain quota prunes via WindowGroupLimit") {
    val plan = staticPlan(SparkEntry.queries("llm_domain_cap")(spark, sfSmoke))
    assert(plan.contains("WindowGroupLimit"),
      "domain cap is not pruning below the per-domain window sort")
  }

  test("llm_dedup_quality: cluster argmax prunes via WindowGroupLimit") {
    val plan = staticPlan(SparkEntry.queries("llm_dedup_quality")(spark, sfSmoke))
    assert(plan.contains("WindowGroupLimit"),
      "quality survivor selection is not pruning below the per-cluster window sort")
  }

  test("llm_semantic_decontaminate: probe set broadcasts, corpus never shuffles pre-agg") {
    val plan = staticPlan(
      SparkEntry.queries("llm_semantic_decontaminate")(spark, sfSmoke))
    // the benchmark slice must ride a BroadcastExchange into the
    // pairing; the only shuffle is the final per-vector max aggregate
    assert(plan.contains("BroadcastExchange"),
      s"probe set is not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("llm_bloom_decontaminate: bloom probe filters the corpus stream pre-join") {
    val plan = staticPlan(SparkEntry.queries("llm_bloom_decontaminate")(spark, sfSmoke))
    // the membership probe must appear as a Filter in the plan (corpus
    // side, before the confirm join) — a plan that only joins has lost
    // the prefilter the operator exists for
    // (codegen participation is visible only in the EXECUTED plan — the
    // post-run `graft.Explain` rendering shows `*(n) Filter graft_bloom…`;
    // the static pre-AQE string this gate reads carries no codegen marks)
    assert(plan.contains("graft_bloom_might_contain"),
      s"bloom prefilter missing from the plan:\n$plan")
  }

  test("llm_heavy_hitters: CMS prefilter runs before the exact aggregation") {
    val plan = staticPlan(SparkEntry.queries("llm_heavy_hitters")(spark, sfSmoke))
    assert(plan.contains("graft_cms_estimate"),
      s"CMS prefilter missing from the plan:\n$plan")
  }

  test("llm_semantic_dedup: within-cluster prune is an equi-join on centroid_id, never all-pairs") {
    val plan = staticPlan(SparkEntry.queries("llm_semantic_dedup")(spark, sfSmoke))
    // the quadratic term must be bounded by cluster population: the
    // self-pairing joins ON the assigned centroid_id (hash-partitioned
    // equi join) with the vec_id ordering as a residual — an all-pairs
    // corpus join (cartesian / NLJ between two corpus copies) would be
    // the SemDeDup scale-killer
    assert(!plan.contains("CartesianProduct"))
    assert(
      raw"(SortMergeJoin|ShuffledHashJoin) \[centroid_id".r
        .findFirstIn(plan).isDefined,
      s"within-cluster pairing is not an equi-join keyed on centroid_id:\n$plan")
  }

  test("llm_repetition: top-gram rank filter prunes via WindowGroupLimit") {
    val plan = staticPlan(SparkEntry.queries("llm_repetition")(spark, sfSmoke))
    assert(plan.contains("WindowGroupLimit"),
      "per-doc top-1 gram is not pruning below the window sort")
  }

  test("llm_ngram_stats: top-k is a TakeOrdered, not a global sort") {
    val plan = staticPlan(SparkEntry.queries("llm_ngram_stats")(spark, sfSmoke))
    assert(plan.contains("TakeOrderedAndProject"),
      s"ngram top-k plans a full sort:\n$plan")
  }

  test("llm_dup_spans: gram subtree computed once (single Generate, window-df reuse)") {
    val plan = SparkEntry.queries("llm_dup_spans")(spark, sfSmoke)
      .queryExecution.sparkPlan
    val generates = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    // the round-5 shape re-derived the normalize/split/md5/posexplode
    // subtree for a df-aggregate self-join — TWO Generates; the window
    // formulation pins it at one
    assert(generates.size == 1,
      s"gram extraction duplicated (${generates.size} Generates):\n$plan")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // gh window + doc_id windows (+ the output sort's range exchange);
    // the two gh window specs must share one exchange
    assert(exchanges.size <= 3, s"dup_spans shuffles too much:\n$plan")
  }

  test("llm_dedup_incremental: every join is an equi join, never a nested loop") {
    val plan = staticPlan(SparkEntry.queries("llm_dedup_incremental")(spark, sfSmoke))
    assert(!plan.contains("NestedLoopJoin"),
      "cross-corpus candidate generation degenerated to a nested loop")
  }

  test("llm_scrub_spans: exactly two Generates (gram side + token side, no re-derive)") {
    val plan = SparkEntry.queries("llm_scrub_spans")(spark, sfSmoke)
      .queryExecution.sparkPlan
    val generates = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    // one posexplode for the md5-gram pipeline, one for the token
    // reassembly side — any third means a subtree got re-derived
    assert(generates.size == 2,
      s"scrub_spans re-derives a subtree (${generates.size} Generates):\n$plan")
  }

  test("llm_multimodal_decode: map-only decode — no shuffle beyond the output sort") {
    val plan = SparkEntry.queries("llm_multimodal_decode")(spark, sfSmoke)
      .queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // synthesize + decode are per-partition codec work; only the final
    // ORDER BY may shuffle
    assert(exchanges.size <= 1,
      s"image decode pipeline shuffles beyond the output sort:\n$plan")
  }

  test("llm_pca_power: result is the collected dims² model, never corpus-shaped") {
    // the covariance runs as a per-partition integer treeAggregate (one
    // corpus scan, dims² Long cells per task to the driver); the returned
    // frame must therefore be pure model-sized local data — any join,
    // Generate or corpus scan here would mean the outer-product subtree
    // leaked back into the result plan and every downstream consumer
    // (dominantRemove's collect) would re-pay it
    val df = graft.SparkEntry.queries("llm_pca_power")(spark, sfSmoke)
    val plan = staticPlan(df)
    assert(plan.contains("LocalTableScan"),
      s"pca loadings are not driver-model-sized local data:\n$plan")
    assert(!plan.contains("Scan parquet") && !plan.contains("Join") &&
        !plan.contains("Generate"),
      s"corpus-scale operators leaked into the pca result plan:\n$plan")
    assert(df.count() == 64, "one loading row per embedding dim")
  }

  test("src_agg_pushdown: COUNT/MIN/MAX answer from parquet footer stats") {
    val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    val prevAgg = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    spark.conf.set("spark.sql.sources.useV1SourceList",
      prevV1.split(",").map(_.trim)
        .filterNot(v => v == "parquet" || v.isEmpty).mkString(","))
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      import org.apache.spark.sql.functions._
      val plan = staticPlan(
        spark.read.parquet(s"$sfSmoke/lineitem.parquet")
          .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey"))))
      assert(plan.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate did not push into the scan (metadata-only read lost):\n$plan")
      assert(plan.contains("MIN(l_orderkey)") && plan.contains("MAX(l_orderkey)"),
        s"min/max not pushed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
      spark.conf.set("spark.sql.parquet.aggregatePushdown", prevAgg)
    }
  }

  test("q18/q21 flip lineitem-derived build sides to shuffled joins under a 1MB broadcast threshold at sf0.1") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (1L * 1024 * 1024).toString)
    try {
      Seq("tpch_q18", "tpch_q21").foreach { q =>
        val plan = finalPlan(SparkEntry.queries(q)(spark, sfBench))
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"$q still broadcasts every join side above the threshold")
      }
    } finally spark.conf.set(key, prev)
  }

  test("incremental dedup flips its cross-corpus joins to shuffled joins under a 100KB broadcast threshold") {
    // same property as the jaccard gate, for the ingest filter: at real
    // scale neither corpus's fingerprints/signatures may ship to every
    // executor — strategy stays threshold-driven (no broadcast() hints)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (100L * 1024).toString)
    try {
      val plan = finalPlan(SparkEntry.queries("llm_dedup_incremental")(spark, sfBench))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "cross-corpus joins still broadcast above the threshold")
    } finally spark.conf.set(key, prev)
  }

  test("jaccard verify flips its shingle joins to shuffled joins under a 100KB broadcast threshold") {
    // the dedup family uses NO broadcast() hints, so join strategy stays
    // threshold-driven: at real scale the corpus-sized shingle tables must
    // shuffle, never ship to every executor. Caveat this pins around:
    // Catalyst's static size estimate for the shingle table derives from
    // the INPUT FILE bytes (explode amplification is invisible to the
    // estimator, and AQE can only promote SMJ->BHJ, never demote a
    // statically-planned broadcast), so the estimate is ~0.6MB at sf0.1 —
    // the threshold here sits BELOW it, mirroring a corpus whose file size
    // alone exceeds any sane threshold
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, (100L * 1024).toString)
    try {
      val plan = finalPlan(SparkEntry.queries("llm_jaccard_verify")(spark, sfBench))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "shingle joins still broadcast above the threshold")
    } finally spark.conf.set(key, prev)
  }

  test("AQE splits a skewed SMJ partition at runtime (skew=true in the final plan)") {
    // the NATIVE skew lever next to operators/Skew's salting: when one
    // join key carries most of the rows, AQE's OptimizeSkewedJoin must
    // split the oversized partition instead of letting one task own it.
    // Thresholds are lowered so sf0.1 volumes trigger the same re-plan a
    // 100 TB hot key would.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.get(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "256KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 90% of lineitem lands on key 1 (a real orderkey). THREE probed
      // preconditions, each of which silently suppresses the split:
      // (1) both join children must be plain sorted shuffles — an
      //     aggregate child pins its own required distribution;
      // (2) nothing downstream may require the join's partitioning — so
      //     the probe aggregates globally, not by the join key;
      // (3) the split granularity is MAP-OUTPUT BLOCKS: sf0.1 lineitem
      //     is one parquet row group = ONE real mapper, so the hot
      //     reduce partition is a single indivisible block (probed:
      //     createSkewPartitionSpecs -> None). The round-robin
      //     repartition gives the join's shuffle 12 map tasks, each
      //     contributing a slice of the hot key — at real scale many
      //     input files do this for free.
      val li = Tables.load(spark, sfBench, "lineitem")
        .repartition(12)
        .select(expr("CASE WHEN l_orderkey % 10 < 9 THEN 1 " +
          "ELSE l_orderkey END").as("k"), col("l_quantity"))
      val ord = Tables.load(spark, sfBench, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice"))
      val plan = finalPlan(li.join(ord, "k")
        .agg(sum("l_quantity").as("q"), sum("o_totalprice").as("m")))
      assert(plan.contains("skew=true"),
        s"hot key did not trigger AQE skew-join splitting:\n${plan.take(4000)}")
    } finally prev.foreach { case (k, v) => conf.set(k, v) }
  }

  test("cdc_scd2_pit: interval residual stays on the key equi join (no NLJ)") {
    val plan = staticPlan(SparkEntry.queries("cdc_scd2_pit")(spark, sfSmoke))
    // the only permitted nested loop is the broadcast of the 4 literal
    // probe times; the history join itself must be a key equi join
    val rest = plan.replace("BroadcastNestedLoopJoin", "")
    assert(!rest.contains("NestedLoopJoin") && !rest.contains("CartesianProduct"),
      s"point-in-time join degenerated:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"history join lost its key equi join:\n$plan")
  }

  test("sink_ivf_partitioned: the probe reads ONE shard via partition pruning") {
    val plan = staticPlan(
      SparkEntry.queries("sink_ivf_partitioned")(spark, sfSmoke))
    val scans = SparkEntry.queries("sink_ivf_partitioned")(spark, sfSmoke)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("ivf_shards")) => f
      }
    assert(scans.nonEmpty, s"shard scan missing:\n$plan")
    val pf = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("centroid_id"),
      s"probe scan does not prune on centroid_id partitions: $pf\n$plan")
  }

  test("llm_ivfpq_serving: one pruned shard scan, ADC is pure map work — no join") {
    val df = SparkEntry.queries("llm_ivfpq_serving")(spark, sfSmoke)
    val plan = staticPlan(df)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("ivfpq_shards")) => f
    }
    assert(scans.size == 1, s"expected exactly one shard scan:\n$plan")
    assert(scans.head.metadata.getOrElse("PartitionFilters", "")
        .contains("centroid_id"),
      s"serving scan does not prune on centroid_id partitions:\n$plan")
    // the request-side LUT rides as a literal: nothing joins the probe
    // to the candidates
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"ADC scan must be join-free (probe LUT is a literal):\n$plan")
  }

  test("llm_ivf_nprobe: every sweep point prunes shards via IN on the partition column") {
    val df = SparkEntry.queries("llm_ivf_nprobe")(spark, sfSmoke)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("ivf_nprobe_shards")) =>
        f.metadata.getOrElse("PartitionFilters", "")
    }
    assert(scans.size == 3, s"one pruned scan per nprobe point, got $scans")
    assert(scans.forall(_.contains("centroid_id")),
      s"a sweep point scans all shards instead of pruning: $scans")
  }

  test("llm_decontam_suite: the corpus side is scanned once, suites fan out on broadcast dims") {
    val df = SparkEntry.queries("llm_decontam_suite")(spark, sfSmoke)
    val plan = staticPlan(df)
    val docScans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("documents")) => f
    }
    // one corpus-shingle scan + one probe-shingle scan — NOT one per
    // suite (3 suites ride the same pass)
    assert(docScans.size <= 2,
      s"documents scanned ${docScans.size}x — the suite sweep rescans the corpus:\n$plan")
    assert(plan.contains("bloom_might_contain") || plan.contains("graft_bloom"),
      s"bloom prefilter missing from the corpus-shingle stream:\n$plan")
  }

  test("llm_dsir_select: the bucket histograms ride a broadcast join, never a shuffle") {
    val df = SparkEntry.queries("llm_dsir_select")(spark, sfSmoke)
    val plan = staticPlan(df)
    // model-apply join: 64 histogram rows broadcast to the gram stream
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket histogram must broadcast to the gram stream:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the model-apply join shuffled the corpus:\n$plan")
    // two corpus passes by construction (build + apply), never more
    val docScans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("documents")) => f
    }
    assert(docScans.size <= 2,
      s"documents scanned ${docScans.size}x (model build + apply = 2):\n$plan")
  }

  test("llm_image_neardup: banded equi-join only — never an all-pairs image comparison") {
    val plan = staticPlan(SparkEntry.queries("llm_image_neardup")(spark, sfSmoke))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"perceptual near-dup must ride the banded equi-join:\n$plan")
  }

  test("llm_span_corrupt: one corpus scan feeds every output") {
    val df = SparkEntry.queries("llm_span_corrupt")(spark, sfSmoke)
    val docScans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("documents")) => f
    }
    assert(docScans.size == 1,
      s"span corruption rescans the corpus (${docScans.size} scans):\n${staticPlan(df)}")
  }

  test("qc_dp_histogram: one scan, one aggregate, noise is pure projection") {
    val df = SparkEntry.queries("qc_dp_histogram")(spark, sfSmoke)
    val plan = staticPlan(df)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1, s"DP histogram must be a single scan:\n$plan")
    assert(!plan.contains("Join"),
      s"noise must ride as a projection over class rows, not a join:\n$plan")
  }

  test("llm_pagerank: every iteration join is an equi join on node id") {
    val plan = staticPlan(SparkEntry.queries("llm_pagerank")(spark, sfSmoke))
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"pagerank iteration degenerated to a non-equi join:\n$plan")
  }

  test("llm_kmeans_inertia: centroid assignment broadcasts, never sorts the corpus against k rows") {
    val plan = staticPlan(SparkEntry.queries("llm_kmeans_inertia")(spark, sfSmoke))
    assert(!plan.contains("SortMergeJoin"),
      s"k-row centroid table shuffles the corpus instead of broadcasting:\n$plan")
  }

  test("llm_ivf_split: only the split cluster's members are rescanned after the one assign") {
    val plan = staticPlan(SparkEntry.queries("llm_ivf_split")(spark, sfSmoke))
    // the final Lloyd step must read the checkpointed assignment (filtered
    // to the heavy cluster), never the corpus parquet a second time — a
    // FileScan here means the split re-assigned the whole corpus
    assert(plan.contains("ExistingRDD"),
      s"split lost its checkpointed assignment input:\n$plan")
    assert(!plan.contains("Scan parquet") && !plan.contains("FileScan"),
      s"the split stage rescans the full corpus:\n$plan")
    assert("centroid_id#\\d+ = \\d+".r.findFirstIn(plan).isDefined,
      s"touched-cluster filter missing — every cluster's members flow " +
        s"into the split:\n$plan")
  }

  test("llm_bpe_encode: merge passes touch only the vocab dict (corpus joins once, equi)") {
    val plan = staticPlan(SparkEntry.queries("llm_bpe_encode")(spark, sfSmoke))
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"word-to-token join degenerated:\n$plan")
    // the corpus-side explode appears once for the dict build and once for
    // the doc join-back; a third Generate means the merge chain re-derived
    // the corpus word stream per pass
    val gen = "Generate ".r.findAllIn(plan).size
    assert(gen <= 3, s"bpe encode re-derives the word stream ($gen Generates):\n$plan")
  }
}
