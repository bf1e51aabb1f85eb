package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the heavy corpus operators:
  * `runMain graft.ScaleProbe [factor] [sfDir]` stages a factor-X replica
  * of the documents table as a MULTI-FILE parquet directory in the run
  * root ([[Session.scratch]], deleted at stop)
  * (doc_ids offset per shard, text unchanged — so every document gains
  * factor-1 exact duplicates, the worst realistic dedup load), then runs
  * the shuffle-heavy operators at 1x and at factor-X and prints per-op
  * seconds as one JSON line.
  *
  * What "pass" looks like: time grows ~linearly in corpus size (the
  * candidate joins stay bounded by banding), and nothing degenerates
  * into an all-pairs or driver-side step. This is the local stand-in for
  * the 100 TB question the plans are designed around.
  */
object ScaleProbe {
  import Bench.time

  private def run(docs: DataFrame): Seq[(String, Double)] = Seq(
    "dedup_exact" -> time(llm.Dedup.exact(docs).write.mode("overwrite")
      .format("noop").save()),
    "minhash_bands" -> time(llm.Dedup.lshCandidates(docs).write.mode("overwrite")
      .format("noop").save()),
    "dedupe_pipeline" -> time(llm.Dedup.dedupe(docs).write.mode("overwrite")
      .format("noop").save()),
    // the transitive-closure variant: exact pass + LSH + Jaccard + CC
    // label propagation — the CC rounds must track the verified-pair
    // graph, not the corpus
    "dedupe_cc" -> time(llm.Dedup.dedupeClustered(docs).write.mode("overwrite")
      .format("noop").save()),
    "fingerprint" -> time(llm.TextAnalysis.fingerprint(docs).write.mode("overwrite")
      .format("noop").save()),
    "hash_split" -> time(llm.TextAnalysis.hashSplit(docs).write.mode("overwrite")
      .format("noop").save()))

  /** Candidate-pair growth of the two simhash banding operating points
    * (round-4 verdict #4): the wide-radius (6-bit bands, Hamming<=8)
    * config vs the web-scale default (15-bit bands, Hamming<=3). The
    * quadratic term lives in the band join's random collisions
    * (~nBands/2^bandBits per fingerprint pair), so the interesting
    * numbers are the PAIR counts side by side as the corpus grows.
    */
  private def simhashProbe(docs: DataFrame): Seq[(String, Double, Long)] =
    Seq(("simhash_b15_h3", 15, 3), ("simhash_b6_h8", 6, 8)).map {
      case (nm, bb, mh) =>
        var pairs = 0L
        val t = time {
          pairs = llm.Dedup.simhashCandidates(docs, bandBits = bb, maxHamming = mh)
            .count()
        }
        (nm, t, pairs)
    }

  /** Cumulative max observed task wall-clock — the straggler metric the
    * bucketed as-of exists to improve. Listener-bus delivery is async;
    * [[drain]] sleeps briefly after the action so late TaskEnd events
    * land before reading.
    */
  private class MaxTaskListener extends org.apache.spark.scheduler.SparkListener {
    @volatile var maxMs: Long = 0L
    @volatile var tasks: Long = 0L
    @volatile var sumMs: Long = 0L
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val d = te.taskInfo.duration
      tasks += 1
      sumMs += d
      if (d > maxMs) maxMs = d
    }
  }

  /** Compute-amplified map-stage probe (r13 verdict #4, generalizing the
    * hot-ER single-task lesson): the decode/rolling-hash entries do work
    * ≫ row width in a map-only stage, so on the one-row-group fixture
    * the whole stage used to serialize into ONE task (max_task ≈ wall,
    * invisible to wall-clock-only scaling runs that stage 8-way).
    * Reports wall, max-task, mean-task and task count for each entry
    * shape on the RAW fixture; healthy after the conditional spread =
    * max_task ≪ wall. Mean includes the tiny scan/shuffle tasks, so read
    * max/mean against the task count, not as a bare threshold.
    */
  private def mapStageProbe(spark: SparkSession, dir: String): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, dir, "documents")
    val forms: Seq[(String, () => DataFrame)] = Seq(
      ("map_audio_vad",
        () => llm.Multimodal.vadSegments(llm.Multimodal.synthesizeAudio(docs)).toDF()),
      ("map_scene_cuts",
        () => llm.Multimodal.sceneCuts(llm.Multimodal.synthesizeVideo(docs)).toDF()),
      ("map_image_histogram",
        () => llm.Multimodal.histogramImages(
          llm.Multimodal.synthesizeImages(docs.where(col("doc_id") < 200))).toDF()),
      ("map_cdc_chunks", () => llm.Dedup.cdcChunks(docs)))
    forms.foreach { case (_, f) => // warm codegen/JIT off the clock
      f().write.mode("overwrite").format("noop").save()
    }
    forms.map { case (name, f) =>
      val lis = new MaxTaskListener
      spark.sparkContext.addSparkListener(lis)
      val t = time(f().write.mode("overwrite").format("noop").save())
      Thread.sleep(500) // async listener bus
      spark.sparkContext.removeSparkListener(lis)
      val mean = if (lis.tasks > 0) lis.sumMs / lis.tasks / 1000.0 else 0.0
      s""""$name":{"sec":${Fmt.sec(t)},"max_task_sec":${Fmt.sec(lis.maxMs / 1000.0)},""" +
        s""""mean_task_sec":${Fmt.sec(mean)},"tasks":${lis.tasks}}"""
    }
  }

  /** Hot-key as-of probe (round-5 verdict #8): a synthetic where one key
    * owns 80% of both timelines. The plain variant window-partitions by
    * key — the hot key's whole history lands in ONE task; the bucketed
    * variant caps tasks at |hot key ∩ bucket|. Reports wall-clock AND
    * max single-task seconds for both — the max-task number is the claim
    * the operator exists for (straggler/OOM immunity), wall-clock alone
    * would hide it behind the other 31 idle-then-done cores.
    */
  private def asofSkewProbe(spark: SparkSession): Seq[String] = {
    import org.apache.spark.sql.functions._
    val n = 2000000L
    val hot = expr("CASE WHEN id % 10 < 8 THEN 0 ELSE id % 1000 END")
    // ~0.05 s between events => ~100k s span; 3600 s buckets => ~28
    // buckets for the hot key
    val left = spark.range(n).select(
      hot.as("key"),
      expr("timestamp_micros(id * 50000)").as("ts"),
      col("id").as("v"))
    val right = spark.range(n / 100).select(
      hot.as("key"),
      expr("timestamp_micros(id * 5000000)").as("ts"),
      (col("id") % 997).as("quote"))
    val dir = Session.scratch(spark, "asof_skew")
    left.repartition(32).write.mode("overwrite").parquet(s"$dir/left")
    right.repartition(32).write.mode("overwrite").parquet(s"$dir/right")
    val l = spark.read.parquet(s"$dir/left")
    val r = spark.read.parquet(s"$dir/right")
    def measure(f: => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val lis = new MaxTaskListener
      spark.sparkContext.addSparkListener(lis)
      val t = time(f.write.mode("overwrite").format("noop").save())
      Thread.sleep(500) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(lis)
      (t, lis.maxMs / 1000.0)
    }
    def plain() = operators.AsOf.joinBackward(l, r, "key", "ts", Seq("quote"))
    def bucketed() = operators.AsOf.joinBackwardBucketed(
      l, r, "key", "ts", Seq("quote"), bucketSeconds = 3600)
    measure(plain()); measure(bucketed()) // warm codegen off the clock
    val (tp, mp) = measure(plain())
    val (tb, mb) = measure(bucketed())
    Seq(
      s""""asof_plain_hotkey":{"sec":${Fmt.sec(tp)},"max_task_sec":${Fmt.sec(mp)}}""",
      s""""asof_bucketed_hotkey":{"sec":${Fmt.sec(tb)},"max_task_sec":${Fmt.sec(mb)}}""")
  }

  /** Hot-block linkage probe (round-12 verdict #4): one blocking key owns
    * 80% of a 2M-row left feed and 80% of a 250-row right feed, with
    * broadcast DISABLED (the 100 TB premise: the dirty feed is too big to
    * broadcast, so the block join shuffles and the hot block lands in one
    * reducer — 1.6M × 200 = 320M scored pairs in ONE task). Three
    * treatments, wall-clock + max single-task seconds: plain with AQE's
    * runtime skew split active, plain with it off, and
    * [[graft.operators.Entity.blockedLinkSalted]]. The max-task column is
    * the claim: salting caps tasks at |hot∩salt|×|R_b| regardless of
    * what AQE does — and AQE's skew split keys on partition BYTES
    * (spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes), so a
    * compute-amplified hot block whose INPUT is megabytes sails under it
    * entirely; the manual salt is the only treatment that moves this.
    */
  private def erSkewProbe(spark: SparkSession): Seq[String] = {
    val dir = Session.scratch(spark, "er_skew")
    spark.range(2000000).selectExpr(
        "CASE WHEN id % 5 < 4 THEN 'HOT' ELSE concat('B', id % 997) END AS blk",
        "id AS lid", "id % 9973 AS lv", "concat('n', id % 4999) AS lname")
      .repartition(32).write.mode("overwrite").parquet(s"$dir/left")
    spark.range(250).selectExpr(
        "CASE WHEN id % 5 < 4 THEN 'HOT' ELSE concat('B', id % 997) END AS blk",
        "id + 1000000 AS rid", "id % 9973 AS rv", "concat('n', id % 4999) AS rname")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/right")
    val l = spark.read.parquet(s"$dir/left")
    val r = spark.read.parquet(s"$dir/right")
    val agreements = Seq(("l_lv = r_rv", 2), ("l_lname = r_rname", 1))
    def measure(skewJoin: Boolean)(f: => DataFrame): (Double, Double) =
      Session.withConf(spark, Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.skewJoin.enabled" -> skewJoin.toString)) {
        val lis = new MaxTaskListener
        spark.sparkContext.addSparkListener(lis)
        val t = time(f.write.mode("overwrite").format("noop").save())
        Thread.sleep(500) // async listener bus
        spark.sparkContext.removeSparkListener(lis)
        (t, lis.maxMs / 1000.0)
      }
    def plain() = operators.Entity.blockedLink(l, r, Seq("blk"), agreements, 2)
    def salted() = operators.Entity.blockedLinkSalted(
      l, r, Seq("blk"), agreements, 2, salts = 16)
    measure(skewJoin = true)(plain()); measure(skewJoin = true)(salted()) // warm
    val (ta, ma) = measure(skewJoin = true)(plain())
    val (tp, mp) = measure(skewJoin = false)(plain())
    val (ts, ms) = measure(skewJoin = true)(salted())
    Seq(
      s""""er_plain_aqe_hotblock":{"sec":${Fmt.sec(ta)},"max_task_sec":${Fmt.sec(ma)}}""",
      s""""er_plain_noskew_hotblock":{"sec":${Fmt.sec(tp)},"max_task_sec":${Fmt.sec(mp)}}""",
      s""""er_salted_hotblock":{"sec":${Fmt.sec(ts)},"max_task_sec":${Fmt.sec(ms)}}""")
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(8)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark: SparkSession = Session.local("graft-scale-probe")
    try {
      val base = Tables.load(spark, dir, "documents")
      val n = base.count()
      val shards = 8
      // BOTH corpora staged as 8-file listing tables so scan parallelism
      // is equal and only data volume differs (the raw fixture is one
      // single-row-group file = one scan task, which would confound the
      // comparison — and, measured here, costs more than the 8x corpus
      // read 8-way)
      def stage(f: Int): DataFrame = {
        val path = Session.scratch(spark, s"documents_x$f")
        base.selectExpr(s"explode(sequence(0, ${f - 1})) AS shard", "*")
          .withColumn("doc_id", col("doc_id") + col("shard") * n)
          .drop("shard")
          .repartition(shards)
          .write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
      val small = stage(1)
      val big = stage(factor)
      // warm EVERY operator off the clock: each has a distinct codegen'd
      // plan, and a cold first timed run would charge its one-off
      // Janino/JIT compile to x1, biasing the very ratios this reports
      run(small)

      val t1 = run(small)
      val tX = run(big)
      val items = t1.zip(tX).map { case ((op, a), (_, b)) =>
        s""""$op":{"x1":${Fmt.sec(a)},"x$factor":${Fmt.sec(b)},"ratio":${Fmt.sec(b / a)}}"""
      }
      simhashProbe(small) // warm both codegen'd banding plans
      val sh1 = simhashProbe(small)
      val shX = simhashProbe(big)
      val shItems = sh1.zip(shX).map { case ((op, a, pa), (_, b, pb)) =>
        s""""$op":{"x1":${Fmt.sec(a)},"x$factor":${Fmt.sec(b)},"ratio":${Fmt.sec(b / a)},""" +
          s""""pairs_x1":$pa,"pairs_x$factor":$pb}"""
      }
      val asof = asofSkewProbe(spark)
      val er = erSkewProbe(spark)
      val ms = mapStageProbe(spark, dir)
      println(s"""{"factor":$factor,"rows_x1":$n,${(items ++ shItems ++ asof ++ er ++ ms).mkString(",")}}""")
    } finally spark.stop()
  }
}
