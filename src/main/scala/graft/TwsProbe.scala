package graft

/** RocksDB transformWithState floor probe (r13 verdict #5): after the
  * per-batch MapState batching and the HLL byte-path fix, the remaining
  * factor-100 streaming-sketch cost (topk ~60 s, hll ~47 s at the
  * 6M-event replay) is per-row-work bound. This main stages the
  * time-replicated events fixture once, then times the streaming sketch
  * entries under RocksDB conf variants — each variant set on the session
  * BEFORE the query starts (state-store confs snapshot at stream start),
  * restored after. `baseline` is the provider confs the entries adopt
  * (`Streams.rocksDb`, from r14's run of this probe: 256 MB block cache,
  * 256 MB × 4 write buffers); each variant adds one conf on top:
  *
  *   - `no_track_rows`: trackTotalNumberOfRows=false drops the
  *     get-before-put RocksDB does per write just to maintain the row
  *     count metric — the documented first lever for update-heavy state;
  *   - `changelog_ckpt`: changelog checkpointing uploads deltas instead
  *     of full snapshots per batch.
  *
  * `runMain graft.TwsProbe [factor] [srcDir] [query...]` — defaults:
  * factor 100, the three MapState sketch entries. One JSON line of
  * `query__variant` seconds; record the table + verdict (conf win or
  * "this is the floor" with per-row µs) in SURVEY's addendum.
  */
object TwsProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val src = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val queries = SparkEntry.select(
      if (args.length > 2) args.drop(2).toSeq
      else Seq("ts_stream_topk", "ts_stream_hll", "ts_stream_bitmap_distinct"))
    val spark = Session.local("graft-tws-probe")
    val out = Session.scratch(spark, s"twsprobe_x$factor")
    val P = "spark.sql.streaming.stateStore.rocksdb."
    val variants: Seq[(String, Map[String, String])] = Seq(
      ("baseline", Map.empty),
      ("no_track_rows", Map(P + "trackTotalNumberOfRows" -> "false")),
      ("changelog_ckpt", Map(P + "changelogCheckpointing.enabled" -> "true")))
    try {
      val tStage = Bench.time(ScaleBench.stage(spark, src, out, factor))
      def run(q: graft.queries.Entry): Double = Bench.timeEntry(spark, out)(q.run)
      queries.foreach(run) // warm codegen/JIT + page cache off the clock
      val items = for ((vn, confs) <- variants; q <- queries) yield {
        val t = Session.withConf(spark, confs)(run(q))
        s""""${q.name}__$vn":${Fmt.sec(t)}"""
      }
      println(s"""{"factor":$factor,"stage_sec":${Fmt.sec(tStage, digits = 1)},""" +
        items.mkString(",") + "}")
    } finally spark.stop()
  }
}
