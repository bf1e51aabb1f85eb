package graft

import java.sql.Timestamp

import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming: windowed/session aggregations and custom keyed
  * state over a MemoryStream, plus batch/stream equivalence (the same
  * transform function produces identical results both ways).
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private val fixture = Seq(
    Event(ts(0), 1L, "click", 1.0),
    Event(ts(5), 1L, "click", 3.0),
    Event(ts(10), 2L, "view", 2.0),
    Event(ts(59), 2L, "view", 4.0),
    // next hour
    Event(Timestamp.valueOf("2026-01-01 11:01:00"), 1L, "click", 5.0))

  test("windowed counts over a stream: tumbling hour windows with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    src.addData(fixture: _*)
    Streams.runToMemory(
      Streams.windowedCounts(src.toDF()), "win_counts", OutputMode.Complete())
    val rows = spark.table("win_counts")
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      ("2026-01-01 10:00:00.0", "click", 2L, 4.0),
      ("2026-01-01 10:00:00.0", "view", 2L, 6.0),
      ("2026-01-01 11:00:00.0", "click", 1L, 5.0)))
  }

  test("batch/stream equivalence: the same transform on a batch frame") {
    import spark.implicits._
    val batch = Streams.windowedCounts(fixture.toDF())
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(batch.toSeq == Seq(
      ("2026-01-01 10:00:00.0", "click", 2L, 4.0),
      ("2026-01-01 10:00:00.0", "view", 2L, 6.0),
      ("2026-01-01 11:00:00.0", "click", 1L, 5.0)))
  }

  test("session windows: 30-minute gap splits user 1 into two sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    src.addData(fixture: _*)
    Streams.runToMemory(
      Streams.sessionCounts(src.toDF()), "sess_counts", OutputMode.Complete())
    val rows = spark.table("sess_counts")
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(2), r.getTimestamp(0).toString, r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, "2026-01-01 10:00:00.0", 2L),   // 10:00 + 10:05
      (1L, "2026-01-01 11:01:00.0", 1L),   // >30 min gap => new session
      (2L, "2026-01-01 10:10:00.0", 1L),   // 10:10 vs 10:59 = 49 min gap
      (2L, "2026-01-01 10:59:00.0", 1L)))
  }

  test("file-source stream over the events fixture equals the batch result") {
    val stream = Tables.stream(spark, sfSmoke, "events")
    Streams.runToMemory(
      Streams.windowedCounts(stream), "evt_stream_agg", OutputMode.Complete())
    val streamed = spark.table("evt_stream_agg")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = Streams.windowedCounts(Tables.load(spark, sfSmoke, "events"))
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  /** Spark jobs `body` launches on this thread: its job group's starts,
    * read once a later marker job's start shows the listener bus has
    * delivered everything before it.
    */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case `group` => started.incrementAndGet()
          case g if g == s"$group-marker" => marked.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      spark.range(1).collect()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS))
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("Tables.stream drains to the rows and schema of Tables.load, with no extra job") {
    val load = Tables.load(spark, sfSmoke, "events")
    Streams.runToMemory(Tables.stream(spark, sfSmoke, "events"),
      "events_stream_rows", OutputMode.Append())
    val streamed = spark.table("events_stream_rows")
    assert(streamed.schema == load.schema)
    assert(streamed.count() == load.count() && load.count() > 0)
    assert(streamed.exceptAll(load).isEmpty && load.exceptAll(streamed).isEmpty)
    // stream first: a cache warmed by the load could only flatter it
    val streamJobs = jobsLaunchedBy(Tables.stream(spark, sfSmoke, "events"))
    val loadJobs = jobsLaunchedBy(Tables.load(spark, sfSmoke, "events"))
    assert(streamJobs <= loadJobs, s"Tables.stream: $streamJobs jobs, Tables.load: $loadJobs")
  }

  test("a repeated streaming entry compiles no generated code") {
    // each StreamingQuery runs in a cloned session; with artifact
    // isolation on, each clone's tasks load generated classes through a
    // fresh class loader, the codegen cache misses and every run
    // recompiles (Session.local turns isolation off)
    val run = SparkEntry.queries("ts_stream_window_agg")
    assert(run(spark, sfSmoke).collect().nonEmpty)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run(spark, sfSmoke).collect().nonEmpty)
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(recompiled == 0, s"the second run compiled $recompiled classes")
  }

  test("flatMapGroupsWithState emits only when the running max changes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.maxValueAlerts(src.toDS()).writeStream
      .format("memory").queryName("max_alerts")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(Event(ts(0), 1L, "click", 5.0))   // new max -> alert
      q.processAllAvailable()
      src.addData(Event(ts(1), 1L, "click", 3.0))   // below max -> silent
      q.processAllAvailable()
      src.addData(Event(ts(2), 1L, "click", 9.0))   // new max -> alert
      q.processAllAvailable()
    } finally q.stop()
    val alerts = spark.table("max_alerts").orderBy("n_events").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(alerts.toSeq == Seq((1L, 5.0), (3L, 9.0)))
  }

  test("stream-stream interval join pairs events within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    clicks.addData(
      Event(ts(0), 1L, "click", 1.0),
      Event(ts(30), 2L, "click", 1.0))
    views.addData(
      Event(ts(10), 1L, "view", 1.0),   // 10 min after user 1's click: joins
      Event(ts(45), 2L, "view", 1.0),   // 15 min after user 2's click: joins
      Event(ts(50), 3L, "view", 1.0))   // no matching click: dropped (inner)
    val q = Streams.intervalJoin(clicks.toDF(), views.toDF(), window = "30 minutes")
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // append-mode stream-stream joins only emit once the watermark
      // passes; push it far forward with a late sentinel on both sides
      val flush = Event(Timestamp.valueOf("2026-01-02 10:00:00"), 99L, "x", 0.0)
      clicks.addData(flush); views.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ss_join")
      .where("user_id < 90").orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).toString))
    assert(rows.toSeq == Seq(
      (1L, "2026-01-01 10:10:00.0"),
      (2L, "2026-01-01 10:45:00.0")))
  }

  test("left-outer interval join null-pads unmatched events after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    clicks.addData(
      Event(ts(0), 1L, "click", 1.0),   // matched within the window
      Event(ts(5), 2L, "click", 1.0))   // never matched -> null-padded row
    views.addData(Event(ts(10), 1L, "view", 1.0))
    val q = Streams.intervalJoin(clicks.toDF(), views.toDF(),
        window = "30 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("ss_left_join")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // the unmatched row may only surface once the watermark proves no
      // partner can still arrive
      val flush = Event(Timestamp.valueOf("2026-01-02 10:00:00"), 99L, "x", 0.0)
      clicks.addData(flush); views.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ss_left_join")
      .where("user_id < 90").orderBy("user_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getTimestamp(2).toString)))
    assert(rows.toSeq == Seq(
      1L -> Some("2026-01-01 10:10:00.0"),
      2L -> None))
  }

  test("streaming dedup drops re-delivered events across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    val q = Streams.dedupStream(src.toDF(), Seq("user_id", "ts"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(
        Event(ts(0), 1L, "click", 1.0),
        Event(ts(0), 1L, "click", 1.0), // same-batch duplicate
        Event(ts(5), 2L, "view", 2.0))
      q.processAllAvailable()
      src.addData(
        Event(ts(0), 1L, "click", 1.0), // re-delivery in a later batch
        Event(ts(9), 2L, "view", 3.0))  // genuinely new
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_stream").orderBy("user_id", "ts").collect()
      .map(r => (r.getLong(1), r.getTimestamp(0).toString))
    assert(rows.toSeq == Seq(
      (1L, "2026-01-01 10:00:00.0"),
      (2L, "2026-01-01 10:05:00.0"),
      (2L, "2026-01-01 10:09:00.0")))
  }

  test("mapGroupsWithState: running per-user count and max") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    src.addData(fixture.take(4): _*)
    val q = Streams.runningUserStats(src.toDS()).writeStream
      .format("memory").queryName("user_stats").outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      src.addData(fixture(4)) // second micro-batch: state carries over
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("user_stats")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.expr("max(n_events) AS n"),
        org.apache.spark.sql.functions.expr("max(max_value) AS mx"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(last.toSeq == Seq((1L, 3L, 5.0), (2L, 2L, 4.0)))
  }

  test("streaming entries reuse one fixed memory-sink table across invocations") {
    // exact-prefix filter: other suites may legitimately have run the
    // session-window entry (ts_stream_sess_sink) in this shared session
    def sinkTables(): Seq[String] =
      spark.catalog.listTables().collect().map(_.name).toSeq
        .filter(_.startsWith("ts_stream_sink"))
    val run = SparkEntry.queries("ts_stream_window_agg")
    val first = run(spark, sfSmoke).collect()
    val second = run(spark, sfSmoke).collect()
    assert(first.length == second.length && first.length > 0)
    // the memory sink registers its queryName as a temp view; a second
    // invocation must REPLACE the first run's table, not add another
    // (pre-fix, nanoTime-suffixed names accumulated one full result
    // table per invocation for the life of the session)
    assert(sinkTables() == Seq("ts_stream_sink"))
  }

  test("file sink's manifest makes the batch read ignore orphan files") {
    import org.apache.spark.sql.functions._
    val root = Session.scratch(spark, "filesink")
    val rows = spark.range(0, 100)
      .select(expr("timestamp_micros(id * 1000000)").as("ts"),
        col("id").as("user_id"))
    rows.write.mode("overwrite").parquet(s"$root/in")
    val stream = Streams.fromParquet(spark, s"$root/in", rows.schema)
    Streams.runToParquet(stream, s"$root/out", s"$root/ck")
    assert(new java.io.File(s"$root/out/_spark_metadata").exists(),
      "sink commit log missing")
    assert(spark.read.parquet(s"$root/out").count() == 100)
    // simulate a crashed batch's orphan: a valid parquet file in the
    // directory but absent from the manifest — exactly-once means the
    // batch reader must NOT see its rows
    rows.limit(7).coalesce(1).write.mode("overwrite")
      .parquet(s"$root/orphan")
    val part = new java.io.File(s"$root/orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$root/out/part-orphan.parquet"))
    assert(spark.read.parquet(s"$root/out").count() == 100,
      "batch read leaked uncommitted orphan rows")
  }

  test("replay runs one micro-batch per slice, in order, and deletes its landing dir") {
    import spark.implicits._
    // three slices of one key with 1, 2 and 3 rows: one batch each gives
    // the running counts 1, 3, 6; one batch would give only 6, and any
    // other order a different sequence
    val slices = Seq(1, 2, 3).map(n => Seq.fill(n)("k").toDF("k"))
    def landings(): Seq[String] =
      Session.root(spark).list().toSeq.filter(_.startsWith("replay"))
    val before = landings()
    val counts = Streams.replay(slices, "replay_counts", OutputMode.Update())(
      _.groupBy("k").count()).collect().map(_.getLong(1)).toSeq
    assert(counts == Seq(1L, 3L, 6L))
    assert(landings() == before)
    // the third batch fails the query: the landing dir still goes
    intercept[Exception] {
      Streams.replay(slices, "replay_fails", OutputMode.Update())(
        _.groupBy("k").count().where("assert_true(count < 6) IS NULL"))
    }
    assert(landings() == before)
  }
}
