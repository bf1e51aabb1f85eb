package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface: the same event-analytics transforms the
  * batch queries run (hourly windows, sessionization), expressed as
  * unbounded streams with watermarks and explicit state.
  *
  * The reference engine has no event-time streaming at all (SURVEY.md §0:
  * its "streaming execution" is pipelined *batch*), so this module is
  * extension surface: the capabilities a training-data pipeline needs when
  * the corpus arrives continuously rather than as a snapshot.
  *
  * Scale design:
  *   - every aggregation below is keyed (window/session × event_type or
  *     user_id), so state partitions across executors by key — nothing is
  *     global;
  *   - watermarks bound state: closed windows/sessions are evicted, so
  *     state size tracks the watermark horizon, not stream history;
  *   - the transforms take DataFrames, so the SAME function runs in batch
  *     mode (fixture parquet) and streaming mode (readStream) — tested for
  *     equivalence in StreamingSpec.
  */
object Streams {

  /** Typed event record matching the `events` fixture (micros timestamp). */
  case class Event(ts: java.sql.Timestamp, user_id: Long, event_type: String,
                   value: Double)

  /** Per-user session accumulator for [[runningSessionStats]]. */
  case class UserState(nEvents: Long, maxValue: Double)

  /** Emitted update per (user, trigger). */
  case class UserUpdate(user_id: Long, n_events: Long, max_value: Double)

  /** File-source stream: treat a parquet path (file, directory or glob) as
    * an unbounded source — the deployment shape where new corpus files
    * land continuously (`readStream` needs the schema up front; inference
    * would scan the directory). A plain file path is read as the one-file
    * glob `<parent>/{<file>}`: the file source passes a non-glob path on
    * as `basePath`, which must be a directory, and fails at the first
    * trigger otherwise.
    */
  def fromParquet(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isFile = scala.util.Try(fs.getFileStatus(p).isFile).getOrElse(false)
    spark.readStream.schema(schema)
      .parquet(if (isFile) s"${p.getParent}/{${p.getName}}" else path)
  }

  /** Tumbling event-time window counts with a watermark. Works identically
    * on a batch DataFrame (watermark is a no-op there) — the streaming
    * twin of the batch `ts_window_agg` query.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count("*").as("n_events"),
        sum(expr("CAST(value AS DOUBLE)")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Event-time session windows (gap-based), keyed per user: the streaming
    * twin of the batch `ts_sessionize` query. State per (user, open
    * session); closed sessions evict at the watermark.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count("*").as("n_events"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Watermarked stream-stream join — the symmetric-hash-join row of the
    * operator inventory (reference proto `datafusion.proto:1051-1061`,
    * never produced by its bounded configs): each `right` event joins
    * `left` events of the same user within the trailing `window`. State
    * on BOTH sides is bounded by the watermark plus the time-range
    * condition — rows age out once they can no longer match; that bound
    * is also what makes the outer variant legal on unbounded streams
    * (Spark rejects outer stream-stream joins without it).
    * `joinType` "inner" drops unmatched left events; "left_outer" emits
    * them null-padded once the watermark proves no match can still
    * arrive.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   window: String = "1 hour",
                   watermark: String = "2 hours",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).as("l")
    val r = right.withWatermark("ts", watermark).as("r")
    l.join(r,
      expr(s"""l.user_id = r.user_id AND
              |r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $window""".stripMargin),
      joinType)
      // coalesce: under full_outer the key survives on whichever side
      // emitted (they are equal whenever both exist)
      .select(coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
        col("l.ts").as("left_ts"), col("r.ts").as("right_ts"),
        col("l.event_type").as("left_type"), col("r.event_type").as("right_type"))
  }

  /** Streaming dedup — the continuous-ingest twin of the batch exact
    * dedup (graft.llm.Dedup): at-least-once sources (Kafka retries,
    * re-delivered files) re-emit records, and training corpora must not
    * double-count them. `dropDuplicatesWithinWatermark` keeps the first
    * arrival per key and evicts per-key state once the watermark passes —
    * state tracks the dedup horizon, not stream history (an unbounded
    * `dropDuplicates` would grow state forever).
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * count and max value, emitted on every trigger — the
    * `KeyValueGroupedDataset` state API the brief calls for. State is
    * per-user and partitioned by key; production deployments cap it with
    * a GroupStateTimeout (omitted here: a processing-time timeout makes
    * the scheduler fire perpetual timeout batches, which never drains in
    * a bounded test).
    */
  def runningUserStats(events: Dataset[Event]): Dataset[UserUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserUpdate](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, Double.MinValue))
          val next = batch.foldLeft(prev) { (s, e) =>
            UserState(s.nEvents + 1, math.max(s.maxValue, e.value))
          }
          state.update(next)
          UserUpdate(userId, next.nEvents, next.maxValue)
      }
  }

  /** flatMapGroupsWithState variant: emit 0..n updates per (user,
    * trigger) — here, an update ONLY when the user's running max value
    * changes, so quiet users produce no output at all (the
    * cannot-express-with-mapGroups case: zero-or-many emissions).
    */
  def maxValueAlerts(events: Dataset[Event]): Dataset[UserUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, Double.MinValue))
          val next = batch.foldLeft(prev) { (s, e) =>
            UserState(s.nEvents + 1, math.max(s.maxValue, e.value))
          }
          state.update(next)
          if (next.maxValue > prev.maxValue)
            Iterator(UserUpdate(userId, next.nEvents, next.maxValue))
          else Iterator.empty
      }
  }

  /** Per-user exact running totals for [[userTotalsTws]] — value carried
    * as micro-units so the state is pure integers (the cross-engine
    * determinism rule applied to streaming state).
    */
  case class UserTotals(user_id: Long, n_events: Long, sum_micros: Long)

  /** The one micro-unit rounding every v2 processor shares: BigDecimal
    * HALF_UP (away from zero) matches both engines' SQL ROUND — keep it
    * in exactly one place so the cross-engine edge cannot drift between
    * processors.
    */
  private[streaming] def microsOf(v: Double): Long =
    BigDecimal(v * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** The Spark 4 arbitrary-stateful-processing v2 operator
    * (`transformWithState`): typed `ValueState` per key, explicit
    * init/handleInputRows lifecycle — the successor API to
    * mapGroupsWithState, backed exclusively by the RocksDB state store
    * (the caller sets it for the query: [[replay]] with [[rocksDb]]). Emits the post-batch totals per (user,
    * trigger); on a drained bounded source the LAST emission per user
    * must equal the plain batch aggregate — which is the differential
    * oracle. BigDecimal HALF_UP micro-rounding matches both engines'
    * SQL ROUND (away from zero), unlike math.round's half-up-toward-+inf.
    */
  class TotalsProcessor extends StatefulProcessor[Long, Event, UserTotals] {
    @transient private var st: ValueState[UserTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserTotals] = {
      val prev = if (st.exists()) st.get() else UserTotals(key, 0L, 0L)
      val next = rows.foldLeft(prev) { (s, e) =>
        UserTotals(key, s.n_events + 1, s.sum_micros + microsOf(e.value))
      }
      st.update(next)
      Iterator.single(next)
    }
  }

  def userTotalsTws(events: Dataset[Event]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** [[TotalsProcessor]] warm-started from a batch table — the backfill
    * bootstrap every stream cutover needs: history lands as a batch
    * aggregate, the stream continues from it, and after draining the
    * totals must equal the aggregate over history ∪ stream (the
    * differential contract). `handleInitialState` runs once per key
    * before the first input batch.
    */
  class TotalsWithInitProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, Event, UserTotals, UserTotals] {
    @transient private var st: ValueState[UserTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)
    override def handleInitialState(key: Long, initial: UserTotals,
                                    timerValues: TimerValues): Unit =
      st.update(initial)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserTotals] = {
      val prev = if (st.exists()) st.get() else UserTotals(key, 0L, 0L)
      val next = rows.foldLeft(prev) { (s, e) =>
        UserTotals(key, s.n_events + 1, s.sum_micros + microsOf(e.value))
      }
      st.update(next)
      Iterator.single(next)
    }
  }

  def userTotalsTwsWithInit(events: Dataset[Event],
                            initial: Dataset[UserTotals]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TotalsWithInitProcessor, TimeMode.None(),
        OutputMode.Update(), initial.groupByKey(_.user_id))
  }

  /** Per-user per-batch running digest for [[userBatchMaxTws]]. */
  case class BatchMaxes(user_id: Long, n_batches: Long, sum_maxes: Long,
                        max_max: Long)

  /** `ListState` variant of the v2 stateful API: one element appended per
    * (user, trigger) — the per-batch max value in micro-units — so the
    * list length IS the number of triggers that carried the user, and
    * its sum/max digest the batch-granular history. Order-independent
    * digests on purpose: within-batch row order is not deterministic
    * after the group shuffle, but the batch MAX is.
    */
  class BatchMaxProcessor extends StatefulProcessor[Long, Event, BatchMaxes] {
    @transient private var st: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[Long]("batch_maxes",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[BatchMaxes] = {
      val batchMax = rows.map(e => microsOf(e.value)).max
      st.appendValue(batchMax)
      val all = st.get().toList
      Iterator.single(BatchMaxes(key, all.length.toLong, all.sum, all.max))
    }
  }

  def userBatchMaxTws(events: Dataset[Event]): Dataset[BatchMaxes] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new BatchMaxProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** One (user, event_type, count) emission per touched type per trigger
    * for [[userTypeCountsTws]].
    */
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** `MapState` variant of the v2 stateful API: per-user map
    * event_type -> count, only the types touched in a batch re-emit.
    * Same drained-stream contract: the last emission per (user, type)
    * must equal the batch GROUP BY.
    */
  class TypeCountsProcessor extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var st: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val prev = if (st.containsKey(e.event_type)) st.getValue(e.event_type) else 0L
        st.updateValue(e.event_type, prev + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(key, t, st.getValue(t))).toList.iterator
    }
  }

  def userTypeCountsTws(events: Dataset[Event]): Dataset[TypeCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** One fired session-expiry record for [[sessionExpiryTws]]. */
  case class SessionExpiry(user_id: Long, n_events: Long, expired_at_ms: Long)

  /** Per-key session state for [[SessionTimerProcessor]]: event count +
    * last-activity epoch ms (the logical expiry is last_ms + gap).
    */
  case class SessionState(n_events: Long, last_ms: Long)

  /** Event-time TIMER variant of the v2 stateful API — the last v2
    * surface (ValueState/MapState/ListState/initial-state already carry
    * entries): per-key inactivity sessionization the way a serving-edge
    * job expires idle users. Each input batch re-arms the key's single
    * timer at last-activity + gap (delete-then-register — the standard
    * re-arm idiom; a leaked old timer would double-fire); when the
    * event-time watermark passes the expiry, `handleExpiredTimer` emits
    * the session digest and clears the state, so a later event would
    * start a fresh session.
    *
    * Probed semantics (TimerProbeSpec, pinned there): (1) during batch N
    * the processor sees the EVICTION watermark — ms-floored max event ts
    * through batch N−1 minus the delay — and timers at-or-below it fire
    * at the END of batch N, after input processing (same-batch
    * arm-then-fire included, so an already-expired arming fires
    * immediately); (2) the post-drain no-data batch also sweeps timers;
    * (3) input rows older than the LATE-EVENTS watermark (doubly lagged:
    * batch N−1's displayed value) are dropped BEFORE the processor —
    * bounded replays must therefore slice files by TIME, never by key.
    *
    * Differential contract (pinned by the oracle): a key fires iff its
    * logical expiry (ms-floored last event ts + gap) < the final
    * watermark (ms-floored global max ts − delay). Keys still inside
    * the horizon stay in state and emit nothing. WHICH batch fires a
    * timer is irrelevant to the emitted record — (key, total count,
    * last activity + gap) — which is what makes the multi-trigger
    * replay deterministic.
    */
  class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, SessionExpiry] {
    @transient private var st: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[SessionExpiry] = {
      val prev = if (st.exists()) st.get() else SessionState(0L, Long.MinValue)
      val next = rows.foldLeft(prev) { (s, e) =>
        SessionState(s.n_events + 1, math.max(s.last_ms, e.ts.getTime))
      }
      st.update(next)
      // re-arm: one live timer per key at last-activity + gap (an
      // already-expired re-arm fires at the end of this same batch)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(next.last_ms + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionExpiry] = {
      val s = if (st.exists()) st.get() else SessionState(0L, 0L)
      st.clear()
      Iterator.single(SessionExpiry(key, s.n_events, s.last_ms + gapMs))
    }
  }

  /** `events` must carry a watermark (TimeMode.EventTime requires one). */
  def sessionExpiryTws(events: Dataset[Event], gapMs: Long): Dataset[SessionExpiry] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Event row for the order-sensitive pattern processor — carries
    * event_id so within-batch replay order is total.
    */
  case class ConvEvent(ts: java.sql.Timestamp, event_id: Long, user_id: Long,
                       event_type: String)

  /** Per-user running conversion count for [[conversionTws]]. */
  case class ConvCount(user_id: Long, n_conversion: Long)

  /** Streaming MATCH_RECOGNIZE-lite: the regex `v[ce]*p` (a view
    * converting to a purchase with only clicks/errors between) run as a
    * per-user two-field state machine — `armed` (a view is pending, no
    * signup/purchase since) + the running match count. Non-overlapping
    * leftmost-match semantics fall out of disarming on every purchase,
    * so on a drained bounded replay the count equals the batch
    * `regexp_count` over the user's full sequence (the differential
    * oracle — the streaming twin of the `ts_event_pattern` entry).
    *
    * ORDER-DEPENDENT: the caller must slice replay files by TIME (the
    * CLAUDE.md streaming trap), and within a batch rows re-sort by
    * (ts, event_id) here — the group shuffle does not preserve order.
    * State per user is two scalars regardless of history length.
    */
  class ConversionProcessor extends StatefulProcessor[Long, ConvEvent, ConvCount] {
    @transient private var armed: ValueState[Boolean] = _
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      armed = getHandle.getValueState[Boolean]("armed",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[ConvEvent],
                                 timerValues: TimerValues): Iterator[ConvCount] = {
      var a = armed.exists() && armed.get()
      var c = if (cnt.exists()) cnt.get() else 0L
      // total order: seconds, sub-second nanos, then event_id
      rows.toSeq.sortBy(e =>
        (e.ts.getTime / 1000, e.ts.getNanos, e.event_id)).foreach { e =>
        e.event_type match {
          case "view"     => a = true
          case "signup"   => a = false
          case "purchase" => if (a) { c += 1; a = false }
          case _          => () // click / error keep the pattern alive
        }
      }
      armed.update(a)
      cnt.update(c)
      Iterator.single(ConvCount(key, c))
    }
  }

  def conversionTws(events: Dataset[ConvEvent]): Dataset[ConvCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ConversionProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Metric row for the order-sensitive CUSUM processor. */
  case class MetricEvent(ts: java.sql.Timestamp, event_id: Long,
                         event_type: String, value: Double)

  /** Per-series CUSUM snapshot (monotone counters — max over batches is
    * the drained answer).
    */
  case class CusumStat(event_type: String, n_points: Long, n_alarms: Long,
                       max_cusum: Long)

  /** STREAMING one-sided CUSUM drift alarm — the live twin of the batch
    * `ts_cusum_drift` entry: the recurrence s_t = max(0, s_{t−1} + d_t)
    * needs only (running prefix sum, running prefix min) per series —
    * two Longs of state no matter how long the series — because
    * s_t = P_t − min(0, min_{j≤t} P_j), the same closed form the batch
    * windows compute. ORDER-DEPENDENT like [[ConversionProcessor]]:
    * replay files must be TIME-sliced, rows re-sort by (ts, event_id)
    * within each batch. The micro-unit rounding replays Spark SQL's
    * ROUND exactly (BigDecimal.valueOf + HALF_UP — valueOf goes through
    * the canonical decimal string like Spark's Round expression; a raw
    * binary BigDecimal would diverge on some doubles).
    */
  class CusumProcessor(targetMicro: Long, alarmMicro: Long)
      extends StatefulProcessor[String, MetricEvent, CusumStat] {
    @transient private var pr: ValueState[Long] = _
    @transient private var mn: ValueState[Long] = _
    @transient private var np: ValueState[Long] = _
    @transient private var na: ValueState[Long] = _
    @transient private var mx: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      def mk(n: String) = getHandle.getValueState[Long](n,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      pr = mk("pr"); mn = mk("mn"); np = mk("np"); na = mk("na"); mx = mk("mx")
    }
    override def handleInputRows(key: String, rows: Iterator[MetricEvent],
                                 timerValues: TimerValues): Iterator[CusumStat] = {
      var p = if (pr.exists()) pr.get() else 0L
      var m = if (mn.exists()) mn.get() else Long.MaxValue
      var n = if (np.exists()) np.get() else 0L
      var a = if (na.exists()) na.get() else 0L
      var x = if (mx.exists()) mx.get() else 0L
      rows.toSeq.sortBy(e =>
        (e.ts.getTime / 1000, e.ts.getNanos, e.event_id)).foreach { e =>
        val v = java.math.BigDecimal.valueOf(e.value * 1000000)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        p += v - targetMicro
        if (p < m) m = p
        val s = p - math.min(0L, m)
        if (s >= alarmMicro) a += 1
        if (s > x) x = s
        n += 1
      }
      pr.update(p); mn.update(m); np.update(n); na.update(a); mx.update(x)
      Iterator.single(CusumStat(key, n, a, x))
    }
  }

  def cusumTws(events: Dataset[MetricEvent], targetMicro: Long,
               alarmMicro: Long): Dataset[CusumStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new CusumProcessor(targetMicro, alarmMicro),
        TimeMode.None(), OutputMode.Update())
  }

  /** Money row for the streaming quantile sketch. */
  case class OrderCents(o_orderstatus: String, cents: Long)

  /** One quantile estimate row; n_total is strictly monotone per key, so
    * `max_by(est_cents, n_total)` over the Update-mode snapshots is the
    * drained answer.
    */
  case class QuantileEst(o_orderstatus: String, pct: Int, est_cents: Long,
                         n_total: Long)

  /** STREAMING equi-width histogram quantiles — the `agg_quantile_sketch`
    * state (bin → count, bin = cents div 10^6) held live as MapState:
    * the sketch is commutative+associative, so the drained state is
    * REPLAY-ORDER-INDEPENDENT (key-split files converge — no
    * time-slicing needed, same class as the HLL processor) and the batch
    * sketch SQL is the exact oracle. Estimate arithmetic is the
    * IDENTICAL integer algebra: k = (pct·total + 99) div 100, est =
    * bin·10^6 + (k − cum_before)·10^6 div n — every term positive, so
    * Scala `/` and SQL DIV/`//` agree. State per key = live-bin count
    * (≈ value range / 10^6), not rows.
    */
  class QuantileSketchProcessor(pcts: Seq[Int])
      extends StatefulProcessor[String, OrderCents, QuantileEst] {
    @transient private var bins: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bins = getHandle.getMapState[Long, Long]("qsketch_bins",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[OrderCents],
                                 timerValues: TimerValues): Iterator[QuantileEst] = {
      rows.foreach { r =>
        val b = r.cents / 1000000L
        val prev = if (bins.containsKey(b)) bins.getValue(b) else 0L
        bins.updateValue(b, prev + 1L)
      }
      val sorted = bins.iterator().toIndexedSeq.sortBy(_._1)
      val total = sorted.map(_._2).sum
      var out = List.empty[QuantileEst]
      pcts.foreach { pct =>
        val k = (pct * total + 99L) / 100L
        var cum = 0L
        val hit = sorted.find { case (_, n) => cum += n; cum >= k }.get
        val (bin, n) = hit
        val est = bin * 1000000L + ((k - (cum - n)) * 1000000L) / n
        out ::= QuantileEst(key, pct, est, total)
      }
      out.reverseIterator
    }
  }

  def quantileSketchTws(rows: Dataset[OrderCents],
                        pcts: Seq[Int]): Dataset[QuantileEst] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.o_orderstatus)
      .transformWithState(new QuantileSketchProcessor(pcts), TimeMode.None(),
        OutputMode.Update())
  }

  /** One per-key HLL snapshot from [[HllDistinctProcessor]]: bucket-hit
    * count + the exact integer harmonic sum Σ 2^(53−mj) over all 64
    * buckets (absent → 2^53) — the caller divides αm² out of it.
    */
  case class HllSnapshot(event_type: String, n_buckets_hit: Long,
                         harmonic_s: Long)

  /** STREAMING distinct-count sketch: per event type, the 64-register
    * HLL of distinct user_ids held as MapState (bucket → register) —
    * cardinality state bounded at 64 ints per key no matter how many
    * users stream past, the sketch a live dashboard actually keeps.
    * Register update is max-merge (associative + commutative +
    * idempotent), so the drained state is REPLAY-ORDER-INDEPENDENT —
    * key-split or time-split files converge identically, and the batch
    * register pipeline over the full table is the exact differential
    * oracle (the md5 bucket/rho derivation is character-for-character
    * the llm_distinct_sketch formula).
    */
  class HllDistinctProcessor extends StatefulProcessor[String, Event, HllSnapshot] {
    @transient private var regs: org.apache.spark.sql.streaming.MapState[Int, Int] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getMapState[Int, Int]("hll_regs",
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaInt, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[HllSnapshot] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { e =>
        md.reset()
        // bucket/rho straight from the digest BYTES — value-identical to
        // the hex-string formula the batch oracle pins (hex char i = the
        // i-th nibble: chars 13..15 = low nibble of byte 6 + byte 7;
        // leading-'0' count = leading zero nibbles; the first nonzero
        // hex char's bonus is its nibble's leading-zero count within 4
        // bits). The %02x/mkString/substring path cost ~46 µs/row at
        // SF~10 (280 s for the 6M-event replay) — this is the same
        // arithmetic without materializing strings.
        val d = md.digest(e.user_id.toString.getBytes("UTF-8"))
        def nib(i: Int): Int =
          if (i % 2 == 0) (d(i / 2) >> 4) & 0xf else d(i / 2) & 0xf
        var zeros = 0
        while (zeros < 13 && nib(zeros) == 0) zeros += 1
        val rho =
          if (zeros == 13) 53
          else {
            val v = nib(zeros)
            zeros * 4 + 1 + (if (v == 1) 3 else if (v < 4) 2
                             else if (v < 8) 1 else 0)
          }
        val bucket = (((d(6) & 0x0f) << 8) | (d(7) & 0xff)) % 64
        val prev = if (regs.containsKey(bucket)) regs.getValue(bucket) else 0
        if (rho > prev) regs.updateValue(bucket, rho)
      }
      var nb = 0L
      var hit = 0L
      regs.iterator().foreach { case (_, mj) =>
        nb += 1; hit += 1L << (53 - mj)
      }
      Iterator.single(HllSnapshot(key, nb, hit + (64L - nb) * (1L << 53)))
    }
  }

  def hllDistinctTws(events: Dataset[Event]): Dataset[HllSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new HllDistinctProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** One exact-distinct snapshot per key; both fields are monotone
    * (bits only ever get set), so max() over the Update-mode snapshots
    * is the drained answer.
    */
  case class BitmapSnap(event_type: String, n_chunks: Long, n_distinct: Long)

  /** STREAMING exact distinct counting via bitmap chunks — the live twin
    * of agg_bitmap_distinct: per event type, MapState maps id-block
    * (user_id / 62) to a packed int64 bitmap; the update is OR (
    * commutative + associative + IDEMPOTENT — replays and duplicate
    * deliveries are both harmless), so the drained state is
    * replay-order-independent and the batch bit_or pipeline is the exact
    * oracle. State = |seen id blocks| longs per key — exact distinct at
    * ~1 bit per id of the OBSERVED id space, the middle ground between
    * COUNT(DISTINCT) materialization and the HLL sketch's ±error.
    */
  class BitmapDistinctProcessor
      extends StatefulProcessor[String, Event, BitmapSnap] {
    @transient private var chunks: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      chunks = getHandle.getMapState[Long, Long]("bitmap_chunks",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[BitmapSnap] = {
      // local OR-merge first (same rationale as TopKProcessor): store
      // work per batch becomes ∝ touched chunks, not rows; OR is
      // commutative+idempotent so the local fold is invisible
      val local = new java.util.HashMap[Long, Long]()
      rows.foreach { e =>
        val c = e.user_id / 62
        val bit = 1L << (e.user_id % 62).toInt
        local.merge(c, bit, (a, b) => a | b)
      }
      local.forEach { (c, bm) =>
        val prev = if (chunks.containsKey(c)) chunks.getValue(c) else 0L
        if ((prev | bm) != prev) chunks.updateValue(c, prev | bm)
      }
      var nc = 0L
      var nd = 0L
      chunks.iterator().foreach { case (_, bm) =>
        nc += 1; nd += java.lang.Long.bitCount(bm)
      }
      Iterator.single(BitmapSnap(key, nc, nd))
    }
  }

  def bitmapDistinctTws(events: Dataset[Event]): Dataset[BitmapSnap] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new BitmapDistinctProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** One top-k ranking row per (key, rank) snapshot; n_total (the key's
    * total processed rows) is strictly monotone per key, so
    * `max_by(..., n_total)` over the Update-mode snapshots is the
    * drained ranking.
    */
  case class TopKSnap(event_type: String, rank: Int, user_id: Long,
                      cnt: Long, n_total: Long)

  /** STREAMING per-key top-k heavy hitters: per event type the exact
    * (user → count) map as MapState, re-ranked to the top-k each batch.
    * Count increment is commutative+associative, so the drained state is
    * REPLAY-ORDER-INDEPENDENT (the unordered multi-file replay converges)
    * and the batch groupBy + rank window is the exact differential
    * oracle. Ties break on user_id ascending — the ranking is total, so
    * the emitted rows are deterministic, not just the count multiset.
    *
    * State per key = one long per distinct user seen for that key: exact
    * by design where the item space is bounded (the dashboard "top
    * pages/users/queries" shape). An UNBOUNDED item space wants the
    * capped SpaceSaving summary instead — but SpaceSaving's evictions are
    * replay-order-DEPENDENT, so it cannot be differentially oracled; the
    * batch CMS-prefilter + exact-confirm pipeline (llm_heavy_hitters) is
    * the scale form of that measurement.
    */
  class TopKProcessor(k: Int) extends StatefulProcessor[String, Event, TopKSnap] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Long, Long]("topk_counts",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[TopKSnap] = {
      // accumulate the batch in a local map first: per-ROW state-store
      // round-trips (contains+get+update ×3) cost 175 s on the 6M-event
      // SF~10 replay; merging locally and writing each TOUCHED key once
      // per batch makes store work ∝ distinct keys, not rows — counts
      // are commutative, so the fold order never shows
      val local = new java.util.HashMap[Long, Long]()
      rows.foreach { e =>
        local.merge(e.user_id, 1L, (a, b) => a + b)
      }
      local.forEach { (u, c) =>
        val prev = if (counts.containsKey(u)) counts.getValue(u) else 0L
        counts.updateValue(u, prev + c)
      }
      val all = counts.iterator().toIndexedSeq
      val nTotal = all.map(_._2).sum
      all.sortBy { case (u, c) => (-c, u) }.take(k).zipWithIndex.map {
        case ((u, c), i) => TopKSnap(key, i + 1, u, c, nTotal)
      }.iterator
    }
  }

  def topKTws(events: Dataset[Event], k: Int): Dataset[TopKSnap] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new TopKProcessor(k), TimeMode.None(),
        OutputMode.Update())
  }

  /** State-partition sizing for the bounded replays (see [[drain]]):
    * every stateful operator runs one state store
    * (open/commit) per shuffle partition per micro-batch, so partitions
    * are sized to state VOLUME, not to the session's scan parallelism.
    * 2 after the r16 sweep over a 10-entry replay subset at sf0.1
    * (min-of-2, back-to-back runs): 8 partitions 43.9 s total,
    * 4 → 36.9 s, 2 → 34.2 s — the bounded replays hold KB of state, so
    * per-partition store open/commit per micro-batch dominates and
    * fewer stores win. A production stream with GBs of state sizes this
    * per job.
    */
  private val streamShufflePartitions = "2"

  /** Start `df`'s query with `start`, block until the source drains, stop
    * it. The query runs with [[streamShufflePartitions]] shuffle
    * partitions, sized to state volume as a real deployment sizes each
    * streaming job, and the session's value is restored after. Spark
    * records the count in the query's checkpoint, so a query resumed from
    * one keeps the count of its first run.
    */
  private def drain(df: DataFrame)
                   (start: DataStreamWriter[Row] => StreamingQuery): Unit =
    graft.Session.withConf(df.sparkSession,
        Map("spark.sql.shuffle.partitions" -> streamShufflePartitions)) {
      val q = start(df.writeStream)
      try {
        q.processAllAvailable()
        // opt-in batch timing breakdown (SPARK_GRAFT_STREAM_DEBUG=1):
        // per-batch durationMs components from the progress log — the
        // measurement view the r16 optimization pass used to see where
        // replay seconds go (planning vs state commit vs sink)
        if (sys.env.contains("SPARK_GRAFT_STREAM_DEBUG"))
          q.recentProgress.foreach { p =>
            System.err.println(s"[stream-debug] ${Option(q.name).getOrElse(q.id)} " +
              s"batch=${p.batchId} rows=${p.numInputRows} durations=${p.durationMs}")
          }
      }
      finally q.stop()
    }

  /** Drive any of the above to an in-memory table and block until the
    * source drains — the test/demo harness path.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    // the memory sink registers `name` as a session temp view holding the
    // full result; drop any previous run's table first so callers can use
    // a FIXED sink name per entry and repeated invocations in one
    // long-lived session (Verify loops, Bench, Explain) never accumulate
    // result tables in driver memory
    df.sparkSession.catalog.dropTempView(name)
    drain(df)(_.format("memory").queryName(name).outputMode(mode).start())
  }

  /** Drive a stream through a foreachBatch sink and block until the
    * source drains — the MERGE/upsert deployment shape: each micro-batch
    * runs arbitrary batch logic (join against the serving table, rewrite
    * it) with the batch id for idempotence.
    */
  def runForeachBatch(df: DataFrame, checkpointDir: String)
                     (fn: (DataFrame, Long) => Unit): Unit =
    drain(df)(_.option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Row], id: Long) => fn(b.toDF(), id) }
      .outputMode(OutputMode.Append())
      .start())

  /** Append-mode parquet FILE sink: exactly-once landing via the sink's
    * `_spark_metadata` commit log — a batch read of `outDir` sees only
    * manifest-committed files, so a crashed batch's orphans are
    * invisible. This is the landing path a continuous ingest uses at
    * scale; `checkpointDir` carries source offsets + the sink log and
    * must outlive the query for resume (callers here replay bounded
    * input, so they own both dirs' lifecycle).
    */
  def runToParquet(df: DataFrame, outDir: String,
                   checkpointDir: String): Unit =
    drain(df)(_.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start())

  /** The RocksDB state store: the only provider implementing the
    * transformWithState v2 state layer. An entry that needs it passes
    * these confs to [[replay]]; they are never a session default.
    */
  val rocksDb: Map[String, String] = {
    val p = "spark.sql.streaming.stateStore."
    // Memory headroom adopted from the r14 TwsProbe factor-100 sweep
    // (graft.TwsProbe): 256 MB block cache + 256 MB × 4 write buffers
    // read best-or-equal for all three MapState sketch entries in both
    // probe runs (topk −34% in the clean run); defaults are 8 MB / 64 MB
    // — far below what a 128 GiB box should give an update-heavy store.
    // No conf moves the floor more than ~30%: per-row work is the
    // streaming sketch ceiling (hll ≈ 7 µs/row), as pinned in SURVEY.
    Map(p + "providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      p + "rocksdb.blockCacheSizeMB" -> "256",
      p + "rocksdb.writeBufferSizeMB" -> "256",
      p + "rocksdb.maxWriteBufferNumber" -> "4")
  }

  /** Land each of `slices` as ONE parquet file `f<first + i>.parquet` in
    * `landing`, with mtimes 60 s apart in slice order. The file source
    * admits files oldest mtime first, so through [[replaySource]] slice i
    * is micro-batch `first + i`: a deterministic replay schedule. The
    * slices stage concurrently (r16 opt, guide §2.6 "overlap independent
    * jobs"): each is a scan+repartition(1)+write job whose write stage is
    * one task, and a small pool lets the next job's scan tasks backfill
    * the previous one's single-task tail. Contents and mtimes do not
    * depend on completion order.
    */
  def stage(landing: String, slices: Seq[DataFrame], first: Int = 0): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val t0 = System.currentTimeMillis() - 600000
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(slices.size, 4).max(1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(
      Future.sequence(slices.zipWithIndex.map { case (df, i) =>
        Future(stageFile(landing, df, s"f${first + i}.parquet",
          t0 + (first + i) * 60000L))
      }), Duration.Inf): Unit
    finally pool.shutdown()
  }

  private def stageFile(landing: String, df: DataFrame, name: String,
                        mtimeMs: Long): Unit = {
    val tmp = new java.io.File(graft.Session.scratch(df.sparkSession, "stage_one"))
    df.repartition(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = java.nio.file.Paths.get(landing, name)
    java.nio.file.Files.move(part.toPath, dest)
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    graft.Tables.deleteRecursively(tmp)
  }

  /** The files [[stage]] landed in `landing`, as a stream that admits one
    * file per trigger.
    */
  def replaySource(spark: SparkSession, landing: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(landing)

  /** Stage `slices` in a fresh landing dir under the run root, run `f` on
    * the one-file-per-trigger stream over it, and delete the dir.
    */
  def staged[T](slices: Seq[DataFrame])(f: DataFrame => T): T = {
    val spark = slices.head.sparkSession
    val landing = graft.Session.scratch(spark, "replay")
    try {
      stage(landing, slices)
      f(replaySource(spark, landing, slices.head.schema))
    } finally graft.Tables.deleteRecursively(new java.io.File(landing))
  }

  /** The bounded replay: `slices` in order, one micro-batch each, through
    * `query`, drained to the memory sink `sink` with `confs` set around
    * the query (e.g. [[rocksDb]]). Returns the sink's table.
    */
  def replay(slices: Seq[DataFrame], sink: String, mode: OutputMode,
             confs: Map[String, String] = Map.empty)
            (query: DataFrame => DataFrame): DataFrame = {
    staged(slices) { src =>
      graft.Session.withConf(src.sparkSession, confs)(runToMemory(query(src), sink, mode))
    }
    slices.head.sparkSession.table(sink)
  }

  /** `df` cut into `n` slices by the row id `id` (`id % n`). Slice by a
    * row id, never by the state key, so each key's rows span batches.
    */
  def idSlices(df: DataFrame, id: String, n: Int = 3): Seq[DataFrame] =
    (0 until n).map(i => df.where(s"($id) % $n = $i"))

  /** `events` cut into four slices by event time at the quartiles of its
    * `ts` span, oldest first. An order-dependent state machine's replay
    * slices by TIME, never by key: the late-events filter drops key-split
    * history before the operator (TimerProbeSpec).
    */
  def timeQuartiles(events: DataFrame): Seq[DataFrame] = {
    val mm = events
      .selectExpr("unix_micros(min(ts)) AS mn", "unix_micros(max(ts)) AS mx").head
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val cuts = (1 to 3).map(q => mn + q * (mx - mn) / 4)
    val us = expr("unix_micros(ts)")
    (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue).map { case (lo, hi) =>
      events.where(us > lo && us <= hi)
    }
  }
}
