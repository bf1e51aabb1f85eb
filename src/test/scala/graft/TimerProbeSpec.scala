package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import graft.streaming.Streams

/** Pins the probed transformWithState event-time TIMER semantics the
  * ts_stream_tws_timers entry depends on (found empirically in round 10):
  *
  *  1. during batch N the processor's `getCurrentWatermarkInMs` is the
  *     EVICTION watermark = ms-floored max event ts through batch N-1
  *     minus the delay; timers at-or-below it fire at the END of batch N
  *     (after input processing — a same-batch arm of an already-expired
  *     timer fires immediately in that batch);
  *  2. the post-drain NO-DATA batch (triggered iff the watermark advanced
  *     after the last data batch) also fires timers;
  *  3. input rows older than the LATE-EVENTS watermark — which is DOUBLY
  *     lagged: batch N-1's displayed value, i.e. from data through
  *     batch N-2 — are dropped BEFORE the processor, so bounded replays
  *     must slice files by TIME, never by key (a key-split file of deep
  *     history arrives "late" and its keys silently never arm).
  */
class TimerProbeSpec extends SparkSpec {
  import spark.implicits._

  private def ev(uid: Long, h: Int): org.apache.spark.sql.DataFrame =
    Seq((java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"), uid,
      "t", 1.0)).toDF("ts", "user_id", "event_type", "value")

  test("watermark chain: arm at wm+1 fires every key, incl. the no-data batch") {
    Streams.replay(Seq(ev(1, 0), ev(2, 6), ev(3, 12)), "timer_probe_sink",
        OutputMode.Append(), Streams.rocksDb) { src =>
      // gap 1h: expiries 01:00 / 07:00 / 13:00. Keys 1 and 2 expire below
      // the final watermark 12:00 and fire; key 3's expiry 13:00 exceeds
      // it, so its timer stays armed in state and must NOT fire — the
      // assertion below pins exactly that (SessionTimerProcessor registers
      // last_ms+gap verbatim; there is no wm+1 re-arm clamp).
      Streams.sessionExpiryTws(src.withWatermark("ts", "0 seconds").as[Streams.Event],
        gapMs = 3600L * 1000).toDF()
    }
    val rows = spark.table("timer_probe_sink")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // key 3's logical expiry 13:00 exceeds the final watermark 12:00 —
    // the clamp must NOT make an unexpired session fire early
    assert(rows.keySet == Set(1L, 2L), s"fired: $rows")
    assert(rows.values.toSet == Set(1L), "each key carried one event")
  }

  test("an already-expired arm fires at the end of its own batch") {
    // f0 moves the watermark to 18:00; f1's key 2 (ts 06:00, expiry
    // 07:00 << wm 18:00) arms an ALREADY-EXPIRED timer during b1 — and
    // b1's own end-of-batch sweep (ceiling 18:00) fires it. There is no
    // "scan floor": the sweep covers everything at-or-below the ceiling.
    Streams.replay(Seq(ev(1, 0).union(ev(9, 18)), ev(2, 6)), "timer_probe_sf_sink",
        OutputMode.Append(), Streams.rocksDb) { src =>
      Streams.sessionExpiryTws(src.withWatermark("ts", "0 seconds").as[Streams.Event],
        gapMs = 3600L * 1000).toDF()
    }
    val fired = spark.table("timer_probe_sf_sink")
      .collect().map(_.getLong(0)).toSet
    // key 1 (armed b0, expiry 01:00 < ceiling 18:00 at b1) fires; key 2
    // fires in its own arming batch; keys 9 (expiry 19:00 > final wm)
    // stays in state
    assert(fired == Set(1L, 2L), s"fired: $fired")
  }

  test("late filter: key-split deep history is dropped before the processor") {
    // f0 moves the watermark to 18:00 (0s delay); f1 carries key 2's
    // whole history at 00:00/01:00 — older than the late-events
    // watermark by b2... which is DOUBLE-lagged (b1's displayed value,
    // here 18:00), so the rows are dropped and key 2 never arms
    Streams.replay(Seq(ev(9, 18), ev(9, 19), ev(2, 0).union(ev(2, 1))),
        "timer_probe_lf_sink", OutputMode.Append(), Streams.rocksDb) { src =>
      Streams.sessionExpiryTws(src.withWatermark("ts", "0 seconds").as[Streams.Event],
        gapMs = 3600L * 1000).toDF()
    }
    val fired = spark.table("timer_probe_lf_sink")
      .collect().map(_.getLong(0)).toSet
    assert(!fired.contains(2L),
      "key 2's late-filtered history unexpectedly reached the processor — " +
        "if this ever fires, the ts_stream_tws_timers oracle contract " +
        "must be revisited")
  }
}
