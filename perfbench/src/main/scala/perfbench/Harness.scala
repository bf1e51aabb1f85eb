package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one fresh JVM, driven by `perfbench/run.py`.
  *
  * A `graft.Session`, table registration, then untimed warm passes, the
  * first of which writes every entry's output for the DuckDB check, then
  * timed passes through the `noop` sink until `--seconds` have gone by, and
  * at least [[MinPasses]] of them. One client runs one entry at a time (a
  * closed loop); the seed permutes the entry order of every pass. Raw
  * figures go to `<out>/result.json`.
  *
  * Arguments: `--sf DIR --out DIR --entries a,b,c --seed N --seconds S
  * --trace 0|1`. With `--trace 1` each pass also records the layer
  * metrics of [[Trace.scala]] and the run ends with the Dedup probe.
  */
object Harness {
  type Entry = (SparkSession, String) => DataFrame

  /** Each entry is scored by its median over the timed passes; fewer than
    * three would make that a mean or a single reading.
    */
  val MinPasses = 3

  /** Untimed noop passes after the first warm pass; see `warmS`. */
  val WarmNoopPasses = 1

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val uptimeAtMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    def sinceStart(): Double = uptimeAtMain + (System.nanoTime() - mainNs) / 1e9
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sf = opt("sf")
    val out = opt("out")
    val names = opt("entries").split(',').toSeq
    val rng = new scala.util.Random(opt("seed").toLong)
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(",")}")
    val entries: Map[String, Entry] = graft.SparkEntry.queries.view.filterKeys(names.contains).toMap

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    val t0 = sinceStart()
    val spark = graft.Session.local("perfbench")
    val sessionS = sinceStart() - t0
    val registerS = time(graft.Tables.register(spark, sf))
    val sc = spark.sparkContext
    val exec = new ExecTrace
    val plans = new PlanTrace
    val streams = new StreamTrace
    if (trace) {
      sc.addSparkListener(exec)
      spark.listenerManager.register(plans)
      spark.streams.addListener(streams)
    }

    // Off the clock before every entry: drop cached and checkpointed
    // blocks, blocking, so one entry's storage cannot tax the next.
    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    def attempt(name: String)(body: => Unit): Option[Double] =
      try Some(time(body))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }

    // One timed pass through the noop sink, in a seed-drawn order; with
    // tracing, the layer metrics of the pass ride along.
    def pass(): Json.Obj = {
      // the previous pass's garbage is collected before the clock runs
      System.gc()
      val order = rng.shuffle(names)
      val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val times = order.map { n =>
        release()
        val triggerBefore = streams.triggerMs
        var buildS, planS = 0.0
        val sec = attempt(n) {
          val t0 = System.nanoTime()
          val df = entries(n)(spark, sf)
          buildS = (System.nanoTime() - t0) / 1e9
          if (trace) planS = time(df.queryExecution.executedPlan)
          df.write.format("noop").mode("overwrite").save()
        }
        if (trace) {
          PerfbenchBus.drain(sc)
          layers("queries.build_s") += buildS
          layers("plan.plan_s") += planS
          plans.take().foreach { case (k, v) => layers(k) += v }
          // a streaming entry's build includes its replay; the part of it
          // outside micro-batch triggers is start, stop and staging
          val triggerS = (streams.triggerMs - triggerBefore) / 1e3
          layers("stream.start_stop_s") += (if (triggerS > 0) buildS - triggerS else 0.0)
        }
        n -> sec
      }
      release()
      if (trace) {
        PerfbenchBus.drain(sc)
        (exec.take() ++ streams.take()).foreach { case (k, v) => layers(k) += v }
      }
      Json.Obj(
        "order" -> Json.Arr(order.map(Json.Str)),
        "seconds" -> Json.Obj(times.collect { case (n, Some(s)) => n -> Json.Num(s) }: _*),
        "failed" -> Json.Arr(times.collect { case (n, None) => Json.Str(n) }),
        "layers" -> Json.Obj(layers.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*))
    }

    // Warm-up, untimed. The first pass takes the JIT, codegen, page-cache
    // and one-time streaming initialization costs, and writes each entry's
    // output once for the DuckDB check, which never runs on the clock.
    // Noop passes after it keep getting faster for several more passes
    // (tpch: 4.25, 3.69, 3.20, 3.20, 3.22 s after one discarded noop
    // pass), because the JIT never goes quiet; [[WarmNoopPasses]] of them
    // run and are discarded, and the median over the timed passes absorbs
    // the slower early ones. More warm passes do not fit a run's time.
    val warmS = time {
      rng.shuffle(names).foreach { n =>
        release()
        attempt(n) {
          entries(n)(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$out/outputs/$n")
        }
      }
      (1 to WarmNoopPasses).foreach(_ => pass())
    }
    val setupS = sinceStart()

    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val clock = System.nanoTime()
    while (passes.size < MinPasses || System.nanoTime() - clock < seconds * 1e9)
      passes += pass()
    val peakRssMb = vmHwmMb()

    val (probe, violations) =
      if (trace) DedupProbe.run(spark, body => time(body), () => release())
      else (Map.empty[String, Double], Seq.empty[String])

    // scripts/check.py reads the entries' oracle SQL next to their outputs
    val oracles = graft.SparkEntry.oracleSql
    Files.write(Paths.get(out, "outputs", "oracle_sql.json"), Json.Obj(
      names.flatMap(n => oracles.get(n).map(s => n -> Json.Str(s))): _*).render.getBytes(UTF_8))
    val result = Json.Obj(
      "entries" -> Json.Arr(names.map(Json.Str)),
      "setup_s" -> Json.Num(setupS),
      "setup" -> Json.Obj(
        "setup.session_s" -> Json.Num(sessionS),
        "setup.register_s" -> Json.Num(registerS),
        "setup.warm_s" -> Json.Num(warmS)),
      "passes" -> Json.Arr(passes.toSeq),
      "peak_rss_mb" -> Json.Num(peakRssMb),
      "probe" -> Json.Obj(probe.toSeq.map { case (k, v) => k -> Json.Num(v) }: _*),
      "violations" -> Json.Arr(violations.map(Json.Str)))
    Files.write(Paths.get(out, "result.json"), result.render.getBytes(UTF_8))
    spark.stop()
  }

  /** Peak resident set of this JVM (`VmHWM`), in MiB. */
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"), UTF_8)
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Just enough JSON to hand the raw figures to run.py. */
object Json {
  sealed trait V { def render: String }
  final case class Num(v: Double) extends V {
    def render: String = if (v.isNaN || v.isInfinite) "null" else v.toString
  }
  final case class Str(s: String) extends V {
    def render: String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  }
  final case class Arr(vs: Seq[V]) extends V {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kvs: (String, V)*) extends V {
    def render: String = kvs.map { case (k, v) => Str(k).render + ":" + v.render }
      .mkString("{", ",", "}")
  }
}
