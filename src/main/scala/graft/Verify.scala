package graft
import java.nio.file.{Files, Paths}
import graft.queries.Entry
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The two phases of the dump: (run on a 4-thread pool, then run one at a
    * time). r16 verdict #1: the serial full dump was ~35 min, too close to
    * the driver's budget. Spark schedules concurrent jobs fine (guide §2.6);
    * what may not overlap is an entry that mutates session state
    * ([[Entry.mutatesSession]]). Each entry writes its own output
    * directory, so the dump does not depend on completion order.
    */
  def phases(entries: Seq[Entry]): (Seq[Entry], Seq[Entry]) =
    entries.partition(!_.mutatesSession)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run a SUBSET of queries (r16: the full dump
    // is ~35 min at sf0.01 — a per-change correctness loop needs the
    // same subset support Bench has). The driver calls with 2 args and
    // gets the full dump, unchanged.
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val spark = Session.local("graft-verify")
    Tables.register(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val ok = new java.util.concurrent.atomic.AtomicInteger
    def dump(e: Entry): Unit =
      try {
        Shared.scope(spark) {
          e.run(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${e.name}")
        }
        ok.incrementAndGet()
      } catch { case t: Throwable =>
        System.err.println(s"[verify] ${e.name} failed: ${t.getMessage}")
      }
    val (pooled, serial) = phases(selected)
    val poolS = Bench.time {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.traverse(pooled)(e => Future(dump(e))), Duration.Inf)
      finally pool.shutdown()
    }
    val serialS = Bench.time(serial.foreach(dump))
    System.err.println(f"[verify] ${ok.get} ok, ${selected.size - ok.get} failed; " +
      f"pool $poolS%.1f s (${pooled.size}), serial $serialS%.1f s (${serial.size})")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
