package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** One shared SparkSession builder for Verify, Bench and tests, so the
  * benched plans are byte-identical to the verified ones (UTC pinned,
  * same shuffle partitioning, same AQE behavior). Mirrors the single
  * `SessionContext` the reference builds in `src/context.rs:42-52`.
  *
  * Scale notes (100 TB): AQE is explicitly on — at real scale it
  * re-plans sort-merge joins into broadcast joins from runtime stats,
  * coalesces undersized shuffle partitions and splits skewed ones
  * (`skewJoin.enabled`). `shuffle.partitions` defaults to the local
  * core count here; on a cluster it should be ~2-3x total cores —
  * it is env-overridable for that reason.
  *
  * Files: every file graft writes outside a caller-named output lives
  * under one run root, a fresh `graft_run*` directory in `java.io.tmpdir`
  * made per SparkContext — the warehouse, the Io entries' files
  * ([[root]]), entry staging and the scale mains' replicas
  * ([[scratch]]). The root is deleted when the SparkContext stops, on an
  * explicit `stop()` and on Spark's own shutdown hook alike (both post
  * the application-end event), so two runs never share a file and
  * nothing a run writes outlives it.
  */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  private val roots = new java.util.concurrent.ConcurrentHashMap[SparkContext, File]()

  def local(appName: String = "graft"): SparkSession = {
    val root = Files.createTempDirectory("graft_run").toFile
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.ts is TIMESTAMP(NANOS) parquet; see Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Every StreamingQuery runs in a cloned session; with artifact
      // isolation on, each clone gets a fresh executor class loader, and
      // the codegen cache is keyed on (class loader, code), so each
      // replay recompiled all its generated classes (ts_stream_window_agg:
      // 14 Janino compiles of 20-30 ms per run, 0 with isolation off).
      // graft adds no jars or artifacts to any session.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // bucketed saveAsTable target (in-memory catalog): inside the run
      // root, never the cwd's default spark-warehouse/
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    if (roots.putIfAbsent(sc, root) == null)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          roots.remove(sc)
          Tables.deleteRecursively(root)
        }
      })
    else root.delete(): Unit // an existing context keeps its own root
    sc.setLogLevel("WARN")
    spark
  }

  /** The run root of `spark`'s SparkContext. */
  def root(spark: SparkSession): File =
    Option(roots.get(spark.sparkContext)).getOrElse(throw new IllegalStateException(
      "no graft run root: session not built by graft.Session.local, or stopped"))

  /** A fresh directory `<root>/<name><random>` under the run root. */
  def scratch(spark: SparkSession, name: String): String =
    Files.createTempDirectory(root(spark).toPath, name).toString

  /** Run `body` with `confs` set on `spark`'s session, then put each key
    * back as it was: its previous value, or unset if it had none. Restores
    * also when `body` throws. The one way graft changes a session conf
    * for a scope.
    */
  def withConf[T](spark: SparkSession, confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
