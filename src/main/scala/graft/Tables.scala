package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table catalog: registers every parquet table under a scale-factor
  * directory as a temp view, mirroring the reference's `register_parquet`
  * (reference `src/context.rs:57-67`) and its TPC-H harness table loop
  * (reference `tpch/tpcbench.py:46-55`). [[graft.queries.Entry.run]] is
  * the one caller on the query path: entry bodies only name the views.
  *
  * Scale note: the views are lazy, but registering infers each table's
  * schema, one Spark job per table. Filters/projections in queries reach
  * the scan via Catalyst pushdown, so the same registration works
  * unchanged at 100 TB (directory paths
  * instead of single files; Spark's FileSourceScanExec handles splits,
  * partition pruning and predicate pushdown).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `<dir>/<name>.parquet` as a batch frame. `events.ts` has shipped in
    * two parquet generations: TIMESTAMP(NANOS) (read as raw nanos via the
    * legacy conf `Session.local` pins, floor-divided to micros — the
    * truncation DuckDB applies when casting TIMESTAMP_NS down) and, since
    * the round-9 fixtures, plain micros with isAdjustedToUTC=false, which
    * Spark infers as TIMESTAMP_NTZ. Event-time streaming (watermarks) and
    * unix_micros demand TimestampType, so the NTZ generation is cast to
    * session-time TIMESTAMP — the session is pinned UTC, so wall-clock
    * values are unchanged and stay identical to DuckDB's naive read.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalize(name, spark.read.parquet(s"$dir/$name.parquet"))

  /** `<dir>/<name>.parquet` as a file-source stream, normalized as in
    * [[load]]: a bounded replay reads the fixture file itself, with no
    * staging copy, and its first micro-batch admits the one file whole.
    * The schema costs the same one inference job as [[load]].
    */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    normalize(name, graft.streaming.Streams.fromParquet(
      spark, path, spark.read.parquet(path).schema))
  }

  private def normalize(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` is exact int64 division (a double divide would lose
        // precision above 2^53 ns); post-epoch fixtures, trunc == floor.
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }

  // Registration is idempotent per (session, dir): Entry.run calls it
  // before every body, but within one Verify/Bench session only the first
  // call reads footers / touches the catalog. At 100 TB a directory listing
  // per query is a real driver cost; this caps it at one per session.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Recursive local delete: graft's one implementation (run root,
    * entry staging, managed tables, the Arrow sink).
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Drop a managed (saveAsTable) table AND its warehouse directory. With
    * the in-memory catalog a fresh session forgets the table but the files
    * survive, and a later CTAS fails with LOCATION_ALREADY_EXISTS —
    * callers writing bucketed tables must clear both.
    */
  def dropManaged(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    deleteRecursively(new java.io.File(wh, name))
  }

  /** Register all fixture tables as temp views in `spark` for SQL access. */
  def register(spark: SparkSession, dir: String): Unit =
    if (registered.get(spark) != dir) {
      all.foreach { t => load(spark, dir, t).createOrReplaceTempView(t) }
      registered.put(spark, dir)
    }
}
