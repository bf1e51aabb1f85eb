package graft

import java.io.File

/** Every file graft writes lands under the session's run root: the Io
  * entries' files (`Io.base`), streaming replays' checkpoints and managed
  * (saveAsTable) tables add nothing to `java.io.tmpdir` outside it.
  */
class RunRootSpec extends SparkSpec {

  private val tmpdir = new File(System.getProperty("java.io.tmpdir")).getCanonicalFile

  /** Files the JVM makes once, on first use, whatever runs it: lz4-java
    * and snappy-java extract their native libraries, Spark's
    * ArtifactManager makes its process-wide root on the first session
    * clone. Not per run or per entry, and deleted at JVM exit.
    */
  private val jvmOnce = Seq("liblz4-java-", "snappy-", "artifacts-")

  /** Every entry of `java.io.tmpdir` outside the run root, and the whole
    * tree with mtimes of each graft-named one that is not another run's
    * root: a write into what an older build left behind shows as well as
    * a new entry.
    */
  private def snapshot(root: File): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      (f.getPath -> f.lastModified) +: Option(f.listFiles).toSeq.flatten.flatMap(walk)
    tmpdir.listFiles.toSeq
      .filterNot(f => f.getName == root.getName || jvmOnce.exists(f.getName.startsWith))
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith("graft") && !n.startsWith("graft_run")) walk(f)
        else Seq(f.getPath -> 0L)
      }
      .toMap
  }

  test("the run root is a fresh graft_run dir in java.io.tmpdir holding the warehouse") {
    val root = Session.root(spark)
    assert(root.getCanonicalFile.getParentFile == tmpdir)
    assert(root.getName.startsWith("graft_run"))
    assert(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      .startsWith(root.getPath))
    val scratch = new File(Session.scratch(spark, "probe"))
    assert(scratch.isDirectory && scratch.getParentFile == root)
  }

  test("Io, staging and warehouse entries leave nothing outside the run root") {
    val root = Session.root(spark)
    val before = snapshot(root)
    Seq(
      "ts_stream_file_sink",  // file sink + checkpoint under Io.base
      "ts_stream_commit_log", // Arrow log + checkpoint under Io.base
      "ts_stream_window_agg", // streams the fixture file, memory sink
      "bucketed_join"         // saveAsTable into the warehouse
    ).foreach(n => assert(SparkEntry.queries(n)(spark, sfSmoke).count() > 0, n))
    val touched = snapshot(root).filter { case (p, m) => !before.get(p).contains(m) }.keys
    assert(touched.isEmpty, s"entries wrote outside the run root: ${touched.mkString(", ")}")
    val io = new File(root, s"io/${new File(sfSmoke).getName}")
    assert(new File(io, "stream_file_sink").isDirectory)
    assert(new File(io, "stream_commit_log").isDirectory)
    assert(new File(root, "warehouse/b_orders").isDirectory)
  }
}
