package graft

import java.io.FileOutputStream

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}

/** The Arrow IPC DataSource V2: multi-file scan, schema inference, value
  * fidelity against the parquet original, and column pruning pushed into
  * the reader.
  */
class ArrowIpcSourceSpec extends SparkSpec {

  private def writeArrowFile(path: String, rows: Seq[(Long, String, Long)]): Unit = {
    val alloc = new RootAllocator(Long.MaxValue)
    val schema = new Schema(Seq(
      new Field("n_nationkey", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("n_name", FieldType.nullable(new ArrowType.Utf8()), null),
      new Field("n_regionkey", FieldType.nullable(new ArrowType.Int(64, true)), null)
    ).asJava)
    val root = VectorSchemaRoot.create(schema, alloc)
    val out = new FileOutputStream(path)
    val writer = new ArrowStreamWriter(root, null, out)
    try {
      writer.start()
      // two batches per file to exercise batch iteration
      rows.grouped(math.max(1, rows.length / 2 + rows.length % 2)).foreach { chunk =>
        root.allocateNew()
        val k = root.getVector("n_nationkey").asInstanceOf[BigIntVector]
        val n = root.getVector("n_name").asInstanceOf[VarCharVector]
        val r = root.getVector("n_regionkey").asInstanceOf[BigIntVector]
        chunk.zipWithIndex.foreach { case ((key, name, reg), i) =>
          k.setSafe(i, key)
          n.setSafe(i, name.getBytes("UTF-8"))
          r.setSafe(i, reg)
        }
        root.setRowCount(chunk.length)
        writer.writeBatch()
      }
      writer.end()
    } finally { writer.close(); out.close(); root.close(); alloc.close() }
  }

  private lazy val dir: String = {
    val d = Session.scratch(spark, "arrow")
    Tables.register(spark, sfSmoke)
    val rows = spark.table("nation")
      .selectExpr("CAST(n_nationkey AS BIGINT)", "n_name",
        "CAST(n_regionkey AS BIGINT)")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    // split across two files -> two input partitions
    writeArrowFile(s"$d/part0.arrows", rows.take(13).toSeq)
    writeArrowFile(s"$d/part1.arrows", rows.drop(13).toSeq)
    d
  }

  private def arrowDF = spark.read.format("graft.sources.ArrowIpcSource").load(dir)

  test("schema is inferred from the file header") {
    assert(arrowDF.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      ("n_nationkey", "bigint"), ("n_name", "string"), ("n_regionkey", "bigint")))
  }

  test("round-trips the nation table across two files and multiple batches") {
    val got = arrowDF.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val want = spark.table("nation")
      .selectExpr("CAST(n_nationkey AS BIGINT)", "n_name",
        "CAST(n_regionkey AS BIGINT)").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    assert(arrowDF.rdd.getNumPartitions == 2)
  }

  test("joins and aggregates compose over the arrow scan") {
    Tables.register(spark, sfSmoke)
    val viaArrow = arrowDF
      .join(spark.table("region"), expr("n_regionkey = r_regionkey"))
      .groupBy("r_name").count().orderBy("r_name")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(viaArrow.length == 5 && viaArrow.map(_._2).sum == 25L)
  }

  private def expr(s: String) = org.apache.spark.sql.functions.expr(s)

  test("DSv2 write path: two-phase commit round-trip with overwrite") {
    val out = Session.scratch(spark, "arrow_w")
    val src = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    src.repartition(3).write.format("graft.sources.ArrowIpcSource")
      .mode("overwrite").save(out)
    // overwrite again: truncate clears the first generation
    src.repartition(2).write.format("graft.sources.ArrowIpcSource")
      .mode("overwrite").save(out)
    val all = new java.io.File(out).listFiles.map(_.getName).sorted
    // truncate restarts the snapshot log: exactly one manifest survives
    assert(all.filter(_.endsWith(".manifest")).toSeq == Seq("_v1.manifest"),
      all.mkString(","))
    val files = all.filterNot(_.startsWith("_"))
    assert(files.forall(_.endsWith(".arrows")), files.mkString(","))
    assert(files.length == 2, "truncate left stale files behind")
    val got = spark.read.format("graft.sources.ArrowIpcSource").load(out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val want = src.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("reading a missing path fails loudly instead of returning empty") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ArrowIpcSource")
        .load("/graft_no_such_dir").collect()
    }
    assert(e.getMessage.contains("no arrow files under"))
  }

  test("append mode adds a generation without clobbering the previous one") {
    val out = Session.scratch(spark, "arrow_a")
    val src = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    src.write.format("graft.sources.ArrowIpcSource").mode("overwrite").save(out)
    src.write.format("graft.sources.ArrowIpcSource").mode("append").save(out)
    val n = spark.read.format("graft.sources.ArrowIpcSource").load(out).count()
    assert(n == 2 * src.count(), "append lost or replaced the first generation")
  }

  test("time travel: version-pinned reads are immune to later appends") {
    val out = Session.scratch(spark, "arrow_tt")
    val src = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    val n0 = src.count()
    src.write.format("graft.sources.ArrowIpcSource").mode("overwrite").save(out)
    src.write.format("graft.sources.ArrowIpcSource").mode("append").save(out)
    src.write.format("graft.sources.ArrowIpcSource").mode("append").save(out)
    def at(v: Int) = spark.read.format("graft.sources.ArrowIpcSource")
      .option("version", v.toString).load(out).count()
    assert(at(1) == n0 && at(2) == 2 * n0 && at(3) == 3 * n0,
      "snapshots must capture the table as of each commit")
    // unpinned read = current table
    assert(spark.read.format("graft.sources.ArrowIpcSource").load(out)
      .count() == 3 * n0)
    // a snapshot that never existed fails loudly
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.ArrowIpcSource")
        .option("version", "9").load(out).count()
    }
    assert(ex.getMessage.contains("_v9.manifest"),
      s"missing snapshot must name itself, got: ${ex.getMessage.take(200)}")
    // overwrite clears the log and restarts at v1 (old files are gone —
    // retention across truncate is explicitly not carried)
    src.write.format("graft.sources.ArrowIpcSource").mode("overwrite").save(out)
    assert(at(1) == n0, "post-overwrite v1 must be the new generation")
    intercept[Exception] {
      spark.read.format("graft.sources.ArrowIpcSource")
        .option("version", "3").load(out).count()
    }
  }

  test("commit-log stream resumes exactly-once from its checkpoint") {
    val tbl = Session.scratch(spark, "arrow_cl")
    val ck = Session.scratch(spark, "arrow_cl_ck")
    val src = spark.read.format("graft.sources.ArrowIpcSource").load(dir)
    val n0 = src.count()
    src.write.format("graft.sources.ArrowIpcSource").mode("append").save(tbl)
    src.write.format("graft.sources.ArrowIpcSource").mode("append").save(tbl)
    def drain(): Seq[(Long, Long)] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val stream = spark.readStream.format("graft.sources.ArrowIpcSource")
        .option("maxVersionsPerTrigger", 1).load(tbl)
      graft.streaming.Streams.runForeachBatch(stream, ck) { (b, id) =>
        got += ((id, b.count()))
      }
      got.toSeq
    }
    // first run: one micro-batch per committed version
    assert(drain() == Seq((0L, n0), (1L, n0)),
      "each commit must arrive as its own micro-batch")
    // a third commit lands while the stream is DOWN; the restarted
    // stream must pick up exactly that commit — nothing rereads
    src.write.format("graft.sources.ArrowIpcSource").mode("append").save(tbl)
    assert(drain() == Seq((2L, n0)),
      "restart must resume from the checkpointed version offset")
    // and a drained log yields no batches at all
    assert(drain().isEmpty)
  }

  test("column pruning reaches the scan") {
    val plan = arrowDF.select("n_name").queryExecution.executedPlan.toString
    assert(plan.contains("ArrowIpcScan"), s"custom scan missing:\n$plan")
    assert(plan.contains("struct<n_name:string>"),
      s"scan reads unprojected columns:\n$plan")
  }

  test("list columns round-trip with null lists, null elements, empty lists") {
    import spark.implicits._
    val rows = Seq(
      (1L, Option(Seq(Option(1.5f), None, Option(-2.25f)))),
      (2L, Option(Seq.empty[Option[Float]])),
      (3L, Option.empty[Seq[Option[Float]]]),
      (4L, Option(Seq(Option(7.125f)))))
    val df = rows.toDF("id", "xs")
    val out = Session.scratch(spark, "arrow_l")
    df.write.format("graft.sources.ArrowIpcSource").mode("overwrite").save(out)
    val back = spark.read.format("graft.sources.ArrowIpcSource").load(out)
    assert(back.schema("xs").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, true))
    val got = back.collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Any](1).toList)).toMap
    assert(got(1L) == List(1.5f, null, -2.25f))
    assert(got(2L) == Nil)
    assert(got(3L) == null)
    assert(got(4L) == List(7.125f))
  }
}
