package graft

import java.io.File

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** The Avro DataSource V2: schema inference from the container header,
  * value fidelity (including an externally-written file — proving
  * interop, not just self-consistency), nulls via union(null, T),
  * two-phase-commit writes, and column pruning at the decode step.
  */
class AvroSourceSpec extends SparkSpec {

  import org.apache.spark.sql.types._

  /** A file written by the plain Avro library (NOT our sink): the reader
    * must consume foreign Avro, or it is only round-tripping itself.
    */
  private def writeForeignFile(path: String,
                               rows: Seq[(Long, String, Option[Double])]): Unit = {
    val schema = graft.sources.Avro.avroSchemaOf(StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType))))
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new File(path))
    try rows.foreach { case (id, name, score) =>
      val rec = new GenericData.Record(schema)
      rec.put("id", java.lang.Long.valueOf(id))
      rec.put("name", name)
      score.foreach(s => rec.put("score", java.lang.Double.valueOf(s)))
      w.append(rec)
    } finally w.close()
  }

  private lazy val dir: String = {
    val d = Session.scratch(spark, "avro")
    writeForeignFile(s"$d/part0.avro",
      Seq((1L, "alpha", Some(1.5)), (2L, "beta", None)))
    writeForeignFile(s"$d/part1.avro", Seq((3L, "gamma", Some(-2.25))))
    d
  }

  private def avroDF = spark.read.format("graft.sources.AvroSource").load(dir)

  test("schema inferred from the container header, union(null,T) nullable") {
    assert(avroDF.schema.map(f => (f.name, f.dataType.simpleString, f.nullable))
      == Seq(("id", "bigint", true), ("name", "string", true),
        ("score", "double", true)))
  }

  test("reads foreign avro files across partitions, nulls intact") {
    val got = avroDF.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, "alpha", Some(1.5)), (2L, "beta", None),
      (3L, "gamma", Some(-2.25))))
    assert(avroDF.rdd.getNumPartitions == 2)
  }

  test("DSv2 write path: two-phase commit round-trip with overwrite") {
    val out = Session.scratch(spark, "avro_w")
    avroDF.repartition(3).write.format("graft.sources.AvroSource")
      .mode("overwrite").save(out)
    avroDF.repartition(2).write.format("graft.sources.AvroSource")
      .mode("overwrite").save(out)
    val all = new File(out).listFiles.map(_.getName).sorted
    // the shared commit writes the snapshot log for this sink too
    assert(all.filter(_.endsWith(".manifest")).toSeq == Seq("_v1.manifest"),
      all.mkString(","))
    val files = all.filterNot(_.startsWith("_"))
    assert(files.forall(_.endsWith(".avro")), files.mkString(","))
    assert(files.length == 2, "truncate left stale files behind")
    val got = spark.read.format("graft.sources.AvroSource").load(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
  }

  test("append mode adds a generation without clobbering the previous one") {
    val out = Session.scratch(spark, "avro_a")
    avroDF.write.format("graft.sources.AvroSource").mode("overwrite").save(out)
    avroDF.write.format("graft.sources.AvroSource").mode("append").save(out)
    val n = spark.read.format("graft.sources.AvroSource").load(out).count()
    assert(n == 6, "append lost or replaced the first generation")
  }

  test("time travel and commit-log streaming work on the avro sink too") {
    val out = Session.scratch(spark, "avro_tt")
    val ck = Session.scratch(spark, "avro_tt_ck")
    val src = spark.read.format("graft.sources.AvroSource").load(dir)
    val n0 = src.count()
    src.write.format("graft.sources.AvroSource").mode("append").save(out)
    src.write.format("graft.sources.AvroSource").mode("append").save(out)
    // version-pinned batch read (the shared manifest log)
    assert(spark.read.format("graft.sources.AvroSource")
      .option("version", "1").load(out).count() == n0)
    // commit-log micro-batch stream: one batch per committed version
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = spark.readStream.format("graft.sources.AvroSource")
      .option("maxVersionsPerTrigger", 1).load(out)
    graft.streaming.Streams.runForeachBatch(stream, ck) { (b, id) =>
      got += ((id, b.count()))
    }
    assert(got.toSeq == Seq((0L, n0), (1L, n0)))
  }

  test("column pruning reaches the scan") {
    val plan = avroDF.select("name").queryExecution.executedPlan.toString
    assert(plan.contains("AvroScan"), s"custom scan missing:\n$plan")
    assert(plan.contains("struct<name:string>"),
      s"scan decodes unprojected columns:\n$plan")
  }

  test("reading a missing path fails loudly instead of returning empty") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.AvroSource")
        .load("/graft_no_such_dir").collect()
    }
    assert(e.getMessage.contains("no avro files under"))
  }

  test("projecting a column absent from one file names file and column") {
    val d = Session.scratch(spark, "avro_d")
    // sorts FIRST so schema inference sees the full schema and the drift
    // surfaces in the reader, not at analysis
    writeForeignFile(s"$d/a_ok.avro", Seq((1L, "x", None)))
    // a second file with a DIFFERENT schema (no 'score' field)
    val schema = graft.sources.Avro.avroSchemaOf(StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new File(s"$d/z_drift.avro"))
    val rec = new GenericData.Record(schema)
    rec.put("id", java.lang.Long.valueOf(9L)); rec.put("name", "y")
    w.append(rec); w.close()
    val e = intercept[Exception] {
      spark.read.format("graft.sources.AvroSource").load(d)
        .select("score").collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("missing in avro file") && msg.contains("score"))
  }
}
