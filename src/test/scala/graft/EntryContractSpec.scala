package graft

/** The driver contract around SparkEntry: names are unique (checked when
  * the registry is built), entries that mutate the session run serially in
  * Verify, the flagship entry returns rows, and no output column is
  * complex.
  */
class EntryContractSpec extends SparkSpec {
  import graft.queries.Entry

  test("a registry with two same-named entries fails and names the duplicate") {
    val e = Entry.sql("dup_name", "SELECT 1 AS x")
    val err = intercept[IllegalArgumentException](
      SparkEntry.registry(Seq(e, Entry.sql("other", "SELECT 2 AS x"), e)))
    assert(err.getMessage.contains("dup_name"), err.getMessage)
    assert(!err.getMessage.contains("other"), err.getMessage)
  }

  test("selecting entries by name fails on unknown names, naming each") {
    val err = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("tpch_q1", "no_such_a", "no_such_b")))
    assert(err.getMessage.contains("no_such_a"), err.getMessage)
    assert(err.getMessage.contains("no_such_b"), err.getMessage)
    assert(!err.getMessage.contains("tpch_q1"), err.getMessage)
    assert(SparkEntry.select(Seq("tpch_q6", "tpch_q1")).map(_.name) ==
      Seq("tpch_q6", "tpch_q1"))
    assert(SparkEntry.select(Nil) == SparkEntry.entries)
  }

  // Entry.run registers the dir it is given, so a body that names its
  // tables reads that dir even when the session's views point elsewhere
  test("an entry reads the dir it is given, not the dir the views point at") {
    val names = Seq("qc_column_profile", "ts_window_agg")
    def rows(n: String): Seq[String] =
      SparkEntry.queries(n)(spark, sfSmoke).collect().map(_.toString).toSeq.sorted
    Tables.register(spark, sfSmoke)
    val expected = names.map(rows)
    Tables.register(spark, sfBench)
    assert(names.map(rows) == expected)
    val files = spark.table("orders").inputFiles
    assert(files.nonEmpty && files.forall(_.contains(sfSmoke + "/")), files.mkString(", "))
  }

  test("Verify runs the session-mutating entries serially, the rest pooled") {
    val (pooled, serial) = Verify.phases(SparkEntry.entries)
    val names = SparkEntry.queries.keySet
    val expected = names.filter(_.startsWith("ts_stream_")) ++ Set(
      "bucketed_join", "ddl_ctas_insert", "sql_udf",
      "sink_compact_small_files", "src_agg_pushdown")
    assert(expected.size == 33)
    assert(serial.map(_.name).toSet == expected)
    assert(pooled.map(_.name).toSet == names -- expected)
  }

  test("flagship entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).collect().length > 0)
  }

  // The driver's pandas comparator sort_values()s every output column and
  // cannot order numpy arrays ("unhashable type" — round-4 verdict, the
  // llm_normalize red row). The local check.py normalizes Python lists, so
  // without this gate an array-typed entry passes locally and fails the
  // driver. Declared outputs must be scalar columns, full stop.
  test("no declared query outputs an array/map/struct column") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sfSmoke).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"driver comparator cannot sort complex columns: ${offenders.mkString(", ")}")
  }
}
