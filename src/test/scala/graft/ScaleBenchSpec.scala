package graft


/** ScaleBench.stage produces the fixture the SF1 trajectory numbers rest
  * on — it must actually be a consistent scaled TPC-H world, or the
  * recorded wall-times measure garbage.
  */
class ScaleBenchSpec extends SparkSpec {

  private lazy val out: String = {
    val d = Session.scratch(spark, "scalebench_t")
    ScaleBench.stage(spark, sfSmoke, d, factor = 3)
    d
  }

  test("fact tables replicate exactly factor-fold with unique order keys") {
    val src = spark.read.parquet(s"$sfSmoke/orders.parquet")
    val staged = spark.read.parquet(s"$out/orders.parquet")
    assert(staged.count() == 3 * src.count())
    assert(staged.select("o_orderkey").distinct().count() == staged.count(),
      "orderkey offsets collided across shards")
  }

  test("orders-lineitem join consistency survives the key offsets") {
    val j = spark.read.parquet(s"$out/lineitem.parquet")
      .join(spark.read.parquet(s"$out/orders.parquet"),
        org.apache.spark.sql.functions.expr("l_orderkey = o_orderkey"))
      .count()
    val srcJ = spark.read.parquet(s"$sfSmoke/lineitem.parquet")
      .join(spark.read.parquet(s"$sfSmoke/orders.parquet"),
        org.apache.spark.sql.functions.expr("l_orderkey = o_orderkey"))
      .count()
    assert(j == 3 * srcJ,
      "per-shard key offsets broke the lineitem->orders relationship")
  }

  test("documents replicate factor-fold with unique doc_ids, text unchanged") {
    val src = spark.read.parquet(s"$sfSmoke/documents.parquet")
    val staged = spark.read.parquet(s"$out/documents.parquet")
    assert(staged.count() == 3 * src.count())
    assert(staged.select("doc_id").distinct().count() == staged.count(),
      "doc_id offsets collided across shards")
    // every document gains factor-1 exact text duplicates
    assert(staged.select("text").distinct().count() ==
      src.select("text").distinct().count())
  }

  test("dimension tables are byte-copied, not scaled") {
    assert(spark.read.parquet(s"$out/customer.parquet").count()
      == spark.read.parquet(s"$sfSmoke/customer.parquet").count())
  }
}
