package graft

import org.apache.spark.sql.functions._
import graft.operators.RangeJoin

/** RangeJoin == the nested-loop join it replaces, on adversarial data
  * (edge-exact points, empty/short/multi-bin intervals), plus the plan
  * shape that is the operator's whole point: an equi-join on the bin
  * key, never a nested loop or cartesian.
  */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def tsOf(us: Long) = expr(s"timestamp_micros($us)")

  test("pointInInterval equals the nested-loop join on adversarial data") {
    val rnd = new scala.util.Random(11)
    // quarter-second grid over ~20 one-second bins: edge hits guaranteed
    val points = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(80) * 250000L)).toDF("p_id", "p_us")
      .select(col("p_id"), expr("timestamp_micros(p_us)").as("p_ts"))
    val intervals = Seq.tabulate(60) { i =>
      val s = rnd.nextInt(80) * 250000L
      // lengths 0 (empty), sub-bin, exactly one bin, 3.5 bins
      val len = Seq(0L, 300000L, 1000000L, 3500000L)(i % 4)
      (i.toLong, s, s + len)
    }.toDF("i_id", "s_us", "e_us")
      .select(col("i_id"), expr("timestamp_micros(s_us)").as("s_ts"),
        expr("timestamp_micros(e_us)").as("e_ts"))

    val binned = RangeJoin.pointInInterval(
        points, "p_ts", intervals, "s_ts", "e_ts", binSeconds = 1L)
      .select("p_id", "i_id")
    val naive = points.join(intervals,
        col("p_ts") >= col("s_ts") && col("p_ts") < col("e_ts"))
      .select("p_id", "i_id")
    assert(binned.except(naive).isEmpty && naive.except(binned).isEmpty)
    // exactly-once: no pair appears twice
    val dup = binned.groupBy("p_id", "i_id").count().where("count > 1")
    assert(dup.isEmpty, "a pair met in more than one bin")
    assert(naive.count() > 0, "fixture degenerate: nothing matched")
  }

  test("intervalOverlap equals the nested-loop overlap join") {
    val rnd = new scala.util.Random(37)
    def ivs(n: Int, tag: String) = Seq.tabulate(n) { i =>
      val s = rnd.nextInt(80) * 250000L
      val len = Seq(0L, 400000L, 1000000L, 2750000L)(rnd.nextInt(4))
      (i.toLong, s, s + len)
    }.toDF(s"${tag}_id", "s_us", "e_us")
      .select(col(s"${tag}_id"),
        expr("timestamp_micros(s_us)").as(s"${tag}_s"),
        expr("timestamp_micros(e_us)").as(s"${tag}_e"))
    val lhs = ivs(80, "l"); val rhs = ivs(60, "r")
    val got = RangeJoin.intervalOverlap(
        lhs, "l_s", "l_e", rhs, "r_s", "r_e", binSeconds = 1L)
      .select("l_id", "r_id")
    val naive = lhs.join(rhs,
        col("l_s") < col("r_e") && col("r_s") < col("l_e"))
      .select("l_id", "r_id")
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    val dup = got.groupBy("l_id", "r_id").count().where("count > 1")
    assert(dup.isEmpty, "a pair was attributed to more than one bin")
    assert(naive.count() > 0)
  }

  test("proximityPairs equals the brute-force tolerance pairing") {
    val rnd = new scala.util.Random(23)
    val df = Seq.tabulate(200)(i =>
      (i.toLong, rnd.nextInt(120) * 500000L)).toDF("id", "us")
      .select(col("id"), expr("timestamp_micros(us)").as("ts"))
    val got = RangeJoin.proximityPairs(df, "id", "ts", toleranceSeconds = 2L)
      .select("a_id", "b_id")
    val a = df.select(col("id").as("a_id"), col("ts").as("a_ts"))
    val b = df.select(col("id").as("b_id"), col("ts").as("b_ts"))
    val naive = a.join(b, col("a_id") < col("b_id") &&
        abs(expr("unix_micros(a_ts) - unix_micros(b_ts)")) <= lit(2000000L))
      .select("a_id", "b_id")
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    assert(naive.count() > 0)
  }

  test("with broadcast disabled the bin join flips to a shuffled join") {
    // the 100 TB regime: both sides too big to broadcast — the bin key
    // must carry a shuffled equi-join, not degrade to NLJ
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = staticPlan(
        SparkEntry.queries("join_range_binned")(spark, sfSmoke))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.linesIterator.take(5).mkString)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("join_range_binned plans as a hash equi-join on the bin, not NLJ") {
    val df = SparkEntry.queries("join_range_binned")(spark, sfSmoke)
    val plan = staticPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"), "NLJ leaked back in")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("__bin"), "bin key missing from the join plan")
  }
}
