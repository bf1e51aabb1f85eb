package graft

/** `Session.withConf`: the one scoped session-conf change. */
class SessionConfSpec extends SparkSpec {

  test("withConf restores a set key and unsets an absent one, also when the body throws") {
    val (set, absent) = ("spark.sql.shuffle.partitions", "graft.test.absent")
    val before = spark.conf.get(set)
    assert(spark.conf.getOption(absent).isEmpty)
    Session.withConf(spark, Map(set -> "7", absent -> "x")) {
      assert(spark.conf.get(set) == "7" && spark.conf.get(absent) == "x")
    }
    assert(spark.conf.get(set) == before && spark.conf.getOption(absent).isEmpty)
    intercept[IllegalStateException] {
      Session.withConf(spark, Map(set -> "7", absent -> "x")) {
        throw new IllegalStateException("body fails")
      }
    }
    assert(spark.conf.get(set) == before && spark.conf.getOption(absent).isEmpty)
  }

  test("a scope that turns skew joins off leaves them on, as Session.local set them") {
    val k = "spark.sql.adaptive.skewJoin.enabled"
    assert(spark.conf.get(k) == "true")
    Session.withConf(spark, Map(k -> "false"))(assert(spark.conf.get(k) == "false"))
    assert(spark.conf.get(k) == "true")
  }
}
