package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** [[Shared.scope]] owns exactly the checkpoints cut inside it: entries
  * running at once on a pool, each in its own scope (as Verify runs
  * them), release their own checkpoints when they end and leave the
  * others' in place.
  */
class SharedScopeSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.id
    case p => fail(s"not a checkpoint: $p")
  }

  test("concurrent scopes each release their own checkpoints and leave the others'") {
    val names = Seq("llm_dedup_quality", "agg_robust_outliers", "llm_pagerank",
      "er_golden_record")
    Tables.register(spark, sfSmoke)
    val before = persisted
    val cutsOf = new ConcurrentHashMap[String, Set[Int]]()
    val liveOf = new ConcurrentHashMap[String, Set[Int]]()
    val ran = new CountDownLatch(names.size)
    val exit = names.map(_ => new CountDownLatch(1))
    val pool = Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // each entry runs in its own scope, then holds the scope open until
      // its gate opens, so the scopes end one at a time in a known order
      val runs = names.zip(exit).map { case (n, gate) =>
        Future(Shared.scope(spark) {
          val held = try {
            val df = SparkEntry.queries(n)(spark, sfSmoke)
            // strong references to the cuts `df` still reads: a cut nothing
            // references may be freed by ContextCleaner on any GC
            val held = Shared.recorded.flatMap(spark.sparkContext.getPersistentRDDs.get)
            df.write.format("noop").mode("overwrite").save()
            cutsOf.put(n, Shared.recorded.toSet)
            liveOf.put(n, held.map(_.id).toSet)
            held
          } finally ran.countDown()
          gate.await()
          held
        })
      }
      assert(ran.await(10, TimeUnit.MINUTES), "entries did not finish")
      if (cutsOf.size != names.size) { // surface the entry's own failure
        exit.foreach(_.countDown())
        runs.foreach(Await.result(_, 1.minute))
      }
      val live = names.map(n => n -> liveOf.get(n)).toMap
      names.foreach(n => assert(live(n).nonEmpty, s"$n holds no checkpoint"))
      assert(live.values.flatten.toSet.subsetOf(persisted))
      names.zip(exit).zip(runs).zipWithIndex.foreach { case (((n, gate), run), i) =>
        gate.countDown()
        Await.result(run, 1.minute)
        val now = persisted
        assert((cutsOf.get(n) & now).isEmpty, s"$n's scope left its checkpoints")
        names.drop(i + 1).foreach { other =>
          assert(live(other).subsetOf(now), s"$n's scope released $other's checkpoints")
        }
      }
      assert((persisted -- before).isEmpty, "checkpoints outlived every scope")
    } finally {
      exit.foreach(_.countDown())
      pool.shutdown()
    }
  }

  test("a cut outside any scope is recorded by no scope") {
    import spark.implicits._
    val outside = Shared.cut(Seq(1, 2, 3).toDF("x"))
    val id = rddId(outside)
    assert(persisted(id))
    val inside = Shared.scope(spark) {
      assert(Shared.recorded.isEmpty, "a scope recorded a cut made before it opened")
      Shared.cut(Seq(4).toDF("x"))
      Shared.recorded
    }
    assert(inside.size == 1 && !persisted(inside.head))
    assert(persisted(id), "a scope released a cut made outside it")
    Shared.free(outside)
    assert(!persisted(id))
  }
}
