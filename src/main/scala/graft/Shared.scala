package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The owner of checkpointed intermediates. An entry cuts a shared
  * intermediate with [[cut]] (a `localCheckpoint()`), and the [[scope]]
  * that runs the entry releases exactly the cuts made inside it when it
  * ends — the query-owned lifetime the reference gives a query's stages
  * (`DFRayContextSupervisor.new_query` acquires processors per query and
  * returns them when it ends, reference `core.py:104-256`).
  *
  * Scopes are per thread, so entries running concurrently on a pool
  * (Verify) each release their own checkpoints and nobody else's. A scope
  * records RDD ids, never the RDDs, and a cut outside any scope records
  * nothing: its blocks live until the driver drops the DataFrame and
  * ContextCleaner frees them.
  */
object Shared {

  // ids of the checkpoint RDDs cut on this thread inside the innermost
  // open scope; null when no scope is open
  private val open = new ThreadLocal[ArrayBuffer[Int]]

  /** Runs `body`, then unpersists every checkpoint [[cut]] on this thread
    * while it ran, with `blocking = true`, also when `body` throws.
    *
    * Why a scope ends with a release: checkpoint blocks otherwise persist
    * until the driver GCs their RDD references (ContextCleaner is
    * reference-triggered), and across 300+ entries they accumulate into
    * storage pressure that taxes later entries (r12: llm_pipeline_e2e
    * 10.99 s in the full suite vs 8.37 s solo, zero code change). Why
    * blocking: the non-blocking removal let one entry's block removal
    * bleed into the next entry's timed window (r16: llm_chunk and
    * llm_chunk_dedup read 6-7× band right after checkpoint-heavy
    * entries). Put the clock inside the scope, `scope(spark) { time(…) }`,
    * so the release is never timed.
    */
  def scope[T](spark: SparkSession)(body: => T): T = {
    val outer = open.get
    val cuts = ArrayBuffer.empty[Int]
    open.set(cuts)
    try body
    finally {
      open.set(outer)
      val live = spark.sparkContext.getPersistentRDDs
      cuts.foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
    }
  }

  /** `df.localCheckpoint()` (eager), recorded in this thread's open
    * [[scope]] if there is one.
    */
  def cut(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    Option(open.get).foreach(cuts => cuts ++= checkpointRdd(out).map(_.id))
    out
  }

  /** Frees the blocks behind a checkpointed DataFrame now, before its
    * scope ends — for loops that supersede a round's checkpoint with the
    * next (`dupClusters`, `pageRank`, `labelPropagation`), which would
    * otherwise pin O(rounds × |V|) storage. `Dataset.unpersist` routes
    * through the CacheManager, which has no entry for a checkpoint's
    * LogicalRDD, so on a checkpoint it is a silent no-op; the real handle
    * is the LogicalRDD's persisted RDD. Falls back to `Dataset.unpersist`
    * for plans that are not a bare checkpoint. The caller must never
    * touch `df` again: a freed checkpoint cannot recompute (its lineage
    * is cut).
    */
  def free(df: DataFrame): Unit = checkpointRdd(df) match {
    case Some(rdd) => rdd.unpersist(blocking = false); ()
    case None => df.unpersist(); ()
  }

  /** The RDD ids this thread's open scope has recorded so far. */
  private[graft] def recorded: Seq[Int] =
    Option(open.get).fold(Seq.empty[Int])(_.toSeq)

  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}
