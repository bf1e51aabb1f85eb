package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark execution layer, read from the public SparkListener events: jobs,
  * stages and tasks, task time, CPU and GC, skew, rows and bytes moved.
  * Counters accumulate until [[take]].
  */
final class ExecTrace extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs, inputRows, shuffleRead, shuffleWrite, spill = 0L
  private val openJobs = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    openJobs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(start => jobSpans += ((start, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputRows += m.inputMetrics.recordsRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Everything counted since the previous call; resets the counters. */
  def take(): Map[String, Double] = synchronized {
    // wall time during which at least one job ran: the union of job spans
    var busyMs, end = 0L
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) busyMs += e - s else if (e > end) busyMs += e - end
      end = end max e
    }
    // per stage, slowest task over the median task; mean over stages
    val skews = taskMs.values.filter(_.size >= 2).map { ds =>
      val sorted = ds.sorted
      sorted.last.toDouble / (sorted(sorted.size / 2) max 1L)
    }
    val mb = 1024.0 * 1024.0
    val out = Map(
      "exec.exec_s" -> busyMs / 1e3,
      "exec.jobs" -> jobs.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "exec.task_run_s" -> runMs / 1e3,
      "exec.task_cpu_s" -> cpuNs / 1e9,
      "exec.gc_s" -> gcMs / 1e3,
      "exec.task_max_over_median" ->
        (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "exec.input_rows" -> inputRows.toDouble,
      "exec.shuffle_read_mb" -> shuffleRead / mb,
      "exec.shuffle_write_mb" -> shuffleWrite / mb,
      "exec.spill_mb" -> spill / mb)
    jobs = 0; stages = 0; tasks = 0
    runMs = 0; cpuNs = 0; gcMs = 0; inputRows = 0
    shuffleRead = 0; shuffleWrite = 0; spill = 0
    jobSpans.clear(); taskMs.clear()
    out
  }
}

/** Executed-plan layer: the final adaptive plan of each entry's noop-sink
  * write, read through a QueryExecutionListener. The write is the entry's
  * last action, so after the bus drains the last plan seen is the entry's.
  */
final class PlanTrace extends QueryExecutionListener {
  private var last: Option[QueryExecution] = None

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { last = Some(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Operator counts of the last plan seen; forgets it. */
  def take(): Map[String, Double] = synchronized {
    val ns = last.map(qe => nodes(qe.executedPlan)).getOrElse(Nil)
    last = None
    def n(f: PartialFunction[SparkPlan, Unit]): Double = ns.count(f.isDefinedAt).toDouble
    Map(
      "plan.scans" -> n { case _: FileSourceScanExec | _: BatchScanExec => },
      "plan.exchanges" -> n { case _: ShuffleExchangeExec => },
      "plan.reused_exchanges" -> n { case _: ReusedExchangeExec => },
      "plan.broadcast_exchanges" -> n { case _: BroadcastExchangeExec => })
  }
}

/** Streaming layer: micro-batch progress of the replays that
  * `graft.streaming.Streams` drives, from a StreamingQueryListener.
  */
final class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  private val batchMs = mutable.ArrayBuffer.empty[Long]
  private var addBatchMs, planningMs, walMs, offsetsMs, stateCommitMs = 0L
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]
  private var triggersMs = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batchMs += d("triggerExecution")
    triggersMs += d("triggerExecution")
    addBatchMs += d("addBatch")
    planningMs += d("queryPlanning")
    walMs += d("walCommit")
    offsetsMs += d("commitOffsets")
    stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
    // the last progress of a query carries its final state size
    stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
  }

  /** Trigger time seen so far; never reset, so callers difference it. */
  def triggerMs: Long = synchronized(triggersMs)

  /** Everything counted since the previous call; resets the counters. */
  def take(): Map[String, Double] = synchronized {
    val sorted = batchMs.sorted
    val out = Map(
      "stream.batches" -> sorted.size.toDouble,
      "stream.batch_p50_ms" ->
        (if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2).toDouble),
      "stream.add_batch_s" -> addBatchMs / 1e3,
      "stream.query_planning_s" -> planningMs / 1e3,
      "stream.wal_commit_s" -> walMs / 1e3,
      "stream.commit_offsets_s" -> offsetsMs / 1e3,
      "stream.state_commit_s" -> stateCommitMs / 1e3,
      "stream.state_rows" -> stateRows.values.sum.toDouble)
    batchMs.clear(); stateRows.clear()
    addBatchMs = 0; planningMs = 0; walMs = 0; offsetsMs = 0; stateCommitMs = 0
    out
  }
}

/** RDD blocks stored while registered: the checkpoints a call materialized. */
final class BlockTrace extends SparkListener {
  private val rdds = mutable.Set.empty[Int]
  private var bytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      if (info.storageLevel.isValid && info.memSize + info.diskSize > 0) {
        rdds += id.rddId
        bytes += info.memSize + info.diskSize
      }
    }
  }

  def checkpoints: Int = synchronized(rdds.size)
  def megabytes: Double = synchronized(bytes / (1024.0 * 1024.0))
}

/** The llm.Dedup layer, probed by calling its public functions directly on
  * `documents`, plus property checks that any correct implementation
  * passes, recomputed here from the raw text.
  */
object DedupProbe {
  import org.apache.spark.sql.functions.col
  import graft.llm.Dedup

  val threshold = 0.6
  // verified pairs pass `jaccard >= threshold` on a value rounded to six
  // places, so the exact ratio may sit up to half a unit of that below it
  private val roundingSlack = 5e-7

  /** Distinct word 3-shingles of `text` under Dedup's documented
    * normalization: trim spaces, lowercase, collapse whitespace runs.
    */
  def shingleSet(text: String, n: Int = 3): Set[String] = {
    val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val w = trimmed.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
      .split(" ", -1)
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Returns the layer metrics and the list of property violations. */
  def run(spark: SparkSession, time: (=> Unit) => Double,
          release: () => Unit): (Map[String, Double], Seq[String]) = {
    import spark.implicits._
    val docs = spark.table("documents")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val blocks = new BlockTrace
    spark.sparkContext.addSparkListener(blocks)

    var cands = Array.empty[(Long, Long)]
    var verified = Array.empty[(Long, Long)]
    var clusters = Array.empty[(Long, Long)]
    val shinglesS = time(noop(Dedup.shingles(docs)))
    val minhashS = time(noop(Dedup.minhash(docs)))
    val candS = time {
      cands = Dedup.lshCandidates(docs).select("doc_a", "doc_b").as[(Long, Long)].collect()
    }
    val candDf = cands.toSeq.toDF("doc_a", "doc_b")
    val jaccardS = time {
      verified = Dedup.jaccard(docs, candDf).where(col("jaccard") >= threshold)
        .select("doc_a", "doc_b").as[(Long, Long)].collect()
    }
    val verifiedDf = verified.toSeq.toDF("doc_a", "doc_b")
    val clustersS = time {
      clusters = Dedup.dupClusters(verifiedDf).select("doc_id", "cluster_rep")
        .as[(Long, Long)].collect()
    }
    val tuningS = time(noop(Dedup.lshTuning(docs)))
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(blocks)
    release()

    val metrics = Map(
      "dedup.shingles_s" -> shinglesS,
      "dedup.minhash_s" -> minhashS,
      "dedup.lsh_candidates_s" -> candS,
      "dedup.jaccard_s" -> jaccardS,
      "dedup.dup_clusters_s" -> clustersS,
      "dedup.lsh_tuning_s" -> tuningS,
      "dedup.candidate_pairs" -> cands.length.toDouble,
      "dedup.verified_pairs" -> verified.length.toDouble,
      "dedup.verify_yield" -> verified.length.toDouble / (cands.length max 1),
      "dedup.checkpoints" -> blocks.checkpoints.toDouble,
      "dedup.checkpoint_mb" -> blocks.megabytes)
    (metrics, violations(docs, cands, verified, clusters))
  }

  private def violations(docs: DataFrame, cands: Array[(Long, Long)],
                         verified: Array[(Long, Long)],
                         clusters: Array[(Long, Long)]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def report(what: String, bad: Iterable[Any]): Unit =
      if (bad.nonEmpty) out += s"$what: ${bad.size} (e.g. ${bad.take(3).mkString(", ")})"

    val candSet = cands.toSet
    report("verified pair not among candidates", verified.filterNot(candSet))
    report("verified pair without doc_a < doc_b", verified.filterNot { case (a, b) => a < b })

    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    val sets = mutable.Map.empty[Long, Set[String]]
    def sh(id: Long): Set[String] = sets.getOrElseUpdate(id, shingleSet(texts(id)))
    report(s"verified pair with recomputed jaccard < $threshold", verified.filter { case (a, b) =>
      val (sa, sb) = (sh(a), sh(b))
      val inter = sa.intersect(sb).size.toDouble
      inter / (sa.size + sb.size - inter) < threshold - roundingSlack
    })

    // connected components of the verified pairs, labelled by their
    // minimum doc_id: what dupClusters documents as its output
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    verified.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val expected = parent.keys.toSeq.map(d => d -> find(d)).toMap
    val got = clusters.toMap
    report("doc with a wrong cluster label",
      (expected.keySet ++ got.keySet).filter(d => expected.get(d) != got.get(d)))
    if (got.size != clusters.length) out += "dupClusters labelled a doc twice"
    out.toSeq
  }
}
