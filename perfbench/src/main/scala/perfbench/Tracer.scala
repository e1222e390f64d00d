package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracing from outside the engine: Spark's public listeners record
  * jobs, stages, tasks, query executions and micro-batches in memory, and
  * every span the harness opens tags its Spark jobs through a local
  * property, so a job is attributed to the query or pipeline run that
  * submitted it (threads a run starts inherit the property). Nothing is
  * written until the benchmark ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stages = mutable.Map.empty[(Int, Int), StageRec]
  private val executions = mutable.ArrayBuffer.empty[ExecRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).getOrElse("")
      jobs(e.jobId) = JobRec(span, e.time, -1L)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageRec(stageSpan.getOrElse(e.stageId, "")))
      st.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(p => p.durationMs).getOrElse(0L)
      lock.synchronized {
        executions += ExecRec(System.currentTimeMillis(),
          d("analysis"), d("optimization"), d("planning"), scanFiles(qe))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      lock.synchronized {
        batches += BatchRec(System.currentTimeMillis(),
          d("addBatch"), d("queryPlanning"), d("walCommit") + d("commitOffsets"))
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the asynchronous listener buses have delivered every job's
    * end event and nothing new arrived for a short quiet period. */
  def drain(): Unit = {
    def snapshot = lock.synchronized(
      (jobs.size, jobs.values.count(_.end < 0), stages.values.map(_.durations.size).sum,
        executions.size, batches.size))
    var last = snapshot
    var quiet = 0
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = snapshot
      if (now == last && now._2 == 0) quiet += 1 else quiet = 0
      last = now
    }
  }

  /** Layer numbers of the Spark jobs tagged `span`. */
  def sparkLayer(span: String): SparkLayer = lock.synchronized {
    val js = jobs.values.filter(_.span == span).toSeq
    val ss = stages.values.filter(_.span == span).toSeq
    val intervals = js.map(j => (j.start, if (j.end < 0) j.start else j.end))
    SparkLayer(
      jobs = js.size,
      stages = ss.size,
      tasks = ss.map(_.durations.size).sum,
      jobIntervalsMs = intervals,
      executorRunS = ss.map(_.runMs).sum / 1e3,
      executorCpuS = ss.map(_.cpuNs).sum / 1e9,
      gcS = ss.map(_.gcMs).sum / 1e3,
      inputBytes = ss.map(_.inputBytes).sum,
      shuffleReadBytes = ss.map(_.shuffleRead).sum,
      shuffleWriteBytes = ss.map(_.shuffleWrite).sum,
      spillBytes = ss.map(_.spill).sum,
      rowsWritten = ss.map(_.rowsWritten).sum,
      stragglerS = ss.map { s =>
        val d = s.durations.sorted
        if (d.isEmpty) 0.0 else (d.last - d(d.size / 2)) / 1e3
      }.sum)
  }

  /** Query executions and micro-batches that completed inside [fromMs, toMs]. */
  def executionsIn(fromMs: Long, toMs: Long): Seq[ExecRec] = lock.synchronized(
    executions.filter(e => e.atMs >= fromMs && e.atMs <= toMs + 50).toSeq)

  def batchesIn(fromMs: Long, toMs: Long): Seq[BatchRec] = lock.synchronized(
    batches.filter(b => b.atMs >= fromMs && b.atMs <= toMs + 50).toSeq)
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class JobRec(span: String, start: Long, end: Long)
  final class StageRec(val span: String) {
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill,
      rowsWritten = 0L
  }
  final case class ExecRec(atMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, filesScanned: Long)
  final case class BatchRec(atMs: Long, addBatchMs: Long,
      planningMs: Long, commitMs: Long)
  final case class SparkLayer(jobs: Int, stages: Int, tasks: Int,
      jobIntervalsMs: Seq[(Long, Long)], executorRunS: Double,
      executorCpuS: Double, gcS: Double, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      rowsWritten: Long, stragglerS: Double)

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0L)
  }

  /** Every physical node of a plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => out += q; walk(q.plan)
      case r: ReusedExchangeExec => out += r
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  final case class PlanCounts(exchanges: Int, broadcastJoins: Int,
      sortMergeJoins: Int, shuffledHashJoins: Int,
      singlePartitionWindows: Int)

  def planCounts(plan: SparkPlan): PlanCounts = {
    val ns = nodes(plan)
    PlanCounts(
      exchanges = ns.count(n => n.isInstanceOf[Exchange] || n.isInstanceOf[ReusedExchangeExec]),
      broadcastJoins = ns.count(n => n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      sortMergeJoins = ns.count(_.isInstanceOf[SortMergeJoinExec]),
      shuffledHashJoins = ns.count(_.isInstanceOf[ShuffledHashJoinExec]),
      singlePartitionWindows = ns.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
  }

  /** Files read by the scans of an executed query (the scan nodes'
    * `numFiles` metric). */
  def scanFiles(qe: QueryExecution): Long =
    try nodes(qe.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
    catch { case _: Throwable => 0L }
}
