package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler/executor work per job group. The benchmark tags every call
  * into graft with a job group of its own (`bench:<op>:<layer>`), and a
  * streaming query's jobs carry the query's run id as their group, so
  * every task lands on the layer that launched it. Listener callbacks run
  * on the listener-bus thread; the driver reads totals only after
  * draining the bus. */
final class WorkCensus extends SparkListener {

  final class Work {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spillBytes = new AtomicLong
  }

  private val work = new ConcurrentHashMap[String, Work]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val jobGroup = new ConcurrentHashMap[Int, String]
  private val jobStartMs = new ConcurrentHashMap[Int, Long]
  /** (group, job id, start ms, end ms) for every finished job. */
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]

  // storage memory held by RDD blocks (persist / checkpoint), tracked from
  // block updates so the high-water mark inside an op is seen
  private val blockMem = new ConcurrentHashMap[String, Long]
  private val storedNow = new AtomicLong
  private val storedPeak = new AtomicLong

  private def of(group: String): Work = work.computeIfAbsent(group, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "")
    jobSpans.add((g, e.jobId, jobStartMs.getOrDefault(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = of(stageGroup.getOrDefault(e.stageId, ""))
    w.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs.addAndGet(m.executorCpuTime)
      w.runMs.addAndGet(m.executorRunTime)
      w.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      w.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      val before = Option(blockMem.put(id, now)).getOrElse(0L)
      val total = storedNow.addAndGet(now - before)
      storedPeak.accumulateAndGet(total, math.max)
    }
  }

  /** Start a fresh high-water mark at the storage memory held right now
    * (polled, since the census is detached between traced ops). */
  def resetPeak(baselineBytes: Long): Unit = {
    blockMem.clear()
    storedNow.set(baselineBytes)
    storedPeak.set(baselineBytes)
  }
  def peakBytes: Long = storedPeak.get

  /** Summed work of every group `keep` accepts, then forgotten. */
  def take(keep: String => Boolean): Map[String, Double] = {
    val groups = work.keySet.asScala.filter(keep).toSeq
    val ws = groups.flatMap(g => Option(work.remove(g)))
    def sum(f: Work => AtomicLong): Double = ws.map(f(_).get).sum.toDouble
    Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.task_run_s" -> sum(_.runMs) / 1e3,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
      "spark.spill_mb" -> sum(_.spillBytes) / 1e6)
  }

  def takeJobSpans(): Seq[(String, Int, Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
    var s = jobSpans.poll()
    while (s != null) { out += s; s = jobSpans.poll() }
    out.toSeq
  }
}

/** One finished action as Catalyst saw it: its phase times and the shape
  * of its final physical plan. */
final case class ActionCensus(funcName: String, phasesMs: Map[String, (Long, Long)],
                              nodes: Int, exchanges: Int)

/** Collects every successful action's planning phases and plan shape. */
final class PlanCensus extends QueryExecutionListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[ActionCensus]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val (nodes, exchanges) = PlanCensus.shape(qe.executedPlan)
    seen.add(ActionCensus(funcName, phases, nodes, exchanges))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def take(): Seq[ActionCensus] = {
    val out = mutable.ArrayBuffer.empty[ActionCensus]
    var s = seen.poll()
    while (s != null) { out += s; s = seen.poll() }
    out.toSeq
  }
}

object PlanCensus {
  /** (operator nodes, exchanges) of a physical plan, looking through
    * adaptive wrappers and query stages into the plan that actually ran,
    * subqueries included. */
  def shape(plan: SparkPlan): (Int, Int) = {
    var nodes = 0
    var exchanges = 0
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case r: ReusedExchangeExec => nodes += 1; exchanges += 1
      case other =>
        nodes += 1
        other match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
          case _ =>
        }
        other.children.foreach(visit)
        other.subqueries.foreach(visit)
    }
    visit(plan)
    (nodes, exchanges)
  }
}
