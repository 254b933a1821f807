package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.util.control.NonFatal

/** Task-level work of one or more actions: the difference of two
  * [[WorkMeter]] snapshots. */
final case class Work(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                      cpuNs: Long, gcMs: Long, shuffleReadBytes: Long,
                      shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  def cpuS: Double = cpuNs / 1e9
  /** Shuffle read plus write, in MB. */
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1e6
}

/** The one work census: cumulative job, stage and task counters of a
  * SparkContext, so the difference of snapshots taken around an action
  * is that action's work. AtomicLongs because events arrive on the
  * listener-bus thread while the driver thread reads snapshots; call
  * [[Measure.drain]] before each snapshot so an action's task-end events
  * are counted against that action. */
final class WorkMeter extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong
  private val shuffleRead, shuffleWrite, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
    ()
  }

  def snapshot: Work = Work(jobs.get, stages.get, tasks.get, runMs.get,
    cpuNs.get, gcMs.get, shuffleRead.get, shuffleWrite.get, spill.get)
}

/** Helpers the measuring mains (Bench, ScaleBench, BucketBench, Probe)
  * share. `tag` prefixes their stderr lines. */
object Measure {

  /** A [[WorkMeter]] registered on `spark`'s context. */
  def install(spark: SparkSession): WorkMeter = {
    val meter = new WorkMeter
    spark.sparkContext.addSparkListener(meter)
    meter
  }

  /** Between reps, outside the timed window: unpersist the finished
    * query's checkpoint blocks deterministically, then nudge a GC for
    * what the block registry cannot see (shuffle files, broadcasts,
    * dropped session frames). A dead SparkContext (an executor OOM)
    * fails the unpersist RPC; that must not abort a sweep whose next
    * [[ensureLive]] rebuilds the session. NonFatal only: a fatal JVM
    * error propagates, and an interrupt keeps its status. */
  def release(spark: SparkSession, tag: String): Unit =
    guarded(tag, "release") {
      graft.operators.Checkpoints.releaseQueryScoped(spark); System.gc()
    }

  /** Wait until the listener bus has delivered every queued event, so a
    * [[WorkMeter]] snapshot taken next is complete. Same guard as
    * [[release]]. */
  def drain(spark: SparkSession, tag: String): Unit =
    guarded(tag, "drain") {
      org.apache.spark.sql.graft.shim.waitListenerBusEmpty(spark.sparkContext, 10000L)
    }

  private def guarded(tag: String, what: String)(body: => Unit): Unit =
    try body
    catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        System.err.println(s"[$tag] $what interrupted: ${e.getMessage}")
      case NonFatal(e) =>
        System.err.println(s"[$tag] $what skipped: ${e.getMessage}")
    }

  /** `spark` itself while its SparkContext lives, else a fresh local
    * session with `listeners` re-registered. One query's executor OOM
    * kills the shared context; rebuilding between queries lets a fatal
    * query fail only itself instead of every query after it. */
  def ensureLive(spark: SparkSession, cpus: Int, app: String, tag: String,
                 listeners: SparkListener*): SparkSession =
    if (!spark.sparkContext.isStopped) spark
    else {
      System.err.println(s"[$tag] SparkContext died — rebuilding session")
      val fresh = graft.Engine.localSession(cpus, app)
      listeners.foreach(fresh.sparkContext.addSparkListener)
      fresh
    }

  /** Run `df` through its own QueryExecution and return the physical plan
    * that ran: AQE's final plan. `collect` is the action that does so;
    * `count` and Spark 4's `foreach` execute a derived QueryExecution and
    * leave `df`'s adaptive plan at its initial form. The result comes to
    * the driver, so this is for bounded outputs. */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** A number rounded half-up to 3 decimals, as the JSON evidence prints it. */
  def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
