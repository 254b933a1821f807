package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Engine, SparkEntry}
import graft.operators.Checkpoints

/** What run.py hands the JVM: the workload, its seeded
  * draws and the expected outputs. One `key value...` per line. */
final case class Plan(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      minPasses: Int, cores: Int, data: String, work: File,
                      queries: Seq[(String, Long, String)], passes: Seq[Seq[String]]) {
  def isQueryMix: Boolean = queries.nonEmpty
}

object Plan {
  def read(f: File): Plan = {
    val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().map(_.split(" ").toSeq).toSeq
    def one(k: String): String = lines.find(_.head == k).map(_(1))
      .getOrElse(sys.error(s"plan has no '$k'"))
    Plan(one("workload"), one("seed").toLong, one("seconds").toDouble, one("trace") == "1",
      one("min_passes").toInt, one("cores").toInt, one("data"), new File(one("work")),
      lines.filter(_.head == "query").map(l => (l(1), l(2).toLong, l(3))),
      lines.filter(_.head == "pass").map(_.tail))
  }
}

/** The run's set-up: session start, input generation, one warm pass. */
final case class Setup(sessionS: Double, generateS: Double, warmS: Double)

/** One timed op as the result file records it. */
final case class OpRecord(id: String, name: String, pass: Int, traced: Boolean,
                          latencyS: Double, releaseS: Double, ok: Boolean, error: String,
                          layers: Map[String, Double])

/** The closed loop: one client thread, one local session, ops back to
  * back. Set-up (session start, input generation, one untimed warm pass)
  * runs once; then whole passes run until `seconds` have passed. With
  * tracing on, each pass runs twice, traced and then untraced, on the same
  * query order or the same EduFlow day, so the untraced twin gives the
  * tracing overhead on the same ops. */
final class Harness(plan: Plan,
                     registry: String => Harness.Query = SparkEntry.queries) {
  private var spark: SparkSession = _
  private val census = new WorkCensus
  private val planCensus = new PlanCensus
  private var attached = false
  val spans = new Spans
  private val ops = mutable.ArrayBuffer.empty[OpRecord]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var opSeq = 0

  private def startSession(): Unit = {
    spark = Engine.localSession(plan.cores, "graft-perfbench")
    attached = false
  }

  /** A fatal op can kill the SparkContext; rebuild it so the op counts as
    * one failure instead of failing every op after it. */
  private def ensureLive(): Unit =
    if (spark.sparkContext.isStopped) {
      System.err.println("[perfbench] SparkContext died, rebuilding the session")
      startSession()
    }

  private def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(census)
      spark.listenerManager.register(planCensus)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(census)
      spark.listenerManager.unregister(planCensus)
      census.take(_ => true); census.takeJobSpans(); planCensus.take()
    }
    attached = on
  }

  private def drain(): Unit =
    try org.apache.spark.sql.graft.shim.waitListenerBusEmpty(spark.sparkContext, 10000L)
    catch { case NonFatal(e) => System.err.println(s"[perfbench] drain skipped: ${e.getMessage}") }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def storageBytes(): Long =
    try spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum catch { case NonFatal(_) => 0L }

  /** Release what the op left behind, as graft.Bench does between reps. */
  private def release(): Double = {
    val t0 = System.nanoTime()
    try Checkpoints.releaseQueryScoped(spark)
    catch { case NonFatal(e) => System.err.println(s"[perfbench] release skipped: ${e.getMessage}") }
    val s = (System.nanoTime() - t0) / 1e9
    System.gc()
    s
  }

  /** Heap still in use after full collections: the least of three, so a
    * collection racing Spark's asynchronous cleaner does not read high. */
  private def heapRetainedMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  private def group(id: String, layer: String): Unit =
    spark.sparkContext.setJobGroup(s"bench:$id:$layer", s"perfbench $id $layer", interruptOnCancel = false)

  // ---------------------------------------------------------------- setup

  private val edu = new EduflowOp(plan)

  def setup(): Setup = {
    val id = "setup"
    val root = spans.open(id, "setup", None, plan.trace)
    val s = spans.open(id, "setup.session", Some(root), plan.trace)
    startSession()
    val sessionS = spans.close(s)
    // query mixes get their seeded draws in the plan; eduflow writes its
    // warm day here
    val g = spans.open(id, "setup.generate", Some(root), plan.trace)
    if (!plan.isQueryMix) edu.generate(0, "warm")
    val generateS = spans.close(g)
    val w = spans.open(id, "setup.warm", Some(root), plan.trace)
    if (plan.isQueryMix) warmQueries() else edu.warm(spark, "warm")
    val warmS = spans.close(w)
    spans.close(root)
    settleJit()
    Setup(sessionS, generateS, warmS)
  }

  /** Wait (10 s at most) until the JIT has compiled what the warm pass
    * made hot, so the first timed op does not share the cores with a
    * compile backlog: one quiet second ends the wait. */
  private def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val now = jit.getTotalCompilationTime
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** The untimed warm pass doubles as the output check: each query's
    * digest is computed once and compared with the recorded one, then the
    * timed action runs once so its own plan is compiled too. */
  private val digestOk = mutable.Map.empty[String, Boolean]
  private def warmQueries(): Unit = plan.queries.foreach { case (name, rows, digest) =>
    ensureLive()
    val fn = registry(name)
    val (ok, err) =
      try {
        val (n, d) = Digest.of(fn(spark, plan.data))
        release()
        fn(spark, plan.data).count()
        if (n != rows) (false, s"rows $n, expected $rows")
        else if (d != digest) (false, s"digest $d, expected $digest")
        else (true, "")
      } catch { case NonFatal(e) => (false, Harness.describe(e)) }
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $err")
    digestOk(name) = ok
    checks += ((name, ok, err))
    release()
  }

  // ----------------------------------------------------------------- ops

  /** Time one registry query exactly as graft.Bench's timed action:
    * `fn(spark, dir).count()`. */
  private[graftbench] def queryOp(name: String, pass: Int, traced: Boolean): OpRecord = {
    opSeq += 1
    val id = s"op-$opSeq"
    ensureLive()
    attach(traced)
    val expected = plan.queries.find(_._1 == name).map(_._2).getOrElse(-1L)
    val fn = registry(name)
    if (traced) census.resetPeak(storageBytes())
    val gc0 = gcMillis()
    val root = spans.open(id, "op", None, traced)
    val t0 = System.nanoTime()
    var t1 = t0
    val err =
      try {
        if (traced) group(id, "build")
        val b = spans.open(id, "queries.build", Some(root), traced)
        val df = fn(spark, plan.data)
        spans.close(b)
        t1 = System.nanoTime()
        if (traced) group(id, "action")
        val a = spans.open(id, "queries.action", Some(root), traced)
        val rows = df.count()
        spans.close(a)
        if (rows != expected) s"rows $rows, expected $expected"
        else if (!digestOk.getOrElse(name, false)) "output digest did not match"
        else ""
      } catch { case NonFatal(e) => Harness.describe(e) }
    val t2 = System.nanoTime()
    spans.close(root)
    val latency = (t2 - t0) / 1e9
    if (traced) spark.sparkContext.clearJobGroup()
    val gcS = (gcMillis() - gc0) / 1e3
    val releaseS = release()
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        drain()
        val work = census.take(_.startsWith(s"bench:$id:"))
        val actions = planCensus.take()
        val timed = actions.filter(_.funcName == "count").lastOption
        def phase(p: String): Double =
          timed.flatMap(_.phasesMs.get(p)).map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)
        spans.jobs(id, census.takeJobSpans())
        timed.foreach(t => spans.phases(id, t.phasesMs))
        work ++ Map(
          "queries.build_s" -> (t1 - t0) / 1e9,
          "catalyst.analysis_s" -> phase("analysis"),
          "catalyst.optimization_s" -> phase("optimization"),
          "catalyst.planning_s" -> phase("planning"),
          "plan.nodes" -> timed.map(_.nodes.toDouble).getOrElse(0.0),
          "plan.exchanges" -> timed.map(_.exchanges.toDouble).getOrElse(0.0),
          "spark.floor_s" -> (latency - work("spark.task_run_s") / plan.cores),
          "spark.gc_s" -> gcS,
          "operators.storage_peak_mb" -> census.peakBytes / 1e6,
          "operators.release_s" -> releaseS)
      }
    if (err.nonEmpty) System.err.println(s"[perfbench] $id $name FAILED: $err")
    OpRecord(id, name, pass, traced, latency, releaseS, err.isEmpty, err, layers)
  }

  private def eduOp(day: Int, traced: Boolean): OpRecord = {
    opSeq += 1
    val id = s"op-$opSeq"
    ensureLive()
    attach(traced)
    edu.generate(day, id)
    if (traced) census.resetPeak(storageBytes())
    val gc0 = gcMillis()
    val r = edu.run(spark, id, id, traced, spans, l => if (traced) group(id, l))
    if (traced) spark.sparkContext.clearJobGroup()
    val gcS = (gcMillis() - gc0) / 1e3
    val releaseS = release()
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        drain()
        val streamIds = r.streamRunIds.toSet
        val work = census.take(g => g.startsWith(s"bench:$id:") || streamIds(g))
        val actions = planCensus.take()
        def phase(p: String): Double = actions.map(_.phasesMs.get(p)
          .map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)).sum
        val jobSpans = census.takeJobSpans().map { case (g, j, s, e) =>
          (if (streamIds(g)) s"bench:$id:streaming" else g, j, s, e) }
        spans.jobs(id, jobSpans)
        work ++ r.layers ++ Map(
          "catalyst.analysis_s" -> phase("analysis"),
          "catalyst.optimization_s" -> phase("optimization"),
          "catalyst.planning_s" -> phase("planning"),
          "plan.nodes" -> actions.map(_.nodes).sum.toDouble,
          "plan.exchanges" -> actions.map(_.exchanges).sum.toDouble,
          "spark.floor_s" -> (r.latencyS - work("spark.task_run_s") / plan.cores),
          "spark.gc_s" -> gcS,
          "operators.storage_peak_mb" -> census.peakBytes / 1e6,
          "operators.release_s" -> releaseS)
      }
    edu.cleanup(spark, id)
    if (r.error.nonEmpty) System.err.println(s"[perfbench] $id day $day FAILED: ${r.error}")
    OpRecord(id, s"day-$day", day, traced, r.latencyS, releaseS, r.error.isEmpty, r.error, layers)
  }

  // ---------------------------------------------------------- timed loop

  /** Whole passes until `seconds` have passed and the workload's minimum
    * is done (twice that when traced: each traced pass is followed by an
    * untraced twin on the same order or day). Returns the heap retained at
    * the end and, when traced, the heap growth summed over the traced
    * passes and over their twins: the heap grows with every op, so growth
    * per pass, not the level after it, compares the two. */
  def loop(): Map[String, Double] = {
    val growth = mutable.Map(true -> 0.0, false -> 0.0)
    var heap = if (plan.trace) heapRetainedMb() else 0.0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var pass = 0
    val minPasses = plan.minPasses * (if (plan.trace) 2 else 1)
    while (pass < minPasses || elapsed < plan.seconds) {
      val traced = plan.trace && pass % 2 == 0
      // a traced pass and its untraced twin share the order or the day
      val n = if (plan.trace) pass / 2 else pass
      attach(traced)
      if (plan.isQueryMix) plan.passes(n % plan.passes.length).foreach(q => ops += queryOp(q, pass, traced))
      else ops += eduOp(n + 1, traced)
      attach(false)
      if (plan.trace) {
        val now = heapRetainedMb()
        growth(traced) += now - heap
        heap = now
      }
      pass += 1
    }
    if (!plan.trace) Map("heap_mb" -> heapRetainedMb())
    else Map("heap_mb" -> heap, "heap_growth_mb_traced" -> growth(true), "heap_growth_mb" -> growth(false))
  }

  def records: Seq[OpRecord] = ops.toSeq
  def outputChecks: Seq[(String, Boolean, String)] = checks.toSeq ++ edu.checks
  def stop(): Unit = if (spark != null) spark.stop()
}

object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** An op's error as the result file records it: class and first line. */
  def describe(e: Throwable): String = {
    val first = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
    s"${e.getClass.getName}: $first".take(300)
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(new File(args(1)), new File(args(2)), new File(args(3)))
    case Some("record") => Record.main(args.tail)
    case Some("selftest") => SelfTest.main(args.tail)
    case _ =>
      System.err.println("usage: Harness run <plan> <result.json> <spans.jsonl> | record ... | selftest")
      sys.exit(2)
  }

  def run(planFile: File, out: File, spansFile: File): Unit = {
    val plan = Plan.read(planFile)
    val h = new Harness(plan)
    val json = new Json
    try {
      val setup = h.setup()
      val heap = h.loop()
      json.obj { o =>
        o.str("workload", plan.workload)
        o.num("cores", plan.cores)
        o.num("session_s", setup.sessionS)
        o.num("generate_s", setup.generateS)
        o.num("warm_s", setup.warmS)
        heap.foreach { case (k, mb) => o.num(k, mb) }
        o.arr("checks", h.outputChecks) { (a, c) =>
          a.obj { x => x.str("name", c._1); x.bool("ok", c._2); x.str("error", c._3) }
        }
        o.arr("ops", h.records) { (a, r) =>
          a.obj { x =>
            x.str("id", r.id); x.str("name", r.name); x.num("pass", r.pass)
            x.bool("traced", r.traced); x.num("latency_s", r.latencyS); x.num("release_s", r.releaseS)
            x.bool("ok", r.ok); x.str("error", r.error)
            x.field("layers") { json.obj { l => r.layers.toSeq.sortBy(_._1).foreach { case (k, v) => l.num(k, v) } } }
          }
        }
      }
      java.nio.file.Files.writeString(out.toPath, json.result)
      if (plan.trace) java.nio.file.Files.writeString(spansFile.toPath, h.spans.jsonLines)
    } finally h.stop()
  }
}
