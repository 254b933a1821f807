package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{Engine, SparkEntry}

/** The single-query probe — the quick feedback loop for one or a few
  * registered queries without paying the full Bench sweep:
  *
  *   runMain graft.tools.Probe <sfDir> <mode> <query...>
  *
  * Modes:
  *  - `time`: Bench's protocol — one untimed warm rep, then the timed
  *    reps, with [[Measure.release]] between reps; seconds and rows per
  *    rep, then the median.
  *  - `layers`: per rep, the driver-side split — DataFrame build (the fn
  *    call, including any eager session-cache work), analysis +
  *    optimization + physical planning (forcing `executedPlan`) and
  *    execution (`count`) — plus the rep's [[WorkMeter]] census: jobs,
  *    stages, tasks, task run time, task CPU, GC, shuffle read/write and
  *    spill. A query whose plan phase dominates pays single-threaded
  *    Catalyst work no parallelism hides (fix: fewer plan nodes); one
  *    whose wall far exceeds task time / cores pays job-launch and
  *    barrier overhead (fix: fewer actions), not compute.
  *  - `plan`: after one run, the final executed plan's join strategies
  *    and shuffle counts, then its text ([[Measure.finalPlan]]). Both
  *    the `Exchange` nodes and the materialized `ShuffleQueryStage`s are
  *    counted: under AQE each stage wraps its exchange.
  *  - `explain`: `explain("formatted")` of the unexecuted plan.
  *
  * Cores and reps come from the variables Bench reads: SPARK_GRAFT_CPUS
  * (default 4) and SPARK_GRAFT_BENCH_REPS (default 3). */
object Probe {
  val modes: Seq[String] = Seq("time", "layers", "plan", "explain")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && modes.contains(args(1)),
      s"usage: Probe <sfDir> <${modes.mkString("|")}> <query...>")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = Engine.localSession(cpus, "graft-probe")
    try run(spark, args(0), args(1), args.drop(2).toSeq, reps, println)
    finally spark.stop()
  }

  /** Probe `names` on a caller-owned session; every report line goes to
    * `out`. */
  def run(spark: SparkSession, sfDir: String, mode: String, names: Seq[String],
          reps: Int, out: String => Unit): Unit = {
    require(modes.contains(mode), s"unknown mode '$mode' (${modes.mkString(", ")})")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      def query = fn(spark, sfDir)
      mode match {
        case "time" => time(spark, name, query, reps, out)
        case "layers" => layers(spark, name, query, reps, out)
        case "plan" =>
          val p = Measure.finalPlan(query).toString
          def c(s: String) = s.r.findAllIn(p).length
          out(f"[probe] $name plan: SMJ=${c("SortMergeJoin")}%d " +
            f"BHJ=${c("BroadcastHashJoin")}%d " +
            f"BNLJ=${c("BroadcastNestedLoop")}%d " +
            f"EX=${c("Exchange hashpartitioning")}%d " +
            f"SQS=${c("ShuffleQueryStage")}%d")
          out(p)
        case "explain" =>
          out(s"######## $name ########")
          out(query.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
    }
  }

  private def time(spark: SparkSession, name: String,
                   query: => org.apache.spark.sql.DataFrame, reps: Int,
                   out: String => Unit): Unit = {
    def once(label: String): Double = {
      val t0 = System.nanoTime()
      val n = query.count()
      val sec = (System.nanoTime() - t0) / 1e9
      Measure.release(spark, "probe")
      out(f"[probe] $name $label: $sec%.3f s rows=$n")
      sec
    }
    once("warm")
    val secs = (1 to reps).map(i => once(s"rep$i"))
    out(s"[probe] $name median=${Measure.r3(Measure.median(secs))} s")
  }

  private def layers(spark: SparkSession, name: String,
                     query: => org.apache.spark.sql.DataFrame, reps: Int,
                     out: String => Unit): Unit = {
    val meter = Measure.install(spark)
    try for (i <- 1 to reps) {
      Measure.release(spark, "probe")
      Measure.drain(spark, "probe")
      val w0 = meter.snapshot
      val t0 = System.nanoTime()
      val df = query
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val n = df.count()
      val t3 = System.nanoTime()
      Measure.drain(spark, "probe")
      val w = meter.snapshot - w0
      out(f"[probe] $name rep$i: build=${(t1 - t0) / 1e9}%.3f s " +
        f"plan=${(t2 - t1) / 1e9}%.3f s exec=${(t3 - t2) / 1e9}%.3f s " +
        f"total=${(t3 - t0) / 1e9}%.3f s rows=$n jobs=${w.jobs} " +
        f"stages=${w.stages} tasks=${w.tasks} taskRun=${w.runMs / 1e3}%.3f s " +
        f"taskCpu=${w.cpuS}%.3f s gc=${w.gcMs} ms " +
        f"shuffleRead=${w.shuffleReadBytes / 1e6}%.3f MB " +
        f"shuffleWrite=${w.shuffleWriteBytes / 1e6}%.3f MB " +
        f"spill=${w.spillBytes / 1e6}%.3f MB")
    } finally spark.sparkContext.removeSparkListener(meter)
  }
}
