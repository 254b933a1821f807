package graft

/** Interleaved scaling-exponent harness (VERDICT r9 item 1): measures each
  * query at TWO scale directories in ONE JVM, alternating scales rep by
  * rep, and reports per-family scaling exponents.
  *
  * Why not two `graft.Bench` runs? An exponent is a RATIO of timings taken
  * at different scales; on a shared box the regime drifts several-x within
  * minutes (r9 "watch items"; this round measured untouched queries at
  * 2.7-8x between adjacent runs, with the bench's gc_ms/storage_mb columns
  * flat — host, not JVM). Two separate runs put the whole drift into the
  * ratio. Interleaving (warmA, warmB, then A,B,A,B,...) takes the two
  * scales' reps seconds apart under the same JIT/regime state, so drift
  * largely cancels; the residual shows as rep spread, which is printed.
  *
  * WORK metrics (VERDICT r10 item 2): wall exponents hide work behind
  * local[32] slack — q286 measured wall exp 0.98 for n²/10 WORK (x100
  * work absorbed into x10 time by idle cores; on a saturated cluster the
  * work exponent is what bills). So each rep also records, via a
  * tools.WorkMeter, the rep's shuffle read/write bytes and executor CPU
  * time; the JSON carries {shuffle_rw_mb, cpu_s} arrays per scale and
  * exp_cpu / exp_shuffle next to exp_timed. The listener bus is drained
  * (Measure.drain) around every snapshot so a rep's task events are
  * counted against THAT rep. Shuffle deltas are
  * deterministic per plan; CPU deltas carry JIT/GC noise like wall time —
  * medians over reps, same as wall.
  *
  * Usage:
  *   SPARK_GRAFT_BENCH_ONLY=q1,... runMain graft.ScaleBench \
  *     <scaleA>:<dirA> <scaleB>:<dirB>
  * e.g. 0.1:/root/testdata/sf0.1 1:target/scaledata/sf1
  *
  * exponent = log(tB/tA) / log(scaleB/scaleA) over timed medians, and
  * separately over warm times (for session-cached families the corpus-
  * scale BUILD lives in the warm rep — Bench.scala protocol). Writes
  * SCALEBENCH.json in the working directory (committed evidence) and the
  * one-line summary to stdout.
  */
object ScaleBench {
  import graft.tools.Measure
  import graft.tools.Measure.{median, r3}

  private val tag = "scalebench"

  /** One rep's measurement: wall seconds, shuffle read+write MB, CPU s. */
  private final case class Rep(wall: Double, shuffleMb: Double, cpuS: Double)

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "args: <scaleA>:<dirA> <scaleB>:<dirB>")
    val Array((sfA, dirA), (sfB, dirB)) = args.map { a =>
      val i = a.indexOf(':')
      require(i > 0, s"malformed arg '$a' — expected <scale>:<dir>")
      (a.take(i).toDouble, a.drop(i + 1))
    }
    // equal scales would make every exponent log(x)/log(1) = infinite and
    // blow up AFTER the expensive measurement — reject before any work
    require(sfA != sfB && sfA > 0 && sfB > 0,
      s"scales must be positive and distinct (got $sfA and $sfB)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(sys.error("SPARK_GRAFT_BENCH_ONLY is required"))
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    val app = "graft-scalebench"
    var spark = Engine.localSession(cpus, app)
    // the meter's counters are cumulative across a rebuild: ensureLive
    // re-registers the same listener on the fresh context (this run's
    // q239-at-sf1 lesson: one family's OOM must poison only itself)
    val work = Measure.install(spark)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                 dir: String, name: String): Rep = {
      Measure.drain(spark, tag)
      val w0 = work.snapshot
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Measure.drain(spark, tag)
        val w = work.snapshot - w0
        Rep(wall, w.shuffleMb, w.cpuS)
      } catch { case e: Throwable =>
        System.err.println(s"[scalebench] $name @ $dir FAILED: " +
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")
            .linesIterator.nextOption().getOrElse("")}")
        Rep(-1.0, -1.0, -1.0) }
    }

    val decade = math.log10(sfB / sfA)
    // exponent over positive medians only; 0-work families (nothing
    // shuffled at either scale) report NaN -> null, not -Infinity
    def expOf(a: Double, b: Double, ok: Boolean): Double =
      if (ok && a > 0 && b > 0) math.log10(b / a) / decade else Double.NaN
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only(n) }
      .map { case (name, fn) =>
        spark = Measure.ensureLive(spark, cpus, app, tag, work)
        // warm both scales first (session caches, codegen), then
        // alternate timed reps A,B,A,B so regime drift hits both evenly
        val warmA = timeOnce(fn, dirA, name); Measure.release(spark, tag)
        val warmB = timeOnce(fn, dirB, name); Measure.release(spark, tag)
        val timed = (1 to reps).map { _ =>
          val a = timeOnce(fn, dirA, name); Measure.release(spark, tag)
          val b = timeOnce(fn, dirB, name); Measure.release(spark, tag)
          (a, b)
        }
        val (rsA, rsB) = (timed.map(_._1), timed.map(_._2))
        val ok = warmA.wall > 0 && warmB.wall > 0 &&
          rsA.forall(_.wall > 0) && rsB.forall(_.wall > 0)
        val (mA, mB) = (median(rsA.map(_.wall)), median(rsB.map(_.wall)))
        val (shA, shB) = (median(rsA.map(_.shuffleMb)), median(rsB.map(_.shuffleMb)))
        val (cpA, cpB) = (median(rsA.map(_.cpuS)), median(rsB.map(_.cpuS)))
        val expTimed = expOf(mA, mB, ok)
        val expWarm = expOf(warmA.wall, warmB.wall, ok)
        val expCpu = expOf(cpA, cpB, ok)
        val expShuffle = expOf(shA, shB, ok)
        System.err.println(f"[scalebench] $name%-28s A=${r3(mA)}%8s B=${r3(mB)}%8s " +
          f"expTimed=$expTimed%6.2f expWarm=$expWarm%6.2f " +
          f"expCpu=$expCpu%6.2f expShuffle=$expShuffle%6.2f " +
          f"cpu=${r3(cpA)}->${r3(cpB)} shMB=${r3(shA)}->${r3(shB)} " +
          s"repsA=${rsA.map(r => r3(r.wall)).mkString("[", ",", "]")} " +
          s"repsB=${rsB.map(r => r3(r.wall)).mkString("[", ",", "]")}")
        (name, warmA, warmB, rsA, rsB, ok)
      }
    def jnum(d: Double): String = if (d.isNaN) "null" else r3(d)
    def jarr(ds: Seq[Double]): String = ds.map(r3).mkString("[", ",", "]")
    val detail = rows.map { case (n, wA, wB, rsA, rsB, ok) =>
      val (mA, mB) = (median(rsA.map(_.wall)), median(rsB.map(_.wall)))
      val (shA, shB) = (median(rsA.map(_.shuffleMb)), median(rsB.map(_.shuffleMb)))
      val (cpA, cpB) = (median(rsA.map(_.cpuS)), median(rsB.map(_.cpuS)))
      s""""$n":{"warm_a":${r3(wA.wall)},"warm_b":${r3(wB.wall)},""" +
        s""""reps_a":${jarr(rsA.map(_.wall))},"reps_b":${jarr(rsB.map(_.wall))},""" +
        s""""median_a":${r3(mA)},"median_b":${r3(mB)},""" +
        s""""cpu_s_a":${jarr(rsA.map(_.cpuS))},"cpu_s_b":${jarr(rsB.map(_.cpuS))},""" +
        s""""shuffle_mb_a":${jarr(rsA.map(_.shuffleMb))},""" +
        s""""shuffle_mb_b":${jarr(rsB.map(_.shuffleMb))},""" +
        s""""exp_timed":${jnum(expOf(mA, mB, ok))},""" +
        s""""exp_warm":${jnum(expOf(wA.wall, wB.wall, ok))},""" +
        s""""exp_cpu":${jnum(expOf(cpA, cpB, ok))},""" +
        s""""exp_shuffle":${jnum(expOf(shA, shB, ok))},"ok":$ok}"""
    }.mkString("{", ",", "}")
    val line = s"""{"scalebench":$detail,"sf_a":$sfA,"sf_b":$sfB,""" +
      s""""dir_a":"$dirA","dir_b":"$dirB","cpus":$cpus,"reps":$reps,""" +
      s""""protocol":"interleaved warmA,warmB then A,B per rep; exponent=log(tB/tA)/log(sfB/sfA); cpu/shuffle deltas from task-end metrics, bus-drained per rep"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SCALEBENCH.json"), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[scalebench] write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
