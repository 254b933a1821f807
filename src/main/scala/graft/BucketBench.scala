package graft

import org.apache.spark.sql.DataFrame

/** Bucketed-layout head-to-head for the join-transition class (VERDICT
  * r12 item 6): q267/q304/q268 carry sf1 shuffle exponents 2.35–5.60
  * from the lineitem⋈orders broadcast→sort-merge crossover — the honest
  * both-sides-big shape — while the repo owns write-time bucketing with
  * zero-Exchange joins (Sinks.writeBucketedTable, BucketedJoinSpec).
  * This harness MEASURES the amortization story instead of asserting it:
  *
  *  - writes lineitem and orders as tables bucketed on the join key
  *    (same bucket count both sides), timing the one-time write;
  *  - runs q267's own ship-latency chain (Queries.shipLatency: join +
  *    support histogram) on (a) the plain parquet reads and (b) the
  *    bucketed tables, interleaved rep by rep (the ScaleBench drift
  *    argument), with wall / executor-CPU / shuffle-bytes per rep and
  *    the physical plan's Exchange count per variant;
  *  - prints one JSON line and writes ./BUCKETBENCH.json.
  *
  * The broadcast threshold is DISABLED for the measured join so both
  * variants run the same sort-merge algorithm and the delta isolates
  * the EXCHANGE cost — at 100 TB neither side broadcasts anyway, which
  * is the regime this measures. Usage:
  *   SPARK_GRAFT_BUCKETS=32 runMain graft.BucketBench <scale>:<dir>
  */
object BucketBench {
  import graft.tools.Measure
  import graft.tools.Measure.{median, r3}

  private val tag = "bucketbench"

  private def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val through = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case other => other.children
      }
      (p +: through.flatMap(walk)) ++ p.subqueries.flatMap(walk)
    }
    walk(plan).count {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
      case _ => false
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "args: <scale>:<dir>")
    val i = args(0).indexOf(':')
    require(i > 0, s"malformed arg '${args(0)}'")
    val (sf, dir) = (args(0).take(i).toDouble, args(0).drop(i + 1))
    val buckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "32").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.localSession(cpus, "graft-bucketbench")
    val work = Measure.install(spark)
    // both variants must run the identical SMJ algorithm so the delta is
    // the exchanges, not a broadcast-vs-SMJ algorithm change (and at the
    // target scale neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def li = Tables.load(spark, dir, "lineitem")
    def ord = Tables.load(spark, dir, "orders")

    for (tbl <- Seq("bb_lineitem", "bb_orders")) {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
      ()
    }
    val t0 = System.nanoTime()
    graft.etl.Sinks.writeBucketedTable(
      li.withColumnRenamed("l_orderkey", "k"), "bb_lineitem", "k", buckets)
    graft.etl.Sinks.writeBucketedTable(
      ord.withColumnRenamed("o_orderkey", "k"), "bb_orders", "k", buckets)
    val writeS = (System.nanoTime() - t0) / 1e9

    def plainDf = Queries.shipLatency(li, ord)
    def bucketDf = Queries.shipLatency(
      spark.table("bb_lineitem").withColumnRenamed("k", "l_orderkey"),
      spark.table("bb_orders").withColumnRenamed("k", "o_orderkey")
        .hint("merge"))

    def timeOnce(mk: => DataFrame): (Double, Double, Double) = {
      Measure.release(spark, tag)
      Measure.drain(spark, tag)
      val w0 = work.snapshot
      val t = System.nanoTime()
      mk.count()
      val wall = (System.nanoTime() - t) / 1e9
      Measure.drain(spark, tag)
      val w = work.snapshot - w0
      (wall, w.shuffleMb, w.cpuS)
    }

    // warm both, then interleave reps (the ScaleBench drift argument)
    timeOnce(plainDf); timeOnce(bucketDf)
    val plain = Array.fill(reps)((0.0, 0.0, 0.0))
    val bucket = Array.fill(reps)((0.0, 0.0, 0.0))
    for (r <- 0 until reps) {
      plain(r) = timeOnce(plainDf)
      bucket(r) = timeOnce(bucketDf)
    }
    def block(xs: Array[(Double, Double, Double)], ex: Int): String =
      s"""{"wall_s":${r3(median(xs.map(_._1).toSeq))},""" +
        s""""shuffle_mb":${r3(median(xs.map(_._2).toSeq))},""" +
        s""""cpu_s":${r3(median(xs.map(_._3).toSeq))},""" +
        s""""reps_wall":[${xs.map(x => r3(x._1)).mkString(",")}],""" +
        s""""exchanges":$ex}"""
    // exchange counts come from an EXECUTED instance's final adaptive
    // plan (r14, ADVICE r13): counting on a fresh never-run DataFrame
    // reads the initial AQE plan, which can disagree with what the timed
    // reps actually executed after adaptive rewrites / stage reuse. The
    // chain returns one row per order priority, so collecting is cheap.
    val json =
      s"""{"harness":"bucketbench","sf":$sf,"buckets":$buckets,""" +
        s""""bucket_write_s":${r3(writeS)},""" +
        s""""plain":${block(plain, exchanges(Measure.finalPlan(plainDf)))},""" +
        s""""bucketed":${block(bucket, exchanges(Measure.finalPlan(bucketDf)))}}"""
    println(json)
    val p = java.nio.file.Paths.get("BUCKETBENCH.json")
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    spark.stop()
  }
}
