package graft

import org.apache.spark.sql.functions._
import graft.tools.{Measure, Work}

/** The shared work census and harness helpers (graft.tools.Measure). */
class MeasureSpec extends SparkSpec {

  test("work census: a shuffled count shows jobs, tasks and shuffle writes; no action, no work") {
    val meter = Measure.install(spark)
    try {
      Measure.drain(spark, "spec")
      val w0 = meter.snapshot
      spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().collect()
      Measure.drain(spark, "spec")
      val w = meter.snapshot - w0
      assert(w.jobs > 0 && w.stages > 0 && w.tasks > 0)
      assert(w.shuffleWriteBytes > 0 && w.shuffleReadBytes > 0)
      assert(w.runMs >= 0 && w.cpuNs > 0)

      Measure.drain(spark, "spec")
      val a = meter.snapshot
      val b = meter.snapshot
      assert(b - a == Work(0, 0, 0, 0, 0, 0, 0, 0, 0))
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  test("median and r3 keep the evidence format") {
    assert(Measure.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Measure.r3(1.0005) == "1.001" && Measure.r3(-1.0) == "-1.000")
  }

  test("ensureLive keeps a live session") {
    assert(Measure.ensureLive(spark, 4, "graft-tests", "spec") eq spark)
  }
}
