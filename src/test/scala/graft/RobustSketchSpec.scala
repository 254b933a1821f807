package graft

import graft.operators.{Robust, TextOps}
import org.apache.spark.sql.functions._

/** Accuracy contracts for the r13 histogram-sketch production defaults.
  * The chain selects the bin whose cumulative count reaches the
  * ceil-rank, and the rank-r order statistic lies INSIDE that bin, so
  * every estimate is within one binWidth of the exact ceil-rank value —
  * an invariant, not a tolerance: |est − v_(r)| <= binWidth always
  * (inclusive — the bound is attainable on bin-edge data, ADVICE r13). The
  * specs below check it on pseudo-random grouped data against
  * independently sorted values (never the operator's own machinery). */
class RobustSketchSpec extends SparkSpec {
  import spark.implicits._

  private val W = 16L

  private def data = spark.range(4000).select(
    concat(lit("g"), pmod(col("id"), lit(4L)).cast("string")).as("g"),
    // heavy-tailed-ish positive longs over a few bins' span
    (pmod(xxhash64(col("id")), lit(997L)) +
      when(pmod(col("id"), lit(97L)) === 0, 50000L).otherwise(0L)).as("v"))

  /** ceil-rank order statistic per group from plain sorted arrays. */
  private def rankStat(vals: Seq[Long], num: Long, den: Long): Long = {
    val s = vals.sorted
    val r = ((num * s.length + den - 1) / den).toInt // ceil(num/den * n)
    s(math.max(r, 1) - 1)
  }

  test("mad sketch: med/mad within one binWidth of exact ceil-rank stats") {
    val byG = data.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toSeq }
    val out = Robust.madOutlierStatsSketch(data, "g", "v", binWidth = W)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == byG.keySet)
    for ((g, vals) <- byG) {
      val (med, mad, n, nOut) = out(g)
      assert(n == vals.length)
      // <= W, not < W (ADVICE r13): the interpolation can legally land
      // exactly one binWidth above the order statistic — e.g. a
      // singleton group whose value sits on the bin's lower edge with
      // the rank on its last row returns (bin+1)*W. The bound is
      // attainable, so the invariant is inclusive.
      val exactMed = rankStat(vals, 5000, 10000)
      assert(math.abs(med - exactMed) <= W,
        s"$g: med_est $med vs exact rank $exactMed")
      // MAD chain bins |v - med_est| (the SKETCH median, by contract)
      val adevs = vals.map(v => math.abs(v - med))
      val exactMad = rankStat(adevs, 5000, 10000)
      assert(math.abs(mad - exactMad) <= W,
        s"$g: mad_est $mad vs exact rank $exactMad")
      assert(nOut == adevs.count(_ > 3L * mad))
    }
  }

  test("trimmed sketch: cuts within one binWidth; means exact given cuts") {
    val byG = data.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toSeq }
    val out = Robust.trimmedStatsSketch(data, "g", "v", binWidth = W)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toMap
    for ((g, vals) <- byG) {
      val (n, lo, hi, tmean, wmean) = out(g)
      assert(n == vals.length)
      assert(math.abs(lo - rankStat(vals, 1000, 10000)) <= W)
      assert(math.abs(hi - rankStat(vals, 9000, 10000)) <= W)
      val inside = vals.filter(v => v >= lo && v <= hi)
      assert(tmean == inside.sum.toDouble / inside.length)
      val wsum = vals.map(v => math.min(math.max(v, lo), hi)).sum
      assert(wmean == wsum.toDouble / vals.length)
    }
  }

  /** Exact replay of the histogram chain (r15 window-form rewrite): the
    * estimates must equal the rank-join reference algorithm BIT-FOR-BIT
    * (first bin whose cum reaches the ceil-rational rank, then integer
    * within-bin interpolation) — not just sit within the ±binWidth
    * accuracy bound, because the oracle hashes pin the exact values. */
  private def chainRef(vals: Seq[Long], w: Long, bp: Long): Long = {
    val hist = vals.map(_ / w).groupBy(identity).toSeq.sortBy(_._1)
      .map { case (b, g) => (b, g.length.toLong) }
    val n = vals.length.toLong
    val r = (bp * n + 9999) / 10000
    var cum = 0L
    val (bin, cnt, cumBefore) = hist.iterator
      .map { case (b, c) => val cb = cum; cum += c; (b, c, cb) }
      .find { case (_, c, cb) => cb + c >= r }.get
    bin * w + w * (r - cumBefore) / cnt
  }

  test("window-form cuts replay the rank-join reference exactly") {
    val byG = data.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toSeq }
    // med via the mad operator's first chain (k huge so fences don't matter)
    val med = Robust.madOutlierStatsSketch(data, "g", "v", binWidth = W)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trim = Robust.trimmedStatsSketch(data, "g", "v", binWidth = W)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    for ((g, vals) <- byG) {
      assert(med(g) == chainRef(vals, W, 5000), s"$g med")
      assert(trim(g)._1 == chainRef(vals, W, 1000), s"$g lo")
      assert(trim(g)._2 == chainRef(vals, W, 9000), s"$g hi")
    }
    // the ungrouped q82 form, multiple quantiles in one call
    val cents = byG.values.flatten.toSeq
    val hq = graft.operators.Sketch.histogramQuantiles(
        cents.toDF("c"), col("c"), 25L, Seq(2500, 5000, 9900))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for (bp <- Seq(2500, 5000, 9900))
      assert(hq(bp) == chainRef(cents, 25L, bp) / 100.0, s"q82 bp=$bp")
  }

  test("each quantile chain plans a single WindowExec") {
    def windows(df: org.apache.spark.sql.DataFrame): Int = {
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Int = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        (p match {
          case _: org.apache.spark.sql.execution.window.WindowExec => 1
          case _ => 0
        }) + kids.map(walk).sum
      }
      walk(graft.tools.Measure.finalPlan(df))
    }
    // one grouped chain carries both trim cuts
    assert(windows(Robust.trimmedStatsSketch(data, "g", "v", binWidth = W)) == 1)
    assert(windows(graft.operators.Sketch.histogramQuantiles(
      data, col("v"), 25L, Seq(2500, 5000, 9900))) == 1)
  }

  test("ppl sketch at 1-micro bins: buckets match an independent replay") {
    // with binWidthMicros = 1 every distinct micro-score is its own bin;
    // replicate the ceil-rational thirds cuts over the collected scores
    // with plain Scala and require bucket-for-bucket agreement
    val docs = (1 to 90)
      .map(i => (i.toLong, (1 to (3 + i)).map(j => s"w${(i * 31 + j * 7) % 911}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.perplexityBucketsSketch(docs, "doc_id", "text",
      binWidthMicros = 1L)
    val negs = out.select(
        expr("CAST(round(-logprob_mean * 1000000) AS BIGINT)")).as[Long]
      .collect().toSeq
    def cutAt(r: Long): Long = {
      val byV = negs.sorted.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (v, g) => (v, g.length.toLong) }
      var cum = 0L
      val (v, cnt, cumBefore) = byV.iterator
        .map { case (v, c) => val b = cum; cum += c; (v, c, b) }
        .find { case (_, c, b) => b + c >= r }.get
      v + (r - cumBefore) / cnt // binWidth 1: bin == value, integer DIV
    }
    val n = negs.length.toLong
    val (hiCut, loCut) = (cutAt((n + 2) / 3), cutAt((2 * n + 2) / 3))
    val want = negs.groupBy(v =>
      if (v <= hiCut) "head" else if (v <= loCut) "middle" else "tail")
      .map { case (k, g) => k -> g.length.toLong }
    val got = out.groupBy("ppl_bucket").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"got $got want $want")
    assert(want.values.sum == 90L)
    // thirds within one tie-class of exact
    assert(want("head") >= 28L && want("head") <= 32L, want)
  }
}
