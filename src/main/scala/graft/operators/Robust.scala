package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust statistics for data-quality gating: median / MAD outlier
  * detection. Mean/stddev outlier rules break on the exact data they are
  * meant to catch (a handful of extreme rows drags the mean toward
  * itself and inflates sigma until nothing is an outlier — masking);
  * the median and the median-absolute-deviation have a 50% breakdown
  * point, so the fences hold even on heavily polluted columns.
  *
  * Exactness: this is the EXACT form — Spark's `percentile` and DuckDB's
  * `quantile_cont` compute the same linear-interpolated order statistic
  * (bit-parity established by q44), so the whole operator replays in the
  * oracle. Spark's exact percentile buffers each group's values, which is
  * the right trade for grouped telemetry/metric columns (bounded groups);
  * for 100 TB single-group columns use the mergeable histogram sketch
  * ([[Sketch.histogramQuantiles]], q82) as the approximate scale path.
  *
  * Physical shape: two grouped aggregates with the group-keyed medians
  * BROADCAST back between them (group cardinality is the broadcast bound,
  * not data), one final counting aggregate — three passes over the
  * column, nothing corpus×corpus. */
object Robust {

  /** Per-group median, MAD, and the count of rows outside
    * `|x - median| > k * MAD` — (groupCol, med, mad, n, n_outliers).
    * med/mad publish UNROUNDED (r8 tie audit, docs/NOTES.md): Spark
    * percentile and DuckDB quantile_cont return the identical double
    * (q44 parity), so no trailing round is needed or safe. */
  def madOutlierStats(df: DataFrame, groupCol: String, valueCol: String,
                      k: Double = 3.0): DataFrame = {
    require(k > 0, "madOutlierStats: k > 0")
    val ev = df.select(col(groupCol).as("__g"),
      col(valueCol).cast("double").as("__v"))
    val med = ev.groupBy(col("__g"))
      .agg(expr("percentile(__v, 0.5)").as("__med"))
    val dev = ev.join(broadcast(med), "__g")
      .withColumn("__adev", abs(col("__v") - col("__med")))
    val mad = dev.groupBy(col("__g"), col("__med"))
      .agg(expr("percentile(__adev, 0.5)").as("__mad"))
    dev.join(broadcast(mad.select(col("__g"), col("__mad"))), "__g")
      .groupBy(col("__g"), col("__med"), col("__mad"))
      .agg(count(lit(1)).as("n"),
        count(when(col("__adev") > lit(k) * col("__mad"), 1))
          .as("n_outliers"))
      .select(col("__g").as(groupCol),
        col("__med").as("med"),
        col("__mad").as("mad"),
        col("n"), col("n_outliers"))
  }

  /** Per-group approximate median estimate off a fixed-width integer
    * histogram — the GROUPED form of [[Sketch.histogramQuantiles]]'s
    * all-integer rank/interpolation chain (bin DIV, ceil-rational rank,
    * integer-division interpolation), shared by the two sketch-default
    * operators below. State per group is the bounded (bin, cnt)
    * histogram (≤ value-range/binWidth rows — mergeable, map-side
    * combined), so no agg buffer ever holds a group's VALUES — the
    * autoBlockCap discipline (r12) applied to the robust battery.
    * Input: (__g, __x) with __x a NON-NEGATIVE long (enforced — DIV
    * truncation would mis-bin negatives). Output: (__g, <out>) with the
    * estimate in the input's integer unit. */
  private def groupedQuantileEst(vals: DataFrame, binWidth: Long,
                                 quantileBp: Int, out: String): DataFrame =
    groupedQuantileCuts(groupedHist(vals, binWidth), binWidth,
      Seq(quantileBp -> out))

  /** The bounded (g, bin, cnt) state every grouped-sketch form shares —
    * mergeable by bin-wise count sum, map-side combined. */
  private def groupedHist(vals: DataFrame, binWidth: Long): DataFrame =
    vals
      .select(col("__g"),
        when(col("__x") < 0, raise_error(lit(
          "groupedQuantileEst: negative values unsupported")))
          .otherwise(col("__x")).as("__x"))
      .select(col("__g"), expr(s"__x DIV $binWidth").as("bin"))
      .groupBy(col("__g"), col("bin")).agg(count(lit(1)).as("cnt"))

  /** Window-form cut extraction (r15, guide §2.4 — remove shuffles
    * outright): `cum` and the group total `n` ride ONE partitioned
    * window pass over the bounded histogram (same partition key, one
    * exchange), and because per-bin counts are >= 1 the cumulative count
    * is strictly increasing within a group — so "the first bin whose cum
    * reaches rank r" is the UNIQUE row with cum >= r AND cum_before < r.
    * The former rank aggregate + non-equi join + bin equi-join therefore
    * collapse into per-row predicates plus one exchange-free groupBy
    * (the window already hash-partitioned by __g). Arithmetic is
    * UNCHANGED: the same ceil-rational rank ((bp*n + 9999) DIV 10000)
    * and the same integer within-bin interpolation — hash parity on
    * q384–q388 pins it. Multiple cuts (lo/hi trim, several quantiles)
    * share the single pass: each contributes one conditional column,
    * collapsed by max() (exactly one non-NULL row per group per cut). */
  private def groupedQuantileCuts(hist: DataFrame, binWidth: Long,
                                  cuts: Seq[(Int, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one ordered spec for both: n sums the whole group through an
    // unbounded frame, so cum and n share a single WindowExec
    val w = Window.partitionBy(col("__g")).orderBy(col("bin"))
    val cum = hist
      .select(col("*"), sum(col("cnt")).over(w).as("cum"),
        sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("n"))
      .withColumn("cum_before", col("cum") - col("cnt"))
    val ests = cuts.map { case (bp, out) =>
      val r = s"($bp * n + 9999) DIV 10000"
      max(when(col("cum") >= expr(r) && col("cum_before") < expr(r),
        col("bin") * binWidth +
          expr(s"$binWidth * (($r) - cum_before) DIV cnt"))).as(out)
    }
    cum.groupBy(col("__g")).agg(ests.head, ests.tail: _*)
  }

  /** Append a batch's bounded per-group histogram to the PERSISTED
    * table at `path`, stamped with `batchId` — [[Sketch
    * .appendHistogram]]'s maintained-index shape per GROUP: per-source
    * quantile monitoring forever after comes from the table, never a
    * corpus rescan. Batch histograms are pure functions of the batch,
    * so a replayed append writes byte-identical rows and the reader's
    * (batch_id, g, bin) dedup absorbs it — at-least-once callers stay
    * exactly-once (the q209 proof, per group). */
  def appendGroupedHistogram(df: DataFrame, groupCol: String,
                             valueCol: String, binWidth: Long,
                             path: String, batchId: String): Unit =
    groupedHist(df.select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__x")), binWidth)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(path)

  /** Per-group quantiles from the persisted grouped-histogram table:
    * replay-dedup on (batch_id, g, bin), bin-wise count merge (exact
    * integer addition), then the identical rank/interpolation chain per
    * requested basis point — equals the one-shot grouped estimate of
    * everything ever appended. Output: (g, quantile_bp, est). */
  def groupedQuantilesFromTable(spark: org.apache.spark.sql.SparkSession,
                                path: String, binWidth: Long,
                                quantilesBp: Seq[Int]): DataFrame = {
    require(quantilesBp.nonEmpty &&
      quantilesBp.forall(q => q > 0 && q <= 10000),
      "groupedQuantilesFromTable: quantiles in basis points (1..10000)")
    val hist = spark.read.parquet(path)
      .dropDuplicates("batch_id", "__g", "bin")
      .groupBy(col("__g"), col("bin")).agg(sum(col("cnt")).as("cnt"))
    // all requested quantiles ride ONE window pass + exchange-free agg
    // (r15): the former per-bp chain union replayed the whole
    // rank/interpolation chain (and its exchanges) once per quantile
    val cuts = groupedQuantileCuts(hist, binWidth,
      quantilesBp.zipWithIndex.map { case (bp, i) => bp -> s"__est_$i" })
    cuts.selectExpr("__g AS g",
        s"stack(${quantilesBp.size}, " +
          quantilesBp.zipWithIndex
            .map { case (bp, i) => s"$bp, __est_$i" }.mkString(", ") +
          ") AS (quantile_bp, est)")
  }

  /** [[madOutlierStats]]'s production-default twin for huge groups: the
    * median and MAD come from per-group fixed-width histograms (bounded
    * mergeable state) instead of Spark's exact `percentile` (which
    * buffers every value of a group in ONE agg buffer — the r11
    * autoBlockCap OOM hazard class). All arithmetic is integer —
    * bin = v DIV binWidth, rank = ceil-rational, interpolation by
    * integer division, fence = adev > k·mad on exact longs — so the
    * whole estimator replays cross-engine (q384). The exact form stays
    * the oracle contract for bounded telemetry groups; THIS is the form
    * a 100 TB corpus column defaults to. Estimates sit within one
    * binWidth of the exact order statistic — INCLUSIVE: |est − v_(r)|
    * <= binWidth, and the bound is attainable on bin-edge data
    * (ADVICE r13).
    * Output: (groupCol, med_est, mad_est, n, n_outliers) — all BIGINT. */
  def madOutlierStatsSketch(df: DataFrame, groupCol: String,
                            valueCol: String, binWidth: Long = 16L,
                            k: Long = 3L): DataFrame = {
    require(binWidth > 0 && k > 0, "madOutlierStatsSketch: binWidth, k > 0")
    val ev = df.select(col(groupCol).as("__g"),
      col(valueCol).cast("long").as("__v"))
    val med = groupedQuantileEst(ev.select(col("__g"), col("__v").as("__x")),
      binWidth, 5000, "med_est")
    val dev = ev.join(broadcast(med), "__g")
      .withColumn("__adev", abs(col("__v") - col("med_est")))
    val mad = groupedQuantileEst(
      dev.select(col("__g"), col("__adev").as("__x")),
      binWidth, 5000, "mad_est")
    dev.join(broadcast(mad), "__g")
      .groupBy(col("__g"), col("med_est"), col("mad_est"))
      .agg(count(lit(1)).as("n"),
        count(when(col("__adev") > lit(k) * col("mad_est"), 1))
          .as("n_outliers"))
      .select(col("__g").as(groupCol), col("med_est"), col("mad_est"),
        col("n"), col("n_outliers"))
  }

  /** [[trimmedStats]]'s production-default twin: the [trimLo, trimHi]
    * cuts come from the per-group histogram chain (basis-point ranks
    * over bounded mergeable state) instead of exact `percentile`; the
    * trim/winsorize pass then runs on exact LONGS against the integer
    * cuts — sums are exact BIGINTs and each mean is ONE int/int double
    * division, so the operator replays cross-engine (q385) with no
    * rounding discipline needed at all.
    * Output: (groupCol, n, lo_est, hi_est, trimmed_mean,
    * winsorized_mean). */
  def trimmedStatsSketch(df: DataFrame, groupCol: String, valueCol: String,
                         binWidth: Long = 16L, trimLoBp: Int = 1000,
                         trimHiBp: Int = 9000): DataFrame = {
    require(trimLoBp > 0 && trimHiBp <= 10000 && trimLoBp < trimHiBp,
      "trimmedStatsSketch: 0 < trimLoBp < trimHiBp <= 10000")
    val ev = df.select(col(groupCol).as("__g"),
      col(valueCol).cast("long").as("__v"))
    val vals = ev.select(col("__g"), col("__v").as("__x"))
    // both cuts ride ONE window pass over ONE histogram (r15): the former
    // two chains + __g join (whose identical histogram exchanges
    // ReuseExchangeExec deduplicated, but whose rank/bin joins each
    // replayed) collapse into two conditional columns of one
    // exchange-free aggregate — see groupedQuantileCuts.
    val cuts = groupedQuantileCuts(groupedHist(vals, binWidth), binWidth,
      Seq(trimLoBp -> "lo_est", trimHiBp -> "hi_est"))
    ev.join(broadcast(cuts), "__g")
      .withColumn("__w",
        greatest(least(col("__v"), col("hi_est")), col("lo_est")))
      .withColumn("__t", when(col("__v") >= col("lo_est") &&
        col("__v") <= col("hi_est"), col("__v")))
      .groupBy(col("__g"), col("lo_est"), col("hi_est"))
      .agg(count(lit(1)).as("n"),
        count(col("__t")).as("__nt"),
        sum(col("__t")).as("__st"),
        sum(col("__w")).as("__sw"))
      .select(col("__g").as(groupCol), col("n"),
        col("lo_est"), col("hi_est"),
        (col("__st").cast("double") / col("__nt").cast("double"))
          .as("trimmed_mean"),
        (col("__sw").cast("double") / col("n").cast("double"))
          .as("winsorized_mean"))
  }

  /** Delete-one-bucket (block) jackknife confidence interval for a
    * per-group mean — the DETERMINISTIC distributed answer to "is this
    * corpus metric's difference real or noise?" (Efron & Stein 1981;
    * the block form is the standard scale-out estimator family of
    * Kleiner et al.'s "bag of little bootstraps", JRSS-B 2014, with the
    * randomness replaced by hash buckets). Every doc lands in one of
    * `numBuckets` buckets by portable id-hash; the leave-one-bucket-out
    * means θ_(b) = (S - s_b)/(N - n_b) give
    * var_J = (B-1)/B * Σ_b (θ_(b) - θ̄)², and the reported interval is
    * mean ± 1.96·√var_J. Pure functions of the corpus — re-runs,
    * retries and other engines reproduce the interval bit-for-bit,
    * which resampling bootstraps cannot.
    *
    * Scale shape: ONE (group, bucket) integer aggregate over the data
    * (map-side combined), then all statistics live on the bounded
    * group × B grid. Cross-engine float discipline: bucket sums are
    * exact integers; θ_(b) is frozen to scale-6 DECIMAL via the PORTABLE
    * floor-form round (floor(x·1e6 + 0.5)/1e6 — value arithmetic both
    * engines; θ_(b) is an int/int ratio, the repr-rounding hazard class,
    * r8 tie audit) before the order-independent mean; each squared
    * deviation is frozen to scale-12 DECIMAL(30,12) the same way.
    * Output: (groupCol, n, mean, se_jack, ci_lo, ci_hi). */
  def jackknifeCI(df: DataFrame, groupCol: String, idCol: String,
                  valueCol: String, numBuckets: Int = 32,
                  seed: Int = 5): DataFrame = {
    require(numBuckets >= 2, "jackknifeCI: numBuckets >= 2")
    val grid = df.select(col(groupCol).as("__g"),
        pmod(Dedup.portableHash64(col(idCol).cast("string"), seed),
          lit(numBuckets.toLong)).as("__b"),
        col(valueCol).cast("long").as("__v"))
      .groupBy(col("__g"), col("__b"))
      .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
    val tots = grid.groupBy(col("__g"))
      .agg(sum(col("__s")).as("__ts"), sum(col("__n")).as("__tn"),
        count(lit(1)).as("__nb")) // buckets PRESENT (empty ones drop out)
    val theta = grid.join(broadcast(tots), "__g")
      .withColumn("__t6",
        // N == n_b (single-occupied-bucket group): leave-one-out is
        // undefined; pin θ_(b) to the mean so its deviation is 0
        graft.expr.GraftFunctions.portableRound(
          when(col("__tn") === col("__n"),
            col("__ts").cast("double") / col("__tn"))
          .otherwise((col("__ts") - col("__s")).cast("double") /
            (col("__tn") - col("__n"))), 6)
          .cast("decimal(20,6)"))
    val bars = theta.groupBy(col("__g"), col("__ts"), col("__tn"), col("__nb"))
      .agg(sum(col("__t6")).as("__tsum"))
      .withColumn("__tbar", col("__tsum").cast("double") / col("__nb"))
    val varsum = theta.select(col("__g"), col("__t6"))
      .join(broadcast(bars.select(col("__g"), col("__tbar"))), "__g")
      .withColumn("__d", col("__t6").cast("double") - col("__tbar"))
      .groupBy(col("__g"))
      .agg(sum(graft.expr.GraftFunctions
          .portableRound(col("__d") * col("__d"), 12).cast("decimal(30,12)"))
        .as("__ss"))
    bars.join(varsum, "__g")
      .withColumn("__mean", col("__ts").cast("double") / col("__tn"))
      .withColumn("__se", sqrt((col("__nb") - 1).cast("double") / col("__nb") *
        col("__ss").cast("double")))
      .select(col("__g").as(groupCol), col("__tn").as("n"),
        col("__mean").as("mean"),
        col("__se").as("se_jack"),
        (col("__mean") - lit(1.96) * col("__se")).as("ci_lo"),
        (col("__mean") + lit(1.96) * col("__se")).as("ci_hi"))
  }

  /** Per-group standardized moments — mean, population std, skewness,
    * excess kurtosis — from ONE pass of exact integer power sums
    * (S1..S4 through DECIMAL(38,0), order-independent and mergeable:
    * the q158 sufficient-statistics idea for the four scalar moments).
    * Skew/kurtosis are the distribution-SHAPE monitors the mean/std
    * pair misses: a length distribution whose kurtosis jumps grew a
    * heavy tail (template spam, concatenation bugs) even when mean and
    * std look stable.
    *
    * Cross-engine: power sums are exact; every derived statistic is the
    * IDENTICAL closed-form double expression in both engines
    * (central moments via raw-moment expansion; x^1.5 as x·√x — no
    * pow()); zero-variance groups report skew/kurt 0 rather than an
    * ANSI divide error. Output: (groupCol, n, mean, std, skewness,
    * kurtosis_excess). */
  def momentStats(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val v = col("__v")
    val sums = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(v.cast("decimal(38,0)")).as("__s1"),
        sum((v * v).cast("decimal(38,0)")).as("__s2"),
        sum((v * v * v).cast("decimal(38,0)")).as("__s3"),
        sum((v * v * v * v).cast("decimal(38,0)")).as("__s4"))
    val nd = col("__n").cast("double")
    def d(name: String): Column = col(name).cast("double")
    val m = d("__s1") / nd
    val m2 = d("__s2") / nd - m * m
    val m3 = d("__s3") / nd - lit(3.0) * m * (d("__s2") / nd) +
      lit(2.0) * m * m * m
    val m4 = d("__s4") / nd - lit(4.0) * m * (d("__s3") / nd) +
      lit(6.0) * m * m * (d("__s2") / nd) - lit(3.0) * m * m * m * m
    sums.select(col("__g").as(groupCol), col("__n").as("n"),
      m.as("mean"),
      sqrt(m2).as("std"),
      when(m2 === 0, lit(0.0))
        .otherwise(m3 / (m2 * sqrt(m2))).as("skewness"),
      when(m2 === 0, lit(0.0))
        .otherwise(m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess"))
  }

  /** Per-group percentile-rank score calibration — the step before a
    * GLOBAL quality threshold can be applied to a heterogeneous corpus.
    * Raw quality scores are not comparable across sources (a "good"
    * length/punctuation profile for forum posts is a terrible one for
    * reference text), so thresholding raw scores keeps whole sources and
    * drops whole sources. Rank-normalizing within each source first
    * (norm = (rank - 1) / (n - 1) ∈ [0, 1]) makes "top 30% of each
    * source" a single global predicate — the CCNet-style per-bucket
    * selection generalized to any score.
    *
    * Determinism: `rank()` over (score asc) gives ties an identical
    * rank, so norm is a pure function of the score multiset — no
    * tie-break arbitrariness crosses engines; the decile boundary is
    * integer-exact ((rank-1)*10 DIV (n-1), capped at 9) so no float
    * boundary decides bucket membership. Per-row norms are frozen to
    * DECIMAL(10,6) before the sum so the group mean is
    * order-independent.
    *
    * Scale shape: one rank window per source (shuffle keyed on the
    * group; a skewed giant source is ONE sort — for that shape switch
    * the score to its [[Sketch.histogramQuantiles]] bucket first), then
    * a bounded (group × decile) aggregate.
    * Output: (groupCol, decile, n_docs, min_score, max_score, mean_norm). */
  def percentileCalibration(df: DataFrame, groupCol: String,
                            scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v").asc)
    val ranked = df
      .select(col(groupCol).as("__g"), col(scoreCol).cast("long").as("__v"))
      .withColumn("__rank", rank().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))))
      .withColumn("__norm",
        when(col("__n") === 1, lit(0.0)).otherwise(
          (col("__rank") - 1).cast("double") / (col("__n") - 1).cast("double")))
      .withColumn("decile",
        when(col("__n") === 1, lit(0)).otherwise(
          least(expr("CAST((__rank - 1) * 10 DIV (__n - 1) AS INT)"), lit(9))))
    ranked.groupBy(col("__g"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("__v")).as("min_score"), max(col("__v")).as("max_score"),
        sum(graft.expr.GraftFunctions.portableRound(col("__norm"), 6)
          .cast("decimal(10,6)")).as("__snorm"))
      .select(col("__g").as(groupCol), col("decile"), col("n_docs"),
        col("min_score"), col("max_score"),
        (col("__snorm").cast("double") / col("n_docs").cast("double"))
          .as("mean_norm"))
  }

  /** Theil-Sen robust trend (Theil 1950; Sen 1968): per-group slope =
    * median of all pairwise slopes, intercept = median(y) − slope ·
    * median(x) (the Siegel form) — the 29%-breakdown replacement for
    * OLS trend lines on monitoring series, where one bad day (an
    * outage, a crawler burst) swings a least-squares slope arbitrarily
    * but moves a median-of-slopes not at all.
    *
    * Intended input is an ALREADY-AGGREGATED bounded series per group
    * (daily counts, per-snapshot metrics): the pair join is O(points²)
    * per group, the honest price of the exact estimator — fine for
    * monitoring series (30-365 points), wrong for raw rows (aggregate
    * first). Exactness: pairwise slopes are single divisions of exact
    * inputs; the median is the q110 exact-percentile convention.
    * Groups with fewer than two DISTINCT x values have no pairwise
    * slope and are absent from the output (the inner join) — a
    * single-point series has no trend to report.
    * Output: (groupCol, n_points, slope, intercept). */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val p = df.select(col(groupCol).as("__g"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
    val pairs = p.as("l").join(p.as("r"),
        col("l.__g") === col("r.__g") && col("l.__x") < col("r.__x"))
      .select(col("l.__g").as("__g"),
        ((col("r.__y") - col("l.__y")) / (col("r.__x") - col("l.__x")))
          .as("__s"))
    val slope = pairs.groupBy(col("__g"))
      .agg(expr("percentile(__s, 0.5)").as("__slope"))
    val meds = p.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_points"),
        expr("percentile(__x, 0.5)").as("__mx"),
        expr("percentile(__y, 0.5)").as("__my"))
    meds.join(slope, "__g")
      .select(col("__g").as(groupCol), col("n_points"),
        col("__slope").as("slope"),
        (col("__my") - col("__slope") * col("__mx")).as("intercept"))
  }

  /** Trimmed + winsorized means (the robust-location battery next to
    * [[madOutlierStats]]'s scale fences): exact percentile cuts at
    * [trimLo, trimHi], then mean of the inside values (trimmed) and
    * mean with outside values CLAMPED to the cuts (winsorized) — the
    * two standard outlier-resistant alternatives to a raw mean on
    * heavy-tailed monitoring metrics. Summands are rounded to 6 and
    * DECIMAL-summed (the q99 discipline) so both means are
    * cross-engine exact. Output: (groupCol, n, lo_cut, hi_cut,
    * trimmed_mean, winsorized_mean). */
  def trimmedStats(df: DataFrame, groupCol: String, valueCol: String,
                   trimLo: Double = 0.1, trimHi: Double = 0.9): DataFrame = {
    require(trimLo >= 0 && trimHi <= 1 && trimLo < trimHi,
      "trimmedStats: 0 <= trimLo < trimHi <= 1")
    val ev = df.select(col(groupCol).as("__g"),
      col(valueCol).cast("double").as("__v"))
    val cuts = ev.groupBy(col("__g"))
      .agg(expr(s"percentile(__v, $trimLo)").as("__lo"),
        expr(s"percentile(__v, $trimHi)").as("__hi"))
    ev.join(broadcast(cuts), "__g")
      .withColumn("__w", round(greatest(least(col("__v"), col("__hi")),
        col("__lo")), 6).cast("decimal(25,6)"))
      .withColumn("__t", when(col("__v") >= col("__lo") &&
        col("__v") <= col("__hi"), round(col("__v"), 6).cast("decimal(25,6)")))
      .groupBy(col("__g"), col("__lo"), col("__hi"))
      .agg(count(lit(1)).as("n"),
        count(col("__t")).as("__nt"),
        sum(col("__t")).as("__st"),
        sum(col("__w")).as("__sw"))
      .select(col("__g").as(groupCol), col("n"),
        col("__lo").as("lo_cut"),
        col("__hi").as("hi_cut"),
        (col("__st").cast("double") / col("__nt").cast("double"))
          .as("trimmed_mean"),
        (col("__sw").cast("double") / col("n").cast("double"))
          .as("winsorized_mean"))
  }
}
