package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid resampling over irregular event streams: the
  * time-series shape the reference's poll-driven collector produces
  * naturally (a device reports when polled — `roborock_collector.py`
  * S1/S5 rows arrive at whatever cadence the poller manages) and every
  * downstream consumer wants on a fixed cadence. Gap-filling policy is
  * the standard pair: last-observation-carried-forward for state-like
  * signals, linear interpolation for continuous ones.
  *
  * Scale: the grid is generated per key from that key's own observed
  * span (`sequence` + explode — no driver-side calendar), the
  * fill windows partition by key, and a key's grid size is bounded by
  * span/step, not by event count — a firehose key costs the same grid
  * as a quiet one. The per-key window is a bounded group in the same
  * sense as the SCD2/funnel windows (PlanAudit windowNotes): grid
  * rows per key = time-span/step, fixed by the resample config.
  */
object TimeSeries {

  /** Resample `events` onto a fixed `stepSeconds` grid per `keyCol`,
    * from each key's first observed bucket to its last. Observations
    * landing in the same bucket average. Output per (key, bucket):
    *
    *   - `bucket_start` (timestamp), `observed` (any real row here?)
    *   - `value_obs`   — the bucket average, NULL on gap rows
    *   - `value_locf`  — last observation carried forward (never NULL:
    *                     the grid starts at an observed bucket)
    *   - `value_interp`— linear interpolation between the bracketing
    *                     observations; trailing gaps carry the last
    *                     value (no future point to interpolate toward)
    *
    * All values round to 6 dp for cross-engine bit-stability. */
  def resampleGapFill(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    val step = lit(stepSeconds)
    val obs = events
      .select(col(keyCol),
        (floor(unix_timestamp(col(tsCol)) / step) * step).as("bucket"),
        col(valueCol).as("v"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(avg(col("v")).as("value_obs"))
    val grid = obs
      .groupBy(col(keyCol))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(col(keyCol),
        explode(sequence(col("lo"), col("hi"), step)).as("bucket"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsBucket = when(col("value_obs").isNotNull, col("bucket"))
    grid.join(obs, Seq(keyCol, "bucket"), "left")
      .withColumn("pv", last(col("value_obs"), ignoreNulls = true).over(back))
      .withColumn("pb", last(obsBucket, ignoreNulls = true).over(back))
      .withColumn("nv", first(col("value_obs"), ignoreNulls = true).over(fwd))
      .withColumn("nb", first(obsBucket, ignoreNulls = true).over(fwd))
      .select(col(keyCol),
        timestamp_seconds(col("bucket")).as("bucket_start"),
        col("value_obs").isNotNull.as("observed"),
        round(col("value_obs"), 6).as("value_obs"),
        round(col("pv"), 6).as("value_locf"),
        round(
          when(col("value_obs").isNotNull, col("value_obs"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") +
              (col("nv") - col("pv")) *
                ((col("bucket") - col("pb")) / (col("nb") - col("pb")))),
          6).as("value_interp"))
  }

  /** Per-key least-squares trend over integer (x, y) observations —
    * "is this user/domain/metric rising or falling, and how fast" as
    * ONE map-side-combinable aggregation pass. The OLS slope is
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²); both sides stay EXACT Longs,
    * and the quotient is deliberately NOT taken — integer division
    * truncates toward zero in Spark but floors in DuckDB/Python for
    * negative numerators, and an IEEE divide would re-admit the
    * summation-order drift the integer design excludes. Callers rank
    * by the exact rational (num, den) or take the sign; `trend` is
    * that sign (+1 rising, −1 falling, 0 flat, NULL when den = 0 —
    * a single distinct x has no slope).
    *
    * Scale: one groupBy over five sums — partial aggregation does
    * all the work map-side; no window, no self-join, heaviest key
    * costs one struct of state. Overflow bound: |num| ≤ 2·n·|x|max·
    * |y|max·n — keep n·xmax and n·ymax under ~3·10⁹ (re-origin x to
    * days-since-window-start at 100 TB; epoch-days already fit). */
  def groupTrend(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
      .select(col(keyCol), col("n"),
        (col("n") * col("__sxy") - col("__sx") * col("__sy"))
          .as("slope_num"),
        (col("n") * col("__sxx") - col("__sx") * col("__sx"))
          .as("slope_den"))
      .withColumn("trend",
        when(col("slope_den") === 0L, lit(null).cast("int"))
          .otherwise(signum(col("slope_num")).cast("int")))
  }

  /** Full per-key OLS fit y = a + b·x over integer observations —
    * [[groupTrend]]'s slope plus the exact-rational intercept and a
    * micro-quantized R², the "how strong is the trend" companion the
    * sign alone can't answer. All five sufficient statistics stay
    * EXACT Longs; slope = slope_num/slope_den and intercept =
    * icept_num/slope_den are left as rationals (same truncate-vs-
    * floor rationale as groupTrend), and the ONE double step is the
    * final R² = num²/(den_x·den_y) quotient over exact operands —
    * deterministic regardless of partitioning, since the operands are
    * order-free integer sums. den = 0 (single distinct x) or a
    * constant y (den_y = 0) yields NULL r2, not 0/0.
    *
    * Scale: one groupBy over six sums, all partial-aggregatable
    * map-side; no window, no self-join. Overflow bound: the rationals
    * need n·|x|max·|y|max·n under ~9·10¹⁸ (re-origin x to
    * days-since-window-start; milli-quantize y before calling);
    * num² is computed in Double space precisely so it does NOT need
    * to fit a Long. Output: (keyCol, n, slope_num, slope_den,
    * icept_num, r2_micro). */
  def groupOls(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val agg = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
        sum(y * y).as("__syy"))
    val num = col("n") * col("__sxy") - col("__sx") * col("__sy")
    val denX = col("n") * col("__sxx") - col("__sx") * col("__sx")
    val denY = col("n") * col("__syy") - col("__sy") * col("__sy")
    agg.select(col(keyCol), col("n"),
      num.as("slope_num"), denX.as("slope_den"),
      (col("__sy") * col("__sxx") - col("__sx") * col("__sxy"))
        .as("icept_num"),
      when(denX === 0L || denY === 0L, lit(null).cast("long"))
        .otherwise(round(lit(1e6) *
          (num.cast("double") * num.cast("double")) /
          (denX.cast("double") * denY.cast("double"))).cast("long"))
        .as("r2_micro"))
  }

  /** Kaplan–Meier survival estimate per group, in exact LOG space —
    * "how long until a user churns / a device fails", right-censored
    * observations first-class. At each distinct event time:
    * n_at_risk (subjects with duration ≥ t), deaths, censored, and
    * the cumulative log-survival ln S(t) = Σ_{tᵢ≤t} ln(1 − dᵢ/nᵢ) as
    * an integer micro-nat sum — each step contributes
    * lnq(nᵢ−dᵢ) − lnq(nᵢ) (two quantized ln's over exact integers),
    * so the curve is order-free and never exponentiates: downstream
    * compares survival in log space, or applies exp once at the
    * edge. After a time where EVERYONE at risk dies, S = 0 and
    * log-survival is NULL from that row on (−∞ has no integer).
    *
    * Scale: one (group, time) cell agg, one group-sized total, three
    * range-partitioned prefix sums over the CELL table
    * ([[Ranking.groupRunningSum]] — cells per group are bounded by
    * distinct event times, and no per-group window touches the row
    * scale). Output: (groupCol, t, n_at_risk, n_deaths, n_censored,
    * log_surv_mnat). */
  def kaplanMeier(
      df: DataFrame,
      groupCol: String,
      durationCol: String,
      eventCol: String): DataFrame = {
    val lnq = (c: Column) =>
      round(lit(1e6) * log(c.cast("double"))).cast("long")
    val ev = (col(eventCol).cast("long") =!= 0L)
    val cells = df.filter(col(durationCol).isNotNull)
      .groupBy(col(groupCol), col(durationCol).cast("long").as("t"))
      .agg(sum(when(ev, 1L).otherwise(0L)).as("n_deaths"),
        sum(when(ev, 0L).otherwise(1L)).as("n_censored"))
      .withColumn("__dc", col("n_deaths") + col("n_censored"))
    val totals = cells.groupBy(col(groupCol)).agg(sum(col("__dc")).as("__N"))
    val atRisk = Ranking.groupRunningSum(cells, groupCol, Seq("t"), "__dc")
      .join(totals, Seq(groupCol))
      .withColumn("n_at_risk", col("__N") - (col("running") - col("__dc")))
      .drop("running")
      .withColumn("__term",
        when(col("n_deaths") === 0L, lit(0L))
          .when(col("n_deaths") < col("n_at_risk"),
            lnq(col("n_at_risk") - col("n_deaths")) - lnq(col("n_at_risk")))
          .otherwise(lit(0L)))
      .withColumn("__dead", when(col("n_deaths") >= col("n_at_risk"), 1L)
        .otherwise(0L))
    val withLn = Ranking.groupRunningSum(atRisk, groupCol, Seq("t"),
      "__term").withColumnRenamed("running", "__cumln")
    Ranking.groupRunningSum(withLn, groupCol, Seq("t"), "__dead")
      .select(col(groupCol), col("t"), col("n_at_risk"),
        col("n_deaths"), col("n_censored"),
        when(col("running") > 0L, lit(null).cast("long"))
          .otherwise(col("__cumln")).as("log_surv_mnat"))
  }

  /** Median survival time per group — the headline number off the
    * [[kaplanMeier]] curve: the FIRST event time where survival
    * drops to ≤ ½, i.e. log-survival ≤ −ln 2 (−693147 µnats; a NULL
    * log-survival row means S = 0, which certainly qualifies). NULL
    * median = the curve never reached ½ within the observed window —
    * the honest "more than half are still alive" answer, not a
    * number. One filter + min per group over the curve. */
  def medianSurvival(
      km: DataFrame, groupCol: String): DataFrame =
    km.groupBy(col(groupCol))
      .agg(min(when(col("log_surv_mnat").isNull ||
        col("log_surv_mnat") <= -693147L, col("t")))
        .as("median_t"))

  /** Two-sample log-rank test — "do these two cohorts churn/fail at
    * the same rate", the hypothesis-test companion of
    * [[kaplanMeier]]: at each event time, observed-vs-expected group-A
    * deaths under the hypergeometric null, χ² = (ΣO−E)²/ΣV. Per-time
    * E is micro-quantized over exact integer at-risk counts (so the
    * O−E sum is an exact integer), V is pico-quantized
    * (n₁n₂d(n−d)/(n²(n−1)), one rounded divide per time, exact while
    * the per-time population stays under ~5·10⁴ — duration cells, not
    * rows), and the final χ² is one divide over the two sums. Times
    * with n ≤ 1 carry no information and are skipped.
    *
    * At-risk at every time comes from a (times × 2 groups) grid —
    * bounded by the DURATION DOMAIN (days of a retention window), not
    * the subject count; for unbounded-resolution durations bucket
    * upstream. Output: 1 row (n_times, o1, e1_micro, oe_sum_micro,
    * v_sum_pico, chi2_micro); NULL χ² when no time has variance. */
  def logRank(
      df: DataFrame,
      groupCol: String,
      durationCol: String,
      eventCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    require(groupA != groupB, "the two cohorts must differ")
    val g = col(groupCol).cast("string")
    val ev = (col(eventCol).cast("long") =!= 0L)
    val cells = Dedup.truncate(df
      .filter(col(durationCol).isNotNull &&
        g.isin(groupA, groupB))
      .groupBy(g.as("__g"), col(durationCol).cast("long").as("t"))
      .agg(sum(when(ev, 1L).otherwise(0L)).as("__d"),
        count(lit(1)).as("__dc")))
    val totals = cells.groupBy(col("__g")).agg(sum(col("__dc")).as("__N"))
    val grid = cells.select(col("t")).distinct()
      .crossJoin(broadcast(
        totals.select(col("__g"), col("__N"))))
      .join(cells, Seq("__g", "t"), "left")
      .withColumn("__d", coalesce(col("__d"), lit(0L)))
      .withColumn("__dc", coalesce(col("__dc"), lit(0L)))
    val atRisk = Ranking.groupRunningSum(grid, "__g", Seq("t"), "__dc")
      .withColumn("__ar", col("__N") - (col("running") - col("__dc")))
    val a = atRisk.filter(col("__g") === groupA)
      .select(col("t"), col("__ar").as("__n1"), col("__d").as("__d1"))
    val b = atRisk.filter(col("__g") === groupB)
      .select(col("t"), col("__ar").as("__n2"), col("__d").as("__d2"))
    val terms = a.join(b, Seq("t"))
      .withColumn("__n", col("__n1") + col("__n2"))
      .withColumn("__dt", col("__d1") + col("__d2"))
      .filter(col("__n") > 1L)
      .select(
        col("__d1"),
        round(lit(1e6) * (col("__dt") * col("__n1")).cast("double") /
          col("__n").cast("double")).cast("long").as("__e1"),
        round(lit(1e12) *
          (col("__n1").cast("double") * col("__n2").cast("double") *
            col("__dt").cast("double") *
            (col("__n") - col("__dt")).cast("double")) /
          (col("__n").cast("double") * col("__n").cast("double") *
            (col("__n") - 1L).cast("double"))).cast("long").as("__v"))
    terms.agg(count(lit(1)).as("n_times"),
        sum(col("__d1")).as("o1"),
        sum(col("__e1")).as("e1_micro"),
        sum(lit(1000000L) * col("__d1") - col("__e1"))
          .as("oe_sum_micro"),
        sum(col("__v")).as("v_sum_pico"))
      .withColumn("chi2_micro",
        when(coalesce(col("v_sum_pico"), lit(0L)) <= 0L,
          lit(null).cast("long"))
          .otherwise(round(lit(1e6) *
            (col("oe_sum_micro").cast("double") *
              col("oe_sum_micro").cast("double")) /
            col("v_sum_pico").cast("double")).cast("long")))
  }

  /** Theil–Sen robust regression per group — [[groupTrend]]'s OLS
    * slope with the breakdown point a real corpus needs (one bad
    * batch of y's drags an OLS line anywhere; the median of
    * pairwise slopes shrugs off 29% contamination): slope = LOW
    * median of (yⱼ−yᵢ)/(xⱼ−xᵢ) over all pairs with xᵢ ≠ xⱼ (each
    * micro-rounded — an integer order statistic), intercept = LOW
    * median of yᵢ − slope·xᵢ residual micros. Pairs with equal x
    * are skipped (no slope to vote), censused via n_pairs vs the
    * full n(n−1)/2.
    *
    * Scale: the pair census is quadratic per group, so rows
    * truncate to the first `maxN` in (idCol, x, y) order — the
    * [[mannKendall]] bound — selected by [[Ranking.groupTopK]]'s
    * bounded-heap aggregate (map-side combinable, maxN-row state
    * per group) rather than a full range-exchange rank: at corpus
    * scale the whole input would otherwise shuffle and sort just to
    * keep maxN rows per group. Groups with no x-distinct pair are
    * absent. Output: (groupCol, n, n_pairs, slope_micro,
    * intercept_micro). */
  def theilSen(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String,
      idCol: String,
      maxN: Int = 512): DataFrame = {
    require(maxN >= 2 && maxN <= graft.functions.SeriesKernels.MaxSeriesN,
      s"maxN must be in [2, ${graft.functions.SeriesKernels.MaxSeriesN}]" +
        " — it bounds the quadratic pair census")
    // One bounded-heap aggregation collects each group's first-maxN
    // (x, y) series; slope census, slope median, residuals, and
    // intercept median all run as ONE in-task kernel over the
    // collected arrays ([[graft.functions.SeriesKernels.TheilSenStats]],
    // identical float steps) instead of the pair self-join + two
    // range-exchange window sorts (r18, guide §2.3/§2.4).
    val series = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).as("__id"),
        round(col(xCol).cast("double") * lit(1e6)).cast("long")
          .as("__x"),
        round(col(yCol).cast("double") * lit(1e6)).cast("long")
          .as("__y"))
      .filter(col("__id").isNotNull)
      .groupBy(col("__g"))
      .agg(graft.functions.TopKAggregate.topKStructs(
        Seq(col("__id"), col("__x"), col("__y")), maxN).as("__series"))
    series
      .select(col("__g"),
        graft.functions.SeriesKernels.theilSenStats(
          transform(col("__series"), e => e.getField("__x")),
          transform(col("__series"), e => e.getField("__y")))
          .as("__st"))
      .filter(col("__st").isNotNull)
      .select(col("__g").as(groupCol), col("__st.n").as("n"),
        col("__st.n_pairs").as("n_pairs"),
        col("__st.slope_micro").as("slope_micro"),
        col("__st.intercept_micro").as("intercept_micro"))
  }

  /** Cox proportional-hazards ONE-STEP estimate for a binary
    * covariate (Breslow ties) — the survival family's effect SIZE:
    * [[logRank]] says WHETHER cohorts A/B churn differently, this
    * says BY WHAT HAZARD RATIO. With per-event-time risk sets n₁/n
    * and deaths d (the exact hypergeometric table logRank already
    * builds), the score and information at β = 0 are
    *
    *   U = Σ_t (d₁ − d·n₁/n),   I = Σ_t d·n₁·n₂/n²,
    *
    * and one Newton step from zero gives β̂ = U/I, HR = exp(β̂),
    * se = 1/√I — the standard score-test estimate, exact for small
    * β and the universally quoted first iterate. Per-time terms
    * micro-round (exact integers into one divide each), sums are
    * exact Longs, and the three closing scalars are single mirrored
    * IEEE chains. I ≤ 0 (no mixed-risk event time) reports NULLs.
    * Output: one row (n_times, o1, u_sum_micro, i_sum_micro,
    * beta_micro, hr_micro, se_micro). */
  def coxScore(
      df: DataFrame,
      groupCol: String,
      durationCol: String,
      eventCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    require(groupA != groupB, "the two cohorts must differ")
    val g = col(groupCol).cast("string")
    val ev = (col(eventCol).cast("long") =!= 0L)
    val cells = Dedup.truncate(df
      .filter(col(durationCol).isNotNull &&
        g.isin(groupA, groupB))
      .groupBy(g.as("__g"), col(durationCol).cast("long").as("t"))
      .agg(sum(when(ev, 1L).otherwise(0L)).as("__d"),
        count(lit(1)).as("__dc")))
    val totals = cells.groupBy(col("__g")).agg(sum(col("__dc")).as("__N"))
    val grid = cells.select(col("t")).distinct()
      .crossJoin(broadcast(totals.select(col("__g"), col("__N"))))
      .join(cells, Seq("__g", "t"), "left")
      .withColumn("__d", coalesce(col("__d"), lit(0L)))
      .withColumn("__dc", coalesce(col("__dc"), lit(0L)))
    val atRisk = Ranking.groupRunningSum(grid, "__g", Seq("t"), "__dc")
      .withColumn("__ar", col("__N") - (col("running") - col("__dc")))
    val a = atRisk.filter(col("__g") === groupA)
      .select(col("t"), col("__ar").as("__n1"), col("__d").as("__d1"))
    val b = atRisk.filter(col("__g") === groupB)
      .select(col("t"), col("__ar").as("__n2"), col("__d").as("__d2"))
    val terms = a.join(b, Seq("t"))
      .withColumn("__n", col("__n1") + col("__n2"))
      .withColumn("__dt", col("__d1") + col("__d2"))
      .filter(col("__n") > 0L && col("__dt") > 0L)
      .select(col("__d1"),
        (lit(1000000L) * col("__d1") -
          round(lit(1e6) * (col("__dt") * col("__n1")).cast("double") /
            col("__n").cast("double")).cast("long")).as("__u"),
        round(lit(1e6) *
          (col("__dt") * col("__n1") * col("__n2")).cast("double") /
          (col("__n") * col("__n")).cast("double")).cast("long")
          .as("__i"))
    terms.agg(count(lit(1)).as("n_times"), sum(col("__d1")).as("o1"),
        sum(col("__u")).as("u_sum_micro"),
        sum(col("__i")).as("i_sum_micro"))
      .select(col("n_times"), col("o1"), col("u_sum_micro"),
        col("i_sum_micro"),
        when(coalesce(col("i_sum_micro"), lit(0L)) > 0L,
          round(lit(1e6) * col("u_sum_micro").cast("double") /
            col("i_sum_micro").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("beta_micro"),
        when(coalesce(col("i_sum_micro"), lit(0L)) > 0L,
          round(lit(1e6) * exp(
            round(lit(1e6) * col("u_sum_micro").cast("double") /
              col("i_sum_micro").cast("double")).cast("long")
              .cast("double") / lit(1e6))).cast("long"))
          .otherwise(lit(null).cast("long")).as("hr_micro"),
        when(coalesce(col("i_sum_micro"), lit(0L)) > 0L,
          round(lit(1e6) / sqrt(col("i_sum_micro").cast("double") /
            lit(1e6))).cast("long"))
          .otherwise(lit(null).cast("long")).as("se_micro"))
  }

  /** Exponentially time-decayed counts with EXACT power-of-two decay:
    * each observation contributes `weight >> (age div halfLife)` —
    * halve per elapsed half-life, floored — so "recent activity
    * matters more" (trending items, hot domains, decaying reputation)
    * without a single float: `0.5^x` via arithmetic shift is
    * bit-identical in every engine and immune to summation order,
    * where IEEE `pow` would leak last-ulp diffs through the sum.
    * The floor means a unit weight vanishes entirely beyond
    * log₂(weight) half-lives — the natural retention horizon (weight
    * 1e6 ≈ 20 half-lives); shifts cap at 62 so huge ages stay
    * defined.
    *
    * `ageCol` = now − event time in the caller's unit (same unit as
    * `halfLife`); negative ages are clamped to 0 (future-dated rows
    * count full). Scale: one map pass + one map-side-combinable
    * hash-agg per key — nothing else.
    *
    * Output: (key, n_obs, decayed) — decayed in the weight's unit. */
  def decayedCounts(
      df: DataFrame,
      keyCol: String,
      ageCol: String,
      weight: Column,
      halfLife: Long): DataFrame = {
    require(halfLife > 0, "halfLife must be positive")
    // `div`, not `/` — Divide on Longs returns DOUBLE (the standing
    // integer-exactness rule). The caller's ageCol is resolved via
    // col() (names needing backticks work), then the div runs over
    // the aliased working column — never raw name interpolation.
    val shift = least(
      expr(s"__age div ${halfLife}L"), lit(62L)).cast("int")
    df.select(col(keyCol), weight.cast("long").as("__w"),
        greatest(col(ageCol).cast("long"), lit(0L)).as("__age"))
      .select(col(keyCol), col("__w"), shift.as("__k"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        sum(expr("shiftright(__w, __k)")).as("decayed"))
  }

  /** Truncated-window EWMA smoothing of a per-key value series — the
    * denoised twin every monitoring consumer of the poll stream wants
    * next to the raw samples ([[decayedCounts]] decays COUNTS of
    * events; this smooths a VALUE). The usual recurrence
    * s_i = α·x_i + (1−α)·s_{i−1} is a sequential fold no engine can
    * parallelize NOR reproduce bit-wise across engines (it compounds
    * libm-free but order-fixed double ops per row); the truncated form
    * s_i = Σ_{m<W} α(1−α)^m·x_{i−m} / Σ weights is the standard
    * practical substitute — the dropped tail carries (1−α)^W of the
    * mass (α=0.25, W=8 → ~10%, renormalized away by the ragged-edge
    * denominator, which also makes the first W−1 rows well-defined
    * instead of warm-up garbage).
    *
    * Exactness: each weight is quantized ONCE driver-side to integer
    * micro (round(1e6·α(1−α)^m)); each term round(x·w_m) is one
    * correctly-rounded double product of identical operands in any
    * IEEE engine; numerator and denominator are then INTEGER sums —
    * immune to summation order — and the final ratio is a single
    * divide. Same micro-int stance as VectorFunctions.
    *
    * Scale: one per-key ordered window, W lag taps — state is W rows
    * however long the key's history; no self-join, no grid. Ties on
    * `tsCol` are ordered by `idCol` (must be per-key unique).
    *
    * Output: input row + `ewma` (double, 6 dp). */
  def ewma(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      alpha: Double,
      window: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    require(window > 0, "window must be positive")
    val wq = ewmaWeightsMicro(alpha, window)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val x = col(valueCol).cast("double")
    val taps = wq.zipWithIndex.map { case (wm, m) =>
      val xm = if (m == 0) x else lag(x, m).over(w)
      (coalesce(round(xm * lit(wm)).cast("long"), lit(0L)),
        when(xm.isNotNull, lit(wm)).otherwise(lit(0L)))
    }
    val num = taps.map(_._1).reduce(_ + _)
    val den = taps.map(_._2).reduce(_ + _)
    // den = 0 means every tap in the window was NULL — "no data", not
    // zero: without the guard num/den is NaN and NaN.cast(long) is 0
    // in Spark, conflating the two.
    df.withColumn("ewma",
      when(den > 0L,
        round(lit(1e6) * (num.cast("double") / den.cast("double")))
          .cast("long") / lit(1e6))
        .otherwise(lit(null).cast("double")))
  }

  /** Micro-quantized truncated-EWMA weights: round(1e6·α(1−α)^m) for
    * m = 0..window−1, the (1−α)^m chain built by repeated multiply
    * (deterministic — no libm pow). Public so the oracle twin embeds
    * the identical integer literals. */
  def ewmaWeightsMicro(alpha: Double, window: Int): Seq[Long] = {
    val decays = Iterator.iterate(1.0)(_ * (1.0 - alpha)).take(window)
    decays.map(d => math.round(1e6 * alpha * d)).toSeq
  }

  /** Two-sided CUSUM changepoint scores per key — the control-chart
    * drift detector: the high side accumulates excess over
    * (center + slack), the low side deficit under (center − slack),
    * each resetting at zero, and an alarm fires when the accumulated
    * drift crosses `thresholdMicro`. A level SHIFT trips it in
    * shift/slack steps where a per-point z-score only sees outliers
    * (the [[graft.operators.Ranking.robustZScores]] complement: that
    * flags single weird points, this flags sustained drift).
    *
    * The sequential recurrence s_i = max(0, s_{i−1} + d_i) is exactly
    * window-expressible via the running-minimum identity
    * s_i = cum_i − min(0, min_{j≤i} cum_j) (and the low side is the
    * same identity over −d), so the whole detector is two ordered
    * windows of INTEGER micro arithmetic — bit-stable across engines
    * and partitionings, no fold. The center is the key's own micro
    * mean (two-pass; a known-good target would be a parameter in a
    * control-room deployment, but a data-derived center is what a
    * batch drift census over thousands of keys wants).
    *
    * Scale: one unordered per-key window for the center, one ordered
    * per-key window for the cumsums — the same bounded per-key shape
    * as [[resampleGapFill]]. Ties on `tsCol` order by `idCol`.
    *
    * Output: input row + `s_hi`, `s_lo` (micro longs), `alarm_hi`,
    * `alarm_lo` (boolean). */
  def cusum(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      slackMicro: Long,
      thresholdMicro: Long): DataFrame = {
    require(slackMicro >= 0, "slackMicro must be non-negative")
    require(thresholdMicro > 0, "thresholdMicro must be positive")
    val wk = Window.partitionBy(col(keyCol))
    val xq = round(col(valueCol).cast("double") * lit(1e6)).cast("long")
    val center = round(sum(xq).over(wk).cast("double") /
      count(lit(1)).over(wk).cast("double")).cast("long")
    cusumTail(df, center, keyCol, tsCol, idCol, valueCol,
      slackMicro, thresholdMicro)
  }

  /** Per-key CUSUM centers (micro mean) — the calibration table a
    * deployment freezes from a known-good period and feeds to
    * [[cusumWithCenters]] / the streaming monitor. The same
    * round(sum/count) chain as [[cusum]]'s inline center, so
    * `cusumWithCenters(df, cusumCenters(df), …) ≡ cusum(df, …)`
    * bit-for-bit (spec-pinned). Output: (keyCol, ctr). */
  def cusumCenters(df: DataFrame, keyCol: String, valueCol: String)
      : DataFrame = {
    val xq = round(col(valueCol).cast("double") * lit(1e6)).cast("long")
    df.select(col(keyCol), xq.as("__xq"))
      .groupBy(col(keyCol))
      .agg(round(sum(col("__xq")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("ctr"))
  }

  /** [[cusum]] against CALLER-SUPPLIED centers `(keyCol, ctr)` — the
    * production shape: centers frozen from a calibration window, so
    * today's drift never recalibrates itself away (a self-centered
    * CUSUM of a fully drifted series reads healthy). Keys missing
    * from `centers` drop (no center → no verdict). Also the exact
    * batch twin of the streaming monitor
    * (graft.streaming.CusumStream), which cannot see a final mean. */
  def cusumWithCenters(
      df: DataFrame,
      centers: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      slackMicro: Long,
      thresholdMicro: Long): DataFrame = {
    require(slackMicro >= 0, "slackMicro must be non-negative")
    require(thresholdMicro > 0, "thresholdMicro must be positive")
    cusumTail(df.join(centers, Seq(keyCol)), col("ctr"),
      keyCol, tsCol, idCol, valueCol, slackMicro, thresholdMicro)
      .drop("ctr")
  }

  private def cusumTail(
      df: DataFrame,
      center: Column,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      slackMicro: Long,
      thresholdMicro: Long): DataFrame = {
    val wo = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val xq = round(col(valueCol).cast("double") * lit(1e6)).cast("long")
    // The cumsums materialize as plain columns first — a window over
    // a window expression can't nest, and the running-min identity
    // needs min() OVER the cumsum itself.
    df.withColumn("__d_hi", xq - center - lit(slackMicro))
      .withColumn("__d_lo", -(xq - center) - lit(slackMicro))
      .withColumn("__cum_hi", sum(col("__d_hi")).over(wo))
      .withColumn("__cum_lo", sum(col("__d_lo")).over(wo))
      .withColumn("s_hi",
        col("__cum_hi") - least(lit(0L), min(col("__cum_hi")).over(wo)))
      .withColumn("s_lo",
        col("__cum_lo") - least(lit(0L), min(col("__cum_lo")).over(wo)))
      .withColumn("alarm_hi", col("s_hi") > thresholdMicro)
      .withColumn("alarm_lo", col("s_lo") > thresholdMicro)
      .drop("__d_hi", "__d_lo", "__cum_hi", "__cum_lo")
  }

  /** Seasonality detector / forecast-baseline scorecard: per key, the
    * in-sample MAE of the one-step NAIVE forecast (previous value)
    * vs the SEASONAL-naive forecast (value `period` steps back),
    * scored over the rows where both are defined (ordinal > period),
    * plus their ratio — ratio < 1 means lag-`period` structure is
    * real (the seasonal baseline beats the naive one), the go/no-go
    * any seasonal model must clear before it earns cluster time.
    *
    * Exactness: values micro-quantize once, absolute errors are
    * integer sums, each MAE is one rounded divide, the ratio one
    * more. Ordinals come from [[Ranking.groupRank]]'s
    * range-partitioned prefix (ties on `tsCol` broken by `idCol`),
    * and the lag taps are plain equi-joins on (key, ordinal−k) — no
    * per-key window, no state. Keys with fewer than period+1 rows
    * are absent; a flat series (naive MAE 0) reports NULL ratio.
    * Output: (keyCol, n_scored, mae_naive_micro, mae_seasonal_micro,
    * ratio_micro). */
  def naiveForecastEval(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    require(period >= 2, "period must be at least 2 (1 IS the naive lag)")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        col(idCol).as("__id"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val cur = Ranking.groupRank(base, "__k", Seq("__ts", "__id"))
      .select(col("__k"), col("rank"), col("__v"))
    val lag1 = cur.select(col("__k"), (col("rank") + 1L).as("rank"),
      col("__v").as("__v1"))
    val lagP = cur.select(col("__k"),
      (col("rank") + period.toLong).as("rank"), col("__v").as("__vp"))
    cur.join(lag1, Seq("__k", "rank")).join(lagP, Seq("__k", "rank"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("__v") - col("__v1"))).as("__sn"),
        sum(abs(col("__v") - col("__vp"))).as("__ss"))
      .select(col("__k").as(keyCol), col("n_scored"),
        round(col("__sn").cast("double") / col("n_scored").cast("double"))
          .cast("long").as("mae_naive_micro"),
        round(col("__ss").cast("double") / col("n_scored").cast("double"))
          .cast("long").as("mae_seasonal_micro"),
        when(col("__sn") > 0,
          round(lit(1e6) * col("__ss").cast("double") /
            col("__sn").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("ratio_micro"))
  }

  /** Autocorrelation census per key, lags 1..maxLag — the "does this
    * metric remember itself" profile behind seasonality hunting and
    * anomaly-detector window sizing ([[naiveForecastEval]] scores ONE
    * candidate period; this surveys them all). Standard ACF with the
    * full-series mean: r_k = Σ_{t≤n−k}(x_t−x̄)(x_{t+k}−x̄) / Σ(x−x̄)².
    * Everything up to the last divide is INTEGER: values
    * micro-quantize once, per-key totals (n, Σv, Σv²) and per-lag
    * pair sums (Σ v_t·v_{t+k}, head/tail marginals) accumulate in
    * DECIMAL(38,0), and the mean is eliminated by cross-multiplying:
    * num_k·n² = n²·P_k − n·S·(H_k+T_k) + (n−k)·S², den·n = n·Q − S².
    * One micro-rounded divide per (key, lag) at the end. Lag taps are
    * ONE equi-join on (key, ordinal − lag) with the lag list exploded
    * on the probe side — no per-key window, maxLag rows per input row
    * in one shuffle. Bound: |v_micro| ≲ 1e9 with n ≲ 1e6 rows/key
    * keeps n²·P within DECIMAL(38,0); micro-quantize coarser
    * upstream beyond that. Constant series (den = 0) report NULL;
    * (key, lag) pairs with no complete pair are absent.
    * Output: (keyCol, lag, n, n_pairs, acf_micro). */
  def acf(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be at least 1")
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        col(idCol).as("__id"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val cur = Dedup.truncate(
      Ranking.groupRank(base, "__k", Seq("__ts", "__id"))
        .select(col("__k"), col("rank"), col("__v")))
    val tot = cur.groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum(col("__v").cast(dec) * col("__v")).as("__q"))
    val probes = cur
      .select(col("__k"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"),
        col("rank"), col("__v").as("__vt"))
      .select(col("__k"), col("lag"),
        (col("rank") - col("lag")).as("rank"), col("__vt"))
    val pairs = cur.join(probes, Seq("__k", "rank"))
      .groupBy(col("__k"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__v").cast(dec) * col("__vt")).as("__p"),
        sum(col("__v").cast(dec)).as("__h"),
        sum(col("__vt").cast(dec)).as("__t"))
    val num = col("__p") * col("n") * col("n") -
      col("__s") * (col("__h") + col("__t")) * col("n") +
      col("__s") * col("__s") * col("n_pairs")
    val den = (col("__q") * col("n") - col("__s") * col("__s")) *
      col("n")
    pairs.join(tot, Seq("__k"))
      .select(col("__k").as(keyCol), col("lag").cast("long").as("lag"),
        col("n"), col("n_pairs"),
        when(den > 0, round(lit(1e6) * num.cast("double") /
          den.cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("acf_micro"))
  }

  /** Partial autocorrelation per key, lags 1..maxLag — the AR-order
    * diagnostic read next to [[acf]]'s raw profile (an AR(p) series
    * shows PACF cutting off after lag p while its ACF tails
    * forever). Durbin–Levinson on the micro-quantized ACF, with
    * every level's coefficients MICRO-ROUNDED before the next level
    * consumes them ("quantized DL") — that materialized rounding
    * point is what makes the recursion engine-exact: each level is
    * a small scalar IEEE expression over already-integer inputs,
    * never a float chain whose association could drift. The state
    * is one row per key (the pivoted r_1..r_maxLag), so the whole
    * recursion is a map over the key census — the acf pair join
    * upstream is the only data-sized work. A missing or NULL ACF
    * lag (short/constant series) nulls that PACF lag and everything
    * after it; a zero DL denominator likewise (stated).
    * Output: (keyCol, lag, pacf_micro). */
  def pacf(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 8, "maxLag must be in [1, 8]")
    val a = acf(df, keyCol, tsCol, idCol, valueCol, maxLag)
    val rCols = (1 to maxLag).map(l =>
      max(when(col("lag") === l.toLong, col("acf_micro")))
        .as(s"__r$l"))
    var cur = a.groupBy(col(keyCol))
      .agg(rCols.head, rCols.tail: _*)
      .withColumn("__p1_1", col("__r1"))
    def d(c: String) = col(c).cast("double") / lit(1e6)
    for (k <- 2 to maxLag) {
      val num = d(s"__r$k") -
        (1 until k).map(j => d(s"__p${k - 1}_$j") * d(s"__r${k - j}"))
          .reduce(_ + _)
      val den = lit(1.0) -
        (1 until k).map(j => d(s"__p${k - 1}_$j") * d(s"__r$j"))
          .reduce(_ + _)
      cur = cur.withColumn(s"__p${k}_$k",
        when(den =!= 0.0,
          round(lit(1e6) * num / den).cast("long")))
      for (j <- 1 until k)
        cur = cur.withColumn(s"__p${k}_$j",
          round(lit(1e6) * (d(s"__p${k - 1}_$j") -
            d(s"__p${k}_$k") * d(s"__p${k - 1}_${k - j}")))
            .cast("long"))
    }
    cur.select(col(keyCol),
        explode(array((1 to maxLag).map(l =>
          struct(lit(l.toLong).as("lag"),
            col(s"__p${l}_$l").as("pacf_micro"))): _*)).as("__e"))
      .select(col(keyCol), col("__e.lag").as("lag"),
        col("__e.pacf_micro").as("pacf_micro"))
  }

  /** Ljung–Box portmanteau test per key — "is this series white
    * noise", the residual-diagnostic read AFTER a fit ([[acf]] shows
    * WHERE correlation lives; this sums it into one statistic):
    * Q = n(n+2)·Σ_{l=1..m} ρ_l²/(n−l) over [[acf]]'s micro-quantized
    * autocorrelations. Each lag's ρ_l²/(n−l) is unit-rounded from the
    * exact integer acf_micro² (order-free under the key sum — the
    * kruskalWallis trick), then ONE closing scalar expression builds
    * Q. Lags the acf could not estimate (short or constant series →
    * NULL ρ) drop and surface in n_lags, so a 3-point series tested
    * at m = 5 reports the Q of its 2 estimable lags, not a NULL
    * cascade. Keys with zero estimable lags are absent (no acf rows
    * survive). Output: (keyCol, n, n_lags, q_micro). */
  def ljungBox(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    val dec = "decimal(38,0)"
    acf(df, keyCol, tsCol, idCol, valueCol, maxLag)
      .filter(col("acf_micro").isNotNull)
      .groupBy(col(keyCol))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_lags"),
        sum(round((col("acf_micro").cast(dec) * col("acf_micro"))
          .cast("double") / (col("n") - col("lag")).cast("double"))
          .cast(dec)).as("__s"))
      .select(col(keyCol), col("n"), col("n_lags"),
        round(col("n").cast("double") * (col("n") + 2L).cast("double") *
          col("__s").cast("double") / lit(1e6)).cast("long")
          .as("q_micro"))
  }

  /** Single-changepoint detector per key (binary segmentation, first
    * level): the split 1 ≤ k < n minimizing SSE_left + SSE_right —
    * equivalently maximizing the variance-explained gain
    * P_k²/k + (S−P_k)²/(n−k) − S²/n — the "did this metric step" scan
    * run before alerting on a level shift ([[cusum]] watches a KNOWN
    * center; this finds the most likely break in hindsight). Prefix
    * sums P_k ride [[Ranking.groupRunningSum]]'s range-partitioned
    * machinery, every candidate split is one row of integer algebra,
    * the gain is ONE float expression per candidate micro-rounded
    * from exact integers (micro-units² scale), and the argmax is
    * [[Ranking.groupTopK]]'s bounded heap with ties broken toward
    * the EARLIEST split — never a per-key window, never more than
    * one surviving row per key anywhere. Keys with n < 2 have no
    * candidate and are absent. Output: (keyCol, n, split_rank,
    * gain_micro, mean_left_micro, mean_right_micro). */
  def changepoint(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        col(idCol).as("__id"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val ranked = Dedup.truncate(
      Ranking.groupRank(base, "__k", Seq("__ts", "__id"))
        .select(col("__k"), col("rank"), col("__v")))
    val pre = Ranking.groupRunningSum(ranked, "__k", Seq("rank"), "__v")
    val tot = ranked.groupBy(col("__k"))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("__stot"))
    val kD = col("rank").cast("double")
    val nD = col("n").cast("double")
    val pD = col("running").cast("double")
    val sD = col("__stot").cast("double")
    val gain = (pD * pD / kD +
      (sD - pD) * (sD - pD) / (nD - kD) - sD * sD / nD) / lit(1e6)
    val cand = pre.join(tot, Seq("__k"))
      .filter(col("rank") < col("n"))
      .select(col("__k"), col("n"),
        round(gain).cast("long").as("gain_micro"),
        col("rank"),
        round(pD / kD).cast("long").as("mean_left_micro"),
        round((sD - pD) / (nD - kD)).cast("long")
          .as("mean_right_micro"))
    Ranking.groupTopK(cand, Seq("__k", "n"),
        Seq((-col("gain_micro")).as("__ng"),
          col("rank").as("split_rank"),
          col("gain_micro").as("gain_micro"),
          col("mean_left_micro").as("mean_left_micro"),
          col("mean_right_micro").as("mean_right_micro")), 1)
      .select(col("__k").as(keyCol), col("n"), col("split_rank"),
        col("gain_micro"), col("mean_left_micro"),
        col("mean_right_micro"))
  }

  /** Holt double-exponential smoothing (level + linear trend) per
    * key — the forecasting step up from [[ewma]] when a series
    * actually drifts: EWMA lags a trending series by design; Holt's
    * trend state cancels that lag, and [[naiveForecastEval]] is the
    * gate that says which a key needs. Same truncated-kernel stance
    * as ewma: the coupled recurrence (l, b) is linear
    * time-invariant, so the last `window` observations carry
    * weights A^m·c (A the 2×2 Holt transition, c = (α, βα)),
    * precomputed driver-side by repeated multiply (no libm) and
    * micro-quantized — [[holtWeightsMicro]] — so both engines sum
    * identical integer tap terms. Rows with fewer than `window`
    * non-NULL taps report NULL (the truncation bound only holds for
    * a full kernel; a renormalized partial kernel would silently
    * mis-weight the trend, whose weights sum to 0). Size the window
    * to the kernel's decay: A's eigenvalues have modulus √(1−α), so
    * the dropped tail is O((1−α)^{W/2}) — α=0.6, W=16 leaves ~0.02%
    * (measured against the sequential recurrence), while W=8 at
    * small α is visibly biased. One ordered window per key, W lag
    * taps, no self-join.
    * Output: input row + holt_level, holt_trend, holt_forecast
    * (doubles, 6 dp; forecast = level + trend, the 1-step-ahead). */
  def holt(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      alpha: Double,
      beta: Double,
      window: Int): DataFrame = {
    val wq = holtWeightsMicro(alpha, beta, window)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val x = col(valueCol).cast("double")
    val taps = wq.zipWithIndex.map { case ((wl, wb), m) =>
      val xm = if (m == 0) x else lag(x, m).over(w)
      (coalesce(round(xm * lit(wl)).cast("long"), lit(0L)),
        coalesce(round(xm * lit(wb)).cast("long"), lit(0L)),
        when(xm.isNotNull, 1L).otherwise(0L))
    }
    val numL = taps.map(_._1).reduce(_ + _)
    val numB = taps.map(_._2).reduce(_ + _)
    val have = taps.map(_._3).reduce(_ + _)
    val full = have === window.toLong
    df.withColumn("holt_level",
        when(full, numL.cast("double") / lit(1e6))
          .otherwise(lit(null).cast("double")))
      .withColumn("holt_trend",
        when(full, numB.cast("double") / lit(1e6))
          .otherwise(lit(null).cast("double")))
      .withColumn("holt_forecast",
        when(full, (numL + numB).cast("double") / lit(1e6))
          .otherwise(lit(null).cast("double")))
  }

  /** Additive Holt–Winters (level + trend + seasonality) per key via
    * the SAME truncated-kernel linearization as [[holt]]: the
    * recurrence is linear in x, so level, trend, and the seasonal
    * slot the 1-step forecast consumes are each a fixed micro-int
    * kernel over the last `window` observations
    * ([[holtWintersWeightsMicro]] — exact closed form of unrolling
    * l_t = α(x−s_{t−p}) + (1−α)(l+b), b_t = β Δl + (1−β)b,
    * s_t = γ(x−l_t) + (1−γ)s_{t−p}). One ordered window per key,
    * `window` lag taps, no self-join, no sequential recursion.
    * Identifiability: the level/season SPLIT carries the system's
    * unit mode (adding c to level and −c to every seasonal slot is
    * invariant), so hw_level and hw_season individually are the
    * zero-init filter's split, while hw_forecast — their observable
    * combination — converges: its truncation tail decays with the
    * sub-unit modes (~0.82/step at the spec's parameters; 8 periods
    * of window leave <1%, measured). Size the window in PERIODS and
    * read the spec's tracked-cycle bound before trusting short
    * windows. Rows with fewer than `window` present taps report NULL
    * (partial kernels lie — the [[holt]] convention).
    * Output: input row + hw_level, hw_trend, hw_season (the
    * s_{t+1−p} the forecast uses), hw_forecast = level + trend +
    * season (doubles, 6 dp). */
  def holtWinters(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      alpha: Double,
      beta: Double,
      gamma: Double,
      period: Int,
      window: Int): DataFrame = {
    val wq = holtWintersWeightsMicro(alpha, beta, gamma, period, window)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
    val x = col(valueCol).cast("double")
    val taps = wq.zipWithIndex.map { case ((wl, wb, ws), m) =>
      val xm = if (m == 0) x else lag(x, m).over(w)
      (coalesce(round(xm * lit(wl)).cast("long"), lit(0L)),
        coalesce(round(xm * lit(wb)).cast("long"), lit(0L)),
        coalesce(round(xm * lit(ws)).cast("long"), lit(0L)),
        when(xm.isNotNull, 1L).otherwise(0L))
    }
    val numL = taps.map(_._1).reduce(_ + _)
    val numB = taps.map(_._2).reduce(_ + _)
    val numS = taps.map(_._3).reduce(_ + _)
    val have = taps.map(_._4).reduce(_ + _)
    val full = have === window.toLong
    def out(num: org.apache.spark.sql.Column) =
      when(full, num.cast("double") / lit(1e6))
        .otherwise(lit(null).cast("double"))
    df.withColumn("hw_level", out(numL))
      .withColumn("hw_trend", out(numB))
      .withColumn("hw_season", out(numS))
      .withColumn("hw_forecast", out(numL + numB + numS))
  }

  /** Micro-quantized truncated additive Holt–Winters kernel:
    * (levelWeight_m, trendWeight_m, seasonWeight_m) =
    * round(1e6 · (Aᵐ c)) over the (2+period)-dim state
    * (l, b, s_t, …, s_{t−period+1}), with injection
    * c = (α, βα, γ(1−α), 0…) and A the homogeneous step (level and
    * trend mix as in Holt, the seasonal block rotates one slot per
    * step). The seasonal tap reads the s_{t+1−p} slot — the one the
    * 1-step forecast consumes. Repeated multiply, deterministic, no
    * libm; public so the oracle twin embeds the identical integer
    * literals. */
  def holtWintersWeightsMicro(
      alpha: Double,
      beta: Double,
      gamma: Double,
      period: Int,
      window: Int): Seq[(Long, Long, Long)] = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    require(beta > 0 && beta < 1, "beta must be in (0, 1)")
    require(gamma > 0 && gamma < 1, "gamma must be in (0, 1)")
    require(period >= 2 && period <= 366, "period must be in [2, 366]")
    require(window >= period, "window must cover at least one period")
    val p = period
    def step(z: Array[Double]): Array[Double] = {
      val out = new Array[Double](2 + p)
      val sl = z(1 + p)
      val l2 = -alpha * sl + (1 - alpha) * (z(0) + z(1))
      out(0) = l2
      out(1) = beta * (l2 - z(0)) + (1 - beta) * z(1)
      out(2) = -gamma * l2 + (1 - gamma) * sl
      var j = 1
      while (j < p) { out(2 + j) = z(2 + (j - 1)); j += 1 }
      out
    }
    val c = new Array[Double](2 + p)
    c(0) = alpha; c(1) = beta * alpha; c(2) = gamma * (1 - alpha)
    Iterator.iterate(c)(step).take(window).map(z =>
      (math.round(1e6 * z(0)), math.round(1e6 * z(1)),
        math.round(1e6 * z(1 + p)))).toSeq
  }

  /** Micro-quantized truncated Holt kernel: (levelWeight_m,
    * trendWeight_m) = round(1e6 · (A^m c)) for m = 0..window−1, with
    * A = [[1−α, 1−α], [−βα, 1−βα]] and c = (α, βα) — the exact
    * closed form of unrolling l_t = αx + (1−α)(l+b),
    * b_t = β(l_t − l_{t−1}) + (1−β)b. Built by repeated multiply
    * (deterministic, no libm); public so the oracle twin embeds the
    * identical integer literals. */
  def holtWeightsMicro(
      alpha: Double, beta: Double, window: Int): Seq[(Long, Long)] = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    require(beta > 0 && beta < 1, "beta must be in (0, 1)")
    require(window > 0, "window must be positive")
    val states = Iterator.iterate((alpha, beta * alpha)) {
      case (ul, ub) =>
        ((1.0 - alpha) * ul + (1.0 - alpha) * ub,
          -beta * alpha * ul + (1.0 - beta * alpha) * ub)
    }.take(window)
    states.map { case (ul, ub) =>
      (math.round(1e6 * ul), math.round(1e6 * ub)) }.toSeq
  }

  /** Day-of-week × hour activity grid per group — the traffic-shape
    * census (office-hours humans vs flat-cadence bots vs weekend
    * batch jobs), in PURE integer epoch arithmetic: day index =
    * ⌊µs/86400e6⌋, dow = (day + 3) mod 7 with 0 = Monday (epoch day
    * 0 was a Thursday), hour = ⌊µs/3600e6⌋ mod 24 — no calendar
    * library, no timezone, identical in any engine (the cohort
    * bucket convention; UTC by construction, stated). Cell shares
    * are one divide over the group's exact total, attached by a
    * group-sized equi-join.
    * Output: (groupCol, dow, hour, n_events, share_micro). */
  def activityGrid(
      df: DataFrame,
      groupCol: String,
      tsCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
      unix_micros(col(tsCol)).as("__us"))
    val census = base
      .groupBy(col("__g"),
        pmod(expr("__us div 86400000000") + 3L, lit(7L)).as("dow"),
        pmod(expr("__us div 3600000000"), lit(24L)).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val totals = census.groupBy(col("__g"))
      .agg(sum(col("n_events")).as("__tot"))
    census.join(broadcast(totals), Seq("__g"))
      .select(col("__g").as(groupCol), col("dow"), col("hour"),
        col("n_events"),
        round(lit(1e6) * col("n_events").cast("double") /
          col("__tot").cast("double")).cast("long").as("share_micro"))
  }

  /** STL-lite additive decomposition per key over an integer-indexed
    * MICRO series: y = trend + seasonal + residual, with every stage
    * exact-then-one-divide. Trend is the centered moving average of
    * width `period` (odd, required) — taps attach by index equi-join
    * (the acf/holt kernel shape, no window), and an index with FEWER
    * than `period` present taps reports NULL trend (series edges and
    * gaps — partial kernels lie, the holt convention). Seasonal is
    * the per-phase (idx mod period) mean of the detrended values over
    * trend-covered rows; residual = y − trend − seasonal. A pure
    * period-cycle therefore decomposes to seasonal exactly and zero
    * residual (spec-pinned). Two micro-rounded divides total (trend
    * mean, phase mean); everything else is integer.
    *
    * Scale: one ×period explode + two hash-aggs + key-sized
    * equi-joins — never a per-key window over raw rows.
    * Output: (keyCol, idxCol, y_micro, trend_micro, seasonal_micro,
    * resid_micro). */
  def stlLite(
      series: DataFrame,
      keyCol: String,
      idxCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1 && period <= 365,
      "period must be odd, in [3, 365]")
    val half = period / 2
    val base = Dedup.truncate(series.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(idxCol).cast("long").as("__d"),
        col(valueCol).cast("long").as("__y")))
    val contrib = base
      .withColumn("__o",
        explode(sequence(lit(-half), lit(half))))
      .groupBy(col("__k"), (col("__d") + col("__o")).as("__t"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).as("__sum"))
    val trend = contrib
      .filter(col("__cnt") === period.toLong)
      .select(col("__k"), col("__t").as("__d"),
        round(col("__sum").cast("double") / lit(period.toDouble))
          .cast("long").as("trend_micro"))
    val joined = base.join(trend, Seq("__k", "__d"), "left")
      .withColumn("__det", col("__y") - col("trend_micro"))
      .withColumn("__phase", pmod(col("__d"), lit(period.toLong)))
    val seasonal = joined.filter(col("__det").isNotNull)
      .groupBy(col("__k"), col("__phase"))
      .agg(round(sum(col("__det")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("seasonal_micro"))
    joined.join(seasonal, Seq("__k", "__phase"), "left")
      .select(col("__k").as(keyCol), col("__d").as(idxCol),
        col("__y").as("y_micro"), col("trend_micro"),
        col("seasonal_micro"),
        (col("__y") - col("trend_micro") - col("seasonal_micro"))
          .as("resid_micro"))
  }

  /** SAX word census per key (Lin et al. 2003's symbolic aggregate
    * approximation — the discretization that turns a numeric series
    * into TEXT so the whole dedup/motif/census machinery applies to
    * shapes): z-normalize the series, average `blockSize` points
    * per PAA block, map each block mean onto a 4-letter alphabet at
    * the Gaussian quartile breakpoints (±0.6745σ, the equiprobable
    * cut), and emit the census of `wordBlocks`-letter words. The
    * z-score collapses to ONE exact integer ratio under a sqrt —
    * z_milli = round(1000·(v·n − S)/√(n·Σv² − S²)) (population σ,
    * n² scale cancels) — so the breakpoints are integer cuts at
    * ±674 milli (mirror-symmetric: < −674 is 'a', ≤ +674 is 'c' —
    * both ±674 blocks sit strictly inside the ±0.6745 quartiles)
    * and every downstream step is exact. Blocks and
    * words use only COMPLETE windows (trailing remainder drops,
    * stated); a zero-variance series has no z and is absent. The
    * per-key motif is simply the census row with max n (ties to the
    * lexicographically smallest word) — read it with a bounded
    * heap downstream.
    *
    * Scale: rank via the range-partitioned prefix, block/word
    * assembly by integer-keyed hash-aggs (the word pivot is
    * wordBlocks fixed columns, never a list agg over data).
    * Output: (keyCol, word, n). */
  def saxWords(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      blockSize: Int = 5,
      wordBlocks: Int = 4): DataFrame = {
    require(blockSize >= 1 && wordBlocks >= 1, "sizes must be positive")
    val dec = "decimal(38,0)"
    val cur = Dedup.truncate(
      Ranking.groupRank(
        df.filter(col(valueCol).isNotNull)
          .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
            col(idCol).as("__id"),
            round(col(valueCol).cast("double") * lit(1e6)).cast("long")
              .as("__v")),
        "__k", Seq("__ts", "__id"))
        .select(col("__k"), col("rank"), col("__v")))
    val tot = cur.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__q"))
      .withColumn("__vnum",
        (col("__n") * col("__q") - col("__s") * col("__s")).cast(dec))
      .filter(col("__vnum") > 0)
    val z = cur.join(tot, Seq("__k"))
      .select(col("__k"), col("rank"),
        round(lit(1000.0) *
          (col("__v").cast(dec) * col("__n") - col("__s"))
            .cast("double") / sqrt(col("__vnum").cast("double")))
          .cast("long").as("__z"))
    val blocks = z
      .select(col("__k"), expr(s"(rank - 1) div ${blockSize}L")
        .as("__b"), col("__z"))
      .groupBy(col("__k"), col("__b"))
      .agg(count(lit(1)).as("__c"), sum(col("__z")).as("__sz"))
      .filter(col("__c") === blockSize.toLong)
      .select(col("__k"), col("__b"),
        round(col("__sz").cast("double") / lit(blockSize.toDouble))
          .cast("long").as("__paa"))
      // Mirror-symmetric milli cuts at the ±0.6745 Gaussian
      // quartiles: paa = −674 (z > −0.6745) stays 'b', so paa = +674
      // (z < +0.6745) must stay 'c' — hence <= on the upper cut.
      .withColumn("__sym",
        when(col("__paa") < -674L, lit("a"))
          .when(col("__paa") < 0L, lit("b"))
          .when(col("__paa") <= 674L, lit("c"))
          .otherwise(lit("d")))
    val posed = blocks
      .select(col("__k"), expr(s"__b div ${wordBlocks}L").as("__w"),
        expr(s"__b % ${wordBlocks}L").as("__pos"), col("__sym"))
    val words = posed.groupBy(col("__k"), col("__w"))
      .agg(count(lit(1)).as("__cnt"),
        (0 until wordBlocks).map(p =>
          min(when(col("__pos") === p.toLong, col("__sym")))
            .as(s"__p$p")): _*)
      .filter(col("__cnt") === wordBlocks.toLong)
      .select(col("__k"),
        concat((0 until wordBlocks).map(p => col(s"__p$p")): _*)
          .as("word"))
    words.groupBy(col("__k"), col("word"))
      .agg(count(lit(1)).as("n"))
      .select(col("__k").as(keyCol), col("word"), col("n"))
  }

  /** Seasonal and trend STRENGTH per key (Hyndman's FPP
    * decomposition diagnostics) — turn [[stlLite]]'s component
    * table into the two numbers a forecaster actually reads:
    *
    *   F_seasonal = max(0, 1 − Var(resid)/Var(seasonal + resid)),
    *   F_trend    = max(0, 1 − Var(resid)/Var(trend + resid)),
    *
    * each Var an exact DECIMAL n·Σx² − (Σx)² polynomial over the
    * rows where the needed components are non-NULL (the centered-MA
    * warmup edges drop — censused via n vs n_used), and each
    * strength ONE rounded divide of exact integers. A zero
    * denominator (the component pair is constant) reports NULL.
    * Output: (keyCol, n, n_used, f_seasonal_micro, f_trend_micro). */
  def seasonalStrength(
      df: DataFrame,
      keyCol: String,
      idxCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    val dec = "decimal(38,0)"
    val stl = stlLite(df, keyCol, idxCol, valueCol, period)
    val nAll = stl.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val used = stl.filter(col("resid_micro").isNotNull)
      .select(col(keyCol), col("resid_micro").as("__r"),
        (col("seasonal_micro") + col("resid_micro")).as("__sr"),
        (col("trend_micro") + col("resid_micro")).as("__tr"))
    def moments(c: String, tag: String) = Seq(
      sum(col(c).cast(dec)).as(s"__s$tag"),
      sum((col(c).cast(dec) * col(c)).cast(dec)).as(s"__q$tag"))
    val agg = used.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_used"),
        (moments("__r", "r") ++ moments("__sr", "s") ++
          moments("__tr", "t")): _*)
    def vnum(tag: String) =
      (col("n_used") * col(s"__q$tag") -
        col(s"__s$tag") * col(s"__s$tag")).cast(dec)
    def strength(tag: String) =
      when(vnum(tag) > 0,
        greatest(lit(0L), round(lit(1e6) *
          (lit(1.0) - vnum("r").cast("double") /
            vnum(tag).cast("double"))).cast("long")))
        .otherwise(lit(null).cast("long"))
    nAll.join(agg, Seq(keyCol), "left")
      .select(col(keyCol), col("n"),
        coalesce(col("n_used"), lit(0L)).as("n_used"),
        strength("s").as("f_seasonal_micro"),
        strength("t").as("f_trend_micro"))
  }

  /** Newey–West (HAC) standard error of the mean per key — the
    * honest error bar for an AUTOCORRELATED series ([[acf]] tells
    * you the iid ±1.96·s/√n bar is a lie; this fixes it): Bartlett-
    * kernel long-run variance over lags 0..maxLag,
    *
    *   Var(x̄) = [ (L+1)·a₀ + 2·Σ_k (L+1−k)·a_k ] / ((L+1)·n⁴),
    *
    * where a_k = n²·ΣxᵢxᵢΔk − n·S·(H_k+T_k) + n_k·S² is the exact
    * n²-scaled lag-k autocovariance sum ([[acf]]'s integer
    * machinery, denominator-n convention) — EVERYTHING up to the
    * final sqrt is exact DECIMAL, and the truncated Bartlett kernel
    * keeps the variance provably non-negative. The iid bar rides
    * along for contrast; the 95% CI uses the literal 1.959964.
    * Keys shorter than a lag simply contribute nothing at that lag
    * (stated); n < 2 keys report NULL errors.
    *
    * Scale: the lag taps are the acf explode-join (O(n·L) rows, no
    * per-key window); one census fold closes.
    * Output: (keyCol, n, mean_micro, se_iid_micro, se_nw_micro,
    * ci_lo_micro, ci_hi_micro). */
  def neweyWest(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be at least 1")
    val dec = "decimal(38,0)"
    val lp1 = (maxLag + 1).toLong
    val cur = Dedup.truncate(
      Ranking.groupRank(
        df.filter(col(valueCol).isNotNull)
          .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
            col(idCol).as("__id"),
            round(col(valueCol).cast("double") * lit(1e6)).cast("long")
              .as("__v")),
        "__k", Seq("__ts", "__id"))
        .select(col("__k"), col("rank"), col("__v")))
    val tot = cur.groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__q"))
    val probes = cur
      .select(col("__k"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"),
        (col("rank") - col("lag")).as("rank"), col("__v").as("__vt"))
    val lagAgg = cur.join(probes, Seq("__k", "rank"))
      .groupBy(col("__k"), col("lag"))
      .agg(count(lit(1)).as("__nk"),
        sum((col("__v").cast(dec) * col("__vt")).cast(dec)).as("__p"),
        sum(col("__v").cast(dec)).as("__h"),
        sum(col("__vt").cast(dec)).as("__t"))
    val ak = lagAgg.join(tot, Seq("__k"))
      .select(col("__k"), col("lag"),
        (col("n").cast(dec) * col("n") * col("__p") -
          col("n").cast(dec) * col("__s") * (col("__h") + col("__t")) +
          col("__nk").cast(dec) * col("__s") * col("__s")).cast(dec)
          .as("__ak"))
      .groupBy(col("__k"))
      .agg(sum(((lit(lp1) - col("lag")).cast(dec) * col("__ak"))
        .cast(dec)).as("__wsum"))
    val a0 = (col("n").cast(dec) *
      (col("n") * col("__q") - col("__s") * col("__s"))).cast(dec)
    val n4 = (col("n").cast(dec) * col("n") * col("n") * col("n"))
      .cast(dec)
    val nwNum = (lit(lp1) * a0 +
      lit(2L) * coalesce(col("__wsum"), lit(0L).cast(dec))).cast(dec)
    val seNw = sqrt(greatest(lit(0.0),
      nwNum.cast("double") / (lit(lp1.toDouble) * n4.cast("double"))))
    val seIid = sqrt(greatest(lit(0.0),
      a0.cast("double") / n4.cast("double")))
    val meanD = col("__s").cast("double") / col("n").cast("double")
    tot.join(ak, Seq("__k"), "left")
      .select(col("__k").as(keyCol), col("n"),
        round(meanD).cast("long").as("mean_micro"),
        when(col("n") >= 2L, round(seIid).cast("long"))
          .otherwise(lit(null).cast("long")).as("se_iid_micro"),
        when(col("n") >= 2L, round(seNw).cast("long"))
          .otherwise(lit(null).cast("long")).as("se_nw_micro"),
        when(col("n") >= 2L,
          round(meanD - lit(1.959964) * seNw).cast("long"))
          .otherwise(lit(null).cast("long")).as("ci_lo_micro"),
        when(col("n") >= 2L,
          round(meanD + lit(1.959964) * seNw).cast("long"))
          .otherwise(lit(null).cast("long")).as("ci_hi_micro"))
  }

  /** Hurst exponent by classic rescaled-range (R/S) analysis per
    * key — "does this series REMEMBER": H ≈ 0.5 for a random walk's
    * increments, > 0.5 for long-range persistence (trending load,
    * bursty crawlers), < 0.5 for mean reversion. The series is
    * (tsCol, idCol)-ordered, micro-quantized, and cut into FULL
    * blocks of w ∈ {8, 16, 32, 64}; for each block the rescaled
    * range R/S collapses to ONE exact integer ratio under a sqrt:
    * with P_t the block prefix sum, S_b/Q_b the block sum/sum-of-
    * squares, the w-scaled cumulative deviation is w·P_t − t·S_b
    * (exact Long — the /w cancels between R and S), so
    * R/S = (max_t − min_t)(w·P_t − t·S_b) / √(w·Q_b − S_b²),
    * micro-rounded per block; zero-variance blocks drop (censused
    * by n_blocks). Per-size means are exact sums over block micros;
    * H is the log-log OLS slope over the four sizes, which for
    * ln2-spaced x collapses to fixed weights: H = (−1.5·y₈ −
    * 0.5·y₁₆ + 0.5·y₃₂ + 1.5·y₆₄) / (5·ln 2), y = micro-nat ln of
    * the mean R/S (the ln-of-micro offset cancels — Σweights = 0).
    * Keys missing any size (series shorter than 64, or an all-
    * constant size) report NULL hurst_micro. Small-sample R/S bias
    * (Anis–Lloyd) is NOT corrected — stated; compare keys against
    * each other, not against the 0.5 ideal.
    *
    * Scale: the series explodes ×4 (one row per size), prefix sums
    * ride the range-partitioned [[Ranking.groupRunningSum]], and
    * every aggregate is map-side combinable — no per-key sort
    * window, no quadratic anything.
    * Output: (keyCol, n, rs8_micro, rs16_micro, rs32_micro,
    * rs64_micro, n_blocks, hurst_micro). */
  def hurstRS(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val sizes = Seq(8L, 16L, 32L, 64L)
    val cur = Dedup.truncate(
      Ranking.groupRank(
        df.filter(col(valueCol).isNotNull)
          .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
            col(idCol).as("__id"),
            round(col(valueCol).cast("double") * lit(1e6)).cast("long")
              .as("__v")),
        "__k", Seq("__ts", "__id"))
        .select(col("__k"), col("rank"), col("__v")))
    val nPer = cur.groupBy(col("__k")).agg(count(lit(1)).as("n"))
    val rows = cur
      .withColumn("__w", explode(array(sizes.map(lit): _*)))
      .select(col("__k"), col("__w"),
        expr("(rank - 1) div __w").as("__b"),
        (col("rank") - expr("((rank - 1) div __w) * __w")).as("__t"),
        col("rank"), col("__v"))
      .withColumn("__g", struct(col("__k"), col("__w"), col("__b")))
    val pref = Ranking.groupRunningSum(rows, "__g", Seq("rank"), "__v")
    val blocks = rows.groupBy(col("__k"), col("__w"), col("__b"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__v")).as("__s"),
        sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__q"))
      .filter(col("__cnt") === col("__w"))
    val dev = pref.select(col("__k"), col("__w"), col("__b"),
        col("__t"), col("running").as("__p"))
      .join(blocks, Seq("__k", "__w", "__b"))
      .withColumn("__z",
        (col("__w") * col("__p") - col("__t") * col("__s")).cast(dec))
    val perBlock = dev.groupBy(col("__k"), col("__w"), col("__b"))
      .agg(max(col("__z")).as("__zmax"), min(col("__z")).as("__zmin"),
        max((col("__w") * col("__q") - col("__s").cast(dec) *
          col("__s")).cast(dec)).as("__vnum"))
      .filter(col("__vnum") > 0)
      .select(col("__k"), col("__w"),
        round(lit(1e6) * (col("__zmax") - col("__zmin")).cast("double") /
          sqrt(col("__vnum").cast("double"))).cast("long").as("__rs"))
    val perSize = perBlock.groupBy(col("__k"), col("__w"))
      .agg(count(lit(1)).as("__nb"),
        round(sum(col("__rs")).cast("double") /
          count(lit(1)).cast("double")).cast("long").as("__avg"))
    val pivoted = perSize.groupBy(col("__k"))
      .agg(sum(col("__nb")).as("n_blocks"),
        sizes.map(w => min(when(col("__w") === w, col("__avg")))
          .as(s"rs${w}_micro")): _*)
    def y(w: Long) = round(lit(1e6) *
      log(col(s"rs${w}_micro").cast("double"))).cast("long")
    nPer.join(pivoted, Seq("__k"), "left")
      .select(col("__k").as(keyCol), col("n"),
        col("rs8_micro"), col("rs16_micro"), col("rs32_micro"),
        col("rs64_micro"), coalesce(col("n_blocks"), lit(0L))
          .as("n_blocks"),
        when(col("rs8_micro").isNotNull &&
          col("rs16_micro").isNotNull && col("rs32_micro").isNotNull &&
          col("rs64_micro").isNotNull,
          round((lit(-1.5) * y(8) - lit(0.5) * y(16) +
            lit(0.5) * y(32) + lit(1.5) * y(64)) /
            lit(3.4657359027997265)).cast("long"))
          .otherwise(lit(null).cast("long")).as("hurst_micro"))
  }

  /** Wald–Wolfowitz runs test per key — "is this series RANDOM
    * around its center, or does it cluster/oscillate": dichotomize
    * each (tsCol, idCol)-ordered value against the key's LOW MEDIAN
    * (the value at position ⌈n/2⌉ — integer-exact, the
    * [[Profile.brownForsythe]] convention; rows EQUAL to the median
    * drop, censused in n_dropped), count the runs of consecutive
    * same-side values, and score
    *
    *   z = (R − (2ab/N + 1)) / √( 2ab(2ab−N) / (N²(N−1)) )
    *
    * with a/b the above/below counts. Too few runs (z ≪ 0) means
    * level-shift clustering; too many means anti-correlated
    * oscillation — either way the "i.i.d. residuals" assumption
    * behind naive control charts is broken. All counts and both
    * variance polynomials are exact integers (DECIMAL against the
    * 100 TB key); z is ONE sqrt + divide, micro-rounded. Degenerate
    * keys — one side empty, or a = b = 1 (zero variance) — report
    * NULL z; a key with NO off-median rows keeps its census row
    * with NULL runs (stated).
    *
    * Scale: median via the (key, value) cell census +
    * range-partitioned prefix (never a per-key sort window); run
    * transitions via the re-rank + rank−1 self-equi-join (window-
    * free). Output: (keyCol, n_above, n_below, n_dropped, runs,
    * z_micro). */
  def runsTest(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    // The old shape ranked the rows first and carried that rank as
    // the time order for the runs census; the rank VALUE was never
    // output, so the scaffold was pure ordering overhead — the runs
    // census now orders by (ts, id) directly in ONE
    // [[Ranking.groupLag]] pass (r19, guide §2.4), and the former
    // second scaffold + (key, rank)-keyed self-join fold into it.
    val base = Dedup.truncate(
      df.filter(col(valueCol).isNotNull)
        .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
          col(idCol).as("__id"),
          round(col(valueCol).cast("double") * lit(1e6)).cast("long")
            .as("__v")))
    val cells = base.groupBy(col("__k"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val run = Ranking.groupRunningSum(cells, "__k", Seq("__v"), "__c")
    val nPer = cells.groupBy(col("__k")).agg(sum(col("__c")).as("__n"))
    val med = run.join(nPer, Seq("__k"))
      .filter(col("running") >= expr("(__n + 1) div 2"))
      .groupBy(col("__k")).agg(min(col("__v")).as("__med"))
    val flags = Dedup.truncate(base.join(med, Seq("__k"))
      .select(col("__k"), col("__ts"), col("__id"),
        when(col("__v") > col("__med"), 1L)
          .when(col("__v") < col("__med"), 0L)
          .otherwise(lit(null).cast("long")).as("__up")))
    val counts = flags.groupBy(col("__k")).agg(
      sum(when(col("__up") === 1L, 1L).otherwise(0L)).as("n_above"),
      sum(when(col("__up") === 0L, 1L).otherwise(0L)).as("n_below"),
      sum(when(col("__up").isNull, 1L).otherwise(0L)).as("n_dropped"))
    val ch = Ranking.groupLag(flags.filter(col("__up").isNotNull),
        "__k", Seq("__ts", "__id"), Seq("__up"), 1)
      .groupBy(col("__k"))
      .agg(sum(when(col("__up_lag1").isNotNull &&
        col("__up") =!= col("__up_lag1"), 1L).otherwise(0L)).as("__ch"))
    val twoAb = (lit(2L) * col("n_above").cast(dec) * col("n_below"))
      .cast(dec)
    val nTot = (col("n_above") + col("n_below")).cast(dec)
    val varNum = (twoAb * (twoAb - nTot)).cast(dec)
    val varDen = (nTot * nTot * (nTot - 1L)).cast(dec)
    counts.join(ch, Seq("__k"), "left")
      .withColumn("runs",
        when(col("__ch").isNotNull, col("__ch") + 1L))
      .select(col("__k").as(keyCol), col("n_above"), col("n_below"),
        col("n_dropped"), col("runs"),
        when(col("runs").isNotNull && varNum > 0L,
          round(lit(1e6) *
            (col("runs").cast("double") -
              (twoAb.cast("double") / nTot.cast("double") + lit(1.0))) /
            sqrt(varNum.cast("double") / varDen.cast("double")))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Mann–Kendall trend test + Sen's slope per key — the
    * distribution-free "is this metric drifting" monitor (the
    * hydrology-standard answer to [[groupTrend]]'s parametric OLS
    * slope: no normality assumption, robust to outliers and ties).
    * The series is ordered by (tsCol, idCol) and micro-quantized;
    * S = Σ_{i<j} sgn(v_j − v_i) is an exact integer pair census,
    * Var(S) carries the standard tie correction as the exact integer
    * 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and z applies the
    * ±1 continuity correction with ONE IEEE sqrt + divide over
    * those exact integers, micro-rounded. Sen's slope is the LOW
    * median of the m = n(n−1)/2 pairwise slopes (v_j − v_i)/(j − i)
    * in RANK spacing (regular-cadence convention — resample first
    * via [[resampleGapFill]] when the grid is irregular), each
    * slope micro-rounded before the order statistic so the median
    * is an integer selection, engine-exact.
    *
    * Scale: the pair census is inherently quadratic per series, so
    * each key is TRUNCATED to its first `maxN` points (rank ≤ maxN
    * after ordering) — the per-key cost is then a hard maxN²/2 bound
    * regardless of how hot the key is, and `n` in the output shows
    * exactly what was used (n == maxN ⇒ truncation happened; window
    * or resample upstream for a longer memory). One bounded-heap
    * aggregation (≤ maxN rows of state per group) is the only
    * shuffle; the census itself is an in-task kernel over the
    * collected series. Keys with fewer than 2 usable points are
    * absent; an all-tied series reports s_stat 0, var18 0, NULL z,
    * NULL trend.
    *
    * Output: (keyCol, n, s_stat, var18, sen_micro, z_micro, trend)
    * with trend ∈ {−1, 0, 1} at the two-sided 5% gate
    * (|z| > 1.959964, literal). */
  def mannKendall(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      maxN: Int = 512): DataFrame = {
    require(maxN >= 2 && maxN <= graft.functions.SeriesKernels.MaxSeriesN,
      s"maxN must be in [2, ${graft.functions.SeriesKernels.MaxSeriesN}]" +
        " — it bounds the quadratic pair census")
    // One bounded-heap aggregation collects each key's first-maxN
    // series (state ≤ maxN rows/group, map-side combinable); the
    // whole quadratic pair census — S, tie correction, Sen's median —
    // then runs as ONE in-task kernel over the collected values
    // ([[graft.functions.SeriesKernels.MannKendallStats]], identical
    // float steps) instead of materializing + shuffling the maxN²/2
    // pair rows per key and paying a second range-exchange sort for
    // the slope median (r18: 2 shuffles + 1 sort exchange → 1
    // bounded-state shuffle; guide §2.3/§2.4).
    val series = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        col(idCol).as("__id"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
      .filter(col("__ts").isNotNull)
      .groupBy(col("__k"))
      .agg(graft.functions.TopKAggregate.topKStructs(
        Seq(col("__ts"), col("__id"), col("__v")), maxN).as("__series"))
    val stats = series
      .select(col("__k"),
        graft.functions.SeriesKernels.mannKendallStats(
          transform(col("__series"), e => e.getField("__v")))
          .as("__st"))
      .filter(col("__st").isNotNull)
      .select(col("__k"), col("__st.n").as("n"),
        col("__st.s_stat").as("s_stat"),
        col("__st.tie18").as("__tie18"),
        col("__st.sen_micro").as("sen_micro"))
    val zExpr = {
      val sd = sqrt(col("var18").cast("double") / lit(18.0))
      when(col("var18") > 0L,
        round(lit(1e6) *
          (col("s_stat").cast("double") -
            signum(col("s_stat")).cast("double")) / sd).cast("long"))
        .otherwise(lit(null).cast("long"))
    }
    stats
      .withColumn("var18",
        col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) -
          col("__tie18"))
      .withColumn("z_micro", zExpr)
      .select(col("__k").as(keyCol), col("n"), col("s_stat"),
        col("var18"), col("sen_micro"), col("z_micro"),
        when(col("z_micro") > 1959964L, lit(1))
          .when(col("z_micro") < -1959964L, lit(-1))
          .when(col("z_micro").isNotNull, lit(0))
          .otherwise(lit(null).cast("int")).as("trend"))
  }

  /** ROLLING Mann–Kendall trend score per key — the full-window MK
    * statistic S = Σ_{a<b in window} sign(x_b − x_a) recomputed at
    * EVERY sample over its trailing `window` samples, plus the
    * z-score against the no-tie null variance n(n−1)(2n+5)/18 (tie
    * pairs contribute sign 0 but no variance correction — stated;
    * conservative, alarms later, deterministic on both engines).
    * This is [[mannKendall]] turned into a drift PAGER curve: q350
    * answers "did this series trend overall", this one marks the
    * sample where the window's trend becomes significant — and the
    * streaming twin (graft.streaming.TrendStream) reproduces these
    * exact rows live (parity spec-gated, restart included).
    *
    * The window recompute is NOT n·W² work: a pair (a, b) with rank
    * distance < W is live for exactly the windows j ∈ [b, a+W−1],
    * so each pair emits +sign at position b and −sign at position
    * a+W, and S(j) is the per-key running sum of those deltas read
    * off at the sample positions — [[Ranking.groupRunningSum]]'s
    * range-partitioned prefix, never a per-key window. Pair
    * generation is a bucketed band join (j probes its own and the
    * previous rank-div-W bucket): candidates ≤ 2W per sample.
    * Ordering is (unix_millis(ts), id) — id must be per-key-unique.
    * Output: (keyCol, ts_ms, idCol, n_win, s, z_micro, alarm);
    * z_micro is NULL (alarm false) below 2 window samples. */
  def rollingMannKendall(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      window: Int,
      thresholdMicro: Long): DataFrame = {
    require(window >= 2 && window <= 256,
      "window must be in [2, 256] — state and band width scale with it")
    require(thresholdMicro > 0, "thresholdMicro must be positive")
    val w = window.toLong
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"),
        unix_millis(col(tsCol)).as("__ts"),
        col(idCol).cast("long").as("__id"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val ranked = Dedup.truncate(
      Ranking.groupRank(base, "__k", Seq("__ts", "__id")))
    val jside = ranked.select(col("__k"), col("rank").as("__rj"),
      col("__v").as("__vj"),
      explode(array(expr(s"(rank - 1) div ${w}L"),
        expr(s"(rank - 1) div ${w}L - 1"))).as("__b"))
    val iside = ranked.select(col("__k"),
      expr(s"(rank - 1) div ${w}L").as("__b"),
      col("rank").as("__ri"), col("__v").as("__vi"))
    val pairs = jside.join(iside, Seq("__k", "__b"))
      .filter(col("__rj") > col("__ri") &&
        col("__rj") - col("__ri") < w)
      .select(col("__k"), col("__ri"), col("__rj"),
        signum(col("__vj") - col("__vi")).cast("long").as("__s"))
    val deltas = pairs
      .select(col("__k"), col("__rj").as("__pos"), col("__s"))
      .unionByName(pairs.select(col("__k"),
        (col("__ri") + w).as("__pos"), (-col("__s")).as("__s")))
      .groupBy(col("__k"), col("__pos"))
      .agg(sum(col("__s")).as("__d"))
      .select(col("__k"), col("__pos"), lit(0L).as("__tag"),
        col("__d"),
        lit(null).cast("long").as("__ts"),
        lit(null).cast("long").as("__id"),
        lit(null).cast("long").as("rank"))
    val samples = ranked.select(col("__k"), col("rank").as("__pos"),
      lit(1L).as("__tag"), lit(0L).as("__d"), col("__ts"), col("__id"),
      col("rank"))
    // Deltas sort BEFORE the sample at the same position (+ at b is
    // inside window b; − at a+W is gone by window a+W); one delta
    // row per (key, pos) by construction, so (pos, tag) is a total
    // per-key order.
    val run = Ranking.groupRunningSum(
      deltas.unionByName(samples), "__k", Seq("__pos", "__tag"), "__d")
    val n = least(col("rank"), lit(w))
    // EXACT z — no libm result in any emitted cell: with B =
    // n(n−1)(2n+5), |z| = 1e6·|s|/sqrt(B/18), so (2|z|)² = 72e12·s²/B
    // and round-half-away(|z|) = (floor(2|z|) + 1) div 2. floor(2|z|)
    // = isqrt(72e12·s² div B) (floor∘sqrt commutes with the inner
    // floor), computed as a double sqrt SEED clamped exact against
    // decimal squares — a raw round(·/sqrt(·)) here is a 1-ulp
    // environment flip waiting on a .5 boundary (the r15 driver-hash
    // lesson; the oracle twin mirrors the same seed+clamp).
    val dec = "decimal(38,0)"
    val bVar = (n * (n - 1L) * (lit(2L) * n + 5L)).cast(dec)
    val qNum = (lit(72000000000000L).cast(dec) *
      (col("running").cast(dec) * col("running")).cast(dec)).cast(dec)
    val z = zMicroFromQ(divFloorDec(qNum, bVar), col("running") < 0L)
    run.filter(col("__tag") === 1L)
      .select(col("__k").as(keyCol), col("__ts").as("ts_ms"),
        // int, matching the streaming twin's window-size field.
        col("__id").as(idCol), n.cast("int").as("n_win"),
        col("running").as("s"),
        when(n >= 2L, z).otherwise(lit(null).cast("long"))
          .as("z_micro"),
        coalesce(when(n >= 2L, abs(z) > thresholdMicro),
          lit(false)).as("alarm"))
  }

  /** Discrete-Fourier periodogram per key — "WHAT cycle does this
    * series carry" next to [[acf]]'s "does it carry one": for each
    * frequency k = 1..maxK, P_k = (C_k² + S_k²)/n with C_k =
    * Σ_r x_r·cos(2πkr/n), S_k the sine twin (r = 0-based rank).
    * The angle reduces to 2π·((k·r) mod n)/n BEFORE the
    * transcendental (exact integer mod — the argument stays in
    * [0, 2π) at any series length, and java.lang.Math and libm agree
    * there: probed exhaustively on this grid). cos/sin micro-
    * quantize PER ROW, multiply the exact milli value — integer
    * products, exact DECIMAL sums, one mirrored IEEE finish.
    * Means are NOT removed: k = 0 is simply not emitted, and for
    * k ≥ 1 the DC term cancels in exact arithmetic only when the
    * series is complete over its ranks — which it is, by
    * construction (ranks are dense). Keys with n < 2 are absent.
    *
    * Scale: explode ×maxK per row (maxK is a small constant), one
    * hash-agg — no windows, no per-key state. Output:
    * (keyCol, k, n, power_micro), power in the milli-value² domain
    * divided by n, micro-rounded. */
  def periodogram(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      maxK: Int): DataFrame = {
    require(maxK >= 1 && maxK <= 64, "maxK must be in [1, 64]")
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"),
        unix_millis(col(tsCol)).as("__ts"),
        col(idCol).cast("long").as("__id"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"))
    val ranked = Dedup.truncate(
      Ranking.groupRank(base, "__k", Seq("__ts", "__id")))
    val withN = ranked.join(
      ranked.groupBy(col("__k")).agg(count(lit(1)).as("n")), Seq("__k"))
      .filter(col("n") >= 2L)
    val terms = withN
      .select(col("__k"), col("n"), (col("rank") - 1L).as("__r"),
        col("__v"),
        explode(sequence(lit(1), lit(maxK))).as("k"))
      // Only frequencies up to the Nyquist bin (pure-integer guard).
      .filter(col("k") * 2L <= col("n"))
      .withColumn("__m", (col("k") * col("__r")) % col("n"))
      .withColumn("__th",
        lit(2.0 * math.Pi) * col("__m").cast("double") /
          col("n").cast("double"))
      .select(col("__k"), col("k"), col("n"),
        (col("__v") * round(lit(1e6) * cos(col("__th"))).cast("long"))
          .cast(dec).as("__ct"),
        (col("__v") * round(lit(1e6) * sin(col("__th"))).cast("long"))
          .cast(dec).as("__st"))
    terms.groupBy(col("__k"), col("k"), col("n"))
      .agg(sum(col("__ct")).as("__c"), sum(col("__st")).as("__s"))
      .select(col("__k").as(keyCol), col("k"), col("n"),
        round(lit(1e6) *
          (col("__c").cast("double") / lit(1e9) *
            (col("__c").cast("double") / lit(1e9)) +
            col("__s").cast("double") / lit(1e9) *
              (col("__s").cast("double") / lit(1e9))) /
          col("n").cast("double")).cast("long").as("power_micro"))
  }

  /** Dickey–Fuller unit-root test per group (constant, no trend) —
    * "is this metric mean-reverting or a random walk": regress
    * Δy_t = α + β·y_{t−1} and studentize β with the OLS standard
    * error; β near 0 (t above the −2.86 5% critical value) means
    * shocks persist — alerting thresholds and CUSUM baselines on
    * such a metric drift forever. Consecutive pairing is the
    * [[graft.operators.Profile.durbinWatson]] idiom — exact
    * [[Ranking.groupRank]] + a (group, rank) self equi-join, never a
    * per-group window — and every OLS sum is an exact DECIMAL(38,0)
    * over milli-quantized levels; β, its standard error, and t are
    * the only float steps. `tieBreakCol` must make (order, tiebreak)
    * per-group unique. Degenerate groups (fewer than 3 pairs,
    * constant level) report NULLs.
    * Output: (groupCol, n_pairs, beta_micro, df_t_micro,
    * stationary_5pct — t < −2.86, the constant-case critical
    * value). */
  def dickeyFuller(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      tieBreakCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(orderCol).cast("long").as("__o"),
        col(tieBreakCol).cast("long").as("__tb"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__y"))
    // r19 note: a groupLag rewrite of this pairing was measured and
    // REVERTED — final in-suite medians regressed (1.52 → 2.18 s raw;
    // the repair machinery cost more than the saved self-join, which
    // reuses the rank scaffold's exchange).
    val ranked = Ranking.groupRank(base, "__g", Seq("__o", "__tb"))
    val prev = ranked.select(col("__g").as("__pg"),
      (col("rank") + 1L).as("__pr"), col("__y").as("__py"))
    val pairs = ranked
      .join(prev, col("__g") === col("__pg") &&
        col("rank") === col("__pr"))
      .select(col("__g"), col("__py").as("__x"),
        (col("__y") - col("__py")).as("__z"))
    val sums = pairs.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__z").cast(dec)).as("__sz"),
        sum((col("__x").cast(dec) * col("__x")).cast(dec)).as("__sxx"),
        sum((col("__x").cast(dec) * col("__z")).cast(dec)).as("__sxz"),
        sum((col("__z").cast(dec) * col("__z")).cast(dec)).as("__szz"))
    val nD = col("n_pairs").cast("double")
    val sxc = col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double") / nD
    val szc = col("__szz").cast("double") -
      col("__sz").cast("double") * col("__sz").cast("double") / nD
    val sxzc = col("__sxz").cast("double") -
      col("__sx").cast("double") * col("__sz").cast("double") / nD
    val beta = sxzc / sxc
    val s2 = (szc - beta * sxzc) / (nD - lit(2.0))
    val tStat = beta / sqrt(s2 / sxc)
    sums.select(col("__g").as(groupCol), col("n_pairs"),
      when(col("n_pairs") >= 3L && sxc > 0.0,
        round(lit(1e6) * beta).cast("long"))
        .otherwise(lit(null).cast("long")).as("beta_micro"),
      when(col("n_pairs") >= 3L && sxc > 0.0 && s2 > 0.0,
        round(lit(1e6) * tStat).cast("long"))
        .otherwise(lit(null).cast("long")).as("df_t_micro"),
      when(col("n_pairs") >= 3L && sxc > 0.0 && s2 > 0.0,
        round(lit(1e6) * tStat).cast("long") < -2860000L)
        .otherwise(lit(null).cast("boolean")).as("stationary_5pct"))
  }

  /** Nelson–Aalen cumulative-hazard curve per group — the additive
    * companion to [[kaplanMeier]]'s product-limit survival (Ĥ(t) =
    * Σ_{tᵢ ≤ t} dᵢ/rᵢ; −log of KM's Ŝ approximates it, but NA is
    * the canonical estimator for hazard-scale reading and for
    * crude-rate comparisons). Same machinery end to end: one
    * (group, time) cell census, risk sets off ONE range-partitioned
    * prefix, each increment dᵢ/rᵢ micro-quantized per row so the
    * cumulative sum is an exact integer prefix — order-free,
    * window-free. Output: one row per distinct event time —
    * (groupCol, t, n_at_risk, n_deaths, n_censored,
    * cum_hazard_micro). */
  def nelsonAalen(
      df: DataFrame,
      groupCol: String,
      durationCol: String,
      eventCol: String): DataFrame = {
    val ev = (col(eventCol).cast("long") =!= 0L)
    val cells = df.filter(col(durationCol).isNotNull)
      .groupBy(col(groupCol), col(durationCol).cast("long").as("t"))
      .agg(sum(when(ev, 1L).otherwise(0L)).as("n_deaths"),
        sum(when(ev, 0L).otherwise(1L)).as("n_censored"))
      .withColumn("__dc", col("n_deaths") + col("n_censored"))
    val totals = cells.groupBy(col(groupCol))
      .agg(sum(col("__dc")).as("__N"))
    val atRisk = Ranking.groupRunningSum(cells, groupCol, Seq("t"),
        "__dc")
      .join(totals, Seq(groupCol))
      .withColumn("n_at_risk",
        col("__N") - (col("running") - col("__dc")))
      .drop("running")
      .withColumn("__term",
        round(lit(1e6) * col("n_deaths").cast("double") /
          col("n_at_risk").cast("double")).cast("long"))
    Ranking.groupRunningSum(atRisk, groupCol, Seq("t"), "__term")
      .select(col(groupCol), col("t"), col("n_at_risk"),
        col("n_deaths"), col("n_censored"),
        col("running").as("cum_hazard_micro"))
  }

  /** KPSS level-stationarity test per key — the COMPLEMENT of
    * [[dickeyFuller]] (DF's null is a unit root, KPSS's null is
    * stationarity; agreeing verdicts from both is the standard
    * two-sided evidence): KPSS = (1/n²)·Σ_t S_t² / σ̂²_lrv with S_t
    * the demeaned partial sums and σ̂² the Bartlett long-run
    * variance over lags 1..maxLag — the SAME exact n-scaled
    * autocovariance machinery as [[neweyWest]] (a_k in
    * DECIMAL(38,0), no float accumulation). Demeaning is algebraic,
    * not a join-back float: n·S_t = n·P_t − t·S exactly, so
    * Σ S_t² = Σ(n·P_t − t·S)²/n² and the whole statistic reduces to
    * KPSS = SS2·(L+1)/(n·nwNum) over three exact integers. The
    * squared partial sums bound exactness at n²·|v|_milli ≲ 1e19
    * per key (decimal 38 saturates past it) — pre-aggregate longer
    * series. Constant series (zero long-run variance) report NULL.
    * Output: (keyCol, n, kpss_micro, level_stationary_5pct —
    * KPSS < 0.463, the 5% level critical value). */
  def kpss(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      maxLag: Int = 4): DataFrame = {
    require(maxLag >= 1, "maxLag must be at least 1")
    val dec = "decimal(38,0)"
    val lp1 = (maxLag + 1).toLong
    val cur = Dedup.truncate(
      Ranking.groupRank(
        df.filter(col(valueCol).isNotNull)
          .select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
            col(idCol).as("__id"),
            round(col(valueCol).cast("double") * lit(1e3)).cast("long")
              .as("__v")),
        "__k", Seq("__ts", "__id"))
        .select(col("__k"), col("rank"), col("__v")))
    val tot = cur.groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__q"))
    val pref = Ranking.groupRunningSum(cur, "__k", Seq("rank"), "__v")
    val pp = (col("n").cast(dec) * col("running") -
      col("rank").cast(dec) * col("__s")).cast(dec)
    val ss2 = pref.join(tot, Seq("__k"))
      .groupBy(col("__k"))
      .agg(sum((pp * pp).cast(dec)).as("__ss2"))
    val probes = cur
      .select(col("__k"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"),
        (col("rank") - col("lag")).as("rank"), col("__v").as("__vt"))
    val ak = cur.join(probes, Seq("__k", "rank"))
      .groupBy(col("__k"), col("lag"))
      .agg(count(lit(1)).as("__nk"),
        sum((col("__v").cast(dec) * col("__vt")).cast(dec)).as("__p"),
        sum(col("__v").cast(dec)).as("__h"),
        sum(col("__vt").cast(dec)).as("__t"))
      .join(tot, Seq("__k"))
      .select(col("__k"), col("lag"),
        (col("n").cast(dec) * col("n") * col("__p") -
          col("n").cast(dec) * col("__s") * (col("__h") + col("__t")) +
          col("__nk").cast(dec) * col("__s") * col("__s")).cast(dec)
          .as("__ak"))
      .groupBy(col("__k"))
      .agg(sum(((lit(lp1) - col("lag")).cast(dec) * col("__ak"))
        .cast(dec)).as("__wsum"))
    val a0 = (col("n").cast(dec) *
      (col("n") * col("__q") - col("__s") * col("__s"))).cast(dec)
    val nwNum = (lit(lp1) * a0 +
      lit(2L) * coalesce(col("__wsum"), lit(0L).cast(dec))).cast(dec)
    val k = col("__ss2").cast("double") * lit(lp1.toDouble) /
      (col("n").cast("double") * nwNum.cast("double"))
    tot.join(ak, Seq("__k"), "left")
      .join(ss2, Seq("__k"), "left")
      .select(col("__k").as(keyCol), col("n"),
        when(col("n") >= 2L && nwNum.cast("double") > 0.0,
          round(lit(1e6) * k).cast("long"))
          .otherwise(lit(null).cast("long")).as("kpss_micro"),
        when(col("n") >= 2L && nwNum.cast("double") > 0.0,
          round(lit(1e6) * k).cast("long") < 463000L)
          .otherwise(lit(null).cast("boolean"))
          .as("level_stationary_5pct"))
  }

  /** Restricted mean survival time per group — the AREA under the
    * [[kaplanMeier]] curve up to a horizon τ: "average days alive
    * out of the first τ", the effect-size companion to
    * [[medianSurvival]] (which can be NULL when the curve never
    * crosses ½; RMST always exists and differences between arms are
    * directly interpretable). Consumes the KM output: each step's
    * survival S = exp(log_surv_mnat/1e6) (NULL log = 0) covers
    * [t_i, min(t_{i+1}, τ)), the head segment [0, t_1) has S = 1
    * exactly, each step's area micro-rounds per row and the total is
    * an exact integer sum. Next-step times come from exact
    * [[Ranking.groupRank]] + a (group, rank) self equi-join — the
    * [[graft.operators.Profile.durbinWatson]] pairing, never a
    * per-group window. Output: (groupCol, tau, rmst_micro). */
  def rmst(km: DataFrame, groupCol: String, tau: Long): DataFrame = {
    require(tau > 0L, "tau must be positive")
    val ranked = Ranking.groupRank(
      km.select(col(groupCol).as("__g"), col("t"),
        col("log_surv_mnat")), "__g", Seq("t"))
    val nxt = ranked.select(col("__g").as("__ng"),
      (col("rank") - 1L).as("__nr"), col("t").as("__tn"))
    val seg = ranked
      .join(nxt, col("__g") === col("__ng") &&
        col("rank") === col("__nr"), "left")
      .select(col("__g"), col("t"), col("rank"),
        col("log_surv_mnat"), coalesce(col("__tn"), lit(tau))
          .as("__tnext"))
    val w = greatest(lit(0L),
      least(col("__tnext"), lit(tau)) - least(col("t"), lit(tau)))
    val stepArea = when(col("log_surv_mnat").isNull, lit(0L))
      .otherwise(round(lit(1e6) *
        exp(col("log_surv_mnat").cast("double") / lit(1e6)) *
        w.cast("double")).cast("long"))
    val headArea = when(col("rank") === 1L,
      least(col("t"), lit(tau)) * 1000000L).otherwise(lit(0L))
    seg.groupBy(col("__g"))
      .agg(sum(stepArea + headArea).as("rmst_micro"))
      .select(col("__g").as(groupCol), lit(tau).as("tau"),
        col("rmst_micro"))
  }

  /** Exact floor division of NON-NEGATIVE decimals via the remainder
    * identity (a − a%b)/b — the adjusted numerator is exactly
    * divisible, so the decimal divide is exact on both engines (a
    * bare decimal `/` would HALF_UP at result scale; DuckDB mirrors
    * with HUGEINT `//`). */
  private[operators] def divFloorDec(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("decimal(38,0)")

  /** Exact micro z from its scaled square: given the EXACT integer
    * Q = floor((2·10⁶·z)²) (a decimal, e.g. from [[divFloorDec]])
    * and the sign, z_micro = sign · ((isqrt(Q) + 1) div 2) — the
    * half-away-from-zero rounding of |z| in pure integers. isqrt =
    * double sqrt SEED clamped exact against decimal squares, so no
    * libm result reaches the emitted cell (the r15 q384 driver-hash
    * lesson; oracle twins mirror the same seed+clamp). */
  private[operators] def zMicroFromQ(
      q4z2: Column, negative: Column): Column = {
    val dec = "decimal(38,0)"
    val u0 = floor(sqrt(q4z2.cast("double"))).cast("long")
    val u = u0 + when((u0 + 2L).cast(dec) * (u0 + 2L) <= q4z2, 2L)
      .when((u0 + 1L).cast(dec) * (u0 + 1L) <= q4z2, 1L)
      .when(u0.cast(dec) * u0 <= q4z2, 0L)
      .when((u0 - 1L).cast(dec) * (u0 - 1L) <= q4z2, -1L)
      .otherwise(-2L)
    val zAbs = call_function("shiftright", u + 1L, lit(1))
    when(negative, -zAbs).otherwise(zAbs)
  }

  /** (key, ts_ms, id, milli-value) projection shared by the
    * rank-based series tests below. */
  private def seriesBase(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"),
        unix_millis(col(tsCol)).as("__ts"),
        col(idCol).cast("long").as("__id"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"))

  /** Attach the DOUBLED pooled midrank r2 = 2·below + ties + 1 per
    * row — an exact INTEGER (the [[Profile.brunnerMunzel]] cell
    * construction, joined back to rows): one (key, value) hash-agg,
    * one [[Ranking.groupRunningSums]] value prefix, one equi-join.
    * Never a per-key window. */
  private def withDoubledMidranks(base: DataFrame): DataFrame = {
    val cells = base.groupBy(col("__k"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val run = Ranking.groupRunningSums(cells, "__k", Seq("__v"),
      Seq("__c" -> "__cum"))
    base.join(run.select(col("__k"), col("__v"),
      (lit(2L) * (col("__cum") - col("__c")) + col("__c") + 1L)
        .as("__r2")), Seq("__k", "__v"))
  }

  /** Pettitt (1979) rank-based single-changepoint test per key —
    * "WHERE did this series shift", the nonparametric complement to
    * [[mannKendall]]'s "does it drift": U_t = Σ_{i≤t} Σ_{j>t}
    * sign(x_j − x_i), and the change point is argmax_t |U_t| over
    * t = 1..n−1 (K = |U| there is the test statistic; ties in |U|
    * break to the EARLIEST t — deterministic).
    *
    * EXACT and never O(n²): with the doubled pooled midrank
    * r2 = 2·below + ties + 1 (an integer), the double sum telescopes
    * to U_t = t(n+1) − Σ_{i≤t} r2_i — so the whole curve is ONE
    * [[Ranking.groupRunningSum]] time prefix over midranked rows,
    * and the argmax is a hash-agg min(struct(−|U|, t)) with pure
    * integer keys (the r16 argmin-lint discipline). Ordering is
    * (unix_millis(ts), id); keys with fewer than 2 samples are
    * absent. Output: (keyCol, n, t_star, u_at_t, k_stat). */
  def pettitt(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val base = seriesBase(df, keyCol, tsCol, idCol, valueCol)
    val rows = withDoubledMidranks(base)
    // rank and the r2 time-prefix ride ONE scaffold pass (r19): the
    // former shape paid a second full range exchange + census +
    // checkpoint to prefix-sum in `rank` order, which is exactly the
    // (ts, id) order the rank pass had already established.
    val pre = Dedup.truncate(Ranking.groupRankAndRunningSum(
      rows, "__k", Seq("__ts", "__id"), "__r2"))
    val nPer = pre.groupBy(col("__k")).agg(max(col("rank")).as("__n"))
    pre.join(nPer, Seq("__k"))
      .filter(col("rank") < col("__n"))
      .select(col("__k"), col("__n"), col("rank"),
        (col("rank") * (col("__n") + 1L) - col("running")).as("__u"))
      .groupBy(col("__k"))
      .agg(max(col("__n")).as("n"),
        min(struct((-abs(col("__u"))).as("nk"), col("rank").as("t"),
          col("__u").as("u"))).as("__b"))
      .select(col("__k").as(keyCol), col("n"),
        col("__b.t").as("t_star"), col("__b.u").as("u_at_t"),
        abs(col("__b.u")).as("k_stat"))
  }

  /** Turning-point randomness test per key — "is this series even
    * serially random, or does it carry structure worth a trend/
    * changepoint pass": T = #\{1 < i < n : x_i is a strict local
    * extremum\}; under i.i.d., E[T] = 2(n−2)/3 and
    * Var[T] = (16n−29)/90. Ties at either shoulder count as
    * non-turning (stated; the classical test assumes a continuous
    * law). z is EXACT-integer end to end: with d = 3T − 2n + 4,
    * z² = 10·d²/(16n−29), so (2·10⁶·z)² = 4·10¹³·d² div (16n−29)
    * and [[zMicroFromQ]]'s clamped isqrt finishes — no libm in the
    * cell.
    *
    * Scale: the triple view is two (key, rank)-keyed self equi-joins
    * off ONE [[Ranking.groupRank]] (the [[Profile.durbinWatson]]
    * pairing), then a hash-agg. Keys with n < 3 report NULL z.
    * Output: (keyCol, n, n_turning, z_micro). */
  def turningPoint(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = seriesBase(df, keyCol, tsCol, idCol, valueCol)
    // r19 note: a groupLag rewrite (triples in one scaffold pass) was
    // measured and REVERTED — it swapped two reused-exchange
    // self-joins for the boundary-repair machinery without removing a
    // scaffold, and the final in-suite medians regressed ~1.6×
    // (1.65 → 3.42 s raw, still ~2.6 after window-skew adjustment).
    // groupLag stays where it deletes a whole scaffold (runsTest,
    // bartelsRank).
    val ranked = Dedup.truncate(
      Ranking.groupRank(base, "__k", Seq("__ts", "__id")))
    val cur = ranked.select(col("__k"), col("rank"), col("__v"))
    val prev = cur.select(col("__k"), (col("rank") + 1L).as("rank"),
      col("__v").as("__vp"))
    val next = cur.select(col("__k"), (col("rank") - 1L).as("rank"),
      col("__v").as("__vn"))
    val isTurn =
      (col("__vp") < col("__v") && col("__vn") < col("__v")) ||
        (col("__vp") > col("__v") && col("__vn") > col("__v"))
    val turns = cur.join(prev, Seq("__k", "rank"))
      .join(next, Seq("__k", "rank"))
      .groupBy(col("__k"))
      .agg(sum(when(isTurn, 1L).otherwise(0L)).as("n_turning"))
    val nPer = ranked.groupBy(col("__k")).agg(max(col("rank")).as("n"))
    val joined = nPer.join(turns, Seq("__k"), "left")
      .select(col("__k"), col("n"),
        coalesce(col("n_turning"), lit(0L)).as("n_turning"))
    val d = lit(3L) * col("n_turning") - lit(2L) * col("n") + lit(4L)
    val q = divFloorDec(
      (lit(40000000000000L).cast(dec) * (d.cast(dec) * d)).cast(dec),
      (lit(16L) * col("n") - 29L).cast(dec))
    joined.select(col("__k").as(keyCol), col("n"), col("n_turning"),
      when(col("n") >= 3L, zMicroFromQ(q, d < 0L))
        .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Cox–Stuart trend test per key — the sign-test view of drift
    * ([[mannKendall]] without the pair census): fold the series at
    * its middle and compare x_i with x_{i+m}, m = (n+1) div 2 (the
    * odd middle element sits in neither half and drops); S⁺ = #rises,
    * ties drop, and under no-trend S⁺ ~ Bin(n_eff, ½). z is exact:
    * d = 2S⁺ − n_eff, (2·10⁶·z)² = 4·10¹²·d² div n_eff, clamped
    * isqrt ([[zMicroFromQ]]). One rank pass + ONE (key, rank)-keyed
    * self equi-join — never a window, never a pair census. Keys with
    * no effective pair (n < 2 or all folded pairs tied) report NULL
    * z. Output: (keyCol, n, n_eff, s_plus, z_micro). */
  def coxStuart(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = seriesBase(df, keyCol, tsCol, idCol, valueCol)
    val ranked = Dedup.truncate(
      Ranking.groupRank(base, "__k", Seq("__ts", "__id")))
    val nPer = ranked.groupBy(col("__k")).agg(max(col("rank")).as("n"))
    val first = ranked.join(nPer, Seq("__k"))
      .filter(col("rank") <= expr("n div 2"))
      .select(col("__k"), col("n"),
        (col("rank") + expr("(n + 1) div 2")).as("__pr"),
        col("__v"))
    val second = ranked.select(col("__k"), col("rank").as("__pr"),
      col("__v").as("__v2"))
    val folded = first.join(second, Seq("__k", "__pr"))
      .groupBy(col("__k"))
      .agg(max(col("n")).as("n"),
        sum(when(col("__v2") > col("__v"), 1L).otherwise(0L))
          .as("s_plus"),
        sum(when(col("__v2") =!= col("__v"), 1L).otherwise(0L))
          .as("n_eff"))
    val all = nPer.join(
      folded.select(col("__k"), col("s_plus"), col("n_eff")),
      Seq("__k"), "left")
      .select(col("__k"), col("n"),
        coalesce(col("n_eff"), lit(0L)).as("n_eff"),
        coalesce(col("s_plus"), lit(0L)).as("s_plus"))
    val d = lit(2L) * col("s_plus") - col("n_eff")
    val q = divFloorDec(
      (lit(4000000000000L).cast(dec) * (d.cast(dec) * d)).cast(dec),
      col("n_eff").cast(dec))
    all.select(col("__k").as(keyCol), col("n"), col("n_eff"),
      col("s_plus"),
      when(col("n_eff") > 0L, zMicroFromQ(q, d < 0L))
        .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Bartels rank test (the rank von Neumann ratio) per key —
    * randomness against SERIAL correlation, where [[turningPoint]]
    * watches local shape: RVN = Σ(r_i − r_{i+1})² / Σ(r_i − r̄)²
    * over the series' pooled midranks in time order (≈2 under
    * randomness, → 0 positively autocorrelated, → 4 alternating).
    * Doubled midranks keep every term an exact integer (the ratio is
    * doubling-invariant), the numerator is ONE consecutive
    * (key, rank)-keyed self equi-join, the denominator the exact
    * n·Σr2² − (Σr2)² closed form, and the reported micro value is
    * the EXACT half-up rounding (2·10⁶·num + den) divfloor (2·den) —
    * no float anywhere. Exactness bound: 2·10⁶·n·Σ(Δr2)² < 10³⁸ ⇒
    * n ≲ 3·10⁷ per key (documented; the [[jonckheereTerpstra]]
    * reporting convention). Constant series (zero denominator) and
    * n < 2 report NULL. Output: (keyCol, n, rvn_micro). */
  def bartelsRank(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = seriesBase(df, keyCol, tsCol, idCol, valueCol)
    val rows = withDoubledMidranks(base)
    // Consecutive diffs ride ONE [[Ranking.groupLag]] pass (r19,
    // guide §2.4) instead of a rank scaffold + (key, rank)-keyed
    // self-join; numerator and moment sums then come from ONE
    // hash-agg. (r_i − r_{i+1})² = (r_{i+1} − r_i)², so lagging
    // instead of leading censuses the same n−1 terms.
    val lagged = Ranking.groupLag(rows, "__k", Seq("__ts", "__id"),
      Seq("__r2"), 1)
    val d1 = (col("__r2") - col("__r2_lag1")).cast(dec)
    val stats = lagged.groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        sum(col("__r2").cast(dec)).as("__s1"),
        sum((col("__r2").cast(dec) * col("__r2")).cast(dec))
          .as("__s2"),
        sum(when(col("__r2_lag1").isNotNull, (d1 * d1).cast(dec)))
          .as("__num"))
    val den = (col("n").cast(dec) * col("__s2") -
      col("__s1") * col("__s1")).cast(dec)
    val numScaled = (col("n").cast(dec) * col("__num")).cast(dec)
    stats
      .select(col("__k").as(keyCol), col("n"),
        when(col("n") >= 2L && den > 0 && col("__num").isNotNull,
          divFloorDec(
            (lit(2000000L).cast(dec) * numScaled + den).cast(dec),
            (lit(2L).cast(dec) * den).cast(dec)).cast("long"))
          .otherwise(lit(null).cast("long")).as("rvn_micro"))
  }

  /** Permutation entropy (Bandt & Pompe 2002, order m = 3) per key —
    * series COMPLEXITY in one number ("is this metric a clean
    * oscillation, a trend, or noise"): the Shannon entropy of the
    * ordinal-pattern census over embedded triples
    * (x_t, x_{t+1}, x_{t+2}), ties broken earlier-index-smaller (the
    * standard convention, stated). 0 nats = one pattern (monotone),
    * ln 6 ≈ 1.79 = white noise.
    *
    * Triples come from TWO (key, rank)-keyed self equi-joins off ONE
    * [[Ranking.groupRank]] (the [[turningPoint]] shape); the pattern
    * code is pure integer comparison arithmetic; the entropy follows
    * the corpus micro-nat convention — each census cell's
    * c·ln(c/n) term micro-rounds through ONE IEEE chain, the sum is
    * exact, one final rounded divide ([[Profile.mutualInfo]]'s
    * discipline, so float-sum ordering can never flip a cell).
    * Residual boundary risk, stated explicitly: each cell term is a
    * multi-op float chain (1e6·c·ln(c/n)), and Math.log vs another
    * engine's libm ln are each allowed sub-ulp error — a cell whose
    * chain lands EXACTLY on a .5 micro boundary could round apart
    * across engines. Unlike an argmin key (where one flipped cell
    * elects a different ROW — the lint-policed failure class), a
    * flipped cell here moves one emitted value by 1 micro-nat; the
    * inputs are integer censuses (c, n ≤ series length), and no
    * boundary hit has been observed across the gate grid. The same
    * convention and caveat apply to [[spectralEntropy]]'s bin terms.
    * Keys with < 3 samples are absent.
    * Output: (keyCol, n_triples, n_patterns, h_mnat). */
  def permutationEntropy(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String): DataFrame = {
    val base = seriesBase(df, keyCol, tsCol, idCol, valueCol)
    // r19 note: the [[turningPoint]] groupLag revert applies here too
    // (same swap, same in-suite regression — 2.28 → 3.62 s raw);
    // only the windowed per-key totals below were kept.
    val ranked = Dedup.truncate(
      Ranking.groupRank(base, "__k", Seq("__ts", "__id")))
    val cur = ranked.select(col("__k"), col("rank"), col("__v"))
    val p1 = cur.select(col("__k"), (col("rank") - 1L).as("rank"),
      col("__v").as("__v2"))
    val p2 = cur.select(col("__k"), (col("rank") - 2L).as("rank"),
      col("__v").as("__v3"))
    val trip = cur.join(p1, Seq("__k", "rank"))
      .join(p2, Seq("__k", "rank"))
    // Ordinal rank of positions 1 and 2 among the triple under the
    // lexicographic (value, index) order; position 3's rank is
    // implied, so code = 3a + b is a bijection onto the 6 patterns.
    val a = when(col("__v2") < col("__v"), 1L).otherwise(0L) +
      when(col("__v3") < col("__v"), 1L).otherwise(0L)
    val b = when(col("__v") <= col("__v2"), 1L).otherwise(0L) +
      when(col("__v3") < col("__v2"), 1L).otherwise(0L)
    val census = trip.select(col("__k"),
        (lit(3L) * a + b).as("__code"))
      .groupBy(col("__k"), col("__code"))
      .agg(count(lit(1)).as("__c"))
    // Per-key totals ride a window over the census (≤ 6 pattern rows
    // per key — bounded by construction) instead of a census + join
    // (r19, guide §2.4; the [[spectralEntropy]] rewrite). Identical
    // float chains.
    val w = Window.partitionBy(col("__k"))
    census.select(col("__k"),
        sum(col("__c")).over(w).as("n_triples"),
        count(lit(1)).over(w).as("n_patterns"),
        col("__c"))
      .select(col("__k"), col("n_triples"), col("n_patterns"),
        round(lit(1e6) * col("__c").cast("double") *
          log(col("__c").cast("double") /
            col("n_triples").cast("double"))).cast("long").as("__t"))
      .groupBy(col("__k"))
      .agg(max(col("n_triples")).as("n_triples"),
        max(col("n_patterns")).as("n_patterns"),
        sum(col("__t")).as("__s"))
      .select(col("__k").as(keyCol), col("n_triples"),
        col("n_patterns"),
        round(-col("__s").cast("double") /
          col("n_triples").cast("double")).cast("long").as("h_mnat"))
  }

  /** Spectral entropy per key — "is this series' energy ONE clean
    * cycle or smeared noise", the scalar verdict on top of
    * [[periodogram]]'s full spectrum: Shannon entropy of the
    * normalized bin powers p_k = P_k/ΣP (0 = pure tone, ln(bins) =
    * flat). Zero-power bins drop (0·ln 0 = 0); keys whose spectrum
    * is ALL zero (constant series) are absent. Arithmetic follows
    * the corpus micro-nat discipline over the periodogram's
    * already-exact micro longs: each bin's P·ln(P/S) micro-rounds
    * through ONE IEEE chain, the sum is exact, one final rounded
    * divide by S. Output: (keyCol, n, n_bins, h_mnat). */
  def spectralEntropy(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      maxK: Int): DataFrame = {
    require(!keyCol.equalsIgnoreCase("k"),
      "keyCol \"k\" collides with the periodogram's frequency column")
    val pg = periodogram(df, keyCol, tsCol, idCol, valueCol, maxK)
      .filter(col("power_micro") > 0L)
    // The per-key total rides a window instead of a census + two
    // joins (r19, guide §2.4): a key holds ≤ maxK ≤ 64 bins by
    // construction, so the window partition is bounded — the shape
    // this library's window policy allows — and the tiny-table
    // exchange chain (agg + join + agg + join) collapses to one
    // exchange + one agg. Identical float chains per bin and for the
    // final divide.
    val w = Window.partitionBy(col(keyCol))
    pg.select(col(keyCol), col("n"),
        sum(col("power_micro")).over(w).as("__s"),
        count(lit(1)).over(w).as("n_bins"),
        col("power_micro"))
      .select(col(keyCol), col("n"), col("n_bins"), col("__s"),
        round(lit(1e6) * col("power_micro").cast("double") *
          log(col("power_micro").cast("double") /
            col("__s").cast("double"))).cast("long").as("__t"))
      .groupBy(col(keyCol))
      .agg(max(col("n")).as("n"), max(col("n_bins")).as("n_bins"),
        max(col("__s")).as("__s"), sum(col("__t")).as("__ts2"))
      .select(col(keyCol), col("n"), col("n_bins"),
        round(-col("__ts2").cast("double") / col("__s").cast("double"))
          .cast("long").as("h_mnat"))
  }

  /** Sample entropy (Richman & Moorman 2000; m = 2) per key —
    * REGULARITY where [[permutationEntropy]] sees only order: given
    * tolerance r (milli units), B = # template pairs of length 2
    * within Chebyshev distance r, A = the same pairs also matching
    * on the third coordinate, SampEn = −ln(A/B) (reported as
    * ln(B/A) micro-nats, ≥ 0). Canonical Richman–Moorman counting:
    * both lengths census the SAME n−2 template starts (so A's pairs
    * are a subset of B's), i < j excludes self-matches, ≤ r is
    * inclusive.
    *
    * The pair census is inherently quadratic, so it runs over each
    * key's FIRST `maxN` samples ([[theilSen]]'s bounded-census
    * convention, visible in n_used) — a 100 TB key costs a constant
    * ≤ maxN²/2 comparisons. Templates come from two (key, rank)
    * self equi-joins; ONE pair join serves both counts. The only
    * float is the final ln of an exact integer ratio (the corpus
    * micro-nat idiom). Keys with A = 0 or B = 0 report NULL.
    * Output: (keyCol, n_used, b_pairs, a_pairs, sampen_mnat). */
  def sampleEntropy(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      rMilli: Long,
      maxN: Int = 256): DataFrame = {
    require(rMilli >= 0L, "rMilli must be non-negative")
    require(maxN >= 4 && maxN <= 4096,
      "maxN must be in [4, 4096] — it bounds the quadratic census")
    val base = seriesBase(df, keyCol, tsCol, idCol, valueCol)
    // Bounded-heap top-maxN — same contract as [[mannKendall]]'s
    // r18 truncation (payload after the unique sort prefix).
    val ranked = Dedup.truncate(
      Ranking.groupTopK(base, Seq("__k"),
        Seq(col("__ts"), col("__id"), col("__v")), maxN)
        .select(col("__k"), col("rank").cast("long").as("rank"),
          col("__v")))
    val s1 = ranked.select(col("__k"), (col("rank") - 1L).as("rank"),
      col("__v").as("__v2"))
    val s2 = ranked.select(col("__k"), (col("rank") - 2L).as("rank"),
      col("__v").as("__v3"))
    val tpl = ranked.join(s1, Seq("__k", "rank"))
      .join(s2, Seq("__k", "rank"))
    val b = tpl.select(col("__k"), col("rank").as("__ri"),
      col("__v").as("__bv"), col("__v2").as("__bv2"),
      col("__v3").as("__bv3"))
    val near = (x: Column, y: Column) => abs(x - y) <= rMilli
    val pairs = tpl.join(b, Seq("__k"))
      .filter(col("rank") < col("__ri") &&
        near(col("__v"), col("__bv")) && near(col("__v2"), col("__bv2")))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("b_pairs"),
        sum(when(near(col("__v3"), col("__bv3")), 1L).otherwise(0L))
          .as("a_pairs"))
    val nUsed = ranked.groupBy(col("__k"))
      .agg(max(col("rank")).as("n_used"))
    nUsed.join(pairs, Seq("__k"), "left")
      .select(col("__k").as(keyCol), col("n_used"),
        coalesce(col("b_pairs"), lit(0L)).as("b_pairs"),
        coalesce(col("a_pairs"), lit(0L)).as("a_pairs"),
        when(coalesce(col("b_pairs"), lit(0L)) > 0L &&
            coalesce(col("a_pairs"), lit(0L)) > 0L,
          round(lit(1e6) * log(col("b_pairs").cast("double") /
            col("a_pairs").cast("double"))).cast("long"))
          .otherwise(lit(null).cast("long")).as("sampen_mnat"))
  }
}
