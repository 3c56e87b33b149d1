package graft.operators

import graft.SparkSpec

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  test("groupTrend: exact rational slope, sign, and the no-slope NULL") {
    val obs = Seq(
      // A: y = 2x exactly -> num/den = 12/6 = 2, rising.
      ("A", 0L, 0L), ("A", 1L, 2L), ("A", 2L, 4L),
      // B: falling.
      ("B", 0L, 5L), ("B", 1L, 3L),
      // C: one distinct x -> den = 0, trend NULL.
      ("C", 4L, 1L), ("C", 4L, 7L))
      .toDF("k", "x", "y")
    val got = TimeSeries.groupTrend(obs, "k", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getInt(4)))).toMap
    assert(got("A") == ((3L, 12L, 6L, 1)))
    assert(got("B") == ((2L, -2L, 1L, -1)))
    assert(got("C") == ((2L, 0L, 0L, null)))
  }

  test("groupTrend: flat series scores zero trend with positive den") {
    val obs = Seq(("F", 0L, 7L), ("F", 3L, 7L), ("F", 9L, 7L))
      .toDF("k", "x", "y")
    val r = TimeSeries.groupTrend(obs, "k", "x", "y").head()
    assert(r.getLong(2) == 0L && r.getLong(3) > 0L && r.getInt(4) == 0)
  }

  test("decayedCounts: shift-exact halving, negative-age clamp, 62 cap") {
    import org.apache.spark.sql.functions.lit
    val obs = Seq(
      ("hot", 0L),       // full weight
      ("hot", 7L),       // one half-life -> 500
      ("hot", 15L),      // two (15 div 7 = 2) -> 250
      ("hot", -3L),      // future-dated clamps to full weight
      ("cold", 7000L),   // ~1000 half-lives: capped shift -> 0
      ("cold", 70L))     // 10 half-lives of weight 1000 -> 0 (floored)
      .toDF("k", "age")
    val got = TimeSeries.decayedCounts(obs, "k", "age", lit(1000L), 7L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got("hot") == ((4L, 1000L + 500L + 250L + 1000L)))
    assert(got("cold") == ((2L, 0L))) // horizon: weight vanished
  }

  test("ewma: constant series is a fixpoint to micro precision") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val obs = (0 until 12).map(i => ("k", at(i), i.toLong, 7.5))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.ewma(obs, "k", "ts", "id", "v",
      alpha = 0.25, window = 8).select("ewma").as[Double].collect()
    // Ragged-edge renormalization keeps every prefix at the constant
    // — up to the per-tap micro rounding: each of the W taps can sit
    // on a .5 (round(7.5·w_m) does, for several w_m) and HALF_UP all
    // land the same way, so the worst case is ~W/2 micro of drift on
    // the smallest denominators, not bit-exactness.
    assert(got.forall(v => math.abs(v - 7.5) <= 5e-6))
  }

  test("ewma: matches the hand-computed truncated weighted mean") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val xs = Seq(10.0, 20.0, 40.0)
    val obs = xs.zipWithIndex.map { case (x, i) => ("k", at(i), i.toLong, x) }
      .toDF("k", "ts", "id", "v")
    val wq = TimeSeries.ewmaWeightsMicro(0.25, 8)
    // Row 2 (newest): taps hit x=40 (w0), 20 (w1), 10 (w2).
    val num = math.round(40.0 * wq(0)) + math.round(20.0 * wq(1)) +
      math.round(10.0 * wq(2))
    val den = wq(0) + wq(1) + wq(2)
    val want = math.round(1e6 * (num.toDouble / den.toDouble)) / 1e6
    val got = TimeSeries.ewma(obs, "k", "ts", "id", "v", 0.25, 8)
      .filter($"id" === 2L).select("ewma").as[Double].head()
    assert(got == want)
    // Newest sample dominates: the smoothed value leans toward 40.
    assert(got > 25.0 && got < 40.0)
  }

  test("ewma weights: micro-quantized α(1−α)^m chain") {
    assert(TimeSeries.ewmaWeightsMicro(0.25, 4) ==
      Seq(250000L, 187500L, 140625L, 105469L))
  }

  test("cusum: running-min identity equals the sequential fold") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    // A level shift: 10 flat samples, then 10 at +5 — the high side
    // must ramp after the shift; a point z-score would barely notice.
    val xs = Seq.fill(10)(10.0) ++ Seq.fill(10)(15.0)
    val obs = xs.zipWithIndex.map { case (x, i) => ("k", at(i), i.toLong, x) }
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.cusum(obs, "k", "ts", "id", "v",
      slackMicro = 500000L, thresholdMicro = 8000000L)
      .orderBy("id")
      .select("s_hi", "s_lo", "alarm_hi").collect()
    // Reference fold with the same micro arithmetic.
    val xq = xs.map(x => math.round(x * 1e6))
    val ctr = math.round(xq.sum.toDouble / xq.size)
    var s = 0L
    val want = xq.map { x =>
      s = math.max(0L, s + (x - ctr - 500000L)); s
    }
    assert(got.map(_.getLong(0)).toSeq == want)
    // Alarms only after the shift has accumulated.
    val alarmsAt = got.zipWithIndex.filter(_._1.getBoolean(2)).map(_._2)
    assert(alarmsAt.nonEmpty && alarmsAt.forall(_ >= 10))
  }

  test("cusum: low side mirrors a downward shift") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val xs = Seq.fill(10)(10.0) ++ Seq.fill(10)(5.0)
    val obs = xs.zipWithIndex.map { case (x, i) => ("k", at(i), i.toLong, x) }
      .toDF("k", "ts", "id", "v")
    val last = TimeSeries.cusum(obs, "k", "ts", "id", "v",
      slackMicro = 500000L, thresholdMicro = 8000000L)
      .orderBy("id").collect().last
    assert(last.getAs[Boolean]("alarm_lo"))
    assert(!last.getAs[Boolean]("alarm_hi"))
  }

  test("kaplanMeier: hand-computed log-survival, censoring holds the " +
      "curve, total-death NULL") {
    val df = Seq(
      ("g", 1L, true), ("g", 2L, false), ("g", 3L, true), ("g", 3L, true),
      ("h", 5L, false))
      .toDF("coh", "dur", "ev")
    val got = TimeSeries.kaplanMeier(df, "coh", "dur", "ev")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else r.getLong(5)))).toMap
    // t=1: 4 at risk, 1 dies → ln(3/4) = −287682 µnats.
    assert(got(("g", 1L)) == ((4L, 1L, 0L, -287682L)))
    // t=2: censoring only — the curve holds.
    assert(got(("g", 2L)) == ((3L, 0L, 1L, -287682L)))
    // t=3: both remaining die → S = 0, log NULL.
    assert(got(("g", 3L)) == ((2L, 2L, 0L, null)))
    // pure-censoring group: survival stays exactly 1.
    assert(got(("h", 5L)) == ((1L, 0L, 1L, 0L)))
  }

  test("medianSurvival: first t at S ≤ ½; NULL when never reached") {
    // g: S drops to 3/4 at t=1, to 0 at t=3 (NULL log) → median 3.
    // h: pure censoring, S stays 1 → NULL median.
    val df = Seq(
      ("g", 1L, true), ("g", 2L, false), ("g", 3L, true), ("g", 3L, true),
      ("h", 5L, false))
      .toDF("coh", "dur", "ev")
    val km = TimeSeries.kaplanMeier(df, "coh", "dur", "ev")
    val got = TimeSeries.medianSurvival(km, "coh")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(got == Map("g" -> 3L, "h" -> null))
  }

  test("logRank: hand-computed chi-square 2.0, info-free times skipped") {
    // A: deaths at t=1,2; B: censored at 1, death at 3. Times 1 and 2
    // carry the information (t=3 has n=1 → skipped): O1=2, E1=1,
    // V=0.5 → χ² = (2−1)²/0.5 = 2.
    val df = Seq(
      ("A", 1L, true), ("A", 2L, true),
      ("B", 1L, false), ("B", 3L, true))
      .toDF("g", "dur", "ev")
    val r = TimeSeries.logRank(df, "g", "dur", "ev", "A", "B").head()
    assert(r.getLong(0) == 2L)                 // informative times
    assert(r.getLong(1) == 2L)                 // O1
    assert(r.getLong(2) == 1000000L)           // E1
    assert(r.getLong(3) == 1000000L)           // Σ(O−E) micro
    assert(r.getLong(4) == 500000000000L)      // ΣV pico
    assert(r.getLong(5) == 2000000L)           // χ² = 2.0
  }

  test("logRank: identical cohorts score zero, no-variance NULL") {
    val same = Seq(("A", 1L, true), ("B", 1L, true),
      ("A", 2L, true), ("B", 2L, true)).toDF("g", "dur", "ev")
    val r = TimeSeries.logRank(same, "g", "dur", "ev", "A", "B").head()
    assert(r.getLong(3) == 0L && r.getLong(5) == 0L)
    // All durations distinct with one subject per time ⇒ every time
    // that remains has variance; a single-subject universe has none.
    val solo = Seq(("A", 1L, true)).toDF("g", "dur", "ev")
    val rs = TimeSeries.logRank(solo, "g", "dur", "ev", "A", "B").head()
    assert(rs.getLong(0) == 0L && rs.isNullAt(5))
  }

  test("groupOls: perfect line scores R² = 1e6 with exact rationals") {
    val obs = Seq(
      // A: y = 2x + 1 exactly.
      ("A", 0L, 1L), ("A", 1L, 3L), ("A", 2L, 5L),
      // B: noisy — hand stats n=3 sx=3 sy=2 sxy=3 sxx=5 syy=2 give
      // num=3 denX=6 denY=2 → r2 = 1e6·9/12.
      ("B", 0L, 0L), ("B", 1L, 1L), ("B", 2L, 1L))
      .toDF("k", "x", "y")
    val got = TimeSeries.groupOls(obs, "k", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else r.getLong(5)))).toMap
    assert(got("A") == ((3L, 12L, 6L, 6L, 1000000L)))
    assert(got("B") == ((3L, 3L, 6L, 1L, 750000L)))
  }

  test("groupOls: degenerate fits yield NULL R², not 0/0") {
    val obs = Seq(
      // C: constant y — denY = 0, slope exactly flat.
      ("C", 0L, 4L), ("C", 1L, 4L),
      // D: single distinct x — denX = 0, no slope at all.
      ("D", 5L, 1L), ("D", 5L, 9L))
      .toDF("k", "x", "y")
    val got = TimeSeries.groupOls(obs, "k", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.isNullAt(5)))).toMap
    assert(got("C") == ((0L, 1L, true)))
    assert(got("D")._2 == 0L && got("D")._3)
  }

  test("naiveForecastEval: a perfect period-2 series scores ratio 0") {
    import java.sql.Timestamp
    // alternating 10, 20: seasonal-naive (lag 2) is exact, naive is
    // always off by 10 -> ratio 0; scored rows = n - 2
    val rows = (1 to 8).map(i => ("u", new Timestamp(i * 1000L), i.toLong,
      if (i % 2 == 0) 20.0 else 10.0))
    val df = rows.toDF("k", "ts", "id", "v")
    val r = TimeSeries.naiveForecastEval(df, "k", "ts", "id", "v", 2)
      .collect().head
    assert(r.getAs[Long]("n_scored") == 6L)
    assert(r.getAs[Long]("mae_naive_micro") == 10000000L)
    assert(r.getAs[Long]("mae_seasonal_micro") == 0L)
    assert(r.getAs[Long]("ratio_micro") == 0L)
  }

  test("naiveForecastEval: flat series yields NULL ratio; short keys absent") {
    import java.sql.Timestamp
    val df = ((1 to 5).map(i => ("flat", new Timestamp(i * 1000L),
        i.toLong, 7.0)) ++
      (1 to 2).map(i => ("short", new Timestamp(i * 1000L), i.toLong, 1.0)))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.naiveForecastEval(df, "k", "ts", "id", "v", 2)
      .collect()
    assert(got.length == 1 && got.head.getAs[String]("k") == "flat")
    assert(got.head.isNullAt(got.head.fieldIndex("ratio_micro")))
  }

  test("acf: hand-computed ramp, constant-series NULL, short-key truncation") {
    import java.sql.Timestamp
    // 1,2,3,4: r1 = 1.25/5 = 0.25, r2 = -1.5/5 = -0.3.
    val df = ((1 to 4).map(i => ("g", new Timestamp(i * 1000L),
        i.toLong, i.toDouble)) ++
      (1 to 3).map(i => ("const", new Timestamp(i * 1000L),
        i.toLong, 9.0)) ++
      (1 to 2).map(i => ("short", new Timestamp(i * 1000L),
        i.toLong, i.toDouble)))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.acf(df, "k", "ts", "id", "v", maxLag = 2)
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("lag")) -> r).toMap
    assert(got(("g", 1L)).getAs[Long]("acf_micro") == 250000L)
    assert(got(("g", 2L)).getAs[Long]("acf_micro") == -300000L)
    assert(got(("g", 1L)).getAs[Long]("n_pairs") == 3L)
    assert(got(("const", 1L))
      .isNullAt(got(("const", 1L)).fieldIndex("acf_micro")))
    assert(!got.contains(("short", 2L))) // no complete lag-2 pair
  }

  test("changepoint: step series splits at the step, ties to earliest") {
    import java.sql.Timestamp
    // 1,1,1,5,5 -> split after rank 3, means 1 and 5.
    // 0,10,10,0 -> k=1 and k=3 tie on gain; earliest wins.
    val df = (Seq(1.0, 1.0, 1.0, 5.0, 5.0).zipWithIndex.map {
        case (v, i) => ("step", new Timestamp((i + 1) * 1000L),
          (i + 1).toLong, v) } ++
      Seq(0.0, 10.0, 10.0, 0.0).zipWithIndex.map {
        case (v, i) => ("tie", new Timestamp((i + 1) * 1000L),
          (i + 1).toLong, v) } ++
      Seq(("solo", new Timestamp(1000L), 1L, 3.0)))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.changepoint(df, "k", "ts", "id", "v")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(got("step").getAs[Long]("split_rank") == 3L)
    assert(got("step").getAs[Long]("gain_micro") == 19200000L)
    assert(got("step").getAs[Long]("mean_left_micro") == 1000000L)
    assert(got("step").getAs[Long]("mean_right_micro") == 5000000L)
    assert(got("tie").getAs[Long]("split_rank") == 1L)
    assert(!got.contains("solo")) // n < 2: no candidate split
  }

  test("holt: hand-derived A^m·c kernel, exact tap sums, full-window NULLs") {
    // α = β = 0.5: c = (0.5, 0.25), A = [[.5, .5], [−.25, .75]] —
    // pinning these micros pins the matrix orientation.
    assert(TimeSeries.holtWeightsMicro(0.5, 0.5, 4) == Seq(
      (500000L, 250000L), (375000L, 62500L),
      (218750L, -46875L), (85938L, -89844L)))
    import java.sql.Timestamp
    // ramp 2,4,6,8: at t=4 the taps are (8,6,4,2) ->
    // level 7.296876, trend 2.007812 (true slope 2), forecast = sum.
    val df = Seq(2.0, 4.0, 6.0, 8.0).zipWithIndex.map { case (v, i) =>
      ("g", new Timestamp((i + 1) * 1000L), (i + 1).toLong, v) }
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.holt(df, "k", "ts", "id", "v",
        alpha = 0.5, beta = 0.5, window = 4)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(got(4L).getAs[Double]("holt_level") == 7.296876)
    assert(got(4L).getAs[Double]("holt_trend") == 2.007812)
    assert(got(4L).getAs[Double]("holt_forecast") == 9.304688)
    // rows before the kernel fills are NULL, not partially weighted
    (1L to 3L).foreach { i =>
      assert(got(i).isNullAt(got(i).fieldIndex("holt_level"))) }
  }

  test("stlLite: a pure weekly cycle decomposes exactly, edges NULL") {
    // y(i) = (i mod 7)·1e6 over 21 days: every centered 7-window sums
    // to 21e6 -> trend = 3e6 exactly; seasonal = phase - 3e6; resid 0.
    val df = (0L to 20L).map(i => ("k", i, (i % 7) * 1000000L))
      .toDF("k", "d", "y")
    val got = TimeSeries.stlLite(df, "k", "d", "y", period = 7)
      .collect().map(r => r.getAs[Long]("d") -> r).toMap
    (3L to 17L).foreach { i =>
      assert(got(i).getAs[Long]("trend_micro") == 3000000L)
      assert(got(i).getAs[Long]("seasonal_micro") ==
        (i % 7) * 1000000L - 3000000L)
      assert(got(i).getAs[Long]("resid_micro") == 0L)
    }
    // edge rows: no full kernel -> NULL trend/resid, seasonal still
    // attaches from the covered rows of the same phase
    assert(got(0L).isNullAt(got(0L).fieldIndex("trend_micro")))
    assert(got(0L).isNullAt(got(0L).fieldIndex("resid_micro")))
    assert(got(0L).getAs[Long]("seasonal_micro") == -3000000L)
    assert(got(20L).isNullAt(got(20L).fieldIndex("trend_micro")))
  }

  test("activityGrid: epoch-integer dow/hour, exact shares") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 2024-01-01 is a Monday (dow 0); 2024-01-06 a Saturday (dow 5).
    val df = Seq(
      ("g", ts("2024-01-01 09:30:00")), ("g", ts("2024-01-01 09:59:59")),
      ("g", ts("2024-01-01 23:00:00")), ("g", ts("2024-01-06 00:00:00")))
      .toDF("g", "ts")
    val got = TimeSeries.activityGrid(df, "g", "ts").collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hour")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("share_micro"))))
      .toMap
    assert(got == Map(
      (0L, 9L) -> ((2L, 500000L)),
      (0L, 23L) -> ((1L, 250000L)),
      (5L, 0L) -> ((1L, 250000L))))
  }

  test("pacf: lag 1 equals ACF, higher lags replay quantized Durbin-Levinson") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 5.0, 8.0, 7.0, 9.0)
      .zipWithIndex.map { case (v, i) =>
        ("k", new java.sql.Timestamp(ts0.getTime + i * 1000L),
          i.toLong, v)
      }
    val df = rows.toDF("k", "ts", "id", "v")
    val r = TimeSeries.acf(df, "k", "ts", "id", "v", maxLag = 3)
      .collect().map(x => x.getAs[Long]("lag") ->
        x.getAs[Long]("acf_micro")).toMap
    val got = TimeSeries.pacf(df, "k", "ts", "id", "v", maxLag = 3)
      .collect().map(x => x.getAs[Long]("lag") ->
        x.getAs[Long]("pacf_micro")).toMap
    // Level 1: PACF IS the ACF.
    assert(got(1L) == r(1L))
    // Replay the quantized DL by hand off the operator's own ACF.
    def d(m: Long) = m.toDouble / 1e6
    val p11 = r(1L)
    val p22 = math.round(1e6 *
      (d(r(2L)) - d(p11) * d(r(1L))) / (1.0 - d(p11) * d(r(1L))))
    assert(got(2L) == p22)
    val p21 = math.round(1e6 * (d(p11) - d(p22) * d(p11)))
    val num3 = d(r(3L)) - (d(p21) * d(r(2L)) + d(p22) * d(r(1L)))
    val den3 = 1.0 - (d(p21) * d(r(1L)) + d(p22) * d(r(2L)))
    assert(got(3L) == math.round(1e6 * num3 / den3))
  }

  test("ljungBox: Q recomposes from acf lags; trend >> alternation") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val rows = (0 until 12).flatMap { i =>
      Seq(("trend", at(i), i.toLong, i.toDouble),
        ("alt", at(i), i.toLong, if (i % 2 == 0) 1.0 else -1.0))
    }.toDF("k", "ts", "id", "v")
    // Expected: the Ljung-Box formula over the acf operator's own
    // lags (the acf itself is oracle-gated as q271).
    val acf = TimeSeries.acf(rows, "k", "ts", "id", "v", 3)
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("lag")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("acf_micro")))).toMap
    def expect(k: String): Long = {
      val n = acf((k, 1L))._1
      val s = (1L to 3L).map { l =>
        val rho = acf((k, l))._2
        math.round(rho.toDouble * rho / (n - l))
      }.sum
      math.round(n.toDouble * (n + 2) * s / 1e6)
    }
    val got = TimeSeries.ljungBox(rows, "k", "ts", "id", "v", 3)
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(got("trend").getAs[Long]("n_lags") == 3L)
    assert(got("trend").getAs[Long]("q_micro") == expect("trend"))
    assert(got("alt").getAs[Long]("q_micro") == expect("alt"))
    // A monotone trend is far less white than a +-1 alternation at
    // lag parity: both reject, but trend's lag-1 rho dominates.
    assert(got("trend").getAs[Long]("q_micro") > 0L)
  }

  test("holtWinters: pure cycle tracked, forecast mass, NULL warmup") {
    // FORECAST kernel sanity: the level+trend+season combination is
    // the observable one (the level/season split carries the filter's
    // unit mode) — for constant input it must carry ~unit mass; the
    // observable modes decay ~0.82/step, so 24 taps leave <1% tail.
    val wq = TimeSeries.holtWintersWeightsMicro(0.5, 0.2, 0.7, 3, 24)
    val fMass = wq.map(t => t._1 + t._2 + t._3).sum
    assert(math.abs(fMass - 1000000L) < 10000L, s"forecast mass $fMass")
    // A pure period-3 cycle (no trend): the 1-step forecast after
    // warmup predicts the NEXT point to within the truncation tail.
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val cyc = Seq(0.0, 3.0, -3.0)
    val xs = (0 until 54).map(i => 10.0 + cyc(i % 3))
    val df = xs.zipWithIndex.map { case (v, i) =>
      ("k", at(i.toLong), i.toLong, v)
    }.toDF("k", "ts", "id", "v")
    val rows = TimeSeries.holtWinters(df, "k", "ts", "id", "v",
      alpha = 0.5, beta = 0.2, gamma = 0.7, period = 3, window = 24)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    // Warmup: fewer than 24 taps -> NULL.
    assert(rows(20L).isNullAt(rows(20L).fieldIndex("hw_forecast")))
    (24L until 53L).foreach { i =>
      val f = rows(i).getAs[Double]("hw_forecast")
      val actualNext = xs((i + 1).toInt)
      assert(math.abs(f - actualNext) < 0.15,
        s"t=$i forecast $f vs ${actualNext}")
    }
  }

  test("mannKendall: hand S/var/z/sen, all-tied NULLs, singleton absent") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val df = (
      // A: 1,2,3,4 strictly rising -> S=6, no ties, sen = 1e6/step.
      Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex.map { case (v, i) =>
        ("A", at(i.toLong), i.toLong, v) } ++
      // B: all tied -> S=0, var18=0, z/trend NULL, sen 0.
      Seq(0, 1, 2).map(i => ("B", at(i.toLong), i.toLong, 5.0)) ++
      // C: 3,2,1 falling -> S=-3, |z| < 1.96 -> trend 0.
      Seq(3.0, 2.0, 1.0).zipWithIndex.map { case (v, i) =>
        ("C", at(i.toLong), i.toLong, v) } ++
      // D: a single point -> no pair, absent.
      Seq(("D", at(0L), 0L, 9.9)) ++
      // E: 10 strictly rising -> S=45, z=44/sqrt(125)=3.94 -> trend 1.
      (0 until 10).map(i => ("E", at(i.toLong), i.toLong, i.toDouble))
    ).toDF("k", "ts", "id", "v")
    val got = TimeSeries.mannKendall(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("D"))
    val a = got("A")
    assert(a.getAs[Long]("n") == 4L && a.getAs[Long]("s_stat") == 6L)
    assert(a.getAs[Long]("var18") == 4L * 3L * 13L)
    assert(a.getAs[Long]("sen_micro") == 1000000L)
    assert(a.getAs[Long]("z_micro") ==
      math.round(1e6 * 5.0 / math.sqrt(156.0 / 18.0)))
    // z = 5/2.9439 = 1.698 < 1.96: a perfect n=4 rise is still not
    // significant under MK (needs n >= 5) -> verdict 0, not 1.
    assert(a.getAs[Int]("trend") == 0)
    val b = got("B")
    assert(b.getAs[Long]("s_stat") == 0L && b.getAs[Long]("var18") == 0L)
    assert(b.isNullAt(b.fieldIndex("z_micro")) &&
      b.isNullAt(b.fieldIndex("trend")))
    assert(b.getAs[Long]("sen_micro") == 0L)
    val c = got("C")
    assert(c.getAs[Long]("s_stat") == -3L &&
      c.getAs[Long]("var18") == 66L)
    assert(c.getAs[Long]("sen_micro") == -1000000L)
    assert(c.getAs[Long]("z_micro") ==
      math.round(1e6 * -2.0 / math.sqrt(66.0 / 18.0)))
    assert(c.getAs[Int]("trend") == 0)
    val e = got("E")
    assert(e.getAs[Long]("s_stat") == 45L &&
      e.getAs[Long]("var18") == 10L * 9L * 25L)
    assert(e.getAs[Long]("z_micro") ==
      math.round(1e6 * 44.0 / math.sqrt(125.0)))
    assert(e.getAs[Int]("trend") == 1)
  }

  test("theilSen: outlier-proof line, equal-x pairs skipped") {
    val df = Seq(
      // R: y = 2x + 1 with one wild outlier at x=4.
      ("R", 0.0, 1.0, 1L), ("R", 1.0, 3.0, 2L), ("R", 2.0, 5.0, 3L),
      ("R", 3.0, 7.0, 4L), ("R", 4.0, 100.0, 5L),
      // D: two points share x=0 -> their pair casts no slope vote.
      ("D", 0.0, 1.0, 1L), ("D", 0.0, 5.0, 2L), ("D", 1.0, 2.0, 3L))
      .toDF("g", "x", "y", "id")
    val got = TimeSeries.theilSen(df, "g", "x", "y", "id")
      .collect().map(r => r.getString(0) -> r).toMap
    val r = got("R")
    assert(r.getAs[Long]("n") == 5L && r.getAs[Long]("n_pairs") == 10L)
    // 6 of 10 pairwise slopes are exactly 2 -> median 2, and the
    // median residual recovers the TRUE intercept despite y=100.
    assert(r.getAs[Long]("slope_micro") == 2000000L)
    assert(r.getAs[Long]("intercept_micro") == 1000000L)
    val d = got("D")
    assert(d.getAs[Long]("n_pairs") == 2L)
    // Voting slopes are {1, -3}: LOW median -3; residuals
    // {1, 5, 2+3} -> low median 5.
    assert(d.getAs[Long]("slope_micro") == -3000000L)
    assert(d.getAs[Long]("intercept_micro") == 5000000L)
  }

  test("coxScore: hand risk sets, one-step beta/HR, censoring") {
    val df = Seq(
      // Cohort 0 churns fast; cohort 1 slow, one censored.
      ("0", 1L, true), ("0", 2L, true),
      ("1", 3L, true), ("1", 4L, false))
      .toDF("cohort", "dur", "churned")
    val r = TimeSeries.coxScore(df, "cohort", "dur", "churned",
      "0", "1").head()
    // t=1: n1=2 n=4 d=1(d1=1); t=2: n1=1 n=3 d=1(d1=1);
    // t=3: n1=0 n=2 d=1(d1=0). t=4 has no event -> dropped.
    assert(r.getAs[Long]("n_times") == 3L && r.getAs[Long]("o1") == 2L)
    val u = (1000000L - math.round(1e6 * 2.0 / 4.0)) +
      (1000000L - math.round(1e6 * 1.0 / 3.0)) +
      (0L - math.round(1e6 * 0.0 / 2.0))
    val i = math.round(1e6 * 4.0 / 16.0) +
      math.round(1e6 * 2.0 / 9.0) + 0L
    assert(r.getAs[Long]("u_sum_micro") == u)
    assert(r.getAs[Long]("i_sum_micro") == i)
    val beta = math.round(1e6 * u.toDouble / i.toDouble)
    assert(r.getAs[Long]("beta_micro") == beta)
    assert(r.getAs[Long]("hr_micro") ==
      math.round(1e6 * math.exp(beta / 1e6)))
    assert(r.getAs[Long]("se_micro") ==
      math.round(1e6 / math.sqrt(i / 1e6)))
    // Early churn in cohort 0 means beta > 0: 0 is the riskier arm.
    assert(beta > 0L)
  }

  test("rollingMannKendall: hand S per window, ties zero, alarm gate") {
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // U: strictly rising 1,2,3,4 with window 3 -> S = 0,1,3,3.
    // C: constant -> every sign 0, S = 0, z = 0 from n >= 2.
    val df = ((0 until 4).map(i => ("U" , at(i.toLong), i.toLong, (i + 1).toDouble)) ++
      (0 until 3).map(i => ("C", at(i.toLong), i.toLong, 5.0)))
      .map { case (k, t, i, v) => (k, t, i, v) }
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.rollingMannKendall(df, "k", "ts", "id", "v",
        window = 3, thresholdMicro = 1500000L)
      .collect().map(r => (r.getString(0), r.getLong(2)) -> r).toMap
    def s(k: String, i: Long) = got((k, i)).getAs[Long]("s")
    assert(Seq(s("U", 0), s("U", 1), s("U", 2), s("U", 3)) ==
      Seq(0L, 1L, 3L, 3L))
    assert(got(("U", 0)).isNullAt(got(("U", 0)).fieldIndex("z_micro")))
    // n=2: var = 2*1*9/18 = 1 -> z = 1e6 * S exactly.
    assert(got(("U", 1)).getAs[Long]("z_micro") == 1000000L)
    // n=3 full-rise window: S = 3, var = 3*2*11/18 -> z ~ 1.5667e6.
    val z3 = math.round(1e6 * 3 / math.sqrt(3L * 2L * 11L / 18.0))
    assert(got(("U", 2)).getAs[Long]("z_micro") == z3)
    assert(got(("U", 2)).getAs[Boolean]("alarm"))
    assert(!got(("U", 1)).getAs[Boolean]("alarm"))
    (0 until 3).foreach { i =>
      assert(s("C", i.toLong) == 0L)
      if (i > 0) assert(got(("C", i.toLong)).getAs[Long]("z_micro") == 0L)
    }
    assert(got(("U", 3)).getAs[Int]("n_win") == 3)
  }

  test("saxWords: step series -> aa/dd words, trailing drop, flat absent") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val df = (
      // S: 10 x -1 then 13 x +1 -> blocks a,a,d,d (+ a dropped
      // 3-point tail) -> words "aa", "dd" once each.
      ((0 until 10).map(i => ("S", at(i.toLong), i.toLong, -1.0)) ++
        (10 until 23).map(i => ("S", at(i.toLong), i.toLong, 1.0))) ++
      // F: constant -> zero variance, no z, absent.
      (0 until 20).map(i => ("F", at(i.toLong), i.toLong, 7.0))
    ).toDF("k", "ts", "id", "v")
    val got = TimeSeries.saxWords(df, "k", "ts", "id", "v",
        blockSize = 5, wordBlocks = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(2)).toMap
    assert(got == Map(("S", "aa") -> 1L, ("S", "dd") -> 1L))
  }

  test("seasonalStrength: pure cycle 1/NULL, pure trend NULL/1") {
    // P: y = 10 + cyc(d % 3): centered-MA trend is EXACTLY 10, the
    // seasonal means soak the cycle, residual 0 everywhere.
    val cyc = Seq(0L, 300L, -300L)
    val p = (0 until 21).map(d => ("P", d.toLong, 10L + cyc(d % 3)))
    // T: y = d: trend IS the series, no seasonal signal.
    val t = (0 until 21).map(d => ("T", d.toLong, d.toLong))
    val df = (p ++ t).toDF("k", "d", "y")
    val got = TimeSeries.seasonalStrength(df, "k", "d", "y", period = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    val pp = got("P")
    assert(pp.getAs[Long]("n") == 21L && pp.getAs[Long]("n_used") == 19L)
    assert(pp.getAs[Long]("f_seasonal_micro") == 1000000L)
    // trend + resid is CONSTANT -> nothing to explain -> NULL.
    assert(pp.isNullAt(pp.fieldIndex("f_trend_micro")))
    val tt = got("T")
    assert(tt.isNullAt(tt.fieldIndex("f_seasonal_micro")))
    assert(tt.getAs[Long]("f_trend_micro") == 1000000L)
  }

  test("neweyWest: alternating series shrinks the HAC bar, flat zero") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val df = (
      // A: +1,-1,+1,-1 -> iid se exactly 0.5; negative lag-1
      // autocovariance PULLS the NW bar BELOW the iid one.
      Seq(1.0, -1.0, 1.0, -1.0).zipWithIndex.map { case (v, i) =>
        ("A", at(i.toLong), i.toLong, v) } ++
      // C: constant -> both bars exactly 0.
      Seq.fill(4)(5.0).zipWithIndex.map { case (v, i) =>
        ("C", at(i.toLong), i.toLong, v) } ++
      // S: a single point -> NULL errors.
      Seq(("S", at(0L), 0L, 3.0))
    ).toDF("k", "ts", "id", "v")
    val got = TimeSeries.neweyWest(df, "k", "ts", "id", "v", maxLag = 5)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("A")
    assert(a.getAs[Long]("mean_micro") == 0L)
    assert(a.getAs[Long]("se_iid_micro") == 500000L)
    // Hand lag sums: a0=64e12, a1=-48e12, a2=32e12, a3=-16e12 ->
    // nwNum = 6*64 - 2*160 = 64e12, var = 64e12/(6*256).
    val expNw = math.round(math.sqrt(64e12 / (6.0 * 256.0)))
    assert(a.getAs[Long]("se_nw_micro") == expNw)
    assert(a.getAs[Long]("ci_lo_micro") ==
      math.round(-1.959964 * math.sqrt(64e12 / (6.0 * 256.0))))
    val c = got("C")
    assert(c.getAs[Long]("se_iid_micro") == 0L &&
      c.getAs[Long]("se_nw_micro") == 0L &&
      c.getAs[Long]("ci_lo_micro") == 5000000L)
    val s = got("S")
    assert(s.isNullAt(s.fieldIndex("se_nw_micro")) &&
      s.isNullAt(s.fieldIndex("ci_lo_micro")))
  }

  test("hurstRS: anti-persistent 0, ramp near 1, short series NULL") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val df = (
      // ALT: +1/-1 alternation is scale-free (every block identical
      // in structure) -> all four R/S equal -> slope EXACTLY 0.
      (0 until 128).map(i =>
        ("ALT", at(i.toLong), i.toLong, if (i % 2 == 0) 1.0 else -1.0)) ++
      // RAMP: pure trend -> R/S ~ c*w -> slope ~ 1.
      (0 until 128).map(i => ("RAMP", at(i.toLong), i.toLong, i.toDouble)) ++
      // SHORT: 20 points -> rs8/rs16 only, no rs32/64 -> NULL H.
      (0 until 20).map(i => ("SHORT", at(i.toLong), i.toLong,
        math.pow(-1.0, i) * (i + 1)))
    ).toDF("k", "ts", "id", "v")
    val got = TimeSeries.hurstRS(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val alt = got("ALT")
    assert(alt.getAs[Long]("rs8_micro") == alt.getAs[Long]("rs64_micro"))
    assert(alt.getAs[Long]("hurst_micro") == 0L)
    assert(alt.getAs[Long]("n_blocks") == 16L + 8L + 4L + 2L)
    val ramp = got("RAMP")
    val h = ramp.getAs[Long]("hurst_micro")
    assert(h > 950000L && h < 1010000L, s"ramp H = $h")
    val short = got("SHORT")
    assert(short.getAs[Long]("n_blocks") == 2L + 1L)
    assert(!short.isNullAt(short.fieldIndex("rs16_micro")))
    assert(short.isNullAt(short.fieldIndex("rs32_micro")))
    assert(short.isNullAt(short.fieldIndex("hurst_micro")))
  }

  test("runsTest: alternation vs clustering, median drops, degenerates") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    def series(k: String, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) => (k, at(i.toLong), i.toLong, v) }
    val df = (
      // R: kept pattern b,a,b,a,a -> 4 runs (low median 3 drops).
      series("R", Seq(1, 4, 2, 5, 3, 6).map(_.toDouble)) ++
      // C: kept pattern b,b,a,a,a -> 2 runs.
      series("C", Seq(1, 2, 3, 10, 11, 12).map(_.toDouble)) ++
      // E: all equal -> everything drops at the median, runs NULL.
      series("E", Seq(7.0, 7.0, 7.0)) ++
      // O: one-sided after the median drop -> zero variance.
      series("O", Seq(1.0, 2.0))
    ).toDF("k", "ts", "id", "v")
    val got = TimeSeries.runsTest(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    def z(runs: Long, a: Long, b: Long): Long = {
      val twoab = 2.0 * a * b; val n = (a + b).toDouble
      math.round(1e6 * (runs - (twoab / n + 1.0)) /
        math.sqrt(twoab * (twoab - n) / (n * n * (n - 1.0))))
    }
    val r = got("R")
    assert(r.getAs[Long]("n_above") == 3L &&
      r.getAs[Long]("n_below") == 2L && r.getAs[Long]("n_dropped") == 1L)
    assert(r.getAs[Long]("runs") == 4L)
    assert(r.getAs[Long]("z_micro") == z(4L, 3L, 2L))
    val c = got("C")
    assert(c.getAs[Long]("runs") == 2L)
    assert(c.getAs[Long]("z_micro") == z(2L, 3L, 2L))
    assert(c.getAs[Long]("z_micro") < 0L) // clustering: too FEW runs
    val e = got("E")
    assert(e.getAs[Long]("n_dropped") == 3L &&
      e.isNullAt(e.fieldIndex("runs")) &&
      e.isNullAt(e.fieldIndex("z_micro")))
    val o = got("O")
    assert(o.getAs[Long]("runs") == 1L &&
      o.isNullAt(o.fieldIndex("z_micro")))
  }

  test("mannKendall: maxN truncates to the series head") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    // Head 1,2,3 rises; the tail would flip the verdict if counted.
    val df = Seq(1.0, 2.0, 3.0, -50.0, -60.0, -70.0).zipWithIndex
      .map { case (v, i) => ("T", at(i.toLong), i.toLong, v) }
      .toDF("k", "ts", "id", "v")
    val r = TimeSeries.mannKendall(df, "k", "ts", "id", "v", maxN = 3)
      .head()
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("s_stat") == 3L)
    assert(r.getAs[Long]("sen_micro") == 1000000L)
  }

  test("theilSen/mannKendall: maxN past the pair cap fails before any job") {
    import graft.functions.SeriesKernels.MaxSeriesN
    assert(MaxSeriesN == 4472)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts.getTime + s * 1000)
    val series = Seq(1.0, 3.0, 2.0, 5.0).zipWithIndex
      .map { case (v, i) => ("T", at(i.toLong), i.toLong, v) }
      .toDF("k", "ts", "id", "v")
    val line = Seq(("R", 0.0, 1.0, 1L), ("R", 1.0, 3.0, 2L),
      ("R", 2.0, 5.0, 3L)).toDF("g", "x", "y", "id")
    val sc = spark.sparkContext
    sc.setJobGroup("series-maxN-bound", "maxN bound")
    try {
      intercept[IllegalArgumentException](TimeSeries.mannKendall(
        series, "k", "ts", "id", "v", maxN = MaxSeriesN + 1))
      intercept[IllegalArgumentException](TimeSeries.theilSen(
        line, "g", "x", "y", "id", maxN = MaxSeriesN + 1))
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("series-maxN-bound").isEmpty)
    // The bound itself is accepted, and short series are unaffected.
    assert(rows(TimeSeries.mannKendall(series, "k", "ts", "id", "v",
        maxN = MaxSeriesN)) ==
      rows(TimeSeries.mannKendall(series, "k", "ts", "id", "v")))
    assert(rows(TimeSeries.theilSen(line, "g", "x", "y", "id",
        maxN = MaxSeriesN)) ==
      rows(TimeSeries.theilSen(line, "g", "x", "y", "id")))
  }

  test("periodogram: pure cosine peaks at its own bin, replayed exactly") {
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    val n = 8
    val df = (0 until n).map { r =>
      ("C", at(r.toLong), r.toLong, math.cos(2.0 * math.Pi * r / n))
    }.toDF("k", "ts", "id", "v")
    val got = TimeSeries.periodogram(df, "k", "ts", "id", "v", maxK = 4)
      .collect().map(r => r.getInt(1) -> r.getAs[Long]("power_micro"))
      .toMap
    // Replay the exact construction: milli values × micro-quantized
    // cos/sin, integer sums, one mirrored finish.
    def replay(k: Int): Long = {
      val terms = (0 until n).map { r =>
        val v = math.round(1e3 * math.cos(2.0 * math.Pi * r / n))
        val m = (k.toLong * r) % n
        val th = 2.0 * math.Pi * m / n
        (v * math.round(1e6 * math.cos(th)),
          v * math.round(1e6 * math.sin(th)))
      }
      val c = terms.map(_._1).sum.toDouble
      val s = terms.map(_._2).sum.toDouble
      math.round(1e6 * (c / 1e9 * (c / 1e9) + s / 1e9 * (s / 1e9)) / n)
    }
    (1 to 4).foreach(k => assert(got(k) == replay(k),
      s"k=$k: ${got(k)} != ${replay(k)}"))
    // The signal's own bin dominates the spectrum by orders.
    assert(got(1) > 100L * math.max(1L, got(2)))
    assert(got(1) > 1900000L && got(1) < 2100000L) // ~ amp²·n/2/n = ½·4?
  }

  test("dickeyFuller: strong mean reversion, exact t") {
    import spark.implicits._
    // y = 1,-1,1,-1,2: pairs (x=lag, dy): beta = -2.25,
    // s2 = 0.25, se = 0.25 -> t = -9.
    val df = Seq(("g", 1L, 1L, 1.0), ("g", 2L, 2L, -1.0),
      ("g", 3L, 3L, 1.0), ("g", 4L, 4L, -1.0), ("g", 5L, 5L, 2.0))
      .toDF("g", "o", "tb", "y")
    val r = TimeSeries.dickeyFuller(df, "g", "o", "tb", "y")
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3),
      r.getBoolean(4)) == ((4L, -2250000L, -9000000L, true)))
    // A perfect alternation fits exactly: s2 = 0 -> NULL t.
    val perfect = Seq(("p", 1L, 1L, 1.0), ("p", 2L, 2L, -1.0),
      ("p", 3L, 3L, 1.0), ("p", 4L, 4L, -1.0), ("p", 5L, 5L, 1.0))
      .toDF("g", "o", "tb", "y")
    val pr = TimeSeries.dickeyFuller(perfect, "g", "o", "tb", "y")
      .collect().head
    assert(pr.getLong(2) == -2000000L && pr.isNullAt(3))
  }

  test("nelsonAalen: hand hazard increments accumulate exactly") {
    import spark.implicits._
    val df = Seq(("g", 1L, true), ("g", 1L, true),
      ("g", 2L, true), ("g", 2L, false), ("g", 3L, true))
      .toDF("g", "dur", "ev")
    val got = TimeSeries.nelsonAalen(df, "g", "dur", "ev")
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // t=1: 2/5 -> 400000; t=2: +1/3 -> 733333; t=3: +1/1 -> 1733333
    assert(got(1L) == ((5L, 2L, 0L, 400000L)))
    assert(got(2L) == ((3L, 1L, 1L, 733333L)))
    assert(got(3L) == ((1L, 1L, 0L, 1733333L)))
  }

  test("kpss: hand trend statistic, constant-series NULL") {
    import spark.implicits._
    val df = (1 to 6).map(i => ("g", i.toLong, i.toLong, i.toDouble))
      .toDF("g", "ts", "id", "y")
    val r = TimeSeries.kpss(df, "g", "ts", "id", "y", maxLag = 4)
      .collect().head
    // exact integer replay: SS2 = 2331e6, nwNum = 4662e6 ->
    // KPSS = 5/12 = 0.41667 (below the 0.463 cut)
    assert((r.getLong(1), r.getLong(2), r.getBoolean(3)) ==
      ((6L, 416667L, true)))
    val const = (1 to 6).map(i => ("c", i.toLong, i.toLong, 5.0))
      .toDF("g", "ts", "id", "y")
    val cr = TimeSeries.kpss(const, "g", "ts", "id", "y", maxLag = 4)
      .collect().head
    assert(cr.isNullAt(2) && cr.isNullAt(3))
  }

  test("rmst: head segment, stepped areas, dead tail contributes 0") {
    import spark.implicits._
    // S = 1 on [0,2), ~0.5 on [2,5), ~0.25 on [5,8), 0 from t=8;
    // tau = 10 -> 2.0 + 1.5 + 0.75 + 0 days.
    val km = Seq(
      ("g", 2L, java.lang.Long.valueOf(-693147L)),
      ("g", 5L, java.lang.Long.valueOf(-1386294L)),
      ("g", 8L, null.asInstanceOf[java.lang.Long]))
      .toDF("cohort", "t", "log_surv_mnat")
    val r = TimeSeries.rmst(km, "cohort", tau = 10L).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2)) ==
      (("g", 10L, 4250000L)))
  }

  test("pettitt: level shift found at the true split, ties earliest") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // a: 1,2 | 10,11 -> U = (3, 4, 3), K = 4 at t = 2 (by hand:
    // U_2 = sum over i<=2,j>2 of sign = 4).
    // c: constant -> every U_t = 0, earliest tie t = 1, K = 0.
    val df = (Seq(1.0, 2.0, 10.0, 11.0).zipWithIndex.map { case (v, i) =>
      ("a", at(i.toLong), i.toLong, v) } ++
      (0 until 3).map(i => ("c", at(i.toLong), i.toLong, 7.0)))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.pettitt(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((4L, 2L, 4L, 4L)))
    assert(got("c") == ((3L, 1L, 0L, 0L)))
  }

  test("turningPoint: zig-zag census and exact z") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // a: 1,3,2,4,1 -> turning at i=2,3,4 -> T=3; d = 3, var =
    // 51/90 -> z = sqrt(90/51) = 1.3284217... -> 1328422.
    // c: constant (ties never turn) -> T=0, d=-2 -> z < 0.
    val df = (Seq(1.0, 3.0, 2.0, 4.0, 1.0).zipWithIndex.map {
      case (v, i) => ("a", at(i.toLong), i.toLong, v) } ++
      (0 until 3).map(i => ("c", at(i.toLong), i.toLong, 7.0)))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.turningPoint(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((5L, 3L, 1328422L)))
    assert(got("c")._2 == 0L && got("c")._3 < 0L)
  }

  test("coxStuart: fold pairs, tie drop, exact binomial z") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // a: 1..6 all rising: pairs (1,4)(2,5)(3,6) -> S+ = 3 of 3,
    // z = 3/sqrt(3) -> 1732051.
    // b: odd n drops the middle: 1,2,9,4,3 -> pairs (1,4),(2,3)
    // both rise -> S+ = 2 of 2, z = sqrt(2) -> 1414214.
    // t: single tied pair -> n_eff 0, NULL z.
    val df = ((1 to 6).map(i => ("a", at(i.toLong), i.toLong,
      i.toDouble)) ++
      Seq(1.0, 2.0, 9.0, 4.0, 3.0).zipWithIndex.map { case (v, i) =>
        ("b", at(i.toLong), i.toLong, v) } ++
      Seq(("t", at(0L), 0L, 5.0), ("t", at(1L), 1L, 5.0)))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.coxStuart(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("a") == ((6L, 3L, 3L, 1732051L)))
    assert(got("b") == ((5L, 2L, 2L, 1414214L)))
    assert(got("t") == ((2L, 0L, 0L, null)))
  }

  test("permutationEntropy: monotone zero, alternating ln 2") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // a: strictly rising -> one pattern, H = 0.
    // z: 1,3,2,4,3,5 -> codes alternate between two patterns 2/2 ->
    // H = ln 2 = 0.693147 (per-cell micro terms replayed by hand).
    val df = ((1 to 5).map(i => ("a", at(i.toLong), i.toLong,
      i.toDouble)) ++
      Seq(1.0, 3.0, 2.0, 4.0, 3.0, 5.0).zipWithIndex.map {
        case (v, i) => ("z", at(i.toLong), i.toLong, v) })
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.permutationEntropy(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((3L, 1L, 0L)))
    assert(got("z") == ((4L, 2L, 693147L)))
  }

  test("spectralEntropy: pure tone 0, two equal bins ln 2") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // a: alternating +-1 over 8 samples -> all energy in the
    // Nyquist bin (k=4; the other bins cancel EXACTLY because the
    // quantized cos/sin at these angles are exact) -> H = 0.
    // z: 3,-1,-1,-1 repeated -> equal power in k=2 and k=4
    // (C = 8 both, a = 1, b = 2a construction) -> H = ln 2.
    val alt = (0 until 8).map(i => ("a", at(i.toLong), i.toLong,
      if (i % 2 == 0) 1.0 else -1.0))
    val two = (0 until 8).map(i => ("z", at(i.toLong), i.toLong,
      if (i % 4 == 0) 3.0 else -1.0))
    // keyCol "k" is rejected (collides with the frequency column).
    val df = (alt ++ two).toDF("g", "ts", "id", "v")
    intercept[IllegalArgumentException] {
      TimeSeries.spectralEntropy(df.withColumnRenamed("g", "K"),
        "K", "ts", "id", "v", maxK = 4)
    }
    val got = TimeSeries.spectralEntropy(df, "g", "ts", "id", "v",
        maxK = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((8L, 1L, 0L)))
    assert(got("z") == ((8L, 2L, 693147L)))
  }

  test("sampleEntropy: regular zero, one broken match ln 2, NULLs") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // c: constant -> every pair matches at both lengths: B = A = 3
    // (C(3,2) template pairs), SampEn = 0.
    // g: 1,2,3,4,20 with r = 1: templates (1,2,3),(2,3,4),(3,4,20);
    // (t1,t2) matches through length 3, (t2,t3) only through
    // length 2 -> B = 2, A = 1 -> ln 2.
    // s: 2 samples -> no template, B = 0 -> NULL.
    val df = ((0 until 5).map(i => ("c", at(i.toLong), i.toLong, 5.0)) ++
      Seq(1.0, 2.0, 3.0, 4.0, 20.0).zipWithIndex.map { case (v, i) =>
        ("g", at(i.toLong), i.toLong, v) } ++
      (0 until 2).map(i => ("s", at(i.toLong), i.toLong, 1.0)))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.sampleEntropy(df, "k", "ts", "id", "v",
        rMilli = 1000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("c") == ((5L, 3L, 3L, 0L)))
    assert(got("g") == ((5L, 2L, 1L, 693147L)))
    assert(got("s") == ((2L, 0L, 0L, null)))
  }

  test("bartelsRank: monotone series RVN = 0.6, constant NULL") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    // a: 1,2,3,4 -> ranks 1..4: num = 3, den = 5 -> RVN = 0.6
    // (doubled midranks: 12·4 / 80 — doubling-invariant).
    val df = ((1 to 4).map(i => ("a", at(i.toLong), i.toLong,
      i.toDouble)) ++
      (0 until 3).map(i => ("c", at(i.toLong), i.toLong, 7.0)))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.bartelsRank(df, "k", "ts", "id", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2)))).toMap
    assert(got("a") == ((4L, 600000L)))
    assert(got("c") == ((3L, null)))
  }
}
