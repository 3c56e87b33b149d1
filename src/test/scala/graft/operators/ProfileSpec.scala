package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("columnProfile: completeness, cardinality, typed min/max in one pass") {
    val df = Seq(
      (1L, Some("b"), 10),
      (2L, None, 5),
      (3L, Some("a"), 10))
      .toDF("id", "s", "v")
    val got = Profile.columnProfile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getString(5)))).toMap
    assert(got("id") == ((3L, 0L, 3L, "1", "3")))
    assert(got("s") == ((3L, 1L, 2L, "a", "b")))
    // Typed min/max: numeric 5 < 10 even though "10" < "5" as strings.
    assert(got("v") == ((3L, 0L, 2L, "5", "10")))
  }

  test("columnProfile: all-NULL column profiles NULL min/max, 0 distinct") {
    val df = Seq(1, 2).toDF("x")
      .withColumn("dead", lit(null).cast("string"))
    val r = Profile.columnProfile(df, Seq("dead")).head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L && r.getLong(3) == 0L)
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("checkConstraints: NULL verdicts count as violations") {
    val df = Seq[(java.lang.Long, String)](
      (5L, "A"), (60L, "N"), (null, "X"))
      .toDF("q", "f")
    val got = Profile.checkConstraints(df, Seq(
        "q_le_50" -> (col("q") <= 50), // NULL q -> violation
        "f_domain" -> col("f").isin("A", "N")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "q_le_50" -> ((3L, 2L)),   // 60 fails, NULL fails
      "f_domain" -> ((3L, 1L)))) // X fails
  }

  test("histogramDrift: one-sided buckets zero-fill, exact micro deltas") {
    val old = Seq(0, 0, 0, 1).toDF("bucket")      // 75% / 25%
    val neu = Seq(0, 1, 1, 2).toDF("bucket")      // 25% / 50% / 25%
    val got = Profile.histogramDrift(old, neu, "bucket")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got(0) == ((3L, 1L, 750000L, 250000L, 500000L)))
    assert(got(1) == ((1L, 2L, 250000L, 500000L, 250000L)))
    // Bucket 2 exists only in the new snapshot: old side zero-fills.
    assert(got(2) == ((0L, 1L, 0L, 250000L, 250000L)))
  }

  test("fkViolations: dangling keys surface, NULL fks are not violations") {
    val fact = Seq[(java.lang.Long, String)](
      (1L, "ok"), (7L, "dangling"), (null, "absent"))
      .toDF("fk", "tag")
    val dim = Seq(1L, 2L).toDF("pk")
    val got = Profile.fkViolations(fact, "fk", dim, "pk")
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("dangling"))
  }

  test("cohenKappa: perfect agreement 1e6, independence ~0, NULLs drop") {
    import spark.implicits._
    val perfect = Seq((true, true), (false, false), (true, true))
      .toDF("a", "b")
    val p = Profile.cohenKappa(perfect, "a", "b").head()
    assert(p.getAs[Long]("kappa_micro") == 1000000L)
    // A textbook 2x2: n11=20 n10=5 n01=10 n00=15 -> po=.7,
    // pe=(25*30+25*20)/2500=.5 -> kappa=.4.
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(15)((false, false))
    val k = Profile.cohenKappa(rows.toDF("a", "b"), "a", "b").head()
    assert(k.getAs[Long]("po_micro") == 700000L)
    assert(k.getAs[Long]("pe_micro") == 500000L)
    assert(k.getAs[Long]("kappa_micro") == 400000L)
    // NULL verdicts are unrated, not a class.
    val withNull = Seq[(java.lang.Boolean, java.lang.Boolean)](
      (true, true), (null, true), (false, false)).toDF("a", "b")
    assert(Profile.cohenKappa(withNull, "a", "b").head().getAs[Long]("n") == 2L)
  }

  test("cohenKappa: degenerate all-one-class table yields NULL, not 0/0") {
    import spark.implicits._
    val g = Profile.cohenKappa(
      Seq((true, true), (true, true)).toDF("a", "b"), "a", "b").head()
    assert(g.isNullAt(g.fieldIndex("kappa_micro")))
    assert(g.getAs[Long]("po_micro") == 1000000L)
  }

  test("benford: exact-uniform digits score the analytic chi2; zeros drop") {
    import spark.implicits._
    // 9 rows, one per leading digit (10..90): n_d = 1 for every d.
    // chi2 = sum_d (1 - 9 p_d)^2 / (9 p_d), micro-quantized per term.
    val df = ((1 to 9).map(d => ("u", d * 10L)) :+ ("u", 0L) :+ ("u", -5L))
      .toDF("g", "v")
    val got = Profile.benford(df, "g", "v").head()
    assert(got.getAs[Long]("n") == 9L)
    val want = (1 to 9).map { d =>
      val e = 9.0 * Profile.benfordP(d)
      math.round(1e6 * ((1.0 - e) * (1.0 - e) / e))
    }.sum
    assert(got.getAs[Long]("chi2_micro") == want)
    // A perfectly Benford-weighted sample scores lower than uniform.
    val ben = (1 to 9).flatMap(d =>
      Seq.fill(math.round(1000 * Profile.benfordP(d)).toInt)(("b", d * 10L)))
      .toDF("g", "v")
    val benChi = Profile.benford(ben, "g", "v").head().getAs[Long]("chi2_micro")
    assert(benChi < got.getAs[Long]("chi2_micro"))
  }

  test("fdCensus: holds/violations, modal share, NULL is a real value") {
    import spark.implicits._
    val df = Seq(
      ("s1", "en"), ("s1", "en"), ("s1", "en"),          // FD holds
      ("s2", "en"), ("s2", "de"), ("s2", "en"),          // violated, en 2/3
      ("s3", "fr"), ("s3", null))                        // NULL breaks the FD
      .toDF("src", "lang")
    val got = Profile.fdCensus(df, "src", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(got("s1") == ((3L, 1L, "en", 1000000L, true)))
    assert(got("s2") == ((3L, 2L, "en", 666667L, false)))
    assert(got("s3")._2 == 2L && !got("s3")._5)
  }

  test("embeddingHealth: collapsed dim flagged, stats exact") {
    import spark.implicits._
    // dim 0 varies (-1, 1), dim 1 is constant 0.5 (no variance, not
    // near zero), dim 2 is all ~0 (near-zero AND collapsed).
    val vecs = Seq(
      Array(-1.0f, 0.5f, 0.0f),
      Array(1.0f, 0.5f, 0.0f))
      .map(Tuple1(_)).toDF("v")
    val got = Profile.embeddingHealth(vecs, "v")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got(0) == ((0L, 1000000L, 0L, false)))   // mean 0, std 1e6
    assert(got(1) == ((500000L, 0L, 0L, true)))     // constant: collapsed
    assert(got(2) == ((0L, 0L, 1000000L, true)))    // zero: near-zero too
  }

  test("correlationCensus: exact ±1 on perfect lines, NULL on constants, " +
      "pairwise-complete NULLs") {
    import spark.implicits._
    val df = Seq(
      (1L, 2L, 3L, Option.empty[Long]),
      (2L, 4L, 2L, Some(5L)),
      (3L, 6L, 1L, Some(5L)))
      .toDF("a", "b", "c", "d")
    val got = Profile.correlationCensus(df, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) null else r.getLong(3)))).toMap
    assert(got(("a", "b")) == ((3L, 1000000L)))   // y = 2x exactly
    assert(got(("a", "c")) == ((3L, -1000000L)))  // y = 4 − x
    // d is NULL in row 1: its pairs use rows 2–3 only, where d is
    // constant → den 0 → NULL, with the pairwise n recorded.
    assert(got(("a", "d")) == ((2L, null)))
    assert(got(("c", "d")) == ((2L, null)))
  }

  test("correlationCensus: hand-computed mid-range r with quantization") {
    import spark.implicits._
    // x=(1,2,3), y=(1,3,2) → r = 3/√36 = 0.5 exactly; the 0.01-step
    // twin with scale=100 quantizes to the same integers.
    val df = Seq((1L, 1L), (2L, 3L), (3L, 2L)).toDF("x", "y")
    val r1 = Profile.correlationCensus(df, Seq("x", "y")).head.getLong(3)
    assert(r1 == 500000L)
    val dfQ = Seq((0.01, 0.01), (0.02, 0.03), (0.03, 0.02)).toDF("x", "y")
    val r2 = Profile.correlationCensus(dfQ, Seq("x", "y"), scale = 100.0)
      .head.getLong(3)
    assert(r2 == 500000L)
  }

  test("mutualInfo: ln2 on identity, 0 on independence, NULL nmi on " +
      "constant marginals") {
    import spark.implicits._
    val ident = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y"))
      .toDF("a", "b")
    val gi = Profile.mutualInfo(ident, "a", "b").head
    assert(gi.getLong(0) == 4L && gi.getLong(1) == 2L)
    assert(gi.getLong(2) == 693147L)                 // MI = ln 2
    assert(gi.getLong(3) == 693147L && gi.getLong(4) == 693147L)
    assert(gi.getLong(5) == 1000000L)                // NMI = 1
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val gIdp = Profile.mutualInfo(indep, "a", "b").head
    assert(gIdp.getLong(2) == 0L && gIdp.getLong(5) == 0L)
    val const = Seq(("k", "p"), ("k", "q")).toDF("a", "b")
    val gc = Profile.mutualInfo(const, "a", "b").head
    assert(gc.getLong(2) == 0L && gc.getLong(3) == 0L && gc.isNullAt(5))
  }

  test("mutualInfo: NULL is a category, not a dropped row") {
    import spark.implicits._
    val df = Seq((Some("x"), "p"), (Option.empty[String], "q"))
      .toDF("a", "b")
    val g = Profile.mutualInfo(df, "a", "b").head
    assert(g.getLong(0) == 2L && g.getLong(1) == 2L)
    assert(g.getLong(2) == 693147L && g.getLong(5) == 1000000L)
  }

  test("chiSquareIndependence: perfect association = N·φ², " +
      "independence = 0, degenerate table NULL") {
    import spark.implicits._
    val ident = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y"))
      .toDF("a", "b")
    val gi = Profile.chiSquareIndependence(ident, "a", "b").head
    assert(gi.getLong(0) == 4L && gi.getLong(3) == 1L)
    assert(gi.getLong(4) == 4000000L)   // χ² = N for a perfect 2×2
    assert(gi.getLong(5) == 1000000L)   // Cramér's V = 1
    val indep = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val gIdp = Profile.chiSquareIndependence(indep, "a", "b").head
    assert(gIdp.getLong(4) == 0L && gIdp.getLong(5) == 0L)
    val const = Seq(("k", "p"), ("k", "q")).toDF("a", "b")
    val gc = Profile.chiSquareIndependence(const, "a", "b").head
    assert(gc.getLong(3) == 0L && gc.isNullAt(4) && gc.isNullAt(5))
  }

  test("concentration: Gini/HHI hand values — equality 0, extreme " +
      "(n−1)/n, zero total NULL") {
    import spark.implicits._
    val df = Seq(
      ("A", "s1", 1L), ("A", "s2", 1L), ("A", "s3", 2L), // G = 1/6
      ("B", "s1", 2L), ("B", "s2", 2L),                  // equal → 0
      ("C", "s1", 0L), ("C", "s2", 0L), ("C", "s3", 9L), // → 2/3
      ("Z", "s1", 0L))                                   // total 0
      .toDF("g", "id", "v")
    val got = Profile.concentration(df, "g", "id", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3),
          if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("A") == ((3L, 4L, 166667L, 375000L)))  // HHI = 6/16
    assert(got("B") == ((2L, 4L, 0L, 500000L)))
    assert(got("C") == ((3L, 9L, 666667L, 1000000L)))
    assert(got("Z") == ((1L, 0L, null, null)))
  }

  test("powerLawAlpha: CSN MLE from micro-nat terms, sub-xmin excluded") {
    import spark.implicits._
    // xmin = 2: the value 1 is excluded; terms ln(3/1.5) and
    // ln(6/1.5) quantize to 693147 and 1386294 micro-nats, so
    // α_micro = 1e6 + round(2e12 / 2079441) = 1961797.
    val df = Seq(1L, 3L, 6L).toDF("x")
    val r = Profile.powerLawAlpha(df, "x", 2L).head()
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 2079441L)
    assert(r.getLong(2) == 1961797L)
  }

  test("powerLawAlpha: empty tail yields NULL α, xmin must be ≥ 1") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("x")
    val r = Profile.powerLawAlpha(df, "x", 100L).head()
    assert(r.getLong(0) == 0L && r.isNullAt(2))
    intercept[IllegalArgumentException] {
      Profile.powerLawAlpha(df, "x", 0L)
    }
  }

  test("conformalCoverage: hand-sized split matches the (n+1) rule") {
    // Calibration scores 1..9 (n = 9), alpha = 0.2: target rank =
    // ceil(10 * 0.8) = 8 -> qhat = 8 (micro 8e6). Held-out {5, 9}:
    // only 5 <= 8 -> coverage 1/2.
    val rows = (1L to 9L).map(i => (i, "g", i.toDouble, true)) ++
      Seq((100L, "g", 5.0, false), (101L, "g", 9.0, false)) ++
      // tiny group: n = 2, target = ceil(3 * 0.8) = 3 > 2 -> unbounded
      // band, everything covered
      Seq((1L, "t", 1.0, true), (2L, "t", 2.0, true),
        (3L, "t", 99.0, false))
    val df = rows.toDF("id", "grp", "score", "is_calib")
    val got = Profile.conformalCoverage(df, "id", "grp", "score",
      "is_calib", alpha = 0.2).collect()
      .map(r => r.getAs[String]("grp") -> r).toMap
    val g = got("g")
    assert(g.getAs[Long]("n_calib") == 9L)
    assert(g.getAs[Long]("qhat_micro") == 8000000L)
    assert(g.getAs[Long]("n_covered") == 1L)
    assert(g.getAs[Long]("coverage_micro") == 500000L)
    val t = got("t")
    assert(t.isNullAt(t.fieldIndex("qhat_micro")))
    assert(t.getAs[Long]("n_covered") == 1L)
    assert(t.getAs[Long]("coverage_micro") == 1000000L)
  }

  test("ksTest: separation is 1, interleave is 1/2, identical is 0") {
    val df = Seq(
      ("sep", 1.0, true), ("sep", 2.0, true),
      ("sep", 3.0, false), ("sep", 4.0, false),
      ("mix", 1.0, true), ("mix", 3.0, true),
      ("mix", 2.0, false), ("mix", 4.0, false),
      ("same", 1.0, true), ("same", 1.0, false),
      ("one", 5.0, true) // empty B side -> NULL
    ).toDF("g", "v", "side")
    val got = Profile.ksTest(df, "g", "v", "side").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(got("sep").getAs[Long]("d_micro") == 1000000L)
    assert(got("mix").getAs[Long]("d_micro") == 500000L)
    assert(got("same").getAs[Long]("d_micro") == 0L)
    assert(got("one").isNullAt(got("one").fieldIndex("d_micro")))
  }

  test("psi: identical sides score 0; disjoint bins score 2*0.5*ln(3)") {
    val df = Seq(
      ("id", 1L, true), ("id", 1L, false), ("id", 2L, true),
      ("id", 2L, false),
      // disjoint: A all in bin 1, B all in bin 2; +1 smoothing with
      // B = 2 bins gives p = 3/4 vs 1/4 each way:
      // psi = 0.5*ln(3) + 0.5*ln(3) = 1.098612
      ("dj", 1L, true), ("dj", 1L, true),
      ("dj", 2L, false), ("dj", 2L, false)
    ).toDF("g", "bin", "side")
    val got = Profile.psi(df, "g", "bin", "side").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(got("id").getAs[Long]("psi_micro") == 0L)
    assert(got("dj").getAs[Long]("n_bins") == 2L)
    assert(got("dj").getAs[Long]("psi_micro") == 1098612L)
  }

  test("bhSelect: textbook step-up — sub-threshold rank rescued by a " +
      "later qualifying rank") {
    // m = 5, alpha = 0.25: thresholds i*alpha/m = .05, .10, .15, .20,
    // .25. p = (.04, .12, .14, .30, .90): rank 1 qualifies (.04<=.05),
    // rank 2 does NOT (.12>.10), rank 3 DOES (.14<=.15) -> cutoff 3,
    // so ranks 1..3 are all discoveries including the .12.
    val df = Seq((1L, 40000L), (2L, 120000L), (3L, 140000L),
      (4L, 300000L), (5L, 900000L)).toDF("id", "p")
      .withColumn("g", lit("a"))
    val got = Profile.bhSelect(df, "g", "id", "p", alphaMicro = 250000L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Boolean]("discovery")).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> true,
      4L -> false, 5L -> false))
  }

  test("neymanAllocation: allocation tracks dispersion and sums to budget") {
    // stratum "hi": values 0/100 (huge spread); "lo": 49/51 (tiny);
    // "flat": constant -> weight 0, alloc 0, still present.
    val df = Seq(("hi", 0L), ("hi", 100L), ("lo", 49L), ("lo", 51L),
      ("flat", 7L), ("flat", 7L)).toDF("s", "v")
    val got = Sampling.neymanAllocation(df, "s", "v", budget = 100L)
      .collect().map(r => r.getAs[String]("s") ->
        (r.getAs[Long]("weight"), r.getAs[Long]("alloc"))).toMap
    assert(got("flat") == (0L, 0L))
    assert(got("hi")._2 + got("lo")._2 == 100L)
    assert(got("hi")._2 > got("lo")._2 * 10)
  }

  test("wasserstein1: point masses a unit apart score exactly 1") {
    val df = Seq(
      ("shift", 0.0, true), ("shift", 1.0, false),     // W1 = 1
      ("same", 3.0, true), ("same", 3.0, false),       // single value: 0
      ("half", 0.0, true), ("half", 0.0, false),       // A: {0,0}, B: {0,2}
      ("half", 0.0, true), ("half", 2.0, false),       // -> W1 = 1
      ("one", 5.0, true)                                // empty B: NULL
    ).toDF("g", "v", "side")
    val got = Profile.wasserstein1(df, "g", "v", "side").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(got("shift").getAs[Long]("w1_micro") == 1000000L)
    assert(got("same").getAs[Long]("w1_micro") == 0L)
    assert(got("half").getAs[Long]("w1_micro") == 1000000L)
    assert(got("one").isNullAt(got("one").fieldIndex("w1_micro")))
  }

  test("mannWhitney: doubled midranks, tie-corrected z, rank-biserial") {
    // A = {1,2,3}, B = {2,3,4}: midranks 1, 2.5, 2.5, 4.5, 4.5, 6;
    // R_a = 8 so doubled U = 2*(8-6) = 4; ties Σ(c³−c) = 12;
    // σ² = 9/12·(7 − 12/30) = 4.95; z = −5/(2√4.95); rbc = 1 − 4/9.
    val df = Seq(
      ("g", 1.0, true), ("g", 2.0, true), ("g", 3.0, true),
      ("g", 2.0, false), ("g", 3.0, false), ("g", 4.0, false),
      ("tied", 5.0, true), ("tied", 5.0, false),   // all tied: σ = 0
      ("empty", 1.0, true)                          // one-sided: NULL
    ).toDF("g", "v", "side")
    val got = Profile.mannWhitney(df, "g", "v", "side").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(got("g").getAs[Long]("u2_a") == 4L)
    assert(got("g").getAs[Long]("z_micro") == -1123666L)
    assert(got("g").getAs[Long]("rbc_micro") == 555556L)
    assert(got("tied").getAs[Long]("u2_a") == 1L) // U = ½ (one tie pair)
    assert(got("tied").isNullAt(got("tied").fieldIndex("z_micro")))
    assert(got("empty").isNullAt(got("empty").fieldIndex("u2_a")))
  }

  test("mcnemar: discordant cells only, continuity correction, NULL on agreement") {
    // 3 A-only-correct, 1 B-only-correct: χ² = (|3−1|−1)²/4 = 0.25.
    val rows =
      Seq.fill(5)(("x", true, true)) ++
        Seq.fill(3)(("x", true, false)) ++ Seq(("x", false, true)) ++
        Seq.fill(2)(("x", false, false)) ++
        Seq(("agree", true, true), ("agree", false, false))
    val got = Profile.mcnemar(rows.toDF("g", "a", "b"), "g", "a", "b")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(got("x").getAs[Long]("n") == 11L)
    assert(got("x").getAs[Long]("n01") == 3L)
    assert(got("x").getAs[Long]("n10") == 1L)
    assert(got("x").getAs[Long]("chi2_micro") == 250000L)
    assert(got("agree").isNullAt(got("agree").fieldIndex("chi2_micro")))
  }

  test("welchT: textbook unequal-variance pair, degenerate guards") {
    // A = {1,2,3} (s²=1), B = {2,4,6,8} (s²=20/3):
    // t = −3/√2, Welch df = 4/(1/18 + 25/27) ≈ 4.0755.
    val df = Seq(
      ("g", 1.0, true), ("g", 2.0, true), ("g", 3.0, true),
      ("g", 2.0, false), ("g", 4.0, false), ("g", 6.0, false),
      ("g", 8.0, false),
      ("tiny", 1.0, true), ("tiny", 2.0, false),   // n < 2: NULL
      ("const", 3.0, true), ("const", 3.0, true),  // zero s.e.: NULL
      ("const", 3.0, false), ("const", 3.0, false)
    ).toDF("g", "v", "side")
    val got = Profile.welchT(df, "g", "v", "side").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(got("g").getAs[Long]("t_micro") == -2121320L)
    assert(got("g").getAs[Long]("df_micro") == 4075472L)
    assert(got("tiny").isNullAt(got("tiny").fieldIndex("t_micro")))
    assert(got("const").isNullAt(got("const").fieldIndex("t_micro")))
  }

  test("jsd: zero on identical histograms, symmetric smoothed split") {
    // "same": identical bins both sides -> every term 0.
    // "split": A all in bin 1, B all in bin 2 (1 row each): smoothed
    // pa/pb are 2/3 vs 1/3 in each bin, per-bin term 28317 micro.
    val df = Seq(
      ("same", 1L, true), ("same", 1L, false),
      ("same", 2L, true), ("same", 2L, false),
      ("split", 1L, true), ("split", 2L, false),
      ("one", 1L, true)
    ).toDF("g", "bin", "side")
    val got = Profile.jsd(df, "g", "bin", "side").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(got("same").getAs[Long]("jsd_micro") == 0L)
    assert(got("split").getAs[Long]("n_bins") == 2L)
    assert(got("split").getAs[Long]("jsd_micro") == 56634L)
    assert(got("one").isNullAt(got("one").fieldIndex("jsd_micro")))
  }

  test("isotonicFit: PAV pools the violating pair, monotone output") {
    // rates 0.2, 0.8, 0.5: bins 2+3 pool to (4+5)/(5+10) = 0.6
    // -> fit 0.2, 0.6, 0.6; the monotone group is returned verbatim.
    def rows(g: String, bin: Long, pos: Int, neg: Int) =
      Seq.fill(pos)((g, bin, true)) ++ Seq.fill(neg)((g, bin, false))
    val df = (rows("s", 1L, 1, 4) ++ rows("s", 2L, 4, 1) ++
      rows("s", 3L, 5, 5) ++
      rows("mono", 1L, 0, 2) ++ rows("mono", 2L, 1, 1))
      .toDF("g", "bin", "y")
    val got = Profile.isotonicFit(df, "g", "bin", "y").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("bin")) -> r).toMap
    assert(got(("s", 1L)).getAs[Long]("rate_micro") == 200000L)
    assert(got(("s", 1L)).getAs[Long]("fit_micro") == 200000L)
    assert(got(("s", 2L)).getAs[Long]("rate_micro") == 800000L)
    assert(got(("s", 2L)).getAs[Long]("fit_micro") == 600000L)
    assert(got(("s", 3L)).getAs[Long]("fit_micro") == 600000L)
    assert(got(("mono", 1L)).getAs[Long]("fit_micro") == 0L)
    assert(got(("mono", 2L)).getAs[Long]("fit_micro") == 500000L)
  }

  test("krippendorffAlpha: hand 2-rater table, all-agree NULL, singles excluded") {
    // A,D perfect agree; B split; C perfect agree; E single-rated.
    // Do-sum = 2e6 (unit B), labels pos=5/neg=3 over pairable n=8:
    // De = 64 - 34 = 30; alpha = 1 - 7*2/30 = 8/15.
    val rows = Seq(
      ("g", "A", "r1", "pos"), ("g", "A", "r2", "pos"),
      ("g", "B", "r1", "pos"), ("g", "B", "r2", "neg"),
      ("g", "C", "r1", "neg"), ("g", "C", "r2", "neg"),
      ("g", "D", "r1", "pos"), ("g", "D", "r2", "pos"),
      ("g", "E", "r1", "pos"),
      ("same", "X", "r1", "a"), ("same", "X", "r2", "a"),
      ("same", "Y", "r1", "a"), ("same", "Y", "r2", "a"))
      .toDF("g", "item", "rater", "label")
    val got = Profile.krippendorffAlpha(rows, "g", "item", "label")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(got("g").getAs[Long]("n_units") == 4L)
    assert(got("g").getAs[Long]("n_ratings") == 8L)
    assert(got("g").getAs[Long]("alpha_micro") == 533333L)
    assert(got("same").isNullAt(got("same").fieldIndex("alpha_micro")))
  }

  test("majorityVote: winner share, lexical tie-break, unanimity flag") {
    val rows = Seq(
      ("g", 1L, "pos"), ("g", 1L, "pos"), ("g", 1L, "neg"),
      ("g", 2L, "pos"), ("g", 2L, "neg"),   // tie: 'neg' < 'pos'
      ("g", 3L, "pos"))
      .toDF("g", "item", "label")
    val got = Profile.majorityVote(rows, "g", "item", "label")
      .collect().map(r => r.getAs[Long]("item") -> r).toMap
    assert(got(1L).getAs[String]("top_label") == "pos")
    assert(got(1L).getAs[Long]("share_micro") == 666667L)
    assert(!got(1L).getAs[Boolean]("unanimous"))
    assert(got(2L).getAs[String]("top_label") == "neg")
    assert(got(2L).getAs[Long]("share_micro") == 500000L)
    assert(got(3L).getAs[Boolean]("unanimous"))
  }

  test("cuped: perfectly-correlated covariate zeroes the adjusted diff") {
    // y = 10x exactly: theta = 10, rho^2 = 1, adjusted diff = 0.
    val df = Seq(
      ("g", 10.0, 1.0, true), ("g", 20.0, 2.0, true),
      ("g", 30.0, 3.0, false), ("g", 40.0, 4.0, false),
      ("solo", 5.0, 1.0, true),                     // one-sided
      ("flatx", 1.0, 7.0, true), ("flatx", 9.0, 7.0, false))
      .toDF("g", "y", "x", "side")
    val got = Profile.cuped(df, "g", "y", "x", "side").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(got("g").getAs[Long]("theta_micro") == 10000000L)
    assert(got("g").getAs[Long]("diff_micro") == -20000000L)
    assert(got("g").getAs[Long]("adj_diff_micro") == 0L)
    assert(got("g").getAs[Long]("var_reduction_micro") == 1000000L)
    assert(got("solo").isNullAt(got("solo").fieldIndex("diff_micro")))
    // zero covariate variance: raw diff reports, adjustment doesn't
    assert(got("flatx").getAs[Long]("diff_micro") == -8000000L)
    assert(got("flatx").isNullAt(got("flatx").fieldIndex("theta_micro")))
  }

  test("diffInDiff: hand 2x2, starved cell reports NULL contrast") {
    val df = Seq(
      // g: treat 1.5 -> 4.0 (td 2.5), control 1.0 -> 2.0 (cd 1.0)
      ("g", 1.0, true, false), ("g", 2.0, true, false),
      ("g", 4.0, true, true),
      ("g", 1.0, false, false),
      ("g", 2.0, false, true), ("g", 2.0, false, true),
      // h: control never observed post — did undefined
      ("h", 1.0, true, false), ("h", 3.0, true, true),
      ("h", 1.0, false, false))
      .toDF("g", "y", "treat", "post")
    val got = Profile.diffInDiff(df, "g", "y", "treat", "post")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(got("g").getAs[Long]("treat_delta_micro") == 2500000L)
    assert(got("g").getAs[Long]("control_delta_micro") == 1000000L)
    assert(got("g").getAs[Long]("did_micro") == 1500000L)
    assert(got("h").getAs[Long]("treat_delta_micro") == 2000000L)
    assert(got("h").getAs[Long]("n_cpost") == 0L)
    assert(got("h").isNullAt(got("h").fieldIndex("control_delta_micro")))
    assert(got("h").isNullAt(got("h").fieldIndex("did_micro")))
  }

  test("sampleRatioCheck: balanced passes, 90/10 flags, NULL side dropped") {
    val bal = (1 to 10).map(i => ("bal", Some(true))) ++
      (1 to 10).map(i => ("bal", Some(false))) ++
      Seq(("bal", None)) ++
      (1 to 90).map(i => ("skew", Some(true))) ++
      (1 to 10).map(i => ("skew", Some(false)))
    val df = bal.toDF("g", "side")
    val got = Profile.sampleRatioCheck(df, "g", "side").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(got("bal").getAs[Long]("n_a") == 10L)
    assert(got("bal").getAs[Long]("n_b") == 10L)
    assert(got("bal").getAs[Long]("chi2_micro") == 0L)
    assert(!got("bal").getAs[Boolean]("srm"))
    // (90-50)^2/50 + (10-50)^2/50 = 64
    assert(got("skew").getAs[Long]("chi2_micro") == 64000000L)
    assert(got("skew").getAs[Boolean]("srm"))
  }

  test("sturgesHistogram: bit-length bins, exact integer assignment, hi clamps") {
    val df = ((0 to 7).map(i => ("g", i.toDouble)) ++
      Seq(("flat", 5.0), ("flat", 5.0))).toDF("g", "v")
    val got = Profile.sturgesHistogram(df, "g", "v").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("bin")) ->
        ((r.getAs[Long]("n_bins"), r.getAs[Long]("n_rows")))).toMap
    // n = 8 -> bins = len("1000") = 4; (4i) div 7 pairs them up;
    // i = 7 (the max) clamps into bin 3.
    assert(got == Map(
      ("g", 0L) -> ((4L, 2L)), ("g", 1L) -> ((4L, 2L)),
      ("g", 2L) -> ((4L, 2L)), ("g", 3L) -> ((4L, 2L)),
      ("flat", 0L) -> ((2L, 2L))))
  }

  test("wilsonInterval: mirrors the literal-z float chain, sane at k=0") {
    val df = ((1 to 50).map(_ => ("g", true)) ++
      (1 to 50).map(_ => ("g", false)) ++
      (1 to 10).map(_ => ("zero", false))).toDF("g", "s")
    val got = Profile.wilsonInterval(df, "g", "s").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    val z = 1.959964; val z2 = z * z
    def bounds(k: Double, n: Double): (Long, Long) = {
      val p = k / n
      val denom = 1.0 + z2 / n
      val center = (p + z2 / (2.0 * n)) / denom
      val half = z * math.sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n) / denom
      (math.round(1e6 * (center - half)), math.round(1e6 * (center + half)))
    }
    val (lo, hi) = bounds(50.0, 100.0)
    assert(got("g").getAs[Long]("p_micro") == 500000L)
    assert(got("g").getAs[Long]("lo_micro") == lo)
    assert(got("g").getAs[Long]("hi_micro") == hi)
    val (lo0, hi0) = bounds(0.0, 10.0)
    assert(got("zero").getAs[Long]("k") == 0L)
    assert(got("zero").getAs[Long]("lo_micro") == lo0 && lo0 == 0L)
    assert(got("zero").getAs[Long]("hi_micro") == hi0 && hi0 > 0L)
  }

  test("lorenzBuckets: rank slices, exact shares, negatives quarantined") {
    val df = Seq(
      ("g", 1.0, 1L), ("g", 2.0, 2L), ("g", 3.0, 3L), ("g", 4.0, 4L),
      ("g", -1.0, 5L), // negative: excluded, counted
      ("z", 0.0, 6L), ("z", 0.0, 7L))
      .toDF("g", "v", "id")
    val got = Profile.lorenzBuckets(df, "g", "v", "id", buckets = 2)
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("bucket")) -> r)
      .toMap
    assert(got(("g", 1L)).getAs[Long]("n_rows") == 2L)
    assert(got(("g", 1L)).getAs[Long]("n_dropped") == 1L)
    assert(got(("g", 1L)).getAs[Long]("share_micro") == 300000L)
    assert(got(("g", 1L)).getAs[Long]("cum_share_micro") == 300000L)
    assert(got(("g", 2L)).getAs[Long]("share_micro") == 700000L)
    assert(got(("g", 2L)).getAs[Long]("cum_share_micro") == 1000000L)
    // all-zero group: buckets exist, shares are undefined
    assert(got(("z", 1L)).isNullAt(
      got(("z", 1L)).fieldIndex("share_micro")))
  }

  test("lorenzBuckets: all-negative group keeps its n_dropped row") {
    val df = Seq(
      ("neg", -1.0, 1L), ("neg", -2.0, 2L),
      ("ok", 1.0, 3L), ("ok", 3.0, 4L))
      .toDF("g", "v", "id")
    val got = Profile.lorenzBuckets(df, "g", "v", "id", buckets = 2)
      .collect()
    // the all-negative group emits exactly one spine row: NULL
    // bucket, zero n_rows, its drop count — never silently absent.
    val neg = got.filter(_.getAs[String]("g") == "neg")
    assert(neg.length == 1)
    assert(neg.head.isNullAt(neg.head.fieldIndex("bucket")))
    assert(neg.head.getAs[Long]("n_rows") == 0L)
    assert(neg.head.getAs[Long]("n_dropped") == 2L)
    assert(neg.head.isNullAt(neg.head.fieldIndex("share_micro")))
    val ok = got.filter(_.getAs[String]("g") == "ok")
    assert(ok.length == 2 && ok.forall(_.getAs[Long]("n_dropped") == 0L))
  }

  test("joinCardinality: exact product sum, NULL keys out, hot key named") {
    val left = Seq(Some("a"), Some("a"), Some("a"), Some("b"),
      Some("b"), Some("c"), None).toDF("k")
    val right = Seq(Some("a"), Some("a"), Some("b"), Some("d"), None)
      .toDF("k")
    val r = Profile.joinCardinality(left, "k", right, "k")
      .collect().head
    assert(r.getAs[Long]("n_left") == 6L)
    assert(r.getAs[Long]("n_right") == 4L)
    assert(r.getAs[Long]("matched_keys") == 2L)
    // a: 3*2 = 6, b: 2*1 = 2 -> 8; verified against the real join.
    // join_rows/top_contrib accumulate DECIMAL(38,0) (a BIGINT sum
    // would wrap at the hot-key scales this pre-flight exists to
    // warn on) and report as canonical decimal strings.
    assert(r.getAs[String]("join_rows") == "8")
    assert(r.getAs[String]("top_key") == "a")
    assert(r.getAs[String]("top_contrib") == "6")
    assert(left.join(right, Seq("k")).count() == 8L)
  }

  test("postStratifiedAte: stratum diffs, size weighting, one-arm drop") {
    // x: treat {10,20} vs ctrl {10} -> diff +5; y: treat {100} vs
    // ctrl {90,110} -> diff 0; z: treat-only -> dropped, counted.
    val df = Seq(
      ("x", true, 10.0), ("x", true, 20.0), ("x", false, 10.0),
      ("y", true, 100.0), ("y", false, 90.0), ("y", false, 110.0),
      ("z", true, 50.0))
      .toDF("s", "arm", "v")
    val r = Profile.postStratifiedAte(df, "arm", "s", "v")
      .collect().head
    assert(r.getAs[Long]("n_strata") == 3L)
    assert(r.getAs[Long]("n_strata_used") == 2L)
    assert(r.getAs[Long]("n_treat") == 3L)
    assert(r.getAs[Long]("n_ctrl") == 3L)
    assert(r.getAs[Long]("n_dropped_rows") == 1L)
    // ATE = (3·5e6 + 3·0) / 6 = 2.5 in micro.
    assert(r.getAs[Long]("ate_micro") == 2500000L)
  }

  test("minDetectableEffect: closed form, degenerate NULLs") {
    val df = Seq(
      ("g", true, true), ("g", true, false),
      ("g", false, true), ("g", false, false),
      ("h", true, true), ("h", false, true), // all success -> NULL
      ("i", true, true), ("i", true, false)) // one arm -> NULL
      .toDF("g", "arm", "y")
    val got = Profile.minDetectableEffect(df, "g", "arm", "y")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val expected = math.round(1e6 *
      ((1.959964 + 0.841621) *
        math.sqrt(0.5 * 0.5 * (1.0 / 2 + 1.0 / 2))))
    assert(got("g").getAs[Long]("p_micro") == 500000L)
    assert(got("g").getAs[Long]("mde_micro") == expected)
    assert(got("g").getAs[Long]("mde_rel_micro") ==
      math.round(1e6 * ((1.959964 + 0.841621) *
        math.sqrt(0.5 * 0.5 * (1.0 / 2 + 1.0 / 2))) / 0.5))
    assert(got("h").isNullAt(got("h").fieldIndex("mde_micro")))
    assert(got("i").isNullAt(got("i").fieldIndex("mde_micro")))
  }

  test("quantileTreatmentEffect: exact per-arm selections, one-arm group absent") {
    // treat = ctrl + 5 pointwise: every QTE is exactly +5.
    val rows = (1 to 10).flatMap(i => Seq(
      ("g", true, i + 5.0, i.toLong), ("g", false, i.toDouble, 100L + i))) ++
      Seq(("solo", true, 1.0, 999L))
    val df = rows.toDF("g", "arm", "v", "id")
    val got = Profile.quantileTreatmentEffect(df, "g", "arm", "v",
      "id", Seq(0.5, 0.9)).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Double]("q")) -> r)
      .toMap
    // type-1 selection: rank ceil(q·10) -> value 5 / 9 per arm.
    assert(got(("g", 0.5)).getAs[Double]("q_treat") == 10.0)
    assert(got(("g", 0.5)).getAs[Double]("q_ctrl") == 5.0)
    assert(got(("g", 0.5)).getAs[Long]("qte_micro") == 5000000L)
    assert(got(("g", 0.9)).getAs[Long]("qte_micro") == 5000000L)
    assert(!got.keys.exists(_._1 == "solo")) // no contrast, absent
  }

  test("offPolicyValue: hand IPS/SNIPS, zero-propensity quarantined") {
    val df = Seq(
      // matched, p = 0.5 -> weight 2, reward 2.0
      ("s", "buy", 2.0, 500000L, "buy"),
      // unmatched: counts in n, contributes no weight
      ("s", "view", 9.0, 250000L, "buy"),
      // matched, p = 0.25 -> weight 4, reward 1.0
      ("s", "buy", 1.0, 250000L, "buy"),
      // zero propensity: excluded, surfaces in n_bad
      ("s", "buy", 5.0, 0L, "buy"))
      .toDF("seg", "action", "reward", "p_micro", "target")
    val r = Profile.offPolicyValue(df, "seg", "action", "reward",
      "p_micro", "target").collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Long]("n_matched") == 2L)
    assert(r.getAs[Long]("n_bad") == 1L)
    // IPS = (2/0.5 + 1/0.25)/3 = 8/3; SNIPS = 8/(2+4) = 4/3.
    assert(r.getAs[Long]("ips_micro") == 2666667L)
    assert(r.getAs[Long]("snips_micro") == 1333333L)
  }

  test("alwaysValidTest: e-value formula replay, degenerate NULLs") {
    val df = (Seq.fill(60)(("g", true, true)) ++
      Seq.fill(40)(("g", true, false)) ++
      Seq.fill(40)(("g", false, true)) ++
      Seq.fill(60)(("g", false, false)) ++
      Seq.fill(3)(("allpos", true, true)) ++
      Seq.fill(3)(("allpos", false, true)))
      .toDF("g", "arm", "y")
    val got = Profile.alwaysValidTest(df, "g", "arm", "y", tau = 0.1)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    // Replay: d = 0.2, pooled 0.5, V = 0.25·0.02 = 0.005, τ² = 0.01.
    val t2 = 0.1 * 0.1
    val v = 0.5 * (1.0 - 0.5) * (1.0 / 100 + 1.0 / 100)
    val le = math.round(1e6 * (0.5 * math.log(v / (v + t2)) +
      0.2 * 0.2 * t2 / (2.0 * v * (v + t2))))
    assert(got("g").getAs[Long]("d_micro") == 200000L)
    assert(got("g").getAs[Long]("log_e_micro") == le)
    assert(got("g").getAs[Long]("p_always_micro") ==
      math.round(1e6 * math.min(1.0, math.exp(-le.toDouble / 1e6))))
    assert(got("g").getAs[Boolean]("significant") == (le >= 2995732L))
    assert(got("allpos").isNullAt(
      got("allpos").fieldIndex("log_e_micro")))
    assert(!got("allpos").getAs[Boolean]("significant"))
  }

  test("cochranQ: textbook 14/3, incomplete item dropped, unanimous NULL") {
    // G = (3,4,1), L = (2,2,1,3): Q = 2·(3·26 − 64)/(3·8 − 18) = 14/3.
    val rows = Seq(
      ("g", 1L, "a", true), ("g", 1L, "b", true), ("g", 1L, "c", false),
      ("g", 2L, "a", true), ("g", 2L, "b", true), ("g", 2L, "c", false),
      ("g", 3L, "a", false), ("g", 3L, "b", true), ("g", 3L, "c", false),
      ("g", 4L, "a", true), ("g", 4L, "b", true), ("g", 4L, "c", true),
      ("g", 5L, "a", true), // incomplete: only one verdict
      ("u", 9L, "a", true), ("u", 9L, "b", true)) // unanimous
      .toDF("g", "i", "t", "y")
    val got = Profile.cochranQ(rows, "g", "i", "t", "y")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val g = got("g")
    assert(g.getAs[Long]("k") == 3L)
    assert(g.getAs[Long]("n_items") == 4L)
    assert(g.getAs[Long]("n_dropped_items") == 1L)
    assert(g.getAs[Long]("q_micro") == 4666667L)
    assert(got("u").isNullAt(got("u").fieldIndex("q_micro")))
  }

  test("friedman: perfect agreement chi2 = 4 / W = 1, incomplete block dropped") {
    // Two blocks ranking a < b < c identically: chi2 = 4, W = 1.
    val rows = Seq(
      ("g", "b1", "a", 1.0), ("g", "b1", "b", 2.0), ("g", "b1", "c", 3.0),
      ("g", "b2", "a", 1.5), ("g", "b2", "b", 2.5), ("g", "b2", "c", 9.0),
      ("g", "b3", "a", 1.0)) // incomplete
      .toDF("g", "b", "t", "v")
    val r = Profile.friedman(rows, "g", "b", "t", "v")
      .collect().head
    assert(r.getAs[Long]("k") == 3L)
    assert(r.getAs[Long]("n_blocks") == 2L)
    assert(r.getAs[Long]("n_dropped_blocks") == 1L)
    assert(r.getAs[Long]("chi2_micro") == 4000000L)
    assert(r.getAs[Long]("w_micro") == 1000000L)
    // All-tied block set: denominator floor -> NULL.
    val tied = Seq(
      ("g", "b1", "a", 1.0), ("g", "b1", "b", 1.0),
      ("g", "b2", "a", 2.0), ("g", "b2", "b", 2.0))
      .toDF("g", "b", "t", "v")
    val tr = Profile.friedman(tied, "g", "b", "t", "v").collect().head
    assert(tr.isNullAt(tr.fieldIndex("chi2_micro")))
  }

  test("wilcoxonSignedRank: textbook ranks, zero-drop census, all-tied spine") {
    // diffs +1 +2 −3 +4 +5 (x − y): ranks 1..5 by |d|, W+ = 12,
    // W2 = 24, E2 = 15, σ²(W2) = 5·6·11/6 = 55 (no ties).
    val df = Seq(
      ("g", 11.0, 10.0), ("g", 12.0, 10.0), ("g", 7.0, 10.0),
      ("g", 14.0, 10.0), ("g", 15.0, 10.0),
      ("g", 10.0, 10.0), // zero diff: dropped, censused
      ("tied", 3.0, 3.0), ("tied", 4.0, 4.0)) // all zero: spine row
      .toDF("g", "x", "y")
    val got = Profile.wilcoxonSignedRank(df, "g", "x", "y")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val g = got("g")
    assert(g.getAs[Long]("n_pairs") == 5L)
    assert(g.getAs[Long]("n_zero") == 1L)
    assert(g.getAs[Long]("w2_plus") == 24L)
    assert(g.getAs[Long]("z_micro") ==
      math.round(1e6 * (24.0 - 15.0) / math.sqrt(55.0)))
    val t = got("tied")
    assert(t.getAs[Long]("n_pairs") == 0L)
    assert(t.getAs[Long]("n_zero") == 2L)
    assert(t.isNullAt(t.fieldIndex("z_micro")))
  }

  test("ratioMetricCI: unit-clustered delta CI, replayed formula, degenerate NULL") {
    val df = Seq(
      ("g", "u1", 2.0), ("g", "u1", 4.0), // unit totals 6/2
      ("g", "u2", 2.0),                   // 2/1
      ("g", "u3", 4.0),                   // 4/1
      ("solo", "u9", 1.0))                // one unit: no variance
      .toDF("g", "u", "x")
      .withColumn("one", lit(1.0))
    val got = Profile.ratioMetricCI(df, "g", "u", "x", "one")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val g = got("g")
    assert(g.getAs[Long]("n_units") == 3L)
    assert(g.getAs[Long]("ratio_micro") == 3000000L) // 12/4
    val se = g.getAs[Long]("se_micro")
    assert(se > 0L)
    assert(math.abs(g.getAs[Long]("lo_micro") -
      (3000000L - math.round(1.959964 * se))) <= 2L)
    assert(g.getAs[Long]("lo_micro") < 3000000L)
    assert(g.getAs[Long]("hi_micro") > 3000000L)
    assert(got("solo").getAs[Long]("ratio_micro") == 1000000L)
    assert(got("solo").isNullAt(got("solo").fieldIndex("se_micro")))
  }

  test("markRecapture: Chapman estimate and SE, hand numbers") {
    // 6 A-only, 4 B-only, 4 both: n1 = 10, n2 = 8, m = 4.
    val rows = (1 to 6).map(i => ("g", s"a$i", true, false)) ++
      (1 to 4).map(i => ("g", s"b$i", false, true)) ++
      (1 to 4).map(i => ("g", s"c$i", true, true))
    val df = rows.toDF("g", "u", "in_a", "in_b")
    val r = Profile.markRecapture(df, "g", "u", "in_a", "in_b")
      .collect().head
    assert(r.getAs[Long]("n1") == 10L && r.getAs[Long]("n2") == 8L &&
      r.getAs[Long]("m") == 4L)
    // N̂ = 11·9/5 − 1 = 18.8; SE = √(11·9·6·4/(25·6)) = √15.84.
    assert(r.getAs[Long]("n_hat_micro") == 18800000L)
    assert(r.getAs[Long]("se_micro") ==
      math.round(1e6 * math.sqrt(11.0 * 9.0 * 6.0 * 4.0 / (5.0 * 5.0 * 6.0))))
  }

  test("plattFit: Newton converges on overlapping classes, saturating data frozen safely") {
    // Overlapping logistic data: low scores mostly 0, high mostly 1,
    // with one flip on each side — the MLE slope is finite, positive.
    val rows = Seq(
      (0.0, false), (0.5, false), (1.0, false), (1.5, false),
      (1.0, true), // overlap flips
      (2.0, false),
      (2.5, true), (3.0, true), (3.5, true), (4.0, true))
    val df = rows.toDF("s", "y")
    val r = Profile.plattFit(df, "s", "y", iters = 5).collect().head
    assert(r.getAs[Long]("n") == 10L)
    val a = r.getAs[Long]("a_micro")
    val b = r.getAs[Long]("b_micro")
    assert(a > 0L, s"slope must be positive, got $a")
    // Decision boundary -b/a sits inside the overlap band (1, 2.5).
    val boundary = -b.toDouble / a.toDouble
    assert(boundary > 1.0 && boundary < 2.5, s"boundary $boundary")
    // Better than the no-information fit (logloss < ln 2).
    assert(r.getAs[Long]("avg_logloss_micro") < 693147L)
    // All-one-label data: every round moves b upward, nothing blows
    // up, and the fitted probabilities saturate high.
    val ones = Seq((1.0, true), (2.0, true), (3.0, true)).toDF("s", "y")
    val r1 = Profile.plattFit(ones, "s", "y", iters = 5).collect().head
    assert(r1.getAs[Long]("avg_logloss_micro") <
      r.getAs[Long]("avg_logloss_micro"))
  }

  test("ebBetaBinomial: moment fit, shrinkage toward prior, mean fixed point") {
    // Rates 0.2 / 0.4 / 0.6 over n = 5 each: m = 0.4 exactly,
    // strength ≈ 8 ⇒ extremes shrink toward 0.4, and the group AT
    // the prior mean is a fixed point (stays 400000).
    val df = (Seq.fill(1)(("g1", true)) ++ Seq.fill(4)(("g1", false)) ++
      Seq.fill(2)(("g2", true)) ++ Seq.fill(3)(("g2", false)) ++
      Seq.fill(3)(("g3", true)) ++ Seq.fill(2)(("g3", false)))
      .toDF("g", "y")
    val got = Profile.ebBetaBinomial(df, "g", "y")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    // Replay the operator's own scalar math off the exact moments.
    val (gg, s1, s2) = (3.0, 1200000.0, 5.6e11)
    val m = s1 / gg / 1e6
    val v = (s2 / gg - (s1 / gg) * (s1 / gg)) / 1e12
    val st = m * (1.0 - m) / v - 1.0
    def shrunk(k: Long, n: Long) =
      math.round(1e6 * (k.toDouble + m * st) / (n.toDouble + st))
    assert(got("g1").getAs[Long]("rate_micro") == 200000L)
    assert(got("g1").getAs[Long]("shrunk_micro") == shrunk(1L, 5L))
    assert(got("g2").getAs[Long]("shrunk_micro") == 400000L)
    assert(got("g3").getAs[Long]("shrunk_micro") == shrunk(3L, 5L))
    // Shrinkage is toward the prior: strictly between raw and m.
    assert(got("g1").getAs[Long]("shrunk_micro") > 200000L &&
      got("g1").getAs[Long]("shrunk_micro") < 400000L)
    assert(got("g1").getAs[Long]("prior_strength_micro") ==
      math.round(1e6 * st))
    // Degenerate: identical rates -> raw rates, NULL strength.
    val flat = Seq(("a", true), ("a", false), ("b", true), ("b", false))
      .toDF("g", "y")
    val fg = Profile.ebBetaBinomial(flat, "g", "y").collect()
    assert(fg.forall(_.getAs[Long]("shrunk_micro") == 500000L))
    assert(fg.forall(_.isNullAt(fg.head.fieldIndex(
      "prior_strength_micro"))))
  }

  test("raterAccuracy: consensus agreement per rater, self-inclusion") {
    // item 1: A=pos B=pos C=neg -> consensus pos; item 2: A=pos
    // B=neg -> tie breaks to 'neg' (lexically smaller).
    val df = Seq(
      ("g", 1L, "A", "pos"), ("g", 1L, "B", "pos"), ("g", 1L, "C", "neg"),
      ("g", 2L, "A", "pos"), ("g", 2L, "B", "neg"))
      .toDF("g", "item", "rater", "label")
    val got = Profile.raterAccuracy(df, "g", "item", "rater", "label")
      .collect().map(r => r.getAs[String]("rater") ->
        ((r.getAs[Long]("n_votes"), r.getAs[Long]("n_agree"),
          r.getAs[Long]("acc_micro")))).toMap
    assert(got("A") == ((2L, 1L, 500000L)))
    assert(got("B") == ((2L, 2L, 1000000L)))
    assert(got("C") == ((1L, 0L, 0L)))
  }

  test("twoProportionTest: pooled z mirrors the float chain, guards exact") {
    // g: 30/50 vs 15/50 — a real lift; z computed by the same chain.
    val rows = (1 to 50).map(i => ("g", true, i <= 30)) ++
      (1 to 50).map(i => ("g", false, i <= 15)) ++
      (1 to 10).map(i => ("allwin", i % 2 == 0, true)) ++ // p = 1
      (1 to 10).map(i => ("onearm", true, i <= 3))        // no B arm
    val df = rows.toDF("g", "side", "hi")
    val got = Profile.twoProportionTest(df, "g", "side", "hi")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val p = 45.0 / 100.0
    val z = (30.0 / 50.0 - 15.0 / 50.0) /
      math.sqrt(p * (1.0 - p) * (1.0 / 50.0 + 1.0 / 50.0))
    assert(got("g").getAs[Long]("z_micro") == math.round(1e6 * z))
    assert(got("g").getAs[Boolean]("significant")) // z ≈ 3.02
    // zero-variance pool and one-armed groups: NULL z, not-significant
    assert(got("allwin").isNullAt(got("allwin").fieldIndex("z_micro")))
    assert(!got("allwin").getAs[Boolean]("significant"))
    assert(got("onearm").isNullAt(got("onearm").fieldIndex("z_micro")))
  }

  test("kruskalWallis: textbook H = 32/7, all-tied group NULL") {
    // Three treatments {1,2} {3,4} {5,6}: no ties, H = 32/7,
    // eps^2 = H/(N-1) = 32/35.
    val df = Seq(
      ("g", "a", 1.0), ("g", "a", 2.0), ("g", "b", 3.0),
      ("g", "b", 4.0), ("g", "c", 5.0), ("g", "c", 6.0),
      ("tied", "a", 7.0), ("tied", "a", 7.0),
      ("tied", "b", 7.0), ("tied", "b", 7.0))
      .toDF("g", "t", "v")
    val got = Profile.kruskalWallis(df, "g", "t", "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val g = got("g")
    assert(g.getAs[Long]("k") == 3L && g.getAs[Long]("n") == 6L)
    assert(g.getAs[Long]("h_micro") == math.round(1e6 * 32.0 / 7.0))
    assert(g.getAs[Long]("eps2_micro") == math.round(1e6 * 32.0 / 35.0))
    // Every value tied: SST2 = 0 -> NULL stats, group row kept.
    val t = got("tied")
    assert(t.getAs[Long]("k") == 2L)
    assert(t.isNullAt(t.fieldIndex("h_micro")))
  }

  test("anovaF: textbook F = 13.5, single-treatment group NULL") {
    // {1,2,3} vs {4,5,6}: SSB = 13.5, SSW = 4, F = 13.5,
    // eta^2 = 13.5/17.5.
    val df = Seq(
      ("g", "a", 1.0), ("g", "a", 2.0), ("g", "a", 3.0),
      ("g", "b", 4.0), ("g", "b", 5.0), ("g", "b", 6.0),
      ("solo", "a", 1.0), ("solo", "a", 2.0))
      .toDF("g", "t", "v")
    val got = Profile.anovaF(df, "g", "t", "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val g = got("g")
    assert(g.getAs[Long]("k") == 2L && g.getAs[Long]("n") == 6L)
    assert(g.getAs[Long]("f_micro") == 13500000L)
    assert(g.getAs[Long]("eta2_micro") ==
      math.round(1e6 * 13.5 / 17.5))
    assert(got("solo").isNullAt(got("solo").fieldIndex("f_micro")))
  }

  test("brownForsythe: low-median centering, spread shift detected") {
    // a = {1,2,3} (med 2, devs 1,0,1) vs b = {10,20,30} (med 20,
    // devs 10,0,10): F on devs = 54/(67.3.../4) ~ 3.2079.
    val df = Seq(
      ("g", "a", 1.0), ("g", "a", 2.0), ("g", "a", 3.0),
      ("g", "b", 10.0), ("g", "b", 20.0), ("g", "b", 30.0))
      .toDF("g", "t", "v")
    val r = Profile.brownForsythe(df, "g", "t", "v").collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    // Expected from the exact dev ANOVA; the kernel's unit-rounded
    // quotients can move the last micro digit by 1.
    val f = 1e6 * 54.0 / ((606.0 / 9.0) / 4.0)
    assert(math.abs(r.getAs[Long]("f_micro") - math.round(f)) <= 2L)
    // Even-count treatment takes the LOW median: {1,3} -> med 1.
    val even = Seq(("e", "a", 1.0), ("e", "a", 3.0),
      ("e", "b", 5.0), ("e", "b", 7.0)).toDF("g", "t", "v")
    val er = Profile.brownForsythe(even, "g", "t", "v").collect().head
    // devs: a = {0,2}, b = {0,2} -> identical spreads, F = 0.
    assert(er.getAs[Long]("f_micro") == 0L)
  }

  test("brierDecomposition: Murphy identity on a two-bin fixture") {
    // p_milli 100,100,900,900 / y 0,1,1,1: brier .21, rel .085,
    // res .0625, unc .1875 — and rel - res + unc == brier exactly.
    val df = Seq(
      ("g", 100L, false), ("g", 100L, true),
      ("g", 900L, true), ("g", 900L, true))
      .toDF("g", "p", "y")
    val r = Profile.brierDecomposition(df, "g", "p", "y")
      .collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("brier_micro") == 210000L)
    assert(r.getAs[Long]("rel_micro") == 85000L)
    assert(r.getAs[Long]("res_micro") == 62500L)
    assert(r.getAs[Long]("unc_micro") == 187500L)
    assert(r.getAs[Long]("rel_micro") - r.getAs[Long]("res_micro") +
      r.getAs[Long]("unc_micro") == r.getAs[Long]("brier_micro"))
  }

  test("dawidSkeneBinary: M-step exacts, always-pos rater pinned") {
    // Truth pos,pos,neg,neg; g1 = truth, g2 = truth except item 1,
    // bad = always pos. Soft-majority pi: 2/3, 1, 1/3, 1/3.
    val votes = for {
      (item, truth) <- Seq((1L, true), (2L, true), (3L, false),
        (4L, false))
      (rater, vote) <- Seq(
        ("g1", truth),
        ("g2", if (item == 1L) !truth else truth),
        ("bad", true))
    } yield ("s", item, rater, if (vote) "pos" else "neg")
    val df = votes.toDF("g", "item", "rater", "label")
    val got = Profile.dawidSkeneBinary(df, "g", "item", "rater",
      "label", "pos")
      .collect().map(r => r.getAs[String]("rater") -> r).toMap
    // Round-1 M-step on the exact micro pi (666667, 1000000,
    // 333333, 333333), prior = round(2333333/4).
    val g1 = got("g1")
    assert(g1.getAs[Long]("n_votes") == 4L)
    assert(g1.getAs[Long]("tpp_micro") ==
      math.round(1e6 * 1666667.0 / 2333333.0))
    assert(g1.getAs[Long]("tnn_micro") ==
      math.round(1e6 * 1333334.0 / 1666667.0))
    assert(g1.getAs[Long]("prior_micro") == 583333L)
    // The always-pos rater: wpp == wp and wnn == 0 whatever pi is —
    // sensitivity 1, specificity 0, in BOTH rounds.
    val bad = got("bad")
    assert(bad.getAs[Long]("tpp_micro") == 1000000L)
    assert(bad.getAs[Long]("tnn_micro") == 0L)
    assert(bad.getAs[Long]("tpp2_micro") == 1000000L)
    assert(bad.getAs[Long]("tnn2_micro") == 0L)
    // g2's specificity: every neg vote lands on soft-neg items; item
    // 2 resolves to pi2 = 1e6 exactly (bad's zero-specificity factor
    // kills the neg branch), so round 2 keeps tnn = 1.
    assert(got("g2").getAs[Long]("tnn_micro") == 1000000L)
    assert(got("g2").getAs[Long]("tnn2_micro") == 1000000L)
    // E-step moved the prior (the re-score is not a no-op).
    assert(g1.getAs[Long]("prior2_micro") !=
      g1.getAs[Long]("prior_micro"))
  }

  test("andersonDarling: separated beats interleaved, hand rank terms") {
    val df = Seq(
      // S: arms fully separated -> every prefix is lopsided.
      ("S", 1.0, true, 1L), ("S", 2.0, true, 2L),
      ("S", 3.0, false, 3L), ("S", 4.0, false, 4L),
      // I: arms interleave -> the middle term vanishes.
      ("I", 1.0, true, 1L), ("I", 3.0, true, 2L),
      ("I", 2.0, false, 3L), ("I", 4.0, false, 4L),
      // O: one-armed -> absent.
      ("O", 5.0, true, 1L)).toDF("g", "v", "a", "t")
    val got = Profile.andersonDarling(df, "g", "v", "a", "t")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("O"))
    val t13 = math.round(1e6 * 4.0 / 3.0)
    // S: terms 4/3, 4, 4/3 -> A2 = (2*t13 + 4e6)/4.
    assert(got("S").getAs[Long]("a2_micro") ==
      math.round((2L * t13 + 4000000L) / 4.0))
    // I: terms 4/3, 0, 4/3.
    assert(got("I").getAs[Long]("a2_micro") ==
      math.round(2L * t13 / 4.0))
    assert(got("S").getAs[Long]("a2_micro") >
      got("I").getAs[Long]("a2_micro"))
    assert(!got("S").getAs[Boolean]("significant")) // n=2: tiny sample
  }

  test("raterReliability: perfect agreement 1/1, uncorrelated 0, drops") {
    val df = Seq(
      // P: items always agree -> alpha = ICC = 1; s5 incomplete.
      ("P", "s1", "i1", 1.0), ("P", "s1", "i2", 1.0),
      ("P", "s2", "i1", 0.0), ("P", "s2", "i2", 0.0),
      ("P", "s3", "i1", 1.0), ("P", "s3", "i2", 1.0),
      ("P", "s4", "i1", 0.0), ("P", "s4", "i2", 0.0),
      ("P", "s5", "i1", 1.0),
      // U: items statistically unrelated -> alpha exactly 0.
      ("U", "s1", "i1", 1.0), ("U", "s1", "i2", 1.0),
      ("U", "s2", "i1", 1.0), ("U", "s2", "i2", 0.0),
      ("U", "s3", "i1", 0.0), ("U", "s3", "i2", 1.0),
      ("U", "s4", "i1", 0.0), ("U", "s4", "i2", 0.0))
      .toDF("g", "s", "i", "v")
    val got = Profile.raterReliability(df, "g", "s", "i", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val p = got("P")
    assert(p.getAs[Long]("n_subjects") == 4L &&
      p.getAs[Long]("n_dropped_subjects") == 1L)
    assert(p.getAs[Long]("alpha_micro") == 1000000L)
    assert(p.getAs[Long]("icc_micro") == 1000000L)
    val u = got("U")
    assert(u.getAs[Long]("alpha_micro") == 0L)
    // ICC replay: msb = 16e12/24 (x k-scale), msw = 16e12/32.
    val msb = 16e12 / 24.0; val msw = 16e12 / 32.0
    assert(u.getAs[Long]("icc_micro") ==
      math.round(1e6 * (msb - msw) / (msb + 1.0 * msw)))
  }

  test("yuenTest: outlier immunity via trim, replayed d terms") {
    // Arm a: 1..5 with a wild outlier 1000 at the top; arm b: 3..8.
    // 20% trim on 6 values cuts ONE from each end -> the outlier
    // never touches the trimmed mean.
    val df = Seq(
      ("G", 1.0, true, 1L), ("G", 2.0, true, 2L), ("G", 3.0, true, 3L),
      ("G", 4.0, true, 4L), ("G", 5.0, true, 5L),
      ("G", 1000.0, true, 6L),
      ("G", 3.0, false, 7L), ("G", 4.0, false, 8L),
      ("G", 5.0, false, 9L), ("G", 6.0, false, 10L),
      ("G", 7.0, false, 11L), ("G", 8.0, false, 12L))
      .toDF("g", "v", "a", "t")
    val r = Profile.yuenTest(df, "g", "v", "a", "t", trimMilli = 200)
      .head()
    assert(r.getAs[Long]("n_a") == 6L && r.getAs[Long]("h_a") == 4L)
    // Trimmed a: 2,3,4,5 -> 3.5e6; trimmed b: 4,5,6,7 -> 5.5e6.
    assert(r.getAs[Long]("tmean_a_micro") == 3500000L)
    assert(r.getAs[Long]("tmean_b_micro") == 5500000L)
    // Winsorized a: 2,2,3,4,5,5 (the 1000 clips to 5).
    def dTerm(ws: Seq[Double]): Double = {
      val n = ws.size; val h = 4
      val s = ws.sum * 1e6; val q = ws.map(x => x * x * 1e12).sum
      (n * q - s * s) / (n.toDouble * h * (h - 1))
    }
    val da = dTerm(Seq(2, 2, 3, 4, 5, 5))
    val db = dTerm(Seq(4, 4, 5, 6, 7, 7))
    assert(r.getAs[Long]("t_micro") ==
      math.round(1e6 * -2000000.0 / math.sqrt(da + db)))
    assert(r.getAs[Long]("df_micro") ==
      math.round(1e6 * (da + db) * (da + db) /
        (da * da / 3.0 + db * db / 3.0)))
  }

  test("fisherCombine: micro-nat ln sums, zero-p clamp") {
    val df = Seq(("g", Some(10000L)), ("g", Some(250000L)),
      ("g", None), ("z", Some(0L))).toDF("grp", "p_micro")
    val got = Profile.fisherCombine(df, "grp", "p_micro")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = got("g")
    assert(g.getAs[Long]("m") == 2L && g.getAs[Long]("df") == 4L)
    val t1 = math.round(1e6 * math.log(0.01))
    val t2 = math.round(1e6 * math.log(0.25))
    assert(g.getAs[Long]("chi2_micro") == -2L * (t1 + t2))
    // p = 0 clamps to 1 micro, not -infinity.
    assert(got("z").getAs[Long]("chi2_micro") ==
      -2L * math.round(1e6 * math.log(1e-6)))
  }

  test("bhFdr: step-up rejections, suffix-min monotone q, NULL p drops") {
    val df = Seq(
      ("g", "t1", Some(1000L)), ("g", "t2", Some(20000L)),
      ("g", "t3", Some(30000L)), ("g", "t4", Some(800000L)),
      ("g", "tx", None)).toDF("grp", "id", "p_micro")
    val got = Profile.bhFdr(df, "grp", "id", "p_micro", alpha = 0.05)
      .collect().map(r => r.getString(1) -> r).toMap
    assert(!got.contains("tx") && got.size == 4)
    // raw q: 4000, 40000, 40000, 800000 -> suffix-min unchanged.
    assert(got("t1").getAs[Long]("q_micro") == 4000L)
    assert(got("t2").getAs[Long]("q_micro") == 40000L)
    assert(got("t3").getAs[Long]("q_micro") == 40000L)
    assert(got("t4").getAs[Long]("q_micro") == 800000L)
    assert(got("t1").getAs[Boolean]("rejected") &&
      got("t2").getAs[Boolean]("rejected") &&
      got("t3").getAs[Boolean]("rejected") &&
      !got("t4").getAs[Boolean]("rejected"))
    // The suffix min must flow BACKWARD: a small late p rescues an
    // earlier larger raw quotient.
    val df2 = Seq(("h", "a", Some(400000L)), ("h", "b", Some(450000L)))
      .toDF("grp", "id", "p_micro")
    val h = Profile.bhFdr(df2, "grp", "id", "p_micro")
      .collect().map(r => r.getString(1) -> r).toMap
    // raw: a = 800000, b = 450000 -> a's q pulls down to... a is
    // rank 1 (800000 raw), b rank 2 (450000): a's q = min = 450000.
    assert(h("a").getAs[Long]("q_micro") == 450000L)
    assert(h("b").getAs[Long]("q_micro") == 450000L)
  }

  test("partialCorr: confounder wipes the raw correlation") {
    // y = z exactly, x correlates with y ONLY through z:
    // r_xy|z must be NULL-guarded or ~0; here y=z makes r_yz=1 -> NULL.
    val df1 = Seq(("A", 1.0, 10.0, 10.0), ("A", 2.0, 30.0, 30.0),
      ("A", 3.0, 20.0, 20.0)).toDF("g", "x", "y", "z")
    val a = Profile.partialCorr(df1, "g", "x", "y", "z").head()
    assert(a.getAs[Long]("r_yz_micro") == 1000000L)
    assert(a.isNullAt(a.fieldIndex("partial_micro")))
    // Replay case: x,y,z generic -> formula over the micro r's.
    val df2 = Seq(("B", 1.0, 2.0, 1.0), ("B", 2.0, 1.0, 0.0),
      ("B", 3.0, 4.0, 1.0), ("B", 4.0, 3.0, 0.0))
      .toDF("g", "x", "y", "z")
    val b = Profile.partialCorr(df2, "g", "x", "y", "z").head()
    def r(sab: Double, sa: Double, sb: Double,
        saa: Double, sbb: Double, n: Double): Long =
      math.round(1e6 * (n * sab - sa * sb) /
        (math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)))
    // micro sums: x=(1,2,3,4)e6 y=(2,1,4,3)e6 z=(1,0,1,0)e6
    val rxy = r(28e12, 10e6, 10e6, 30e12, 30e12, 4)
    val rxz = r(4e12, 10e6, 2e6, 30e12, 2e12, 4)
    val ryz = r(6e12, 10e6, 2e6, 30e12, 2e12, 4)
    assert(b.getAs[Long]("r_xy_micro") == rxy)
    assert(b.getAs[Long]("r_xz_micro") == rxz)
    assert(b.getAs[Long]("r_yz_micro") == ryz)
    val exp = math.round(1e6 *
      (rxy / 1e6 - rxz / 1e6 * (ryz / 1e6)) /
      (math.sqrt(1.0 - rxz / 1e6 * (rxz / 1e6)) *
        math.sqrt(1.0 - ryz / 1e6 * (ryz / 1e6))))
    assert(b.getAs[Long]("partial_micro") == exp)
  }

  test("fisherExact: tea-tasting replay, odds ratio, empty margin p=1") {
    def lf(n: Long): Double = if (n <= 1) 0.0 else {
      val nd = n.toDouble
      nd * math.log(nd) - nd +
        0.5 * math.log(6.283185307179586 * nd) +
        1.0 / (12.0 * nd) - 1.0 / (360.0 * nd * nd * nd)
    }
    def lnpM(k: Long, r1: Long, r2: Long, c1: Long, n: Long): Long =
      math.round(1e6 * (lf(r1) - lf(k) - lf(r1 - k) + lf(r2) -
        lf(c1 - k) - lf(r2 - c1 + k) - lf(n) + lf(c1) + lf(n - c1)))
    def rows(g: String, r: Boolean, c: Boolean, cnt: Int) =
      Seq.fill(cnt)((g, r, c))
    // T: Fisher's tea table 3/1/1/3.
    val df = (rows("T", r = true, c = true, 3) ++
      rows("T", r = true, c = false, 1) ++
      rows("T", r = false, c = true, 1) ++
      rows("T", r = false, c = false, 3) ++
      // E: row margin empty -> the single k=0 table, p = 1.
      rows("E", r = false, c = true, 2) ++
      rows("E", r = false, c = false, 2)).toDF("g", "r", "c")
    val got = Profile.fisherExact(df, "g", "r", "c")
      .collect().map(r => r.getString(0) -> r).toMap
    val t = got("T")
    assert((t.getAs[Long]("n11"), t.getAs[Long]("n12"),
      t.getAs[Long]("n21"), t.getAs[Long]("n22")) == ((3L, 1L, 1L, 3L)))
    // Replay the quantized pipeline: k in 0..4, margins all 4, N=8.
    val obs = lnpM(3L, 4L, 4L, 4L, 8L)
    val pn = (0L to 4L).map { k =>
      val l = lnpM(k, 4L, 4L, 4L, 8L)
      if (l <= obs) math.round(1e9 * math.exp(l / 1e6)) else 0L
    }.sum
    val pExp = math.min(1000000L, math.round(pn / 1e3))
    assert(t.getAs[Long]("p_micro") == pExp)
    // The exact two-sided p is 0.4857; Stirling keeps us within 1e-3.
    assert(math.abs(t.getAs[Long]("p_micro") - 485714L) < 1000L)
    assert(t.getAs[Long]("or_micro") == 9000000L)
    assert(!t.getAs[Boolean]("too_large"))
    val e = got("E")
    assert(e.getAs[Long]("p_micro") == 1000000L)
    assert(e.isNullAt(e.fieldIndex("or_micro")))
  }

  test("hodgesLehmann: maxN past the two-arm pair cap fails before any job") {
    import graft.functions.SeriesKernels.MaxArmN
    assert(MaxArmN == 3162)
    val df = Seq(("G", 10.0, true, 1L), ("G", 12.0, true, 2L),
      ("G", 1.0, false, 3L)).toDF("g", "v", "a", "t")
    val sc = spark.sparkContext
    sc.setJobGroup("arm-maxN-bound", "maxN bound")
    try {
      intercept[IllegalArgumentException](Profile.hodgesLehmann(
        df, "g", "v", "a", "t", maxN = MaxArmN + 1))
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("arm-maxN-bound").isEmpty)
    assert(rows(Profile.hodgesLehmann(df, "g", "v", "a", "t",
        maxN = MaxArmN)) ==
      rows(Profile.hodgesLehmann(df, "g", "v", "a", "t")))
  }

  test("hodgesLehmann: hand median shift, Cliff's delta, one-armed absent") {
    val df = Seq(
      // G: A=[10,12] vs B=[1,3] -> diffs 7,9,9,11 -> HL 9, delta 1.
      ("G", 10.0, true, 1L), ("G", 12.0, true, 2L),
      ("G", 1.0, false, 3L), ("G", 3.0, false, 4L),
      // T: A=[5] vs B=[3,5] -> diffs 0,2 -> low-median 0, delta 1/2.
      ("T", 5.0, true, 1L), ("T", 5.0, false, 2L), ("T", 3.0, false, 3L),
      // O: B side empty -> absent.
      ("O", 7.0, true, 1L)).toDF("g", "v", "a", "t")
    val got = Profile.hodgesLehmann(df, "g", "v", "a", "t")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("O"))
    val g = got("G")
    assert(g.getAs[Long]("n_a") == 2L && g.getAs[Long]("n_b") == 2L)
    assert(g.getAs[Long]("hl_micro") == 9000000L)
    assert(g.getAs[Long]("cliffs_micro") == 1000000L)
    val t = got("T")
    assert(t.getAs[Long]("hl_micro") == 0L)
    assert(t.getAs[Long]("cliffs_micro") == 500000L)
  }

  test("welchAnova: quantized-pipeline replay, zero-var NULL, k=2 B=1") {
    val df = Seq(
      // G arm a: 1,2,3; arm b: 10,14 (unequal variance, k=2).
      ("G", "a", 1.0), ("G", "a", 2.0), ("G", "a", 3.0),
      ("G", "b", 10.0), ("G", "b", 14.0),
      // Z: a zero-variance arm poisons the group.
      ("Z", "a", 1.0), ("Z", "a", 2.0), ("Z", "b", 5.0), ("Z", "b", 5.0))
      .toDF("g", "t", "v")
    val got = Profile.welchAnova(df, "g", "t", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = got("G")
    assert(g.getAs[Long]("k") == 2L && g.getAs[Long]("n") == 5L)
    // Replay: w_a = 1e18*3/1e12 = 3e6; w_b = 1e18*2/8e12 = 250000.
    val wa = 3000000.0; val wb = 250000.0; val bw = wa + wb
    val mbar = math.round((wa * 2000000.0 + wb * 12000000.0) / bw)
    val sa = wa * math.pow(2000000.0 - mbar, 2) +
      wb * math.pow(12000000.0 - mbar, 2)
    val sh = math.round(1e12 * math.pow(1.0 - wa / bw, 2) / 2.0) +
      math.round(1e12 * math.pow(1.0 - wb / bw, 2) / 1.0)
    // k = 2 makes B exactly 1: F is the weighted between-arm term.
    val f = math.round(1e6 * (sa / 1e18 / 1.0) / 1.0)
    assert(g.getAs[Long]("f_micro") == f)
    val df2 = math.round(1e6 * 3.0 / (3.0 * (sh / 1e12)))
    assert(g.getAs[Long]("df2_micro") == df2)
    val z = got("Z")
    assert(z.getAs[Long]("n_zerovar") == 1L &&
      z.isNullAt(z.fieldIndex("f_micro")))
  }

  test("bartlett: hand chi2/C, zero-variance arm NULL, k<2 NULL") {
    val df = Seq(
      // G arm a: 1,2,3 (var 1); arm b: 10,14 (var 8); arm c: dropped.
      ("G", "a", 1.0), ("G", "a", 2.0), ("G", "a", 3.0),
      ("G", "b", 10.0), ("G", "b", 14.0), ("G", "c", 99.0),
      // Z: one healthy arm, one zero-variance arm -> chi2 NULL.
      ("Z", "a", 1.0), ("Z", "a", 2.0), ("Z", "b", 5.0), ("Z", "b", 5.0),
      // S: a single arm -> nothing to compare.
      ("S", "a", 1.0), ("S", "a", 2.0)).toDF("g", "t", "v")
    val got = Profile.bartlett(df, "g", "t", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = got("G")
    assert(g.getAs[Long]("k") == 2L && g.getAs[Long]("n") == 5L &&
      g.getAs[Long]("n_dropped_arms") == 1L)
    // Replay the quantized pipeline in micro^2 units.
    val ta = math.round(1e6 * 2.0 * math.log(6e12 / 6.0))
    val tb = math.round(1e6 * 1.0 * math.log(16e12 / 2.0))
    val sw = math.round(6e12 / 3.0) + math.round(16e12 / 2.0)
    val t1 = math.round(1e6 * 3.0 * math.log(sw.toDouble / 3.0))
    val sinv = math.round(1e12 / 2.0) + math.round(1e12 / 1.0)
    val cf = 1.0 + (sinv / 1e12 - 1.0 / 3.0) / (3.0 * 1.0)
    assert(g.getAs[Long]("chi2_micro") ==
      math.round((t1 - (ta + tb)).toDouble / cf))
    assert(g.getAs[Long]("c_micro") == math.round(1e6 * cf))
    val z = got("Z")
    assert(z.getAs[Long]("n_zerovar") == 1L &&
      z.isNullAt(z.fieldIndex("chi2_micro")))
    assert(!z.isNullAt(z.fieldIndex("c_micro")))
    val s = got("S")
    assert(s.getAs[Long]("k") == 1L &&
      s.isNullAt(s.fieldIndex("chi2_micro")) &&
      s.isNullAt(s.fieldIndex("c_micro")))
  }

  test("theilIndex: hand T/L, equal-group zeros, all-dropped spine") {
    val df = Seq(
      // U: 1,3 -> T = (0.5 ln 0.5 + 1.5 ln 1.5)/2, L = 0.1438...
      ("U", 1.0), ("U", 3.0),
      // E: perfectly equal -> both indices exactly 0.
      ("E", 2.0), ("E", 2.0), ("E", 2.0),
      // M: one positive survivor (ratio 1 -> 0), two quarantined.
      ("M", 5.0), ("M", 0.0), ("M", -2.0),
      // D: nothing positive -> spine row with NULL indices.
      ("D", -1.0), ("D", 0.0)).toDF("g", "v")
    val got = Profile.theilIndex(df, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val u = got("U")
    val t1 = math.round(1e6 * 0.5 * math.log(0.5))
    val t2 = math.round(1e6 * 1.5 * math.log(1.5))
    assert(u.getAs[Long]("theil_t_micro") ==
      math.round((t1 + t2) / 2.0))
    val l1 = math.round(1e6 * math.log(0.5))
    val l2 = math.round(1e6 * math.log(1.5))
    assert(u.getAs[Long]("theil_l_micro") ==
      math.round(-(l1 + l2) / 2.0))
    assert(u.getAs[Long]("n") == 2L && u.getAs[Long]("n_dropped") == 0L)
    val e = got("E")
    assert(e.getAs[Long]("theil_t_micro") == 0L &&
      e.getAs[Long]("theil_l_micro") == 0L)
    val m = got("M")
    assert(m.getAs[Long]("n") == 1L && m.getAs[Long]("n_dropped") == 2L)
    assert(m.getAs[Long]("theil_t_micro") == 0L &&
      m.getAs[Long]("theil_l_micro") == 0L)
    val d = got("D")
    assert(d.getAs[Long]("n") == 0L && d.getAs[Long]("n_dropped") == 2L)
    assert(d.isNullAt(d.fieldIndex("theil_t_micro")) &&
      d.isNullAt(d.fieldIndex("theil_l_micro")))
  }

  test("jarqueBera: symmetric hand moments, degenerate NULLs") {
    val df = (
      // N: 1..5 — m2 = 2, m3 = 0 (skew 0), m4 = 6.8 -> g2 = -1.3,
      // JB = 5 * (0 + 1.69/24) = 0.3520833...
      (1 to 5).map(i => ("N", i.toDouble)) ++
      // S: 3 rows < 4 -> NULLs. Z: constant -> zero variance -> NULLs.
      Seq(("S", 1.0), ("S", 2.0), ("S", 3.0)) ++
      Seq.fill(5)(("Z", 7.0))).toDF("g", "v")
    val got = Profile.jarqueBera(df, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val n = got("N")
    assert(n.getAs[Long]("skew_micro") == 0L)
    assert(n.getAs[Long]("exkurt_micro") == -1300000L)
    assert(n.getAs[Long]("jb_micro") ==
      math.round(1e6 * 5 * (1.69 / 24.0)))
    assert(!n.getAs[Boolean]("reject_normal"))
    Seq("S", "Z").foreach { k =>
      assert(got(k).isNullAt(got(k).fieldIndex("jb_micro")))
      assert(got(k).isNullAt(got(k).fieldIndex("reject_normal")))
    }
  }

  test("moodsMedian: hand 2x2 chi2, low median, significance") {
    // A = {1,2,3}, B = {10,11,12}: global low median = 3 (milli
    // 3000); A above 0 / le 3, B above 3 / le 0; each group term
    // (0-1.5)^2/1.5 + (3-1.5)^2/1.5 = 3 -> chi2 = 6, df 1 cut
    // 3.841 -> significant.
    val df = (Seq(1.0, 2.0, 3.0).map(("A", _)) ++
      Seq(10.0, 11.0, 12.0).map(("B", _))).toDF("g", "v")
    val r = Profile.moodsMedian(df, "g", "v").collect().head
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("n_groups") == 2L)
    assert(r.getAs[Long]("median_milli") == 3000L)
    assert(r.getAs[Long]("chi2_micro") == 6000000L)
    assert(r.getAs[Boolean]("significant"))
  }

  test("partialCorrelation: replay formula, |r_xz|=1 edge NULL") {
    // P: x = z exactly -> denom 0 -> partial NULL (rxz = 1).
    val p = Seq((1.0, 1.0, 1.0), (2.0, 3.0, 2.0), (3.0, 2.0, 3.0),
      (4.0, 4.0, 4.0)).map { case (x, y, z) => ("P", x, y, z) }
    // Q: generic triple — assert against the mirrored double chain.
    val q = Seq((1.0, 2.0, 0.0), (2.0, 1.0, 1.0), (3.0, 5.0, 1.0),
      (4.0, 4.0, 2.0), (5.0, 7.0, 2.0)).map { case (x, y, z) =>
      ("Q", x, y, z) }
    val got = Profile.partialCorrelation((p ++ q).toDF("g", "x", "y", "z"),
        "g", "x", "y", "z")
      .collect().map(r => r.getString(0) -> r).toMap
    val pr = got("P")
    assert(pr.getAs[Long]("rxz_micro") == 1000000L)
    assert(pr.isNullAt(pr.fieldIndex("partial_micro")))
    val qr = got("Q")
    def milli(v: Double) = math.round(v * 1e3)
    val xs = q.map(t => milli(t._2)); val ys = q.map(t => milli(t._3))
    val zs = q.map(t => milli(t._4)); val n = q.size.toDouble
    def corr(a: Seq[Long], b: Seq[Long]) = {
      val (sa, sb) = (a.sum.toDouble, b.sum.toDouble)
      val sab = a.zip(b).map { case (u, v) => u * v }.sum.toDouble
      val saa = a.map(u => u * u).sum.toDouble
      val sbb = b.map(u => u * u).sum.toDouble
      (n * sab - sa * sb) /
        math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    }
    val (rxy, rxz, ryz) = (corr(xs, ys), corr(xs, zs), corr(ys, zs))
    assert(qr.getAs[Long]("rxy_micro") == math.round(1e6 * rxy))
    val partial = (rxy - rxz * ryz) /
      math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    assert(qr.getAs[Long]("partial_micro") == math.round(1e6 * partial))
  }

  test("cramersV: perfect association V=1, NULL category counted") {
    val perfect = Seq(("x", "1"), ("x", "1"), ("y", "2"), ("y", "2"))
      .toDF("a", "b")
    val r = Profile.cramersV(perfect, "a", "b").collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("r") == 2L)
    assert(r.getAs[Long]("chi2_micro") == 4000000L)
    assert(r.getAs[Long]("v_micro") == 1000000L)
    // NULL category is a real column: r/c counts include it.
    val withNull = Seq(("x", Some("1")), ("x", None), ("y", Some("1")))
      .toDF("a", "b")
    val r2 = Profile.cramersV(withNull, "a", "b").collect().head
    assert(r2.getAs[Long]("c") == 2L && r2.getAs[Long]("n") == 3L)
  }

  test("esdOutliers: exact argmax, replayed G, vanishing group") {
    // 100 among five 10s: round 1 must pick it; after removal the
    // group is constant -> zero variance -> absent from round 2.
    val df = Seq(10.0, 10.0, 10.0, 100.0, 10.0, 10.0).zipWithIndex
      .map { case (v, i) => ("g", i.toLong, v) }.toDF("g", "id", "v")
    val got = Profile.esdOutliers(df, "g", "id", "v", rounds = 3,
      gCutMicro = 2000000L).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Int]("round") == 1 && r.getAs[Long]("id") == 3L)
    // Replay: milli sums, sample variance, G = n|x - mean| / (n s).
    val vs = Seq(10000L, 10000L, 10000L, 100000L, 10000L, 10000L)
    val (n, s1) = (6.0, vs.sum.toDouble)
    val s2 = vs.map(v => v * v).sum.toDouble
    val varS = (s2 - s1 * s1 / n) / (n - 1.0)
    val ad = math.abs(100000L * 6 - vs.sum).toDouble
    val g = ad / (n * math.sqrt(varS))
    assert(r.getAs[Long]("g_micro") == math.round(1e6 * g))
    assert(r.getAs[Boolean]("flagged") == (math.round(1e6 * g) > 2000000L))
  }

  test("jonckheereTerpstra: hand pair U sums, perfect trend") {
    // Doses 1 < 2 < 3, perfectly separated responses: every cross
    // pair agrees with the dose order. U(1,2) = 4, U(1,3) = 4,
    // U(2,3) = 4 -> JT = 12, doubled 24. N = 6, all n_i = 2:
    // mean2 = (36 - 12) / 2 = 12 (i.e. mean 6).
    val df = Seq((1L, 1.0), (1L, 2.0), (2L, 10.0), (2L, 11.0),
      (3L, 20.0), (3L, 21.0)).toDF("dose", "v")
    val r = Profile.jonckheereTerpstra(df, "dose", "v").collect().head
    assert(r.getAs[Long]("k_groups") == 3L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Long]("jt2") == 24L)
    assert(r.getAs[Long]("mean2") == 12L)
    // var = (36*15 - 3*4*7)/72 = (540 - 84)/72 = 6.3333; z =
    // (24 - 12) / (2*sqrt(6.3333)) = 2.384.
    val z = (24.0 - 12.0) / (2.0 * math.sqrt(456.0 / 72.0))
    assert(r.getAs[Long]("z_micro") == math.round(1e6 * z))
    assert(r.getAs[Boolean]("significant"))
  }

  test("jonckheereTerpstra: midrank ties halve, doubled stays integer") {
    // Dose 1 = {5}, dose 2 = {5, 7}: U = 0.5 + 1 = 1.5 -> jt2 = 3.
    val df = Seq((1L, 5.0), (2L, 5.0), (2L, 7.0)).toDF("dose", "v")
    val r = Profile.jonckheereTerpstra(df, "dose", "v").collect().head
    assert(r.getAs[Long]("jt2") == 3L)
    assert(r.getAs[Long]("mean2") == 2L) // (9 - 5) / 2
  }

  test("momentFit: exponential-ish hand moments, nonpos quarantine") {
    // G: {1, 2, 3, 4} -> mean 2.5, pop var 1.25; gamma shape =
    // 2.5^2/1.25 = 5, scale = 0.5. One nonpositive row drops from
    // the fits but stays in mean/var.
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("G", _)) :+ ("G", -1.0))
      .toDF("g", "v")
    val r = Profile.momentFit(df, "g", "v").collect().head
    assert(r.getAs[Long]("n") == 5L && r.getAs[Long]("n_nonpos") == 1L)
    // all-rows mean (1+2+3+4-1)/5 = 1.8, var = (1+4+9+16+1)/5 - 3.24.
    assert(r.getAs[Long]("mean_micro") == 1800000L)
    assert(r.getAs[Long]("var_micro") == math.round(1e6 * (31.0 / 5 - 3.24)))
    assert(math.abs(r.getAs[Long]("gamma_shape_micro") - 5000000L) <= 5L)
    assert(math.abs(r.getAs[Long]("gamma_scale_micro") - 500000L) <= 5L)
    // lognormal over {1,2,3,4}: mu = mean of ln = ln(24)/4.
    val ls = Seq(1.0, 2.0, 3.0, 4.0)
      .map(v => math.round(1e6 * math.log(v)))
    val mu = ls.sum.toDouble / 4 / 1e6
    assert(math.abs(r.getAs[Long]("lnorm_mu_micro") -
      math.round(1e6 * mu)) <= 1L)
  }

  test("psMatch: nearest control in caliper, tie to smaller id, replacement") {
    val df = Seq(
      // treated 1 @ .50: controls 10 @ .48 (d .02) and 11 @ .53
      // (d .03) -> picks 10.
      (1L, true, 0.50), (10L, false, 0.48), (11L, false, 0.53),
      // treated 2 @ .90: nearest control .53 is outside caliper .05
      // -> unmatched, absent.
      (2L, true, 0.90),
      // treated 3 @ .47: control 10 again (replacement) at d .01.
      (3L, true, 0.47),
      // treated 4 @ .505: ties 10 (d .025) vs 11 (d .025) -> 10.
      (4L, true, 0.505))
      .toDF("id", "t", "score")
    val got = Profile.psMatch(df, "id", "t", "score", caliper = 0.05)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("ctrl_id"), r.getAs[Long]("diff_micro")))).toMap
    assert(got(1L) == ((10L, 20000L)))
    assert(got(3L) == ((10L, -10000L)))
    assert(got(4L) == ((10L, 25000L)))
    assert(!got.contains(2L) && got.size == 3)
  }

  test("diffInDiff: hand 2x2 contrast, empty cell NULL") {
    val df = Seq(
      (true, false, 10.0), (true, false, 12.0), // t-pre mean 11
      (true, true, 20.0), (true, true, 24.0),   // t-post mean 22
      (false, false, 5.0), (false, true, 9.0))  // c: 5 -> 9
      .toDF("arm", "post", "v")
    val r = Profile.diffInDiff(df, "arm", "post", "v").collect().head
    assert(r.getAs[Long]("mean_t_pre_micro") == 11000000L)
    assert(r.getAs[Long]("did_micro") == (22.0 - 11.0 - 4.0) * 1e6)
    val empty = Seq((true, false, 1.0), (false, true, 2.0),
      (false, false, 3.0)).toDF("arm", "post", "v")
    val r2 = Profile.diffInDiff(empty, "arm", "post", "v").collect().head
    assert(r2.isNullAt(r2.fieldIndex("did_micro")))
    assert(r2.isNullAt(r2.fieldIndex("mean_t_post_micro")))
  }

  test("ipwAte: constant propensity reduces to the mean contrast") {
    // e = 0.5 everywhere -> every weight 2 -> Hajek ATE is exactly
    // mean(treated) - mean(control) = 20 - 14 = 6.
    val df = Seq((true, 0.5, 18.0), (true, 0.5, 22.0),
      (false, 0.5, 10.0), (false, 0.5, 18.0))
      .toDF("t", "e", "y")
    val r = Profile.ipwAte(df, "t", "e", "y").collect().head
    assert(r.getAs[Long]("n_treat") == 2L && r.getAs[Long]("n_ctrl") == 2L)
    assert(r.getAs[Long]("n_clipped") == 0L)
    assert(r.getAs[Long]("ate_micro") == 6000000L)
  }

  test("ipwAte: extreme propensity clips and counts; empty arm NULL") {
    val df = Seq((true, 0.001, 10.0), (true, 0.5, 20.0),
      (false, 0.9995, 5.0), (false, 0.5, 7.0))
      .toDF("t", "e", "y")
    val r = Profile.ipwAte(df, "t", "e", "y", clip = 0.01)
      .collect().head
    assert(r.getAs[Long]("n_clipped") == 2L)
    // Replay: treated weights 1/0.01, 1/0.5; control 1/(1-0.99),
    // 1/(1-0.5) — everything micro-rounded per row like the op.
    def w(t: Boolean, e: Double) = {
      val ec = math.min(math.max(e, 0.01), 0.99)
      if (t) math.round(1e6 / ec) else math.round(1e6 / (1.0 - ec))
    }
    def wy(t: Boolean, e: Double, y: Double) = {
      val ec = math.min(math.max(e, 0.01), 0.99)
      if (t) math.round(y * 1e6 / ec) else math.round(y * 1e6 / (1.0 - ec))
    }
    val wt = w(true, 0.001) + w(true, 0.5)
    val wyt = wy(true, 0.001, 10.0) + wy(true, 0.5, 20.0)
    val wc = w(false, 0.9995) + w(false, 0.5)
    val wyc = wy(false, 0.9995, 5.0) + wy(false, 0.5, 7.0)
    val want = math.round(
      wyt.toDouble / wt * 1e6 - wyc.toDouble / wc * 1e6)
    assert(r.getAs[Long]("ate_micro") == want)
    val oneArm = Seq((true, 0.5, 1.0)).toDF("t", "e", "y")
    val r2 = Profile.ipwAte(oneArm, "t", "e", "y").collect().head
    assert(r2.isNullAt(r2.fieldIndex("ate_micro")))
  }

  test("decisionStump: perfect split, tie to lowest threshold") {
    val df = Seq(
      // f: label flips cleanly at v = 2 -> gini 0, gain = root 0.5
      ("f", 1.0, true), ("f", 2.0, true),
      ("f", 3.0, false), ("f", 4.0, false),
      // g: alternating labels; thresholds 1 and 3 tie at 1/3 ->
      // the LOWER threshold must win
      ("g", 1.0, true), ("g", 2.0, false),
      ("g", 3.0, true), ("g", 4.0, false))
      .toDF("feat", "v", "y")
    val got = Profile.decisionStump(df, "feat", "v", "y")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))))
      .toMap
    assert(got("f") == ((4L, 2L, 2000L, 0L, 500000L, 2L, 2L)))
    // weighted gini at t=1: (1*0 + 3*(2*(1*2)/9))/4 = 1/3
    assert(got("g") == ((4L, 2L, 1000L, 333333L, 166667L, 1L, 1L)))
  }

  test("durbinWatson: hand residual series, degenerate NULLs") {
    val df = Seq(
      // b: x=1,2,3, y=0,3,0 -> OLS slope 0, mean 1; residuals
      // -1, 2, -1 -> DW = 18/6 = 3.
      ("b", 1L, 1L, 0.0), ("b", 2L, 2L, 3.0), ("b", 3L, 3L, 0.0),
      // a: perfectly linear -> all residuals 0 -> NULL
      ("a", 1L, 1L, 1.0), ("a", 2L, 2L, 2.0), ("a", 3L, 3L, 3.0),
      // c: constant x -> degenerate fit -> NULL
      ("c", 5L, 1L, 1.0), ("c", 5L, 2L, 9.0),
      // d: single row -> NULL
      ("d", 1L, 1L, 4.0))
      .toDF("g", "x", "tb", "y")
    val got = Profile.durbinWatson(df, "g", "x", "tb", "y")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2)))).toMap
    assert(got("b") == ((3L, 3000000L)))
    assert(got("a") == ((3L, null)))
    assert(got("c") == ((2L, null)))
    assert(got("d") == ((1L, null)))
  }

  test("chowTest: sharp break vs zero-residual NULL") {
    val df = Seq(
      // g: seg A rises y=x (+6 milli noise at x=3), seg B falls --
      // the pooled single line fits terribly -> huge F.
      ("g", true, 1.0, 1.0), ("g", true, 2.0, 2.0),
      ("g", true, 3.0, 3.006),
      ("g", false, 4.0, 6.0), ("g", false, 5.0, 5.0),
      ("g", false, 6.0, 4.006),
      // z: both segments EXACTLY on one line -> SSEs all 0 -> NULL
      ("z", true, 1.0, 1.0), ("z", true, 2.0, 2.0),
      ("z", true, 3.0, 3.0),
      ("z", false, 4.0, 4.0), ("z", false, 5.0, 5.0),
      ("z", false, 6.0, 6.0))
      .toDF("g", "s", "x", "y")
    val got = Profile.chowTest(df, "g", "s", "x", "y")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))).toMap
    // mirrored double chain: SSE1 = SSE2 = 6 (milli^2), F = 588935.65
    assert(got("g") == ((3L, 3L, 588935647619L)))
    assert(got("z") == ((3L, 3L, null)))
  }

  test("cochranArmitage: rising dose rates, z exactly 2") {
    val df = Seq(
      ("g", 1L, false), ("g", 1L, false),
      ("g", 2L, true), ("g", 2L, false),
      ("g", 3L, true), ("g", 3L, true))
      .toDF("g", "dose", "y")
    val r = Profile.cochranArmitage(df, "g", "dose", "y").collect()
      .head
    // T=8, E=6, Var=1 -> z = 2
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((3L, 6L, 3L, 2000000L)))
  }

  test("ansariBradley: extremes-vs-middle scale split") {
    // A = {1,4} (the tails), B = {2,3} (the middle): AB2 = 4,
    // E2 = 6, Var2 = 4/3 -> z = -sqrt(3).
    val df = Seq(("g", 1.0, true), ("g", 2.0, false),
      ("g", 3.0, false), ("g", 4.0, true))
      .toDF("g", "v", "a")
    val r = Profile.ansariBradley(df, "g", "v", "a").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 2L, 4L, -1732051L)))
  }

  test("cramerVonMises: disjoint halves, closed-form T") {
    // A = {1,2}, B = {3,4}: U = 16, T = 1 - 15/24 = 0.375.
    val df = Seq(("g", 1.0, true), ("g", 2.0, true),
      ("g", 3.0, false), ("g", 4.0, false))
      .toDF("g", "v", "a")
    val r = Profile.cramerVonMises(df, "g", "v", "a").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 375000L)))
  }

  test("kuiper: one-sided shift vs symmetric crossing both reach 1") {
    val df = Seq(
      // s: A entirely below B -> D+ = 1, D- = 0
      ("s", 1.0, true), ("s", 2.0, true),
      ("s", 3.0, false), ("s", 4.0, false),
      // x: tails vs middle -> D+ = 1/2 and D- = 1/2 -> V = 1 where
      // plain KS would report only 1/2
      ("x", 1.0, true), ("x", 4.0, true),
      ("x", 2.0, false), ("x", 3.0, false))
      .toDF("g", "v", "a")
    val got = Profile.kuiper(df, "g", "v", "a").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got == Map("s" -> 1000000L, "x" -> 1000000L))
  }

  test("pageTrend: monotone blocks, incomplete block censused") {
    val df = Seq(
      ("g", 1L, "a", 1.0), ("g", 1L, "b", 2.0), ("g", 1L, "c", 3.0),
      ("g", 2L, "a", 10.0), ("g", 2L, "b", 20.0),
      ("g", 2L, "c", 30.0),
      // incomplete block: only two treatments -> dropped
      ("g", 3L, "a", 1.0), ("g", 3L, "b", 2.0))
      .toDF("g", "blk", "t", "v")
    val r = Profile.pageTrend(df, "g", "blk", "t", "v").collect().head
    // L2 = 56, E2 = 48, Var2 = 16 -> z = 2
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((3L, 2L, 1L, 56L, 2000000L)))
  }

  test("brunnerMunzel: interleaved hand case, separated NULL W") {
    val df = Seq(
      // g: A={1,3}, B={2,4} -> p_hat = 0.75, W = 1/sqrt(2)
      ("g", 1.0, true), ("g", 3.0, true),
      ("g", 2.0, false), ("g", 4.0, false),
      // s: fully separated -> rank variances 0 -> W NULL, p_hat = 1
      ("s", 1.0, true), ("s", 2.0, true),
      ("s", 3.0, false), ("s", 4.0, false))
      .toDF("g", "v", "a")
    val got = Profile.brunnerMunzel(df, "g", "v", "a").collect()
      .map(r => r.getString(0) -> ((r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("g") == ((750000L, 707107L)))
    assert(got("s") == ((1000000L, null)))
  }

  test("goodmanKruskalGamma: hand pair algebra, sign, tie drop") {
    val df = Seq(
      // g: cells (1,1)x2, (1,2)x1, (2,1)x1, (2,2)x3:
      // C = 2*3 = 6, D = 1*1 = 1 (the (1,2)-(2,1) pair);
      // (1,1)-(2,1) and (1,2)-(2,2) tie on y -> excluded.
      // gamma = 5/7 -> 714286.
      ("g", 1L, 1L), ("g", 1L, 1L), ("g", 1L, 2L), ("g", 2L, 1L),
      ("g", 2L, 2L), ("g", 2L, 2L), ("g", 2L, 2L),
      // r: perfectly reversed -> gamma = -1.
      ("r", 1L, 2L), ("r", 2L, 1L),
      // t: single x level -> no pair -> NULL.
      ("t", 1L, 1L), ("t", 1L, 2L))
      .toDF("g", "x", "y")
    val got = Profile.goodmanKruskalGamma(df, "g", "x", "y")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("g") == ((7L, 6L, 1L, 714286L)))
    assert(got("r") == ((2L, 0L, 1L, -1000000L)))
    assert(got("t") == ((2L, 0L, 0L, null)))
  }

  test("quade: weighted blocks hand F = 4/7, incomplete drop") {
    val df = Seq(
      // g: 3 blocks x 2 treatments; ranges 1,2,1 weight block 2 up;
      // block 3 disagrees -> F = 2*1.5/(6.75-1.5) = 4/7 (replayed
      // by hand in the doubled domain: S4 = (-6, 6), A16 = 108).
      ("g", 1L, "A", 1.0), ("g", 1L, "B", 2.0),
      ("g", 2L, "A", 1.0), ("g", 2L, "B", 3.0),
      ("g", 3L, "A", 5.0), ("g", 3L, "B", 4.0),
      // plus an incomplete block (one treatment) that must drop.
      ("g", 9L, "A", 7.0),
      // s: single block -> NULL F.
      ("s", 1L, "A", 1.0), ("s", 1L, "B", 2.0))
      .toDF("g", "blk", "trt", "v")
    val got = Profile.quade(df, "g", "blk", "trt", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("g") == ((2L, 3L, 1L, 571429L)))
    assert(got("s") == ((2L, 1L, 0L, null)))
  }

  test("dixonQ: gap-over-range, duplicated extremes, degenerate NULL") {
    val df = (Seq(1.0, 2.0, 3.0, 9.0).map(("g", _)) ++
      // duplicated min -> Q_low exactly 0 by order statistics.
      Seq(1.0, 1.0, 5.0, 9.0).map(("d", _)) ++
      Seq(4.0, 4.0).map(("s", _)))
      .toDF("g", "v")
    val got = Profile.dixonQ(df, "g", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))).toMap
    // g: range 8, gaps 1 and 6 -> 125000 / 750000.
    assert(got("g") == ((4L, 125000L, 750000L)))
    assert(got("d") == ((4L, 0L, 500000L)))
    assert(got("s") == ((2L, null, null)))
  }

  test("grubbs: single far outlier, exact G; degenerate NULLs") {
    val df = (Seq.fill(4)(1.0) :+ 6.0).map(("g", _)) ++
      Seq(("c", 5.0), ("c", 5.0), ("c", 5.0)) ++
      Seq(("s", 1.0), ("s", 2.0))
    val got = Profile.grubbs(df.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2)))).toMap
    // g: mean 2, s = sqrt(5e6)/1000 -> G = 4/2.2360679... = 1.788854.
    assert(got("g") == ((5L, 1788854L)))
    assert(got("c") == ((3L, null))) // zero variance
    assert(got("s") == ((2L, null))) // n < 3
  }

  test("kendallW: perfect, partial, tie-corrected, dropped raters") {
    def rows(g: String, r: Long, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) => (g, r, i.toLong, v) }
    val df = (
      // g: three identical rankings -> W = 1.
      rows("g", 1L, Seq(1, 2, 3, 4).map(_.toDouble)) ++
      rows("g", 2L, Seq(1, 2, 3, 4).map(_.toDouble)) ++
      rows("g", 3L, Seq(1, 2, 3, 4).map(_.toDouble)) ++
      // p: third rater reversed -> W = 1/9.
      rows("p", 1L, Seq(1, 2, 3, 4).map(_.toDouble)) ++
      rows("p", 2L, Seq(1, 2, 3, 4).map(_.toDouble)) ++
      rows("p", 3L, Seq(4, 3, 2, 1).map(_.toDouble)) ++
      // t: one informative + one all-tied rater (T = 60) -> W = 0.5,
      // plus an incomplete rater (2 of 4 items) that must drop.
      rows("t", 1L, Seq(1, 2, 3, 4).map(_.toDouble)) ++
      rows("t", 2L, Seq(7, 7, 7, 7).map(_.toDouble)) ++
      rows("t", 9L, Seq(1, 2).map(_.toDouble)))
      .toDF("g", "r", "i", "v")
    val got = Profile.kendallW(df, "g", "r", "i", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("g") == ((4L, 3L, 0L, 1000000L)))
    assert(got("p") == ((4L, 3L, 0L, 111111L)))
    assert(got("t") == ((4L, 2L, 1L, 500000L)))
  }

  test("kendallW: duplicated-cell rater quarantines like a short one") {
    // 4 rows over 3 DISTINCT items passes a row-count-only
    // completeness check (cnt == n_items) but corrupts midranks —
    // the distinct census must drop it, leaving the stats identical
    // to the clean input.
    def rows(g: String, r: Long, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) => (g, r, i.toLong, v) }
    val clean = rows("g", 1L, Seq(1.0, 2.0, 3.0, 4.0)) ++
      rows("g", 2L, Seq(2.0, 1.0, 4.0, 3.0))
    val dup = Seq(("g", 9L, 0L, 5.0), ("g", 9L, 0L, 6.0),
      ("g", 9L, 1L, 7.0), ("g", 9L, 2L, 8.0))
    def run(data: Seq[(String, Long, Long, Double)]) =
      Profile.kendallW(data.toDF("g", "r", "i", "v"),
        "g", "r", "i", "v").collect().head
    val (a, b) = (run(clean), run(clean ++ dup))
    assert(a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2))
    assert(a.getLong(4) == b.getLong(4))
    assert(a.getLong(3) == 0L && b.getLong(3) == 1L)
  }

  test("friedman: duplicated-cell block quarantines like an incomplete one") {
    // Block 9 has 4 rows over 3 DISTINCT treatments (cnt == k passes
    // a count-only completeness check) — the distinct census must
    // drop it, leaving chi2/W identical to the clean input.
    def rows(b: Long, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) => ("g", b, i.toLong, v) }
    val clean = rows(1L, Seq(1.0, 2.0, 3.0, 4.0)) ++
      rows(2L, Seq(2.0, 1.0, 4.0, 3.0))
    val dup = Seq(("g", 9L, 0L, 5.0), ("g", 9L, 0L, 6.0),
      ("g", 9L, 1L, 7.0), ("g", 9L, 2L, 8.0))
    def run(data: Seq[(String, Long, Long, Double)]) =
      Profile.friedman(data.toDF("g", "b", "t", "v"),
        "g", "b", "t", "v").collect().head
    val (a, b) = (run(clean), run(clean ++ dup))
    assert(a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2))
    assert(a.getLong(4) == b.getLong(4) && a.getLong(5) == b.getLong(5))
    assert(a.getLong(3) == 0L && b.getLong(3) == 1L)
  }

  test("cochranQ: duplicated-cell item quarantines like an incomplete one") {
    // Item 9 has 3 rows over 2 DISTINCT treatments (cnt == k) — the
    // distinct census must drop it, leaving Q identical to clean.
    val clean = Seq(("g", 1L, "a", true), ("g", 1L, "b", false),
      ("g", 1L, "c", true), ("g", 2L, "a", false),
      ("g", 2L, "b", false), ("g", 2L, "c", true))
    val dup = Seq(("g", 9L, "a", true), ("g", 9L, "a", false),
      ("g", 9L, "b", true))
    def run(data: Seq[(String, Long, String, Boolean)]) =
      Profile.cochranQ(data.toDF("g", "i", "t", "y"),
        "g", "i", "t", "y").collect().head
    val (a, b) = (run(clean), run(clean ++ dup))
    assert(a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2))
    assert(a.getLong(4) == b.getLong(4))
    assert(a.getLong(3) == 0L && b.getLong(3) == 1L)
  }

  test("pageTrend: duplicated-cell block quarantines like an incomplete one") {
    def rows(b: Long, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) => ("g", b, i.toLong, v) }
    val clean = rows(1L, Seq(1.0, 2.0, 3.0, 4.0)) ++
      rows(2L, Seq(1.0, 3.0, 2.0, 4.0))
    val dup = Seq(("g", 9L, 0L, 5.0), ("g", 9L, 0L, 6.0),
      ("g", 9L, 1L, 7.0), ("g", 9L, 2L, 8.0))
    def run(data: Seq[(String, Long, Long, Double)]) =
      Profile.pageTrend(data.toDF("g", "b", "t", "v"),
        "g", "b", "t", "v").collect().head
    val (a, b) = (run(clean), run(clean ++ dup))
    assert(a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2))
    assert(a.getLong(4) == b.getLong(4) && a.getLong(5) == b.getLong(5))
    assert(a.getLong(3) == 0L && b.getLong(3) == 1L)
  }

  test("fleissKappa: hand kappa, perfect, all-one-category NULL, drops") {
    // g: i1=(A,A), i2=(A,B), plus a 3-rating item that must drop at
    // modal m=2. S=2, C=9+1=10, (Nm)^2=16: kappa = -1/3.
    // p: i1=(A,A), i2=(B,B): perfect -> 1e6.
    // s: both items all-A: C=(Nm)^2 -> NULL.
    val df = Seq(
      ("g", 1L, "A"), ("g", 1L, "A"), ("g", 2L, "A"), ("g", 2L, "B"),
      ("g", 3L, "A"), ("g", 3L, "A"), ("g", 3L, "A"),
      ("p", 1L, "A"), ("p", 1L, "A"), ("p", 2L, "B"), ("p", 2L, "B"),
      ("s", 1L, "A"), ("s", 1L, "A"), ("s", 2L, "A"), ("s", 2L, "A"))
      .toDF("g", "item", "cat")
    val got = Profile.fleissKappa(df, "g", "item", "cat")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("g") == ((2L, 2L, 1L, -333333L)))
    assert(got("p") == ((2L, 2L, 0L, 1000000L)))
    assert(got("s") == ((2L, 2L, 0L, null)))
  }

  test("matthewsCorr: hand 1/3, degenerate marginal NULL") {
    val df = (Seq((true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false))
      .map { case (p, y) => ("g", p, y) } ++
      Seq(("d", true, true), ("d", true, false)))
      .toDF("g", "p", "y")
    val got = Profile.matthewsCorr(df, "g", "p", "y")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) null else r.getLong(6)))).toMap
    // g: tp=2 fp=1 fn=1 tn=2 -> (4-1)/sqrt(81) = 1/3.
    assert(got("g") == ((6L, 2L, 1L, 1L, 2L, 333333L)))
    assert(got("d")._6 == null) // all-positive predictions
  }

  test("youdenJ: perfect split J=1e6, zero-J tie to lowest threshold") {
    val df = (Seq((1.0, false), (2.0, false), (3.0, true), (4.0, true))
      .map { case (v, y) => ("f", v, y) } ++
      Seq((1.0, false), (2.0, true), (3.0, false), (4.0, true))
        .map { case (v, y) => ("t", v, y) })
      .toDF("feat", "v", "y")
    val got = Profile.youdenJ(df, "feat", "v", "y")
      .collect().map(r => r.getString(0) -> ((r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)))).toMap
    // f: threshold 2 separates perfectly.
    assert(got("f") == ((2000L, 1000000L, 1000000L, 0L, 2L, 0L)))
    // t: jnum ties at v=1 and v=3 (J=0.5 both) -> lowest threshold.
    assert(got("t")._1 == 1000L && got("t")._2 == 500000L)
  }

  test("siegelTukey: extremes-vs-middle hand z, one-sided NULL") {
    // a={1,9} (tails), b={4,5}: ST ranks 1,4,3,2 -> W=3,
    // z = -2/sqrt(5/3) = -1.549193. e: one arm only -> NULL.
    val df = Seq(("g", 1.0, true, 1L), ("g", 9.0, true, 2L),
      ("g", 4.0, false, 3L), ("g", 5.0, false, 4L),
      ("e", 1.0, true, 5L), ("e", 2.0, true, 6L))
      .toDF("g", "v", "arm", "tb")
    val got = Profile.siegelTukey(df, "g", "v", "arm", "tb")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    assert(got("g") == ((2L, 2L, 3L, -1549193L)))
    assert(got("e") == ((2L, 0L, 3L, null)))
  }

  test("cuzickTrend: hand z, single-dose and all-tied NULLs") {
    // g: doses 0,0,1,1 on values 1,2,3,4 -> r2 = 2,4,6,8, 2T = 14,
    // d = 4, A = 4, S2 = 20: z = sqrt(16*12/80) = 1.549193.
    val df = Seq(("g", 0L, 1.0), ("g", 0L, 2.0),
      ("g", 1L, 3.0), ("g", 1L, 4.0),
      ("s", 0L, 1.0), ("s", 0L, 2.0),        // one dose level
      ("t", 0L, 5.0), ("t", 1L, 5.0))        // all values tied
      .toDF("g", "dose", "v")
    val got = Profile.cuzickTrend(df, "g", "dose", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))).toMap
    assert(got("g") == ((4L, 14L, 1549193L)))
    assert(got("s")._3 == null && got("t")._3 == null)
  }

  test("cuzickTrend: past-bound overflow FAILS, never a silent NULL") {
    // 40k rows, two dose arms perfectly separated by value: the
    // 4e12·d²·n(n−1) numerator overflows decimal(38,0). Under the
    // sessions' ANSI default this FAILS (NUMERIC_VALUE_OUT_OF_RANGE
    // at the operator's cast site) — locked here so an overflowed z
    // can never silently impersonate the degenerate-input NULL.
    import spark.implicits._
    val n = 40000L
    val df = spark.range(n).selectExpr("'big' AS g",
      s"CAST(CASE WHEN id < ${n / 2} THEN 0 ELSE 9 END AS BIGINT) AS dose",
      "CAST(id AS DOUBLE) AS v")
    val e = intercept[Exception] {
      Profile.cuzickTrend(df, "g", "dose", "v").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m =>
      m.contains("NUMERIC_VALUE_OUT_OF_RANGE") ||
        m.contains("cannot be represented as Decimal")))
  }

  test("matthewsCorr: past-bound overflow FAILS, never a silent NULL") {
    // 4.6M rows, perfect predictions: num = tp·tn ≈ 5.3e12, so
    // 4e12·num² ≈ 1.1e38 overflows decimal(38,0) — ANSI must raise,
    // never a silent NULL impersonating the degenerate-marginal one.
    val df = spark.range(4600000L).selectExpr("'big' AS g",
      "id % 2 = 0 AS p", "id % 2 = 0 AS y")
    val e = intercept[Exception] {
      Profile.matthewsCorr(df, "g", "p", "y").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m =>
      m.contains("NUMERIC_VALUE_OUT_OF_RANGE") ||
        m.contains("cannot be represented as Decimal")))
  }

  test("quadraticKappa: perfect 1e6, checkerboard 0") {
    import spark.implicits._
    val perfect = Seq((0L, 0L), (1L, 1L), (2L, 2L)).toDF("a", "b")
    assert(Profile.quadraticKappa(perfect, "a", "b")
      .collect().head.getLong(2) == 1000000L)
    val indep = Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L))
      .toDF("a", "b")
    assert(Profile.quadraticKappa(indep, "a", "b")
      .collect().head.getLong(2) == 0L)
  }

  test("quade: duplicated-cell block quarantines like an incomplete one") {
    // Block 9 has k rows but only 1 distinct treatment — cnt == k
    // alone would admit it; the distinct census drops it and the
    // stats match the clean 3-block input (F = 4/7 as above).
    val clean = Seq(
      ("g", 1L, "A", 1.0), ("g", 1L, "B", 2.0),
      ("g", 2L, "A", 1.0), ("g", 2L, "B", 3.0),
      ("g", 3L, "A", 5.0), ("g", 3L, "B", 4.0))
    val dup = Seq(("g", 9L, "A", 7.0), ("g", 9L, "A", 9.0))
    def run(data: Seq[(String, Long, String, Double)]) =
      Profile.quade(data.toDF("g", "blk", "trt", "v"),
        "g", "blk", "trt", "v").collect().head
    val (a, b) = (run(clean), run(clean ++ dup))
    assert(a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2))
    assert(a.getLong(4) == b.getLong(4))
    assert(a.getLong(3) == 0L && b.getLong(3) == 1L)
  }

  test("moodScale: tails-vs-middle spread, exact z, empty-side NULL") {
    val df = (Seq(1.0, 5.0).map(("g", _, true)) ++
      Seq(2.0, 3.0, 4.0).map(("g", _, false)) ++
      Seq(1.0, 2.0, 3.0).map(("e", _, true)))
      .toDF("g", "v", "a")
    val got = Profile.moodScale(df, "g", "v", "a")
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    // A holds both tails: T = (1-3)^2 + (5-3)^2 = 8 (T4 = 32),
    // E = 4, Var = 4.2 -> z = 4/sqrt(4.2) = 1.951800.
    assert(got("g") == ((2L, 3L, 32L, 1951800L)))
    assert(got("e")._2 == 0L && got("e")._4 == null)
  }

  test("brunnerMunzel: lawstat 14-vs-11 example, W = 3.1375") {
    // The Brunner & Munzel (2000) reference data as shipped in
    // lawstat's docs and scipy.stats.brunnermunzel: UNEQUAL group
    // sizes, where the canonical studentization and the
    // N·(S²/(N−n)) mis-formula diverge (they coincide only at
    // n_a = n_b — the earlier test's blind spot).
    val a = Seq(1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 2, 4, 1, 1)
    val b = Seq(3, 3, 4, 3, 1, 2, 3, 1, 1, 5, 4)
    val df = (a.map(v => ("g", v.toDouble, true)) ++
      b.map(v => ("g", v.toDouble, false))).toDF("g", "v", "a")
    val r = Profile.brunnerMunzel(df, "g", "v", "a").collect().head
    // scipy statistic 3.1374674823029505; p_hat = 0.7889610389...
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((14L, 11L, 788961L, 3137467L)))
  }

  test("energyDistance: interleaved hand case is exactly 1") {
    val df = Seq(("g", 0.0, true), ("g", 2.0, true),
      ("g", 1.0, false), ("g", 3.0, false))
      .toDF("g", "v", "a")
    val r = Profile.energyDistance(df, "g", "v", "a").collect().head
    // 2*1.5 - 1 - 1 = 1; T = (4/4)*1 = 1
    assert((r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 2L, 1000000L, 1000000L)))
  }

  test("histDistances: disjoint tails, hand TV/BC/Hellinger") {
    val df = Seq(("g", 0.0, true), ("g", 30.0, true),
      ("g", 0.0, false), ("g", 50.0, false))
      .toDF("g", "v", "a")
    val r = Profile.histDistances(df, "g", "v", "a",
      binWidthMilli = 20000L).collect().head
    // bins A:{0,1}, B:{0,2}: TV = 0.5, BC = 0.5, H = sqrt(0.5)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) ==
      ((2L, 2L, 3L, 500000L, 500000L, 707107L)))
  }

  test("cucconi: tails-vs-middle joint location-scale, C = 1.5") {
    // side=false sample B = {1,4} (the tails): sum r^2 = 17 both
    // ways -> U = V, rho = -0.938, C = U^2/(1+rho) = 1.5 exactly.
    val df = Seq(("g", 1.0, false), ("g", 4.0, false),
      ("g", 2.0, true), ("g", 3.0, true))
      .toDF("g", "v", "a")
    val r = Profile.cucconi(df, "g", "v", "a").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 1500000L)))
  }

  test("hillTail: exact log-excess mean, short-tail NULL") {
    val df = Seq(("g", 1L, math.exp(4.0)), ("g", 2L, math.exp(3.0)),
      ("g", 3L, math.exp(2.0)), ("g", 4L, math.exp(1.0)),
      ("s", 5L, 10.0), ("s", 6L, 5.0))
      .toDF("g", "id", "x")
    val got = Profile.hillTail(df, "g", "id", "x", k = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))).toMap
    // top 3 mnats 4e6, 3e6, 2e6 -> hill = (7e6 - 2*2e6)/2 = 1.5e6,
    // alpha = 1/1.5 = 0.6667
    assert(got("g") == ((4L, 1500000L, 666667L)))
    // s has only 2 positive rows < k+1 -> NULL
    assert(got("s") == ((2L, null, null)))
  }

  test("gumbelFit: moments of 1..6, zero-variance NULL") {
    val df = ((1 to 6).map(i => ("g", i.toDouble)) ++
      Seq(("z", 2.0), ("z", 2.0))).toDF("g", "v")
    val got = Profile.gumbelFit(df, "g", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))).toMap
    assert(got("g") == ((6L, 2658028L, 1458679L)))
    assert(got("z") == ((2L, null, null)))
  }

  test("lepage: pure scale drift pages through the AB component") {
    // A = {1,4} (tails) vs B = {2,3}: z_W = 0 (centers match),
    // z_AB^2 = 3 -> L = 3, below the chi2(2) 5% cut.
    val df = Seq(("g", 1.0, true), ("g", 4.0, true),
      ("g", 2.0, false), ("g", 3.0, false),
      ("e", 1.0, true), ("e", 2.0, true)) // one-sided -> NULL
      .toDF("g", "v", "a")
    val got = Profile.lepage(df, "g", "v", "a").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getBoolean(4)))).toMap
    assert(got("g") == ((2L, 2L, 3000000L, false)))
    assert(got("e") == ((2L, 0L, null, null)))
  }
}
