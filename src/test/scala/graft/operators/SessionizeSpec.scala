package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("edges surfaces the previous state per key in time order (pipeline.py:150-154)") {
    val df = Seq(
      ("d1", ts("2024-01-01 10:00:00"), 1L, "cleaning"),
      ("d1", ts("2024-01-01 10:01:00"), 2L, "cleaning"),
      ("d1", ts("2024-01-01 10:02:00"), 3L, "idle"),
      ("d2", ts("2024-01-01 10:00:30"), 4L, "idle"))
      .toDF("dev", "ts", "id", "state")
    val out = Sessionize.edges(df, "dev", "ts", "id", "state")
      .filter(Normalize.isCleaning(col("prev_state")) && Normalize.isIdle(col("state")))
    assert(rows(out).map(_.getAs[Long]("id")) == Seq(3L))
  }

  test("gapSessions starts a new session after the gap, 0-based per key") {
    val df = Seq(
      ("d1", ts("2024-01-01 10:00:00"), 1L),
      ("d1", ts("2024-01-01 10:30:00"), 2L),   // 1800 s gap, same session
      ("d1", ts("2024-01-01 12:00:00"), 3L),   // 5400 s gap, new session
      ("d2", ts("2024-01-01 00:00:00"), 4L))
      .toDF("dev", "ts", "id")
    val out = Sessionize.gapSessions(df, "dev", "ts", "id", 3600)
      .select(col("dev"), col("id"), col("session_id"))
    assert(sortedRows(out) == Seq(
      Seq("d1", 1L, 0L), Seq("d1", 2L, 0L), Seq("d1", 3L, 1L), Seq("d2", 4L, 0L)))
  }

  test("transitionCounts: per-key ordered pairs, last event drops, user census") {
    val df = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1L, "click"),
      ("u1", ts("2024-01-01 10:01:00"), 2L, "view"),
      ("u1", ts("2024-01-01 10:02:00"), 3L, "click"),
      ("u2", ts("2024-01-01 10:00:00"), 4L, "click"),
      ("u2", ts("2024-01-01 10:05:00"), 5L, "view"),
      ("u3", ts("2024-01-01 10:00:00"), 6L, "view")) // no successor
      .toDF("u", "ts", "id", "et")
    val got = Sessionize.transitionCounts(df, "u", "ts", "id", "et")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("click", "view") -> ((2L, 2L)),
      ("view", "click") -> ((1L, 1L))))
  }

  test("gapRegularity: exact zero variance flags the metronome, humans don't trip") {
    val df = Seq(
      // bot: exact 60 s cadence, 4 events = 3 equal gaps.
      ("bot", ts("2024-01-01 10:00:00"), 1L),
      ("bot", ts("2024-01-01 10:01:00"), 2L),
      ("bot", ts("2024-01-01 10:02:00"), 3L),
      ("bot", ts("2024-01-01 10:03:00"), 4L),
      // human: gaps 60 s and 120 s -> var_num = 2*(3600+14400)-180^2
      ("hum", ts("2024-01-01 10:00:00"), 5L),
      ("hum", ts("2024-01-01 10:01:00"), 6L),
      ("hum", ts("2024-01-01 10:03:00"), 7L),
      // thin: only one gap -> below minEvents, absent.
      ("thin", ts("2024-01-01 10:00:00"), 8L),
      ("thin", ts("2024-01-01 10:09:00"), 9L))
      .toDF("u", "ts", "id")
    val got = Sessionize.gapRegularity(df, "u", "ts", "id", minEvents = 3)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(6)))).toMap
    assert(got.keySet == Set("bot", "hum"))
    assert(got("bot") == ((3L, 60L, 60L, 0L, true)))
    // n=2, d=(60,120): var_num = 2*(3600+14400) - 180^2 = 3600.
    assert(got("hum") == ((2L, 60L, 120L, 3600L, false)))
  }

  test("markovNll: the off-model path scores more anomalous, exact micro-nats") {
    // Corpus: click->view happens 3 times, view->click once.
    // u1/u2/u3 follow the common path; odd walks AGAINST it.
    val df = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1L, "click"),
      ("u1", ts("2024-01-01 10:01:00"), 2L, "view"),
      ("u2", ts("2024-01-01 10:00:00"), 3L, "click"),
      ("u2", ts("2024-01-01 10:01:00"), 4L, "view"),
      ("u3", ts("2024-01-01 10:00:00"), 5L, "click"),
      ("u3", ts("2024-01-01 10:01:00"), 6L, "view"),
      ("odd", ts("2024-01-01 10:00:00"), 7L, "view"),
      ("odd", ts("2024-01-01 10:01:00"), 8L, "click"))
      .toDF("u", "ts", "id", "et")
    val got = Sessionize.markovNll(df, "u", "ts", "id", "et")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // V = 2 states. c(click->view)=3, c(click)=3: p = 4/5.
    // c(view->click)=1, c(view)=1: p = 2/3.
    val sCommon = -math.round(1e6 * math.log(4.0 / 5.0))
    val sOdd = -math.round(1e6 * math.log(2.0 / 3.0))
    assert(got("u1") == ((1L, sCommon)))
    assert(got("odd") == ((1L, sOdd)))
    assert(sOdd > sCommon) // against-the-grain path is more anomalous
  }

  test("funnel: strict order, pre-step events don't count, exact deltas") {
    val df = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1L, "view"),
      ("u1", ts("2024-01-01 10:10:00"), 2L, "click"),
      ("u1", ts("2024-01-01 10:20:00"), 3L, "purchase"),
      ("u2", ts("2024-01-01 09:00:00"), 4L, "click"), // BEFORE the view
      ("u2", ts("2024-01-01 10:00:00"), 5L, "view"),
      ("u2", ts("2024-01-01 10:05:00"), 6L, "click"),
      ("u3", ts("2024-01-01 10:00:00"), 7L, "purchase"), // never viewed
      ("u4", ts("2024-01-01 10:00:00"), 8L, "view"))
      .toDF("u", "ts", "id", "et")
    val got = Sessionize.funnel(df, "u", "ts", "et",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(got(1L) == (("view", 3L, Some(1000000L), None)))
    // u1 600 s + u2 300 s deltas; u2's 09:00 click didn't count.
    assert(got(2L) ==
      (("click", 2L, Some(666667L), Some(450000000L))))
    assert(got(3L) ==
      (("purchase", 1L, Some(333333L), Some(600000000L))))
    // The per-key time table underneath: u1's full chain, exact µs.
    val times = Sessionize.funnelTimes(df, "u", "ts", "et",
        Seq("view", "click", "purchase"))
      .filter(col("u") === "u1")
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))))
      .toMap
    val t0 = ts("2024-01-01 10:00:00").getTime * 1000L
    assert(times(1L) == ((t0, None)))
    assert(times(2L) == ((t0 + 600000000L, Some(t0))))
    assert(times(3L) == ((t0 + 1200000000L, Some(t0 + 600000000L))))
  }

  test("cohortRetention: first-bucket cohorts, exact shares") {
    val df = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1L),
      ("u1", ts("2024-01-02 10:00:00"), 2L),
      ("u1", ts("2024-01-03 10:00:00"), 3L),
      ("u2", ts("2024-01-01 23:59:59"), 4L),
      ("u2", ts("2024-01-03 00:00:01"), 5L),
      ("u3", ts("2024-01-02 00:00:00"), 6L))
      .toDF("u", "ts", "id")
    val out = Sessionize.cohortRetention(df, "u", "ts", bucketDays = 1)
      .collect()
    val base = out.map(_.getLong(0)).min
    val got = out.map(r => (r.getLong(0) - base, r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      (0L, 0L) -> ((2L, 1000000L)),
      (0L, 1L) -> ((1L, 500000L)),
      (0L, 2L) -> ((2L, 1000000L)),
      (1L, 0L) -> ((1L, 1000000L))))
  }

  test("attribution: lookback expiry, same-µs inclusive, max-tie touch") {
    val df = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1L, "click", null.asInstanceOf[java.lang.Double]),
      ("u1", ts("2024-01-01 10:00:30"), 2L, "purchase", java.lang.Double.valueOf(10.0)),
      ("u1", ts("2024-01-01 12:00:30"), 3L, "purchase", java.lang.Double.valueOf(5.0)),
      ("u2", ts("2024-01-01 08:00:00"), 4L, "view", null.asInstanceOf[java.lang.Double]),
      ("u2", ts("2024-01-02 09:00:00"), 5L, "purchase", java.lang.Double.valueOf(2.0)),
      ("u3", ts("2024-01-01 10:00:00"), 6L, "purchase", java.lang.Double.valueOf(1.0)),
      // u4: two touches at the SAME µs — the max-event_id one wins.
      ("u4", ts("2024-01-01 10:00:00"), 10L, "click", null.asInstanceOf[java.lang.Double]),
      ("u4", ts("2024-01-01 10:00:00"), 11L, "view", null.asInstanceOf[java.lang.Double]),
      ("u4", ts("2024-01-01 10:01:00"), 12L, "purchase", java.lang.Double.valueOf(4.0)),
      // u5: touch at the conversion's exact µs attributes (lag 0).
      ("u5", ts("2024-01-01 10:00:00"), 13L, "signup", null.asInstanceOf[java.lang.Double]),
      ("u5", ts("2024-01-01 10:00:00"), 14L, "purchase", java.lang.Double.valueOf(7.0)))
      .toDF("u", "ts", "id", "et", "value")
    val got = Sessionize.attribution(df, "u", "ts", "et", "value",
        "id", conversionType = "purchase", lookbackSec = 86400L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    // u1's two purchases both trace to the 10:00 click (30 s, 7230 s).
    assert(got("click") ==
      ((2L, 15000000L, Some((30000000L + 7230000000L) / 2))))
    assert(got("view") == ((1L, 4000000L, Some(60000000L))))
    assert(got("signup") == ((1L, 7000000L, Some(0L))))
    // u2's touch is 25 h stale; u3 never touched.
    assert(got("(none)") == ((2L, 3000000L, None)))
  }

  test("entropyRate: deterministic chain vs marginal, replayed sums") {
    import org.apache.spark.sql.functions.col
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    // u1: A B A B A B (A->B x3, B->A x2); u2: A A (A->A x1).
    val df = ("ABABAB".zipWithIndex.map { case (c, i) =>
      ("u1", at(i.toLong), i.toLong, c.toString) } ++
      Seq(("u2", at(0L), 10L, "A"), ("u2", at(1L), 11L, "A")))
      .toDF("k", "ts", "id", "t")
    val r = Sessionize.entropyRate(df, "k", "ts", "id", "t").head()
    assert(r.getAs[Long]("n_transitions") == 6L &&
      r.getAs[Long]("n_states") == 2L)
    // cft: (A,B,3) (B,A,2) (A,A,1); cf: A=4 B=2.
    val sRate = math.round(1e6 * 3.0 * math.log(3.0 / 4.0)) +
      math.round(1e6 * 2.0 * math.log(2.0 / 2.0)) +
      math.round(1e6 * 1.0 * math.log(1.0 / 4.0))
    assert(r.getAs[Long]("h_rate_mnat") ==
      math.round(-sRate / 6.0))
    val sMarg = math.round(1e6 * 4.0 * math.log(4.0 / 6.0)) +
      math.round(1e6 * 2.0 * math.log(2.0 / 6.0))
    assert(r.getAs[Long]("h_marginal_mnat") ==
      math.round(-sMarg / 6.0))
    // One step of memory IS predictive here: rate < marginal.
    assert(r.getAs[Long]("h_rate_mnat") <
      r.getAs[Long]("h_marginal_mnat"))
  }

  test("markovAttribution: hand chain, removal effects, shares") {
    import org.apache.spark.sql.functions.col
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    // u1/u2: A->buy; u3: B-> (no buy); u4: B->buy; u5: direct buy.
    // p(start->A)=.4, p(start->B)=.4, p(start->conv)=.2,
    // p(A->conv)=1, p(B->conv)=p(B->null)=.5 => p_conv = .8.
    val df = Seq(
      ("u1", at(0), 0L, "A"), ("u1", at(1), 1L, "buy"),
      ("u2", at(0), 2L, "A"), ("u2", at(1), 3L, "buy"),
      ("u3", at(0), 4L, "B"),
      ("u4", at(0), 5L, "B"), ("u4", at(1), 6L, "buy"),
      ("u5", at(0), 7L, "buy"))
      .toDF("k", "ts", "id", "t")
    val got = Sessionize.markovAttribution(df, "k", "ts", "id", "t",
      conversionType = "buy", iters = 8)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("A", "B"))
    val a = got("A")
    assert(a.getAs[Long]("p_conv_micro") == 800000L)
    // Without A: .2 + .4*.5 = .4 -> effect (8-4)/8 = 1/2.
    assert(a.getAs[Long]("p_removed_micro") == 400000L)
    assert(a.getAs[Long]("removal_micro") == 500000L)
    val b = got("B")
    // Without B: .2 + .4 = .6 -> effect (8-6)/8 = 1/4.
    assert(b.getAs[Long]("p_removed_micro") == 600000L)
    assert(b.getAs[Long]("removal_micro") == 250000L)
    // Shares renormalize: 1/2 : 1/4 -> 2/3 : 1/3.
    assert(a.getAs[Long]("share_micro") == 666667L)
    assert(b.getAs[Long]("share_micro") == 333333L)
  }

  test("markovAttribution: journeys truncate at the first conversion") {
    import org.apache.spark.sql.functions.col
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    // The post-conversion B touch must NOT enter the chain: the only
    // channel is A, so its removal zeroes conversion entirely.
    val df = Seq(
      ("u1", at(0), 0L, "A"), ("u1", at(1), 1L, "buy"),
      ("u1", at(2), 2L, "B"))
      .toDF("k", "ts", "id", "t")
    val got = Sessionize.markovAttribution(df, "k", "ts", "id", "t",
      conversionType = "buy", iters = 8)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("A"))
    assert(got("A").getAs[Long]("p_conv_micro") == 1000000L)
    assert(got("A").getAs[Long]("removal_micro") == 1000000L)
    assert(got("A").getAs[Long]("share_micro") == 1000000L)
  }

  test("markovAttribution: driver fold and distributed loop agree") {
    // driverCap = 0 pins the DISTRIBUTED value iteration (the at-scale
    // path must stay exercised — the r18 connectedComponents spec
    // discipline); the default cap takes the driver fold. Both must
    // produce the same rows bit for bit, including NULL shares when a
    // variant can't reach (start) and the rounded-divide chains.
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    val rng = new scala.util.Random(7)
    val chans = Seq("A", "B", "C", "D", "buy")
    val rows = (0 until 60).flatMap { u =>
      (0 until 1 + rng.nextInt(5)).map { i =>
        (s"u$u", at(i.toLong), u * 10L + i,
          chans(rng.nextInt(chans.size)))
      }
    }
    // The journey key takes every fold id type (Double keys u0 and u1
    // become 0.0 and −0.0, one journey to Spark). Channels reach the
    // fold as the string states of the transition census.
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
    for ((dt, id) <- foldIdTypes) {
      val df = frame("k" -> dt, "ts" -> TimestampType, "id" -> LongType,
          "t" -> StringType)(
        rows.map { case (k, t, i, c) => Seq(id(k.drop(1).toLong), t, i, c) })
      def run(cap: Long) = Sessionize.markovAttribution(df, "k", "ts",
          "id", "t", conversionType = "buy", iters = 8, driverCap = cap)
      val driver = byValue(run(10000L))
      assert(driver == byValue(run(0L)), s"$dt keys")
      assert(driver.nonEmpty)
    }
  }
}
