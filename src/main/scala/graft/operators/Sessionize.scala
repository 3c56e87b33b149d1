package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization — the reference's keyed edge-detection loop
  * (`pipeline.py:132-163`: remember previous status per device, emit a
  * session on the cleaning→idle transition) re-expressed declaratively
  * with window functions, so Spark shuffles once on the key and the
  * whole pass stays in whole-stage codegen.
  *
  * Scale: one shuffle on (keyCol); window sort is per-key and spills;
  * no driver-side state. The streaming twin lives in
  * [[graft.streaming.Sessionizer]].
  */
object Sessionize {

  /** F3 — completion-edge detection: rows where the previous
    * observation (per key, in time order) satisfied `wasActive` and the
    * current row satisfies `isDone`. `tieBreak` makes the order total
    * when timestamps collide. Adds `prev_<stateCol>`.
    */
  def edges(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreak: String,
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    df.withColumn(s"prev_$stateCol", lag(col(stateCol), 1).over(w))
  }

  /** Gap-based session ids: a new session starts when the gap to the
    * previous row (per key) exceeds `maxGapSeconds`, or at the first
    * row. Adds `session_id` (0-based per key). Epoch seconds are
    * floored on both sides of the comparison, matching the oracle's
    * `date_part('epoch', ts)`.
    */
  def gapSessions(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreak: String,
      maxGapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    val epoch = unix_timestamp(col(tsCol))
    val prevEpoch = lag(epoch, 1).over(w)
    val isStart = when(prevEpoch.isNull || epoch - prevEpoch > maxGapSeconds, 1L)
      .otherwise(0L)
    df.withColumn("session_id",
      sum(isStart).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
  }

  /** First-order Markov transition census: count (state → next state)
    * pairs per key's time-ordered stream, aggregated corpus-wide —
    * the behavioral fingerprint behind funnel drop-off analysis and
    * bot/UI-loop detection (a user whose click→click self-loop
    * dominates is a scraper; a purchase→error spike is an outage).
    * The last event of each key has no successor and emits nothing.
    *
    * Scale: one shuffle on the key + per-key window for `lead` (the
    * group is one user/device's events — bounded; same justification
    * as the funnel/SCD2 windows), then a map-side-combinable census
    * on (from, to) — never event×event.
    *
    * Output: (from_state, to_state, n_transitions, n_keys). */
  def transitionCounts(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreak: String,
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    df.select(col(keyCol), col(stateCol).as("from_state"),
        lead(col(stateCol), 1).over(w).as("to_state"))
      .filter(col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col(keyCol)).as("n_keys"))
  }

  /** Sequence-anomaly scoring by first-order Markov NLL: train the
    * corpus transition model (add-one smoothed over the state
    * vocabulary), then score each key's stream by the summed negative
    * log-likelihood of its own transitions — a key whose behavior the
    * corpus model finds improbable (backwards funnels, error loops,
    * scripted paths) floats to the top. The behavioral sibling of the
    * bigram-LM text perplexity gate, same micro-nat convention:
    * per-transition score = round(1e6·ln((c(f,t)+1)/(c(f)+V))) — an
    * IEEE ln of an exact rational, rounded to 1e-6, which both
    * engines compute bit-identically (the lmPerplexity precedent).
    *
    * Scale: one per-key window for `lead` (bounded group), two
    * map-side-combinable censuses for the model (states² rows — a
    * broadcast by construction), one broadcast model join back onto
    * the transitions, one final hash-agg per key. The transition
    * stream is pinned once — model and scoring both read it.
    *
    * Output: (key, n_trans, nll_micro) — higher nll_micro = more
    * anomalous; keys with < 2 events have no transitions and are
    * absent. */
  def markovNll(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreak: String,
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    val tr = Dedup.truncate(
      df.select(col(keyCol), col(stateCol).as("from_state"),
          lead(col(stateCol), 1).over(w).as("to_state"))
        .filter(col("to_state").isNotNull))
    val cft = tr.groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("__cft"))
    // From-state totals fold out of the states²-row census — a second
    // full-transition aggregation would rescan tr for the same values.
    val cf = cft.groupBy(col("from_state")).agg(sum(col("__cft")).as("__cf"))
    val v = df.agg(countDistinct(col(stateCol)).as("__nv"))
    val model = cft.join(cf, Seq("from_state"))
      .crossJoin(broadcast(v))
      .select(col("from_state"), col("to_state"),
        round(lit(1000000.0) *
            log((col("__cft") + lit(1.0)) / (col("__cf") + col("__nv"))))
          .cast("long").as("__s"))
    tr.join(broadcast(model), Seq("from_state", "to_state"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_trans"),
        (-sum(col("__s"))).as("nll_micro"))
  }

  /** Corpus entropy rate of the behavior chain — the compressibility
    * number next to [[markovNll]]'s per-key anomaly score: the
    * conditional entropy H(next | current) = −Σ_f π_f Σ_t p(t|f)·
    * ln p(t|f) of the first-order transition model, against the
    * marginal entropy H(state) for contrast (H_rate ≪ H_marginal =
    * behavior is predictable from one step of memory; equal =
    * transitions carry no signal). Both collapse to one pass over
    * the states² census: term(f,t) = c_ft·ln(c_ft/c_f) micro-nat-
    * rounded per CENSUS row, exact sums, one /N close — engine-
    * exact, and never data-sized after the transition census.
    * Output: one row (n_transitions, n_states, h_rate_mnat,
    * h_marginal_mnat). */
  def entropyRate(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreak: String,
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieBreak))
    val cft = df.select(col(keyCol), col(stateCol).as("__f"),
        lead(col(stateCol), 1).over(w).as("__t"))
      .filter(col("__t").isNotNull)
      .groupBy(col("__f"), col("__t"))
      .agg(count(lit(1)).as("__cft"))
    val cf = cft.groupBy(col("__f")).agg(sum(col("__cft")).as("__cf"))
    val joined = Dedup.truncate(cft.join(cf, Seq("__f")))
    val tot = joined.agg(sum(col("__cft")).as("__n"),
      countDistinct(col("__f")).as("n_states"))
    val rate = joined
      .select(round(lit(1e6) * col("__cft").cast("double") *
        log(col("__cft").cast("double") / col("__cf").cast("double")))
        .cast("long").as("__term"))
      .agg(sum(col("__term")).as("__sRate"))
    val marg = joined.groupBy(col("__f")).agg(max(col("__cf")).as("__c"))
      .crossJoin(broadcast(tot.select(col("__n"))))
      .select(round(lit(1e6) * col("__c").cast("double") *
        log(col("__c").cast("double") / col("__n").cast("double")))
        .cast("long").as("__term"))
      .agg(sum(col("__term")).as("__sMarg"))
    tot.crossJoin(broadcast(rate)).crossJoin(broadcast(marg))
      .select(col("__n").as("n_transitions"), col("n_states"),
        round(-col("__sRate").cast("double") / col("__n").cast("double"))
          .cast("long").as("h_rate_mnat"),
        round(-col("__sMarg").cast("double") / col("__n").cast("double"))
          .cast("long").as("h_marginal_mnat"))
  }

  /** Metronome detection: per-key inter-event-gap statistics in EXACT
    * integer arithmetic — bots fetch on a timer, humans don't, so a
    * key whose gap variance is (near-)zero over many events is
    * automation. Gaps are FLOORED epoch-second deltas (microsecond
    * deltas overflow: a week-long gap squared already exceeds 2⁶³;
    * seconds keep n·Σd² exact for a year-scale span × 10⁵ events per
    * key, and a timer bot is second-regular anyway). The variance
    * numerator n·Σd² − (Σd)² is an exact Long (zero iff all gaps
    * equal), no IEEE division anywhere — the same rational-not-float
    * contract as [[TimeSeries.groupTrend]]. Keys with < `minEvents`
    * events are absent (two gaps minimum for regularity to mean
    * anything).
    *
    * Scale: per-key window for `lag` (bounded group), then one
    * five-sum hash-agg — map-side combinable, one struct of state per
    * key. Overflow bound: n·(key's time span in seconds)² < 2⁶³.
    *
    * Output: (key, n_gaps, gap_min_s, gap_max_s, var_num, var_den,
    * metronome) — metronome = var_num == 0, i.e. ALL gaps identical. */
  def gapRegularity(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreak: String,
      minEvents: Int): DataFrame = {
    require(minEvents >= 3, "minEvents must be at least 3 (two gaps)")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    val sec = unix_timestamp(col(tsCol))
    df.select(col(keyCol), (sec - lag(sec, 1).over(w)).as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("__d")).as("gap_min_s"),
        max(col("__d")).as("gap_max_s"),
        sum(col("__d")).as("__sd"),
        sum(col("__d") * col("__d")).as("__sdd"))
      .filter(col("n_gaps") >= minEvents - 1)
      .select(col(keyCol), col("n_gaps"),
        col("gap_min_s"), col("gap_max_s"),
        (col("n_gaps") * col("__sdd") - col("__sd") * col("__sd"))
          .as("var_num"),
        (col("n_gaps") * col("n_gaps")).as("var_den"))
      .withColumn("metronome", col("var_num") === 0L)
  }

  /** Strictly-ordered funnel census: how many keys reach step k of
    * `steps` with each step's FIRST qualifying event strictly after
    * the previous step's time — the product-analytics readout
    * (view → click → purchase) computed without any per-key window:
    * step 1 is a min-aggregate, every later step is one equi-join on
    * the key (filter ts > previous step's time) + one min-aggregate,
    * so the whole funnel is `steps.length − 1` hash joins on a
    * key-sized table. "Strict" means re-using one event for two
    * steps is impossible and a click BEFORE the first view does not
    * count (the standard ordered-funnel semantics).
    *
    * Per-step deltas accumulate exactly: epoch-micro sums ride
    * DECIMAL(38,0), each average is ONE micro-rounded divide
    * (avg_sec_from_prev_micro = round(Σ∆µs / n) since µs = 1e-6 s).
    * conv_micro is the share of the STEP-1 cohort still present —
    * attached via a 1-row broadcast (annotated in the plan audit).
    * Step 1 reports NULL avg (no previous step); an empty step-1
    * cohort reports NULL conv everywhere.
    *
    * Output: (step, step_name, n_users, conv_micro,
    * avg_sec_from_prev_micro) — one row per step, step 1-based. */
  def funnel(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    val dec = "decimal(38,0)"
    val times = funnelTimes(df, keyCol, tsCol, typeCol, steps)
    val perStep = times.groupBy(col("step"))
      .agg(count(lit(1)).as("n_users"),
        // step 1 rows carry NULL prev_us ⇒ the sum is NULL there —
        // exactly the census's "no previous step" marker.
        sum((col("t_us") - col("prev_us")).cast(dec)).as("__sumd"))
    // A step NOBODY reached must still report (n_users = 0): join a
    // literal step spine, then read the step-1 cohort off the spine
    // (always exactly one row, even for an empty corpus).
    val spine = df.sparkSession.range(1, steps.length + 1)
      .select(col("id").as("step"))
      .join(perStep, Seq("step"), "left")
      .select(col("step"), coalesce(col("n_users"), lit(0L)).as("n_users"),
        col("__sumd"))
    val top = spine.filter(col("step") === 1L)
      .select(col("n_users").as("__n1"))
    spine.crossJoin(broadcast(top))
      .select(col("step"),
        element_at(array(steps.map(lit): _*), col("step").cast("int"))
          .as("step_name"),
        col("n_users"),
        when(col("__n1") > 0L,
          round(lit(1e6) * col("n_users").cast("double") /
            col("__n1").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("conv_micro"),
        when(col("__sumd").isNotNull && col("n_users") > 0L,
          round(col("__sumd").cast("double") /
            col("n_users").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long"))
          .as("avg_sec_from_prev_micro"))
  }

  /** The funnel's per-key step-time table — [[funnel]]'s aggregate is
    * one census over this; expose it for the latency distributions
    * the census's mean can't answer (p50/p90 time-to-convert, the
    * slow-cohort drill-down). One row per (key, reached step):
    * `t_us` = the step's first-qualifying event time, `prev_us` = the
    * previous step's (NULL for step 1). Same join-per-step build —
    * no per-key window. */
  def funnelTimes(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.length >= 2 && steps.length <= 8,
      "steps must list 2..8 stage names")
    require(steps.distinct.length == steps.length,
      "steps must be distinct")
    val ev = Dedup.truncate(df.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__us"), col(typeCol).as("__t")))
    val first = ev.filter(col("__t") === steps.head)
      .groupBy(col("__k")).agg(min(col("__us")).as("__prev"))
    val rowsFirst = first.select(col("__k").as(keyCol),
      lit(1L).as("step"), col("__prev").as("t_us"),
      lit(null).cast("long").as("prev_us"))
    val (_, frames) = steps.zipWithIndex.drop(1)
      .foldLeft((first, Seq(rowsFirst))) {
        case ((prev, acc), (name, i)) =>
          val cur = ev.filter(col("__t") === name)
            .join(prev, Seq("__k"))
            .filter(col("__us") > col("__prev"))
            .groupBy(col("__k"))
            .agg(min(col("__us")).as("__cur"),
              // __prev is single-valued per key (prev is key-unique)
              min(col("__prev")).as("__from"))
          val rows = cur.select(col("__k").as(keyCol),
            lit(i + 1L).as("step"), col("__cur").as("t_us"),
            col("__from").as("prev_us"))
          (cur.select(col("__k"), col("__cur").as("__prev")),
            acc :+ rows)
      }
    frames.reduce(_ unionByName _)
  }

  /** Cohort-retention matrix: bucket time into `bucketDays`-day
    * integer buckets (pure epoch-micro integer division — no
    * calendar, no timezone, identical in any engine; epochs must be
    * non-negative, stated), cohort = each key's FIRST active bucket,
    * and each (cohort, offset) cell counts the keys active again
    * `offset` buckets later. retention_micro is the cell's share of
    * its cohort's size (the offset-0 cell, which every member hits
    * by construction — always 1e6 at offset 0).
    *
    * Scale: one distinct on (key, bucket) — the activity matrix,
    * map-side combinable; one min-aggregate for cohorts; one
    * key-sized equi-join; one census; the per-cohort size table is
    * calendar-sized and broadcast back. Never event×event, no
    * windows.
    *
    * Output: (cohort_bucket, offset_idx, n_active, retention_micro). */
  def cohortRetention(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      bucketDays: Int): DataFrame = {
    require(bucketDays >= 1 && bucketDays <= 366,
      "bucketDays must be in [1, 366]")
    val span = 86400000000L * bucketDays
    val act = df.select(col(keyCol).as("__k"),
        unix_micros(col(tsCol)).as("__us"))
      .select(col("__k"), expr(s"__us div ${span}L").as("__b"))
      .distinct()
    val pinned = Dedup.truncate(act)
    val cohort = pinned.groupBy(col("__k")).agg(min(col("__b")).as("__c"))
    val census = pinned.join(cohort, Seq("__k"))
      .groupBy(col("__c"), (col("__b") - col("__c")).as("offset_idx"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = census.filter(col("offset_idx") === 0L)
      .select(col("__c"), col("n_active").as("__sz"))
    census.join(broadcast(sizes), Seq("__c"))
      .select(col("__c").as("cohort_bucket"), col("offset_idx"),
        col("n_active"),
        round(lit(1e6) * col("n_active").cast("double") /
          col("__sz").cast("double")).cast("long").as("retention_micro"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2014's
    * framework, the data-driven answer to [[attribution]]'s
    * last-touch heuristic): model each key's journey as a
    * first-order chain (start) → touches → (conv)/(null) — touches
    * truncate at the first conversion, same-µs inclusive (q291's
    * convention) — estimate transition probabilities from the
    * journey census, and score each channel by how much the
    * BOUNDED-HORIZON conversion probability drops when the channel
    * is removed (its inbound edges redirect to (null), its outbound
    * edges drop — the unreachable-node convention). p_conv is
    * "probability of converting within `iters` hops", computed by
    * `iters` rounds of value iteration with r micro-rounded after
    * EVERY round — the quantized-DL idiom: each round is exact
    * Long sums of micro×micro products and ONE rounded divide per
    * state, so the whole recursion is engine-exact and the horizon
    * is part of the operator's stated semantics, not a convergence
    * accident. Shares renormalize the per-channel removal effects
    * (clamped at 0 — quantization may nudge a worthless channel a
    * hair negative); a zero full-chain p_conv or zero total effect
    * reports NULL shares.
    *
    * Scale: one per-key window for the journey order (bounded
    * group), then EVERYTHING is (channels+3)²·(channels+1) census
    * rows — model-sized; `iters` rounds of joins over that census
    * cost nothing at any corpus size.
    * Output: (channel, p_conv_micro, p_removed_micro,
    * removal_micro, share_micro). */
  def markovAttribution(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreak: String,
      typeCol: String,
      conversionType: String,
      iters: Int = 8,
      driverCap: Long = 10000L): DataFrame = {
    require(iters >= 1 && iters <= 32, "iters must be in [1, 32]")
    val S = "(start)"; val C = "(conv)"; val N = "(null)"
    val ev = df.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__us"), col(tieBreak).as("__tb"),
      col(typeCol).as("__t"))
    val convUs = ev.filter(col("__t") === conversionType)
      .groupBy(col("__k")).agg(min(col("__us")).as("__cu"))
    val touches = ev.filter(col("__t") =!= conversionType)
      .join(convUs, Seq("__k"), "left")
      .filter(col("__cu").isNull || col("__us") <= col("__cu"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__us"), col("__tb"))
    val seq = touches
      .select(col("__k"), col("__t"), col("__cu"),
        row_number().over(w).as("__rn"),
        lead(col("__t"), 1).over(w).as("__next"))
    val mid = seq.filter(col("__next").isNotNull)
      .select(col("__t").as("from_state"), col("__next").as("to_state"))
    val first = seq.filter(col("__rn") === 1)
      .select(lit(S).as("from_state"), col("__t").as("to_state"))
    val last = seq.filter(col("__next").isNull)
      .select(col("__t").as("from_state"),
        when(col("__cu").isNotNull, lit(C)).otherwise(lit(N))
          .as("to_state"))
    // Converted keys whose journey has NO touch row: (start)→(conv).
    val direct = convUs.join(
        touches.select(col("__k")).distinct(), Seq("__k"), "left_anti")
      .select(lit(S).as("from_state"), lit(C).as("to_state"))
    val counts = mid.unionByName(first).unionByName(last)
      .unionByName(direct)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col("from_state"))
      .agg(sum(col("__c")).as("__ct"))
    val trans0 = Dedup.truncate(counts.join(totals, Seq("from_state"))
      .select(col("from_state"), col("to_state"),
        round(lit(1e6) * col("__c").cast("double") /
          col("__ct").cast("double")).cast("long").as("__p")))
    // Driver fold: past the journey census everything is model-sized.
    // It replicates the exact arithmetic: Long sums of micro×micro
    // products (≤ 1e12 per term, no overflow at the cap) and Spark's
    // Round(double) via [[graft.functions.SeriesKernels.roundHalfUp]]
    // per state per round.
    val fold = DriverFold(driverCap,
      DriverFold.Input(trans0, Seq("from_state", "to_state")))
    if (fold.isDefined) {
      val S0 = S; val C0 = C; val N0 = N
      val edgesL = fold.get.rows(0).map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val chansL = edgesL.map(_._1).filter(_ != S0).distinct.sorted
      val variantsL = chansL :+ "(full)"
      val pconvL = scala.collection.mutable.LinkedHashMap
        .empty[String, Long]
      for (v <- variantsL) {
        val vtV = edgesL.filter(_._1 != v)
          .map { case (f, t0, p) =>
            ((f, if (t0 == v) N0 else t0), p) }
          .groupBy(_._1)
          .map { case (k, xs) => (k._1, k._2, xs.map(_._2).sum) }
          .toSeq
        val statesV = (vtV.map(_._1) ++ vtV.map(_._2)).distinct
        def pinL(s: String, r: Long): Long =
          if (s == C0) 1000000L else if (s == N0) 0L else r
        var rM: Map[String, Long] =
          statesV.map(s => s -> pinL(s, 0L)).toMap
        for (_ <- 1 to iters) {
          val nr = vtV.groupBy(_._1).map { case (f, es) =>
            f -> graft.functions.SeriesKernels.roundHalfUp(
              es.map { case (_, t0, p) => p * rM(t0) }.sum.toDouble /
                1e6)
          }
          rM = statesV.map(s => s -> pinL(s, nr.getOrElse(s, 0L))).toMap
        }
        if (rM.contains(S0)) pconvL(v) = rM(S0)
      }
      val spark = df.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("channel",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("p_conv_micro",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p_removed_micro",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("removal_micro",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("share_micro",
          org.apache.spark.sql.types.LongType)))
      // eff replicates the distributed crossJoin(broadcast(pfull)):
      // no (full) pconv row ⇒ empty output, channel rows require
      // their own pconv row (S reachable in that variant's states).
      val effL = pconvLToEff(pconvL, chansL)
      return DriverFold.frame(spark, effL, schema)
    }
    val chans = trans0.select(col("from_state").as("__v"))
      .filter(col("__v") =!= S).distinct()
    val variants = Dedup.truncate(
      chans.unionByName(chans.sparkSession.range(1)
        .select(lit("(full)").as("__v"))))
    val vt = Dedup.truncate(trans0.crossJoin(broadcast(variants))
      .filter(col("from_state") =!= col("__v"))
      .select(col("__v"), col("from_state"),
        when(col("to_state") === col("__v"), lit(N))
          .otherwise(col("to_state")).as("to_state"), col("__p"))
      .groupBy(col("__v"), col("from_state"), col("to_state"))
      .agg(sum(col("__p")).as("__p")))
    val states = Dedup.truncate(
      vt.select(col("__v"), col("from_state").as("__s"))
        .union(vt.select(col("__v"), col("to_state").as("__s")))
        .distinct())
    def pin(r: Column) = when(col("__s") === C, lit(1000000L))
      .when(col("__s") === N, lit(0L)).otherwise(r)
    var r = states.withColumn("__r", pin(lit(0L)))
    for (_ <- 1 to iters) {
      val nr = vt.join(r.select(col("__v"),
          col("__s").as("to_state"), col("__r").as("__rt")),
          Seq("__v", "to_state"))
        .groupBy(col("__v"), col("from_state"))
        .agg(round(sum(col("__p") * col("__rt")).cast("double") /
          lit(1e6)).cast("long").as("__nr"))
      r = Dedup.truncate(states
        .join(nr.select(col("__v"), col("from_state").as("__s"),
          col("__nr")), Seq("__v", "__s"), "left")
        .select(col("__v"), col("__s"),
          pin(coalesce(col("__nr"), lit(0L))).as("__r")))
    }
    val pconv = r.filter(col("__s") === S)
      .select(col("__v"), col("__r"))
    val pfull = pconv.filter(col("__v") === "(full)")
      .select(col("__r").as("__pf"))
    val eff = pconv.filter(col("__v") =!= "(full)")
      .crossJoin(broadcast(pfull))
      .select(col("__v").as("channel"),
        col("__pf").as("p_conv_micro"),
        col("__r").as("p_removed_micro"),
        when(col("__pf") > 0L,
          greatest(lit(0L), round(lit(1e6) *
            (col("__pf") - col("__r")).cast("double") /
            col("__pf").cast("double")).cast("long")))
          .otherwise(lit(null).cast("long")).as("removal_micro"))
    val tot = eff.agg(sum(col("removal_micro")).as("__te"))
    eff.crossJoin(broadcast(tot))
      .select(col("channel"), col("p_conv_micro"),
        col("p_removed_micro"), col("removal_micro"),
        when(col("__te") > 0L,
          round(lit(1e6) * col("removal_micro").cast("double") /
            col("__te").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("share_micro"))
  }

  /** Last-touch attribution census: every `conversionType` event is
    * attributed to the key's most recent OTHER event (the "touch")
    * at-or-before it — but only if that touch is within
    * `lookbackSec`; staler or absent touches land in the "(none)"
    * bucket. The marketing-attribution readout, built exactly like
    * [[graft.operators.Incremental.asOfJoin]]: touches collapse to
    * one per (key, µs) first (ties broken to the max-`tieBreak` row
    * — total and engine-neutral), then one union + per-key running
    * last-non-null struct gives each conversion its as-of touch in a
    * single shuffle — no correlated per-row lookup. The per-key
    * window is a bounded group (one key's events; the asOfJoin/
    * funnel-window justification).
    *
    * Sums are exact: value micro-quantizes once, lag is an exact
    * epoch-µs delta, both accumulate in DECIMAL(38,0);
    * avg_lag_sec_micro = round(Σlag_µs / n). A touch at the SAME
    * microsecond attributes (inclusive bound, the as-of convention).
    *
    * Output: (channel, n_conv, sum_value_micro, avg_lag_sec_micro)
    * — channel is a touch type or "(none)"; NULL lag for "(none)". */
  def attribution(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      valueCol: String,
      tieBreak: String,
      conversionType: String,
      lookbackSec: Long): DataFrame = {
    require(lookbackSec > 0, "lookbackSec must be positive")
    val dec = "decimal(38,0)"
    val ev = df.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__us"), col(typeCol).as("__t"),
      col(valueCol).cast("double").as("__v"), col(tieBreak).as("__tb"))
    val touches = ev.filter(col("__t") =!= conversionType)
      .groupBy(col("__k"), col("__us"))
      .agg(max_by(col("__t"), col("__tb")).as("__ch"))
      .select(col("__k"), col("__us"),
        struct(col("__us").as("at"), col("__ch").as("ch")).as("__touch"),
        lit(0).as("__kind"), lit(null).cast("double").as("__v"))
    val convs = ev.filter(col("__t") === conversionType)
      .select(col("__k"), col("__us"),
        lit(null).cast("struct<at:bigint,ch:string>").as("__touch"),
        lit(1).as("__kind"), col("__v"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__us"), col("__kind"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val attributed = touches.unionByName(convs)
      .withColumn("__asof", last(col("__touch"), ignoreNulls = true).over(w))
      .filter(col("__kind") === 1)
      .select(col("__v"),
        (col("__us") - col("__asof.at")).as("__lag"),
        when(col("__asof").isNotNull &&
            col("__us") - col("__asof.at") <= lookbackSec * 1000000L,
          col("__asof.ch")).otherwise(lit("(none)")).as("channel"))
    attributed.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conv"),
        sum(round(col("__v") * lit(1e6)).cast("long").cast(dec))
          .cast("long").as("sum_value_micro"),
        when(col("channel") === "(none)", lit(null).cast("long"))
          .otherwise(round(
            sum(when(col("channel") =!= "(none)", col("__lag"))
              .cast(dec)).cast("double") /
            count(lit(1)).cast("double")).cast("long"))
          .as("avg_lag_sec_micro"))
  }

  /** Driver twin of [[markovAttribution]]'s effect/share tail —
    * replicates the distributed `eff`/share stage row for row: no
    * "(full)" p_conv ⇒ empty result; a channel row requires its own
    * p_conv (start reachable in that variant); removal is NULL when
    * p_full = 0; shares are NULL unless the removal total is > 0;
    * every rounded divide is the same single IEEE chain under
    * [[graft.functions.SeriesKernels.roundHalfUp]]. */
  private def pconvLToEff(
      pconv: scala.collection.mutable.LinkedHashMap[String, Long],
      chans: Seq[String]): Seq[org.apache.spark.sql.Row] = {
    if (!pconv.contains("(full)")) return Seq.empty
    val pf = pconv("(full)")
    val rows0 = chans.flatMap { c =>
      pconv.get(c).map { r =>
        val removal: java.lang.Long =
          if (pf > 0L) java.lang.Long.valueOf(math.max(0L,
            graft.functions.SeriesKernels.roundHalfUp(
              1e6 * (pf - r).toDouble / pf.toDouble)))
          else null
        (c, r, removal)
      }
    }
    val anyRemoval = rows0.exists(_._3 != null)
    val te = rows0.collect {
      case (_, _, rm) if rm != null => rm.longValue }.sum
    rows0.map { case (c, r, removal) =>
      val share: java.lang.Long =
        if (anyRemoval && te > 0L && removal != null)
          java.lang.Long.valueOf(
            graft.functions.SeriesKernels.roundHalfUp(
              1e6 * removal.longValue.toDouble / te.toDouble))
        else null
      org.apache.spark.sql.Row(c, pf, r, removal, share)
    }
  }
}
