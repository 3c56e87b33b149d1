package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-profiling and constraint-validation operators — the
  * deequ/Great-Expectations surface a pipeline runs BEFORE training
  * on a new drop: per-column completeness/cardinality/range profile,
  * declarative row-level constraint census, and referential-integrity
  * checks. The reference's analogue is its per-row validation at the
  * ingest boundary (`src/roborock_collector.py:295-352` null-guarding
  * every field); at 100 TB validation must be a handful of scans, not
  * a row loop.
  */
object Profile {

  /** Per-column profile in ONE scan: row count, null count, exact
    * distinct count, and min/max (typed comparison, rendered as
    * strings so heterogeneous columns share one output schema).
    * The wide single-row aggregate pivots to one row per column
    * AFTER aggregation — so a 100-column profile is still one job.
    *
    * Exact distinct per column compiles to one Expand (×|cols| rows)
    * feeding a single aggregate — the standard multi-distinct plan;
    * at 100 TB swap in approx_count_distinct if ±2% is acceptable
    * (not done here: the correctness gate wants exact).
    *
    * Output: (column, n_rows, n_null, n_distinct, min_s, max_s). */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    // Working columns are keyed by column INDEX — col() would parse a
    // dotted source column name as struct access.
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(c)).as(s"__nn_$i"),
        countDistinct(col(c)).as(s"__nd_$i"),
        min(col(c)).cast("string").as(s"__mn_$i"),
        max(col(c)).cast("string").as(s"__mx_$i"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    wide.select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column"),
          col("__n").as("n_rows"),
          (col("__n") - col(s"__nn_$i")).as("n_null"),
          col(s"__nd_$i").as("n_distinct"),
          col(s"__mn_$i").as("min_s"),
          col(s"__mx_$i").as("max_s"))
      }: _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Row-level constraint census in ONE scan: each rule is a boolean
    * "row passes" predicate; a NULL verdict counts as a VIOLATION
    * (SQL three-valued logic would silently pass unknowns — a
    * validator must not). All rules evaluate in a single map pass +
    * one-row aggregate, pivoted to a row per rule.
    *
    * Output: (rule, n_rows, n_violations), rules in input order
    * preserved by name. */
  def checkConstraints(
      df: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "rules must be non-empty")
    // Working columns are keyed by rule INDEX, not name — col() parses
    // dots in names as struct access, and rule names are free text.
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L))
        .as(s"__v_$i")
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    wide.select(explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("rule"),
          col("__n").as("n_rows"),
          col(s"__v_$i").as("n_violations"))
      }: _*)).as("__r"))
      .select(col("__r.*"))
  }

  /** Distribution-drift census between two snapshots of the same
    * feature (data-drift monitoring, the integer-exact core of a PSI
    * check): per pre-bucketed value, counts and micro-proportions on
    * both sides plus their absolute delta. The PSI/KL log factor is
    * deliberately NOT taken (libm would cross the engine boundary) —
    * max/sum of `delta_micro` is the drift statistic, exactly the
    * L∞/L1 histogram distance alert thresholds are set on.
    *
    * Scale: two map-side-combinable bucket censuses + a full-outer
    * equi-join on the bucket (histogram-sized) + two 1-row broadcast
    * total attaches. Buckets absent on one side report 0 there.
    *
    * Output: (bucket, n_old, n_new, p_old_micro, p_new_micro,
    * delta_micro). An EMPTY side yields NULL proportions (integral
    * divide-by-zero quarantines rather than inventing 0%). */
  def histogramDrift(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      bucketCol: String): DataFrame = {
    val o = oldSnap.groupBy(col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("n_old"))
    val n = newSnap.groupBy(col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("n_new"))
    // Pinned: both the totals aggregate and the final projection read
    // the joined census — without this the two snapshot scans and the
    // full-outer join would run twice.
    val joined = Dedup.truncate(o.join(n, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new")))
    val totals = joined.agg(sum(col("n_old")).as("__to"),
      sum(col("n_new")).as("__tn"))
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_old"), col("n_new"),
        expr("(1000000L * n_old) div __to").as("p_old_micro"),
        expr("(1000000L * n_new) div __tn").as("p_new_micro"))
      .withColumn("delta_micro",
        abs(col("p_old_micro") - col("p_new_micro")))
  }

  /** Referential-integrity violations: fact rows whose `fkCol` value
    * has no match in `dim.pkCol` — a left-anti equi-join, the
    * scale-correct FK check (never fact×dim; AQE broadcasts small
    * dims). NULL foreign keys are NOT violations (SQL FK semantics:
    * a NULL reference is absent, not dangling) — filter upstream if
    * the column is also NOT NULL. Returns the violating fact rows
    * unchanged; callers census or quarantine them. */
  def fkViolations(
      fact: DataFrame,
      fkCol: String,
      dim: DataFrame,
      pkCol: String): DataFrame =
    fact.filter(col(fkCol).isNotNull)
      .join(dim.select(col(pkCol).as(fkCol)).distinct(),
        Seq(fkCol), "left_anti")

  /** Cohen's κ between two boolean verdict columns — the question a
    * filter owner actually asks before swapping a cheap heuristic for
    * an expensive classifier: "do they agree beyond chance?" (raw
    * accuracy flatters any pair when one class dominates, which in
    * quality filtering it always does). κ = (pₒ − pₑ)/(1 − pₑ) over
    * the 2×2 contingency table, computed as the EXACT integer ratio
    * (A − B)/(n² − B) with A = n·(n₁₁ + n₀₀),
    * B = (n₁₁+n₁₀)(n₁₁+n₀₁) + (n₀₁+n₀₀)(n₁₀+n₀₀) — one divide,
    * micro-quantized. Perfect chance agreement (n² = B) yields NULL κ
    * rather than a 0/0. NULL verdicts are excluded (they are "not
    * rated", not a third class).
    *
    * Scale: a single scan into one 5-long aggregate row. The integer
    * products need n ≲ 2·10⁹ to stay in a long (n² term); beyond
    * that, κ per shard/stratum is the statistically honest form
    * anyway (pooling heterogeneous strata inflates pₑ — Simpson's).
    *
    * Output: 1 row (n, n11, n10, n01, n00, po_micro, pe_micro,
    * kappa_micro). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol)
    val b = col(bCol)
    def cell(p: Column) = sum(when(p, 1L).otherwise(0L))
    val g = df.filter(a.isNotNull && b.isNotNull)
      .agg(count(lit(1)).as("n"),
        cell(a && b).as("n11"), cell(a && !b).as("n10"),
        cell(!a && b).as("n01"), cell(!a && !b).as("n00"))
    val n = col("n")
    val bigA = n * (col("n11") + col("n00"))
    val bigB = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")) * (col("n10") + col("n00"))
    g.select(n, col("n11"), col("n10"), col("n01"), col("n00"),
      round(lit(1e6) * (col("n11") + col("n00")).cast("double") /
        n.cast("double")).cast("long").as("po_micro"),
      round(lit(1e6) * bigB.cast("double") /
        (n * n).cast("double")).cast("long").as("pe_micro"),
      when(n * n === bigB, lit(null).cast("long")).otherwise(
        round(lit(1e6) * (bigA - bigB).cast("double") /
          (n * n - bigB).cast("double")).cast("long")).as("kappa_micro"))
  }

  /** Exact half-away-from-zero micro rounding of the rational
    * num/den (den > 0, num any sign): sign-split around the
    * non-negative (2e6·|num| + den) divfloor (2·den) — the house
    * argmin-safe idiom, mirrored by `//` on non-negative HUGEINTs
    * (sign outside) in the oracles, so no engine's floor-vs-truncate
    * division convention can bite. */
  private def microHalfAway(num: Column, den: Column): Column = {
    val dec = "decimal(38,0)"
    val pos = TimeSeries.divFloorDec(
      (lit(2000000L).cast(dec) * abs(num.cast(dec)) +
        den.cast(dec)).cast(dec),
      (lit(2L).cast(dec) * den.cast(dec)).cast(dec)).cast("long")
    when(num < 0, -pos).otherwise(pos)
  }

  /** Fleiss' κ per group — multi-rater categorical agreement beyond
    * chance (the multi-rater generalization of [[cohenKappa]]; the
    * labeling-QA question "do my N judges agree more than chance
    * would"): items are rated m times each into categories, κ =
    * (P̄ − P̄e)/(1 − P̄e) over the per-item pair-agreement mean and
    * the squared category-share chance term. Only (item, category)
    * COUNTS enter — rater identity never does — so the input is one
    * row per rating. m is the group's MODAL per-item rating count
    * (ties to the larger m); items with any other count quarantine
    * into n_dropped_items (the kendallW completeness discipline —
    * Fleiss' formula requires uniform m), and groups whose modal
    * m < 2 are absent (no pairs to agree). κ is the EXACT integer
    * rational [S·(Nm)² − C·Nm(m−1)] / [Nm(m−1)·((Nm)² − C)] with
    * S = ΣΣ n_ij(n_ij−1), C = Σ_j c_j², emitted as ONE half-away
    * micro rounding; all-one-category groups ((Nm)² = C) report
    * NULL κ rather than 0/0.
    *
    * Scale: two hash-aggregates and a category-marginal sum — no
    * window, no self-join; the modal-m election is a per-group
    * count-of-counts integer argmax.
    * Output: (groupCol, n_items, m, n_dropped_items, kappa_micro). */
  def fleissKappa(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      categoryCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(itemCol).isNotNull &&
        col(categoryCol).isNotNull)
      .select(col(groupCol).as("__g"), col(itemCol).as("__i"),
        col(categoryCol).as("__c"))
    val icnt = base.groupBy(col("__g"), col("__i"))
      .agg(count(lit(1)).as("__cnt"))
    val mode = icnt.groupBy(col("__g"), col("__cnt"))
      .agg(count(lit(1)).as("__ni"))
      .groupBy(col("__g"))
      .agg(max(struct(col("__ni"), col("__cnt"))).as("__w"))
      .select(col("__g"), col("__w.__cnt").as("__m"))
      .filter(col("__m") >= 2L)
    val flagged = icnt.join(broadcast(mode), Seq("__g"))
      .select(col("__g"), col("__i"), col("__m"),
        (col("__cnt") === col("__m")).as("__keep"))
    val dropped = flagged.groupBy(col("__g"))
      .agg(sum(when(!col("__keep"), 1L).otherwise(0L))
        .as("n_dropped_items"))
    val kept = flagged.filter(col("__keep"))
      .select(col("__g"), col("__i"), col("__m"))
    val cells = base.join(kept, Seq("__g", "__i"))
      .groupBy(col("__g"), col("__i"), col("__m"), col("__c"))
      .agg(count(lit(1)).as("__nij"))
    val s = cells.groupBy(col("__g"), col("__m"))
      .agg(countDistinct(col("__i")).as("n_items"),
        sum((col("__nij").cast(dec) * (col("__nij") - 1L)).cast(dec))
          .as("__s"))
    val cmar = cells.groupBy(col("__g"), col("__c"))
      .agg(sum(col("__nij")).as("__cj"))
      .groupBy(col("__g"))
      .agg(sum((col("__cj").cast(dec) * col("__cj")).cast(dec))
        .as("__cc"))
    val nm = (col("n_items").cast(dec) * col("__m")).cast(dec)
    val num = (col("__s") * nm * nm -
      col("__cc") * nm * (col("__m").cast(dec) - lit(1L))).cast(dec)
    val den = (nm * (col("__m").cast(dec) - lit(1L)) *
      (nm * nm - col("__cc"))).cast(dec)
    s.join(cmar, Seq("__g")).join(dropped, Seq("__g"))
      .select(col("__g").as(groupCol), col("n_items"),
        col("__m").as("m"), col("n_dropped_items"),
        when(den > 0, microHalfAway(num, den))
          .otherwise(lit(null).cast("long")).as("kappa_micro"))
  }

  /** Quadratic-weighted Cohen's κ between two ordinal integer
    * verdict columns — the ordinal-judge calibration number (weights
    * (i−j)² punish far disagreements more, the convention behind
    * human-vs-model rating comparisons): κ_w = 1 − n·ΣwO / ΣwRC
    * with ΣwO = Σ_rows (a−b)² and ΣwRC = Σ_ij (i−j)²·r_i·c_j over
    * the marginal counts — all integers, one scan plus a k×k
    * marginal cross (k = distinct categories; keep it to the
    * dozens), one half-away micro rounding of the exact rational
    * (ΣwRC − n·ΣwO)/ΣwRC. Both-sides-constant input (ΣwRC = 0)
    * reports NULL. Categories must already BE small integers
    * (cast long); map labels upstream.
    * Output: 1 row (n, sum_wo, kappa_micro). */
  def quadraticKappa(
      df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long").as("__a"),
        col(bCol).cast("long").as("__b"))
    val t = base.agg(count(lit(1)).as("n"),
      sum(((col("__a") - col("__b")) * (col("__a") - col("__b")))
        .cast(dec)).as("__swo"))
    val ra = base.groupBy(col("__a")).agg(count(lit(1)).as("__r"))
    val cb = base.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
    val e = ra.crossJoin(cb)
      .agg(sum((((col("__a") - col("__b")) *
        (col("__a") - col("__b"))).cast(dec) *
        col("__r") * col("__c")).cast(dec)).as("__swrc"))
    val num = (col("__swrc") -
      col("n").cast(dec) * col("__swo")).cast(dec)
    t.crossJoin(e)
      .select(col("n"), col("__swo").cast("long").as("sum_wo"),
        when(col("__swrc") > 0, microHalfAway(num, col("__swrc")))
          .otherwise(lit(null).cast("long")).as("kappa_micro"))
  }

  /** Matthews correlation coefficient per group — the one-number
    * binary-classifier quality that survives class imbalance
    * (chance = 0, perfect = ±1e6, unlike accuracy or F1): MCC =
    * (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)) over the 2×2
    * confusion census. EXACT: the numerator is an integer and the
    * root enters only through (2e6·MCC)² = 4e12·num² div D, so the
    * emitted micro is sign(num)·(isqrt+1) div 2 via the clamped-
    * isqrt toolkit — no libm result in the output. Any empty
    * marginal (D = 0) reports NULL. One scan into a 5-long
    * aggregate per group; the decimal(38,0) num² bound keeps exact
    * reporting to n ≲ 2·10⁶ rows/group — stratify beyond that
    * (the [[cohenKappa]] honesty argument).
    * Output: (groupCol, n, tp, fp, fn, tn, mcc_micro). */
  def matthewsCorr(
      df: DataFrame,
      groupCol: String,
      predCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val p = col(predCol).cast("boolean")
    val y = col(labelCol).cast("boolean")
    def cell(c: Column) = sum(when(c, 1L).otherwise(0L))
    val g = df.filter(p.isNotNull && y.isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("n"), cell(p && y).as("tp"),
        cell(p && !y).as("fp"), cell(!p && y).as("fn"),
        cell(!p && !y).as("tn"))
    val num = (col("tp").cast(dec) * col("tn") -
      col("fp").cast(dec) * col("fn")).cast(dec)
    val dd = ((col("tp") + col("fp")).cast(dec) *
      (col("tp") + col("fn")) * (col("tn") + col("fp")) *
      (col("tn") + col("fn"))).cast(dec)
    val q4 = TimeSeries.divFloorDec(
      (lit(4000000000000L).cast(dec) * num * num).cast(dec), dd)
    // q4 is its own column: zMicroFromQ reads its argument about nine
    // times, and inlined into the aggregate's output code the copies
    // outgrow the 64 KB method limit of whole-stage codegen.
    g.withColumn("__q4", when(dd > 0, q4))
      .select(col("__g").as(groupCol), col("n"), col("tp"), col("fp"),
      col("fn"), col("tn"),
      // Same overflow-vs-degeneracy honesty as [[cuzickTrend]]:
      // under the sessions' ANSI default, decimal(38,0) overflow of
      // 4e12·num² (n ≳ 2e6 per group) FAILS with
      // NUMERIC_VALUE_OUT_OF_RANGE rather than impersonating the
      // degenerate-marginal NULL (ProfileSpec locks the throw).
      when(dd > 0, TimeSeries.zMicroFromQ(col("__q4"), num < 0))
        .otherwise(lit(null).cast("long")).as("mcc_micro"))
  }

  /** Youden's J optimal cut per feature — "where do I threshold this
    * score" against a binary label (J = TPR − FPR at the cut,
    * positive = value > threshold): the same melted prefix
    * construction as [[decisionStump]] (value cells → ONE running
    * (count, positives) prefix → candidate thresholds at observed
    * cell values, top cell excluded), elected by the EXACT integer
    * key (max J numerator, ties to the lowest threshold) — every
    * candidate shares the denominator pp·(nn−pp), so the numerator
    * alone orders exactly and no rounded value enters the argmax
    * (the r15 argmin discipline). Features missing a class entirely
    * (pp = 0 or pp = nn) are absent — J is undefined there. The
    * reported micros (J, TPR, FPR) are half-away roundings of exact
    * rationals derived from the elected row only.
    * Output: (featureCol, n, pos, threshold_milli, j_micro,
    * tpr_micro, fpr_micro, n_le, pos_le). */
  def youdenJ(
      df: DataFrame,
      featureCol: String,
      valueCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(featureCol).isNotNull && col(valueCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(featureCol).cast("string").as("__f"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
          .as("__y"))
    val cells = base.groupBy(col("__f"), col("__v"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    val run = Ranking.groupRunningSums(cells, "__f", Seq("__v"),
      Seq("__n" -> "__cn", "__p" -> "__cp"))
    val tot = cells.groupBy(col("__f"))
      .agg(sum(col("__n")).as("__tn"), sum(col("__p")).as("__tp"))
      .filter(col("__tp") > 0L && col("__tp") < col("__tn"))
    val j = run.join(broadcast(tot), Seq("__f"))
      .filter(col("__cn") < col("__tn"))
    val negT = col("__tn") - col("__tp")
    val jnum = ((col("__tp") - col("__cp")).cast(dec) * negT -
      (negT - (col("__cn") - col("__cp"))).cast(dec) * col("__tp"))
      .cast(dec)
    val scored = j.select(col("__f"), col("__tn"), col("__tp"),
      struct((-jnum).as("nj"), col("__v").as("v"),
        col("__cn").as("nl"), col("__cp").as("pl")).as("__s"))
    val el = scored.groupBy(col("__f"))
      .agg(max(col("__tn")).as("n"), max(col("__tp")).as("pos"),
        min(col("__s")).as("__b"))
    val nn = col("n")
    val pp = col("pos")
    val cn = col("__b.nl")
    val cp = col("__b.pl")
    val nneg = nn - pp
    val jnumEl = ((pp - cp).cast(dec) * nneg -
      (nneg - (cn - cp)).cast(dec) * pp).cast(dec)
    el.select(col("__f").as(featureCol), nn, pp,
      col("__b.v").as("threshold_milli"),
      microHalfAway(jnumEl, (pp.cast(dec) * nneg).cast(dec))
        .as("j_micro"),
      microHalfAway((pp - cp).cast(dec), pp.cast(dec))
        .as("tpr_micro"),
      microHalfAway((nneg - (cn - cp)).cast(dec), nneg.cast(dec))
        .as("fpr_micro"),
      cn.as("n_le"), cp.as("pos_le"))
  }

  /** Cuzick's trend test per group — "does the response RISE with
    * the ordered dose" (the nonparametric dose-response workhorse:
    * Wilcoxon machinery against an ordinal group score, the ordered
    * sibling of [[moodsMedian]]'s unordered k-sample question):
    * 2T = Σ l_i·r2_i over pooled DOUBLED midranks (exact integers,
    * the [[brunnerMunzel]] cells + one value-prefix construction —
    * never a per-key window), centered at E[2T] = (n+1)·Σ l_g n_g
    * and studentized by the exact permutation variance: z² =
    * d²·n(n−1)/(A·S2) with d = 2T − (n+1)·L1, A = n·L2 − L1², and
    * S2 = Σ r2² − n(n+1)² — the tie correction lives INSIDE S2
    * (midranks shrink it), so there is no separate tie factor and
    * no float anywhere before the final clamped-isqrt z. Keys with
    * one dose level (A = 0), all values tied (S2 = 0), or n < 2
    * report NULL z. The decimal(38,0) numerator 4e12·d²·n(n−1)
    * bounds exact reporting at n ≲ 2·10⁴ rows/key for small integer
    * doses — past it the query FAILS (the sessions' ANSI default
    * raises NUMERIC_VALUE_OUT_OF_RANGE at this cast site; never a
    * silent NULL that impersonates degeneracy); stratify the key.
    * Dose scores must be small non-negative integers (cast long).
    * Output: (keyCol, n, t2, z_micro). */
  def cuzickTrend(
      df: DataFrame,
      keyCol: String,
      doseCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull &&
        col(doseCol).isNotNull)
      .select(col(keyCol).as("__k"),
        col(doseCol).cast("long").as("__l"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"))
    val cells = base.groupBy(col("__k"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val run = Ranking.groupRunningSums(cells, "__k", Seq("__v"),
      Seq("__c" -> "__cum"))
    val r2 = run.select(col("__k"), col("__v"),
      (lit(2L) * (col("__cum") - col("__c")) + col("__c") + 1L)
        .as("__r2"))
    val agg = base.join(r2, Seq("__k", "__v"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n"),
        sum(col("__l")).as("__l1"),
        sum(col("__l") * col("__l")).as("__l2"),
        sum((col("__l").cast(dec) * col("__r2")).cast(dec)).as("__t2"),
        sum((col("__r2").cast(dec) * col("__r2")).cast(dec))
          .as("__sr22"))
    val n = col("n")
    val d = (col("__t2") - (n + 1L).cast(dec) * col("__l1")).cast(dec)
    val a = (n.cast(dec) * col("__l2") -
      col("__l1").cast(dec) * col("__l1")).cast(dec)
    val s2 = (col("__sr22") -
      (n.cast(dec) * (n + 1L) * (n + 1L)).cast(dec)).cast(dec)
    val q4 = TimeSeries.divFloorDec(
      (lit(4000000000000L).cast(dec) * d * d * n * (n - 1L)).cast(dec),
      (a * s2).cast(dec))
    agg.select(col("__k").as(keyCol), n,
      col("__t2").cast("long").as("t2"),
      // Overflow-vs-degeneracy honesty: every graft session runs
      // Spark 4's ANSI default, so a decimal(38,0) OVERFLOW of the
      // 4e12·d²·n(n−1) numerator (past the documented n ≲ 2e4 bound)
      // FAILS the query with NUMERIC_VALUE_OUT_OF_RANGE naming this
      // cast site — it can never silently impersonate the legitimate
      // degenerate-input NULL below (ProfileSpec locks the throw).
      when(a > 0 && s2 > 0 && n >= 2L,
        TimeSeries.zMicroFromQ(q4, d < 0))
        .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Siegel–Tukey rank dispersion test per group — "does arm A have
    * wider SPREAD than arm B" with no variance estimate anywhere
    * (Wilcoxon machinery over alternating-extreme ranks: the most
    * extreme pooled values get the smallest ranks from both ends,
    * so a scale difference shifts the rank sum): pooled order is
    * the exact (value, tieBreak) rank ([[Ranking.groupRank]]; the
    * tiebreak must make it total per group, same contract as
    * [[durbinWatson]] — stated because tied values get ARBITRARY
    * but deterministic alternation, the classical ST caveat), each
    * position's ST rank is a CLOSED FORM of (i, n) (bottom distance
    * d: odd→2d−1, even→2d; top distance d: odd→2d, even→2d−1; odd
    * middle→n), W = Σ ranks of arm A, and z studentizes by the
    * exact Wilcoxon null through the clamped-isqrt toolkit:
    * (2e6·z)² = 12e12·(2W − n_a(n+1))² div (n_a·n_b·(n+1)).
    * One-sided groups (n_a or n_b = 0) report NULL z.
    *
    * Scale: one range-partitioned rank, a one-row-per-group count
    * broadcast back, one aggregate — never a per-group window.
    * Output: (groupCol, n_a, n_b, w, z_micro). */
  def siegelTukey(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      armCol: String,
      tieBreakCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull &&
        col(armCol).isNotNull)
      .select(col(groupCol).as("__k"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"),
        col(tieBreakCol).cast("long").as("__tb"),
        col(armCol).cast("boolean").as("__a"))
    val ranked = Ranking.groupRank(base, "__k", Seq("__v", "__tb"))
    val counts = ranked.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"))
    val withN = ranked.join(broadcast(counts), Seq("__k"))
    val i = col("rank")
    val dt = col("__n") + 1L - i
    val stR = when(i < dt,
        when(i % 2 === 1L, lit(2L) * i - 1L).otherwise(lit(2L) * i))
      .when(dt < i,
        when(dt % 2 === 1L, lit(2L) * dt).otherwise(lit(2L) * dt - 1L))
      .otherwise(col("__n"))
    val agg = withN
      .select(col("__k"), col("__n"), col("__a"), stR.as("__r"))
      .groupBy(col("__k"))
      .agg(max(col("__n")).as("__nn"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__a"), col("__r")).otherwise(0L)).as("w"))
    val d2 = lit(2L) * col("w") - col("n_a") * (col("__nn") + 1L)
    val q4 = TimeSeries.divFloorDec(
      (lit(12000000000000L).cast(dec) *
        (d2.cast(dec) * d2).cast(dec)).cast(dec),
      (col("n_a").cast(dec) * col("n_b") *
        (col("__nn") + 1L)).cast(dec))
    agg.select(col("__k").as(groupCol), col("n_a"), col("n_b"),
      col("w"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        TimeSeries.zMicroFromQ(q4, d2 < 0L))
        .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Pairwise Pearson correlation census over numeric columns — the
    * ANALYZE-style redundancy profile ("price and tax are r=0.99,
    * drop one from the model") in ONE scan: every pair's six
    * sufficient statistics come from a single wide aggregation, so
    * the pass costs one map-side-combinable reduce however many rows.
    * Values are quantized once (round(x·scale) → int64, an explicit
    * modeling choice like pageRankWeighted's weights); sums and the
    * n·Σxy − Σx·Σy combinations run in DECIMAL(38,0) — exact integers
    * past the int64 range (Σx² alone can hit 6·10¹⁹ at sf0.1), the
    * oracle's HUGEINT — and the ONLY floating steps are the final
    * one-divide-over-two-sqrts and its round, over exact operands.
    * NULL handling is pairwise-complete: each pair uses exactly the
    * rows where BOTH columns are present. A constant column (den 0)
    * yields NULL r, not 0/0.
    *
    * Scale: one aggregation of 6·k(k−1)/2 longs; no join, no window,
    * no second scan. k is the COLUMN count — keep it to the dozens.
    * Output: (col_a, col_b, n, r_micro) per unordered pair. */
  def correlationCensus(
      df: DataFrame, cols: Seq[String], scale: Double = 1.0): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(scale > 0, "scale must be positive")
    val dec = "decimal(38,0)"
    val q: String => Column =
      c => round(col(c).cast("double") * scale).cast("long")
    val pairs =
      for { i <- cols.indices; j <- i + 1 until cols.size } yield (i, j)
    val aggs = pairs.flatMap { case (i, j) =>
      val both = col(cols(i)).isNotNull && col(cols(j)).isNotNull
      val x = when(both, q(cols(i)))
      val y = when(both, q(cols(j)))
      Seq(count(when(both, lit(1))).as(s"__n_${i}_$j"),
        sum(x.cast(dec)).as(s"__sx_${i}_$j"),
        sum(y.cast(dec)).as(s"__sy_${i}_$j"),
        sum((x * y).cast(dec)).as(s"__sxy_${i}_$j"),
        sum((x * x).cast(dec)).as(s"__sxx_${i}_$j"),
        sum((y * y).cast(dec)).as(s"__syy_${i}_$j"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (i, j) =>
        val n = col(s"__n_${i}_$j").cast(dec)
        val sx = col(s"__sx_${i}_$j"); val sy = col(s"__sy_${i}_$j")
        val num = n * col(s"__sxy_${i}_$j") - sx * sy
        val denx = n * col(s"__sxx_${i}_$j") - sx * sx
        val deny = n * col(s"__syy_${i}_$j") - sy * sy
        struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
          col(s"__n_${i}_$j").as("n"),
          when(denx <= 0 || deny <= 0, lit(null).cast("long"))
            .otherwise(round(lit(1e6) * num.cast("double") /
              (sqrt(denx.cast("double")) * sqrt(deny.cast("double"))))
              .cast("long")).as("r_micro"))
      }: _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Mutual information between two categorical columns, micro-nat
    * exact — fdCensus asks "does A determine B?"; this answers "how
    * MANY nats does knowing A buy about B?", with both marginal
    * entropies and the normalized MI verdict alongside. NULL is a
    * category (the fdCensus sentinel convention), not a dropped row.
    *
    * Per cell, ln(c_ab·N/(c_a·c_b)) decomposes into four
    * independently micro-quantized ln terms combined exactly, so the
    * sum is order-free; MI, H(A), H(B) each take one final rounded
    * divide by N; NMI = MI/min(H) is one more divide over those
    * already-exact longs, NULL when a marginal entropy is 0 (a
    * constant column carries no information to normalize by).
    *
    * Scale: one (a,b)-keyed hash-agg (cells), two margin re-aggs of
    * the CELLS (not the rows), margin joins keyed on the cell table,
    * one final 1-row reduce — never rows×rows, heaviest key costs one
    * counter. Output: 1 row (n, n_cells, mi_mnat, h_a_mnat, h_b_mnat,
    * nmi_micro). */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val lnq = (c: Column) =>
      round(lit(1e6) * log(c.cast("double"))).cast("long")
    val a = coalesce(col(aCol).cast("string"), lit(" NULL"))
    val b = coalesce(col(bCol).cast("string"), lit(" NULL"))
    val cells = Dedup.truncate(df
      .groupBy(a.as("__a"), b.as("__b")).agg(count(lit(1)).as("__c")))
    val ca = cells.groupBy(col("__a")).agg(sum(col("__c")).as("__ca"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    val tot = cells.agg(sum(col("__c")).as("__n"),
      count(lit(1)).as("__cells"))
    val sMi = cells.join(ca, "__a").join(cb, "__b")
      .crossJoin(broadcast(tot))
      .agg(sum(col("__c") * (lnq(col("__c")) + lnq(col("__n"))
        - lnq(col("__ca")) - lnq(col("__cb")))).as("__s"))
    val sA = ca.agg(sum(col("__ca") * lnq(col("__ca"))).as("__sa"))
    val sB = cb.agg(sum(col("__cb") * lnq(col("__cb"))).as("__sb"))
    val h = (s: Column, n: Column) => lnq(n) -
      round(s.cast("double") / n.cast("double")).cast("long")
    broadcast(tot).crossJoin(broadcast(sMi))
      .crossJoin(broadcast(sA)).crossJoin(broadcast(sB))
      .select(col("__n").as("n"), col("__cells").as("n_cells"),
        round(col("__s").cast("double") / col("__n").cast("double"))
          .cast("long").as("mi_mnat"),
        h(col("__sa"), col("__n")).as("h_a_mnat"),
        h(col("__sb"), col("__n")).as("h_b_mnat"))
      .withColumn("nmi_micro",
        when(least(col("h_a_mnat"), col("h_b_mnat")) <= 0L,
          lit(null).cast("long"))
          .otherwise(round(lit(1e6) * col("mi_mnat").cast("double") /
            least(col("h_a_mnat"), col("h_b_mnat")).cast("double"))
            .cast("long")))
  }

  /** Concentration census per group — Gini coefficient + Herfindahl
    * index over a nonnegative value column: "is my corpus traffic /
    * token mass / crawl budget spread out or captured by a few
    * keys", the inequality number a mixture owner checks before
    * trusting per-source weights. Both are exact-integer until ONE
    * rounded divide: Gini = (2·Σrᵢxᵢ − (n+1)·T) / (n·T) over values
    * ranked ascending within the group (ties commute — equal values
    * contribute x·Σr whatever their order), HHI = Σx²/T². A zero
    * total yields NULLs (no distribution to measure).
    *
    * Scale: ranks come from [[Ranking.groupRank]]'s range-partitioned
    * prefix machinery (no per-group window), then one per-group
    * reduce. `idCol` is the per-group-unique rank tiebreaker.
    * Overflow: Σr·x ≤ n·T — keep group count × total under ~9·10¹⁸.
    * Output: (groupCol, n, total, gini_micro, hhi_micro). */
  def concentration(
      df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val ranked = Ranking.groupRank(
      df.select(col(groupCol), col(idCol), v.as("__v")),
      groupCol, Seq("__v", idCol))
    ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("total"),
        sum(col("rank") * col("__v")).as("__rx"),
        sum(col("__v") * col("__v")).as("__x2"))
      .select(col(groupCol), col("n"), col("total"),
        when(col("total") <= 0L, lit(null).cast("long"))
          .otherwise(round(lit(1e6) *
            (lit(2L) * col("__rx") - (col("n") + 1L) * col("total"))
              .cast("double") /
            (col("n") * col("total")).cast("double")).cast("long"))
          .as("gini_micro"),
        when(col("total") <= 0L, lit(null).cast("long"))
          .otherwise(round(lit(1e6) * col("__x2").cast("double") /
            (col("total").cast("double") * col("total").cast("double")))
            .cast("long")).as("hhi_micro"))
  }

  /** Theil inequality indices per group — the decomposable entropy
    * pair next to [[concentration]]'s Gini: Theil T =
    * (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ) (top-sensitive) and Theil L (mean log
    * deviation) = (1/n)·Σ ln(μ/xᵢ) (bottom-sensitive); both 0 on a
    * perfectly equal group, both additive across subgroups — which
    * is why a mixture owner prefers them to Gini when asking "how
    * much of my token-mass inequality is BETWEEN sources vs within".
    * Values micro-quantize per row; strictly-positive rows enter
    * (ln needs x > 0) and the rest surface in n_dropped off a
    * pre-filter group spine, never silently ([[lorenzBuckets]]'s
    * convention — an all-dropped group keeps one NULL-index row).
    * Each row's term is ONE short IEEE chain over exact integers
    * (ratio = x·n/total, then ratio·ln ratio and ln ratio), micro-
    * rounded per row so the sums are exact Longs; the final /n are
    * single rounded divides. All-equal groups hit ln(1) = 0 exactly.
    *
    * Scale: one group census (n, total) joined back to the rows —
    * census-sized build side — then one hash-agg. No windows.
    * Output: (groupCol, n, n_dropped, total_micro, theil_t_micro,
    * theil_l_micro); total_micro accumulates in DECIMAL(38,0) (a
    * 100 TB group's micro-sum overflows a Long) but reports as a
    * canonical decimal STRING — gate outputs never carry DECIMAL. */
  def theilIndex(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val all = df.select(col(groupCol).as("__g"),
      round(col(valueCol).cast("double") * lit(1e6)).cast("long")
        .as("__v"))
    val spine = all.groupBy(col("__g"))
      .agg(sum(when(col("__v").isNull || col("__v") <= 0L, 1L)
        .otherwise(0L)).as("n_dropped"))
    val base = all.filter(col("__v") > 0L)
    val tot = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__v").cast(dec)).as("__tot"))
    val ratio = col("__v").cast("double") * col("n").cast("double") /
      col("__tot").cast("double")
    val terms = base.join(tot, Seq("__g"))
      .select(col("__g"),
        round(lit(1e6) * ratio * log(ratio)).cast("long").as("__tt"),
        round(lit(1e6) * log(ratio)).cast("long").as("__tl"))
      .groupBy(col("__g"))
      .agg(sum(col("__tt").cast(dec)).as("__st"),
        sum(col("__tl").cast(dec)).as("__sl"))
    spine.join(tot.join(terms, Seq("__g")), Seq("__g"), "left")
      .select(col("__g").as(groupCol),
        coalesce(col("n"), lit(0L)).as("n"), col("n_dropped"),
        col("__tot").cast(dec).cast("string").as("total_micro"),
        round(col("__st").cast("double") / col("n").cast("double"))
          .cast("long").as("theil_t_micro"),
        round(-col("__sl").cast("double") / col("n").cast("double"))
          .cast("long").as("theil_l_micro"))
  }

  /** Calibration reliability bins — "when the model says 0.8, is it
    * right 80% of the time": equal-width bins over a MICRO-quantized
    * score in [0, 1e6], each with its exact count, mean claimed
    * confidence, observed positive rate, and the |confidence −
    * reality| gap whose n-weighted average is ECE. Binning is
    * integer ((score·bins) div 1e6, top edge clamped into the last
    * bin); the two per-bin divides are single rounded IEEE steps
    * over exact sums. A nonzero label is a positive.
    *
    * Scale: one map + one hash-agg on ≤ `bins` keys. Output:
    * (bin, n, mean_score_micro, pos_rate_micro, gap_micro). */
  def reliabilityBins(
      df: DataFrame, scoreMicroCol: String, labelCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2, "need at least two bins")
    val prepped = df.select(
      col(scoreMicroCol).cast("long").as("__sm"),
      (col(labelCol).cast("long") =!= 0L).as("__pos"))
    prepped
      .select(least(lit((bins - 1).toLong),
        expr(s"(__sm * $bins) div 1000000")).as("bin"),
        col("__sm"), col("__pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__sm")).cast("double") /
          count(lit(1)).cast("double")).cast("long")
          .as("mean_score_micro"),
        round(lit(1e6) * sum(when(col("__pos"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).cast("long")
          .as("pos_rate_micro"))
      .withColumn("gap_micro",
        abs(col("mean_score_micro") - col("pos_rate_micro")))
  }

  /** Expected calibration error from [[reliabilityBins]]' output —
    * the n-weighted mean gap, one rounded divide over exact sums.
    * 1 row: (n, ece_micro). */
  def calibrationError(binsDf: DataFrame): DataFrame =
    binsDf.agg(sum(col("n")).as("n"),
      round(sum(col("n") * col("gap_micro")).cast("double") /
        sum(col("n")).cast("double")).cast("long").as("ece_micro"))

  /** Pearson χ² test of independence between two categorical columns
    * (any R×C shape — A/B×converted is the 2×2 special case) plus
    * Cramér's V, the normalized effect size. Where [[mutualInfo]]
    * measures the association in nats, this is the NHST twin: "is
    * the lang mix different across sources beyond chance". Each
    * cell's (o·N − r·c)²/(r·c·N) term is micro-quantized over exact
    * integer operands, so the χ² sum is order-free; V takes one
    * final sqrt over the already-rounded χ². NULL as a category
    * (the [[fdCensus]] sentinel); a 1×C or R×1 table has zero
    * degrees of freedom and reports NULL χ²/V.
    *
    * Scale: identical shape to [[mutualInfo]] — cell hash-agg,
    * margin re-aggs of the CELLS, margin joins, one 1-row reduce.
    * Output: 1 row (n, r_levels, c_levels, dof, chi2_micro,
    * cramers_v_micro). */
  def chiSquareIndependence(
      df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = coalesce(col(aCol).cast("string"), lit(" NULL"))
    val b = coalesce(col(bCol).cast("string"), lit(" NULL"))
    val cells = Dedup.truncate(df
      .groupBy(a.as("__a"), b.as("__b")).agg(count(lit(1)).as("__o")))
    val ca = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__r"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__c"))
    val tot = cells.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("__rl"),
      countDistinct(col("__b")).as("__cl"))
    // Observed-zero cells are absent from `cells` but still owe their
    // e = r·c/N term ((0·N − r·c)²/(r·c·N) = r·c/N): sum over the
    // FULL margin cross first, then correct present cells.
    val zeroPart = ca.crossJoin(cb).crossJoin(broadcast(tot))
      .agg(sum(round(lit(1e6) * (col("__r") * col("__c")).cast("double")
        / col("__n").cast("double")).cast("long")).as("__z"))
    val presentPart = cells.join(ca, "__a").join(cb, "__b")
      .crossJoin(broadcast(tot))
      .agg(sum(
        round(lit(1e6) *
          ((col("__o") * col("__n") - col("__r") * col("__c"))
            .cast("double") *
           (col("__o") * col("__n") - col("__r") * col("__c"))
            .cast("double")) /
          (col("__r").cast("double") * col("__c").cast("double") *
            col("__n").cast("double"))).cast("long") -
        round(lit(1e6) * (col("__r") * col("__c")).cast("double")
          / col("__n").cast("double")).cast("long")).as("__p"))
    val dof = (col("__rl") - 1L) * (col("__cl") - 1L)
    broadcast(tot).crossJoin(broadcast(zeroPart))
      .crossJoin(broadcast(presentPart))
      .select(col("__n").as("n"), col("__rl").as("r_levels"),
        col("__cl").as("c_levels"), dof.as("dof"),
        when(dof === 0L, lit(null).cast("long"))
          .otherwise(col("__z") + col("__p")).as("chi2_micro"))
      .withColumn("cramers_v_micro",
        when(col("chi2_micro").isNull, lit(null).cast("long"))
          .otherwise(round(lit(1e6) * sqrt(
            col("chi2_micro").cast("double") / 1e6 /
              (col("n").cast("double") *
                least(col("r_levels") - 1L, col("c_levels") - 1L)
                  .cast("double")))).cast("long")))
  }

  /** Discrete power-law tail fit over a count column (degree
    * distributions, per-user activity, token frequencies): the
    * Clauset–Shalizi–Newman MLE with the standard continuous
    * correction, α = 1 + n / Σ ln(xᵢ/(xmin − ½)), xᵢ ≥ xmin. The
    * census a graph/corpus owner runs before trusting "it's roughly
    * Zipf": a drifting α (or one near 1) says the tail changed — bot
    * floods fatten it, dedup thins it.
    *
    * The one libm step quantizes each ln term to integer micro-nats
    * (order-free sum, the LM-gate convention); α comes from a single
    * divide over exact operands. Empty input yields NULL α, not 0/0.
    *
    * Scale: one filter + one 2-long aggregate row. Output: 1 row
    * (n, sum_ln_mnat, alpha_micro). */
  def powerLawAlpha(
      df: DataFrame, valueCol: String, xmin: Long = 1L): DataFrame = {
    require(xmin >= 1, "xmin must be at least 1")
    val x = col(valueCol).cast("long")
    val lnq = round(lit(1e6) *
      log(x.cast("double") / lit(xmin - 0.5))).cast("long")
    df.filter(x >= xmin)
      .agg(count(lit(1)).as("n"), sum(lnq).as("sum_ln_mnat"))
      .select(col("n"), col("sum_ln_mnat"),
        when(col("n") === 0L, lit(null).cast("long")).otherwise(
          lit(1000000L) + round(lit(1e12) * col("n").cast("double") /
            col("sum_ln_mnat").cast("double")).cast("long"))
          .as("alpha_micro"))
  }

  /** Benford first-digit census per group, with an exact-arithmetic
    * χ² against the Benford expectation — the fabricated-numbers
    * smell test: organically-grown magnitudes (file sizes, durations,
    * populations) lead with 1 ~30% of the time (p_d = log₁₀(1+1/d));
    * synthetic, truncated, or copy-pasted columns don't, and a group
    * whose χ² explodes is where a data-quality reviewer looks first.
    *
    * First digit comes from the INTEGER's decimal rendering (column
    * must be integral; zero/negative rows are excluded — they carry
    * no leading significant digit) — no log10 per row, so the one
    * libm-free map stays exact. The nine χ² terms are each quantized
    * to integer micro before the sum (order-free); p_d literals are
    * computed once driver-side and shared verbatim with the oracle.
    *
    * Scale: (group, digit) hash-agg → per-group 9-entry map rollup.
    * Output: (group, n, chi2_micro). */
  def benford(df: DataFrame, groupCol: String, intCol: String): DataFrame = {
    val digit = substring(col(intCol).cast("string"), 1, 1).cast("int")
    val counts = df.filter(col(intCol) > 0)
      .groupBy(col(groupCol), digit.as("digit"))
      .agg(count(lit(1)).as("n_d"))
    val g = counts.groupBy(col(groupCol))
      .agg(sum(col("n_d")).as("n"),
        map_from_entries(collect_list(struct(col("digit"), col("n_d"))))
          .as("__m"))
    val terms = (1 to 9).map { d =>
      val p = benfordP(d)
      val e = col("n").cast("double") * lit(p)
      val nd = coalesce(element_at(col("__m"), lit(d)), lit(0L))
        .cast("double")
      round(lit(1e6) * ((nd - e) * (nd - e) / e)).cast("long")
    }
    g.select(col(groupCol), col("n"),
      terms.reduce(_ + _).as("chi2_micro"))
  }

  /** log₁₀(1 + 1/d) — public so the oracle twin embeds the identical
    * IEEE literal. */
  def benfordP(d: Int): Double = math.log10(1.0 + 1.0 / d)

  /** Approximate-functional-dependency census for det → dep — the
    * schema-discovery profile (does source determine lang? does
    * device determine firmware?): per determinant value, the row
    * count, distinct dependent count, the modal dependent and its
    * share (the g₃ strength of the FD on that key), and whether the
    * dependency holds exactly. NULL dependents are a real value here
    * (a key mapping to {x, NULL} is NOT functional) — the usual
    * count-distinct null-blindness would vacuously pass it.
    *
    * Scale: (det, dep) hash-agg, then a per-det struct-min rollup
    * (no window): state per det is one struct. Output: (det, n_rows,
    * n_distinct_dep, top_dep string, top_share_micro, fd_holds). */
  def fdCensus(df: DataFrame, detCol: String, depCol: String): DataFrame = {
    val dep = coalesce(col(depCol).cast("string"), lit("\u0000NULL"))
    df.groupBy(col(detCol), dep.as("__dep"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(detCol))
      .agg(sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_distinct_dep"),
        min_by(col("__dep"), struct((-col("__c")).as("__nc"), col("__dep")))
          .as("top_dep"),
        max(struct(col("__c"), col("__dep"))).getField("__c").as("__top_c"))
      .select(col(detCol), col("n_rows"), col("n_distinct_dep"),
        col("top_dep"),
        round(lit(1e6) * col("__top_c").cast("double") /
          col("n_rows").cast("double")).cast("long").as("top_share_micro"),
        (col("n_distinct_dep") === 1L).as("fd_holds"))
  }

  /** Per-dimension embedding-health census — the collapse/drift
    * dashboard for an embedding column: a dimension whose variance
    * has collapsed (encoder degeneration, bad checkpoint) or whose
    * mean has wandered (feature drift between batches) poisons every
    * cosine downstream, and at 100 TB nobody eyeballs vectors. Stats
    * run in the exact integer micro domain (quantize ×1e6 — the
    * VectorFunctions convention): per-dim mean, std (from the exact
    * integer moment identity n·Σv² − (Σv)², one sqrt + one divide),
    * and the near-zero fraction (|v| < 10⁻³).
    *
    * Scale: posexplode → (dim) hash-agg, d output rows; the moment
    * longs need n·v²ₘₐₓ ≲ 2⁶³ (n ≲ 10⁹ at unit-norm micro vectors) —
    * shard the census beyond that. Output: (dim, n, mean_micro,
    * std_micro, nearzero_frac_micro, collapsed). */
  def embeddingHealth(
      df: DataFrame,
      vecCol: String,
      collapsedStdMicro: Long = 10000L): DataFrame = {
    val v = graft.functions.VectorFunctions.quantize(col(vecCol))
    df.select(posexplode(v).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("__s"),
        sum(col("v") * col("v")).as("__s2"),
        sum(when(abs(col("v")) < 1000L, 1L).otherwise(0L)).as("__nz"))
      .select(col("dim"), col("n"),
        round(col("__s").cast("double") / col("n").cast("double"))
          .cast("long").as("mean_micro"),
        round(sqrt((col("n") * col("__s2") - col("__s") * col("__s"))
            .cast("double")) / col("n").cast("double"))
          .cast("long").as("std_micro"),
        round(lit(1e6) * col("__nz").cast("double") /
          col("n").cast("double")).cast("long").as("nearzero_frac_micro"))
      .withColumn("collapsed", col("std_micro") < collapsedStdMicro)
  }

  /** Split-conformal coverage audit: from each group's CALIBRATION
    * rows, the conformal bound q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    * nonconformity score (the finite-sample-valid quantile — note
    * n+1, not n), then the EMPIRICAL coverage of score ≤ q̂ on the
    * held-out rows. The audit a prediction-set pipeline runs before
    * shipping: marginal coverage should land ≥ 1−α up to binomial
    * noise; a miss means the calibration split leaked or drifted.
    *
    * Scores micro-quantize first (round(1e6·s) — the [[Ranking
    * .groupAuc]] convention: rank-exact for integer scores,
    * 1e-6-order-preserving for fractional). The rank selection runs
    * through [[Ranking.groupRank]]'s range-partitioned prefix — no
    * per-group window — and ⌈(n+1)(1−α)⌉ > n (tiny groups at small
    * α) yields q̂ = NULL meaning the UNBOUNDED band: every held-out
    * row counts covered, the standard convention, stated. Ties on
    * the score are broken by `idCol` (must be per-group unique) for
    * a total rank order; q̂ itself is a pure score value, so ties do
    * not move it.
    *
    * Output: (groupCol, n_calib, qhat_micro, n_eval, n_covered,
    * coverage_micro); groups with no eval rows report 0/0 with NULL
    * coverage. */
  def conformalCoverage(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      scoreCol: String,
      calibCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    val base = Dedup.truncate(df
      .filter(col(scoreCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).as("__id"),
        round(col(scoreCol).cast("double") * lit(1e6)).cast("long")
          .as("__s"),
        col(calibCol).cast("boolean").as("__c")))
    val calib = base.filter(col("__c"))
    val counts = calib.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_calib"))
      .withColumn("__target",
        ceil((col("n_calib") + 1L).cast("double") * lit(1.0 - alpha))
          .cast("long"))
    val qhat = Ranking.groupRank(calib, "__g", Seq("__s", "__id"))
      .join(broadcast(counts), Seq("__g"))
      .filter(col("rank") === col("__target"))
      .select(col("__g"), col("__s").as("qhat_micro"))
    val eval = base.filter(!col("__c"))
      .join(qhat, Seq("__g"), "left")
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("qhat_micro").isNull ||
          col("__s") <= col("qhat_micro"), 1L).otherwise(0L))
          .as("n_covered"))
    counts.join(qhat, Seq("__g"), "left").join(eval, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n_calib"),
        col("qhat_micro"),
        coalesce(col("n_eval"), lit(0L)).as("n_eval"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(coalesce(col("n_eval"), lit(0L)) > 0,
          round(lit(1e6) * col("n_covered").cast("double") /
            col("n_eval").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("coverage_micro"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic per group — THE
    * nonparametric "did this distribution drift" test between two
    * sides of a split (train/serve, yesterday/today):
    * D = max_v |F_a(v) − F_b(v)|, computed EXACTLY: values
    * micro-quantize, collapse to (group, value) cells with per-side
    * counts, cumulative counts ride [[Ranking.groupRunningSum]]'s
    * range-partitioned prefix (never a per-group window), and the
    * max runs over the INTEGER cross-products |ra·n_b − rb·n_a|
    * (DECIMAL(38,0)) with ONE final micro-rounded divide by n_a·n_b.
    * Groups with an empty side report NULL (nothing to compare).
    * Output: (groupCol, n_a, n_b, d_micro). */
  def ksTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    val ra = Ranking.groupRunningSum(cells, "__g", Seq("__v"), "__ca")
      .withColumnRenamed("running", "__ra")
    val rb = Ranking.groupRunningSum(
        ra.select(col("__g"), col("__v"), col("__ca"), col("__cb"),
          col("__ra")),
        "__g", Seq("__v"), "__cb")
      .withColumnRenamed("running", "__rb")
    val tot = cells.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    val dec = "decimal(38,0)"
    rb.join(tot, Seq("__g"))
      .groupBy(col("__g"), col("n_a"), col("n_b"))
      .agg(max(abs(col("__ra").cast(dec) * col("n_b") -
        col("__rb").cast(dec) * col("n_a"))).as("__dnum"))
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(lit(1e6) * col("__dnum").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("d_micro"))
  }

  /** Population Stability Index per group over a PRE-BINNED column —
    * the scorecard-drift number model-ops dashboards watch:
    * PSI = Σ_bins (p_a − p_b)·ln(p_a/p_b), with Laplace +1 smoothing
    * on every observed bin (the standard zero-bin guard, so a bin
    * present on one side only contributes a finite, documented
    * penalty; smoothed denominators are n_side + B for B observed
    * bins). Quantization: each bin's term rounds to integer micro
    * INDEPENDENTLY and the sum is an integer sum — order-free, so
    * both engines agree bit-for-bit; per-bin rounding bounds the
    * total error by B/2 micro, stated. Sides with zero rows report
    * NULL. Output: (groupCol, n_bins, n_a, n_b, psi_micro). */
  def psi(
      df: DataFrame,
      groupCol: String,
      binCol: String,
      sideCol: String): DataFrame = {
    val base = df.filter(col(binCol).isNotNull)
      .select(col(groupCol).as("__g"), col(binCol).as("__b"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__b"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    psiFromCells(cells).withColumnRenamed("__g", groupCol)
  }

  /** The PSI math over pre-counted (__g, __b, __ca, __cb) cells —
    * shared by [[psi]] and the streaming drift pager
    * ([[graft.streaming.PsiStream]]), so the two cannot diverge by
    * construction. Output: (__g, n_bins, n_a, n_b, psi_micro). */
  private[graft] def psiFromCells(cells: DataFrame): DataFrame = {
    val tot = cells.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    val j = cells.join(tot, Seq("__g"))
    val pa = (col("__ca") + 1L).cast("double") /
      (col("n_a") + col("n_bins")).cast("double")
    val pb = (col("__cb") + 1L).cast("double") /
      (col("n_b") + col("n_bins")).cast("double")
    val term = round(lit(1e6) * (pa - pb) * log(pa / pb)).cast("long")
    j.select(col("__g"), col("n_bins"), col("n_a"), col("n_b"),
        term.as("__t"))
      .groupBy(col("__g"), col("n_bins"), col("n_a"), col("n_b"))
      .agg(sum(col("__t")).as("__psi"))
      .select(col("__g"), col("n_bins"), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("__psi"))
          .otherwise(lit(null).cast("long")).as("psi_micro"))
  }

  /** Benjamini–Hochberg FDR selection per group — "which of these m
    * anomaly/drift/AB p-values survive at false-discovery rate α",
    * the multiple-testing gate a fleet of per-key tests needs before
    * anyone pages. All-integer: p-values arrive in micro units, rank
    * i of m qualifies iff p_micro·m ≤ i·α_micro (the BH step
    * condition cross-multiplied — no float thresholds), the cutoff
    * is the LARGEST qualifying rank, and every rank at or below it
    * is a discovery (the standard step-up rule: non-qualifying ranks
    * under the cutoff are still discoveries). Ranks come from
    * [[Ranking.groupRank]] (ties on p broken by `idCol`). Keep
    * m·1e6 within Long (m ≤ ~9·10¹²). Output: every input row as
    * (groupCol, idCol, p_micro, rank, discovery). */
  def bhSelect(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      pMicroCol: String,
      alphaMicro: Long): DataFrame = {
    require(alphaMicro > 0 && alphaMicro < 1000000L,
      "alphaMicro must be in (0, 1e6)")
    val base = df.filter(col(pMicroCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).as("__id"),
        col(pMicroCol).cast("long").as("__p"))
    val ranked = Dedup.truncate(
      Ranking.groupRank(base, "__g", Seq("__p", "__id")))
    val m = ranked.groupBy(col("__g")).agg(count(lit(1)).as("__m"))
    val withM = ranked.join(broadcast(m), Seq("__g"))
    val cut = withM
      .filter(col("__p") * col("__m") <= col("rank") * lit(alphaMicro))
      .groupBy(col("__g")).agg(max(col("rank")).as("__cut"))
    withM.join(cut, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("__id").as(idCol),
        col("__p").as("p_micro"), col("rank"),
        (col("rank") <= coalesce(col("__cut"), lit(0L))).as("discovery"))
  }

  /** Exact 1-Wasserstein (earth-mover) distance per group between the
    * two sides of a split — the drift MAGNITUDE companion to
    * [[ksTest]]'s max-gap: W₁ = ∫|F_a − F_b| dv, computed exactly as
    * Σ over consecutive distinct values (v_{i+1} − v_i)·|F_a(v_i) −
    * F_b(v_i)|. Same micro-quantized cells and range-partitioned
    * prefix counts as ksTest; consecutive values pair by a rank
    * equi-join (never a per-group window); each term is the integer
    * product dv·|ra·n_b − rb·n_a| in DECIMAL(38,0) and the ONE
    * divide by (n_a·n_b) micro-rounds at the end. The result is in
    * the VALUE's units (micro form of the value scale). Empty-side
    * groups report NULL. Output: (groupCol, n_a, n_b, w1_micro). */
  def wasserstein1(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    val ra = Ranking.groupRunningSum(cells, "__g", Seq("__v"), "__ca")
      .withColumnRenamed("running", "__ra")
    val rb = Dedup.truncate(Ranking.groupRunningSum(
        ra.select(col("__g"), col("__v"), col("__ca"), col("__cb"),
          col("__ra")),
        "__g", Seq("__v"), "__cb")
      .withColumnRenamed("running", "__rb"))
    val ranked = Ranking.groupRank(rb, "__g", Seq("__v"))
    val nxt = ranked.select(col("__g"), (col("rank") - 1L).as("rank"),
      col("__v").as("__vn"))
    val tot = cells.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    val dec = "decimal(38,0)"
    val terms = ranked.join(nxt, Seq("__g", "rank")) // last: no successor
      .join(tot, Seq("__g"))
      .groupBy(col("__g"))
      .agg(sum(((col("__vn") - col("__v")).cast(dec) *
        abs(col("__ra").cast(dec) * col("n_b") -
          col("__rb").cast(dec) * col("n_a"))).cast(dec)).as("__num"))
    // left join keeps single-distinct-value groups (zero terms ⇒ W1 0)
    tot.join(terms, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(coalesce(col("__num"), lit(0).cast(dec)).cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("w1_micro"))
  }

  /** Mann–Whitney U rank-sum test per group — the nonparametric "is
    * side A stochastically larger" companion to [[welchT]]'s
    * mean-shift t: the test a metrics pipeline runs when values are
    * skewed/ordinal and a t-test's normality story does not hold.
    * All rank arithmetic is integer and DOUBLED so midranks never go
    * fractional: a tied cell of c values whose r predecessors are
    * strictly smaller contributes midrank (2r+c+1)/2 each, so the
    * doubled side-A rank-sum is Σ ca·(2r+c+1) and the doubled U is
    * u2_a = that − n_a(n_a+1). Cells ride the same micro-quantized
    * (group, value) collapse + range-partitioned prefix as [[ksTest]]
    * — never a per-group window. The tie-corrected normal
    * approximation z = (U_a − n_a·n_b/2)/σ with
    * σ² = n_a·n_b/12·((N+1) − Σ(c³−c)/(N(N−1))) and the rank-biserial
    * effect size r = 1 − 2U_a/(n_a·n_b) are the ONLY float steps,
    * each one micro-rounded from exact integer inputs (tie cubes in
    * DECIMAL(38,0)). Groups with an empty side — or all values tied
    * (σ = 0) for z — report NULL.
    * Output: (groupCol, n_a, n_b, u2_a, z_micro, rbc_micro). */
  def mannWhitney(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val run = Ranking.groupRunningSum(cells, "__g", Seq("__v"), "__c")
    val dec = "decimal(38,0)"
    val stats = run
      .withColumn("__r", col("running") - col("__c")) // strictly-below count
      .groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
        // ca·(2r+c+1) reaches ~2N² per cell — accumulate in
        // DECIMAL(38,0) like __ties below, so groups past ~1e9 rows
        // cannot silently wrap a LongType sum.
        sum((col("__ca").cast(dec) *
          (lit(2L) * col("__r") + col("__c") + 1L)).cast(dec))
          .as("__r2a"),
        sum((col("__c").cast(dec) * col("__c") * col("__c") -
          col("__c")).cast(dec)).as("__ties"))
    val nn = col("n_a").cast("double") * col("n_b").cast("double")
    val bigN = (col("n_a") + col("n_b")).cast("double")
    val u2a = col("__r2a") - col("n_a") * (col("n_a") + 1L)
    val sigma2 = nn / lit(12.0) *
      (bigN + 1.0 - col("__ties").cast("double") /
        (bigN * (bigN - 1.0)))
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      // __r2a is exact in decimal; the reported doubled U fits a
      // BIGINT whenever n_a·n_b ≤ 9.2e18 (both sides ≲ 3e9 rows) —
      // far past that, z/rbc (doubles off the decimal) remain valid.
      when(col("n_a") > 0 && col("n_b") > 0, u2a.cast("long"))
        .otherwise(lit(null).cast("long")).as("u2_a"),
      when(col("n_a") > 0 && col("n_b") > 0 && sigma2 > 0.0,
        round(lit(1e6) * (u2a.cast("double") - nn) /
          (lit(2.0) * sqrt(sigma2))).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_micro"),
      when(col("n_a") > 0 && col("n_b") > 0,
        round(lit(1e6) * (lit(1.0) - u2a.cast("double") / nn))
          .cast("long"))
        .otherwise(lit(null).cast("long")).as("rbc_micro"))
  }

  /** Cochran's Q per group — "do these k binary classifiers differ",
    * the k-way generalization of [[mcnemar]] over the SAME items:
    * Q = (k−1)·(k·ΣG_j² − (ΣG_j)²) / (k·ΣL_i − ΣL_i²) over
    * per-treatment column totals G and per-item row totals L —
    * every term an exact integer census, ONE micro-rounded divide.
    * Only COMPLETE items count (all k verdicts present — an item a
    * classifier never saw cannot vote); incomplete items surface in
    * n_dropped_items. A zero denominator (every item unanimous)
    * reports NULL — the classifiers are indistinguishable on this
    * data. k is the group's own distinct-treatment count.
    * Output: (groupCol, k, n_items, n_dropped_items, q_micro). */
  def cochranQ(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      treatmentCol: String,
      outcomeCol: String): DataFrame = {
    val base = df.filter(col(outcomeCol).isNotNull)
      .select(col(groupCol).as("__g"), col(itemCol).as("__i"),
        col(treatmentCol).as("__t"),
        when(col(outcomeCol).cast("boolean"), 1L).otherwise(0L)
          .as("__y"))
    val kPer = base.groupBy(col("__g"))
      .agg(countDistinct(col("__t")).as("k"))
    // Completeness = row count AND distinct treatments (the kendallW
    // quarantine: a duplicated cell plus a missing one passes the
    // count alone and corrupts the item's L census).
    val items = base.groupBy(col("__g"), col("__i"))
      .agg(count(lit(1)).as("__cnt"),
        countDistinct(col("__t")).as("__ndt"),
        sum(col("__y")).as("__l"))
      .join(kPer, Seq("__g"))
      .withColumn("__complete",
        col("__cnt") === col("k") && col("__ndt") === col("k"))
    val dropped = items.groupBy(col("__g"))
      .agg(sum(when(!col("__complete"), 1L).otherwise(0L))
        .as("n_dropped_items"))
    val complete = items.filter(col("__complete"))
      .select(col("__g"), col("__i"), col("__l"))
    val lStats = complete.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_items"), sum(col("__l")).as("__sl"),
        sum(col("__l") * col("__l")).as("__sll"))
    val gStats = base.join(
        complete.select(col("__g"), col("__i")), Seq("__g", "__i"))
      .groupBy(col("__g"), col("__t"))
      .agg(sum(col("__y")).as("__gj"))
      .groupBy(col("__g"))
      .agg(sum(col("__gj") * col("__gj")).as("__sgg"))
    kPer.join(dropped, Seq("__g"))
      .join(lStats, Seq("__g"), "left")
      .join(gStats, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("k"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        col("n_dropped_items"),
        when(col("n_items") > 0L &&
            col("k") * col("__sl") - col("__sll") > 0L,
          round(lit(1e6) *
            ((col("k") - 1L) *
              (col("k") * col("__sgg") - col("__sl") * col("__sl")))
              .cast("double") /
            (col("k") * col("__sl") - col("__sll")).cast("double"))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("q_micro"))
  }

  /** Friedman test + Kendall's W per group — "do these k treatments
    * rank consistently across blocks" for CONTINUOUS paired
    * measurements (the [[cochranQ]] shape with values instead of
    * verdicts): within each complete block the k values take DOUBLED
    * midranks (integer-exact, computed by a k²-bounded within-block
    * pair census — never fractional, never a data-wide window), and
    * the tie-corrected statistic evaluates on exact integer sums:
    * χ² = (k−1)·Σ_j (R2_j − n(k+1))² / (A2 − n·k·(k+1)²) with
    * A2 = Σ r2² (the Conover form; ties shrink A2 and the correction
    * is automatic), W = χ²/(n(k−1)). All-tied data (A2 equal to its
    * floor) reports NULL. Incomplete blocks drop, censused.
    * Output: (groupCol, k, n_blocks, n_dropped_blocks, chi2_micro,
    * w_micro). */
  def friedman(
      df: DataFrame,
      groupCol: String,
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(blockCol).as("__b"),
        col(treatmentCol).as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val kPer = base.groupBy(col("__g"))
      .agg(countDistinct(col("__t")).as("k"))
    // Completeness = row count AND distinct treatments (the kendallW
    // quarantine: a duplicated cell plus a missing one passes the
    // count alone and corrupts the block's midranks).
    val blocks = base.groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__cnt"),
        countDistinct(col("__t")).as("__ndt"))
      .join(kPer, Seq("__g"))
      .withColumn("__complete",
        col("__cnt") === col("k") && col("__ndt") === col("k"))
    val dropped = blocks.groupBy(col("__g"))
      .agg(sum(when(!col("__complete"), 1L).otherwise(0L))
        .as("n_dropped_blocks"))
    val rows = base.join(blocks.filter(col("__complete"))
      .select(col("__g"), col("__b")), Seq("__g", "__b"))
    // Doubled midrank of each row within its block: 2·(strictly
    // below) + (ties incl. self) + 1, via the k²-bounded pair census.
    val other = rows.select(col("__g"), col("__b"),
      col("__v").as("__v2"))
    val ranked = rows.join(other, Seq("__g", "__b"))
      .groupBy(col("__g"), col("__b"), col("__t"), col("__v"))
      .agg(sum(when(col("__v2") < col("__v"), 1L).otherwise(0L))
        .as("__below"),
        sum(when(col("__v2") === col("__v"), 1L).otherwise(0L))
          .as("__eq"))
      .withColumn("__r2",
        lit(2L) * col("__below") + col("__eq") + 1L)
    val rj = ranked.groupBy(col("__g"), col("__t"))
      .agg(sum(col("__r2").cast(dec)).as("__rj"))
    val nPer = blocks.filter(col("__complete"))
      .groupBy(col("__g")).agg(count(lit(1)).as("n_blocks"))
    val sums = rj.join(nPer, Seq("__g")).join(kPer, Seq("__g"))
      .withColumn("__dev",
        col("__rj") - (col("n_blocks") * (col("k") + 1L)).cast(dec))
      .groupBy(col("__g"))
      .agg(sum((col("__dev") * col("__dev")).cast(dec)).as("__s"))
    val a2 = ranked.groupBy(col("__g"))
      .agg(sum((col("__r2").cast(dec) * col("__r2")).cast(dec))
        .as("__a2"))
    kPer.join(dropped, Seq("__g"))
      .join(nPer, Seq("__g"), "left")
      .join(sums, Seq("__g"), "left")
      .join(a2, Seq("__g"), "left")
      .withColumn("__den",
        col("__a2") -
          (col("n_blocks") * col("k") * (col("k") + 1L) *
            (col("k") + 1L)).cast(dec))
      .select(col("__g").as(groupCol), col("k"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        col("n_dropped_blocks"),
        when(col("n_blocks") > 0L && col("__den") > 0,
          round(lit(1e6) *
            ((col("k") - 1L).cast(dec) * col("__s")).cast("double") /
            col("__den").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"),
        when(col("n_blocks") > 0L && col("__den") > 0,
          round(lit(1e6) *
            ((col("k") - 1L).cast(dec) * col("__s")).cast("double") /
            col("__den").cast("double") /
            (col("n_blocks") * (col("k") - 1L)).cast("double"))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("w_micro"))
  }

  /** Wilcoxon signed-rank test per group — the PAIRED nonparametric
    * companion to [[mannWhitney]] (same rows measured twice: before/
    * after, model A/model B on identical inputs): per-pair diffs
    * drop zeros (the classic convention — a tie carries no sign
    * information; the count surfaces in n_zero), |d| midranks ride
    * the SAME doubled-integer cell collapse + range-partitioned
    * prefix as MW (never fractional, never a per-group window), and
    * the doubled positive-rank sum W2 = 2·W⁺ tests against
    * E = n(n+1)/2 with tie-corrected
    * σ²(W2) = n(n+1)(2n+1)/6 − Σ(c³−c)/12. The z is the ONLY float
    * step, micro-rounded from exact integers. A group whose diffs
    * are ALL zero still emits its row (n_pairs 0, its n_zero, NULL
    * stats) off the pre-filter spine — the [[lorenzBuckets]] lesson.
    * Output: (groupCol, n_pairs, n_zero, w2_plus, z_micro). */
  def wilcoxonSignedRank(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"),
        (round(col(xCol).cast("double") * lit(1e6)).cast("long") -
          round(col(yCol).cast("double") * lit(1e6)).cast("long"))
          .as("__d"))
    val spine = base.groupBy(col("__g"))
      .agg(sum(when(col("__d") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val cells = base.filter(col("__d") =!= 0L)
      .select(col("__g"), abs(col("__d")).as("__ad"),
        (col("__d") > 0L).as("__pos"))
      .groupBy(col("__g"), col("__ad"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__cp"),
        count(lit(1)).as("__c"))
    val run = Ranking.groupRunningSum(cells, "__g", Seq("__ad"), "__c")
      .withColumn("__r", col("running") - col("__c"))
    val stats = run.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        sum((col("__cp").cast(dec) *
          (lit(2L) * col("__r") + col("__c") + 1L)).cast(dec))
          .as("__w2"),
        sum((col("__c").cast(dec) * col("__c") * col("__c") -
          col("__c")).cast(dec)).as("__ties"))
    val nD = col("__n").cast("double")
    val sigma2 = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) /
      lit(6.0) - col("__ties").cast("double") / lit(12.0)
    val live = col("__n") > 0L && sigma2 > 0.0
    spine.join(stats, Seq("__g"), "left")
      .select(col("__g").as(groupCol),
        coalesce(col("__n"), lit(0L)).as("n_pairs"), col("n_zero"),
        when(col("__n") > 0L, col("__w2").cast("long"))
          .otherwise(lit(null).cast("long")).as("w2_plus"),
        when(live,
          round(lit(1e6) *
            (col("__w2").cast("double") - nD * (nD + lit(1.0)) /
              lit(2.0)) / sqrt(sigma2)).cast("long"))
          .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** McNemar's paired test per group — "did swapping classifier A for
    * classifier B change the error rate on the SAME rows", the gate
    * for promoting a new quality filter over its predecessor (the
    * unpaired χ² [[chiSquareIndependence]] answers a different,
    * weaker question). Only the discordant counts matter:
    * n01 = A-only-correct, n10 = B-only-correct, and the
    * continuity-corrected statistic is (|n01 − n10| − 1)²/(n01 + n10)
    * — one groupBy, integer counts, a single micro-rounded divide.
    * Zero discordance reports NULL (the test is undefined — the
    * classifiers are indistinguishable on every row).
    * Output: (groupCol, n, n01, n10, chi2_micro). */
  def mcnemar(
      df: DataFrame,
      groupCol: String,
      aCol: String,
      bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean")
    val b = col(bCol).cast("boolean")
    df.filter(a.isNotNull && b.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(a && !b, 1L).otherwise(0L)).as("n01"),
        sum(when(!a && b, 1L).otherwise(0L)).as("n10"))
      .select(col(groupCol), col("n"), col("n01"), col("n10"),
        when(col("n01") + col("n10") > 0,
          round(lit(1e6) *
            (abs(col("n01") - col("n10")).cast("double") - 1.0) *
            (abs(col("n01") - col("n10")).cast("double") - 1.0) /
            (col("n01") + col("n10")).cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"))
  }

  /** Welch's unequal-variance t per group — the parametric mean-shift
    * companion to [[mannWhitney]] and the A/B readout every
    * experimentation pipeline ships: t = (m_a − m_b)/√(s²_a/n_a +
    * s²_b/n_b) with the Welch–Satterthwaite df. Sufficient statistics
    * (n, Σv, Σv²) accumulate EXACTLY over micro-quantized values in
    * DECIMAL(38,0) — one scan, order-free — and the mean/variance/
    * t/df float algebra runs once per group on those integers, each
    * output micro-rounded. Sample variance is the two-pass-free form
    * (Σv² − (Σv)²/n)/(n−1), guarded: either side with n < 2, or a
    * zero pooled standard error, reports NULL.
    * Output: (groupCol, n_a, n_b, t_micro, df_micro). */
  def welchT(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    def side(flag: Column, tag: String) = Seq(
      sum(when(flag, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(flag, col("__v")).otherwise(0L).cast(dec)).as(s"__s_$tag"),
      sum(when(flag, col("__v").cast(dec) * col("__v"))
        .otherwise(lit(0).cast(dec))).as(s"__q_$tag"))
    val stats = base.groupBy(col("__g"))
      .agg(side(col("__a"), "a").head,
        (side(col("__a"), "a").tail ++ side(!col("__a"), "b")): _*)
    def nD(tag: String) = col(s"n_$tag").cast("double")
    def mean(tag: String) =
      col(s"__s_$tag").cast("double") / nD(tag)
    // Sample variance of the MICRO values; /1e12 rescales to units².
    // The n ≥ 2 guard wraps the DIVISION, not just the output: ANSI
    // division-by-zero would otherwise fire eagerly when projection
    // subexpression elimination hoists the shared va/vb subtree out
    // of the CaseWhen guards below.
    def variance(tag: String) =
      (col(s"__q_$tag").cast("double") -
        col(s"__s_$tag").cast("double") *
          col(s"__s_$tag").cast("double") / nD(tag)) /
        (nD(tag) - 1.0)
    def sideVar(tag: String) =
      when(col(s"n_$tag") >= 2, variance(tag) / nD(tag))
        .otherwise(lit(null).cast("double"))
    val va = sideVar("a")
    val vb = sideVar("b")
    val se2 = va + vb
    val tStat = (mean("a") - mean("b")) / sqrt(se2)
    val dfWelch = se2 * se2 /
      (va * va / (nD("a") - 1.0) + vb * vb / (nD("b") - 1.0))
    val ok = col("n_a") >= 2 && col("n_b") >= 2
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(ok && se2 > 0.0, round(lit(1e6) * tStat).cast("long"))
        .otherwise(lit(null).cast("long")).as("t_micro"),
      when(ok && se2 > 0.0 && (va > 0.0 || vb > 0.0),
        round(lit(1e6) * dfWelch).cast("long"))
        .otherwise(lit(null).cast("long")).as("df_micro"))
  }

  /** CUPED variance-reduced A/B readout per group — the adjustment
    * every experimentation platform applies before [[welchT]] gets
    * its say: with a pre-period covariate x correlated with the
    * metric y, θ = cov(x,y)/var(x) is fit on the POOLED data (the
    * standard unbiased-under-randomization choice) and the adjusted
    * effect is diff_y − θ·diff_x; the variance-reduction factor is
    * ρ² = cov²/(var_x·var_y). Sufficient statistics (per-side n,
    * Σx, Σy and pooled Σxy, Σx², Σy²) accumulate EXACTLY over
    * micro-quantized values in DECIMAL(38,0) — one scan — and the
    * θ/diff/ρ² float algebra runs once per group, each output
    * micro-rounded, divisions inside their zero-variance guards.
    * Groups with an empty side or zero pooled x-variance report
    * NULL adjusted columns (the raw diff still reports when both
    * sides exist). Output: (groupCol, n_a, n_b, theta_micro,
    * diff_micro, adj_diff_micro, var_reduction_micro). */
  def cuped(
      df: DataFrame,
      groupCol: String,
      metricCol: String,
      covariateCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def q(c: String) =
      round(col(c).cast("double") * lit(1e6)).cast("long")
    val base = df
      .filter(col(metricCol).isNotNull && col(covariateCol).isNotNull)
      .select(col(groupCol).as("__g"), q(metricCol).as("__y"),
        q(covariateCol).as("__x"),
        col(sideCol).cast("boolean").as("__a"))
    val stats = base.groupBy(col("__g")).agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__a"), col("__y")).otherwise(0L).cast(dec))
        .as("__ya"),
      sum(when(!col("__a"), col("__y")).otherwise(0L).cast(dec))
        .as("__yb"),
      sum(when(col("__a"), col("__x")).otherwise(0L).cast(dec))
        .as("__xa"),
      sum(when(!col("__a"), col("__x")).otherwise(0L).cast(dec))
        .as("__xb"),
      count(lit(1)).as("__n"),
      sum(col("__x").cast(dec) * col("__y")).as("__sxy"),
      sum(col("__x").cast(dec) * col("__x")).as("__sxx"),
      sum(col("__y").cast(dec) * col("__y")).as("__syy"))
    val nD = col("__n").cast("double")
    val sx = (col("__xa") + col("__xb")).cast("double")
    val sy = (col("__ya") + col("__yb")).cast("double")
    val covN = col("__sxy").cast("double") - sx * sy / nD
    val varxN = col("__sxx").cast("double") - sx * sx / nD
    val varyN = col("__syy").cast("double") - sy * sy / nD
    val both = col("n_a") > 0 && col("n_b") > 0
    // Shared subtrees are when()-wrapped at the DIVISION (not just the
    // output): projection subexpression elimination hoists repeated
    // subtrees out of the output guards, and ANSI division-by-zero
    // would fire eagerly on empty-side / zero-variance groups.
    val theta = when(varxN > 0.0, covN / varxN)
      .otherwise(lit(null).cast("double"))
    val diffY = when(both,
      col("__ya").cast("double") / col("n_a").cast("double") -
        col("__yb").cast("double") / col("n_b").cast("double"))
      .otherwise(lit(null).cast("double"))
    val diffX = when(both,
      col("__xa").cast("double") / col("n_a").cast("double") -
        col("__xb").cast("double") / col("n_b").cast("double"))
      .otherwise(lit(null).cast("double"))
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(both && varxN > 0.0,
        round(lit(1e6) * theta).cast("long"))
        .otherwise(lit(null).cast("long")).as("theta_micro"),
      when(both, round(diffY).cast("long"))
        .otherwise(lit(null).cast("long")).as("diff_micro"),
      when(both && varxN > 0.0,
        round(diffY - theta * diffX).cast("long"))
        .otherwise(lit(null).cast("long")).as("adj_diff_micro"),
      when(both && varxN > 0.0 && varyN > 0.0,
        round(lit(1e6) * covN * covN / (varxN * varyN)).cast("long"))
        .otherwise(lit(null).cast("long")).as("var_reduction_micro"))
  }

  /** Jensen–Shannon divergence per group over a pre-binned column —
    * the SYMMETRIC, bounded (≤ ln 2) drift number to pair with
    * [[psi]]'s unbounded index: JSD = ½KL(p_a‖m) + ½KL(p_b‖m),
    * m = (p_a+p_b)/2. Same cell collapse and Laplace +1 smoothing
    * convention as psi (smoothed denominators n_side + B over B
    * observed bins), same per-bin independent micro rounding so the
    * integer sum is order-free and bit-identical on both engines
    * (total error ≤ B/2 micro, stated). Sides with zero rows report
    * NULL. Output: (groupCol, n_bins, n_a, n_b, jsd_micro). */
  def jsd(
      df: DataFrame,
      groupCol: String,
      binCol: String,
      sideCol: String): DataFrame = {
    val base = df.filter(col(binCol).isNotNull)
      .select(col(groupCol).as("__g"), col(binCol).as("__b"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__b"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    val tot = cells.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    val j = cells.join(tot, Seq("__g"))
    val pa = (col("__ca") + 1L).cast("double") /
      (col("n_a") + col("n_bins")).cast("double")
    val pb = (col("__cb") + 1L).cast("double") /
      (col("n_b") + col("n_bins")).cast("double")
    val m = (pa + pb) / 2.0
    val term = round(lit(1e6) * (pa * log(pa / m) + pb * log(pb / m))
      / 2.0).cast("long")
    j.select(col("__g"), col("n_bins"), col("n_a"), col("n_b"),
        term.as("__t"))
      .groupBy(col("__g"), col("n_bins"), col("n_a"), col("n_b"))
      .agg(sum(col("__t")).as("__jsd"))
      .select(col("__g").as(groupCol), col("n_bins"), col("n_a"),
        col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("__jsd"))
          .otherwise(lit(null).cast("long")).as("jsd_micro"))
  }

  /** Isotonic (monotone nondecreasing) calibration fit per group over
    * score bins — the PAV curve a probability calibrator actually
    * ships, next to the reliability-bin DIAGNOSTIC the ECE gate
    * reads: raw per-bin positive rates plus the least-squares
    * monotone fit. Computed by the minimax identity
    * fit_k = max_{i≤k} min_{j≥k} rate(i..j) — equivalent to
    * pool-adjacent-violators but expressible as joins: bin ranks come
    * from [[Ranking.groupRank]], segment rates from prefix sums, and
    * each (i,j) segment rate micro-rounds BEFORE the min/max so both
    * engines take extrema over identical integers (monotonicity of
    * the result is structural — the i-range grows and the j-range
    * shrinks with k — so it survives the rounding). The (i,j) and
    * (i,k,j) joins are B² / B³ rows per group: bins must be
    * CALIBRATION-scale (B ≲ 64 — the standard 10–20-bin reliability
    * grid), never raw-score cardinality; bin upstream.
    * Output: (groupCol, bin, n, pos, rate_micro, fit_micro),
    * fit nondecreasing in bin within each group. */
  def isotonicFit(
      df: DataFrame,
      groupCol: String,
      binCol: String,
      labelCol: String): DataFrame = {
    val bins = df.filter(col(binCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(binCol).as("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("__pos"))
    val ranked = Ranking.groupRank(bins, "__g", Seq("__b"))
    val pre = Dedup.truncate(Ranking.groupRunningSum(
        Ranking.groupRunningSum(ranked, "__g", Seq("rank"), "__n")
          .withColumnRenamed("running", "__cn"),
        "__g", Seq("rank"), "__pos")
      .withColumnRenamed("running", "__cp"))
    val li = pre.select(col("__g"), col("rank").as("__i"),
      col("__cn").as("__cni"), col("__cp").as("__cpi"),
      col("__n").as("__ni"), col("__pos").as("__posi"))
    val rj = pre.select(col("__g"), col("rank").as("__j"),
      col("__cn").as("__cnj"), col("__cp").as("__cpj"))
    val seg = li.join(rj, Seq("__g")).filter(col("__i") <= col("__j"))
      .select(col("__g"), col("__i"), col("__j"),
        round(lit(1e6) *
          (col("__cpj") - col("__cpi") + col("__posi")).cast("double") /
          (col("__cnj") - col("__cni") + col("__ni")).cast("double"))
          .cast("long").as("__rm"))
    val ks = pre.select(col("__g"), col("rank").as("__k"))
    val fit = seg.join(ks, Seq("__g"))
      .filter(col("__i") <= col("__k") && col("__k") <= col("__j"))
      .groupBy(col("__g"), col("__k"), col("__i"))
      .agg(min(col("__rm")).as("__mn"))
      .groupBy(col("__g"), col("__k"))
      .agg(max(col("__mn")).as("fit_micro"))
      .select(col("__g").as("__gf"), col("__k"), col("fit_micro"))
    pre.join(fit, col("rank") === col("__k") &&
        col("__g") === col("__gf"))
      .select(col("__g").as(groupCol), col("__b").as("bin"),
        col("__n").as("n"), col("__pos").as("pos"),
        round(lit(1e6) * col("__pos").cast("double") /
          col("__n").cast("double")).cast("long").as("rate_micro"),
        col("fit_micro"))
  }

  /** Krippendorff's α (nominal) per group over (item, rater, label)
    * rows — the inter-annotator agreement number that, unlike
    * [[cohenKappa]], handles ANY number of raters and missing
    * ratings, i.e. real labeling-vendor data. Standard coincidence
    * form: items with m ≥ 2 ratings contribute the pairable total
    * n = Σ m_u; Do's per-unit term (m_u² − Σ_c n_uc²)/(m_u − 1)
    * micro-rounds INDEPENDENTLY (order-free integer sum, the psi
    * convention; error ≤ units/2 micro, stated), De's Σ_c n_c² is
    * exact DECIMAL, and α = 1 − (n−1)·ΣDo/(n² − Σn_c²) is ONE float
    * divide. α = 1 is perfect agreement, 0 chance-level, negative
    * systematic disagreement. Groups where every pairable rating is
    * the same label (De = 0) report NULL (α is undefined — there is
    * no chance disagreement to beat). Single-rated items are
    * excluded everywhere (they cannot agree or disagree).
    * Output: (groupCol, n_units, n_ratings, alpha_micro). */
  def krippendorffAlpha(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.filter(col(labelCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(itemCol).as("__u"),
        col(labelCol).as("__c"))
      .agg(count(lit(1)).as("__nc"))
    val units = cells.groupBy(col("__g"), col("__u"))
      .agg(sum(col("__nc")).as("__m"),
        sum(col("__nc") * col("__nc")).as("__sc2"))
      .filter(col("__m") >= 2L)
      .select(col("__g"), col("__u"), col("__m"),
        round(lit(1e6) *
          (col("__m") * col("__m") - col("__sc2")).cast("double") /
          (col("__m") - 1L).cast("double")).cast("long").as("__do"))
    val pairable = Dedup.truncate(units)
    val totals = pairable.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_units"), sum(col("__m")).as("n_ratings"),
        sum(col("__do")).as("__dosum"))
    // label totals over PAIRABLE units only (the standard stance)
    val labelTot = cells.join(
        pairable.select(col("__g"), col("__u")), Seq("__g", "__u"))
      .groupBy(col("__g"), col("__c"))
      .agg(sum(col("__nc")).as("__ncg"))
      .groupBy(col("__g"))
      .agg(sum(col("__ncg").cast(dec) * col("__ncg")).as("__sc2g"))
    val de = col("n_ratings").cast(dec) * col("n_ratings") -
      col("__sc2g")
    totals.join(labelTot, Seq("__g"))
      .select(col("__g").as(groupCol), col("n_units"),
        col("n_ratings"),
        when(de > 0,
          round(lit(1e6) -
            (col("n_ratings") - 1L).cast("double") *
              col("__dosum").cast("double") / de.cast("double"))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("alpha_micro"))
  }

  /** Majority-vote label aggregation per (group, item) — the crowd
    * consolidation step every labeling pipeline runs, with the
    * numbers needed to gate it: vote count, winning label
    * (ties broken to the LEXICALLY SMALLEST label rendering — total
    * and engine-neutral), its share, and whether the item was
    * unanimous. One count census + [[Ranking.groupTopK]]'s bounded
    * heap per item — never a per-item window over raw votes.
    * Output: (groupCol, itemCol, n_votes, top_label, share_micro,
    * unanimous). */
  def majorityVote(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      labelCol: String): DataFrame = {
    val cells = df.filter(col(labelCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(itemCol).as("__u"),
        col(labelCol).cast("string").as("__c"))
      .agg(count(lit(1)).as("__nc"))
    val tot = cells.groupBy(col("__g"), col("__u"))
      .agg(sum(col("__nc")).as("n_votes"))
    val top = Ranking.groupTopK(cells, Seq("__g", "__u"),
        Seq((-col("__nc")).as("__neg"), col("__c").as("top_label"),
          col("__nc").as("__win")), 1)
      .select(col("__g"), col("__u"), col("top_label"), col("__win"))
    tot.join(top, Seq("__g", "__u"))
      .select(col("__g").as(groupCol), col("__u").as(itemCol),
        col("n_votes"), col("top_label"),
        round(lit(1e6) * col("__win").cast("double") /
          col("n_votes").cast("double")).cast("long")
          .as("share_micro"),
        (col("__win") === col("n_votes")).as("unanimous"))
  }

  /** Difference-in-differences readout per group — the quasi-
    * experimental counterpart of [[cuped]] for when randomization
    * wasn't available: DiD = (ȳ_treat,post − ȳ_treat,pre) −
    * (ȳ_control,post − ȳ_control,pre), the parallel-trends estimate
    * of the treatment effect. Metric micro-quantizes once, the four
    * cell sums/counts accumulate exactly in one scan (DECIMAL(38,0)
    * sums), and the four-mean algebra is one guarded float pass per
    * group. Any empty cell reports NULL did_micro (the contrast is
    * undefined), with the cell counts still reported so the caller
    * sees WHICH cell starved.
    * Output: (groupCol, n_tpre, n_tpost, n_cpre, n_cpost,
    * treat_delta_micro, control_delta_micro, did_micro). */
  def diffInDiff(
      df: DataFrame,
      groupCol: String,
      metricCol: String,
      treatCol: String,
      postCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(metricCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(metricCol).cast("double") * lit(1e6)).cast("long")
          .as("__y"),
        col(treatCol).cast("boolean").as("__t"),
        col(postCol).cast("boolean").as("__p"))
    def cell(t: Boolean, p: Boolean) =
      col("__t") === lit(t) && col("__p") === lit(p)
    def n(t: Boolean, p: Boolean) =
      sum(when(cell(t, p), 1L).otherwise(0L))
    def s(t: Boolean, p: Boolean) =
      sum(when(cell(t, p), col("__y")).otherwise(0L).cast(dec))
    val stats = base.groupBy(col("__g")).agg(
      n(true, false).as("n_tpre"), n(true, true).as("n_tpost"),
      n(false, false).as("n_cpre"), n(false, true).as("n_cpost"),
      s(true, false).as("__stpre"), s(true, true).as("__stpost"),
      s(false, false).as("__scpre"), s(false, true).as("__scpost"))
    def mean(sc: String, nc: String) =
      col(sc).cast("double") / col(nc).cast("double")
    val tboth = col("n_tpre") > 0L && col("n_tpost") > 0L
    val cboth = col("n_cpre") > 0L && col("n_cpost") > 0L
    val td = when(tboth, mean("__stpost", "n_tpost") -
      mean("__stpre", "n_tpre")).otherwise(lit(null).cast("double"))
    val cd = when(cboth, mean("__scpost", "n_cpost") -
      mean("__scpre", "n_cpre")).otherwise(lit(null).cast("double"))
    stats.select(col("__g").as(groupCol),
      col("n_tpre"), col("n_tpost"), col("n_cpre"), col("n_cpost"),
      when(tboth, round(td).cast("long"))
        .otherwise(lit(null).cast("long")).as("treat_delta_micro"),
      when(cboth, round(cd).cast("long"))
        .otherwise(lit(null).cast("long")).as("control_delta_micro"),
      when(tboth && cboth, round(td - cd).cast("long"))
        .otherwise(lit(null).cast("long")).as("did_micro"))
  }

  /** Sample-ratio-mismatch (SRM) check per group — the first thing
    * to run on ANY experiment before reading its metrics: a χ²
    * goodness-of-fit of the observed A/B split against the intended
    * ratio `expectA`. χ² = (n_a − n·p)²/(n·p) + (n_b − n·q)²/(n·q)
    * with q = 1 − p, one float pass over exact integer counts,
    * micro-rounded; `srm` flags χ² > 3.841459 (the 95th percentile
    * of χ²₁ as a LITERAL — no runtime libm, both engines compare
    * against the same constant). Empty groups report NULL χ² and
    * false. A flagged group's metrics are untrustworthy — diagnose
    * the assignment path before believing any readout downstream.
    * Output: (groupCol, n_a, n_b, chi2_micro, srm). */
  def sampleRatioCheck(
      df: DataFrame,
      groupCol: String,
      sideCol: String,
      expectA: Double = 0.5): DataFrame = {
    require(expectA > 0.0 && expectA < 1.0, "expectA must be in (0, 1)")
    // A NULL side is NEITHER arm — dropping it beats silently
    // counting it as B (an unassigned-row bug would masquerade as SRM).
    val stats = df.filter(col(sideCol).isNotNull)
      .groupBy(col(groupCol).as("__g")).agg(
      sum(when(col(sideCol).cast("boolean"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col(sideCol).cast("boolean"), 1L).otherwise(0L)).as("n_b"))
    val nD = (col("n_a") + col("n_b")).cast("double")
    val ea = nD * lit(expectA)
    val eb = nD * lit(1.0 - expectA)
    val chi2 = (col("n_a").cast("double") - ea) *
      (col("n_a").cast("double") - ea) / ea +
      (col("n_b").cast("double") - eb) *
        (col("n_b").cast("double") - eb) / eb
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(nD > 0.0, round(lit(1e6) * chi2).cast("long"))
        .otherwise(lit(null).cast("long")).as("chi2_micro"),
      when(nD > 0.0, chi2 > lit(3.841459)).otherwise(lit(false))
        .as("srm"))
  }

  /** Sturges histogram per group — the auto-binned distribution
    * readout whose every number is EXACT: bins = ⌊log₂ n⌋ + 1 is the
    * BIT LENGTH of the row count (`length(bin(n))`, the q66 idiom —
    * no libm log), bounds are exact micro order statistics (min/max),
    * and the bin index is pure integer arithmetic,
    * ⌊(x−lo)·bins/(hi−lo)⌋ clamped so x = hi lands in the last bin.
    * Degenerate groups (hi = lo) put everything in bin 0. Only
    * OCCUPIED bins emit (sparse census, stated). NULL values drop.
    * Overflow bound: |micro value range|·bins < 2⁶³ ⇒ |v| ≲ 1.4e11
    * at 64 bins — far past any quality-score domain.
    * Output: (groupCol, n_bins, bin, lo_micro, hi_micro, n_rows). */
  def sturgesHistogram(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__x"))
    val stats = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), min(col("__x")).as("lo_micro"),
        max(col("__x")).as("hi_micro"))
      .withColumn("n_bins", length(bin(col("__n"))).cast("long"))
      .select(col("__g").as("__sg"), col("n_bins"),
        col("lo_micro"), col("hi_micro"))
    base.join(broadcast(stats), col("__g") <=> col("__sg"))
      .withColumn("bin",
        when(col("hi_micro") === col("lo_micro"), lit(0L))
          .otherwise(least(
            expr("((__x - lo_micro) * n_bins) div (hi_micro - lo_micro)"),
            col("n_bins") - 1L)))
      .groupBy(col("__g").as(groupCol), col("n_bins"), col("bin"),
        col("lo_micro"), col("hi_micro"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col(groupCol), col("n_bins"), col("bin"),
        col("lo_micro"), col("hi_micro"), col("n_rows"))
  }

  /** Wilson score interval for a per-group proportion — the
    * uncertainty bar that behaves at k = 0, k = n, and small n where
    * the Wald interval collapses. z is the LITERAL 1.959964 (95%,
    * no runtime inverse-normal on either engine); the only
    * non-rational op is ONE IEEE sqrt (correctly rounded by the
    * standard — the groupTrend/Welch precedent), so the micro-rounded
    * bounds are engine-identical. NULL outcomes drop (stated).
    * Output: (groupCol, n, k, p_micro, lo_micro, hi_micro). */
  def wilsonInterval(
      df: DataFrame,
      groupCol: String,
      successCol: String,
      z: Double = 1.959964): DataFrame = {
    require(z > 0, "z must be positive")
    val stats = df.filter(col(successCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L))
          .as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2 = lit(z) * lit(z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = lit(z) *
      sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nD)) / nD) / denom
    stats.select(col("__g").as(groupCol), col("n"), col("k"),
      round(lit(1e6) * p).cast("long").as("p_micro"),
      round(lit(1e6) * (center - half)).cast("long").as("lo_micro"),
      round(lit(1e6) * (center + half)).cast("long").as("hi_micro"))
  }

  /** Lorenz-curve bucket census per group — [[concentration]]'s Gini
    * says HOW concentrated; this says WHERE: rows rank ascending by
    * value (ties totalized by `tieCol`), split into `buckets` equal
    * rank slices (⌈b·rank/n⌉ — pure integer ceil), and each slice
    * reports its exact share of the group total plus the cumulative
    * share ("the bottom 70% of documents hold 31% of the tokens").
    * Values must be NON-NEGATIVE (a Lorenz curve over mixed signs is
    * undefined); negative rows are EXCLUDED and surface in n_dropped
    * rather than silently absorbed — a group whose rows are ALL
    * negative still emits one row (NULL bucket, n_rows 0, its
    * n_dropped) off the pre-filter group spine, so the drop count
    * never vanishes with the empty census. The cumulative sum runs
    * over the
    * bucket census itself (≤ buckets rows per group) via a bounded
    * self-join — never a window over raw rows. All-zero groups report
    * NULL shares. Output: (groupCol, bucket, n_rows, n_dropped,
    * share_micro, cum_share_micro). */
  def lorenzBuckets(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      "buckets must be in [2, 1000]")
    val dec = "decimal(38,0)"
    val all = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(tieCol).as("__t"))
    // Group spine from the PRE-filter frame: a group whose rows are
    // ALL negative still reports (one row, NULL bucket, n_rows 0,
    // its n_dropped) rather than vanishing together with its drop
    // count when the bucket census comes up empty.
    val spine = all.groupBy(col("__g"))
      .agg(sum(when(col("__v") < 0L, 1L).otherwise(0L)).as("n_dropped"))
    val base = all.filter(col("__v") >= 0L)
    val ranked = Ranking.groupRank(base, "__g", Seq("__v", "__t"))
    val totals = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__v").cast(dec)).as("__tot"))
    val census = Dedup.truncate(ranked
      .join(broadcast(totals), Seq("__g"))
      .withColumn("bucket",
        expr(s"(rank * ${buckets}L + __n - 1) div __n"))
      .groupBy(col("__g"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__v").cast(dec)).as("__s")))
    val cum = census.select(col("__g"), col("bucket"))
      .join(census.select(col("__g"), col("bucket").as("__b2"),
        col("__s").as("__s2")), Seq("__g"))
      .filter(col("__b2") <= col("bucket"))
      .groupBy(col("__g"), col("bucket"))
      .agg(sum(col("__s2")).as("__cs"))
    spine.join(
        census.join(cum, Seq("__g", "bucket"))
          .join(broadcast(totals), Seq("__g")),
        Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("bucket"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("n_dropped"),
        when(col("__tot") > 0,
          round(lit(1e6) * col("__s").cast("double") /
            col("__tot").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("share_micro"),
        when(col("__tot") > 0,
          round(lit(1e6) * col("__cs").cast("double") /
            col("__tot").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("cum_share_micro"))
  }

  /** Two-proportion z-test per group — the conversion-rate A/B
    * readout that closes the experimentation family ([[cuped]] for
    * means, [[diffInDiff]] for quasi-experiments,
    * [[sampleRatioCheck]] for trust, [[wilsonInterval]] for one arm):
    * z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with the POOLED p̂,
    * all counts exact, ONE IEEE sqrt (correctly rounded — the Wilson
    * precedent), and `significant` compared against the literal
    * 1.959964 on the micro-rounded |z| so both engines cut at the
    * same integer. Degenerate groups — an empty arm, or a pooled
    * rate of exactly 0 or 1 (zero variance) — report NULL z and
    * false. NULL outcomes and NULL sides drop (stated).
    * Output: (groupCol, n_a, k_a, n_b, k_b, z_micro, significant). */
  def twoProportionTest(
      df: DataFrame,
      groupCol: String,
      sideCol: String,
      successCol: String): DataFrame = {
    val stats = df
      .filter(col(sideCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(
        sum(when(col(sideCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_a"),
        sum(when(col(sideCol).cast("boolean") &&
          col(successCol).cast("boolean"), 1L).otherwise(0L)).as("k_a"),
        sum(when(!col(sideCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_b"),
        sum(when(!col(sideCol).cast("boolean") &&
          col(successCol).cast("boolean"), 1L).otherwise(0L)).as("k_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val p = (col("k_a") + col("k_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val den = sqrt(p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb))
    val ok = col("n_a") > 0L && col("n_b") > 0L
    // The zero-variance guard tests the COUNTS (all or no successes),
    // not the float den: exact on both engines.
    val live = ok && col("k_a") + col("k_b") > 0L &&
      col("k_a") + col("k_b") < col("n_a") + col("n_b")
    val z = (col("k_a").cast("double") / na -
      col("k_b").cast("double") / nb) / den
    stats.select(col("__g").as(groupCol), col("n_a"), col("k_a"),
      col("n_b"), col("k_b"),
      when(live, round(lit(1e6) * z).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_micro"),
      when(live, abs(round(lit(1e6) * z).cast("long")) > 1959964L)
        .otherwise(lit(false)).as("significant"))
  }

  /** Post-stratified average treatment effect — the exact-matching
    * estimator for observational comparisons: within each stratum
    * the arm means difference directly (confounding on the stratum
    * variable is removed by construction), and the ATE is the
    * stratum-size-weighted mean of those diffs over the strata where
    * BOTH arms appear. Strata with one arm cannot estimate a
    * contrast and are excluded — their row count surfaces in
    * n_dropped_rows rather than silently absorbed (the
    * [[lorenzBuckets]] spine lesson).
    *
    * Exactness: values micro-quantize once, per-stratum sums ride
    * DECIMAL(38,0) (the [[welchT]] convention), each stratum diff is
    * scalar IEEE micro-rounded, and the weighted combine is an exact
    * Σ n_s·diff_s in decimal with ONE final divide. One hash-agg +
    * one stratum-sized agg — no windows, no joins over raw rows.
    * Output: one row — (n_strata, n_strata_used, n_treat, n_ctrl,
    * n_dropped_rows, ate_micro). */
  def postStratifiedAte(
      df: DataFrame,
      armCol: String,
      strataCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull && col(armCol).isNotNull)
      .select(col(strataCol).as("__s"),
        col(armCol).cast("boolean").as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val strata = base.groupBy(col("__s"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("__nc"),
        sum(when(col("__t"), col("__v")).otherwise(0L).cast(dec))
          .as("__st"),
        sum(when(!col("__t"), col("__v")).otherwise(0L).cast(dec))
          .as("__sc"))
      .withColumn("__used", col("__nt") > 0L && col("__nc") > 0L)
      .withColumn("__diff",
        when(col("__used"),
          round(col("__st").cast("double") / col("__nt").cast("double") -
            col("__sc").cast("double") / col("__nc").cast("double"))
            .cast("long")))
    strata.agg(
        count(lit(1)).as("n_strata"),
        sum(when(col("__used"), 1L).otherwise(0L)).as("n_strata_used"),
        sum(when(col("__used"), col("__nt")).otherwise(0L)).as("n_treat"),
        sum(when(col("__used"), col("__nc")).otherwise(0L)).as("n_ctrl"),
        sum(when(!col("__used"), col("__nt") + col("__nc"))
          .otherwise(0L)).as("n_dropped_rows"),
        sum(when(col("__used"),
          ((col("__nt") + col("__nc")).cast(dec) * col("__diff"))
            .cast(dec)).otherwise(lit(0L).cast(dec))).as("__wsum"))
      .select(col("n_strata"), col("n_strata_used"), col("n_treat"),
        col("n_ctrl"), col("n_dropped_rows"),
        when(col("n_strata_used") > 0L,
          round(col("__wsum").cast("double") /
            (col("n_treat") + col("n_ctrl")).cast("double"))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("ate_micro"))
  }

  /** Minimum detectable effect for a two-arm proportion test — the
    * pre-experiment power readout ([[twoProportionTest]] decides
    * after the fact; this says what the traffic CAN detect):
    * MDE = (z_{α/2} + z_power)·√(p(1−p)(1/n_a + 1/n_b)) at 95%
    * two-sided / 80% power, both inverse-normal values as LITERALS
    * (1.959964, 0.841621 — no runtime quantile function on either
    * engine), ONE IEEE sqrt, micro-rounded absolute and relative
    * MDEs. Degenerate groups — an empty arm or a pooled rate of
    * exactly 0 or 1 — report NULL (nothing is detectable without
    * variance). NULL outcomes/arms drop (stated).
    * Output: (groupCol, n_a, n_b, p_micro, mde_micro,
    * mde_rel_micro). */
  def minDetectableEffect(
      df: DataFrame,
      groupCol: String,
      armCol: String,
      successCol: String,
      zAlpha: Double = 1.959964,
      zPower: Double = 0.841621): DataFrame = {
    require(zAlpha > 0 && zPower >= 0, "z constants must be positive")
    val base = df.filter(col(successCol).isNotNull && col(armCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(armCol).cast("boolean").as("__a"),
        col(successCol).cast("boolean").as("__y"))
    val stats = base.groupBy(col("__g"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__k"))
    val p = col("__k").cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val mde = lit(zAlpha + zPower) *
      sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / col("n_a").cast("double") +
          lit(1.0) / col("n_b").cast("double")))
    // Count-exact degeneracy guard (the twoProportionTest convention).
    val live = col("n_a") > 0L && col("n_b") > 0L &&
      col("__k") > 0L && col("__k") < col("n_a") + col("n_b")
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      round(lit(1e6) * p).cast("long").as("p_micro"),
      when(live, round(lit(1e6) * mde).cast("long"))
        .otherwise(lit(null).cast("long")).as("mde_micro"),
      when(live, round(lit(1e6) * mde / p).cast("long"))
        .otherwise(lit(null).cast("long")).as("mde_rel_micro"))
  }

  /** Quantile treatment effects — the distribution-level A/B readout
    * the mean-diff family ([[cuped]], [[welchT]]) cannot see: per
    * group and probability q, the treated arm's EXACT type-1
    * quantile minus the control arm's, via two
    * [[Ranking.groupQuantiles]] selections on a (group, arm)
    * composite key (so the machinery stays range-partitioned, never
    * a per-group sort). "The median moved 2 ms but p99 moved 40 ms"
    * is this operator's output. Values are actual data points;
    * the only float is the final micro-rounded diff. Groups missing
    * an arm are absent (no contrast exists — stated). NULL values
    * and arms drop. Output: (groupCol, q, q_treat, q_ctrl,
    * qte_micro). */
  def quantileTreatmentEffect(
      df: DataFrame,
      groupCol: String,
      armCol: String,
      valueCol: String,
      tieCol: String,
      qs: Seq[Double]): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull && col(armCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(armCol).cast("boolean").as("__a"),
        col(valueCol).as("__v"), col(tieCol).as("__t"))
      // composite selection key:  cannot occur in the cast
      // group values the gates feed (control chars never survive
      // tokenized/categorical keys); arm folds into the key so ONE
      // rank pass serves both arms.
      .select(concat_ws("", col("__g"),
        col("__a").cast("string")).as("__ga"),
        col("__g"), col("__a"), col("__v"), col("__t"))
    val quants = Ranking.groupQuantiles(base, "__ga", "__v", "__t", qs)
      .select(col("__ga"), col("q"), col("__v"))
      .withColumn("__g", substring_index(col("__ga"), "", 1))
      .withColumn("__a",
        substring_index(col("__ga"), "", -1) === "true")
    val t = quants.filter(col("__a"))
      .select(col("__g"), col("q"), col("__v").as("q_treat"))
    val c = quants.filter(!col("__a"))
      .select(col("__g"), col("q"), col("__v").as("q_ctrl"))
    t.join(c, Seq("__g", "q"))
      .select(col("__g").as(groupCol), col("q"), col("q_treat"),
        col("q_ctrl"),
        round(lit(1e6) * (col("q_treat").cast("double") -
          col("q_ctrl").cast("double"))).cast("long").as("qte_micro"))
  }

  /** Off-policy value estimate (IPS + SNIPS) — "what would the new
    * policy have earned on the logged traffic": every logged row
    * where the target policy agrees with the logged action counts
    * its reward inversely weighted by the logging propensity;
    * IPS divides by n (unbiased, high variance), SNIPS by the
    * weight sum (self-normalized — biased O(1/n), much tighter).
    * All sums are EXACT: the per-row weight micro-rounds ONE scalar
    * divide (1/p), reward×weight products accumulate in
    * DECIMAL(38,0), and each estimate is one final rounded divide.
    * Rows with NULL or non-positive propensity are EXCLUDED and
    * surface in n_bad (a propensity of zero means the logger could
    * never have taken that action — inverse weighting is undefined,
    * the standard diagnostic). Output: (segmentCol, n, n_matched,
    * n_bad, ips_micro, snips_micro — NULL when no weight mass). */
  def offPolicyValue(
      df: DataFrame,
      segmentCol: String,
      actionCol: String,
      rewardCol: String,
      propensityMicroCol: String,
      targetCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(rewardCol).isNotNull)
      .select(col(segmentCol).as("__s"),
        (col(actionCol) === col(targetCol)).as("__m"),
        round(col(rewardCol).cast("double") * lit(1e6)).cast("long")
          .as("__r"),
        col(propensityMicroCol).cast("long").as("__p"))
    val ok = col("__p").isNotNull && col("__p") > 0L
    val w = when(ok && col("__m"),
      round(lit(1e12) / col("__p").cast("double")).cast("long"))
      .otherwise(lit(0L))
    base.withColumn("__w", w)
      .groupBy(col("__s"))
      .agg(sum(when(ok, 1L).otherwise(0L)).as("n"),
        sum(when(ok && col("__m"), 1L).otherwise(0L)).as("n_matched"),
        sum(when(!ok, 1L).otherwise(0L)).as("n_bad"),
        sum((col("__w").cast(dec) * col("__r")).cast(dec)).as("__rw"),
        sum(col("__w")).as("__sw"))
      .select(col("__s").as(segmentCol), col("n"), col("n_matched"),
        col("n_bad"),
        // __rw = Σ (1e6/p)·(1e6·r) = 1e12·Σ r/p, so the MICRO mean
        // is __rw / (n · 1e6).
        when(col("n") > 0L,
          round(col("__rw").cast("double") /
            (col("n").cast("double") * lit(1e6))).cast("long"))
          .otherwise(lit(null).cast("long")).as("ips_micro"),
        when(col("__sw") > 0L,
          round(lit(1e6) * col("__rw").cast("double") /
            (col("__sw").cast("double") * lit(1e6))).cast("long"))
          .otherwise(lit(null).cast("long")).as("snips_micro"))
  }

  /** Always-valid two-proportion test (plug-in mixture SPRT): the
    * experimentation family's peeking-proof member — the e-value
    * Λ = √(V/(V+τ²)) · exp(d²τ²/(2V(V+τ²))) for observed diff
    * d = p̂_a − p̂_b with plug-in variance
    * V = p̂(1−p̂)(1/n_a + 1/n_b) and mixture scale τ, and the
    * always-valid p = min(1, 1/Λ) — valid at EVERY interim look,
    * unlike [[twoProportionTest]]'s fixed-horizon z. One libm
    * ln/exp pair per GROUP (micro-rounded log-e, the q304
    * convention); counts and guards are exact integers. Degenerate
    * groups (empty arm, pooled rate 0 or 1) report NULLs.
    * Output: (groupCol, n_a, k_a, n_b, k_b, d_micro, log_e_micro,
    * p_always_micro, significant at 1/Λ ≤ 0.05 on the micro
    * value). */
  def alwaysValidTest(
      df: DataFrame,
      groupCol: String,
      armCol: String,
      successCol: String,
      tau: Double = 0.1): DataFrame = {
    require(tau > 0, "tau must be positive")
    val base = df.filter(col(successCol).isNotNull && col(armCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(armCol).cast("boolean").as("__a"),
        col(successCol).cast("boolean").as("__y"))
    val stats = base.groupBy(col("__g"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a") && col("__y"), 1L).otherwise(0L)).as("k_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__a") && col("__y"), 1L).otherwise(0L))
          .as("k_b"))
    val pa = col("k_a").cast("double") / col("n_a").cast("double")
    val pb = col("k_b").cast("double") / col("n_b").cast("double")
    val pp = (col("k_a") + col("k_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val v = pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double"))
    val t2 = lit(tau * tau)
    val d = pa - pb
    val logE = lit(0.5) * log(v / (v + t2)) +
      d * d * t2 / (lit(2.0) * v * (v + t2))
    val live = col("n_a") > 0L && col("n_b") > 0L &&
      col("k_a") + col("k_b") > 0L &&
      col("k_a") + col("k_b") < col("n_a") + col("n_b")
    val logEMicro = round(lit(1e6) * logE).cast("long")
    stats.select(col("__g").as(groupCol), col("n_a"), col("k_a"),
      col("n_b"), col("k_b"),
      when(live, round(lit(1e6) * d).cast("long"))
        .otherwise(lit(null).cast("long")).as("d_micro"),
      when(live, logEMicro)
        .otherwise(lit(null).cast("long")).as("log_e_micro"),
      when(live,
        round(lit(1e6) * least(lit(1.0),
          exp(-logEMicro.cast("double") / lit(1e6)))).cast("long"))
        .otherwise(lit(null).cast("long")).as("p_always_micro"),
      // ln 20 = 2.995732…; the cut runs on the micro-rounded log-e
      // so both engines compare the same integer.
      when(live, logEMicro >= 2995732L).otherwise(lit(false))
        .as("significant"))
  }

  /** Delta-method CI for a ratio-of-sums metric with UNIT-level
    * clustering — the experimentation staple the naive row-level CI
    * gets wrong: revenue-per-event, CTR, tokens-per-doc are ratios
    * Σx/Σy whose randomization unit (user, doc) contributes many
    * correlated rows, so the variance must come from per-UNIT
    * totals: r = Σx/Σy and
    * var(r) ≈ (s²_x − 2r·s_xy + r²·s²_y) / (n·ȳ²) over the unit
    * aggregates (the standard linearization). Two hash-aggs (rows →
    * units → group), every sum exact in DECIMAL(38,0) off
    * micro-quantized values, the delta chain scalar IEEE per group.
    * Groups need ≥ 2 units and Σy > 0; otherwise NULL bounds
    * (stated). Output: (groupCol, n_units, ratio_micro, se_micro,
    * lo_micro, hi_micro). */
  def ratioMetricCI(
      df: DataFrame,
      groupCol: String,
      unitCol: String,
      numCol: String,
      denCol: String,
      z: Double = 1.959964): DataFrame = {
    require(z > 0, "z must be positive")
    val dec = "decimal(38,0)"
    val units = df.filter(col(numCol).isNotNull && col(denCol).isNotNull)
      .select(col(groupCol).as("__g"), col(unitCol).as("__u"),
        round(col(numCol).cast("double") * lit(1e6)).cast("long")
          .as("__x"),
        round(col(denCol).cast("double") * lit(1e6)).cast("long")
          .as("__y"))
      .groupBy(col("__g"), col("__u"))
      .agg(sum(col("__x")).as("__ux"), sum(col("__y")).as("__uy"))
    val stats = units.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("__ux").cast(dec)).as("__sx"),
        sum(col("__uy").cast(dec)).as("__sy"),
        sum((col("__ux").cast(dec) * col("__ux")).cast(dec)).as("__sxx"),
        sum((col("__ux").cast(dec) * col("__uy")).cast(dec)).as("__sxy"),
        sum((col("__uy").cast(dec) * col("__uy")).cast(dec)).as("__syy"))
    val nD = col("n_units").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val r = sx / sy
    val varX = (col("__sxx").cast("double") - sx * sx / nD) /
      (nD - lit(1.0))
    val varY = (col("__syy").cast("double") - sy * sy / nD) /
      (nD - lit(1.0))
    val covXY = (col("__sxy").cast("double") - sx * sy / nD) /
      (nD - lit(1.0))
    val yBar = sy / nD
    val varR = (varX - lit(2.0) * r * covXY + r * r * varY) /
      (nD * yBar * yBar)
    val se = sqrt(greatest(varR, lit(0.0)))
    val live = col("n_units") > 1L && col("__sy") > 0
    stats.select(col("__g").as(groupCol), col("n_units"),
      when(col("__sy") > 0, round(lit(1e6) * r).cast("long"))
        .otherwise(lit(null).cast("long")).as("ratio_micro"),
      when(live, round(lit(1e6) * se).cast("long"))
        .otherwise(lit(null).cast("long")).as("se_micro"),
      when(live, round(lit(1e6) * (r - lit(z) * se)).cast("long"))
        .otherwise(lit(null).cast("long")).as("lo_micro"),
      when(live, round(lit(1e6) * (r + lit(z) * se)).cast("long"))
        .otherwise(lit(null).cast("long")).as("hi_micro"))
  }

  /** Chapman mark–recapture population estimate — "how many are
    * there REALLY, given two independent sightings": units seen in
    * sample A (n1), in sample B (n2), and in both (m) give
    * N̂ = (n1+1)(n2+1)/(m+1) − 1 with
    * SE² = (n1+1)(n2+1)(n1−m)(n2−m)/((m+1)²(m+2)) — the
    * bias-corrected Lincoln–Petersen a coverage audit runs when two
    * independent detectors each catch part of a population
    * (residual duplicates, active users, crawlable URLs). Counts
    * are exact distinct censuses (one hash-agg over (group, unit)
    * membership flags); the estimate is scalar IEEE micro-rounded.
    * Degenerate m = 0 still estimates (Chapman is defined there —
    * that is its point) but only m ≥ 1 earns an SE you should
    * trust; both reported as-is. NULL units drop.
    * Output: (groupCol, n1, n2, m, n_hat_micro, se_micro). */
  def markRecapture(
      df: DataFrame,
      groupCol: String,
      unitCol: String,
      inACol: String,
      inBCol: String): DataFrame = {
    val flags = df.filter(col(unitCol).isNotNull)
      .select(col(groupCol).as("__g"), col(unitCol).as("__u"),
        col(inACol).cast("boolean").as("__a"),
        col(inBCol).cast("boolean").as("__b"))
      .groupBy(col("__g"), col("__u"))
      .agg(max(col("__a")).as("__ia"), max(col("__b")).as("__ib"))
    val stats = flags.groupBy(col("__g"))
      .agg(sum(when(col("__ia"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("__ib"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("__ia") && col("__ib"), 1L).otherwise(0L))
          .as("m"))
    val n1 = (col("n1") + 1L).cast("double")
    val n2 = (col("n2") + 1L).cast("double")
    val m1 = (col("m") + 1L).cast("double")
    val nHat = n1 * n2 / m1 - lit(1.0)
    val se = sqrt(n1 * n2 *
      (col("n1") - col("m")).cast("double") *
      (col("n2") - col("m")).cast("double") /
      (m1 * m1 * (col("m") + 2L).cast("double")))
    stats.select(col("__g").as(groupCol), col("n1"), col("n2"),
      col("m"),
      round(lit(1e6) * nHat).cast("long").as("n_hat_micro"),
      round(lit(1e6) * se).cast("long").as("se_micro"))
  }

  /** Platt scaling — logistic calibration P(y=1|s) = σ(a·s + b) fit
    * by `iters` distributed Newton–Raphson rounds: each round is ONE
    * aggregate pass (exact DECIMAL gradient/Hessian sums over
    * per-row MICRO-ROUNDED σ values), the 2×2 Newton solve is
    * scalar closed-form on the one-row aggregate, and (a, b)
    * micro-round between rounds — the [[graft.operators.Similarity]]
    * power-iteration discipline applied to an actual model fit.
    * The per-row σ is the only libm step (one exp), micro-rounded
    * immediately (the q304 convention), so every engine sums the
    * same integers. A non-positive Hessian determinant freezes the
    * step (log-loss is convex — this only fires on degenerate
    * all-one-label data). The final pass scores average log-loss
    * with σ clamped to [1, 999999] micro (a saturated probability
    * would send ln to −∞; the clamp is stated and symmetric).
    *
    * Scale: iters+1 aggregate passes over the data, a broadcast
    * 1-row param attach each — no shuffle beyond the aggregates,
    * no driver-side data. Output: one row —
    * (n, a_micro, b_micro, avg_logloss_micro). */
  def plattFit(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 20, "iters must be in [1, 20]")
    val dec = "decimal(38,0)"
    val spark = df.sparkSession
    val base = Dedup.truncate(df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(round(col(scoreCol).cast("double") * lit(1e6))
        .cast("long").as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
          .as("__y")))
    def withMu(p: DataFrame): DataFrame =
      base.crossJoin(broadcast(p))
        .withColumn("__z",
          col("__a").cast("double") / lit(1e6) *
            (col("__s").cast("double") / lit(1e6)) +
            col("__b").cast("double") / lit(1e6))
        .withColumn("__mu",
          round(lit(1e6) / (lit(1.0) + exp(-col("__z")))).cast("long"))
    var params: DataFrame = spark.range(1)
      .select(lit(0L).as("__a"), lit(0L).as("__b"))
    (1 to iters).foreach { _ =>
      val agg = withMu(params)
        .withColumn("__e", col("__y") * lit(1000000L) - col("__mu"))
        .withColumn("__w",
          col("__mu") * (lit(1000000L) - col("__mu")))
        .agg(
          sum((col("__e").cast(dec) * col("__s")).cast(dec)).as("__g1"),
          sum(col("__e").cast(dec)).as("__g0"),
          sum((col("__w").cast(dec) * col("__s") * col("__s"))
            .cast(dec)).as("__h11"),
          sum((col("__w").cast(dec) * col("__s")).cast(dec)).as("__h10"),
          sum(col("__w").cast(dec)).as("__h00"))
      val g1 = col("__g1").cast("double") / lit(1e12)
      val g0 = col("__g0").cast("double") / lit(1e6)
      val h11 = col("__h11").cast("double") / lit(1e24)
      val h10 = col("__h10").cast("double") / lit(1e18)
      val h00 = col("__h00").cast("double") / lit(1e12)
      val det = h11 * h00 - h10 * h10
      val da = (h00 * g1 - h10 * g0) / det
      val db = (h11 * g0 - h10 * g1) / det
      params = Dedup.truncate(agg.crossJoin(broadcast(params))
        .select(
          when(det > 0.0,
            round(col("__a").cast("double") + lit(1e6) * da)
              .cast("long")).otherwise(col("__a")).as("__a"),
          when(det > 0.0,
            round(col("__b").cast("double") + lit(1e6) * db)
              .cast("long")).otherwise(col("__b")).as("__b")))
    }
    val muc = least(greatest(col("__mu"), lit(1L)), lit(999999L))
    withMu(params)
      .withColumn("__ll",
        when(col("__y") === 1L,
          round(lit(-1e6) *
            log(muc.cast("double") / lit(1e6))).cast("long"))
          .otherwise(round(lit(-1e6) *
            log(lit(1.0) - muc.cast("double") / lit(1e6)))
            .cast("long")))
      .agg(count(lit(1)).as("n"), max(col("__a")).as("a_micro"),
        max(col("__b")).as("b_micro"),
        sum(col("__ll").cast(dec)).as("__lls"))
      .select(col("n"), col("a_micro"), col("b_micro"),
        round(col("__lls").cast("double") / col("n").cast("double"))
          .cast("long").as("avg_logloss_micro"))
  }

  /** Empirical-Bayes beta-binomial rate shrinkage — the "smoothed
    * CTR" estimator: small groups' raw rates are noise, so every
    * group's rate shrinks toward the cross-group prior by its own
    * evidence, shrunk = (k+α)/(n+α+β), with (α, β) fit by method of
    * moments on the GROUP-RATE distribution (mean m, variance v ⇒
    * α+β = m(1−m)/v − 1). The moment sums run over MICRO-ROUNDED
    * per-group rates — exact Long Σr and Σr², so the fit is
    * engine-identical; everything after is scalar IEEE off those
    * integers. Degenerate fits fall back to the RAW rate, stated:
    * v = 0 (all rates equal — nothing to shrink), a non-positive
    * prior strength (rates more dispersed than any binomial — the
    * beta-binomial model is wrong, shrinking would lie), or a lone
    * group. NULL outcomes drop (stated).
    * Scale: one hash-agg to the group census, one tiny moment
    * aggregate broadcast back — never a second data pass.
    * Output: (groupCol, n, k, rate_micro, shrunk_micro,
    * prior_strength_micro — NULL on fallback). */
  def ebBetaBinomial(
      df: DataFrame,
      groupCol: String,
      successCol: String): DataFrame = {
    val stats = df.filter(col(successCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L))
          .as("k"))
      .withColumn("rate_micro",
        round(lit(1e6) * col("k").cast("double") /
          col("n").cast("double")).cast("long"))
    val mom = stats.agg(count(lit(1)).as("__ng"),
      sum(col("rate_micro")).as("__s1"),
      sum(col("rate_micro") * col("rate_micro")).as("__s2"))
    val gD = col("__ng").cast("double")
    val m = col("__s1").cast("double") / gD / lit(1e6)
    val v = (col("__s2").cast("double") / gD -
      (col("__s1").cast("double") / gD) *
        (col("__s1").cast("double") / gD)) / lit(1e12)
    val strength = m * (lit(1.0) - m) / v - lit(1.0)
    val live = col("__ng") > 1L && v > 0.0 && strength > 0.0
    stats.crossJoin(broadcast(mom))
      .select(col("__g").as(groupCol), col("n"), col("k"),
        col("rate_micro"),
        when(live,
          round(lit(1e6) * (col("k").cast("double") + m * strength) /
            (col("n").cast("double") + strength)).cast("long"))
          .otherwise(col("rate_micro")).as("shrunk_micro"),
        when(live, round(lit(1e6) * strength).cast("long"))
          .otherwise(lit(null).cast("long"))
          .as("prior_strength_micro"))
  }

  /** Per-rater reliability against the crowd consensus — the census
    * that turns [[krippendorffAlpha]]'s "how good is this vendor
    * overall" into "WHICH rater drags it down": every vote is
    * compared to its item's [[majorityVote]] winner (lexical
    * tie-break — same consolidation, same ties), and each
    * (group, rater) reports vote count, agreements, and the exact
    * micro accuracy. Self-inclusion is the standard convention (a
    * rater's own vote counts toward the consensus it is scored
    * against — on well-rated items the bias is small and identical
    * in any engine; leave-one-out is a different estimator, not a
    * bug fix). NULL labels drop (they never voted).
    * Output: (groupCol, raterCol, n_votes, n_agree, acc_micro). */
  def raterAccuracy(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      raterCol: String,
      labelCol: String): DataFrame = {
    val votes = df.filter(col(labelCol).isNotNull)
      .select(col(groupCol).as("__g"), col(itemCol).as("__u"),
        col(raterCol).as("__r"), col(labelCol).cast("string").as("__c"))
    val top = majorityVote(votes, "__g", "__u", "__c")
      .select(col("__g"), col("__u"), col("top_label"))
    votes.join(top, Seq("__g", "__u"))
      .groupBy(col("__g"), col("__r"))
      .agg(count(lit(1)).as("n_votes"),
        sum(when(col("__c") === col("top_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("__g").as(groupCol), col("__r").as(raterCol),
        col("n_votes"), col("n_agree"),
        round(lit(1e6) * col("n_agree").cast("double") /
          col("n_votes").cast("double")).cast("long").as("acc_micro"))
  }

  /** EXACT equi-join cardinality WITHOUT running the join — the
    * pre-flight a planner wants before committing a shuffle at
    * 100 TB: join_rows = Σ_k c_L(k)·c_R(k) over the two key-count
    * censuses (a key-sized join of two hash-aggs, never the data
    * join itself), plus the single hottest key's contribution — the
    * row that decides whether the real join needs [[graft.operators.
    * Skew.saltedJoin]]. This is not an estimate: for inner equi-join
    * semantics the sum IS the output size. NULL keys never match in
    * an equi-join and are excluded (stated). join_rows/top_contrib
    * accumulate in DECIMAL(38,0) — never summed as BIGINT, which
    * would wrap/null at exactly the hot-key scales (1e10×1e10
    * matches = 1e20 rows) this pre-flight exists to warn about — and
    * REPORT as canonical decimal strings (arbitrary precision with a
    * hash-stable output type; gate outputs never carry DECIMAL);
    * the hot key reports deterministically (max on
    * (contribution, key) — total order). Output: one row —
    * (n_left, n_right, matched_keys, join_rows, top_key,
    * top_contrib). */
  def joinCardinality(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String): DataFrame = {
    val dec = "decimal(38,0)"
    def census(df: DataFrame, k: String, c: String) =
      df.filter(col(k).isNotNull)
        .groupBy(col(k).cast("string").as("__k"))
        .agg(count(lit(1)).as(c))
    val lc = census(left, leftKey, "__cl")
    val rc = census(right, rightKey, "__cr")
    val nl = left.agg(count(col(leftKey)).as("n_left"))
    val nr = right.agg(count(col(rightKey)).as("n_right"))
    lc.join(rc, Seq("__k"))
      .select(col("__k"),
        (col("__cl").cast(dec) * col("__cr")).cast(dec).as("__p"))
      .agg(count(lit(1)).as("matched_keys"),
        // join_rows/top_contrib stay DECIMAL(38,0) end to end: at the
        // hot-key scales this pre-flight exists for (1e10×1e10 matches
        // = 1e20 rows) a BIGINT cast would wrap/null exactly when the
        // answer matters.
        sum(col("__p")).cast(dec).as("join_rows"),
        max(struct(col("__p").as("p"), col("__k").as("k"))).as("__top"))
      .crossJoin(broadcast(nl))
      .crossJoin(broadcast(nr))
      .select(col("n_left"), col("n_right"),
        coalesce(col("matched_keys"), lit(0L)).as("matched_keys"),
        coalesce(col("join_rows"), lit(0L).cast(dec)).cast(dec)
          .cast("string").as("join_rows"),
        col("__top.k").as("top_key"),
        col("__top.p").cast(dec).cast("string").as("top_contrib"))
  }

  /** Kruskal–Wallis H test per group — the k-sample generalization of
    * [[mannWhitney]] ("do these k treatments draw from one
    * distribution"), evaluated through the rank-transform ANOVA
    * identity H = (N−1)·SSB/SST over DOUBLED midranks, which makes
    * the tie correction automatic (Conover's form): on exact integer
    * rank sums, SST2 = Σ c·r2² − N(N+1)² and
    * SSB2 = Σ_j R2_j²/n_j − N(N+1)². Midranks ride the same
    * (group, value) cell collapse + range-partitioned prefix as MW —
    * never a per-group window. Float steps: each treatment's
    * R2_j²/n_j is unit-rounded from exact DECIMAL(38,0) (order-free
    * under the group sum because the rounded quotients are integers;
    * the ±0.5 rounding is invisible against SST2 ~ N³/3), then the
    * single H and ε² divides. ε² = H/(N−1) is the rank effect size.
    * Groups with k < 2 or every value tied (SST2 = 0) report NULL
    * stats. Output: (groupCol, k, n, h_micro, eps2_micro). */
  def kruskalWallis(
      df: DataFrame,
      groupCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(treatmentCol).as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val vCells = base.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val run = Ranking.groupRunningSum(vCells, "__g", Seq("__v"), "__c")
      .withColumn("__r", col("running") - col("__c"))
      .withColumn("__r2", lit(2L) * col("__r") + col("__c") + 1L)
    val gStats = run.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n"),
        sum((col("__c").cast(dec) * col("__r2") * col("__r2"))
          .cast(dec)).as("__sumr2sq"))
    val tStats = base.groupBy(col("__g"), col("__t"), col("__v"))
      .agg(count(lit(1)).as("__ct"))
      .join(run.select(col("__g"), col("__v"), col("__r2")),
        Seq("__g", "__v"))
      .groupBy(col("__g"), col("__t"))
      .agg(sum(col("__ct")).as("__nj"),
        sum((col("__ct").cast(dec) * col("__r2")).cast(dec))
          .as("__rj"))
    val perG = tStats.groupBy(col("__g"))
      .agg(count(lit(1)).as("k"),
        sum(round((col("__rj") * col("__rj")).cast("double") /
          col("__nj").cast("double")).cast(dec)).as("__ssbq"))
    val floor0 =
      (col("n").cast(dec) * (col("n") + 1L) * (col("n") + 1L)).cast(dec)
    gStats.join(perG, Seq("__g"))
      .withColumn("__ssb2",
        greatest((col("__ssbq") - floor0).cast("double"), lit(0.0)))
      .withColumn("__sst2", (col("__sumr2sq") - floor0).cast(dec))
      .select(col("__g").as(groupCol), col("k"), col("n"),
        when(col("k") >= 2L && col("__sst2") > 0,
          round(lit(1e6) * (col("n") - 1L).cast("double") *
            col("__ssb2") / col("__sst2").cast("double"))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("h_micro"),
        when(col("k") >= 2L && col("__sst2") > 0,
          round(lit(1e6) * col("__ssb2") /
            col("__sst2").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("eps2_micro"))
  }

  /** Two-sample Anderson–Darling test per group — the tail-weighted
    * distribution comparison (KS sees the biggest CDF gap, usually
    * mid-distribution; AD's 1/(i(N−i)) weight makes the TAILS count,
    * which is where corpus drift actually lives). Pettitt's rank
    * form over the pooled (value, tie)-order:
    *
    *   A² = (1/(n·m)) · Σ_{i=1}^{N−1} (Mᵢ·N − i·n)² / (i·(N−i)),
    *
    * Mᵢ = how many of arm a's n values sit within the first i pooled
    * positions (ties broken by `tieCol` — stated; micro-quantized
    * values rarely tie on continuous data). Every numerator and
    * weight is an exact integer off the range-partitioned prefix
    * (never a per-group sort window); each term micro-rounds, the
    * sum is exact, and ONE divide closes. The large-sample 5%
    * critical value 2.492 rides along as a literal verdict. Groups
    * missing an arm are absent. Output: (groupCol, n_a, n_b,
    * a2_micro, significant). */
  def andersonDarling(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String,
      tieCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        when(col(sideCol).cast("boolean"), 1L).otherwise(0L).as("__a"),
        col(tieCol).as("__t"))
    val ranked = Ranking.groupRunningSum(
      Ranking.groupRank(base, "__g", Seq("__v", "__t"))
        .select(col("__g"), col("rank"), col("__a")),
      "__g", Seq("rank"), "__a")
    val tot = base.groupBy(col("__g"))
      .agg(sum(col("__a")).as("n_a"),
        sum(lit(1L) - col("__a")).as("n_b"),
        count(lit(1)).as("__N"))
      .filter(col("n_a") > 0L && col("n_b") > 0L)
    val dev = (col("running") * col("__N") - col("rank") * col("n_a"))
      .cast(dec)
    val terms = ranked.join(tot, Seq("__g"))
      .filter(col("rank") < col("__N"))
      .select(col("__g"),
        round(lit(1e6) * (dev * dev).cast("double") /
          (col("rank") * (col("__N") - col("rank"))).cast("double"))
          .cast("long").as("__term"))
      // DECIMAL sum: a fully-separated pair of big arms can push a
      // single tail term past 2^63 micro-units.
      .groupBy(col("__g")).agg(sum(col("__term").cast(dec)).as("__s"))
    tot.join(terms, Seq("__g"))
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
        round(col("__s").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).cast("long")
          .as("a2_micro"))
      .withColumn("significant", col("a2_micro") > 2492000L)
  }

  /** Internal-consistency reliability per group — Cronbach's α
    * (= KR-20 on binary items) and the one-way random-effects
    * ICC(1,1), the two numbers a labeling pipeline reads next to
    * [[krippendorffAlpha]] before trusting averaged rater scores:
    *
    *   α   = k/(k−1) · (1 − Σᵢ σᵢ² / σ_total²),
    *   ICC = (MSB − MSW)/(MSB + (k−1)·MSW).
    *
    * Only COMPLETE subjects (all k items rated) enter — incomplete
    * ones are censused in n_dropped_subjects, never silently
    * averaged over different raters. Every variance polynomial is
    * exact DECIMAL: α needs ONE divide (the per-item and total
    * (n(n−1)) denominators cancel), and the ICC mean squares are
    * the exact scaled sums N·Qst − k·G² and k·N·Qx − N·Qst over
    * mirrored divides. Degenerate groups (k < 2, n < 2, zero total
    * variance) report NULLs. Output: (groupCol, k, n_subjects,
    * n_dropped_subjects, alpha_micro, icc_micro). */
  def raterReliability(
      df: DataFrame,
      groupCol: String,
      subjectCol: String,
      itemCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(subjectCol).as("__s"),
        col(itemCol).as("__i"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val kPer = base.groupBy(col("__g"))
      .agg(countDistinct(col("__i")).as("k"))
    val perSubj = base.groupBy(col("__g"), col("__s"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__v")).as("__st"))
      .join(kPer, Seq("__g"))
    val completeSubj = perSubj.filter(col("__cnt") === col("k"))
    val dropped = perSubj.groupBy(col("__g"))
      .agg(sum(when(col("__cnt") =!= col("k"), 1L).otherwise(0L))
        .as("n_dropped_subjects"))
    val kept = base.join(completeSubj.select(col("__g"), col("__s")),
      Seq("__g", "__s"), "left_semi")
    val itemVar = kept.groupBy(col("__g"), col("__i"))
      .agg(count(lit(1)).as("__n"), sum(col("__v").cast(dec)).as("__si"),
        sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__qi"))
      .groupBy(col("__g"))
      .agg(sum((col("__n") * col("__qi") - col("__si") * col("__si"))
        .cast(dec)).as("__viSum"),
        sum(col("__qi")).as("__qx"))
    val subjAgg = completeSubj.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_subjects"),
        sum(col("__st").cast(dec)).as("__gt"),
        sum((col("__st").cast(dec) * col("__st")).cast(dec))
          .as("__qst"))
    val j = kPer.join(dropped, Seq("__g"))
      .join(subjAgg, Seq("__g"), "left")
      .join(itemVar, Seq("__g"), "left")
    val n = col("n_subjects")
    val bigN = (n * col("k")).cast(dec)
    val vt = (n * col("__qst") - col("__gt") * col("__gt")).cast(dec)
    val aNum = (bigN * col("__qst") - col("k") * (col("__gt") *
      col("__gt")).cast(dec)).cast(dec)
    val bNum = (bigN * col("__qx").cast(dec) * col("k") -
      bigN * col("__qst")).cast(dec)
    val msb = aNum.cast("double") /
      (bigN * (n - 1L)).cast(dec).cast("double")
    val msw = bNum.cast("double") /
      (bigN * n * (col("k") - 1L)).cast(dec).cast("double")
    val okBase = col("k") >= 2L && coalesce(n, lit(0L)) >= 2L
    j.select(col("__g").as(groupCol), col("k"),
      coalesce(n, lit(0L)).as("n_subjects"), col("n_dropped_subjects"),
      when(okBase && vt > 0,
        round(lit(1e6) * col("k").cast("double") /
          (col("k") - 1L).cast("double") *
          (lit(1.0) - col("__viSum").cast("double") /
            vt.cast("double"))).cast("long"))
        .otherwise(lit(null).cast("long")).as("alpha_micro"),
      when(okBase && (msb + (col("k") - 1L).cast("double") * msw) > 0.0,
        round(lit(1e6) * (msb - msw) /
          (msb + (col("k") - 1L).cast("double") * msw)).cast("long"))
        .otherwise(lit(null).cast("long")).as("icc_micro"))
  }

  /** Yuen's trimmed-mean t-test per group — [[welchT]] for data
    * with real tails: trim the extreme g = ⌊n·trim‰/1000⌋ values
    * off EACH end of EACH arm (pure integer rank cuts — no float
    * decides who is extreme), compare the trimmed means, and
    * standardize by the WINSORIZED variances (Yuen 1974):
    *
    *   t = (x̄ₜ,a − x̄ₜ,b) / √(d_a + d_b),
    *   d_i = (nᵢ·Σw² − (Σw)²) / (nᵢ·hᵢ·(hᵢ−1)),  hᵢ = nᵢ − 2gᵢ,
    *
    * where w are the winsorized (boundary-clipped) micro values —
    * the Σ's exact DECIMAL, the boundary values actual data
    * selected at ranks g+1 and n−g ([[Ranking.groupQuantiles]]'s
    * selection idiom), each dᵢ ONE mirrored float chain, and the
    * close one sqrt + divide on the already-rounded trimmed-mean
    * micros. Welch–Satterthwaite df on the same dᵢ rides along.
    * Arms with hᵢ < 2, or zero winsorized variance in BOTH arms,
    * report NULL t. NULL values and missing arms drop (stated).
    * Output: (groupCol, n_a, n_b, h_a, h_b, tmean_a_micro,
    * tmean_b_micro, t_micro, df_micro). */
  def yuenTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String,
      tieCol: String,
      trimMilli: Int = 200): DataFrame = {
    require(trimMilli >= 0 && trimMilli < 500,
      "trimMilli must be in [0, 500)")
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(sideCol).cast("boolean").as("__a"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(tieCol).as("__t"))
      .withColumn("__gs", struct(col("__g"), col("__a")))
    val ranked = Ranking.groupRank(base, "__gs", Seq("__v", "__t"))
    val nPer = ranked.groupBy(col("__g"), col("__a"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__cut", expr(s"(__n * ${trimMilli}L) div 1000L"))
      .withColumn("__h", col("__n") - lit(2L) * col("__cut"))
    val joined = ranked.select(col("__g"), col("__a"), col("rank"),
        col("__v"))
      .join(nPer, Seq("__g", "__a"))
    val bounds = joined.groupBy(col("__g"), col("__a"))
      .agg(min(when(col("rank") === col("__cut") + 1L, col("__v")))
          .as("__lo"),
        min(when(col("rank") === col("__n") - col("__cut"), col("__v")))
          .as("__hi"))
    val wv = greatest(col("__lo"), least(col("__hi"), col("__v")))
    val arms = joined.join(bounds, Seq("__g", "__a"))
      .groupBy(col("__g"), col("__a"))
      .agg(max(col("__n")).as("n"), max(col("__h")).as("h"),
        sum(when(col("rank") > col("__cut") &&
          col("rank") <= col("__n") - col("__cut"),
          col("__v").cast(dec)).otherwise(lit(0L).cast(dec)))
          .as("__ts"),
        sum(wv.cast(dec)).as("__sw"),
        sum((wv.cast(dec) * wv).cast(dec)).as("__qw"))
      .withColumn("__tm",
        when(col("h") > 0L, round(col("__ts").cast("double") /
          col("h").cast("double")).cast("long")))
      .withColumn("__d",
        when(col("h") >= 2L,
          (col("n") * col("__qw") - col("__sw") * col("__sw"))
            .cast(dec).cast("double") /
            (col("n") * col("h") * (col("h") - 1L)).cast("double")))
    def side(flag: Boolean, tag: String) = arms
      .filter(col("__a") === flag)
      .select(col("__g"), col("n").as(s"n_$tag"),
        col("h").as(s"h_$tag"), col("__tm").as(s"tmean_${tag}_micro"),
        col("__d").as(s"__d_$tag"))
    val two = side(flag = true, "a").join(side(flag = false, "b"),
      Seq("__g"))
    val dsum = col("__d_a") + col("__d_b")
    val ok = col("h_a") >= 2L && col("h_b") >= 2L && dsum > 0.0
    two.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      col("h_a"), col("h_b"), col("tmean_a_micro"),
      col("tmean_b_micro"),
      when(ok, round(lit(1e6) *
        (col("tmean_a_micro") - col("tmean_b_micro")).cast("double") /
        sqrt(dsum)).cast("long"))
        .otherwise(lit(null).cast("long")).as("t_micro"),
      when(ok, round(lit(1e6) * dsum * dsum /
        (col("__d_a") * col("__d_a") / (col("h_a") - 1L).cast("double") +
          col("__d_b") * col("__d_b") /
            (col("h_b") - 1L).cast("double"))).cast("long"))
        .otherwise(lit(null).cast("long")).as("df_micro"))
  }

  /** Fisher's method per group — combine m independent p-values
    * into one: χ² = −2·Σ ln pᵢ on 2m degrees of freedom (small
    * effects pointing the same way stack into one loud signal —
    * the meta-analytic closer next to [[bhFdr]]'s which-survive
    * view). Each ln is micro-nat quantized per row (the lmScore
    * idiom), the sum exact; p = 0 is clamped to 1 micro before the
    * ln (a literal zero would be −∞ — stated, and it keeps a
    * degenerate underflowed test from wiping the whole group).
    * NULL p-values drop. Output: (groupCol, m, df, chi2_micro). */
  def fisherCombine(
      df: DataFrame,
      groupCol: String,
      pMicroCol: String): DataFrame = {
    df.filter(col(pMicroCol).isNotNull)
      .select(col(groupCol).as("__g"),
        greatest(lit(1L), col(pMicroCol).cast("long")).as("__p"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("m"),
        sum(round(lit(1e6) *
          log(col("__p").cast("double") / lit(1e6))).cast("long"))
          .as("__slnp"))
      .select(col("__g").as(groupCol), col("m"),
        (lit(2L) * col("m")).as("df"),
        (lit(-2L) * col("__slnp")).as("chi2_micro"))
  }

  /** Benjamini–Hochberg FDR correction per group — the multiple-
    * testing closer for the whole test battery ([[fisherExact]],
    * [[twoProportionTest]], [[mannWhitney]]…): run m tests, feed
    * the p-values here, read back WHICH survive at false-discovery
    * rate α. Step-up rule via the equivalent adjusted q-values:
    * q_k = min(1, min_{j≥k} p_j·m/j) over the (p, id)-ranked tests,
    * reject iff q ≤ α. Ranking rides [[Ranking.groupRank]]'s
    * range-partitioned prefix; the raw quotients are single rounded
    * divides of exact integers; the suffix-min runs over the TEST
    * census (m rows per group — a window there is metadata, not
    * data). NULL p-values drop (they were never tests).
    * Output: (groupCol, idCol, p_micro, rank, m, q_micro,
    * rejected). */
  def bhFdr(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      pMicroCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    val alphaMicro = math.round(alpha * 1e6)
    val dec = "decimal(38,0)"
    val ranked = Ranking.groupRank(
      df.filter(col(pMicroCol).isNotNull)
        .select(col(groupCol).as("__g"), col(idCol).as("__id"),
          col(pMicroCol).cast("long").as("__p")),
      "__g", Seq("__p", "__id"))
    val m = ranked.groupBy(col("__g")).agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.join(m, Seq("__g"))
      .withColumn("__qraw",
        round((col("__p").cast(dec) * col("m")).cast("double") /
          col("rank").cast("double")).cast("long"))
      .withColumn("q_micro",
        least(lit(1000000L), min(col("__qraw")).over(w)))
      .select(col("__g").as(groupCol), col("__id").as(idCol),
        col("__p").as("p_micro"), col("rank"), col("m"),
        col("q_micro"),
        (col("q_micro") <= alphaMicro).as("rejected"))
  }

  /** First-order partial correlation per group — "does x still
    * correlate with y once z is held fixed", the one-line
    * confounder check run before reading ANY pairwise correlation
    * as causal (ice-cream sales and drownings decorrelate given
    * temperature):
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)).
    *
    * The three Pearson r's come from ONE ten-sum exact-DECIMAL pass
    * (micro-quantized values, each r a single mirrored
    * sqrt-product divide, micro-rounded); the partial combines the
    * ALREADY-ROUNDED micro r's — that materialized rounding point
    * is what makes the two-stage float chain engine-exact. Any
    * zero-variance column NULLs the r's that touch it and the
    * partial; |r_xz| or |r_yz| = 1 (z explains everything) NULLs
    * the partial's divide. Output: (groupCol, n, r_xy_micro,
    * r_xz_micro, r_yz_micro, partial_micro). */
  def partialCorr(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String,
      zCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(xCol).cast("double") * lit(1e6)).cast("long").as("__x"),
        round(col(yCol).cast("double") * lit(1e6)).cast("long").as("__y"),
        round(col(zCol).cast("double") * lit(1e6)).cast("long").as("__z"))
    def s2(a: String, b: String) =
      sum((col(a).cast(dec) * col(b)).cast(dec)).as(s"__s$a$b")
    val agg = base.groupBy(col("__g")).agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast(dec)).as("__s__x"),
      sum(col("__y").cast(dec)).as("__s__y"),
      sum(col("__z").cast(dec)).as("__s__z"),
      s2("__x", "__x"), s2("__y", "__y"), s2("__z", "__z"),
      s2("__x", "__y"), s2("__x", "__z"), s2("__y", "__z"))
    val n = col("n").cast(dec)
    def den(a: String) =
      (n * col(s"__s$a$a") - col(s"__s$a") * col(s"__s$a")).cast(dec)
    def r(a: String, b: String) = {
      val num = (n * col(s"__s$a$b") - col(s"__s$a") * col(s"__s$b"))
        .cast(dec)
      when(den(a) > 0 && den(b) > 0,
        round(lit(1e6) * num.cast("double") /
          (sqrt(den(a).cast("double")) * sqrt(den(b).cast("double"))))
          .cast("long"))
        .otherwise(lit(null).cast("long"))
    }
    val withR = agg
      .withColumn("r_xy_micro", r("__x", "__y"))
      .withColumn("r_xz_micro", r("__x", "__z"))
      .withColumn("r_yz_micro", r("__y", "__z"))
    def rd(c: String) = col(c).cast("double") / lit(1e6)
    withR
      .withColumn("__dxz",
        lit(1.0) - rd("r_xz_micro") * rd("r_xz_micro"))
      .withColumn("__dyz",
        lit(1.0) - rd("r_yz_micro") * rd("r_yz_micro"))
      .select(col("__g").as(groupCol), col("n"),
        col("r_xy_micro"), col("r_xz_micro"), col("r_yz_micro"),
        when(col("r_xy_micro").isNotNull &&
          col("r_xz_micro").isNotNull && col("r_yz_micro").isNotNull &&
          col("__dxz") > 0.0 && col("__dyz") > 0.0,
          round(lit(1e6) *
            (rd("r_xy_micro") - rd("r_xz_micro") * rd("r_yz_micro")) /
            (sqrt(col("__dxz")) * sqrt(col("__dyz")))).cast("long"))
          .otherwise(lit(null).cast("long")).as("partial_micro"))
  }

  /** Fisher's exact test per group (2×2, two-sided) — the
    * small-stratum independence test [[cramersV]]-style χ² cannot
    * be trusted with (expected cells < 5): enumerate every table
    * with the observed margins, sum the hypergeometric probability
    * of each table AS EXTREME as the observed one (P(k) ≤ P(obs),
    * compared on MICRO-ROUNDED log-probabilities so the inclusion
    * set is engine-exact — the R `relErr` guard made deterministic).
    * The combinatorial structure is exact; the ln-factorials use
    * Stirling–de Moivre with two correction terms (worst case
    * ~2·10⁻⁵ absolute at n = 2, vanishing fast — stated: p-values
    * are mid-asymptotic, the DETERMINISM is exact). Each included
    * table contributes round(1e9·exp(lnP)) — exact nano sums, one
    * /1e3 close. Odds ratio rides along (NULL on a zero cell).
    *
    * Scale: one cells census per group, then max(0, c1−r2) ≤ k ≤
    * min(r1, c1) explodes per group — BOUNDED by `maxRange`
    * (default 10⁴): a stratum whose margins would enumerate more
    * tables reports NULL p with too_large = true, because at that
    * size the χ²/G-test asymptotics are valid anyway and the
    * enumeration is the wrong tool. Empty margins collapse to the
    * single k = 0 table (p = 1), not an error.
    * Output: (groupCol, n11, n12, n21, n22, p_micro, or_micro,
    * too_large). */
  def fisherExact(
      df: DataFrame,
      groupCol: String,
      rowFlagCol: String,
      colFlagCol: String,
      maxRange: Int = 10000): DataFrame = {
    require(maxRange >= 1, "maxRange must be positive")
    def lf(n: Column): Column = {
      val nd = n.cast("double")
      when(n <= 1L, lit(0.0)).otherwise(
        nd * log(nd) - nd +
          lit(0.5) * log(lit(6.283185307179586) * nd) +
          lit(1.0) / (lit(12.0) * nd) -
          lit(1.0) / (lit(360.0) * nd * nd * nd))
    }
    val cells = df
      .filter(col(rowFlagCol).isNotNull && col(colFlagCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(rowFlagCol).cast("boolean").as("__r"),
        col(colFlagCol).cast("boolean").as("__c"))
      .groupBy(col("__g"))
      .agg(
        sum(when(col("__r") && col("__c"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("__r") && !col("__c"), 1L).otherwise(0L)).as("n12"),
        sum(when(!col("__r") && col("__c"), 1L).otherwise(0L)).as("n21"),
        sum(when(!col("__r") && !col("__c"), 1L).otherwise(0L))
          .as("n22"))
      .withColumn("__r1", col("n11") + col("n12"))
      .withColumn("__r2", col("n21") + col("n22"))
      .withColumn("__c1", col("n11") + col("n21"))
      .withColumn("__n", col("__r1") + col("__r2"))
      .withColumn("__klo", greatest(lit(0L), col("__c1") - col("__r2")))
      .withColumn("__khi", least(col("__r1"), col("__c1")))
      .withColumn("too_large",
        col("__khi") - col("__klo") >= maxRange.toLong)
    def lnpMicro(k: Column) = round(lit(1e6) * (
      lf(col("__r1")) - lf(k) - lf(col("__r1") - k) +
        lf(col("__r2")) - lf(col("__c1") - k) -
        lf(col("__r2") - col("__c1") + k) -
        lf(col("__n")) + lf(col("__c1")) +
        lf(col("__n") - col("__c1")))).cast("long")
    val ks = cells.filter(!col("too_large"))
      .withColumn("__k",
        explode(sequence(col("__klo"), col("__khi"))))
      .withColumn("__lnp", lnpMicro(col("__k")))
      .withColumn("__lnpObs", lnpMicro(col("n11")))
    val p = ks.groupBy(col("__g"))
      .agg(sum(when(col("__lnp") <= col("__lnpObs"),
        round(lit(1e9) *
          exp(col("__lnp").cast("double") / lit(1e6))).cast("long"))
        .otherwise(0L)).as("__pn"))
      .select(col("__g"),
        least(lit(1000000L), round(col("__pn").cast("double") /
          lit(1e3)).cast("long")).as("p_micro"))
    cells.join(p, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n11"), col("n12"),
        col("n21"), col("n22"), col("p_micro"),
        when(col("n12") > 0L && col("n21") > 0L,
          round(lit(1e6) *
            (col("n11").cast("double") * col("n22").cast("double")) /
            (col("n12").cast("double") * col("n21").cast("double")))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("or_micro"),
        col("too_large"))
  }

  /** Hodges–Lehmann shift + Cliff's delta per group — the ROBUST
    * effect-size pair read next to [[mannWhitney]]'s p-value (the U
    * test says "the arms differ"; these say BY HOW MUCH, outlier-
    * proof): HL = the LOW median of all n_a·n_b pairwise
    * differences a − b (the shift that best superimposes the two
    * distributions), Cliff's δ = (#[a > b] − #[a < b])/(n_a·n_b)
    * ∈ [−1, 1] (the dominance probability gap — δ = 2·U/(n_a·n_b)
    * − 1 up to tie handling). Differences are exact micro Longs,
    * the median an integer order-statistic selection, δ one rounded
    * divide of exact counts — engine-exact throughout.
    *
    * Scale: the pair census is inherently n_a·n_b per group, so
    * each arm TRUNCATES to its first `maxN` values in (value, tie)
    * order — the [[TimeSeries.mannKendall]] bound; n_a/n_b report
    * what was used. Groups missing either arm are absent (no pair,
    * no shift). Output: (groupCol, n_a, n_b, hl_micro,
    * cliffs_micro). */
  def hodgesLehmann(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String,
      tieCol: String,
      maxN: Int = 512): DataFrame = {
    require(maxN >= 1 && maxN <= graft.functions.SeriesKernels.MaxArmN,
      s"maxN must be in [1, ${graft.functions.SeriesKernels.MaxArmN}]" +
        " — it bounds the n_a·n_b pair census")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"), col(tieCol).as("__t"))
    // BOTH arms' bounded heaps ride ONE aggregation (r18: the former
    // per-arm groupTopK ran the selection four times — twice per arm
    // — and the cross join + window sort shuffled every pair row);
    // the cross-arm census (differences, dominance counts, HL LOW
    // median) is one in-task kernel over the two ≤ maxN arrays, same
    // (__v, __t) selection order, all exact integers (guide §2.3/2.4).
    def armK(flag: Boolean) = graft.functions.TopKAggregate
      .topKStructsOf(when(col("__a") === flag,
        struct(col("__v"), col("__t"))), maxN)
    val series = base.groupBy(col("__g"))
      .agg(armK(flag = true).as("__sa"), armK(flag = false).as("__sb"))
    series
      .select(col("__g"),
        graft.functions.SeriesKernels.hodgesLehmannStats(
          transform(col("__sa"), e => e.getField("__v")),
          transform(col("__sb"), e => e.getField("__v"))).as("__st"))
      .filter(col("__st").isNotNull)
      .select(col("__g").as(groupCol),
        col("__st.n_a").as("n_a"), col("__st.n_b").as("n_b"),
        col("__st.hl_micro").as("hl_micro"),
        round(lit(1e6) *
          (col("__st.gt") - col("__st.lt")).cast("double") /
          col("__st.m").cast("double")).cast("long").as("cliffs_micro"))
  }

  /** Bartlett's test of equal variances per group — the
    * k-treatment homoscedasticity check that is SHARPER than
    * [[brownForsythe]] when the data really are normal (and
    * famously oversensitive when they are not — run both; BF is the
    * robust verdict, Bartlett the powerful one):
    *
    *   χ² = [ (N−k)·ln S_p² − Σ (nᵢ−1)·ln Sᵢ² ] / C,
    *   C  = 1 + ( Σ 1/(nᵢ−1) − 1/(N−k) ) / (3(k−1))
    *
    * Values micro-quantize per row; each arm's variance numerator
    * nᵢ·Σv² − (Σv)² is an exact DECIMAL polynomial, and every
    * cross-arm float SUM is quantized per arm first — the ln terms
    * to micro, the pooled-variance contributions ssdᵢ/nᵢ to micro,
    * the 1/(nᵢ−1) reciprocals to pico — then summed as exact
    * integers (the [[brierDecomposition]] order-free-sum rule), so
    * no arm ordering can move the result. Arms with nᵢ < 2 drop
    * (censused in n_dropped_arms); an arm with ZERO variance makes
    * ln Sᵢ² undefined, so the group's χ² is NULL and the arm count
    * surfaces in n_zerovar — the caller sees exactly why. k < 2
    * likewise reports NULL (nothing to compare).
    *
    * Scale: one (group, arm) hash-agg, then arm-census-sized
    * algebra. Output: (groupCol, k, n, n_dropped_arms, n_zerovar,
    * chi2_micro, c_micro). */
  def bartlett(
      df: DataFrame,
      groupCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val arms = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(treatmentCol).as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
      .groupBy(col("__g"), col("__t"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__q"))
    val ssd = (col("__n") * col("__q") - col("__s") * col("__s"))
      .cast(dec)
    val lnVar = log(ssd.cast("double") /
      (col("__n") * (col("__n") - 1L)).cast("double"))
    val perArm = arms.filter(col("__n") >= 2L)
      .select(col("__g"), col("__n"),
        when(ssd > 0,
          round(lit(1e6) * (col("__n") - 1L).cast("double") * lnVar)
            .cast("long")).as("__term"),
        when(ssd > 0, lit(0L)).otherwise(lit(1L)).as("__zv"),
        round(ssd.cast("double") / col("__n").cast("double"))
          .cast(dec).as("__w"),
        round(lit(1e12) / (col("__n") - 1L).cast("double"))
          .cast("long").as("__inv"))
    val gAgg = perArm.groupBy(col("__g"))
      .agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
        sum(col("__zv")).as("n_zerovar"),
        sum(col("__term")).as("__terms"),
        sum(col("__w")).as("__sw"),
        sum(col("__inv").cast(dec)).as("__sinv"))
    val dropped = arms.groupBy(col("__g"))
      .agg(sum(when(col("__n") < 2L, 1L).otherwise(0L))
        .as("n_dropped_arms"))
    val nk = (col("n") - col("k")).cast("double")
    // __w carries the same micro² scale as lnVar's argument, so the
    // ln-difference cancels the units exactly — no rescale here.
    val lnSp = log(col("__sw").cast("double") / nk)
    val cFactor = lit(1.0) +
      (col("__sinv").cast("double") / lit(1e12) - lit(1.0) / nk) /
        (lit(3.0) * (col("k") - 1L).cast("double"))
    dropped.join(gAgg, Seq("__g"), "left")
      .select(col("__g").as(groupCol),
        coalesce(col("k"), lit(0L)).as("k"),
        coalesce(col("n"), lit(0L)).as("n"), col("n_dropped_arms"),
        coalesce(col("n_zerovar"), lit(0L)).as("n_zerovar"),
        when(col("k") >= 2L && col("n_zerovar") === 0L,
          round((round(lit(1e6) * nk * lnSp).cast("long") -
            col("__terms")).cast("double") / cFactor).cast("long"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"),
        when(col("k") >= 2L,
          round(lit(1e6) * cFactor).cast("long"))
          .otherwise(lit(null).cast("long")).as("c_micro"))
  }

  /** Welch's heteroscedastic one-way ANOVA per group — the k-arm
    * comparison to reach for when [[bartlett]]/[[brownForsythe]]
    * REJECT equal variances (classic [[anovaF]] pools them and
    * silently favors big noisy arms): arms weight by wᵢ = nᵢ/sᵢ²,
    *
    *   F = [ Σwᵢ(mᵢ−m̄)² / (k−1) ] / B,   m̄ = Σwᵢmᵢ / W,
    *   B = 1 + 2(k−2)/(k²−1)·H,  H = Σ(1−wᵢ/W)²/(nᵢ−1),
    *   df₂ = (k²−1) / (3H).
    *
    * Quantization ladder (every cross-arm float sum is pinned to an
    * integer FIRST — the [[bartlett]] rule): means to micro, the
    * weights to ATTO (round(1e18·nᵢ/sᵢ²) — DECIMAL, a near-constant
    * arm's weight is astronomical but exact), the coverage terms H
    * to pico; W, Σwm, ΣwA ride DECIMAL(38,0). Arms with nᵢ < 2 drop
    * (censused); a ZERO-variance arm has infinite weight, so the
    * group's F is NULL with the arm surfaced in n_zerovar — same
    * contract as [[bartlett]].
    *
    * Scale: one (group, arm) hash-agg + arm-census algebra; the m̄
    * pass is a census self-join, never a data rescan.
    * Output: (groupCol, k, n, n_dropped_arms, n_zerovar, f_micro,
    * df2_micro). */
  def welchAnova(
      df: DataFrame,
      groupCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val arms0 = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(treatmentCol).as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
      .groupBy(col("__g"), col("__t"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__q"))
    val dropped = arms0.groupBy(col("__g"))
      .agg(sum(when(col("__n") < 2L, 1L).otherwise(0L))
        .as("n_dropped_arms"))
    val ssd = (col("__n") * col("__q") - col("__s") * col("__s"))
      .cast(dec)
    val v2 = ssd.cast("double") /
      (col("__n") * (col("__n") - 1L)).cast("double")
    val arms = arms0.filter(col("__n") >= 2L)
      .select(col("__g"), col("__n"),
        round(col("__s").cast("double") / col("__n").cast("double"))
          .cast("long").as("__m"),
        when(ssd > 0, round(lit(1e18) * col("__n").cast("double") / v2)
          .cast(dec)).as("__w"),
        when(ssd > 0, lit(0L)).otherwise(lit(1L)).as("__zv"))
    val g1 = arms.groupBy(col("__g"))
      .agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
        sum(col("__zv")).as("n_zerovar"),
        sum(col("__w")).as("__bigw"),
        sum((col("__w") * col("__m")).cast(dec)).as("__swm"))
      .withColumn("__mbar",
        round(col("__swm").cast("double") / col("__bigw").cast("double"))
          .cast("long"))
    val terms = arms.join(g1.select(col("__g"), col("__bigw"),
        col("__mbar")), Seq("__g"))
      .select(col("__g"),
        (col("__w") * ((col("__m") - col("__mbar")).cast(dec) *
          (col("__m") - col("__mbar"))).cast(dec)).cast(dec).as("__a"),
        round(lit(1e12) *
          ((lit(1.0) - col("__w").cast("double") /
            col("__bigw").cast("double")) *
            (lit(1.0) - col("__w").cast("double") /
              col("__bigw").cast("double"))) /
          (col("__n") - 1L).cast("double")).cast("long").as("__h"))
      .groupBy(col("__g"))
      .agg(sum(col("__a")).as("__sa"), sum(col("__h")).as("__sh"))
    val kk1 = (col("k") * col("k") - 1L).cast("double")
    val hsum = col("__sh").cast("double") / lit(1e12)
    val aTerm = col("__sa").cast("double") / lit(1e18) /
      (col("k") - 1L).cast("double")
    val bTerm = lit(1.0) +
      lit(2.0) * (col("k") - 2L).cast("double") * hsum / kk1
    val ok = col("k") >= 2L && col("n_zerovar") === 0L && col("__sh") > 0L
    dropped.join(g1.join(terms, Seq("__g")), Seq("__g"), "left")
      .select(col("__g").as(groupCol),
        coalesce(col("k"), lit(0L)).as("k"),
        coalesce(col("n"), lit(0L)).as("n"), col("n_dropped_arms"),
        coalesce(col("n_zerovar"), lit(0L)).as("n_zerovar"),
        when(ok, round(lit(1e6) * aTerm / bTerm).cast("long"))
          .otherwise(lit(null).cast("long")).as("f_micro"),
        when(ok, round(lit(1e6) * kk1 / (lit(3.0) * hsum)).cast("long"))
          .otherwise(lit(null).cast("long")).as("df2_micro"))
  }

  /** Shared one-way-ANOVA kernel over an already micro-quantized
    * LongType value (columns __g, __t, __v): per-treatment exact
    * count/sum in DECIMAL(38,0); the between-groups sum of squares
    * uses per-treatment unit-rounded S_j²/n_j quotients (order-free
    * integers under the group sum — the [[kruskalWallis]] trick) and
    * the grand term S²/N the same way; SST comes off the exact Σv²;
    * then the only remaining floats are the final F and η² divides.
    * SS values carry the micro² scale — F and η² are ratios, so the
    * scale cancels. */
  private def anovaCoreMicro(base: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val perG = base.groupBy(col("__g"), col("__t"))
      .agg(count(lit(1)).as("__nj"), sum(col("__v").cast(dec)).as("__sj"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("k"), sum(col("__nj")).as("n"),
        sum(col("__sj")).as("__s"),
        sum(round((col("__sj") * col("__sj")).cast("double") /
          col("__nj").cast("double")).cast(dec)).as("__ssbq"))
    val q2 = base.groupBy(col("__g"))
      .agg(sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__q2"))
    perG.join(q2, Seq("__g"))
      .withColumn("__gm",
        round((col("__s") * col("__s")).cast("double") /
          col("n").cast("double")).cast(dec))
      .withColumn("__ssb",
        greatest((col("__ssbq") - col("__gm")).cast("double"), lit(0.0)))
      .withColumn("__sst", (col("__q2") - col("__gm")).cast(dec))
      .withColumn("__ssw",
        col("__sst").cast("double") - col("__ssb"))
      .select(col("__g"), col("k"), col("n"),
        when(col("k") >= 2L && col("n") > col("k") && col("__ssw") > 0.0,
          round(lit(1e6) *
            (col("__ssb") / (col("k") - 1L).cast("double")) /
            (col("__ssw") / (col("n") - col("k")).cast("double")))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("f_micro"),
        when(col("__sst") > 0,
          round(lit(1e6) * col("__ssb") / col("__sst").cast("double"))
            .cast("long"))
          .otherwise(lit(null).cast("long")).as("eta2_micro"))
  }

  /** One-way ANOVA F + η² per group — "do these k treatments share a
    * mean", the parametric companion to [[kruskalWallis]] (same
    * fixture shape; KW asks about distributions, this about means
    * under equal-variance normality). Values micro-quantize once;
    * everything to the F is the [[anovaCoreMicro]] integer census.
    * Output: (groupCol, k, n, f_micro, eta2_micro). */
  def anovaF(
      df: DataFrame,
      groupCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(treatmentCol).as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    anovaCoreMicro(base).withColumnRenamed("__g", groupCol)
  }

  /** Brown–Forsythe (median-centered Levene) test per group — "do
    * these k treatments share a VARIANCE", the homoscedasticity check
    * a pipeline runs before trusting [[anovaF]] or [[welchT]]'s
    * pooled-variance story. Each treatment centers on its LOW MEDIAN
    * (the value at position ⌈n/2⌉ — integer-exact and
    * engine-agnostic, unlike the averaged even-count median), found
    * positionally from the (treatment, value) cell census + the
    * range-partitioned prefix (never a per-treatment sort window);
    * then the classic one-way F runs on |v − med| via
    * [[anovaCoreMicro]]. The absolute deviations are exact micro
    * longs, so the only floats are the kernel's.
    * Output: (groupCol, k, n, f_micro, eta2_micro). */
  def brownForsythe(
      df: DataFrame,
      groupCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(treatmentCol).as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val cells = base.groupBy(col("__g"), col("__t"), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__gt", struct(col("__g"), col("__t")))
    val run = Ranking.groupRunningSum(cells, "__gt", Seq("__v"), "__c")
    val nPer = cells.groupBy(col("__g"), col("__t"))
      .agg(sum(col("__c")).as("__n"))
    val med = run.join(nPer, Seq("__g", "__t"))
      .filter(col("running") >= expr("(__n + 1) div 2"))
      .groupBy(col("__g"), col("__t")).agg(min(col("__v")).as("__med"))
    val dev = base.join(broadcast(med), Seq("__g", "__t"))
      .select(col("__g"), col("__t"),
        abs(col("__v") - col("__med")).as("__v"))
    anovaCoreMicro(dev).withColumnRenamed("__g", groupCol)
  }

  /** Murphy decomposition of the Brier score per group — calibration
    * diagnostics for a probabilistic classifier at corpus scale:
    * brier = reliability − resolution + uncertainty over fixed decile
    * bins of the milli-scaled probability (b = min(p/100, 9) — bin
    * edges are integer, so no float can move a row across a bin).
    * Every bin statistic is an exact integer census; the three
    * fraction families — reliability's (s_b−1000·o_b)²/n_b and
    * resolution's (o_b·N−n_b·O)²/n_b per bin (unit-rounded,
    * order-free), then one divide each by N / N³ — and the closing
    * uncertainty ō(1−ō) are the only floats, all micro-rounded.
    * Output: (groupCol, n, brier_micro, rel_micro, res_micro,
    * unc_micro). */
  def brierDecomposition(
      df: DataFrame,
      groupCol: String,
      probMilliCol: String,
      outcomeCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(probMilliCol).isNotNull && col(outcomeCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(probMilliCol).cast("long").as("__p"),
        when(col(outcomeCol).cast("boolean"), 1L).otherwise(0L)
          .as("__y"))
      .withColumn("__b", least(expr("__p div 100"), lit(9L)))
    val bins = base.groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__nb"), sum(col("__p")).as("__sb"),
        sum(col("__y")).as("__ob"),
        sum(((col("__p") - lit(1000L) * col("__y")) *
          (col("__p") - lit(1000L) * col("__y"))).cast(dec)).as("__b2"))
    val tot = bins.groupBy(col("__g"))
      .agg(sum(col("__nb")).as("n"), sum(col("__ob")).as("__o"),
        sum(col("__b2")).as("__b2t"))
    val relDev = (col("__sb") - lit(1000L) * col("__ob")).cast(dec)
    val resDev = (col("__ob").cast(dec) * col("n") -
      col("__nb").cast(dec) * col("__o")).cast(dec)
    val binq = bins.join(broadcast(tot), Seq("__g"))
      .groupBy(col("__g"))
      .agg(
        sum(round((relDev * relDev).cast("double") /
          col("__nb").cast("double")).cast(dec)).as("__relq"),
        sum(round((resDev * resDev).cast("double") /
          col("__nb").cast("double")).cast(dec)).as("__resq"))
    val nD = col("n").cast("double")
    tot.join(binq, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__b2t").cast("double") / nD).cast("long")
          .as("brier_micro"),
        round(col("__relq").cast("double") / nD).cast("long")
          .as("rel_micro"),
        round(lit(1e6) * col("__resq").cast("double") /
          (nD * nD * nD)).cast("long").as("res_micro"),
        round(lit(1e6) * col("__o").cast("double") *
          (col("n") - col("__o")).cast("double") / (nD * nD))
          .cast("long").as("unc_micro"))
  }

  /** One full Dawid–Skene EM iteration for BINARY labels per group —
    * the rater-quality model an LLM-labeling pipeline fits when
    * [[majorityVote]]'s one-rater-one-vote story breaks (a spammy
    * rater should not out-vote two careful ones): soft-majority
    * init π_i = votes⁺/votes, M-step per rater
    * θ⁺ = Σ_{vote=pos} π_i / Σ π_i (sensitivity on the soft truth)
    * and θ⁻ symmetric, E-step
    * π'_i ∝ prior·Π_r θ_r(pos → vote) re-scoring every item by its
    * raters' quality, then a second M-step showing where the
    * confusions moved. Engine-exactness comes from the pacf lesson —
    * π is MICRO-ROUNDED between stages, so every stage consumes
    * integers: the M-step weights are exact DECIMAL(38,0) sums, and
    * the E-step's likelihood products are EXACT integer products
    * (micro factors ≤ 1e6, folded in decimal — sound to ~5 raters
    * per item before the decimal saturates; a saturating panel
    * overflows to NULL rather than silently wrapping). A rater side
    * the init gives zero mass (all items unanimously the other
    * class) reports NULL θ for that side and enters the E-step as an
    * uninformative 500000. Output: (groupCol, rater, n_votes,
    * tpp_micro, tnn_micro, prior_micro, tpp2_micro, tnn2_micro,
    * prior2_micro). */
  def dawidSkeneBinary(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      raterCol: String,
      labelCol: String,
      posLabel: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(labelCol).isNotNull)
      .select(col(groupCol).as("__g"), col(itemCol).as("__i"),
        col(raterCol).as("__r"),
        when(col(labelCol) === posLabel, 1L).otherwise(0L).as("__y"))
    val pi1 = base.groupBy(col("__g"), col("__i"))
      .agg(round(lit(1e6) * sum(col("__y")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("__pi"))
    def mStep(pi: DataFrame, tppName: String, tnnName: String) = base
      .join(pi, Seq("__g", "__i"))
      .groupBy(col("__g"), col("__r"))
      .agg(count(lit(1)).as("n_votes"),
        sum(col("__pi").cast(dec)).as("__wp"),
        sum(when(col("__y") === 1L, col("__pi")).otherwise(0L)
          .cast(dec)).as("__wpp"),
        sum((lit(1000000L) - col("__pi")).cast(dec)).as("__wn"),
        sum(when(col("__y") === 0L, lit(1000000L) - col("__pi"))
          .otherwise(0L).cast(dec)).as("__wnn"))
      .select(col("__g"), col("__r"), col("n_votes"),
        when(col("__wp") > 0,
          round(lit(1e6) * col("__wpp").cast("double") /
            col("__wp").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as(tppName),
        when(col("__wn") > 0,
          round(lit(1e6) * col("__wnn").cast("double") /
            col("__wn").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as(tnnName))
    def prior(pi: DataFrame, name: String) = pi.groupBy(col("__g"))
      .agg(round(sum(col("__pi")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as(name))
    val m1 = mStep(pi1, "tpp_micro", "tnn_micro")
    val pr1 = prior(pi1, "prior_micro")
    val th = m1.select(col("__g"), col("__r"),
      coalesce(col("tpp_micro"), lit(500000L)).as("__tpp"),
      coalesce(col("tnn_micro"), lit(500000L)).as("__tnn"))
    val fac = base.join(broadcast(th), Seq("__g", "__r"))
      .select(col("__g"), col("__i"),
        when(col("__y") === 1L, col("__tpp"))
          .otherwise(lit(1000000L) - col("__tpp")).cast(dec).as("__fp"),
        when(col("__y") === 1L, lit(1000000L) - col("__tnn"))
          .otherwise(col("__tnn")).cast(dec).as("__fn"))
    val one = lit(1L).cast(dec)
    val prod = fac.groupBy(col("__g"), col("__i"))
      .agg(
        aggregate(collect_list(col("__fp")), one,
          (acc, x) => (acc * x).cast(dec)).as("__ppos"),
        aggregate(collect_list(col("__fn")), one,
          (acc, x) => (acc * x).cast(dec)).as("__pneg"))
    val pi2 = prod.join(broadcast(pr1), Seq("__g"))
      .withColumn("__a",
        (col("prior_micro").cast(dec) * col("__ppos")).cast(dec))
      .withColumn("__b",
        ((lit(1000000L) - col("prior_micro")).cast(dec) *
          col("__pneg")).cast(dec))
      .select(col("__g"), col("__i"),
        when(col("__a") + col("__b") > 0,
          round(lit(1e6) * col("__a").cast("double") /
            (col("__a") + col("__b")).cast("double")).cast("long"))
          .otherwise(col("prior_micro")).as("__pi"))
    val m2 = mStep(pi2, "tpp2_micro", "tnn2_micro")
      .drop("n_votes")
    val pr2 = prior(pi2, "prior2_micro")
    m1.join(m2, Seq("__g", "__r"))
      .join(broadcast(pr1), Seq("__g")).join(broadcast(pr2), Seq("__g"))
      .select(col("__g").as(groupCol), col("__r").as("rater"),
        col("n_votes"), col("tpp_micro"), col("tnn_micro"),
        col("prior_micro"), col("tpp2_micro"), col("tnn2_micro"),
        col("prior2_micro"))
  }

  /** Jarque–Bera normality test per group — the moment-based "is
    * this metric still Gaussian" gate a monitoring pipeline runs
    * before trusting z-score alarms: skewness g1 = m3/m2^1.5, excess
    * kurtosis g2 = m4/m2² − 3, JB = n·(g1²/6 + g2²/24) ~ χ²₂ under
    * normality (5% cut 5.991, literal). Values quantize to MILLI
    * (not micro) because the 4th raw power rides the sums: (1e3·x)⁴
    * sums stay inside DECIMAL(38,0)/HUGEINT headroom at 1e12 rows ×
    * |x| ≤ 2e5 — micro would overflow a 100 TB group at the same
    * magnitudes. Four exact raw power sums, then ONE mirrored IEEE
    * chain to the central moments (association-for-association in
    * the oracle); groups with n < 4 or zero variance report NULLs.
    * Output: (groupCol, n, skew_micro, exkurt_micro, jb_micro,
    * reject_normal). */
  def jarqueBera(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = round(col(valueCol).cast("double") * lit(1e3)).cast("long")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), v.as("__v"))
    def p(k: Int) = (2 to k).foldLeft(col("__v").cast(dec)) {
      (acc, _) => (acc * col("__v")).cast(dec) }
    val sums = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(p(1)).as("__s1"),
        sum(p(2)).as("__s2"), sum(p(3)).as("__s3"),
        sum(p(4)).as("__s4"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val m = d("__s1") / nD
    val m2 = d("__s2") / nD - m * m
    val m3 = d("__s3") / nD - lit(3.0) * m * (d("__s2") / nD) +
      lit(2.0) * m * m * m
    val m4 = d("__s4") / nD - lit(4.0) * m * (d("__s3") / nD) +
      lit(6.0) * m * m * (d("__s2") / nD) - lit(3.0) * m * m * m * m
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val g2 = m4 / (m2 * m2) - lit(3.0)
    val jb = nD * (g1 * g1 / lit(6.0) + g2 * g2 / lit(24.0))
    val ok = col("n") >= 4L && m2 > lit(0.0)
    sums.select(col("__g").as(groupCol), col("n"),
      when(ok, round(lit(1e6) * g1).cast("long"))
        .otherwise(lit(null).cast("long")).as("skew_micro"),
      when(ok, round(lit(1e6) * g2).cast("long"))
        .otherwise(lit(null).cast("long")).as("exkurt_micro"),
      when(ok, round(lit(1e6) * jb).cast("long"))
        .otherwise(lit(null).cast("long")).as("jb_micro"),
      when(ok, round(lit(1e6) * jb).cast("long") > 5991000L)
        .otherwise(lit(null).cast("boolean")).as("reject_normal"))
  }

  /** Mood's median test — "do these k groups share one median":
    * every value compares to the GLOBAL low median (type-1, exact
    * integer rank pick — no interpolation), the 2×k above/not-above
    * contingency gets the standard χ²_(k−1) with margin-derived
    * expecteds. The robust, outlier-immune cousin of one-way ANOVA
    * (only the side of the median matters, not the distance). Milli
    * quantization; ties sit in the not-above row (stated — the
    * classic conservative convention). Groups with zero expected
    * (empty group) drop from the χ² with n_groups reflecting the
    * survivors. One global rank (range-partitioned prefix over a
    * constant group), two hash-aggs.
    * Output: one row — (n, n_groups, median_milli, chi2_micro,
    * significant at the χ² 5% cut for k−1 df, literal for k ≤ 11). */
  def moodsMedian(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"))
    val ranked = Dedup.truncate(Ranking.groupRank(
      base.withColumn("__one", lit(1L))
        // group by a constant: ONE global order; (__v, __g) is not
        // unique, so monotonically_increasing_id supplies the total
        // tiebreak (any total order of equal values picks the same
        // VALUE at the median rank).
        .withColumn("__tb", monotonically_increasing_id()),
      "__one", Seq("__v", "__tb")))
    val n = ranked.count()
    require(n > 0, "moodsMedian needs at least one non-null value")
    val med = ranked.filter(col("rank") === (n + 1L) / 2L)
      .select(col("__v")).head().getLong(0)
    val cells = base.groupBy(col("__g"))
      .agg(sum(when(col("__v") > med, 1L).otherwise(0L)).as("__a"),
        sum(when(col("__v") <= med, 1L).otherwise(0L)).as("__b"))
    val tot = cells.agg(sum(col("__a")).as("__ta"),
      sum(col("__b")).as("__tb2"), count(lit(1)).as("n_groups"))
    // χ² = Σ (o − e)²/e over both rows of every group column; e from
    // margins. Per-group term micro-rounded (one IEEE chain), exact
    // integer sum across groups.
    val joined = cells.crossJoin(broadcast(tot))
    val nAll = (col("__ta") + col("__tb2")).cast("double")
    val ng = (col("__a") + col("__b")).cast("double")
    val ea = ng * col("__ta").cast("double") / nAll
    val eb = ng * col("__tb2").cast("double") / nAll
    val term =
      (col("__a").cast("double") - ea) * (col("__a").cast("double") - ea) / ea +
        (col("__b").cast("double") - eb) * (col("__b").cast("double") - eb) / eb
    val chi = joined.filter(ng > 0.0)
      .select(round(lit(1e6) * term).cast("long").as("__t"))
      .agg(sum(col("__t")).as("chi2_micro"))
    // χ² 5% critical values, df = k−1 for k ≤ 11 (micro).
    val cuts = Seq(3841459L, 5991465L, 7814728L, 9487729L, 11070498L,
      12591587L, 14067140L, 15507313L, 16918978L, 18307038L)
    chi.crossJoin(broadcast(tot))
      .select(lit(n).as("n"), col("n_groups"),
        lit(med).as("median_milli"), col("chi2_micro"),
        when(col("n_groups") >= 2L && col("n_groups") <= 11L,
          col("chi2_micro") > element_at(
            array(cuts.map(c => lit(c)): _*),
            (col("n_groups") - 1L).cast("int")))
          .otherwise(lit(null).cast("boolean")).as("significant"))
  }

  /** Partial correlation per group — "are x and y still related once
    * z is held fixed": r_xy·z = (r_xy − r_xz·r_yz) /
    * √((1 − r_xz²)(1 − r_yz²)), the one-number confounder screen a
    * feature-selection pass runs before trusting a pairwise
    * correlation. The three Pearson r's come from exact MILLI sums
    * (Σx, Σx², Σxy … — nine decimal accumulators, one hash-agg);
    * the finish is one mirrored IEEE chain. Rows with any NULL drop
    * (complete-case). Degenerate groups (n < 3, zero variance, or
    * |r_xz| = 1 / |r_yz| = 1) report NULL.
    * Output: (groupCol, n, rxy_micro, rxz_micro, ryz_micro,
    * partial_micro). */
  def partialCorrelation(
      df: DataFrame, groupCol: String, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def q(c: String) =
      round(col(c).cast("double") * lit(1e3)).cast("long")
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .select(col(groupCol).as("__g"), q(xCol).as("__x"),
        q(yCol).as("__y"), q(zCol).as("__z"))
    def s(a: Column) = sum(a.cast(dec))
    def s2(a: Column, b: Column) = sum((a.cast(dec) * b).cast(dec))
    val sums = base.groupBy(col("__g")).agg(count(lit(1)).as("n"),
      s(col("__x")).as("__sx"), s(col("__y")).as("__sy"),
      s(col("__z")).as("__sz"),
      s2(col("__x"), col("__x")).as("__sxx"),
      s2(col("__y"), col("__y")).as("__syy"),
      s2(col("__z"), col("__z")).as("__szz"),
      s2(col("__x"), col("__y")).as("__sxy"),
      s2(col("__x"), col("__z")).as("__sxz"),
      s2(col("__y"), col("__z")).as("__syz"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      (nD * d(sab) - d(sa) * d(sb)) /
        sqrt((nD * d(saa) - d(sa) * d(sa)) *
          (nD * d(sbb) - d(sb) * d(sb)))
    val rxy = r("__sxy", "__sx", "__sy", "__sxx", "__syy")
    val rxz = r("__sxz", "__sx", "__sz", "__sxx", "__szz")
    val ryz = r("__syz", "__sy", "__sz", "__syy", "__szz")
    val denom = sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    val varOk = (nD * d("__sxx") - d("__sx") * d("__sx")) > 0.0 &&
      (nD * d("__syy") - d("__sy") * d("__sy")) > 0.0 &&
      (nD * d("__szz") - d("__sz") * d("__sz")) > 0.0
    val ok = col("n") >= 3L && varOk
    def mic(c: Column) = round(lit(1e6) * c).cast("long")
    sums.select(col("__g").as(groupCol), col("n"),
      when(ok, mic(rxy)).as("rxy_micro"),
      when(ok, mic(rxz)).as("rxz_micro"),
      when(ok, mic(ryz)).as("ryz_micro"),
      when(ok && denom > 0.0, mic((rxy - rxz * ryz) / denom))
        .as("partial_micro"))
  }

  /** Cramér's V association strength between two categoricals — the
    * effect size next to a raw χ² ("significant" is cheap at 100 TB
    * n; V says whether the association MATTERS): χ² over the exact
    * contingency census with margin expecteds, V = √(χ²/(n·(min(r,c)
    * − 1))). NULL categories are real categories (coalesced to a
    * sentinel would lie; they census as their own row/column via a
    * string cast with NULL kept). One contingency hash-agg, two
    * margin rollups FROM the census, broadcast back.
    * Output: one row — (n, r, c, chi2_micro, v_micro). */
  def cramersV(
      df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(col(aCol).cast("string").as("__a"),
      col(bCol).cast("string").as("__b"))
    val cells = Dedup.truncate(
      base.groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__o")))
    // Margins keyed null-safely: a NULL category is a real row/column
    // of the contingency table, and a plain equi-join would drop it.
    val ra = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ma"))
      .withColumnRenamed("__a", "__a2")
    val cb = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__mb"))
      .withColumnRenamed("__b", "__b2")
    val tot = cells.agg(sum(col("__o")).as("n"))
      .crossJoin(ra.agg(count(lit(1)).as("r")))
      .crossJoin(cb.agg(count(lit(1)).as("c")))
    // χ² runs over the FULL r×c grid: an empty cell of a perfectly
    // associated table carries (0 − e)²/e — dropping it halves the
    // statistic. The grid is margins × margins (model-sized: a
    // contingency table's categories are bounded by construction).
    val grid = ra.crossJoin(cb)
    val terms = grid
      .join(cells, col("__a2") <=> col("__a") &&
        col("__b2") <=> col("__b"), "left")
      .select(col("__ma"), col("__mb"),
        coalesce(col("__o"), lit(0L)).as("__o"))
      .crossJoin(broadcast(tot))
      .select(round(lit(1e6) *
        (col("__o").cast("double") -
          col("__ma").cast("double") * col("__mb").cast("double") /
            col("n").cast("double")) *
        (col("__o").cast("double") -
          col("__ma").cast("double") * col("__mb").cast("double") /
            col("n").cast("double")) /
        (col("__ma").cast("double") * col("__mb").cast("double") /
          col("n").cast("double"))).cast("long").as("__t"))
      .agg(sum(col("__t")).as("chi2_micro"))
    terms.crossJoin(broadcast(tot))
      .select(col("n"), col("r"), col("c"), col("chi2_micro"),
        when(least(col("r"), col("c")) >= 2L,
          round(lit(1e6) * sqrt(col("chi2_micro").cast("double") /
            lit(1e6) / (col("n").cast("double") *
              (least(col("r"), col("c")) - 1L).cast("double"))))
            .cast("long")).as("v_micro"))
  }

  /** Iterative extreme-studentized-deviate (Grubbs/ESD-style)
    * outlier census per group: `rounds` times, the row farthest from
    * the group mean leaves the group (classic ESD removes the
    * extreme each round REGARDLESS of significance — stated), and
    * its studentized distance G = |x − x̄|/s (sample s, n−1) is
    * flagged against the caller's fixed `gCutMicro` (a t-derived
    * per-n λ would need a t-quantile table; the fixed cut is the
    * honest simple form and what a monitoring rule actually
    * deploys). The per-round argmax is EXACT: |x·n − Σx| is an
    * integer (= n·|x − x̄|), so candidate selection never touches a
    * float — ties break to the smaller id (idCol must be numeric
    * and per-group-unique). G itself is one mirrored IEEE chain
    * from the exact milli sums. Groups shrink below 3 rows or to
    * zero variance → absent from later rounds.
    *
    * Scale: per round, one group census + one broadcast-joined exact
    * argmax + an anti-join — rounds is a small constant; no windows.
    * Output: (groupCol, round, idCol, g_micro, flagged). */
  def esdOutliers(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valueCol: String,
      rounds: Int,
      gCutMicro: Long): DataFrame = {
    require(rounds >= 1 && rounds <= 8, "rounds must be in [1, 8]")
    require(gCutMicro > 0, "gCutMicro must be positive")
    val dec = "decimal(38,0)"
    var cur = Dedup.truncate(df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).cast("long").as("__id"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v")))
    var acc: DataFrame = null
    for (t <- 1 to rounds) {
      val stats = cur.groupBy(col("__g"))
        .agg(count(lit(1)).as("__n"), sum(col("__v").cast(dec)).as("__s1"),
          sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__s2"))
        .filter(col("__n") >= 3L &&
          (col("__n") * col("__s2") - col("__s1") * col("__s1")) > 0)
      val cand = Dedup.truncate(cur.join(broadcast(stats), Seq("__g"))
        .select(col("__g"), col("__id"), col("__n"), col("__s1"),
          col("__s2"),
          abs((col("__v").cast(dec) * col("__n") - col("__s1"))
            .cast(dec)).as("__ad"))
        .groupBy(col("__g"))
        .agg(max_by(
          struct(col("__id"), col("__n"), col("__s1"), col("__s2"),
            col("__ad")),
          struct(col("__ad"), (-col("__id")).as("__ni"))).as("__c"))
        .select(col("__g"), col("__c.__id").as("__id"),
          col("__c.__n").as("__n"), col("__c.__s1").as("__s1"),
          col("__c.__s2").as("__s2"), col("__c.__ad").as("__ad")))
      val nD = col("__n").cast("double")
      val varS = (col("__s2").cast("double") -
        col("__s1").cast("double") * col("__s1").cast("double") / nD) /
        (nD - lit(1.0))
      val g = col("__ad").cast("double") / (nD * sqrt(varS))
      val out = cand.select(col("__g"), lit(t).as("round"),
        col("__id"),
        round(lit(1e6) * g).cast("long").as("g_micro"),
        (round(lit(1e6) * g).cast("long") > gCutMicro).as("flagged"))
      acc = if (acc == null) out else acc.unionByName(out)
      cur = Dedup.truncate(cur.join(
        cand.select(col("__g"), col("__id")),
        Seq("__g", "__id"), "left_anti"))
    }
    acc.select(col("__g").as(groupCol), col("round"),
      col("__id").as(idCol), col("g_micro"), col("flagged"))
  }

  /** Jonckheere–Terpstra ordered-alternative trend test — "does the
    * response RISE with the dose": JT = Σ_{i<j} U_ij over all ordered
    * group pairs, each U the Mann–Whitney count (#(x_i < x_j) + ½
    * ties, exact via [[mannWhitney]]'s doubled value-cell/prefix
    * machinery — doubled JT stays integer under midrank ties). The
    * group column must be NUMERIC (its order IS the dose order) with
    * at most 32 levels — ordered factors are small by nature, and
    * the level list is the one bounded driver collect here. z uses
    * the standard no-tie null (mean (N²−Σn²)/4, variance
    * (N²(2N+3) − Σn²(2n+3))/72 — stated; ties make it
    * conservative).
    *
    * Scale: each row replicates to its k−1 pair memberships
    * (constant fan-out), then one cell census + one range-
    * partitioned prefix over pair keys — never row×row.
    * Output: one row — (k_groups, n, jt2, mean2, z_micro,
    * significant at |z| > 1.96). jt2/mean2 are the DOUBLED exact
    * integers. */
  def jonckheereTerpstra(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = Dedup.truncate(df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("long").as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v")))
    val groups = base.select(col("__g")).distinct()
    val gs = groups.orderBy(col("__g")).limit(33).collect()
      .map(_.getLong(0))
    require(gs.length >= 2 && gs.length <= 32,
      s"jonckheereTerpstra needs 2..32 dose levels, saw ${gs.length}")
    val pairRows = base
      .join(broadcast(groups.select(col("__g").as("__o"))),
        col("__g") =!= col("__o"))
      .select(
        concat(least(col("__g"), col("__o")).cast("string"), lit("|"),
          greatest(col("__g"), col("__o")).cast("string")).as("__pk"),
        (col("__g") > col("__o")).as("__a"), col("__v"))
    val cells = pairRows.groupBy(col("__pk"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val run = Ranking.groupRunningSum(cells, "__pk", Seq("__v"), "__c")
    val perPair = run
      .withColumn("__r", col("running") - col("__c"))
      .groupBy(col("__pk"))
      .agg(sum(col("__ca")).as("__na"),
        sum((col("__ca").cast(dec) *
          (lit(2L) * col("__r") + col("__c") + 1L)).cast(dec))
          .as("__r2a"))
      .select((col("__r2a") -
        (col("__na").cast(dec) * (col("__na") + 1L)).cast(dec))
        .cast(dec).as("__u2"))
    val jt = perPair.agg(sum(col("__u2")).cast(dec).as("__jt2"))
    val sizes = base.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")).as("__N"),
        sum((col("__n").cast(dec) * col("__n")).cast(dec)).as("__sq"),
        sum((col("__n").cast(dec) * col("__n") *
          (lit(2L) * col("__n") + 3L)).cast(dec)).as("__cu"),
        count(lit(1)).as("k_groups"))
    val nD = col("__N").cast("double")
    val mean2 = ((col("__N").cast(dec) * col("__N")).cast(dec) -
      col("__sq")).cast(dec)
    val varD = (nD * nD * (lit(2.0) * nD + 3.0) -
      col("__cu").cast("double")) / lit(72.0)
    val z = (col("__jt2").cast("double") -
      mean2.cast("double") / lit(2.0)) / (lit(2.0) * sqrt(varD))
    jt.crossJoin(broadcast(sizes))
      .select(col("k_groups"), col("__N").as("n"),
        col("__jt2").cast("long").as("jt2"),
        // N² − Σn² = Σ_{i≠j} nᵢnⱼ is even, so the halve is exact;
        // long arithmetic holds to N ≲ 3e9 rows — the same reporting
        // bound as jt2 (the doubles stay valid past it).
        expr("(__N * __N - CAST(__sq AS BIGINT)) div 2").as("mean2"),
        when(varD > 0.0, round(lit(1e6) * z).cast("long"))
          .as("z_micro"),
        when(varD > 0.0,
          abs(round(lit(1e6) * z).cast("long")) > 1959964L)
          .as("significant"))
  }

  /** Method-of-moments distribution fits per group — the parametric
    * summary a synthetic-data or load-model stage reads off a
    * metric: population mean/variance from exact milli sums, a
    * Gamma(shape, scale) fit (shape = μ²/σ², scale = σ²/μ) and a
    * log-normal (μ_ln, σ_ln) fit, both over the STRICTLY-POSITIVE
    * subset (their support; the nonpositive count surfaces as
    * n_nonpos). Log moments are per-row micro-nat quantized
    * ([[theilIndex]]'s ln idiom) so the sums are exact integers.
    * One hash-agg; every parameter is one mirrored IEEE chain.
    * Output: (groupCol, n, n_nonpos, mean_micro, var_micro,
    * gamma_shape_micro, gamma_scale_micro, lnorm_mu_micro,
    * lnorm_sigma_micro) — fits NULL when the positive subset is
    * degenerate (n_pos < 2 or zero variance). */
  def momentFit(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"))
    val pos = col("__v") > 0L
    val lq = round(lit(1e6) *
      log(col("__v").cast("double") / lit(1e3))).cast("long")
    val sums = base.groupBy(col("__g")).agg(
      count(lit(1)).as("n"),
      sum(when(!pos, 1L).otherwise(0L)).as("n_nonpos"),
      sum(col("__v").cast(dec)).as("__s1"),
      sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__s2"),
      sum(when(pos, col("__v")).otherwise(0L).cast(dec)).as("__p1"),
      sum(when(pos, (col("__v").cast(dec) * col("__v")).cast(dec))
        .otherwise(lit(0L).cast(dec))).as("__p2"),
      sum(when(pos, 1L).otherwise(0L)).as("__np"),
      sum(when(pos, lq).otherwise(0L).cast(dec)).as("__l1"),
      sum(when(pos, (lq.cast(dec) * lq).cast(dec))
        .otherwise(lit(0L).cast(dec))).as("__l2"))
    def d(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val npD = col("__np").cast("double")
    val mean = d("__s1") / nD / lit(1e3)
    val vr = (d("__s2") / nD - d("__s1") / nD * (d("__s1") / nD)) /
      lit(1e6)
    val pMean = d("__p1") / npD / lit(1e3)
    val pVar = (d("__p2") / npD - d("__p1") / npD * (d("__p1") / npD)) /
      lit(1e6)
    val muLn = d("__l1") / npD / lit(1e6)
    val varLn = (d("__l2") / npD - d("__l1") / npD * (d("__l1") / npD)) /
      lit(1e12)
    val fitOk = col("__np") >= 2L && pVar > 0.0 && varLn > 0.0
    def mic(c: Column) = round(lit(1e6) * c).cast("long")
    sums.select(col("__g").as(groupCol), col("n"), col("n_nonpos"),
      mic(mean).as("mean_micro"), mic(vr).as("var_micro"),
      when(fitOk, mic(pMean * pMean / pVar)).as("gamma_shape_micro"),
      when(fitOk, mic(pVar / pMean)).as("gamma_scale_micro"),
      when(fitOk, mic(muLn)).as("lnorm_mu_micro"),
      when(fitOk, mic(sqrt(varLn))).as("lnorm_sigma_micro"))
  }

  /** Propensity-score caliper matching (nearest-neighbor WITH
    * replacement — stated; each treated row independently takes its
    * closest control within the caliper, ties to the smaller control
    * id): the causal pre-step that turns an observational table into
    * matched pairs. SORT-MERGE, not a caliper-bucket join: on a
    * dense score distribution a bucket join enumerates every
    * in-caliper (treated, control) pair — O(n²·caliper/range)
    * candidates just to throw all but one away (measured: 17 s at
    * 100k rows) — while the nearest control is always the FLOOR or
    * CEILING control score, so ≤ 2 candidates per treated suffice at
    * ANY density. Controls first collapse to distinct scores keeping
    * the min id (the (|Δ|, id) argmin can never prefer another id at
    * the same score), the distinct scores are rank-indexed, each
    * treated row reads its floor index off a running control count
    * (controls sort BEFORE treated at equal scores, so an exact tie
    * is the floor), and two index equi-joins fetch the candidates.
    * All ranks/prefixes ride the range-partitioned machinery — no
    * global window, no candidate blowup. Unmatched treated rows are
    * absent (no silent zero-diff rows).
    * Output: (idCol, ctrl_id, t_score_micro, c_score_micro,
    * diff_micro). */
  def psMatch(
      df: DataFrame,
      idCol: String,
      treatCol: String,
      scoreCol: String,
      caliper: Double): DataFrame = {
    require(caliper > 0.0, "caliper must be positive")
    val calMicro = math.round(caliper * 1e6)
    require(calMicro > 0, "caliper must be at least 1 micro")
    val base = df.filter(col(scoreCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(treatCol).cast("boolean").as("__t"),
        round(col(scoreCol).cast("double") * lit(1e6)).cast("long")
          .as("__s"))
    val ctrlD = Dedup.truncate(base.filter(!col("__t"))
      .groupBy(col("__s")).agg(min(col("__id")).as("__cid"))
      .select(col("__s").as("__cs"), col("__cid")))
    val ctrlIdx = Dedup.truncate(Ranking.groupRank(
        ctrlD.withColumn("__one", lit(1L)), "__one", Seq("__cs"))
      .select(col("rank").as("__j"), col("__cs"), col("__cid")))
    val mixed = ctrlD.select(col("__cs").as("__s"), lit(0L).as("__tag"),
        lit(1L).as("__c"), lit(null).cast("long").as("__id"))
      .unionByName(base.filter(col("__t"))
        .select(col("__s"), lit(1L).as("__tag"), lit(0L).as("__c"),
          col("__id")))
      .withColumn("__one", lit(1L))
    val floorIdx = Ranking.groupRunningSum(mixed, "__one",
        Seq("__s", "__tag", "__id"), "__c")
      .filter(col("__tag") === 1L)
      .select(col("__id"), col("__s"), col("running").as("__p"))
    val cand = floorIdx
      .join(ctrlIdx.select(col("__j").as("__pj"),
        col("__cs").as("__ps"), col("__cid").as("__pc")),
        col("__p") === col("__pj"), "left")
      .join(ctrlIdx.select(col("__j").as("__sj"),
        col("__cs").as("__ss"), col("__cid").as("__sc")),
        col("__p") + 1L === col("__sj"), "left")
    val pd = col("__s") - col("__ps")     // floor diff, ≥ 0
    val sd = col("__ss") - col("__s")     // ceiling diff, > 0
    val pOk = col("__ps").isNotNull && pd <= calMicro
    val sOk = col("__ss").isNotNull && sd <= calMicro
    val pickFloor = pOk && (!sOk || pd < sd ||
      (pd === sd && col("__pc") < col("__sc")))
    cand.filter(pOk || sOk)
      .select(col("__id").as(idCol),
        when(pickFloor, col("__pc")).otherwise(col("__sc"))
          .as("ctrl_id"),
        col("__s").as("t_score_micro"),
        when(pickFloor, col("__ps")).otherwise(col("__ss"))
          .as("c_score_micro"),
        when(pickFloor, pd).otherwise(-sd).as("diff_micro"))
  }

  /** Difference-in-differences — the 2×2 causal workhorse: DID =
    * (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre) off
    * the four exact micro cell sums (one hash-agg; each mean is one
    * rounded divide inside one mirrored chain). NULL when any cell
    * is empty — a missing cell makes the contrast meaningless, and
    * the four counts say which one. Output: one row —
    * (n_t_pre, n_t_post, n_c_pre, n_c_post, mean_t_pre_micro,
    * mean_t_post_micro, mean_c_pre_micro, mean_c_post_micro,
    * did_micro). */
  def diffInDiff(
      df: DataFrame, armCol: String, postCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(armCol).cast("boolean").as("__a"),
        col(postCol).cast("boolean").as("__p"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val agg = base.agg(
      sum(when(col("__a") && !col("__p"), 1L).otherwise(0L)).as("n_t_pre"),
      sum(when(col("__a") && col("__p"), 1L).otherwise(0L)).as("n_t_post"),
      sum(when(!col("__a") && !col("__p"), 1L).otherwise(0L)).as("n_c_pre"),
      sum(when(!col("__a") && col("__p"), 1L).otherwise(0L)).as("n_c_post"),
      sum(when(col("__a") && !col("__p"), col("__v")).otherwise(0L)
        .cast(dec)).as("__stp0"),
      sum(when(col("__a") && col("__p"), col("__v")).otherwise(0L)
        .cast(dec)).as("__stp1"),
      sum(when(!col("__a") && !col("__p"), col("__v")).otherwise(0L)
        .cast(dec)).as("__scp0"),
      sum(when(!col("__a") && col("__p"), col("__v")).otherwise(0L)
        .cast(dec)).as("__scp1"))
    def m(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    val ok = col("n_t_pre") > 0L && col("n_t_post") > 0L &&
      col("n_c_pre") > 0L && col("n_c_post") > 0L
    agg.select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
      col("n_c_post"),
      when(col("n_t_pre") > 0L,
        round(m("__stp0", "n_t_pre")).cast("long"))
        .as("mean_t_pre_micro"),
      when(col("n_t_post") > 0L,
        round(m("__stp1", "n_t_post")).cast("long"))
        .as("mean_t_post_micro"),
      when(col("n_c_pre") > 0L,
        round(m("__scp0", "n_c_pre")).cast("long"))
        .as("mean_c_pre_micro"),
      when(col("n_c_post") > 0L,
        round(m("__scp1", "n_c_post")).cast("long"))
        .as("mean_c_post_micro"),
      when(ok, round(
        m("__stp1", "n_t_post") - m("__stp0", "n_t_pre") -
          (m("__scp1", "n_c_post") - m("__scp0", "n_c_pre")))
        .cast("long")).as("did_micro"))
  }

  /** Inverse-propensity-weighted ATE (Hájek/stabilized form — each
    * arm's weighted mean normalizes by its own weight sum, so the
    * estimate is invariant to weight scale): ATE = Σ_t w·y/Σ_t w −
    * Σ_c w·y/Σ_c w with w = 1/e on the treated arm and 1/(1−e) on
    * control, propensities clipped into [clip, 1−clip] (the standard
    * positivity guard; the clipped-row count surfaces — silent
    * clipping hides exactly the rows that dominate the estimate).
    * Per-row w and w·y micro-quantize (one IEEE step each), the four
    * sums are exact Longs-in-DECIMAL, and the final contrast is one
    * mirrored chain. Rows with NULL score/value drop (counted).
    * Output: one row — (n_treat, n_ctrl, n_clipped, n_dropped,
    * ate_micro); NULL when either arm is empty. */
  def ipwAte(
      df: DataFrame,
      treatCol: String,
      scoreCol: String,
      valueCol: String,
      clip: Double = 0.01): DataFrame = {
    require(clip > 0.0 && clip < 0.5, "clip must be in (0, 0.5)")
    val dec = "decimal(38,0)"
    val clipMicro = math.round(clip * 1e6)
    val all = df.select(col(treatCol).cast("boolean").as("__t"),
      round(col(scoreCol).cast("double") * lit(1e6)).cast("long")
        .as("__e"),
      round(col(valueCol).cast("double") * lit(1e6)).cast("long")
        .as("__y"))
    val dropped = all.agg(sum(when(col("__e").isNull ||
      col("__y").isNull || col("__t").isNull, 1L).otherwise(0L))
      .as("n_dropped"))
    val base = all
      .filter(col("__e").isNotNull && col("__y").isNotNull &&
        col("__t").isNotNull)
      .withColumn("__clipped",
        col("__e") < clipMicro || col("__e") > 1000000L - clipMicro)
      .withColumn("__ec",
        least(greatest(col("__e"), lit(clipMicro)),
          lit(1000000L - clipMicro)))
    // w in micro (1e6/e is ~[1, 1e2] at sane clips), w·y in micro²
    // rescaled back to micro — each is ONE rounded IEEE step off
    // exact integers, so the sums are order-free.
    val eD = col("__ec").cast("double") / lit(1e6)
    val w = when(col("__t"), round(lit(1e6) / eD))
      .otherwise(round(lit(1e6) / (lit(1.0) - eD))).cast("long")
    val wy = when(col("__t"),
      round(col("__y").cast("double") / eD))
      .otherwise(round(col("__y").cast("double") / (lit(1.0) - eD)))
      .cast("long")
    val agg = base.select(col("__t"), col("__clipped"),
        w.as("__w"), wy.as("__wy"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("n_treat"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("__clipped"), 1L).otherwise(0L)).as("n_clipped"),
        sum(when(col("__t"), col("__w")).otherwise(0L).cast(dec))
          .as("__wt"),
        sum(when(col("__t"), col("__wy")).otherwise(0L).cast(dec))
          .as("__wyt"),
        sum(when(!col("__t"), col("__w")).otherwise(0L).cast(dec))
          .as("__wc"),
        sum(when(!col("__t"), col("__wy")).otherwise(0L).cast(dec))
          .as("__wyc"))
    agg.crossJoin(broadcast(dropped))
      .select(col("n_treat"), col("n_ctrl"), col("n_clipped"),
        col("n_dropped"),
        when(col("n_treat") > 0L && col("n_ctrl") > 0L,
          round(col("__wyt").cast("double") /
            col("__wt").cast("double") * lit(1e6) -
            col("__wyc").cast("double") /
              col("__wc").cast("double") * lit(1e6)).cast("long"))
          .as("ate_micro"))
  }

  /** Best single-threshold split per feature by weighted Gini
    * impurity — the CART root-stump, and as a PROFILING operator the
    * standard "is this feature informative / is this feature leaking
    * the label" screen a training-data pipeline runs before spending
    * GPU time: a near-zero best Gini on a raw feature is a leak, a
    * gain of ~0 everywhere is a dead column.
    *
    * Long-format input (feature name, numeric value, boolean label):
    * values milli-quantize ([[groupOls]]'s idiom), one hash-agg
    * censuses (feature, value) cells with their positive counts, ONE
    * range-partitioned double prefix ([[Ranking.groupRunningSums]] —
    * count and positives share the exchange) gives every candidate
    * threshold its left-side totals, and the per-feature argmin is a
    * hash-agg `min(struct)` with the LOWEST threshold breaking Gini
    * ties. Never a per-feature row window: a 100 TB feature column is
    * one range exchange + metadata.
    *
    * Split semantics: left = value ≤ threshold, candidates are the
    * observed cell values with the top cell excluded (its right side
    * is empty). Weighted impurity = (n_L·g_L + n_R·g_R)/n with
    * g = 2p(1−p); `gain_micro` is against the root impurity.
    *
    * EXACT election — no IEEE step anywhere in the argmin key or the
    * reported cells: the weighted impurity is the rational
    * 2·(a_L·n_R + a_R·n_L)/(n_L·n_R·n) with a = p·(n−p), so its
    * half-up micro rounding is the pure-integer
    * (4e6·num + den) divfloor (2·den) in decimal(38,0) — identical
    * on any engine/libm (a float-rounded key here flips the elected
    * threshold on a 1-ulp divide difference whenever candidates sit
    * on the .5 boundary, which real label censuses do). gain_micro
    * rounds the exact rational root−gini the same way; its
    * numerator tp·(tn−tp)·n_L·n_R bounds exact reporting at
    * n ≲ 4e8 rows/feature (the key itself is safe to n ≲ 1e9).
    *
    * Output: one row per feature — (featureCol, n, pos,
    * threshold_milli, gini_micro, gain_micro, n_le, pos_le). */
  def decisionStump(
      df: DataFrame,
      featureCol: String,
      valueCol: String,
      labelCol: String): DataFrame = {
    val base = df
      .filter(col(featureCol).isNotNull && col(valueCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(featureCol).cast("string").as("__f"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
          .as("__y"))
    val cells = base.groupBy(col("__f"), col("__v"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    val run = Ranking.groupRunningSums(cells, "__f", Seq("__v"),
      Seq("__n" -> "__cn", "__p" -> "__cp"))
    val tot = cells.groupBy(col("__f"))
      .agg(sum(col("__n")).as("__tn"), sum(col("__p")).as("__tp"))
    val j = run.join(broadcast(tot), Seq("__f"))
      .filter(col("__cn") < col("__tn"))
    val dec = "decimal(38,0)"
    val nL = col("__cn")
    val pL = col("__cp")
    val nR = col("__tn") - col("__cn")
    val pR = col("__tp") - col("__cp")
    // Exact half-up micro rounding of 2·num/den (num, den ≥ 0):
    // floor((4e6·num + den)/(2·den)), with the floor-div written as
    // the remainder identity (a − a%b)/b — the adjusted numerator is
    // exactly divisible, so the decimal divide is exact on both
    // engines (a bare decimal `/` would HALF_UP at result scale and
    // could flip the floor; the oracle twin uses DuckDB's HUGEINT
    // `//`, floor-identical for non-negative operands).
    def microHalfUp(num: Column, den: Column): Column = {
      val a = (lit(4000000L).cast(dec) * num + den).cast(dec)
      val b = (lit(2L).cast(dec) * den).cast(dec)
      ((a - a % b) / b).cast("long")
    }
    val aL = (pL.cast(dec) * (nL - pL)).cast(dec)
    val aR = (pR.cast(dec) * (nR - pR)).cast(dec)
    // gini = 2·gnum/gden, root − gini = 2·gainNum/gainDen — exact
    // integer rationals; only their half-up micro roundings are
    // emitted, and the argmin key IS the exactly-rounded gini (ties
    // at micro resolution break to the lowest threshold — a total,
    // environment-independent order).
    val gnum = (aL * nR + aR * nL).cast(dec)
    val gden = (nL.cast(dec) * nR * col("__tn")).cast(dec)
    val gainNum = ((col("__tp").cast(dec) *
      (col("__tn") - col("__tp"))).cast(dec) * nL * nR -
      col("__tn").cast(dec) * gnum).cast(dec)
    val gainDen = (col("__tn").cast(dec) * gden).cast(dec)
    val scored = j.select(col("__f"), col("__tn"), col("__tp"),
      struct(microHalfUp(gnum, gden).as("g"),
        col("__v").as("v"), nL.as("nl"), pL.as("pl"),
        microHalfUp(gainNum, gainDen).as("gain"))
        .as("__s"))
    scored.groupBy(col("__f"))
      .agg(max(col("__tn")).as("n"), max(col("__tp")).as("pos"),
        min(col("__s")).as("__b"))
      .select(col("__f").as(featureCol), col("n"), col("pos"),
        col("__b.v").as("threshold_milli"),
        col("__b.g").as("gini_micro"),
        col("__b.gain").as("gain_micro"),
        col("__b.nl").as("n_le"), col("__b.pl").as("pos_le"))
  }

  /** Durbin–Watson first-order residual-autocorrelation test per
    * group — "does this metric's trend regression leave serially
    * correlated errors" (DW ≈ 2 none, → 0 positive, → 4 negative):
    * OLS of milli-value on the order column from exact decimal sums
    * (the [[groupOls]] closed form), per-row micro-quantized
    * residuals e = round(1e3·(y − a − b·x)) so both squared sums are
    * EXACT decimal integers, and consecutive pairing by exact
    * [[Ranking.groupRank]] + a (group, rank)-keyed self equi-join —
    * never a per-group window, never a float accumulation.
    * `tieBreakCol` must make (order, tiebreak) per-group unique or
    * the pairing is nondeterministic. Groups with a degenerate fit
    * (constant x) or fewer than 2 rows report NULL.
    * Output: (groupCol, n, dw_micro). */
  def durbinWatson(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      tieBreakCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(orderCol).cast("long").as("__x"),
        col(tieBreakCol).cast("long").as("__tb"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__y"))
    val sums = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__x").cast(dec) * col("__x")).cast(dec)).as("__sxx"),
        sum((col("__x").cast(dec) * col("__y")).cast(dec)).as("__sxy"))
    val nD = col("__n").cast("double")
    val det = nD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val bHat = (nD * col("__sxy").cast("double") -
      col("__sx").cast("double") * col("__sy").cast("double")) / det
    val ab = sums.select(col("__g"), col("__n"),
      (det > lit(0.0)).as("__ok"), bHat.as("__b"),
      ((col("__sy").cast("double") -
        bHat * col("__sx").cast("double")) / nD).as("__a"))
    val resid = base
      .join(ab.filter(col("__ok")).select(col("__g"), col("__a"),
        col("__b")), Seq("__g"))
      .select(col("__g"), col("__x"), col("__tb"),
        round(lit(1e3) * (col("__y").cast("double") - col("__a") -
          col("__b") * col("__x").cast("double"))).cast("long")
          .as("__e"))
    val ranked = Ranking.groupRank(resid, "__g", Seq("__x", "__tb"))
    val prev = ranked.select(col("__g").as("__pg"),
      (col("rank") + 1L).as("__pr"), col("__e").as("__pe"))
    val dsum = ranked
      .join(prev, col("__g") === col("__pg") &&
        col("rank") === col("__pr"))
      .groupBy(col("__g"))
      .agg(sum(((col("__e") - col("__pe")).cast(dec) *
        (col("__e") - col("__pe"))).cast(dec)).as("__sd2"))
    val esum = ranked.groupBy(col("__g"))
      .agg(sum((col("__e").cast(dec) * col("__e")).cast(dec))
        .as("__se2"))
    ab.select(col("__g"), col("__n"), col("__ok"))
      .join(esum, Seq("__g"), "left")
      .join(dsum, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("__n").as("n"),
        when(col("__ok") && col("__n") >= 2L && col("__se2") > 0 &&
            col("__sd2").isNotNull,
          round(lit(1e6) * col("__sd2").cast("double") /
            col("__se2").cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("dw_micro"))
  }

  /** Chow structural-break F-test per group — "did the linear
    * relation between x and y CHANGE between the two regimes the
    * caller marks with segCol" (pre/post launch, old/new pipeline):
    * F = ((SSE_p − SSE_1 − SSE_2)/2) / ((SSE_1 + SSE_2)/(n−4)) with
    * every SSE off the simple-OLS closed form
    * SSE = Syy − Sy²/n − (Sxy − Sx·Sy/n)²/(Sxx − Sx²/n). Both
    * segments AND the pooled fit come out of ONE hash-agg pass
    * (conditional exact decimal sums over milli-quantized x, y);
    * the F assembly is the only float arithmetic. Degenerate groups
    * (n ≤ 4, a segment empty or x-constant, zero residual) report
    * NULL. Output: (groupCol, n_a, n_b, f_micro). */
  def chowTest(
      df: DataFrame,
      groupCol: String,
      segCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(segCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(segCol).cast("boolean").as("__s"),
        round(col(xCol).cast("double") * lit(1e3)).cast("long")
          .as("__x"),
        round(col(yCol).cast("double") * lit(1e3)).cast("long")
          .as("__y"))
    def seg(pred: Column, suffix: String): Seq[Column] = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"__n$suffix"),
      sum(when(pred, col("__x")).otherwise(0L).cast(dec))
        .as(s"__sx$suffix"),
      sum(when(pred, col("__y")).otherwise(0L).cast(dec))
        .as(s"__sy$suffix"),
      sum(when(pred, (col("__x").cast(dec) * col("__x")).cast(dec))
        .otherwise(lit(0L).cast(dec))).as(s"__sxx$suffix"),
      sum(when(pred, (col("__x").cast(dec) * col("__y")).cast(dec))
        .otherwise(lit(0L).cast(dec))).as(s"__sxy$suffix"),
      sum(when(pred, (col("__y").cast(dec) * col("__y")).cast(dec))
        .otherwise(lit(0L).cast(dec))).as(s"__syy$suffix"))
    val aggs = seg(lit(true), "p") ++ seg(col("__s"), "1") ++
      seg(!col("__s"), "2")
    val sums = base.groupBy(col("__g")).agg(aggs.head, aggs.tail: _*)
    // SSE of a segment — NULL when its x variance is 0 (vertical or
    // empty fit): Syy − Sy²/n − (Sxy − Sx·Sy/n)²/(Sxx − Sx²/n).
    def sse(sfx: String): Column = {
      val n = col(s"__n$sfx").cast("double")
      val sx = col(s"__sx$sfx").cast("double")
      val sy = col(s"__sy$sfx").cast("double")
      val sxx = col(s"__sxx$sfx").cast("double")
      val sxy = col(s"__sxy$sfx").cast("double")
      val syy = col(s"__syy$sfx").cast("double")
      val varx = sxx - sx * sx / n
      when(col(s"__n$sfx") >= 2L && varx > 0.0,
        syy - sy * sy / n -
          (sxy - sx * sy / n) * (sxy - sx * sy / n) / varx)
    }
    val sseP = sse("p")
    val sse1 = sse("1")
    val sse2 = sse("2")
    val nD = col("__np").cast("double")
    val f = (sseP - sse1 - sse2) / lit(2.0) /
      ((sse1 + sse2) / (nD - lit(4.0)))
    sums.select(col("__g").as(groupCol), col("__n1").as("n_a"),
      col("__n2").as("n_b"),
      when(col("__np") > 4L && sseP.isNotNull && sse1.isNotNull &&
          sse2.isNotNull && sse1 + sse2 > 0.0,
        round(lit(1e6) * f).cast("long"))
        .otherwise(lit(null).cast("long")).as("f_micro"))
  }

  /** Cochran–Armitage trend test per group — "does the SUCCESS RATE
    * rise with the dose" for a binary outcome over ordered integer
    * dose levels (the binary companion of [[jonckheereTerpstra]]):
    * with T = Σ r_i·w_i over per-dose cells (r successes of n at
    * dose w), z = (T − p̄·Σn_i w_i) /
    * √(p̄(1−p̄)·(Σn_i w_i² − (Σn_i w_i)²/N)). One hash-agg cells
    * census then one per-group agg, T and both weighted sums exact
    * DECIMAL(38,0); p̄ and the z assembly are the only float steps.
    * All-success/all-failure or dose-constant groups report NULL.
    * Output: (groupCol, k_doses, n, n_pos, z_micro). */
  def cochranArmitage(
      df: DataFrame,
      groupCol: String,
      doseCol: String,
      outcomeCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(doseCol).isNotNull && col(outcomeCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(doseCol).cast("long").as("__w"),
        when(col(outcomeCol).cast("boolean"), 1L).otherwise(0L)
          .as("__y"))
    val cells = base.groupBy(col("__g"), col("__w"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__r"))
    val sums = cells.groupBy(col("__g"))
      .agg(count(lit(1)).as("k_doses"), sum(col("__n")).as("n"),
        sum(col("__r")).as("n_pos"),
        sum((col("__r").cast(dec) * col("__w")).cast(dec)).as("__t"),
        sum((col("__n").cast(dec) * col("__w")).cast(dec)).as("__s1"),
        sum((col("__n").cast(dec) * col("__w") * col("__w"))
          .cast(dec)).as("__s2"))
    val nD = col("n").cast("double")
    val p = col("n_pos").cast("double") / nD
    val s1 = col("__s1").cast("double")
    val varT = p * (lit(1.0) - p) *
      (col("__s2").cast("double") - s1 * s1 / nD)
    val z = (col("__t").cast("double") - p * s1) / sqrt(varT)
    sums.select(col("__g").as(groupCol), col("k_doses"), col("n"),
      col("n_pos"),
      when(varT > 0.0, round(lit(1e6) * z).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Ansari–Bradley scale test per group — "do the two sides differ
    * in DISPERSION around a common median" (the scale companion of
    * [[mannWhitney]]'s location test): pooled doubled midranks fold
    * into doubled AB scores s2 = min(m2, 2(N+1) − m2) (small at the
    * extremes, large in the middle), AB2 = Σ_A ca·s2, and the exact
    * finite-sampling null — AB is a size-n_a without-replacement
    * sample of the score multiset — gives E = n_a·ΣS/N and
    * Var = n_a·n_b·(N·ΣS² − (ΣS)²)/(N²(N−1)) with every Σ an exact
    * decimal integer over the (group, value) cells; ties are handled
    * BY CONSTRUCTION (the scores of a tied cell are equal), no
    * separate correction. Cells ride [[ksTest]]'s collapse + one
    * range-partitioned prefix. Empty sides or zero score variance
    * (N ≤ 2) report NULL z.
    * Output: (groupCol, n_a, n_b, ab2, z_micro). */
  def ansariBradley(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val totals = cells.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
      .withColumn("__nt", col("n_a") + col("n_b"))
    val run = Ranking.groupRunningSum(cells, "__g", Seq("__v"), "__c")
      .join(totals, Seq("__g"))
    val m2 = lit(2L) * (col("running") - col("__c")) + col("__c") + 1L
    val s2 = least(m2, lit(2L) * (col("__nt") + 1L) - m2)
    val stats = run.groupBy(col("__g"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("__nt")).as("__n"),
        sum((col("__ca").cast(dec) * s2).cast(dec)).as("__ab2"),
        sum((col("__c").cast(dec) * s2).cast(dec)).as("__ss"),
        sum((col("__c").cast(dec) * s2 * s2).cast(dec)).as("__ssq"))
    val nD = col("__n").cast("double")
    val e2 = col("n_a").cast("double") * col("__ss").cast("double") /
      nD
    val var2 = col("n_a").cast("double") * col("n_b").cast("double") *
      (nD * col("__ssq").cast("double") -
        col("__ss").cast("double") * col("__ss").cast("double")) /
      (nD * nD * (nD - lit(1.0)))
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        col("__ab2").cast("long")).as("ab2"),
      when(col("n_a") > 0L && col("n_b") > 0L && var2 > 0.0,
        round(lit(1e6) * (col("__ab2").cast("double") - e2) /
          sqrt(var2)).cast("long"))
        .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Two-sample Cramér–von Mises test per group — the WHOLE-CDF
    * drift statistic next to [[ksTest]]'s single worst point (CvM
    * integrates the squared ECDF gap, so many small departures
    * register even when no single gap is large):
    * T = U/(n·m·N) − (4nm−1)/(6N) with
    * U = n·Σ_i(r_i − i)² + m·Σ_j(s_j − j)². Ranks are pooled doubled
    * midranks; within a tied cell the members' own indices are
    * CONSECUTIVE integers, so each cell's Σ(r−i)² has the closed
    * form c·K² − 2K·c(c+1) + 4·c(c+1)(2c+1)/6 over quarter units
    * (K = m2 − 2·r_side) — exact decimal integers, no per-member
    * explosion, the pyramidal term's divide-by-6 exact by
    * construction. Pooled and both per-side cumulative counts share
    * ONE [[Ranking.groupRunningSums]] exchange. Empty sides report
    * NULL. Output: (groupCol, n_a, n_b, t_micro). */
  def cramerVonMises(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val run = Ranking.groupRunningSums(cells, "__g", Seq("__v"),
      Seq("__c" -> "__cum", "__ca" -> "__cuma", "__cb" -> "__cumb"))
    val m2 = lit(2L) * (col("__cum") - col("__c")) + col("__c") + 1L
    // Σ_{j=1..c} (K − 2j)² in quarter units, K = m2 − 2·(strictly
    // below within the side): c·K² − 2K·c(c+1) + 4·c(c+1)(2c+1)/6.
    def cellSum(cCol: Column, below: Column): Column = {
      val k = (m2 - lit(2L) * below).cast(dec)
      val c = cCol.cast(dec)
      ((c * k * k).cast(dec) -
        (lit(2L).cast(dec) * k * c * (c + lit(1L))).cast(dec) +
        (lit(4L).cast(dec) * c * (c + lit(1L)) *
          (lit(2L).cast(dec) * c + lit(1L)) / lit(6L)).cast(dec))
        .cast(dec)
    }
    val stats = run.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
        sum(when(col("__ca") > 0L,
          cellSum(col("__ca"), col("__cuma") - col("__ca")))
          .otherwise(lit(0L).cast(dec))).as("__ua"),
        sum(when(col("__cb") > 0L,
          cellSum(col("__cb"), col("__cumb") - col("__cb")))
          .otherwise(lit(0L).cast(dec))).as("__ub"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val bigN = na + nb
    val u = (col("n_a").cast(dec) * col("__ua") +
      col("n_b").cast(dec) * col("__ub")).cast(dec)
    val t = u.cast("double") / lit(4.0) / (na * nb * bigN) -
      (lit(4.0) * na * nb - lit(1.0)) / (lit(6.0) * bigN)
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(lit(1e6) * t).cast("long"))
        .otherwise(lit(null).cast("long")).as("t_micro"))
  }

  /** Two-sample Kuiper test per group — [[ksTest]]'s rotation-robust
    * sibling: V = D⁺ + D⁻ (max ECDF gap in EACH direction) instead
    * of the single absolute max, so a distribution that drifts up in
    * one tail and down in the other registers fully. Identical cell
    * collapse + prefix machinery; the two signed maxima run over the
    * exact integer cross-products ra·n_b − rb·n_a (DECIMAL(38,0),
    * clamped at 0) with ONE final micro-rounded divide by n_a·n_b.
    * Empty sides report NULL.
    * Output: (groupCol, n_a, n_b, v_micro). */
  def kuiper(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    val run = Ranking.groupRunningSums(cells, "__g", Seq("__v"),
      Seq("__ca" -> "__ra", "__cb" -> "__rb"))
    val diff = (col("__ra").cast(dec) * col("__nb") -
      col("__rb").cast(dec) * col("__na")).cast(dec)
    val totals = cells.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    val stats = run.join(totals, Seq("__g"))
      .groupBy(col("__g"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(greatest(diff, lit(0L).cast(dec))).as("__dp"),
        max(greatest(-diff, lit(0L).cast(dec))).as("__dm"))
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(lit(1e6) *
          (col("__dp").cast("double") + col("__dm").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .cast("long"))
        .otherwise(lit(null).cast("long")).as("v_micro"))
  }

  /** Page's trend test per group — [[friedman]]'s ORDERED-alternative
    * sibling ("performance rises monotonically across the ordered
    * treatments", e.g. quality vs data-mix epoch): within complete
    * blocks the k treatment values take doubled midranks (the same
    * k²-bounded pair census), each treatment gets its 1..k order
    * index from a rank over the group's distinct treatments (the
    * treatment column's own ordering IS the hypothesis), and
    * L2 = Σ_j idx_j · R2_j accumulates exact. z uses the no-tie null
    * E[L2] = n·k(k+1)²/2, Var[L2] = n·k²(k+1)(k²−1)/36 (ties make
    * it conservative — stated). Groups with k < 3 or no complete
    * blocks report NULL. Output: (groupCol, k, n_blocks,
    * n_dropped_blocks, l2, z_micro). */
  def pageTrend(
      df: DataFrame,
      groupCol: String,
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(blockCol).as("__b"),
        col(treatmentCol).as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val kPer = base.groupBy(col("__g"))
      .agg(countDistinct(col("__t")).as("k"))
    val tIdx = Ranking.groupRank(
      base.select(col("__g"), col("__t")).distinct(), "__g",
      Seq("__t")).select(col("__g"), col("__t"), col("rank")
      .as("__idx"))
    // Completeness = row count AND distinct treatments (the kendallW
    // quarantine: a duplicated cell plus a missing one passes the
    // count alone and corrupts the block's midranks).
    val blocks = base.groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__cnt"),
        countDistinct(col("__t")).as("__ndt"))
      .join(kPer, Seq("__g"))
      .withColumn("__complete",
        col("__cnt") === col("k") && col("__ndt") === col("k"))
    val dropped = blocks.groupBy(col("__g"))
      .agg(sum(when(!col("__complete"), 1L).otherwise(0L))
        .as("n_dropped_blocks"))
    val rows = base.join(blocks.filter(col("__complete"))
      .select(col("__g"), col("__b")), Seq("__g", "__b"))
    val other = rows.select(col("__g"), col("__b"),
      col("__v").as("__v2"))
    val ranked = rows.join(other, Seq("__g", "__b"))
      .groupBy(col("__g"), col("__b"), col("__t"), col("__v"))
      .agg(sum(when(col("__v2") < col("__v"), 1L).otherwise(0L))
        .as("__below"),
        sum(when(col("__v2") === col("__v"), 1L).otherwise(0L))
          .as("__eq"))
      .withColumn("__r2",
        lit(2L) * col("__below") + col("__eq") + 1L)
    val l2 = ranked.join(tIdx, Seq("__g", "__t"))
      .groupBy(col("__g"))
      .agg(sum((col("__idx").cast(dec) * col("__r2")).cast(dec))
        .as("__l2"))
    val nPer = blocks.filter(col("__complete"))
      .groupBy(col("__g")).agg(count(lit(1)).as("n_blocks"))
    val kD = col("k").cast("double")
    val nD = col("n_blocks").cast("double")
    val e2 = nD * kD * (kD + 1.0) * (kD + 1.0) / lit(2.0)
    val var2 = nD * kD * kD * (kD + 1.0) * (kD * kD - 1.0) /
      lit(36.0)
    kPer.join(dropped, Seq("__g"))
      .join(nPer, Seq("__g"), "left")
      .join(l2, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("k"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        col("n_dropped_blocks"),
        when(col("n_blocks") > 0L, col("__l2").cast("long"))
          .as("l2"),
        when(col("n_blocks") > 0L && col("k") >= 3L && var2 > 0.0,
          round(lit(1e6) * (col("__l2").cast("double") - e2) /
            sqrt(var2)).cast("long"))
          .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Brunner–Munzel test per group — [[mannWhitney]] without the
    * equal-variance assumption (the rank-world Welch): estimates
    * p̂ = P(X < Y) + ½P(X = Y) from mean pooled midranks and
    * studentizes with PER-SIDE rank variances, so it stays honest
    * when the two sides differ in shape/spread (where MW-U's null
    * variance lies). Every per-member quantity is a CELL constant —
    * the pooled midrank m2 and the within-side midrank i2 — so both
    * variance sums are exact decimal integers over the (group,
    * value) cells, riding ONE [[Ranking.groupRunningSums]] triple
    * prefix (pooled + both sides share the exchange).
    * W = n_a·n_b·(R̄_b − R̄_a)/(N·√(n_a·S_a² + n_b·S_b²)) — the
    * Brunner–Munzel (2000) studentization as lawstat/scipy compute
    * it — with S_k² the sample variance of D = (pooled − internal)
    * midranks; float steps are the final assembly only. (An earlier
    * revision used N·(S_a²/(N−n_a) + S_b²/(N−n_b)) under the root,
    * which coincides ONLY when n_a = n_b = N/2 = √(n_a·n_b) — at
    * real unequal group sizes it shrinks W by √(N/(n_a·n_b)).) Degenerate groups
    * (a side with < 2 rows, zero variance — e.g. fully separated
    * samples) report NULL W; p̂ reports whenever both sides exist.
    * Output: (groupCol, n_a, n_b, p_hat_micro, w_micro). */
  def brunnerMunzel(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val run = Ranking.groupRunningSums(cells, "__g", Seq("__v"),
      Seq("__c" -> "__cum", "__ca" -> "__cuma", "__cb" -> "__cumb"))
    val m2 = lit(2L) * (col("__cum") - col("__c")) + col("__c") + 1L
    val i2a = lit(2L) * (col("__cuma") - col("__ca")) + col("__ca") +
      1L
    val i2b = lit(2L) * (col("__cumb") - col("__cb")) + col("__cb") +
      1L
    val da2 = (m2 - i2a).cast(dec)
    val db2 = (m2 - i2b).cast(dec)
    val stats = run.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
        sum((col("__ca").cast(dec) * m2).cast(dec)).as("__r2a"),
        sum((col("__cb").cast(dec) * m2).cast(dec)).as("__r2b"),
        sum((col("__ca").cast(dec) * da2).cast(dec)).as("__s1a"),
        sum((col("__ca").cast(dec) * da2 * da2).cast(dec)).as("__s2a"),
        sum((col("__cb").cast(dec) * db2).cast(dec)).as("__s1b"),
        sum((col("__cb").cast(dec) * db2 * db2).cast(dec)).as("__s2b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val bigN = na + nb
    val ra = col("__r2a").cast("double") / (lit(2.0) * na)
    val rb = col("__r2b").cast("double") / (lit(2.0) * nb)
    val va = (col("__s2a").cast("double") -
      col("__s1a").cast("double") * col("__s1a").cast("double") / na) /
      (na - lit(1.0)) / lit(4.0)
    val vb = (col("__s2b").cast("double") -
      col("__s1b").cast("double") * col("__s1b").cast("double") / nb) /
      (nb - lit(1.0)) / lit(4.0)
    val sig = na * va + nb * vb
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(lit(1e6) * (rb - (nb + lit(1.0)) / lit(2.0)) / na)
          .cast("long")).as("p_hat_micro"),
      when(col("n_a") > 1L && col("n_b") > 1L && sig > 0.0,
        round(lit(1e6) * na * nb * (rb - ra) / (bigN * sqrt(sig)))
          .cast("long"))
        .otherwise(lit(null).cast("long")).as("w_micro"))
  }

  /** Two-sample energy distance per group — the metric-space drift
    * test (Székely–Rizzo): E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| ≥ 0,
    * zero iff the distributions match; unlike KS/CvM it weighs HOW
    * FAR values moved, not just rank order. Every pairwise
    * |difference| sum is EXACT: sorted-prefix identity over the
    * (group, value) cells — Σ_y|v−y| = v·n_below − s_below +
    * s_above − v·n_above with both per-side counts AND per-side
    * value sums riding ONE [[Ranking.groupRunningSums]] exchange
    * (4 measures); tied values contribute zero by construction. The
    * three E terms assemble in micro value units with three final
    * divides. T = (n_a·n_b/N)·E is the test statistic (permutation
    * null; reported for ranking drifts, not thresholded). Empty
    * sides report NULL.
    * Output: (groupCol, n_a, n_b, e_micro, t_stat_micro). */
  def energyDistance(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__wa", (col("__ca").cast(dec) * col("__v"))
        .cast(dec))
      .withColumn("__wb", (col("__cb").cast(dec) * col("__v"))
        .cast(dec))
    val run = Ranking.groupRunningSums(cells, "__g", Seq("__v"),
      Seq("__ca" -> "__cuma", "__cb" -> "__cumb",
        "__wa" -> "__cwa", "__wb" -> "__cwb"))
    val totals = cells.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"),
        sum(col("__wa")).as("__swa"), sum(col("__wb")).as("__swb"))
    val j = run.join(totals, Seq("__g"))
    val v = col("__v").cast(dec)
    // Σ over the OTHER side of |v − y|, exact: strictly-below count/
    // sum from the inclusive prefixes minus the own cell.
    def against(cnt: Column, cum: Column, w: Column, cw: Column,
        n: Column, sw: Column): Column =
      (v * (cum - cnt).cast(dec) - (cw - w) +
        (sw - cw) - v * (n.cast(dec) - cum.cast(dec))).cast(dec)
    val cross = (col("__ca").cast(dec) *
      against(col("__cb"), col("__cumb"), col("__wb"), col("__cwb"),
        col("__nb"), col("__swb"))).cast(dec)
    val withinA = (col("__ca").cast(dec) *
      (v * (col("__cuma") - col("__ca")).cast(dec) -
        (col("__cwa") - col("__wa")))).cast(dec)
    val withinB = (col("__cb").cast(dec) *
      (v * (col("__cumb") - col("__cb")).cast(dec) -
        (col("__cwb") - col("__wb")))).cast(dec)
    val stats = j.groupBy(col("__g"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(cross).as("__sab"), sum(withinA).as("__saa"),
        sum(withinB).as("__sbb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val e = lit(2.0) * col("__sab").cast("double") / (na * nb) -
      lit(2.0) * col("__saa").cast("double") / (na * na) -
      lit(2.0) * col("__sbb").cast("double") / (nb * nb)
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(e).cast("long"))
        .otherwise(lit(null).cast("long")).as("e_micro"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(na * nb / (na + nb) * e).cast("long"))
        .otherwise(lit(null).cast("long")).as("t_stat_micro"))
  }

  /** Binned distribution distances per group — the drift trio a
    * monitoring page shows side by side: total variation (the
    * largest probability mass any event can disagree by),
    * Bhattacharyya coefficient (overlap), and Hellinger distance
    * (√(1−BC), a proper metric). Values bin at `binWidthMilli` on
    * the milli grid (floor — mirrored as float floor, not integer
    * div, so negative values bin identically on both engines). TV's
    * numerator Σ|ca·n_b − cb·n_a| is an exact decimal integer with
    * ONE final divide; BC's per-bin √(ca·cb) is micro-quantized
    * per bin THEN integer-summed (sqrt is correctly rounded
    * everywhere, and the quantized sum is order-free — the float-
    * accumulation policy of SparkEntry's header). Empty sides
    * report NULLs.
    * Output: (groupCol, n_a, n_b, n_bins, tv_micro, bc_micro,
    * hellinger_micro). */
  def histDistances(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String,
      binWidthMilli: Long): DataFrame = {
    require(binWidthMilli > 0L, "binWidthMilli must be positive")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        floor(round(col(valueCol).cast("double") * lit(1e3))
          .cast("long").cast("double") / lit(binWidthMilli.toDouble))
          .cast("long").as("__bin"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__bin"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    histDistancesFromCells(cells).withColumnRenamed("__g", groupCol)
  }

  /** The [[histDistances]] core over PRE-BINNED per-side cells
    * (__g, __ca, __cb — one row per observed bin): shared verbatim
    * with the streaming pager
    * ([[graft.streaming.HistDriftStream]]) so stream and batch
    * verdicts cannot diverge — the [[psiFromCells]] convention.
    * Output: (__g, n_a, n_b, n_bins, tv_micro, bc_micro,
    * hellinger_micro). */
  def histDistancesFromCells(cells: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val totals = cells.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    val j = cells.join(totals, Seq("__g"))
    val stats = j.groupBy(col("__g"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        count(lit(1)).as("n_bins"),
        sum(abs((col("__ca").cast(dec) * col("__nb") -
          col("__cb").cast(dec) * col("__na")).cast(dec)))
          .as("__tvnum"),
        sum(round(lit(1e6) *
          sqrt((col("__ca").cast(dec) * col("__cb")).cast("double")))
          .cast("long")).as("__bcsum"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val bc = col("__bcsum").cast("double") / lit(1e6) /
      sqrt(na * nb)
    stats.select(col("__g"), col("n_a"), col("n_b"),
      col("n_bins"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(lit(1e6) * (lit(0.5) *
          col("__tvnum").cast("double") / (na * nb))).cast("long"))
        .otherwise(lit(null).cast("long")).as("tv_micro"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(lit(1e6) * bc).cast("long"))
        .otherwise(lit(null).cast("long")).as("bc_micro"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(lit(1e6) * sqrt(greatest(lit(0.0), lit(1.0) - bc)))
          .cast("long"))
        .otherwise(lit(null).cast("long")).as("hellinger_micro"))
  }

  /** Cucconi test per group — the JOINT location–scale two-sample
    * test (more powerful than running [[mannWhitney]] and
    * [[ansariBradley]] separately when a drift moves BOTH the center
    * and the spread): U standardizes Σ r², V standardizes the
    * contrary Σ (N+1−r)², and C = (U² + V² − 2ρUV)/(2(1−ρ²))
    * combines them with their known negative correlation ρ =
    * 2(N²−4)/((2N+1)(8N+11)) − 1. Ranks are pooled doubled midranks
    * over the (group, value) cells, so both squared-rank sums are
    * exact DECIMAL(38,0) quarter-unit integers; U, V, ρ, C are the
    * only float steps (ties make the null moments approximate —
    * stated, the classic convention). Empty sides report NULL.
    * Output: (groupCol, n_a, n_b, c_micro). */
  def cucconi(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val totals = cells.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
      .withColumn("__nt", col("n_a") + col("n_b"))
    val run = Ranking.groupRunningSum(cells, "__g", Seq("__v"), "__c")
      .join(totals, Seq("__g"))
    val m2 = lit(2L) * (col("running") - col("__c")) + col("__c") + 1L
    val m2c = lit(2L) * (col("__nt") + 1L) - m2
    val stats = run.groupBy(col("__g"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("__nt")).as("__n"),
        sum((col("__cb").cast(dec) * m2 * m2).cast(dec)).as("__sq"),
        sum((col("__cb").cast(dec) * m2c * m2c).cast(dec))
          .as("__sqc"))
    val nD = col("__n").cast("double")
    val mD = col("n_b").cast("double")
    val nA = col("n_a").cast("double")
    val denom = sqrt(mD * nA * (nD + 1.0) * (lit(2.0) * nD + 1.0) *
      (lit(8.0) * nD + 11.0) / lit(5.0))
    val u = (lit(6.0) * col("__sq").cast("double") / lit(4.0) -
      mD * (nD + 1.0) * (lit(2.0) * nD + 1.0)) / denom
    val v = (lit(6.0) * col("__sqc").cast("double") / lit(4.0) -
      mD * (nD + 1.0) * (lit(2.0) * nD + 1.0)) / denom
    val rho = lit(2.0) * (nD * nD - 4.0) /
      ((lit(2.0) * nD + 1.0) * (lit(8.0) * nD + 11.0)) - lit(1.0)
    val c = (u * u + v * v - lit(2.0) * rho * u * v) /
      (lit(2.0) * (lit(1.0) - rho * rho))
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L &&
          lit(1.0) - rho * rho > 0.0,
        round(lit(1e6) * c).cast("long"))
        .otherwise(lit(null).cast("long")).as("c_micro"))
  }

  /** Hill tail-index estimator per group — "how heavy is this
    * metric's tail": over the top k+1 order statistics,
    * Hill = (1/k)·Σ_{i≤k} (ln x_(i) − ln x_(k+1)) and α̂ = 1/Hill
    * (α ≤ 2 means infinite variance — sampling and mean-based
    * alerting break). The top k+1 come from [[Ranking.groupTopK]]'s
    * BOUNDED heap (ties broken by id — total order, never a
    * per-group window), each kept row quantizes to micro-nats (the
    * [[theilIndex]] ln idiom), and the k log-excesses collapse to
    * ONE exact integer difference Σmnat − k·mnat_(k+1). Groups with
    * fewer than k+1 positive rows report NULL (the estimator needs
    * its full tail sample); nonpositive values are outside log
    * support and are censused in n_nonpos.
    * Output: (groupCol, n_pos, n_nonpos, hill_mnat_micro,
    * alpha_micro). */
  def hillTail(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valueCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 2, "k must be at least 2")
    val all = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).cast("long")
        .as("__id"), col(valueCol).cast("double").as("__x"))
    val counts = all.groupBy(col("__g"))
      .agg(sum(when(col("__x") > 0.0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__x") > 0.0, 0L).otherwise(1L)).as("n_nonpos"))
    val top = Ranking.groupTopK(all.filter(col("__x") > 0.0),
      Seq("__g"), Seq((-col("__x")).as("__nx"), col("__id")), k + 1)
    val agg = top
      .select(col("__g"), col("rank"),
        round(lit(1e6) * log(-col("__nx"))).cast("long").as("__mnat"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__m"),
        sum(when(col("rank") <= k, col("__mnat")).otherwise(0L))
          .as("__s"),
        max(when(col("rank") === k + 1, col("__mnat"))).as("__ref"))
    val hillD = (col("__s") - lit(k.toLong) * col("__ref"))
      .cast("double") / lit(k.toDouble)
    counts.join(agg, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n_pos"), col("n_nonpos"),
        when(col("__m") === (k + 1).toLong,
          round(hillD).cast("long"))
          .otherwise(lit(null).cast("long")).as("hill_mnat_micro"),
        when(col("__m") === (k + 1).toLong && hillD > 0.0,
          round(lit(1e12) / hillD).cast("long"))
          .otherwise(lit(null).cast("long")).as("alpha_micro"))
  }

  /** Gumbel (extreme-value type-I) method-of-moments fit per group —
    * the [[momentFit]] family member for MAXIMA (daily peak load,
    * per-shard max latency): β̂ = s·√6/π off the sample standard
    * deviation and μ̂ = x̄ − γ·β̂ (γ the Euler–Mascheroni constant,
    * both literals mirrored). Exact milli sums; the two fits are the
    * only float chains. Groups with n < 2 or zero variance report
    * NULL. Output: (groupCol, n, mu_micro, beta_micro). */
  def gumbelFit(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__y"))
    val sums = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__y").cast(dec)).as("__s"),
        sum((col("__y").cast(dec) * col("__y")).cast(dec)).as("__q"))
    val nD = col("n").cast("double")
    val s2 = (col("__q").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nD) /
      (nD - lit(1.0))
    val beta = sqrt(s2) * sqrt(lit(6.0)) / lit(3.141592653589793)
    val mu = col("__s").cast("double") / nD -
      lit(0.5772156649015329) * beta
    sums.select(col("__g").as(groupCol), col("n"),
      when(col("n") >= 2L && s2 > 0.0,
        round(lit(1e3) * mu).cast("long"))
        .otherwise(lit(null).cast("long")).as("mu_micro"),
      when(col("n") >= 2L && s2 > 0.0,
        round(lit(1e3) * beta).cast("long"))
        .otherwise(lit(null).cast("long")).as("beta_micro"))
  }

  /** Lepage test per group — the classic JOINT location–scale
    * combination L = z_W² + z_AB² (χ²₂ null): Wilcoxon/MW catches a
    * shifted center, Ansari–Bradley a changed spread, and Lepage
    * pages when EITHER moved — [[cucconi]]'s rank-squares sibling,
    * kept because the two react differently under asymmetric drift.
    * ONE cells+prefix pass feeds both components: the doubled
    * midrank sums ([[mannWhitney]]'s r2a and tie cubes) and the
    * doubled AB scores ([[ansariBradley]]'s s2 tallies) aggregate
    * together, then both z chains assemble exactly as in their
    * standalone operators. Degenerate groups (an empty side, zero
    * variance on either component) report NULL.
    * Output: (groupCol, n_a, n_b, l_micro, significant — L above
    * the χ²₂ 5% critical value 5.991465). */
  def lepage(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val totals = cells.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
      .withColumn("__nt", col("n_a") + col("n_b"))
    val run = Ranking.groupRunningSum(cells, "__g", Seq("__v"), "__c")
      .join(totals, Seq("__g"))
    val m2 = lit(2L) * (col("running") - col("__c")) + col("__c") + 1L
    val s2 = least(m2, lit(2L) * (col("__nt") + 1L) - m2)
    val stats = run.groupBy(col("__g"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("__nt")).as("__n"),
        sum((col("__ca").cast(dec) * m2).cast(dec)).as("__r2a"),
        sum((col("__c").cast(dec) * col("__c") * col("__c") -
          col("__c")).cast(dec)).as("__ties"),
        sum((col("__ca").cast(dec) * s2).cast(dec)).as("__ab2"),
        sum((col("__c").cast(dec) * s2).cast(dec)).as("__ss"),
        sum((col("__c").cast(dec) * s2 * s2).cast(dec)).as("__ssq"))
    val nn = col("n_a").cast("double") * col("n_b").cast("double")
    val bigN = col("__n").cast("double")
    val u2a = col("__r2a") - col("n_a") * (col("n_a") + 1L)
    val sigma2 = nn / lit(12.0) *
      (bigN + 1.0 - col("__ties").cast("double") /
        (bigN * (bigN - 1.0)))
    val zw = (u2a.cast("double") - nn) / (lit(2.0) * sqrt(sigma2))
    val e2 = col("n_a").cast("double") * col("__ss").cast("double") /
      bigN
    val var2 = col("n_a").cast("double") * col("n_b").cast("double") *
      (bigN * col("__ssq").cast("double") -
        col("__ss").cast("double") * col("__ss").cast("double")) /
      (bigN * bigN * (bigN - lit(1.0)))
    val zab = (col("__ab2").cast("double") - e2) / sqrt(var2)
    val l = zw * zw + zab * zab
    stats.select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L && sigma2 > 0.0 &&
          var2 > 0.0,
        round(lit(1e6) * l).cast("long"))
        .otherwise(lit(null).cast("long")).as("l_micro"),
      when(col("n_a") > 0L && col("n_b") > 0L && sigma2 > 0.0 &&
          var2 > 0.0,
        round(lit(1e6) * l).cast("long") > 5991465L)
        .otherwise(lit(null).cast("boolean")).as("significant"))
  }

  /** Goodman–Kruskal gamma per group — ordinal×ordinal association
    * ("do higher severity buckets come with higher latency buckets")
    * where [[chiSquare]]-style tests ignore ORDER: γ = (C − D)/(C + D)
    * over concordant/discordant pairs, ties on either margin
    * excluded (the classical definition). Both columns must be
    * ordinal-coded (cast to long) with SMALL cardinality — the pair
    * algebra runs on the CONTINGENCY CELLS, never the rows: C and D
    * are sums of n_a·n_b over cell pairs with xa < xb, so the join is
    * |X|·|Y| squared per group (metadata-sized under the categorical
    * contract, stated) while the row pass is one hash-agg. γ_micro is
    * the EXACT half-up rounding of the integer rational |C−D|/(C+D),
    * sign reapplied (half-away-from-zero — the SQL round convention).
    * Groups with no untied pair report NULL.
    * Output: (groupCol, n, concordant, discordant, gamma_micro). */
  def goodmanKruskalGamma(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .groupBy(col("__g"), col("__x"), col("__y"))
      .agg(count(lit(1)).as("__c"))
    val b = cells.select(col("__g"), col("__x").as("__xb"),
      col("__y").as("__yb"), col("__c").as("__cb"))
    val pairs = cells.join(b, Seq("__g"))
      .filter(col("__xb") > col("__x"))
    val cd = pairs.groupBy(col("__g"))
      .agg(sum(when(col("__yb") > col("__y"),
          (col("__c").cast(dec) * col("__cb")).cast(dec))
          .otherwise(lit(0L).cast(dec))).as("__conc"),
        sum(when(col("__yb") < col("__y"),
          (col("__c").cast(dec) * col("__cb")).cast(dec))
          .otherwise(lit(0L).cast(dec))).as("__disc"))
    val nPer = cells.groupBy(col("__g")).agg(sum(col("__c")).as("n"))
    val conc = coalesce(col("__conc"), lit(0L).cast(dec))
    val disc = coalesce(col("__disc"), lit(0L).cast(dec))
    val den = (conc + disc).cast(dec)
    val num = abs(conc - disc).cast(dec)
    val gAbs = TimeSeries.divFloorDec(
      (lit(2000000L).cast(dec) * num + den).cast(dec),
      (lit(2L).cast(dec) * den).cast(dec)).cast("long")
    nPer.join(cd, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"),
        conc.cast("long").as("concordant"),
        disc.cast("long").as("discordant"),
        when(den > 0,
          when(conc < disc, -gAbs).otherwise(gAbs))
          .otherwise(lit(null).cast("long")).as("gamma_micro"))
  }

  /** Grubbs outlier statistic per group — "does this column's worst
    * point sit implausibly far from its own group's mean":
    * G = max|x − x̄| / s with the SAMPLE s. EXACT end to end: with
    * milli-quantized v, D = max|n·v − Σv| is an exact integer and
    * G² = D²·(n−1)/(n·(n·Σv² − (Σv)²)), so (2·10⁶·G)² floor-divides
    * in decimal(38,0) and [[TimeSeries.zMicroFromQ]]'s clamped isqrt
    * emits g_micro with no libm in the cell. Exactness bound:
    * 4·10¹²·D² < 10³⁸ ⇒ n·|v_milli| ≲ 2·10¹² per group (documented).
    * Two hash-aggs + one stats join; degenerate groups (n < 3 or
    * zero variance) report NULL.
    * Output: (groupCol, n, g_micro). */
  def grubbs(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"))
    val stats = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast(dec)).as("__s1"),
        sum((col("__v").cast(dec) * col("__v")).cast(dec)).as("__s2"))
    val maxd = base.join(stats.select(col("__g"), col("n").as("__n"),
        col("__s1").as("__s1j")), Seq("__g"))
      .groupBy(col("__g"))
      .agg(max(abs((col("__n").cast(dec) * col("__v") -
        col("__s1j")).cast(dec))).as("__d"))
    val ssd = (col("n").cast(dec) * col("__s2") -
      col("__s1") * col("__s1")).cast(dec)
    val q = TimeSeries.divFloorDec(
      (lit(4000000000000L).cast(dec) * (col("__d") * col("__d")) *
        (col("n") - 1L).cast(dec)).cast(dec),
      (col("n").cast(dec) * ssd).cast(dec))
    stats.join(maxd, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"),
        when(col("n") >= 3L && ssd > 0,
          TimeSeries.zMicroFromQ(q, lit(false)))
          .otherwise(lit(null).cast("long")).as("g_micro"))
  }

  /** Kendall's W (coefficient of concordance) per group — "do the m
    * raters agree on the ORDER of the n items" (the multi-rater
    * generalization the pairwise [[Preference]] win-rates cannot
    * see): W = (12ΣR_i² − 3m²n(n+1)²)/(m²(n³−n) − mΣT_j), midranks
    * within each rater, T_j = Σ(t³−t) the rater's tie correction.
    * Complete-block discipline ([[pageTrend]]): raters missing any
    * item are dropped and censused, never silently averaged.
    *
    * EXACT: doubled within-rater midranks make every quantity an
    * integer (12ΣR² = 3ΣR2², and the numerator telescopes to
    * 3Σ(R2_i − m(n+1))²), so w_micro is the pure-integer half-up
    * rounding — no float anywhere. Within-rater ranking is a
    * (group, rater)-keyed self-join on the item rows — bounded by
    * the n items a rater scores, the [[pageTrend]] within-block
    * shape. Exactness bound m²n³ ≲ 4·10³⁰. Groups with < 2 complete
    * raters, < 2 items, or an all-tied census report NULL W.
    * Output: (groupCol, n_items, n_raters, n_dropped_raters,
    * w_micro). */
  def kendallW(
      df: DataFrame,
      groupCol: String,
      raterCol: String,
      itemCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(raterCol).as("__r"),
        col(itemCol).as("__i"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val nItems = base.groupBy(col("__g"))
      .agg(countDistinct(col("__i")).as("n_items"))
    // Completeness = row count AND distinct items: a rater with a
    // duplicated (rater, item) cell plus a missing item also has
    // cnt == n_items, but its midranks are corrupted — quarantine
    // it the same as a short rater.
    val raterCnt = base.groupBy(col("__g"), col("__r"))
      .agg(count(lit(1)).as("__cnt"),
        countDistinct(col("__i")).as("__ni"))
      .join(nItems, Seq("__g"))
      .withColumn("__complete",
        col("__cnt") === col("n_items") &&
          col("__ni") === col("n_items"))
    val dropped = raterCnt.groupBy(col("__g"))
      .agg(sum(when(!col("__complete"), 1L).otherwise(0L))
        .as("n_dropped_raters"))
    val rows = base.join(raterCnt.filter(col("__complete"))
      .select(col("__g"), col("__r")), Seq("__g", "__r"))
    val other = rows.select(col("__g"), col("__r"),
      col("__v").as("__v2"))
    // Doubled within-rater midrank per item (pageTrend's bounded
    // block self-join — a rater scores n items).
    val midranked = rows.join(other, Seq("__g", "__r"))
      .groupBy(col("__g"), col("__r"), col("__i"), col("__v"))
      .agg(sum(when(col("__v2") < col("__v"), 1L).otherwise(0L))
        .as("__below"),
        sum(when(col("__v2") === col("__v"), 1L).otherwise(0L))
          .as("__eq"))
      .withColumn("__r2", lit(2L) * col("__below") + col("__eq") + 1L)
    val rTot = midranked.groupBy(col("__g"), col("__i"))
      .agg(sum(col("__r2")).as("__R2"), count(lit(1)).as("__m"))
    // Tie correction: per rater, Σ(t³ − t) over tie-group sizes —
    // __eq IS the tie-group size t (a per-cell constant), so one
    // distinct row per (rater, value) carries it exactly once.
    val tSum = midranked.select(col("__g"), col("__r"), col("__v"),
        col("__eq")).distinct()
      .groupBy(col("__g"))
      .agg(sum((col("__eq").cast(dec) * col("__eq") * col("__eq") -
        col("__eq").cast(dec)).cast(dec)).as("__T"))
    val mPer = raterCnt.filter(col("__complete"))
      .groupBy(col("__g")).agg(count(lit(1)).as("n_raters"))
    val num = rTot.join(mPer, Seq("__g")).join(nItems, Seq("__g"))
      .groupBy(col("__g"))
      .agg(sum({
        val dev = (col("__R2").cast(dec) -
          (col("n_raters").cast(dec) * (col("n_items") + 1L))
            .cast(dec)).cast(dec)
        (lit(3L).cast(dec) * dev * dev).cast(dec)
      }).as("__num"))
    val den = (col("n_raters").cast(dec) * col("n_raters") *
      (col("n_items").cast(dec) * col("n_items") * col("n_items") -
        col("n_items")).cast(dec) -
      col("n_raters").cast(dec) * col("__T")).cast(dec)
    nItems.join(dropped, Seq("__g"))
      .join(mPer, Seq("__g"), "left")
      .join(tSum, Seq("__g"), "left")
      .join(num, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n_items"),
        coalesce(col("n_raters"), lit(0L)).as("n_raters"),
        col("n_dropped_raters"),
        when(col("n_raters") >= 2L && col("n_items") >= 2L &&
            den > 0 && col("__num").isNotNull,
          TimeSeries.divFloorDec(
            (lit(2000000L).cast(dec) * col("__num") + den).cast(dec),
            (lit(2L).cast(dec) * den).cast(dec)).cast("long"))
          .otherwise(lit(null).cast("long")).as("w_micro"))
  }

  /** Mood scale test per group — rank dispersion about the pooled
    * center ("did the SPREAD move", [[Profile.ansariBradley]]'s
    * classical sibling with a closed-form null): T = Σ_{side A}
    * (r_i − (N+1)/2)² over pooled midranks; E[T] = m(N²−1)/12,
    * Var[T] = mn(N+1)(N²−4)/180 (the no-tie moments, stated —
    * midranks keep the statistic defined under light ties). EXACT:
    * doubled midranks give the integer T4 = 4T = Σ(r2 − (N+1))²,
    * d = 3T4 − m(N²−1), and (2·10⁶·z)² = 5·10¹²·d²/(m·n·(N+1)(N²−4))
    * — floor-divided in TWO exact steps (quotient and remainder
    * separately, so the d² product never meets the 10¹² scale in one
    * multiply; exact to N ≲ 10⁵ per group, documented) and finished
    * by [[TimeSeries.zMicroFromQ]]'s clamped isqrt. Sides with
    * m = 0, n = 0 or N < 3 report NULL z.
    * Output: (groupCol, n_a, n_b, t4, z_micro). */
  def moodScale(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sideCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"),
        col(sideCol).cast("boolean").as("__a"))
    val cells = base.groupBy(col("__g"), col("__v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val run = Ranking.groupRunningSums(cells, "__g", Seq("__v"),
      Seq("__c" -> "__cum"))
    val r2 = lit(2L) * (col("__cum") - col("__c")) + col("__c") + 1L
    val stats = run.groupBy(col("__g"))
      .agg(sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
        sum((col("__ca").cast(dec) * r2).cast(dec)).as("__sr"),
        sum((col("__ca").cast(dec) * r2 * r2).cast(dec)).as("__sr2"))
    val bigN = (col("n_a") + col("n_b")).cast(dec)
    // T4 = Σ ca·(r2 − (N+1))² = Σca·r2² − 2(N+1)Σca·r2 + m(N+1)².
    val t4 = (col("__sr2") -
      lit(2L).cast(dec) * (bigN + 1) * col("__sr") +
      col("n_a").cast(dec) * (bigN + 1) * (bigN + 1)).cast(dec)
    val d = (lit(3L).cast(dec) * t4 -
      col("n_a").cast(dec) * (bigN * bigN - 1)).cast(dec)
    val den = (col("n_a").cast(dec) * col("n_b") * (bigN + 1) *
      (bigN * bigN - 4)).cast(dec)
    // Two-step exact floor of 5e12·d²/den: d² = a·den + r, then
    // 5e12·a + (5e12·r) div den — the big scale never multiplies d².
    val d2 = (d * d).cast(dec)
    val aQ = TimeSeries.divFloorDec(d2, den)
    val rQ = (d2 - aQ * den).cast(dec)
    val q = (lit(5000000000000L).cast(dec) * aQ +
      TimeSeries.divFloorDec(
        (lit(5000000000000L).cast(dec) * rQ).cast(dec), den))
      .cast(dec)
    val defined = col("n_a") > 0L && col("n_b") > 0L &&
      col("n_a") + col("n_b") >= 3L
    // q is its own column, as in [[matthewsCorr]].
    stats.withColumn("__q", when(defined, q))
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
      t4.cast("long").as("t4"),
      when(defined, TimeSeries.zMicroFromQ(col("__q"), d < 0))
        .otherwise(lit(null).cast("long")).as("z_micro"))
  }

  /** Dixon's Q per group — the SMALL-SAMPLE outlier ratio
    * ([[grubbs]] needs a variance; Q needs only order statistics):
    * Q_low = (x₍₂₎ − x₍₁₎)/(x₍ₙ₎ − x₍₁₎) and the mirrored Q_high —
    * gap over range, duplicates honored (a duplicated extreme makes
    * its gap exactly 0, as the order statistics say). EXACT: milli
    * values, the second order statistic from extreme counts + the
    * nearest distinct neighbor (two hash-aggs, one broadcastable
    * extremes join), and both ratios reported as the exact half-up
    * micro rounding — no float anywhere. Groups with n < 3 or zero
    * range report NULLs.
    * Output: (groupCol, n, q_low_micro, q_high_micro). */
  def dixonQ(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double") * lit(1e3)).cast("long")
          .as("__v"))
    val ext = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), min(col("__v")).as("__lo"),
        max(col("__v")).as("__hi"))
    val stats = base.join(ext, Seq("__g"))
      .groupBy(col("__g"))
      .agg(max(col("n")).as("n"), max(col("__lo")).as("__lo"),
        max(col("__hi")).as("__hi"),
        sum(when(col("__v") === col("__lo"), 1L).otherwise(0L))
          .as("__clo"),
        sum(when(col("__v") === col("__hi"), 1L).otherwise(0L))
          .as("__chi"),
        min(when(col("__v") > col("__lo"), col("__v"))).as("__lo2"),
        max(when(col("__v") < col("__hi"), col("__v"))).as("__hi2"))
    val x2 = when(col("__clo") > 1L, col("__lo")).otherwise(col("__lo2"))
    val xn1 = when(col("__chi") > 1L, col("__hi")).otherwise(col("__hi2"))
    val range = (col("__hi") - col("__lo")).cast(dec)
    def halfUp(num: Column): Column = TimeSeries.divFloorDec(
      (lit(2000000L).cast(dec) * num.cast(dec) + range).cast(dec),
      (lit(2L).cast(dec) * range).cast(dec)).cast("long")
    stats.select(col("__g").as(groupCol), col("n"),
      when(col("n") >= 3L && range > 0, halfUp(x2 - col("__lo")))
        .otherwise(lit(null).cast("long")).as("q_low_micro"),
      when(col("n") >= 3L && range > 0, halfUp(col("__hi") - xn1))
        .otherwise(lit(null).cast("long")).as("q_high_micro"))
  }


  /** Quade test per group — Friedman's ranked-blocks test with the
    * blocks that DISCRIMINATE weighted up: within-block midranks
    * R_bj, block weights Q_b = rank of the block's value RANGE, and
    * F = (n−1)·B/(A−B) over the weighted centered scores
    * t_bj = Q_b·(R_bj − (k+1)/2), A = Σt², B = Σ_j S_j²/n. The test
    * that catches a treatment effect visible only in the blocks with
    * real spread (a flat block carries no signal and gets no vote) —
    * [[pageTrend]]'s complete-block discipline, incomplete blocks
    * censused and dropped.
    *
    * EXACT end to end: doubled midranks for BOTH rankings make
    * every t4 = Q2_b·(R2_bj − (k+1)) an integer (the common ×4
    * scale cancels in F), so A16/S4 are exact decimal sums and
    * f_micro = the exact half-up of (n−1)·ΣS4²/(n·ΣA16 − ΣS4²) — no
    * float anywhere. Within-block ranking is the bounded block
    * self-join; the block-range ranking rides ONE
    * [[Ranking.groupRunningSums]] value prefix. A − B = 0 (every
    * treatment's weighted score constant across blocks — perfect
    * agreement) reports NULL F, the statistic's infinity.
    * Output: (groupCol, k, n_blocks, n_dropped_blocks, f_micro). */
  def quade(
      df: DataFrame,
      groupCol: String,
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(blockCol).as("__b"),
        col(treatmentCol).as("__t"),
        round(col(valueCol).cast("double") * lit(1e6)).cast("long")
          .as("__v"))
    val kPer = base.groupBy(col("__g"))
      .agg(countDistinct(col("__t")).as("k"))
    // Completeness = row count AND distinct treatments (same
    // quarantine rationale as kendallW's rater census: a duplicated
    // cell plus a missing one passes the count alone).
    val blocks = base.groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__cnt"),
        countDistinct(col("__t")).as("__nt"),
        (max(col("__v")) - min(col("__v")))
        .as("__rng"))
      .join(kPer, Seq("__g"))
      .withColumn("__complete",
        col("__cnt") === col("k") && col("__nt") === col("k"))
    val dropped = blocks.groupBy(col("__g"))
      .agg(sum(when(!col("__complete"), 1L).otherwise(0L))
        .as("n_dropped_blocks"))
    val kept = blocks.filter(col("__complete"))
      .select(col("__g"), col("__b"), col("__rng"))
    // Q2: doubled midrank of the block range among the group's kept
    // blocks (cells + ONE value prefix — never a per-group window).
    val rngCells = kept.groupBy(col("__g"), col("__rng"))
      .agg(count(lit(1)).as("__c"))
    val rngRun = Ranking.groupRunningSums(rngCells, "__g",
      Seq("__rng"), Seq("__c" -> "__cum"))
    val q2 = kept.join(rngRun.select(col("__g"), col("__rng"),
      (lit(2L) * (col("__cum") - col("__c")) + col("__c") + 1L)
        .as("__q2")), Seq("__g", "__rng"))
      .select(col("__g"), col("__b"), col("__q2"))
    val rows = base.join(kept.select(col("__g"), col("__b")),
      Seq("__g", "__b"))
    val other = rows.select(col("__g"), col("__b"),
      col("__v").as("__v2"))
    val midranked = rows.join(other, Seq("__g", "__b"))
      .groupBy(col("__g"), col("__b"), col("__t"), col("__v"))
      .agg(sum(when(col("__v2") < col("__v"), 1L).otherwise(0L))
        .as("__below"),
        sum(when(col("__v2") === col("__v"), 1L).otherwise(0L))
          .as("__eq"))
      .withColumn("__r2", lit(2L) * col("__below") + col("__eq") + 1L)
    val t4 = midranked.join(q2, Seq("__g", "__b"))
      .join(kPer, Seq("__g"))
      .select(col("__g"), col("__b"), col("__t"),
        (col("__q2").cast(dec) *
          (col("__r2") - col("k") - 1L).cast(dec)).cast(dec)
          .as("__t4"))
    val a16 = t4.groupBy(col("__g"))
      .agg(sum((col("__t4") * col("__t4")).cast(dec)).as("__a16"))
    val s4 = t4.groupBy(col("__g"), col("__t"))
      .agg(sum(col("__t4")).cast(dec).as("__s4"))
    val sb = s4.groupBy(col("__g"))
      .agg(sum((col("__s4") * col("__s4")).cast(dec)).as("__sb"))
    val nPer = kept.groupBy(col("__g")).agg(count(lit(1)).as("n_blocks"))
    val num = ((col("n_blocks") - 1L).cast(dec) * col("__sb")).cast(dec)
    val den = (col("n_blocks").cast(dec) * col("__a16") - col("__sb"))
      .cast(dec)
    kPer.join(dropped, Seq("__g"))
      .join(nPer, Seq("__g"), "left")
      .join(a16, Seq("__g"), "left")
      .join(sb, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("k"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        col("n_dropped_blocks"),
        when(col("n_blocks") >= 2L && col("k") >= 2L && den > 0,
          TimeSeries.divFloorDec(
            (lit(2000000L).cast(dec) * num + den).cast(dec),
            (lit(2L).cast(dec) * den).cast(dec)).cast("long"))
          .otherwise(lit(null).cast("long")).as("f_micro"))
  }
}
