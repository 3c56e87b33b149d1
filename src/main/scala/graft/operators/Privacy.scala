package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Re-identification-risk operators: k-anonymity equivalence-class
  * censuses and generalization-ladder costing. Complements the
  * row-content PII scrub (`Training.piiScrub`) with the STRUCTURAL
  * side of privacy: even with direct identifiers removed, a
  * quasi-identifier combination shared by fewer than k rows singles
  * people out (Sweeney 2002). The reference's published tables carry
  * exactly such combinations (device model + firmware + map name,
  * `SURVEY.md §1.4`), so a release gate over them is the natural
  * extension of its quality checks (`src/data_quality.py`).
  *
  * Scale: everything here is hash-aggregation on the quasi-identifier
  * key — map-side partials, one shuffle, no windows, no row explosion
  * beyond one struct per (row, ladder level).
  */
object Privacy {

  /** Per-equivalence-class census under the quasi-identifier columns
    * `quasi` (aliased Columns): class size and k-anonymity verdict.
    * One hash-agg; NULL quasi values form real classes (a NULL zip
    * code groups with other NULL zip codes — Spark and SQL GROUP BY
    * agree on that). */
  def kAnonymityClasses(
      df: DataFrame, quasi: Seq[Column], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("anonymous", col("class_size") >= k)
  }

  /** Generalization-ladder costing in ONE scan and ONE shuffle: each
    * ladder level maps the quasi-identifiers to a coarser form (drop a
    * column by generalizing it to a literal NULL); every row explodes
    * into one struct per level, and a single hash-agg over
    * (level, generalized key) yields per-level suppression cost — the
    * rows that would need suppression because their class is still
    * below k. Output, one row per level:
    *
    *   (level, n_rows, n_classes, n_sub_k_classes,
    *    n_suppressed_rows, suppression_frac [6 dp])
    *
    * The caller picks the cheapest level meeting its suppression
    * budget — a decision over L rows, not a second pass over data.
    * All levels MUST share the same struct field names/types (use
    * NULL literals of the right type for generalized-away fields). */
  def generalizationLadder(
      df: DataFrame, levels: Seq[(Int, Seq[Column])], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(levels.nonEmpty, "need at least one ladder level")
    val leveled = df.select(explode(array(levels.map { case (lvl, cols) =>
      struct((lit(lvl).as("level") +: cols): _*)
    }: _*)).as("g"))
    leveled
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("g.level").as("level"))
      .agg(
        sum(col("n")).cast("long").as("n_rows"),
        count(lit(1)).as("n_classes"),
        sum(when(col("n") < k, 1L).otherwise(0L)).cast("long")
          .as("n_sub_k_classes"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).cast("long")
          .as("n_suppressed_rows"))
      .withColumn("suppression_frac",
        round(col("n_suppressed_rows") / col("n_rows"), 6))
  }

  /** Luhn checksum validity of a digit string (ISO/IEC 7812 — the
    * mod-10 check every payment-card number passes): from the right,
    * double every second digit, subtract 9 when that exceeds 9, and
    * the total must divide by 10. Pure expression over higher-order
    * array functions — codegen-adjacent, no UDF. NULL/empty/non-digit
    * input → false. */
  def luhnValid(digits: Column): Column = {
    val ds = transform(split(reverse(digits), ""), c => c.cast("int"))
    val total = aggregate(
      zip_with(ds, sequence(lit(0), size(ds) - 1), (d, i) =>
        when(i % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)),
      lit(0), (acc, x) => acc + x)
    digits.isNotNull && digits.rlike("^[0-9]+$") && total % 10 === 0
  }

  /** Payment-card (PAN) candidate census: every MAXIMAL digit run of
    * 13–19 chars in `textCol`, with its Luhn verdict — the
    * high-precision PII detector a pure regex scrub lacks (a 16-digit
    * order id fails the checksum; a real PAN cannot). Maximal runs,
    * then a length filter — not a `{13,19}` match, which would carve
    * candidates out of a longer run (a 20-digit tracking number must
    * yield NO candidate, not a truncated one) and would need
    * lookaround an RE2 oracle cannot replay. One row per
    * (row, candidate) via posexplode (`cand_idx` counts ALL runs, so
    * dropped over-long runs still advance it); map-only, no shuffle.
    * Output: input id column + (cand_idx, cand, luhn_ok). */
  def panCandidates(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(regexp_extract_all(col(textCol), lit("[0-9]+"), lit(0)))
          .as(Seq("cand_idx", "cand")))
      .filter(length(col("cand")).between(13, 19))
      .withColumn("cand_idx", col("cand_idx").cast("int"))
      .withColumn("luhn_ok", luhnValid(col("cand")))

  /** Scrub Luhn-VALID 13–19 digit runs from `textCol`, replacing each
    * with `[PAN]` and leaving checksum-failing runs (order ids,
    * tracking numbers) untouched — regex finds the candidates,
    * arithmetic decides. Implemented as: split on candidate
    * boundaries is regex-hostile, so instead each valid candidate
    * becomes a replace pass over its exact digit run bounded by the
    * same non-digit guards. Map-only. */
  def scrubPans(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val valids = panCandidates(df, idCol, textCol)
      .filter(col("luhn_ok"))
      .groupBy(col(idCol))
      .agg(collect_set(col("cand")).as("__pans"))
    df.join(valids, Seq(idCol), "left")
      .withColumn("scrubbed",
        when(col("__pans").isNull, col(textCol)).otherwise(
          aggregate(col("__pans"), col(textCol), (acc, p) =>
            regexp_replace(acc,
              concat(lit("(^|[^0-9])"), p, lit("(?=[^0-9]|$)")),
              lit("$1[PAN]")))))
      .drop("__pans")
  }

  /** 10^e mod 97 for e = 0..67 — the weight table behind
    * [[ibanMod97Valid]], computed once driver-side and embedded as a
    * literal in BOTH engines (a digitized IBAN reaches 68 digits,
    * past every native integer type; positional weights keep the
    * whole check in tiny exact ints). */
  val Pow10Mod97: Seq[Long] = {
    val b = scala.collection.mutable.ArrayBuffer(1L)
    while (b.size < 68) b += b.last * 10L % 97L
    b.toSeq
  }

  /** ISO 13616 mod-97 validity of an IBAN candidate: move the first
    * four chars to the end, read letters as 10..35 (two digits
    * each), and the resulting number must be ≡ 1 (mod 97). The
    * big-number modulus evaluates as a positional weighted sum —
    * Σ digit_i · (10^place mod 97) over [[Pow10Mod97]] — so every
    * intermediate stays a small exact integer; pure higher-order
    * array expressions (the [[luhnValid]] convention), no UDF.
    * Callers gate shape first ([[ibanCandidates]]); this checks
    * arithmetic only. */
  def ibanMod97Valid(cand: Column): Column = {
    val rearranged = concat(substring(cand, 5, 64),
      substring(cand, 1, 4))
    val chars = filter(split(rearranged, ""), c => length(c) === 1)
    val dig = aggregate(chars, lit(""), (acc, c) =>
      concat(acc, when(c.rlike("[0-9]"), c)
        .otherwise((ascii(c) - 55).cast("string"))))
    val dchars = filter(split(dig, ""), c => length(c) === 1)
    val n = size(dchars)
    val powLit = typedlit(Pow10Mod97)
    val total = aggregate(
      zip_with(dchars, sequence(lit(1), n), (c, i) =>
        c.cast("long") * element_at(powLit, n - i + 1)),
      lit(0L), (a, x) => a + x)
    total % 97 === 1
  }

  /** IBAN candidate census — the [[panCandidates]] shape for bank
    * accounts: every MAXIMAL `[A-Z0-9]` run of 15–34 chars opening
    * with the ISO country+check shape `^[A-Z]{2}[0-9]{2}`, with its
    * mod-97 verdict (a transposed or mistyped digit fails; a real
    * IBAN cannot). Maximal runs then filters — never a bounded
    * regex match that would carve candidates out of longer runs.
    * `cand_idx` counts ALL runs, so shape-dropped runs still advance
    * it. Map-only, no shuffle.
    * Output: idCol + (cand_idx, cand, iban_ok). */
  def ibanCandidates(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(regexp_extract_all(col(textCol),
          lit("[A-Z0-9]+"), lit(0))).as(Seq("cand_idx", "cand")))
      .filter(length(col("cand")).between(15, 34) &&
        col("cand").rlike("^[A-Z]{2}[0-9]{2}"))
      .withColumn("cand_idx", col("cand_idx").cast("int"))
      .withColumn("iban_ok", ibanMod97Valid(col("cand")))

  /** ε-differentially-private group counts (Laplace mechanism,
    * sensitivity 1): the release form for the censuses above —
    * k-anonymity says which combinations are safe to publish at all;
    * DP noise is what a published COUNT itself needs so that one
    * row's presence never moves a cell by a tell-tale exact 1.
    *
    * The noise is SEEDED, not sampled: u ∈ (0, 1] derives from
    * md5(tag:groupkey) exactly like every sampling decision in
    * [[Sampling]] (`rand()` noise would change the published table on
    * every rerun — a difference attacker averages away, and a
    * reproducibility bug besides). `tag` MUST be a SECRET,
    * high-entropy key, fresh per release (e.g. 128 random bits drawn
    * outside the pipeline and stored like a credential): the noise is
    * a pure function of md5(tag:groupkey), so anyone who can guess
    * the tag recomputes every cell's noise and recovers the exact
    * counts — a public or low-entropy tag (a date, an epoch number, a
    * job id) voids the guarantee entirely. With a secret key the
    * construction is a PRF and the guarantee is computational DP;
    * reusing one tag across releases also leaks (same groups ⇒ same
    * noise ⇒ exact deltas), hence fresh-per-release. Inverse-CDF
    * Laplace: noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|), with the one
    * libm step quantized to integer micro-nats (the
    * [[Sampling.weightedSample]] convention) so the released table is
    * bit-identical in any engine; u is an exact multiple of 2⁻⁶⁰ so
    * everything before ln() is exact double arithmetic. The u = 1
    * pole clamps at 2⁻⁶⁰ (|noise| ≤ ~41.6/ε — the geometric
    * mechanism's natural tail cap at this discretization).
    *
    * Negative released counts clamp to 0 (standard post-processing —
    * DP survives it). Scale: one hash-agg plus map-side arithmetic;
    * the noise is a pure function of the group key.
    *
    * Output: dims…, `dp_count` (long). */
  def dpCounts(
      df: DataFrame,
      dims: Seq[String],
      epsilon: Double,
      tag: String): DataFrame = {
    require(epsilon > 0, "epsilon must be positive")
    require(dims.nonEmpty, "at least one grouping column")
    val keyStr = concat_ws(":", lit(tag) +:
      dims.map(d => coalesce(col(d).cast("string"), lit("\u0000"))): _*)
    val u = (graft.functions.TextFunctions.hash60(keyStr) + lit(1L))
      .cast("double") / lit(1152921504606846976L).cast("double") // 2^60
    val v = u - lit(0.5)
    val a = greatest(lit(1.0) - lit(2.0) * abs(v),
      lit(1.0 / 1152921504606846976.0))
    val lnq = round(lit(1e6) * log(a)).cast("long") // micro-nats
    val sign = when(v < 0, lit(-1L)).otherwise(lit(1L))
    val noise = round(-sign.cast("double") * lnq.cast("double") /
      lit(1e6 * epsilon)).cast("long")
    df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("dp_count", greatest(lit(0L), col("__n") + noise))
      .drop("__n")
  }

  /** l-diversity census — k-anonymity's necessary complement: a class
    * of 50 identical rows is 50-anonymous yet leaks its sensitive
    * value outright if all 50 share it. Per quasi-identifier
    * equivalence class: size n, DISTINCT-l (how many sensitive
    * values), and entropy-l's exponent in integer micro-nats
    * (H = ln n − (Σ c·ln c)/n over the class's sensitive-value
    * counts; distinct-l is gameable by one rare value, entropy-l is
    * not). Quantization follows the charEntropy convention: ln only
    * ever sees an integer count, each term rounds to micro-nats, the
    * sums are integer, ONE final divide. NULL sensitive values are a
    * real category (coalesced to the census sentinel). Scale: two
    * hash-aggs, nothing else. Output: (quasi…, n, l_distinct,
    * entropy_mnat). */
  def lDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    val q = quasiCols.map(col)
    val v = coalesce(col(sensitiveCol).cast("string"), lit(" NULL"))
    val cells = df.select(q :+ v.as("__v"): _*)
      .groupBy(q :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    cells.groupBy(q: _*)
      .agg(sum(col("__c")).as("n"),
        count(lit(1)).as("l_distinct"),
        sum(col("__c") *
          round(lit(1e6) * log(col("__c").cast("double"))).cast("long"))
          .as("__sclnc"))
      .select(q ++ Seq(col("n"), col("l_distinct"),
        (round(lit(1e6) * log(col("n").cast("double"))).cast("long") -
          round(col("__sclnc").cast("double") / col("n").cast("double"))
            .cast("long")).as("entropy_mnat")): _*)
  }

  /** t-closeness census (categorical sensitive attribute, variational
    * distance): per equivalence class, t = ½·Σ_v |p_class(v) −
    * p_global(v)| against the WHOLE table's sensitive distribution —
    * the "your class's diagnosis mix must not stand out from the
    * population's" requirement that l-diversity alone misses.
    * Integer-exact: t = (Σ_{v∈class} |c_v·N − g_v·n| + n·(N −
    * Σ_{v∈class} g_v)) / (2·n·N) — the absent-value tail folds into
    * ONE complement term, so a class never joins the full value
    * domain; products ride DECIMAL(38,0) and the single divide
    * micro-rounds. The global distribution attaches by broadcast
    * (value-domain sized) and the 1-row total by broadcast scalar
    * attach. Output: (quasi…, n, t_micro). */
  def tCloseness(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    val q = quasiCols.map(col)
    val v = coalesce(col(sensitiveCol).cast("string"), lit(" NULL"))
    val base = Dedup.truncate(df.select(q :+ v.as("__v"): _*))
    val global = Dedup.truncate(
      base.groupBy(col("__v")).agg(count(lit(1)).as("__g")))
    val tot = global.agg(sum(col("__g")).as("__N"))
    val dec = "decimal(38,0)"
    val cells = base.groupBy(q :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val classTot = cells.groupBy(q: _*).agg(sum(col("__c")).as("n"))
    cells.join(classTot, quasiCols)
      .join(broadcast(global), Seq("__v"))
      .crossJoin(broadcast(tot))
      .groupBy(q ++ Seq(col("n"), col("__N")): _*)
      .agg(sum(abs(col("__c").cast(dec) * col("__N") -
          col("__g").cast(dec) * col("n"))).as("__present"),
        sum(col("__g")).as("__gpresent"))
      .select(q ++ Seq(col("n"),
        round(lit(1e6) *
          (col("__present") + col("n").cast(dec) *
            (col("__N") - col("__gpresent"))).cast("double") /
          (lit(2.0) * col("n").cast("double") *
            col("__N").cast("double"))).cast("long").as("t_micro")): _*)
  }

  /** Randomized-response debiasing (Warner 1965, the RAPPOR
    * primitive) — recover the TRUE positive rate from bits that were
    * privatized by flipping each with a KNOWN probability p < 1/2:
    * E[observed] = π(1−p) + (1−π)p, so π̂ = (q − p)/(1 − 2p) with
    * q the observed rate, and the Wald interval scales by the same
    * 1/(1−2p) (privacy costs precision, visibly). The census is two
    * exact integers per group; π̂ and the CI bounds are the only
    * floats, micro-rounded (π̂ may honestly leave [0,1] on small
    * groups — reported raw, not clamped: a clamped estimator hides
    * the noise floor the CI exists to show).
    * Output: (groupCol, n, n_pos, pi_micro, ci_lo_micro,
    * ci_hi_micro). */
  def randomizedResponse(
      df: DataFrame,
      groupCol: String,
      obsCol: String,
      flipProb: Double): DataFrame = {
    require(flipProb >= 0 && flipProb < 0.5,
      "flipProb must be in [0, 0.5)")
    val d = 1.0 - 2.0 * flipProb
    val agg = df.filter(col(obsCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(obsCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_pos"))
    val q = col("n_pos").cast("double") / col("n").cast("double")
    val pi = (q - lit(flipProb)) / lit(d)
    val se = sqrt(q * (lit(1.0) - q) / col("n").cast("double")) /
      lit(d)
    agg.select(col("__g").as(groupCol), col("n"), col("n_pos"),
      round(lit(1e6) * pi).cast("long").as("pi_micro"),
      round(lit(1e6) * (pi - lit(1.96) * se)).cast("long")
        .as("ci_lo_micro"),
      round(lit(1e6) * (pi + lit(1.96) * se)).cast("long")
        .as("ci_hi_micro"))
  }
}
