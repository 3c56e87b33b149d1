package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketches for 100 TB-scale distinct counting and quantile
  * tracking.
  *
  * A HyperLogLog-shaped estimator decomposed into TWO ordinary hash
  * aggregations — (group, bucket) → max(rank), then group → harmonic
  * sum — so it needs no custom Aggregator, parallelizes exactly like
  * any groupBy (map-side partials on both levels), and its state is
  * `m` small integers per group regardless of input size.
  *
  * Unlike the built-in `approx_count_distinct` (whose HLL++ register
  * layout is engine-private), every step here is md5-derived and
  * engine-portable, so the DuckDB oracle reproduces the estimate
  * BIT-EXACTLY: the harmonic sum Σ 2^(-M_j) is carried as the exact
  * integer Σ 2^(MaxRank - M_j), and the only floating-point op is one
  * final divide of two exactly-representable values.
  */
object Sketches {

  /** Number of registers (2^6). Standard error ≈ 1.04/√m ≈ 13%. */
  val M = 64

  /** Ranks are capped by the 54 bits left after the bucket index is
    * taken from the 60-bit hash; rank ∈ [1, MaxRank]. */
  val MaxRank = 55

  /** α_m · m² · 2^MaxRank — the whole estimator numerator folded into
    * one double literal (computed once driver-side, embedded
    * identically in the oracle SQL). */
  val EstimatorNumerator: Double =
    0.7213 / (1.0 + 1.079 / M) * M * M * math.pow(2.0, MaxRank)

  /** Distinct-count estimate of `key` per `groupCols`: two shuffles,
    * both on small keys, constant state per group. Output columns:
    * groupCols*, `n_buckets`, `harmonic_q55` (exact integer
    * Σ 2^(MaxRank−M_j) including absent registers), `estimate`.
    *
    * All divisions on the 60-bit hash are INTEGER div — routing them
    * through `/` (double) would round above 2^53 and corrupt buckets.
    */
  def hllDistinct(df: DataFrame, key: Column, groupCols: Seq[String]): DataFrame =
    hllEstimate(hllRegisters(df, key, groupCols), groupCols)

  /** The sketch STATE: per (group, bucket j) the max rank M_j — `m`
    * small rows per group, mergeable by plain MAX. Registers built
    * from any split of the data and max-merged equal the registers of
    * one pass over the whole — the property that makes the sketch a
    * streaming/MV state ([[graft.streaming.Rollup.hllDistinctSink]])
    * and lets pre-aggregated register tables union across days,
    * sources, or clusters without touching raw data. */
  def hllRegisters(df: DataFrame, key: Column, groupCols: Seq[String])
      : DataFrame = {
    val h = graft.functions.TextFunctions.hash60(key)
    df.select(groupCols.map(col) :+ h.as("_h"): _*)
      .withColumn("j", pmod(col("_h"), lit(M.toLong)))
      .withColumn("_w", expr(s"_h div $M"))
      .withColumn("r", when(col("_w") === 0, lit(MaxRank))
        .otherwise(lit(MaxRank) - length(bin(col("_w")))))
      .groupBy(groupCols.map(col) :+ col("j"): _*)
      .agg(max(col("r")).as("mj"))
  }

  /** Linear-counting small-range table: lc(V) = round(M·ln(M/V)) for
    * V = 1..M zero registers — the Flajolet small-cardinality
    * correction (the raw harmonic estimator reads ~0.7·M for a
    * singleton set). Driver-computed ONCE so Spark expressions and
    * oracle twins embed the identical integer literals — no runtime
    * libm on either engine, no 1-ulp ln drift at a rounding
    * boundary. */
  lazy val hllLinearCountTable: Seq[Long] =
    (1 to M).map(v => math.round(M * math.log(M.toDouble / v)))

  /** Fold a [[hllRegisters]] table into per-group estimates (exact
    * integer harmonic sum, one final divide). */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String]): DataFrame =
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $MaxRank - mj)")).as("_hsum"))
      // Absent registers have M_j = 0 and contribute 2^MaxRank each.
      .withColumn("harmonic_q55",
        col("_hsum") + (lit(M.toLong) - col("n_buckets")) * lit(1L << MaxRank))
      .withColumn("estimate",
        lit(EstimatorNumerator) / col("harmonic_q55").cast("double"))
      .drop("_hsum")

  // ------------------------------------------------------------------
  // Log-linear histogram quantile sketch (HdrHistogram-shaped).
  //
  // The mergeable-quantile twin of the HLL pair above: the STATE is a
  // plain (group, bucket) → count table — mergeable by SUM, built by
  // one ordinary hash-agg — and the ESTIMATE is a fold over the
  // sketch-sized state. Buckets are integer-only (no ln, no floating
  // boundary), so state and estimates are bit-identical in any engine:
  // values in [0, 16) get exact buckets; values ≥ 16 split each binade
  // [2^e, 2^(e+1)) into 8 equal integer sub-buckets, so a quantile
  // estimate (the bucket's lower bound, always ≤ the true value) has
  // relative error ≤ 1/8. State is ≤ 16 + 8·59 ≈ 488 rows per group
  // REGARDLESS of input size — the property that makes it a streaming
  // MV state ([[graft.streaming.Rollup.quantileSink]]), where the
  // exact [[Ranking.groupQuantiles]] (a rank over all history) cannot
  // be incrementally maintained.
  // ------------------------------------------------------------------

  /** Bucket index (int ∈ [0, ~488)) of a non-negative long value.
    * Negative values raise — a silent clamp would corrupt the
    * distribution unnoticed. */
  def lhBucketIdx(v: Column): Column = {
    val e = (length(bin(v)) - 1).cast("int")
    val sub = (call_function("shiftright", v, e - lit(3)) - 8L).cast("int")
    when(v < 0L, raise_error(concat(
        lit("lhBuckets: negative value "), v.cast("string"))))
      .when(v < 16L, v.cast("int"))
      .otherwise(lit(16) + (e - lit(4)) * lit(8) + sub)
  }

  /** Lower bound of bucket `idx` — the deterministic representative a
    * quantile estimate returns (always ≤ the true quantile, within
    * 12.5% relative). */
  def lhBucketLo(idx: Column): Column = {
    val eMinus3 = ((idx - lit(16)) / lit(8)).cast("int") + lit(1)
    val sub = pmod(idx - lit(16), lit(8))
    when(idx < 16, idx.cast("long"))
      .otherwise(call_function("shiftleft", (lit(8) + sub).cast("long"),
        eMinus3))
  }

  /** Inclusive upper bound of bucket `idx` — the bar to use when
    * GATING on a sketch quantile: everything the sketch cannot
    * distinguish from the quantile value passes together (a
    * lower-bound bar would reject the very value that defined the
    * quantile). The TOP bucket (idx 487, values ≥ 15·2^59) has no
    * successor — lhBucketLo(488) would shift past the sign bit and
    * the `- 1` would overflow under ANSI — so its bound is
    * Long.MaxValue outright. */
  def lhBucketHi(idx: Column): Column =
    when(idx >= 487, lit(Long.MaxValue))
      .otherwise(lhBucketLo(idx + lit(1)) - lit(1L))

  /** The sketch STATE: per (group, bucket) the value count — one
    * map-side-combinable hash-agg, ≤ ~488 rows per group. States from
    * any split of the data sum-merge into the state of one pass over
    * the whole (spec-verified), so pre-bucketed tables union across
    * days/sources/batches without re-reading raw data. NULL values are
    * excluded (the SQL percentile stance, as [[Ranking
    * .groupQuantiles]]). */
  def lhBuckets(df: DataFrame, value: Column, groupCols: Seq[String])
      : DataFrame =
    df.filter(value.isNotNull)
      .select(groupCols.map(col) :+ lhBucketIdx(value).as("idx"): _*)
      .groupBy(groupCols.map(col) :+ col("idx"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Fold a [[lhBuckets]] state into per-group quantile estimates: for
    * each q, the lower bound of the first bucket whose cumulative
    * count reaches ⌈q·n⌉ — the sketch analogue of [[Ranking
    * .groupQuantiles]]' type-1 selection, integer-exact end to end.
    *
    * The window here runs over SKETCH rows (≤ ~488 per group), not
    * data rows — bounded state, same class as [[hllEstimate]]'s fold.
    * Output: (group*, q, n, value). */
  def lhQuantiles(state: DataFrame, groupCols: Seq[String], qs: Seq[Double])
      : DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "qs must be in (0, 1]")
    val gs = groupCols.map(col)
    val w = Window.partitionBy(gs: _*).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = state.withColumn("__cum", sum(col("cnt")).over(w))
    val targets = state.groupBy(gs: _*).agg(sum(col("cnt")).as("__n"))
      .select(groupCols.map(c => col(c).as(s"__t_$c")) :+
        explode(array(qs.map(lit): _*)).as("q") :+ col("__n"): _*)
      .withColumn("__target", ceil(col("q") * col("__n")).cast("long"))
    // Empty groupCols = one global sketch: the 1-row target table
    // attaches to every bucket row (both sides are sketch-sized).
    val cond = groupCols.map(c => col(c) <=> col(s"__t_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    cum.join(broadcast(targets), cond)
      .filter(col("__cum") >= col("__target"))
      .groupBy(gs :+ col("q"): _*)
      .agg(max(col("__n")).as("n"), min(lhBucketLo(col("idx"))).as("value"))
  }

  /** One-call quantile estimate: bucket then fold. */
  def lhQuantileEstimate(
      df: DataFrame,
      value: Column,
      groupCols: Seq[String],
      qs: Seq[Double]): DataFrame =
    lhQuantiles(lhBuckets(df, value, groupCols), groupCols, qs)

  /** The oracle twin of [[lhQuantileEstimate]], kept NEXT to the Spark
    * plan so the two can never drift. `valueSql` must be a BIGINT
    * expression; NULLs are excluded as on the Spark side. */
  def lhQuantilesSql(
      table: String,
      valueSql: String,
      groupCols: Seq[String],
      qs: Seq[Double]): String = {
    val g = groupCols.mkString(", ")
    val qList = qs.mkString(", ")
    s"""WITH vals AS (
       |  SELECT $g, $valueSql AS v FROM $table),
       |bk AS (
       |  SELECT $g,
       |    CASE WHEN v < 16 THEN CAST(v AS INT)
       |         ELSE CAST(16 + (length(bin(v)) - 5) * 8
       |              + ((v >> (length(bin(v)) - 4)) - 8) AS INT) END AS idx
       |  FROM vals WHERE v IS NOT NULL),
       |st AS (SELECT $g, idx, count(*) AS cnt FROM bk GROUP BY $g, idx),
       |cu AS (
       |  SELECT $g, idx, cnt,
       |    sum(cnt) OVER (PARTITION BY $g ORDER BY idx
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(cnt) OVER (PARTITION BY $g) AS n
       |  FROM st)
       |SELECT $g, q.q AS q, CAST(max(n) AS BIGINT) AS n,
       |  CAST(min(CASE WHEN idx < 16 THEN CAST(idx AS BIGINT)
       |    ELSE CAST(8 + (idx - 16) % 8 AS BIGINT)
       |      << ((idx - 16) // 8 + 1) END)
       |    AS BIGINT) AS value
       |FROM cu, (SELECT CAST(unnest([$qList]) AS DOUBLE) AS q) q
       |WHERE cum >= CAST(ceil(q.q * n) AS BIGINT)
       |GROUP BY $g, q.q""".stripMargin
  }

  // ------------------------------------------------------------------
  // Count-min frequency sketch.
  //
  // Completes the mergeable-sketch family (HLL = how many distinct,
  // log-histogram = how distributed, count-min = how often): the state
  // is (group, row j, bucket) → count — `depth × width` small rows per
  // group regardless of key cardinality, built by one hash-agg,
  // mergeable by SUM — and a point estimate is min over the j rows of
  // the counters the key hashes into (Cormode & Muthukrishnan 2005).
  // Estimates only ever OVER-count (collisions add, never subtract),
  // by ≤ 2·n/width with probability 1 − 2^−depth. All hashing is
  // md5-derived, so state and estimates are bit-identical in DuckDB.
  // ------------------------------------------------------------------

  /** Counter rows per hash function. 2^−4 failure odds per estimate. */
  val CmDepth = 4

  /** Buckets per row: over-count ≤ 2·total/width w.h.p. */
  val CmWidth = 1024

  /** The sketch STATE: per (group, j, bucket) the number of key
    * OCCURRENCES hashing there — `CmDepth` rows per input row into a
    * map-side-combinable hash-agg on a (depth×width)-bounded key
    * domain. Sum-merge states across any split of the data (batches,
    * days, sources) and the merged state equals one pass over the
    * whole. Pass `weight` when rows are PRE-AGGREGATED (key, count)
    * pairs (counting weighted distinct keys = counting occurrences,
    * at vocabulary cost instead of corpus cost). NULL keys are
    * dropped: concat_ws would silently alias them with the empty
    * string, and the SQL twin's md5(NULL) drops them too. */
  def cmRegisters(df: DataFrame, key: Column, groupCols: Seq[String],
      weight: Column = lit(1L)): DataFrame =
    df.filter(key.isNotNull)
      .select(groupCols.map(col) ++ Seq(key.as("__k"), weight.as("__w")): _*)
      .select(groupCols.map(col) ++ Seq(col("__k"), col("__w")) :+
        explode(array((0 until CmDepth).map(j => lit(j)): _*)).as("__j"): _*)
      .withColumn("b", cmProbe(col("__k")))
      .withColumnRenamed("__j", "j")
      .groupBy(groupCols.map(col) ++ Seq(col("j"), col("b")): _*)
      .agg(sum(col("__w")).as("cnt"))

  /** The (row __j, bucket) layout a key hashes into: ONE definition
    * shared by the state build and the probe (and mirrored by
    * cmEstimateSql's `md5(j || k)`), so the three cannot drift.
    * Callers must have exploded `__j` in [0, CmDepth) first. */
  private def cmProbe(key: Column): Column =
    pmod(graft.functions.TextFunctions.hash60(
      concat_ws("", col("__j"), key)), lit(CmWidth.toLong)).cast("int")

  /** Point-estimate the occurrence count of every row of `keys`
    * (columns: groupCols ++ [keyCol]) from a [[cmRegisters]] state:
    * min over the `CmDepth` counters the key hashes into. A key the
    * state never saw estimates 0 (its buckets may be absent — LEFT
    * join, coalesce); NULL keys are dropped as in the state build.
    * Probe multiplicity survives: duplicate (group, key) rows each
    * get their (identical) estimate — the sketch math runs once per
    * DISTINCT key and joins back, so a weighted probe frame keeps its
    * weights. Output: keys' columns + `cm_est` (long). */
  def cmEstimate(
      state: DataFrame,
      keys: DataFrame,
      keyCol: String,
      groupCols: Seq[String]): DataFrame = {
    val rows = keys
      .filter(col(keyCol).isNotNull)
      .select(groupCols.map(col) :+ col(keyCol): _*)
    val probes = rows.distinct()
      .select(groupCols.map(col) :+ col(keyCol) :+
        explode(array((0 until CmDepth).map(j => lit(j)): _*)).as("__j"): _*)
      .withColumn("b", cmProbe(col(keyCol)))
      .withColumnRenamed("__j", "j")
    val verdicts = leftProbe(probes, state, groupCols, Seq("j", "b"))
      .groupBy(groupCols.map(col) :+ col(keyCol): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
    joinBack(rows, verdicts, groupCols :+ keyCol)
  }

  /** Equi-join `verdicts` back onto the probe `rows` NULL-SAFELY on
    * `on`: a NULL group value is a real group (the state build and
    * the verdict groupBy both saw it) and a plain equi-join would
    * silently drop its probe rows. */
  private def joinBack(
      rows: DataFrame,
      verdicts: DataFrame,
      on: Seq[String]): DataFrame = {
    val v = verdicts.select(verdicts.columns.map(c =>
      if (on.contains(c)) col(c).as(s"__v_$c") else col(c)): _*)
    rows.join(v, on.map(c => col(c) <=> col(s"__v_$c")).reduce(_ && _))
      .drop(on.map(c => s"__v_$c"): _*)
  }

  /** LEFT-join probe rows against sketch `state` NULL-SAFELY on the
    * group columns (plain equality on the non-null probe coordinates
    * `exactCols`): a NULL-group probe must hit the NULL-group state
    * registers, not silently estimate "never seen". */
  private def leftProbe(
      probes: DataFrame,
      state: DataFrame,
      groupCols: Seq[String],
      exactCols: Seq[String]): DataFrame = {
    val on = groupCols ++ exactCols
    val s = state.select(state.columns.map(c =>
      if (on.contains(c)) col(c).as(s"__s_$c") else col(c)): _*)
    val cond = (groupCols.map(c => col(c) <=> col(s"__s_$c")) ++
      exactCols.map(c => col(c) === col(s"__s_$c"))).reduce(_ && _)
    probes.join(s, cond, "left").drop(on.map(c => s"__s_$c"): _*)
  }

  /** The oracle twin of [[cmRegisters]] → [[cmEstimate]] as one
    * query, parameterized on the rows' source (`fromSql` must yield
    * groupCols ++ [k VARCHAR] occurrence rows) and the probe keys
    * (`keysSql` must yield groupCols ++ [k VARCHAR]; it may reference
    * the `occ` CTE). Kept NEXT to the Spark plan so the hash layout
    * (`md5(j || k)`, 60-bit, mod width) can never drift. */
  def cmEstimateSql(
      fromSql: String,
      keysSql: String,
      groupCols: Seq[String]): String = {
    val gSelC = groupCols.map(c => s"o.$c, ").mkString
    val gColsC = groupCols.map(c => s"$c, ").mkString
    val prGC = groupCols.map(c => s"pr.$c, ").mkString
    // Group matches are null-safe, mirroring leftProbe: a NULL-group
    // probe hits the NULL-group registers. j/b are never NULL.
    val joinOn = (groupCols.map(c => s"st.$c IS NOT DISTINCT FROM pr.$c") ++
      Seq("st.j = pr.j", "st.b = pr.b")).mkString(" AND ")
    val js = (0 until CmDepth).mkString(", ")
    // __rid tags each probe ROW so duplicate (group, key) probe rows
    // each keep their verdict — the twin of cmEstimate's multiplicity
    // contract. The tag is grouped on, then dropped.
    s"""WITH occ AS ($fromSql),
       |reg AS (
       |  SELECT ${gSelC}j.j AS j,
       |    CAST(CAST(('0x' || substr(md5(j.j || o.k), 1, 15)) AS BIGINT)
       |      % $CmWidth AS INT) AS b
       |  FROM occ o, (SELECT CAST(unnest([$js]) AS VARCHAR) AS j) j),
       |st AS (
       |  SELECT ${gColsC}j, b, count(*) AS cnt
       |  FROM reg GROUP BY ${gColsC}j, b),
       |keys AS (SELECT *, row_number() OVER () AS __rid FROM ($keysSql)),
       |pr AS (
       |  SELECT ${gSelC}o.__rid AS __rid, o.k AS k, j.j AS j,
       |    CAST(CAST(('0x' || substr(md5(j.j || o.k), 1, 15)) AS BIGINT)
       |      % $CmWidth AS INT) AS b
       |  FROM keys o, (SELECT CAST(unnest([$js]) AS VARCHAR) AS j) j)
       |SELECT ${gColsC}k, cm_est FROM (
       |  SELECT ${prGC}pr.__rid, pr.k AS k,
       |    CAST(min(coalesce(st.cnt, 0)) AS BIGINT) AS cm_est
       |  FROM pr LEFT JOIN st ON $joinOn
       |  GROUP BY ${prGC}pr.__rid, pr.k)""".stripMargin
  }

  // ------------------------------------------------------------------
  // Bloom membership filter.
  //
  // The fourth mergeable sketch (HLL = how many distinct, histogram =
  // how distributed, count-min = how often, Bloom = IS IT THERE): the
  // state is (group, word) → 64-bit OR-mask — `BloomWords` longs per
  // group (2^14 × 8 B = 128 KiB at the defaults) built by one
  // hash-agg, mergeable by BIT OR — and membership is "all
  // `BloomHashes` probed bits set". "Definitely absent" is exact;
  // "present" can be a false positive at the classic (1−e^−kn/m)^k
  // rate — with k = 3 probes and m = 63·2^14 ≈ 10^6 usable bits (the
  // sign bit of each word stays clear, see bloomProbe), that is
  // ≈0.25% at n = 50k keys. At 100 TB this is the PRE-JOIN pruning
  // idiom: broadcast the 128 KiB state and drop non-members at scan
  // speed, instead of shuffling a petabyte corpus into a semi join
  // against a key set — the exact join then runs on the few rows that
  // survive. md5-derived probes, so states and verdicts are
  // bit-identical in DuckDB.
  // ------------------------------------------------------------------

  /** 64-bit words per filter: m = 64·BloomWords bits. Kept a power of
    * two so the bit index is a shift (mirrored as `// BloomWords` in
    * the SQL twin — identical on the non-negative 60-bit hash). */
  val BloomWordsLog2 = 14
  val BloomWords: Int = 1 << BloomWordsLog2

  /** Probes per key. */
  val BloomHashes = 3

  private def bloomProbe(key: Column): (Column, Column) = {
    val h = graft.functions.TextFunctions.hash60(
      concat_ws("", col("__j"), key))
    val w = pmod(h, lit(BloomWords.toLong)).cast("int")
    // 63, not 64: DuckDB's `<<` raises on 1 << 63 (signed overflow)
    // where the JVM wraps — stay off the sign bit in BOTH engines.
    val bit = pmod(call_function("shiftright", h, lit(BloomWordsLog2)),
      lit(63L)).cast("int")
    (w, bit)
  }

  /** The filter STATE: per (group, word) the OR of the probed bit
    * masks — ≤ `BloomWords` rows per group however many keys went in.
    * OR-merge states across any split of the data and the merged
    * state equals one pass over the whole (spec-verified). NULL keys
    * are dropped (concat_ws would alias them with the empty string,
    * poisoning ""'s membership; the SQL twin's md5(NULL) drops them). */
  def bloomBits(df: DataFrame, key: Column, groupCols: Seq[String])
      : DataFrame = {
    val probed = df
      .filter(key.isNotNull)
      .select(groupCols.map(col) :+ key.as("__k"): _*)
      .select(groupCols.map(col) :+ col("__k") :+
        explode(array((0 until BloomHashes).map(j => lit(j)): _*))
          .as("__j"): _*)
    val (w, bit) = bloomProbe(col("__k"))
    probed
      .select(groupCols.map(col) :+ w.as("w") :+
        call_function("shiftleft", lit(1L), bit).as("m"): _*)
      .groupBy(groupCols.map(col) :+ col("w"): _*)
      .agg(expr("bit_or(m)").as("bits"))
  }

  /** Probe every row of `keys` (columns: groupCols ++ [keyCol])
    * against a [[bloomBits]] state: `might` is true iff all probed
    * bits are set — exact "no", ≥99.9%-right "yes" at the defaults.
    * Probe multiplicity survives: duplicate (group, key) rows each
    * get their (identical) verdict — the bit test runs once per
    * DISTINCT key and joins back. NULL keys are dropped as in the
    * state build. Output: keys' columns + `might` (boolean). */
  def bloomMightContain(
      state: DataFrame,
      keys: DataFrame,
      keyCol: String,
      groupCols: Seq[String]): DataFrame = {
    val rows = keys
      .filter(col(keyCol).isNotNull)
      .select(groupCols.map(col) :+ col(keyCol): _*)
    val probed = rows.distinct()
      .select(groupCols.map(col) :+ col(keyCol) :+
        explode(array((0 until BloomHashes).map(j => lit(j)): _*))
          .as("__j"): _*)
    val (w, bit) = bloomProbe(col(keyCol))
    val probes = probed.select(groupCols.map(col) :+ col(keyCol) :+
      w.as("w") :+ call_function("shiftleft", lit(1L), bit).as("m"): _*)
    val verdicts = leftProbe(probes, state, groupCols, Seq("w"))
      .withColumn("__hit",
        coalesce(col("bits").bitwiseAND(col("m")) =!= 0L, lit(false)))
      .groupBy(groupCols.map(col) :+ col(keyCol): _*)
      .agg((min(col("__hit").cast("int")) === 1).as("might"))
    joinBack(rows, verdicts, groupCols :+ keyCol)
  }

  /** Keep only the rows of `df` whose key MIGHT be in the filter —
    * the broadcast pre-join prune. Exact-semantics callers run the
    * real (anti/semi) join on what survives; rows dropped here are
    * GUARANTEED non-members. */
  def bloomPrefilter(
      df: DataFrame,
      state: DataFrame,
      keyCol: String,
      groupCols: Seq[String]): DataFrame =
    df.join(
      broadcast(bloomMightContain(state,
        df.select((groupCols :+ keyCol).map(col): _*).distinct(),
        keyCol, groupCols)
        .filter(col("might")).drop("might")),
      groupCols :+ keyCol, "left_semi")

  /** The oracle twin of [[bloomBits]] → [[bloomMightContain]] as one
    * query: `fromSql` yields groupCols ++ [k VARCHAR] member rows,
    * `keysSql` groupCols ++ [k VARCHAR] probe rows (may reference
    * `occ`). */
  def bloomSql(
      fromSql: String,
      keysSql: String,
      groupCols: Seq[String]): String = {
    val gSelC = groupCols.map(c => s"o.$c, ").mkString
    val gColsC = groupCols.map(c => s"$c, ").mkString
    val prGC = groupCols.map(c => s"pr.$c, ").mkString
    // Null-safe group match + per-row __rid tag: see cmEstimateSql.
    val joinOn = (groupCols.map(c => s"st.$c IS NOT DISTINCT FROM pr.$c") ++
      Seq("st.w = pr.w")).mkString(" AND ")
    val js = (0 until BloomHashes).mkString(", ")
    s"""WITH occ AS ($fromSql),
       |mem AS (
       |  SELECT ${gSelC}
       |    CAST(CAST(('0x' || substr(md5(j.j || o.k), 1, 15)) AS BIGINT)
       |      % $BloomWords AS INT) AS w,
       |    (CAST(1 AS BIGINT) <<
       |      (CAST(('0x' || substr(md5(j.j || o.k), 1, 15)) AS BIGINT)
       |        // $BloomWords % 63)) AS m
       |  FROM occ o, (SELECT CAST(unnest([$js]) AS VARCHAR) AS j) j),
       |st AS (SELECT ${gColsC}w, bit_or(m) AS bits
       |       FROM mem GROUP BY ${gColsC}w),
       |keys AS (SELECT *, row_number() OVER () AS __rid FROM ($keysSql)),
       |pr AS (
       |  SELECT ${gSelC}o.__rid AS __rid, o.k AS k,
       |    CAST(CAST(('0x' || substr(md5(j.j || o.k), 1, 15)) AS BIGINT)
       |      % $BloomWords AS INT) AS w,
       |    (CAST(1 AS BIGINT) <<
       |      (CAST(('0x' || substr(md5(j.j || o.k), 1, 15)) AS BIGINT)
       |        // $BloomWords % 63)) AS m
       |  FROM keys o, (SELECT CAST(unnest([$js]) AS VARCHAR) AS j) j)
       |SELECT ${gColsC}k, might FROM (
       |  SELECT ${prGC}pr.__rid, pr.k AS k,
       |    (min(CASE WHEN coalesce(st.bits & pr.m, 0) <> 0
       |         THEN 1 ELSE 0 END) = 1) AS might
       |  FROM pr LEFT JOIN st ON $joinOn
       |  GROUP BY ${prGC}pr.__rid, pr.k)""".stripMargin
  }

  /** Sketch set algebra: pairwise distinct-overlap estimates between
    * groups, computed ENTIRELY from a [[hllRegisters]] table — union
    * cardinality from the max-merged registers (exact HLL union),
    * intersection by inclusion–exclusion (est_a + est_b − est_union).
    * This is the cross-corpus overlap dashboard at 100 TB: once each
    * source's registers exist (64 small rows, maintainable by
    * [[graft.streaming.Rollup.hllDistinctSink]]), every pairwise
    * overlap is a join of register TABLES — the raw data is never
    * re-read, where the exact q93 matrix re-shuffles the corpus.
    * Inclusion–exclusion inherits both estimates' error, so small
    * true overlaps can estimate negative — reported as-is (callers
    * clamp if they want); every arithmetic step is exact-int harmonic
    * sums and IEEE divides, bit-equal in DuckDB.
    *
    * Output: (a, b, est_a, est_b, est_union, est_intersection) for
    * every unordered group pair a < b. */
  def hllOverlapEstimate(registers: DataFrame, groupCol: String)
      : DataFrame = {
    val est = hllEstimate(registers, Seq(groupCol))
    // Registers are SPARSE (only buckets that saw a key have rows), so
    // the union is NOT an inner join on j — a bucket present in A only
    // still carries its rank into A∪B. Enumerate pairs, attach each
    // side's rows by its own EQUI-join (an OR-join would execute as a
    // nested loop over pairs × registers), and max per (pair, bucket).
    val groups = registers.select(col(groupCol)).distinct()
    val pairs = groups.select(col(groupCol).as("a"))
      .crossJoin(groups.select(col(groupCol).as("b")))
      .filter(col("a") < col("b"))
    val regs = registers.select(col(groupCol).as("__g"), col("j"),
      col("mj"))
    val pooled = pairs.join(regs, col("__g") === col("a"))
      .unionByName(pairs.join(regs, col("__g") === col("b")))
      .groupBy(col("a"), col("b"), col("j")).agg(max(col("mj")).as("mj"))
    val unionEst = hllEstimate(pooled, Seq("a", "b"))
      .select(col("a"), col("b"), col("estimate").as("est_union"))
    unionEst
      .join(est.select(col(groupCol).as("a"), col("estimate").as("est_a")),
        Seq("a"))
      .join(est.select(col(groupCol).as("b"), col("estimate").as("est_b")),
        Seq("b"))
      .select(col("a"), col("b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersection"))
  }

  /** The oracle twin of [[hllOverlapEstimate]] over [[hllDistinctSql]]
    * -style inputs: `table`/`keySql` as there, one `groupCol`. */
  def hllOverlapSql(table: String, keySql: String, groupCol: String)
      : String = {
    s"""WITH hashed AS (
       |  SELECT $groupCol AS g,
       |         CAST(('0x' || substr(md5($keySql), 1, 15)) AS BIGINT) AS h
       |  FROM $table),
       |br AS (
       |  SELECT g, h % $M AS j,
       |         CASE WHEN h // $M = 0 THEN $MaxRank
       |              ELSE $MaxRank - length(bin(h // $M)) END AS r
       |  FROM hashed),
       |regs AS (SELECT g, j, max(r) AS mj FROM br GROUP BY g, j),
       |est AS (
       |  SELECT g, $EstimatorNumerator / CAST(
       |      CAST(sum(CAST(1 AS BIGINT) << ($MaxRank - mj)) AS BIGINT)
       |      + ($M - count(*)) * (CAST(1 AS BIGINT) << $MaxRank)
       |    AS DOUBLE) AS estimate
       |  FROM regs GROUP BY g),
       |pairs AS (
       |  SELECT ga.g AS a, gb.g AS b
       |  FROM (SELECT DISTINCT g FROM regs) ga,
       |       (SELECT DISTINCT g FROM regs) gb
       |  WHERE ga.g < gb.g),
       |pooled AS (
       |  SELECT p.a, p.b, r.j, max(r.mj) AS mj
       |  FROM pairs p JOIN regs r ON r.g = p.a OR r.g = p.b
       |  GROUP BY p.a, p.b, r.j),
       |uni AS (
       |  SELECT a, b,
       |    $EstimatorNumerator / CAST(
       |      CAST(sum(CAST(1 AS BIGINT) << ($MaxRank - mj)) AS BIGINT)
       |      + ($M - count(*)) * (CAST(1 AS BIGINT) << $MaxRank)
       |    AS DOUBLE) AS est_union
       |  FROM pooled GROUP BY a, b)
       |SELECT u.a, u.b, ea.estimate AS est_a, eb.estimate AS est_b,
       |  u.est_union,
       |  ea.estimate + eb.estimate - u.est_union AS est_intersection
       |FROM uni u
       |JOIN est ea ON ea.g = u.a
       |JOIN est eb ON eb.g = u.b""".stripMargin
  }

  /** The oracle twin of [[hllDistinct]], parameterized on the source
    * table and key SQL — kept NEXT to the Spark plan so the two can
    * never drift silently. `keySql` must be a VARCHAR expression. */
  def hllDistinctSql(table: String, keySql: String, groupCols: Seq[String]): String = {
    val g = groupCols.mkString(", ")
    s"""WITH hashed AS (
       |  SELECT $g,
       |         CAST(('0x' || substr(md5($keySql), 1, 15)) AS BIGINT) AS h
       |  FROM $table),
       |br AS (
       |  SELECT $g, h % $M AS j,
       |         CASE WHEN h // $M = 0 THEN $MaxRank
       |              ELSE $MaxRank - length(bin(h // $M)) END AS r
       |  FROM hashed),
       |regs AS (SELECT $g, j, max(r) AS mj FROM br GROUP BY $g, j),
       |agg AS (
       |  SELECT $g, count(*) AS n_buckets,
       |         CAST(sum(CAST(1 AS BIGINT) << ($MaxRank - mj)) AS BIGINT) AS hsum
       |  FROM regs GROUP BY $g)
       |SELECT $g, CAST(n_buckets AS BIGINT) AS n_buckets,
       |       CAST(hsum + ($M - n_buckets) * (CAST(1 AS BIGINT) << $MaxRank) AS BIGINT) AS harmonic_q55,
       |       $EstimatorNumerator / CAST(hsum + ($M - n_buckets) * (CAST(1 AS BIGINT) << $MaxRank) AS DOUBLE) AS estimate
       |FROM agg""".stripMargin
  }

  // ------------------------------------------------------------------
  // KMV (k-minimum-values) distinct sketch.
  //
  // The set-operation twin of the HLL pair above: the STATE is the k
  // SMALLEST distinct hash60 values per group — mergeable by "union,
  // re-take k smallest" (a bounded-heap aggregate), which HLL
  // registers cannot give you: because KMV keeps actual hash SAMPLES,
  // two groups' sketches support an INTERSECTION estimate (Beyer et
  // al. 2007): of the k smallest union hashes, the fraction present
  // in both sketches, scaled by the union estimate. Estimates are
  // (k−1)·2^60/h_k — one scalar divide off exact integers; a group
  // whose sketch never filled is EXACT (its sketch IS its distinct
  // hash set).
  // ------------------------------------------------------------------

  /** 2^60 — the hash60 space width, embedded identically in oracles. */
  val KmvSpace: Double = math.pow(2.0, 60)

  /** The KMV sketch size bound, checked by [[kmvSketch]] and by every
    * caller that must refuse a bad `k` before any Spark work starts
    * (a streaming sink would otherwise fail on its first batch). */
  private[graft] def requireKmvK(k: Int): Unit =
    require(k >= 2 && k <= 65536, "k must be in [2, 65536]")

  /** The sketch STATE: per group, the `k` smallest distinct hash60
    * values of `key` with ranks — built by one distinct + one
    * bounded-heap aggregate ([[Ranking.groupTopK]]), O(k) state per
    * group, mergeable by union + re-truncate.
    * Output: (groupCols*, rank, h). */
  def kmvSketch(
      df: DataFrame,
      key: Column,
      groupCols: Seq[String],
      k: Int): DataFrame = {
    requireKmvK(k)
    val hashes = df
      .select(groupCols.map(col) :+
        graft.functions.TextFunctions.hash60(key).as("h"): _*)
      .distinct()
    Ranking.groupTopK(hashes, groupCols, Seq(col("h").as("h")), k)
  }

  /** Fold a [[kmvSketch]] into per-group distinct estimates: exact
    * n_kept when the sketch never filled, else (k−1)·2^60/h_k.
    * Output: (groupCols*, n_kept, kth, estimate). */
  def kmvEstimate(
      state: DataFrame,
      groupCols: Seq[String],
      k: Int): DataFrame =
    state.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"))
      .select(groupCols.map(col) ++ Seq(col("n_kept"), col("kth"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble * KmvSpace) /
            col("kth").cast("double")).as("estimate")): _*)

  /** Pairwise set-overlap estimates between groups from one
    * [[kmvSketch]]: for each group pair (a < b), merge the two
    * sketches (union, k smallest), count how many survivors sit in
    * BOTH, and scale the union estimate by that fraction.
    *
    * Scale: the pair table is GROUP² — a bounded census by intent
    * (groups are sources/shards/days, the q117 HLL-overlap
    * precedent), never a data-sized join; each pair touches ≤ 2k
    * sketch rows through one equi-join + one bounded-heap aggregate.
    * When the merged sketch never filled, union AND intersection are
    * exact hash-set counts.
    * Output: (group_a, group_b, n_kept, n_both, est_union,
    * est_intersect). */
  def kmvIntersectPairs(
      df: DataFrame,
      key: Column,
      groupCol: String,
      k: Int): DataFrame = {
    val st = Dedup.truncate(kmvSketch(df, key, Seq(groupCol), k)
      .select(col(groupCol).as("__g"), col("h")))
    val gs = st.select(col("__g")).distinct()
    val gp = gs.select(col("__g").as("__ga"))
      .crossJoin(gs.select(col("__g").as("__gb")))
      .filter(col("__ga") < col("__gb"))
    val ua = gp.join(st, col("__ga") === col("__g"))
      .select(col("__ga"), col("__gb"), col("h"),
        lit(1L).as("__ia"), lit(0L).as("__ib"))
    val ub = gp.join(st, col("__gb") === col("__g"))
      .select(col("__ga"), col("__gb"), col("h"),
        lit(0L).as("__ia"), lit(1L).as("__ib"))
    val merged = ua.union(ub)
      .groupBy(col("__ga"), col("__gb"), col("h"))
      .agg(max(col("__ia")).as("__ia"), max(col("__ib")).as("__ib"))
    val top = Ranking.groupTopK(merged, Seq("__ga", "__gb"),
      Seq(col("h").as("h"), col("__ia").as("__ia"),
        col("__ib").as("__ib")), k)
    val agg = top.groupBy(col("__ga"), col("__gb"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("__kth"),
        sum(when(col("__ia") === 1L && col("__ib") === 1L, 1L)
          .otherwise(0L)).as("n_both"))
    val estUnion = when(col("n_kept") < k,
      col("n_kept").cast("double"))
      .otherwise(lit((k - 1).toDouble * KmvSpace) /
        col("__kth").cast("double"))
    agg.select(col("__ga").as("group_a"), col("__gb").as("group_b"),
      col("n_kept"), col("n_both"),
      estUnion.as("est_union"),
      (col("n_both").cast("double") / col("n_kept").cast("double") *
        estUnion).as("est_intersect"))
  }

  /** q320's oracle: the identical KMV pipeline in SQL — same md5
    * hash60, row_number ≤ k smallest, same exact-when-unfilled
    * branch and (k−1)·2^60/h_k literal. `fromSql` must yield
    * (g, w) rows. */
  def kmvDistinctSql(
      fromSql: String, groupOut: String, k: Int): String =
    s"""WITH hashed AS (
       |  SELECT DISTINCT g,
       |    CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
       |  FROM ($fromSql)),
       |rk AS (
       |  SELECT g, h,
       |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn
       |  FROM hashed),
       |st AS (SELECT g, h FROM rk WHERE rn <= $k),
       |agg AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS n_kept,
       |    CAST(max(h) AS BIGINT) AS kth
       |  FROM st GROUP BY 1)
       |SELECT g AS $groupOut, n_kept, kth,
       |  CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |    ELSE ${(k - 1).toDouble * KmvSpace} / CAST(kth AS DOUBLE)
       |  END AS estimate
       |FROM agg""".stripMargin

  /** q321's oracle: pairwise KMV merge in SQL — group pairs, union
    * with membership flags, k smallest, fraction-in-both scaling. */
  def kmvIntersectSql(fromSql: String, k: Int): String =
    s"""WITH hashed AS (
       |  SELECT DISTINCT g,
       |    CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
       |  FROM ($fromSql)),
       |rk AS (
       |  SELECT g, h,
       |    row_number() OVER (PARTITION BY g ORDER BY h) AS rn
       |  FROM hashed),
       |st AS (SELECT g, h FROM rk WHERE rn <= $k),
       |gs AS (SELECT DISTINCT g FROM st),
       |gp AS (SELECT a.g AS ga, b.g AS gb
       |  FROM gs a JOIN gs b ON a.g < b.g),
       |u AS (
       |  SELECT gp.ga, gp.gb, s.h,
       |    max(CASE WHEN s.g = gp.ga THEN 1 ELSE 0 END) AS ia,
       |    max(CASE WHEN s.g = gp.gb THEN 1 ELSE 0 END) AS ib
       |  FROM gp JOIN st s ON s.g = gp.ga OR s.g = gp.gb
       |  GROUP BY 1, 2, 3),
       |urk AS (
       |  SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h)
       |    AS rn
       |  FROM u),
       |top AS (SELECT * FROM urk WHERE rn <= $k),
       |agg AS (
       |  SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_kept,
       |    CAST(max(h) AS BIGINT) AS kth,
       |    CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_both
       |  FROM top GROUP BY 1, 2),
       |f AS (
       |  SELECT ga, gb, n_kept, n_both,
       |    CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |      ELSE ${(k - 1).toDouble * KmvSpace}
       |        / CAST(kth AS DOUBLE)
       |    END AS est_union
       |  FROM agg)
       |SELECT ga AS group_a, gb AS group_b, n_kept, n_both,
       |  est_union,
       |  CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE) * est_union
       |    AS est_intersect
       |FROM f""".stripMargin

  /** Pairwise Misra–Gries summary merge as plain DataFrame ops
    * (Agarwal et al. 2012's mergeable-summaries rule): sum counters
    * per item, subtract the (k+1)-th largest merged weight from
    * everyone, keep the strictly-positive survivors — ≤ k remain,
    * and the total undercount stays ≤ N/(k+1) however many
    * summaries merged, which is what makes a STREAMING heavy-hitters
    * view sound ([[graft.streaming.Rollup.mgSink]]).
    *
    * Input: keyCols + (item, wt), possibly several entries per item
    * (a union of summaries). The per-key window ranks at most the
    * union of two k-entry summaries (the sink's shape) or however
    * many the caller unions — bounded by summaries·k, never by the
    * stream. Ties at the cut: entries EQUAL to the (k+1)-th weight
    * drop to zero and out, deterministically (rank order wt DESC,
    * item ASC). Output: keyCols + (item, wt), wt > 0. */
  def mgMergeSummaries(
      summaries: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val g = keyCols.map(col)
    val summed = summaries
      .groupBy(g :+ col("item"): _*)
      .agg(sum(col("wt")).as("wt"))
    val w = Window.partitionBy(g: _*)
      .orderBy(col("wt").desc, col("item").asc)
    val ranked = summed.withColumn("__rn", row_number().over(w))
    val cut = ranked.filter(col("__rn") === k + 1)
      .select(g :+ col("wt").as("__d"): _*)
    ranked.join(cut, keyCols, "left")
      .select(g ++ Seq(col("item"),
        (col("wt") - coalesce(col("__d"), lit(0L))).as("wt")): _*)
      .filter(col("wt") > 0L)
  }

  /** AMS (Alon–Matias–Szegedy) F2 sketch per group — the second
    * frequency moment Σ f_x², i.e. the group's SELF-JOIN SIZE on the
    * key, estimated in ONE pass and 16 counters per group (the
    * join-size oracle a planner consults before committing a shuffle
    * strategy; the exact twin is a full (group, key) census). Each
    * row draws 16 ±1 signs from the BITS of one md5-derived 60-bit
    * hash (one digest per row — the hash48 affine-map economy);
    * Z_j = Σ signs is an exact integer per sketch, E[Z_j²] = F2.
    * The estimate is reported two ways: the plain mean of the 16
    * Z², and the classic median-of-means (4 buckets × 4, LOW median
    * — integer-exact, engine-agnostic). Bucket means are the only
    * rounding (unit, HALF_UP, deterministic). The exact F2 rides
    * along with both relative errors so the gate doubles as a
    * quality census of the sketch itself.
    * Output: (groupCol, f2, est_mean, est_mom, err_mean_micro,
    * err_mom_micro); f2/est_mean/est_mom accumulate in DECIMAL(38,0)
    * (F2 of a 100 TB hot group overflows a Long) but report as
    * canonical decimal STRINGS — gate outputs never carry DECIMAL. */
  def amsF2(df: DataFrame, groupCol: String, keyCol: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.filter(col(keyCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(keyCol).cast("string").as("__k"),
        graft.functions.TextFunctions.hash60(
          concat(lit("ams:"), col(keyCol).cast("string"))).as("__h"))
    val zAggs = (0 until 16).map { j =>
      sum((shiftright(col("__h"), j) % 2L) * 2L - 1L).as(s"__z$j")
    }
    val zs = base.groupBy(col("__g")).agg(zAggs.head, zAggs.tail: _*)
    def z2(j: Int) =
      (col(s"__z$j").cast(dec) * col(s"__z$j")).cast(dec)
    def bucketMean(b: Int) =
      round((0 until 4).map(i => z2(4 * b + i)).reduce(_ + _)
        .cast("double") / lit(4.0)).cast(dec)
    val est = zs.select(col("__g"),
      round((0 until 16).map(z2).reduce(_ + _).cast("double") /
        lit(16.0)).cast(dec).as("est_mean"),
      sort_array(array((0 until 4).map(bucketMean): _*))(1)
        .as("est_mom"))
    val exact = base.groupBy(col("__g"), col("__k"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__g"))
      .agg(sum((col("__c").cast(dec) * col("__c")).cast(dec)).as("f2"))
    def err(estCol: Column) =
      round(lit(1e6) * abs(estCol.cast("double") -
        col("f2").cast("double")) / col("f2").cast("double"))
        .cast("long")
    exact.join(est, Seq("__g"))
      .select(col("__g").as(groupCol),
        col("f2").cast("string").as("f2"),
        col("est_mean").cast("string").as("est_mean"),
        col("est_mom").cast("string").as("est_mom"),
        err(col("est_mean")).as("err_mean_micro"),
        err(col("est_mom")).as("err_mom_micro"))
  }
}
