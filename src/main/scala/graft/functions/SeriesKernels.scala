package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Native per-series pair-census kernels (r18 optimization round).
  *
  * The bounded-series statistics (Mann–Kendall, Theil–Sen) are
  * inherently quadratic per key but capped at maxN points — at most
  * maxN²/2 ≈ 131k pair terms per key. Expressing that census as a
  * DataFrame self-join materializes and SHUFFLES every pair row
  * (25M+ rows at sf0.1), then pays a second full range-exchange sort
  * for the slope median, and the join subtree is evaluated once per
  * consuming branch. Per guide §2.3/§2.4 the whole census fits in one
  * in-task loop over the collected series (≤ 512 longs, the bound the
  * operators already enforce via [[TopKAggregate]]): one bounded-heap
  * aggregation shuffle replaces the pair shuffle + window sort, and
  * the quadratic work runs as tight JVM loops inside codegen.
  *
  * Exactness: every float step replicates the Spark expression it
  * replaces — `round(double)` is java.math.BigDecimal.valueOf(x)
  * .setScale(0, HALF_UP) exactly as Spark's RoundBase evaluates it,
  * divisions keep the original operand order, and medians are order
  * statistics over sorted long arrays (value-deterministic under
  * slope ties, same as `row_number() == mid` over `ORDER BY slope`).
  * The DuckDB oracle SQL is untouched; check.py adjudicates equality.
  */
object SeriesKernels {

  /** Most pair terms one kernel call materializes (~80 MB of long[]):
    * the requires below fire BEFORE allocation pressure does. */
  val MaxPairs: Long = 10000000L

  /** Longest series whose n(n−1)/2 pair census fits [[MaxPairs]]
    * (4472): the `maxN` bound of the one-series operators. */
  val MaxSeriesN: Int = ((1 + math.sqrt(1 + 8.0 * MaxPairs)) / 2).toInt

  /** Longest arm whose n_a·n_b two-arm product fits [[MaxPairs]] when
    * both arms are full (3162): the `maxN` bound of the two-arm
    * operators. */
  val MaxArmN: Int = math.sqrt(MaxPairs.toDouble).toInt

  /** Spark's Round(double, 0) evaluation, bit-for-bit:
    * BigDecimal.valueOf (shortest-repr) → HALF_UP → toDouble, then
    * the long cast truncates the (already integral) double. */
  @inline private[graft] def roundHalfUp(x: Double): Long =
    scala.math.BigDecimal(x)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble.toLong

  /** `mannKendallStats(vs)`: the full MK pair census of one bounded
    * series (values in rank order, micro-quantized):
    * S = Σ_{i<j} sgn(v_j − v_i); tie18 = Σ_t t(t−1)(2t+5) over the
    * value multiplicities; sen = LOW median of the m = n(n−1)/2
    * pairwise slopes round((v_j − v_i)/(j − i)). NULL when n < 2
    * (no pair — such keys are absent from the operator's output). */
  case class MannKendallStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("s_stat", LongType, nullable = false),
      StructField("tie18", LongType, nullable = false),
      StructField("sen_micro", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "mann_kendall_stats"

    def compute(input: Any): Any = {
      val vs = input.asInstanceOf[ArrayData].toLongArray()
      val n = vs.length
      if (n < 2) return null
      val m = n.toLong * (n - 1) / 2
      // The operators bound n by maxN ≤ MaxSeriesN upstream; fail loud
      // rather than wrap the allocation if a caller ever unbounds it.
      require(m <= MaxPairs,
        s"mann_kendall_stats: series of $n points expands to $m pairs; " +
          "truncate with a smaller maxN")
      val slopes = new Array[Long](m.toInt)
      var s = 0L
      var w = 0
      var i = 0
      while (i < n) {
        val vi = vs(i)
        var j = i + 1
        while (j < n) {
          val d = vs(j) - vi
          s += java.lang.Long.signum(d)
          slopes(w) = roundHalfUp(d.toDouble / (j - i).toDouble)
          w += 1
          j += 1
        }
        i += 1
      }
      val sorted = vs.clone()
      java.util.Arrays.sort(sorted)
      var tie18 = 0L
      var a = 0
      while (a < n) {
        var b = a
        while (b + 1 < n && sorted(b + 1) == sorted(a)) b += 1
        val t = (b - a + 1).toLong
        tie18 += t * (t - 1L) * (2L * t + 5L)
        a = b + 1
      }
      java.util.Arrays.sort(slopes)
      val sen = slopes(((m + 1) / 2 - 1).toInt)
      InternalRow(s, tie18, sen, n.toLong)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("mkExpr", this,
        "graft.functions.SeriesKernels.MannKendallStats")
      val out = ctx.freshName("mkOut")
      nullSafeCodeGen(ctx, ev, c =>
        s"""Object $out = $ref.compute($c);
           |if ($out == null) { ${ev.isNull} = true; } else {
           |  ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $out;
           |}""".stripMargin)
    }

    override protected def withNewChildInternal(
        newChild: Expression): MannKendallStats = copy(child = newChild)
  }

  def mannKendallStats(vs: Column): Column =
    GraftSqlBridge.column(MannKendallStats(GraftSqlBridge.expression(vs)))

  /** `theilSenStats(xs, ys)`: Theil–Sen over one bounded series in
    * (id, x, y) order — slope = LOW median of
    * round(1e6·(y_j − y_i)/(x_j − x_i)) over i<j pairs with
    * x_i ≠ x_j; intercept = LOW median of the per-point residuals
    * y_i − round(slope·x_i/1e6). NULL when no x-distinct pair exists
    * (such groups are absent from the operator's output). */
  case class TheilSenStats(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("n_pairs", LongType, nullable = false),
      StructField("slope_micro", LongType, nullable = false),
      StructField("intercept_micro", LongType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "theil_sen_stats"

    def compute(l: Any, r: Any): Any = {
      val xs = l.asInstanceOf[ArrayData].toLongArray()
      val ys = r.asInstanceOf[ArrayData].toLongArray()
      val n = xs.length
      require(xs.length == ys.length,
        s"theil_sen_stats: xs/ys length mismatch (${xs.length} vs " +
          s"${ys.length})")
      require(n.toLong * (n - 1) / 2 <= MaxPairs,
        s"theil_sen_stats: series of $n points expands to " +
          s"${n.toLong * (n - 1) / 2} pairs; truncate with a smaller maxN")
      var np = 0
      val slopes = new Array[Long](n * (n - 1) / 2)
      var i = 0
      while (i < n) {
        val xi = xs(i)
        val yi = ys(i)
        var j = i + 1
        while (j < n) {
          if (xs(j) != xi) {
            slopes(np) = roundHalfUp(
              (1e6 * (ys(j) - yi).toDouble) / (xs(j) - xi).toDouble)
            np += 1
          }
          j += 1
        }
        i += 1
      }
      if (np == 0) return null
      java.util.Arrays.sort(slopes, 0, np)
      val slope = slopes((np + 1) / 2 - 1)
      val resid = new Array[Long](n)
      var k = 0
      while (k < n) {
        resid(k) = ys(k) - roundHalfUp(
          (slope.toDouble * xs(k).toDouble) / 1e6)
        k += 1
      }
      java.util.Arrays.sort(resid)
      val intercept = resid((n + 1) / 2 - 1)
      InternalRow(n.toLong, np.toLong, slope, intercept)
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tsExpr", this,
        "graft.functions.SeriesKernels.TheilSenStats")
      val out = ctx.freshName("tsOut")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""Object $out = $ref.compute($a, $b);
           |if ($out == null) { ${ev.isNull} = true; } else {
           |  ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $out;
           |}""".stripMargin)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): TheilSenStats =
      copy(left = newLeft, right = newRight)
  }

  def theilSenStats(xs: Column, ys: Column): Column =
    GraftSqlBridge.column(TheilSenStats(
      GraftSqlBridge.expression(xs), GraftSqlBridge.expression(ys)))

  /** `kendallTauStats(xs, ys)`: the τ-b pair census of one bounded
    * series — cd = Σ_{i<j} sgn(x_j − x_i)·sgn(y_j − y_i), plus the
    * per-column tie-pair counts Σ t(t−1)/2. All exact integers (no
    * float in the kernel; the micro divide stays in the DataFrame).
    * NULL when n < 2 (no pair — such groups are absent from the
    * operator's output). */
  case class KendallTauStats(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("cd", LongType, nullable = false),
      StructField("t1", LongType, nullable = false),
      StructField("t2", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "kendall_tau_stats"

    private def tiePairs(vs: Array[Long]): Long = {
      val sorted = vs.clone()
      java.util.Arrays.sort(sorted)
      var acc = 0L
      var a = 0
      val n = sorted.length
      while (a < n) {
        var b = a
        while (b + 1 < n && sorted(b + 1) == sorted(a)) b += 1
        val t = (b - a + 1).toLong
        acc += t * (t - 1L) / 2L
        a = b + 1
      }
      acc
    }

    def compute(l: Any, r: Any): Any = {
      val xs = l.asInstanceOf[ArrayData].toLongArray()
      val ys = r.asInstanceOf[ArrayData].toLongArray()
      val n = xs.length
      require(xs.length == ys.length,
        s"kendall_tau_stats: xs/ys length mismatch (${xs.length} vs " +
          s"${ys.length})")
      if (n < 2) return null
      var cd = 0L
      var i = 0
      while (i < n) {
        val xi = xs(i)
        val yi = ys(i)
        var j = i + 1
        while (j < n) {
          cd += java.lang.Long.signum(xs(j) - xi).toLong *
            java.lang.Long.signum(ys(j) - yi)
          j += 1
        }
        i += 1
      }
      InternalRow(cd, tiePairs(xs), tiePairs(ys), n.toLong)
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ktExpr", this,
        "graft.functions.SeriesKernels.KendallTauStats")
      val out = ctx.freshName("ktOut")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""Object $out = $ref.compute($a, $b);
           |if ($out == null) { ${ev.isNull} = true; } else {
           |  ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $out;
           |}""".stripMargin)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): KendallTauStats =
      copy(left = newLeft, right = newRight)
  }

  def kendallTauStats(xs: Column, ys: Column): Column =
    GraftSqlBridge.column(KendallTauStats(
      GraftSqlBridge.expression(xs), GraftSqlBridge.expression(ys)))

  /** `hodgesLehmannStats(va, vb)`: the two-arm pair census — m =
    * n_a·n_b differences a − b (exact micro longs), their LOW median
    * (HL shift), and the dominance counts #[d>0] / #[d<0] for
    * Cliff's δ. All exact integers; the δ divide stays in the
    * DataFrame. NULL when either arm is empty (group absent). */
  case class HodgesLehmannStats(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_a", LongType, nullable = false),
      StructField("n_b", LongType, nullable = false),
      StructField("m", LongType, nullable = false),
      StructField("gt", LongType, nullable = false),
      StructField("lt", LongType, nullable = false),
      StructField("hl_micro", LongType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "hodges_lehmann_stats"

    def compute(l: Any, r: Any): Any = {
      val va = l.asInstanceOf[ArrayData].toLongArray()
      val vb = r.asInstanceOf[ArrayData].toLongArray()
      val na = va.length
      val nb = vb.length
      if (na == 0 || nb == 0) return null
      val m = na.toLong * nb
      require(m <= MaxPairs,
        s"hodges_lehmann_stats: arms of $na × $nb expand to $m " +
          "differences; truncate with a smaller maxN")
      val diffs = new Array[Long](m.toInt)
      var gt = 0L
      var lt = 0L
      var w = 0
      var i = 0
      while (i < na) {
        val a = va(i)
        var j = 0
        while (j < nb) {
          val d = a - vb(j)
          if (d > 0L) gt += 1L else if (d < 0L) lt += 1L
          diffs(w) = d
          w += 1
          j += 1
        }
        i += 1
      }
      java.util.Arrays.sort(diffs)
      val hl = diffs(((m + 1) / 2 - 1).toInt)
      InternalRow(na.toLong, nb.toLong, m, gt, lt, hl)
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hlExpr", this,
        "graft.functions.SeriesKernels.HodgesLehmannStats")
      val out = ctx.freshName("hlOut")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""Object $out = $ref.compute($a, $b);
           |if ($out == null) { ${ev.isNull} = true; } else {
           |  ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $out;
           |}""".stripMargin)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): HodgesLehmannStats =
      copy(left = newLeft, right = newRight)
  }

  def hodgesLehmannStats(va: Column, vb: Column): Column =
    GraftSqlBridge.column(HodgesLehmannStats(
      GraftSqlBridge.expression(va), GraftSqlBridge.expression(vb)))
}
