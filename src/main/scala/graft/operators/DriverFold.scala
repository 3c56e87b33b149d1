package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one decision "this fixed-round loop may run as a plain JVM fold
  * on the driver" (PageRank and its variants, HITS, LPA, label
  * spreading, BFS hop distance, k-core, connected components, Markov
  * attribution). Per round, a distributed loop pays a few Spark jobs of
  * scheduling however small its input is (Drizzle's observation), so
  * a small input is collected once and iterated in driver memory. The
  * fold body must then give the distributed answer bit for bit; the
  * conditions below are what that takes, and every fold site asks here
  * instead of restating them. The distributed loops stay the
  * reference: their specs run them with `driverCap = 0`.
  *
  * The fold is taken only when all of these hold:
  *  - `cap > 0` and every input frame has at most `cap` rows. The
  *    census is MEASURED on the pinned frames, so driver memory and
  *    work are bounded by the row count, not by an estimate.
  *  - No key column holds a NULL. The distributed joins never match a
  *    NULL key (it drops out or surfaces as its own row), while a JVM
  *    hash map keys on null like any value and a comparator throws.
  *  - All node-id columns, across all inputs, share one type. A JVM
  *    `java.lang.Long` never equals a `java.lang.Integer`, where Spark
  *    widens both sides of a join or union to one type first.
  *  - Every key column (node ids, seeds, labels, states) has a type
  *    whose JVM `equals`/`hashCode`/`compare` match Spark's grouping,
  *    join and ordering semantics: the integral types, boolean and
  *    UTF8_BINARY strings. Everything else is refused. `byte[]` hashes
  *    and compares by reference, so each occurrence of a binary id is
  *    a new node. `java.lang.Double`/`Float` equality splits −0.0 from
  *    0.0, which Spark groups as one value and Scala's `==` joins, so
  *    a fold sees two nodes in one map and one in the next. Decimals,
  *    timestamps, collated strings and nested types follow mapping
  *    rules (scale, time zone, collation key, element equality) that
  *    no fold here proves equal to Spark's.
  *
  * [[Taken.order]] is Spark's order on those types: the natural one for
  * integral and boolean values, and UTF8String's unsigned-byte order
  * for strings (`java.lang.String.compareTo` is UTF-16 code-unit
  * order, which diverges on supplementary characters).
  *
  * The census is ONE aggregate action over all inputs (row count and
  * NULL-key count per frame). It is a full aggregate rather than a
  * `limit(cap + 1)` probe, so it also materializes every partition of
  * a lazily pinned input ([[Dedup.truncateLazy]]), where a limit would
  * compute only the partitions it needs. */
private[graft] object DriverFold {

  /** One input frame of a fold: `ids` are its node-id columns, `labels`
    * the other columns the fold hashes or orders (seed labels). */
  final case class Input(
      df: DataFrame,
      ids: Seq[String],
      labels: Seq[String] = Nil)

  /** A taken fold: each input's collected rows, in input order, and
    * the order the fold must use to break ties. */
  final case class Taken(
      rows: IndexedSeq[Array[Row]],
      order: java.util.Comparator[Any])

  private val order: java.util.Comparator[Any] = (a: Any, b: Any) =>
    (a, b) match {
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }

  private def valueSafe(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType => true
    case StringType => true // equals only the UTF8_BINARY collation
    case _ => false
  }

  /** A fold's result rows back in Spark as a frame under `schema`:
    * one partition per 50,000 rows, at least 1 and at most 32. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, math.min(rows.size / 50000, 32))), schema)

  /** The collected inputs when the fold may run, else None (the caller
    * runs its distributed loop). Runs no Spark job when `cap <= 0` or
    * a type condition fails; otherwise the census, then one collect
    * per input if the fold is taken. */
  def apply(cap: Long, inputs: Input*): Option[Taken] = {
    def typeOf(in: Input, c: String) = in.df.schema(c).dataType
    val idTypes = inputs.flatMap(in => in.ids.map(typeOf(in, _))).distinct
    val keysSafe = inputs.forall(in =>
      (in.ids ++ in.labels).forall(c => valueSafe(typeOf(in, c))))
    if (cap <= 0L || idTypes.size > 1 || !keysSafe) return None
    val census = inputs.zipWithIndex.map { case (in, i) =>
      val anyNull = (in.ids ++ in.labels).map(col(_).isNull).reduce(_ || _)
      in.df.agg(lit(i).as("i"), count(lit(1)).as("n"),
        count(when(anyNull, 1)).as("nulls"))
    }.reduce(_ union _).collect()
    if (census.exists(r => r.getLong(1) > cap || r.getLong(2) > 0L)) None
    else Some(Taken(inputs.map(_.df.collect()).toIndexedSeq, order))
  }
}
