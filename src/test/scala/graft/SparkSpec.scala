package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (getOrCreate ⇒ one JVM-wide session
  * across suites; small core count keeps per-test scheduling cheap). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Graft.session("graft-test", cpus = 4)

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Sorted (by toString) rows — order-insensitive comparison. */
  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Id types of the driver-fold agreement specs, each with its image
    * of a Long id. Double maps ids 0 and 1 to 0.0 and −0.0: one value
    * to Spark's grouping, two to a JVM hash map. */
  val foldIdTypes: Seq[(DataType, Long => Any)] = Seq(
    LongType -> ((n: Long) => n),
    StringType -> ((n: Long) => s"n$n"),
    BinaryType -> ((n: Long) => s"n$n".getBytes("UTF-8")),
    DoubleType -> ((n: Long) => if (n == 1L) -0.0 else n.toDouble))

  /** A frame of `rows` under the given (name, type) columns. */
  def frame(fields: (String, DataType)*)(rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava,
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Rows rendered by value (binary as hex, not `[B@hash`), sorted —
    * order-insensitive comparison for any column type. */
  def byValue(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case v => String.valueOf(v)
    }.mkString("[", ",", "]")).sorted
}
