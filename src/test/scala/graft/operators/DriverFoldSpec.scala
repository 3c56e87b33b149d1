package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The fold decision itself: which inputs may run on the driver. The
  * agreement specs (GraphSpec, ConnectedComponentsSpec, SessionizeSpec)
  * pin what the folds compute once taken. */
class DriverFoldSpec extends SparkSpec {

  private def edges(src: DataType, dst: DataType)(rows: Seq[Any]*): DataFrame =
    frame("s" -> src, "d" -> dst)(rows)

  private def ids(df: DataFrame) = DriverFold.Input(df, Seq("s", "d"))

  test("the fold is taken for Long, Int and String ids, with every row") {
    for ((dt, a, b, c) <- Seq(
        (LongType, 1L, 2L, 3L),
        (IntegerType, 1, 2, 3),
        (StringType, "a", "b", "c"))) {
      val taken = DriverFold(3L,
        ids(edges(dt, dt)(Seq(a, b), Seq(b, c), Seq(c, a))))
      assert(taken.isDefined, s"$dt ids")
      assert(taken.get.rows.map(_.length) == Seq(3), s"$dt ids")
    }
  }

  test("the fold order is Spark's: UTF-8 byte order for strings") {
    val order = DriverFold(1L,
      ids(edges(StringType, StringType)(Seq("a", "b")))).get.order
    // U+FF61 sorts after U+1F600 in UTF-16 units, before it in UTF-8.
    assert("｡".compareTo("😀") > 0)
    assert(order.compare("｡", "😀") < 0)
    assert(order.compare(2L, 10L) < 0)
    assert(order.compare(false, true) < 0)
  }

  test("binary, double, float and collated-string ids keep the distributed path") {
    val bytes = (s: String) => s.getBytes("UTF-8")
    assert(DriverFold(10L, ids(edges(BinaryType, BinaryType)(
      Seq(bytes("a"), bytes("b"))))).isEmpty)
    assert(DriverFold(10L, ids(edges(DoubleType, DoubleType)(
      Seq(0.0, -0.0), Seq(1.5, 0.0)))).isEmpty)
    assert(DriverFold(10L, ids(edges(FloatType, FloatType)(
      Seq(0.0f, 1.0f)))).isEmpty)
    import org.apache.spark.sql.functions.{col, collate}
    val lcase = edges(StringType, StringType)(Seq("a", "A"))
      .select(collate(col("s"), "UTF8_LCASE").as("s"),
        collate(col("d"), "UTF8_LCASE").as("d"))
    assert(DriverFold(10L, ids(lcase)).isEmpty)
  }

  test("a label of a non-whitelisted type keeps the distributed path") {
    val e = edges(LongType, LongType)(Seq(1L, 2L))
    def seeds(dt: DataType, label: Any) = DriverFold.Input(
      frame("n" -> LongType, "l" -> dt)(Seq(Seq(1L, label))),
      Seq("n"), labels = Seq("l"))
    assert(DriverFold(10L, ids(e), seeds(IntegerType, 7)).isDefined)
    assert(DriverFold(10L, ids(e), seeds(DoubleType, 7.0)).isEmpty)
    assert(DriverFold(10L, ids(e),
      seeds(BinaryType, Array[Byte](7))).isEmpty)
  }

  test("a NULL endpoint or label keeps the distributed path") {
    assert(DriverFold(10L, ids(edges(LongType, LongType)(
      Seq(1L, 2L), Seq(2L, null)))).isEmpty)
    val seeds = DriverFold.Input(
      frame("n" -> LongType, "l" -> StringType)(Seq(Seq(1L, null))),
      Seq("n"), labels = Seq("l"))
    assert(DriverFold(10L, ids(edges(LongType, LongType)(Seq(1L, 2L))),
      seeds).isEmpty)
  }

  test("ids of different types keep the distributed path") {
    assert(DriverFold(10L,
      ids(edges(LongType, IntegerType)(Seq(1L, 2)))).isEmpty)
    // Across inputs too: Long edges with Int seeds.
    assert(DriverFold(10L, ids(edges(LongType, LongType)(Seq(1L, 2L))),
      DriverFold.Input(frame("n" -> IntegerType)(Seq(Seq(1))),
        Seq("n"))).isEmpty)
  }

  test("every input is censused against the cap: cap + 1 rows refuse") {
    val e = edges(LongType, LongType)(
      (1L to 4L).map(i => Seq(i, i + 1)): _*)
    assert(DriverFold(4L, ids(e)).isDefined)
    assert(DriverFold(3L, ids(e)).isEmpty)
    assert(DriverFold(0L, ids(e)).isEmpty)
    val seeds = frame("n" -> LongType)((1L to 5L).map(Seq(_)))
    assert(DriverFold(4L, ids(e),
      DriverFold.Input(seeds, Seq("n"))).isEmpty)
    val taken = DriverFold(5L, ids(e), DriverFold.Input(seeds, Seq("n")))
    assert(taken.map(_.rows.map(_.length)) == Some(Seq(4, 5)))
  }
}
