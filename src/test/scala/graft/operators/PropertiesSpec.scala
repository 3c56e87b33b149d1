package graft.operators

import graft.SparkSpec

/** Property-style tests (seeded random trials) for the invariants
  * SURVEY.md §5.2 calls out. Plain loops rather than a ScalaCheck
  * runner: Spark jobs inside forAll shrink cycles are pathologically
  * slow, and the deps stay minimal. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("minhash similarity estimate tracks exact jaccard (random shuffled docs)") {
    val base = (1 to 40).map(i => s"tok$i")
    val docs = (0 until 8).map { i =>
      // Successive docs share a sliding window of tokens — varying overlap.
      val toks = base.drop(i * 4).take(24)
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3)
    val sigM = rows(sigs).map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0)
    rows(exact).foreach { r =>
      val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val est = sigM(a).zip(sigM(b)).count { case (x, y) => x == y } / 16.0
      assert(math.abs(est - j) <= 0.45,
        s"pair ($a,$b): exact=$j est=$est diverged")
    }
  }

  test("skipgramCounts conserves pair mass: Σc == Σ_docs Σ_off max(0, len-off)") {
    val docs = (0L until 12L).map { i =>
      val len = 1 + rnd.nextInt(10)
      (i, List.fill(len)(s"t${rnd.nextInt(5)}").mkString(" "))
    }
    val window = 3
    val expected = docs.map { case (_, text) =>
      val len = text.split(" ").length
      (1 to window).map(off => math.max(0, len - off)).sum.toLong
    }.sum
    val total = Corpus.skipgramCounts(
        docs.toDF("doc_id", "text"), "text", window, minCount = 1L)
      .agg(org.apache.spark.sql.functions.sum("c")).collect().head.getLong(0)
    assert(total == expected)
  }

  test("crossDocSpans duplicated mass never exceeds repeatedSpans'") {
    // Random docs over a tiny vocabulary force heavy overlap both
    // within and across docs; the cross-doc census must be pointwise
    // ≤ the any-repeat census (its shared-gram set is a subset).
    val docs = (0L until 10L).map { i =>
      (i, List.fill(14 + rnd.nextInt(6))(s"w${rnd.nextInt(3)}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val any = rows(Dedup.repeatedSpans(docs, "doc_id", "text", 4))
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val cross = rows(Dedup.crossDocSpans(docs, "doc_id", "text", 4))
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    cross.foreach { case (id, dup) =>
      assert(dup <= any(id), s"doc $id: cross=$dup > any=${any(id)}")
    }
  }

  test("pageRank conserves bounded mass and is repetition-stable on random graphs") {
    (1 to 3).foreach { _ =>
      val edges = List.fill(25)(
        (s"n${rnd.nextInt(8)}", s"n${rnd.nextInt(8)}")).distinct
      val df = edges.toDF("src", "dst")
      val r1 = rows(Graph.pageRank(df, "src", "dst", iters = 3))
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val r2 = rows(Graph.pageRank(df, "src", "dst", iters = 3))
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r1 == r2) // pure integer arithmetic: bit-stable
      // Floor divisions only LEAK mass: total ≤ nodes × unit, and
      // every node keeps at least the base mass.
      val n = r1.size
      assert(r1.values.sum <= n * 1000000L)
      assert(r1.values.forall(_ >= 150000L))
    }
  }
}
