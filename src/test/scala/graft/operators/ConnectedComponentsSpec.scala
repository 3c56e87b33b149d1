package graft.operators

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("components get min-id labels; chains converge; singleton pairs isolate") {
    // Two components: {1,2,3,4} via a chain (diameter 3) and {10,11}.
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("a long chain needs multiple rounds and still reaches the fixpoint") {
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponents(chain, "a", "b", maxIter = 40)
      .as[(Long, Long)].collect()
    assert(out.length == 30 && out.forall(_._2 == 1L))
  }

  test("pointer jumping converges a chain far longer than maxIter rounds") {
    // Diameter 199 ≫ default maxIter 20: plain min-propagation would
    // throw; the label-of-label jump collapses distance 2d+1 per round
    // so this needs only ~8 rounds. driverCap = 0 forces the
    // DISTRIBUTED fixpoint (the r18 guarded driver union-find would
    // otherwise absorb a graph this small), keeping the at-scale path
    // under test.
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponents(chain, "a", "b", driverCap = 0L)
      .as[(Long, Long)].collect()
    assert(out.length == 200 && out.forall(_._2 == 1L))
  }

  test("driver fast path and distributed fixpoint agree (longs and strings)") {
    // Every id type agrees by value: Long and String ids take the
    // union-find, Binary and Double (0.0 next to −0.0) ids fall back.
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L),
      (0L, 5L), (1L, 6L))
    for ((dt, id) <- foldIdTypes) {
      val typed = frame("a" -> dt, "b" -> dt)(
        pairs.map { case (a, b) => Seq(id(a), id(b)) })
      assert(byValue(Dedup.connectedComponents(typed, "a", "b")) ==
        byValue(Dedup.connectedComponents(typed, "a", "b",
          driverCap = 0L)), s"$dt ids")
    }
    // String ids compare in UTF8 byte order on both paths.
    val sedges = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("a", "b")
    val sfast = Dedup.connectedComponents(sedges, "a", "b")
      .as[(String, String)].collect().toMap
    val sdist = Dedup.connectedComponents(sedges, "a", "b",
        driverCap = 0L)
      .as[(String, String)].collect().toMap
    assert(sfast == sdist)
    assert(sfast == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("reliable-checkpoint mode writes durable checkpoints and agrees with local mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt")
    spark.conf.set(Dedup.ReliableCheckpointDirKey, dir.toString)
    try {
      val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
      val out = Dedup.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L))
      // The durable dir must actually hold checkpoint data — otherwise
      // the flag silently fell through to executor-local blocks.
      def files(p: java.io.File): Seq[java.io.File] = {
        val kids = Option(p.listFiles()).map(_.toSeq).getOrElse(Nil)
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(files)
      }
      assert(files(dir.toFile).nonEmpty)
    } finally {
      spark.conf.unset(Dedup.ReliableCheckpointDirKey)
    }
  }

  test("dedupCorpus collapses exact dups even when docs are too short to shingle") {
    val docs = Seq(
      (1L, "hi there"),                        // 2 tokens: below shingle size
      (2L, "hi there"),                        // exact dup of 1 — must drop
      (3L, "the quick brown fox jumps over the lazy dog today ok"),
      (4L, "the quick brown fox jumps over the lazy dog today ok"),  // near+exact dup
      (5L, "something else entirely unrelated to all the rest here"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L))
  }

  test("cluster collapse on a near-dup graph picks one survivor per clique") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today ok"),
      (2L, "the quick brown fox jumps over the lazy dog today ok"),
      (7L, "the quick brown fox jumps over the lazy dog today ok fine"),
      (9L, "an entirely different document about distributed query engines ok"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text")
    val comps = Dedup.connectedComponents(pairs, "a", "b")
    val groups = comps.as[(Long, Long)].collect().groupBy(_._2).view
      .mapValues(_.map(_._1).sorted.toSeq).toMap
    // 1, 2, 7 collapse into component 1; 9 has no near-dups (absent).
    assert(groups == Map(1L -> Seq(1L, 2L, 7L)))
  }

  test("NULL edge endpoints route to the distributed path, no crash") {
    // The driver comparator would NPE on a NULL id; the gate census
    // must detect it and keep the fixpoint, which tolerates NULLs
    // (a NULL key never joins; it surfaces as one (null,null) row).
    val edges = Seq((Some(2L), Some(1L)), (Option.empty[Long], Some(5L)))
      .toDF("a", "b")
    val out = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(out.contains((Some(1L), Some(1L))))
    assert(out.contains((Some(2L), Some(1L))))
  }
}
