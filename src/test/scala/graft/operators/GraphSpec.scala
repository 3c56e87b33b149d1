package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-computed 3-node chain, integer micro-ranks") {
    // a -> b, b -> c, c -> b. outdeg: a=1, b=1, c=1.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    // r0 = 1e6 each; base = 150000.
    // iter1: in(b) = r(a)+r(c) = 2e6 -> b = 150000 + 85*2e6/100 = 1850000
    //        in(c) = r(b) = 1e6   -> c = 150000 + 850000 = 1000000
    //        in(a) = 0            -> a = 150000
    // iter2: b = 150000 + 85*(150000 + 1000000)/100 = 150000 + 977500
    //        c = 150000 + 85*1850000/100 = 150000 + 1572500 = 1722500
    //        a = 150000
    val r2 = Graph.pageRank(edges, "src", "dst", iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r2 == Map("a" -> 150000L, "b" -> 1127500L, "c" -> 1722500L))
  }

  test("pageRank: floor division is deterministic, sinks keep base mass") {
    // Two sources point at one sink; sink has no out-edges (mass
    // leaks, documented). outdeg(a)=2 so each contribution floors.
    val edges = Seq(("a", "x"), ("a", "y"), ("b", "x"))
      .toDF("src", "dst")
    val r1 = Graph.pageRank(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // in(x) = 1e6 div 2 + 1e6 div 1 = 1500000 -> 150000 + 1275000
    // in(y) = 1e6 div 2 = 500000            -> 150000 + 425000
    assert(r1("x") == 1425000L)
    assert(r1("y") == 575000L)
    assert(r1("a") == 150000L && r1("b") == 150000L)
    // Repeated runs are bit-identical (pure integer arithmetic).
    val again = Graph.pageRank(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == r1)
  }

  test("pageRankWeighted: mass splits by weight; unit weights == unweighted") {
    import org.apache.spark.sql.functions.col
    // a sends 3/4 of its mass to b, 1/4 to c.
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("s", "d", "w")
    val r1 = Graph.pageRankWeighted(edges, "s", "d", "w", iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // in(b) = (1e6 div 4)*3 = 750000 -> 150000 + 85%*750000 = 787500
    // in(c) = (1e6 div 4)*1 = 250000 -> 150000 + 212500 = 362500
    assert(r1 == Map("a" -> 150000L, "b" -> 787500L, "c" -> 362500L))
    // All-ones weights reduce EXACTLY to the unweighted operator.
    val g = Seq(("a", "b"), ("b", "c"), ("c", "b"), ("c", "a"))
      .toDF("s", "d")
    val unw = Graph.pageRank(g, "s", "d", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ones = Graph.pageRankWeighted(
        g.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
        "s", "d", "w", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ones == unw)
    // Non-positive weights fail loudly, never flow 0 mass silently.
    intercept[Exception] {
      Graph.pageRankWeighted(
        Seq(("a", "b", 0L)).toDF("s", "d", "w"), "s", "d", "w", 1)
        .collect()
    }
    // ...including fractional weights that would TRUNCATE to zero —
    // the guard runs after the long cast.
    intercept[Exception] {
      Graph.pageRankWeighted(
        Seq(("a", "b", 0.5)).toDF("s", "d", "w"), "s", "d", "w", 1)
        .collect()
    }
    assert(r1.values.forall(_ >= 150000L))
  }

  test("triangleCounts: corners count once each; tails and open wedges don't") {
    // Triangle a-b-c, tail c-d, open wedge d-e/d-f (no e-f edge).
    // Mixed orientation + a duplicate + a self-loop exercise
    // canonicalization.
    val edges = Seq(
      ("a", "b"), ("c", "b"), ("a", "c"),
      ("b", "a"),             // duplicate, reversed
      ("c", "c"),             // self-loop: dropped
      ("c", "d"), ("d", "e"), ("d", "f"))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
    // Two triangles sharing an edge: shared corners count both.
    val twoTri = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("b", "d"), ("c", "d")).toDF("src", "dst")
    val out2 = Graph.triangleCounts(twoTri, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
  }

  test("triangleCounts: degree orientation starves hub wedges on skewed graphs") {
    import org.apache.spark.sql.functions.col
    // Hub "a00" is the ID-SMALLEST node and touches every spoke — the
    // worst case for id-canonical orientation, which would keep the
    // hub's full out-degree (wedge census C(40,2) = 780 from the hub
    // alone). Degree orientation points every spoke→hub edge AT the
    // hub (spokes have degree 1–3, hub 40), so the hub's out-degree is
    // 0 and the only wedges left are the spokes' (bounded by their own
    // tiny degree).
    val spokes = (1 to 40).map(i => ("a00", f"s$i%02d"))
    val tris = Seq(("s01", "s02"), ("s03", "s04")) // close 2 triangles via hub
    val edges = (spokes ++ tris).toDF("src", "dst")
    val o = Graph.orientedEdges(edges, "src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outdeg = o.groupBy(_._1).view.mapValues(_.length)
    assert(!outdeg.keySet.contains("a00"), "hub must keep out-degree 0")
    assert(outdeg.values.forall(_ <= 3), "spoke out-degrees stay tiny")
    val wedgeCensus = outdeg.values.map(d => d.toLong * (d - 1) / 2).sum
    assert(wedgeCensus <= 4L,
      s"degree orientation must shrink the wedge census (got $wedgeCensus; " +
        "id-canonical would be >= 780 from the hub alone)")
    // Counts themselves are orientation-invariant: 2 hub triangles.
    val out = Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a00" -> 2L, "s01" -> 1L, "s02" -> 1L,
      "s03" -> 1L, "s04" -> 1L))
  }

  test("labelPropagation: bridged cliques keep distinct labels; synchronous rounds are exact") {
    // Two triangles joined by one bridge edge (3–4): any-path
    // reachability would give ONE component, but a thin bridge cannot
    // outvote a clique — LPA keeps two communities. Hand-computed
    // synchronous rounds (neighbor-only votes, min-label ties):
    //   l1 = {1:2, 2:1, 3:1, 4:3, 5:4, 6:4}
    //   l2 = {1:1, 2:1, 3:1, 4:4, 5:3, 6:3}
    //   l3 = {1:1, 2:1, 3:1, 4:3, 5:3, 6:3}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("s", "d")
    def run(n: Int) = Graph.labelPropagation(edges, "s", "d", n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 4L, 6L -> 4L))
    assert(run(3) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // Exactly two communities, split at the bridge.
    assert(run(3).groupBy(_._2).keySet.size == 2)
  }

  test("pageRank: rank mass concentrates on the hub of a star graph") {
    val spokes = (1 to 8).map(i => (s"s$i", "hub"))
    val back = (1 to 8).map(i => ("hub", s"s$i"))
    val edges = (spokes ++ back).toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hub = out("hub")
    (1 to 8).foreach(i => assert(out(s"s$i") < hub))
    // Spokes are symmetric: identical integer ranks, no drift.
    assert((1 to 8).map(i => out(s"s$i")).toSet.size == 1)
  }

  test("labelPropagation early-exits at the fixpoint, result unchanged") {
    // Two disjoint triangles settle in a couple of rounds; the cap of
    // 50 must NOT mean 50 Spark rounds.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val (labels, rounds) =
      Graph.labelPropagationConverged(edges, "a", "b", iters = 50)
    assert(rounds < 10, s"no early exit: ran $rounds rounds")
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // One label per triangle, distinct across them.
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(Set(out(4L), out(5L), out(6L)).size == 1)
    assert(out(1L) != out(4L))
    // Exactly-`rounds` blind run reproduces the converged result —
    // the early exit changed nothing but the number of rounds.
    val blind = Graph.labelPropagation(edges, "a", "b", iters = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blind == out)
  }

  test("pageRankConverged: exact fixpoint on a regular graph, mass stat") {
    // Directed 4-cycle: every node has in/out degree 1, so the uniform
    // start IS the fixpoint — round 1 reports changed mass 0.
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val (ranks, rounds, mass) =
      Graph.pageRankConverged(cyc, "s", "d", iters = 10)
    assert(mass == 0L)
    assert(rounds < 10, s"no early exit: ran $rounds rounds")
    val out = ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.values.toSet == Set(1000000L))
    // And identical to the blind fixed-iters form.
    val blind = Graph.pageRank(cyc, "s", "d", iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blind == out)
  }

  test("kCore: tail cascades off one node per round; the clique survives") {
    // Triangle {1,2,3} plus a tail 3-4-5. 2-core = the triangle.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    // Capped at 1 round: only the degree-1 leaf 5 peels; 4 keeps its
    // now-dangling edge census entry (census over POST-filter edges).
    val r1 = Graph.kCore(edges, "s", "d", k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    // Fixpoint: round 2 peels 4, round 3 peels nothing → 3 rounds.
    val (core, rounds) = Graph.kCoreConverged(edges, "s", "d",
      k = 2, iters = 10)
    val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(rounds == 3)
    // The blind fixed-iters run agrees once given enough rounds.
    val blind = Graph.kCore(edges, "s", "d", k = 2, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blind == got)
  }

  test("kCore: self-loops and parallel edges don't inflate degrees") {
    // 1's only real neighbor is 2 (self-loop + duplicate edges
    // collapse), so at k=2 everything peels.
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)).toDF("s", "d")
    val (core, _) = Graph.kCoreConverged(edges, "s", "d", k = 2, iters = 5)
    assert(core.count() == 0)
    // At k=1 the single surviving edge stands: both endpoints deg 1.
    val k1 = Graph.kCore(edges, "s", "d", k = 1, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1 == Map(1L -> 1L, 2L -> 1L))
  }

  test("hopDistance: settled at first reach, horizon cuts, unreached absent") {
    // 1 -> 2 -> 3 -> 4 -> 5; 1 -> 3 (shortcut); 9 isolated target of
    // nothing; 6 -> 7 unreachable island.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L),
      (6L, 7L)).toDF("s", "d")
    val seeds = Seq(1L).toDF("n")
    val got = Graph.hopDistance(edges, "s", "d", seeds, "n", maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 3 settles at hop 1 via the shortcut, NOT 2 via the chain.
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    // Horizon: maxHops = 2 drops node 5 (min hop 3).
    val cut = Graph.hopDistance(edges, "s", "d", seeds, "n", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cut == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("hopDistanceConverged early-exits; off-graph seeds still report 0") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    // Seed 99 is absent from the graph: generation zero regardless.
    val seeds = Seq(1L, 99L).toDF("n")
    val (dist, rounds) =
      Graph.hopDistanceConverged(edges, "s", "d", seeds, "n", maxHops = 10)
    val got = dist.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 99L -> 0, 2L -> 1))
    // Round 1 settles node 2; round 2 settles nothing and exits — far
    // short of the 10-round cap.
    assert(rounds == 2)
  }

  test("hits: hand-computed hub/authority split, zero scores persist") {
    // h1 -> a1, h1 -> a2, h2 -> a1: pure hubs on the left, pure
    // authorities on the right.
    val edges = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1"))
      .toDF("s", "d")
    val r1 = Graph.hits(edges, "s", "d", iters = 1, unit = 10L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // auth(a1) = h(h1)+h(h2) = 20, auth(a2) = 10;
    // hub(h1) = 20+10 = 30, hub(h2) = 20; pure sides score 0 opposite.
    assert(r1 == Map("h1" -> ((30L, 0L)), "h2" -> ((20L, 0L)),
      "a1" -> ((0L, 20L)), "a2" -> ((0L, 10L))))
    val r2 = Graph.hits(edges, "s", "d", iters = 2, unit = 10L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // Round 2 from hubs (30, 20): auth(a1) = 50, auth(a2) = 30;
    // hub(h1) = 80, hub(h2) = 50.
    assert(r2 == Map("h1" -> ((80L, 0L)), "h2" -> ((50L, 0L)),
      "a1" -> ((0L, 50L)), "a2" -> ((0L, 30L))))
  }

  test("pageRankSeeded: unreachable nodes score exactly 0, seeds hold base") {
    // s -> a -> b; spam clique c <-> d linking only to itself.
    val edges = Seq(("s", "a"), ("a", "b"), ("c", "d"), ("d", "c"))
      .toDF("src", "dst")
    val seeds = Seq("s").toDF("n")
    val r = Graph.pageRankSeeded(edges, "src", "dst", seeds, "n",
        iters = 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // r0: s=1e6, rest 0.
    // iter1: a gets 85%*1e6 = 850000; s = 150000 (base only); b,c,d = 0.
    // iter2: a = 85%*150000 = 127500; b = 85%*850000 = 722500;
    //        s = 150000; spam clique stays EXACTLY 0.
    assert(r == Map("s" -> 150000L, "a" -> 127500L, "b" -> 722500L,
      "c" -> 0L, "d" -> 0L))
  }

  test("labelSpread: clamped seeds, majority vote, unreached stay NULL") {
    // Chain: s0(A) - n1 - n2 ; s3(B) - n2 ; island n4 - n5 unreached.
    val edges = Seq(("s0", "n1"), ("n1", "n2"), ("s3", "n2"),
      ("n4", "n5")).toDF("src", "dst")
    val seeds = Seq(("s0", 0), ("s3", 1)).toDF("n", "l")
    val got = Graph.labelSpread(edges, "src", "dst", seeds, "n", "l",
        iters = 3)
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) null else Integer.valueOf(r.getInt(1)),
          r.getBoolean(2)))).toMap
    // Round 1: n1 <- A (from s0), n2 <- B (only s3 labeled yet).
    // Round 2: n2 sees labeled {n1=A, s3=B} -> tie -> smaller label A.
    assert(got("s0") == ((0, true)) && got("s3") == ((1, true)))
    assert(got("n1") == ((0, false)))
    assert(got("n2") == ((0, false))) // tie broke to the smaller label
    assert(got("n4") == ((null, false)) && got("n5") == ((null, false)))
    // Clamp: seeds NEVER flip even when outvoted (s3's only neighbor
    // n2 ends A, but s3 stays B).
  }

  test("pageRankSeeded: off-graph seeds keep restart mass") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val seeds = Seq("z").toDF("n") // trusted but no observed links
    val r = Graph.pageRankSeeded(edges, "src", "dst", seeds, "n",
        iters = 3)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("z" -> 150000L, "a" -> 0L, "b" -> 0L))
  }

  test("iterative driver folds agree with the distributed rounds") {
    // driverCap = 0 pins the DISTRIBUTED loop (the at-scale path must
    // stay exercised); the default cap takes the driver fold where
    // DriverFold admits the id type. Random directed graph with
    // islands, cycles, and duplicate edges, once per id type: Long and
    // String ids fold, Binary and Double (0.0 next to −0.0) ids fall
    // back. Every operator must agree row for row, compared by value.
    import org.apache.spark.sql.types.{BinaryType, LongType}
    val rng = new scala.util.Random(13)
    val pairs = (1 to 300).map(_ =>
      (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    for ((dt, id) <- foldIdTypes) {
      withClue(s"$dt ids: ") {
        val edges = frame("s" -> dt, "d" -> dt)(
          pairs.map { case (a, b) => Seq(id(a), id(b)) })
        val seeds = frame("n" -> dt)(Seq(1L, 3L, 99L).map(n => Seq(id(n))))
        val lseeds = frame("n" -> dt, "l" -> dt)(
          Seq((1L, 7L), (3L, 2L), (99L, 5L)).map { case (n, l) =>
            Seq(id(n), id(l)) })
        assert(byValue(Graph.hits(edges, "s", "d", iters = 3)) ==
          byValue(Graph.hits(edges, "s", "d", iters = 3, driverCap = 0L)))
        assert(byValue(Graph.pageRankSeeded(edges, "s", "d", seeds, "n",
            iters = 4)) ==
          byValue(Graph.pageRankSeeded(edges, "s", "d", seeds, "n",
            iters = 4, driverCap = 0L)))
        assert(byValue(Graph.labelSpread(edges, "s", "d", lseeds, "n", "l",
            iters = 4)) ==
          byValue(Graph.labelSpread(edges, "s", "d", lseeds, "n", "l",
            iters = 4, driverCap = 0L)))
        val (d1, r1) = Graph.hopDistanceConverged(edges, "s", "d", seeds,
          "n", maxHops = 6)
        val (d0, r0) = Graph.hopDistanceConverged(edges, "s", "d", seeds,
          "n", maxHops = 6, driverCap = 0L)
        assert(byValue(d1) == byValue(d0))
        assert(r1 == r0)
        assert(byValue(Graph.pageRank(edges, "s", "d", iters = 3)) ==
          byValue(Graph.pageRank(edges, "s", "d", iters = 3,
            driverCap = 0L)))
        // Weights come from the Long ids, whatever the id type.
        val wedges = frame("s" -> dt, "d" -> dt, "w" -> LongType)(
          pairs.map { case (a, b) => Seq(id(a), id(b), (a * 7 + b) % 5 + 1) })
        assert(byValue(Graph.pageRankWeighted(wedges, "s", "d", "w",
            iters = 3)) ==
          byValue(Graph.pageRankWeighted(wedges, "s", "d", "w", iters = 3,
            driverCap = 0L)))
        val (p1, pr1, m1) = Graph.pageRankConverged(edges, "s", "d",
          iters = 4)
        val (p0, pr0, m0) = Graph.pageRankConverged(edges, "s", "d",
          iters = 4, driverCap = 0L)
        assert(byValue(p1) == byValue(p0) && pr1 == pr0 && m1 == m0)
        assert(byValue(Graph.labelPropagation(edges, "s", "d", iters = 4)) ==
          byValue(Graph.labelPropagation(edges, "s", "d", iters = 4,
            driverCap = 0L)))
        val (l1, lr1) = Graph.labelPropagationConverged(edges, "s", "d",
          iters = 6)
        val (l0, lr0) = Graph.labelPropagationConverged(edges, "s", "d",
          iters = 6, driverCap = 0L)
        assert(byValue(l1) == byValue(l0) && lr1 == lr0)
        assert(byValue(Graph.kCore(edges, "s", "d", k = 3, iters = 5)) ==
          byValue(Graph.kCore(edges, "s", "d", k = 3, iters = 5,
            driverCap = 0L)))
        val (k1, kr1) = Graph.kCoreConverged(edges, "s", "d", k = 3,
          iters = 20)
        val (k0, kr0) = Graph.kCoreConverged(edges, "s", "d", k = 3,
          iters = 20, driverCap = 0L)
        assert(byValue(k1) == byValue(k0) && kr1 == kr0)
      }
    }
    // a→b, b→c, c→b, a→c over binary ids: a fold keyed by byte[]
    // reference made every occurrence of an id a node of its own.
    val bin = frame("s" -> BinaryType, "d" -> BinaryType)(
      Seq("a" -> "b", "b" -> "c", "c" -> "b", "a" -> "c").map {
        case (a, b) => Seq(a.getBytes("UTF-8"), b.getBytes("UTF-8")) })
    val ranks = Graph.pageRank(bin, "s", "d", iters = 3).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8") -> r.getLong(1))
      .toSeq.sorted
    assert(ranks == Seq("a" -> 150000L, "b" -> 1425000L, "c" -> 1425000L))
  }

  test("adamicAdar: rare shared neighbors outweigh hubs, exact micro terms") {
    // z1 has degree 3 (term 910239 = round(1e12/round(1e6·ln3))),
    // z2 degree 2 (term 1442695). (a,b) share both; (a,c)/(b,c) only z1.
    val edges = Seq(
      ("a", "z1"), ("b", "z1"), ("c", "z1"),
      ("a", "z2"), ("b", "z2")).toDF("s", "z")
    val got = Graph.adamicAdar(edges, "s", "z", maxDegree = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(("a", "b")) == ((2L, 2352934L)))
    assert(got(("a", "c")) == ((1L, 910239L)))
    assert(got(("b", "c")) == ((1L, 910239L)))
    // minCommon prunes the single-neighbor pairs.
    val strict = Graph.adamicAdar(edges, "s", "z", maxDegree = 10,
      minCommon = 2).collect()
    assert(strict.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "b")))
    // maxDegree 2 drops the z1 hub: only the z2 wedge survives.
    val capped = Graph.adamicAdar(edges, "s", "z", maxDegree = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(3)).toMap
    assert(capped == Map(("a", "b") -> 1442695L))
  }

  test("adamicAdar: excludeAdjacent drops pairs already linked") {
    // Symmetrized path a-b-c: the only distance-2 pair is (a,c).
    val sym = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
    val open = Graph.adamicAdar(sym.toDF("s", "z"), "s", "z",
      maxDegree = 10, excludeAdjacent = true).collect()
    assert(open.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "c")))
    // Close the triangle: (a,c) is now an existing edge, so nothing
    // is left to predict.
    val closed = sym ++ Seq(("a", "c"), ("c", "a"))
    assert(Graph.adamicAdar(closed.toDF("s", "z"), "s", "z",
      maxDegree = 10, excludeAdjacent = true).count() == 0L)
  }

  test("modularity: two clean triangles score exactly 1/2") {
    // The textbook case: communities {1,2,3} and {4,5,6}, all six
    // edges within — m = 6, Σm_c = 6, every degree 2 ⇒ d_c = 6 each,
    // Q = (4·6·6 − 72)/(4·36) = 1/2.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 0L),
      (4L, 1L), (5L, 1L), (6L, 1L)).toDF("node", "lbl")
    val r = Graph.modularity(edges, "a", "b", labels, "node", "lbl")
      .collect().head
    assert(r.getAs[Long]("n_edges") == 6L)
    assert(r.getAs[Long]("n_within") == 6L)
    assert(r.getAs[Long]("q_micro") == 500000L)
  }

  test("modularity: one-community partition scores 0; cross edge drops Q") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val one = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("node", "lbl")
    // all edges within one community: Q = m/m − (2m/2m)² = 0
    val r0 = Graph.modularity(edges, "a", "b", one, "node", "lbl")
      .collect().head
    assert(r0.getAs[Long]("q_micro") == 0L)
    // splitting a triangle across labels goes NEGATIVE (worse than
    // chance), and self-loops/unlabeled nodes are dropped
    val split = Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("node", "lbl")
    val withJunk = edges.union(Seq((2L, 2L), (9L, 1L)).toDF("a", "b"))
    val r1 = Graph.modularity(withJunk, "a", "b", split, "node", "lbl")
      .collect().head
    assert(r1.getAs[Long]("n_edges") == 3L)
    assert(r1.getAs[Long]("q_micro") < 0L)
  }

  test("jaccardLinkPredict: capped universe feeds numerator AND degrees") {
    // a1~{z1,z2,z3,zh}, a2~{z2,z3,z4,zh}, a3~{z9,zh}; hub zh deg 3.
    val edges = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 99L),
      (2L, 20L), (2L, 30L), (2L, 40L), (2L, 99L),
      (3L, 50L), (3L, 99L)).toDF("s", "z")
    // cap 2 drops zh everywhere: common(a1,a2)=2, deg 3/3 -> J=0.5
    val capped = Graph.jaccardLinkPredict(edges, "s", "z",
        maxDegree = 2, minCommon = 2).collect()
    assert(capped.length == 1)
    assert(capped.head.getAs[Long]("common_neighbors") == 2L)
    assert(capped.head.getAs[Long]("deg_a") == 3L)
    assert(capped.head.getAs[Long]("jaccard_micro") == 500000L)
    // cap 10 keeps zh: common 3, deg 4/4 -> J = 3/5; a3 pairs appear
    // at minCommon=1 through the hub alone
    val open = Graph.jaccardLinkPredict(edges, "s", "z",
        maxDegree = 10, minCommon = 1).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r).toMap
    assert(open((1L, 2L)).getAs[Long]("jaccard_micro") == 600000L)
    assert(open((1L, 3L)).getAs[Long]("common_neighbors") == 1L)
    assert(open.size == 3)
  }

  test("communityQuality + mergeGain: bridged triangles, identity vol = 2e+cut") {
    // two triangles joined by one bridge; an isolated node in label 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 0L), (2L, 0L), (3L, 0L),
      (4L, 1L), (5L, 1L), (6L, 1L), (9L, 2L)).toDF("node", "lbl")
    val q = Graph.communityQuality(edges, "a", "b", labels,
        "node", "lbl")
      .collect().map(r => r.getAs[Long]("lbl") -> r).toMap
    Seq(0L, 1L).foreach { l =>
      assert(q(l).getAs[Long]("n_nodes") == 3L)
      assert(q(l).getAs[Long]("e_in") == 3L)
      assert(q(l).getAs[Long]("volume") == 7L)
      assert(q(l).getAs[Long]("cut") == 1L)
      // φ = 1 / min(7, 14−7) = 1/7
      assert(q(l).getAs[Long]("conductance_micro") == 142857L)
      assert(q(l).getAs[Long]("volume") ==
        2 * q(l).getAs[Long]("e_in") + q(l).getAs[Long]("cut"))
    }
    assert(q(2L).getAs[Long]("n_nodes") == 1L)
    assert(q(2L).getAs[Long]("volume") == 0L)
    assert(q(2L).isNullAt(q(2L).fieldIndex("conductance_micro")))

    val g = Graph.mergeGain(edges, "a", "b", labels, "node", "lbl")
      .collect()
    // only the bridged pair is a candidate; merging two good
    // communities is a LOSS: ΔQ = (2·7·1 − 7·7)/(2·49) = −35/98
    assert(g.length == 1)
    assert(g.head.getAs[Long]("label_a") == 0L)
    assert(g.head.getAs[Long]("label_b") == 1L)
    assert(g.head.getAs[Long]("e_between") == 1L)
    assert(g.head.getAs[Long]("dq_micro") == -357143L)
  }

  test("assortativity: star is -1, regular graph is NULL, orientation dedup") {
    // K1,3: every edge joins deg 3 to deg 1 -> r = -1 exactly
    val star = Seq((1L, 2L), (1L, 3L), (4L, 1L)).toDF("a", "b")
    val r1 = Graph.assortativity(star, "a", "b").collect().head
    assert(r1.getAs[Long]("n_edges") == 3L)
    assert(r1.getAs[Long]("n_nodes") == 4L)
    assert(r1.getAs[Long]("r_micro") == -1000000L)
    // triangle: degree-regular -> zero variance -> NULL; duplicate
    // and reversed edges collapse before the census
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("a", "b")
    val r2 = Graph.assortativity(tri, "a", "b").collect().head
    assert(r2.getAs[Long]("n_edges") == 3L)
    assert(r2.isNullAt(r2.fieldIndex("r_micro")))
  }

  test("clusteringCoefficients: triangle corner 1/3, leaf NULL, closed pair 1") {
    // triangle 1-2-3 plus pendant 4 hanging off node 1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
      .toDF("s", "d")
    val got = Graph.clusteringCoefficients(edges, "s", "d").collect()
      .map(r => r.getAs[Long]("node") -> r).toMap
    assert(got(1L).getAs[Long]("degree") == 3L)
    assert(got(1L).getAs[Long]("n_triangles") == 1L)
    assert(got(1L).getAs[Long]("coef_micro") == 333333L)
    Seq(2L, 3L).foreach { n =>
      assert(got(n).getAs[Long]("coef_micro") == 1000000L) }
    assert(got(4L).getAs[Long]("n_triangles") == 0L)
    assert(got(4L).isNullAt(got(4L).fieldIndex("coef_micro")))
  }

  test("neighborhoodFunction + hyperBall: path graph, LC exactness") {
    import org.apache.spark.sql.functions.{col, sum}
    // Directed path 1->2->3->4: N(0)=4, N(1)=7, N(2)=9.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val nf = Graph.neighborhoodFunction(e, "s", "d", 2)
      .collect().map(r => r.getAs[Long]("r") -> r.getAs[Long]("n_pairs"))
      .toMap
    assert(nf == Map(0L -> 4L, 1L -> 7L, 2L -> 9L))
    // HyperBall with linear-counting: every radius-0 ball is a
    // singleton -> estimate exactly 1 per node; deeper balls stay
    // within a register collision of exact on 4 nodes.
    val hb = Graph.hyperBall(e, "s", "d", 2)
      .groupBy(col("r")).agg(sum(col("reach_est")).as("s"))
      .collect().map(r => r.getAs[Long]("r") -> r.getAs[Long]("s"))
      .toMap
    assert(hb(0L) == 4L)
    assert(math.abs(hb(1L) - 7L) <= 2L, s"r1 ${hb(1L)}")
    assert(math.abs(hb(2L) - 9L) <= 2L, s"r2 ${hb(2L)}")
  }

  test("neighborhoodFunction: empty edge set yields zero counts, no crash") {
    val empty = Seq.empty[(Long, Long)].toDF("s", "d")
    val out = Graph.neighborhoodFunction(empty, "s", "d", maxR = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }
}
