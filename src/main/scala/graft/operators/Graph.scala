package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph analytics over edge tables — the crawl-prioritization
  * layer of a web-scale corpus pipeline: given the page/link (or
  * near-dup-similarity) graph, score nodes by centrality so the
  * crawler fetches — and the cleaner keeps — the best-connected
  * content first.
  */
object Graph {

  /** Per-node triangle counts over the undirected graph — the local
    * clustering signal: in a near-dup candidate graph, high triangle
    * density marks genuine duplicate CLUSTERS (mirrors of mirrors)
    * where isolated candidate edges are often hash noise; in a link
    * graph it separates communities from crawler traps.
    *
    * Degree-ordered wedge join (Cohen 2009's MapReduce orientation;
    * the shape GraphX/Trino use): every undirected edge orients from
    * its (degree, id)-smaller endpoint to the larger, wedges
    * enumerate per shared SOURCE node, and a wedge (x→y, x→z) with
    * y ≺ z closes into a triangle iff the oriented edge y→z exists —
    * every triangle found exactly once, at its (degree, id)-minimum
    * corner. Output: (node, n_triangles), nodes in no triangle
    * absent. The oriented edge set is pinned once ([[Dedup.truncate]])
    * — it is referenced three times (both wedge sides + the closing
    * join) and the upstream edge pipeline must not run three times.
    *
    * Scale: the orientation bounds every out-degree by ~√(2|E|)
    * (a node keeps an out-edge only toward HIGHER-degree neighbors,
    * and there can only be √(2|E|) nodes of degree ≥ √(2|E|)), so the
    * wedge census Σ outdeg(v)² is O(|E|^1.5) on ANY degree
    * distribution — where id-canonical orientation lets a low-id
    * celebrity hub keep its full degree and a single skewed node costs
    * Σdeg² ≈ deg(hub)². The price is one degree pre-pass (a map-side
    * combinable hash-agg) and two node-keyed equi-joins to attach
    * endpoint degrees — all shuffle-bounded on graph keys. Self-loops
    * are dropped; parallel edges collapse. */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val o = Dedup.truncate(orientedEdges(edges, srcCol, dstCol))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"),
        col("e2.dst").as("z"))
    wedges
      .join(o.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Adamic–Adar / common-neighbor affinity between same-side nodes
    * that share neighbors — the classic link-prediction score (Adamic
    * & Adar 2003): pairs sharing RARE neighbors score higher than
    * pairs sharing hubs, because each shared neighbor z contributes
    * 1/ln(deg z), not 1. On a bipartite edge table (order→part,
    * user→item, doc→fingerprint) it scores same-side pairs by their
    * shared other-side neighbors; on a unipartite graph pass the
    * SYMMETRIZED edge list and set `excludeAdjacent` to keep only
    * genuinely-new candidate links.
    *
    * Each neighbor's term is quantized once — round(1e12 /
    * round(1e6·ln(deg z))) = micro-units of 1/ln(deg z), two single
    * IEEE steps over exact integers — and pair scores are order-free
    * integer sums of those terms, so results are bit-stable under any
    * partitioning. A degree-1 neighbor cannot be shared (it has one
    * edge), so ln's zero at deg = 1 is structurally unreachable; the
    * filter keeps deg ≥ 2 anyway as defense.
    *
    * Scale: wedge enumeration through the shared neighbor is the
    * classic deg² blowup — `maxDegree` is the explicit skew guard
    * (drop hub neighbors entirely: a part in half the orders tells
    * you nothing about any specific pair, the exact analogue of a
    * stop-word/df cap). With the cap, wedge count ≤ |Z|·maxDegree²/2
    * via one equi-join on z — never node×node. `minCommon` bounds the
    * output (1-common-neighbor pairs are mostly noise at corpus
    * scale). Output: (a, b, common_neighbors, aa_micro), a < b. */
  def adamicAdar(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxDegree: Int,
      minCommon: Int = 1,
      excludeAdjacent: Boolean = false): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    // Lazy pin (r19): e is referenced by the degree census and the
    // wedge join; neither consumer needs materialized stats (the
    // wedge self-join reuses one exchange on __z), so the eager
    // checkpoint job was pure overhead — measured −15% on q221/q227.
    val e = Dedup.truncateLazy(edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__z")).distinct())
    val zterm = e.groupBy(col("__z")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= 2L && col("__d") <= maxDegree.toLong)
      .select(col("__z"), round(lit(1e12) /
        round(lit(1e6) * log(col("__d").cast("double"))))
        .cast("long").as("__aa"))
    val l = e.join(zterm, Seq("__z"))
    val scored = l.as("wa").join(l.as("wb"),
        col("wa.__z") === col("wb.__z") && col("wa.__s") < col("wb.__s"))
      .select(col("wa.__s").as("a"), col("wb.__s").as("b"),
        col("wa.__aa").as("__aa"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("__aa")).as("aa_micro"))
      .filter(col("common_neighbors") >= minCommon.toLong)
    if (!excludeAdjacent) scored
    else scored.join(
      e.select(col("__s").as("a"), col("__z").as("b")),
      Seq("a", "b"), "left_anti")
  }

  /** Jaccard neighbor-overlap link prediction — [[adamicAdar]]'s
    * size-normalized sibling: J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)|,
    * the score to use when a pair's ABSOLUTE overlap matters less
    * than what fraction of their combined neighborhoods they share
    * (AA rewards many rare neighbors; Jaccard punishes large
    * one-sided neighborhoods). Both intersection AND degrees are
    * computed over the CAPPED neighbor universe (z with
    * deg(z) ≤ maxDegree) — the same hub exclusion as the wedge
    * guard, applied consistently to numerator and denominator so the
    * score stays a true Jaccard of the informative-neighbor sets
    * rather than mixing a capped intersection with uncapped unions.
    * Wedges ride one equi-join on z (≤ |Z|·maxDegree²/2 with the
    * cap); degrees are one node-sized census joined back twice; the
    * only float step is the final micro-rounded divide (denominator
    * ≥ common ≥ minCommon ≥ 1 by construction).
    * Output: (a, b, common_neighbors, deg_a, deg_b, jaccard_micro),
    * a < b. */
  def jaccardLinkPredict(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxDegree: Int,
      minCommon: Int = 1): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    // Lazy pin on e (r19) — the [[adamicAdar]] rationale. u stays
    // EAGER: it feeds the degree census AND both legs of the wedge
    // self-join, and a lazy u let those concurrent stages race to
    // compute it — q275 regressed in-suite (5.05 → 7.18 s once-run)
    // while the isolated number looked fine, the r18 q376 lesson
    // exactly.
    val e = Dedup.truncateLazy(edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__z")).distinct())
    val zu = e.groupBy(col("__z")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") <= maxDegree.toLong)
      .select(col("__z"))
    val u = Dedup.truncate(e.join(zu, Seq("__z")))
    val deg = u.groupBy(col("__s")).agg(count(lit(1)).as("deg"))
    val wedges = u.as("wa").join(u.as("wb"),
        col("wa.__z") === col("wb.__z") && col("wa.__s") < col("wb.__s"))
      .select(col("wa.__s").as("a"), col("wb.__s").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minCommon.toLong)
    wedges
      .join(deg.select(col("__s").as("a"), col("deg").as("deg_a")),
        Seq("a"))
      .join(deg.select(col("__s").as("b"), col("deg").as("deg_b")),
        Seq("b"))
      .select(col("a"), col("b"), col("common_neighbors"),
        col("deg_a"), col("deg_b"),
        round(lit(1e6) * col("common_neighbors").cast("double") /
          (col("deg_a") + col("deg_b") - col("common_neighbors"))
            .cast("double")).cast("long").as("jaccard_micro"))
  }

  /** The degree-ordered oriented edge set behind [[triangleCounts]]:
    * one row per undirected edge, oriented src → dst with
    * (deg(src), src) < (deg(dst), dst) lexicographically, plus the
    * destination's degree (`ddeg`) so downstream wedge enumeration
    * can compare (deg, id) without re-joining. Self-loops dropped,
    * parallel edges collapsed, degrees computed on the deduplicated
    * undirected graph. Exposed package-wide so tests can assert the
    * out-degree bound directly. Output: (src, dst, ddeg). */
  private[graft] def orientedEdges(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = Dedup.truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Node-sized degree table: attach via equi-joins (shuffle-bounded
    // on graph keys — NOT a broadcast, the node table scales with the
    // graph; AQE will still broadcast it when it is actually small).
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("__dega")),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__degb")),
        Seq("b"))
    // a < b by canonicalization, so a degree tie orients a → b and the
    // (deg, id) order stays total.
    val fwd = col("__dega") < col("__degb") || col("__dega") === col("__degb")
    withDeg.select(
      when(fwd, col("a")).otherwise(col("b")).as("src"),
      when(fwd, col("b")).otherwise(col("a")).as("dst"),
      when(fwd, col("__degb")).otherwise(col("__dega")).as("ddeg"))
  }

  /** PageRank in INTEGER micro-rank units — the crawl-frontier
    * priority score (and, over a near-dup candidate graph, a cluster-
    * centrality signal: the highest-rank member is the natural
    * canonical survivor).
    *
    * Classic damped PageRank, fixed `iters` rounds, all arithmetic on
    * scaled Longs: every node starts at `unit` (1e6 = one rank);
    * each round a node keeps base mass ((100−dampingPct)·unit)/100
    * and receives dampingPct% of Σ over in-edges of r(u) div
    * outdeg(u). Floor divisions leak mass deterministically (as does
    * dangling-node mass, which is not redistributed) — the RANKING
    * signal is unaffected, and in exchange every engine and every
    * partitioning computes bit-identical Longs: no IEEE
    * summation-order drift, which a double-valued PageRank cannot
    * promise under Spark's non-deterministic reduce order.
    *
    * Scale: per round one equi-join of the edge table against the
    * node-sized rank table on `srcCol` (the Pregel message shape —
    * shuffle-bounded on graph keys, AQE skew-splits celebrity hub
    * nodes) and one map-side-combinable inflow hash-agg on `dstCol`.
    * The rank lineage is truncated every round ([[Dedup.truncate]]),
    * so plans stay O(1) deep however many rounds run. Never
    * node×node.
    *
    * Output: (node, rank) — rank in micro-units; isolated semantics:
    * nodes appearing only as sources still receive the base mass,
    * nodes absent from the edge table are absent from the output
    * (score the disconnected remainder with the closed form
    * base-mass constant if needed). */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampingPct: Int = 85,
      unit: Long = 1000000L,
      driverCap: Long = 250000L): DataFrame =
    pageRankCore(edges.select(col(srcCol).as("__src"),
        col(dstCol).as("__dst"), lit(1L).as("__w")),
      iters, dampingPct, unit, withStats = false, driverCap)._1

  /** [[pageRank]] with each out-edge carrying an integer weight —
    * rank mass flows PROPORTIONALLY to the weight instead of evenly:
    * on a verified near-dup graph weighted by milli-Jaccard, a node's
    * centrality follows how SIMILAR its neighbors are, not merely how
    * many survived the band filter; on a link graph, link prominence.
    * Weights must be positive INTEGERS, small (≤ ~10⁶ — scale a
    * fractional score yourself, e.g. round(1000·jaccard), so the
    * quantization is an explicit modeling choice): the exact
    * floor(r·w/W) split used per edge keeps every intermediate under
    * 2⁶³ as long as a node's total weighted degree × its max weight
    * stays below ~9·10¹⁸. The positivity guard runs AFTER the long
    * cast — a fractional weight in (0, 1) would otherwise truncate
    * to a silent 0-mass edge — and rejects zero/NULL loudly: a
    * weightless edge is a modeling error, not a 0-mass edge (drop it
    * upstream instead). */
  def pageRankWeighted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int,
      dampingPct: Int = 85,
      unit: Long = 1000000L,
      driverCap: Long = 250000L): DataFrame = {
    val w = col(weightCol).cast("long")
    pageRankCore(edges.select(col(srcCol).as("__src"),
        col(dstCol).as("__dst"),
        coalesce(when(w > 0, w),
          raise_error(concat(lit("pageRankWeighted: non-positive (or " +
            "truncated-to-zero) weight "),
            col(weightCol).cast("string")))).as("__w")),
      iters, dampingPct, unit, withStats = false, driverCap)._1
  }

  /** [[pageRank]] with convergence telemetry: returns (ranks, rounds
    * actually run, final changed mass Σ|Δrank| in rank units). The
    * loop EARLY-EXITS on an exact integer fixpoint (changed mass 0):
    * the update is deterministic in the previous ranks, so identical
    * ranks reproduce themselves forever and the remaining rounds are
    * provably no-ops — the result equals the blind fixed-`iters` run
    * bit for bit. The changed-mass stat is the number to watch when
    * tuning `iters` at corpus scale (it decays geometrically at rate
    * ~dampingPct/100; integer quantization can floor it at a small
    * nonzero plateau, in which case the cap applies as before). */
  def pageRankConverged(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampingPct: Int = 85,
      unit: Long = 1000000L,
      driverCap: Long = 250000L): (DataFrame, Int, Long) =
    pageRankCore(edges.select(col(srcCol).as("__src"),
        col(dstCol).as("__dst"), lit(1L).as("__w")),
      iters, dampingPct, unit, withStats = true, driverCap)

  private def pageRankCore(
      edges: DataFrame,
      iters: Int,
      dampingPct: Int,
      unit: Long,
      withStats: Boolean,
      driverCap: Long = 250000L): (DataFrame, Int, Long) = {
    require(iters >= 1, "iters must be at least 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    require(unit > 0, "unit must be positive")
    // Pin the loop invariants ONCE: edges can sit on an expensive
    // upstream pipeline (q119's is the whole minhash-candidate build),
    // and every round references e / nodes / outw — without the
    // truncation each round's eager checkpoint would re-run that
    // pipeline several times over (the Spark twin of the oracle's
    // MATERIALIZED edges/nodes/outdeg CTEs).
    val e = Dedup.truncate(edges)
    val base0 = ((100L - dampingPct) * unit) / 100L
    // Driver fold: the floor-div mass split (rank div W)·w +
    // ((rank mod W)·w) div W is non-negative Long arithmetic — Spark
    // `div` equals Java `/` there — and inflow sums are order-free.
    val fold = DriverFold(driverCap, DriverFold.Input(e, Seq("__src", "__dst")))
    if (fold.isDefined) {
      val edgesL = fold.get.rows(0).map(r =>
        (r.get(0), r.get(1), r.getLong(2)))
      val nodesL: Array[Any] =
        (edgesL.map(_._1) ++ edgesL.map(_._2)).distinct
      val wsum = new java.util.HashMap[Any, java.lang.Long]()
      edgesL.foreach { case (u, _, w) =>
        wsum.put(u, if (wsum.containsKey(u)) wsum.get(u) + w else w) }
      var rankM = new java.util.HashMap[Any, java.lang.Long]()
      nodesL.foreach(n => rankM.put(n, unit))
      var rounds = 0
      var mass = -1L
      while (rounds < iters && mass != 0L) {
        val inflow = new java.util.HashMap[Any, java.lang.Long]()
        edgesL.foreach { case (u, v, w) =>
          val r = rankM.get(u).longValue
          val ws = wsum.get(u).longValue
          val in = (r / ws) * w + ((r % ws) * w) / ws
          inflow.put(v,
            if (inflow.containsKey(v)) inflow.get(v) + in else in)
        }
        val next = new java.util.HashMap[Any, java.lang.Long]()
        var m = 0L
        nodesL.foreach { n =>
          val in = if (inflow.containsKey(n)) inflow.get(n).longValue
            else 0L
          val nr = base0 + (dampingPct * in) / 100L
          if (withStats) m += math.abs(nr - rankM.get(n).longValue)
          next.put(n, nr)
        }
        if (withStats) mass = m
        rankM = next
        rounds += 1
      }
      val spark = edges.sparkSession
      val idType = e.schema("__src").dataType
      val rows = nodesL.toSeq.map(n =>
        org.apache.spark.sql.Row(n, rankM.get(n).longValue))
      return (DriverFold.frame(spark, rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", idType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType)))),
        rounds, math.max(mass, 0L))
    }
    val nodes = Dedup.truncate(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct())
    val outw = Dedup.truncate(
      e.groupBy(col("__src")).agg(sum(col("__w")).as("__wsum")))
    val base = ((100L - dampingPct) * unit) / 100L
    var ranks = Dedup.truncate(
      nodes.select(col("node"), lit(unit).as("rank")))
    var rounds = 0
    var mass = -1L
    while (rounds < iters && mass != 0L) {
      val inflow = e
        .join(ranks.select(col("node").as("__src"), col("rank")),
          Seq("__src"))
        .join(outw, Seq("__src"))
        // Exact floor(r·w / W) without the r·w overflow:
        // (r div W)·w + ((r mod W)·w) div W. In the unweighted case
        // (w ≡ 1, W = deg) this reduces to r div deg. `div`, not `/`:
        // Spark's Divide on Longs returns DOUBLE — the IEEE drift
        // this whole design exists to exclude.
        .groupBy(col("__dst").as("node"))
        .agg(sum(expr("(rank div __wsum) * __w + " +
          "((rank % __wsum) * __w) div __wsum")).as("__in"))
      // Joining the PREVIOUS ranks (same node set as `nodes`) carries
      // the old rank alongside, so the changed-mass census is part of
      // the same truncated round frame, not an extra join.
      val next = Dedup.truncate(
        ranks.join(inflow, Seq("node"), "left")
          .select(col("node"), col("rank").as("__old"),
            expr(s"${base}L + (${dampingPct}L * coalesce(__in, 0L)) " +
              "div 100").as("rank")))
      // The stat costs one agg action per round; skip it entirely for
      // the blind fixed-iters form so its per-round plan is unchanged.
      if (withStats) {
        val m = next.agg(sum(abs(col("rank") - col("__old")))).head()
        mass = if (m.isNullAt(0)) 0L else m.getLong(0) // null = empty graph
      }
      ranks = next.drop("__old")
      rounds += 1
    }
    (ranks, rounds, math.max(mass, 0L))
  }

  /** Community detection by synchronous label propagation (Raghavan
    * 2007's LPA), fixed `iters` rounds, fully deterministic: every
    * node starts labeled with itself; each round every node adopts
    * the MOST FREQUENT label among its neighbors, ties broken by the
    * smallest label. Where [[Dedup.connectedComponents]] answers "is
    * there any path" (one label per component however tenuous the
    * bridge), LPA answers "where does the density live": a thin
    * bridge between two near-dup cliques cannot outvote either
    * clique, so the cliques keep distinct labels — the
    * crawler-trap-vs-community split a dedup census wants.
    *
    * Synchronous update + deterministic tie-break means no randomized
    * sweep order (the classic LPA's nondeterminism) — a fixed-round
    * run is bit-reproducible in any engine, at the cost of possible
    * 2-cycles on bipartite-ish structure; pick `iters` accordingly
    * (communities on near-dup graphs settle in a handful of rounds).
    *
    * Scale: per round, one equi-join of the symmetric edge table
    * against the node-sized label table (Pregel message shape,
    * shuffle-bounded on graph keys) and two map-side-combinable
    * hash-aggs — vote counts keyed (node, label), then the argmin-by
    * (-count, label) winner per node, whose agg state is one struct
    * per node however hot the hub. Edge and label lineage truncate
    * every round ([[Dedup.truncate]]) so plans stay O(1) deep. Never
    * node×node.
    *
    * Output: (node, label) — label is the adopted community
    * representative, same type as the node ids; isolated nodes
    * (absent from the edge table) are absent. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      driverCap: Long = 250000L): DataFrame =
    lpaCore(edges, srcCol, dstCol, iters, withStats = false,
      driverCap)._1

  /** [[labelPropagation]] with the rounds-actually-run count: the
    * loop EARLY-EXITS when a round changes no label — the synchronous
    * update is a deterministic function of the previous labels, so an
    * unchanged round reproduces itself forever and the remaining
    * rounds are provably no-ops (the result equals the blind
    * fixed-`iters` run exactly). `iters` is thus a CAP, which the
    * possible 2-cycles on bipartite-ish structure still need; the
    * changed-label census piggybacks on the round's truncated frame
    * (same pattern as [[Dedup.connectedComponents]]'s moved count).
    * The census is one eager agg action per round, so — exactly like
    * [[pageRankConverged]] vs [[pageRank]] — only THIS form pays it;
    * the blind fixed-`iters` form skips the stat entirely and its
    * per-round plan carries no extra action. */
  def labelPropagationConverged(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      driverCap: Long = 250000L): (DataFrame, Int) =
    lpaCore(edges, srcCol, dstCol, iters, withStats = true,
      driverCap)

  /** k-core peel, fixed `iters` rounds: repeatedly delete every node
    * whose degree in the SURVIVING subgraph is below `k` (Seidman
    * 1983; the standard crawl-graph / near-dup-graph pruning — a
    * k-core member has k neighbors that each have k neighbors …, so
    * spam farms and crawler tails peel away while genuinely dense
    * cores survive). Synchronous rounds, so the result is a pure
    * function of the input — bit-reproducible in any engine, no peel
    * order.
    *
    * `iters` caps the cascade (a chain peels one node per round); the
    * true k-core is the fixpoint — use [[kCoreConverged]], which
    * early-exits when a round deletes nothing, for that. Output:
    * (node, core_deg) — the degree census over the surviving edge
    * set, i.e. the NEXT round's first half; at the fixpoint every
    * core_deg ≥ k by definition. Nodes stripped of all edges vanish
    * (they would peel next round anyway).
    *
    * Scale: per round one explode + map-side-combinable degree
    * hash-agg and two node-keyed equi-joins to drop edges with a
    * peeled endpoint — shuffle-bounded on graph keys, never
    * node×node; edge lineage truncates every round
    * ([[Dedup.truncate]]) so plans stay O(1) deep. Same round shape
    * as [[labelPropagation]]. Self-loops dropped, parallel edges
    * collapsed. */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      iters: Int,
      driverCap: Long = 250000L): DataFrame =
    kCoreCore(edges, srcCol, dstCol, k, iters, withStats = false,
      driverCap)._1

  /** [[kCore]] run to the fixpoint (capped at `iters` rounds), with
    * the rounds-actually-run count: a round that peels no node
    * reproduces itself forever, so the loop early-exits there and the
    * result equals the blind fixed-`iters` run with `iters` = ∞. The
    * peel census is one agg action per round, so — exactly like
    * [[pageRankConverged]] / [[labelPropagationConverged]] — only
    * this form pays it. */
  def kCoreConverged(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      iters: Int,
      driverCap: Long = 250000L): (DataFrame, Int) =
    kCoreCore(edges, srcCol, dstCol, k, iters, withStats = true,
      driverCap)

  private def kCoreCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      iters: Int,
      withStats: Boolean,
      driverCap: Long = 250000L): (DataFrame, Int) = {
    require(k >= 1, "k must be at least 1")
    require(iters >= 1, "iters must be at least 1")
    var e = Dedup.truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // Driver fold: peeling is integer degree counting over a shrinking
    // edge set; early exit and round count as in the loop below.
    val fold = DriverFold(driverCap, DriverFold.Input(e, Seq("a", "b")))
    if (fold.isDefined) {
      var edgesL = fold.get.rows(0).map(r => (r.get(0), r.get(1))).toSeq
      var rounds = 0
      var removed = -1L
      def degreesOf(es: Seq[(Any, Any)])
          : java.util.HashMap[Any, java.lang.Long] = {
        val d = new java.util.HashMap[Any, java.lang.Long]()
        es.foreach { case (a, b) =>
          d.put(a, if (d.containsKey(a)) d.get(a) + 1L else 1L)
          d.put(b, if (d.containsKey(b)) d.get(b) + 1L else 1L)
        }
        d
      }
      while (rounds < iters && removed != 0L) {
        val deg = degreesOf(edgesL)
        if (withStats) {
          var rm = 0L
          val it = deg.values().iterator()
          while (it.hasNext) if (it.next().longValue < k) rm += 1L
          removed = rm
        }
        edgesL = edgesL.filter { case (a, b) =>
          deg.get(a) >= k && deg.get(b) >= k }
        rounds += 1
      }
      val core = degreesOf(edgesL)
      val spark = edges.sparkSession
      val idType = e.schema("a").dataType
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      val it = core.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        rows += org.apache.spark.sql.Row(en.getKey,
          en.getValue.longValue)
      }
      return (DriverFold.frame(spark, rows.toSeq,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", idType),
          org.apache.spark.sql.types.StructField("core_deg",
            org.apache.spark.sql.types.LongType)))), rounds)
    }
    var rounds = 0
    var removed = -1L
    while (rounds < iters && removed != 0L) {
      // The degree census is pinned ONCE per round: keep's two join
      // probes and the converged-mode peel count all read the same
      // checkpointed frame — without this, withStats re-ran the whole
      // explode+agg a second time every round just to count peels.
      val deg = Dedup.truncate(
        e.select(explode(array(col("a"), col("b"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("deg")))
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      if (withStats)
        removed = deg.filter(col("deg") < k).count()
      e = Dedup.truncate(
        e.join(keep.select(col("node").as("a")), Seq("a"))
          .join(keep.select(col("node").as("b")), Seq("b"))
          .select(col("a"), col("b")))
      rounds += 1
    }
    val core = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
    (core, rounds)
  }

  private def lpaCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      withStats: Boolean,
      driverCap: Long = 250000L): (DataFrame, Int) = {
    require(iters >= 1, "iters must be at least 1")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val e = Dedup.truncate(
      und.select(col("a").as("x"), col("b").as("y"))
        .union(und.select(col("b").as("x"), col("a").as("y"))))
    // Driver fold: labels are node ids, so the (−count, label)
    // tie-break takes the fold's order; early exit and round count as
    // in the loop below.
    val fold = DriverFold(driverCap, DriverFold.Input(e, Seq("x", "y")))
    if (fold.isDefined) {
      val cmp = fold.get.order
      val edgesL = fold.get.rows(0).map(r => (r.get(0), r.get(1)))
      val nodesL: Array[Any] = edgesL.map(_._1).distinct
      var labM = new java.util.HashMap[Any, Any]()
      nodesL.foreach(n => labM.put(n, n))
      var rounds = 0
      var changed = -1L
      while (rounds < iters && changed != 0L) {
        val votes =
          new java.util.HashMap[Any, java.util.HashMap[Any, java.lang.Long]]()
        edgesL.foreach { case (x, y) =>
          val ly = labM.get(y)
          var m = votes.get(x)
          if (m == null) {
            m = new java.util.HashMap[Any, java.lang.Long]()
            votes.put(x, m)
          }
          m.put(ly, if (m.containsKey(ly)) m.get(ly) + 1L else 1L)
        }
        val next = new java.util.HashMap[Any, Any]()
        var ch = 0L
        nodesL.foreach { n =>
          val m = votes.get(n)
          val w = if (m == null) labM.get(n)
          else {
            var bestL: Any = null
            var bestC = -1L
            val it = m.entrySet().iterator()
            while (it.hasNext) {
              val en = it.next()
              val c = en.getValue.longValue
              if (c > bestC ||
                  (c == bestC && cmp.compare(en.getKey, bestL) < 0)) {
                bestC = c; bestL = en.getKey
              }
            }
            bestL
          }
          if (withStats && w != labM.get(n)) ch += 1L
          next.put(n, w)
        }
        if (withStats) changed = ch
        labM = next
        rounds += 1
      }
      val spark = edges.sparkSession
      val idType = e.schema("x").dataType
      val rows = nodesL.toSeq.map(n =>
        org.apache.spark.sql.Row(n, labM.get(n)))
      return (DriverFold.frame(spark, rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", idType),
          org.apache.spark.sql.types.StructField("label", idType)))),
        rounds)
    }
    var labels = Dedup.truncate(
      e.select(col("x").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
    var rounds = 0
    var changed = -1L
    while (rounds < iters && changed != 0L) {
      val votes = e
        .join(labels.select(col("node").as("y"), col("label")), Seq("y"))
        .groupBy(col("x"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // Winner = min over (−count, label): most votes first, smallest
      // label on ties — the same struct-ordered min_by idiom as the
      // kNN tie-break, one struct of agg state per node.
      val winners = votes.groupBy(col("x").as("node"))
        .agg(min_by(col("label"),
          struct((-col("__c")).as("nc"), col("label"))).as("__w"))
      // Every node has ≥1 neighbor by construction (nodes come from
      // the edge table), so the left join is belt-and-braces for the
      // empty-votes case only.
      val next = Dedup.truncate(
        labels.join(winners, Seq("node"), "left")
          .select(col("node"), col("label").as("__old"),
            coalesce(col("__w"), col("label")).as("label")))
      if (withStats)
        changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.drop("__old")
      rounds += 1
    }
    (labels, rounds)
  }

  /** Seed-personalized PageRank in integer micro-units — the
    * TrustRank shape (Gyöngyi 2004): restart mass goes ONLY to the
    * seed set, so rank measures proximity-weighted reachability FROM
    * trusted nodes, and spam farms that inflate vanilla PageRank by
    * linking among themselves score ~0 unless a seed path reaches
    * them. The crawl use: seed = hand-vetted domains, rank =
    * crawl-priority / spam-demotion signal.
    *
    * Same fixed-`iters` damped rounds and exact Long arithmetic as
    * [[pageRank]] (floor-div mass splitting, deterministic leak, no
    * IEEE drift), differing only in the base term: seeds get
    * ((100−dampingPct)·unit)/100 per round, non-seeds 0, and r₀ is
    * `unit` on seeds / 0 elsewhere. Off-graph seeds still hold their
    * base+restart mass (they are real trusted nodes with no observed
    * links yet). Scale: identical per-round join/agg shape to
    * [[pageRank]] — one edge⋈rank equi-join + one inflow hash-agg,
    * lineage truncated per round; the seed flag rides the node table.
    *
    * Output: (node, rank) with rank ≥ 0; nodes unreachable from any
    * seed hold rank 0. */
  def pageRankSeeded(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iters: Int,
      dampingPct: Int = 85,
      unit: Long = 1000000L,
      driverCap: Long = 250000L): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    require(unit > 0, "unit must be positive")
    val e = Dedup.truncate(
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull)
        .distinct())
    val sd = Dedup.truncate(
      seeds.select(col(seedCol).as("node")).filter(col("node").isNotNull)
        .distinct())
    // Driver fold: exact Long floor-divisions and sums over
    // non-negative values, where Spark's `div` equals Java `/`.
    val fold = DriverFold(driverCap,
      DriverFold.Input(e, Seq("__src", "__dst")),
      DriverFold.Input(sd, Seq("node")))
    if (fold.isDefined) {
      val edgesL = fold.get.rows(0).map(r => (r.get(0), r.get(1)))
      val seedsL = fold.get.rows(1).map(_.get(0))
      val nodesL: Array[Any] =
        (edgesL.map(_._1) ++ edgesL.map(_._2) ++ seedsL).distinct
      val seedSet = new java.util.HashSet[Any]()
      seedsL.foreach(seedSet.add)
      val outdeg = new java.util.HashMap[Any, java.lang.Long]()
      edgesL.foreach { case (u, _) =>
        outdeg.put(u, if (outdeg.containsKey(u)) outdeg.get(u) + 1L
          else 1L) }
      val base = ((100L - dampingPct) * unit) / 100L
      var rankM = new java.util.HashMap[Any, java.lang.Long]()
      nodesL.foreach(n =>
        rankM.put(n, if (seedSet.contains(n)) unit else 0L))
      var round = 0
      while (round < iters) {
        val inflow = new java.util.HashMap[Any, java.lang.Long]()
        edgesL.foreach { case (u, v) =>
          val in = rankM.get(u).longValue / outdeg.get(u).longValue
          inflow.put(v,
            if (inflow.containsKey(v)) inflow.get(v) + in else in)
        }
        val next = new java.util.HashMap[Any, java.lang.Long]()
        nodesL.foreach { n =>
          val in = if (inflow.containsKey(n)) inflow.get(n).longValue
            else 0L
          val b = if (seedSet.contains(n)) base else 0L
          next.put(n, b + (dampingPct * in) / 100L)
        }
        rankM = next
        round += 1
      }
      val spark = edges.sparkSession
      val idType = e.schema("__src").dataType
      val rows = nodesL.toSeq.map(n =>
        org.apache.spark.sql.Row(n, rankM.get(n).longValue))
      return DriverFold.frame(spark, rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", idType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType))))
    }
    val nodes = Dedup.truncate(
      e.select(col("__src").as("node"))
        .union(e.select(col("__dst").as("node")))
        .union(sd.select(col("node")))
        .distinct()
        .join(sd.select(col("node"), lit(true).as("__seed")),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__seed"), lit(false)).as("__seed")))
    val outdeg = Dedup.truncate(
      e.groupBy(col("__src")).agg(count(lit(1)).as("__deg")))
    val base = ((100L - dampingPct) * unit) / 100L
    var ranks = Dedup.truncate(nodes.select(col("node"), col("__seed"),
      when(col("__seed"), unit).otherwise(0L).as("rank")))
    var round = 0
    while (round < iters) {
      val inflow = e
        .join(ranks.select(col("node").as("__src"), col("rank")),
          Seq("__src"))
        .join(outdeg, Seq("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(expr("rank div __deg")).as("__in"))
      ranks = Dedup.truncate(
        ranks.select(col("node"), col("__seed"))
          .join(inflow, Seq("node"), "left")
          .select(col("node"), col("__seed"),
            (when(col("__seed"), base).otherwise(0L) +
              expr(s"(${dampingPct}L * coalesce(__in, 0L)) div 100"))
              .as("rank")))
      round += 1
    }
    ranks.select(col("node"), col("rank"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over the DIRECTED
    * link graph, fixed `iters` rounds, UNNORMALIZED integer
    * arithmetic: auth_k(v) = Σ over in-edges of hub_{k−1}(u), then
    * hub_k(u) = Σ over out-edges of auth_k(v), both from `unit` —
    * the directory-vs-content split PageRank's single score can't
    * express (a link-list page is a great hub and a terrible
    * authority; a cited leaf page the reverse).
    *
    * Dropping the classic L2 normalization is what makes the result
    * bit-reproducible across engines and partitionings (no IEEE
    * sqrt/division drift) — the RANKING is identical, because
    * normalization rescales every score by the same factor. The
    * price is growth: scores multiply by ≤ (max-in-degree ·
    * max-out-degree) per round, so `iters` must keep
    * unit · (dmax_in · dmax_out)^iters < 2⁶³ — ample for the 3-5
    * rounds rankings need on real link graphs (the caller of a
    * celebrity-hub graph rescales `unit` down).
    *
    * Scale: per round two equi-joins of the edge table against a
    * node-sized score table (one on src, one on dst) + two map-side-
    * combinable hash-aggs — the same Pregel message shape as
    * [[pageRank]]; lineage truncates every round, never node×node.
    *
    * Output: (node, hub, auth) — Longs in `unit` scale; nodes with no
    * in-edges hold auth 0, no out-edges hub 0 after round 1. */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      unit: Long = 1000000L,
      driverCap: Long = 250000L): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    require(unit > 0, "unit must be positive")
    val e = Dedup.truncate(
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull)
        .distinct())
    // Driver fold: unnormalized Long sums are order-free, and Java long
    // addition wraps like Spark's non-ANSI sum if `iters` overflows.
    val fold = DriverFold(driverCap, DriverFold.Input(e, Seq("__src", "__dst")))
    if (fold.isDefined) {
      val edgesL = fold.get.rows(0).map(r => (r.get(0), r.get(1)))
      val nodesL: Array[Any] =
        (edgesL.map(_._1) ++ edgesL.map(_._2)).distinct
      var hubM = new java.util.HashMap[Any, java.lang.Long]()
      nodesL.foreach(n => hubM.put(n, unit))
      var authM = new java.util.HashMap[Any, java.lang.Long]()
      var round = 0
      while (round < iters) {
        val na = new java.util.HashMap[Any, java.lang.Long]()
        nodesL.foreach(n => na.put(n, 0L))
        edgesL.foreach { case (u, v) =>
          na.put(v, na.get(v) + hubM.get(u)) }
        val nh = new java.util.HashMap[Any, java.lang.Long]()
        nodesL.foreach(n => nh.put(n, 0L))
        edgesL.foreach { case (u, v) =>
          nh.put(u, nh.get(u) + na.get(v)) }
        authM = na
        hubM = nh
        round += 1
      }
      val spark = edges.sparkSession
      val idType = e.schema("__src").dataType
      val rows = nodesL.toSeq.map(n =>
        org.apache.spark.sql.Row(n, hubM.get(n).longValue,
          authM.get(n).longValue))
      return DriverFold.frame(spark, rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", idType),
          org.apache.spark.sql.types.StructField("hub",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("auth",
            org.apache.spark.sql.types.LongType))))
    }
    val nodes = Dedup.truncate(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct())
    var hub = Dedup.truncate(nodes.select(col("node"), lit(unit).as("hub")))
    // auth has no round-0 value: iters >= 1 and each round derives
    // auth from the previous hubs before anything reads it.
    var auth: DataFrame = null
    var round = 0
    while (round < iters) {
      auth = Dedup.truncate(
        nodes.join(
            e.join(hub.select(col("node").as("__src"), col("hub")),
                Seq("__src"))
              .groupBy(col("__dst").as("node"))
              .agg(sum(col("hub")).as("__a")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("__a"), lit(0L)).as("auth")))
      hub = Dedup.truncate(
        nodes.join(
            e.join(auth.select(col("node").as("__dst"), col("auth")),
                Seq("__dst"))
              .groupBy(col("__src").as("node"))
              .agg(sum(col("auth")).as("__h")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("__h"), lit(0L)).as("hub")))
      round += 1
    }
    hub.join(auth, Seq("node"))
  }

  /** Semi-supervised label spreading (Zhu 2002's label propagation
    * with CLAMPED seeds — the transductive classifier, distinct from
    * [[labelPropagation]]'s unsupervised community detection): a
    * small hand-labeled seed set pushes its labels outward over the
    * undirected graph; each round every non-seed node adopts the
    * majority label among its LABELED neighbors (ties → smallest
    * label), keeps its previous label when no neighbor is labeled
    * yet, and seeds never change (the clamp — without it the
    * supervision washes out). The crawl/corpus use: spread
    * topic/quality/spam labels from a vetted seed list over the link
    * or similarity graph.
    *
    * Fully deterministic synchronous rounds — bit-reproducible in any
    * engine. Scale: per round one edge⋈labels equi-join (labeled
    * rows only) + two map-side-combinable hash-aggs, lineage
    * truncated — the [[labelPropagation]] round shape exactly; never
    * node×node.
    *
    * Output: (node, label, is_seed) after `iters` rounds; nodes no
    * labeled path reaches hold NULL label. Nodes appearing only in
    * `seeds` (no observed edges) are still emitted, clamped. */
  def labelSpread(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedNodeCol: String,
      seedLabelCol: String,
      iters: Int,
      driverCap: Long = 250000L): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val e = Dedup.truncate(
      und.select(col("a").as("x"), col("b").as("y"))
        .union(und.select(col("b").as("x"), col("a").as("y"))))
    val sd = Dedup.truncate(
      seeds.select(col(seedNodeCol).as("node"),
          col(seedLabelCol).as("__seed_label"))
        .filter(col("node").isNotNull && col("__seed_label").isNotNull)
        .groupBy(col("node"))
        .agg(min(col("__seed_label")).as("__seed_label")))
    // Driver fold: the vote census is integer counting and the winner
    // the (−count, label) argmin under the fold's order.
    val fold = DriverFold(driverCap,
      DriverFold.Input(e, Seq("x", "y")),
      DriverFold.Input(sd, Seq("node"), labels = Seq("__seed_label")))
    if (fold.isDefined) {
      val cmp = fold.get.order
      val edgesL = fold.get.rows(0).map(r => (r.get(0), r.get(1)))
      val seedL = fold.get.rows(1).map(r => (r.get(0), r.get(1)))
      val nodesL: Array[Any] =
        (edgesL.map(_._1) ++ seedL.map(_._1)).distinct
      val isSeed = new java.util.HashSet[Any]()
      var labM = new java.util.HashMap[Any, Any]()
      seedL.foreach { case (n, l) => isSeed.add(n); labM.put(n, l) }
      var round = 0
      while (round < iters) {
        val votes =
          new java.util.HashMap[Any, java.util.HashMap[Any, java.lang.Long]]()
        edgesL.foreach { case (x, y) =>
          val ly = labM.get(y)
          if (ly != null) {
            var m = votes.get(x)
            if (m == null) {
              m = new java.util.HashMap[Any, java.lang.Long]()
              votes.put(x, m)
            }
            m.put(ly, if (m.containsKey(ly)) m.get(ly) + 1L else 1L)
          }
        }
        val next = new java.util.HashMap[Any, Any]()
        nodesL.foreach { n =>
          if (isSeed.contains(n)) next.put(n, labM.get(n))
          else {
            val m = votes.get(n)
            if (m == null) {
              val old = labM.get(n)
              if (old != null) next.put(n, old)
            } else {
              var bestL: Any = null
              var bestC = -1L
              val it = m.entrySet().iterator()
              while (it.hasNext) {
                val en = it.next()
                val c = en.getValue.longValue
                if (c > bestC ||
                    (c == bestC && cmp.compare(en.getKey, bestL) < 0)) {
                  bestC = c; bestL = en.getKey
                }
              }
              next.put(n, bestL)
            }
          }
        }
        labM = next
        round += 1
      }
      val spark = edges.sparkSession
      val idType = e.schema("x").dataType
      val labType = sd.schema("__seed_label").dataType
      val rows = nodesL.toSeq.map(n =>
        org.apache.spark.sql.Row(n, labM.get(n), isSeed.contains(n)))
      return DriverFold.frame(spark, rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", idType),
          org.apache.spark.sql.types.StructField("label", labType),
          org.apache.spark.sql.types.StructField("is_seed",
            org.apache.spark.sql.types.BooleanType))))
    }
    var labels = Dedup.truncate(
      e.select(col("x").as("node")).distinct()
        .join(sd, Seq("node"), "full_outer")
        .select(col("node"), col("__seed_label").isNotNull.as("__is_seed"),
          col("__seed_label").as("label")))
    var round = 0
    while (round < iters) {
      val votes = e
        .join(labels.filter(col("label").isNotNull)
            .select(col("node").as("y"), col("label")), Seq("y"))
        .groupBy(col("x"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val winners = votes.groupBy(col("x").as("node"))
        .agg(min_by(col("label"),
          struct((-col("__c")).as("nc"), col("label"))).as("__w"))
      labels = Dedup.truncate(
        labels.join(winners, Seq("node"), "left")
          .select(col("node"), col("__is_seed"),
            when(col("__is_seed"), col("label"))
              .otherwise(coalesce(col("__w"), col("label"))).as("label")))
      round += 1
    }
    labels.select(col("node"), col("label"),
      col("__is_seed").as("is_seed"))
  }

  /** Minimum-hop BFS distance from a seed set over the DIRECTED edge
    * table — crawl depth: how many link hops a page sits from the
    * seed list, the standard frontier-scheduling / quality prior
    * (seed-near pages are crawled first and trusted more). Level-
    * synchronous frontier expansion, `maxHops` rounds: dist(seed)=0;
    * round k joins the hop-(k−1) frontier to the edge table and
    * keeps only destinations never reached before (left_anti against
    * the settled set), so every node settles at its TRUE minimum hop
    * the first time it appears — no min-relaxation pass needed, and
    * nodes beyond `maxHops` hops are absent (the caller's horizon).
    *
    * Scale: per round one equi-join frontier⋈edges on the source key
    * (frontier is a node-sized table, AQE broadcasts small ones) +
    * one distinct + one anti-join against the settled set — all
    * shuffle-bounded on graph keys, never node×node; frontier and
    * settled lineage truncate every round ([[Dedup.truncate]]) so
    * plans stay O(1) deep. An empty frontier makes remaining rounds
    * cheap no-ops; [[hopDistanceConverged]] early-exits instead.
    *
    * Output: (node, dist) — dist in [0, maxHops]; unreached nodes
    * absent; seeds not present in the graph still report dist 0
    * (they ARE the frontier's generation zero). */
  def hopDistance(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int,
      driverCap: Long = 250000L): DataFrame =
    hopDistanceCore(edges, srcCol, dstCol, seeds, seedCol, maxHops,
      withStats = false, driverCap)._1

  /** [[hopDistance]] with the rounds-actually-run count: the loop
    * early-exits when a round settles no new node (an empty frontier
    * stays empty forever, so the result equals the blind run). The
    * frontier census is one count action per round — exactly like
    * [[pageRankConverged]], only this form pays it. */
  def hopDistanceConverged(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int,
      driverCap: Long = 250000L): (DataFrame, Int) =
    hopDistanceCore(edges, srcCol, dstCol, seeds, seedCol, maxHops,
      withStats = true, driverCap)

  private def hopDistanceCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int,
      withStats: Boolean,
      driverCap: Long = 250000L): (DataFrame, Int) = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = Dedup.truncate(
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull)
        .distinct())
    val sd0 = Dedup.truncate(
      seeds.select(col(seedCol).as("node")).filter(col("node").isNotNull)
        .distinct())
    // Driver fold: BFS is set algebra; the stats-mode early exit and
    // round count as in the loop below.
    val fold = DriverFold(driverCap,
      DriverFold.Input(e, Seq("__src", "__dst")),
      DriverFold.Input(sd0, Seq("node")))
    if (fold.isDefined) {
      val adj = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
      fold.get.rows(0).foreach { r =>
        var l = adj.get(r.get(0))
        if (l == null) {
          l = new java.util.ArrayList[Any](); adj.put(r.get(0), l)
        }
        l.add(r.get(1))
      }
      val settled =
        new java.util.LinkedHashMap[Any, java.lang.Integer]()
      var frontierL: Array[Any] = fold.get.rows(1).map(_.get(0))
      frontierL.foreach(n => settled.put(n, 0))
      var rounds = 0
      var grew = -1L
      while (rounds < maxHops && grew != 0L) {
        val nextSet = new java.util.LinkedHashSet[Any]()
        frontierL.foreach { n =>
          val l = adj.get(n)
          if (l != null) {
            val it = l.iterator()
            while (it.hasNext) {
              val d = it.next()
              if (!settled.containsKey(d)) nextSet.add(d)
            }
          }
        }
        val next = nextSet.toArray.asInstanceOf[Array[AnyRef]]
          .map(_.asInstanceOf[Any])
        if (withStats) grew = next.length.toLong
        next.foreach(n => settled.put(n, rounds + 1))
        frontierL = next
        rounds += 1
      }
      val spark = edges.sparkSession
      val idType = e.schema("__src").dataType
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      val it = settled.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        rows += org.apache.spark.sql.Row(en.getKey,
          en.getValue.intValue)
      }
      return (DriverFold.frame(spark, rows.toSeq,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", idType),
          org.apache.spark.sql.types.StructField("dist",
            org.apache.spark.sql.types.IntegerType)))), rounds)
    }
    var frontier = Dedup.truncate(
      sd0.select(col("node"), lit(0).as("dist")))
    var settled = frontier
    var rounds = 0
    var grew = -1L
    while (rounds < maxHops && grew != 0L) {
      val next = Dedup.truncate(
        frontier.join(e.select(col("__src").as("node"), col("__dst")),
            Seq("node"))
          .select(col("__dst").as("node")).distinct()
          .join(settled.select(col("node")), Seq("node"), "left_anti")
          .select(col("node"), lit(rounds + 1).as("dist")))
      if (withStats) grew = next.count()
      settled = Dedup.truncate(settled.union(next))
      frontier = next
      rounds += 1
    }
    (settled, rounds)
  }

  /** Newman modularity of a labeled partition over an UNDIRECTED
    * simple edge list (distinct unordered pairs, self-loops dropped):
    * Q = Σ_c [ m_c/m − (d_c/2m)² ] — the "are these communities
    * better than chance" score that turns any labeling (LPA, CC, an
    * external clustering) into one auditable number. Algebra stays
    * integer to the last step: Q = (4·m·Σm_c − Σd_c²) / (4·m²) with
    * d_c counted as edge ENDPOINTS in c (no per-node degree table
    * needed), sums carried in DECIMAL(38,0), and ONE final divide
    * micro-rounded — bit-stable cross-engine.
    *
    * Scale: two broadcast-or-shuffle label attaches, one endpoint
    * explode, two scalar aggregates — no windows, no pairs. Nodes
    * missing from `labels` drop their edges (stated, not silent:
    * n_edges reflects only labeled edges). Output: one row
    * (n_edges, n_within, q_micro); an empty labeled edge set yields
    * NULL q_micro. */
  def modularity(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .filter(col("__a") =!= col("__b"))
    val lab = Dedup.truncate(e
      .join(labels.select(col(nodeCol).as("__a"),
        col(labelCol).as("__la")), Seq("__a"))
      .join(labels.select(col(nodeCol).as("__b"),
        col(labelCol).as("__lb")), Seq("__b")))
    val dec = "decimal(38,0)"
    val tot = lab.agg(count(lit(1)).as("n_edges"),
      sum(when(col("__la") === col("__lb"), 1L).otherwise(0L))
        .as("n_within"))
    val sumD2 = lab
      .select(explode(array(col("__la"), col("__lb"))).as("__l"))
      .groupBy(col("__l")).agg(count(lit(1)).as("__d"))
      .agg(coalesce(sum((col("__d") * col("__d")).cast(dec)),
        lit(0).cast(dec)).as("__sumd2"))
    tot.crossJoin(sumD2).select(col("n_edges"), col("n_within"),
      when(col("n_edges") > 0,
        round(lit(1e6) *
          (lit(4L).cast(dec) * col("n_edges") * col("n_within") -
            col("__sumd2")).cast("double") /
          (lit(4.0) * col("n_edges").cast("double") *
            col("n_edges").cast("double"))).cast("long"))
        .otherwise(lit(null).cast("long")).as("q_micro"))
  }

  /** The labeled edge list shared by [[communityQuality]] and
    * [[mergeGain]]: self-loops dropped, both endpoint labels
    * attached, pinned (two label joins, not four). Unlabeled
    * endpoints drop the edge — same stance as [[modularity]]. */
  private def labeledEdges(
      edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, nodeCol: String,
      labelCol: String): DataFrame =
    Dedup.truncate(edges
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .join(labels.select(col(nodeCol).as("__a"),
        col(labelCol).as("__la")), Seq("__a"))
      .join(labels.select(col(nodeCol).as("__b"),
        col(labelCol).as("__lb")), Seq("__b")))

  /** Per-community quality census — the numbers that say whether a
    * labeling ([[labelPropagation]], connected components, external
    * clusters) produced real communities or shredded noise, read
    * next to [[modularity]]'s single global score: node count,
    * internal edges, degree volume, cut size, and conductance
    * φ = cut / min(vol, 2m − vol) — the standard "how leaky is this
    * cluster" ratio (low = tight). Degrees are the same
    * endpoint-census convention as modularity (volume counts edge
    * endpoints, so vol = 2·e_in + cut by construction — asserted by
    * the spec, not assumed). One labeled-edge census + one explode,
    * integer throughout, one micro-rounded divide; communities with
    * no incident edges report NULL conductance and zero counts.
    * Output: (labelCol, n_nodes, e_in, volume, cut,
    * conductance_micro). */
  def communityQuality(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String): DataFrame = {
    val lab = labeledEdges(edges, aCol, bCol, labels, nodeCol, labelCol)
    val m = lab.agg(count(lit(1)).as("__m"))
    val vol = lab.select(explode(array(col("__la"), col("__lb")))
        .as("__l"))
      .groupBy(col("__l")).agg(count(lit(1)).as("volume"))
    val ein = lab.filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("__l")).agg(count(lit(1)).as("e_in"))
    val nodes = labels.groupBy(col(labelCol).as("__l"))
      .agg(count(lit(1)).as("n_nodes"))
    val j = nodes
      .join(vol, Seq("__l"), "left")
      .join(ein, Seq("__l"), "left")
      .crossJoin(broadcast(m))
      .select(col("__l"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("volume"), lit(0L)).as("volume"), col("__m"))
      .withColumn("cut", col("volume") - lit(2L) * col("e_in"))
    val denom = least(col("volume"),
      lit(2L) * col("__m") - col("volume"))
    j.select(col("__l").as(labelCol), col("n_nodes"), col("e_in"),
      col("volume"), col("cut"),
      when(denom > 0, round(lit(1e6) * col("cut").cast("double") /
        denom.cast("double")).cast("long"))
        .otherwise(lit(null).cast("long")).as("conductance_micro"))
  }

  /** Louvain-style agglomerative step: the modularity gain of merging
    * each pair of communities that share at least `minBetween`
    * edges — ΔQ = e₁₂/m − d₁·d₂/(2m²), the exact delta of
    * [[modularity]]'s Q under a pairwise merge. The candidate set is
    * the INTER-COMMUNITY EDGE census (never community × community):
    * pairs with no connecting edge have ΔQ < 0 and are pruned by
    * construction, so the join cost is bounded by the edge count.
    * Integer numerator 2m·e₁₂ − d₁·d₂ in DECIMAL(38,0), one
    * micro-rounded divide. A positive dq_micro is a merge Louvain
    * would take; iterating (merge best, recompute) is the standard
    * agglomerative loop, each pass one census.
    * Output: (label_a, label_b, e_between, d_a, d_b, dq_micro),
    * label_a < label_b. */
  def mergeGain(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      minBetween: Long = 1L): DataFrame = {
    require(minBetween >= 1, "minBetween must be at least 1")
    val dec = "decimal(38,0)"
    val lab = labeledEdges(edges, aCol, bCol, labels, nodeCol, labelCol)
    val m = lab.agg(count(lit(1)).as("__m"))
    val deg = lab.select(explode(array(col("__la"), col("__lb")))
        .as("__l"))
      .groupBy(col("__l")).agg(count(lit(1)).as("__d"))
    val between = lab.filter(col("__la") =!= col("__lb"))
      .select(least(col("__la"), col("__lb")).as("label_a"),
        greatest(col("__la"), col("__lb")).as("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(count(lit(1)).as("e_between"))
      .filter(col("e_between") >= minBetween)
    val mD = col("__m").cast("double")
    between
      .join(deg.select(col("__l").as("label_a"), col("__d").as("d_a")),
        Seq("label_a"))
      .join(deg.select(col("__l").as("label_b"), col("__d").as("d_b")),
        Seq("label_b"))
      .crossJoin(broadcast(m))
      .select(col("label_a"), col("label_b"), col("e_between"),
        col("d_a"), col("d_b"),
        round(lit(1e6) *
          (lit(2L).cast(dec) * col("__m") * col("e_between") -
            col("d_a").cast(dec) * col("d_b")).cast("double") /
          (lit(2.0) * mD * mD)).cast("long").as("dq_micro"))
  }

  /** Degree assortativity coefficient — one number for "do hubs link
    * to hubs" (social graphs: positive; web/crawl graphs: negative),
    * the structural prior that decides whether degree-capped wedge
    * guards ([[adamicAdar]]) bite early or late. Pearson correlation
    * of (deg u, deg v) over the 2m directed orientations of the
    * deduplicated undirected edge set: by symmetry Σx = Σy and
    * Σx² = Σy², so r = (N·Σxy − (Σx)²)/(N·Σx² − (Σx)²) with N = 2m
    * — exact integer sufficient statistics in DECIMAL(38,0) (one
    * degree census + two broadcast-friendly joins back onto edges),
    * ONE micro-rounded divide. Degree-regular graphs (zero variance)
    * report NULL. Output: 1 row (n_edges, n_nodes, r_micro). */
  def assortativity(
      edges: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val e = Dedup.truncate(edges
      .select(least(col(aCol), col(bCol)).as("__a"),
        greatest(col(aCol), col(bCol)).as("__b"))
      .filter(col("__a") =!= col("__b")).distinct())
    val deg = e.select(explode(array(col("__a"), col("__b")))
        .as("__n"))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
    val orient = e.select(col("__a").as("__s"), col("__b").as("__t"))
      .unionByName(e.select(col("__b").as("__s"), col("__a").as("__t")))
    val joined = orient
      .join(deg.select(col("__n").as("__s"), col("__d").as("__dx")),
        Seq("__s"))
      .join(deg.select(col("__n").as("__t"), col("__d").as("__dy")),
        Seq("__t"))
    val stats = joined.agg(count(lit(1)).as("__n"),
      sum(col("__dx").cast(dec)).as("__sx"),
      sum(col("__dx").cast(dec) * col("__dy")).as("__sxy"),
      sum(col("__dx").cast(dec) * col("__dx")).as("__sx2"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val num = col("__n").cast(dec) * col("__sxy") -
      col("__sx") * col("__sx")
    val den = col("__n").cast(dec) * col("__sx2") -
      col("__sx") * col("__sx")
    stats.crossJoin(broadcast(nodes))
      .select((col("__n") / 2L).cast("long").as("n_edges"),
        col("n_nodes"),
        when(den > 0, round(lit(1e6) * num.cast("double") /
          den.cast("double")).cast("long"))
          .otherwise(lit(null).cast("long")).as("r_micro"))
  }

  /** Local clustering coefficient per node, c(v) = 2·T(v)/(d(v)·
    * (d(v)−1)) — how much of each node's neighborhood is itself
    * connected, the per-node drill-down under [[triangleCounts]] (a
    * crawler-trap clique scores 1, a pure hub 0). Triangles come from
    * the degree-ordered wedge join (O(|E|^1.5) on any degree
    * distribution); degrees come from the SAME canonical undirected
    * edge set (self-loops dropped, parallel edges collapsed), so the
    * ratio is consistent by construction. One micro-rounded divide
    * per node; degree-< 2 nodes report NULL (no pair of neighbors to
    * close). Triangle-free nodes report 0, not NULL — absence of
    * closure is a measurement, not missing data.
    * Output: (node, degree, n_triangles, coef_micro). */
  def clusteringCoefficients(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = Dedup.truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(und, "a", "b")
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2L,
          round(lit(1e6) *
            (lit(2.0) * coalesce(col("n_triangles"), lit(0L))
              .cast("double")) /
            (col("degree").cast("double") *
              (col("degree") - 1L).cast("double"))).cast("long"))
          .otherwise(lit(null).cast("long")).as("coef_micro"))
  }

  /** EXACT neighborhood function N(r) = |{(u, w) : dist(u→w) ≤ r}|
    * for r = 0..maxR — the distance-distribution census behind
    * effective-diameter and average-distance questions. Each round
    * materializes the full reachability-pair set (one equi-join +
    * distinct), so cost is Σ|B_r| pairs: this is the SMALL-GRAPH /
    * ORACLE-TWIN form — at web scale the pair set is the quadratic
    * blowup [[hyperBall]] exists to avoid; run this only to calibrate
    * the sketch (the gate does exactly that). Output: (r, n_pairs). */
  def neighborhoodFunction(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxR: Int,
      denseCap: Int = 32768): DataFrame = {
    require(maxR >= 0 && maxR <= 6, "maxR must be in [0, 6]")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Dedup.truncate(
      edges.select(col(srcCol).as("__x"), col(dstCol).as("__w"))
        .filter(col("__x").isNotNull && col("__w").isNotNull)
        .distinct())
    val nodes = Dedup.truncate(
      e.select(col("__x").as("node"))
        .union(e.select(col("__w"))).distinct())
    val n = nodes.count()
    val counts = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    counts += ((0L, n))
    if (n <= denseCap.toLong && maxR >= 1) {
      // Dense-ordinal bitset census (r18, guide §2.4): for a node
      // universe this form is FOR (the oracle-twin calibration graph),
      // each node's reach set is an n-bit bitmap sharded as (node,
      // word, bits64) rows — |B_r| is sum(bit_count(bits)), exact by
      // construction, and a round is one equi-join routing ~popcount/64
      // words per edge + one bit_or aggregate, instead of
      // materializing and DISTINCT-ing the full pair set every round.
      // Ordinals come from one n-row sort (n ≤ denseCap by the guard).
      val ord = Dedup.truncate(nodes.select(col("node"),
        (row_number().over(Window.orderBy(col("node"))) - 1)
          .cast("long").as("__o")))
      val oe = Dedup.truncate(e
        .join(ord.select(col("node").as("__x"), col("__o").as("__su")),
          Seq("__x"))
        .join(ord.select(col("node").as("__w"), col("__o").as("__du")),
          Seq("__w"))
        .select(col("__su"), col("__du")))
      var reach = Dedup.truncate(ord.select(col("__o").as("__u"),
        expr("__o div 64").as("__word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__o, 64) AS INT))")
          .as("__bits")))
      var sums: DataFrame = null
      for (r <- 1 to maxR) {
        val prop = oe
          .join(reach.select(col("__u").as("__du"), col("__word"),
            col("__bits")), Seq("__du"))
          .select(col("__su").as("__u"), col("__word"), col("__bits"))
        reach = Dedup.truncate(
          prop.union(reach.select(col("__u"), col("__word"),
              col("__bits")))
            .groupBy(col("__u"), col("__word"))
            .agg(expr("bit_or(__bits)").as("__bits")))
        // Every round's reach is already pinned; defer all popcount
        // sums to ONE job instead of one collect per round.
        val s = reach
          .agg(coalesce(sum(bit_count(col("__bits")).cast("long")),
            lit(0L)).as("__p"))
          .select(lit(r.toLong).as("__r"), col("__p"))
        sums = if (sums == null) s else sums.unionByName(s)
      }
      sums.orderBy(col("__r")).collect().foreach(row =>
        counts += ((row.getLong(0), row.getLong(1))))
    } else {
      // Generic pair-set form for universes past the bitmap cap —
      // the original quadratic materialization (this exact operator
      // is inherently pair-census sized; [[hyperBall]] is the
      // at-scale answer).
      var reach = Dedup.truncate(
        nodes.select(col("node").as("__u"), col("node").as("__w")))
      for (r <- 1 to maxR) {
        reach = Dedup.truncate(
          reach.union(
              reach.join(e, reach("__w") === e("__x"))
                .select(col("__u"), e("__w")))
            .distinct())
        counts += ((r.toLong, reach.count()))
      }
    }
    counts.toSeq.toDF("r", "n_pairs")
  }

  /** HyperBall (Boldi–Vigna) — the neighborhood function at graph
    * scale: every node carries an HLL register set of its out-ball
    * B_r(u), and one round is "union your neighbors' balls into
    * yours" = ONE equi-join routing registers across edges + ONE
    * (node, bucket) max-aggregate — state is nodes × 64 registers
    * regardless of how large the balls grow, which is the entire
    * point (the exact twin [[neighborhoodFunction]] materializes the
    * pairs and dies quadratically). Registers are
    * [[Sketches.hllRegisters]]' md5-derived state, so every round
    * and every estimate is bit-identical in any engine; per-node
    * estimates are unit-rounded BEFORE any cross-node sum so
    * downstream aggregation stays integer-exact. Lineage truncates
    * per round ([[Dedup.truncate]]).
    * Output: (r, node, reach_est) for r = 0..maxR. */
  def hyperBall(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxR: Int): DataFrame = {
    require(maxR >= 0 && maxR <= 16, "maxR must be in [0, 16]")
    val e = Dedup.truncate(
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull)
        .distinct())
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst"))).distinct()
    // Packed register state (r18, guide §2.3): the 64 registers of a
    // node pack into ONE 64-byte binary cell (mj ≤ 55 fits a byte),
    // so each round's "union your neighbors' balls" joins edges ×
    // ONE row against a node-sized table and max-merges with a
    // constant-state bytewise-max aggregate — instead of routing
    // edges × 64 register ROWS through every round's exchange. The
    // packed state, merge, and estimate are bit-equivalent to the
    // (node, j, mj) row form ([[graft.functions.HllPacked]]); the
    // seed vector is exact because a single node is one element:
    // its register set is one (j, rank) pair.
    val h = graft.functions.TextFunctions.hash60(
      col("node").cast("string"))
    var regs = Dedup.truncate(nodes
      .withColumn("__h", h)
      .withColumn("__j", pmod(col("__h"), lit(Sketches.M.toLong)))
      .withColumn("__w", expr(s"__h div ${Sketches.M}"))
      .select(col("node"), graft.functions.HllPacked.hllPackOne(
        col("__j"),
        when(col("__w") === 0, lit(Sketches.MaxRank.toLong))
          .otherwise(lit(Sketches.MaxRank.toLong) -
            length(bin(col("__w"))))).as("__regs")))
    def estimates(r: Int) = regs.select(lit(r.toLong).as("r"),
      col("node"),
      graft.functions.HllPacked.hllEstimatePacked(col("__regs"))
        .as("reach_est"))
    var out = estimates(0)
    for (r <- 1 to maxR) {
      val prop = regs
        .join(e.select(col("__src"), col("__dst").as("node")),
          Seq("node"))
        .select(col("__src").as("node"), col("__regs"))
      regs = Dedup.truncate(
        prop.union(regs.select(col("node"), col("__regs")))
          .groupBy(col("node"))
          .agg(graft.functions.HllPacked.byteMax(col("__regs"))
            .as("__regs")))
      out = out.unionByName(estimates(r))
    }
    out
  }
}
