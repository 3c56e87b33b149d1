package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication for training-data pipelines — exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard variants.
  *
  * Scale design: every variant is (map → one shuffle on a derived
  * bucket key → bounded per-bucket work). Nothing is pairwise over the
  * corpus; candidate generation always goes through a band/bucket
  * equi-join so 100 TB shards only ever compare within buckets.
  * All hashing is md5-derived (deterministic, engine-portable).
  */
object Dedup {

  /** Conf key: set to a durable directory (hdfs://, s3a://, file:)
    * to make iterative operators truncate lineage with fault-tolerant
    * `checkpoint()` instead of `localCheckpoint()`. */
  val ReliableCheckpointDirKey = "spark.graft.reliableCheckpointDir"

  /** Lineage truncation for iterative DAGs. Default is
    * `localCheckpoint()` — fast, but executor-local: at 100 TB a lost
    * node aborts the whole job mid-iteration because the checkpointed
    * blocks die with the executor. Setting
    * [[ReliableCheckpointDirKey]] switches every iterative operator to
    * reliable `checkpoint()` (files on a durable FS survive node
    * loss), which is the right mode on a real cluster; the local
    * default keeps the sandbox fast. */
  private[graft] def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ReliableCheckpointDirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** [[truncate]] with LAZY materialization (r19, guide §1/§2.4):
    * same lineage cut, but the checkpoint is computed as part of the
    * consuming job instead of its own blocking job — the downstream
    * references still read the one persisted copy. Measured per call
    * site, not a blanket default: linear chains whose consumers use
    * explicit broadcast hints (or none) save the materialization job
    * (q221/q227/q275 −15–20%, q119 −43% isolated), while iterative
    * loops whose per-round joins rely on AQE seeing MATERIALIZED
    * stats to pick broadcast strategies regress badly under lazy
    * (q182 +69%, q184 +114% isolated) — those keep eager [[truncate]].
    * Reliable-checkpoint sessions keep the eager reliable checkpoint:
    * `Dataset.checkpoint(eager=false)` truncates lineage only at
    * materialization time, and the fault-tolerance contract of that
    * mode wants the write pinned before reuse. */
  private[graft] def truncateLazy(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ReliableCheckpointDirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint(eager = false)
    }
  }

  /** Exact dedup: canonical survivor per identical text = min(id).
    * One hash-aggregate shuffle on the digest. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Modulus for the affine minhash family — prime, ~2^30, so
    * a*h + b stays far inside int64 for h < p. */
  val MinhashP: Long = 1000000007L

  /** Deterministic affine-family constants (a_k, b_k), derived from
    * md5 driver-side and embedded as literals in both the Spark plan
    * and the DuckDB oracle SQL. a_k ∈ [1, p-1], b_k ∈ [0, p-1]. */
  def minhashParams(k: Int, seed: String = "graft-minhash"): Seq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h48(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      (0 until 6).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
    }
    (0 until k).map { i =>
      (h48(s"$seed:a:$i") % (MinhashP - 1) + 1, h48(s"$seed:b:$i") % MinhashP)
    }
  }

  /** MinHash signatures: K independent "permutations" = affine maps
    * (a_k·h + b_k) mod p over ONE 48-bit md5 per shingle; signature =
    * per-k min over the doc's shingle set. Map-only (higher-order
    * functions, no explode), and only |shingles| md5 calls per doc
    * rather than K×|shingles|. */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      shingleSize: Int,
      tokenizer: Column => Column = tokens): DataFrame = {
    val params = minhashParams(k)
    // Whole shingle→hash→K-way-min pipeline in one codegen'd pass
    // (custom expression): the HOF formulation re-walks an interpreted
    // lambda tree per (k, shingle) and md5s each shingle through a
    // per-element expression eval — ~20× slower measured at sf0.1.
    val sig = graft.functions.GraftExpressions.minhashFromTokens(
      col("toks"), shingleSize,
      params.map(_._1).toArray, params.map(_._2).toArray, MinhashP)
    // Docs too short to shingle have no signature — drop, not bucket-collide.
    docs.select(col(idCol), tokenizer(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleSize)
      .select(col(idCol), sig.as("sig"))
  }

  /** LSH bands: split the K-long signature into bands of `rowsPerBand`
    * and emit (band_id, band_key) per doc — the bucket-join key.
    *
    * The generator explodes a LITERAL band-index sequence and band_key
    * is computed above the Generate barrier — exploding an array whose
    * lambda references `sig` would let projection collapse inline (and
    * recompute) the whole signature once per band. */
  def minhashBands(sigs: DataFrame, idCol: String, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    sigs
      .select(col(idCol), col("sig"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band_id"))
      .select(col(idCol), col("band_id"),
        md5(concat_ws(",",
          slice(col("sig"), col("band_id") * rowsPerBand + 1, lit(rowsPerBand))))
          .as("band_key"))
  }

  /** Candidate near-dup pairs: group docs by (band_id, band_key) and
    * emit all in-bucket pairs (a < b), then distinct across bands.
    * ONE shuffle on the band key and ONE signature computation — a
    * self-join would shuffle and compute the signature subtree twice.
    * Per-bucket work is quadratic in bucket size, which LSH keeps
    * small by construction (hot buckets = genuine duplicate clusters).
    */
  def minhashCandidates(bands: DataFrame, idCol: String): DataFrame = {
    val pairs = graft.functions.GraftExpressions.selfPairs(
      sort_array(col("ids")))
    bands.groupBy(col("band_id"), col("band_key"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairs).as("p"))
      .select(col("p.a"), col("p.b")).distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: candidates verified by exact
    * shingle-set Jaccard ≥ `threshold`. */
  def minhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.6,
      tokenizer: Column => Column = tokens): DataFrame =
    candidatePairSets(docs, idCol, textCol, k, rowsPerBand, shingleSize,
      tokenizer)
      .withColumn("jaccard",
        coalesce(graft.functions.GraftExpressions.jaccardSorted(
          col("sh_a"), col("sh_b")), lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** The shared LSH-candidate scaffold of [[minhashNearDups]] and
    * [[containmentPairs]]: band candidates joined to BOTH docs'
    * sorted-distinct shingle sets (one native pass each — the
    * interpreted shingle lambdas + array set ops dominated the verify
    * stage at ~2.5 s of 3.1 s at sf0.1 before the native forms).
    * Output: (a, b, sh_a, sh_b). */
  private def candidatePairSets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      rowsPerBand: Int,
      shingleSize: Int,
      tokenizer: Column => Column = tokens): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, k, shingleSize, tokenizer)
    val cands = minhashCandidates(minhashBands(sigs, idCol, k, rowsPerBand), idCol)
    val sets = docs.select(col(idCol),
      graft.functions.GraftExpressions
        .sortedShingleSet(tokenizer(col(textCol)), shingleSize).as("sh"))
    cands
      .join(sets.withColumnRenamed(idCol, "a").withColumnRenamed("sh", "sh_a"), "a")
      .join(sets.withColumnRenamed(idCol, "b").withColumnRenamed("sh", "sh_b"), "b")
  }

  /** Incremental near-dup gate for continuous ingestion: classify each
    * NEW-batch doc against the EXISTING corpus and the batch itself,
    * without ever re-deduping the corpus. A doc is kept unless it
    * verifies (exact Jaccard ≥ `threshold`) against a corpus doc or an
    * earlier (smaller-id) batch doc; `dup_of` names the smallest such
    * id. This is the nightly-crawl complement of [[minhashNearDups]]:
    * the 100 TB corpus is touched only through its band index (one
    * equi-join on (band_id, band_key)) plus a candidate-pruned shingle
    * verify — never rescanned wholesale, never corpus×corpus.
    *
    * Batch-internal chains resolve pairwise (b dups its smallest
    * verified partner), matching the first-occurrence-wins rule of the
    * family; docs too short to shingle have no bands and keep, as
    * everywhere in the dedup family.
    *
    * Output: one row per new doc — (id, keep, dup_of nullable). */
  def dedupIncrement(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    def bandsOf(df: DataFrame) = minhashBands(
      minhashSignatures(df, idCol, textCol, k, shingleSize),
      idCol, k, rowsPerBand)
    def setsOf(df: DataFrame) = df.select(col(idCol),
      graft.functions.GraftExpressions
        .sortedShingleSet(tokens(col(textCol)), shingleSize).as("sh"))
    val newBands = truncate(bandsOf(newDocs)) // feeds 2 candidate joins
    val setsNew = setsOf(newDocs)
    val jac = coalesce(graft.functions.GraftExpressions.jaccardSorted(
      col("sh_a"), col("sh_b")), lit(0.0))
    // New-vs-corpus edges: band equi-join, then verify only candidates.
    val corpusEdges = newBands
      .select(col(idCol).as("nid"), col("band_id"), col("band_key"))
      .join(bandsOf(corpus).select(col(idCol).as("oid"),
        col("band_id"), col("band_key")), Seq("band_id", "band_key"))
      .select(col("nid"), col("oid")).distinct()
      .join(setsNew.select(col(idCol).as("nid"), col("sh").as("sh_a")), "nid")
      .join(setsOf(corpus).select(col(idCol).as("oid"), col("sh").as("sh_b")), "oid")
      .filter(jac >= threshold)
      .select(col("nid").as(idCol), col("oid").as("dup_of"))
    // Batch-internal edges from the SAME band table (b dups a, a < b).
    val batchEdges = minhashCandidates(newBands, idCol)
      .join(setsNew.select(col(idCol).as("a"), col("sh").as("sh_a")), "a")
      .join(setsNew.select(col(idCol).as("b"), col("sh").as("sh_b")), "b")
      .filter(jac >= threshold)
      .select(col("b").as(idCol), col("a").as("dup_of"))
    val dupOf = corpusEdges.union(batchEdges)
      .groupBy(col(idCol)).agg(min(col("dup_of")).as("dup_of"))
    newDocs.select(col(idCol))
      .join(dupOf, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("keep"), col("dup_of"))
  }

  /** Corpus forensics: the cross-source duplication matrix — how many
    * verified near-dup pairs ([[minhashNearDups]], exact Jaccard ≥
    * `threshold`) connect each unordered pair of sources. Reveals
    * mirror sites, cross-crawl duplication, and benchmark bleed
    * between corpus slices BEFORE training mixes them.
    *
    * Scale: the near-dup pipeline's banded shape, then two equi-joins
    * on the doc id to attach sources (shuffle joins — the id→source
    * map is corpus-sized) and a hash-agg on the tiny source-pair
    * domain. Pair order is normalized (least/greatest) so each
    * unordered source pair is one row.
    *
    * Output: (src_x ≤ src_y, n_pairs). */
  def sourceOverlap(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      threshold: Double = 0.6): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, textCol, threshold = threshold)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.withColumnRenamed(idCol, "a")
        .withColumnRenamed(sourceCol, "src_a"), "a")
      .join(src.withColumnRenamed(idCol, "b")
        .withColumnRenamed(sourceCol, "src_b"), "b")
      .select(least(col("src_a"), col("src_b")).as("src_x"),
        greatest(col("src_a"), col("src_b")).as("src_y"))
      .groupBy(col("src_x"), col("src_y"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** 32-bit SimHash over whitespace tokens: per-bit majority vote of
    * token-hash bits (native codegen'd expression). Map-only; near-dup
    * = small Hamming distance. */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      graft.functions.GraftExpressions
        .simhashFromTokens(tokens(col(textCol)), 32).as("simhash"))

  /** The shared byte-band Hamming near-dup core behind
    * [[simhashNearDups]], `Multimodal.imageNearDups`, and
    * `Multimodal.audioNearDups`: band the low `nBands`·8 bits of a
    * long hash into its bytes, equi-join on (band_id, band_byte) for
    * candidates — by pigeonhole, full recall to Hamming nBands − 1 —
    * then the cheap bit_count(xor) verify. ONE shuffle on the band
    * key; never corpus×corpus. SIGNED hashes are fine (imageNearDups
    * feeds full 64-bit dHashes whose MSB may be set): band extraction
    * masks the arithmetic shift with `& 255`, and bit_count over the
    * signed xor counts differing bits regardless of sign — oracles
    * mirror the same signed arithmetic.
    *
    * Input: `hashed` = (idCol, hashCol) with the hash in a long.
    * Output: (a, b, hamming), a < b, distinct. */
  private[operators] def hammingBandNearDups(
      hashed: DataFrame,
      idCol: String,
      hashCol: String,
      nBands: Int,
      maxHamming: Int): DataFrame = {
    require(maxHamming < nBands,
      s"$nBands byte-bands guarantee recall only to Hamming ${nBands - 1}")
    val banded = hashed
      .select(col(idCol), col(hashCol),
        explode(sequence(lit(0), lit(nBands - 1))).as("band_id"))
      .withColumn("band_byte",
        expr(s"shiftright($hashCol, band_id * 8) & 255"))
    val l = banded.select(col("band_id"), col("band_byte"),
      col(idCol).as("a"), col(hashCol).as("h_a"))
    val r = banded.select(col("band_id"), col("band_byte"),
      col(idCol).as("b"), col(hashCol).as("h_b"))
    l.join(r, Seq("band_id", "band_byte"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming")).distinct()
  }

  /** SimHash near-duplicates at Hamming distance ≤ `maxHamming`, via
    * byte-band LSH over the 32-bit simhash's 4 bytes
    * ([[hammingBandNearDups]]). */
  def simhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingBandNearDups(simhash32(docs, idCol, textCol),
      idCol, "simhash", nBands = 4, maxHamming = maxHamming)

  /** Embedding-cosine near-duplicates: SRP-LSH bucket the corpus, then
    * verify cosine ≥ threshold within buckets only. One shuffle per
    * join side on the bucket id; never a corpus×corpus product.
    * Exact-integer scoring (see VectorFunctions) keeps results
    * bit-stable across partitionings. Recall < 1 by construction
    * (antipodal split); raise `planes`↓ or band multiple projections
    * for higher recall at scale. */
  def embeddingNearDups(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int,
      dim: Int,
      seed: String = "graft-srp"): DataFrame = {
    import graft.functions.VectorFunctions._
    val w = srpWeights(planes, dim, seed)
    val p = graft.operators.Similarity.prepare(emb, idCol, vecCol)
      .withColumn("bucket", srpBucket(col("qvec"), w))
    val l = p.select(col("bucket"), col(idCol).as("a"),
      col("qvec").as("qa"), col("nsq").as("na"))
    val r = p.select(col("bucket"), col(idCol).as("b"),
      col("qvec").as("qb"), col("nsq").as("nb"))
    l.join(r, Seq("bucket"))
      .filter(col("a") < col("b"))
      .withColumn("sim", cosineQ(dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim")).distinct()
  }

  /** Connected components over a near-dup pair graph — the cluster
    * collapse that turns pairwise candidates into dedup groups (one
    * survivor per component). Min-label propagation: every node
    * starts labeled with its own id; each round takes the min of its
    * own and its neighbors' labels; at fixpoint the label is the
    * component's min id (= the canonical survivor).
    *
    * Each round is one narrow shuffle pass (join on node id + min
    * aggregate, then a pointer-jump join); lineage is truncated per
    * round ([[truncate]] — localCheckpoint by default, reliable
    * `checkpoint()` under [[ReliableCheckpointDirKey]]) so plans stay
    * flat over arbitrarily many rounds.
    *
    * Pointer jumping: after propagating the neighbor minimum, each
    * node also jumps through the PREVIOUS round's mapping
    * (label ← min(prop, labels(prop))). The old mapping is already
    * truncated, so the jump costs one extra equi-join and no extra
    * materialization, and the collapsed distance per round satisfies
    * d ← 2d+1 — chains of length n converge in O(log n) rounds
    * instead of O(diameter). Deterministic: no RNG, exact min
    * fixpoint, convergence checked by counting changed labels.
    *
    * Output: (id, component) — component = min node id reachable.
    *
    * `maxIter` applies only to the DISTRIBUTED fixpoint: graphs that
    * [[DriverFold]] admits (at most `driverCap` rows, no NULL ids, a
    * value-safe id type) are solved exactly by the driver union-find,
    * which always converges. */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20,
      driverCap: Long = 250000L): DataFrame = {
    // Materialize the (symmetrized, DEDUPLICATED) edge list once — it
    // is re-joined every round, and `edges` may be an arbitrarily
    // expensive upstream pipeline (e.g. the full MinHash near-dup
    // DAG). The distinct matters as much as the checkpoint: callers
    // like dbscan's boundary graph carry huge parallel-edge
    // multiplicity (every cross-cell point pair maps to the same
    // piece-label pair, multiplicity ∝ density²·face), and min-label
    // propagation is invariant to it — paying one distinct shuffle
    // here beats paying the multiplicity in EVERY fixpoint round.
    val sym = truncate(edges.select(col(aCol).as("x"), col(bCol).as("y"))
      .union(edges.select(col(bCol).as("x"), col(aCol).as("y")))
      .distinct())
    // Driver union-find: each pointer-jump round costs ~5 jobs however
    // small the graph is; the union-find always converges.
    val fold = DriverFold(driverCap, DriverFold.Input(sym, Seq("x", "y")))
    if (fold.isDefined) {
      val cmp = fold.get.order
      val parent = new java.util.HashMap[Any, Any]()
      def find(v: Any): Any = {
        if (!parent.containsKey(v)) { parent.put(v, v); v }
        else {
          var r = v
          while (parent.get(r) != r) r = parent.get(r)
          var c = v
          while (parent.get(c) != r) {
            val n = parent.get(c); parent.put(c, r); c = n
          }
          r
        }
      }
      fold.get.rows(0).foreach { row =>
        val ra = find(row.get(0))
        val rb = find(row.get(1))
        if (ra != rb) {
          if (cmp.compare(ra, rb) <= 0) parent.put(rb, ra)
          else parent.put(ra, rb)
        }
      }
      val spark = edges.sparkSession
      val idType = sym.schema("x").dataType
      val rows = parent.keySet().toArray.toSeq
        .map(k => org.apache.spark.sql.Row(k, find(k)))
      return DriverFold.frame(spark, rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("component", idType))))
    }
    var labels = truncate(sym.select(col("x").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("y"), col("label").as("ylab")), "y")
        .groupBy(col("x").as("id"))
        .agg(min(col("ylab")).as("nmin"))
      val propagated = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("prop"))
      val newLabel = least(col("prop"), coalesce(col("jump"), col("prop")))
      val next = truncate(
        // Round 0's label map is the identity, so the jump lookup
        // would be a no-op join — skip it. Dense near-dup blobs
        // (diameter ≲ 2) then pay zero jump overhead; chains still
        // collapse 2d+1 per round from round 1 on.
        if (round == 0) propagated.select(col("id"),
          col("prop").as("label"), (col("prop") < col("old")).as("moved"))
        else propagated
          // prop is always some node's id (a min over ids), so the
          // lookup hits; the left join + coalesce is belt-and-braces.
          .join(labels.select(col("id").as("prop"), col("label").as("jump")),
            Seq("prop"), "left")
          .select(col("id"), newLabel.as("label"),
            (newLabel < col("old")).as("moved")))
      changed = next.filter(col("moved")).count()
      labels = next.drop("moved")
      round += 1
    }
    // Non-convergence must not silently return partial labels — a
    // dedup collapse acting on them would split clusters into several
    // "survivors" with no error anywhere downstream.
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still moving); with pointer jumping that " +
        "means component diameter > ~2^maxIter — raise maxIter")
    labels.withColumnRenamed("label", "component")
  }

  /** Prefix-filtered exact set-similarity join (the PPJoin family —
    * EXACT recall, unlike MinHash-LSH): each doc's shingle set is
    * ordered globally rare-first (df asc, shingle asc); a pair with
    * Jaccard ≥ t must overlap by ≥ ceil(t·|d|) elements, so it must
    * share one of each side's first |d| − ceil(t·|d|) + 1 elements —
    * the PREFIX. Candidates = prefix-token equi-join (rare shingles ⇒
    * short postings), verified by the exact linear-merge Jaccard.
    * Shuffles: df count + prefix join; no corpus×corpus product and
    * no recall loss. */
  def prefixJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // Materialized once: the shingle sets are scanned three times
    // (prefix path + both verify joins) and re-shingling the corpus
    // per scan would triple the dominant map cost.
    val sets = truncate(docs.select(col(idCol),
      graft.functions.GraftExpressions
        .sortedShingleSet(tokens(col(textCol)), shingleSize).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0))
    val exploded = sets.select(col(idCol), col("sz"), explode(col("sh")).as("s"))
    val dfreq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("s"))
    val prefix = exploded.join(dfreq, Seq("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= expr(s"sz - CAST(ceil($threshold * sz) AS INT) + 1"))
      .select(col("s"), col(idCol))
    val cands = prefix
      .join(prefix.withColumnRenamed(idCol, "_b"), Seq("s"))
      .filter(col(idCol) < col("_b"))
      .select(col(idCol).as("a"), col("_b").as("b")).distinct()
    cands
      .join(sets.select(col(idCol).as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sets.select(col(idCol).as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("jaccard", coalesce(
        graft.functions.GraftExpressions.jaccardSorted(col("sh_a"), col("sh_b")),
        lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Cluster-level survivorship: near-dup components with a QUALITY-
    * chosen canonical per cluster — the merge step of record linkage
    * and the "which mirror do we keep" step of corpus dedup, where
    * [[dedupCorpus]]'s min-id survivor is arbitrary by design. Every
    * doc belongs to exactly one cluster (its near-dup component, or
    * itself when it has no near-dups); the canonical is the member
    * maximizing (`scoreCol` DESC, id ASC) — highest quality wins,
    * smallest id breaks ties deterministically.
    *
    * Clusters come from the NEAR-DUP graph: docs too short to
    * shingle never pair (the [[minhashNearDups]] floor), so two
    * identical unshingleable snippets stay separate singletons —
    * run [[exact]] first if byte-identical shorts must merge.
    *
    * Scale: the near-dup pipeline is the cost (banded equi-joins, as
    * everywhere); the survivor pick is one map-side-combinable
    * hash-agg whose state is a single struct per cluster — no
    * per-cluster window, a giant mirror-farm cluster costs the same
    * agg state as a pair. Output: (component, canonical_id,
    * n_members), one row per cluster including singletons. */
  def canonicalSurvivors(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      threshold: Double = 0.6): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, textCol, threshold = threshold)
    val comp = connectedComponents(pairs, "a", "b")
      .withColumnRenamed("id", idCol)
    docs.select(col(idCol), col(scoreCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .groupBy(col("component"))
      // NULL scores lose to ANY scored member (the leading flag —
      // Spark's ascending struct order would otherwise sort a NULL
      // -score FIRST and elect the one member whose quality was never
      // computed); an all-NULL cluster falls back to min id.
      .agg(min_by(col(idCol),
          struct(when(col(scoreCol).isNull, 1).otherwise(0).as("nf"),
            (-col(scoreCol)).as("ns"), col(idCol))).as("canonical_id"),
        count(lit(1)).as("n_members"))
  }

  /** End-to-end corpus dedup — the one-call path a training-data
    * pipeline runs: EXACT duplicates collapse first (hash-groupBy on
    * the text — this also covers docs too short to shingle, which the
    * MinHash stage drops), then MinHash-LSH proposes near-dup
    * candidates, exact Jaccard verifies, connected components turn
    * pairs into clusters, and every document that is not its
    * cluster's min-id survivor is dropped. Both stages pick the
    * min-id survivor, so their keep-decisions agree on overlap.
    * Returns the KEPT rows of `docs`, schema unchanged. */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.6): DataFrame = {
    // Exact-dup losers: everyone in a digest group except min(id) —
    // NOT left to the near-dup path, whose shingling drops short docs.
    val exactLosers = docs
      .select(col(idCol), md5(col(textCol)).as("_digest"))
      .withColumn("_keep",
        min(col(idCol)).over(Window.partitionBy(col("_digest"))))
      .filter(col(idCol) =!= col("_keep"))
      .select(col(idCol))
    val pairs = minhashNearDups(docs, idCol, textCol, threshold = threshold)
    val nearLosers = connectedComponents(pairs, "a", "b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(exactLosers.union(nearLosers).distinct(), Seq(idCol), "left_anti")
  }

  /** Sentence-level exact dedup across the corpus (the C4 move:
    * boilerplate sentences repeated across pages are dropped
    * everywhere but their first occurrence). `splitter` segments a
    * text column into the sentence array — the default splits on
    * literal ". " (the historical contract); pass
    * [[graft.functions.TextFunctions.sentenceSplit]] for
    * punctuation-run segmentation including fullwidth 。！？, so CJK
    * boilerplate dedups at sentence grain too. Positions index the
    * splitter's OUTPUT array (1-based). The first occurrence is the
    * minimum (doc, pos) in global order; surviving sentences are
    * re-joined with `sep` in original order. Documents whose every
    * sentence was seen earlier vanish — they contribute nothing
    * novel.
    *
    * Scale: one hash-agg keyed by sentence (exact-dup shape: the
    * map-side is a split+explode, the reduce side a min-struct
    * aggregate whose state is ONE (id, pos) per distinct sentence —
    * a boilerplate sentence repeated across the whole corpus
    * combines map-side instead of shipping every copy to one window
    * task), then one shuffle back on the doc id to rebuild. No
    * corpus×corpus anything.
    *
    * Output: (id, n_kept, text_deduped) for docs with ≥1 surviving
    * sentence. */
  def sentenceDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      splitter: Column => Column = split(_, "\\. "),
      sep: String = ". "): DataFrame = {
    val sents = docs
      .select(col(idCol), posexplode(splitter(col(textCol))))
      // 1-based positions BEFORE dropping empties (split artifacts), so
      // positions are a stable property of the raw split.
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("sent"))
      .filter(length(col("sent")) > 0)
    // First occurrence = lexicographic min (id, pos) per sentence; the
    // winner rows ARE the kept set — no join back, no window.
    sents
      .groupBy(col("sent"))
      .agg(min(struct(col(idCol).as("i"), col("pos").as("p"))).as("__f"))
      .select(col("__f.i").as(idCol), col("__f.p").as("pos"), col("sent"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("sent")))),
            x => x.getField("sent")), sep).as("text_deduped"))
  }

  /** Per-group frequent-sentence boilerplate strip — the CCNet /
    * RefinedWeb paragraph-dedup move, and the corpus-level complement
    * of [[sentenceDedup]]: where sentenceDedup keeps each sentence's
    * FIRST global occurrence, boilerplate strip removes a sentence
    * from EVERY doc once it recurs across ≥ `minDocs` distinct docs
    * of the same group (site navigation, cookie banners, footers —
    * text that repeats across a source is template chrome, not
    * content). Grouping by source/domain, not globally, is the point:
    * a sentence ubiquitous on one site but rare elsewhere is that
    * site's boilerplate and other sites' content.
    *
    * Scale: explode → per-(group, sentence) distinct-doc hash-agg
    * (two-phase, map-side combinable) → one equi-join of the exploded
    * sentences against the boilerplate census on (group, sentence) —
    * the same shuffle shape as exact dedup, never corpus×corpus, no
    * global window. Every doc with ≥ 1 sentence survives (a fully-
    * boilerplate doc reports n_kept = 0 and empty text) — downstream
    * length filters decide its fate, not this operator; only docs
    * whose text splits to nothing at all are absent.
    *
    * Output: (id, n_kept, n_removed, text_clean) — kept sentences
    * rejoined with ". " in original order. */
  def boilerplateStrip(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      textCol: String,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, "minDocs must be at least 2")
    val sents = docs
      .select(col(idCol), col(groupCol),
        posexplode(split(col(textCol), "\\. ")))
      .select(col(idCol), col(groupCol), (col("pos") + 1).as("pos"),
        col("col").as("sent"))
      .filter(length(col("sent")) > 0)
    // The census counts DISTINCT docs (a sentence repeated inside one
    // doc is repetition, not boilerplate — Gopher's signal, not this
    // one); approx at 100 TB would use HLL, but the gate wants exact.
    val boiler = sents
      .groupBy(col(groupCol), col("sent"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col(groupCol), col("sent"), lit(true).as("__boiler"))
    sents
      .join(boiler, Seq(groupCol, "sent"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("__boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__boiler").isNull, 0L).otherwise(1L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__boiler").isNull,
              struct(col("pos"), col("sent"))))),
            x => x.getField("sent")), ". ").as("text_clean"))
  }

  /** Asymmetric shingle CONTAINMENT over LSH candidate pairs:
    * |A∩B| / |A| (and / |B|) in exact integer micro-units — the
    * quote/subset detector resemblance Jaccard misses: a short doc
    * fully quoted inside a long one has low Jaccard (union is huge)
    * but containment ≈ 1 on the short side. Candidates come from the
    * resemblance LSH index, which is honest-but-biased here: a pair
    * with high containment and LOW resemblance may not surface a
    * shared band (a dedicated containment index would bottom-k
    * sketch the contained side); pairs that do surface are scored
    * EXACTLY from sorted shingle sets.
    *
    * Scale: candidate generation is the shared band equi-join; the
    * verify joins each candidate to two set-valued rows — same shape
    * as [[minhashNearDups]], never corpus×corpus.
    *
    * Output: (a, b, n_a, n_b, n_inter, contain_a_micro,
    * contain_b_micro), kept when either direction ≥
    * `minContainMicro`. */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minContainMicro: Long,
      k: Int = 16,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3): DataFrame = {
    require(minContainMicro >= 0 && minContainMicro <= 1000000L,
      "minContainMicro must be in [0, 1000000]")
    // Native linear-merge intersection count over the sorted sets —
    // interpreted array_intersect per pair is the measured hot path
    // the Jaccard verify already abandoned.
    candidatePairSets(docs, idCol, textCol, k, rowsPerBand, shingleSize)
      .select(col("a"), col("b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        graft.functions.GraftExpressions
          .intersectSizeSorted(col("sh_a"), col("sh_b")).as("n_inter"))
      .withColumn("contain_a_micro",
        expr("(1000000L * n_inter) div n_a"))
      .withColumn("contain_b_micro",
        expr("(1000000L * n_inter) div n_b"))
      .filter(greatest(col("contain_a_micro"), col("contain_b_micro"))
        >= minContainMicro)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the
    * MOSS algorithm): hash every k-token gram, slide a w-gram window,
    * keep each window's MINIMUM hash, distinct per doc. The guarantee
    * that makes it the plagiarism/local-copy detector minhash is not:
    * any shared run of ≥ k + w − 1 tokens between two docs is
    * CERTAIN to share a fingerprint (both see the same w-window of
    * gram hashes and pick the same min) — detection of long verbatim
    * overlap is deterministic, not probabilistic, while storage stays
    * ~|tokens|/w per doc. Docs shorter than k tokens emit nothing; a
    * doc with fewer than w grams emits the min of what it has (its
    * whole text is one window).
    *
    * The gram-hash array is computed ONCE per doc below a Generate
    * (explode) barrier and each window min reads the carried column —
    * putting the gram expression inside the per-window lambda would
    * re-evaluate every gram's md5 per window (O(n²) interpreted work;
    * the same trap [[minhashBands]] documents). The per-doc distinct
    * is one (id, fp) dedup shuffle — which the downstream census
    * shuffles on fp anyway. Output: (id, fp), distinct. */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(w >= 1, "w must be at least 1")
    val grams = transform(shingles(col(textCol), k), g => hash48(g))
    // O(len·w) shingle/hash/window-min work per row — fan the narrow
    // doc frame out first (Skew.fanOut: single-split small files +
    // AQE re-coalesce would otherwise serialize the whole pass).
    val withGrams = Skew.fanOut(docs.select(col(idCol), col(textCol)),
        col(idCol))
      .select(col(idCol), grams.as("__g"))
    val ng = size(col("__g"))
    // Window start indexes: empty docs explode away; short docs get
    // the sentinel −1 = "min of the whole gram array".
    val starts = when(ng === 0, array().cast("array<int>"))
      .when(ng < w, array(lit(-1)))
      .otherwise(sequence(lit(0), (ng - w).cast("int")))
    withGrams
      .select(col(idCol), col("__g"), explode(starts).as("__j"))
      .select(col(idCol),
        when(col("__j") === -1, array_min(col("__g")))
          .otherwise(array_min(slice(col("__g"), col("__j") + 1, lit(w))))
          .as("fp"))
      .distinct()
  }

  /** Near-dup pairs by shared winnowing fingerprints: docs sharing ≥
    * `minShared` fingerprints, with the shared count — the verbatim-
    * overlap complement of [[minhashNearDups]] (which estimates SET
    * similarity; this certifies CONTIGUOUS copied runs).
    *
    * Scale: the fingerprint is the equi-join key; fingerprints in
    * more than `maxDf` docs are dropped BEFORE pairing (boilerplate
    * fingerprints would fan out df² pairs — the standard stopword-
    * gram cut; legitimate copied passages live in rare fingerprints),
    * so per-key fanout is bounded by maxDf². One census + one
    * self-equi-join + one pair hash-agg; never corpus×corpus.
    *
    * Output: (a, b, n_shared) with a < b. */
  def winnowNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minShared: Int,
      maxDf: Int): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    require(maxDf >= 2, "maxDf must be at least 2 (pairs need two docs)")
    val fp = truncate(winnowFingerprints(docs, idCol, textCol, k, w))
    // (id, fp) is distinct by construction, so count(*) = doc freq.
    val rare = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("fp"))
    val pruned = fp.join(rare, Seq("fp"), "left_semi")
    pruned.select(col("fp"), col(idCol).as("a"))
      .join(pruned.select(col("fp"), col(idCol).as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Repeated-span detection (the ExactSubstr family, token-level):
    * find maximal token spans of ≥ `spanTokens` tokens that occur more
    * than once ANYWHERE in the corpus (across docs or within one), and
    * report per-doc duplicated-token mass. The "remove long verbatim
    * repeats" signal of Lee et al. 2022 without a distributed suffix
    * array: K-token grams index the corpus, a gram repeating globally
    * marks its start position, and overlapping marked windows merge
    * into maximal spans via per-doc gaps-and-islands.
    *
    * Scale: explode → (gram) hash-agg → semi join back → per-doc
    * window over marked positions only (bounded by doc length). The
    * heavy key is the gram string — same shuffle shape as exact dedup;
    * never corpus×corpus, no global window.
    *
    * Output: (id, n_tokens, n_spans, dup_tokens, dup_frac). */
  def repeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int): DataFrame =
    spanStats(docs, idCol, textCol, spanTokens,
      g => g.groupBy(col("gram"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .select(col("gram")))

  /** [[repeatedSpans]] restricted to spans shared across ≥ 2 DISTINCT
    * documents — boilerplate, mirrored pages, and template mass
    * (within-doc repetition, however heavy, scores zero here; q83's
    * repetition signals cover that axis). The distinct-doc census is
    * the two-phase (gram, id)-then-gram hash-agg — partials map-side
    * combine, same shuffle shape as the any-repeat census.
    *
    * Output: (id, n_tokens, n_spans, dup_tokens, dup_frac). */
  def crossDocSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int): DataFrame =
    spanStats(docs, idCol, textCol, spanTokens,
      g => g.groupBy(col("gram"))
        .agg(countDistinct(col(idCol)).as("c")).filter(col("c") >= 2)
        .select(col("gram")))

  /** Shared mechanics of the span family: position-indexed gram
    * explode, the caller's shared-gram census, gaps-and-islands span
    * merge, per-doc mass rollup. */
  private def spanStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int,
      sharedGrams: DataFrame => DataFrame): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    val grams = docs.select(col(idCol),
        posexplode(graft.functions.GraftExpressions.shingleList(
          tokens(col(textCol)), spanTokens)).as(Seq("p0", "gram")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("gram"))
    val rep = sharedGrams(grams)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = grams.join(rep, Seq("gram"), "left_semi")
      // New span when this window's coverage doesn't touch the
      // previous one's: pos > prev + spanTokens.
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1, -1000000).over(w) + spanTokens, 1)
          .otherwise(0))
      .withColumn("span_id", sum(col("brk")).over(w))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + spanTokens).cast("long").as("dup_tokens"))
    docs.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_frac"))
  }

  /** Content-defined chunking (CDC) dedup signal: cut each document's
    * token stream at content-determined boundaries (after any token
    * whose stable hash ≡ 0 mod `boundaryMod` — expected chunk length =
    * boundaryMod tokens), then count how much of each document lives
    * in chunks that occur more than once anywhere in the corpus.
    * Because boundaries depend only on content, an insertion early in
    * a copied document shifts token positions but NOT the downstream
    * chunk cuts — the rsync/LBFS trick — so copied tails still align
    * and dedup, where fixed-width chunking would miss every one.
    *
    * Scale: one token explode, a per-doc prefix-sum window (bounded by
    * doc length — the q89 gaps-and-islands shape), one hash-agg keyed
    * on the chunk digest (exact-dedup shape: the heavy keys are the
    * duplicated chunks and they map-side combine), and a join back on
    * the digest. Never corpus×corpus; chunk text is replaced by its
    * md5 before any shuffle, so shuffled rows stay narrow.
    *
    * Output: (id, n_tokens, n_chunks, dup_chunks, dup_tokens,
    * dup_frac), one row per doc with ≥1 token. */
  def cdcChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      boundaryMod: Int): DataFrame = {
    require(boundaryMod > 0, "boundaryMod must be positive")
    val toks = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("p0", "tok")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("tok"),
        when(graft.functions.TextFunctions.hash60(col("tok"))
          % boundaryMod === 0, 1L).otherwise(0L).as("cut"))
    // Chunk id = number of boundary tokens STRICTLY BEFORE this one
    // (a boundary token ends its chunk, so it belongs to the chunk it
    // closes).
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = toks
      .withColumn("chunk_id", coalesce(sum(col("cut")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).cast("long").as("c_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ")).as("digest"))
    val occurs = chunks.groupBy(col("digest"))
      .agg(count(lit(1)).as("occ"))
    chunks.join(occurs, Seq("digest"))
      .groupBy(col(idCol))
      .agg(sum(col("c_tokens")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("occ") > 1, col("c_tokens")).otherwise(0L))
          .as("dup_tokens"))
      .select(col(idCol), col("n_tokens"), col("n_chunks"),
        col("dup_chunks"), col("dup_tokens"),
        round(col("dup_tokens").cast("double")
          / col("n_tokens").cast("double"), 6).as("dup_frac"))
  }

  /** Exact-Jaccard near-dups within a bounded id range (the brute-force
    * oracle-checkable variant; production path is [[minhashNearDups]]). */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      threshold: Double): DataFrame = {
    // Shingle sets built sorted-distinct in ONE native pass; per-pair
    // work is then a native linear merge (JaccardSorted) instead of
    // interpreted lambdas — same string-set semantics.
    val sets = docs.select(col(idCol),
      graft.functions.GraftExpressions
        .sortedShingleSet(tokens(col(textCol)), shingleSize).as("sh"))
    val l = sets.select(col(idCol).as("a"), col("sh").as("sh_a"))
    val r = sets.select(col(idCol).as("b"), col("sh").as("sh_b"))
    l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("jaccard",
        graft.functions.GraftExpressions.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard").isNotNull && col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** ExactSubstr-style CLEANUP, the rewrite step the span censuses
    * ([[repeatedSpans]]/[[crossDocSpans]]) only measure: remove from
    * every document each ≥ `spanTokens`-token span that also appears
    * in a LOWER-doc_id document, keeping the first corpus occurrence —
    * the "drop all but one copy" policy of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"),
    * with corpus order (doc_id) as the deterministic keeper rule. A
    * gram's owner is its minimal doc_id; in every other document the
    * gram's token coverage is deleted and the surviving tokens are
    * re-joined in order.
    *
    * Scale: gram ownership is one hash-agg on the gram key; the
    * coverage explode is a bounded ×spanTokens fan-out of MATCHED
    * grams only; the rebuild groups by doc (bounded by document
    * length, as elsewhere in the text family). Never doc×doc.
    *
    * Output: (id, n_tokens, n_removed, scrub_frac [6 dp],
    * h8 = md5 prefix of the rebuilt text — portable without shipping
    * megabytes of cleaned text through a gate). */
  def scrubCrossDocSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    val grams = docs.select(col(idCol),
      posexplode(graft.functions.GraftExpressions.shingleList(
        tokens(col(textCol)), spanTokens)).as(Seq("p0", "gram")))
    val owner = grams.groupBy(col("gram")).agg(min(col(idCol)).as("own"))
    val covered = grams.join(owner, Seq("gram"))
      .filter(col(idCol) > col("own"))
      .select(col(idCol),
        explode(sequence(col("p0"), col("p0") + spanTokens - 1)).as("tp"))
      .distinct()
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("tp", "tok")))
    val rebuilt = toks.join(covered, Seq(idCol, "tp"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("tp"), col("tok")))),
            _.getField("tok")), " ").as("text_clean"))
    docs.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("long")
          .as("n_removed"),
        round((col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          / col("n_tokens"), 6).as("scrub_frac"),
        substring(md5(coalesce(col("text_clean"), lit(""))), 1, 8).as("h8"))
  }
}
