package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (with `doGenCode`) for the two hot
  * loops that Spark's built-in surface can only express via
  * interpreted higher-order-function lambdas: the K-way MinHash
  * reduction and stopword-table language scoring. Both stay inside
  * whole-stage codegen; per-element work is a plain Java loop instead
  * of a per-lambda expression-tree walk (~30× less overhead measured
  * at sf0.1).
  */
object GraftExpressions {

  /** `langId(tokens)`: argmax language by stopword-marker hits with
    * (hits desc, lang asc) tie-break; zero hits ⇒ "und". Token→lang
    * lookups go through a prebuilt hash map (a token may mark several
    * languages, e.g. "la" in both es and fr). */
  case class LangId(child: Expression, markers: Seq[(String, Seq[String])])
      extends UnaryExpression {

    override def dataType: DataType = StringType
    override def prettyName: String = "lang_id"

    // Languages in ascending code order = tie-break order.
    @transient private lazy val langs: Array[UTF8String] =
      markers.map(_._1).sorted.map(UTF8String.fromString).toArray
    @transient private lazy val table: java.util.HashMap[UTF8String, Array[Int]] = {
      val sortedLangs = markers.map(_._1).sorted
      val idx = sortedLangs.zipWithIndex.toMap
      val m = new java.util.HashMap[UTF8String, Array[Int]]()
      markers.foreach { case (lang, words) =>
        words.foreach { w =>
          val key = UTF8String.fromString(w)
          val prev = Option(m.get(key)).getOrElse(Array.empty[Int])
          m.put(key, prev :+ idx(lang))
        }
      }
      m
    }
    @transient private lazy val und = UTF8String.fromString("und")

    def score(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val counts = new Array[Int](langs.length)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val hit = table.get(arr.getUTF8String(i))
        if (hit != null) {
          var j = 0
          while (j < hit.length) { counts(hit(j)) += 1; j += 1 }
        }
        i += 1
      }
      var best = -1
      var bestHits = 0
      var j = 0
      while (j < counts.length) {
        if (counts(j) > bestHits) { bestHits = counts(j); best = j }
        j += 1
      }
      if (best < 0) und else langs(best)
    }

    override def nullSafeEval(input: Any): Any = score(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("langIdExpr", this,
        "graft.functions.GraftExpressions.LangId")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.score($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): LangId =
      copy(child = newChild)
  }

  /** Thread-local MD5 (codegen'd expression instances share the
    * references array across executor task threads). */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SpaceByte = Array[Byte](' ')

  /** `minhashTokens(toks)`: word-shingles of `shingleSize` → 48-bit
    * md5 prefix mod p per shingle → K-way affine min signature, all in
    * one native pass. Semantics identical to
    * `hash48(concat_ws(" ", slice(toks, i, n))) % p` followed by the
    * affine mins `min_k((a_k*h + b_k) mod p)` (duplicate shingles cannot change a min, so no distinct pass is
    * needed). Fewer than `shingleSize` tokens ⇒ empty array. */
  case class MinHashFromTokens(
      child: Expression, shingleSize: Int, as: Array[Long], bs: Array[Long], p: Long)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_tokens"

    def compute(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val k = as.length
      if (n < shingleSize) return new GenericArrayData(Array.empty[Long])
      val out = new Array[Long](k)
      java.util.Arrays.fill(out, p)
      val md = md5Local.get()
      var i = 0
      while (i <= n - shingleSize) {
        md.reset()
        var t = 0
        while (t < shingleSize) {
          if (t > 0) md.update(SpaceByte)
          md.update(toks.getUTF8String(i + t).getBytes)
          t += 1
        }
        val d = md.digest()
        // First 12 hex chars of the digest = first 6 bytes, big-endian.
        var h = 0L
        var b = 0
        while (b < 6) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h %= p
        var j = 0
        while (j < k) {
          val v = (as(j) * h + bs(j)) % p
          if (v < out(j)) out(j) = v
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("mhExpr", this,
        "graft.functions.GraftExpressions.MinHashFromTokens")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
           |  $ref.compute($c);""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashFromTokens =
      copy(child = newChild)
  }

  /** `sortedShingles(toks, n)`: word-shingles of size n (space-joined)
    * → DISTINCT, SORTED (binary UTF8 order) string array, in one
    * native pass — the verify-side twin of [[MinHashFromTokens]].
    * Equivalent to `array_sort(array_distinct(shingles(text, n)))`
    * whose interpreted transform/concat_ws lambdas dominate the
    * near-dup verify stage (~2.5 s of a 3.1 s pipeline at sf0.1).
    * Output feeds [[JaccardSorted]]'s linear merge. */
  case class SortedShingleSet(child: Expression, shingleSize: Int)
      extends UnaryExpression {
    require(shingleSize > 0, "shingleSize must be positive")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "sorted_shingles"

    def compute(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      if (n < shingleSize) return new GenericArrayData(Array.empty[Any])
      val set = new java.util.TreeSet[UTF8String]()
      var i = 0
      while (i <= n - shingleSize) {
        set.add(buildShingle(toks, i, shingleSize))
        i += 1
      }
      val out = new Array[Any](set.size)
      val it = set.iterator()
      var w = 0
      while (it.hasNext) { out(w) = it.next(); w += 1 }
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ssExpr", this,
        "graft.functions.GraftExpressions.SortedShingleSet")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
           |  $ref.compute($c);""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): SortedShingleSet =
      copy(child = newChild)
  }

  /** `shingle_list(tokens, n)`: ALL n-word shingles in document order,
    * duplicates kept — the multiplicity-preserving twin of
    * [[SortedShingleSet]] for repetition statistics, where how OFTEN a
    * gram repeats is the signal. Same native one-pass build (no
    * interpreted HOF lambda riding into the downstream GenerateExec
    * when the caller explodes the result). */
  case class ShingleList(child: Expression, shingleSize: Int)
      extends UnaryExpression {
    require(shingleSize > 0, "shingleSize must be positive")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "shingle_list"

    def compute(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      if (n < shingleSize) return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](n - shingleSize + 1)
      var i = 0
      while (i <= n - shingleSize) {
        out(i) = buildShingle(toks, i, shingleSize)
        i += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("slExpr", this,
        "graft.functions.GraftExpressions.ShingleList")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
           |  $ref.compute($c);""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): ShingleList =
      copy(child = newChild)
  }

  /** `bpe_encode(token)`: apply a trained BPE merge list to ONE token
    * (word) — the tokenizer-apply half of BPE, running at scan speed
    * inside codegen with no external tokenizer library. The token
    * starts as its code points; each loop merges every left-to-right
    * occurrence of the present pair with the LOWEST merge rank, until
    * no listed pair remains — the standard greedy BPE apply (Sennrich
    * et al. 2016). Callers explode whitespace tokens first, so pieces
    * never cross word boundaries; train the merge list with
    * [[graft.operators.Corpus.bpeTrain]] (at 100 TB: on a sample —
    * the merge table is the model, applying it is map-only). */
  case class BpeEncode(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "bpe_encode"

    @transient private lazy val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.size * 2)
      merges.zipWithIndex.foreach { case ((a, b), i) =>
        // First (lowest) rank wins if a pair is listed twice.
        m.putIfAbsent(a + "\u0000" + b, i)
      }
      m
    }

    def compute(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      var syms = new java.util.ArrayList[String](s.length)
      var i = 0
      while (i < s.length) { // split by code point, surrogate-safe
        val cp = s.codePointAt(i)
        val n = Character.charCount(cp)
        syms.add(s.substring(i, i + n))
        i += n
      }
      var done = syms.size < 2
      while (!done) {
        var bestRank = Int.MaxValue
        var j = 0
        while (j < syms.size - 1) {
          val r = rank.get(syms.get(j) + "\u0000" + syms.get(j + 1))
          if (r != null && r < bestRank) bestRank = r
          j += 1
        }
        if (bestRank == Int.MaxValue) done = true
        else {
          val (a, b) = merges(bestRank)
          val merged = new java.util.ArrayList[String](syms.size)
          var k = 0
          while (k < syms.size) {
            if (k < syms.size - 1 && syms.get(k) == a && syms.get(k + 1) == b) {
              merged.add(a + b); k += 2
            } else { merged.add(syms.get(k)); k += 1 }
          }
          syms = merged
          done = syms.size < 2
        }
      }
      val out = new Array[Any](syms.size)
      var o = 0
      while (o < syms.size) { out(o) = UTF8String.fromString(syms.get(o)); o += 1 }
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeExpr", this,
        "graft.functions.GraftExpressions.BpeEncode")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
           |  $ref.compute($c);""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): BpeEncode =
      copy(child = newChild)
  }

  private val SpaceUtf8 = UTF8String.fromString(" ")

  /** `nfc_normalize(s)`: Unicode NFC canonical composition — the
    * canonicalization that must run BEFORE any hash-based dedup or
    * fingerprint, or visually-identical docs ("café" composed vs
    * decomposed) land in different buckets forever. Wraps
    * `java.text.Normalizer` with an `isNormalized` fast path so the
    * (overwhelmingly common) already-NFC input allocates nothing.
    * Mirrors DuckDB's `nfc_normalize`. */
  /** `ws_tokens(text)`: lower-cased whitespace tokens in ONE native
    * byte scan — the hot primitive under every token-derived signal
    * (66 call sites: shingles, MinHash, BM25, counts…). Semantics
    * identical to `filter(split(lower(text), "\\s+"), len > 0)`:
    * Java `\s` is exactly ASCII 0x09–0x0D + 0x20, none of which can
    * occur inside a multi-byte UTF-8 sequence (continuation bytes are
    * ≥ 0x80), so the scan splits lowered BYTES safely and each token
    * is a zero-copy slice. Replaces a regex split (Pattern machinery
    * per row) plus an interpreted ArrayFilter lambda (HOFs are
    * CodegenFallback — they break the codegen span the split sits
    * in). */
  case class WhitespaceTokens(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "ws_tokens"

    private def isWs(b: Byte): Boolean =
      b == 0x20 || (b >= 0x09 && b <= 0x0D)

    def compute(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].toLowerCase.getBytes
      val n = bytes.length
      val out = new java.util.ArrayList[Any]()
      var i = 0
      while (i < n) {
        while (i < n && isWs(bytes(i))) i += 1
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
      }
      new GenericArrayData(out.toArray)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wsExpr", this,
        "graft.functions.GraftExpressions.WhitespaceTokens")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
           |  $ref.compute($c);""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): WhitespaceTokens =
      copy(child = newChild)
  }

  /** `charNgramStats(loweredText, n)`: q213's whole per-doc census in
    * ONE pass — gram counts in a per-row hash map instead of a
    * per-character explode feeding two shuffles (the former top cost
    * of the bench at 3.3 s). Grams are CODE-POINT windows, matching
    * `substr(i, n)`/`length()` semantics exactly (a supplementary
    * character is one position on both paths); for n ≤ 3 a window
    * packs injectively into a Long (21 bits per code point) so the
    * count map never materializes gram strings. The entropy
    * quantization replicates the SQL formula it replaces term for
    * term — round(1e6·ln N) − round(Σ c·round(1e6·ln c) / N) with
    * Spark's own BigDecimal HALF_UP rounding (memoized for small c,
    * which is nearly all of them). Fewer grams than n ⇒ (0, 0, 0) —
    * callers filter those rows, as before.
    *
    * Returns struct(n_grams, distinct_grams, entropy_mnat). */
  case class CharNgramStats(child: Expression, n: Int)
      extends UnaryExpression {

    override def dataType: DataType = CharNgramStats.OutType
    override def prettyName: String = "char_ngram_stats"

    def compute(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val cps = s.codePoints().toArray
      val total = cps.length - n + 1
      if (total <= 0)
        return new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](0L, 0L, 0L))
      var nGrams = 0L
      var distinct = 0L
      var sTerm = 0L
      if (n <= 3) {
        val counts = new java.util.HashMap[java.lang.Long, Array[Long]]()
        var i = 0
        while (i < total) {
          var key = 0L
          var j = 0
          while (j < n) { key = (key << 21) | cps(i + j).toLong; j += 1 }
          val cell = counts.get(key)
          if (cell == null) counts.put(key, Array(1L)) else cell(0) += 1L
          i += 1
        }
        val it = counts.values().iterator()
        while (it.hasNext) {
          val c = it.next()(0)
          nGrams += c; distinct += 1L
          sTerm += c * CharNgramStats.lnq(c)
        }
      } else {
        val counts = new java.util.HashMap[String, Array[Long]]()
        var i = 0
        while (i < total) {
          val g = new String(cps, i, n)
          val cell = counts.get(g)
          if (cell == null) counts.put(g, Array(1L)) else cell(0) += 1L
          i += 1
        }
        val it = counts.values().iterator()
        while (it.hasNext) {
          val c = it.next()(0)
          nGrams += c; distinct += 1L
          sTerm += c * CharNgramStats.lnq(c)
        }
      }
      val entropy = CharNgramStats.lnq(nGrams) -
        CharNgramStats.roundHalfUp(sTerm.toDouble / nGrams.toDouble)
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](nGrams, distinct, entropy))
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cnsExpr", this,
        "graft.functions.GraftExpressions.CharNgramStats")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)
           |  $ref.compute($c);""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): CharNgramStats =
      copy(child = newChild)
  }

  object CharNgramStats {
    import org.apache.spark.sql.types.{StructField, StructType}

    val OutType: StructType = StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("distinct_grams", LongType, nullable = false),
      StructField("entropy_mnat", LongType, nullable = false)))

    /** Spark's Round(double, 0) exactly: shortest-decimal BigDecimal,
      * HALF_UP. (floor(x+0.5) has known off-by-one doubles; this is
      * the one the replaced SQL used.) */
    def roundHalfUp(x: Double): Long =
      scala.math.BigDecimal(x)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong

    /** round(1e6·ln c), memoized over the small counts that dominate
      * real gram distributions. */
    private val lnqMemo: Array[Long] =
      (0 to 4096).map {
        case 0 => 0L
        case c => roundHalfUp(1e6 * math.log(c.toDouble))
      }.toArray

    def lnq(c: Long): Long =
      if (c >= 0 && c < lnqMemo.length) lnqMemo(c.toInt)
      else roundHalfUp(1e6 * math.log(c.toDouble))
  }

  case class NfcNormalize(child: Expression) extends UnaryExpression {

    override def dataType: DataType = StringType
    override def prettyName: String = "nfc_normalize"

    def compute(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nfcExpr", this,
        "graft.functions.GraftExpressions.NfcNormalize")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = (org.apache.spark.unsafe.types.UTF8String)
           |  $ref.compute($c);""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
      copy(child = newChild)
  }

  /** Space-joined shingle of `size` tokens starting at `i`. The
    * single-token case CLONES: `getUTF8String` on UnsafeArrayData
    * returns a view into a reusable buffer, and an un-copied reference
    * escaping into the output array would alias whatever row the
    * buffer holds later. (Concat already allocates for size > 1.)
    * Shared by [[SortedShingleSet]] and [[ShingleList]] so the two
    * stay semantically locked. */
  private def buildShingle(toks: ArrayData, i: Int, size: Int): UTF8String = {
    if (size == 1) return toks.getUTF8String(i).clone()
    var sh = toks.getUTF8String(i)
    var t = 1
    while (t < size) {
      sh = UTF8String.concat(sh, SpaceUtf8, toks.getUTF8String(i + t))
      t += 1
    }
    sh
  }

  /** `simhash(toks, bits)`: per-bit majority vote over the 60-bit md5
    * prefixes of the DISTINCT token strings (string-distinct first —
    * two distinct tokens colliding to one hash must still vote twice,
    * mirroring the SQL oracle's list_distinct-then-hash order). */
  case class SimHashFromTokens(child: Expression, bits: Int)
      extends UnaryExpression {

    override def dataType: DataType = LongType
    override def prettyName: String = "simhash"

    def compute(input: Any): Long = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val seen = new java.util.HashSet[UTF8String]()
      val votes = new Array[Int](bits)
      val md = md5Local.get()
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        if (seen.add(t)) {
          md.reset()
          md.update(t.getBytes)
          val d = md.digest()
          // First 15 hex chars = 60 bits: 7 bytes + high nibble of the 8th.
          var h = 0L
          var b = 0
          while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
          h = (h << 4) | ((d(7) >> 4) & 0xfL)
          var j = 0
          while (j < bits) {
            if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < bits) { if (votes(j) >= 0) out |= (1L << j); j += 1 }
      out
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shExpr", this,
        "graft.functions.GraftExpressions.SimHashFromTokens")
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): SimHashFromTokens =
      copy(child = newChild)
  }

  /** `selfPairs(ids)`: all (a, b) combinations with a < b positionally
    * from a sorted id array — candidate-pair expansion inside one
    * bucket, natively. */
  case class SelfPairs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("b", LongType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "self_pairs"

    def compute(input: Any): Any = {
      val ids = input.asInstanceOf[ArrayData]
      val n = ids.numElements()
      val nPairs = n.toLong * (n - 1) / 2
      // A bucket this hot means the LSH banding has degenerated (e.g.
      // millions of identical docs in one band) — fail with an
      // actionable message instead of a wrapped-negative allocation.
      require(nPairs <= 10000000L,
        s"self_pairs: bucket of $n ids would expand to $nPairs pairs; " +
          "split the hot bucket (more bands / narrower band keys) or " +
          "pre-collapse exact duplicates before LSH")
      val out = new Array[Any](nPairs.toInt)
      var w = 0
      var i = 0
      while (i < n) {
        val a = ids.getLong(i)
        var j = i + 1
        while (j < n) {
          out(w) = org.apache.spark.sql.catalyst.InternalRow(a, ids.getLong(j))
          w += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any = compute(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("spExpr", this,
        "graft.functions.GraftExpressions.SelfPairs")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
           |  $ref.compute($c);""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): SelfPairs =
      copy(child = newChild)
  }

  /** `dotQ(a, b)`: exact integer dot product of two quantized
    * `array<long>` vectors in one native loop — the inner kernel of
    * every similarity operator (the zip_with/aggregate formulation
    * walks two lambda trees per element). Arrays must be equal length
    * (vectors of one embedding space). */
  case class DotProductQ(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = LongType
    override def prettyName: String = "dot_q"

    def compute(l: Any, r: Any): Long = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0L
      var i = 0
      while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
      acc
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dotExpr", this,
        "graft.functions.GraftExpressions.DotProductQ")
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProductQ =
      copy(left = newLeft, right = newRight)
  }

  def dotQNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      DotProductQ(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `jaccardSorted(a, b)`: Jaccard similarity of two SORTED distinct
    * string arrays via a linear merge — no per-pair interpreted
    * set-intersection lambdas. Empty-union pairs yield null (caller
    * filters), matching `size(union) > 0` guards. */
  case class JaccardSorted(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def prettyName: String = "jaccard_sorted"

    def compute(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val na = a.numElements()
      val nb = b.numElements()
      if (na == 0 && nb == 0) return null
      var i = 0
      var j = 0
      var inter = 0
      while (i < na && j < nb) {
        val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      inter.toDouble / (na + nb - inter).toDouble
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("jsExpr", this,
        "graft.functions.GraftExpressions.JaccardSorted")
      val out = ctx.freshName("jsOut")
      nullSafeCodeGen(ctx, ev, (a, b) => {
        s"""Object $out = $ref.compute($a, $b);
           |if ($out == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ((Double) $out).doubleValue(); }""".stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): JaccardSorted =
      copy(left = newLeft, right = newRight)
  }

  def jaccardSorted(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      JaccardSorted(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `intersectSizeSorted(a, b)`: |a ∩ b| of two SORTED distinct
    * string arrays via the same linear merge as [[JaccardSorted]] —
    * the exact-count sibling containment scoring needs (Jaccard's
    * ratio loses the integer numerator). Never null: empty inputs
    * intersect to 0. */
  case class IntersectSizeSorted(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def prettyName: String = "intersect_size_sorted"

    def compute(l: Any, r: Any): Long = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val na = a.numElements()
      val nb = b.numElements()
      var i = 0
      var j = 0
      var inter = 0L
      while (i < na && j < nb) {
        val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      inter
    }

    override def nullSafeEval(l: Any, r: Any): Any = compute(l, r)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("issExpr", this,
        "graft.functions.GraftExpressions.IntersectSizeSorted")
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): IntersectSizeSorted =
      copy(left = newLeft, right = newRight)
  }

  def intersectSizeSorted(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      IntersectSizeSorted(GraftSqlBridge.expression(a),
        GraftSqlBridge.expression(b)))

  def minhashFromTokens(
      toks: Column, shingleSize: Int,
      as: Array[Long], bs: Array[Long], p: Long): Column =
    GraftSqlBridge.column(
      MinHashFromTokens(GraftSqlBridge.expression(toks), shingleSize, as, bs, p))

  def sortedShingleSet(toks: Column, shingleSize: Int): Column =
    GraftSqlBridge.column(
      SortedShingleSet(GraftSqlBridge.expression(toks), shingleSize))

  def shingleList(toks: Column, shingleSize: Int): Column =
    GraftSqlBridge.column(
      ShingleList(GraftSqlBridge.expression(toks), shingleSize))

  def nfcNormalize(s: Column): Column =
    GraftSqlBridge.column(NfcNormalize(GraftSqlBridge.expression(s)))

  def charNgramStats(text: Column, n: Int): Column =
    GraftSqlBridge.column(CharNgramStats(GraftSqlBridge.expression(text), n))

  def wsTokens(text: Column): Column =
    GraftSqlBridge.column(WhitespaceTokens(GraftSqlBridge.expression(text)))

  def simhashFromTokens(toks: Column, bits: Int): Column =
    GraftSqlBridge.column(SimHashFromTokens(GraftSqlBridge.expression(toks), bits))

  def selfPairs(ids: Column): Column =
    GraftSqlBridge.column(SelfPairs(GraftSqlBridge.expression(ids)))

  def langIdFast(tokens: Column, markers: Seq[(String, Seq[String])]): Column =
    GraftSqlBridge.column(LangId(GraftSqlBridge.expression(tokens), markers))

  /** `jaroWinkler(a, b)`: the record-linkage string similarity, as a
    * codegen'd binary expression (the per-row loop stays a plain Java
    * scan inside whole-stage codegen — a lambda/UDF form would box
    * every row). Semantics are pinned to DuckDB's implementation —
    * the oracle engine — and were differentially verified over 13k
    * random pairs at FULL double precision (0 mismatches): match
    * window ⌊max(len)/2⌋−1, transpositions floor-halved (INTEGER
    * division — the t/2.0 variant differs and is wrong here), jaro =
    * (m/la + m/lb + (m−⌊t/2⌋)/m)/3 evaluated left-to-right, Winkler
    * boost j + ℓ·0.1·(1−j) only when j > 0.7 with common prefix
    * ℓ ≤ 4, either-empty ⇒ 0, case-sensitive. Operates on UTF-16
    * code units (= code points = bytes on the ASCII fixtures the
    * oracle parity is gated on; supplementary-plane parity with
    * DuckDB's byte-wise loop is NOT claimed). */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.DoubleType
    override def prettyName: String = "jaro_winkler"

    override def nullSafeEval(a: Any, b: Any): Any =
      JaroWinkler.compute(a.asInstanceOf[UTF8String],
        b.asInstanceOf[UTF8String])

    /** Instance bridge for codegen: Janino resolves the nested Scala
      * object fine as a reference-object TYPE (the MinHashFromTokens
      * pattern) but not as an expression-position member select, so
      * the generated call goes through `this`. */
    def jw(a: UTF8String, b: UTF8String): Double =
      JaroWinkler.compute(a, b)

    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("jwExpr", this,
        "graft.functions.GraftExpressions.JaroWinkler")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $ref.jw($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): JaroWinkler =
      copy(left = newLeft, right = newRight)
  }

  object JaroWinkler {
    /** Shared by eval and codegen; operation ORDER mirrors the
      * differential test exactly — do not re-associate. */
    def compute(au: UTF8String, bu: UTF8String): Double = {
      val a = au.toString
      val b = bu.toString
      val la = a.length
      val lb = b.length
      if (la == 0 || lb == 0) return 0.0
      val window = math.max(math.max(la, lb) / 2 - 1, 0)
      val aM = new Array[Boolean](la)
      val bM = new Array[Boolean](lb)
      var m = 0
      var i = 0
      while (i < la) {
        var j = math.max(0, i - window)
        val hi = math.min(lb - 1, i + window)
        var found = false
        while (j <= hi && !found) {
          if (!bM(j) && a.charAt(i) == b.charAt(j)) {
            aM(i) = true; bM(j) = true; m += 1; found = true
          }
          j += 1
        }
        i += 1
      }
      if (m == 0) return 0.0
      var t = 0
      var k = 0
      i = 0
      while (i < la) {
        if (aM(i)) {
          while (!bM(k)) k += 1
          if (a.charAt(i) != b.charAt(k)) t += 1
          k += 1
        }
        i += 1
      }
      val jaro = (m.toDouble / la + m.toDouble / lb +
        (m - t / 2).toDouble / m) / 3.0
      if (jaro <= 0.7) return jaro
      val maxL = math.min(4, math.min(la, lb))
      var l = 0
      while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }

  def bpeEncode(token: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(BpeEncode(GraftSqlBridge.expression(token), merges))

  def jaroWinkler(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaroWinkler(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
