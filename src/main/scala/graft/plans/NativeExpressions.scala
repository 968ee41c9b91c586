package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the compute kernels where Spark's
  * higher-order functions are the bottleneck: HOFs (`transform` /
  * `aggregate`) evaluate interpreted — every element access walks an
  * expression tree — which measured 10-100× slower than compiled loops
  * on the minhash and dot-product kernels. These are real
  * `Expression`s with `doGenCode` (registered via
  * [[GraftExtensions]]), not UDFs: no encoder boundary, null semantics
  * in-plan, and the generated code is a plain call into a static kernel
  * so the JIT sees a monomorphic loop.
  *
  * Semantics are bit-identical to the declarative versions (the DuckDB
  * oracle keeps passing unchanged): minhash = min over shingles of the
  * first-15-hex-digit value of md5("<seed>|<shingle>"); dot = left-fold
  * sum of elementwise products.
  */
object Kernels {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Value of the first 15 hex digits of md5(seedPrefix ++ shingle) —
    * equal to parseLong(md5hex.take(15), 16): 7 full bytes + the high
    * nibble of byte 7. */
  private def hash15(prefix: Array[Byte], s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    d.update(prefix)
    d.update(s.getBytes)
    val b = d.digest()
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    (v << 4) | ((b(7) & 0xffL) >>> 4)
  }

  /** MinHash signature kernel: array of k minima. Null/empty shingle
    * arrays yield null elements (matching array_min over empty). */
  def minhashSignature(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val out = new Array[Any](k)
    var seed = 0
    while (seed < k) {
      val prefix = (seed.toString + "|").getBytes("UTF-8")
      var min = Long.MaxValue
      var any = false
      var i = 0
      while (i < n) {
        if (!shingles.isNullAt(i)) {
          val h = hash15(prefix, shingles.getUTF8String(i))
          if (h < min) min = h
          any = true
        }
        i += 1
      }
      out(seed) = if (any) min else null
      seed += 1
    }
    new GenericArrayData(out)
  }

  private val Space = UTF8String.fromString(" ")

  /** Word k-shingle kernel: space-joined sliding windows over a token
    * array — value-identical to [[graft.text.TextFunctions.wordShinglesOf]]
    * (`concat_ws(" ", ...)` skips null elements; fewer than k tokens →
    * empty array), but a compiled loop instead of an interpreted
    * `transform` that re-walks an expression tree per (window, element).
    * The shingle build is the dominant CPU of the whole text-dedup
    * family, so this kernel feeds jaccard/minhash/winnow paths. */
  def shingles(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k || k <= 0) return new GenericArrayData(Array.empty[Any])
    val arr = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      arr(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](n - k + 1)
    i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = arr(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-digest MinHash kernel: md5 ONCE per shingle (first 8 bytes as
    * a 64-bit value), then the k per-seed hashes are splitmix64 mixes
    * of that base value — the standard "one strong hash + k universal
    * derivations" scheme. Versus [[minhashSignature]]'s
    * md5-per-(seed,shingle), this is k× fewer digests (k=128 → the
    * signature pass stops being the pipeline's dominant CPU). Collision
    * behavior is the same minwise-hash family; use it where signatures
    * only need to AGREE with themselves (banding candidates), not match
    * an external oracle's md5 replay. Null/empty arrays → null
    * elements, matching [[minhashSignature]]. */
  def minhashMix(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val d = md5.get()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        any = true
        d.reset()
        val b = d.digest(shingles.getUTF8String(i).getBytes)
        var m = 0L
        var j = 0
        while (j < 8) { m = (m << 8) | (b(j) & 0xffL); j += 1 }
        var s = 0
        while (s < k) {
          var z = m + (s + 1) * 0x9e3779b97f4a7c15L // golden-ratio stream
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L // splitmix64 finalizer
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= (z >>> 31)
          if (z < mins(s)) mins(s) = z
          s += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](k)
    var s = 0
    while (s < k) { out(s) = if (any) mins(s) else null; s += 1 }
    new GenericArrayData(out)
  }

  /** SimHash kernel: tf-weighted 32-bit signature, exactly the
    * arithmetic of Dedup.simhashOf (bit b set iff Σ tf·(±1 by bit b of
    * md5Long(token, 8)) > 0). Integer sums commute, so the HashMap
    * iteration order is irrelevant. The declarative version computes tf
    * via an O(n²) interpreted filter per distinct token — this is the
    * hottest per-row kernel in the dedup family. */
  def simhash(toks: ArrayData): Long = {
    val n = toks.numElements()
    val tf = new java.util.LinkedHashMap[UTF8String, Long]()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        tf.merge(t, 1L, (a, b) => a + b)
      }
      i += 1
    }
    val bitSums = new Array[Long](32)
    val it = tf.entrySet().iterator()
    val d = md5.get()
    while (it.hasNext) {
      val e = it.next()
      d.reset()
      val b = d.digest(e.getKey.getBytes)
      // first 8 hex digits of md5 == first 4 bytes as unsigned int
      val h = ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
        ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
      val w = e.getValue
      var bit = 0
      while (bit < 32) {
        bitSums(bit) += (if (((h >> bit) & 1L) == 1L) w else -w)
        bit += 1
      }
    }
    var sig = 0L
    var bit = 0
    while (bit < 32) {
      if (bitSums(bit) > 0) sig |= (1L << bit)
      bit += 1
    }
    sig
  }

  /** Winnowing kernel: hash every shingle (first 8 hex digits of md5,
    * ≡ md5Long(s, 8)), slide a window of `w` hashes keeping each
    * window's minimum, return the distinct minima sorted ascending —
    * exactly [[graft.text.TextFunctions.winnowFromHashes]] over
    * `transform(sh, md5Long(_, 8))`, fused into one compiled pass (the
    * HOF version re-walks an interpreted tree per slice element).
    * Null shingle elements hash to Long.MaxValue — i.e. they never win
    * a window minimum, matching array_min's null-ignoring semantics
    * (wordShinglesOf never produces them, but the SQL-registered
    * function must not NPE on hand-built arrays). */
  def winnow(shingles: ArrayData, w: Int): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val d = md5.get()
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (shingles.isNullAt(i)) hashes(i) = Long.MaxValue
      else {
        d.reset()
        val b = d.digest(shingles.getUTF8String(i).getBytes)
        hashes(i) = ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
          ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
      }
      i += 1
    }
    val mins = new java.util.TreeSet[java.lang.Long]()
    if (n <= w) {
      var min = Long.MaxValue
      i = 0
      while (i < n) { if (hashes(i) < min) min = hashes(i); i += 1 }
      mins.add(min)
    } else {
      var start = 0
      while (start <= n - w) {
        var min = Long.MaxValue
        var j = start
        while (j < start + w) { if (hashes(j) < min) min = hashes(j); j += 1 }
        mins.add(min)
        start += 1
      }
    }
    val out = new Array[Any](mins.size)
    val it = mins.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  /** Dot-product kernel (left-to-right accumulation — same order as the
    * declarative fold and the DuckDB oracle, so doubles match bitwise).
    * Returns null for unequal lengths or null elements — the exact
    * semantics of the zip_with/aggregate fold (zip_with pads the short
    * side with nulls, which poison the sum), so swapping kernels can
    * never change results. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Unicode NFC kernel. Fast path: `Normalizer.isNormalized` is a
    * cheap scan that is true for pure-ASCII and most already-composed
    * text, so the common case never allocates the String round-trip. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Compiled BPE merge table: pair → rank, plus a per-thread LRU of
    * encoded pieces (hot words dominate natural-language corpora, so
    * the steady-state cost of a piece is one map probe). */
  final class BpeRanks(lefts: Array[String], rights: Array[String]) {
    val rank = new java.util.HashMap[(String, String), Integer](lefts.length * 2)
    for (i <- lefts.indices)
      // first occurrence wins, matching trainer output (no dup pairs)
      rank.putIfAbsent((lefts(i), rights(i)), Integer.valueOf(i))

    private val cache =
      new ThreadLocal[java.util.LinkedHashMap[String, Array[String]]] {
        override def initialValue() =
          new java.util.LinkedHashMap[String, Array[String]](1024, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[String, Array[String]]): Boolean =
              size() > 8192
          }
      }

    /** Greedy lowest-rank merge of one pre-tokenized piece. */
    def encodePiece(piece: String): Array[String] = {
      val hit = cache.get().get(piece)
      if (hit != null) return hit
      var syms = codepoints(piece)
      var done = false
      while (!done && syms.length > 1) {
        // lowest-rank adjacent pair present in the table
        var best = -1
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = rank.get((syms(i), syms(i + 1)))
          if (r != null && r.intValue() < bestRank) { bestRank = r.intValue(); best = i }
          i += 1
        }
        if (best < 0) done = true
        else {
          // fuse every left-to-right occurrence of the winning pair
          val l = syms(best); val rr = syms(best + 1)
          val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == rr) {
              out += l + rr; j += 2
            } else { out += syms(j); j += 1 }
          }
          syms = out.toArray
        }
      }
      cache.get().put(piece, syms)
      syms
    }
  }

  /** Surrogate-safe code-point split (each element one code point). */
  def codepoints(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      out += s.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  // The merge table arrives as a plan LITERAL (foldable arrays), so one
  // instance flows to every row of a task — memoize the compiled ranks
  // on it. Weak keys: the entry dies with the plan. ArrayData equality is
  // value-based, so the cache MUST be keyed on BOTH halves of the merge
  // table: two models can share a lefts sequence with different rights.
  private val bpeCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[ArrayData, java.util.Map[ArrayData, BpeRanks]])

  def bpeRanks(lefts: ArrayData, rights: ArrayData): BpeRanks = {
    var byRights = bpeCache.get(lefts)
    if (byRights == null) {
      byRights = java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[ArrayData, BpeRanks])
      bpeCache.put(lefts, byRights)
    }
    val hit = byRights.get(rights)
    if (hit != null) hit
    else {
      val n = lefts.numElements()
      val la = new Array[String](n); val ra = new Array[String](n)
      var i = 0
      while (i < n) {
        la(i) = lefts.getUTF8String(i).toString
        ra(i) = rights.getUTF8String(i).toString
        i += 1
      }
      val built = new BpeRanks(la, ra)
      byRights.put(rights, built)
      built
    }
  }

  /** BPE-encode kernel: pre-tokenize with [[graft.text.Bpe.PiecePattern]]
    * (a partition of the string — lossless), then merge each piece. */
  def bpeEncode(text: UTF8String, lefts: ArrayData, rights: ArrayData): ArrayData = {
    val ranks = bpeRanks(lefts, rights)
    val s = text.toString
    val m = graft.text.Bpe.CompiledPiecePattern.matcher(s)
    val out = new scala.collection.mutable.ArrayBuffer[Any](s.length / 3 + 4)
    while (m.find()) {
      val toks = ranks.encodePiece(m.group())
      var i = 0
      while (i < toks.length) { out += UTF8String.fromString(toks(i)); i += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  // vocab literal → token→id map, memoized like the merge ranks
  private val vocabCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[ArrayData, java.util.HashMap[String, Integer]])

  private def vocabIds(vocab: ArrayData): java.util.HashMap[String, Integer] = {
    val hit = vocabCache.get(vocab)
    if (hit != null) hit
    else {
      val n = vocab.numElements()
      val m = new java.util.HashMap[String, Integer](n * 2)
      var i = 0
      while (i < n) {
        // first occurrence wins — ids are positions in the vocab table
        m.putIfAbsent(vocab.getUTF8String(i).toString, Integer.valueOf(i))
        i += 1
      }
      vocabCache.put(vocab, m)
      m
    }
  }

  /** BPE-encode to int ids: [[bpeEncode]] then a vocab lookup per
    * token. A token outside the vocab maps to -1 (the caller's unk
    * policy — a vocab built from the training corpus' own merges
    * covers everything except base codepoints unseen at train time). */
  def bpeEncodeIds(text: UTF8String, lefts: ArrayData, rights: ArrayData,
      vocab: ArrayData): ArrayData = {
    val ranks = bpeRanks(lefts, rights)
    val ids = vocabIds(vocab)
    val s = text.toString
    val m = graft.text.Bpe.CompiledPiecePattern.matcher(s)
    val out = new scala.collection.mutable.ArrayBuffer[Any](s.length / 3 + 4)
    while (m.find()) {
      val toks = ranks.encodePiece(m.group())
      var i = 0
      while (i < toks.length) {
        val id = ids.get(toks(i))
        out += (if (id == null) -1 else id.intValue())
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** `graft_minhash(shingles, k)`: MinHash signature over a string array.
  * k must be foldable. */
case class MinhashSignatureExpr(child: Expression, kExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = kExpr
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!(child.dataType == ArrayType(StringType) ||
        child.dataType == ArrayType(StringType, containsNull = false)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_minhash needs array<string>, got ${child.dataType.simpleString}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_minhash needs a foldable INT k")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable || kExpr.nullable

  override def nullSafeEval(shingles: Any, kv: Any): Any =
    Kernels.minhashSignature(shingles.asInstanceOf[ArrayData], kv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, kv) =>
      s"${ev.value} = graft.plans.Kernels.minhashSignature($sh, $kv);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MinhashSignatureExpr =
    copy(child = newLeft, kExpr = newRight)

  override def prettyName: String = "graft_minhash"
}

/** `graft_shingles(tokens, k)`: word k-shingles of a token array.
  * k must be foldable. */
case class ShinglesExpr(child: Expression, kExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = kExpr
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!(child.dataType == ArrayType(StringType) ||
        child.dataType == ArrayType(StringType, containsNull = false)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingles needs array<string>, got ${child.dataType.simpleString}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_shingles needs a foldable INT k")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable || kExpr.nullable

  override def nullSafeEval(toks: Any, kv: Any): Any =
    Kernels.shingles(toks.asInstanceOf[ArrayData], kv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, kv) =>
      s"${ev.value} = graft.plans.Kernels.shingles($t, $kv);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ShinglesExpr =
    copy(child = newLeft, kExpr = newRight)

  override def prettyName: String = "graft_shingles"
}

/** `graft_minhash_mix(shingles, k)`: one-digest MinHash signature (md5
  * per shingle + splitmix64 seed mixes). k must be foldable. */
case class MinhashMixExpr(child: Expression, kExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = kExpr
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!(child.dataType == ArrayType(StringType) ||
        child.dataType == ArrayType(StringType, containsNull = false)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_mix needs array<string>, got ${child.dataType.simpleString}")
    else if (kExpr.dataType != IntegerType || !kExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_minhash_mix needs a foldable INT k")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable || kExpr.nullable

  override def nullSafeEval(shingles: Any, kv: Any): Any =
    Kernels.minhashMix(shingles.asInstanceOf[ArrayData], kv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, kv) =>
      s"${ev.value} = graft.plans.Kernels.minhashMix($sh, $kv);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MinhashMixExpr =
    copy(child = newLeft, kExpr = newRight)

  override def prettyName: String = "graft_minhash_mix"
}

/** `graft_simhash(tokens)`: tf-weighted 32-bit SimHash of a string
  * array. */
case class SimhashExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == ArrayType(StringType) ||
        child.dataType == ArrayType(StringType, containsNull = false))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_simhash needs array<string>, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType

  override def nullSafeEval(toks: Any): Any =
    Kernels.simhash(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.plans.Kernels.simhash($t)")

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}

/** `graft_nfc(text)`: Unicode NFC normalization — the canonical-form
  * step of text cleanup (decomposed accents, compatibility variants of
  * the same glyph sequence hash differently and so evade every
  * digest-based dedup gate until composed). Spark has no built-in;
  * this stays inside whole-stage codegen via a JDK `Normalizer`
  * kernel with an `isNormalized` fast path (no allocation on ASCII). */
case class NfcNormalizeExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_nfc needs string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType

  override def nullSafeEval(s: Any): Any =
    Kernels.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.plans.Kernels.nfc($t)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_nfc"
}

/** `graft_winnow(shingles, w)`: winnowing fingerprint set of a string
  * array. w must be foldable. */
case class WinnowExpr(child: Expression, wExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = wExpr
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!(child.dataType == ArrayType(StringType) ||
        child.dataType == ArrayType(StringType, containsNull = false)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_winnow needs array<string>, got ${child.dataType.simpleString}")
    else if (wExpr.dataType != IntegerType || !wExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_winnow needs a foldable INT w")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // wExpr too: a foldable NULL w must null the result, not reach the
  // kernel (codegen elides the null check when nullable is false)
  override def nullable: Boolean = child.nullable || wExpr.nullable

  override def nullSafeEval(shingles: Any, wv: Any): Any =
    Kernels.winnow(shingles.asInstanceOf[ArrayData], wv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, wv) =>
      s"${ev.value} = graft.plans.Kernels.winnow($sh, $wv);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): WinnowExpr =
    copy(child = newLeft, wExpr = newRight)

  override def prettyName: String = "graft_winnow"
}

/** `graft_dot(a, b)`: dot product of two double arrays. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType.isInstanceOf[ArrayType] &&
        e.dataType.asInstanceOf[ArrayType].elementType == DoubleType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot needs two array<double>, got ${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}$$r = graft.plans.Kernels.dot($a, $b);
      if (${ev.value}$$r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}$$r.doubleValue(); }""")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** `graft_bpe_encode(text, lefts, rights)`: byte-pair-encoding tokens of
  * `text` under the merge table `(lefts(i), rights(i)) = rank-i merge`
  * (both must be FOLDABLE array<string> — the trained merges arrive as
  * plan literals, exactly like the IVF centroids).
  *
  * Tokenization is the standard two-level scheme: the text is first
  * pre-tokenized into pieces by [[graft.text.Bpe.PiecePattern]] (a
  * partition of the string — concatenating the pieces reproduces the
  * text, so encode∘decode is the identity), then each piece is merged
  * greedily by rank: repeatedly find the LOWEST-rank adjacent symbol
  * pair and fuse every left-to-right occurrence, until no adjacent pair
  * is in the table. Per-row work only — the operator is shuffle-free
  * and stays inside whole-stage codegen at any corpus size.
  *
  * The compiled rank map is memoized on the literal array instance
  * (weak-keyed — dropped with the plan), and each thread keeps an LRU
  * of encoded pieces: natural-language corpora re-encode the same hot
  * words constantly, so the amortized cost per piece is a map probe.
  */
case class BpeEncodeExpr(text: Expression, leftsExpr: Expression,
    rightsExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = text
  override def second: Expression = leftsExpr
  override def third: Expression = rightsExpr

  private def isStrArr(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (text.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode needs a string text, got ${text.dataType.simpleString}")
    else if (!isStrArr(leftsExpr.dataType) || !isStrArr(rightsExpr.dataType) ||
        !leftsExpr.foldable || !rightsExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_bpe_encode needs two FOLDABLE array<string> merge columns")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = text.nullable

  override def nullSafeEval(t: Any, l: Any, r: Any): Any =
    Kernels.bpeEncode(t.asInstanceOf[UTF8String],
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, l, r) =>
      s"${ev.value} = graft.plans.Kernels.bpeEncode($t, $l, $r);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): BpeEncodeExpr =
    copy(text = newFirst, leftsExpr = newSecond, rightsExpr = newThird)

  override def prettyName: String = "graft_bpe_encode"
}

/** `graft_bpe_encode_ids(text, lefts, rights, vocab)`: BPE tokens as
  * INT ids — position in the foldable `vocab` array, -1 for a token
  * outside it. Same kernel and memoization as [[BpeEncodeExpr]], one
  * extra map probe per token; the id stream is what packing and a
  * training loader consume, and at ~4 bytes/token it shuffles an
  * order of magnitude lighter than the string tokens. */
case class BpeEncodeIdsExpr(text: Expression, leftsExpr: Expression,
    rightsExpr: Expression, vocabExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = text
  override def second: Expression = leftsExpr
  override def third: Expression = rightsExpr
  override def fourth: Expression = vocabExpr

  private def isStrArr(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (text.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode_ids needs a string text, got ${text.dataType.simpleString}")
    else if (Seq(leftsExpr, rightsExpr, vocabExpr).exists(e =>
        !isStrArr(e.dataType) || !e.foldable))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_bpe_encode_ids needs three FOLDABLE array<string> columns (lefts, rights, vocab)")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = text.nullable

  override def nullSafeEval(t: Any, l: Any, r: Any, v: Any): Any =
    Kernels.bpeEncodeIds(t.asInstanceOf[UTF8String], l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, l, r, v) =>
      s"${ev.value} = graft.plans.Kernels.bpeEncodeIds($t, $l, $r, $v);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): BpeEncodeIdsExpr =
    copy(text = newFirst, leftsExpr = newSecond, rightsExpr = newThird,
      vocabExpr = newFourth)

  override def prettyName: String = "graft_bpe_encode_ids"
}
