package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer: train a merge table over a
  * corpus, encode documents with it, all inside the DataFrame plan.
  *
  * The reference engine has no tokenizer (its unit is the log record);
  * this is one of the training-data-pipeline operators a 100 TB corpus
  * engine needs first-class: token counts gate selection budgets
  * (q76), packing (q57) needs real token ids, and vocabulary induction
  * is the canonical "heavy reduce over all text" workload.
  *
  * Scale design — the two phases have very different shapes:
  *
  *   - '''Piece counting (distributed, the only data-sized pass).'''
  *     Documents are pre-tokenized by [[PiecePattern]] and reduced to a
  *     `(piece, freq)` table: a map-side-combined groupBy whose result
  *     is vocabulary-sized, not corpus-sized — distinct pieces grow
  *     sublinearly (Heaps' law), and the `minFreq`/`maxPieces` caps
  *     bound it outright (a piece seen < minFreq times cannot move a
  *     merge decision at corpus scale; the cap is a deterministic
  *     top-K by (freq desc, piece asc), a `TakeOrderedAndProject`, not
  *     a global sort).
  *   - '''Merge induction (driver, metadata-sized).''' The classic BPE
  *     loop runs over the collected piece-frequency table — the same
  *     driver-side-model pattern as the IVF centroids and PQ codebooks:
  *     what is collected is the MODEL (≤ maxPieces rows), never the
  *     corpus. Pair counts update incrementally (only words containing
  *     the merged pair are rewritten) and the argmax pops from a
  *     lazy-deletion heap, so induction is O(vocab) per merge, not
  *     O(vocab × merges) rescans.
  *
  * Encoding is a per-row native kernel
  * ([[graft.plans.BpeEncodeExpr]]): shuffle-free, codegen'd, with the
  * trained merges shipped as plan literals (IVF-centroid precedent) —
  * so the encode pass scales embarrassingly.
  *
  * Determinism contract: ties in pair frequency break toward the
  * lexicographically smallest (left, right) pair, so the merge table
  * is a pure function of the piece-frequency table regardless of
  * hash-map iteration or partition order.
  */
object Bpe {

  /** Pre-tokenizer. The alternatives partition every character (letter
    * runs | digit runs | ONE whitespace char | one other char), so the
    * matches concatenate back to the exact input — encode∘decode is
    * the identity with no escape hatch for unseen bytes (any char is
    * its own base symbol). Spelled to mean the same under Java regex
    * (Spark) and RE2 (DuckDB oracle). */
  val PiecePattern = "[A-Za-z]+|[0-9]+|\\s|[^A-Za-z0-9\\s]"
  val CompiledPiecePattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(PiecePattern)

  /** Pre-token pieces of `text` as array<string>. */
  def pieces(text: Column): Column =
    regexp_extract_all(text, lit(PiecePattern), lit(0))

  /** One learned merge; rank = position in the table. */
  final case class Merge(left: String, right: String)

  /** Train `numMerges` BPE merges over `docs(textCol)`.
    *
    * @param minFreq   pieces seen fewer times are dropped before
    *                  induction (noise at corpus scale; bounds driver
    *                  memory together with maxPieces)
    * @param maxPieces hard cap on the collected piece table — the
    *                  driver-side model size, top-K by (freq, piece)
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 1L, maxPieces: Int = 1 << 22): Seq[Merge] = {
    val freqs = docs
      .select(explode(pieces(col(textCol))).as("piece"))
      // single-codepoint pieces hold no pairs; drop before the shuffle
      .filter(length(col("piece")) >= 2)
      .groupBy("piece").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("piece").asc)
      .limit(maxPieces)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    induce(freqs, numMerges)
  }

  /** The driver-side merge loop over a piece-frequency table. Public so
    * specs can feed hand-built tables. */
  def induce(pieceFreqs: Seq[(String, Long)], numMerges: Int): Seq[Merge] = {
    // symbol sequences per distinct piece (codepoint base alphabet)
    val words: Array[Array[String]] =
      pieceFreqs.map(p => graft.plans.Kernels.codepoints(p._1)).toArray
    val freq: Array[Long] = pieceFreqs.map(_._2).toArray

    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def scanPairs(wi: Int, sign: Long): Unit = {
      val w = words(wi)
      var i = 0
      while (i < w.length - 1) {
        val p = (w(i), w(i + 1))
        val c = pairCount.getOrElse(p, 0L) + sign * freq(wi)
        if (c <= 0L) { pairCount.remove(p); pairWords.get(p).foreach(_ -= wi) }
        else {
          pairCount(p) = c
          if (sign > 0) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        }
        i += 1
      }
    }
    words.indices.foreach(scanPairs(_, 1L))

    // lazy-deletion max-heap: entries go stale when a count changes;
    // pop until the top matches the live count. Order: count desc,
    // then (left, right) asc — the determinism contract.
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.by(e => (e._1, ReverseString(e._2), ReverseString(e._3)))
    val heap = mutable.PriorityQueue.empty[(Long, String, String)]
    pairCount.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val merges = mutable.ArrayBuffer.empty[Merge]
    while (merges.size < numMerges && heap.nonEmpty) {
      val (c, l, r) = heap.dequeue()
      if (pairCount.get((l, r)).contains(c)) {
        merges += Merge(l, r)
        val affected = pairWords.getOrElse((l, r), mutable.BitSet.empty).toArray
        // every pair whose count an affected word can move — BOTH the
        // pre-rewrite pairs (a destroyed neighbor pair may survive in
        // other words at a LOWER count, which must reach the heap or
        // the lazy-deletion check would discard it forever) and the
        // post-rewrite pairs (new fused neighbors)
        val touched = mutable.HashSet.empty[(String, String)]
        affected.foreach { wi =>
          val before = words(wi)
          var i = 0
          while (i < before.length - 1) { touched += ((before(i), before(i + 1))); i += 1 }
          scanPairs(wi, -1L)
          words(wi) = fuse(words(wi), l, r)
          val w = words(wi)
          i = 0
          while (i < w.length - 1) { touched += ((w(i), w(i + 1))); i += 1 }
          scanPairs(wi, 1L)
        }
        pairCount.remove((l, r))
        pairWords.remove((l, r))
        // re-enqueue live counts for every pair the rewrites touched
        touched.foreach { p =>
          pairCount.get(p).foreach(c2 => heap.enqueue((c2, p._1, p._2)))
        }
      }
    }
    merges.toSeq
  }

  /** Fuse every left-to-right occurrence of (l, r) in one word. */
  private def fuse(w: Array[String], l: String, r: String): Array[String] = {
    val out = new mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      if (i < w.length - 1 && w(i) == l && w(i + 1) == r) { out += l + r; i += 2 }
      else { out += w(i); i += 1 }
    }
    out.toArray
  }

  /** Inverted-order string wrapper so one Ordering.by gives count DESC
    * with pair ASC tie-break in a max-heap. */
  private final case class ReverseString(s: String) extends Ordered[ReverseString] {
    override def compare(that: ReverseString): Int = that.s.compareTo(s)
  }

  /** Encode `text` into BPE tokens under `merges` (plan-literal merge
    * table → [[graft.plans.BpeEncodeExpr]], codegen'd per row). */
  def encode(text: Column, merges: Seq[Merge]): Column =
    call_function("graft_bpe_encode", text,
      typedLit(merges.map(_.left)), typedLit(merges.map(_.right)))

  /** Decode = concatenate: the pre-tokenizer partitions the string and
    * merges only fuse within a piece, so this is exact. */
  def decode(tokens: Column): Column = array_join(tokens, "")

  /** Token vocabulary with corpus frequencies (explode + count: the
    * standard map-side-combined reduce; result is vocab-sized). */
  def vocab(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame =
    docs.select(explode(encode(col(textCol), merges)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))

  /** Deterministic vocab-id order over the corpus: frequency desc,
    * token asc — a pure function of the encoded corpus, identical on
    * any partitioning. Driver-sized like the merge table (ids ARE
    * positions in this list; ship it with the merges). */
  def vocabList(docs: DataFrame, textCol: String, merges: Seq[Merge]): Seq[String] =
    vocab(docs, textCol, merges)
      .orderBy(col("freq").desc, col("token").asc)
      .select("token").collect().map(_.getString(0)).toSeq

  /** Encode `text` into INT token ids — position in `vocabToks`, -1
    * for out-of-vocab (base codepoints unseen when the vocab was
    * built). The id stream is what packing and a training loader
    * consume: ~4 bytes/token instead of a string, with the vocab as a
    * plan literal like the merges ([[graft.plans.BpeEncodeIdsExpr]]). */
  def encodeIds(text: Column, merges: Seq[Merge], vocabToks: Seq[String]): Column =
    call_function("graft_bpe_encode_ids", text,
      typedLit(merges.map(_.left)), typedLit(merges.map(_.right)),
      typedLit(vocabToks))

  /** Decode an id stream through the same vocab list (−1 → empty). */
  def decodeIds(ids: Column, vocabToks: Seq[String]): Column = {
    val v = typedLit(vocabToks)
    array_join(transform(ids, i =>
      when(i >= 0 && i < vocabToks.size, element_at(v, i + 1))
        .otherwise(lit(""))), "")
  }

  /** Persist a merge table, one `left<TAB>right` line per rank (the
    * train-once / encode-many seam: the model is a small driver-local
    * file, like the reference's rule files). TSV is unambiguous here
    * by construction: [[PiecePattern]] makes every whitespace char its
    * own single-codepoint piece, so no merge symbol can contain one —
    * asserted anyway so a future pre-tokenizer change fails loudly. */
  def saveMerges(path: String, merges: Seq[Merge]): Unit = {
    merges.foreach { m =>
      require(!(m.left + m.right).exists(_.isWhitespace),
        s"merge symbols must be whitespace-free for TSV: ${m.left}|${m.right}")
    }
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      merges.map(m => s"${m.left}\t${m.right}").mkString("", "\n", "\n")
        .getBytes("UTF-8"))
  }

  /** Load a merge table written by [[saveMerges]]. */
  def loadMerges(path: String): Seq[Merge] =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      "UTF-8").split("\n").toSeq.filter(_.nonEmpty).map { line =>
      line.split("\t", 2) match {
        case Array(l, r) => Merge(l, r)
        case _ => sys.error(s"bad merge line in $path: '$line'")
      }
    }

  // Vocab tokens can BE whitespace (" " is usually the most frequent
  // token), so the vocab file JSON-escapes each token, one per line —
  // unambiguous for any unicode token, greppable, position = id.
  private def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonUnescape(s: String): String = {
    require(s.length >= 2 && s.head == '"' && s.last == '"',
      s"bad vocab line: $s")
    val b = new StringBuilder
    var i = 1
    while (i < s.length - 1) {
      s(i) match {
        case '\\' =>
          s(i + 1) match {
            case 'n' => b += '\n'; i += 2
            case 'r' => b += '\r'; i += 2
            case 't' => b += '\t'; i += 2
            case 'u' =>
              b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
              i += 6
            case c => b += c; i += 2
          }
        case c => b += c; i += 1
      }
    }
    b.toString
  }

  /** Persist a vocab-id table (line N = token with id N). */
  def saveVocab(path: String, toks: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      toks.map(jsonEscape).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Load a vocab table written by [[saveVocab]]. */
  def loadVocab(path: String): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      "UTF-8").split("\n").toSeq.filter(_.nonEmpty).map(jsonUnescape)
}
