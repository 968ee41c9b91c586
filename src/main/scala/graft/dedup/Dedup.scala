package graft.dedup

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.text.TextFunctions._

/** Deduplication operators for training-data curation at corpus scale:
  * exact (content-hash), MinHash+LSH, SimHash, and exact n-gram Jaccard
  * verification. Embedding-space near-dup lives in [[graft.sim.Similarity]].
  *
  * Scale design notes:
  *   - Exact dedup is one hash-shuffle on the content digest — the only
  *     O(corpus) shuffle in the family; everything upstream of it
  *     (digest computation) is map-side.
  *   - MinHash signatures are a single narrow projection (no shuffle,
  *     no explode): per-row fold over the shingle array. LSH banding
  *     then shuffles only (band_id, doc_id) pairs — tiny rows — and the
  *     per-bucket self-join touches only colliding docs, never the
  *     full cross product. This is the 100 TB path: candidate
  *     generation cost tracks collision count, not corpus².
  *   - Exact Jaccard re-verification joins only the LSH (or
  *     shared-shingle) candidate pairs back to the shingle sets.
  *   - SimHash is again a pure projection; near-dup = Hamming distance
  *     on 32-bit signatures, and bucketing by signature bytes gives the
  *     same LSH-style candidate cut.
  */
object Dedup {

  /** Content digest for exact dedup (md5 of the raw text — same digest
    * the reference uses for row identity, `pkg/domain/types/types.go:27-34`). */
  def contentKey(text: Column): Column = md5(text)

  /** Exact dedup: keep the lowest-id row per identical content. Returns
    * the kept rows. One shuffle on the digest. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(contentKey(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature from an already-staged shingles column: for each
    * of `k` seeded hash functions, the minimum md5Long over the doc's
    * shingles. Returned as array<long> of length k; docs with no
    * shingles get nulls. Pure projection — no explode, no shuffle.
    * PERF: `shingles` must be a bound column (see wordShinglesOf). */
  def minhashSignatureOf(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      seed => array_min(transform(shingles,
        s => md5Long(concat(seed.cast(StringType), lit("|"), s), 15))))

  /** Native-kernel variant of [[minhashSignatureOf]] — identical values
    * via the codegen'd [[graft.plans.MinhashSignatureExpr]] (requires a
    * GraftExtensions session). ~10× the interpreted HOF version on the
    * md5-bound signature fold. */
  def minhashSignatureNative(shingles: Column, k: Int): Column =
    call_function("graft_minhash", shingles, lit(k))

  /** Convenience for tests/small data — hot paths stage shingles. */
  def minhashSignature(text: Column, k: Int, shingleK: Int = 3): Column =
    minhashSignatureOf(wordShingles(text, shingleK), k)

  /** SQL twin of [[minhashSignature]] for the DuckDB oracle. `textE` is
    * a SQL expression for the text. */
  def minhashSignatureSql(textE: String, k: Int, shingleK: Int = 3): String = {
    val toks = s"(CASE WHEN length(trim($textE)) = 0 THEN []::VARCHAR[] " +
      s"ELSE regexp_split_to_array(trim($textE), '\\s+') END)"
    val sh = s"""(CASE WHEN len($toks) < $shingleK THEN []::VARCHAR[]
      ELSE list_transform(range(1, len($toks) - ${shingleK - 2}),
        i -> list_aggregate(list_slice($toks, i, i + ${shingleK - 1}), 'string_agg', ' ')) END)"""
    minhashFromShinglesSql(sh, k)
  }

  /** [[minhashSignatureSql]] over an already-staged shingles COLUMN —
    * the cheap form for oracle CTE chains (the inline form re-derives
    * the token split per element access under DuckDB's lambda
    * re-evaluation; staging mirrors the Spark-side *Of contract). */
  def minhashFromShinglesSql(shCol: String, k: Int): String =
    s"""list_transform(range(0, $k), seed -> list_min(list_transform($shCol,
        s -> ${md5LongSql("concat(CAST(seed AS VARCHAR), '|', s)", 15)})))"""

  /** LSH banding over minhash signatures: split the k-length signature
    * into `bands` bands of k/bands rows each; docs sharing any band are
    * candidate pairs. Emits distinct (a, b) with a < b.
    *
    * Only (band_key, doc_id) rows shuffle; the self-join is per-bucket.
    * Buckets with a single doc produce nothing; heavy buckets mean real
    * near-dups (work is output-proportional).
    */
  def lshCandidates(df: DataFrame, idCol: String, sigCol: String, bands: Int): DataFrame = {
    // id-only banding: the k-long signature array must NOT ride through
    // the band explode × self-join × distinct (k=128 ≈ 1 KB/row × bands
    // — it multiplies the shuffle by orders of magnitude vs the bare
    // (band_key, doc) rows). Callers needing signatures use
    // lshCandidatesWithSigs and pay for them knowingly.
    val b = banded(df, idCol, sigCol, bands).select("doc", "band_key")
    val l = b.select(col("doc").as("a"), col("band_key"))
    val r = b.select(col("doc").as("b"), col("band_key"))
    l.join(r, "band_key").filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Candidate pairs with both signatures attached — avoids the two
    * join-backs (and signature recomputation) a caller would otherwise
    * need for signature-agreement scoring. */
  def lshCandidatesWithSigs(df: DataFrame, idCol: String, sigCol: String,
      bands: Int): DataFrame = {
    val b = banded(df, idCol, sigCol, bands)
    val l = b.select(col("doc").as("a"), col("sig").as("siga"), col("band_key"))
    val r = b.select(col("doc").as("b"), col("sig").as("sigb"), col("band_key"))
    l.join(r, "band_key").filter(col("a") < col("b"))
      .select("a", "b", "siga", "sigb").distinct()
  }

  /** Agreeing-row count between two equal-length MinHash signatures —
    * the ONE agreement kernel behind every signature-similarity score
    * (fraction = matches / k is the MinHash estimate of Jaccard).
    * Shared by the q26/q52 scoring and the corpus builder's near-dup
    * gate, so null/element semantics can never drift between them. */
  def sigMatches(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v))

  /** One (doc, sig, band_key) row per band of each signature — the
    * exploded banding shared by the self-join and incremental paths,
    * and the row shape of a PERSISTED band store. */
  def banded(df: DataFrame, idCol: String, sigCol: String, bands: Int): DataFrame =
    df.select(col(idCol).as("doc"), col(sigCol).as("sig"))
      // band keys are computed BEFORE the explode (one array projection
      // per doc), so generators and downstream joins never carry or
      // re-slice the k-long signature: an id-only caller (lshCandidates)
      // gets `sig` pruned away entirely by Catalyst, and the explode
      // emits bare (doc, band_key) rows.
      .withColumn("__keys", {
        val rowsPerBand = floor(size(col("sig")) / bands).cast(IntegerType)
        transform(sequence(lit(0), lit(bands - 1)), band => {
          // when k % bands != 0 the last band absorbs the k % bands
          // remainder rows instead of silently dropping them (recall bug)
          val len = when(band === bands - 1,
            size(col("sig")) - rowsPerBand * (bands - 1)).otherwise(rowsPerBand)
          concat(band.cast(StringType), lit(":"),
            to_json(slice(col("sig"), band * rowsPerBand + 1, len)))
        })
      })
      .select(col("doc"), col("sig"), explode(col("__keys")).as("band_key"))

  /** INCREMENTAL near-dup: candidates between a NEW batch and an
    * EXISTING corpus's stored band table — the production dedup shape.
    * Self-dedup (q26) re-signatures the whole corpus every run; a real
    * pipeline signatures the corpus ONCE at ingest (persist
    * [[banded]]'s output as a table), and each incoming batch
    * signatures only itself and band-joins the store. Per-batch cost
    * tracks the batch size; the corpus contributes a (pre-bucketed)
    * join side that never recomputes. Returns one row per colliding
    * (new, corpus) pair with both signatures for agreement scoring. */
  def incrementalCandidates(batch: DataFrame, corpusBands: DataFrame,
      idCol: String, sigCol: String, bands: Int): DataFrame = {
    val n = banded(batch, idCol, sigCol, bands)
      .select(col("doc").as("new_id"), col("sig").as("nsig"), col("band_key"))
    val c = corpusBands
      .select(col("doc").as("corpus_id"), col("sig").as("csig"), col("band_key"))
    n.join(c, "band_key")
      .select(col("new_id"), col("corpus_id"), col("nsig"), col("csig"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity between two shingle-set columns
    * (distinct shingles): |∩| / |∪| as an exact int/int double. */
  def jaccard(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb))
    val uni = size(array_union(sa, sb))
    when(uni === 0, lit(0.0)).otherwise(inter.cast(DoubleType) / uni.cast(DoubleType))
  }

  /** All-pairs exact n-gram Jaccard above a threshold, generated via the
    * shared-shingle inverted index (explode → self-join on shingle →
    * count shared → exact verify). Exact but heavier than LSH: the
    * shuffle carries one row per (shingle, doc) posting; candidate work
    * is Σ_shingle df(shingle)² — fine when postings are short, which
    * `minDocFreqFilter` can enforce upstream for 100 TB runs (drop
    * ubiquitous shingles like stop-phrases, as standard). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.0,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val docs = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("t"))
      .select(col("doc"),
        array_distinct(wordShinglesFastOf(df.sparkSession, col("t"), shingleK)).as("sh"))
    // postings feed three plan branches (self-join ×2 + sizes); persist
    // so shingling+explode runs once, not per branch. Released below —
    // the function materializes its result eagerly (Materialize.eager) so
    // no cached postings outlive the call (library hygiene: callers in
    // long-lived sessions must not accumulate hidden caches).
    val allPostings = docs.select(col("doc"), explode(col("sh")).as("s")).persist()
    try {
      // stopword-shingle cut: a shingle occurring in more than maxDocFreq
      // docs contributes df² candidate pairs but near-zero signal — the
      // standard inverted-index prune for corpus-scale all-pairs jaccard.
      // Jaccard is then computed over the PRUNED shingle sets (both the
      // intersection counts and the set sizes), keeping it a true metric.
      val postings =
        if (maxDocFreq == Int.MaxValue) allPostings
        else {
          val rare = allPostings.groupBy(col("s"))
            .agg(count(lit(1)).as("df")).filter(col("df") <= maxDocFreq)
            .select(col("s"))
          allPostings.join(rare, "s")
        }
      val shared = postings.as("x").join(postings.as("y"), col("x.s") === col("y.s"))
        .filter(col("x.doc") < col("y.doc"))
        .groupBy(col("x.doc").as("a"), col("y.doc").as("b"))
        .agg(count(lit(1)).as("inter"))
      val sizes = postings.groupBy(col("doc")).agg(count(lit(1)).as("n"))
      shared
        .join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("doc", "b").withColumnRenamed("n", "nb"), "b")
        .withColumn("sim", col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")).cast(DoubleType))
        .filter(col("sim") >= threshold)
        .select(col("a"), col("b"), col("sim"))
        // eager: pairs are output-sized; frees postings. Reliable
        // checkpoint when the session has a checkpoint dir (survives
        // executor loss), local otherwise — see [[graft.util.Materialize]].
        .transform(graft.util.Materialize.eager)
    } finally allPostings.unpersist()
  }

  /** ASYMMETRIC containment pairs: how much of doc `a`'s shingle set
    * lives inside doc `b` (|A∩B| / |A|) — the subset/quotation
    * detector symmetric Jaccard structurally misses: a tweet quoted
    * whole inside an article has containment ≈ 1 while Jaccard ≈
    * |tweet|/|article| ≈ 0. Emits DIRECTIONAL rows (a, b,
    * containment-of-a-in-b) for both orientations of each candidate
    * pair, thresholded independently — dedup policy then drops the
    * contained side (keep the superset document).
    *
    * Same inverted-index + df-cut machinery and scale contract as
    * [[jaccardPairs]]: candidate work is Σdf² over capped buckets, and
    * containment is computed over the PRUNED shingle sets so it stays
    * a true ratio of what was indexed. Like q25's exact Jaccard, this
    * is the exact verifier; the corpus-scale path for
    * contained-SPAN discovery is the winnowed shared-span index
    * ([[sharedSpanPairs]], q74), whose fingerprint postings are ~w×
    * thinner before the self-join. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.9,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val docs = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("t"))
      .select(col("doc"),
        array_distinct(wordShinglesFastOf(df.sparkSession, col("t"), shingleK)).as("sh"))
    val allPostings = docs.select(col("doc"), explode(col("sh")).as("s")).persist()
    try {
      val postings =
        if (maxDocFreq == Int.MaxValue) allPostings
        else allPostings.join(
          allPostings.groupBy(col("s")).agg(count(lit(1)).as("df"))
            .filter(col("df") <= maxDocFreq).select(col("s")), "s")
      val shared = postings.as("x").join(postings.as("y"), col("x.s") === col("y.s"))
        .filter(col("x.doc") =!= col("y.doc"))
        .groupBy(col("x.doc").as("a"), col("y.doc").as("b"))
        .agg(count(lit(1)).as("inter"))
      val sizes = postings.groupBy(col("doc")).agg(count(lit(1)).as("n"))
      shared
        .join(sizes.withColumnRenamed("doc", "a").withColumnRenamed("n", "na"), "a")
        .withColumn("containment",
          col("inter").cast(DoubleType) / col("na").cast(DoubleType))
        .filter(col("containment") >= threshold)
        .select(col("a"), col("b"), col("containment"))
        .transform(graft.util.Materialize.eager)
    } finally allPostings.unpersist()
  }

  /** Cross-document SHARED-SPAN pairs (boilerplate / quotation mining,
    * the MOSS shape — Schleimer et al., SIGMOD'03): two docs pair when
    * they share at least `minShared` winnowing fingerprints, i.e. they
    * contain common k-shingle SPANS — local overlap that whole-doc
    * similarity (Jaccard q25, MinHash q26, SimHash q27) dilutes away.
    * A shared license header or quoted paragraph inside two otherwise
    * unrelated documents pairs here and nowhere else.
    *
    * Pipeline: per-doc winnow fingerprint set (native kernel — the
    * q23-verified sorted-distinct window minima over md5'd shingles,
    * ~1/w of the shingle density) → inverted index → document-
    * frequency cut (a fingerprint in more than `maxDocFreq` docs is
    * corpus boilerplate contributing df² pairs of near-zero signal;
    * the cut is reported via the `n_shared` count being over PRUNED
    * fingerprints, never silently) → per-bucket self-join →
    * pairs with ≥ `minShared` shared fingerprints.
    *
    * Scale contract: winnowing thins postings by ~w× versus the q25
    * shingle index BEFORE the self-join, and the df cut bounds
    * candidate work at Σdf² over capped buckets — output-proportional
    * for real corpora where heavy fingerprints are boilerplate. Result
    * is eagerly materialized (output-sized), postings released. */
  def sharedSpanPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val docs = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= shingleK)
      .select(col("doc"),
        call_function("graft_winnow",
          call_function("graft_shingles", col("t"), lit(shingleK)), lit(w)).as("fps"))
    val allPostings = docs.select(col("doc"), explode(col("fps")).as("fp")).persist()
    try {
      val postings =
        if (maxDocFreq == Int.MaxValue) allPostings
        else {
          val rare = allPostings.groupBy(col("fp"))
            .agg(count(lit(1)).as("df")).filter(col("df") <= maxDocFreq)
            .select(col("fp"))
          allPostings.join(rare, "fp")
        }
      postings.as("x").join(postings.as("y"), col("x.fp") === col("y.fp"))
        .filter(col("x.doc") < col("y.doc"))
        .groupBy(col("x.doc").as("a"), col("y.doc").as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .transform(graft.util.Materialize.eager)
    } finally allPostings.unpersist()
  }

  /** LSH-accelerated exact-threshold near-dup pairs — the 100 TB
    * replacement for [[jaccardPairs]]'s inverted-index candidate join.
    *
    * Output: `(a, b, sim)` with sim = exact Jaccard over the distinct
    * shingle sets, sim ≥ threshold. Candidates come from MinHash
    * banding instead of the Σdf² postings self-join: signatures are a
    * per-doc projection, banding shuffles only (band_key, doc) rows,
    * and the per-bucket self-join is output-proportional — no postings
    * explode, no document-frequency pass, no maxDocFreq knob (banding
    * is what bounds candidate work at scale; the prune remains
    * [[jaccardPairs]]'s contract, where the inverted index needs it).
    * Every emitted edge is exact-verified, so precision is exact;
    * recall is the LSH collision probability 1-(1-s^r)^b — with the
    * default k=128/bands=32 (r=4), a threshold-0.8 pair is missed with
    * p ≈ 5e-8.
    *
    * Needs a GraftExtensions session (native minhash kernel). */
  /** The (doc, sh, sig) staging shared by [[lshJaccardPairs]] and the
    * incremental cluster maintainer
    * ([[graft.streaming.ClusterStream]]) — ONE projection, so the
    * shingle set and signature a streaming fold persists are
    * bit-identical to what the batch pipeline computes (the
    * streaming-equals-batch identity depends on it). Empty docs can
    * never reach a positive threshold and would all collide on the
    * null signature — dropped up front. */
  private[graft] def stagedSigs(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, k: Int): DataFrame =
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("t"))
      // emptiness precondition on the cheap TOKEN count, not on the
      // shingle array: a filter above the shingle projection gets
      // pushed below it with the alias substituted, silently computing
      // the expensive shingle build twice per row
      .filter(size(col("t")) >= shingleK)
      .select(col("doc"),
        array_distinct(call_function("graft_shingles", col("t"), lit(shingleK))).as("sh"))
      .withColumn("sig", call_function("graft_minhash_mix", col("sh"), lit(k)))

  def lshJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.8,
      k: Int = 128, bands: Int = 32): DataFrame = {
    // One cached frame (doc, sh, sig) feeds banding's self-join (two
    // plan branches!) and both verify join-backs — materialized EAGERLY
    // so the shingle+signature pass runs exactly once; an unmaterialized
    // plan would recompute it per branch. Released before returning
    // (the result is checkpointed). Empty docs can never reach a
    // positive threshold and would all collide on the null signature —
    // dropped up front. Signatures use the one-digest mix kernel
    // (md5 per shingle + splitmix64 seeds): banding only needs
    // signatures to agree with themselves, and k=128 md5s per shingle
    // was the pipeline's dominant CPU.
    val sigs = stagedSigs(df, idCol, textCol, shingleK, k).persist()
    try {
      sigs.count() // eager fill: both join branches must hit the cache
      // candidates are output-sized — checkpoint them so the verify
      // joins see EXACT stats and broadcast the candidate side, not the
      // (cached, threshold-sized) corpus of shingle sets
      val cand = graft.util.Materialize.eager(lshCandidates(sigs, "doc", "sig", bands))
      cand
        .join(sigs.select(col("doc").as("a"), col("sh").as("sha")), "a")
        .join(sigs.select(col("doc").as("b"), col("sh").as("shb")), "b")
        .withColumn("sim", jaccard(col("sha"), col("shb")))
        .filter(col("sim") >= threshold)
        .select(col("a"), col("b"), col("sim"))
        // eager: edges are output-sized; frees the sets (checkpoint mode
        // follows the session — [[graft.util.Materialize]])
        .transform(graft.util.Materialize.eager)
    } finally sigs.unpersist()
  }

  /** 32-bit SimHash over whitespace tokens (term-frequency weighted):
    * bit b of the signature is 1 iff Σ_tokens tf·(±1 by bit b of the
    * token hash) > 0. Single-pass fold (md5 once per distinct token),
    * pure projection, no shuffle; near-dups are pairs at small Hamming
    * distance on the signature. */
  def simhashOf(toks: Column): Column = {
    val uniq = array_distinct(toks)
    // (hash, term-frequency) per distinct token, materialized once
    val hs = transform(uniq, t => struct(
      md5Long(t, 8).as("h"),
      size(filter(toks, x => x === t)).cast(LongType).as("tf")))
    val powers = array((0 until 32).map(b => lit(1L << b)): _*)
    // fold tokens once, accumulating all 32 per-bit sums in an array
    val zeros = transform(powers, _ => lit(0L))
    val bitSums = aggregate(hs, zeros, (acc, e) =>
      zip_with(acc, powers, (a, p) =>
        a + when((e.getField("h") / p).cast(LongType) % 2 === 1, e.getField("tf"))
          .otherwise(-e.getField("tf"))))
    aggregate(zip_with(bitSums, powers,
        (s, p) => when(s > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  def simhash(text: Column): Column = simhashOf(tokens(text))

  /** Native-kernel simhash (codegen'd [[graft.plans.SimhashExpr]],
    * identical arithmetic to [[simhashOf]] — asserted in
    * NativeExpressionsSpec); requires a GraftExtensions session. */
  def simhashNative(toks: Column): Column = call_function("graft_simhash", toks)

  /** SQL twins of [[simhash]] for the DuckDB oracle: `simhashHsSql`
    * builds the per-doc (hash, tf) list (put it in a subquery column,
    * e.g. `hs`), and `simhashFromHsSql` expands the 32 per-bit sums over
    * that column — DuckDB's list_reduce has no initial-value form, so
    * the array-accumulator fold Spark uses is spelled as 32 summands
    * referencing the shared `hs` column instead. Identical integer
    * arithmetic → identical signatures. */
  def simhashHsSql(textE: String): String = {
    val toks = s"(CASE WHEN length(trim($textE)) = 0 THEN []::VARCHAR[] " +
      s"ELSE regexp_split_to_array(trim($textE), '\\s+') END)"
    s"""list_transform(list_distinct($toks), t -> struct_pack(
        h := ${md5LongSql("t", 8)},
        tf := CAST(len(list_filter($toks, x -> x = t)) AS BIGINT)))"""
  }
  def simhashFromHsSql(hsCol: String): String =
    (0 until 32).map { b =>
      val p = 1L << b
      s"""(CASE WHEN list_sum(list_transform($hsCol,
           e -> CASE WHEN (e.h // $p) % 2 = 1 THEN e.tf ELSE -e.tf END)) > 0
           THEN CAST($p AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
    }.mkString(" + ")

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Disjoint block boundaries `(lo, width)` covering the 32-bit
    * signature, `maxHamming + 1` of them: any pair within distance
    * `maxHamming` flips at most `maxHamming` bits, so by pigeonhole at
    * least one block is untouched and the pair collides — FULL recall
    * by construction for any `maxHamming ≤ 31` (the blocking is
    * derived from the radius instead of a fixed 4-byte split that
    * silently loses recall past distance 3). Shared by the Column and
    * SQL-oracle builders so both sides block identically. */
  private[graft] def simhashBlockBounds(maxHamming: Int): Seq[(Int, Int)] = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"32-bit SimHash blocking needs 0 <= maxHamming <= 31, got $maxHamming")
    val b = maxHamming + 1
    (0 until b).map { i => val lo = i * 32 / b; (lo, (i + 1) * 32 / b - lo) }
  }

  /** Block key = `(block index << 48) | slice bits` — ONE long, not a
    * string: the candidate join probes this key millions of times at
    * radius-dense settings (q39 is radius 8 over 32 bits ⇒ 3-bit
    * blocks), and long hash/equality is several× cheaper than the
    * string `concat` key it replaces. Slices are ≤ 32 bits, so the
    * index never collides with slice bits. */
  private def simhashBlockCol(sig: Column, maxHamming: Int): Column =
    explode(array(simhashBlockBounds(maxHamming).zipWithIndex.map {
      case ((lo, w), i) =>
        shiftright(sig, lo).bitwiseAND(lit((1L << w) - 1))
          .bitwiseOR(lit(i.toLong << 48))
    }: _*))

  /** DuckDB twin of [[simhashBlockCol]]: the `unnest([...])` element
    * list over signature column `sh` — same bounds, same packed-long
    * keys. */
  def simhashBlockSqlList(sh: String, maxHamming: Int): String =
    simhashBlockBounds(maxHamming).zipWithIndex.map { case ((lo, w), i) =>
      s"CAST(${i.toLong << 48} + ($sh // ${1L << lo}) % ${1L << w} AS BIGINT)"
    }.mkString(",\n        ")

  /** SimHash near-dup candidates: block on `maxHamming + 1` disjoint
    * signature slices (docs agreeing on ANY slice collide — pigeonhole
    * catches ALL pairs within the radius), then verify with exact
    * Hamming ≤ `maxHamming`. Same output-proportional LSH shape as
    * [[lshCandidates]]. */
  def simhashNearDup(df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    val blocked = df.select(col(idCol).as("doc"), col(sigCol).as("sig"))
      .withColumn("blk", simhashBlockCol(col("sig"), maxHamming))
    val l = blocked.select(col("doc").as("a"), col("sig").as("siga"), col("blk"))
    val r = blocked.select(col("doc").as("b"), col("sig").as("sigb"), col("blk"))
    l.join(r, "blk").filter(col("a") < col("b"))
      .select(col("a"), col("b"), hamming(col("siga"), col("sigb")).as("dist"))
      // verify BEFORE the de-dup shuffle: a pair colliding on k blocks
      // rides the distinct k times either way, but false candidates
      // (the bulk at radius-heavy settings — q39 is radius 8 over 32
      // bits) die map-side and never shuffle at all
      .filter(col("dist") <= maxHamming)
      .distinct()
  }

  /** Incremental SimHash near-dup: batch signatures probed against a
    * STORED corpus signature table — the SimHash member of the
    * incremental family (MinHash bands = [[incrementalCandidates]],
    * embeddings = the IVF store probe, exact = the digest index). The
    * same byte-block discipline as [[simhashNearDup]], but one-sided:
    * only pairs (new, corpus) are generated, never corpus × corpus, so
    * per-batch work is batch-blocks × per-block corpus bucket — the
    * batch side broadcasts when small and the stored side is a plain
    * column-pruned scan of `(id, sig)`. Persist the corpus table
    * partitioned by a block prefix for PartitionFilters pruning, as
    * [[BandIndex]] does for MinHash.
    *
    * Returns (new_id, corpus_id, dist) with dist ≤ maxHamming. */
  def incrementalSimhash(batch: DataFrame, corpusSigs: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int = 3): DataFrame = {
    def blocked(df: DataFrame, id: String, sig: String) =
      df.select(col(idCol).as(id), col(sigCol).as(sig))
        .withColumn("blk", simhashBlockCol(col(sig), maxHamming))
    blocked(batch, "new_id", "nsig")
      .join(blocked(corpusSigs, "corpus_id", "csig"), "blk")
      .select(col("new_id"), col("corpus_id"),
        hamming(col("nsig"), col("csig")).as("dist"))
      .filter(col("dist") <= maxHamming) // verify before the de-dup shuffle
      .distinct()
  }

  /** Connected components over near-dup PAIRS → duplicate CLUSTERS.
    *
    * Pair output (q25/q26/q27/q29) is not what a dedup pipeline
    * consumes: it needs groups — "these 5 docs are one duplicate
    * cluster, keep the canonical one". Components are computed by
    * min-label propagation (each vertex repeatedly takes the minimum
    * label among itself and its neighbors), the standard Pregel shape:
    * one shuffle-join per iteration, O(component diameter) iterations.
    * Near-dup clusters are dense and tiny (dup families, not social
    * graphs), so diameter — and the iteration count — stays single-digit
    * at any corpus size; each iteration's shuffle carries one (id,
    * label) row per edge endpoint.
    *
    * Returns (id, comp) for every vertex appearing in `pairs`, where
    * comp = the minimum doc id in the component (a deterministic
    * canonical representative — "keep comp, drop the rest" is the
    * dedup decision). Driver-side work is one boolean convergence probe
    * per iteration, never row data. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxIter: Int = 25): DataFrame = {
    // Iterative DataFrame algorithms MUST truncate lineage each round:
    // the loop's plans otherwise nest the previous iteration's whole
    // tree (including the expensive pair pipeline), and cache
    // substitution does not reliably cover the alias-deduped self-join
    // fragments — measured as the full jaccard pipeline re-running
    // inside iteration 2 (49 s for a 256-edge graph). Eager
    // checkpointing cuts the plan to the materialized RDD: the pair
    // pipeline runs exactly once, and each iteration's jobs see only
    // checkpoint-scan inputs. Checkpoint mode follows the session
    // ([[graft.util.Materialize]]) so the loop is also executor-loss
    // safe when a checkpoint dir is configured — the returned labels
    // chain through these blocks.
    val p = graft.util.Materialize.eager(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val edges = graft.util.Materialize.eager(
      p.union(p.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = graft.util.Materialize.eager(
      edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbr = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dcomp")).as("ncomp"))
      val propagated = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jumping (path halving): comp := comp's comp. Turns a
      // linear chain's O(diameter) rounds into O(log diameter) — labels
      // are one small row per paired vertex, so the extra self-join is
      // negligible next to the edge join.
      // The convergence probe rides the SAME job that materializes the
      // checkpoint (observe() counts changed labels during it) — a
      // separate join+count job per round doubled the per-iteration
      // fixed cost on small graphs.
      val obs = org.apache.spark.sql.Observation()
      val next = propagated.alias("x")
        .join(propagated.select(col("id").as("comp"), col("comp").as("cc")),
          Seq("comp"), "left")
        .join(labels.select(col("id"), col("comp").as("__old")), "id")
        .select(col("id"), coalesce(col("cc"), col("comp")).as("comp"), col("__old"))
        .observe(obs, sum(when(col("comp") =!= col("__old"), 1L).otherwise(0L)).as("changed"))
        .transform(graft.util.Materialize.eager)
      labels = next.drop("__old")
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      i += 1
    }
    labels
  }

  /** Quality-aware cluster retention: each near-dup cluster keeps its
    * HIGHEST-scoring member — what a production dedup pass actually
    * ships (min-id retention as in [[connectedComponents]]' canonical
    * labels discards quality information; keeping the longest/cleanest
    * member of a mirror cluster is free signal). Singleton documents
    * (no near-dup edge) form their own cluster and keep themselves.
    *
    * Scale shape: one CC run over the (output-proportional) pair list,
    * one left equi-join of docs onto the labels, one window over
    * `cluster` — every stage keyed, nothing driver-side. Determinism:
    * the argmax orders by (score desc, id asc); pass a pre-rounded
    * score column so the order is engine-exact.
    *
    * @return (id-named column, cluster, keeper, kept) — one row per
    *         input doc; `kept` marks the cluster's retained member
    */
  def clusterKeepBest(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame =
    keepBestFromLabels(docs, idCol, scoreCol,
      connectedComponents(pairs).select(col("id").as(idCol), col("comp")))

  /** [[clusterKeepBest]]'s retention tail over PRECOMPUTED (id, comp)
    * labels — the read-out the incrementally-maintained cluster state
    * ([[graft.streaming.ClusterStream]]) shares with the batch
    * operator, so the two paths can never drift. */
  def keepBestFromLabels(docs: DataFrame, idCol: String, scoreCol: String,
      labels: DataFrame): DataFrame = {
    val cc = labels.toDF(idCol, "comp")
    val labeled = docs.select(col(idCol), col(scoreCol))
      .join(cc, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("comp"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    labeled
      .withColumn("keeper", first(col(idCol)).over(w))
      .select(col(idCol), col("cluster"), col("keeper"),
        (col(idCol) === col("keeper")).as("kept"))
  }

  /** Train/eval decontamination (exact n-gram overlap): flag every
    * non-eval document sharing at least one word k-gram with the eval
    * partition, with the count of distinct shared grams. The standard
    * pre-training hygiene pass — a benchmark answer leaked verbatim
    * into the training set shares long exact n-grams (k=13 is the
    * common choice) even when the surrounding document differs.
    *
    * Scale shape: both sides are one explode of staged shingles; the
    * eval gram set is benchmark-sized (thousands of docs, not the
    * corpus), so it BROADCASTS and the flagging join is map-side — the
    * only shuffle is the final per-doc countDistinct. Corpus-side cost
    * is linear in total grams at any corpus size. */
  def contamination(docs: DataFrame, evalPred: Column, k: Int = 13,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // persist the exploded grams: both branches (eval gram set + train
    // flagging) read it, and the k-token concat per shingle is the
    // expensive part — computing it twice measured 2× on the whole query
    val grams = docs
      .withColumn("__t", tokens(col(textCol)))
      .withColumn("gram", explode(wordShinglesFastOf(docs.sparkSession, col("__t"), k)))
      .select(col(idCol), col("gram"), evalPred.as("__eval"))
      .persist()
    try {
      val evalGrams = grams.filter(col("__eval")).select("gram").distinct()
      grams.filter(!col("__eval"))
        .join(broadcast(evalGrams), "gram")
        .groupBy(col(idCol))
        .agg(countDistinct(col("gram")).as("n_shared"))
        // eager: per-doc counts; frees the gram cache (checkpoint mode
        // follows the session — [[graft.util.Materialize]])
        .transform(graft.util.Materialize.eager)
    } finally grams.unpersist()
  }

  /** FUZZY train/eval decontamination — [[contamination]]'s hygiene
    * pass at the winnowed-fingerprint level: a benchmark answer that
    * leaked with whitespace/punctuation drift or light paraphrase
    * breaks exact 13-gram matching, but its surviving local spans
    * still collide on winnow-selected shingle fingerprints (the q74
    * construction). Flags every non-eval document sharing at least
    * `minShared` distinct fingerprints with the eval partition.
    *
    * Scale shape: identical to [[contamination]] — the eval
    * fingerprint set is benchmark-sized, so it BROADCASTS and the
    * flagging join is map-side; corpus-side cost is one winnow
    * projection + explode, linear in total shingles. The fingerprint
    * space is narrower than raw grams (density ~2/(w+1)), so the
    * fuzzy pass is CHEAPER than the exact one at equal k. */
  /** One row per (doc, distinct winnow fingerprint) — the shared
    * projection under [[fuzzyContamination]] (batch) and
    * [[decontaminateStream]] (per micro-batch): stage tokens, require
    * at least one shingle, winnow the shingle hash stream with window
    * `w`, de-dup per doc, explode. `extra` columns ride along
    * per-input-row (used for the batch eval flag). */
  private[graft] def winnowFps(docs: DataFrame, shingleK: Int, w: Int,
      idCol: String, textCol: String, extra: Seq[Column] = Nil): DataFrame =
    docs
      .withColumn("__t", tokens(col(textCol)))
      .filter(size(col("__t")) >= shingleK)
      .select(col(idCol) +:
        explode(array_distinct(call_function("graft_winnow",
          call_function("graft_shingles", col("__t"), lit(shingleK)),
          lit(w)))).as("fp") +: extra: _*)

  def fuzzyContamination(docs: DataFrame, evalPred: Column,
      shingleK: Int = 3, w: Int = 4, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fps = winnowFps(docs, shingleK, w, idCol, textCol,
      extra = Seq(evalPred.as("__eval"))).persist()
    try {
      val evalFps = fps.filter(col("__eval")).select("fp").distinct()
      fps.filter(!col("__eval"))
        .join(broadcast(evalFps), "fp")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_shared")) // fps already distinct per doc
        .filter(col("n_shared") >= minShared)
        .transform(graft.util.Materialize.eager)
    } finally fps.unpersist()
  }

  /** Freeze the eval partition's winnowed-fingerprint set as a model
    * artifact (`modelDir/fp`, one distinct `fp` column) — the
    * train-once half of crawl-time decontamination: build it from the
    * benchmark suite once, screen every incoming feed against it with
    * [[decontaminateStream]]. Benchmark-sized by construction, so the
    * streaming probe broadcasts it. */
  def trainEvalFingerprints(docs: DataFrame, evalPred: Column,
      modelDir: String, shingleK: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    winnowFps(docs.filter(evalPred), shingleK, w, idCol, textCol)
      .select("fp").distinct()
      .write.mode("overwrite").parquet(s"$modelDir/fp")

  /** STREAMING fuzzy decontamination — screen a LIVE document feed
    * against a frozen [[trainEvalFingerprints]] artifact, the
    * crawl-time shape users actually want (the eval suite is fixed;
    * the corpus arrives forever). Each micro-batch runs
    * [[fuzzyContamination]]'s flagging plan one-sided (the q126
    * incremental-probe pattern: batch fingerprints probe the frozen
    * set, never corpus × corpus) and appends flagged
    * `(idCol, n_shared)` rows to `outDir`. Flagging is per-document
    * against a frozen set, so the union of batch outputs equals the
    * batch pass exactly — q123's oracle adjudicates the streaming
    * path unchanged (q129). Per-batch cost: one winnow projection
    * over the batch + a broadcast map-side join; work ∝ batch size at
    * any corpus age. Blocks until the AvailableNow drain finishes. */
  def decontaminateStream(stream: DataFrame, modelDir: String,
      outDir: String, checkpointDir: String,
      shingleK: Int = 3, w: Int = 4, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val evalFps = stream.sparkSession.read.parquet(s"$modelDir/fp")
    graft.streaming.ScoreStream.replay(stream, Seq(evalFps), outDir,
      checkpointDir)(batch =>
      winnowFps(batch, shingleK, w, idCol, textCol)
        .join(broadcast(evalFps), "fp")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_shared")) // fps already distinct per doc
        .filter(col("n_shared") >= minShared))
  }

  /** Exact substring-span REMOVAL — the "deduplicating training data"
    * operator (Lee et al. 2022: repeated long spans are memorization
    * fuel; detection alone — [[graft.queries]] q74 — doesn't fix the
    * corpus). Every k-token gram occurring in ≥2 documents marks its
    * token span `[pos, pos+k)` for removal in every document EXCEPT the
    * minimum-id holder (keep-first, mirroring [[exactByContent]]);
    * overlapping marks union; the survivors are re-joined in order.
    * Within-doc-only repetition is deliberately untouched — that is a
    * quality signal (q44's dup-n-gram ratio), not cross-doc duplication.
    *
    * Returns one row per input doc: `idCol`, `clean` (text with flagged
    * spans cut, single-space joined — possibly empty when a non-keeper
    * doc is entirely duplicated material), `n_tokens` (pre-strip),
    * `n_removed`.
    *
    * Scale shape (the reference has no such operator; this is
    * pipeline-beyond-parity): two token-scale shuffles — postings
    * hash-partitioned by gram (duplicate detection + flag join; the
    * gram agg is partially aggregated map-side, and AQE's skew join
    * handles stop-gram keys), and the rebuild grouped by doc id
    * (per-doc state = that doc's tokens, never corpus-scale). No
    * suffix array, no global sort, no driver-side text: O(total
    * tokens) rows at every step, the same asymptotics as the suffix
    * automaton approach but in three codegen'd relational stages. */
  def stripDuplicateSpans(docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    // both cached: toks feeds three consumers (postings, the rebuild's
    // posexplode, the final n_tokens select — one source scan +
    // tokenize instead of three), grams feeds two (duplicate agg, flag
    // join) and the k-token concat is the expensive part
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__t")).persist()
    // postings (doc, pos, gram); staged __t keeps the shingle HOF bound
    // (the *Of contract) and the posexplode input un-reinlined
    val grams = toks
      .withColumn("__sh", wordShinglesFastOf(spark, col("__t"), k))
      .select(col(idCol), posexplode(col("__sh")).as(Seq("pos", "gram")))
      .persist()
    try {
      val dup = grams.groupBy("gram")
        .agg(min(col(idCol)).as("__keep"), countDistinct(col(idCol)).as("__nd"))
        .filter(col("__nd") >= 2)
        .select(col("gram"), col("__keep"))
      val flagged = grams.join(dup, "gram")
        .filter(col(idCol) =!= col("__keep"))
        .select(col(idCol), col("pos"))
      rebuildWithoutSpans(toks, flagged, k, idCol)
    } finally { grams.unpersist(); toks.unpersist() }
  }

  /** Shared tail of the span strippers: union the flagged [pos, pos+k)
    * intervals per doc, anti-join the token positions, reassemble the
    * survivors in order, report (clean, n_tokens, n_removed). */
  private def rebuildWithoutSpans(toks: DataFrame, flagged: DataFrame,
      k: Int, idCol: String): DataFrame = {
    val removed = flagged
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("__idx"))
      .distinct()
    val keptToks = toks
      .select(col(idCol), posexplode(col("__t")).as(Seq("__idx", "__tok")))
      .join(removed, Seq(idCol, "__idx"), "left_anti")
    val rebuilt = keptToks.groupBy(col(idCol)).agg(
      array_join(transform(array_sort(collect_list(struct(col("__idx"), col("__tok")))),
        x => x.getField("__tok")), " ").as("__clean"),
      count(lit(1)).as("__kept"))
    toks.select(col(idCol), size(col("__t")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__clean"), lit("")).as("clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
      .transform(graft.util.Materialize.eager)
  }

  /** WITHIN-document repeated-span removal — the self-boilerplate
    * cleaner ([[stripDuplicateSpans]] cuts spans shared ACROSS docs;
    * this cuts a span repeated inside ONE document, the crawl-loop /
    * template-stutter pathology): every k-gram occurrence after the
    * first in its own document is stripped, overlapping marks unioned,
    * survivors re-joined in order.
    *
    * Scale shape: the duplicate test groups on (doc, gram) — keys are
    * document-local, so the shuffle partitions by document content and
    * no corpus-wide gram table exists at all (unlike the cross-doc
    * variant, this one cannot meet a ubiquitous-gram hot key: a gram's
    * group is bounded by its own document's length). */
  def stripIntraDocRepeats(docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__t")).persist()
    val grams = toks
      .withColumn("__sh", wordShinglesFastOf(spark, col("__t"), k))
      .select(col(idCol), posexplode(col("__sh")).as(Seq("pos", "gram")))
      .persist()
    try {
      val dup = grams.groupBy(col(idCol), col("gram"))
        .agg(min(col("pos")).as("__first"), count(lit(1)).as("__n"))
        .filter(col("__n") >= 2)
        .select(col(idCol), col("gram"), col("__first"))
      val flagged = grams.join(dup, Seq(idCol, "gram"))
        .filter(col("pos") > col("__first"))
        .select(col(idCol), col("pos"))
      rebuildWithoutSpans(toks, flagged, k, idCol)
    } finally { grams.unpersist(); toks.unpersist() }
  }

  /** Bloom filter over a corpus' content digests — the STORED half of
    * [[bloomNewDocs]]. Built in one distributed aggregation (Spark's
    * own codegen'd `BloomFilterAggregate`, surfaced as
    * `graft_bloom_agg` by GraftExtensions) and returned as bytes the
    * caller persists beside the corpus table; size it with
    * [[bloomBits]]. At 100 TB this is the standard incremental-ingest
    * primitive: the filter is built ONCE per corpus epoch (or per
    * partition, unioned), and every arriving batch probes it without
    * touching corpus storage. */
  def digestFilter(corpus: DataFrame, textCol: String,
      expectedItems: Long, numBits: Long): Array[Byte] =
    corpus.agg(call_function("graft_bloom_agg",
        xxhash64(contentKey(col(textCol))), lit(expectedItems), lit(numBits))
      .as("f")).head.getAs[Array[Byte]]("f")

  /** Bits for a target false-positive rate: n·ln(p)/ln²2, the standard
    * bloom sizing (FPs only cost extra exact-verify work — correctness
    * never depends on p). */
  def bloomBits(expectedItems: Long, fpp: Double): Long =
    math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong

  /** Stored filter bytes ([[digestFilter]], `bloom.bin`) deserialized
    * and broadcast for [[bloomProbe]]. Executors fetch the filter once
    * per JVM; the caller owns the broadcast's lifetime — destroy it
    * once every frame probing it is materialized, or leave it to the
    * ContextCleaner (released when the last plan holding it is GC'd). */
  private[graft] def broadcastFilter(spark: SparkSession,
      bytes: Array[Byte]): Broadcast[BloomFilter] =
    spark.sparkContext.broadcast(
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))

  /** Bloom probe: true when `hash` (`xxhash64` of the digest, as the
    * filter was built) may be in the filter — false means definitely
    * new; a null hash yields null (dropped by a filter), as with
    * Spark's `might_contain`. The plan carries the broadcast HANDLE,
    * named in the probe's string form: `might_contain` would need the
    * filter as a plan literal, which every plan render (explain, the
    * SQL status store's plan info) hex-formats and retains — megabytes
    * per execution at the default 2^20-item sizing. */
  def bloomProbe(filter: Broadcast[BloomFilter], hash: Column): Column =
    udf((h: Long) => filter.value.mightContainLong(h))
      .withName(s"graft_bloom_probe_broadcast_${filter.id}")(hash)

  /** Incremental EXACT dedup of a batch against a stored corpus: keep
    * the batch rows whose content digest does not exist in the corpus.
    * Result is exact — the bloom filter only routes:
    *
    *   1. probe: rows whose digest misses the filter are DEFINITELY new
    *     (bloom has no false negatives) — they pass with zero corpus
    *     I/O. For a mostly-new batch that is ~all of it.
    *   2. verify: probe hits (true dups + fpp·batch false positives)
    *     reduce to a digest set that joins the corpus digest column —
    *     broadcast semi-join, so the corpus scan is map-side with no
    *     shuffle, AQE eliminates it entirely when no row hit the
    *     filter, and a digest-bucketed corpus store prunes to matching
    *     buckets. Confirmed-dup digests (output-sized) broadcast back
    *     as the anti-join list.
    *
    * Versus the plain exact anti-join (shuffle corpus + batch on
    * digest), per-batch corpus cost drops from O(corpus) shuffle to a
    * shuffle-free scan gated on candidates — the pattern that keeps
    * exact dedup incremental at 100 TB. `corpusDigests` is the stored
    * digest column (`digest`), typically a column-pruned read of the
    * corpus table or a maintained digest sidecar. The probe reads
    * `filter` through a per-call broadcast ([[bloomProbe]]); the frame
    * is lazy, so the ContextCleaner releases the broadcast once the
    * frame is GC'd. */
  def bloomNewDocs(batch: DataFrame, corpusDigests: DataFrame,
      textCol: String, filter: Array[Byte]): DataFrame = {
    val keyed = batch.withColumn("__digest", contentKey(col(textCol)))
    val isHit = bloomProbe(broadcastFilter(batch.sparkSession, filter),
      xxhash64(col("__digest")))
    val candDigests = keyed.filter(isHit).select(col("__digest")).distinct()
    val dupDigests = corpusDigests
      .join(broadcast(candDigests), col("digest") === col("__digest"), "left_semi")
      .select(col("digest").as("__dup"))
    keyed.join(broadcast(dupDigests), col("__digest") === col("__dup"), "left_anti")
      .drop("__digest")
  }

  /** INDEX-VERIFIED twin of [[bloomNewDocs]] — same probe→verify
    * contract, with the verify pointed at a persisted
    * [[DigestIndex]] instead of the full corpus digest column. The
    * bloom probe routes exactly as before; the confirm step reads only
    * the bucket directories the candidate digests hash to
    * (`PartitionFilters`), so per-batch verify I/O tracks the batch.
    * `corpusDigests` is consulted ONLY to disambiguate same-id matches
    * (replay/crash windows — see [[indexedDupDigests]]); pass the
    * corpus table's column-pruned digest projection. */
  def bloomNewDocsIndexed(batch: DataFrame, idCol: String, textCol: String,
      filter: Array[Byte], storeDir: String, spec: DigestIndex.Spec,
      corpusDigests: => DataFrame): DataFrame = {
    val keyed = batch.withColumn("__digest", contentKey(col(textCol)))
    val isHit = bloomProbe(broadcastFilter(batch.sparkSession, filter),
      xxhash64(col("__digest")))
    val cand = keyed.filter(isHit).select(col(idCol), col("__digest"))
    val dup = indexedDupDigests(cand, idCol, "__digest", storeDir, spec,
      corpusDigests)
    keyed.join(broadcast(dup), col("__digest") === col("__dup"), "left_anti")
      .drop("__digest")
  }

  /** Classify [[DigestIndex.probe]] matches into confirmed-duplicate
    * digests (returned as one broadcast-sized column `__dup`):
    *
    *   - a DIFFERENT-id match is a true duplicate — same content
    *     already admitted under another id. Dropped with no corpus
    *     read (sound under the index's recovery contract: a crashed
    *     batch replays before later batches, so a ghost can only ever
    *     collide with its OWN replay, which is a same-id match);
    *   - a SAME-id match is ambiguous: a replay after a successful
    *     commit (drop) and a replay after a crash between the index
    *     append and the docs append (admit — the content never landed)
    *     are `(id, digest)`-identical in the index. Only the corpus
    *     itself can tell them apart, so exactly this digest set — empty
    *     in the steady state, batch-sized on a replay — falls back to a
    *     semi-join against `corpusDigests`.
    *
    * The result: zero corpus-table reads on the hot path, one
    * candidate-gated read on replay — versus the corpus-wide verify
    * scan [[bloomNewDocs]] pays on every batch with a probe hit. */
  private[graft] def indexedDupDigests(candidates: DataFrame, idCol: String,
      digestCol: String, storeDir: String, spec: DigestIndex.Spec,
      corpusDigests: => DataFrame): DataFrame = {
    // output-sized (≤ candidate digests); consumed by two branches +
    // an isEmpty — materialize once
    val m = graft.util.Materialize.eager(
      DigestIndex.probe(candidates, idCol, digestCol, storeDir, spec))
    val trueDups = m.filter(!(col("corpus_id") <=> col("new_id")))
      .select(col("digest"))
    val self = m.filter(col("corpus_id") <=> col("new_id"))
      .select(col("digest")).distinct()
    val resolved =
      if (self.isEmpty) self // steady state: no corpus read at all
      else corpusDigests.join(broadcast(self), Seq("digest"), "left_semi")
    trueDups.union(resolved).distinct().select(col("digest").as("__dup"))
  }

  // ---- content-defined chunking (CDC) ----

  /** One row per (doc, chunk): content-defined chunk digests. A chunk
    * boundary falls AFTER token `i+k-1` wherever the md5 hash of the
    * k-shingle starting at `i` is ≡ 0 (mod `p`) — the rolling-hash
    * chunking rule (Rabin-style CDC, the storage-dedup classic applied
    * to corpus text): boundaries depend only on LOCAL content, so a
    * passage shared by two documents chunks the same way in both no
    * matter where it sits, and its chunks collide by digest. That
    * shift-invariance is what fixed-window chunking ([[graft.curation
    * .Packing]] q69) fundamentally cannot give, and what makes CDC the
    * petabyte-scale sub-document dedup shape: expected chunk length is
    * `p` tokens, tunable independently of document length.
    *
    * Docs with fewer than `k` tokens are skipped (no shingle to hash).
    * A boundary landing exactly on the last token is dropped (the
    * final chunk always ends at the document end).
    *
    * Scale shape: pure map-side — tokens, shingle hashes, boundary
    * scan, and chunk digests are all per-row projections over staged
    * bound columns (the *Of contract); no shuffle, no explode until
    * the caller aggregates. */
  /** Stage tokens + CDC chunk ends (`__t`, `__ends`) — the shared
    * boundary scan under [[cdcChunks]] and [[cdcStrip]]. */
  private def withCdcEnds(docs: DataFrame, k: Int, p: Int,
      textCol: String): DataFrame = {
    require(k >= 1 && p >= 1, s"CDC needs k >= 1, p >= 1, got k=$k p=$p")
    docs
      .withColumn("__t", tokens(col(textCol)))
      .filter(size(col("__t")) >= k)
      .withColumn("__sh", call_function("graft_shingles", col("__t"), lit(k)))
      .withColumn("__h", transform(col("__sh"), s => md5Long(s)))
      .withColumn("__ends", concat(
        transform(
          filter(sequence(lit(1), size(col("__h"))), i =>
            element_at(col("__h"), i) % p === 0 &&
              (i + lit(k - 1)) =!= size(col("__t"))),
          i => i + lit(k - 1)),
        array(size(col("__t")))))
  }

  def cdcChunks(docs: DataFrame, k: Int = 3, p: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    withCdcEnds(docs, k, p, textCol)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("__ends"))), j => {
          val start = when(j === 1, lit(1))
            .otherwise(element_at(col("__ends"), (j - 1).cast("int")) + 1)
          val end = element_at(col("__ends"), j.cast("int"))
          struct(
            md5(array_join(slice(col("__t"), start, end - start + 1), " "))
              .as("chunk_digest"),
            (end - start + 1).cast("long").as("chunk_tokens"))
        })).as("__c"))
      .select(col(idCol), col("__c.chunk_digest"), col("__c.chunk_tokens"))
  }

  /** The cross-document duplicated-chunk report: CDC chunks appearing
    * in 2+ DISTINCT documents, with occurrence counts and an anchor
    * doc — what a sub-document dedup pass strips or a contamination
    * audit reads. One digest-keyed aggregation; shuffle volume is
    * ~corpus/p digest rows, never pairs. */
  def cdcDuplicateChunks(docs: DataFrame, k: Int = 3, p: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cdcChunks(docs, k, p, idCol, textCol)
      .groupBy(col("chunk_digest"))
      .agg(max(col("chunk_tokens")).as("chunk_tokens"),
        count(lit(1)).as("n_occ"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("min_doc"))
      .filter(col("n_docs") >= 2)

  /** The distinct CDC chunk-digest set of a reference corpus — the
    * frozen side of [[cdcCoverage]] (and its streaming gate): what a
    * crawl's incoming documents are screened against. */
  def cdcDigests(ref: DataFrame, k: Int = 3, p: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cdcChunks(ref, k, p, idCol, textCol).select(col("chunk_digest")).distinct()

  /** Per-document sub-document duplication coverage against a
    * reference chunk-digest set: the token-weighted fraction of each
    * probe document already present (as content-defined chunks) in the
    * reference — the signal a crawl-dedup gate thresholds on. CDC's
    * shift-invariance is what makes the measure meaningful: a copied
    * passage registers wherever it sits in the host.
    *
    * Scale shape: probe chunking is map-side; the one shuffle is the
    * digest equi-join against the reference set (~|probe|/p rows vs
    * ~|ref|/p rows — chunk digests, never documents, never pairs).
    * Coverage is a per-doc aggregate of exact integer token counts;
    * the double division happens once per doc, after. */
  def cdcCoverage(probe: DataFrame, refDigests: DataFrame, k: Int = 3,
      p: Int = 8, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cdcChunks(probe, k, p, idCol, textCol)
      .join(refDigests.select(col("chunk_digest")).distinct()
        .withColumn("__dup", lit(1)), Seq("chunk_digest"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("chunk_tokens")).as("total_tokens"),
        sum(when(col("__dup").isNotNull, col("chunk_tokens")).otherwise(0L))
          .as("dup_tokens"))
      .select(col(idCol), col("total_tokens"), col("dup_tokens"),
        round(col("dup_tokens").cast(DoubleType)
          / col("total_tokens").cast(DoubleType), 6).as("coverage"))

  /** Corpus snapshot DIFF by content digest — the ablation-bookkeeping
    * read-out between two versions of a corpus (before/after a filter
    * change, two txlog snapshots, last week's crawl vs this week's):
    * per digest that CHANGED, its multiplicity on each side and a
    * status (`added` / `removed` / `changed`). Unchanged digests are
    * absent, so the report is delta-sized, not corpus-sized. An
    * `example_id` per side anchors the digest to an inspectable row
    * (min id; -1 when the side is empty — a sortable non-null anchor,
    * never a null the engines order differently).
    *
    * Scale shape: two map-side digest projections, two count
    * aggregates, one full-outer equi-join on the digest — every
    * shuffled row is (digest, count), never documents. */
  def corpusDiff(before: DataFrame, after: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    diffFromCounts(
      diffCounts(before, idCol, textCol, "n_before", "eb"),
      diffCounts(after, idCol, textCol, "n_after", "ea"))

  /** One side's (digest, count, example-id) table — the diff's complete
    * sufficient statistic. count merges by sum and example by min, so a
    * STREAMING after-side accumulates per batch
    * ([[graft.streaming.DiffStream]]) and reads out through the same
    * [[diffFromCounts]] tail the batch diff uses. */
  private[graft] def diffCounts(df: DataFrame, idCol: String,
      textCol: String, nAs: String, exAs: String): DataFrame =
    df.select(contentKey(col(textCol)).as("digest"), col(idCol).as("__id"))
      .groupBy(col("digest"))
      .agg(count(lit(1)).as(nAs), min(col("__id")).as(exAs))

  /** The diff read-out over two [[diffCounts]] tables — factored so the
    * batch and streaming paths share ONE arithmetic (columns must be
    * named n_before/eb and n_after/ea respectively). */
  private[graft] def diffFromCounts(beforeCounts: DataFrame,
      afterCounts: DataFrame): DataFrame =
    beforeCounts.join(afterCounts, Seq("digest"), "full_outer")
      .select(col("digest"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("eb"), lit(-1L)).as("example_before"),
        coalesce(col("ea"), lit(-1L)).as("example_after"))
      .withColumn("status",
        when(col("n_before") === 0, lit("added"))
          .when(col("n_after") === 0, lit("removed"))
          .otherwise(lit("changed")))
      .filter(col("n_before") =!= col("n_after"))

  /** CDC chunk-level STRIP — the removal complement of [[cdcCoverage]]:
    * rewrite each probe document with every chunk whose digest appears
    * in `refDigests` removed (known-boilerplate libraries, an eval
    * set, an earlier crawl). Shift-invariance means the shared passage
    * is excised wherever it sits; surviving chunks rejoin in document
    * order with single spaces (token-normalized, like
    * [[stripDuplicateSpans]]). Documents losing every chunk come back
    * with empty `clean`; docs with < k tokens are absent (no chunk).
    *
    * Scale shape: map-side chunking; one digest equi-join (chunk rows,
    * never documents); per-doc reassembly is an aggregate over that
    * doc's own chunks, ordered by the unique chunk index — O(doc)
    * state, the same bound the document itself already is. */
  def cdcStrip(probe: DataFrame, refDigests: DataFrame, k: Int = 3,
      p: Int = 8, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withCdcEnds(probe, k, p, textCol)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("__ends"))), j => {
          val start = when(j === 1, lit(1))
            .otherwise(element_at(col("__ends"), (j - 1).cast("int")) + 1)
          val end = element_at(col("__ends"), j.cast("int"))
          val txt = array_join(slice(col("__t"), start, end - start + 1), " ")
          struct(md5(txt).as("d"), txt.as("tx"),
            (end - start + 1).cast("long").as("n"))
        })))
      .select(col(idCol), col("pos"),
        col("col.d").as("__d"), col("col.tx").as("__tx"), col("col.n").as("__n"))
      .join(refDigests.select(col("chunk_digest").as("__d")).distinct()
        .withColumn("__dup", lit(1)), Seq("__d"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(
            when(col("__dup").isNull, struct(col("pos"), col("__tx").as("tx"))))),
          x => x.getField("tx")), " ").as("clean"),
        sum(when(col("__dup").isNull, col("__n")).otherwise(0L)).as("kept_tokens"),
        sum(when(col("__dup").isNotNull, col("__n")).otherwise(0L)).as("dropped_tokens"))
}
