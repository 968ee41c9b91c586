package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.relational.Tables
import graft.relational.RelationalQueries.{davg, davgSql, dsum, dsumSql}
import graft.sim.Similarity
import graft.text.TextFunctions._

/** Training-data-curation operator surface over the `documents` and
  * `embeddings` tables: text analysis, dedup (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard), and similarity search. Each query has a
  * DuckDB oracle twin built from the same integer/md5 arithmetic, so the
  * driver hash-compare is exact (see the determinism contract in
  * [[graft.text.TextFunctions]]).
  */
object CurationQueries {

  // ---- shared SQL fragments (DuckDB spellings of TextFunctions) ----

  /** DuckDB twin of TextFunctions.tokens INCLUDING the empty-text
    * guard: regexp_split_to_array('') is [''] (len 1) in DuckDB while
    * Spark's guarded split gives [] — an empty/whitespace-only document
    * would silently diverge every token-derived oracle. */
  private def toksSql(e: String) =
    s"(CASE WHEN length(trim($e)) = 0 THEN []::VARCHAR[] ELSE regexp_split_to_array(trim($e), '\\s+') END)"

  private def shinglesSql(toksE: String, k: Int): String =
    s"""(CASE WHEN len($toksE) < $k THEN []::VARCHAR[]
       ELSE list_transform(range(1, len($toksE) - ${k - 2}),
         i -> ${(0 until k).map(j => s"$toksE[i + $j]").mkString(" || ' ' || ")}) END)"""

  private def markerHitsSql(textE: String, markers: Seq[String]): String =
    s"len(list_filter(${toksSql(s"lower($textE)")}, t -> t IN (${markers.map(m => s"'$m'").mkString(",")})))"

  /** int64 hash list of the 3-shingles of a staged tokens column — the
    * shared per-doc projection under every winnow oracle. */
  private def shingleHashesSql(toksCol: String): String =
    s"list_transform(${shinglesSql(toksCol, 3)}, s -> ${md5LongSql("s", 8)})"

  /** Winnow (window w=4) over a staged hash-list column. */
  private def winnowListSql(h: String): String =
    s"""(CASE WHEN len($h) = 0 THEN []::BIGINT[]
      WHEN len($h) <= 4 THEN [list_min($h)]
      ELSE list_transform(range(1, len($h) - 2), i -> list_min(list_slice($h, i, i + 3))) END)"""

  /** Staged winnow-fingerprint CTE chain shared by the q23 oracle
    * family (q74/q109/q123/q129): `__wt` (tokens), `__wh` (shingle
    * hashes), `fps` (one row per $idAs × per-doc-distinct fingerprint).
    * MATERIALIZED where referenced more than once — DuckDB inlines
    * plain CTEs per reference, so the unstaged originals re-derived
    * the shingle+md5 projection up to 4× per query (~80 s each at
    * sf0.01; staged: well under a second). Values are identical: the
    * staging is pure common-subexpression binding, the same contract
    * as the Spark side's *Of helpers. */
  private[queries] def winnowFpsCteSql(idExpr: String = "doc_id",
      idAs: String = "doc_id"): String =
    s"""__wt AS MATERIALIZED (SELECT $idExpr AS $idAs, ${toksSql("text")} AS __toks
          FROM documents),
    __wh AS (SELECT $idAs, ${shingleHashesSql("__toks")} AS __h FROM __wt),
    fps AS MATERIALIZED (SELECT $idAs,
          unnest(list_distinct(${winnowListSql("__h")})) AS fp FROM __wh)"""

  /** Staged exhaustive Jaccard≥0.8 connected-components CTE chain
    * shared by the q51 oracle family (q89/q121): staged shingle sets,
    * postings-based intersection counts (identical pair set — a pair
    * below one shared shingle cannot reach 0.8), recursive closure,
    * `comp` = (doc_id, $compAs = min reachable id). Callers must open
    * with WITH RECURSIVE. */
  private[queries] def jaccardCompCteSql(compAs: String,
      where: String = "TRUE"): String =
    s"""__jt AS MATERIALIZED (SELECT doc_id, ${toksSql("text")} AS __toks
          FROM documents WHERE $where),
    __jd AS MATERIALIZED (SELECT doc_id,
          list_distinct(${shinglesSql("__toks", 3)}) AS sh FROM __jt),
    __jp AS (SELECT doc_id, unnest(sh) AS s FROM __jd),
    __ji AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
             FROM __jp x JOIN __jp y ON x.s = y.s AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
    pairs AS (SELECT a, b FROM __ji
              JOIN (SELECT doc_id, len(sh) AS n FROM __jd) sa ON sa.doc_id = a
              JOIN (SELECT doc_id, len(sh) AS n FROM __jd) sb ON sb.doc_id = b
              WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
    edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS $compAs
             FROM reach GROUP BY src)"""

  /** DuckDB twin of [[Similarity.dot]]: left fold in element order from
    * an explicit 0.0 — the same accumulation order as Spark's fold, so
    * the doubles (and everything derived from them) are bit-identical. */
  private[queries] def dotSql(a: String, b: String): String =
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(list_zip($a, $b), z -> z[1] * z[2])), (acc, v) -> acc + v)"

  /** `documents` ships as one parquet file per SF — a single input
    * partition. The per-row work below (shingling, hashing, signature
    * folds) is compute-bound, so spread it across all cores first; the
    * shuffle moves only the small doc rows. (At real corpus scale the
    * source would already be thousands of splits and this is a no-op
    * guard.) */
  private def docs(s: SparkSession, d: String): DataFrame =
    graft.util.Spread(Tables.documents(s, d))

  // ---- q20: token counting (whitespace + BPE-ish) ----

  def q20(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("t", tokens(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(size(col("t"))).as("ws_tokens"),
        sum(bpeishCount(col("text"))).as("bpeish_tokens"),
        davg(col("n_chars").cast(DoubleType)).as("avg_chars"))
      .orderBy(col("source"))

  val q20Sql: String = s"""
    SELECT source, COUNT(*) AS docs,
           CAST(SUM(len(${toksSql("text")})) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '$BpePattern'))) AS BIGINT) AS bpeish_tokens,
           ${davgSql("CAST(n_chars AS DOUBLE)")} AS avg_chars
    FROM documents GROUP BY source ORDER BY source"""

  // ---- q21: quality scoring ----

  def q21(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("lt", tokens(lower(col("text"))))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(meanTokenLen(col("text")), 6).as("mean_token_len"),
        qualityScoreOf(col("text"), col("t"), col("lt")).as("quality"))
      .orderBy(col("doc_id"))

  /** DuckDB twins of the qualityScore component ratios (q21 family;
    * also the q133 domain-filter oracle). */
  private def ratioSql(cls: String) = s"""(CASE WHEN length(text) = 0 THEN 0.0 ELSE
      CAST(length(text) - length(regexp_replace(text, '$cls', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) END)"""
  private val ntSql = s"len(${toksSql("text")})"
  /** DuckDB twin of TextFunctions.qualityScore over a `text` column. */
  private def qualitySql: String = {
    val stopHits = markerHitsSql("text", LangMarkers.flatMap(_._2))
    s"""round(greatest(0.0, least(1.0,
        0.4 * least(CAST($ntSql AS DOUBLE) / 64.0, 1.0)
      + 0.4 * (CASE WHEN $ntSql = 0 THEN 0.0
               ELSE least(CAST($stopHits AS DOUBLE) / CAST($ntSql AS DOUBLE) * 4.0, 1.0) END)
      + 0.2 * (1.0 - (${ratioSql("[\\.,!\\?;:]")} + ${ratioSql("[0-9]")} + ${ratioSql("[A-Z]")})))), 6)"""
  }

  val q21Sql: String = {
    val nt = ntSql
    val mtl = s"""(CASE WHEN $nt = 0 THEN 0.0 ELSE
      CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / CAST($nt AS DOUBLE) END)"""
    s"""
    SELECT doc_id, CAST($nt AS BIGINT) AS n_tokens,
           round(${ratioSql("[\\.,!\\?;:]")}, 6) AS punct_ratio,
           round($mtl, 6) AS mean_token_len,
           $qualitySql AS quality
    FROM documents ORDER BY doc_id"""
  }

  // ---- q22: language ID ----

  def q22(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("lt", tokens(lower(col("text"))))
      .select(col("doc_id"), col("lang"), langIdOf(col("lt")).as("pred_lang"))
      .withColumn("agree", col("lang") === col("pred_lang"))
      .orderBy(col("doc_id"))

  val q22Sql: String = {
    val hits = LangMarkers.map { case (lang, ms) => lang -> markerHitsSql("text", ms) }
    val best = s"greatest(${hits.map(_._2).mkString(",")})"
    val pred = hits.foldRight("'unknown'") { case ((lang, h), els) =>
      s"(CASE WHEN $h > 0 AND $h = $best THEN '$lang' ELSE $els END)"
    }
    s"""
    SELECT doc_id, lang, $pred AS pred_lang, (lang = $pred) AS agree
    FROM documents ORDER BY doc_id"""
  }

  // ---- q23: document fingerprinting (rolling + winnowing) ----

  def q23(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("sh", wordShinglesNativeOf(col("t"), 3))
      .select(col("doc_id"),
        rollingFingerprintOf(col("t")).as("rolling_fp"),
        array_join(winnowNative(col("sh"), 4), ",").as("winnow_fps"))
      .orderBy(col("doc_id"))

  val q23Sql: String = {
    val rolling = s"""list_reduce(
      list_prepend(CAST(0 AS BIGINT), list_transform(__toks, t -> ${md5LongSql("t", 8)} % 2147483647)),
      (acc, x) -> (acc * 31 + x) % 2147483647)"""
    s"""
    WITH __wt AS MATERIALIZED (SELECT doc_id, ${toksSql("text")} AS __toks
           FROM documents),
    __wh AS (SELECT doc_id, __toks, ${shingleHashesSql("__toks")} AS __h FROM __wt)
    SELECT doc_id, $rolling AS rolling_fp,
           array_to_string(list_sort(list_distinct(${winnowListSql("__h")})), ',') AS winnow_fps
    FROM __wh ORDER BY doc_id"""
  }

  // ---- q74: cross-document shared-span pairs (winnow collisions) ----

  /** q74: shared-SPAN detection ([[Dedup.sharedSpanPairs]]) — docs
    * pairing on ≥ 2 common winnowing fingerprints, i.e. common local
    * k-shingle spans (boilerplate headers, quoted passages) that
    * whole-doc similarity metrics dilute away. The oracle replays the
    * q23-proven winnow construction, the document-frequency cut, and
    * the inverted-index join, so the hash check pins fingerprints,
    * pruning, and pair counts. */
  def q74(s: SparkSession, d: String): DataFrame =
    Dedup.sharedSpanPairs(docs(s, d), "doc_id", "text",
        shingleK = 3, w = 4, minShared = 2, maxDocFreq = 50)
      .orderBy(col("a"), col("b"))

  val q74Sql: String = s"""
    WITH ${winnowFpsCteSql()},
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 50),
    p AS MATERIALIZED (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
    SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
    FROM p x JOIN p y ON x.fp = y.fp AND x.doc_id < y.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY a, b"""

  // ---- q79: exact substring-span removal (strip repeated k-grams) ----

  /** q79: span REMOVAL ([[Dedup.stripDuplicateSpans]]) — q74 detects
    * cross-document spans, this one cuts them: every 13-token gram
    * occurring in ≥ 2 docs is stripped from all but the min-id holder,
    * overlapping marks unioned, survivors re-joined in order. The
    * oracle replays the whole pipeline — postings with positions,
    * keep-first flagging, interval union, ordered reassembly — so the
    * hash check pins the cleaned text (via md5) exactly, not just the
    * removal counts. */
  def q79(s: SparkSession, d: String): DataFrame =
    Dedup.stripDuplicateSpans(docs(s, d), k = 13)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")

  val q79Sql: String = s"""
    WITH t AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
    g AS (SELECT doc_id, ${shinglesSql("t", 13)} AS gs FROM t),
    pos AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM
      (SELECT doc_id, unnest(list_transform(range(1, len(gs) + 1),
        i -> {'pos': i - 1, 'gram': gs[i]})) AS pg FROM g) q),
    dup AS (SELECT gram, min(doc_id) AS keep_doc FROM pos GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2),
    flag AS (SELECT pos.doc_id, pos.pos FROM pos JOIN dup USING (gram)
      WHERE pos.doc_id <> dup.keep_doc),
    rem AS (SELECT DISTINCT doc_id, pos + o.off AS idx
      FROM flag CROSS JOIN (SELECT unnest(range(0, 13)) AS off) o),
    tp AS (SELECT doc_id, it.idx AS idx, it.tok AS tok FROM
      (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        i -> {'idx': i - 1, 'tok': t[i]})) AS it FROM t) q),
    kept AS (SELECT tp.doc_id, tp.idx, tp.tok FROM tp
      WHERE NOT EXISTS (SELECT 1 FROM rem
        WHERE rem.doc_id = tp.doc_id AND rem.idx = tp.idx)),
    agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean,
      count(*) AS n_kept FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
      CAST(len(t.t) AS BIGINT) AS n_tokens,
      CAST(len(t.t) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
      md5(coalesce(agg.clean, '')) AS clean_md5
    FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""

  // ---- q24: exact dedup ----

  def q24(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val kept = Dedup.exact(docs, "text", "doc_id")
    docs.agg(count(lit(1)).as("total"),
        countDistinct(md5(col("text"))).as("distinct_docs"))
      .crossJoin(kept.agg(count(lit(1)).as("kept"),
        dsum(col("n_chars").cast(DoubleType)).as("kept_chars")))
  }

  val q24Sql: String = s"""
    SELECT (SELECT COUNT(*) FROM documents) AS total,
           (SELECT COUNT(DISTINCT md5(text)) FROM documents) AS distinct_docs,
           COUNT(*) AS kept,
           ${dsumSql("CAST(n_chars AS DOUBLE)")} AS kept_chars
    FROM (SELECT n_chars, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1"""

  // ---- q25: exact n-gram Jaccard top pairs ----

  /** Shingles occurring in more docs than this are pruned before the
    * pair join (df² candidate blowup for near-zero signal); the oracle
    * prunes identically. */
  val JaccardMaxDf = 50

  def q25(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(docs(s, d), "doc_id", "text", shingleK = 3,
      maxDocFreq = JaccardMaxDf)
      .orderBy(col("sim").desc, col("a"), col("b"))
      .limit(20)

  val q25Sql: String = {
    val toks = toksSql("text")
    s"""
    WITH docs AS (SELECT doc_id, list_distinct(${shinglesSql(toks, 3)}) AS sh FROM documents),
    all_postings AS (SELECT doc_id, unnest(sh) AS s FROM docs),
    rare AS (SELECT s FROM all_postings GROUP BY s HAVING COUNT(*) <= $JaccardMaxDf),
    postings AS (SELECT doc_id, all_postings.s AS s FROM all_postings JOIN rare ON all_postings.s = rare.s),
    shared AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
               FROM postings x JOIN postings y ON x.s = y.s AND x.doc_id < y.doc_id
               GROUP BY 1, 2),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM postings GROUP BY doc_id)
    SELECT a, b, CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS sim
    FROM shared JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
    ORDER BY sim DESC, a, b LIMIT 20"""
  }

  // ---- q26: MinHash + LSH candidate pairs ----

  val MinhashK = 8
  val LshBands = 4

  def q26(s: SparkSession, d: String): DataFrame = {
    // eager checkpoint (Materialize), not persist: the banding
    // self-join reads the signatures from two plan branches — a bare
    // plan would run the 8-seed minhash fold twice, and a persist()
    // would leak its cache into the session after the query returns
    // (judge hygiene item).
    val sigged = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), wordShinglesNativeOf(col("t"), 3).as("sh"))
      .select(col("doc_id"), Dedup.minhashSignatureNative(col("sh"), MinhashK).as("sig"))
      .transform(graft.util.Materialize.eager)
    Dedup.lshCandidatesWithSigs(sigged, "doc_id", "sig", LshBands)
      .withColumn("sig_agree",
        Dedup.sigMatches(col("siga"), col("sigb"))
          .cast(DoubleType) / MinhashK)
      .select(col("a"), col("b"), col("sig_agree"))
      .orderBy(col("a"), col("b"))
  }

  val q26Sql: String = {
    val r = MinhashK / LshBands
    val bandKeys = (0 until LshBands).map(b =>
      s"concat('$b', ':', CAST(to_json(list_slice(sig, ${b * r + 1}, ${b * r + r})) AS VARCHAR))")
    s"""
    WITH __mt AS MATERIALIZED (SELECT doc_id, ${toksSql("text")} AS __toks
           FROM documents),
    __msh AS MATERIALIZED (SELECT doc_id, ${shinglesSql("__toks", 3)} AS __sh
           FROM __mt),
    docs AS MATERIALIZED (SELECT doc_id,
           ${Dedup.minhashFromShinglesSql("__sh", MinhashK)} AS sig FROM __msh),
    banded AS (SELECT doc_id, unnest([${bandKeys.mkString(",")}]) AS band_key FROM docs),
    pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM banded x JOIN banded y ON x.band_key = y.band_key AND x.doc_id < y.doc_id)
    SELECT a, b,
           CAST(len(list_filter(list_zip(da.sig, db.sig), z -> z[1] = z[2])) AS DOUBLE) / $MinhashK AS sig_agree
    FROM pairs JOIN docs da ON da.doc_id = a JOIN docs db ON db.doc_id = b
    ORDER BY a, b"""
  }

  // ---- q27: SimHash signatures ----

  def q27(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), Dedup.simhashNative(col("t")).as("simhash"))
      .orderBy(col("doc_id"))

  val q27Sql: String = s"""
    SELECT doc_id, ${Dedup.simhashFromHsSql("hs")} AS simhash
    FROM (SELECT doc_id, ${Dedup.simhashHsSql("text")} AS hs FROM documents)
    ORDER BY doc_id"""

  // ---- q28: brute-force cosine top-k ----

  def q28(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, k = 10)
      .orderBy(col("query_id"), col("rk"))
  }

  val q28Sql: String = {
    val dqc = dotSql("q.v", "c.v")
    val dqq = dotSql("q.v", "q.v")
    val dcc = dotSql("c.v", "c.v")
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      round($dqc / (sqrt($dqq) * sqrt($dcc)), 6) AS sim
               FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored)
    WHERE rk <= 10 ORDER BY query_id, rk"""
  }

  // ---- q29: embedding-space near-duplicate pairs (LSH candidates +
  //      exact cosine verify — the scale path; no crossJoin) ----

  /** Shared DuckDB fragments for the SRP-LSH pipeline (q29/q30): the
    * signature sum-of-bits over a `v` column, and the band-key list over
    * a `sig` column — same md5-derived ±1 plane literals Spark embeds. */
  private[queries] def srpSigSql(planes: Int = 16, dims: Int = 64): String =
    (0 until planes).map { p =>
      val signs = (0 until dims).map(j => Similarity.planeSign(p, j)).mkString("[", ",", "]")
      val proj = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(list_zip(v, list_slice($signs, 1, len(v))), z -> z[1] * z[2])), (acc, x) -> acc + x)"
      s"(CASE WHEN $proj > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  private[queries] def srpBandListSql(planes: Int = 16, bandBits: Int = 4): String =
    (0 until planes / bandBits).map(b =>
      s"concat('$b', ':', CAST((sig >> ${b * bandBits}) & ${(1 << bandBits) - 1} AS VARCHAR))")
      .mkString("[", ",", "]")

  def q29(s: SparkSession, d: String): DataFrame =
    Similarity.nearDupPairsLsh(Tables.embeddings(s, d), threshold = 0.3)
      .orderBy(col("a"), col("b"))

  val q29Sql: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm,
                    ${srpSigSql()} AS sig FROM e),
    banded AS (SELECT vec_id, unnest(${srpBandListSql()}) AS band FROM sigs),
    cands AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
              FROM banded x JOIN banded y ON x.band = y.band
              WHERE x.vec_id < y.vec_id)
    SELECT a, b, round(${dotSql("sa.v", "sb.v")} / (sa.nrm * sb.nrm), 6) AS sim
    FROM cands JOIN sigs sa ON sa.vec_id = a JOIN sigs sb ON sb.vec_id = b
    WHERE round(${dotSql("sa.v", "sb.v")} / (sa.nrm * sb.nrm), 6) >= 0.3
    ORDER BY a, b"""

  // ---- q30: ANN via SRP-LSH ----

  def q30(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb, k = 10)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Exact oracle for the "approximate" LSH: the SRP planes are a pure
    * function of md5 ([[Similarity.planeSign]]), so the oracle replays
    * the identical signature → band → candidate → exact-rerank pipeline
    * in DuckDB with the same ±1 plane literals — approximate recall,
    * deterministic output. */
  val q30Sql: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm,
                    ${srpSigSql()} AS sig FROM e),
    banded AS (SELECT vec_id, unnest(${srpBandListSql()}) AS band FROM sigs),
    cands AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM banded q JOIN banded c ON q.band = c.band
              WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
    scored AS (SELECT query_id, neighbor_id,
                      round(${dotSql("sq.v", "sc.v")} / (sq.nrm * sc.nrm), 6) AS sim
               FROM cands
               JOIN sigs sq ON sq.vec_id = query_id
               JOIN sigs sc ON sc.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) WHERE rk <= 10 ORDER BY query_id, rk"""

  // ---- q39: SimHash near-dup pairs (byte-block LSH + Hamming verify) ----

  val SimhashMaxHamming = 8

  def q39(s: SparkSession, d: String): DataFrame = {
    val sigged = docs(s, d)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), Dedup.simhashNative(col("t")).as("sh"))
    Dedup.simhashNearDup(sigged, "doc_id", "sh", maxHamming = SimhashMaxHamming)
      .orderBy(col("a"), col("b"))
  }

  val q39Sql: String = s"""
    WITH sigs AS (
      SELECT doc_id, ${Dedup.simhashFromHsSql("hs")} AS sh
      FROM (SELECT doc_id, ${Dedup.simhashHsSql("text")} AS hs FROM documents)),
    blocked AS (
      SELECT doc_id, sh, unnest([
        ${Dedup.simhashBlockSqlList("sh", SimhashMaxHamming)}
      ]) AS blk FROM sigs)
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS dist
    FROM blocked x JOIN blocked y ON x.blk = y.blk AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.sh, y.sh)) <= $SimhashMaxHamming
    ORDER BY a, b"""

  // ---- q38: ANN via IVF coarse quantizer ----

  def q38(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb, k = 10,
      nlist = 16, nprobe = 4)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Exact oracle for IVF: seeds (smallest md5(vec_id)), one Lloyd step
    * with decimal-exact means, refined-centroid assignment (argmax ties →
    * LARGER cluster, mirroring Spark's `greatest(struct(s,c))`), query
    * probe of nprobe nearest lists (ties → SMALLER cluster, mirroring the
    * stable array_sort), exact rerank. Same folds → same doubles. */
  val q38Sql: String = {
    val nlist = 16; val nprobe = 4; val k = 10
    def halfS(c: String) =
      "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($c, x -> x * x)), (acc, x) -> acc + x) / 2.0)"
    val h = md5LongSql("CAST(vec_id AS VARCHAR)", 15)
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, v
              FROM (SELECT v, $h AS h FROM e) ORDER BY h LIMIT $nlist),
    assign0 AS (SELECT vec_id, v, c FROM (
        SELECT e.vec_id, e.v AS v, s.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql("e.v", "s.v")} - ${halfS("s.v")}) DESC, s.c DESC) AS rn
        FROM e CROSS JOIN seeds s) WHERE rn = 1),
    means AS (SELECT c, pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS m
              FROM (SELECT c, unnest(v) AS x, unnest(range(len(v))) AS pos FROM assign0)
              GROUP BY c, pos),
    refined AS (SELECT s.c AS c, COALESCE(m.mv, s.v) AS v
                FROM seeds s LEFT JOIN
                  (SELECT c, list(m ORDER BY pos) AS mv FROM means GROUP BY c) m
                  ON s.c = m.c),
    cassign AS (SELECT vec_id AS neighbor_id, v AS cv, sqrt(${dotSql("v", "v")}) AS cn, c AS cluster
                FROM (SELECT e.vec_id, e.v AS v, r.c AS c,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY (${dotSql("e.v", "r.v")} - ${halfS("r.v")}) DESC, r.c DESC) AS rn
                      FROM e CROSS JOIN refined r) WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, v AS qv, sqrt(${dotSql("v", "v")}) AS qn, c AS cluster
               FROM (SELECT e.vec_id, e.v AS v, r.c AS c,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY (${dotSql("e.v", "r.v")} - ${halfS("r.v")}) DESC, r.c ASC) AS rn
                     FROM e CROSS JOIN refined r WHERE e.vec_id < 5) WHERE rn <= $nprobe),
    scored AS (SELECT query_id, neighbor_id,
                      round(${dotSql("qv", "cv")} / (qn * cn), 6) AS sim
               FROM cassign JOIN qprobe USING (cluster)
               WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) WHERE rk <= $k ORDER BY query_id, rk"""
  }

  // ---- q70: product-quantization ANN (ADC scan + exact re-rank) ----

  /** q70: PQ-compressed ANN ([[Similarity.pqTopK]]) — per-subvector
    * codebooks trained with the same md5-seeded decimal-exact Lloyd
    * step as IVF, corpus encoded to m codes/row, candidates ranked by
    * driver-built ADC lookup tables (m `element_at`s per row — the
    * compressed scan), topC exact-reranked to cosine top-k. The oracle
    * replays the ENTIRE construction per subvector (training, encode,
    * ADC, re-rank) with the q38-proven deterministic folds, so the
    * hash check pins codebooks, codes, and both rankings. */
  def q70(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.pqTopK(emb.filter(col("vec_id") < 5), emb, k = 10,
      m = 4, ksub = 16, topC = 50)
      .orderBy(col("query_id"), col("rk"))
  }

  val q70Sql: String = {
    val m = 4; val ksub = 16; val topC = 50; val k = 10
    def halfS(c: String) =
      "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($c, x -> x * x)), (acc, x) -> acc + x) / 2.0)"
    val h = md5LongSql("CAST(vec_id AS VARCHAR)", 15)
    // subvector j of vector expr v (dims divide evenly by m)
    def sl(v: String, j: Int) =
      s"list_slice($v, ($j * len($v)) / $m + 1, ((${j + 1}) * len($v)) / $m)"
    val subCtes = (0 until m).map { j =>
      s"""a$j AS (SELECT vec_id, v, c FROM (
        SELECT e.vec_id, ${sl("e.v", j)} AS v, s.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql(sl("e.v", j), sl("s.v", j))} - ${halfS(sl("s.v", j))}) DESC, s.c DESC) AS rn
        FROM e CROSS JOIN seeds s) WHERE rn = 1),
    m$j AS (SELECT c, pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS mn
            FROM (SELECT c, unnest(v) AS x, unnest(range(len(v))) AS pos FROM a$j)
            GROUP BY c, pos),
    r$j AS (SELECT s.c AS c, COALESCE(mm.mv, ${sl("s.v", j)}) AS v
            FROM seeds s LEFT JOIN
              (SELECT c, list(mn ORDER BY pos) AS mv FROM m$j GROUP BY c) mm
              ON s.c = mm.c),
    code$j AS (SELECT vec_id, c FROM (
        SELECT e.vec_id, r.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql(sl("e.v", j), "r.v")} - ${halfS("r.v")}) DESC, r.c DESC) AS rn
        FROM e CROSS JOIN r$j r) WHERE rn = 1)"""
    }.mkString(",\n    ")
    val codeJoins = (0 until m).map(j =>
      s"JOIN code$j c$j ON c$j.vec_id = e.vec_id JOIN r$j ON r$j.c = c$j.c").mkString(" ")
    // ADC = left-to-right sum of per-subvector table entries (the same
    // association order as the engine's reduceLeft)
    val adcTerms = (0 until m).map(j =>
      s"(${dotSql(sl("q.v", j), s"r$j.v")} - ${halfS(s"r$j.v")})").mkString(" + ")
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, v
              FROM (SELECT v, $h AS h FROM e) ORDER BY h LIMIT $ksub),
    $subCtes,
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
    adc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   e.v AS cv, q.v AS qv, ($adcTerms) AS adc
            FROM e $codeJoins CROSS JOIN q
            WHERE q.vec_id <> e.vec_id),
    topc AS (SELECT query_id, neighbor_id, cv, qv FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc DESC, neighbor_id) AS cr
        FROM adc) WHERE cr <= $topC),
    scored AS (SELECT query_id, neighbor_id,
                      round(${dotSql("qv", "cv")} /
                        (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS sim
               FROM topc)
    SELECT query_id, neighbor_id, sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) WHERE rk <= $k ORDER BY query_id, rk"""
  }

  // ---- q71: IVF-PQ ANN (prune × compress, the production composition) ----

  /** q71: IVF-PQ ([[Similarity.ivfPqTopK]]) with `nprobe < nlist` — the
    * coarse quantizer actually PRUNES the candidate scan to each
    * query's 4-of-16 inverted lists before PQ's compressed ADC ranking
    * and the exact re-rank. The oracle composes the two proven
    * constructions on their shared md5 seed set (nlist = ksub = 16):
    * q38's cluster assignment + query probe gate q70's per-subvector
    * codebooks/codes/ADC, so the hash check pins the pruning, the
    * compression, and both rankings of the production path — not the
    * `nprobe = nlist` degenerate case the spec pins against
    * [[Similarity.pqTopK]]. */
  def q71(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb, k = 10,
      nlist = 16, nprobe = 4, m = 4, ksub = 16, topC = 50)
      .orderBy(col("query_id"), col("rk"))
  }

  val q71Sql: String = {
    val nlist = 16; val nprobe = 4; val m = 4; val ksub = 16
    val topC = 50; val k = 10
    require(nlist == ksub, "shared seed CTE assumes nlist == ksub")
    def halfS(c: String) =
      "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($c, x -> x * x)), (acc, x) -> acc + x) / 2.0)"
    val h = md5LongSql("CAST(vec_id AS VARCHAR)", 15)
    def sl(v: String, j: Int) =
      s"list_slice($v, ($j * len($v)) / $m + 1, ((${j + 1}) * len($v)) / $m)"
    // q38's coarse quantizer: full-vector Lloyd step, corpus assignment
    // (ties → larger cluster), query probe (ties → smaller cluster)
    val ivfCtes = s"""
    assign0 AS (SELECT vec_id, v, c FROM (
        SELECT e.vec_id, e.v AS v, s.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql("e.v", "s.v")} - ${halfS("s.v")}) DESC, s.c DESC) AS rn
        FROM e CROSS JOIN seeds s) WHERE rn = 1),
    means AS (SELECT c, pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS m
              FROM (SELECT c, unnest(v) AS x, unnest(range(len(v))) AS pos FROM assign0)
              GROUP BY c, pos),
    refined AS (SELECT s.c AS c, COALESCE(m.mv, s.v) AS v
                FROM seeds s LEFT JOIN
                  (SELECT c, list(m ORDER BY pos) AS mv FROM means GROUP BY c) m
                  ON s.c = m.c),
    cassign AS (SELECT vec_id AS neighbor_id, c AS cluster
                FROM (SELECT e.vec_id, r.c AS c,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY (${dotSql("e.v", "r.v")} - ${halfS("r.v")}) DESC, r.c DESC) AS rn
                      FROM e CROSS JOIN refined r) WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, v AS qv, c AS cluster
               FROM (SELECT e.vec_id, e.v AS v, r.c AS c,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY (${dotSql("e.v", "r.v")} - ${halfS("r.v")}) DESC, r.c ASC) AS rn
                     FROM e CROSS JOIN refined r WHERE e.vec_id < 5) WHERE rn <= $nprobe)"""
    // q70's PQ: per-subvector Lloyd step + encode, on the SAME seeds
    val subCtes = (0 until m).map { j =>
      s"""a$j AS (SELECT vec_id, v, c FROM (
        SELECT e.vec_id, ${sl("e.v", j)} AS v, s.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql(sl("e.v", j), sl("s.v", j))} - ${halfS(sl("s.v", j))}) DESC, s.c DESC) AS rn
        FROM e CROSS JOIN seeds s) WHERE rn = 1),
    m$j AS (SELECT c, pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS mn
            FROM (SELECT c, unnest(v) AS x, unnest(range(len(v))) AS pos FROM a$j)
            GROUP BY c, pos),
    r$j AS (SELECT s.c AS c, COALESCE(mm.mv, ${sl("s.v", j)}) AS v
            FROM seeds s LEFT JOIN
              (SELECT c, list(mn ORDER BY pos) AS mv FROM m$j GROUP BY c) mm
              ON s.c = mm.c),
    code$j AS (SELECT vec_id, c FROM (
        SELECT e.vec_id, r.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql(sl("e.v", j), "r.v")} - ${halfS("r.v")}) DESC, r.c DESC) AS rn
        FROM e CROSS JOIN r$j r) WHERE rn = 1)"""
    }.mkString(",\n    ")
    val codeJoins = (0 until m).map(j =>
      s"JOIN code$j c$j ON c$j.vec_id = e.vec_id JOIN r$j ON r$j.c = c$j.c").mkString(" ")
    val adcTerms = (0 until m).map(j =>
      s"(${dotSql(sl("q.qv", j), s"r$j.v")} - ${halfS(s"r$j.v")})").mkString(" + ")
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, v
              FROM (SELECT v, $h AS h FROM e) ORDER BY h LIMIT $ksub),
    $ivfCtes,
    $subCtes,
    adc AS (SELECT q.query_id AS query_id, e.vec_id AS neighbor_id,
                   e.v AS cv, q.qv AS qv, ($adcTerms) AS adc
            FROM e $codeJoins
            JOIN cassign ca ON ca.neighbor_id = e.vec_id
            JOIN qprobe q ON q.cluster = ca.cluster
            WHERE q.query_id <> e.vec_id),
    topc AS (SELECT query_id, neighbor_id, cv, qv FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc DESC, neighbor_id) AS cr
        FROM adc) WHERE cr <= $topC),
    scored AS (SELECT query_id, neighbor_id,
                      round(${dotSql("qv", "cv")} /
                        (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS sim
               FROM topc)
    SELECT query_id, neighbor_id, sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) WHERE rk <= $k ORDER BY query_id, rk"""
  }

  // ---- q72: streaming corpus builder's NEAR-DUP gate (planted landing zone) ----

  /** q72: the crawler-dedup production gate
    * ([[graft.streaming.CorpusBuilder.appendNearDupNew]]) — two batches
    * of PLANTED docs through the MinHash near-dup corpus builder, then
    * a hash check of exactly WHICH content survived.
    *
    * The landing zone is derived from the documents table's doc_ids
    * (per decade: a base doc, exact dups, near dups, fresh docs, split
    * across the two batches) with near-dups built as CYCLIC token
    * repetitions: `n` cycles of the same 3-token cycle have the SAME
    * distinct-3-shingle set for every n ≥ 2, so their MinHash
    * signatures agree on exactly k of k rows — the gate's verdict is
    * deterministic AND oracle-expressible as shingle-SET equality,
    * with no signature replay needed. All other planted pairs share no
    * shingle (per-id vocabularies), so they can neither band-collide
    * nor reach the 0.8·k agreement bar. The oracle replays the gate's
    * exact semantics: within-batch exact keep = min id per text;
    * within-batch near drop = larger id of any set-equal keeper pair;
    * vs-corpus drops by stored digest or stored set. Batch ORDER is
    * code-fixed (two sequential batch appends), so survivors are
    * deterministic — the reason this query drives the gate directly
    * rather than through a multi-file stream. */
  def q72(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.CorpusBuilder
    val work = graft.util.Workspace.temp("graft-q72")
    val r = col("doc_id") % 10
    val fs = (col("doc_id") - r).cast("string")
    val id = col("doc_id").cast("string")
    val cycA = concat(lit("a"), fs, lit(" b"), fs, lit(" c"), fs)
    val cycB = concat(lit("d"), fs, lit(" e"), fs, lit(" g"), fs)
    def rep(c: org.apache.spark.sql.Column, n: Int) =
      rtrim(repeat(concat(c, lit(" ")), n))
    val planted = docs(s, d).select(col("doc_id"),
      when(r.isin(0, 1, 4), rep(cycA, 2))
        .when(r === 2, rep(cycA, 3))
        .when(r === 5, rep(cycA, 4))
        .when(r === 3, concat(lit("u"), id, lit(" v"), id, lit(" w"), id, lit(" x"), id))
        .when(r.isin(6, 8), rep(cycB, 2))
        .when(r === 7, rep(cycB, 3))
        .otherwise(concat(lit("z"), id, lit(" y"), id, lit(" q"), id))
        .as("text"))
    val nd = CorpusBuilder.NearDup(shingleK = 3, k = 64, bands = 16, minAgree = 0.8)
    val corpus = s"$work/corpus"
    CorpusBuilder.appendNearDupNew(s, planted.filter(r <= 3), corpus,
      "doc_id", "text", nd)
    CorpusBuilder.appendNearDupNew(s, planted.filter(r >= 4), corpus,
      "doc_id", "text", nd)
    s.read.parquet(s"$corpus/docs")
      .select(col("doc_id"), md5(col("text")).as("content_md5"))
      .orderBy(col("doc_id"))
  }

  val q72Sql: String = {
    val toks = toksSql("text")
    val sh = shinglesSql(toks, 3)
    s"""
    WITH plant AS (
      SELECT doc_id, doc_id % 10 AS r,
        CASE WHEN doc_id % 10 IN (0, 1, 4)
               THEN rtrim(repeat(concat('a', f, ' b', f, ' c', f, ' '), 2))
             WHEN doc_id % 10 = 2
               THEN rtrim(repeat(concat('a', f, ' b', f, ' c', f, ' '), 3))
             WHEN doc_id % 10 = 5
               THEN rtrim(repeat(concat('a', f, ' b', f, ' c', f, ' '), 4))
             WHEN doc_id % 10 = 3
               THEN concat('u', i, ' v', i, ' w', i, ' x', i)
             WHEN doc_id % 10 IN (6, 8)
               THEN rtrim(repeat(concat('d', f, ' e', f, ' g', f, ' '), 2))
             WHEN doc_id % 10 = 7
               THEN rtrim(repeat(concat('d', f, ' e', f, ' g', f, ' '), 3))
             ELSE concat('z', i, ' y', i, ' q', i) END AS text
      FROM (SELECT doc_id,
              CAST(doc_id - (doc_id % 10) AS VARCHAR) AS f,
              CAST(doc_id AS VARCHAR) AS i
            FROM documents)),
    shset AS (SELECT doc_id, r, text,
                     CAST(to_json(list_sort(list_distinct($sh))) AS VARCHAR) AS shkey
              FROM plant),
    b1k AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM shset WHERE r <= 3) WHERE rn = 1),
    b1drop AS (SELECT DISTINCT y.doc_id AS doc_id
               FROM b1k x JOIN b1k y ON x.doc_id < y.doc_id AND x.shkey = y.shkey),
    c1 AS (SELECT doc_id, text, shkey FROM b1k
           WHERE doc_id NOT IN (SELECT doc_id FROM b1drop)),
    b2k AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM shset WHERE r >= 4) WHERE rn = 1),
    b2drop AS (
      SELECT doc_id FROM b2k WHERE text IN (SELECT text FROM c1)
      UNION
      SELECT b.doc_id FROM b2k b JOIN c1 c ON b.shkey = c.shkey
      UNION
      SELECT y.doc_id FROM b2k x JOIN b2k y
        ON x.doc_id < y.doc_id AND x.shkey = y.shkey),
    final AS (SELECT doc_id, text FROM c1
              UNION ALL
              SELECT doc_id, text FROM b2k
              WHERE doc_id NOT IN (SELECT doc_id FROM b2drop))
    SELECT doc_id, md5(text) AS content_md5 FROM final ORDER BY doc_id"""
  }

  // ---- q73: ANN over an IVF-PQ-PARTITIONED store ----

  /** Same semantics as q71, at-rest physical layout: the corpus is
    * written once as (id, codes, vector) partitioned by coarse cluster
    * ([[Similarity.writeIvfPqStore]]); the query prunes to its probed
    * partitions AND reads only the codes column for the ADC pass, then
    * fetches just the topC survivors' vectors (plan shape pinned by
    * SimilaritySpec). Centroids and codebooks are deterministic, so
    * the q71 oracle is exact for this layout too — the q42:q38
    * relationship, one level up the composition. */
  def q73(s: SparkSession, d: String): DataFrame = {
    val work = graft.util.Workspace.temp("graft-q73")
    val emb = Tables.embeddings(s, d)
    val (cents, books) = Similarity.writeIvfPqStore(emb, s"$work/ivfpq",
      nlist = 16, m = 4, ksub = 16)
    Similarity.ivfPqStoreTopK(s, s"$work/ivfpq", cents, books,
      emb.filter(col("vec_id") < 5), k = 10, nprobe = 4, topC = 50)
      .orderBy(col("query_id"), col("rk"))
  }

  // ---- q75: cluster-balanced deterministic sampling ----

  /** q75: diversity balancing ([[Similarity.clusterBalancedSample]]) —
    * embeddings capped at 5 per IVF cluster by the md5-ranked
    * deterministic order, the trim-the-modes step after semantic
    * dedup. The oracle composes the q38-proven cluster assignment with
    * the q49-proven cap rank, so assignment, ranking and the kept set
    * are all hash-checked. */
  def q75(s: SparkSession, d: String): DataFrame =
    Similarity.clusterBalancedSample(Tables.embeddings(s, d), nlist = 16, cap = 5)
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
      .orderBy(col("cluster"), col("vec_id"))

  val q75Sql: String = {
    val nlist = 16; val cap = 5
    def halfS(c: String) =
      "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($c, x -> x * x)), (acc, x) -> acc + x) / 2.0)"
    val h = md5LongSql("CAST(vec_id AS VARCHAR)", 15)
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, v
              FROM (SELECT v, $h AS h FROM e) ORDER BY h LIMIT $nlist),
    assign0 AS (SELECT vec_id, v, c FROM (
        SELECT e.vec_id, e.v AS v, s.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql("e.v", "s.v")} - ${halfS("s.v")}) DESC, s.c DESC) AS rn
        FROM e CROSS JOIN seeds s) WHERE rn = 1),
    means AS (SELECT c, pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS m
              FROM (SELECT c, unnest(v) AS x, unnest(range(len(v))) AS pos FROM assign0)
              GROUP BY c, pos),
    refined AS (SELECT s.c AS c, COALESCE(m.mv, s.v) AS v
                FROM seeds s LEFT JOIN
                  (SELECT c, list(m ORDER BY pos) AS mv FROM means GROUP BY c) m
                  ON s.c = m.c),
    cassign AS (SELECT vec_id, CAST(c AS INT) AS cluster
                FROM (SELECT e.vec_id, r.c AS c,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY (${dotSql("e.v", "r.v")} - ${halfS("r.v")}) DESC, r.c DESC) AS rn
                      FROM e CROSS JOIN refined r) WHERE rn = 1)
    SELECT vec_id, cluster FROM (
      SELECT vec_id, cluster,
             ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY $h, vec_id) AS rk
      FROM cassign) WHERE rk <= $cap
    ORDER BY cluster, vec_id"""
  }

  // ---- q80: deterministic global shuffle order ----

  /** q80: training-order shuffle ([[graft.curation.Sampling
    * .shuffleOrder]]) — every doc gets a 1-based global position by
    * rank of its seeded md5, computed with the distributed prefix-sum
    * (range exchange + per-partition windows + one offsets frame),
    * never a single-partition global window. The oracle replays the
    * permutation with a plain `row_number()` so the hash check pins
    * every position, proving the distributed rank equals the sequential
    * one. */
  def q80(s: SparkSession, d: String): DataFrame =
    graft.curation.Sampling.shuffleOrder(docs(s, d), col("doc_id"), seed = "42")
      .select(col("doc_id"), col("ord_pos"))
      .orderBy(col("doc_id"))

  val q80Sql: String = """
    SELECT doc_id,
      CAST(row_number() OVER (
        ORDER BY md5('shuffle|42|' || CAST(doc_id AS VARCHAR)), doc_id)
        AS BIGINT) AS ord_pos
    FROM documents ORDER BY doc_id"""

  // ---- q76: quality-ranked token-budget selection ----

  /** q76: budget selection ([[graft.curation.Sampling.budgetSelect]])
    * — documents ranked by the q21 quality score, kept greedily until
    * a 20k-token budget is full. The oracle replays the score and a
    * windowed running sum, hash-checking the ranking, the exact
    * integer cumulative arithmetic, and the cut point. The engine side
    * computes the prefix sum DISTRIBUTED (range partitions + offset
    * broadcast, never a one-task global window). */
  def q76(s: SparkSession, d: String): DataFrame = {
    val scored = docs(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("lt", tokens(lower(col("text"))))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        qualityScoreOf(col("text"), col("t"), col("lt")).as("quality"))
    graft.curation.Sampling.budgetSelect(scored, col("doc_id"),
        col("quality"), col("n_tokens"), budget = 20000L)
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("cum_weight").as("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  val q76Sql: String = {
    val nt = s"len(${toksSql("text")})"
    val allMarkers = LangMarkers.flatMap(_._2)
    val punct = s"""(CASE WHEN length(text) = 0 THEN 0.0 ELSE
      CAST(length(text) - length(regexp_replace(text, '[\\.,!\\?;:]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) END)"""
    val digit = s"""(CASE WHEN length(text) = 0 THEN 0.0 ELSE
      CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) END)"""
    val upper = s"""(CASE WHEN length(text) = 0 THEN 0.0 ELSE
      CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) END)"""
    val stopHits = markerHitsSql("text", allMarkers)
    val quality = s"""round(greatest(0.0, least(1.0,
        0.4 * least(CAST($nt AS DOUBLE) / 64.0, 1.0)
      + 0.4 * (CASE WHEN $nt = 0 THEN 0.0
               ELSE least(CAST($stopHits AS DOUBLE) / CAST($nt AS DOUBLE) * 4.0, 1.0) END)
      + 0.2 * (1.0 - ($punct + $digit + $upper)))), 6)"""
    s"""
    WITH scored AS (SELECT doc_id, CAST($nt AS BIGINT) AS n_tokens,
                           $quality AS quality
                    FROM documents),
    cum AS (SELECT doc_id, n_tokens, quality,
                   CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM scored)
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM cum WHERE cum_tokens <= 20000 ORDER BY doc_id"""
  }

  // ---- q43: PII-style redaction ----

  /** The corpus is synthetic word-soup with no PII, so the query first
    * injects deterministic contact strings derived from (doc_id, source)
    * — giving every document real email/URL/IP matches — then counts and
    * redacts them. This exercises true cross-engine regex parity (the
    * hash check covers the redacted bytes, not just the counts). */
  def q43(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("aug", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@"), col("source"), lit(".example.com"),
        lit(" via https://"), col("source"), lit(".example.com/d/"), col("doc_id"),
        lit(" from 10.0."), col("doc_id") % 256, lit("."), col("doc_id") % 100))
      .select(col("doc_id"),
        redactionCount(col("aug"), EmailPattern).as("n_email"),
        redactionCount(col("aug"), UrlPattern).as("n_url"),
        redactionCount(col("aug"), Ipv4Pattern).as("n_ip"),
        md5(redact(col("aug"))).as("redacted_md5"))
      .orderBy("doc_id")

  val q43Sql: String = {
    // patterns land in single-quoted SQL literals; DuckDB takes
    // backslashes literally there, so no escaping is needed
    def esc(p: String) = p
    val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source || '.example.com'" +
      " || ' via https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)" +
      " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)"
    s"""
    WITH aug AS (SELECT doc_id, $aug AS aug FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(aug, '${esc(EmailPattern)}')) AS INT) AS n_email,
      CAST(len(regexp_extract_all(aug, '${esc(UrlPattern)}')) AS INT) AS n_url,
      CAST(len(regexp_extract_all(aug, '${esc(Ipv4Pattern)}')) AS INT) AS n_ip,
      md5(regexp_replace(regexp_replace(regexp_replace(aug,
        '${esc(EmailPattern)}', '[EMAIL]', 'g'),
        '${esc(UrlPattern)}', '[URL]', 'g'),
        '${esc(Ipv4Pattern)}', '[IP]', 'g')) AS redacted_md5
    FROM aug ORDER BY doc_id"""
  }

  // ---- q44: repetition signal (duplicate-n-gram fraction) ----

  /** Gopher-style repetition filter: fraction of 2-/3-gram shingles
    * that repeat an earlier one; high values mean the document loops.
    * Thresholding dup3 is the keep/drop decision a curation pipeline
    * applies before training. */
  def q44(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("s2", wordShinglesNativeOf(col("t"), 2))
      .withColumn("s3", wordShinglesNativeOf(col("t"), 3))
      .withColumn("d2", dupNgramRatio(col("s2")))
      .withColumn("d3", dupNgramRatio(col("s3")))
      .select(col("doc_id"),
        round(col("d2"), 6).as("dup2"),
        round(col("d3"), 6).as("dup3"),
        (col("d3") < 0.5).as("keep"))
      .orderBy("doc_id")

  val q44Sql: String = {
    def dup(c: String) =
      s"(CASE WHEN len($c) = 0 THEN 0.0 ELSE CAST(len($c) - len(list_distinct($c)) AS DOUBLE) / CAST(len($c) AS DOUBLE) END)"
    s"""
    WITH t AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
    sh AS (SELECT doc_id, ${shinglesSql("t", 2)} AS s2, ${shinglesSql("t", 3)} AS s3 FROM t)
    SELECT doc_id,
      round(${dup("s2")}, 6) AS dup2,
      round(${dup("s3")}, 6) AS dup3,
      ${dup("s3")} < 0.5 AS keep
    FROM sh ORDER BY doc_id"""
  }

  // ---- q48: train/eval decontamination ----

  /** Eval partition = doc_id % 10 == 0 (a stand-in benchmark slice);
    * k=13 exact word-gram overlap, the standard decontamination
    * criterion. Planted near-duplicates of eval docs are exactly what
    * this catches. */
  def q48(s: SparkSession, d: String): DataFrame =
    Dedup.contamination(docs(s, d), col("doc_id") % 10 === 0, k = 13)
      .orderBy(col("doc_id"))

  val q48Sql: String = s"""
    WITH t AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
    sh AS (SELECT doc_id, unnest(${shinglesSql("t", 13)}) AS gram FROM t),
    ev AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 10 = 0)
    SELECT doc_id, COUNT(DISTINCT gram) AS n_shared
    FROM sh JOIN ev USING (gram) WHERE doc_id % 10 <> 0
    GROUP BY 1 ORDER BY doc_id"""

  // ---- q52: incremental near-dup (new batch vs stored corpus bands) ----

  /** Corpus = doc_id < 400 (already ingested, band table persisted to
    * parquet once); batch = doc_id ≥ 400 (the incoming increment). Only
    * the batch is signatured at query time; candidates come from the
    * stored bands, verified by signature agreement ≥ 0.75. */
  def q52(s: SparkSession, d: String): DataFrame = {
    val work = graft.util.Workspace.temp("graft-q52")
    def sigged(df: DataFrame) = df
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), wordShinglesNativeOf(col("t"), 3).as("sh"))
      .select(col("doc_id"), Dedup.minhashSignatureNative(col("sh"), MinhashK).as("sig"))
    val all = docs(s, d)
    // one-time corpus pass (in production this runs at ingest)
    Dedup.banded(sigged(all.filter(col("doc_id") < 400)), "doc_id", "sig", LshBands)
      .write.mode("overwrite").parquet(s"$work/bands")
    val store = s.read.parquet(s"$work/bands")
    Dedup.incrementalCandidates(sigged(all.filter(col("doc_id") >= 400)),
        store, "doc_id", "sig", LshBands)
      .withColumn("sig_agree",
        Dedup.sigMatches(col("nsig"), col("csig"))
          .cast(DoubleType) / MinhashK)
      .filter(col("sig_agree") >= 0.75)
      .select(col("new_id"), col("corpus_id"), col("sig_agree"))
      .orderBy(col("new_id"), col("corpus_id"))
  }

  val q52Sql: String = {
    val r = MinhashK / LshBands
    val bandKeys = (0 until LshBands).map(b =>
      s"concat('$b', ':', CAST(to_json(list_slice(sig, ${b * r + 1}, ${b * r + r})) AS VARCHAR))")
    s"""
    WITH __mt AS MATERIALIZED (SELECT doc_id, ${toksSql("text")} AS __toks
           FROM documents),
    __msh AS MATERIALIZED (SELECT doc_id, ${shinglesSql("__toks", 3)} AS __sh
           FROM __mt),
    docs AS MATERIALIZED (SELECT doc_id,
           ${Dedup.minhashFromShinglesSql("__sh", MinhashK)} AS sig FROM __msh),
    banded AS (SELECT doc_id, unnest([${bandKeys.mkString(",")}]) AS band_key FROM docs),
    hits AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
             FROM banded n JOIN banded c ON n.band_key = c.band_key
             WHERE n.doc_id >= 400 AND c.doc_id < 400)
    SELECT new_id, corpus_id,
           CAST(len(list_filter(list_zip(dn.sig, dc.sig), z -> z[1] = z[2])) AS DOUBLE) / $MinhashK AS sig_agree
    FROM hits JOIN docs dn ON dn.doc_id = new_id JOIN docs dc ON dc.doc_id = corpus_id
    WHERE CAST(len(list_filter(list_zip(dn.sig, dc.sig), z -> z[1] = z[2])) AS DOUBLE) / $MinhashK >= 0.75
    ORDER BY new_id, corpus_id"""
  }

  // ---- q55: temperature-balanced mix allocation ----

  /** Token-budget allocation across languages with alpha=0.5 sampling
    * (up-weights low-resource languages) — the mix-design step between
    * curation and training. */
  def q55(s: SparkSession, d: String): DataFrame =
    graft.curation.Sampling.mixAllocation(docs(s, d), "lang",
        alpha = 0.5, budget = 1000000L)
      .orderBy(col("lang"))

  val q55Sql: String = """
    WITH counts AS (SELECT lang, COUNT(*) AS c,
                           pow(CAST(COUNT(*) AS DOUBLE), 0.5) AS pw
                    FROM documents WHERE lang IS NOT NULL GROUP BY 1),
    tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(pw ORDER BY lang)), (a, x) -> a + x) AS t
            FROM counts)
    SELECT lang, c, round(pw / t, 6) AS weight,
           CAST(floor(1000000 * pw / t) AS BIGINT) AS alloc
    FROM counts, tot ORDER BY lang"""

  // ---- q51: duplicate clusters (connected components over pairs) ----

  /** Pairs → clusters: exact Jaccard ≥ 0.8 pairs (the verified near-dup
    * edge set) closed into components; cluster = min doc_id, the
    * canonical keeper.
    *
    * Edge generation is the LSH path ([[Dedup.lshJaccardPairs]]):
    * MinHash-banded candidates, each exact-verified at the 0.8
    * threshold — candidate work is output-proportional instead of the
    * Σdf² postings self-join q25 pays for its exact top-k contract (the
    * metric here is raw Jaccard over the full shingle sets; q25's
    * maxDocFreq prune is an inverted-index necessity, not cluster
    * semantics). The oracle enumerates ALL pairs exhaustively and
    * closes them with a recursive CTE, so the hash check doubles as an
    * LSH recall proof on this corpus: any missed ≥0.8 edge would
    * change a cluster. */
  def q51(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.lshJaccardPairs(docs(s, d), "doc_id", "text",
      shingleK = 3, threshold = 0.8)
    Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
      .orderBy(col("doc_id"))
  }

  val q51Sql: String = s"""
    WITH RECURSIVE
    ${jaccardCompCteSql("cluster")}
    SELECT doc_id, cluster FROM comp ORDER BY doc_id"""

  // ---- q49: deterministic stratified sampling ----

  /** Mix balancing: cap every (lang, source) stratum at 3 documents,
    * selected by md5 priority of the id — the reproducible-sample
    * contract (same subset on any cluster/partitioning/retry). */
  def q49(s: SparkSession, d: String): DataFrame =
    graft.curation.Sampling.stratifiedCap(
        docs(s, d), Seq("lang", "source"), col("doc_id"), cap = 3)
      .select(col("lang"), col("source"), col("doc_id"))
      .orderBy(col("lang"), col("source"), col("doc_id"))

  val q49Sql: String = s"""
    SELECT lang, source, doc_id FROM (
      SELECT lang, source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang, source
               ORDER BY ${md5LongSql("CAST(doc_id AS VARCHAR)", 15)}, doc_id) AS rk
      FROM documents) WHERE rk <= 3
    ORDER BY lang, source, doc_id"""

  // ---- q50: exact length percentiles per language ----

  /** Corpus length profile: EXACT interpolated percentiles (sort-based
    * `percentile`, not the approximate sketch) — the distribution check
    * a curation pipeline runs before/after filtering. Interpolation
    * arithmetic is bit-identical to DuckDB's quantile_cont (verified:
    * p50/p90/p99 hash-match). */
  def q50(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("lang"))
      .agg(expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))").as("p"),
        count(lit(1)).as("n"))
      .select(col("lang"),
        element_at(col("p"), 1).as("p50"),
        element_at(col("p"), 2).as("p90"),
        element_at(col("p"), 3).as("p99"),
        col("n"))
      .orderBy(col("lang"))

  val q50Sql: String = """
    SELECT lang,
           quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.9) AS p90,
           quantile_cont(n_chars, 0.99) AS p99,
           COUNT(*) AS n
    FROM documents GROUP BY 1 ORDER BY lang"""

  // ---- q42: ANN over an IVF-PARTITIONED store ----

  /** Same semantics as q38, different physical layout: the corpus is
    * written once partitioned by coarse cluster, and the query scan is
    * pruned to the probed partitions (PartitionFilters) — the 100 TB
    * shape where a query reads ~nprobe/nlist of the corpus. Centroids
    * are deterministic, so the q38 oracle is exact for this too. */
  def q42(s: SparkSession, d: String): DataFrame = {
    val work = graft.util.Workspace.temp("graft-q42")
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.writeIvfStore(emb, s"$work/ivf", nlist = 16)
    Similarity.ivfStoreTopK(s, s"$work/ivf", cents,
      emb.filter(col("vec_id") < 5), k = 10, nprobe = 4)
      .orderBy(col("query_id"), col("rk"))
  }

  // ---- q59: SemDeDup (semantic dedup within embedding clusters) ----

  /** Semantic dedup: IVF clusters → within-cluster cosine ≥ 0.4 pairs
    * → duplicate groups → keep the min id per group. The oracle replays
    * the whole chain (seeds, Lloyd step, refined assignment — the q38
    * machinery — then exhaustive within-cluster pairs and a recursive
    * closure), so clustering, similarity, and grouping are all
    * hash-checked. */
  def q59(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedup(Tables.embeddings(s, d), threshold = 0.4, nlist = 16)
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        col("rep"), col("keep"))
      .orderBy(col("vec_id"))

  val q59Sql: String = {
    val nlist = 16
    def halfS(c: String) =
      "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($c, x -> x * x)), (acc, x) -> acc + x) / 2.0)"
    val h = md5LongSql("CAST(vec_id AS VARCHAR)", 15)
    s"""
    WITH RECURSIVE
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, v
              FROM (SELECT v, $h AS h FROM e) ORDER BY h LIMIT $nlist),
    assign0 AS (SELECT vec_id, v, c FROM (
        SELECT e.vec_id, e.v AS v, s.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql("e.v", "s.v")} - ${halfS("s.v")}) DESC, s.c DESC) AS rn
        FROM e CROSS JOIN seeds s) WHERE rn = 1),
    means AS (SELECT c, pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS m
              FROM (SELECT c, unnest(v) AS x, unnest(range(len(v))) AS pos FROM assign0)
              GROUP BY c, pos),
    refined AS (SELECT s.c AS c, COALESCE(m.mv, s.v) AS v
                FROM seeds s LEFT JOIN
                  (SELECT c, list(m ORDER BY pos) AS mv FROM means GROUP BY c) m
                  ON s.c = m.c),
    cassign AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS n, c AS cluster
                FROM (SELECT e.vec_id, e.v AS v, r.c AS c,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY (${dotSql("e.v", "r.v")} - ${halfS("r.v")}) DESC, r.c DESC) AS rn
                      FROM e CROSS JOIN refined r) WHERE rn = 1),
    pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
              FROM cassign x JOIN cassign y
                ON x.cluster = y.cluster AND x.vec_id < y.vec_id
              WHERE round(${dotSql("x.v", "y.v")} / (x.n * y.n), 6) >= 0.4),
    edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
    comp AS (SELECT src AS vec_id, LEAST(src, MIN(dst)) AS rep
             FROM reach GROUP BY src)
    SELECT c.vec_id, CAST(c.cluster AS INT) AS cluster,
           COALESCE(p.rep, c.vec_id) AS rep,
           (COALESCE(p.rep, c.vec_id) = c.vec_id) AS keep
    FROM cassign c LEFT JOIN comp p USING (vec_id) ORDER BY vec_id"""
  }

  // ---- q62: incremental semantic near-dup vs stored IVF corpus ----

  /** The production shape for embedding dedup (twin of q52's band-store
    * path): corpus (vec_id < 400) clustered + written ONCE as an
    * IVF-partitioned store; the incoming batch (vec_id ≥ 400) probes
    * its 2 nearest lists and compares only those partition-pruned
    * directories. The oracle replays centroids (corpus-only Lloyd
    * step), both assignment tie rules, and the threshold, so the
    * store round-trip is hash-checked. */
  def q62(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val work = graft.util.Workspace.temp("graft-q62")
    val cents = Similarity.writeIvfStore(emb.filter(col("vec_id") < 400),
      s"$work/ivf", nlist = 16)
    Similarity.incrementalSemanticNearDup(s, s"$work/ivf", cents,
        emb.filter(col("vec_id") >= 400), threshold = 0.4, nprobe = 2)
      .orderBy(col("new_id"), col("corpus_id"))
  }

  val q62Sql: String = {
    val nlist = 16; val nprobe = 2
    def halfS(c: String) =
      "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($c, x -> x * x)), (acc, x) -> acc + x) / 2.0)"
    val h = md5LongSql("CAST(vec_id AS VARCHAR)", 15)
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 400),
    batch AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 400),
    seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, v
              FROM (SELECT v, $h AS h FROM e) ORDER BY h LIMIT $nlist),
    assign0 AS (SELECT vec_id, v, c FROM (
        SELECT e.vec_id, e.v AS v, s.c AS c,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY (${dotSql("e.v", "s.v")} - ${halfS("s.v")}) DESC, s.c DESC) AS rn
        FROM e CROSS JOIN seeds s) WHERE rn = 1),
    means AS (SELECT c, pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS m
              FROM (SELECT c, unnest(v) AS x, unnest(range(len(v))) AS pos FROM assign0)
              GROUP BY c, pos),
    refined AS (SELECT s.c AS c, COALESCE(m.mv, s.v) AS v
                FROM seeds s LEFT JOIN
                  (SELECT c, list(m ORDER BY pos) AS mv FROM means GROUP BY c) m
                  ON s.c = m.c),
    cassign AS (SELECT vec_id AS corpus_id, v AS cv, sqrt(${dotSql("v", "v")}) AS cn, c AS cluster
                FROM (SELECT e.vec_id, e.v AS v, r.c AS c,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                          ORDER BY (${dotSql("e.v", "r.v")} - ${halfS("r.v")}) DESC, r.c DESC) AS rn
                      FROM e CROSS JOIN refined r) WHERE rn = 1),
    qprobe AS (SELECT vec_id AS new_id, v AS qv, sqrt(${dotSql("v", "v")}) AS qn, c AS cluster
               FROM (SELECT b.vec_id, b.v AS v, r.c AS c,
                       ROW_NUMBER() OVER (PARTITION BY b.vec_id
                         ORDER BY (${dotSql("b.v", "r.v")} - ${halfS("r.v")}) DESC, r.c ASC) AS rn
                     FROM batch b CROSS JOIN refined r) WHERE rn <= $nprobe)
    SELECT new_id, corpus_id,
           round(${dotSql("qv", "cv")} / (qn * cn), 6) AS sim
    FROM cassign JOIN qprobe USING (cluster)
    WHERE round(${dotSql("qv", "cv")} / (qn * cn), 6) >= 0.4
    ORDER BY new_id, corpus_id"""
  }

  // ---- q57: sequence packing (concat-then-chunk, sharded) ----

  /** Training-batch packing: per-doc (shard, pack, offset) positions
    * under the concat-then-chunk recipe, computed within 8 independent
    * md5 shards (per-shard windows parallelize; a global ordering
    * would be one serial window). Deterministic → oracle-exact. */
  def q57(s: SparkSession, d: String): DataFrame =
    graft.curation.Packing.packPositions(
        docs(s, d).withColumn("t", tokens(col("text"))),
        col("doc_id"), size(col("t")), seqLen = 512, nShards = 8)
      .withColumnRenamed("offset", "tok_offset") // OFFSET is reserved in DuckDB
      .orderBy(col("doc_id"))

  val q57Sql: String = {
    val toks = toksSql("text")
    s"""
    WITH pos AS (
      SELECT doc_id,
             CAST(${md5LongSql("CAST(doc_id AS VARCHAR)", 8)} % 8 AS INT) AS shard,
             CAST(len($toks) AS BIGINT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      FROM pos)
    SELECT doc_id, shard, n_tokens,
           cum_before // 512 AS pack_id,
           cum_before % 512 AS tok_offset
    FROM cum ORDER BY doc_id"""
  }

  // ---- q58: rule-based quality filter (Gopher-style) ----

  /** Keep/drop with machine-readable reasons — the curation decision
    * step over the q21-style statistics (public Gopher heuristics;
    * thresholds tuned to this corpus's shape so both outcomes occur).
    * Pure projection: a map pass at any scale. */
  def q58(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("lt", tokens(lower(col("text"))))
    graft.curation.Packing.qualityFilter(base,
        graft.curation.Packing.gopherRules(col("text"), col("t"), col("lt"),
          minTokens = 30))
      .select(col("doc_id"), col("keep"),
        array_join(col("reasons"), ",").as("reasons"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB spelling of the Gopher rule REASONS list over a column
    * named `text` — shared by q58 (raw docs) and q90 (the composed
    * web-pipeline output). */
  private def gopherReasonsSql(minTokens: Int): String = {
    val nt = s"len(${toksSql("text")})"
    val mtl = s"""(CASE WHEN $nt = 0 THEN 0.0 ELSE
      CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / CAST($nt AS DOUBLE) END)"""
    val punct = s"""(CASE WHEN length(text) = 0 THEN 0.0 ELSE
      CAST(length(text) - length(regexp_replace(text, '[\\.,!\\?;:]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) END)"""
    val digit = s"""(CASE WHEN length(text) = 0 THEN 0.0 ELSE
      CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) END)"""
    val stopHits = markerHitsSql("text", LangMarkers.flatMap(_._2))
    Seq(
      s"CASE WHEN $nt < $minTokens THEN 'too_few_tokens' ELSE NULL END",
      s"CASE WHEN $nt > 100000 THEN 'too_many_tokens' ELSE NULL END",
      s"CASE WHEN $mtl < 3.0 OR $mtl > 10.0 THEN 'mean_word_len' ELSE NULL END",
      s"CASE WHEN $punct > 0.1 THEN 'punct_heavy' ELSE NULL END",
      s"CASE WHEN $digit > 0.2 THEN 'digit_heavy' ELSE NULL END",
      s"CASE WHEN $stopHits = 0 THEN 'no_stopwords' ELSE NULL END")
      .mkString("list_filter([", ", ", "], x -> x IS NOT NULL)")
  }

  val q58Sql: String = {
    val reasons = gopherReasonsSql(minTokens = 30)
    s"""
    SELECT doc_id, len($reasons) = 0 AS keep,
           COALESCE(array_to_string($reasons, ','), '') AS reasons
    FROM documents ORDER BY doc_id"""
  }

  // ---- q65: corpus vocabulary (token top-k by frequency) ----

  /** q65: vocabulary building — top tokens by corpus term frequency,
    * with document frequency alongside (the inputs to tokenizer/vocab
    * training and to df-based filters like [[Dedup.jaccardPairs]]'
    * maxDocFreq prune). Scale shape: one explode, then a single
    * hash-shuffle on token with map-side partial aggregation (tokens
    * collapse to the vocabulary long before the shuffle); the top-k is
    * TakeOrderedAndProject, never a full sort. Fully ordered
    * (tf desc, token asc) so the cut is deterministic. */
  def q65(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(100)

  val q65Sql: String = s"""
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS token FROM documents)
    GROUP BY token ORDER BY tf DESC, token LIMIT 100"""

  // ---- q68: deterministic dataset split ----

  /** q68: reproducible train/val/test assignment
    * ([[graft.curation.Sampling.datasetSplit]]) — md5-bucketed, so the
    * same row lands in the same split on any cluster/retry/re-run (the
    * property that keeps eval from leaking into train across pipeline
    * reruns). Output: per-split counts + char totals, plus a
    * membership checksum (sum of doc_ids) so the oracle hash-checks
    * WHICH docs landed where, not just how many. */
  def q68(s: SparkSession, d: String): DataFrame =
    graft.curation.Sampling.datasetSplit(docs(s, d), col("doc_id"),
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("chars"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("split"))

  val q68Sql: String = {
    val bucket = s"(${md5LongSql("concat('split|', CAST(doc_id AS VARCHAR))", 8)} % 1000)"
    s"""
    SELECT CASE WHEN $bucket < 800 THEN 'train'
                WHEN $bucket < 900 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents GROUP BY 1 ORDER BY split"""
  }

  // ---- q69: sliding-window document chunking ----

  /** q69: overlapping token-window chunks per document
    * ([[graft.curation.Packing.slidingChunks]]) — the per-doc shape an
    * embedding/retrieval pipeline indexes. Window 64 / stride 48 over
    * the documents table; the chunk text is md5'd so the oracle
    * hash-checks the exact chunk CONTENT and boundaries, not just
    * counts. */
  def q69(s: SparkSession, d: String): DataFrame =
    graft.curation.Packing.slidingChunks(docs(s, d), "text", 64, 48)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val q69Sql: String = {
    val toks = toksSql("text")
    // starts: 0, 48, … ≤ max(len-64, 0), plus the tail start when the
    // stride doesn't land on it (same rule as slidingChunks)
    val last = s"greatest(len($toks) - 64, 0)"
    val starts = s"""list_concat(range(0, $last + 1, 48),
      CASE WHEN $last % 48 != 0 THEN [$last] ELSE [] END)"""
    s"""
    SELECT doc_id,
           unnest(range(0, len($starts))) AS chunk_idx,
           unnest($starts) AS chunk_start,
           unnest(list_transform($starts,
             st -> md5(array_to_string(list_slice($toks, st + 1, st + 64), ' ')))) AS chunk_md5
    FROM documents ORDER BY doc_id, chunk_idx"""
  }

  // ---- q66: rarity scoring against a broadcast vocabulary ----

  /** q66: per-document rarity score — the mean inverse document
    * frequency of the doc's tokens (tf-weighted: each occurrence
    * contributes 1/df). The production shape for corpus-statistics
    * scoring: derive a vocabulary table, BROADCAST it, score every doc
    * map-side, one shuffle per aggregation. Uses only rational
    * arithmetic (no transcendentals, whose last-ulp behavior differs
    * across engines) and folds each doc's contributions in token order
    * via a sorted array, so the doubles are bit-identical to the
    * oracle's same-order fold (the [[dotSql]] determinism contract). */
  def q66(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val tok = base.select(col("doc_id"),
      posexplode(tokens(lower(col("text")))).as(Seq("pos", "token")))
    val dfs = tok.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tok.join(broadcast(dfs), "token")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"),
        (lit(1.0) / col("df").cast(DoubleType)).as("inv")))).as("xs"))
      .select(col("doc_id"),
        round(aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("inv"))
          / size(col("xs")), 6).as("rarity"))
    base.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .withColumn("rarity", coalesce(col("rarity"), lit(0.0))) // token-less docs
      .orderBy(col("doc_id"))
  }

  val q66Sql: String = s"""
    WITH docs AS (SELECT doc_id, ${toksSql("lower(text)")} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
                   unnest(toks) AS token FROM docs),
    dfs AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    folded AS (
      SELECT t.doc_id, list(1.0 / CAST(d.df AS DOUBLE) ORDER BY t.pos) AS xs
      FROM tok t JOIN dfs d USING(token) GROUP BY t.doc_id)
    SELECT d.doc_id,
           COALESCE(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), f.xs),
             (a, b) -> a + b) / len(f.xs), 6), 0.0) AS rarity
    FROM documents d LEFT JOIN folded f USING(doc_id) ORDER BY d.doc_id"""

  // ---- q67: streaming corpus builder (exactly-once by content) ----

  /** q67: the streaming face of incremental dedup
    * ([[graft.streaming.CorpusBuilder]]) — drain the documents table
    * from an NDJSON landing zone in 4 micro-batches, deduplicating each
    * batch against the corpus built by the previous ones (a digest-index
    * probe), then aggregate the CORPUS. The output is
    * batch-order independent (counts and char totals over distinct
    * texts), so the oracle is a plain DISTINCT aggregate — what the
    * corpus must equal no matter how the stream was chopped. */
  def q67(s: SparkSession, d: String): DataFrame = {
    val work = graft.util.Workspace.temp("graft-q67")
    Tables.documents(s, d).repartition(8).write.json(s"$work/landing")
    val q = graft.streaming.CorpusBuilder.build(s, s"$work/landing/part-*",
      s"$work/ckpt", s"$work/corpus", maxFilesPerTrigger = Some(2))
    q.awaitTermination()
    s.read.parquet(s"$work/corpus/docs")
      .agg(count(lit(1)).as("n_kept"),
        countDistinct(col("text")).as("distinct_texts"),
        sum(length(col("text"))).as("total_chars"))
  }

  val q67Sql: String = """
    SELECT COUNT(*) AS n_kept, COUNT(*) AS distinct_texts,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM (SELECT DISTINCT text FROM documents)"""

  // ---- q64: bloom-gated incremental exact dedup vs a stored corpus ----

  /** q64: incremental EXACT dedup against a STORED corpus via a bloom
    * digest filter ([[Dedup.digestFilter]]/[[Dedup.bloomNewDocs]]) —
    * the third "incremental vs stored index" shape beside q52 (band
    * table) and q62 (IVF store). Even doc_ids play the stored corpus,
    * odd ones the arriving batch; output = the batch docs whose text
    * does not already exist in the corpus. The filter is sized for the
    * sf0.01 corpus, so at larger SFs it saturates and MORE rows take
    * the exact-verify path — the oracle hash-check therefore proves
    * the verify stage rejects bloom false positives at every SF, not
    * just the probe's happy path. */
  def q64(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val batch = all.filter(col("doc_id") % 2 === 1)
    val filter = Dedup.digestFilter(corpus, "text",
      expectedItems = 256L, numBits = Dedup.bloomBits(256L, 0.01))
    val digests = corpus.select(Dedup.contentKey(col("text")).as("digest"))
    Dedup.bloomNewDocs(batch, digests, "text", filter)
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  val q64Sql: String = """
    SELECT doc_id FROM documents b
    WHERE doc_id % 2 = 1
      AND NOT EXISTS (SELECT 1 FROM documents c
                      WHERE c.doc_id % 2 = 0 AND c.text = b.text)
    ORDER BY doc_id"""

  // ---- q81: bigram-LM perplexity scoring (CCNet-style) ----

  /** q81: per-document cross-entropy under an add-one-smoothed bigram
    * LM trained on the corpus itself ([[graft.curation.LangModel]]) —
    * the CCNet quality signal that buckets documents by how improbable
    * their token stream is under a model of the corpus. Rounded to 6
    * decimals per the fold-determinism contract (all ln arguments are
    * integers; see LangModel's scaladoc for the measured ulp bound). */
  def q81(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val scored = graft.curation.LangModel.bigramCrossEntropy(
        base, col("doc_id"), tokens(lower(col("text"))))
      .withColumnRenamed("__id", "doc_id")
    base.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("xent"), 6).as("xent"))
      .orderBy(col("doc_id"))
  }

  val q81Sql: String = s"""
    WITH docs AS (SELECT doc_id, ${toksSql("lower(text)")} AS toks FROM documents),
    big AS (SELECT doc_id,
                   unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
                   unnest(list_slice(toks, 2, len(toks))) AS w2
            FROM docs WHERE len(toks) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT unnest(toks) AS w FROM docs)),
    folded AS (
      SELECT b.doc_id, COUNT(*) AS nb,
             ${dsumSql("round(ln(CAST(c1.c1 + v.v AS DOUBLE)) - ln(CAST(c12.c12 + 1 AS DOUBLE)), 6)")} AS s
      FROM big b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      GROUP BY b.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(f.nb, 0) AS BIGINT) AS n_bigrams,
           round(f.s / f.nb, 6) AS xent
    FROM documents d LEFT JOIN folded f USING (doc_id) ORDER BY d.doc_id"""

  // ---- q82: BM25 keyword top-k retrieval ----

  /** Probe queries for q82: common terms, the corpus's one rare term
    * (dup, df≈5% — high idf), and a term absent from the corpus (which
    * must contribute nothing on either engine). */
  val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "t1" -> Seq("hash", "join", "batch"),
    "t2" -> Seq("dup", "merge", "window"),
    "t3" -> Seq("customer", "data", "quorum"))

  /** q82: exact BM25 top-10 per probe query
    * ([[graft.text.Retrieval.bm25TopK]]) — retrieval over the corpus
    * without an external index: eval-set mining and targeted
    * decontamination both reduce to "which documents score highest for
    * these terms". Postings are pruned to the query vocabulary at the
    * generator, stats/df frames are broadcast, and top-k is two-stage
    * (per-partition prune, then global rank) so no full per-query sort
    * happens anywhere. */
  def q82(s: SparkSession, d: String): DataFrame =
    graft.text.Retrieval.bm25TopK(docs(s, d), col("doc_id"),
        tokens(lower(col("text"))), Bm25Queries, k = 10)
      .withColumnRenamed("__id", "doc_id")
      .orderBy(col("query_id"), col("rank"))

  val q82Sql: String = {
    // every float constant rendered as a string-cast so DuckDB parses
    // the exact double Spark computes (bare 2.2 would be DECIMAL, and
    // k1 + 1.0 is NOT the double nearest to 2.2)
    def dbl(x: Double) = s"CAST('$x' AS DOUBLE)"
    val k1 = 1.2; val b = 0.75
    val qvals = Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"('$qid', '$t')") }
      .mkString(", ")
    val terms = Bm25Queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""
    WITH docs AS (SELECT doc_id, ${toksSql("lower(text)")} AS toks FROM documents),
    d2 AS (SELECT doc_id, len(toks) AS dl, toks FROM docs),
    stats AS (SELECT COUNT(*) AS n,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM d2),
    q(query_id, term) AS (VALUES $qvals),
    tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
           FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d2)
           WHERE term IN ($terms) GROUP BY doc_id, dl, term),
    dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    comp AS (SELECT t.doc_id, t.term,
        ln((CAST(s.n - d.df AS DOUBLE) + ${dbl(0.5)})
             / (CAST(d.df AS DOUBLE) + ${dbl(0.5)}) + ${dbl(1.0)})
        * (CAST(t.tf AS DOUBLE) * ${dbl(k1 + 1.0)})
        / (CAST(t.tf AS DOUBLE)
             + ${dbl(k1)} * (${dbl(1.0 - b)}
                 + ${dbl(b)} * (CAST(t.dl AS DOUBLE) / s.avgdl))) AS sc
      FROM tf t JOIN dfs d USING (term) CROSS JOIN stats s),
    scored AS (SELECT q.query_id, c.doc_id,
        round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(c.sc ORDER BY c.term)), (a, x) -> a + x), 6) AS score
      FROM comp c JOIN q USING (term) GROUP BY q.query_id, c.doc_id),
    ranked AS (SELECT query_id, doc_id, score,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY score DESC, doc_id) AS rank FROM scored)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
    FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  // ---- q83: indexed incremental exact dedup (DigestIndex verify) ----

  /** q83: [[q64]]'s probe→verify gate with the verify re-pointed at
    * the persisted digest-bucketed store ([[graft.dedup.DigestIndex]])
    * — the shape every steady-state batch takes at 100 TB: the bloom
    * filter routes, the bucket-pruned index confirms
    * (`PartitionFilters`, candidate side broadcast — pinned by
    * PlanShapeSpec), and the corpus table is NEVER read. The corpus
    * argument here is a thunk that THROWS if evaluated, so the green
    * oracle hash doubles as proof of the zero-corpus-read contract
    * (batch and corpus ids are disjoint, so no same-id replay fallback
    * can trigger). Same oracle as q64: the two gates must agree row
    * for row. */
  def q83(s: SparkSession, d: String): DataFrame = {
    import graft.dedup.DigestIndex
    val all = docs(s, d)
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val batch = all.filter(col("doc_id") % 2 === 1)
    val store = graft.util.Workspace.temp("graft-q83")
    val spec = DigestIndex.Spec(16)
    DigestIndex.rebuild(
      corpus.select(col("doc_id"), Dedup.contentKey(col("text")).as("digest")),
      "doc_id", "digest", store, spec, corpus.count())
    val filter = Dedup.digestFilter(corpus, "text",
      expectedItems = 256L, numBits = Dedup.bloomBits(256L, 0.01))
    Dedup.bloomNewDocsIndexed(batch, "doc_id", "text", filter, store, spec,
      sys.error("q83: steady-state verify must not read the corpus"))
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  val q83Sql: String = """
    SELECT doc_id FROM documents b
    WHERE doc_id % 2 = 1
      AND NOT EXISTS (SELECT 1 FROM documents c
                      WHERE c.doc_id % 2 = 0 AND c.text = b.text)
    ORDER BY doc_id"""

  // ---- q84: canonical text cleanup (NFC + invisible strip + collapse) ----

  /** Deterministic "dirty" suffix appended to every document so the
    * cleanup does real work on the ASCII test corpus: a DECOMPOSED
    * résumé (e + U+0301 twice — NFC must compose), a zero-width space,
    * a tab, a soft hyphen inside a word, a BOM, stray spaces. */
  private val DirtySuffix =
    "  re\u0301sume\u0301\u200B\tA\u00ADB\uFEFF "

  /** q84: [[graft.text.TextFunctions.cleanText]] — the normalize-first
    * pass of every corpus pipeline (NFC via the native
    * [[graft.plans.NfcNormalizeExpr]] kernel, zero-width/soft-hyphen
    * strip, whitespace collapse, trim), hash-checked against DuckDB's
    * independent `nfc_normalize` + RE2 regexes. A decomposed accent
    * sequence hashes differently from its composed form, so without
    * this pass representation variants evade every digest-dedup gate. */
  def q84(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        cleanText(concat(col("text"), lit(DirtySuffix))).as("clean_text"))
      .orderBy(col("doc_id"))

  val q84Sql: String = s"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(
             nfc_normalize(text || '$DirtySuffix'),
             '[\\x{200B}\\x{FEFF}\\x{00AD}]', '', 'g'),
             '[ \\t\\r\\n]+', ' ', 'g')) AS clean_text
    FROM documents ORDER BY doc_id"""

  // ---- q94: asymmetric containment pairs (subset/quotation dedup) ----

  /** q94: [[Dedup.containmentPairs]] — |A∩B| / |A| ≥ 0.9 directional
    * pairs, the subset/quotation detector whole-doc Jaccard misses
    * (containment of a quoted doc is ~1 while its Jaccard against the
    * quoting doc is ~0). The oracle replays shingle sets and the
    * directional ratio for every candidate pair in DuckDB.
    *
    * EXACT VERIFIER, quadratic by construction (cap off): a corpus-
    * boilerplate shingle contributes df² candidate pairs. The
    * corpus-scale twin is [[q95]], which runs the SAME operator with
    * the df cap on — at 100 TB map q95's shape, keep q94 for
    * sample-sized exact verification (the q25/q26 relationship). */
  def q94(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(docs(s, d), "doc_id", "text",
        shingleK = 3, threshold = 0.9)
      .orderBy(col("a"), col("b"))

  /** Pair generation spelled over postings (directed; a pair needs ≥ 1
    * shared shingle to appear, exactly the original `inter > 0` guard)
    * with the shingle sets staged MATERIALIZED — the unstaged all-pairs
    * `list_intersect` form re-derived the shingle projection inside the
    * quadratic join. Identical result set. */
  val q94Sql: String = {
    val toks = toksSql("text")
    s"""
    WITH __ct AS MATERIALIZED (SELECT doc_id, $toks AS __toks FROM documents),
    sh_docs AS MATERIALIZED (SELECT doc_id,
        list_distinct(${shinglesSql("__toks", 3)}) AS sh FROM __ct),
    post AS (SELECT doc_id, unnest(sh) AS s FROM sh_docs),
    cands AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
              FROM post x JOIN post y ON x.s = y.s AND x.doc_id <> y.doc_id
              GROUP BY 1, 2)
    SELECT a, b, CAST(inter AS DOUBLE) / CAST(sz.n AS DOUBLE) AS containment
    FROM cands JOIN (SELECT doc_id, len(sh) AS n FROM sh_docs) sz
      ON sz.doc_id = a
    WHERE CAST(inter AS DOUBLE) / CAST(sz.n AS DOUBLE) >= 0.9
    ORDER BY a, b"""
  }

  // ---- q95: df-capped containment (the corpus-scale containment path) ----

  /** q95: [[Dedup.containmentPairs]] WITH the document-frequency cap —
    * the containment path that survives 100 TB, mapped as q94's scale
    * twin. Uncapped (q94), a corpus-boilerplate shingle contributes df²
    * candidate pairs to the posting self-join; the cap drops shingles
    * appearing in more than `maxDocFreq` docs BEFORE the join, bounding
    * candidate work at Σdf² over capped buckets — output-proportional
    * for real corpora, where heavy shingles are boilerplate with
    * near-zero containment signal. Both the intersection AND the
    * denominator |A| are counted over the PRUNED posting set (the
    * capped containment estimate, not a biased mix), and the oracle
    * replays the identical cap, so the trade is hash-checked, not
    * asserted: at this SF the cap of 3 keeps 49 of q94's 50 pairs —
    * the one lost pair is carried entirely by shingles shared by >3
    * docs, exactly the signal class the cap defines away. */
  def q95(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(docs(s, d), "doc_id", "text",
        shingleK = 3, threshold = 0.9, maxDocFreq = 3)
      .orderBy(col("a"), col("b"))

  val q95Sql: String = {
    val toks = toksSql("text")
    s"""
    WITH sh_docs AS (SELECT doc_id, list_distinct(${shinglesSql(toks, 3)}) AS sh
                     FROM documents),
    post AS (SELECT doc_id, unnest(sh) AS s FROM sh_docs),
    kept AS (SELECT s FROM (SELECT s, count(*) AS df FROM post GROUP BY s)
             WHERE df <= 3),
    p AS (SELECT doc_id, post.s FROM post JOIN kept USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
    shared AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
               FROM p x JOIN p y ON x.s = y.s AND x.doc_id <> y.doc_id
               GROUP BY 1, 2)
    SELECT a, b, CAST(inter AS DOUBLE) / CAST(n AS DOUBLE) AS containment
    FROM shared JOIN sizes ON a = sizes.doc_id
    WHERE CAST(inter AS DOUBLE) / CAST(n AS DOUBLE) >= 0.9
    ORDER BY a, b"""
  }

  // ---- q93: int8 embedding quantization at rest ----

  /** q93: [[Similarity.quantizeInt8]] — the embeddings-at-rest format
    * between full precision and PQ (per-vector scale + int8 codes, 4×
    * smaller than float32). The output pins the scale, the code mass,
    * and the reconstruction cosine per vector, all replayed exactly in
    * DuckDB (same round-half-away, same fold order), so the hash check
    * covers quantize AND dequantize. Shuffle-free map pass. */
  def q93(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val q = Similarity.quantizeInt8(Tables.embeddings(s, d))
      .withColumn("__v", col("embedding").cast(ArrayType(DoubleType)))
      .withColumn("__d", Similarity.dequantizeInt8(col("codes"), col("scale")))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    q.select(col("vec_id"),
        round(col("scale"), 9).as("scale"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        when(col("scale") > 0,
            round(dot(col("__v"), col("__d")) /
              (sqrt(dot(col("__v"), col("__v"))) * sqrt(dot(col("__d"), col("__d")))), 6))
          .otherwise(lit(1.0)).as("recon_sim"))
      .orderBy(col("vec_id"))
  }

  val q93Sql: String = {
    val v = "(embedding::DOUBLE[])"
    val scale = s"(list_max(list_transform($v, x -> abs(x))) / 127)"
    // zero-vector guard mirrors Similarity.quantizeInt8: scale 0 → zero
    // codes, not NaN division (a zero embedding would otherwise crash the
    // DuckDB cast of round(nan)).
    val codes = s"CASE WHEN $scale > 0 THEN list_transform($v, x -> CAST(round(x / $scale) AS INT)) ELSE list_transform($v, x -> 0) END"
    val deq = s"list_transform($codes, c -> CAST(c AS DOUBLE) * $scale)"
    s"""
    WITH q AS (SELECT vec_id, $scale AS scale, $codes AS codes, $v AS v,
                      $deq AS d FROM embeddings)
    SELECT vec_id, round(scale, 9) AS scale,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                (a, c) -> a + c) AS BIGINT) AS code_sum,
           CASE WHEN scale > 0 THEN
             round(${dotSql("v", "d")} /
               (sqrt(${dotSql("v", "v")}) * sqrt(${dotSql("d", "d")})), 6)
           ELSE 1.0 END AS recon_sim
    FROM q ORDER BY vec_id"""
  }

  // ---- q92: adaptive percentile-band quality filter ----

  /** q92: [[graft.curation.Packing.percentileFilter]] — thresholds
    * derived from the corpus itself (the [p05, p95] band of n_chars)
    * instead of hand-tuned constants, the statistics-driven filter
    * shape. The computed bounds ride every output row, so the oracle
    * hash-checks the quantiles AND each doc's verdict in one pass. */
  def q92(s: SparkSession, d: String): DataFrame =
    graft.curation.Packing.percentileFilter(docs(s, d), "n_chars", 0.05, 0.95)
      .select(col("doc_id"), col("n_chars"), col("lo"), col("hi"), col("within"))
      .orderBy(col("doc_id"))

  val q92Sql: String = """
    WITH b AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
                      quantile_cont(n_chars, 0.95) AS hi FROM documents)
    SELECT doc_id, n_chars, b.lo AS lo, b.hi AS hi,
           (n_chars >= b.lo AND n_chars <= b.hi) AS within
    FROM documents, b ORDER BY doc_id"""

  // ---- q91: incremental SimHash near-dup vs a stored signature table ----

  /** q91: [[Dedup.incrementalSimhash]] — the SimHash member of the
    * incremental family (MinHash q52, semantic q62, exact q64/q83):
    * docs < 400 are the STORED corpus signature table (written once,
    * at ingest), docs ≥ 400 arrive as the batch and probe it through
    * the byte-block join — one-sided, so per-batch work scales with
    * the batch's block buckets, never corpus × corpus. Oracle replays
    * signatures and blocking for both sides in DuckDB. */
  def q91(s: SparkSession, d: String): DataFrame = {
    val work = graft.util.Workspace.temp("graft-q91")
    def sigged(df: DataFrame) = df
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), Dedup.simhashNative(col("t")).as("sh"))
    val all = docs(s, d)
    sigged(all.filter(col("doc_id") < 400))
      .write.mode("overwrite").parquet(s"$work/sigs")
    Dedup.incrementalSimhash(sigged(all.filter(col("doc_id") >= 400)),
        s.read.parquet(s"$work/sigs"), "doc_id", "sh",
        maxHamming = SimhashMaxHamming)
      .orderBy(col("new_id"), col("corpus_id"))
  }

  val q91Sql: String = s"""
    WITH sigs AS (
      SELECT doc_id, ${Dedup.simhashFromHsSql("hs")} AS sh
      FROM (SELECT doc_id, ${Dedup.simhashHsSql("text")} AS hs FROM documents)),
    blocked AS (
      SELECT doc_id, sh, unnest([
        ${Dedup.simhashBlockSqlList("sh", SimhashMaxHamming)}
      ]) AS blk FROM sigs),
    cands AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
             n.sh AS nsh, c.sh AS csh
      FROM blocked n JOIN blocked c ON n.blk = c.blk
      WHERE n.doc_id >= 400 AND c.doc_id < 400)
    SELECT new_id, corpus_id,
           CAST(bit_count(xor(nsh, csh)) AS INT) AS dist
    FROM cands WHERE bit_count(xor(nsh, csh)) <= $SimhashMaxHamming
    ORDER BY new_id, corpus_id"""

  // ---- q90: composed web-corpus pipeline, oracle-checked end to end ----

  /** q90: the COMPOSED web-corpus pipeline as one hash-checked query —
    * the integration the CurationPipelineSpec drives, now proven in the
    * oracle: every doc is wrapped in q88's HTML boilerplate and planted
    * with an exact duplicate under a shifted id, then the pipeline runs
    * markup strip → canonical cleanup → exact dedup (min-id keeper
    * must beat its planted copy) → Gopher quality flags. The DuckDB
    * twin replays all four stages in one statement, so the hash check
    * catches any drift in how the stages COMPOSE (column threading,
    * dedup keying on the post-clean text, rule thresholds) — not just
    * each stage alone. Every stage is a map pass or one groupBy on the
    * cleaned text; no stage widens data beyond the corpus. */
  def q90(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"),
      concat(lit(HtmlPrefix), col("text"), lit(HtmlSuffix)).as("raw"))
    val corpus = base.union(base.withColumn("doc_id", col("doc_id") + 10000))
    val cleaned = corpus
      .withColumn("text", cleanText(stripMarkup(col("raw")))).drop("raw")
    val deduped = Dedup.exact(cleaned, "text", "doc_id")
    val staged = deduped
      .withColumn("t", tokens(col("text")))
      .withColumn("lt", tokens(lower(col("text"))))
    graft.curation.Packing.qualityFilter(staged,
        graft.curation.Packing.gopherRules(col("text"), col("t"), col("lt"),
          minTokens = 10))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        col("keep"), array_join(col("reasons"), ",").as("reasons"))
      .orderBy(col("doc_id"))
  }

  lazy val q90Sql: String = {
    val p = HtmlPrefix.replace("'", "''")
    val sfx = HtmlSuffix.replace("'", "''")
    val strip = graft.text.TextFunctions.stripMarkupSql(s"('$p' || text || '$sfx')")
    val clean = s"""trim(regexp_replace(regexp_replace(
             nfc_normalize($strip),
             '[\\x{200B}\\x{FEFF}\\x{00AD}]', '', 'g'),
             '[ \\t\\r\\n]+', ' ', 'g'))"""
    val reasons = gopherReasonsSql(minTokens = 10)
    s"""
    WITH corpus AS (
      SELECT doc_id, $clean AS text FROM documents
      UNION ALL
      SELECT doc_id + 10000, $clean FROM documents),
    deduped AS (
      SELECT doc_id, text FROM corpus c
      WHERE NOT EXISTS (SELECT 1 FROM corpus c2
                        WHERE c2.text = c.text AND c2.doc_id < c.doc_id))
    SELECT doc_id, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
           len($reasons) = 0 AS keep,
           COALESCE(array_to_string($reasons, ','), '') AS reasons
    FROM deduped ORDER BY doc_id"""
  }

  // ---- q89: cluster-aware dataset split (leakage-proof boundaries) ----

  /** q89: [[graft.curation.Sampling.clusterAwareSplit]] — the split
    * that cannot leak: near-dup clusters (q51's exact-Jaccard ≥ 0.8
    * components) are assigned whole, every doc taking the split of its
    * cluster representative. The oracle replays the full composition —
    * shingle Jaccard pairs, recursive-CTE component closure, md5
    * bucket of the representative — so the hash check proves both the
    * clustering and the boundary discipline doc by doc. */
  def q89(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.lshJaccardPairs(docs(s, d), "doc_id", "text",
      shingleK = 3, threshold = 0.8)
    graft.curation.Sampling.clusterAwareSplit(docs(s, d), col("doc_id"),
        pairs, Seq("train" -> 800, "val" -> 100, "test" -> 100))
      .select(col("doc_id"), col("rep"), col("split"))
      .orderBy(col("doc_id"))
  }

  val q89Sql: String = {
    val bucket = s"(${md5LongSql("concat('split|', CAST(rep AS VARCHAR))", 8)} % 1000)"
    s"""
    WITH RECURSIVE
    ${jaccardCompCteSql("rep")},
    withrep AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep
                FROM documents d LEFT JOIN comp c USING (doc_id))
    SELECT doc_id, rep,
           CASE WHEN $bucket < 800 THEN 'train'
                WHEN $bucket < 900 THEN 'val' ELSE 'test' END AS split
    FROM withrep ORDER BY doc_id"""
  }

  // ---- q88: markup strip (web-corpus text extraction) ----

  /** Deterministic HTML wrapper planted around every document so the
    * extraction does real work on the plain-text test corpus: head
    * boilerplate that must vanish WITH its contents (style rules,
    * script code, a comment), tags that must become word-safe spaces,
    * and entities that must decode — including the &amp;lt; trap that
    * catches double-decoding. */
  private val HtmlPrefix = "<html><head><title>t</title>" +
    "<style type=\"text/css\">p { color: red }</style>" +
    "<script>var x = 1 && 2;</script><!-- hidden --></head>" +
    "<body><div id=\"main\"><p>"
  private val HtmlSuffix = "</p><br/>fish &amp; chips &lt;tag&gt; " +
    "&amp;lt;literal&amp;gt;&nbsp;end</div></body></html>"

  /** q88: [[graft.text.TextFunctions.stripMarkup]] — the extract-text
    * pass a web-scraped corpus runs first: script/style/comment blocks
    * drop with their contents, tags become spaces (no word gluing),
    * core entities decode in standard order. Hash-checked against the
    * same RE2 pipeline in DuckDB; shuffle-free per-row work. */
  def q88(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        stripMarkup(concat(lit(HtmlPrefix), col("text"), lit(HtmlSuffix)))
          .as("clean_text"))
      .orderBy(col("doc_id"))

  val q88Sql: String = {
    val p = HtmlPrefix.replace("'", "''")
    val sfx = HtmlSuffix.replace("'", "''")
    s"""
    SELECT doc_id,
           ${graft.text.TextFunctions.stripMarkupSql(s"('$p' || text || '$sfx')")} AS clean_text
    FROM documents ORDER BY doc_id"""
  }

  // ---- q87: ANN recall@k eval (LSH vs exact baseline) ----

  /** q87: [[Similarity.recallAtK]] — the eval harness that closes the
    * ANN tuning loop: brute-force cosine top-10 (the exact baseline,
    * q28's operator) vs SRP-LSH top-10 (q30's operator) on the same
    * query sample, reduced to per-query recall. Both pipelines are
    * md5-deterministic, so "approximate recall" is itself a
    * deterministic, hash-checkable number — the oracle replays both
    * sides in DuckDB and intersects. This is how a 100 TB deployment
    * picks planes/bandBits (or nlist/nprobe) before committing a full
    * corpus pass: exact baseline on a sample, recall read, parameters
    * frozen. */
  def q87(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 10)
    val ann = Similarity.lshTopK(queries, emb, k = 10)
    Similarity.recallAtK(exact, ann, k = 10).orderBy(col("query_id"))
  }

  val q87Sql: String = {
    val dqc = dotSql("q.v", "c.v")
    val dqq = dotSql("q.v", "q.v")
    val dcc = dotSql("c.v", "c.v")
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact_scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                            round($dqc / (sqrt($dqq) * sqrt($dcc)), 6) AS sim
                     FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        FROM exact_scored) WHERE rk <= 10),
    sigs AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm,
                    ${srpSigSql()} AS sig FROM e),
    banded AS (SELECT vec_id, unnest(${srpBandListSql()}) AS band FROM sigs),
    cands AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM banded q JOIN banded c ON q.band = c.band
              WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
    ann_scored AS (SELECT query_id, neighbor_id,
                          round(${dotSql("sq.v", "sc.v")} / (sq.nrm * sc.nrm), 6) AS sim
                   FROM cands
                   JOIN sigs sq ON sq.vec_id = query_id
                   JOIN sigs sc ON sc.vec_id = neighbor_id),
    ann AS (SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        FROM ann_scored) WHERE rk <= 10)
    SELECT x.query_id AS query_id,
           CAST(count(a.neighbor_id) AS DOUBLE) / 10 AS recall
    FROM exact x LEFT JOIN ann a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id ORDER BY x.query_id"""
  }

  // ---- q86: BPE tokenizer — distributed train, native-kernel encode ----

  /** q86: [[graft.text.Bpe]] end-to-end — train a 200-merge BPE table
    * over the corpus (distributed piece counting; driver-side induction
    * over the vocabulary-sized model, centroids/codebooks precedent),
    * then encode every document with the native
    * [[graft.plans.BpeEncodeExpr]] kernel and verify IN-PLAN the two
    * invariants a correct tokenizer must satisfy on every row: the
    * token stream concatenates back to the exact text (lossless — no
    * unk, no dropped bytes), and the token count lies in
    * [pieces, codepoints] (merges only ever fuse within a piece). The
    * oracle pins those verdicts plus the char counts; the exact merge
    * semantics are hand-verified in BpeSpec (training is not
    * SQL-expressible — an iterative argmax loop).
    *
    * Scale: train's only corpus pass is a map-side-combined piece
    * count capped to a top-K model; encode is shuffle-free per-row
    * codegen with the merge table as a plan literal. */
  def q86(s: SparkSession, d: String): DataFrame = {
    import graft.text.Bpe
    val documents = docs(s, d)
    val merges = Bpe.train(documents, "text", numMerges = 200)
    // stage the token array ONCE between projections (the *Of contract:
    // three downstream uses must not re-run the encode kernel)
    documents.withColumn("__toks", Bpe.encode(col("text"), merges))
      .select(col("doc_id"),
        (Bpe.decode(col("__toks")) === col("text")).as("round_trip"),
        (size(col("__toks")) >= size(Bpe.pieces(col("text"))) &&
          size(col("__toks")) <= length(col("text"))).as("token_bounds"),
        length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val q86Sql: String = """
    SELECT doc_id, true AS round_trip, true AS token_bounds,
           length(text) AS n_chars
    FROM documents ORDER BY doc_id"""

  // ---- q97: Naive Bayes document classifier ----

  /** q97: [[graft.curation.Classifier.naiveBayes]] — the
    * fasttext/CCNet-style pipeline classifier (domain routing, source
    * attribution, mislabel auditing) as closed-form multinomial NB:
    * trained distributed on two count aggregations and applied in the
    * same pass, self-classifying every document against its `source`
    * label. Closed-form counts make every score an exact
    * integer-ln fold, so DuckDB replays training AND inference
    * bit-for-bit — an iteratively-trained model could never be
    * hash-checked like this. */
  def q97(s: SparkSession, d: String): DataFrame =
    graft.curation.Classifier.naiveBayes(docs(s, d), col("doc_id"),
        tokens(lower(col("text"))), col("source"))
      .withColumnRenamed("__id", "doc_id")
      .orderBy(col("doc_id"))

  val q97Sql: String = s"""
    WITH docs AS (SELECT doc_id, source AS y, ${toksSql("lower(text)")} AS toks
                  FROM documents),
    tok AS (SELECT doc_id, y, unnest(toks) AS w
            FROM docs WHERE len(toks) > 0),
    cls AS (SELECT y AS cls, COUNT(*) AS docs_c FROM docs GROUP BY y),
    n AS (SELECT COUNT(*) AS n FROM docs),
    tokc AS (SELECT y AS cls, COUNT(*) AS tok_c FROM tok GROUP BY y),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
    cwc AS (SELECT w, y AS cls, COUNT(*) AS cwc FROM tok GROUP BY w, y),
    pairs AS (
      SELECT t.doc_id, c.cls,
             round(ln(CAST(COALESCE(cw.cwc, 0) + 1 AS DOUBLE)) -
               ln(CAST(COALESCE(tc.tok_c, 0) + v.v AS DOUBLE)), 6) AS lp
      FROM tok t
      CROSS JOIN cls c
      LEFT JOIN tokc tc ON tc.cls = c.cls
      CROSS JOIN v
      LEFT JOIN cwc cw ON cw.w = t.w AND cw.cls = c.cls),
    sums AS (
      SELECT doc_id, cls, ${dsumSql("lp")} AS s
      FROM pairs GROUP BY doc_id, cls),
    scored AS (
      SELECT d.doc_id, d.y AS label, c.cls,
             round(ln(CAST(c.docs_c AS DOUBLE)) - ln(CAST(n.n AS DOUBLE))
                   + COALESCE(s.s, 0.0), 6) AS score
      FROM docs d CROSS JOIN cls c CROSS JOIN n
      LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.cls = c.cls),
    ranked AS (SELECT *, row_number() OVER
                 (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
               FROM scored)
    SELECT doc_id, label, cls AS predicted, score
    FROM ranked WHERE rn = 1 ORDER BY doc_id"""

  // ---- q98: int8-scored ANN (coarse codes rank + exact re-rank) ----

  /** q98: [[Similarity.int8TopK]] — the int8 at-rest format (q93) as a
    * SCORING path, not just storage: pass 1 ranks on the integer codes
    * alone (scales cancel in the cosine; codes-only scan = the 4×
    * saving as scan I/O), pass 2 re-ranks the topC survivors with the
    * exact float cosine. The oracle replays quantization, the coarse
    * integer rank, the candidate cut, and the exact re-rank — so the
    * hash check pins the whole two-pass contract, including WHICH
    * candidates survive the coarse cut. */
  def q98(s: SparkSession, d: String): DataFrame = {
    val emb = Similarity.quantizeInt8(Tables.embeddings(s, d))
    Similarity.int8TopK(emb.filter(col("vec_id") < 5), emb, k = 10, topC = 30)
      .orderBy(col("query_id"), col("rk"))
  }

  val q98Sql: String = {
    val v = "(embedding::DOUBLE[])"
    val scale = s"(list_max(list_transform($v, x -> abs(x))) / 127)"
    val codes = s"CASE WHEN $scale > 0 THEN list_transform($v, x -> CAST(round(x / $scale) AS INT)) ELSE list_transform($v, x -> 0) END"
    s"""
    WITH e AS (SELECT vec_id, $v AS v, $codes AS codes FROM embeddings),
    st AS (SELECT vec_id, v,
                  list_transform(codes, c -> CAST(c AS DOUBLE)) AS cd FROM e),
    n AS (SELECT vec_id, v, cd, ${dotSql("cd", "cd")} AS cc,
                 sqrt(${dotSql("v", "v")}) AS nrm FROM st),
    coarse AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      CASE WHEN q.cc > 0 AND c.cc > 0 THEN
                        round(${dotSql("q.cd", "c.cd")} / sqrt(q.cc * c.cc), 6)
                      ELSE 0.0 END AS iscore
               FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id),
    cands AS (SELECT query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER
                  (PARTITION BY query_id ORDER BY iscore DESC, neighbor_id) AS crk
                FROM coarse) WHERE crk <= 30),
    exact AS (SELECT t.query_id, t.neighbor_id,
                     round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS sim
              FROM cands t
              JOIN n q ON q.vec_id = t.query_id
              JOIN n c ON c.vec_id = t.neighbor_id)
    SELECT query_id, neighbor_id, sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM exact) WHERE rk <= 10
    ORDER BY query_id, rk"""
  }

  // ---- q101: per-document tf-idf keyword extraction ----

  /** q101: [[graft.text.Retrieval.tfIdfKeywords]] — each document's
    * top-5 terms by tf·idf (topic tagging / probe mining without a
    * topic model). Integer-ln determinism contract; rank ties on the
    * term string, replayed identically in DuckDB. */
  def q101(s: SparkSession, d: String): DataFrame =
    graft.text.Retrieval.tfIdfKeywords(docs(s, d), col("doc_id"),
        tokens(lower(col("text"))), k = 5)
      .withColumnRenamed("__id", "doc_id")
      .orderBy(col("doc_id"), col("rank"))

  val q101Sql: String = s"""
    WITH tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (SELECT t.doc_id, t.term,
                      round(CAST(t.tf AS DOUBLE) *
                        (ln(CAST(n.n + 1 AS DOUBLE)) -
                         ln(CAST(d.df + 1 AS DOUBLE))), 6) AS score
               FROM tf t JOIN dfs d USING (term) CROSS JOIN n)
    SELECT doc_id, rank, term, score FROM (
      SELECT *, ROW_NUMBER() OVER
        (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY doc_id, rank"""

  // ---- q102: PMI collocations (top adjacent pairs by mutual information) ----

  /** q102: [[graft.text.Collocations.pmiTopK]] — corpus-wide top-50
    * adjacent token pairs by PMI at support ≥ 5. Multi-word-expression
    * mining / boilerplate discovery. Integer-ln determinism contract;
    * rank ties break on the pair text, replayed identically in DuckDB. */
  def q102(s: SparkSession, d: String): DataFrame =
    graft.text.Collocations.pmiTopK(docs(s, d),
      tokens(lower(col("text"))), minCount = 5, k = 50)
      .orderBy(col("rank"))

  val q102Sql: String = {
    val bi = "(CASE WHEN len(t) < 2 THEN []::VARCHAR[] ELSE " +
      "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) END)"
    s"""
    WITH tok AS (SELECT ${toksSql("lower(text)")} AS t FROM documents),
    uni AS (SELECT unnest(t) AS term FROM tok),
    uc AS (SELECT term, COUNT(*) AS c FROM uni GROUP BY 1),
    nu AS (SELECT COUNT(*) AS n_uni FROM uni),
    bi AS (SELECT unnest($bi) AS pair FROM tok),
    bc AS (SELECT pair, COUNT(*) AS pair_count FROM bi GROUP BY 1),
    nb AS (SELECT COUNT(*) AS n_bi FROM bi),
    scored AS (SELECT string_split(pair, ' ')[1] AS x,
                      string_split(pair, ' ')[2] AS y, pair_count,
                      round(ln(CAST(pair_count AS DOUBLE))
                        + 2.0 * ln(CAST(n_uni AS DOUBLE))
                        - ln(CAST(n_bi AS DOUBLE))
                        - ln(CAST(cx.c AS DOUBLE))
                        - ln(CAST(cy.c AS DOUBLE)), 6) AS pmi
               FROM bc CROSS JOIN nu CROSS JOIN nb
               JOIN uc cx ON cx.term = string_split(pair, ' ')[1]
               JOIN uc cy ON cy.term = string_split(pair, ' ')[2]
               WHERE pair_count >= 5)
    SELECT rank, x, y, pair_count, pmi FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, x, y) AS rank
      FROM scored)
    WHERE rank <= 50 ORDER BY rank"""
  }

  // ---- q103: DSIR importance-resampling selection ----

  /** q103: [[graft.curation.Dsir.select]] — hashed-n-gram importance
    * weights (target = the English slice) over 256 md5 buckets, top-100
    * most-target-like documents. The decimal-sum determinism contract
    * makes the per-document score order-free and DuckDB-replayable. */
  def q103(s: SparkSession, d: String): DataFrame =
    graft.curation.Dsir.select(docs(s, d), col("doc_id"),
        tokens(lower(col("text"))), col("lang") === "en",
        n = 100, numBuckets = 256)
      .withColumnRenamed("__id", "doc_id")
      .orderBy(col("rank"))

  /** Shared DuckDB CTE chain for the DSIR family (q103/q118): hashed
    * features → bucket models → per-doc score, ending at `sc`
    * (doc_id, n_feats, score). */
  private[queries] val dsirScoreCte: String = {
    val bi = "(CASE WHEN len(t) < 2 THEN []::VARCHAR[] ELSE " +
      "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) END)"
    s"""
    WITH tok AS (SELECT doc_id, lang, ${toksSql("lower(text)")} AS t FROM documents),
    feats AS (SELECT doc_id, lang, unnest(list_concat(t, $bi)) AS f FROM tok),
    bf AS (SELECT doc_id, lang, ${md5LongSql("f", 8)} % 256 AS bucket FROM feats),
    raw AS (SELECT bucket, COUNT(*) AS c_raw FROM bf GROUP BY 1),
    tgt AS (SELECT bucket, COUNT(*) AS c_tgt FROM bf WHERE lang = 'en' GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_raw,
                   COUNT(*) FILTER (WHERE lang = 'en') AS n_tgt FROM bf),
    lr AS (SELECT bucket,
                  round(ln(CAST(COALESCE(c_tgt, 0) + 1 AS DOUBLE))
                    - ln(CAST(n_tgt + 256 AS DOUBLE))
                    - ln(CAST(c_raw + 1 AS DOUBLE))
                    + ln(CAST(n_raw + 256 AS DOUBLE)), 6) AS lr
           FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
    db AS (SELECT doc_id, bucket, COUNT(*) AS c FROM bf GROUP BY 1, 2),
    sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
                  round(CAST(SUM(CAST(CAST(c AS DOUBLE) * lr AS DECIMAL(18,6))) AS DOUBLE)
                    / CAST(SUM(c) AS DOUBLE), 6) AS score
           FROM db JOIN lr USING (bucket) GROUP BY 1)"""
  }

  val q103Sql: String = s"""$dsirScoreCte
    SELECT rank, doc_id, n_feats, score FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM sc)
    WHERE rank <= 100 ORDER BY rank"""

  // ---- q118: DSIR importance RESAMPLING (deterministic Gumbel top-n) ----

  /** q118: [[graft.curation.Dsir.resample]] — the paper's sampling
    * step: 100 docs without replacement ∝ exp(score), drawn by the
    * Gumbel-top-n trick with md5-deterministic noise. The oracle
    * replays score, uniform, Gumbel transform, and rank. */
  def q118(s: SparkSession, d: String): DataFrame =
    graft.curation.Dsir.resample(docs(s, d), col("doc_id"),
        tokens(lower(col("text"))), col("lang") === "en",
        n = 100, numBuckets = 256)
      .withColumnRenamed("__id", "doc_id")
      .orderBy(col("rank"))

  val q118Sql: String = s"""$dsirScoreCte,
    keyed AS (SELECT doc_id, score,
                round(score / 1.0 - ln(-ln(
                  ${md5LongSql("CAST(doc_id AS VARCHAR)", 8)} / 4294967296.0)), 6)
                  AS key
              FROM sc)
    SELECT rank, doc_id, score, key FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rank
      FROM keyed)
    WHERE rank <= 100 ORDER BY rank"""

  // ---- q104: exact frequent tokens via a Misra-Gries candidate pass ----

  /** q104: [[graft.text.HeavyHitters.frequentTokens]] — tokens at
    * support ≥ 1/50 of the corpus token stream, found by the native
    * [[graft.plans.MisraGriesAgg]] sketch then re-counted exactly. The
    * oracle is the direct full groupBy — identical output because the
    * sketch is only a candidate-superset prune (see HeavyHitters doc). */
  def q104(s: SparkSession, d: String): DataFrame =
    graft.text.HeavyHitters.frequentTokens(docs(s, d),
      tokens(lower(col("text"))), num = 1, den = 50)

  val q104Sql: String = s"""
    WITH tok AS (SELECT unnest(${toksSql("lower(text)")}) AS term FROM documents),
    n AS (SELECT COUNT(*) AS n FROM tok)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
    FROM tok CROSS JOIN n
    GROUP BY term, n.n
    HAVING COUNT(*) * 50 >= n.n
    ORDER BY freq DESC, term"""

  // ---- q105: per-source KL drift from the corpus token distribution ----

  /** q105: [[graft.text.CorpusStats.klDrift]] — each source's unigram
    * KL divergence from the whole corpus, the standard drift alarm for
    * a training-data feed. Integer-ln + decimal-sum determinism. */
  def q105(s: SparkSession, d: String): DataFrame =
    graft.text.CorpusStats.klDrift(docs(s, d), col("source"),
        tokens(lower(col("text"))))
      .withColumnRenamed("group", "source")

  val q105Sql: String = s"""
    WITH tok AS (SELECT source AS grp, unnest(${toksSql("lower(text)")}) AS term
                 FROM documents),
    gt AS (SELECT grp, term, COUNT(*) AS c_gt FROM tok GROUP BY 1, 2),
    g AS (SELECT grp, CAST(SUM(c_gt) AS BIGINT) AS n_g FROM gt GROUP BY 1),
    t AS (SELECT term, CAST(SUM(c_gt) AS BIGINT) AS c_t FROM gt GROUP BY 1),
    n AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n FROM g)
    SELECT grp AS source, n_g AS n_tokens,
           round(CAST(SUM(CAST(CAST(c_gt AS DOUBLE) *
                   round(ln(CAST(c_gt AS DOUBLE)) - ln(CAST(n_g AS DOUBLE))
                     - ln(CAST(c_t AS DOUBLE)) + ln(CAST(n AS DOUBLE)), 6)
                 AS DECIMAL(18,6))) AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS kl
    FROM gt JOIN t USING (term) JOIN g USING (grp) CROSS JOIN n
    GROUP BY 1, 2 ORDER BY source"""

  // ---- q106: per-dimension Fisher separability of the embeddings ----

  /** q106: [[graft.sim.EmbeddingStats.fisherRatio]] — between/within
    * class scatter per embedding dimension from one-pass sufficient
    * statistics; the embedding-quality gate before semantic dedup or
    * ANN trusts the vectors. Decimal-sum determinism throughout. */
  def q106(s: SparkSession, d: String): DataFrame =
    graft.sim.EmbeddingStats.fisherRatio(
      Tables.embeddings(s, d), col("embedding"), col("label"))

  val q106Sql: String = s"""
    WITH e AS (SELECT label, unnest(range(0, len(embedding))) AS dim,
                      CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
    cs AS (SELECT label, dim, COUNT(*) AS n_c,
                  ${dsumSql("x")} AS s, ${dsumSql("x * x")} AS sxx
           FROM e GROUP BY 1, 2),
    ds AS (SELECT dim, CAST(SUM(n_c) AS BIGINT) AS n_d, ${dsumSql("s")} AS s_d
           FROM cs GROUP BY 1),
    bw AS (SELECT cs.dim,
                  CAST(n_c AS DOUBLE) *
                    ((s / CAST(n_c AS DOUBLE) - s_d / CAST(n_d AS DOUBLE)) *
                     (s / CAST(n_c AS DOUBLE) - s_d / CAST(n_d AS DOUBLE))) AS b,
                  (sxx - s * s / CAST(n_c AS DOUBLE)) AS w
           FROM cs JOIN ds USING (dim)),
    agg AS (SELECT dim, round(${dsumSql("b")}, 6) AS scatter_between,
                   round(${dsumSql("w")}, 6) AS scatter_within
            FROM bw GROUP BY 1)
    SELECT dim, scatter_between, scatter_within,
           CASE WHEN scatter_within > 0.0
             THEN round(scatter_between / scatter_within, 6) ELSE NULL END AS fisher
    FROM agg ORDER BY dim"""

  // ---- q107: per-source Zipf exponent (does it still look like language?) ----

  /** q107: [[graft.text.CorpusStats.zipfSlope]] — OLS slope of ln freq
    * on ln rank per source; natural language ≈ −1, boilerplate flattens
    * toward 0. Closed-form decimal-sum regression, DuckDB-replayed. */
  def q107(s: SparkSession, d: String): DataFrame =
    graft.text.CorpusStats.zipfSlope(docs(s, d), col("source"),
        tokens(lower(col("text"))))
      .withColumnRenamed("group", "source")

  val q107Sql: String = s"""
    WITH tok AS (SELECT source AS grp, unnest(${toksSql("lower(text)")}) AS term
                 FROM documents),
    freq AS (SELECT grp, term, COUNT(*) AS freq FROM tok GROUP BY 1, 2),
    xy AS (SELECT grp,
             round(ln(CAST(ROW_NUMBER() OVER
               (PARTITION BY grp ORDER BY freq DESC, term) AS DOUBLE)), 6) AS x,
             round(ln(CAST(freq AS DOUBLE)), 6) AS y
           FROM freq),
    a AS (SELECT grp, COUNT(*) AS n_terms, ${dsumSql("x")} AS sx,
                 ${dsumSql("y")} AS sy, ${dsumSql("x * y")} AS sxy,
                 ${dsumSql("x * x")} AS sxx
          FROM xy GROUP BY 1)
    SELECT grp AS source, n_terms,
           CASE WHEN n_terms < 2
                  OR CAST(n_terms AS DOUBLE) * sxx - sx * sx = 0.0 THEN NULL
             ELSE round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
               / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) END AS zipf_slope
    FROM a ORDER BY source"""

  // ---- q109: cross-source content-overlap matrix (provenance audit) ----

  /** q109: [[graft.text.CorpusStats.groupOverlap]] — shared winnowed
    * span fingerprints per source pair plus the overlap coefficient:
    * the mirror-feed detector behind source weighting. Runs WITH the
    * group-frequency cap on (fingerprints in > 15 of the 20 sources
    * drop out), so the CORRECTNESS-mapped path is the one whose
    * self-join stays bounded at corpus scale; the oracle replays the
    * q74-proven winnow construction, the cap, and both joins. */
  def q109(s: SparkSession, d: String): DataFrame =
    graft.text.CorpusStats.groupOverlap(docs(s, d), col("source"),
      col("text"), shingleK = 3, w = 4, maxGroupFreq = 15)

  val q109Sql: String = s"""
    WITH ${winnowFpsCteSql("source", "grp")},
    gfp AS MATERIALIZED (SELECT DISTINCT grp, fp FROM fps),
    sizes AS (SELECT grp, COUNT(*) AS n_fp FROM gfp GROUP BY 1),
    joinable AS MATERIALIZED (SELECT grp, fp FROM gfp JOIN
      (SELECT fp FROM gfp GROUP BY fp HAVING COUNT(*) <= 15) r USING (fp)),
    pairs AS (SELECT x.grp AS grp_a, y.grp AS grp_b, COUNT(*) AS n_shared
              FROM joinable x JOIN joinable y
                ON x.fp = y.fp AND x.grp < y.grp
              GROUP BY 1, 2)
    SELECT grp_a, grp_b, n_shared,
           round(CAST(n_shared AS DOUBLE)
             / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 6) AS overlap
    FROM pairs JOIN sizes sa ON sa.grp = grp_a JOIN sizes sb ON sb.grp = grp_b
    ORDER BY grp_a, grp_b"""

  // ---- q110: embedding anisotropy (mean pairwise cosine, closed form) ----

  /** q110: [[graft.sim.EmbeddingStats.anisotropy]] — the cone-collapse
    * diagnostic: mean cosine over all n·(n−1) vector pairs without the
    * pair join, via ‖Σx̂‖². Pairs with q106 as the embedding-health
    * gate. Decimal-sum determinism; the oracle replays the identical
    * closed form. */
  def q110(s: SparkSession, d: String): DataFrame =
    graft.sim.EmbeddingStats.anisotropy(Tables.embeddings(s, d),
      col("embedding"))

  val q110Sql: String = s"""
    WITH v0 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    vn AS (SELECT v, sqrt(${dotSql("v", "v")}) AS nrm FROM v0),
    vv AS (SELECT v, nrm FROM vn WHERE nrm > 0.0),
    e AS (SELECT unnest(range(0, len(v))) AS dim,
                 unnest(list_transform(v, x -> x / nrm)) AS e FROM vv),
    sd AS (SELECT dim, ${dsumSql("e")} AS s FROM e GROUP BY 1),
    s2 AS (SELECT ${dsumSql("s * s")} AS s2 FROM sd),
    ss AS (SELECT ${dsumSql("e * e")} AS ss FROM e),
    n AS (SELECT COUNT(*) AS n FROM vv)
    SELECT n, CASE WHEN n < 2 THEN NULL
      ELSE round((s2 - ss)
        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) END AS mean_cos
    FROM n CROSS JOIN s2 CROSS JOIN ss"""

  // ---- q111: hard-negative mining (contrastive training pairs) ----

  /** q111: [[graft.sim.Mining.hardNegatives]] — per probe vector, the
    * top-10 most-similar vectors with a DIFFERENT label: the
    * contrastive-training fuel. Broadcast-query exact shape (q28) with
    * the label filter applied before any ranking. */
  def q111(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.sim.Mining.hardNegatives(emb.filter(col("vec_id") < 5), emb, k = 10)
      .orderBy(col("query_id"), col("rk"))
  }

  val q111Sql: String = {
    val dqc = dotSql("q.v", "c.v")
    val dqq = dotSql("q.v", "q.v")
    val dcc = dotSql("c.v", "c.v")
    s"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (SELECT q.vec_id AS query_id, q.label AS query_label,
                      c.vec_id AS neighbor_id, c.label AS neighbor_label,
                      round($dqc / (sqrt($dqq) * sqrt($dcc)), 6) AS sim
               FROM e q JOIN e c ON q.vec_id < 5 AND q.label <> c.label)
    SELECT query_id, query_label, neighbor_id, neighbor_label, sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored)
    WHERE rk <= 10 ORDER BY query_id, rk"""
  }

  // ---- q112: kNN label agreement (geometric mislabel audit) ----

  /** q112: [[graft.sim.Mining.knnLabelAgreement]] — fraction of each
    * probe's 10 nearest neighbors sharing its label; low agreement is
    * the mislabel/contamination queue. Same exact-kNN shape. */
  def q112(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.sim.Mining.knnLabelAgreement(emb.filter(col("vec_id") < 50),
        emb, k = 10)
      .orderBy(col("query_id"))
  }

  val q112Sql: String = {
    val dqc = dotSql("q.v", "c.v")
    val dqq = dotSql("q.v", "q.v")
    val dcc = dotSql("c.v", "c.v")
    s"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (SELECT q.vec_id AS query_id, q.label AS query_label,
                      c.label AS neighbor_label,
                      round($dqc / (sqrt($dqq) * sqrt($dcc)), 6) AS sim,
                      c.vec_id AS neighbor_id
               FROM e q JOIN e c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
    ranked AS (SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER
        (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM scored) WHERE rk <= 10)
    SELECT query_id, query_label,
           CAST(SUM(CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
           round(CAST(SUM(CASE WHEN neighbor_label = query_label THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS agreement
    FROM ranked GROUP BY 1, 2 ORDER BY query_id"""
  }

  // ---- q113: hard negatives through the IVF scale path ----

  /** q113: [[graft.sim.Mining.hardNegativesIvf]] at `nprobe = nlist` —
    * the exhaustive-probe recall identity: the IVF composition (the
    * corpus-scale path, no cross join) must reproduce q111's exact
    * answer bit-for-bit, so it shares q111's oracle. */
  def q113(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.sim.Mining.hardNegativesIvf(emb.filter(col("vec_id") < 5), emb,
        k = 10, nlist = 8, nprobe = 8)
      .orderBy(col("query_id"), col("rk"))
  }

  // ---- q115: interpolated trigram-LM perplexity ----

  /** q115: [[graft.curation.LangModel.trigramCrossEntropy]] — the
    * Jelinek-Mercer trigram upgrade of q81's bigram signal (.5/.25/.25
    * exact-binary weights, all-integer division operands). Same
    * presentation contract as q81: every document, zero-filled when it
    * has no trigrams, xent rounded to 6. */
  def q115(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val scored = graft.curation.LangModel.trigramCrossEntropy(
        base, col("doc_id"), tokens(lower(col("text"))))
      .withColumnRenamed("__id", "doc_id")
    base.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        round(col("xent"), 6).as("xent"))
      .orderBy(col("doc_id"))
  }

  val q115Sql: String = s"""
    WITH docs AS (SELECT doc_id, ${toksSql("lower(text)")} AS toks FROM documents),
    tri AS (SELECT doc_id,
                   unnest(list_slice(toks, 1, len(toks) - 2)) AS w1,
                   unnest(list_slice(toks, 2, len(toks) - 1)) AS w2,
                   unnest(list_slice(toks, 3, len(toks))) AS w3
            FROM docs WHERE len(toks) >= 3),
    c123 AS (SELECT w1, w2, w3, COUNT(*) AS c123 FROM tri GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM tri GROUP BY 1, 2),
    c23 AS (SELECT w2, w3, COUNT(*) AS c23 FROM tri GROUP BY 1, 2),
    c2 AS (SELECT w2, COUNT(*) AS c2 FROM tri GROUP BY 1),
    c3 AS (SELECT w3, COUNT(*) AS c3 FROM tri GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM tri),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT unnest(toks) AS w FROM docs)),
    folded AS (
      SELECT t.doc_id, COUNT(*) AS nt,
             ${dsumSql("""round(-ln(0.5 * (CAST(c123 + 1 AS DOUBLE) / CAST(c12 + v AS DOUBLE))
                  + 0.25 * (CAST(c23 + 1 AS DOUBLE) / CAST(c2 + v AS DOUBLE))
                  + 0.25 * (CAST(c3 + 1 AS DOUBLE) / CAST(n + v AS DOUBLE))), 6)""")} AS s
      FROM tri t JOIN c123 USING (w1, w2, w3) JOIN c12 USING (w1, w2)
           JOIN c23 USING (w2, w3) JOIN c2 USING (w2) JOIN c3 USING (w3)
           CROSS JOIN n CROSS JOIN v
      GROUP BY t.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(f.nt, 0) AS BIGINT) AS n_trigrams,
           round(f.s / f.nt, 6) AS xent
    FROM documents d LEFT JOIN folded f USING (doc_id) ORDER BY d.doc_id"""

  // ---- q116: WITHIN-document repeated-span removal ----

  /** q116: [[Dedup.stripIntraDocRepeats]] — q79 cuts spans shared
    * across documents; this cuts the crawl-loop pathology, a span
    * repeating INSIDE one document: every 10-gram occurrence after its
    * document's first is stripped. The oracle replays postings,
    * per-document first-occurrence flagging, interval union, and the
    * ordered reassembly, pinning the cleaned text by md5. */
  def q116(s: SparkSession, d: String): DataFrame =
    Dedup.stripIntraDocRepeats(docs(s, d), k = 10)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")

  val q116Sql: String = s"""
    WITH t AS (SELECT doc_id, ${toksSql("text")} AS t FROM documents),
    g AS (SELECT doc_id, ${shinglesSql("t", 10)} AS gs FROM t),
    pos AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM
      (SELECT doc_id, unnest(list_transform(range(1, len(gs) + 1),
        i -> {'pos': i - 1, 'gram': gs[i]})) AS pg FROM g) q),
    dup AS (SELECT doc_id, gram, min(pos) AS first FROM pos
      GROUP BY doc_id, gram HAVING count(*) >= 2),
    flag AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup d
      ON p.doc_id = d.doc_id AND p.gram = d.gram WHERE p.pos > d.first),
    rem AS (SELECT DISTINCT doc_id, pos + o.off AS idx
      FROM flag CROSS JOIN (SELECT unnest(range(0, 10)) AS off) o),
    tp AS (SELECT doc_id, it.idx AS idx, it.tok AS tok FROM
      (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        i -> {'idx': i - 1, 'tok': t[i]})) AS it FROM t) q),
    kept AS (SELECT tp.doc_id, tp.idx, tp.tok FROM tp
      WHERE NOT EXISTS (SELECT 1 FROM rem
        WHERE rem.doc_id = tp.doc_id AND rem.idx = tp.idx)),
    agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean,
      count(*) AS n_kept FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
      CAST(len(t.t) AS BIGINT) AS n_tokens,
      CAST(len(t.t) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
      md5(coalesce(agg.clean, '')) AS clean_md5
    FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""

  // ---- q117: per-document n-gram novelty ----

  /** q117: [[graft.text.CorpusStats.docNovelty]] — fraction of each
    * document's distinct 8-shingles unseen anywhere else: the
    * contribution signal dual to dedup (assembled-from-boilerplate
    * docs score near 0 without being near-dups of anything). All
    * documents present, zero-filled below 8 tokens. */
  def q117(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val scored = graft.text.CorpusStats.docNovelty(base, col("doc_id"),
        tokens(lower(col("text"))), k = 8)
      .withColumnRenamed("__id", "doc_id")
    base.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        col("novelty"))
      .orderBy(col("doc_id"))
  }

  val q117Sql: String = s"""
    WITH t AS (SELECT doc_id, ${toksSql("lower(text)")} AS toks FROM documents),
    s AS (SELECT doc_id, unnest(list_distinct(${shinglesSql("toks", 8)})) AS g
          FROM t),
    d AS (SELECT g, COUNT(*) AS df FROM s GROUP BY 1),
    per AS (SELECT doc_id, COUNT(*) AS n_shingles,
                   SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS uniq
            FROM s JOIN d USING (g) GROUP BY 1)
    SELECT t.doc_id,
           CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
           round(CAST(per.uniq AS DOUBLE) / CAST(per.n_shingles AS DOUBLE), 6)
             AS novelty
    FROM t LEFT JOIN per USING (doc_id) ORDER BY doc_id"""

  // ---- q121: quality-aware cluster retention (keep-best) ----

  /** q121: [[Dedup.clusterKeepBest]] — q51's near-dup clusters with a
    * RETENTION POLICY: each cluster keeps its longest member
    * (score = n_chars) instead of the min-id, singletons keep
    * themselves. What a production dedup pass ships — min-id retention
    * throws away the quality signal inside a mirror cluster. The
    * oracle replays the exhaustive pair space, the recursive-CTE
    * closure, the singleton coalesce, and the (n_chars desc, doc_id)
    * argmax — so the hash check pins both the clustering AND which
    * member survives. */
  def q121(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val pairs = Dedup.lshJaccardPairs(base, "doc_id", "text",
      shingleK = 3, threshold = 0.8)
    Dedup.clusterKeepBest(base.withColumn("n_chars", length(col("text"))),
        "doc_id", "n_chars", pairs)
      .orderBy(col("doc_id"))
  }

  val q121Sql: String = s"""
    WITH RECURSIVE
    ${jaccardCompCteSql("cluster")},
    lab AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster,
                   length(d.text) AS n_chars
            FROM documents d LEFT JOIN comp c USING (doc_id)),
    k AS (SELECT cluster, doc_id AS keeper FROM (
            SELECT cluster, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                     ORDER BY n_chars DESC, doc_id) AS rk FROM lab)
          WHERE rk = 1)
    SELECT l.doc_id, l.cluster, k.keeper, l.doc_id = k.keeper AS kept
    FROM lab l JOIN k USING (cluster) ORDER BY l.doc_id"""

  // ---- q123: FUZZY train/eval decontamination (winnow fingerprints) ----

  /** q123: [[Dedup.fuzzyContamination]] — q48's hygiene pass at the
    * fingerprint level: near-verbatim eval leaks (whitespace drift,
    * light paraphrase) break exact 13-gram matching but still collide
    * on winnow-selected shingle fingerprints. Same eval slice as q48
    * (doc_id % 10 == 0); the oracle replays the q23/q74-proven winnow
    * construction, the broadcast eval set, and the per-doc distinct
    * count ≥ 2. */
  def q123(s: SparkSession, d: String): DataFrame =
    Dedup.fuzzyContamination(docs(s, d), col("doc_id") % 10 === 0,
        shingleK = 3, w = 4, minShared = 2)
      .orderBy(col("doc_id"))

  /** A doc with < 3 tokens has no shingles, hence no fingerprint rows —
    * the staged chain needs no explicit length filter (unnest of an
    * empty winnow list yields nothing, exactly the Spark-side
    * `size(__t) >= shingleK` filter's effect). */
  val q123Sql: String = s"""
    WITH ${winnowFpsCteSql()},
    ev AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 = 0)
    SELECT doc_id, COUNT(*) AS n_shared
    FROM fps JOIN ev USING (fp) WHERE doc_id % 10 <> 0
    GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY doc_id"""

  // ---- q124: filter-signal agreement (banded contingency + kappa) ----

  /** q124: [[graft.curation.SignalAgreement.bandAgreement]] — are two
    * candidate quality filters measuring the same thing? Quintile-band
    * document length (n_chars) against lexical diversity (distinct
    * tokens / tokens, rounded), cross-tabulate, and score the diagonal
    * with Cohen's kappa. Banding is exact interpolated percentile
    * cutpoints (the q50-proven `percentile` ≡ `quantile_cont`
    * contract), NOT a global ntile window — no single-partition sort
    * anywhere. The oracle replays cutpoints, strict-`>` band
    * membership, the contingency, and the closed-form kappa. */
  def q124(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .withColumn("__t", tokens(lower(col("text"))))
      .filter(size(col("__t")) > 0)
    graft.curation.SignalAgreement.bandAgreement(base,
      col("n_chars").cast("double"),
      round(size(array_distinct(col("__t"))).cast("double") /
        size(col("__t")).cast("double"), 6),
      bands = 5)
  }

  val q124Sql: String = {
    val toks = toksSql("lower(text)")
    s"""
    WITH staged AS (
      SELECT CAST(n_chars AS DOUBLE) AS a,
             round(CAST(len(list_distinct($toks)) AS DOUBLE)
                   / CAST(len($toks) AS DOUBLE), 6) AS b
      FROM documents WHERE len($toks) > 0),
    cuts AS (SELECT quantile_cont(a, [0.2, 0.4, 0.6, 0.8]) AS ca,
                    quantile_cont(b, [0.2, 0.4, 0.6, 0.8]) AS cb FROM staged),
    banded AS (
      SELECT 1 + CAST(a > ca[1] AS INT) + CAST(a > ca[2] AS INT)
               + CAST(a > ca[3] AS INT) + CAST(a > ca[4] AS INT) AS band_a,
             1 + CAST(b > cb[1] AS INT) + CAST(b > cb[2] AS INT)
               + CAST(b > cb[3] AS INT) + CAST(b > cb[4] AS INT) AS band_b
      FROM staged CROSS JOIN cuts),
    cells AS (SELECT band_a, band_b, COUNT(*) AS n
              FROM banded GROUP BY 1, 2),
    tot AS (SELECT SUM(n) AS tot,
                   SUM(CASE WHEN band_a = band_b THEN n ELSE 0 END) AS diag
            FROM cells),
    rc AS (SELECT r.i, r.ra, c.cb FROM
             (SELECT band_a AS i, SUM(n) AS ra FROM cells GROUP BY 1) r
             JOIN (SELECT band_b AS i, SUM(n) AS cb FROM cells GROUP BY 1) c
             USING (i)),
    pe AS (SELECT SUM(ra * cb) AS cross FROM rc),
    kap AS (SELECT CASE WHEN pe.cross = tot.tot * tot.tot THEN NULL
              ELSE round(
                (CAST(tot.diag AS DOUBLE) / CAST(tot.tot AS DOUBLE)
                  - CAST(pe.cross AS DOUBLE) / CAST(tot.tot * tot.tot AS DOUBLE))
                / (1.0 - CAST(pe.cross AS DOUBLE) / CAST(tot.tot * tot.tot AS DOUBLE)),
                6) END AS kappa
            FROM tot CROSS JOIN pe)
    SELECT c.band_a, c.band_b, c.n, k.kappa
    FROM cells c CROSS JOIN kap k ORDER BY c.band_a, c.band_b"""
  }

  // ---- q125: histogram quantiles (the no-sort percentile scale path) ----

  /** q125: [[graft.curation.HistQuantiles.quantiles]] — q50's per-lang
    * length percentiles WITHOUT the global per-group sort: two
    * map-side-combined aggregations (min/max/count, then fixed-width
    * bin counts) and a window over the bins-bounded table. Histogram
    * counts are commutative integers, so unlike t-digest sketches the
    * answer is identical under any partitioning — which is what lets
    * the oracle replay it exactly: same bins, same cumulative pick,
    * same interpolation. Error ≤ one bin width by construction
    * (HistQuantilesSpec measures it against the exact q50 values). */
  def q125(s: SparkSession, d: String): DataFrame =
    graft.curation.HistQuantiles.quantiles(docs(s, d), col("lang"),
        col("n_chars"), bins = 64, qs = Seq(0.5, 0.9, 0.99))
      .withColumnRenamed("grp", "lang")

  val q125Sql: String = s"""
    WITH staged AS (SELECT lang AS grp, CAST(n_chars AS DOUBLE) AS x
                    FROM documents),
    ranges AS (SELECT grp, MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n,
                      (MAX(x) - MIN(x)) / 64.0 AS width
               FROM staged GROUP BY grp),
    binned AS (SELECT s.grp,
                      CASE WHEN r.width = 0 THEN 0
                        ELSE LEAST(CAST(FLOOR((s.x - r.lo) / r.width) AS INT), 63)
                      END AS bin,
                      COUNT(*) AS c
               FROM staged s JOIN ranges r USING (grp) GROUP BY 1, 2),
    cum AS (SELECT grp, bin, c,
                   COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM binned),
    qs(q) AS (VALUES (0.5), (0.9), (0.99))
    SELECT c.grp AS lang, CAST(q.q AS DOUBLE) AS q,
           CASE WHEN r.width = 0 THEN round(r.lo, 6)
             ELSE round(r.lo + (CAST(c.bin AS DOUBLE) +
               (q.q * CAST(r.n AS DOUBLE) - CAST(c.cum_before AS DOUBLE))
                 / CAST(c.c AS DOUBLE)) * r.width, 6)
           END AS est,
           r.n
    FROM cum c JOIN ranges r USING (grp) CROSS JOIN qs q
    WHERE CAST(c.cum_before AS DOUBLE) < q.q * CAST(r.n AS DOUBLE)
      AND CAST(c.cum_before + c.c AS DOUBLE) >= q.q * CAST(r.n AS DOUBLE)
    ORDER BY lang, q"""

  // ---- q128: packing-efficiency audit ----

  /** q128: [[graft.curation.Packing.packingStats]] — the seqLen/nShards
    * tuning numbers over q57's exact packing layout: per shard, doc and
    * token mass, `ceil(tokens/seqLen)` packs, and the fill factor (the
    * padding bill — concat-then-chunk wastes tokens only in the tail
    * pack). Same md5 shard assignment as q57, replayed by the oracle. */
  def q128(s: SparkSession, d: String): DataFrame =
    graft.curation.Packing.packingStats(
      docs(s, d).withColumn("t", tokens(col("text"))),
      col("doc_id"), size(col("t")), seqLen = 512, nShards = 8)

  val q128Sql: String = {
    val toks = toksSql("text")
    s"""
    WITH pos AS (
      SELECT CAST(${md5LongSql("CAST(doc_id AS VARCHAR)", 8)} % 8 AS INT) AS shard,
             CAST(len($toks) AS BIGINT) AS n_tokens
      FROM documents),
    agg AS (SELECT shard, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM pos GROUP BY shard)
    SELECT shard, n_docs, n_tokens,
           CAST((n_tokens + 511) // 512 AS BIGINT) AS n_packs,
           CASE WHEN n_tokens = 0 THEN NULL
             ELSE round(CAST(n_tokens AS DOUBLE)
               / CAST(((n_tokens + 511) // 512) * 512 AS DOUBLE), 6)
           END AS fill
    FROM agg ORDER BY shard"""
  }

  // ---- q131: cosine-threshold calibration for semantic dedup ----

  /** q131: [[Similarity.cosineCalibration]] — what cutoff does
    * [[Similarity.semanticDedup]] deserve on THIS corpus? Deterministic
    * md5 vector sample, exact pairwise cosine over the sample only
    * (sample², never corpus² — the sample is the scale knob), exact
    * interpolated percentiles of the similarity distribution. The
    * oracle replays the sample predicate, the staged-norm cosine fold,
    * and `quantile_cont` (q50 contract), so the hash check pins the
    * whole calibration read-out. */
  def q131(s: SparkSession, d: String): DataFrame =
    Similarity.cosineCalibration(Tables.embeddings(s, d), sampleMod = 8)

  val q131Sql: String = s"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE ${md5LongSql("concat('cal|', CAST(vec_id AS VARCHAR))", 8)} % 8 = 0),
    vn AS MATERIALIZED (
      SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
    vv AS (SELECT vec_id, v, nrm FROM vn WHERE nrm > 0.0),
    p AS (SELECT round(${dotSql("x.v", "y.v")} / (x.nrm * y.nrm), 6) AS sim
          FROM vv x JOIN vv y ON x.vec_id < y.vec_id),
    n AS (SELECT COUNT(*) AS n_vectors FROM vv),
    q AS (SELECT COUNT(*) AS n_pairs,
                 quantile_cont(sim, 0.5) AS p50,
                 quantile_cont(sim, 0.9) AS p90,
                 quantile_cont(sim, 0.99) AS p99 FROM p)
    SELECT n_vectors, n_pairs, p50, p90, p99 FROM n CROSS JOIN q"""

  // ---- q132: weighted sampling without replacement ----

  /** q132: [[graft.curation.Sampling.weightedSample]] —
    * length-proportional corpus draw (long documents are likelier but
    * short ones still sampled): Efraimidis–Spirakis priorities off the
    * deterministic md5 uniform, global top-200 via TopN.exact. The
    * oracle replays the exact-integer ln arithmetic and the total
    * order, so the hash check pins the whole sample. */
  def q132(s: SparkSession, d: String): DataFrame =
    graft.curation.Sampling.weightedSample(docs(s, d), col("doc_id"),
        col("n_chars"), n = 200, seed = "0")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("es_key"), col("rank"))
      .orderBy(col("doc_id"))

  val q132Sql: String = s"""
    WITH k AS (
      SELECT doc_id, lang, n_chars,
        round((ln(CAST(${md5LongSql("concat('wsample|0|', CAST(doc_id AS VARCHAR))", 15)} + 1 AS DOUBLE))
               - ln(CAST(1152921504606846976 AS DOUBLE)))
          / greatest(CAST(n_chars AS DOUBLE), 0.000000001) * 1000000.0, 6) AS es_key
      FROM documents)
    SELECT doc_id, lang, n_chars, es_key, rank FROM (
      SELECT k.*, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rank FROM k)
    WHERE rank <= 200 ORDER BY doc_id"""

  // ---- q133: domain-level quality filter ----

  /** q133: [[graft.curation.DomainFilter.domainQualityFilter]] — the
    * two-stage web-corpus filter: per-doc quality (q21's score), exact
    * decimal average per source, keep sources at/above the corpus mean
    * with >= 10 docs, broadcast the keep list back. The relative
    * threshold needs no magic constant and can never keep zero
    * domains. */
  def q133(s: SparkSession, d: String): DataFrame = {
    val scored = docs(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("lt", tokens(lower(col("text"))))
      .withColumn("q", qualityScoreOf(col("text"), col("t"), col("lt")))
    graft.curation.DomainFilter
      .domainQualityFilter(scored, col("source"), col("q"), minCount = 10L)
      .select(col("doc_id"), col("source"), col("domain_avg"))
      .orderBy(col("doc_id"))
  }

  val q133Sql: String = s"""
    WITH dq AS MATERIALIZED (
      SELECT doc_id, source, $qualitySql AS q FROM documents),
    g AS (SELECT source, ${davgSql("q")} AS src_avg, COUNT(*) AS n
          FROM dq GROUP BY source),
    c AS (SELECT ${davgSql("q")} AS corpus_avg FROM dq)
    SELECT dq.doc_id, dq.source, round(g.src_avg, 6) AS domain_avg
    FROM dq JOIN g USING (source) CROSS JOIN c
    WHERE g.src_avg >= c.corpus_avg AND g.n >= 10
    ORDER BY dq.doc_id"""

  // ---- q134: embedding-space decontamination ----

  /** q134: [[Similarity.semanticContamination]] — the semantic
    * complement of q48/q123: per corpus vector, max cosine against a
    * broadcast eval set (deterministic md5 16th of the embeddings
    * table), arg-max eval id, contamination flag at 0.25. One-sided
    * probe — never corpus x corpus. */
  def q134(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val isEval = graft.text.TextFunctions.md5Long(
      concat(lit("decon|"), col("vec_id").cast("string"))) % 16 === 0
    Similarity.semanticContamination(
        emb.filter(!isEval), emb.filter(isEval), threshold = 0.25)
      .orderBy(col("vec_id"))
  }

  val q134Sql: String = {
    val evalPred = s"${md5LongSql("concat('decon|', CAST(vec_id AS VARCHAR))", 8)} % 16 = 0"
    s"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v, $evalPred AS is_eval
      FROM embeddings),
    n AS MATERIALIZED (
      SELECT vec_id, v, is_eval, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
    ev AS (SELECT vec_id, v, nrm FROM n WHERE is_eval AND nrm > 0.0),
    cp AS (SELECT vec_id, v, nrm FROM n WHERE NOT is_eval AND nrm > 0.0),
    p AS (SELECT cp.vec_id, ev.vec_id AS eval_id,
                 round(${dotSql("cp.v", "ev.v")} / (cp.nrm * ev.nrm), 6) AS sim
          FROM cp CROSS JOIN ev)
    SELECT vec_id, eval_id, max_sim, contaminated FROM (
      SELECT vec_id, eval_id, sim AS max_sim, sim >= 0.25 AS contaminated,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rk
      FROM p) WHERE rk = 1
    ORDER BY vec_id"""
  }

  // ---- q148: corpus snapshot diff ----

  /** q148: [[Dedup.corpusDiff]] — the ablation-bookkeeping delta
    * between two corpus versions, exercised against a synthetic
    * "after" built from the same table (a filter drop, re-added
    * duplicates, and edited additions), so all three statuses appear
    * and the oracle replays the construction exactly. */
  def q148(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val after = base.filter(col("doc_id") % 7 =!= 0)
      .unionAll(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionAll(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text")))
    Dedup.corpusDiff(base, after).orderBy(col("digest"))
  }

  val q148Sql: String = s"""
    WITH b AS (SELECT doc_id, text FROM documents),
    a AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
          UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 11 = 0
          UNION ALL SELECT doc_id + 200000, text || ' v2' FROM documents WHERE doc_id % 13 = 0),
    cb AS (SELECT md5(text) AS digest, COUNT(*) AS n_before, MIN(doc_id) AS eb
           FROM b GROUP BY 1),
    ca AS (SELECT md5(text) AS digest, COUNT(*) AS n_after, MIN(doc_id) AS ea
           FROM a GROUP BY 1)
    SELECT digest,
           COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after,
           COALESCE(eb, -1) AS example_before, COALESCE(ea, -1) AS example_after,
           CASE WHEN COALESCE(n_before, 0) = 0 THEN 'added'
                WHEN COALESCE(n_after, 0) = 0 THEN 'removed'
                ELSE 'changed' END AS status
    FROM cb FULL OUTER JOIN ca USING (digest)
    WHERE COALESCE(n_before, 0) <> COALESCE(n_after, 0)
    ORDER BY digest"""

  // ---- q147: CDC chunk-level strip ----

  /** q147: [[Dedup.cdcStrip]] — the removal complement of q138: every
    * probe document rewritten with its reference-duplicated chunks
    * (vs the doc_id % 10 == 0 slice) excised, plus kept/dropped token
    * accounting. The oracle rebuilds each document from its surviving
    * chunks with an idx-ordered string_agg over the same staged CTE
    * chain. */
  def q147(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val refD = Dedup.cdcDigests(base.filter(col("doc_id") % 10 === 0), k = 3, p = 8)
    Dedup.cdcStrip(base.filter(col("doc_id") % 10 =!= 0), refD, k = 3, p = 8)
      .orderBy(col("doc_id"))
  }

  val q147Sql: String = s"""
    WITH $cdcChainSql,
    ck2 AS MATERIALIZED (
      SELECT doc_id,
        list_transform(range(1, len(ends) + 1), j ->
          array_to_string(list_slice(t,
            CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END, ends[j]), ' ')) AS ts,
        list_transform(range(1, len(ends) + 1), j ->
          ends[j] - (CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END) + 1) AS ns
      FROM ce WHERE doc_id % 10 <> 0),
    ex2 AS (SELECT doc_id, unnest(ts) AS tx, unnest(ns) AS n,
                   unnest(range(1, len(ts) + 1)) AS idx
            FROM ck2),
    rd AS (SELECT DISTINCT chunk_digest FROM ex WHERE doc_id % 10 = 0),
    fl AS (SELECT ex2.doc_id, ex2.tx, ex2.n, ex2.idx,
                  rd.chunk_digest IS NOT NULL AS dup
           FROM ex2 LEFT JOIN rd ON md5(ex2.tx) = rd.chunk_digest)
    SELECT doc_id,
           COALESCE(string_agg(tx, ' ' ORDER BY idx) FILTER (WHERE NOT dup), '') AS clean,
           CAST(COALESCE(SUM(n) FILTER (WHERE NOT dup), 0) AS BIGINT) AS kept_tokens,
           CAST(COALESCE(SUM(n) FILTER (WHERE dup), 0) AS BIGINT) AS dropped_tokens
    FROM fl GROUP BY doc_id ORDER BY doc_id"""

  // ---- q146: semantic decontamination, IVF scale path ----

  /** q146: [[Similarity.semanticContaminationIvf]] — q134 for an eval
    * set too large to broadcast: the eval slice is IVF-clustered
    * (md5-deterministic seeds + one decimal-exact Lloyd step), each
    * corpus vector probes its 2 nearest of 8 eval lists, max cosine
    * over probed candidates only. The q94→q95 / q111→q113 duality:
    * q134 is the exact report, this is the shape that survives a
    * million-row eval set. The oracle replays the full IVF pipeline
    * (q38's machinery) over the eval slice. */
  def q146(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val isEval = graft.text.TextFunctions.md5Long(
      concat(lit("decon|"), col("vec_id").cast("string"))) % 16 === 0
    Similarity.semanticContaminationIvf(
        emb.filter(!isEval), emb.filter(isEval), threshold = 0.25,
        nlist = 8, nprobe = 2)
      .orderBy(col("vec_id"))
  }

  val q146Sql: String = {
    val (nlist, nprobe) = (8, 2)
    def halfS(c: String) =
      "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform($c, x -> x * x)), (acc, x) -> acc + x) / 2.0)"
    val h = md5LongSql("CAST(vec_id AS VARCHAR)", 15)
    val evalPred = s"${md5LongSql("concat('decon|', CAST(vec_id AS VARCHAR))", 8)} % 16 = 0"
    s"""
    WITH a AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v, $evalPred AS is_eval
      FROM embeddings),
    ev AS (SELECT vec_id, v FROM a WHERE is_eval),
    cp AS (SELECT vec_id, v FROM a WHERE NOT is_eval),
    seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, v
              FROM (SELECT v, $h AS h FROM ev) ORDER BY h LIMIT $nlist),
    assign0 AS (SELECT vec_id, v, c FROM (
        SELECT ev.vec_id, ev.v AS v, s.c AS c,
               ROW_NUMBER() OVER (PARTITION BY ev.vec_id
                 ORDER BY (${dotSql("ev.v", "s.v")} - ${halfS("s.v")}) DESC, s.c DESC) AS rn
        FROM ev CROSS JOIN seeds s) WHERE rn = 1),
    means AS (SELECT c, pos, CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*) AS m
              FROM (SELECT c, unnest(v) AS x, unnest(range(len(v))) AS pos FROM assign0)
              GROUP BY c, pos),
    refined AS (SELECT s.c AS c, COALESCE(m.mv, s.v) AS v
                FROM seeds s LEFT JOIN
                  (SELECT c, list(m ORDER BY pos) AS mv FROM means GROUP BY c) m
                  ON s.c = m.c),
    cassign AS (SELECT vec_id AS eval_id, v AS evv, sqrt(${dotSql("v", "v")}) AS en, c AS cluster
                FROM (SELECT ev.vec_id, ev.v AS v, r.c AS c,
                        ROW_NUMBER() OVER (PARTITION BY ev.vec_id
                          ORDER BY (${dotSql("ev.v", "r.v")} - ${halfS("r.v")}) DESC, r.c DESC) AS rn
                      FROM ev CROSS JOIN refined r) WHERE rn = 1),
    qprobe AS (SELECT vec_id, v AS qv, sqrt(${dotSql("v", "v")}) AS qn, c AS cluster
               FROM (SELECT cp.vec_id, cp.v AS v, r.c AS c,
                       ROW_NUMBER() OVER (PARTITION BY cp.vec_id
                         ORDER BY (${dotSql("cp.v", "r.v")} - ${halfS("r.v")}) DESC, r.c ASC) AS rn
                     FROM cp CROSS JOIN refined r) WHERE rn <= $nprobe),
    scored AS (SELECT q.vec_id, c.eval_id,
                      round(${dotSql("q.qv", "c.evv")} / (q.qn * c.en), 6) AS sim
               FROM qprobe q JOIN cassign c USING (cluster)
               WHERE q.qn > 0.0 AND c.en > 0.0)
    SELECT vec_id, eval_id, max_sim, contaminated FROM (
      SELECT vec_id, eval_id, sim AS max_sim, sim >= 0.25 AS contaminated,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rk
      FROM scored) WHERE rk = 1
    ORDER BY vec_id"""
  }

  // ---- q137: content-defined chunking dedup ----

  /** q137: [[Dedup.cdcDuplicateChunks]] — Rabin-style content-defined
    * chunking over tokens (boundary where the k-shingle md5 ≡ 0 mod p),
    * then the cross-document duplicated-chunk report. Boundaries are
    * local content, so shared passages chunk identically in both hosts
    * regardless of offset — the shift-invariant sub-document dedup
    * q69's fixed windows can't express. The oracle replays the
    * boundary scan, the slice arithmetic, and the digest aggregation
    * over staged CTE columns. */
  def q137(s: SparkSession, d: String): DataFrame =
    Dedup.cdcDuplicateChunks(docs(s, d), k = 3, p = 8)
      .orderBy(col("chunk_digest"))

  /** Staged CDC CTE chain (k=3, p=8) ending in `ex` — one row per
    * (doc_id, chunk_digest, chunk_tokens) for every document with >= 3
    * tokens. Shared by the q137/q138/q139 oracles. */
  private def cdcChainSql: String = s"""
    ct AS MATERIALIZED (
      SELECT doc_id, ${toksSql("text")} AS t FROM documents),
    cf AS (SELECT doc_id, t FROM ct WHERE len(t) >= 3),
    chh AS MATERIALIZED (
      SELECT doc_id, t,
             list_transform(${shinglesSql("t", 3)}, s -> ${md5LongSql("s", 8)}) AS h
      FROM cf),
    ce AS MATERIALIZED (
      SELECT doc_id, t,
        list_concat(list_transform(list_filter(range(1, len(h) + 1),
          i -> (h[i] % 8 = 0) AND (i + 2 <> len(t))), i -> i + 2), [len(t)]) AS ends
      FROM chh),
    ck AS MATERIALIZED (
      SELECT doc_id,
        list_transform(range(1, len(ends) + 1), j ->
          md5(array_to_string(list_slice(t,
            CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END, ends[j]), ' '))) AS ds,
        list_transform(range(1, len(ends) + 1), j ->
          ends[j] - (CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END) + 1) AS ns
      FROM ce),
    ex AS (SELECT doc_id, unnest(ds) AS chunk_digest, unnest(ns) AS chunk_tokens
           FROM ck)"""

  val q137Sql: String = s"""
    WITH $cdcChainSql
    SELECT chunk_digest, CAST(max(chunk_tokens) AS BIGINT) AS chunk_tokens,
           COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS min_doc
    FROM ex GROUP BY chunk_digest HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY chunk_digest"""

  // ---- q138: CDC duplication coverage vs a reference corpus ----

  /** q138: [[Dedup.cdcCoverage]] — per probe document, the
    * token-weighted fraction already present in the reference slice
    * (doc_id % 10 == 0) as content-defined chunks: the crawl-dedup
    * gate's decision signal. Integer token sums; one double division
    * per doc, rounded 6. */
  def q138(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val refD = Dedup.cdcDigests(base.filter(col("doc_id") % 10 === 0), k = 3, p = 8)
    Dedup.cdcCoverage(base.filter(col("doc_id") % 10 =!= 0), refD, k = 3, p = 8)
      .orderBy(col("doc_id"))
  }

  val q138Sql: String = s"""
    WITH $cdcChainSql,
    rd AS (SELECT DISTINCT chunk_digest FROM ex WHERE doc_id % 10 = 0),
    pb AS (SELECT doc_id, chunk_digest, chunk_tokens FROM ex WHERE doc_id % 10 <> 0)
    SELECT pb.doc_id,
           CAST(SUM(pb.chunk_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN rd.chunk_digest IS NOT NULL
                         THEN pb.chunk_tokens ELSE 0 END) AS BIGINT) AS dup_tokens,
           round(CAST(SUM(CASE WHEN rd.chunk_digest IS NOT NULL
                               THEN pb.chunk_tokens ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(pb.chunk_tokens) AS DOUBLE), 6) AS coverage
    FROM pb LEFT JOIN rd ON pb.chunk_digest = rd.chunk_digest
    GROUP BY pb.doc_id ORDER BY pb.doc_id"""

  // ---- q143: stratified weighted sampling ----

  /** q143: [[graft.curation.Sampling.stratifiedWeightedSample]] — an
    * independent length-weighted E-S draw of 40 INSIDE each language
    * (the per-language quota shape: a global draw would let a heavy
    * stratum crowd out the tail). Same key arithmetic as q132, ranked
    * within the stratum. */
  def q143(s: SparkSession, d: String): DataFrame =
    graft.curation.Sampling.stratifiedWeightedSample(docs(s, d),
        Seq("lang"), col("doc_id"), col("n_chars"), n = 40, seed = "0")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("es_key"), col("rank"))
      .orderBy(col("doc_id"))

  val q143Sql: String = s"""
    WITH k AS (
      SELECT doc_id, lang, n_chars,
        round((ln(CAST(${md5LongSql("concat('wsample|0|', CAST(doc_id AS VARCHAR))", 15)} + 1 AS DOUBLE))
               - ln(CAST(1152921504606846976 AS DOUBLE)))
          / greatest(CAST(n_chars AS DOUBLE), 0.000000001) * 1000000.0, 6) AS es_key
      FROM documents)
    SELECT doc_id, lang, n_chars, es_key, rank FROM (
      SELECT k.*, ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY es_key DESC, doc_id) AS rank FROM k)
    WHERE rank <= 40 ORDER BY doc_id"""

  // ---- q145: temperature-balanced mix, realized ----

  /** q145: [[graft.curation.Sampling.allocatedSample]] — q55's
    * alpha-0.5 allocation table actually DRAWN: each language
    * contributes its integer allocation of a 150-doc budget, selected
    * by the length-weighted E-S priority within the language. The
    * oracle chains q55's allocation CTE with q143's per-stratum
    * ranking. */
  def q145(s: SparkSession, d: String): DataFrame =
    graft.curation.Sampling.allocatedSample(docs(s, d), "lang",
        alpha = 0.5, budget = 150L, col("doc_id"), col("n_chars"), seed = "mix")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("es_key"), col("rank"), col("alloc"))
      .orderBy(col("doc_id"))

  val q145Sql: String = s"""
    WITH counts AS (SELECT lang, COUNT(*) AS c,
                           pow(CAST(COUNT(*) AS DOUBLE), 0.5) AS pw
                    FROM documents WHERE lang IS NOT NULL GROUP BY 1),
    tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(pw ORDER BY lang)), (a, x) -> a + x) AS t
            FROM counts),
    alloc AS (SELECT lang, CAST(floor(150 * pw / t) AS BIGINT) AS alloc
              FROM counts, tot),
    k AS (SELECT doc_id, lang, n_chars,
        round((ln(CAST(${md5LongSql("concat('wsample|mix|', CAST(doc_id AS VARCHAR))", 15)} + 1 AS DOUBLE))
               - ln(CAST(1152921504606846976 AS DOUBLE)))
          / greatest(CAST(n_chars AS DOUBLE), 0.000000001) * 1000000.0, 6) AS es_key
      FROM documents WHERE lang IS NOT NULL),
    r AS (SELECT k.*, ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY es_key DESC, doc_id) AS rank FROM k)
    SELECT r.doc_id, r.lang, r.n_chars, r.es_key, r.rank, a.alloc
    FROM r JOIN alloc a USING (lang) WHERE r.rank <= a.alloc
    ORDER BY r.doc_id"""

  // ---- q142: composed crawl pipeline (round-10 operators end-to-end) ----

  /** q142: the round-10 operators composed the way a crawl intake
    * actually runs them — domain-level quality filter (q133) → CDC
    * duplication gate vs the eval slice at coverage < 0.5 (q138) →
    * Efraimidis–Spirakis length-weighted draw of 100 (q132). Each
    * stage keeps its own scale shape (broadcast keep-list; digest
    * equi-join; map-side key + TopN) — composition adds no new
    * shuffle. The oracle chains the three stages' SQL over shared
    * staged CTEs. */
  def q142(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val scored = base
      .withColumn("t", tokens(col("text")))
      .withColumn("lt", tokens(lower(col("text"))))
      .withColumn("q", qualityScoreOf(col("text"), col("t"), col("lt")))
    val kept = graft.curation.DomainFilter
      .domainQualityFilter(scored, col("source"), col("q"), minCount = 10L)
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    val refD = Dedup.cdcDigests(base.filter(col("doc_id") % 10 === 0), k = 3, p = 8)
    val surv = kept
      .join(Dedup.cdcCoverage(kept, refD, k = 3, p = 8)
        .filter(col("coverage") < 0.5).select(col("doc_id")), Seq("doc_id"))
    graft.curation.Sampling.weightedSample(
        surv.select(col("doc_id"), col("source"), col("n_chars")),
        col("doc_id"), col("n_chars"), n = 100, seed = "crawl")
      .orderBy(col("doc_id"))
  }

  val q142Sql: String = s"""
    WITH $cdcChainSql,
    dq AS MATERIALIZED (
      SELECT doc_id, source, n_chars, $qualitySql AS q FROM documents),
    g AS (SELECT source, ${davgSql("q")} AS src_avg, COUNT(*) AS n
          FROM dq GROUP BY source),
    c AS (SELECT ${davgSql("q")} AS corpus_avg FROM dq),
    keep AS (SELECT dq.doc_id, dq.source, dq.n_chars
             FROM dq JOIN g USING (source) CROSS JOIN c
             WHERE g.src_avg >= c.corpus_avg AND g.n >= 10
               AND dq.doc_id % 10 <> 0),
    rd AS (SELECT DISTINCT chunk_digest FROM ex WHERE doc_id % 10 = 0),
    cov AS (SELECT pb.doc_id,
                   CAST(SUM(CASE WHEN rd.chunk_digest IS NOT NULL
                                 THEN pb.chunk_tokens ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(pb.chunk_tokens) AS DOUBLE) AS coverage
            FROM (SELECT doc_id, chunk_digest, chunk_tokens FROM ex
                  WHERE doc_id % 10 <> 0) pb
            LEFT JOIN rd ON pb.chunk_digest = rd.chunk_digest
            GROUP BY pb.doc_id),
    surv AS (SELECT k.doc_id, k.source, k.n_chars
             FROM keep k JOIN cov ON k.doc_id = cov.doc_id
             WHERE round(cov.coverage, 6) < 0.5),
    keyed AS (
      SELECT doc_id, source, n_chars,
        round((ln(CAST(${md5LongSql("concat('wsample|crawl|', CAST(doc_id AS VARCHAR))", 15)} + 1 AS DOUBLE))
               - ln(CAST(1152921504606846976 AS DOUBLE)))
          / greatest(CAST(n_chars AS DOUBLE), 0.000000001) * 1000000.0, 6) AS es_key
      FROM surv)
    SELECT doc_id, source, n_chars, es_key, rank FROM (
      SELECT keyed.*, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rank
      FROM keyed)
    WHERE rank <= 100 ORDER BY doc_id"""

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q20_token_stats", q20 _, Some(q20Sql)),
    ("q21_quality_score", q21 _, Some(q21Sql)),
    ("q22_lang_id", q22 _, Some(q22Sql)),
    ("q23_fingerprints", q23 _, Some(q23Sql)),
    ("q24_exact_dedup", q24 _, Some(q24Sql)),
    ("q25_jaccard_pairs", q25 _, Some(q25Sql)),
    ("q26_minhash_lsh", q26 _, Some(q26Sql)),
    ("q27_simhash", q27 _, Some(q27Sql)),
    ("q28_cosine_topk", q28 _, Some(q28Sql)),
    ("q29_embedding_neardup", q29 _, Some(q29Sql)),
    ("q30_ann_lsh", q30 _, Some(q30Sql)),
    ("q38_ann_ivf", q38 _, Some(q38Sql)),
    ("q39_simhash_neardup", q39 _, Some(q39Sql)),
    ("q42_ann_ivf_store", q42 _, Some(q38Sql)),
    ("q43_redaction", q43 _, Some(q43Sql)),
    ("q44_repetition", q44 _, Some(q44Sql)),
    ("q48_decontamination", q48 _, Some(q48Sql)),
    ("q49_stratified_sample", q49 _, Some(q49Sql)),
    ("q50_length_percentiles", q50 _, Some(q50Sql)),
    ("q51_dedup_clusters", q51 _, Some(q51Sql)),
    ("q52_incremental_neardup", q52 _, Some(q52Sql)),
    ("q55_mix_allocation", q55 _, Some(q55Sql)),
    ("q57_sequence_packing", q57 _, Some(q57Sql)),
    ("q58_quality_filter", q58 _, Some(q58Sql)),
    ("q59_semantic_dedup", q59 _, Some(q59Sql)),
    ("q62_incremental_semantic", q62 _, Some(q62Sql)),
    ("q64_bloom_dedup", q64 _, Some(q64Sql)),
    ("q65_vocab_topk", q65 _, Some(q65Sql)),
    ("q66_rarity_score", q66 _, Some(q66Sql)),
    ("q67_stream_corpus", q67 _, Some(q67Sql)),
    ("q68_dataset_split", q68 _, Some(q68Sql)),
    ("q69_doc_chunking", q69 _, Some(q69Sql)),
    ("q70_pq_ann", q70 _, Some(q70Sql)),
    ("q71_ivfpq_ann", q71 _, Some(q71Sql)),
    ("q72_neardup_gate", q72 _, Some(q72Sql)),
    ("q73_ivfpq_store", q73 _, Some(q71Sql)),
    ("q74_shared_spans", q74 _, Some(q74Sql)),
    ("q75_cluster_sample", q75 _, Some(q75Sql)),
    ("q76_budget_select", q76 _, Some(q76Sql)),
    ("q79_span_strip", q79 _, Some(q79Sql)),
    ("q80_shuffle_order", q80 _, Some(q80Sql)),
    ("q81_bigram_perplexity", q81 _, Some(q81Sql)),
    ("q82_bm25_topk", q82 _, Some(q82Sql)),
    ("q83_indexed_dedup", q83 _, Some(q83Sql)),
    ("q84_text_clean", q84 _, Some(q84Sql)),
    ("q86_bpe_tokenize", q86 _, Some(q86Sql)),
    ("q87_ann_recall", q87 _, Some(q87Sql)),
    ("q88_markup_strip", q88 _, Some(q88Sql)),
    ("q89_cluster_split", q89 _, Some(q89Sql)),
    ("q90_web_pipeline", q90 _, Some(q90Sql)),
    ("q91_incremental_simhash", q91 _, Some(q91Sql)),
    ("q92_adaptive_filter", q92 _, Some(q92Sql)),
    ("q93_int8_quantize", q93 _, Some(q93Sql)),
    ("q94_containment", q94 _, Some(q94Sql)),
    ("q95_containment_capped", q95 _, Some(q95Sql)),
    ("q97_nb_classifier", q97 _, Some(q97Sql)),
    ("q98_int8_ann", q98 _, Some(q98Sql)),
    ("q101_tfidf_keywords", q101 _, Some(q101Sql)),
    ("q102_pmi_collocations", q102 _, Some(q102Sql)),
    ("q103_dsir_select", q103 _, Some(q103Sql)),
    ("q104_heavy_hitters", q104 _, Some(q104Sql)),
    ("q105_source_kl_drift", q105 _, Some(q105Sql)),
    ("q106_fisher_ratio", q106 _, Some(q106Sql)),
    ("q107_zipf_slope", q107 _, Some(q107Sql)),
    ("q109_source_overlap", q109 _, Some(q109Sql)),
    ("q110_anisotropy", q110 _, Some(q110Sql)),
    ("q111_hard_negatives", q111 _, Some(q111Sql)),
    ("q112_knn_agreement", q112 _, Some(q112Sql)),
    ("q113_hard_negatives_ivf", q113 _, Some(q111Sql)),
    ("q115_trigram_perplexity", q115 _, Some(q115Sql)),
    ("q116_intradoc_strip", q116 _, Some(q116Sql)),
    ("q117_doc_novelty", q117 _, Some(q117Sql)),
    ("q118_dsir_resample", q118 _, Some(q118Sql)),
    ("q121_cluster_keep_best", q121 _, Some(q121Sql)),
    ("q123_fuzzy_decontam", q123 _, Some(q123Sql)),
    ("q124_signal_agreement", q124 _, Some(q124Sql)),
    ("q125_hist_quantiles", q125 _, Some(q125Sql)),
    ("q128_packing_stats", q128 _, Some(q128Sql)),
    ("q131_cosine_calibration", q131 _, Some(q131Sql)),
    ("q132_weighted_sample", q132 _, Some(q132Sql)),
    ("q133_domain_filter", q133 _, Some(q133Sql)),
    ("q134_semantic_decontam", q134 _, Some(q134Sql)),
    ("q137_cdc_chunk_dedup", q137 _, Some(q137Sql)),
    ("q138_cdc_coverage", q138 _, Some(q138Sql)),
    ("q142_crawl_pipeline", q142 _, Some(q142Sql)),
    ("q143_stratified_weighted", q143 _, Some(q143Sql)),
    ("q145_mix_realized", q145 _, Some(q145Sql)),
    ("q146_semantic_decontam_ivf", q146 _, Some(q146Sql)),
    ("q147_cdc_strip", q147 _, Some(q147Sql)),
    ("q148_corpus_diff", q148 _, Some(q148Sql)))
}
