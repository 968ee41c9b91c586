package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.{BandIndex, Dedup, DigestIndex, LsmIndex}
import graft.util.{FileCommit, Materialize, Span}

/** Continuously build an exact-deduped corpus from a landing stream —
  * the streaming face of the incremental-dedup family (q52 band table,
  * q62 IVF store, q64 bloom filter): each micro-batch keeps one row per
  * content digest (within-batch exact dedup), drops rows whose content
  * already exists in the STORED corpus, and appends the survivors.
  * At-least-once file delivery composed with content-keyed drops gives
  * an exactly-once-BY-CONTENT corpus no matter how micro-batches replay.
  *
  * The digest is stored as a COLUMN of the corpus table itself, so the
  * RECOVERABLE source of truth rides the same atomic append as the data
  * (no sidecar split-brain). The per-batch gate, though, never scans
  * that column: every staged digest probes a persisted digest-bucketed
  * index ([[graft.dedup.DigestIndex]], maintained by every commit in
  * both gate modes, rebuildable from the corpus column any time). Its
  * run and bulk files carry per-file Parquet filters, so a micro-batch
  * probe reads only the files that may hold one of its digests —
  * per-batch verify I/O tracks the batch, not the corpus. (A file
  * tested with k absent digests passes with probability 1 − 0.99^k,
  * so a mega-batch of thousands reads most of the index.) Same-id
  * matches (replay/crash windows only) fall back to the corpus column
  * for exactly that digest set — see
  * [[graft.dedup.Dedup.indexedDupDigests]].
  *
  * Crash-safety invariant: the digest index is always a SUPERSET of the
  * corpus' digests. Its run is appended BEFORE the doc append, so a
  * crash between the two steps leaves only ghost rows (absorbed by the
  * same-id fallback), never a missing digest — which would silently
  * re-admit existing content on replay.
  *
  * Rows whose `textCol` is NULL are REJECTED up front (both gate
  * modes): null has no content identity — `contentKey(null)` is null,
  * which never joins, so such a row would evade every digest gate
  * forever and be re-appended on each replay.
  * Exactly-once-by-content is defined only over non-null text.
  *
  * Deliberately NOT bound to one checkpoint lineage (unlike the
  * batch-id-guarded stores — [[Lineage]]): the gate keys on CONTENT
  * digests, not batch ids, so a full fresh-checkpoint replay of the
  * landing zone is a correct, tested operation (exactly-once-by-content
  * — CorpusBuilderSpec's fresh-checkpoint cases). The remaining hazard
  * — two CONCURRENT drains racing the derived-store commits — is
  * closed by the enforced one-live-builder lock (see [[buildLockPath]]
  * and [[StoreManifest]] invariant 5); direct batch calls to
  * [[appendNew]]/[[appendNearDupNew]] (no `lockToken`) stay lock-free,
  * the caller owning serialization there.
  */
object CorpusBuilder {

  /** One-live-builder lock file (under the corpus dir). The
    * [[StoreManifest]] holder-lock discipline: atomic acquire in
    * [[build]], token re-checked by every fold at entry and before the
    * docs append, released when the query terminates; a crashed
    * builder leaves it for the operator. */
  private def buildLockPath(corpusDir: String): java.nio.file.Path =
    Paths.get(corpusDir, "BUILD.lock")

  private[streaming] def acquireBuildLock(corpusDir: String,
      holder: String): String = {
    // the previous builder's lock releases ASYNCHRONOUSLY (a daemon
    // watcher on its query's termination; [[awaitRelease]] is the
    // synchronous alternative), so a back-to-back build —
    // q.awaitTermination() then build() again — can arrive inside the
    // release window. Retry briefly ON CONTENTION ONLY before declaring
    // a live builder (any other acquire failure propagates at once);
    // a genuinely live one keeps the lock and fails loudly after.
    val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
    while (true) {
      try return StoreManifest.acquireHolderLock(buildLockPath(corpusDir),
        "builder", holder, "the content gate's derived-store commits " +
          "assume ONE builder per corpus")
      catch {
        case e: StoreManifest.AlreadyLockedException =>
          if (System.nanoTime() >= deadline) throw e
          Thread.sleep(100)
      }
    }
    sys.error("unreachable")
  }

  private[streaming] def releaseBuildLock(corpusDir: String,
      token: String): Unit =
    StoreManifest.releaseHolderLock(buildLockPath(corpusDir), token)

  /** The release watchers of live builds, by query id — joined by
    * [[awaitRelease]] so sequential builds never race the asynchronous
    * lock release. Entries remove themselves when the watcher exits. */
  private val lockWatchers =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Thread]()

  /** Block until `query`'s BUILD.lock has actually released (the query
    * must already be terminated or terminating — this joins the release
    * watcher, it does not stop the query). The synchronous complement
    * to the watcher's async release: call between a drain's
    * `awaitTermination()` and the next `build()`/maintenance call on
    * the same corpus to hand the lock over deterministically. A query
    * not started by [[build]] (or whose release already happened) is a
    * no-op. */
  def awaitRelease(query: StreamingQuery): Unit =
    Option(lockWatchers.get(query.id)).foreach(_.join())

  /** Derived-store writes already made by a fold failing this re-check
    * are ghosts the gate absorbs by design (superset invariant). */
  private def requireBuildLock(corpusDir: String,
      token: Option[String]): Unit =
    StoreManifest.requireHolderLock(buildLockPath(corpusDir), token,
      "this fold aborts before the docs append (derived-store rows it " +
        "already wrote are crash-window ghosts the gate absorbs)")

  /** Fault-injection seam for crash-recovery specs: invoked after each
    * derived-store persist step of a commit, BEFORE the docs append,
    * with the step just completed (`"digest-index"`, `"band-index"`)
    * and the corpus dir (so a hook can target ONE
    * corpus — suites share the JVM). A test installs a throwing hook to
    * kill the stream inside the exact window the superset invariant
    * protects (derived stores ahead of the corpus), then restarts from
    * the same checkpoint and asserts exactly-once-by-content held.
    * Production never sets this; the default is free (a no-op call per
    * store per commit). */
  @volatile private[streaming] var commitFault: (String, String) => Unit =
    (_, _) => ()

  /** Shared daemon pool for one commit's INDEPENDENT derived-store
    * persists (digest-index run, band-index run — each a separate Spark
    * job over the same localCheckpointed batch frame). The superset
    * invariant orders every derived store BEFORE the docs append, not
    * the stores among themselves, so they overlap instead of paying
    * serial job latencies per trigger. */
  private lazy val commitEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(6, r => {
        val t = new Thread(r, "corpus-commit")
        t.setDaemon(true); t
      }))

  /** Run one commit's derived-store persists concurrently and await
    * ALL of them before returning (a failure in any propagates after
    * the others settle, so no in-flight write can race the caller's
    * docs append on a failing path). Each step fires its own
    * [[commitFault]] seam right after its persist — the crash window
    * each store's recovery contract is specced against is unchanged;
    * only the serialization AMONG stores (never load-bearing: each
    * store is a superset of the docs independently, and ghosts in any
    * subset of stores are absorbed) is dropped. Job-group properties
    * are re-set on the pool threads so `query.stop()` still cancels
    * in-flight commit jobs ([[ClusterStream.withJobGroup]]). */
  private def persistDerived(spark: SparkSession, corpusDir: String,
      steps: Seq[(String, () => Unit)]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    def one(step: (String, () => Unit)): Unit = {
      Span(step._1)(step._2())
      commitFault(step._1, corpusDir)
    }
    if (steps.lengthCompare(1) <= 0) steps.foreach(one)
    else {
      val props = ClusterStream.jobGroupSnapshot(spark.sparkContext)
      val fs = steps.map(s => Future(
        ClusterStream.withJobGroup(spark.sparkContext, props)(one(s)))(commitEc))
      // settle every future (Await.ready, not firstCompletedOf) before
      // propagating the first failure in declaration order
      fs.foreach(f => scala.util.Try(Await.ready(f, Duration.Inf)))
      fs.foreach(f => Await.result(f, Duration.Inf))
    }
  }

  /** Reserved digest column appended to the corpus table. */
  val DigestCol = "__corpus_digest"

  /** Reserved MinHash signature column (near-dup mode). */
  val SigCol = "__corpus_sig"

  /** Default directory-bucket count of the persisted exact-verify
    * digest index ([[graft.dedup.DigestIndex]]). */
  val DefaultDigestBuckets = 64

  /** Default micro-batch period of the in-stream store compaction
    * ([[compactStores]] every N committed batches). */
  val DefaultCompactEvery = 64

  /** Mega-batch run sizing: a micro-batch writes its index run as ONE
    * file (one footer per batch on the probe's flat tail), but a
    * `--max-bytes` backfill batch would serialize a GB-scale run
    * through one task — past these per-file row targets the run write
    * fans out ([[graft.dedup.LsmIndex.runParts]]). Digest rows are
    * ~60 B (id + hex digest); band rows carry the k-hash signature
    * (~0.5 KB at k=64). */
  val DigestRowsPerRunFile: Long = 2L << 20
  val BandRowsPerRunFile: Long = 256L << 10

  /** Bounded-growth maintenance for a corpus' on-disk stores.
    *
    * Every commit appends one FLAT single-file run to the digest index
    * and (near-dup mode) the band index ([[graft.dedup.LsmIndex]]),
    * plus one-or-more files to the docs dir — left alone, the run tail
    * and docs dir grow one file per batch forever and the probes drown
    * in per-file open + footer reads. This runs
    * [[graft.ingest.Compact.compactSmallFiles]] over the docs dir
    * (schema-merged: exact-era and near-dup-era files carry different
    * optional columns) and the tiered LSM fold over each ACTIVE index
    * ([[graft.dedup.LsmIndex.Store.compact]]): runs fold into a
    * bucket-partitioned bulk once `minFiles` of them accumulate — an
    * L1 fold's I/O is bounded by the RUN mass; the periodic full merge
    * is the only corpus-proportional step and is amortized over
    * `minFiles × maxBulks` batches. Row content is preserved exactly,
    * so every derived-store invariant (index superset, PartitionFilters
    * pruning) holds across a compaction, and each digest-index bulk
    * file is written with its own filter. A `bloom.bin` left by a
    * corpus built before the digest index carried per-file filters is
    * deleted: no gate reads it.
    *
    * Concurrency: the docs compaction is append-safe by
    * [[graft.ingest.Compact]]'s swap discipline, but the index folds
    * SWAP THE SAME META POINTER the per-batch appends swap — they must
    * be serialized with the builder. The in-stream hook passes the
    * builder's own `buildToken` (folds run inside the serialized
    * foreachBatch); a standalone caller (CLI verb, batch maintenance)
    * passes None and this method takes the one-live-builder BUILD.lock
    * itself for the duration — failing LOUDLY if a builder is live
    * (stop it first, or let its in-stream hook do the maintenance).
    * The same lock serializes compact-vs-compact: a second standalone
    * caller fails loudly while the first holds it. */
  def compactStores(spark: SparkSession, corpusDir: String,
      targetBytes: Long = 256L << 20, smallBytes: Long = 64L << 20,
      minFiles: Int = 16,
      buildToken: Option[String] = None): Seq[(String, Seq[graft.ingest.Compact.Report])] = {
    val owned = buildToken match {
      case Some(_) => requireBuildLock(corpusDir, buildToken); None
      case None => Some(acquireBuildLock(corpusDir,
        s"maintenance pid=${ProcessHandle.current().pid()}"))
    }
    try {
      Files.deleteIfExists(Paths.get(corpusDir, "bloom.bin"))
      val docsDir = s"$corpusDir/docs"
      val docs =
        if (!Files.exists(Paths.get(docsDir))) Nil
        else Seq("docs" -> graft.ingest.Compact.compactSmallFiles(spark,
          docsDir, targetBytes, smallBytes, minFiles, mergeSchema = true))
      val indexes = Seq("digest-index" -> DigestIndex, "band-index" -> BandIndex)
        .flatMap { case (name, ix) =>
          ix.compact(spark, corpusDir, minRuns = minFiles).map { case (s, folded) =>
            name -> folded.map { case (runs, bulks) =>
              graft.ingest.Compact.Report(s.layoutDir, runs, bulks, 0L)
            }.toSeq
          }
        }
      docs ++ indexes
    } finally owned.foreach(t => releaseBuildLock(corpusDir, t))
  }

  /** Near-dup gate parameters: word-`shingleK`-gram MinHash signatures
    * of `k` rows in `bands` LSH bands; a doc is dropped when a
    * candidate's signature agrees on ≥ `minAgree` of the k rows (the
    * MinHash estimate of Jaccard similarity). `indexBuckets` shapes the
    * persisted band index's directory layout ([[graft.dedup.BandIndex]])
    * — more buckets prune the per-batch probe scan harder. */
  final case class NearDup(shingleK: Int = 3, k: Int = 64, bands: Int = 16,
      minAgree: Double = 0.8, indexBuckets: Int = 64)

  /** Start the streaming build: NDJSON docs under `landingGlob` →
    * exact-deduped corpus under `corpusDir` (docs parquet + derived
    * indexes), checkpointed. `Trigger.AvailableNow` drains and stops
    * (backfill); a processing-time trigger runs continuously. The doc
    * schema is inferred once from the files present at start (the
    * streaming source needs a fixed schema — same contract as every
    * schemaful file stream). */
  def build(spark: SparkSession, landingGlob: String, checkpointDir: String,
      corpusDir: String, idCol: String = "doc_id", textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      /** Mega-batch trigger sizing: each micro-batch pays the gate's
        * fixed floor (index probes, derived-store appends), so a
        * backlogged landing zone should batch by BYTES, not files.
        * Mutually exclusive with `maxFilesPerTrigger` (the file source
        * rejects both limits at once). */
      maxBytesPerTrigger: Option[Long] = None,
      /** Some(params) switches the per-batch gate from exact-content
        * to MinHash near-dup ([[appendNearDupNew]]). */
      nearDup: Option[NearDup] = None,
      /** Directory-bucket count of the persisted exact-verify index
        * ([[graft.dedup.DigestIndex]]) — more buckets prune the
        * per-batch verify scan harder. */
      digestBuckets: Int = DefaultDigestBuckets,
      /** Run [[compactStores]] every N micro-batches (0 disables) —
        * without it the per-batch index/docs appends accumulate one
        * tiny file per bucket per batch FOREVER and the bucket-pruned
        * probes drown in footer reads. In-loop placement makes the
        * maintenance run serial with this stream's own appends; the
        * BUILD.lock [[compactStores]] checks covers external racers. */
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    // arg validation BEFORE the lock — a refused call must not leak it
    require(!(maxFilesPerTrigger.isDefined && maxBytesPerTrigger.isDefined),
      "maxFilesPerTrigger and maxBytesPerTrigger are mutually exclusive " +
        "(the file stream source rejects both trigger limits at once) — " +
        "pick one")
    // one live builder per corpus, ENFORCED: taken before the stream
    // starts, re-checked by every fold, released when the query
    // terminates (normally or not)
    val token = acquireBuildLock(corpusDir,
      s"checkpoint=$checkpointDir pid=${ProcessHandle.current().pid()}")
    val query = try {
      val schema = landingSchema(spark, landingGlob, corpusDir)
      var reader = spark.readStream.schema(schema)
      maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
      maxBytesPerTrigger.foreach(b => reader = reader.option("maxBytesPerTrigger", b))
      reader.json(landingGlob)
        .writeStream
        .queryName(graft.ingest.Pipeline.uniqueQueryName("graft-corpus-builder"))
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          nearDup match {
            case Some(nd) =>
              appendNearDupNew(spark, batch, corpusDir, idCol, textCol, nd,
                digestBuckets, lockToken = Some(token))
            case None => appendNew(spark, batch, corpusDir, idCol, textCol,
              digestBuckets, lockToken = Some(token))
          }
          // batchId is monotonic across restarts (checkpointed), so the
          // cadence survives stop/start without extra state
          if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
            compactStores(spark, corpusDir, buildToken = Some(token))
          ()
        }
        .start()
    } catch { case e: Throwable => releaseBuildLock(corpusDir, token); throw e }
    // release rides the query's lifetime, not a listener (a listener
    // registered after start() can miss an already-terminated query's
    // event): a daemon watcher awaits termination — exceptional or not
    // — and releases the token-guarded lock (idempotent; a force-broken
    // lock belongs to the usurper and is left alone)
    val watcher = new Thread(() => {
      try query.awaitTermination()
      catch { case _: Throwable => () }
      finally {
        try releaseBuildLock(corpusDir, token)
        // conditional remove: query ids are checkpoint-stable, so a
        // descheduled watcher from a PREVIOUS build on this checkpoint
        // must not delete the next build's freshly-registered watcher
        // (that would silently no-op its awaitRelease)
        finally lockWatchers.remove(query.id, Thread.currentThread())
      }
    }, s"corpus-build-lock-${query.id}")
    watcher.setDaemon(true)
    lockWatchers.put(query.id, watcher)
    watcher.start()
    query
  }

  /** Doc schema for the stream: persisted beside the corpus after the
    * first inference, so restarts skip the full-landing-zone inference
    * pass (the checkpointed source would re-read nothing, but
    * `read.json` inference would still parse every landed byte) and a
    * `--continuous` builder can start on an already-known corpus before
    * the next file arrives. A truly fresh start needs at least one
    * landed file to infer from — failing that is a configuration error,
    * reported as such. */
  private def landingSchema(spark: SparkSession, landingGlob: String,
      corpusDir: String): org.apache.spark.sql.types.StructType = {
    val f = Paths.get(corpusDir, "doc-schema.json")
    FileCommit.read(f).map(org.apache.spark.sql.types.DataType.fromJson(_)
      .asInstanceOf[org.apache.spark.sql.types.StructType]).getOrElse {
      val inferred =
        try spark.read.json(landingGlob).schema
        catch { case e: Exception => sys.error(
          s"cannot infer the doc schema: no readable files under $landingGlob " +
            s"and no stored schema at $f — land at least one file first " +
            s"(${e.getMessage})")
        }
      FileCommit.replace(f, inferred.json.getBytes("UTF-8"))
      inferred
    }
  }

  /** One batch of the build (also usable directly for batch-incremental
    * corpus maintenance). Returns the number of docs appended.
    *
    * Three materializations per batch with a stored corpus: the
    * digest-keyed batch, observing its digest buckets and count (the
    * index probe's [[LsmIndex.Touched]]); the probe's matches
    * ([[Dedup.indexedDupDigests]]); the survivors, observing their
    * count. A probe of at most [[LsmIndex.FilterProbeRowsPerBucket]]
    * digests a bucket adds one job, collecting its digests for the
    * index's per-file filter test. */
  def appendNew(spark: SparkSession, batch: DataFrame, corpusDir: String,
      idCol: String, textCol: String,
      digestBuckets: Int = DefaultDigestBuckets,
      lockToken: Option[String] = None): Long = Span("corpus") {
    requireBuildLock(corpusDir, lockToken)
    val docsDir = s"$corpusDir/docs"
    Files.createDirectories(Paths.get(corpusDir))
    // null text is rejected, not gated — see class doc
    val inBatch = Dedup.exact(batch.filter(col(textCol).isNotNull), textCol, idCol)
    val hasDocs = Files.exists(Paths.get(docsDir))
    val keyed = inBatch.withColumn(DigestCol, Dedup.contentKey(col(textCol)))
    val idxSpec = DigestIndex.Spec(digestBuckets)
    val idxReady = Span("resolve")(resolveIndex(DigestIndex)(spark, docsDir, hasDocs,
      corpusDir, idCol, DigestCol, idxSpec)(digestRows(idCol)))
    // survivors are consumed by the index append and the docs append —
    // materialized once, output-sized, with their count observed
    val (staged, appended) = Span("stage") {
      if (!idxReady) counted(keyed) // no corpus yet → no probe: everything is new
      else {
        // verify every digest against the digest INDEX (filter-pruned,
        // batch-sized I/O), not the corpus-wide digest column; the
        // corpus itself is consulted only for same-id matches — see
        // [[Dedup.indexedDupDigests]]
        val (k, seen) = Materialize.observed(keyed,
          DigestIndex.touchedMetrics(col(DigestCol), idxSpec, "digests"): _*)
        val dup = Dedup.indexedDupDigests(k.select(col(idCol), col(DigestCol)),
          idCol, DigestCol, corpusDir, idxSpec, corpusDigests(spark, docsDir),
          Some(LsmIndex.Touched.of(seen, "digests")))
        counted(k.join(broadcast(dup), col(DigestCol) === col("__dup"), "left_anti"))
      }
    }
    if (appended > 0) Span("commit") {
      // commit order: digest index → docs (superset invariant)
      persistDerived(spark, corpusDir, Seq(digestIndexStep(staged, idCol, corpusDir,
        idxSpec, appended)))
      requireBuildLock(corpusDir, lockToken)
      Span("docs")(staged.write.mode("append").parquet(docsDir))
    }
    appended
  }

  /** `df` materialized with its row count observed. */
  private def counted(df: DataFrame): (DataFrame, Long) = {
    val (m, seen) = Materialize.observed(df, count(lit(1)).as("rows"))
    (m, seen("rows").asInstanceOf[Long])
  }

  /** Resolve an index store against the corpus — rebuild-or-trust.
    * With docs present, an index whose active spec matches and whose
    * layout exists is fresh by construction (every commit appends to
    * it) and is trusted as is; otherwise it is rebuilt from the rows
    * `source` projects out of the stored docs: first run on a corpus
    * predating the index, a spec change (fresh layout + atomic pointer
    * flip), or a layout lost out-of-band. The docs read uses
    * mergeSchema: exact-era and near-dup-era files carry different
    * optional columns, and a single-footer read could throw or drop
    * one. Returns false when there is nothing to probe: no docs yet, or
    * `source` finds no rows to index (the first commit creates it). */
  private def resolveIndex(ix: LsmIndex.Store)(spark: SparkSession,
      docsDir: String, hasDocs: Boolean, corpusDir: String, idCol: String,
      valueCol: String, spec: ix.Spec)(source: DataFrame => Option[DataFrame]): Boolean =
    hasDocs && (ix.ready(spark, corpusDir, spec) ||
      source(spark.read.option("mergeSchema", "true").parquet(docsDir)).exists { rows =>
        ix.rebuild(rows, idCol, valueCol, corpusDir, spec,
          StoreManifest.parquetRowCount(new org.apache.hadoop.fs.Path(docsDir),
            spark.sparkContext.hadoopConfiguration, recursive = true))
        true
      })

  /** The digest index's rebuild source: every doc's `(id, digest)`. */
  private def digestRows(idCol: String)(docs: DataFrame): Option[DataFrame] =
    Some(docs.select(col(idCol), col(DigestCol)))

  /** The corpus digest column (mergeSchema: exact-mode and near-dup-mode
    * appends carry different optional columns; a single-footer read
    * could silently drop one). */
  private def corpusDigests(spark: SparkSession, docsDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(docsDir)
      .select(col(DigestCol).as("digest"))

  /** The commit step appending the staged batch's `(id, digest)` rows
    * to the digest index as one run — shared by both gate modes, so
    * switching modes on one corpus keeps the index a superset and
    * exact-mode probes stay correct. */
  private def digestIndexStep(staged: DataFrame, idCol: String, corpusDir: String,
      idxSpec: DigestIndex.Spec, appended: Long): (String, () => Unit) =
    "digest-index" -> (() =>
      DigestIndex.append(staged.select(col(idCol), col(DigestCol)),
        idCol, DigestCol, corpusDir, idxSpec,
        runFiles = LsmIndex.runParts(appended, DigestRowsPerRunFile), runRows = appended))

  /** NEAR-DUP variant of [[appendNew]]: beyond exact-content drops, a
    * batch doc is dropped when its MinHash signature agrees with a
    * stored corpus doc's — or a smaller-id doc's in the same batch — on
    * at least `minAgree` of the k rows (the MinHash estimate of Jaccard
    * similarity; the crawler-dedup production gate). Approximate BY
    * DESIGN — the exact near-dup family (jaccardPairs / lshJaccardPairs,
    * q25/q26/q51) is the verified twin; identical content always agrees
    * 1.0, so replayed micro-batches still drop their own earlier append
    * and the corpus stays exactly-once by content.
    *
    * Storage model: digest AND signature are COLUMNS of the corpus
    * table — the recoverable source of truth rides the same atomic
    * append as the data. The per-batch PROBE, though, never touches the
    * corpus table unconditionally; both gates are candidate-routed
    * derived-store probes whose per-batch cost tracks the BATCH size:
    *
    *   - exact: every staged digest probes the
    *     [[graft.dedup.DigestIndex]] (same as [[appendNew]]), which
    *     reads only the files whose filter may hold one, not the corpus
    *     digest column (same-id matches fall back to the corpus —
    *     replay/crash windows only);
    *   - near-dup: the batch's bands probe the PERSISTED
    *     [[graft.dedup.BandIndex]] — the batch's touched buckets arrive
    *     as `PartitionFilters`, the batch side is broadcast, and the
    *     index (rebuildable from the table's (id, sig) projection any
    *     time) is appended to on every commit, so the corpus is never
    *     re-banded.
    *
    * Commit order per batch: {digest index, band index} → docs, so both
    * derived stores are always SUPERSETS of the corpus. A crash between
    * index and docs leaves GHOST band rows; a replayed batch row is
    * `(id, sig)`-identical to its ghost and must not be dropped by it —
    * the probe anti-joins candidates against the batch's own (id, sig)
    * pairs. (Corpus docs merely sharing an id keep gating: their sig
    * differs, and same-content collisions are the digest gate's job.)
    *
    * Docs too short to shingle (< shingleK tokens) carry a null
    * signature and are gated by exact content only. Needs a
    * GraftExtensions session (native shingle/minhash kernels).
    *
    * Three materializations per batch with a stored corpus: the stage
    * (digest and signature), observing both probes'
    * [[LsmIndex.Touched]] — the digests' buckets and count, the
    * signatures' band buckets and band rows; the digest probe's matches
    * ([[Dedup.indexedDupDigests]]); the survivors, observing their
    * count. So the derived stores resolve before the stage runs. */
  def appendNearDupNew(spark: SparkSession, batch: DataFrame, corpusDir: String,
      idCol: String, textCol: String, nd: NearDup,
      digestBuckets: Int = DefaultDigestBuckets,
      lockToken: Option[String] = None): Long = Span("corpus") {
    import graft.text.TextFunctions.tokens
    requireBuildLock(corpusDir, lockToken)
    val docsDir = s"$corpusDir/docs"
    Files.createDirectories(Paths.get(corpusDir))
    val hasDocs = Files.exists(Paths.get(docsDir))
    val minMatches = math.ceil(nd.minAgree * nd.k).toInt
    def agrees(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      Dedup.sigMatches(a, b) >= minMatches
    // the derived stores resolve BEFORE the stage (rebuild on resize /
    // loss), and the gate and commit share them
    val bandSpec = BandIndex.Spec(nd.bands, nd.indexBuckets)
    val idxSpec = DigestIndex.Spec(digestBuckets)
    val (digestReady, bandReady) = Span("resolve") {
      // steady state trusts the band index without a corpus footer scan;
      // a rebuild needs signature history — an exact-era corpus has no
      // SigCol, nothing to probe, and the first near-dup commit creates it
      val bandReady = resolveIndex(BandIndex)(spark, docsDir, hasDocs, corpusDir,
        idCol, SigCol, bandSpec) { docs =>
        Option.when(docs.columns.contains(SigCol))(
          docs.filter(col(SigCol).isNotNull).select(col(idCol), col(SigCol)))
      }
      (resolveIndex(DigestIndex)(spark, docsDir, hasDocs, corpusDir, idCol,
        DigestCol, idxSpec)(digestRows(idCol)), bandReady)
    }
    val (fresh, appended) = {
      // one projection computes digest + signature; consumed by several
      // gates below — materialize once, batch-sized, observing what the
      // probes need of it (null text rejected, not gated — see class doc)
      val (staged, seen) = Span("stage")(Materialize.observed(
        Dedup.exact(batch.filter(col(textCol).isNotNull), textCol, idCol)
          .withColumn(DigestCol, Dedup.contentKey(col(textCol)))
          .withColumn("__t", tokens(col(textCol)))
          .withColumn(SigCol, when(size(col("__t")) >= nd.shingleK,
            call_function("graft_minhash_mix",
              array_distinct(call_function("graft_shingles", col("__t"), lit(nd.shingleK))),
              lit(nd.k))))
          .drop("__t"),
        (if (digestReady) DigestIndex.touchedMetrics(col(DigestCol), idxSpec, "digests")
         else Nil) ++
          (if (bandReady) BandIndex.touchedMetrics(col(SigCol), bandSpec, "bands")
           else Nil): _*))
      val batchSigs = staged.filter(col(SigCol).isNotNull)
        .select(col(idCol), col(SigCol))
      // within-batch: drop the larger id of any agreeing pair (canonical
      // min-id per near-dup pair — pair-greedy, deterministic)
      val withinDrop = Dedup.lshCandidatesWithSigs(batchSigs, idCol, SigCol, nd.bands)
        .filter(agrees(col("siga"), col("sigb")))
        .select(col("b").as("__drop"))
      Span("gate") {
        val corpusDrops: Seq[DataFrame] = if (!digestReady) Nil else {
          // EXACT pre-gate: every digest verifies against the filter-
          // pruned digest INDEX, not the corpus digest column (same-id
          // matches fall back to the corpus — see
          // [[Dedup.indexedDupDigests]])
          val dup = Dedup.indexedDupDigests(
            staged.select(col(idCol), col(DigestCol)), idCol, DigestCol,
            corpusDir, idxSpec, corpusDigests(spark, docsDir),
            Some(LsmIndex.Touched.of(seen, "digests")))
          val exactDrop = staged
            .join(broadcast(dup), col(DigestCol) === col("__dup"), "left_semi")
            .select(col(idCol).as("__drop"))
          val nearDrop =
            if (!bandReady) Nil
            else {
              val cands = BandIndex.probe(batchSigs, idCol, SigCol, corpusDir, bandSpec,
                  LsmIndex.Touched.of(seen, "bands"))
                .filter(agrees(col("nsig"), col("csig")))
              // ghost absorb — see scaladoc: a candidate (id, sig)-equal
              // to a batch row is this batch's own crash-window ghost
              val ghosts = batchSigs
                .select(col(idCol).as("__gid"), col(SigCol).as("__gsig"))
              Seq(cands.join(broadcast(ghosts),
                  col("corpus_id") === col("__gid") && col("csig") === col("__gsig"),
                  "left_anti")
                .select(col("new_id").as("__drop")))
            }
          exactDrop +: nearDrop
        }
        // a drop listed twice is harmless: it only feeds an anti-join
        val drops = (withinDrop +: corpusDrops).reduce(_ union _)
        counted(staged.join(broadcast(drops), col(idCol) === col("__drop"), "left_anti"))
      }
    }
    if (appended > 0) Span("commit") {
      // commit order: {digest index, band index} → docs (superset
      // invariant for every derived store — each must be persisted
      // before the docs append, in no particular order among
      // themselves; the digest index also stays a superset across gate
      // modes, so a later exact-mode run probes correctly)
      persistDerived(spark, corpusDir, Seq(
        digestIndexStep(fresh, idCol, corpusDir, idxSpec, appended),
        "band-index" -> (() =>
          BandIndex.append(fresh.filter(col(SigCol).isNotNull)
            .select(col(idCol), col(SigCol)), idCol, SigCol, corpusDir, bandSpec,
            runRows = appended, runFiles = LsmIndex.runParts(
              appended * nd.bands, BandRowsPerRunFile)))))
      requireBuildLock(corpusDir, lockToken)
      Span("docs")(fresh.write.mode("append").parquet(docsDir))
    }
    appended
  }
}
