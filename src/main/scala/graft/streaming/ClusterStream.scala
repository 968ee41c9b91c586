package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.Dedup
import graft.util.Span

/** INCREMENTAL duplicate clustering — connected components maintained
  * under a live feed, the fourth streaming state discipline next to
  * frozen-artifact scoring ([[ScoreStream]]), bounded top-n
  * ([[Reservoir]]) and mergeable counts ([[CountStream]]): graph state
  * folded per batch, recomputing ONLY the components the batch's new
  * edges touch.
  *
  * The batch operator (q51: [[Dedup.lshJaccardPairs]] →
  * [[Dedup.connectedComponents]]) recomputes every cluster from ALL
  * pairs each run; a continuously-deduped crawl needs membership
  * maintained as documents land (the reference's own dedup horizon is
  * incremental — state TTL, `pkg/usecase/usecase.go:37`). Two pieces of
  * state under `storeDir`:
  *
  *  - `sigs/batch=<id>/` + `bands/batch=<id>/` — each batch's
  *    (doc, sh, sig) staging ([[Dedup.stagedSigs]], the SAME projection
  *    the batch pipeline uses) and its band rows, append-only and
  *    idempotent (a re-delivered batch overwrites its own subdirs).
  *    This is the probe corpus; the manifest lists the LIVE dirs, so a
  *    crashed fold's ghost write is invisible until its batch
  *    re-delivers, and [[compactStores]] bin-packs the one-dir-per-
  *    batch accretion between drains (the tx-log compaction
  *    discipline). Every row carries its landing batch id (`__batch`),
  *    which is what [[expire]]'s retention horizon cuts on.
  *  - `edges/batch=<id>/` — each batch's VERIFIED near-dup edges
  *    (batch-bounded, already materialized by the fold), kept so
  *    [[expire]] can recompute the exact batch CC over the retained
  *    window: labels alone collapse connectivity into component ids,
  *    so dropping an expired bridge doc from labels could never split
  *    the component it once joined — the retained edge set can.
  *  - `labels/` — the (id, comp, members, bks) table, hash-bucketed BY
  *    ID (a row's bucket never changes — comp updates rewrite in place)
  *    behind a MANIFEST mapping bucket → data dir. A fold rewrites only
  *    the buckets holding changed rows; untouched buckets carry forward
  *    as manifest pointers (the tx-log discipline applied to graph
  *    state). `members`/`bks` are the component's member count and
  *    member-bucket set, DENORMALIZED onto every row: the fold rewrites
  *    every touched-comp row anyway, so the index is maintained for
  *    free, and the roots probe returns it in the job it already pays.
  *
  * Per-batch fold:
  *  1. edge generation — batch-internal LSH candidates + a one-sided
  *     probe of the band store (batch band keys BROADCAST; the corpus
  *     side is scanned map-side, column-pruned to the narrow
  *     (doc, band_key) pair, and never shuffled — the q126 discipline),
  *     then every candidate exact-Jaccard verified against shingles
  *     fetched from ONLY the candidates' id-buckets of the COMPACTED
  *     sig bulk plus the small flat post-compaction tail
  *     ([[SigBuckets]] — the fat read made candidate-sized on a
  *     maintained store).
  *     The union over batches equals the batch pipeline's edge set
  *     exactly: a pair lands in whichever batch carries its later
  *     endpoint.
  *  2. touched roots — endpoints' current labels + their components'
  *     denormalized (members, bks) index, read from ONLY the endpoints'
  *     id-buckets (pruned by construction). The member guard sums the
  *     EXACT touched sizes with zero extra jobs at any store size.
  *  3. member fetch — rows of touched components, read from ONLY the
  *     touched components' member buckets (the index's bks union),
  *     map-side broadcast-filtered, column-pruned, shuffle-free —
  *     fetch bytes track the touched components, never the store.
  *  4. local CC — [[Dedup.connectedComponents]] over (new edges ∪ star
  *     edges member→root). Star edges preserve existing connectivity,
  *     so the pointer-jumping iterations run over touched components +
  *     the batch ONLY, never the whole graph; comp = min id globally
  *     because every old label is itself a member id.
  *  5. bucket rewrite — the touched buckets' rows (kept + changed)
  *     land in ONE flat single-file run `labels/data/batch=<id>`
  *     (`__bk` a data column — the per-fold partitionBy this replaced
  *     paid the dynamic-partition commit on every touched bucket, the
  *     fold's largest measured lap); the manifest repoints exactly
  *     those buckets at the run (tmp+atomic-rename, batch-id pointer =
  *     the replay guard). Readers filter each run to its LIVE buckets;
  *     [[compactStores]] rebuilds the read-optimized partitioned bulk
  *     (`data/compact-<id>/__bk=<k>`) and sweeps superseded runs.
  *
  * The invariant after every fold: the label table equals
  * `connectedComponents(all edges seen so far)` — so the batch oracle
  * (q51's recursive-CTE closure) adjudicates the streaming path
  * unchanged, at any trigger boundary. */
object ClusterStream {

  /** Label-store buckets. More buckets = finer rewrite granularity
    * (per-fold write IO ∝ touched buckets) at the cost of more files;
    * resize requires a rebuild (the manifest pins the count). */
  val DefaultBuckets = 64

  /** Local-subgraph ceiling for the per-fold union-find: the fold's
    * working set — new edges PLUS the touched components' members
    * (their star edges) — runs as a driver union-find (microseconds,
    * zero Spark jobs) only below this count, instead of paying the
    * iterative CC's per-round fixed cost inside foreachBatch, where
    * AQE is unavailable. Above it, the fold falls back to the
    * distributed [[Dedup.connectedComponents]] (the guarded-broadcast
    * discipline of [[graft.sim.Mining.MaxBroadcastQueryRows]]). BOTH
    * terms are guarded: the edge count alone is batch-bounded, but the
    * member term is store-proportional — in crawl dedup, boilerplate
    * families accrete into mega-components, and ONE new edge touching
    * a 100M-row component must not collect the whole component onto
    * the driver. */
  val MaxLocalEdges: Long = 1L << 22

  /** Byte twin of [[MaxLocalEdges]]: the edge-count ceiling bounds the
    * union-find's ENTRY count, but with var-width ids (URL doc-ids)
    * the same count can be two orders of magnitude more driver heap —
    * 4M long pairs are ~67 MB of payload, 4M 200-char-URL pairs are
    * ~1.7 GB. This ceiling bounds the estimated collected PAYLOAD
    * (id bytes at their COLLECTED width — string ids price UTF-16,
    * ~2× their stored UTF-8 octets — plus a small per-value overhead;
    * JVM boxing multiplies the real heap by ~3-4×, which the default
    * prices in: 256 MB payload ≈ ≤1 GB heap). Fixed-width id types can never reach it below the
    * count ceiling, so long-id folds are guarded for free; var-width
    * folds price themselves with one cheap agg over the checkpointed
    * edges and route distributed when oversized. */
  val MaxLocalEdgeBytes: Long = 256L << 20

  /** Per-value overhead (object header + reference) added to each
    * var-width id's payload when pricing a collected pair. */
  private val VarIdOverheadBytes = 16L

  /** Estimated driver-payload bytes of ONE collected (a, b) pair.
    * Fixed-width types price statically (zero jobs). Var-width types
    * (string/binary) need the data: if even the 32-byte lower bound
    * trips the ceiling the answer is moot (caller routes distributed
    * regardless), otherwise ONE small aggregation over the
    * already-checkpointed edge frame measures the true mean width.
    * The measured width is UTF-8 octets; a collected java.lang.String
    * stores UTF-16 chars (~2× the octets for ASCII ids — URL doc-ids
    * are ASCII), so StringType prices at 2× the measured mean to keep
    * the 256 MB-payload ≈ ≤1 GB-heap mapping honest instead of
    * spending the whole boxing margin on the encoding gap. */
  private[streaming] def estimatedPairBytes(edges: DataFrame, eCount: Long,
      idType: org.apache.spark.sql.types.DataType,
      maxLocalEdgeBytes: Long): Long = idType match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.BinaryType =>
      val utf16 =
        if (idType == org.apache.spark.sql.types.StringType) 2L else 1L
      val lowerBound = 2L * VarIdOverheadBytes
      if (eCount <= 0 || eCount > maxLocalEdgeBytes / lowerBound) lowerBound
      else {
        val row = edges.agg(
          avg(octet_length(col("a")) + octet_length(col("b")))).head()
        val payload = Option(row.get(0))
          .map(_.toString.toDouble).getOrElse(0.0)
        math.max(lowerBound, math.ceil(payload).toLong * utf16 + lowerBound)
      }
    case dt => 2L * dt.defaultSize
  }

  /** Daemon threads for the fold's async sig/band store writes: the
    * dirs they write are read by NOTHING until a later fold probes
    * them, so the writes overlap the fold's candidate/edge computation
    * and commit paths await durability first. The pool is STRIPED by
    * store dir — a store always lands on the same single thread
    * (foreachBatch serializes a stream's triggers, so per-store write
    * order is preserved), while drains of DIFFERENT stores in one JVM
    * hash to different stripes and overlap instead of queueing behind
    * each other. Stripe threads are created lazily on first use. */
  private val StoreWriteStripes = 8
  private lazy val storeWriteEcs: Array[scala.concurrent.ExecutionContext] =
    Array.tabulate(StoreWriteStripes) { i =>
      scala.concurrent.ExecutionContext.fromExecutor(
        java.util.concurrent.Executors.newSingleThreadExecutor { r =>
          val t = new Thread(r, s"cluster-store-writes-$i")
          t.setDaemon(true); t
        })
    }
  private[streaming] def storeWriteEc(storeDir: String): scala.concurrent.ExecutionContext =
    storeWriteEcs(math.floorMod(storeDir.hashCode, StoreWriteStripes))

  /** Upper bound on waiting for a fold's async store writes
    * (`graft.cluster.storeWriteTimeout`, Spark time syntax, default
    * generous — a micro-batch's two cache-fed writes finish in
    * seconds; only a stalled filesystem reaches minutes). */
  private[streaming] def storeWriteTimeoutMs(spark: SparkSession): Long =
    org.apache.spark.network.util.JavaUtils.timeStringAsMs(
      spark.conf.get("graft.cluster.storeWriteTimeout", "10m"))

  /** The three local properties `SparkContext.setJobGroup` writes, and
    * the [[Span]] path — captured on the SUBMITTING thread (the
    * stream's micro-batch thread, whose job group the streaming engine
    * cancels on `query.stop()`) and re-set on the pool thread per
    * submission, so an async store write's Spark jobs stay cancellable
    * with the query instead of detaching onto a group-less daemon
    * thread and wedging the `awaitWrites` on stop, and carry the span
    * of the step that submitted them rather than the path the pool
    * thread inherited when it was created. */
  private val JobGroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", Span.Key)
  private[graft] def jobGroupSnapshot(
      sc: org.apache.spark.SparkContext): Seq[(String, String)] =
    JobGroupKeys.map(k => k -> sc.getLocalProperty(k))
  private[graft] def withJobGroup[T](sc: org.apache.spark.SparkContext,
      props: Seq[(String, String)])(body: => T): T = {
    props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    body
  }

  /** Id-bucket count of the COMPACTED signature layout
    * (`sigs/compact-<id>/__bk=<k>/`): the candidate verify is the
    * fold's fat read — shingle arrays dwarf the narrow (doc, band_key)
    * table — and candidates are FEW (only band-colliding docs), so the
    * fetch prunes to the candidates' id-buckets instead of scanning
    * every doc's shingles per fold. The layout is LSM-shaped: each
    * fold writes its own batch dir FLAT (one file, write-optimized —
    * partitioning per micro-batch measured a 64-small-files-per-
    * trigger storm), and [[compactStores]] rewrites the accumulated
    * bulk id-bucket partitioned (read-optimized) — so a maintained
    * store probes the compacted bulk pruned and only the recent
    * post-compaction tail flat. Stamped in the manifest; a store
    * stamped 0 stays flat everywhere. */
  val SigBuckets: Int = 64

  /** Band-key-bucket count of the COMPACTED band layout
    * (`bands/compact-<id>/__bk=<k>/`) — the same LSM discipline as
    * [[SigBuckets]] applied to the probe's OTHER store-proportional
    * scan: the (doc, band_key) table is narrow but ∝ corpus, and the
    * probe only ever needs the rows whose band_key collides with the
    * batch's keys, so the compacted bulk partitions by band-key bucket
    * and the probe prunes with the broadcast batch keys' bucket list
    * (+ sentinel for the flat post-compaction tail). Per-batch dirs
    * stay flat (write-optimized); stamped in the manifest. */
  val BandBuckets: Int = 64

  private val SigBucketCol = "__bk"

  /** Sentinel bucket for rows in the flat (not yet compacted) sig
    * dirs: never a real bucket value, so the prune filter keeps every
    * flat row while the partitioned dirs prune to candidates. */
  private val FlatBucket = -1

  /** Is this store dir a flat per-batch run (vs a compacted/expired
    * consolidated dir — for sigs, id-bucket partitioned on a stamped
    * store)? Name-based: the fold writes only `<area>/batch=<id>`
    * runs; maintenance writes only `compact-*` / `expire-*`. */
  private def isFlatRun(rel: String): Boolean = rel.contains("/batch=")

  /** Read an LSM area's (sigs or bands) live dirs —
    * [[graft.dedup.LsmIndex.readMixed]] with this store's sentinel
    * convention (one shared LSM core; the persisted dedup indexes are
    * the other consumer). */
  private def readLsm(spark: SparkSession, storeDir: String,
      dirs: Seq[String]): DataFrame =
    graft.dedup.LsmIndex.readMixed(spark, dirs.map(d => s"$storeDir/$d"),
      isFlatRun, SigBucketCol, FlatBucket)

  /** Drain `stream` with AvailableNow, folding each micro-batch into
    * the cluster state at `storeDir`; returns the final (id, comp)
    * labels — exactly [[Dedup.connectedComponents]] over the union of
    * all near-dup pairs in everything fed. Ids must be unique across
    * the feed (each document lands once — the replay-idempotence key,
    * as in [[Reservoir]]), and the store is bound to ONE checkpoint
    * lineage: resume later drains with the SAME `checkpointDir`. The
    * binding is ENFORCED — the first fold stamps the checkpoint
    * identity into the manifest, and a fold arriving from a different
    * lineage fails loudly instead of silently no-oping when its
    * restarted batch ids fall below the store's pointer (the batch-id
    * replay guard cannot tell a fresh stream from a redelivery — the
    * [[CountStream]] contract). */
  def streamClusters(spark: SparkSession, stream: DataFrame,
      storeDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, threshold: Double = 0.8,
      k: Int = 128, bands: Int = 32,
      nBuckets: Int = DefaultBuckets,
      maxLocalEdges: Long = MaxLocalEdges,
      maxLocalEdgeBytes: Long = MaxLocalEdgeBytes): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val ckptId = Paths.get(checkpointDir).toAbsolutePath.normalize.toString
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Span("fold")(fold(spark, storeDir, batch, idCol, textCol, shingleK,
          threshold, k, bands, nBuckets, batchId, maxLocalEdges, ckptId,
          maxLocalEdgeBytes))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    clusters(spark, storeDir)
  }

  /** The committed (id, comp) labels — empty before the first fold.
    * The per-component index columns the fold maintains (`members`,
    * `bks`) are internal and projected away here; flat fold runs are
    * filtered to their LIVE buckets (see [[readBuckets]]). */
  def clusters(spark: SparkSession, storeDir: String): DataFrame =
    readManifest(storeDir) match {
      case Some(m) if m.buckets.nonEmpty =>
        readBuckets(spark, storeDir, m, m.buckets.keySet)
          .select(col("id"), col("comp"))
      case _ =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("comp",
              org.apache.spark.sql.types.LongType))))
    }

  /** Last folded batch id, if any (the replay guard's pointer). */
  def lastBatch(storeDir: String): Option[Long] = readManifest(storeDir).map(_.batchId)

  /** One-line operational summary of the store (CLI `cluster status`):
    * batch pointer, maintained label rows, live state-dir counts (how
    * overdue `cluster compact` is), and the bound checkpoint lineage. */
  def status(storeDir: String): Option[String] = readManifest(storeDir).map { m =>
    s"cluster store $storeDir: batch=${m.batchId}, label rows=" +
      (if (m.rows >= 0) m.rows.toString else "unknown") +
      s" across ${m.buckets.size}/${m.nBuckets} buckets; " +
      s"${m.sigDirs.size} sig + ${m.bandDirs.size} band + " +
      s"${m.edgeDirs.size} edge dirs (sigBk=${m.sigBk}, bandBk=${m.bandBk}); " +
      (if (m.ckpt.isEmpty) "no checkpoint lineage bound"
       else s"lineage ${m.ckpt}")
  }

  // ---- the per-batch fold ----

  private[streaming] def fold(spark: SparkSession, storeDir: String,
      batch: DataFrame, idCol: String, textCol: String, shingleK: Int,
      threshold: Double, k: Int, bands: Int, nBuckets: Int,
      batchId: Long, maxLocalEdges: Long = MaxLocalEdges,
      ckptId: String = "",
      maxLocalEdgeBytes: Long = MaxLocalEdgeBytes): Unit = {
    require(!Files.exists(lockFile(storeDir)),
      s"cluster store at $storeDir is locked by an in-progress compaction " +
        "(labels/COMPACT.lock) — compaction runs BETWEEN drains; if no " +
        "compaction is running, a crashed one left the lock: delete it")
    val cur = readManifest(storeDir)
    // lineage check FIRST: a second stream's restarted batch ids fall
    // below the pointer, and the replay no-op below would silently
    // swallow its folds — fail loudly instead
    cur.foreach(m => require(
      ckptId.isEmpty || m.ckpt.isEmpty || m.ckpt == ckptId,
      s"cluster store at $storeDir is bound to checkpoint lineage " +
        s"'${m.ckpt}' but this fold arrived from '$ckptId' — the store's " +
        "batch-id replay guard tracks ONE stream; resume with the " +
        "original checkpoint dir or point the new stream at a fresh store"))
    if (cur.exists(_.batchId >= batchId)) return // at-least-once replay: no-op
    cur.foreach(m => require(m.nBuckets == nBuckets,
      s"label store at $storeDir was built with nBuckets=${m.nBuckets}, " +
        s"fold called with $nBuckets — resizing requires a rebuild"))

    def bucketOf(c: Column): Column = pmod(hash(c), lit(nBuckets))

    // the prior corpus is whatever the committed manifest lists — a
    // ghost dir from a crashed fold is not listed and is invisible
    // until its batch re-delivers and re-registers it
    val priorSigDirs = cur.map(_.sigDirs).getOrElse(Nil)
    val priorBandDirs = cur.map(_.bandDirs).getOrElse(Nil)
    val ownDirs = NewDirs(Seq(s"sigs/batch=$batchId"),
      Seq(s"bands/batch=$batchId"), Seq(s"edges/batch=$batchId"))

    // NOT spread before signaturing, unlike [[ScoreStream]]'s scorers:
    // measured A/B (r14) shows the fold LOSES ~15-25% to the
    // round-robin shuffle — its heavy laps (cross-edge probe, roots,
    // member fetch) are store-side and already parallel, the batch
    // side rides one cached single-task stage, and the spread's extra
    // exchange plus 32-way tiny downstream stages cost more than the
    // one task saves. The scoring drains have the opposite profile
    // (per-row tokenize+join work dominated by the batch side).
    val sigsB = Dedup.stagedSigs(batch, idCol, textCol, shingleK, k).persist()
    // the batch's own sig/band dirs are read by NOTHING in this fold
    // (the probe scans only the manifest's PRIOR dirs), so their two
    // cache-fed writes run async and overlap the candidate/edge
    // computation — they only need to be durable before a commit
    // registers them (every commit path awaits first)
    var storeWrites: Option[scala.concurrent.Future[Unit]] = None
    // FINITE await (graft.cluster.storeWriteTimeout, default 10m): with
    // job-group propagation a query.stop() already cancels in-flight
    // writes, but a plain filesystem stall has no canceller — a bounded
    // await converts a forever-wedged drain into a loud, retryable fold
    // failure (the batch re-delivers from the checkpoint)
    val writeWait = scala.concurrent.duration.Duration(
      storeWriteTimeoutMs(spark), java.util.concurrent.TimeUnit.MILLISECONDS)
    // set when awaitWrites already burned the full budget on this
    // future: the finally-path drain then waits only a short fixed
    // bound (the cancellation below settles a write promptly) instead
    // of doubling the timeout on the same wedged future
    var awaitTimedOut = false
    def awaitWrites(): Unit = storeWrites.foreach { f =>
      try scala.concurrent.Await.result(f, writeWait)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          awaitTimedOut = true
          // kill the straggler's Spark jobs (they run under the
          // stream's cancellable group) before the replay can overwrite
          // the same batch dirs, then fail the fold loudly
          Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
            .foreach(spark.sparkContext.cancelJobGroup(_))
          sys.error(s"async sig/band store write for batch $batchId did " +
            s"not complete within $writeWait — failing the fold (set " +
            "graft.cluster.storeWriteTimeout to raise the bound; the " +
            "batch re-delivers on restart)")
      }
    }
    // the stream's job group, re-set on the writer stripe per
    // submission so query.stop() cancels in-flight store writes
    val jobProps = jobGroupSnapshot(spark.sparkContext)
    val writeEc = storeWriteEc(storeDir)
    try {
      // eager fill: banding + both verify joins must hit the cache; the
      // count also decides registration below
      val nSigs = Span("stage-sigs")(sigsB.count())
      if (nSigs == 0) {
        // every doc too short to shingle (or an empty trigger): no
        // signatures, no possible edge — advance the pointer WITHOUT
        // registering dirs (a 0-row parquet write may carry no data
        // file, and an empty dir in the manifest would break later
        // multi-dir probe reads)
        commit(storeDir, cur, Map.empty, nBuckets, batchId,
          NewDirs(Nil, Nil, Nil), ckptId, cur.map(_.rows).getOrElse(0L))
        return
      }
      val bandB = Dedup.banded(sigsB, "doc", "sig", bands)
        .select(col("doc"), col("band_key"))
      // idempotent under redelivery: the batch owns its subdirs. Band
      // rows persist alongside the signatures so each document is
      // banded ONCE, at its own fold — later folds probe the stored
      // band table instead of re-banding the whole corpus (the
      // [[graft.dedup.BandIndex]] discipline; re-banding per fold would
      // make total banding work quadratic in the batch count). Every
      // row carries its landing batch id — [[expire]]'s horizon column,
      // preserved across compaction (probes prune it away)
      // per-batch dirs write FLAT (one file — write-optimized; the
      // read-optimized id-bucket partitioning happens at compaction,
      // the LSM discipline — see [[SigBuckets]]). Pruning (and its
      // tiny bucket-list job) only pays once a compacted bulk exists —
      // an all-flat store probes the unpruned fast shape unchanged
      val sigBk =
        if (priorSigDirs.forall(isFlatRun)) 0
        else cur.map(_.sigBk).getOrElse(SigBuckets)
      val bandBk =
        if (priorBandDirs.forall(isFlatRun)) 0
        else cur.map(_.bandBk).getOrElse(BandBuckets)
      storeWrites = Span("store-writes-submit")(Some(scala.concurrent.Future {
        withJobGroup(spark.sparkContext, jobProps)(Span("store-writes") {
          sigsB.withColumn("__batch", lit(batchId))
            .write.mode("overwrite").parquet(s"$storeDir/sigs/batch=$batchId")
          bandB.withColumn("__batch", lit(batchId))
            .write.mode("overwrite").parquet(s"$storeDir/bands/batch=$batchId")
          afterStoreWrites(storeDir)
        })
      }(writeEc)))

      // batch-internal edges (the q51 pipeline restricted to the batch).
      // NOT materialized on its own: the candidate plan is single-use
      // (it runs exactly once, inside `edges`' checkpoint job), and
      // both verify joins broadcast the CACHED batch side — sigsB's
      // in-memory stats drive the strategy, so candidate-side estimates
      // never matter. A separate eager here was one pure
      // materialization job per trigger, measured ~0.2-0.4 s of
      // one-file-trigger floor
      val internal = Span("internal-cand")(
        Dedup.lshCandidates(sigsB, "doc", "sig", bands)
          .join(sigsB.select(col("doc").as("a"), col("sh").as("sha")), "a")
          .join(sigsB.select(col("doc").as("b"), col("sh").as("shb")), "b")
          .filter(Dedup.jaccard(col("sha"), col("shb")) >= threshold)
          .select(col("a"), col("b")))

      // cross edges vs the PRIOR corpus: batch band keys broadcast, the
      // stored band table scanned map-side, candidates fetched back
      // one-sided — the corpus is never shuffled, never re-signatured,
      // never re-banded
      val edges = Span("edges") {
        if (priorSigDirs.isEmpty) graft.util.Materialize.eager(internal)
        else {
          val cross = crossEdges(
            readLsm(spark, storeDir, priorBandDirs),
            readLsm(spark, storeDir, priorSigDirs),
            bandB, sigsB, threshold, sigBk = sigBk, bandBk = bandBk)
          graft.util.Materialize.eager(internal.unionByName(cross))
        }
      }
      // the guard job: one count over the checkpointed edges
      val eCount = edges.count()
      if (eCount == 0) { // nothing to merge — just advance the pointer
        awaitWrites()
        commit(storeDir, cur, Map.empty, nBuckets, batchId,
          ownDirs.copy(edges = Nil), ckptId,
          cur.map(_.rows).getOrElse(0L)); return
      }
      // verified edges persist (batch-bounded, already materialized):
      // the retained-window edge set [[expire]] recomputes the CC over.
      // Read by nothing in THIS fold (the CC runs off the checkpointed
      // frame, expire runs between drains), so it chains onto the
      // writer thread behind the sig/band writes — the probe below
      // runs meanwhile; a failed sig/band write skips it and the
      // commit-path await surfaces the failure either way
      storeWrites = storeWrites.map(_.map { _ =>
        withJobGroup(spark.sparkContext, jobProps) {
          edges.withColumn("__batch", lit(batchId))
            .write.mode("overwrite").parquet(s"$storeDir/edges/batch=$batchId")
        }
      }(writeEc))
      val idType = edges.schema("a").dataType
      // the BYTE twin of the edge-count guard: 4M edges of 8-byte longs
      // and 4M edges of 200-byte URL ids are different driver-heap
      // animals; pairBytes prices one collected pair for THIS id type
      // (fixed-width: statically, zero jobs; var-width: one cheap agg
      // over the checkpointed edges, skipped when the lower bound
      // already trips) so wide string ids route distributed well below
      // the count ceiling instead of collecting hundreds of MB
      lazy val pairBytes = estimatedPairBytes(edges, eCount, idType,
        maxLocalEdgeBytes)
      if (eCount > maxLocalEdges || eCount > maxLocalEdgeBytes / pairBytes) {
        // past the batch-bounded envelope: the distributed path —
        // touched components derived by semi-join (the batch is
        // over-size, so endpoints never collect), iterative CC,
        // touched-bucket rewrite. Correct at any size, none of the
        // fast path's driver state.
        awaitWrites()
        return foldDistributed(spark, storeDir, cur, edges, bucketOf,
          nBuckets, batchId, ownDirs, ckptId, rootInfo = None)
      }

      // batch-bounded fast path: everything below is the same size
      // class as the candidate broadcasts the probe already ships, so
      // it lives on the driver — zero shuffles, three jobs total
      // (roots probe, member fetch, bucket write)
      val edgeRows =
        Span("edge-collect")(edges.collect().map(r => (r.get(0), r.get(1))))
      val endpointSet = edgeRows.iterator
        .flatMap { case (a, b) => Iterator(a, b) }.toSet

      // touched roots + the per-component index, in the ONE probe job
      // the roots read always was: every label row carries its
      // component's member count and member-BUCKET set (`members`,
      // `bks`) — denormalized ON the labels rather than kept as a side
      // table, because the fold rewrites every touched-comp row anyway
      // (index maintenance costs zero extra jobs, the r12-measured
      // per-fold-job tax) and the endpoints' id-buckets are the probe's
      // natural prune. The guard then has EXACT touched-component sizes
      // with no counting job at ANY store size, and the member fetch
      // below reads only the touched components' buckets instead of the
      // whole label store — the fold's last corpus-proportional read,
      // gone
      def idsDf(ids: Iterable[Any], as: String) =
        ClusterStream.idsDf(spark, ids, as, idType)
      val rootInfo: Map[Any, (Option[Long], Option[Set[Int]])] =
        Span("roots")(cur.filter(_.buckets.nonEmpty)
          .map(m => probeRoots(spark, storeDir, m, endpointSet, idType))
          .getOrElse(Map.empty))
      val roots: Set[Any] = rootInfo.keySet

      // the member bound, exact and job-free when every touched comp
      // carries the index; a legacy comp falls back to the maintained
      // row total (an upper bound), then to one pruned count — one new
      // edge into a mega-component (crawl boilerplate families) must
      // not pull the whole component onto the driver, so oversized
      // folds route to the distributed path BEFORE anything collects
      val memberCount: Long = Span("member-count") {
        if (roots.isEmpty) 0L
        else if (rootInfo.values.forall(_._1.isDefined))
          rootInfo.values.map(_._1.get).sum
        else cur.map(_.rows).filter(_ >= 0) match {
          case Some(total) if eCount + total <= maxLocalEdges => total
          case _ => readBuckets(spark, storeDir, cur.get, cur.get.buckets.keySet)
            .join(broadcast(idsDf(roots, "comp")), "comp").count()
        }
      }
      // member rows collect as (member, root) pairs of the same id
      // type, so the byte guard prices them with the same pairBytes
      if (eCount + memberCount > maxLocalEdges ||
          eCount + memberCount > maxLocalEdgeBytes / pairBytes) {
        awaitWrites()
        return foldDistributed(spark, storeDir, cur, edges, bucketOf,
          nBuckets, batchId, ownDirs, ckptId, Some(rootInfo))
      }
      // members of touched components as star edges (member → current
      // root): touched components' connectivity rides into the
      // union-find, so the result is exactly the batch CC over
      // everything seen
      val starRows: Array[(Any, Any)] = Span("members") {
        if (roots.isEmpty) Array.empty
        else fetchMembers(spark, storeDir, cur.get, rootInfo, idType)
      }

      val labels = Span("cc")(unionFind(edgeRows ++ starRows, idOrdering(idType)))

      // rewrite exactly the buckets holding changed rows; carry the
      // rest forward as manifest pointers. Every written row carries
      // its component's refreshed index (members, bks) — every member
      // of a touched comp is a union-find key, so no stale index row
      // can survive a fold
      val tb = labels.keysIterator.map(bucketOfValue(_, idType, nBuckets)).toSet
      Span("keep-write") {
        val newLabels = driverLabelsDf(spark, labels, idType, nBuckets)
        val keep = cur.map(_.buckets.keySet.intersect(tb)) match {
          case Some(hit) if hit.nonEmpty =>
            val bkt = readBuckets(spark, storeDir, cur.get, hit)
            // untouched rows carry their stored index forward unchanged
            // (legacy rows stay null until their comp is next touched)
            val inTb = if (bkt.columns.contains("members")) bkt
            else bkt.withColumn("members", lit(null).cast("long"))
              .withColumn("bks", lit(null).cast("array<int>"))
            if (roots.isEmpty) inTb
            else inTb.join(broadcast(idsDf(roots, "comp")), Seq("comp"), "left_anti")
          case _ => newLabels.limit(0)
        }
        keep.unionByName(newLabels)
          // joins reorder — pin the layout
          .select(col("id"), col("comp"), col("members"), col("bks"))
          .withColumn(SigBucketCol, bucketOf(col("id")))
          // ONE flat single-file commit (batch-bounded by the fast-path
          // guard), __bk a data column — the per-fold partitionBy this
          // replaced paid the dynamic-partition commit protocol on every
          // touched bucket dir, measured as the fold's LARGEST lap
          // (~1.5 s of a ~2.6 s trigger at sf0.1); readers filter each
          // flat run to its live buckets, and compaction rebuilds the
          // read-optimized partitioned bulk (the sig-store LSM
          // discipline applied to labels)
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(s"$storeDir/labels/data/batch=$batchId")
      }
      Span("label-rewrite") {
        val repointed = tb.map(bk => bk -> s"data/batch=$batchId").toMap
        // every touched-comp member is a union-find key, so the store's
        // row total moves by exactly (labels written) - (members replaced)
        // -- maintained driver-side, no counting job
        val newRows = cur.map(_.rows).getOrElse(0L) match {
          case known if known >= 0 => known - starRows.length + labels.size
          case _ => -1L // legacy store without a maintained total
        }
        awaitWrites()
        commit(storeDir, cur, repointed, nBuckets, batchId, ownDirs, ckptId,
          newRows)
      }
    } finally {
      // on ANY exit (incl. an exception upstream of the awaits): never
      // leave a straggler write racing a redelivered fold's overwrite
      // of the same batch dirs. `ready`, not `result` — a failed write
      // must not mask the original exception on an already-failing
      // path. Bounded like awaitWrites, but if awaitWrites ALREADY
      // burned the full budget on this future, only a short drain is
      // waited here (the cancellation settles a write promptly) — not
      // a second full timeout on the same wedged future. A NON-job FS
      // stall past the bound is warned loudly instead of wedging the
      // failing path forever.
      val drainWait = if (!awaitTimedOut) writeWait
        else scala.concurrent.duration.Duration(10,
          java.util.concurrent.TimeUnit.SECONDS)
      storeWrites.foreach { f =>
        if (scala.util.Try(scala.concurrent.Await.ready(f, drainWait)).isFailure)
          System.err.println(s"[cluster] WARNING: batch $batchId's async " +
            s"store write is still unfinished after $drainWait — a " +
            "straggler may race this batch's redelivery; investigate the " +
            s"filesystem under $storeDir")
      }
      sigsB.unpersist(blocking = false)
    }
  }

  /** The over-guard fallback: iterative distributed CC over (new edges
    * ∪ the TOUCHED components' star edges), rewriting only the buckets
    * holding changed rows — correct at any size, nothing batch-sized on
    * the driver. `rootInfo` is the fast path's probe when the member
    * guard routed here (touched roots known, the star fetch prunes by
    * the comp index); the edge-guard route passes None and derives the
    * touched components distributively instead (the batch itself is
    * over-size, so endpoints never collect). Degenerates to a full
    * rewrite exactly when the touched components span every bucket. */
  private def foldDistributed(spark: SparkSession, storeDir: String,
      cur: Option[Manifest], edges: DataFrame, bucketOf: Column => Column,
      nBuckets: Int, batchId: Long,
      ownDirs: NewDirs, ckptId: String,
      rootInfo: Option[Map[Any, (Option[Long], Option[Set[Int]])]]): Unit = {
    val idType = edges.schema("a").dataType
    val mf = cur.filter(_.buckets.nonEmpty)
    // star edges (member -> current root) of the touched components,
    // plus the roots frame the keep-side anti-join filters on (None =
    // no prior component touched)
    val empty = edges.limit(0).select(col("a"), col("b"))
    val (stars, rootsDf): (DataFrame, Option[DataFrame]) = mf match {
      case None => (empty, None)
      case Some(m) => rootInfo match {
        case Some(ri) if ri.isEmpty => (empty, None)
        case Some(ri) =>
          // roots collected by the fast path's probe: broadcast them;
          // the star fetch prunes to the touched comps' buckets when
          // every touched comp carries the index
          val src =
            if (ri.values.forall(_._2.isDefined))
              readBuckets(spark, storeDir, m, m.buckets.keySet
                .intersect(ri.values.flatMap(_._2.get).toSet))
            else readBuckets(spark, storeDir, m, m.buckets.keySet)
          val roots = broadcast(idsDf(spark, ri.keySet, "comp", idType))
          (src.select(col("id"), col("comp")).join(roots, "comp")
            .select(col("id").as("a"), col("comp").as("b")), Some(roots))
        case None =>
          // over-size batch: touched comps = labels semi-joined on the
          // batch's endpoints, fully distributed (no driver state)
          val all = readBuckets(spark, storeDir, m, m.buckets.keySet)
            .select(col("id"), col("comp"))
          val eps = edges.select(col("a").as("id"))
            .unionByName(edges.select(col("b").as("id"))).distinct()
          val roots = graft.util.Materialize.eager(
            all.join(eps, "id").select(col("comp")).distinct())
          (all.join(roots, "comp")
            .select(col("id").as("a"), col("comp").as("b")), Some(roots))
      }
    }
    val starsM = graft.util.Materialize.eager(stars)
    val starCount = starsM.count()
    val cc = graft.util.Materialize.eager(
      Dedup.connectedComponents(edges.unionByName(starsM), "a", "b"))
    val ccCount = cc.count()
    // the buckets holding changed rows — the one driver-sized collect
    // (<= nBuckets ints); untouched buckets carry forward as pointers
    val tb: Set[Int] = cc.select(bucketOf(col("id")).as("__bk"))
      .distinct().collect().map(_.getInt(0)).toSet
    val newLabels = withCompIndex(cc.select(col("id"), col("comp")), bucketOf)
    val keep = mf.map(_.buckets.keySet.intersect(tb)) match {
      case Some(hit) if hit.nonEmpty =>
        val bkt = readBuckets(spark, storeDir, mf.get, hit)
        val inTb = (if (bkt.columns.contains("members")) bkt
          else bkt.withColumn("members", lit(null).cast("long"))
            .withColumn("bks", lit(null).cast("array<int>")))
          .withColumn("__bk", bucketOf(col("id")))
        rootsDf match {
          case Some(r) => inTb.join(r, Seq("comp"), "left_anti")
          case None => inTb
        }
      case _ => newLabels.limit(0)
    }
    // one file per touched bucket at any size (exact repartition — AQE
    // is off inside the streaming foreachBatch, see LsmIndex.writeBulk)
    graft.dedup.LsmIndex.writeBulk(
      keep.unionByName(newLabels)
        .select(col("id"), col("comp"), col("members"), col("bks")),
      s"$storeDir/labels/data/batch=$batchId", "__bk", bucketOf(col("id")),
      rebalance = false)
    // every changed row re-landed in its (id-stable) bucket, so the
    // written set must cover the computed touched set
    val written = {
      val base = Paths.get(storeDir, "labels", "data", s"batch=$batchId")
      val ls = Files.list(base)
      try ls.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("__bk=")).map(_.drop(5).toInt).toSet
      finally ls.close()
    }
    require(tb.subsetOf(written),
      s"touched-bucket rewrite lost buckets ${tb.diff(written)} — rows " +
        "never vanish")
    // every touched-comp member is a CC key, so the row total moves by
    // exactly (cc rows) - (stars replaced) — same identity as the fast
    // path, off two counts of already-materialized frames
    val newRows = cur.map(_.rows).getOrElse(0L) match {
      case known if known >= 0 => known - starCount + ccCount
      case _ => -1L // legacy store without a maintained total
    }
    commit(storeDir, cur,
      written.map(bk => bk -> s"data/batch=$batchId/__bk=$bk").toMap,
      nBuckets, batchId, ownDirs, ckptId, newRows)
  }

  /** The cross-batch probe plan, exposed for the plan-shape pin: the
    * stored band table joins the BROADCAST batch band keys, candidate
    * ids broadcast back into the stored-signature fetch, and the exact
    * Jaccard verify runs where the shingles land — the corpus side is
    * scanned map-side twice and never shuffled (the q126 one-sided
    * discipline). `materialize` checkpoints the candidate set in
    * production (exact stats for the fetch) and is identity in the
    * plan pin so the whole composition is visible. */
  private[graft] def crossEdges(corpusBands: DataFrame, corpusSigs: DataFrame,
      bandB: DataFrame, sigsB: DataFrame, threshold: Double,
      materialize: DataFrame => DataFrame = graft.util.Materialize.eager,
      sigBk: Int = 0, bandBk: Int = 0): DataFrame = {
    // the band scan prunes to the BATCH KEYS' band-key buckets when the
    // compacted band bulk is partitioned (manifest-stamped bandBk > 0):
    // the bucket list is one tiny job over the cached batch bands
    // (≤ batch docs × bands keys), and non-colliding buckets — the vast
    // majority of a large corpus' band rows — are never read. Flat
    // (post-compaction tail) rows ride the sentinel, as with sigs.
    val prunedBands =
      if (bandBk <= 0) corpusBands
      else {
        val bks = bandB
          .select(pmod(hash(col("band_key")), lit(bandBk)).as(SigBucketCol))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
        corpusBands.filter(col(SigBucketCol).isin(bks :+ FlatBucket: _*))
      }
    val candX = materialize(
      prunedBands.select(col("doc"), col("band_key"))
        .join(broadcast(bandB.withColumnRenamed("doc", "new_id")), "band_key")
        .select(col("new_id"), col("doc").as("corpus_id")).distinct())
    // the fetch's scan prunes to the CANDIDATES' id-buckets when the
    // sig layout is partitioned (manifest-stamped sigBk > 0): the
    // bucket list is metadata-sized (<= sigBk ints, one tiny job over
    // the materialized candidates) and lands as a static
    // PartitionFilter — the shingle column of non-candidate buckets is
    // never read. candidates ~ batch collisions << corpus, so this is
    // the fold's store-proportional FAT read made candidate-sized.
    val prunedSigs =
      if (sigBk <= 0) corpusSigs
      else {
        val bks = candX
          .select(pmod(hash(col("corpus_id")), lit(sigBk)).as(SigBucketCol))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
        // the sentinel keeps every not-yet-compacted (flat) row; the
        // partitioned compacted dirs prune to the candidates' buckets
        corpusSigs.filter(col(SigBucketCol).isin(bks :+ FlatBucket: _*))
      }
    val corpusSh = prunedSigs
      .select(col("doc").as("corpus_id"), col("sh").as("csh"))
      .join(broadcast(candX.select("corpus_id").distinct()), "corpus_id")
    candX
      .join(corpusSh, "corpus_id")
      .join(sigsB.select(col("doc").as("new_id"), col("sh").as("nsh")), "new_id")
      .filter(Dedup.jaccard(col("csh"), col("nsh")) >= threshold)
      .select(col("new_id").as("a"), col("corpus_id").as("b"))
  }

  /** Bin-pack the one-dir-per-batch signature/band stores into a single
    * consolidated dir each — the bounded-growth maintenance every
    * per-batch store here carries (the tx-log / BigQuery-emulator
    * compaction discipline; without it a long-running drain accretes
    * one dir per micro-batch forever). Run BETWEEN drains, like
    * `corpus compact`. Crash-safe by the same referenced-never-deleted
    * rule as the label buckets: the consolidated dirs are written
    * first, the manifest swap is the commit, and only then are
    * unreferenced dirs swept — a crash at any point leaves a complete,
    * readable store. Returns (sig dirs before, band dirs before), or
    * None when there were fewer than `minDirs` of each. */
  def compactStores(spark: SparkSession, storeDir: String,
      minDirs: Int = 8): Option[(Int, Int, Int)] =
    compactStoresImpl(spark, storeDir, minDirs, () => ())

  /** [[compactStores]] with a test seam fired between the consolidated
    * writes and the manifest swap — where a concurrent fold's commit
    * would otherwise be clobbered. */
  private[streaming] def compactStoresImpl(spark: SparkSession,
      storeDir: String, minDirs: Int,
      beforeSwap: () => Unit): Option[(Int, Int, Int)] = {
    require(minDirs >= 2, s"minDirs must be >= 2, got $minDirs")
    readManifest(storeDir).flatMap { m =>
      if (m.sigDirs.size < minDirs && m.bandDirs.size < minDirs &&
        m.edgeDirs.size < minDirs) None
      else {
        // the documented contract is run-BETWEEN-drains; the lock makes
        // a concurrent fold fail loudly instead of racing the sweep
        // (fold checks it on entry), and a second compaction cannot
        // start while one holds it
        val lockToken = acquireMaintenanceLock(storeDir, "compaction")
        try {
          def abs(rel: String) = s"$storeDir/$rel"
          val (sigTo, bandTo, edgeTo) = (s"sigs/compact-${m.batchId}",
            s"bands/compact-${m.batchId}", s"edges/compact-${m.batchId}")
          val sigs = readLsm(spark, storeDir, m.sigDirs).drop(SigBucketCol)
          if (m.sigBk > 0)
            // the compaction rewrite is where the read-optimized layout
            // is built: recompute every row's id-bucket (flat rows
            // carry only the sentinel) and land one file per bucket
            graft.dedup.LsmIndex.writeBulk(sigs, abs(sigTo), SigBucketCol,
              pmod(hash(col("doc")), lit(m.sigBk)), rebalance = false)
          else sigs.write.mode("overwrite").parquet(abs(sigTo))
          // the band bulk lands band-key-bucket partitioned (the probe
          // prunes it with the batch keys' bucket list) — same LSM
          // rewrite as the sigs, different prune key
          val bands = readLsm(spark, storeDir, m.bandDirs).drop(SigBucketCol)
          if (m.bandBk > 0)
            graft.dedup.LsmIndex.writeBulk(bands, abs(bandTo), SigBucketCol,
              pmod(hash(col("band_key")), lit(m.bandBk)), rebalance = false)
          else bands.write.mode("overwrite").parquet(abs(bandTo))
          val newEdge = if (m.edgeDirs.isEmpty) Nil else {
            spark.read.parquet(m.edgeDirs.map(abs): _*)
              .write.mode("overwrite").parquet(abs(edgeTo))
            Seq(edgeTo)
          }
          // the label store's flat fold runs accrete too (one dir per
          // fold, each carrying stale superseded rows of repointed
          // buckets) — rewrite the LIVE rows into the read-optimized
          // partitioned bulk and repoint every bucket at its leaf
          val newBuckets: Map[Int, String] =
            if (m.buckets.isEmpty) m.buckets
            else {
              val gen = s"compact-${m.batchId}"
              graft.dedup.LsmIndex.writeBulk(
                readBuckets(spark, storeDir, m, m.buckets.keySet),
                s"$storeDir/labels/data/$gen", SigBucketCol,
                pmod(hash(col("id")), lit(m.nBuckets)), rebalance = false)
              val base = Paths.get(storeDir, "labels", "data", gen)
              val ls = Files.list(base)
              val written = try ls.iterator.asScala
                .map(_.getFileName.toString).filter(_.startsWith("__bk="))
                .map(_.drop(5).toInt).toSet
              finally ls.close()
              require(m.buckets.keySet.subsetOf(written),
                s"label compaction lost buckets ${m.buckets.keySet.diff(written)}")
              written.map(bk => bk -> s"data/$gen/__bk=$bk").toMap
            }
          beforeSwap()
          // abort on pointer movement: a fold committed since the read
          // above, and swapping would silently drop its registered dirs
          val m2 = readManifest(storeDir)
          require(m2.exists(_.batchId == m.batchId),
            s"cluster store at $storeDir advanced during compaction " +
              s"(batch ${m.batchId} -> ${m2.map(_.batchId).getOrElse(-1L)})" +
              " — compaction runs BETWEEN drains; aborting the swap")
          writeManifest(storeDir, m.copy(buckets = newBuckets,
            sigDirs = Seq(sigTo), bandDirs = Seq(bandTo),
            edgeDirs = newEdge, seq = m.seq + 1))
          sweepUnreferenced(storeDir, "sigs", Set(sigTo))
          sweepUnreferenced(storeDir, "bands", Set(bandTo))
          sweepUnreferenced(storeDir, "edges", newEdge.toSet)
          sweepLabels(storeDir, newBuckets.values.toSet)
          Some((m.sigDirs.size, m.bandDirs.size, m.edgeDirs.size))
        } finally StoreManifest.releaseHolderLock(lockFile(storeDir), lockToken)
      }
    }
  }

  /** RETENTION — the reference's dedup horizon is explicitly bounded
    * (state TTL, `pkg/usecase/usecase.go:37`); without one the sig/
    * band/label state grows forever. Drops every document that landed
    * BEFORE micro-batch `fromBatch` from the store and recomputes the
    * labels as the exact batch CC over the RETAINED window — but pays
    * only for the TOUCHED fraction (the fold's touched-bucket
    * discipline applied to retention):
    *
    *  - sig/band/edge dirs: a flat per-batch run holds exactly its
    *    landing batch, so it classifies BY NAME — wholly-retained runs
    *    carry forward as manifest references (never rewritten, never
    *    re-read), wholly-expired runs drop. Only consolidated dirs
    *    (compact-* / expire-*) mix batches; each pays one cheap dirty
    *    probe and is rewritten (filtered) only when it actually holds
    *    expired rows.
    *  - labels: only the components CONTAINING an expired doc are
    *    recomputed — expired ids resolve to their comps through the
    *    id-bucket-pruned label probe, the comps' denormalized bks
    *    index bounds the member fetch, and the CC reruns over exactly
    *    those comps' retained edges (size-guarded onto the fold's
    *    driver union-find when batch-bounded). Wholly-retained
    *    components' label rows and bucket pointers carry forward
    *    untouched.
    *
    * Recomputing from edges — not re-rooting labels — is what makes a
    * bridge doc's expiry SPLIT the component it once joined, matching
    * what a batch run over only the retained docs would produce; a
    * post-expiry drain therefore still satisfies the fold invariant
    * over the retained window. Edges whose EARLIER endpoint expired
    * may survive in carried-forward dirs (rewriting every dir to drop
    * them is exactly the full-store cut this replaces); they are DEAD
    * by the store's read contract — every edge consumer filters
    * endpoints against live members — and age out when a later horizon
    * passes their landing batch. Run BETWEEN drains (same lock as
    * [[compactStores]]). Returns (retained docs, label rows), or None
    * when the store is empty. */
  def expire(spark: SparkSession, storeDir: String,
      fromBatch: Long,
      maxLocalEdges: Long = MaxLocalEdges,
      maxLocalEdgeBytes: Long = MaxLocalEdgeBytes): Option[(Long, Long)] =
    expireImpl(spark, storeDir, fromBatch, () => (), maxLocalEdges,
      maxLocalEdgeBytes)

  /** Landing batch id of a flat per-batch run dir, by name (the
    * [[isFlatRun]] convention: maintenance dirs never contain
    * `/batch=`). */
  private val FlatRunRe = """.*/batch=(\d+)""".r

  /** [[expire]] with a test seam fired between the consolidated cuts
    * and the manifest swap (the compactStoresImpl pattern). The guard
    * ceilings are parameters (production callers ride the defaults) so
    * the local-vs-distributed CC boundary is testable at spec-sized
    * stores — the distributed route must produce the SAME labels as the
    * driver union-find it replaces. */
  private[streaming] def expireImpl(spark: SparkSession, storeDir: String,
      fromBatch: Long, beforeSwap: () => Unit,
      maxLocalEdges: Long = MaxLocalEdges,
      maxLocalEdgeBytes: Long = MaxLocalEdgeBytes): Option[(Long, Long)] =
    Span("expire")(readManifest(storeDir).map { m =>
      require(m.buckets.isEmpty || m.edgeDirs.nonEmpty,
        s"cluster store at $storeDir has labels but no retained edge " +
          "dirs (predates edge retention) — expiry cannot recompute the " +
          "retained-window CC; rebuild the store")
      val lockToken = acquireMaintenanceLock(storeDir, "expiry")
      try {
        def abs(rel: String) = s"$storeDir/$rel"
        // the edge-dirs guard above only catches a PURE pre-upgrade
        // store: on an upgraded one (old dirs + post-upgrade folds),
        // pre-upgrade sig/band rows lack the landing stamp — they read
        // back as null __batch through schema merge, and the
        // `__batch >= fromBatch` cut would silently drop them AND their
        // never-persisted edges. Fail like the guard instead: schema
        // first (footer-only), then a null probe. The probe is paid
        // ONLY by legacy (ver 0) stores: a manifest stamped
        // [[StampedVer]] — first fold of a fresh store, or a prior
        // expiry whose probe passed — makes this check a free manifest
        // read, and a passing probe upgrades the stamp at the swap so
        // a legacy store pays it at most once
        def requireStamped(area: String, dirs: Seq[String]): Unit =
          if (dirs.nonEmpty) {
            val df = readLsm(spark, storeDir, dirs)
            require(df.columns.contains("__batch") &&
              df.filter(col("__batch").isNull).isEmpty,
              s"cluster store at $storeDir has $area rows without a " +
                "landing-batch stamp (__batch) — they predate edge " +
                "retention, so expiry would silently lose those docs " +
                "and their components; rebuild the store")
          }
        if (m.ver < StampedVer) Span("stamp-probe") {
          requireStamped("sig", m.sigDirs)
          requireStamped("band", m.bandDirs)
        }
        val tag = s"expire-${m.batchId}-$fromBatch"

        // ---- the touched-partition cut. Flat per-batch runs classify
        // by NAME; a consolidated dir pays one dirty probe and is
        // rewritten (same layout, filtered) only when it actually holds
        // expired rows. Returns (live dirs after the cut, the expired
        // rows of every dropped/rewritten dir — lazily read, the label
        // pass consumes only the sig area's). ----
        def cutArea(area: String, dirs: Seq[String], partitionedBk: Int,
            bucketKey: String): (Seq[String], Seq[DataFrame]) = {
          val cut = dirs.zipWithIndex.map {
            case (rel @ FlatRunRe(id), _) =>
              if (id.toLong >= fromBatch) (Seq(rel), None)
              else (Nil, Some(spark.read.parquet(abs(rel))))
            case (rel, i) =>
              val df = spark.read.parquet(abs(rel))
              val expired = df.filter(col("__batch") < fromBatch)
              if (expired.isEmpty) (Seq(rel), None) // wholly retained
              else {
                val kept = df.filter(col("__batch") >= fromBatch)
                  .drop(SigBucketCol)
                if (kept.isEmpty) (Nil, Some(expired)) // wholly expired
                else {
                  // the consolidated cut keeps its read-optimized
                  // layout (recomputed buckets); deterministic name —
                  // a crashed expiry's ghost is overwritten on retry
                  val to = s"$area/$tag-$i"
                  if (partitionedBk > 0)
                    graft.dedup.LsmIndex.writeBulk(kept, abs(to), SigBucketCol,
                      pmod(hash(col(bucketKey)), lit(partitionedBk)),
                      rebalance = false)
                  else kept.write.mode("overwrite").parquet(abs(to))
                  (Seq(to), Some(expired))
                }
              }
          }
          (cut.flatMap(_._1), cut.flatMap(_._2))
        }
        val (sigLive, sigExpired) =
          Span("cut-sigs")(cutArea("sigs", m.sigDirs, m.sigBk, "doc"))
        val (bandLive, _) =
          Span("cut-bands")(cutArea("bands", m.bandDirs, m.bandBk, "band_key"))
        // edge dirs are never bucket-partitioned; dead edges (earlier
        // endpoint expired) surviving in kept dirs are filtered at
        // every read — see the class doc
        val (edgeLive, _) = Span("cut-edges")(cutArea("edges", m.edgeDirs, 0, ""))

        // ---- expired docs: the sig rows the cut dropped. Materialized
        // EAGERLY — the frames read dirs the post-swap sweep deletes ----
        val expiredIds: Option[DataFrame] = Span("expired-ids")(sigExpired
          .map(_.select(col("doc").as("id")))
          .reduceOption(_.unionByName(_))
          .map(df => graft.util.Materialize.eager(df.distinct())))

        // ---- labels: recompute ONLY the touched components ----
        val noChange = (m.buckets, m.rows)
        val (newBuckets, newRows) =
          if (m.buckets.isEmpty) noChange
          else expiredIds match {
            case None => noChange // nothing expired anywhere
            case Some(eIds) =>
              val idType = eIds.schema("id").dataType
              // the expired docs' label rows and the touched comps'
              // member-bucket union (≤ nBuckets ints, null — a legacy row
              // without the index — widens to all); None when no expired
              // doc is labeled
              val touched: Option[(DataFrame, Array[Row])] = Span("expired-labels") {
                // the expired ids' own buckets — the label probe's prune
                val eBks = eIds
                  .select(pmod(hash(col("id")), lit(m.nBuckets)).as("b"))
                  .distinct().collect().map(_.getInt(0)).toSet
                val hit = m.buckets.keySet.intersect(eBks)
                if (hit.isEmpty) None // every expired doc was an unlabeled singleton
                else {
                  val eLabeled = graft.util.Materialize.eager(
                    readBuckets(spark, storeDir, m, hit).join(eIds, "id")
                      .select(col("comp"), col("bks")))
                  val bkRows = eLabeled.select(explode_outer(col("bks")).as("b"))
                    .distinct().collect()
                  Option.when(bkRows.nonEmpty)((eLabeled, bkRows))
                }
              }
              touched.fold(noChange) { case (eLabeled, bkRows) =>
                val tComps = graft.util.Materialize.eager(
                  eLabeled.select(col("comp")).distinct())
                val tBks: Set[Int] =
                  if (bkRows.exists(_.isNullAt(0))) m.buckets.keySet
                  else bkRows.map(_.getInt(0)).toSet
                    .intersect(m.buckets.keySet)
                // every row of the touched buckets, read ONCE: the
                // touched comps' members split out, the rest is the
                // keep side of the rewrite
                val (tRows, mCount, retained) = Span("members") {
                  val tRows = graft.util.Materialize.eager(
                    readBuckets(spark, storeDir, m, tBks))
                  val members = graft.util.Materialize.eager(
                    tRows.join(tComps, "comp")
                      .select(col("id"), col("comp")))
                  (tRows, members.count(), graft.util.Materialize.eager(
                    members.select(col("id"))
                      .join(eIds, Seq("id"), "left_anti")))
                }
                // retained edges of the touched comps: endpoints BOTH
                // live members — this one filter restricts to touched
                // comps (untouched comps' endpoints are not in R) AND
                // drops edges through expired docs, current or prior
                val (tEdges, eCnt) = Span("retained-edges") {
                  val tEdges =
                    if (edgeLive.isEmpty) None
                    else Some(graft.util.Materialize.eager(
                      spark.read.parquet(edgeLive.map(abs): _*)
                        .select(col("a"), col("b"))
                        .join(retained.select(col("id").as("a")),
                          Seq("a"), "left_semi")
                        .join(retained.select(col("id").as("b")),
                          Seq("b"), "left_semi")))
                  (tEdges, tEdges.map(_.count()).getOrElse(0L))
                }
                // the touched comps' new labels: the fold's guarded
                // local/distributed split — batch-bounded expiries run
                // the driver union-find, oversized ones distribute
                val (newLabels, ccCount): (Option[DataFrame], Long) = Span("cc") {
                  tEdges.filter(_ => eCnt > 0) match {
                    case None => (None, 0L)
                    case Some(edges) =>
                      lazy val pairBytes = estimatedPairBytes(edges,
                        eCnt, idType, maxLocalEdgeBytes)
                      if (eCnt <= maxLocalEdges &&
                          eCnt <= maxLocalEdgeBytes / pairBytes) {
                        onExpiryCc("local")
                        val labels = unionFind(
                          edges.collect().map(r => (r.get(0), r.get(1))),
                          idOrdering(idType))
                        (Some(driverLabelsDf(spark, labels, idType,
                          m.nBuckets)), labels.size.toLong)
                      } else {
                        onExpiryCc("distributed")
                        val cc = graft.util.Materialize.eager(
                          Dedup.connectedComponents(edges, "a", "b")
                            .select(col("id"), col("comp")))
                        (Some(withCompIndex(cc,
                            c => pmod(hash(c), lit(m.nBuckets)))
                          .drop("__bk")), cc.count())
                      }
                  }
                }
                Span("label-rewrite") {
                  // rewrite exactly the touched buckets: untouched rows
                  // in them carry forward, untouched BUCKETS stay
                  // manifest pointers at their existing dirs
                  val keep = tRows.join(tComps, Seq("comp"), "left_anti")
                  graft.dedup.LsmIndex.writeBulk(
                    newLabels.map(keep.unionByName(_)).getOrElse(keep)
                      .select(col("id"), col("comp"), col("members"),
                        col("bks")),
                    s"$storeDir/labels/data/$tag", "__bk",
                    pmod(hash(col("id")), lit(m.nBuckets)), rebalance = false)
                  val base = Paths.get(storeDir, "labels", "data", tag)
                  val written: Set[Int] =
                    if (!Files.exists(base)) Set.empty
                    else {
                      val ls = Files.list(base)
                      try ls.iterator.asScala.map(_.getFileName.toString)
                        .filter(_.startsWith("__bk=")).map(_.drop(5).toInt)
                        .toSet
                      finally ls.close()
                    }
                  // rows land only in buckets the rewrite owns; a
                  // touched bucket with no surviving row leaves the map
                  require(written.subsetOf(tBks),
                    s"expiry rewrite produced buckets outside the " +
                      s"touched set: ${written.diff(tBks)}")
                  val nb = (m.buckets -- tBks) ++
                    written.map(bk => bk -> s"data/$tag/__bk=$bk")
                  // every touched-comp member was either relabeled or
                  // dropped — the same row-total identity as the fold
                  val nr =
                    if (m.rows >= 0) m.rows - mCount + ccCount else -1L
                  (nb, nr)
                }
              }
          }
        val (labelRows, retainedDocs) = Span("counts") {
          // the post-expiry label count (returned + stamped): maintained
          // arithmetic when the store tracks its total, one count for a
          // legacy store
          val labelRows: Long =
            if (newRows >= 0) newRows
            else if (newBuckets.isEmpty) 0L
            else readBuckets(spark, storeDir, m.copy(buckets = newBuckets),
              newBuckets.keySet).count()
          // the retained-doc stat from the live sig dirs' parquet FOOTERS
          // (driver metadata reads, zero Spark jobs): every signatured doc
          // has exactly ONE sig row in exactly ONE live dir — ids are
          // unique across the feed, a redelivered batch overwrites its own
          // dir, and compaction/cuts replace the dirs they merged/filtered
          // — so the row total IS the distinct-doc count. The
          // distinct().count() this replaces scanned the whole retained
          // corpus (shuffle ∝ store) for a returned statistic
          val rowConf = spark.sparkContext.hadoopConfiguration
          val retainedDocs: Long = sigLive.map { rel =>
            StoreManifest.parquetRowCount(
              new org.apache.hadoop.fs.Path(
                Paths.get(abs(rel)).toUri), rowConf, recursive = true)
          }.sum
          (labelRows, retainedDocs)
        }
        Span("swap-sweep") {
          // same interleave guard as compactStores: a fold that read the
          // manifest BEFORE the lock appeared may have committed while
          // the cut ran — swapping now would drop its registered dirs
          beforeSwap()
          val m2 = readManifest(storeDir)
          require(m2.exists(_.batchId == m.batchId),
            s"cluster store at $storeDir advanced during expiry " +
              s"(batch ${m.batchId} -> ${m2.map(_.batchId).getOrElse(-1L)})" +
              " — expiry runs BETWEEN drains; aborting the swap")
          // ver upgrades unconditionally: either the probe just proved
          // the store stamped, or it already was — and live dirs carry
          // only stamped rows
          writeManifest(storeDir, m.copy(buckets = newBuckets,
            sigDirs = sigLive, bandDirs = bandLive, edgeDirs = edgeLive,
            rows = labelRows, seq = m.seq + 1, ver = StampedVer))
          sweepUnreferenced(storeDir, "sigs", sigLive.toSet)
          sweepUnreferenced(storeDir, "bands", bandLive.toSet)
          sweepUnreferenced(storeDir, "edges", edgeLive.toSet)
          sweepLabels(storeDir, newBuckets.values.toSet)
        }
        (retainedDocs, labelRows)
      } finally StoreManifest.releaseHolderLock(lockFile(storeDir), lockToken)
    })

  /** Delete every dir under `storeDir/area` the manifest no longer
    * references (relative refs like "sigs/batch=3"). A ghost dir from a
    * crashed not-yet-committed fold is also swept — its batch
    * re-delivers and rewrites it. */
  private def sweepUnreferenced(storeDir: String, area: String,
      live: Set[String]): Unit =
    StoreManifest.sweepChildDirs(Paths.get(storeDir, area),
      name => live(s"$area/$name"))

  /** Driver-side (id → comp) labels as a labels frame carrying the
    * denormalized per-component index — the fast-path twin of
    * [[withCompIndex]], shared by the fold and the touched-component
    * expiry (both run their local union-find under the same byte/count
    * guards, so the frame is batch-bounded by construction). */
  private def driverLabelsDf(spark: SparkSession, labels: Map[Any, Any],
      idType: org.apache.spark.sql.types.DataType,
      nBuckets: Int): DataFrame = {
    val byComp: Map[Any, (Long, Seq[Int])] =
      labels.toSeq.groupBy(_._2).map { case (c, ms) =>
        c -> (ms.size.toLong,
          ms.map(kv => bucketOfValue(kv._1, idType, nBuckets))
            .toSet.toSeq.sorted)
      }
    val labelSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("comp", idType),
      org.apache.spark.sql.types.StructField("members",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bks",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType))))
    spark.createDataFrame(
      labels.toSeq.map { case (id, comp) =>
        val (members, bks) = byComp(comp)
        Row(id, comp, members, bks)
      }.asJava, labelSchema)
  }

  /** Attach the denormalized per-component index the fast path's probe
    * reads — (members, bks) on every label row — plus the `__bk`
    * partition column, for the full-generation writers (distributed
    * fold, expiry): one window over comp, the same values the fast
    * path computes driver-side. */
  private def withCompIndex(labels: DataFrame,
      bucketOf: Column => Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
    labels
      .withColumn("__bk", bucketOf(col("id")))
      .withColumn("members", count(lit(1)).over(w))
      .withColumn("bks", sort_array(collect_set(col("__bk")).over(w)))
      .select(col("id"), col("comp"), col("members"), col("bks"), col("__bk"))
  }

  /** Driver-side twin of `pmod(hash(col), nBuckets)` — the Catalyst
    * murmur3 evaluated on a literal, so fast-path bucket numbers can
    * never drift from the column expression the writes use. */
  private[streaming] def bucketOfValue(v: Any,
      idType: org.apache.spark.sql.types.DataType,
      nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(v, idType)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  /** Ordering over COLLECTED id values (external Java types) that
    * ranks exactly as SQL `min` over the id column does. Catalyst's
    * interpreted ordering expects INTERNAL values — for StringType
    * that is UTF8String, whose byte-wise comparison differs from
    * java.lang.String's UTF-16 ordering on supplementary characters;
    * DecimalType collects as java.math.BigDecimal vs internal Decimal,
    * Date/TimestampType as java.sql types vs Int/Long — so EVERY value
    * converts through the type's Catalyst converter at the comparison
    * (fixed-width converters are identity-cheap; the fold's driver
    * path is already byte- and count-guarded). Pinned by
    * ClusterStreamSpec's supplementary-character property: U+FF61
    * orders BELOW U+10000 in UTF-16 code units but ABOVE it in UTF-8
    * bytes — a min-label root chosen with String ordering would
    * disagree with SQL `min` there. */
  private[streaming] def idOrdering(
      idType: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(idType)
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(idType)
    new Ordering[Any] {
      def compare(x: Any, y: Any): Int =
        ord.compare(toInternal(x), toInternal(y))
    }
  }

  /** Union-find with path compression and MIN-LABEL roots (union
    * attaches the larger root under the smaller, so every root is the
    * minimum id of its component — exactly
    * [[Dedup.connectedComponents]]' canonical labels). Near-linear in
    * the edge count; the ordering comes from the id column's Catalyst
    * type so long and string ids rank the way SQL `min` does. */
  private[streaming] def unionFind(pairs: Array[(Any, Any)],
      ord: Ordering[Any]): Map[Any, Any] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lteq(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** Point the manifest at `repointed` buckets (others carry forward),
    * record the batch id, then sweep bucket dirs no manifest references
    * — referenced dirs are never touched, so a crash anywhere leaves a
    * readable store (old manifest, or new manifest + live dirs).
    *
    * Re-checks the maintenance lock AND the manifest sequence against
    * the fold's entry snapshot immediately before the write: the
    * fold-entry lock check alone is check-then-act — a fold that
    * entered before a compaction took the lock could otherwise commit
    * AFTER its manifest swap, repointing the store at dirs the sweep
    * just deleted. A fold refusing to commit while the lock is held
    * also means maintenance's own swap (which holds the lock from
    * before its manifest read to after its sweep) can never interleave
    * with a fold's write; the batch-pointer re-check on the maintenance
    * side covers the remaining order (fold committed first). The
    * aborted fold's batch re-delivers on restart. */
  /** Fault-injection seam for the commit-TOCTOU spec: invoked with the
    * store dir right before a fold's commit re-checks the lock and the
    * manifest sequence — the window where a maintenance op that started
    * AFTER the fold's entry could have swapped the manifest. A test
    * installs a hook that simulates exactly that; production never sets
    * it (a no-op call per commit). */
  @volatile private[streaming] var beforeCommitCheck: String => Unit = _ => ()

  /** Fault-injection seam for the async-store-write spec: invoked on
    * the writer thread after the sig/band writes, so a test can fail
    * the write future and pin that the fold (a) propagates the failure
    * through its commit-path await and (b) never advances the
    * manifest pointer. Production never sets it. */
  @volatile private[streaming] var afterStoreWrites: String => Unit = _ => ()

  /** Observation seam for the expiry guard-boundary spec: invoked with
    * "local" or "distributed" when an expiry recomputes touched
    * components, so a test crossing the byte/count ceiling can ASSERT
    * the distributed CC route engaged (and still matched the driver
    * union-find's labels) instead of inferring it from the guard
    * arithmetic. Production never sets it (a no-op call per expiry). */
  @volatile private[streaming] var onExpiryCc: String => Unit = _ => ()

  private def commit(storeDir: String, cur: Option[Manifest],
      repointed: Map[Int, String], nBuckets: Int, batchId: Long,
      ownDirs: NewDirs, ckptId: String, rows: Long): Unit = {
    beforeCommitCheck(storeDir)
    require(!Files.exists(lockFile(storeDir)),
      s"cluster store at $storeDir was locked by a maintenance op after " +
        "this fold started — committing would race the sweep; the batch " +
        "re-delivers on restart (maintenance runs BETWEEN drains)")
    val now = readManifest(storeDir)
    require(now.map(_.seq) == cur.map(_.seq),
      s"cluster manifest at $storeDir changed mid-fold (seq " +
        s"${cur.map(_.seq)} -> ${now.map(_.seq)}) — a maintenance swap " +
        "landed after this fold's entry snapshot; committing would " +
        "repoint at swept dirs. The batch re-delivers on restart")
    val buckets = cur.map(_.buckets).getOrElse(Map.empty) ++ repointed
    // the first fold stamps the lineage; later folds carry it forward
    // (the fold-entry require already proved they match)
    val ckpt = cur.map(_.ckpt).filter(_.nonEmpty).getOrElse(ckptId)
    writeManifest(storeDir, Manifest(batchId, nBuckets, buckets,
      cur.map(_.sigDirs).getOrElse(Nil) ++ ownDirs.sigs,
      cur.map(_.bandDirs).getOrElse(Nil) ++ ownDirs.bands,
      cur.map(_.edgeDirs).getOrElse(Nil) ++ ownDirs.edges, ckpt, rows,
      cur.map(_.sigBk).getOrElse(SigBuckets),
      cur.map(_.bandBk).getOrElse(BandBuckets),
      seq = cur.map(_.seq + 1).getOrElse(0L),
      // a FRESH store is fully stamped by construction; a legacy store
      // (ver 0) may hold pre-upgrade rows forever and stays 0 until an
      // expiry's probe proves otherwise
      ver = cur.map(_.ver).getOrElse(StampedVer)))
    sweepLabels(storeDir, buckets.values.toSet)
  }

  /** Delete label dirs no manifest references — flat fold runs
    * (`data/batch=<id>`, referenced whole) and partitioned-generation
    * leaves (`data/<gen>/__bk=<k>`). Referenced dirs are never touched,
    * so a crash anywhere leaves a readable store. */
  private def sweepLabels(storeDir: String, live: Set[String]): Unit = {
    val dataDir = Paths.get(storeDir, "labels", "data")
    if (Files.exists(dataDir)) {
      val batches = Files.list(dataDir)
      try batches.iterator.asScala.filter(Files.isDirectory(_)).toList
        .foreach { bd =>
          val rel = s"data/${bd.getFileName}"
          if (!live(rel)) {
            val leaves = Files.list(bd)
            val leafDirs = try leaves.iterator.asScala
              .filter(Files.isDirectory(_)).toList
            finally leaves.close()
            if (leafDirs.isEmpty) StoreManifest.deleteRecursively(bd) // flat run
            else StoreManifest.sweepChildDirs(bd, leaf => live(s"$rel/$leaf"))
          }
        }
      finally batches.close()
    }
  }

  /** One-column broadcast frame of driver-side ids. */
  private def idsDf(spark: SparkSession, ids: Iterable[Any], as: String,
      idType: org.apache.spark.sql.types.DataType): DataFrame =
    spark.createDataFrame(
      ids.toSeq.map(Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(as, idType))))

  /** The fold's roots probe: the endpoints' current labels plus their
    * components' denormalized (members, bks) index, read from ONLY the
    * endpoints' id-buckets. Returns comp -> (members, bks); members/bks
    * are None on rows written before the index existed (legacy stores
    * read back null through mergeSchema) — those comps degrade to the
    * pre-index plan for one fold and are upgraded by its rewrite. */
  private[streaming] def probeRoots(spark: SparkSession, storeDir: String,
      m: Manifest, endpoints: Set[Any],
      idType: org.apache.spark.sql.types.DataType)
      : Map[Any, (Option[Long], Option[Set[Int]])] = {
    val eb = endpoints.map(bucketOfValue(_, idType, m.nBuckets))
    val hit = m.buckets.keySet.intersect(eb)
    if (hit.isEmpty) Map.empty
    else {
      val bkt = readBuckets(spark, storeDir, m, hit)
      val withIdx = if (bkt.columns.contains("members")) bkt
      else bkt.withColumn("members", lit(null).cast("long"))
        .withColumn("bks", lit(null).cast("array<int>"))
      withIdx.join(broadcast(idsDf(spark, endpoints, "id", idType)), "id")
        .select(col("comp"), col("members"), col("bks"))
        .collect().map { r =>
          r.get(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[
              scala.collection.Seq[Int]].toSet))
        }.toMap
    }
  }

  /** The fold's member fetch: every (id, comp) row of the touched
    * components, read from ONLY the touched components' member buckets
    * (the probe's bks union), broadcast-filtered map-side, shuffle-free
    * — fetch bytes track the touched components, never the store. A
    * legacy comp without an index widens the fetch to every bucket,
    * once. */
  private[streaming] def fetchMembers(spark: SparkSession, storeDir: String,
      m: Manifest, rootInfo: Map[Any, (Option[Long], Option[Set[Int]])],
      idType: org.apache.spark.sql.types.DataType): Array[(Any, Any)] = {
    val fetchBks: Set[Int] =
      if (rootInfo.values.forall(_._2.isDefined))
        rootInfo.values.flatMap(_._2.get).toSet
      else m.buckets.keySet
    val hit = m.buckets.keySet.intersect(fetchBks)
    if (hit.isEmpty) Array.empty
    else readBuckets(spark, storeDir, m, hit)
      .select(col("id"), col("comp"))
      .join(broadcast(idsDf(spark, rootInfo.keySet, "comp", idType)), "comp")
      .select(col("id"), col("comp"))
      .collect().map(x => (x.get(0), x.get(1)))
  }

  /** Read the live rows of `bks` from the label store. Two dir shapes
    * coexist (the sig store's LSM discipline applied to labels):
    *
    *  - FLAT fold runs (`data/batch=<id>`, `__bk` a data column): one
    *    single-file commit per fold — the partitioned per-fold write
    *    this replaced paid the dynamic-partition commit protocol on
    *    ~every touched bucket, measured as the fold's largest lap.
    *    Many buckets point at one dir, and a dir may hold STALE rows
    *    of buckets since repointed elsewhere — each dir is filtered to
    *    exactly the buckets whose pointer targets it.
    *  - PARTITIONED leaves (`data/<gen>/__bk=<k>`, from compaction /
    *    expiry / the distributed fold's full generations): the
    *    read-optimized bulk, single-bucket by path.
    *
    * Columns are normalized to (id, comp, members, bks) — rows written
    * before the denormalized comp index read back null. */
  private[streaming] def readBuckets(spark: SparkSession, storeDir: String,
      m: Manifest, bks: Set[Int]): DataFrame = {
    val wanted = bks.toSeq.sorted.flatMap(b => m.buckets.get(b).map(b -> _))
    require(wanted.nonEmpty, "readBuckets called with no resolvable buckets")
    def normalized(live: DataFrame): DataFrame = {
      val withIdx = if (live.columns.contains("members")) live
      else live.withColumn("members", lit(null).cast("long"))
        .withColumn("bks", lit(null).cast("array<int>"))
      withIdx.select(col("id"), col("comp"), col("members"), col("bks"))
    }
    // partitioned leaves are read ONCE PER GENERATION, pruned to the
    // wanted buckets: per-leaf reads paid one mergeSchema/footer job
    // PER BUCKET (the r15 q155 trace: ~33 tiny jobs per label read on
    // an expired 64-bucket store — a job-count floor ∝ buckets on
    // every clusters()/rootInfo/member fetch). The isin filter lands
    // as PartitionFilters, so the read stays leaf-pruned; buckets of
    // this generation repointed to NEWER dirs are excluded by it.
    val PartLeaf = "(.+)/__bk=\\d+".r
    val (partLeaves, flatDirs) = wanted.partition {
      case (_, PartLeaf(_)) => true
      case _ => false
    }
    val genReads = partLeaves
      .groupBy { case (_, PartLeaf(gen)) => gen }.toSeq.sortBy(_._1)
      .map { case (gen, entries) =>
        normalized(spark.read.option("mergeSchema", "true")
          .parquet(s"$storeDir/labels/$gen")
          .filter(col(SigBucketCol).isin(entries.map(_._1): _*))
          .drop(SigBucketCol))
      }
    // FLAT fold runs (`data/batch=<id>`, `__bk` a data column): many
    // buckets point at one dir, and a dir may hold STALE rows of
    // buckets since repointed elsewhere — each dir is filtered to
    // exactly the buckets whose pointer targets it
    val flatReads = flatDirs.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (rel, entries) =>
        val df = spark.read.option("mergeSchema", "true")
          .parquet(s"$storeDir/labels/$rel")
        normalized(
          if (!df.columns.contains(SigBucketCol)) df
          else df.filter(col(SigBucketCol).isin(entries.map(_._1): _*))
            .drop(SigBucketCol))
      }
    (genReads ++ flatReads).reduce(_.unionByName(_))
  }

  // ---- manifest (tmp + atomic rename; the pointer IS the commit) ----

  /** A fold's newly registered store dirs (its own batch subdirs). */
  private final case class NewDirs(sigs: Seq[String], bands: Seq[String],
      edges: Seq[String])

  private[streaming] final case class Manifest(batchId: Long, nBuckets: Int,
      buckets: Map[Int, String], sigDirs: Seq[String] = Nil,
      bandDirs: Seq[String] = Nil, edgeDirs: Seq[String] = Nil,
      ckpt: String = "",
      /** Maintained label-store row total (-1 = unknown/legacy): the
        * zero-job upper bound for the fast path's member guard. */
      rows: Long = -1L,
      /** Id-bucket count of the sig layout (0 = flat/legacy — no
        * partition pruning on the verify fetch). */
      sigBk: Int = 0,
      /** Band-key-bucket count of the compacted band layout (0 =
        * flat/legacy — the probe scans the whole band bulk). */
      bandBk: Int = 0,
      /** Write sequence number, bumped on EVERY manifest write (folds
        * bump the batch pointer too; maintenance swaps don't) — the
        * changed-since-my-entry-snapshot check a fold's commit uses to
        * abort instead of clobbering a concurrent maintenance swap. */
      seq: Long = 0L,
      /** Store format version. [[StampedVer]] (1) asserts EVERY sig/
        * band row carries its landing-batch stamp (`__batch`) — stamped
        * at the first fold of a FRESH store, carried forward by every
        * commit, and upgraded by an [[expire]] whose stamp probe
        * passed. 0 (the read default, so every pre-upgrade manifest
        * reads as legacy) means unstamped rows may exist: expiry must
        * run its full sig+band null probe before trusting the
        * `__batch >= fromBatch` cut. */
      ver: Int = 0)

  /** Manifest `ver` meaning "all rows stamped — expiry's stamp probe
    * is a free manifest read". */
  private[streaming] val StampedVer = 1

  private def manifestFile(storeDir: String): Path =
    Paths.get(storeDir, "labels", "MANIFEST")

  /** The maintenance lock ([[compactStores]]/[[expire]] hold it; folds
    * refuse to run under it). */
  private def lockFile(storeDir: String): Path =
    Paths.get(storeDir, "labels", "COMPACT.lock")

  /** The maintenance lock, on [[StoreManifest]]'s holder-lock
    * discipline (invariant 5) — the last hand-rolled copy folded onto
    * the shared one. Maintenance needs no commit re-check beyond the
    * pointer-movement guard both ops already carry (the manifest swap
    * aborts if a fold advanced the batch pointer), so only the
    * acquire/release halves are used here. */
  private def acquireMaintenanceLock(storeDir: String, role: String): String =
    StoreManifest.acquireHolderLock(lockFile(storeDir), role,
      s"pid=${ProcessHandle.current().pid()}",
      "maintenance runs BETWEEN drains")

  /** Jackson (bundled with Spark) for the manifest round-trip: a real
    * JSON parser, so no field value — a dir name with `]`, a checkpoint
    * path with quotes — can ever be mis-read the way the original
    * regex scan could. The pre-JSON-parser writer already emitted valid
    * JSON, so old manifests read back unchanged (absent fields take
    * their legacy defaults). */
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[streaming] def readManifest(storeDir: String): Option[Manifest] = {
    val p = manifestFile(storeDir)
    graft.util.FileCommit.read(p).map { s =>
      val root = try jsonMapper.readTree(s)
      catch { case e: com.fasterxml.jackson.core.JacksonException =>
        sys.error(s"unreadable cluster manifest at $p: ${e.getMessage}")
      }
      require(root.hasNonNull("batchId") && root.hasNonNull("nBuckets"),
        s"unreadable cluster manifest at $p: missing batchId/nBuckets")
      def dirList(field: String): Seq[String] = Option(root.get(field))
        .map(n => n.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
      val buckets = Option(root.get("buckets")).map { b =>
        b.fields.asScala.map(e => e.getKey.toInt -> e.getValue.asText).toMap
      }.getOrElse(Map.empty[Int, String])
      Manifest(root.get("batchId").asLong, root.get("nBuckets").asInt,
        buckets, dirList("sigDirs"), dirList("bandDirs"), dirList("edgeDirs"),
        ckpt = Option(root.get("ckpt")).map(_.asText).getOrElse(""),
        rows = Option(root.get("rows")).map(_.asLong).getOrElse(-1L),
        sigBk = Option(root.get("sigBk")).map(_.asInt).getOrElse(0),
        bandBk = Option(root.get("bandBk")).map(_.asInt).getOrElse(0),
        seq = Option(root.get("seq")).map(_.asLong).getOrElse(0L),
        ver = Option(root.get("ver")).map(_.asInt).getOrElse(0))
    }
  }

  private[streaming] def writeManifest(storeDir: String, m: Manifest): Unit = {
    val root = jsonMapper.createObjectNode()
    root.put("batchId", m.batchId)
    root.put("nBuckets", m.nBuckets)
    root.put("rows", m.rows)
    root.put("sigBk", m.sigBk)
    root.put("bandBk", m.bandBk)
    root.put("seq", m.seq)
    root.put("ver", m.ver)
    root.put("ckpt", m.ckpt)
    def dirList(field: String, ds: Seq[String]): Unit = {
      val a = root.putArray(field); ds.foreach(a.add)
    }
    dirList("sigDirs", m.sigDirs)
    dirList("bandDirs", m.bandDirs)
    dirList("edgeDirs", m.edgeDirs)
    val b = root.putObject("buckets")
    m.buckets.toSeq.sortBy(_._1).foreach { case (k, v) => b.put(k.toString, v) }
    graft.util.FileCommit.replace(manifestFile(storeDir),
      jsonMapper.writeValueAsBytes(root))
  }
}
