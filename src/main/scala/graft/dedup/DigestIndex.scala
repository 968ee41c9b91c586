package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Persisted digest-bucketed exact-verify store — the [[BandIndex]]
  * treatment applied to the content-digest column, closing the last
  * per-batch O(corpus) read in the incremental exact-dedup family.
  *
  * [[Dedup.bloomNewDocs]]'s verify step confirms probe-hit digests
  * against "the corpus digest column" — a column-pruned but still
  * corpus-wide parquet scan on every batch that has at least one bloom
  * hit. At 100 TB that scan IS the per-batch cost: the bloom layer
  * already made the candidate set batch-sized, but the confirm side
  * re-reads every footer. This store persists `(id, digest)` rows in
  * the [[LsmIndex]] layout: per-batch appends land as FLAT single-file
  * runs (no shuffle, no dynamic-partition commit — the write side of
  * the hot path is batch-sized), compaction folds them into a bulk
  * directory-partitioned by a hash BUCKET of the digest, and a batch
  * verify reads ONLY the bucket directories its own candidate digests
  * hash to (`PartitionFilters` at the scan, batch side broadcast) plus
  * the flat post-compaction tail — per-batch verify I/O tracks the
  * BATCH plus one compaction cadence of runs, not the corpus.
  *
  * Like every derived store here (bloom filter, band index, IVF
  * layout), it is REBUILDABLE from the corpus table's stored digest
  * column, so losing it costs one rebuild scan, never correctness.
  * Freshness is declared by `digests-meta.json` (spec + LSM state
  * pointer, [[LsmIndex.atomicWrite]]): a bucketing change rebuilds
  * into a fresh layout directory and flips the pointer only after the
  * rebuild completes — the [[LsmIndex]] rebuild-then-flip. A pre-LSM
  * (ver-1) meta parses as ABSENT, so legacy layouts migrate through
  * the same rebuild path instead of being misread.
  *
  * Crash-safety direction: callers append to the index BEFORE the docs
  * append, so the index is always a SUPERSET of the corpus' digests
  * (an index MISSING a committed digest would re-admit that content on
  * replay — a permanent duplicate). The cost of the superset direction
  * is GHOST rows: `(id, digest)` entries whose docs append never
  * happened. Unlike the band index — where the exact gate backstops
  * ghost absorption — exact dedup cannot blanket-absorb self-matches
  * (a replay AFTER a successful commit is `(id, digest)`-identical to
  * its committed row and must be DROPPED, while a replay after a
  * crash-between-index-and-docs is identical to its ghost and must be
  * ADMITTED). [[Dedup.indexedDupDigests]] therefore splits probe
  * matches: a different-id match is a true duplicate (dropped with no
  * corpus read — the recovery contract below keeps this sound), and a
  * same-id match falls back to the corpus digest column for THAT
  * digest set only — a scan paid only on replay/crash windows, never
  * in the steady state.
  *
  * Recovery contract (same as [[BandIndex]]): a failed batch is
  * re-run before new batches are admitted (Structured Streaming's
  * at-least-once replay gives exactly this), so a ghost's own batch
  * fills it before any LATER batch can collide with it under a
  * different id.
  */
object DigestIndex {

  /** Partition (bucket) column of the compacted bulk layout. */
  val BucketCol = "__dk"

  /** Declared index spec; doubles as the layout directory name so a
    * bucketing change targets a fresh directory and the flip is
    * atomic. `buckets` only shapes the layout — any probe works
    * against any bucketing, it just prunes differently. */
  final case class Spec(buckets: Int) {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    def layoutDir: String = s"digests-k$buckets"
  }

  private val MetaFile = "digests-meta.json"

  private def metaJson(spec: Spec, st: LsmIndex.State): String =
    s"""{"buckets":${spec.buckets},${LsmIndex.render(st)}}"""

  /** The ACTIVE spec, or None when no LSM-shaped index exists yet
    * (absent OR a pre-LSM ver-1 meta — the migration guard: callers
    * rebuild rather than misread a legacy layout). */
  def readMeta(spark: org.apache.spark.sql.SparkSession, storeDir: String): Option[Spec] =
    readState(spark, storeDir).map(_._1)

  private val BucketsRe = """"buckets":(\d+)""".r.unanchored

  private def readState(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[(Spec, LsmIndex.State)] =
    graft.streaming.StoreManifest.readFsString(spark, storeDir, MetaFile)
      .flatMap { s =>
        LsmIndex.parse(s).map { st =>
          s match {
            case BucketsRe(k) => (Spec(k.toInt), st)
            case _ => sys.error(
              s"unreadable digest-index meta at $storeDir/$MetaFile: $s")
          }
        }
      }

  /** Any declared layout dir (even a superseded-spec or ver-1 one), for
    * the referenced-never-deleted cleanup at a spec flip. */
  private def declaredLayout(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[String] =
    graft.streaming.StoreManifest.readFsString(spark, storeDir, MetaFile)
      .collect { case BucketsRe(k) => Spec(k.toInt).layoutDir }

  /** Does the ACTIVE layout directory for `spec` exist? A meta pointer
    * whose layout was deleted out-of-band must trigger a rebuild, not
    * quietly verify "no match" ≡ "new content". */
  def layoutExists(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      spec: Spec): Boolean =
    graft.streaming.StoreManifest.fsExists(spark, storeDir, spec.layoutDir)

  private def bucketOf(digest: Column, buckets: Int): Column =
    pmod(xxhash64(digest), lit(buckets.toLong)).cast(IntegerType)

  private def layoutPath(storeDir: String, spec: Spec): String =
    new Path(storeDir, spec.layoutDir).toString

  /** Append `(id, digest)` rows for newly-admitted docs as one FLAT run
    * and swap the meta pointer (data before pointer; first append on a
    * fresh corpus creates both). NO shuffle and NO dynamic-partition
    * commit on this path — it runs inside every streaming trigger.
    * Call BEFORE the docs append — see class doc.
    *
    * FAILS LOUDLY when a meta file exists but isn't ver-2 with this
    * exact spec (the superset-invariant guard): silently starting from
    * [[LsmIndex.Empty]] would have [[writeMeta]]'s pointer swap DELETE
    * the previous layout — orphaning every existing index row and
    * re-admitting its duplicates through the gate. Only a truly ABSENT
    * meta means a fresh store; everything else routes through
    * [[rebuild]] (the [[graft.streaming.CorpusBuilder]] resolve path). */
  def append(docDigests: DataFrame, idCol: String, digestCol: String,
      storeDir: String, spec: Spec,
      /** Run-file count for mega-batch appends — callers that counted
        * the staged batch pass [[LsmIndex.runParts]]; the micro-batch
        * default keeps the flat tail at one footer per batch. */
      runFiles: Int = 1): Unit = {
    val spark = docDigests.sparkSession
    val st = requireAppendableState(spark, storeDir, spec)
    val (_, next) = LsmIndex.writeRun(
      docDigests.select(col(idCol).as("doc"), col(digestCol).as("digest")),
      layoutPath(storeDir, spec), st, runFiles)
    writeMeta(spark, storeDir, spec, next)
  }

  /** [[append]]'s entry guard — [[LsmIndex.appendableState]] with this
    * store's kind/layout naming. */
  private def requireAppendableState(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, spec: Spec): LsmIndex.State =
    LsmIndex.appendableState("digest index", storeDir, spec.layoutDir,
      readState(spark, storeDir).map { case (s, st) => (s.layoutDir, st) },
      graft.streaming.StoreManifest.readFsString(spark, storeDir, MetaFile)
        .isDefined)

  /** Build the index from scratch out of the corpus' stored
    * `(id, digest)` projection — first index on an existing corpus,
    * bucketing change, lost layout, ver-1 migration. The new layout
    * (one bucket-partitioned bulk, zero runs) is fully written before
    * the meta pointer flips; the superseded layout is removed after. */
  def rebuild(corpusDigests: DataFrame, idCol: String, digestCol: String,
      storeDir: String, spec: Spec): Unit = {
    val spark = corpusDigests.sparkSession
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layout = new Path(storeDir, spec.layoutDir)
    // a half-written layout from a crashed rebuild is stale, not a
    // superset candidate — clear it so this rebuild starts clean
    if (fs.exists(layout)) fs.delete(layout, true)
    val bulk = "compact-0"
    LsmIndex.writeBulk(
      corpusDigests.select(col(idCol).as("doc"), col(digestCol).as("digest")),
      s"${layout.toString}/$bulk", BucketCol, bucketOf(col("digest"), spec.buckets))
    // an empty corpus writes zero rows; the bulk dir must still exist
    // so the probe's explicit-schema read sees "empty", not "lost"
    if (!fs.exists(new Path(layout, bulk))) fs.mkdirs(new Path(layout, bulk))
    writeMeta(spark, storeDir, spec, LsmIndex.State(1L, Seq(bulk), Nil))
  }

  /** Fold accumulated flat runs into the bucket-partitioned bulk —
    * maintenance, run on the [[graft.streaming.CorpusBuilder.compactStores]]
    * cadence, SERIALIZED with appends (the one-live-builder contract):
    * both sides swap the same meta pointer. Tiered: an L1 fold's I/O
    * is bounded by the run mass; a full merge (every `maxBulks` folds)
    * rewrites the bulk set into one. Returns (runs folded, bulks
    * after), or None when below the `minRuns` threshold. */
  def compact(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      spec: Spec, minRuns: Int = 4, maxBulks: Int = 4): Option[(Int, Int)] =
    readState(spark, storeDir).filter(_._1 == spec).map(_._2).flatMap { st =>
      val layout = layoutPath(storeDir, spec)
      LsmIndex.compactStep(spark, layout, st,
        BucketCol, bucketOf(col("digest"), spec.buckets), minRuns, maxBulks)
        .map { next =>
          writeMeta(spark, storeDir, spec, next)
          LsmIndex.sweep(spark, layout, next)
          (st.runs.size, next.bulks.size)
        }
    }

  private def flatSchema(idType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(StructField("doc", idType), StructField("digest", StringType)))

  private def writeMeta(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, spec: Spec, st: LsmIndex.State): Unit = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val previous = declaredLayout(spark, storeDir)
    LsmIndex.atomicWrite(fs, new Path(storeDir, MetaFile),
      metaJson(spec, st).getBytes("UTF-8"))
    previous.filter(_ != spec.layoutDir)
      .foreach(old => fs.delete(new Path(storeDir, old), true))
  }

  /** Matches between a batch's candidate `(id, digest)` rows and the
    * stored index: one row per (digest, new_id, corpus_id) triple. The
    * candidates' touched buckets arrive as `PartitionFilters` on the
    * compacted bulks (the scan reads only those directories) plus the
    * flat run tail, and the candidate side is broadcast, so the corpus
    * side never shuffles — and for a batch touching few buckets, is
    * mostly never read. Callers classify matches via
    * [[Dedup.indexedDupDigests]]. */
  def probe(candidates: DataFrame, idCol: String, digestCol: String,
      storeDir: String, spec: Spec,
      /** Candidate-row guard on the broadcast, as [[BandIndex.probe]]:
        * bloom-hit candidates are batch-bounded in steady state, but a
        * cap-less backfill whose content is mostly duplicates can make
        * this frame batch-SIZED — past the threshold the join falls
        * back to a shuffle on `digest` (AQE may still pick a broadcast
        * from actual sizes — the safe version of the hint). */
      maxBroadcastRows: Long = BandIndex.DefaultMaxBroadcastRows): DataFrame = {
    val spark = candidates.sparkSession
    val st = readState(spark, storeDir).filter(_._1 == spec).map(_._2)
      .getOrElse(sys.error(s"no active digest index at $storeDir for " +
        s"${spec.layoutDir} — rebuild it from the corpus digest column first"))
    // consumed twice (bucket list + join side) — materialize once;
    // candidates are bloom probe hits, batch-sized at most
    val n = graft.util.Materialize.eager(
      candidates.select(col(idCol).as("new_id"), col(digestCol).as("digest"))
        .distinct()
        .withColumn(BucketCol, bucketOf(col("digest"), spec.buckets)))
    // ONE metadata-sized job (≤ buckets rows) serves both the prune
    // list and the broadcast guard's cardinality
    val perBucket = n.groupBy(BucketCol).count().collect()
    val touched = perBucket.map(_.getInt(0)).toIndexedSeq
    val candRows = perBucket.map(_.getLong(1)).sum
    val store = LsmIndex.readLive(spark, layoutPath(storeDir, spec), st,
      flatSchema(candidates.schema(idCol).dataType), BucketCol, Some(touched))
    val batchSide = n.drop(BucketCol)
    val guarded =
      if (candRows <= maxBroadcastRows) broadcast(batchSide) else batchSide
    store.select(col("doc").as("corpus_id"), col("digest"))
      .join(guarded, "digest")
      .select(col("digest"), col("new_id"), col("corpus_id"))
      .distinct()
  }
}
