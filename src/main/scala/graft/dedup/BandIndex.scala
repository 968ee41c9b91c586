package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

/** Persisted LSH band index — the derived store that makes the
  * streaming near-dup gate's corpus probe O(batch), not O(corpus).
  *
  * [[Dedup.incrementalCandidates]]'s contract says "signature the
  * corpus ONCE at ingest (persist [[Dedup.banded]]'s output as a
  * table)"; this is that table in the [[LsmIndex]] layout: per-batch
  * appends land as FLAT single-file runs of banded rows (no shuffle,
  * no dynamic-partition commit inside the trigger), compaction folds
  * them into a bulk directory-partitioned by a hash BUCKET of the band
  * key (same layout idea as the IVF store,
  * [[graft.sim.Similarity.writeIvfStore]]). A batch probe computes the
  * buckets its own band keys hash to — a metadata-sized driver list,
  * ≤ `buckets` ints — and reads ONLY those bulk directories
  * (`PartitionFilters` at the scan) plus the flat post-compaction
  * tail, with the batch side broadcast: the corpus side of the probe
  * is never shuffled and, for a batch touching few buckets, mostly
  * never read.
  *
  * Like every derived store here (bloom filter, IVF layout), the index
  * is REBUILDABLE from the corpus table — the stored `(id, sig)`
  * projection re-bands in one pass — so losing it costs a rebuild,
  * never correctness. Freshness is declared by `bands-meta.json`
  * (spec + LSM state pointer, [[LsmIndex.atomicWrite]]): a param
  * change targets a fresh layout directory and flips the pointer only
  * after the rebuild completes — the [[LsmIndex]] rebuild-then-flip. A
  * pre-LSM (ver-1) meta parses as ABSENT, so legacy layouts migrate
  * through the same rebuild path instead of being misread.
  *
  * Crash-safety direction: callers append to the index BEFORE the docs
  * append, so the index is always a SUPERSET of the corpus' band rows.
  * Ghost rows (index entries whose doc append never happened) are
  * `(id, sig)`-identical to the replayed batch's own rows and are
  * filtered by the caller ([[graft.streaming.CorpusBuilder]]'s ghost
  * anti-join); replay also re-appends the same band rows, which the
  * probe's `distinct()` absorbs.
  */
object BandIndex {

  /** Partition (bucket) column of the compacted bulk layout. */
  val BucketCol = "__bk"

  /** Declared index spec; doubles as the layout directory name so a
    * param change targets a fresh directory and the flip is atomic.
    * `bands` must match the probe-time banding (band keys embed the
    * band number and row slice); `buckets` only shapes the layout. */
  final case class Spec(bands: Int, buckets: Int) {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    def layoutDir: String = s"bands-b$bands-k$buckets"
  }

  private val MetaFile = "bands-meta.json"

  private def metaJson(spec: Spec, st: LsmIndex.State): String =
    s"""{"bands":${spec.bands},"buckets":${spec.buckets},${LsmIndex.render(st)}}"""

  private val SpecRe = """"bands":(\d+),"buckets":(\d+)""".r.unanchored

  /** The ACTIVE spec, or None when no LSM-shaped index exists yet
    * (absent OR a pre-LSM ver-1 meta — the migration guard: callers
    * rebuild rather than misread a legacy layout). */
  def readMeta(spark: org.apache.spark.sql.SparkSession, storeDir: String): Option[Spec] =
    readState(spark, storeDir).map(_._1)

  private def readState(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[(Spec, LsmIndex.State)] =
    graft.streaming.StoreManifest.readFsString(spark, storeDir, MetaFile)
      .flatMap { s =>
        LsmIndex.parse(s).map { st =>
          s match {
            case SpecRe(b, k) => (Spec(b.toInt, k.toInt), st)
            case _ => sys.error(
              s"unreadable band-index meta at $storeDir/$MetaFile: $s")
          }
        }
      }

  /** Any declared layout dir (even a superseded-spec or ver-1 one), for
    * the referenced-never-deleted cleanup at a spec flip. */
  private def declaredLayout(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[String] =
    graft.streaming.StoreManifest.readFsString(spark, storeDir, MetaFile)
      .collect { case SpecRe(b, k) => Spec(b.toInt, k.toInt).layoutDir }

  /** Does the ACTIVE layout directory for `spec` exist? A meta pointer
    * whose layout was deleted out-of-band must trigger a rebuild, not
    * quietly probe "no index" ≡ "no near-dups". */
  def layoutExists(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      spec: Spec): Boolean =
    graft.streaming.StoreManifest.fsExists(spark, storeDir, spec.layoutDir)

  private def bucketOf(bandKey: Column, buckets: Int): Column =
    pmod(xxhash64(bandKey), lit(buckets.toLong)).cast(IntegerType)

  private def layoutPath(storeDir: String, spec: Spec): String =
    new Path(storeDir, spec.layoutDir).toString

  private def bandedRows(docSigs: DataFrame, idCol: String, sigCol: String,
      spec: Spec): DataFrame =
    Dedup.banded(docSigs, idCol, sigCol, spec.bands)

  /** Append band rows for newly-admitted docs as one FLAT run and swap
    * the meta pointer (data before pointer; first append on a fresh
    * corpus creates both). NO shuffle and NO dynamic-partition commit
    * on this path — it runs inside every streaming trigger. Call
    * BEFORE the docs append — see class doc.
    *
    * FAILS LOUDLY when a meta file exists but isn't ver-2 with this
    * exact spec (the [[DigestIndex.append]] guard): silently starting
    * from [[LsmIndex.Empty]] would have [[writeMeta]]'s pointer swap
    * DELETE the previous layout, orphaning every existing band row.
    * Only a truly ABSENT meta means a fresh store; everything else
    * routes through [[rebuild]]. */
  def append(docSigs: DataFrame, idCol: String, sigCol: String,
      storeDir: String, spec: Spec,
      /** Run-file count for mega-batch appends — callers that counted
        * the staged batch pass [[LsmIndex.runParts]]; the micro-batch
        * default keeps the flat tail at one footer per batch. */
      runFiles: Int = 1): Unit = {
    val spark = docSigs.sparkSession
    val st = LsmIndex.appendableState("band index", storeDir, spec.layoutDir,
      readState(spark, storeDir).map { case (s, state) => (s.layoutDir, state) },
      graft.streaming.StoreManifest.readFsString(spark, storeDir, MetaFile)
        .isDefined)
    val (_, next) = LsmIndex.writeRun(bandedRows(docSigs, idCol, sigCol, spec),
      layoutPath(storeDir, spec), st, runFiles)
    writeMeta(spark, storeDir, spec, next)
  }

  /** Build the index from scratch out of the corpus' stored `(id, sig)`
    * projection — first index on an existing corpus, param change, lost
    * layout, ver-1 migration. The new layout (one bucket-partitioned
    * bulk, zero runs) is fully written before the meta pointer flips;
    * the superseded layout is removed after. */
  def rebuild(corpusSigs: DataFrame, idCol: String, sigCol: String,
      storeDir: String, spec: Spec): Unit = {
    val spark = corpusSigs.sparkSession
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layout = new Path(storeDir, spec.layoutDir)
    // a half-written layout from a crashed rebuild is stale, not a
    // superset candidate — clear it so this rebuild starts clean
    if (fs.exists(layout)) fs.delete(layout, true)
    val bulk = "compact-0"
    LsmIndex.writeBulk(bandedRows(corpusSigs, idCol, sigCol, spec),
      s"${layout.toString}/$bulk", BucketCol,
      bucketOf(col("band_key"), spec.buckets))
    // an all-sig-less corpus writes zero rows; the bulk dir must still
    // exist so the probe's explicit-schema read sees "empty", not "lost"
    if (!fs.exists(new Path(layout, bulk))) fs.mkdirs(new Path(layout, bulk))
    writeMeta(spark, storeDir, spec, LsmIndex.State(1L, Seq(bulk), Nil))
  }

  /** Fold accumulated flat runs into the bucket-partitioned bulk —
    * maintenance on the [[graft.streaming.CorpusBuilder.compactStores]]
    * cadence, SERIALIZED with appends (the one-live-builder contract):
    * both sides swap the same meta pointer. Tiered exactly as
    * [[DigestIndex.compact]]. */
  def compact(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      spec: Spec, minRuns: Int = 4, maxBulks: Int = 4): Option[(Int, Int)] =
    readState(spark, storeDir).filter(_._1 == spec).map(_._2).flatMap { st =>
      val layout = layoutPath(storeDir, spec)
      LsmIndex.compactStep(spark, layout, st,
        BucketCol, bucketOf(col("band_key"), spec.buckets), minRuns, maxBulks)
        .map { next =>
          writeMeta(spark, storeDir, spec, next)
          LsmIndex.sweep(spark, layout, next)
          (st.runs.size, next.bulks.size)
        }
    }

  private def flatSchema(idType: org.apache.spark.sql.types.DataType) =
    StructType(Seq(
      StructField("doc", idType),
      StructField("sig", ArrayType(LongType)),
      StructField("band_key", StringType)))

  private def writeMeta(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, spec: Spec, st: LsmIndex.State): Unit = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val previous = declaredLayout(spark, storeDir)
    LsmIndex.atomicWrite(fs, new Path(storeDir, MetaFile),
      metaJson(spec, st).getBytes("UTF-8"))
    previous.filter(_ != spec.layoutDir)
      .foreach(old => fs.delete(new Path(storeDir, old), true))
  }

  /** Default band-row count above which [[probe]] stops broadcasting
    * the batch side (a 1M-band-row frame of 64-hash signatures is
    * ~0.5 GB serialized — past any sane broadcast budget). */
  val DefaultMaxBroadcastRows: Long = 1L << 20

  /** Candidate pairs between a batch's `(id, sig)` rows and the stored
    * index: one row per colliding (new, corpus) pair with both
    * signatures for agreement scoring — [[Dedup.incrementalCandidates]]
    * over the persisted store. The batch's touched buckets arrive as
    * `PartitionFilters` on the compacted bulks (the scan reads only
    * those directories) plus the flat run tail, and, while the batch
    * stays under `maxBroadcastRows` band rows (trigger-bounded
    * micro-batches always do), the batch side is broadcast so the
    * corpus side never shuffles. A LARGER batch — a cap-less
    * `AvailableNow` backfill over a big landing prefix — would OOM the
    * driver as an unconditional broadcast, so past the threshold the
    * join falls back to a shuffle on `band_key` (the backfill already
    * pays batch-sized I/O; one shuffle of the pruned store side is the
    * scale-correct shape, and AQE may still choose a broadcast from
    * ACTUAL sizes, which is exactly the safe version of the hint). The
    * band-row count is read from the already-materialized probe frame
    * — no extra computation. */
  def probe(batchSigs: DataFrame, idCol: String, sigCol: String,
      storeDir: String, spec: Spec,
      maxBroadcastRows: Long = DefaultMaxBroadcastRows): DataFrame = {
    val spark = batchSigs.sparkSession
    val st = readState(spark, storeDir).filter(_._1 == spec).map(_._2)
      .getOrElse(sys.error(s"no active band index at $storeDir for " +
        s"${spec.layoutDir} — rebuild it from the corpus (id, sig) columns first"))
    // consumed twice (bucket list + join side) — materialize once
    val n = graft.util.Materialize.eager(
      Dedup.banded(batchSigs, idCol, sigCol, spec.bands)
        .withColumn(BucketCol, bucketOf(col("band_key"), spec.buckets)))
    // ONE metadata-sized job (≤ buckets rows) serves both the prune
    // list and the broadcast guard's cardinality
    val perBucket = n.groupBy(BucketCol).count().collect()
    val touched = perBucket.map(_.getInt(0)).toIndexedSeq
    val bandRows = perBucket.map(_.getLong(1)).sum
    val store = LsmIndex.readLive(spark, layoutPath(storeDir, spec), st,
      flatSchema(batchSigs.schema(idCol).dataType), BucketCol, Some(touched))
    val batchSide = n.select(col("doc").as("new_id"), col("sig").as("nsig"),
      col("band_key"))
    val guarded =
      if (bandRows <= maxBroadcastRows) broadcast(batchSide) else batchSide
    store.select(col("doc").as("corpus_id"), col("sig").as("csig"), col("band_key"))
      .join(guarded, "band_key")
      .select(col("new_id"), col("corpus_id"), col("nsig"), col("csig"))
      .distinct()
  }
}
