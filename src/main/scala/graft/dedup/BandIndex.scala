package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

/** Persisted LSH band index — the derived store that makes the
  * streaming near-dup gate's corpus probe O(batch), not O(corpus).
  *
  * [[Dedup.incrementalCandidates]]'s contract says "signature the
  * corpus ONCE at ingest (persist [[Dedup.banded]]'s output as a
  * table)"; this is that table in the [[LsmIndex]] layout, bucketed by
  * a hash of the band key (same layout idea as the IVF store,
  * [[graft.sim.Similarity.writeIvfStore]]). A batch probe reads ONLY
  * the bucket directories its own band keys hash to plus the flat
  * post-compaction tail, with the batch side broadcast: the corpus
  * side of the probe is never shuffled and, for a batch touching few
  * buckets, mostly never read. It is rebuilt from the corpus table's
  * stored `(id, sig)` projection, re-banded in one pass; freshness is
  * declared by `bands-meta.json`.
  *
  * Crash-safety direction: callers append to the index BEFORE the docs
  * append, so the index is always a SUPERSET of the corpus' band rows.
  * Ghost rows (index entries whose doc append never happened) are
  * `(id, sig)`-identical to the replayed batch's own rows and are
  * filtered by the caller ([[graft.streaming.CorpusBuilder]]'s ghost
  * anti-join); replay also re-appends the same band rows, which the
  * probe's `distinct()` absorbs.
  */
object BandIndex extends LsmIndex.Store("band index", "bands-meta.json",
    BucketCol = "__bk", keyCol = "band_key", fieldNames = Seq("bands", "buckets")) {

  /** Declared index spec. `bands` must match the probe-time banding
    * (band keys embed the band number and row slice); `buckets` only
    * shapes the layout. */
  final case class Spec(bands: Int, buckets: Int) extends LsmIndex.Spec {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    def fields: Seq[Int] = Seq(bands, buckets)
    def layoutDir: String = s"bands-b$bands-k$buckets"
  }

  protected def specOf(fields: Seq[Int]): Spec = Spec(fields(0), fields(1))

  protected def project(rows: DataFrame, idCol: String, sigCol: String,
      spec: Spec): DataFrame =
    Dedup.banded(rows, idCol, sigCol, spec.bands)

  protected def flatSchema(idType: DataType): StructType =
    StructType(Seq(
      StructField("doc", idType),
      StructField("sig", ArrayType(LongType)),
      StructField("band_key", StringType)))

  protected def keysOf(value: Column, spec: Spec): Column =
    Dedup.bandKeys(value, spec.bands)

  /** Candidate pairs between a batch's `(id, sig)` rows and the stored
    * index: one row per colliding (new, corpus) pair with both
    * signatures for agreement scoring — [[Dedup.incrementalCandidates]]
    * over the persisted store. `touched` is the batch's band buckets
    * and band-row count (observed by the caller, or [[touched]]). The
    * batch side is broadcast while it stays under `maxBroadcastRows`
    * band rows (trigger-bounded micro-batches always do); a cap-less
    * `AvailableNow` backfill over a big landing prefix would OOM the
    * driver as an unconditional broadcast, so past it the join
    * shuffles on `band_key` — the backfill already pays batch-sized
    * I/O. */
  def probe(batchSigs: DataFrame, idCol: String, sigCol: String,
      storeDir: String, spec: Spec, touched: LsmIndex.Touched,
      maxBroadcastRows: Long = DefaultMaxBroadcastRows): DataFrame = {
    val (batch, store) = probeSides(project(batchSigs, idCol, sigCol, spec),
      batchSigs.schema(idCol).dataType, storeDir, spec, touched,
      maxBroadcastRows)(
      col("doc").as("new_id"), col("sig").as("nsig"), col("band_key"))
    store.select(col("doc").as("corpus_id"), col("sig").as("csig"), col("band_key"))
      .join(batch, "band_key")
      .select(col("new_id"), col("corpus_id"), col("nsig"), col("csig"))
      .distinct()
  }
}
