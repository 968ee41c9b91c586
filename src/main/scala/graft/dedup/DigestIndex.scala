package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

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
  * the [[LsmIndex]] layout, bucketed by a hash of the digest, so a
  * batch verify reads ONLY the bucket directories its own candidate
  * digests hash to plus the flat post-compaction tail — per-batch
  * verify I/O tracks the BATCH plus one compaction cadence of runs,
  * not the corpus. It is rebuilt from the corpus table's stored digest
  * column; freshness is declared by `digests-meta.json`.
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
object DigestIndex extends LsmIndex.Store("digest index", "digests-meta.json",
    BucketCol = "__dk", keyCol = "digest", fieldNames = Seq("buckets")) {

  /** Declared index spec. `buckets` only shapes the layout — any probe
    * works against any bucketing, it just prunes differently. */
  final case class Spec(buckets: Int) extends LsmIndex.Spec {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    def fields: Seq[Int] = Seq(buckets)
    def layoutDir: String = s"digests-k$buckets"
  }

  protected def specOf(fields: Seq[Int]): Spec = Spec(fields.head)

  protected def project(rows: DataFrame, idCol: String, digestCol: String,
      spec: Spec): DataFrame =
    rows.select(col(idCol).as("doc"), col(digestCol).as("digest"))

  protected def flatSchema(idType: DataType): StructType =
    StructType(Seq(StructField("doc", idType), StructField("digest", StringType)))

  protected def keysOf(value: Column, spec: Spec): Column = array(value)

  /** Matches between a batch's candidate `(id, digest)` rows and the
    * stored index: one row per (digest, new_id, corpus_id) triple.
    * `touched` is the candidates' (observed by the caller, or
    * [[touched]]): its buckets arrive as `PartitionFilters` on the
    * compacted bulks plus the flat run tail, and the candidate side is
    * broadcast — bloom-hit candidates are batch-bounded in steady
    * state, but a cap-less backfill whose content is mostly duplicates
    * can make them batch-SIZED, hence the `maxBroadcastRows` guard.
    * Callers classify matches via [[Dedup.indexedDupDigests]]. */
  def probe(candidates: DataFrame, idCol: String, digestCol: String,
      storeDir: String, spec: Spec, touched: LsmIndex.Touched,
      maxBroadcastRows: Long = DefaultMaxBroadcastRows): DataFrame = {
    val (batch, store) = probeSides(
      candidates.select(col(idCol).as("new_id"), col(digestCol).as("digest"))
        .distinct(),
      candidates.schema(idCol).dataType, storeDir, spec, touched,
      maxBroadcastRows)(
      col("new_id"), col("digest"))
    store.select(col("doc").as("corpus_id"), col("digest"))
      .join(batch, "digest")
      .select(col("digest"), col("new_id"), col("corpus_id"))
      .distinct()
  }
}
