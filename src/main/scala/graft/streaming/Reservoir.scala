package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.util.Span

/** Streaming weighted reservoir — exact weighted sampling WITHOUT
  * replacement over a live feed. The batch operator's
  * Efraimidis–Spirakis priority key ([[graft.curation.Sampling.esKey]])
  * is mergeable: top-n(A ∪ B) = top-n(top-n(A) ∪ B), so a store that
  * keeps only the current top-n and re-ranks it against each
  * micro-batch holds, at every trigger, EXACTLY the sample the batch
  * operator would draw from everything seen so far. That is the whole
  * point: a crawl can be sampled as it lands, and the result is
  * indistinguishable from sampling the finished corpus (the q104→q108
  * streaming-equals-batch adjudication pattern, in reservoir form).
  *
  * Per-batch work is top-n over (n + batch) rows — never the history;
  * the store is n rows by construction, so state is O(n) regardless of
  * how much has streamed past. Re-delivered batches (at-least-once
  * replay after a crash) are absorbed by the id-level dedup before
  * ranking: the E-S key is a pure function of the id, so a replayed row
  * is byte-identical to its first delivery and collapses.
  *
  * Store layout: `storeDir/gen=N` parquet + a `GEN` pointer file under
  * [[StoreManifest]]'s atomic-swap discipline — a crash between steps
  * leaves the old complete generation or the new one, never a torn
  * store.
  *
  * Deliberately NOT bound to one checkpoint lineage (unlike the
  * batch-id-guarded stores — [[Lineage]]): replay safety here is
  * VALUE-keyed (the E-S key is a pure function of the id, so any
  * replayed or re-fed row collapses in the id-dedup), which makes
  * draining one store from a second checkpoint a correct operation —
  * the result still equals the batch draw over the union of everything
  * fed (pinned in ReservoirSpec's two-lineage tests).
  */
object Reservoir {

  /** Drain `stream` with AvailableNow, folding each micro-batch into
    * the weighted reservoir at `storeDir`. Returns the final sample
    * with the key column and its 1..n `rank` (the batch operator's
    * exact output shape). */
  def streamWeightedSample(spark: SparkSession, stream: DataFrame,
      idCol: String, weightCol: String, n: Int, seed: String,
      storeDir: String, checkpointDir: String,
      keyAs: String = "es_key",
      /** rank within these columns instead of globally — the
        * per-stratum quota reservoir (merge property holds per group,
        * so the store is n·|strata| rows and still equals the batch
        * [[graft.curation.Sampling.stratifiedWeightedSample]]) */
      strata: Seq[String] = Nil): DataFrame = Span("drain") {
    require(n > 0, s"reservoir needs n > 0, got $n")
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) => Span("trigger") {
          val keyed = batch.withColumn(keyAs,
            graft.curation.Sampling.esKey(col(idCol), col(weightCol), seed))
          val merged = current(spark, storeDir) match {
            case Some(cur) => cur.drop("rank").unionByName(keyed)
            case None => keyed
          }
          // id-level dedup must be DETERMINISTIC: a replayed row is
          // byte-identical and collapses either way, but a feed that
          // re-carries an id with a NEW weight/attributes would make
          // dropDuplicates keep an arbitrary row. Keep the max-key row
          // per id (ties broken by the remaining ORDERABLE columns), so
          // the winner is a pure function of the rows seen — the batch
          // twin's unique-id precondition, enforced rather than assumed.
          // Non-orderable attributes (maps) ride in the VALUE struct but
          // not the ordering — max(struct(...)) over them fails analysis
          // — so a row carrying a map column still flows through; the
          // pick is only tie-arbitrary if two rows agree on the key and
          // every orderable attribute yet differ in a map.
          val rest = merged.columns.filter(c => c != idCol && c != keyAs)
          val orderable = rest.filter(c => org.apache.spark.sql.catalyst
            .expressions.RowOrdering.isOrderable(merged.schema(c).dataType))
          val deduped = merged.groupBy(col(idCol))
            .agg(max_by(struct((col(keyAs) +: rest.map(col)): _*),
              struct((col(keyAs) +: orderable.map(col)): _*)).as("__w"))
            .select(merged.columns.map(c =>
              if (c == idCol) col(c) else col(s"__w.$c").as(c)): _*)
          val top = graft.util.TopN.exact(deduped,
            strata.map(col), Seq(col(keyAs).desc, col(idCol).asc), n)
          advance(spark, storeDir, top)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    current(spark, storeDir).getOrElse(
      spark.emptyDataFrame)
  }

  /** The committed reservoir, or None before the first generation. */
  def current(spark: SparkSession, storeDir: String): Option[DataFrame] =
    StoreManifest.currentGenDir(storeDir)
      .map(rel => spark.read.parquet(s"$storeDir/$rel"))

  /** One [[StoreManifest.advanceGen]] swap; the store is n rows by
    * construction, so one file keeps the generation a single-object
    * swap on any filesystem. */
  private def advance(spark: SparkSession, storeDir: String, top: DataFrame): Unit =
    StoreManifest.advanceGen(storeDir,
      dir => top.coalesce(1).write.mode("overwrite").parquet(dir))
}
