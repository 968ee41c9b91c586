package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.util.Span

/** Mergeable-count-table accumulation over a live feed — the third
  * streaming state discipline here, next to per-row scoring against
  * frozen state ([[ScoreStream]]) and bounded top-n state
  * ([[Reservoir]]): operators whose complete sufficient statistic is a
  * (keys..., count) table merge by commutative integer sum, so
  * accumulating per-batch count tables lands EXACTLY the batch
  * aggregation over everything fed — the streaming-equals-batch
  * identity, for the corpus-health family (histogram quantiles q125,
  * KL drift q105, and anything else count-shaped).
  *
  * Per-batch work: aggregate the batch (∝ batch size) + re-merge the
  * store (∝ store size = live key cardinality, NOT history size). The
  * scale contract is therefore BOUNDED KEYS — discrete metrics
  * (lengths, buckets, terms of a bounded vocabulary); bucket or hash a
  * continuous/unbounded key first.
  *
  * Replay safety: count merge is not idempotent, so the committed
  * pointer records the last merged batch id and a re-delivered batch
  * (at-least-once restart) is skipped — the standard foreachBatch
  * idempotence guard, transactional here because the pointer and the
  * generation move in one atomic rename (see [[Reservoir]]'s layout).
  */
object CountStream {

  /** Default key-cardinality ceiling: generous for any genuinely
    * discrete domain (langs × length buckets, a capped vocabulary) and
    * far below where the "store ∝ live keys" contract stops being a
    * bound in practice. */
  val MaxStoreKeys: Long = 1L << 22

  /** Above this many bytes per store file, a generation is written as
    * multiple shards instead of one (the single-file swap is an
    * optimization for the common small store, not a correctness
    * requirement — the pointer move is the commit either way). */
  val ShardBytes: Long = 128L << 20

  /** Drain `stream` with AvailableNow, folding `table(batch)` — a
    * (keyCols..., cntCol) frame — into the count store at `storeDir`
    * by groupBy(keys).sum(cnt). Returns the final accumulated table.
    *
    * `maxKeys` ENFORCES the bounded-keys contract instead of trusting
    * the scaladoc: a feed whose key is secretly unbounded (raw terms of
    * an open vocabulary, raw doc ids) fails loudly on the first
    * over-cardinality merge — before the pointer moves, so the store
    * stays at its last good generation — rather than silently growing
    * the store and every subsequent re-merge. */
  def accumulate(spark: SparkSession, stream: DataFrame, storeDir: String,
      checkpointDir: String, keyCols: Seq[String], cntCol: String,
      maxKeys: Long = MaxStoreKeys)
      (table: DataFrame => DataFrame): DataFrame =
    accumulateWith(spark, stream, storeDir, checkpointDir, maxKeys)(table)(
      (cur, t) => cur.unionByName(t)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(col(cntCol)).as(cntCol)))

  /** [[accumulate]] with a caller-supplied merge — for sufficient
    * statistics beyond one summed count (e.g. the corpus diff's
    * (digest, SUM count, MIN example-id) table). Same pointer guard,
    * generation swap, cardinality ceiling and shard sizing; the merge
    * must be associative and commutative over batches for
    * streaming-equals-batch to hold.
    *
    * Generation 0 is the first `table(batch)` written verbatim — there
    * is no store to merge it with, and a single-shard generation is not
    * repartitioned (see [[advance]]) — so `table` should return an
    * AGGREGATED frame: an unaggregated one lands generation 0 as one
    * file per input partition, until the next merge rewrites it. */
  def accumulateWith(spark: SparkSession, stream: DataFrame, storeDir: String,
      checkpointDir: String, maxKeys: Long = MaxStoreKeys)
      (table: DataFrame => DataFrame)
      (merge: (DataFrame, DataFrame) => DataFrame): DataFrame = Span("drain") {
    // the batch-id pointer is only meaningful within one checkpoint
    // lineage — a second stream's restarted ids would silently no-op
    Lineage.bind(storeDir, checkpointDir, "count store")
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Span("trigger")(mergeBatchWith(spark, storeDir, table(batch), batchId, maxKeys)(merge))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    current(spark, storeDir).getOrElse(spark.emptyDataFrame)
  }

  /** Fold one batch's count table into the store — a NO-OP when
    * `batchId` is at or below the committed pointer's batch id (the
    * at-least-once replay guard: a crash between the store commit and
    * the checkpoint commit re-delivers the same id on restart, and a
    * second merge would double-count). */
  private[streaming] def mergeBatch(spark: SparkSession, storeDir: String,
      keyCols: Seq[String], cntCol: String, t: DataFrame,
      batchId: Long, maxKeys: Long = MaxStoreKeys): Unit =
    mergeBatchWith(spark, storeDir, t, batchId, maxKeys)(
      (cur, tt) => cur.unionByName(tt)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(col(cntCol)).as(cntCol)))

  private[streaming] def mergeBatchWith(spark: SparkSession, storeDir: String,
      t: DataFrame, batchId: Long, maxKeys: Long,
      shardBytes: Long = ShardBytes)
      (merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    // the mirror of requireDeltaLayout: a generation-discipline caller
    // pointed at a DELTAS store would read it as empty and fork state
    require(Files.exists(genFile(storeDir)) ||
      !Files.exists(deltaManifestFile(storeDir)),
      s"store at $storeDir holds a DELTA layout (DELTAS manifest from " +
        "accumulateDeltas) but no GEN pointer — accumulate/accumulateWith " +
        "would read it as empty; keep the store on one discipline")
    if (lastBatch(storeDir).forall(_ < batchId)) {
      val merged = current(spark, storeDir) match {
        case Some(cur) => merge(cur, t)
        case None => t
      }
      advance(spark, storeDir, merged, batchId, maxKeys, shardBytes)
    }
  }

  // ---- the delta discipline: unbounded-key accumulation ----

  /** Compact the delta store once this many live delta dirs accrete —
    * per-batch work is then ∝ batch with an amortized ∝ store/16 term,
    * against the re-merge discipline's ∝ store EVERY batch. */
  val DefaultCompactEvery: Int = 16

  /** [[accumulateWith]] for UNBOUNDED key domains (the corpus diff's
    * after-digest table): instead of rewriting the full merged table
    * every micro-batch — right for a metric store bounded by
    * [[MaxStoreKeys]], quadratic-in-corpus wrong for a store that GROWS
    * with the corpus — each batch APPENDS its own (already aggregated,
    * so batch-sized) delta dir, a manifest atomic-rename is the commit
    * (same replay transactionality: the pointer and the dir list move
    * together), and dirs bin-pack through `combine` once
    * `compactEvery` of them accrete — the tx-log / ClusterStream
    * compaction discipline. Read-out merges the live dirs through
    * `combine` at the end of the drain.
    *
    * `combine` collapses a UNION of per-batch delta tables into one
    * (e.g. groupBy(key).agg(sum, min)); it must be associative/
    * commutative over batches AND satisfy
    * `combine(combine(a) ∪ b) == combine(a ∪ b)` (any algebraic
    * aggregate does) for compaction boundaries to be invisible. */
  def accumulateDeltas(spark: SparkSession, stream: DataFrame,
      storeDir: String, checkpointDir: String,
      compactEvery: Int = DefaultCompactEvery)
      (table: DataFrame => DataFrame)
      (combine: DataFrame => DataFrame): DataFrame = Span("drain") {
    require(compactEvery >= 2, s"compactEvery must be >= 2, got $compactEvery")
    requireDeltaLayout(storeDir)
    // same lineage contract as the generation discipline: the DELTAS
    // pointer tracks one stream's batch ids
    Lineage.bind(storeDir, checkpointDir, "delta store")
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Span("trigger")(foldDelta(spark, storeDir, table(batch), batchId, compactEvery)(combine))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    currentDeltas(spark, storeDir)(combine).getOrElse(spark.emptyDataFrame)
  }

  /** One delta fold: write the batch's (aggregated, batch-sized) table
    * to its own dir — idempotent under redelivery, invisible until the
    * manifest lists it — then commit dir list + batch pointer in one
    * atomic rename. Compaction folds in-line when the dir count hits
    * `compactEvery`. */
  private[streaming] def foldDelta(spark: SparkSession, storeDir: String,
      t: DataFrame, batchId: Long, compactEvery: Int)
      (combine: DataFrame => DataFrame): Unit = {
    requireDeltaLayout(storeDir)
    val cur = readDeltaManifest(storeDir)
    if (cur.exists(_._1 >= batchId)) return // at-least-once replay: no-op
    val own = s"delta/batch=$batchId"
    t.write.mode("overwrite").parquet(s"$storeDir/$own")
    // a 0-row write may carry no data file — advance the pointer
    // without listing a dir later multi-dir reads would choke on.
    // Emptiness comes from the just-written footers (driver metadata
    // read), not a read-back Spark job the trigger would pay for.
    val empty = StoreManifest.parquetRowCount(
      new org.apache.hadoop.fs.Path(s"$storeDir/$own"),
      spark.sparkContext.hadoopConfiguration) == 0L
    val prior = cur.map(_._2).getOrElse(Nil)
    val dirs = if (empty) prior else prior :+ own
    val live =
      if (dirs.size < compactEvery) dirs
      else {
        val to = s"delta/compact-$batchId"
        combine(spark.read.parquet(dirs.map(d => s"$storeDir/$d"): _*))
          .write.mode("overwrite").parquet(s"$storeDir/$to")
        Seq(to)
      }
    writeDeltaManifest(storeDir, batchId, live)
    sweepDeltas(storeDir, live.toSet)
  }

  /** The accumulated table: live delta dirs merged through `combine`,
    * or None before the first committed fold with rows. */
  def currentDeltas(spark: SparkSession, storeDir: String)
      (combine: DataFrame => DataFrame): Option[DataFrame] =
    readDeltaManifest(storeDir).collect { case (_, dirs) if dirs.nonEmpty =>
      combine(spark.read.parquet(dirs.map(d => s"$storeDir/$d"): _*))
    }

  /** Last folded batch id in the delta store, if any. */
  def lastDeltaBatch(storeDir: String): Option[Long] =
    readDeltaManifest(storeDir).map(_._1)

  /** A delta-discipline store must not silently shadow a GENERATION
    * store at the same path: a caller migrated from [[accumulateWith]]
    * (the corpus diff moved disciplines in round 12) would otherwise
    * read the accumulated side as EMPTY — for the diff, reporting every
    * previously-fed digest as removed — instead of failing with a
    * migration message (the [[ScoreStream]] legacy-layout contract). */
  private def requireDeltaLayout(storeDir: String): Unit = {
    val root = Paths.get(storeDir)
    if (!Files.exists(deltaManifestFile(storeDir)) && Files.isDirectory(root)) {
      val hasGen = Files.exists(genFile(storeDir)) || {
        val ls = Files.list(root)
        try ls.iterator.asScala.exists(p =>
          Files.isDirectory(p) && p.getFileName.toString.startsWith("gen="))
        finally ls.close()
      }
      require(!hasGen,
        s"store at $storeDir holds a GENERATION layout (GEN/gen=N from " +
          "accumulate/accumulateWith) but no DELTAS manifest — the delta " +
          "discipline would read it as empty and silently drop the " +
          "accumulated state; drain the old store to parquet and re-feed " +
          "it through accumulateDeltas, or start a fresh storeDir")
    }
  }

  private def deltaManifestFile(storeDir: String) =
    Paths.get(storeDir, "DELTAS")

  private def readDeltaManifest(storeDir: String): Option[(Long, Seq[String])] =
    graft.util.FileCommit.read(deltaManifestFile(storeDir)).map { s =>
      val lines = s.split("\n", 2)
      (lines(0).trim.toLong,
        if (lines.length < 2 || lines(1).trim.isEmpty) Nil
        else lines(1).trim.split("\n").toSeq)
    }

  private def writeDeltaManifest(storeDir: String, batchId: Long,
      dirs: Seq[String]): Unit =
    graft.util.FileCommit.replace(deltaManifestFile(storeDir),
      (batchId.toString +: dirs).mkString("\n").getBytes("UTF-8"))

  /** Delete delta dirs the manifest no longer references (replaced by a
    * compaction, or ghosts of a crashed fold already re-delivered). */
  private def sweepDeltas(storeDir: String, live: Set[String]): Unit =
    StoreManifest.sweepChildDirs(Paths.get(storeDir, "delta"),
      name => live(s"delta/$name"))

  private def genFile(storeDir: String) = Paths.get(storeDir, "GEN")

  private def pointer(storeDir: String): Option[(Long, Long)] =
    StoreManifest.genPointer(storeDir).map(_.split(" ") match {
      case Array(g, b) => (g.toLong, b.toLong)
    })

  /** Last merged micro-batch id, if any generation is committed. */
  def lastBatch(storeDir: String): Option[Long] = pointer(storeDir).map(_._2)

  /** The committed count table, or None before the first generation. */
  def current(spark: SparkSession, storeDir: String): Option[DataFrame] =
    pointer(storeDir).map { case (g, _) =>
      spark.read.parquet(s"$storeDir/gen=$g")
    }

  /** Bytes on disk of the committed generation, 0 when none — sizes the
    * NEXT generation's shard count (the store grows per-merge by at
    * most a batch's key set, so the previous size is the right
    * estimate; re-sizing lags one generation, which only ever means
    * one slightly-oversized file). */
  private def committedBytes(storeDir: String): Long =
    StoreManifest.currentGenDir(storeDir).map { rel =>
      val dir = Paths.get(storeDir, rel)
      if (!Files.exists(dir)) 0L
      else {
        val walk = Files.walk(dir)
        try walk.iterator.asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum
        finally walk.close()
      }
    }.getOrElse(0L)

  private def advance(spark: SparkSession, storeDir: String,
      merged: DataFrame, batchId: Long, maxKeys: Long,
      shardBytes: Long = ShardBytes): Unit = {
    val shards = math.max(1L,
      (committedBytes(storeDir) + shardBytes - 1) / shardBytes).toInt
    // single-shard stores (anything under shardBytes — the common
    // metric store) write the merged plan directly: AQE's partition
    // coalescing already lands the small post-agg output in one file,
    // and an explicit repartition(1) would add a full extra exchange
    // (plus its sort-before-repartition) of the store EVERY trigger.
    // Only a store big enough to want multiple shard files pays the
    // explicit round-robin spread. Generation 0's `merged` is the
    // caller's frame verbatim (no exchange to coalesce) — the reason
    // accumulateWith asks for an aggregated `table`.
    val sharded = if (shards > 1) merged.repartition(shards) else merged
    StoreManifest.advanceGen(storeDir,
      writeGen = dir =>
        sharded.write.mode("overwrite").parquet(dir),
      pointerFor = next => s"$next $batchId",
      // cardinality check off the WRITTEN parquet (footer metadata read
      // on the driver — no recompute, no Spark job), and BEFORE the
      // pointer move: an over-cardinality merge leaves the store at its
      // last good generation
      afterWrite = dir => {
        val keys = StoreManifest.parquetRowCount(
          new org.apache.hadoop.fs.Path(dir),
          spark.sparkContext.hadoopConfiguration)
        require(keys <= maxKeys,
          s"count store at $storeDir: merge produced $keys keys > maxKeys=" +
            s"$maxKeys — the (keys..., count) table only bounds state for " +
            "a BOUNDED key domain; bucket or hash the key first (see " +
            "HistQuantiles), or raise maxKeys explicitly for a known domain.")
      })
  }
}
