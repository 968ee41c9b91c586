package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.util.Span

/** The ONE place for the train-once / score-a-live-feed scaffold shared
  * by every streaming twin of a batch scorer (q120 LM, q122 NB, q127
  * DSIR gate, q129 fuzzy decontamination): freeze the model frames by
  * `persist()`ing them OUTSIDE `foreachBatch`, drain the stream with
  * `Trigger.AvailableNow`, run the batch scoring plan per micro-batch,
  * append each batch's output, and unpersist the frozen frames when the
  * drain finishes.
  *
  * Why this contract matters at scale: the frozen frames are the
  * cross-batch invariant. Pinned once, every trigger joins against
  * cached vocabulary-bounded tables instead of re-reading model parquet
  * per trigger — per-batch work stays ∝ batch size, so 100× the trigger
  * count costs 100× the batch work and nothing more. And because the
  * scoring plan is per-document against a FROZEN model, the union of
  * the per-batch appends equals the one-shot batch scoring exactly —
  * which is why each streaming twin is adjudicated by its batch twin's
  * oracle unchanged (the q104→q108 equivalence; see
  * /root/repo/docs/PERF.md round-9 notes).
  *
  * Reference anchor: the reference drains batch work-lists through the
  * same at-least-once loader it uses for live events
  * (`pkg/usecase/load.go`), which is the behavioral contract here —
  * replaying a feed through the streaming scorer must land exactly the
  * batch answer. */
object ScoreStream {

  /** Drain `stream` with AvailableNow, appending `score(batch)` to
    * `outDir` per micro-batch. Every frame in `frozen` is persisted
    * for the whole drain and unpersisted after — callers must build
    * `score`'s plan over exactly these frames so no model state is
    * re-derived inside the loop. Blocks until the drain finishes. */
  def replay(stream: DataFrame, frozen: Seq[DataFrame], outDir: String,
      checkpointDir: String,
      /** spread a split-starved micro-batch to defaultParallelism
        * before scoring. Right when the trigger cost IS batch-side
        * per-row work (NB: measured −30%; LM/decontam: tie) — a
        * scorer whose per-row work is too light to amortize the
        * round-robin exchange (DSIR gate: measured ~+0.7s) opts out.
        * Per-family A/B in docs/PERF.md round 14. */
      spread: Boolean = true)(score: DataFrame => DataFrame): Unit = {
    // the output layout moved from flat per-batch appends to
    // batch=<id> subdirs; resuming over an outDir written with the old
    // flat layout would leave root part files NEXT TO batch= subdirs,
    // and spark.read.parquet fails on the mixed structure — detect and
    // fail with a migration message instead of corrupting the dir
    {
      val root = java.nio.file.Paths.get(outDir)
      if (java.nio.file.Files.isDirectory(root)) {
        val ls = java.nio.file.Files.list(root)
        val legacy = try {
          import scala.jdk.CollectionConverters._
          ls.iterator.asScala.exists(p =>
            java.nio.file.Files.isRegularFile(p) &&
              p.getFileName.toString.startsWith("part-"))
        } finally ls.close()
        require(!legacy,
          s"outDir $outDir holds flat part files from the pre-batch-subdir " +
            "layout; mixing them with batch=<id> subdirs makes the parquet " +
            s"read fail — move them into $outDir/batch=legacy (content is " +
            "preserved; output() unions subdirs) or start a fresh outDir")
      }
    }
    // batch=<id> subdirs are keyed on the micro-batch id: a SECOND
    // checkpoint lineage restarts ids at 0 and would silently OVERWRITE
    // the committed batch dirs of the first — bind the outDir to one
    // lineage and fail loudly instead ([[Lineage]]; the _LINEAGE stamp
    // is ignored by parquet directory listings, so output() is
    // unaffected)
    Lineage.bind(outDir, checkpointDir, "score-stream output")
    frozen.foreach(_.persist())
    try Span("drain")(stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // idempotent under at-least-once redelivery: each micro-batch
        // OWNS the batch=<id> subdir, so a batch re-delivered after a
        // crash between the write and the checkpoint commit overwrites
        // its own (possibly partial) output instead of appending a
        // duplicate — the union of subdirs is exactly-once by content
        //
        // spread a parallelism-STARVED batch before scoring: a
        // few-file trigger arrives as that many scan splits, so the
        // scorer's expensive first stage (tokenize + explode + partial
        // agg) runs on one core while the rest idle — measured as a
        // single-task job owning ~70% of the trigger lap. The
        // round-robin shuffle moves only the raw batch rows (small by
        // definition when split-starved); a production mega-batch
        // already carries >= defaultParallelism splits and passes
        // through untouched, so this never caps cluster-scale inputs
        val par = batch.sparkSession.sparkContext.defaultParallelism
        val in =
          if (!spread || batch.rdd.getNumPartitions >= par) batch
          else batch.repartition(par)
        Span("trigger")(
          score(in).write.mode("overwrite").parquet(s"$outDir/batch=$batchId"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination())
    finally frozen.foreach(_.unpersist(blocking = false))
  }

  /** A finished [[replay]]'s accumulated output: the union of the
    * per-batch subdirs, with the `batch` partition column dropped
    * (callers adjudicate against batch oracles that know nothing of
    * micro-batch boundaries). */
  def output(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).drop("batch")

  /** Turn a batch frame into a replayable file feed: write `df` to
    * `dir` as `files` parquet files and re-open it as a one-file-per-
    * trigger stream — the harness the streaming-twin queries use to
    * replay a known corpus through the live path so the batch oracle
    * can adjudicate the result.
    *
    * Trigger-count policy (every query's floor is PER-TRIGGER):
    * STATELESS drains — per-row scoring against a frozen artifact
    * (q120/q122/q127/q129/q136/q139) and the incremental cluster fold
    * (q150/q152) — pass `files = 3`: a fresh drain, a mid-stream
    * boundary and a tail boundary exercise everything replay can do
    * differently from batch. STATEFUL stream twins (the reservoir,
    * quantile, count and diff stores — q135/q140/q141/q144/q151) keep
    * the 6-file default: their value is cross-batch state-MERGE
    * coverage, and more boundaries mean more merges under the gate. */
  def feed(df: DataFrame, dir: String, files: Int = 6): DataFrame = {
    Span("feed-write")(
      df.repartition(files).write.mode("overwrite").parquet(dir))
    df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }
}
