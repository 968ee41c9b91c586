package graft.dedup

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The LSM layout shared by the persisted dedup indexes
  * ([[DigestIndex]], [[BandIndex]]) — the [[graft.streaming.ClusterStream]]
  * label-store treatment applied to the corpus gate's derived stores:
  *
  *   - APPEND (per micro-batch, the hot path) writes ONE FLAT
  *     single-file run `layout/run-<seq>` — no rebalance shuffle, no
  *     dynamic-partition commit. The r14 job-trace decomposition priced
  *     the per-batch bucket-partitioned append at ~85% of a corpus
  *     trigger's commit lap (docs/PERF.md r14 tail); a flat run write
  *     is the known cure (the r13 label-LSM result).
  *   - COMPACTION (maintenance cadence, [[graft.streaming.CorpusBuilder.compactStores]])
  *     folds the accumulated runs into a bucket-partitioned bulk
  *     `layout/compact-<seq>` (read-optimized: probes prune to touched
  *     buckets via `PartitionFilters`), tiered so one fold's I/O is
  *     bounded by the RUN mass, not the corpus: bulks accumulate up to
  *     `maxBulks` before a full merge rewrites them into one.
  *   - PROBES read the bucket-pruned bulks plus the flat
  *     post-compaction tail — per-batch probe I/O tracks the batch
  *     plus at most one compaction cadence of runs, never the corpus.
  *
  * Run/bulk names are DETERMINISTIC (`<kind>-<seq>`, seq persisted in
  * the index meta): a crash between a run write and its meta swap
  * leaves a ghost dir that the replayed batch OVERWRITES under the
  * same name (mode Overwrite), so the window self-heals without
  * lineage coupling — the corpus builder is deliberately not bound to
  * one checkpoint lineage, so batch ids cannot name runs here.
  * Referenced-never-deleted ([[graft.streaming.StoreManifest]]
  * invariant 2): data dirs are written before the meta references
  * them and swept only after a swap stops referencing them.
  *
  * Serialization contract: appends and compactions of one store must
  * not interleave — the streaming builder's one-live-builder lock (or
  * the batch caller's own serialization) provides it; `compactStores`
  * acquires the same lock when called standalone. */
private[graft] object LsmIndex {

  /** Live view of one index layout: the next dir sequence number, the
    * bucket-partitioned bulks (oldest first) and the flat runs. */
  final case class State(seq: Long, bulks: Seq[String], runs: Seq[String]) {
    def live: Set[String] = (bulks ++ runs).toSet
  }

  /** Fresh-store state (first append / rebuild target). */
  val Empty: State = State(0L, Nil, Nil)

  /** Meta-fragment renderer — the index's own spec fields prefix it. */
  def render(st: State): String = {
    def arr(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString(",")
    s""""ver":2,"seq":${st.seq},"bulks":[${arr(st.bulks)}],"runs":[${arr(st.runs)}]"""
  }

  private val SeqRe = """"seq":(\d+)""".r.unanchored
  private val BulksRe = """"bulks":\[([^\]]*)\]""".r.unanchored
  private val RunsRe = """"runs":\[([^\]]*)\]""".r.unanchored

  /** Parse the state fragment out of a meta string; None for any
    * pre-LSM (ver-1) meta — the caller treats that as "no trustable
    * index" and rebuilds from the corpus (the migration guard: a ver-1
    * layout mixes structures this reader must not guess at). */
  def parse(s: String): Option[State] =
    if (!s.contains(""""ver":2""")) None
    else {
      def names(re: scala.util.matching.Regex): Seq[String] = s match {
        case re(inner) =>
          inner.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty)
        case _ => sys.error(s"unreadable LSM index meta: $s")
      }
      val seq = s match {
        case SeqRe(n) => n.toLong
        case _ => sys.error(s"unreadable LSM index meta (no seq): $s")
      }
      Some(State(seq, names(BulksRe), names(RunsRe)))
    }

  /** tmp → rename; delete-then-rename where rename-over is unsupported
    * — the commit of each index's meta pointer. The tmp name is
    * ATTEMPT-UNIQUE: two writers of one pointer each write their own
    * tmp in full, so no commit can ever rename interleaved half-writes
    * into place. Readers only ever read `dst`, so a torn tmp (crash
    * mid-write) is inert: the previously committed pointer stays
    * active. No post-commit tmp cleanup: a sweep could delete a
    * CONCURRENT writer's in-flight tmp between its write and rename,
    * failing its commit after it already removed dst. */
  private[dedup] def atomicWrite(fs: FileSystem, dst: Path, bytes: Array[Byte]): Unit = {
    val tmp = dst.suffix(s".${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) sys.error(s"cannot commit $dst")
    }
  }

  /** The append entry guard shared by the index stores: the active LSM
    * state when the declared layout matches the requested one, [[Empty]]
    * when no meta exists at all (fresh store), and a loud error
    * otherwise — appending over a mismatched-spec or pre-LSM (ver-1)
    * meta would orphan the active layout at the pointer swap and break
    * the index-superset-of-corpus invariant (duplicates re-admitted
    * through the gate). */
  def appendableState(kind: String, storeDir: String, requestedLayout: String,
      active: Option[(String, State)], metaExists: Boolean): State =
    active match {
      case Some((layout, st)) if layout == requestedLayout => st
      case Some((layout, _)) => sys.error(
        s"$kind at $storeDir is declared for $layout but this append " +
          s"arrived for $requestedLayout — rebuild() into the new spec " +
          "first; a restart-from-empty append would orphan the active " +
          "layout and break the index-superset-of-corpus invariant")
      case None if metaExists => sys.error(
        s"$kind at $storeDir has a pre-LSM (ver-1) meta — rebuild() it " +
          "into the LSM layout first; appending over it would orphan " +
          "every existing index row and re-admit their duplicates")
      case None => Empty
    }

  /** Write one flat run for `rows` and return (run name, next state).
    * Single-file by default (`coalesce(1)`): the designed input is a
    * micro-batch — batch-sized id/digest/band rows, orders of
    * magnitude below the doc bytes — and one file keeps the
    * post-compaction tail at one footer per batch. A `--max-bytes`
    * MEGA-batch would serialize through one write task, so callers
    * that know the batch's row count pass `parts` > 1 (they already
    * counted the staged frame — see [[runParts]]); coalesce stays
    * shuffle-free either way. Deterministic name + Overwrite
    * self-heal the crash-between-run-and-meta window (see class doc).
    * The caller persists the returned state AFTER this returns (data
    * before pointer). */
  def writeRun(rows: DataFrame, layout: String, st: State,
      parts: Int = 1): (String, State) = {
    val run = s"run-${st.seq}"
    rows.coalesce(math.max(1, parts))
      .write.mode("overwrite").parquet(s"$layout/$run")
    (run, State(st.seq + 1, st.bulks, st.runs :+ run))
  }

  /** Run-file count for a known row count: one file per `perFile` rows,
    * capped so a pathological count can't explode the flat tail. */
  def runParts(rows: Long, perFile: Long): Int =
    math.min(64L, (rows + perFile - 1) / perFile).toInt

  /** The layout's live rows in flat shape (no bucket column): bulks
    * pruned to `touched` buckets (or read whole when None — the
    * compaction path) unioned with the flat run tail. Explicit schema
    * everywhere — an empty dir must read as empty, not throw. */
  def readLive(spark: SparkSession, layout: String, st: State,
      flatSchema: StructType, bucketCol: String,
      touched: Option[Seq[Int]]): DataFrame = {
    val bulkSchema = flatSchema.add(bucketCol,
      org.apache.spark.sql.types.IntegerType)
    val flatCols = flatSchema.fieldNames.map(col).toIndexedSeq
    val bulks = st.bulks.map { b =>
      val df = spark.read.schema(bulkSchema).parquet(s"$layout/$b")
      touched.fold(df)(t => df.filter(col(bucketCol).isin(t: _*)))
        .select(flatCols: _*)
    }
    val runs =
      if (st.runs.isEmpty) Nil
      else Seq(spark.read.schema(flatSchema)
        .parquet(st.runs.map(r => s"$layout/$r"): _*))
    (bulks ++ runs).reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        flatSchema))
  }

  /** Bucket + shuffle + partitioned write of a consolidated bulk — the
    * read-optimized shape, paid only at compaction/rebuild/maintenance
    * time. Overwrite: a crashed fold's leftover is retried under the
    * same deterministic name.
    *
    * `rebalance = true` (the index folds) lets AQE split skewed buckets
    * across tasks; `false` pins ONE task/file per bucket via an exact
    * `repartition` — required wherever AQE may be off (the cluster
    * fold's label write runs inside a streaming `foreachBatch`, where a
    * rebalance hint would silently no-op into a per-input-partition
    * fan-out) or where the one-file-per-bucket layout is load-bearing. */
  def writeBulk(rows: DataFrame, dir: String, bucketCol: String,
      bucketOf: org.apache.spark.sql.Column, rebalance: Boolean = true): Unit = {
    val bucketed = rows.withColumn(bucketCol, bucketOf)
    (if (rebalance) bucketed.hint("rebalance", bucketCol)
     else bucketed.repartition(col(bucketCol)))
      .write.partitionBy(bucketCol).mode("overwrite").parquet(dir)
  }

  /** Mixed-structure read of a store area's live dirs — flat runs and
    * bucket-partitioned bulks under ONE frame, with flat rows carrying
    * `sentinel` in `bucketCol` so a single `isin(buckets :+ sentinel)`
    * prune serves both shapes (the [[graft.streaming.ClusterStream]]
    * convention; the index probes use [[readLive]]'s explicit-schema
    * twin, which prunes per-dir instead). All-flat stores — every drain
    * before the first maintenance — read as one multi-root scan, the
    * unpruned fast shape; mixed stores load per root (one multi-root
    * read trips Spark's conflicting-directory check) and union. */
  def readMixed(spark: SparkSession, paths: Seq[String],
      isFlat: String => Boolean, bucketCol: String, sentinel: Int): DataFrame =
    if (paths.forall(isFlat)) spark.read.parquet(paths: _*)
    else paths.map { p =>
      val df = spark.read.parquet(p)
      if (df.columns.contains(bucketCol)) df
      else df.withColumn(bucketCol, lit(sentinel))
    }.reduce(_.unionByName(_))

  /** Does the dir hold any data file (recursing through partition
    * subdirs)? Hidden/metadata names (`_SUCCESS`, `.crc`) don't count —
    * and neither does anything UNDER a hidden dir: a crashed write's
    * `_temporary/.../part-*.parquet` has a data-looking basename but is
    * invisible to Spark's reader, so counting it would re-create the
    * read-an-empty-dir failure this check exists to avoid. Emptiness is
    * decided STRUCTURALLY — not by catching the schema-inference
    * AnalysisException, whose message text varies across Spark versions
    * (a changed message would turn a routine empty bulk into a hard
    * compaction failure). */
  private def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Boolean = fs.exists(p) && {
    // Spark's visibility rule: `_`/`.`-prefixed names are hidden —
    // except partition dirs (`__dk=0`), whose `=` marks them data
    def hiddenName(n: String): Boolean =
      (n.startsWith("_") || n.startsWith(".")) && !n.contains("=")
    val root = fs.makeQualified(p) // listFiles yields qualified paths
    def hiddenAncestor(f: Path): Boolean = {
      var cur = f.getParent
      var hidden = false
      while (!hidden && cur != null && cur != root) {
        hidden = hiddenName(cur.getName)
        cur = cur.getParent
      }
      hidden
    }
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val f = it.next()
      found = f.isFile && !hiddenName(f.getPath.getName) &&
        !hiddenAncestor(f.getPath)
    }
    found
  }

  /** Read a set of parquet roots with footer-inferred schema, skipping
    * roots with no data files (an empty run/bulk has rows to
    * contribute only in the probe's explicit-schema world; compaction
    * just drops it). Per-root loads — bulks carry partition dirs, runs
    * don't, and one multi-root read trips Spark's conflicting-
    * structure check. */
  private def readForFold(spark: SparkSession, paths: Seq[String],
      bucketCol: String): Option[DataFrame] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!hasDataFiles(fs, hp)) None // an empty dir contributes nothing
      else {
        val df = spark.read.parquet(p)
        Some(if (df.columns.contains(bucketCol)) df.drop(bucketCol) else df)
      }
    }.reduceOption(_.unionByName(_))

  /** One tiered compaction step, or None when not due. Folds the flat
    * runs into a new bulk `compact-<seq>` — a FULL merge (every bulk +
    * run, deduplicated) once `maxBulks` would be exceeded, else an
    * L1 fold whose I/O is bounded by the run mass. The fold reads with
    * footer-inferred schema (the id column's type is whatever the
    * appends wrote — compaction has no candidates frame to take it
    * from). Returns the state to persist; the caller swaps its meta
    * pointer then calls [[sweep]]. */
  def compactStep(spark: SparkSession, layout: String, st: State,
      bucketCol: String, bucketOf: org.apache.spark.sql.Column,
      minRuns: Int, maxBulks: Int): Option[State] =
    if (st.runs.size < minRuns) None
    else {
      val target = s"compact-${st.seq}"
      val full = st.bulks.size + 1 > maxBulks
      val roots = (if (full) st.bulks else Nil) ++ st.runs
      readForFold(spark, roots.map(r => s"$layout/$r"), bucketCol) match {
        case None =>
          // every folded root was empty: nothing to write — just drop
          // the runs (and, on a full merge, the empty bulks)
          Some(State(st.seq, if (full) Nil else st.bulks, Nil))
        case Some(rows) =>
          // replays duplicate run rows; the fold is where they die
          writeBulk(rows.distinct(), s"$layout/$target", bucketCol, bucketOf)
          // an all-duplicate fold can write zero rows; the dir must
          // still exist so the pruned probe reads "empty", not "lost"
          val fs = new Path(layout).getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(new Path(layout, target)))
            fs.mkdirs(new Path(layout, target))
          Some(State(st.seq + 1,
            if (full) Seq(target) else st.bulks :+ target, Nil))
      }
    }

  /** Referenced-never-deleted sweep: drop every child dir of `layout`
    * the (already-swapped) state no longer references — superseded
    * bulks, folded runs, crashed-write ghosts. */
  def sweep(spark: SparkSession, layout: String, st: State): Unit = {
    val p = new Path(layout)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath)
        .filterNot(d => st.live.contains(d.getName))
        .foreach(d => fs.delete(d, true))
  }
}
