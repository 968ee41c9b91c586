package graft.dedup

import java.nio.file.Paths

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** The LSM layout shared by the persisted dedup indexes
  * ([[DigestIndex]], [[BandIndex]], both instances of [[LsmIndex.Store]])
  * — the [[graft.streaming.ClusterStream]] label-store treatment applied
  * to the corpus gate's derived stores:
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

  /** What a probe needs of its batch side: the key buckets it touches
    * (the store read's prune list) and its key-row count (the broadcast
    * guard), observed where the batch is materialized. */
  final case class Touched(buckets: Seq[Int], rows: Long)

  object Touched {
    /** Read back the metrics [[Store.touchedMetrics]] named `name`: bit
      * `i` of word `w` is bucket `64 * w + i`. */
    def of(metrics: Map[String, Any], name: String): Touched = {
      // a word over no rows is null
      val words = Iterator.from(0).map(w => s"${name}_bits$w").takeWhile(metrics.contains)
        .map(k => Option(metrics(k)).fold(0L)(_.asInstanceOf[Long])).toArray
      Touched(scala.collection.immutable.BitSet.fromBitMaskNoCopy(words).toSeq,
        metrics(s"${name}_rows").asInstanceOf[Long])
    }
  }

  /** Meta-fragment renderer — the index's own spec fields prefix it. */
  private def render(st: State): String = {
    def arr(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString(",")
    s""""ver":2,"seq":${st.seq},"bulks":[${arr(st.bulks)}],"runs":[${arr(st.runs)}]"""
  }

  private val SeqRe = """"seq":(\d+)""".r.unanchored
  private val BulksRe = """"bulks":\[([^\]]*)\]""".r.unanchored
  private val RunsRe = """"runs":\[([^\]]*)\]""".r.unanchored

  /** Parse the state fragment out of a meta string; None for any
    * pre-LSM (ver-1) meta. */
  private def parse(s: String, unreadable: => Nothing): Option[State] =
    if (!s.contains(""""ver":2""")) None
    else {
      def names(re: scala.util.matching.Regex): Seq[String] = s match {
        case re(inner) =>
          inner.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
            .filter(_.nonEmpty)
        case _ => unreadable
      }
      val seq = s match {
        case SeqRe(n) => n.toLong
        case _ => unreadable
      }
      Some(State(seq, names(BulksRe), names(RunsRe)))
    }

  /** A declared index spec: its int fields in meta order (the names
    * are the [[Store]]'s), its directory-bucket count, and the layout
    * directory it names — so a spec change targets a fresh directory
    * and the pointer flip is atomic. */
  trait Spec {
    def fields: Seq[Int]
    def buckets: Int
    def layoutDir: String
  }

  /** ONE read of a store's meta: the layout dir it declares, whatever
    * its spec or version (the cleanup at a spec flip needs it), and the
    * active LSM spec and state — None for a pre-LSM (ver-1) meta. */
  final case class Meta[S](declared: String, active: Option[(S, State)])

  /** A persisted, REBUILDABLE index in this layout: `(doc, <key>, ...)`
    * rows, bucketed by `pmod(xxhash64(keyCol), buckets)` into
    * `BucketCol` at compaction. Losing it costs one rebuild scan of the
    * corpus, never correctness.
    *
    * Freshness is declared by `metaFile`: the spec's `fieldNames` then
    * the LSM state, a pointer beside the layouts committed by
    * [[graft.util.FileCommit.replace]]. A spec change
    * REBUILDS into a fresh layout directory and flips the pointer only
    * after the rebuild completes; the superseded layout is removed
    * after the flip (rebuild-then-flip). A pre-LSM (ver-1) meta — the
    * spec fields alone — reads as no active index, so legacy layouts
    * migrate through the same rebuild path instead of being misread.
    * A meta whose spec fields don't parse (another store's meta,
    * damage) fails loudly, naming the store.
    *
    * An instance supplies its `Spec` type, the row projection
    * ([[project]]) with its flat schema, the keys of one stored value
    * ([[keysOf]]), and its probe's final join. */
  abstract class Store(kind: String, metaFile: String, val BucketCol: String,
      keyCol: String, fieldNames: Seq[String]) {
    type Spec <: LsmIndex.Spec

    protected def specOf(fields: Seq[Int]): Spec

    /** The store's flat rows for a frame of `(idCol, valueCol)`. */
    protected def project(rows: DataFrame, idCol: String, valueCol: String,
        spec: Spec): DataFrame

    /** [[project]]'s schema for an id column of type `idType`. */
    protected def flatSchema(idType: DataType): StructType

    /** Default row count above which a probe stops broadcasting the
      * batch side (a 1M-band-row frame of 64-hash signatures is ~0.5 GB
      * serialized — past any sane broadcast budget). */
    val DefaultMaxBroadcastRows: Long = 1L << 20

    private val SpecRe = fieldNames.map(n => s""""$n":(\\d+)""")
      .mkString("""\{""", ",", "[,}]").r

    private[dedup] def metaJson(spec: Spec, st: State): String =
      fieldNames.zip(spec.fields).map { case (n, v) => s""""$n":$v""" }
        .mkString("{", ",", s",${render(st)}}")

    /** The meta, read once; None for a fresh store. */
    private[dedup] def meta(spark: SparkSession, storeDir: String): Option[Meta[Spec]] =
      graft.util.FileCommit.read(Paths.get(storeDir, metaFile)).map { s =>
        def unreadable = sys.error(s"unreadable $kind meta at $storeDir/$metaFile: $s")
        val declared = SpecRe.findPrefixMatchOf(s)
          .fold(unreadable)(m => specOf(m.subgroups.map(_.toInt)))
        Meta(declared.layoutDir, parse(s, unreadable).map(declared -> _))
      }

    /** The ACTIVE spec, or None when no LSM-shaped index exists yet
      * (absent, or ver-1: callers rebuild rather than misread it). */
    def readMeta(spark: SparkSession, storeDir: String): Option[Spec] =
      meta(spark, storeDir).flatMap(_.active).map(_._1)

    /** Does the layout directory for `spec` exist? A meta pointer whose
      * layout was deleted out-of-band must trigger a rebuild, not
      * quietly probe "no index" ≡ "no match". */
    def layoutExists(spark: SparkSession, storeDir: String, spec: Spec): Boolean =
      fsOf(spark, storeDir).exists(new Path(storeDir, spec.layoutDir))

    /** Is `spec` the active index with its layout present — the
      * trust-or-rebuild test of every resolve path? */
    def ready(spark: SparkSession, storeDir: String, spec: Spec): Boolean =
      readMeta(spark, storeDir).contains(spec) && layoutExists(spark, storeDir, spec)

    /** The LSM state when `spec` is the active index. */
    private def activeState(spark: SparkSession, storeDir: String,
        spec: Spec): Option[State] =
      meta(spark, storeDir).flatMap(_.active).collect {
        case (active, st) if active == spec => st
      }

    /** The layout's directory bucket of one key. */
    private def bucketOf(key: Column, spec: Spec): Column =
      pmod(xxhash64(key), lit(spec.buckets.toLong)).cast(IntegerType)

    /** The index keys of one stored value (a digest is its own key; a
      * signature has one band key per band). */
    protected def keysOf(value: Column, spec: Spec): Column

    /** Observed metrics (see [[graft.util.Materialize.observed]]) that
      * give a probe its [[Touched]]: over the rows of the frame they
      * observe whose `value` is not null, the key buckets touched and
      * the key-row count, named `<name>_bits<w>` and `<name>_rows`. The
      * buckets are one bit each, OR-ed over the rows in 64-bucket words,
      * so the metrics stay bucket-sized however many rows a cap-less
      * backfill's batch holds. */
    def touchedMetrics(value: Column, spec: Spec, name: String): Seq[Column] = {
      val buckets = transform(keysOf(value, spec), bucketOf(_, spec))
      (0 until (spec.buckets + 63) / 64).map { w =>
        bit_or(when(value.isNotNull, aggregate(buckets, lit(0L), (bits, b) =>
          bits.bitwiseOR(when(b >= 64 * w && b < 64 * (w + 1),
            call_function("shiftleft", lit(1L), b - 64 * w)).otherwise(0L)))))
          .as(s"${name}_bits$w")
      } :+ coalesce(sum(when(value.isNotNull, size(buckets))), lit(0L))
        .as(s"${name}_rows")
    }

    /** The [[Touched]] of a `valueCol` frame that no materialization of
      * the caller observes: one observed materialization. */
    def touched(rows: DataFrame, valueCol: String, spec: Spec): Touched =
      Touched.of(graft.util.Materialize.observed(rows.select(col(valueCol)),
        touchedMetrics(col(valueCol), spec, "t"): _*)._2, "t")

    private def layoutPath(storeDir: String, spec: Spec): String =
      new Path(storeDir, spec.layoutDir).toString

    private def fsOf(spark: SparkSession, storeDir: String): FileSystem =
      new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** Swap the meta pointer to `(spec, st)` (data before pointer), then
      * drop the `previous`ly declared layout if this flip superseded it. */
    private def commit(spark: SparkSession, storeDir: String, spec: Spec,
        st: State, previous: Option[String]): Unit = {
      graft.util.FileCommit.replace(Paths.get(storeDir, metaFile),
        metaJson(spec, st).getBytes("UTF-8"))
      previous.filter(_ != spec.layoutDir)
        .foreach(old => fsOf(spark, storeDir).delete(new Path(storeDir, old), true))
    }

    /** Append rows for newly-admitted docs as one FLAT run and swap the
      * meta pointer (data before pointer; the first append on a fresh
      * corpus creates both). NO shuffle and NO dynamic-partition commit
      * on this path — it runs inside every streaming trigger. Call
      * BEFORE the docs append (the superset direction).
      *
      * FAILS LOUDLY when a meta exists but isn't ver-2 with this exact
      * spec: silently starting from [[Empty]] would have the pointer
      * swap DELETE the active layout — orphaning every existing index
      * row and re-admitting its duplicates through the gate. Only a
      * truly ABSENT meta means a fresh store; everything else routes
      * through [[rebuild]] (the [[graft.streaming.CorpusBuilder]]
      * resolve path). */
    def append(rows: DataFrame, idCol: String, valueCol: String,
        storeDir: String, spec: Spec,
        /** Run-file count for mega-batch appends — callers that counted
          * the staged batch pass [[runParts]]; the micro-batch default
          * keeps the flat tail at one footer per batch. */
        runFiles: Int = 1): Unit = {
      val spark = rows.sparkSession
      val current = meta(spark, storeDir)
      val st = current match {
        case None => Empty
        case Some(Meta(_, Some((active, st)))) if active == spec => st
        case Some(Meta(declared, Some(_))) => sys.error(
          s"$kind at $storeDir is declared for $declared but this append " +
            s"arrived for ${spec.layoutDir} — rebuild() into the new spec " +
            "first; a restart-from-empty append would orphan the active " +
            "layout and break the index-superset-of-corpus invariant")
        case Some(Meta(_, None)) => sys.error(
          s"$kind at $storeDir has a pre-LSM (ver-1) meta — rebuild() it " +
            "into the LSM layout first; appending over it would orphan " +
            "every existing index row and re-admit their duplicates")
      }
      val (_, next) = writeRun(project(rows, idCol, valueCol, spec),
        layoutPath(storeDir, spec), st, runFiles)
      commit(spark, storeDir, spec, next, current.map(_.declared))
    }

    /** Build the index from scratch out of the corpus' stored
      * `(idCol, valueCol)` projection — first index on an existing
      * corpus, spec change, lost layout, ver-1 migration. The new
      * layout (one bucket-partitioned bulk, zero runs) is fully written
      * before the meta pointer flips; the superseded layout is removed
      * after. */
    def rebuild(rows: DataFrame, idCol: String, valueCol: String,
        storeDir: String, spec: Spec): Unit = {
      val spark = rows.sparkSession
      val previous = meta(spark, storeDir).map(_.declared)
      val fs = fsOf(spark, storeDir)
      val layout = new Path(storeDir, spec.layoutDir)
      // a half-written layout from a crashed rebuild is stale, not a
      // superset candidate — clear it so this rebuild starts clean
      if (fs.exists(layout)) fs.delete(layout, true)
      val bulk = "compact-0"
      writeBulk(project(rows, idCol, valueCol, spec), s"$layout/$bulk",
        BucketCol, bucketOf(col(keyCol), spec))
      // an empty corpus writes zero rows; the bulk dir must still exist
      // so the probe's explicit-schema read sees "empty", not "lost"
      if (!fs.exists(new Path(layout, bulk))) fs.mkdirs(new Path(layout, bulk))
      commit(spark, storeDir, spec, State(1L, Seq(bulk), Nil), previous)
    }

    /** Fold the ACTIVE index's accumulated flat runs into its
      * bucket-partitioned bulk — maintenance on the
      * [[graft.streaming.CorpusBuilder.compactStores]] cadence,
      * SERIALIZED with appends (both swap the same meta pointer).
      * Tiered: an L1 fold's I/O is bounded by the run mass; a full merge
      * (every `maxBulks` folds) rewrites the bulk set into one. Returns
      * None when no index is active or its layout is gone, else the
      * active spec with (runs folded, bulks after) — None when fewer
      * than `minRuns` runs wait. One meta read. */
    def compact(spark: SparkSession, storeDir: String, minRuns: Int = 4,
        maxBulks: Int = 4): Option[(Spec, Option[(Int, Int)])] =
      meta(spark, storeDir).flatMap(_.active)
        .filter { case (spec, _) => layoutExists(spark, storeDir, spec) }
        .map { case (spec, st) =>
          val layout = layoutPath(storeDir, spec)
          spec -> compactStep(spark, layout, st, BucketCol, bucketOf(col(keyCol), spec),
            minRuns, maxBulks).map { next =>
              commit(spark, storeDir, spec, next, None) // same layout: nothing superseded
              sweep(spark, layout, next)
              (st.runs.size, next.bulks.size)
            }
        }

    /** The probe's two sides: the batch's store-shaped `rows` (carrying
      * `keyCol`) as `batchCols`, broadcast while `touched.rows` is at
      * most `maxBroadcastRows`, and the live store read pruned to
      * `touched.buckets`. Nothing runs here: the caller observed
      * `touched` on a materialization it makes anyway. Past the
      * threshold the join falls back to a shuffle on the key — a
      * cap-less backfill can make the batch side batch-SIZED, and AQE
      * may still pick a broadcast from actual sizes, the safe version of
      * the hint. `touched.rows` may count rows a later `distinct` drops:
      * an upper bound, so the hint can only switch off early. */
    protected def probeSides(rows: DataFrame, idType: DataType,
        storeDir: String, spec: Spec, touched: Touched, maxBroadcastRows: Long)(
        batchCols: Column*): (DataFrame, DataFrame) = {
      val spark = rows.sparkSession
      val st = activeState(spark, storeDir, spec).getOrElse(sys.error(
        s"no active $kind at $storeDir for ${spec.layoutDir} — rebuild it " +
          "from the corpus first"))
      val batchSide = rows.select(batchCols: _*)
      val guarded =
        if (touched.rows <= maxBroadcastRows) broadcast(batchSide) else batchSide
      (guarded, readLive(spark, layoutPath(storeDir, spec), st,
        flatSchema(idType), BucketCol, Some(touched.buckets)))
    }
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
