package graft.schema

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.util.FileCommit

/** Transaction-log table catalog — the SECOND [[TableBackend]], proving
  * the storage seam two-sided: same contract as the parquet-dir
  * [[SchemaRegistry]], entirely different commit machinery, mirroring
  * the reference's optimistic BigQuery DDL (ETag compare-and-set,
  * `pkg/infra/bq/client.go:198-204`) and the log-structured commit
  * protocol of production table formats.
  *
  * Layout under `root/<dataset>/<table>/`:
  * {{{
  *   _log/schema-v00001.json   // immutable schema versions (CAS-created)
  *   _log/commit-v00001.json   // one VERSIONED manifest per committed batch
  *   data/batch-<uuid>/part-*.parquet   // __part kept as a DATA column
  * }}}
  * Version numbers are zero-padded to five digits but UNBOUNDED — the
  * listing regexes accept any width, so version 100000 lists, sorts
  * (numerically), and CASes like any other.
  *
  * DDL is LOCK-FREE optimistic concurrency: a writer reads the max
  * schema version N, merges, and tries to create `schema-v{N+1}` with an
  * atomic create-if-absent; losing the race re-reads and retries against
  * the winner's schema — exactly the reference's `UpdateTable(..., eTag)`
  * loop, with the version filename playing the ETag. Works across JVMs
  * on any shared filesystem (the object-store analogue is an
  * `If-None-Match: *` conditional PUT).
  *
  * Appends are STAGE-THEN-COMMIT: each batch writes its parquet under a
  * fresh `data/batch-<uuid>/` directory (partitioned by `__part`), then
  * publishes it by atomically creating one VERSIONED manifest
  * (`commit-v{N}.json`, assigned by the same CAS loop as the schema —
  * losing a version race re-reads and retries, so commits form a TOTAL
  * ORDER like a log-structured table format's version log). Readers
  * list manifests and read ONLY published batch dirs, so a half-written
  * batch is invisible — stronger per-batch atomicity than the Hadoop
  * committer's visible-directory append, and concurrent same-table
  * appends from DIFFERENT JVMs are safe with no lock (unique dirs; the
  * manifest CAS serializes only the version assignment — the
  * [[SchemaRegistry]] needs a per-JVM lock here). A crash between stage
  * and publish strands an orphan batch dir: invisible to every reader,
  * reclaimable by [[vacuum]].
  *
  * The total order buys SNAPSHOT READS ([[readAt]]): "the table as of
  * commit N" is the manifest-list prefix ≤ N — immutable once written,
  * so a training run that records its snapshot version is exactly
  * reproducible no matter how much lands afterwards (the
  * training-data-lineage contract manifests give for free; the
  * directory-partitioned registry cannot offer it because appends merge
  * into shared partition dirs).
  *
  * Scale notes: manifest listing is a driver-side metadata op, O(number
  * of commits) names — the production analogue checkpoints the manifest
  * list periodically (as log-structured table formats do) so the tail
  * stays short. Unlike the directory-partitioned registry, `__part`
  * stays a DATA column of the batch files (what manifest-based table
  * formats do: partition values live in metadata/file stats, not
  * directory names — Spark cannot partition-discover uniformly across
  * many batch roots). Pruning is NOT lost: the engine hands over
  * batches pre-clustered by `__part`, so files are partition-
  * homogeneous and parquet min/max stats on `__part` prune pushed-down
  * filters at the row-group level — the zone-map equivalent of
  * directory pruning.
  */
final class TxLogBackend(rootDir: String) extends TableBackend {

  private def tableDir(dataset: String, table: String): Path =
    Paths.get(rootDir, dataset, table)
  private def logDir(dataset: String, table: String): Path =
    tableDir(dataset, table).resolve("_log")
  private def dataDir(dataset: String, table: String): Path =
    tableDir(dataset, table).resolve("data")

  // \d{5,}: five-digit zero-padding for readability, but the match is
  // open-ended — a {5} cap would make version 100000 invisible to the
  // listing while the create still succeeds, wedging the CAS loop forever
  private val SchemaV = """schema-v(\d{5,})\.json""".r

  /** List a directory through the Stream API, CLOSING it — an
    * unclosed `Files.list` holds its directory FD until finalization,
    * and these listings run per batch on the append hot path. */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator.asScala) finally s.close()
  }

  private def schemaVersions(ds: String, t: String): Seq[(Int, Path)] = {
    val log = logDir(ds, t)
    if (!Files.exists(log)) Nil
    else listDir(log)(_.flatMap { p =>
      p.getFileName.toString match {
        case SchemaV(v) => Some(v.toInt -> p)
        case _ => None
      }
    }.toSeq).sortBy(_._1)
  }

  override def exists(dataset: String, table: String): Boolean =
    schemaVersions(dataset, table).nonEmpty

  override def currentSchema(dataset: String, table: String): Option[(Int, StructType)] =
    schemaVersions(dataset, table).lastOption.map { case (v, p) =>
      v -> DataType.fromJson(new String(Files.readAllBytes(p), "UTF-8"))
        .asInstanceOf[StructType]
    }

  @tailrec
  override def createOrUpdate(dataset: String, table: String,
      incoming: StructType): StructType =
    currentSchema(dataset, table) match {
      case None =>
        if (FileCommit.create(logDir(dataset, table).resolve(f"schema-v${1}%05d.json"),
            incoming.json.getBytes("UTF-8"))) incoming
        else createOrUpdate(dataset, table, incoming) // lost the create race
      case Some((version, live)) =>
        val merged = SchemaMerge.merge(live, incoming)
        if (SchemaMerge.normalize(merged) == SchemaMerge.normalize(live)) live
        else if (FileCommit.create(
            logDir(dataset, table).resolve(f"schema-v${version + 1}%05d.json"),
            merged.json.getBytes("UTF-8"))) merged
        else createOrUpdate(dataset, table, incoming) // lost the CAS — re-merge
    }

  private val CommitV = """commit-v(\d{5,})\.json""".r
  private val DirField = """"dir"\s*:\s*"([^"]+)"""".r
  private val ThroughField = """"through"\s*:\s*(\d+)""".r

  /** Published commits in version order: (version, batch dir name). */
  /** One published manifest: `through` is set only on COMPACTION
    * commits and names the tip version whose effective content the
    * commit's rewritten dir replaces. */
  private case class Commit(v: Int, dir: String, through: Option[Int])

  private def commits(ds: String, t: String): Seq[Commit] = {
    val log = logDir(ds, t)
    if (!Files.exists(log)) Nil
    else listDir(log)(_.flatMap { p =>
      p.getFileName.toString match {
        case CommitV(v) =>
          val content = new String(Files.readAllBytes(p), "UTF-8")
          DirField.findFirstMatchIn(content).map(m => Commit(v.toInt, m.group(1),
            ThroughField.findFirstMatchIn(content).map(_.group(1).toInt)))
        case _ => None
      }
    }.toSeq).sortBy(_.v)
  }

  /** The dirs a reader at snapshot `upTo` actually consumes: with no
    * compaction, every commit ≤ upTo; with one, the LATEST compaction
    * C* ≤ upTo stands in for everything ≤ its `through` (including any
    * earlier compaction — C* read the then-effective set, so its
    * rewrite already contains them), plus the plain appends that
    * landed after `through` (concurrent-with-compaction appends
    * included: compaction never loses a racing append). */
  private def effectiveCommits(ds: String, t: String, upTo: Int): Seq[Commit] = {
    val cs = commits(ds, t).filter(_.v <= upTo)
    cs.filter(_.through.isDefined).lastOption match {
      case Some(cstar) =>
        (cs.filter(c => c.through.isEmpty && c.v > cstar.through.get) :+ cstar)
          .sortBy(_.v)
      case None => cs
    }
  }

  override def appendPartitioned(dataset: String, table: String, df: DataFrame): Unit = {
    val batchId = UUID.randomUUID().toString
    val dir = dataDir(dataset, table).resolve(s"batch-$batchId")
    // __part stays a data column (class doc) — pre-clustered input makes
    // the files partition-homogeneous, so its parquet stats prune reads
    df.write.mode("overwrite").parquet(dir.toString)
    // publish: CAS the next version slot; the manifest's atomic creation
    // IS the commit point and its version the table's total order. A
    // lost race re-reads the new tip and retries — the staged data
    // never moves, only the version number.
    @tailrec def publish(): Int = {
      val next = commits(dataset, table).lastOption.map(_.v).getOrElse(0) + 1
      if (FileCommit.create(logDir(dataset, table).resolve(f"commit-v$next%05d.json"),
          s"""{"dir":"batch-$batchId"}""".getBytes("UTF-8"))) next
      else publish()
    }
    publish()
  }

  override def readWithPart(spark: SparkSession, dataset: String,
      table: String): DataFrame = {
    val tip = commits(dataset, table).lastOption.map(_.v).getOrElse(0)
    readDirs(spark, dataset, table,
      effectiveCommits(dataset, table, tip)
        .map(c => dataDir(dataset, table).resolve(c.dir).toString))
  }

  /** Published snapshot versions, ascending (empty = no commits yet). */
  def snapshotVersions(dataset: String, table: String): Seq[Int] =
    commits(dataset, table).map(_.v)

  /** SNAPSHOT READ: the table as of commit `version` — exactly the
    * batches with manifest version ≤ `version`, under the CURRENT
    * schema (evolution is additive, so older batches null-fill newer
    * columns; the data a snapshot returns never changes once its
    * version is published). The reproducible-training-run contract:
    * record the version, re-read identical bytes forever. */
  def readAt(spark: SparkSession, dataset: String, table: String,
      version: Int): DataFrame =
    readDirs(spark, dataset, table,
      effectiveCommits(dataset, table, version)
        .map(c => dataDir(dataset, table).resolve(c.dir).toString))

  private def readDirs(spark: SparkSession, dataset: String, table: String,
      dirs: Seq[String]): DataFrame = {
    val (_, schema) = currentSchema(dataset, table)
      .getOrElse(sys.error(s"no such table $dataset.$table"))
    dirs.filterNot(d => Files.exists(Paths.get(d))) match {
      case Nil =>
      case gone => sys.error(s"snapshot of $dataset.$table needs expired " +
        s"batch dirs ${gone.mkString(", ")} — reclaimed by compaction " +
        "retention (expireReplaced); pin snapshots inside the retention window")
    }
    val withPart = schema.add("__part", StringType)
    if (dirs.isEmpty) // created-but-never-appended: empty, not an error
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        withPart)
    else spark.read.schema(withPart).parquet(dirs: _*)
  }

  /** COMPACT the table's effective content into one fresh batch dir
    * and publish it as a compaction commit (`through` = the tip
    * version whose content it replaces). The small-file answer for a
    * streaming-append table: N micro-batch dirs collapse to
    * `targetPartitions` files, clustered by `__part` so the rewritten
    * files stay partition-homogeneous (row-group stats keep pruning).
    *
    * Crash-safe and lock-free like every other commit: the rewrite
    * stages invisibly, the manifest CAS is the commit point, and a
    * racing APPEND is never lost — its version lands above `through`,
    * so the effective-set rule keeps it. Old batch dirs stay on disk
    * (snapshot reads below the compaction remain exact) until
    * [[expireReplaced]] reclaims them. Returns the compaction commit's
    * version, or 0 when there is nothing to compact. */
  def compact(spark: SparkSession, dataset: String, table: String,
      targetPartitions: Int = 1): Int = {
    val tip = commits(dataset, table).lastOption.map(_.v).getOrElse(0)
    val eff = effectiveCommits(dataset, table, tip)
    if (eff.size <= 1) return 0 // a single dir is already compact
    val batchId = UUID.randomUUID().toString
    val dir = dataDir(dataset, table).resolve(s"batch-$batchId")
    readDirs(spark, dataset, table,
        eff.map(c => dataDir(dataset, table).resolve(c.dir).toString))
      .repartition(targetPartitions, org.apache.spark.sql.functions.col("__part"))
      .sortWithinPartitions("__part")
      .write.mode("overwrite").parquet(dir.toString)
    @tailrec def publish(): Int = {
      val next = commits(dataset, table).lastOption.map(_.v).getOrElse(0) + 1
      if (FileCommit.create(logDir(dataset, table).resolve(f"commit-v$next%05d.json"),
          s"""{"dir":"batch-$batchId","through":$tip}""".getBytes("UTF-8"))) next
      else publish()
    }
    publish()
  }

  /** Reclaim batch dirs REPLACED by the latest compaction — every
    * manifested dir outside the current effective set. Manifests stay
    * (the version log keeps its total order); snapshot reads that
    * would need a reclaimed dir fail loudly in [[readDirs]] — the
    * retention-window contract of every log-structured table format.
    * Returns the deleted dir names. */
  def expireReplaced(dataset: String, table: String): Seq[String] = {
    val all = commits(dataset, table)
    val tip = all.lastOption.map(_.v).getOrElse(0)
    val live = effectiveCommits(dataset, table, tip).map(_.dir).toSet
    all.filterNot(c => live(c.dir)).map(_.dir).distinct.flatMap { d =>
      val p = dataDir(dataset, table).resolve(d)
      if (!Files.exists(p)) None
      else {
        val walk = Files.walk(p)
        try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
        finally walk.close()
        Some(d)
      }
    }
  }

  /** Reclaim ORPHAN batch dirs — staged by a writer that crashed before
    * its manifest CAS (invisible to every reader). Only dirs older than
    * `olderThanMs` are touched, so an in-flight append's stage window
    * is never raced; manifested dirs are never candidates. Returns the
    * deleted dir names. */
  def vacuum(dataset: String, table: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val data = dataDir(dataset, table)
    if (!Files.exists(data)) return Nil
    val live = commits(dataset, table).map(_.dir).toSet
    val horizon = System.currentTimeMillis() - olderThanMs
    listDir(data)(_.toSeq)
      .filter(p => p.getFileName.toString.startsWith("batch-") &&
        !live(p.getFileName.toString) &&
        Files.getLastModifiedTime(p).toMillis < horizon)
      .map { p =>
        val walk = Files.walk(p)
        try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
        finally walk.close()
        p.getFileName.toString
      }
  }
}
