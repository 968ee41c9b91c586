package graft.dedup

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.util.sketch.BloomFilter

/** Digest-prefix-SHARDED bloom store — the billion-doc scale path for
  * the incremental exact-dedup gate ([[Dedup.bloomNewDocs]] is the
  * single-filter twin). One monolithic filter stops scaling because it
  * is deserialized on the driver and broadcast whole to every
  * executor: at 10^9 digests / 1% fpp that is ~1.2 GB per JVM. Sharding
  * by digest hash splits it into `numShards` independent
  * megabyte-scale filters stored as FILES beside the corpus, and the
  * probe moves executor-side: the batch is shuffled by shard, and each
  * task reads only the shard files its partition contains (total
  * filter I/O per batch = the store size ONCE, spread across tasks —
  * nothing is broadcast).
  *
  * Crash-safety (same superset invariant as the monolithic filter —
  * [[graft.streaming.CorpusBuilder]]): every shard file is always a
  * superset of the corpus digests hashing to that shard.
  *   - Per-shard writes go tmp → rename. On POSIX the rename overwrites
  *     atomically; on stores where rename-over fails the dest is
  *     deleted first, and the probe falls back to the `.tmp` file (a
  *     fully-written superset) when the dest is missing — no window
  *     ever reads "shard absent" for a shard that had digests.
  *   - A missing shard file (never written) means NO corpus digest
  *     hashes there — rows are definitively new, zero I/O.
  *   - Resizing (`numShards`/`expectedItems`/`fpp` change) rebuilds
  *     into a NEW layout directory named by the spec and flips the
  *     active pointer (`bloom-meta.json`, tmp+rename) only after every
  *     shard is written: a crash mid-rebuild leaves the old layout
  *     active and intact.
  *
  * Sizing: each shard is built for `expectedItems / numShards` items at
  * the declared fpp, so per-shard bytes stay at
  * `~1.2 MB × (expectedItems / numShards / 2^20)` — pick
  * `numShards ≈ expectedItems / 2^20` and every filter a task loads is
  * about a megabyte regardless of corpus scale.
  */
object ShardedBloom {

  /** Declared store spec; doubles as the layout directory name, so a
    * resize targets a fresh directory and the flip is atomic. */
  final case class Spec(numShards: Int, expectedItems: Long, fpp: Double) {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    def layoutDir: String = f"bloom-s$numShards%d-i$expectedItems%d-p$fpp%s"
    def perShardItems: Long = math.max(1L, expectedItems / numShards)
    def perShardBits: Long = Dedup.bloomBits(perShardItems, fpp)
  }

  private val MetaFile = "bloom-meta.json"

  /** Hadoop Configuration is not Serializable; ship it to probe/merge
    * tasks with the standard write/readFields envelope. */
  private final class SerConf(@transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  private def shardFile(layout: Path, shard: Long): Path =
    new Path(layout, f"shard=$shard%05d.bin")

  /** The ACTIVE spec, or None when no sharded store exists yet. */
  def readMeta(spark: SparkSession, storeDir: String): Option[Spec] =
    graft.streaming.StoreManifest.readFsString(spark, storeDir, MetaFile).map { s =>
      // three fields, fixed order — keep the parse dependency-free
      val m = """\{"numShards":(\d+),"expectedItems":(\d+),"fpp":([0-9.eE+-]+)\}""".r
      s.trim match {
        case m(n, i, f) => Spec(n.toInt, i.toLong, f.toDouble)
        case _ => sys.error(s"unreadable bloom meta at $storeDir/$MetaFile: $s")
      }
    }

  private def writeMeta(fs: FileSystem, storeDir: String, spec: Spec): Unit = {
    val json = s"""{"numShards":${spec.numShards},"expectedItems":${spec.expectedItems},"fpp":${spec.fpp}}"""
    atomicWrite(fs, new Path(storeDir, MetaFile), json.getBytes("UTF-8"))
  }

  /** tmp → rename; delete-then-rename where rename-over is unsupported.
    * The tmp name is ATTEMPT-UNIQUE: two writers of one shard
    * (speculative task attempts, task retries) each write their own tmp
    * in full, so no commit can ever rename interleaved half-writes into
    * place — and because any two legitimate writers of one shard merge
    * the same batch into the same stored filter, whichever rename wins
    * commits identical bytes. Tmps are left in place only between their
    * write and the rename (dead attempts can orphan theirs — rare, and
    * absorbed by the fallback's newest-first scan), and probe reads
    * fall back to them — see class doc. No post-commit tmp cleanup: a
    * sweep could delete a CONCURRENT attempt's in-flight tmp between
    * its write and rename, failing its commit after it already removed
    * dst — the one interleaving that could leave dst absent. (Shared
    * with [[BandIndex]]'s meta pointer.) */
  private[dedup] def atomicWrite(fs: FileSystem, dst: Path, bytes: Array[Byte]): Unit = {
    val tmp = dst.suffix(s".${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) sys.error(s"cannot commit $dst")
    }
  }

  private def readShard(fs: FileSystem, layout: Path, shard: Long): Option[BloomFilter] = {
    val dst = shardFile(layout, shard)
    if (fs.exists(dst)) {
      val in = fs.open(dst)
      Some(try BloomFilter.readFrom(in) finally in.close())
    } else {
      // dst missing: either the shard was never written (no digests —
      // absent is the truth) or we're inside the delete→rename window
      // of a rename-over-unsupported FS, where a tmp is the fully
      // written merge result (tmp names are attempt-unique — glob for
      // them, newest first: an older orphan could predate digests the
      // in-flight merge carries). A TORN tmp (crash mid-write) can
      // only exist when dst was never renamed into place, i.e. before
      // that batch's docs ever appended (filters commit first) — so
      // treating an unreadable tmp as absent still upholds the superset
      // invariant over the docs actually in the corpus.
      val tmps = try fs.globStatus(dst.suffix(".*.tmp"))
        catch { case _: Exception => Array.empty[org.apache.hadoop.fs.FileStatus] }
      Option(tmps).getOrElse(Array.empty)
        .sortBy(-_.getModificationTime).iterator.flatMap { st =>
        try {
          val in = fs.open(st.getPath)
          Some(try BloomFilter.readFrom(in) finally in.close())
        } catch { case _: Exception => None }
      }.nextOption()
    }
  }

  /** Does the ACTIVE layout directory for `spec` exist? A meta pointer
    * whose layout was deleted out-of-band must trigger a rebuild, not
    * quietly probe "every shard absent" ≡ "everything new". */
  def layoutExists(spark: SparkSession, storeDir: String, spec: Spec): Boolean =
    graft.streaming.StoreManifest.fsExists(spark, storeDir, spec.layoutDir)

  /** Remove the sharded store entirely (meta + every layout dir) —
    * used when the corpus switches back to a monolithic filter, so two
    * stores can never go stale against each other. */
  def deleteStore(spark: SparkSession, storeDir: String): Unit = {
    val base = new Path(storeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new Path(storeDir, MetaFile)
    if (fs.exists(meta)) fs.delete(meta, false)
    if (fs.exists(base))
      fs.listStatus(base).filter(_.getPath.getName.startsWith("bloom-s"))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Annotate `batch` with a `__hit` boolean: does the row's digest
    * hash (`hashCol`, the same `xxhash64(digest)` long the store was
    * built from) possibly exist in the corpus? Rows with `__hit=false`
    * are DEFINITIVELY new (bloom has no false negatives); hits go to
    * the exact verify, same contract as [[Dedup.bloomNewDocs]].
    *
    * Executor-side: the batch shuffles by shard id and each task lazily
    * opens only the shard files present in its partition — per-task
    * filter memory is `O(shards-in-partition × per-shard MB)`, never
    * the whole store. */
  def probeHits(batch: DataFrame, hashCol: String, storeDir: String,
      spec: Spec): DataFrame = {
    val spark = batch.sparkSession
    val conf = new SerConf(spark.sparkContext.hadoopConfiguration)
    val layout = new Path(storeDir, spec.layoutDir).toString
    val withShard = batch.withColumn("__shard",
      pmod(col(hashCol), lit(spec.numShards.toLong)))
    val outSchema = withShard.schema.add("__hit", BooleanType, nullable = false)
    val hashIdx = withShard.schema.fieldIndex(hashCol)
    val shardIdx = withShard.schema.fieldIndex("__shard")
    val parts = math.min(spec.numShards,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    withShard.repartition(parts, col("__shard"))
      .mapPartitions { rows =>
        val layoutPath = new Path(layout)
        lazy val fs = layoutPath.getFileSystem(conf.value)
        val filters = mutable.LongMap.empty[Option[BloomFilter]]
        rows.map { r =>
          val shard = r.getLong(shardIdx)
          val f = filters.getOrElseUpdate(shard, readShard(fs, layoutPath, shard))
          val hit = f.exists(_.mightContainLong(r.getLong(hashIdx)))
          Row.fromSeq(r.toSeq :+ hit)
        }
      }(Encoders.row(outSchema))
      .drop("__shard")
  }

  /** Merge one batch's digest hashes into the store (the commit step
    * that keeps every shard a superset BEFORE the docs append). Shard
    * sub-filters are built in ONE distributed aggregation (map-side
    * partial per shard), then each task merges its shards into the
    * stored files — the driver never holds a filter. */
  def mergeBatch(staged: DataFrame, hashCol: String, storeDir: String,
      spec: Spec): Unit = {
    val spark = staged.sparkSession
    val conf = new SerConf(spark.sparkContext.hadoopConfiguration)
    val layout = new Path(storeDir, spec.layoutDir).toString
    val shardFilters = staged
      .groupBy(pmod(col(hashCol), lit(spec.numShards.toLong)).as("__shard"))
      .agg(call_function("graft_bloom_agg", col(hashCol),
        lit(spec.perShardItems), lit(spec.perShardBits)).as("__f"))
    shardFilters.foreachPartition { (rows: Iterator[Row]) =>
      val layoutPath = new Path(layout)
      val fs = layoutPath.getFileSystem(conf.value)
      rows.foreach { r =>
        val shard = r.getLong(0)
        val batchBytes = r.getAs[Array[Byte]](1)
        val merged = readShard(fs, layoutPath, shard) match {
          case Some(stored) =>
            stored.mergeInPlace(
              BloomFilter.readFrom(new ByteArrayInputStream(batchBytes)))
            val out = new ByteArrayOutputStream(); stored.writeTo(out); out.toByteArray
          case None => batchBytes
        }
        atomicWrite(fs, shardFile(layoutPath, shard), merged)
      }
    }
    ensureMeta(spark, storeDir, spec)
  }

  /** Build the store from scratch out of the corpus' digest hashes —
    * first write, lost-store recovery, and RESIZE all land here. The
    * new layout directory is fully written before the meta pointer
    * flips to it; the previous layout (if any, and different) is
    * removed only after the flip. */
  def rebuild(corpusHashes: DataFrame, hashCol: String, storeDir: String,
      spec: Spec): Unit = {
    val spark = corpusHashes.sparkSession
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layoutPath = new Path(storeDir, spec.layoutDir)
    // a half-written layout from a crashed rebuild is stale, not a
    // superset candidate — clear it so this rebuild starts clean
    if (fs.exists(layoutPath)) fs.delete(layoutPath, true)
    // mergeBatch's ensureMeta flips the pointer (after all shards are
    // written) and garbage-collects the superseded layout
    mergeBatch(corpusHashes, hashCol, storeDir, spec)
  }

  /** Flip the meta pointer to `spec` if it isn't already there, and
    * garbage-collect the superseded layout AFTER the flip — every path
    * that changes the active layout (rebuild, resize-through-the-
    * crash-window) funnels through here, so no path can orphan a
    * layout directory. */
  private def ensureMeta(spark: SparkSession, storeDir: String, spec: Spec): Unit = {
    val previous = readMeta(spark, storeDir)
    if (!previous.contains(spec)) {
      val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      writeMeta(fs, storeDir, spec)
      previous.map(_.layoutDir).filter(_ != spec.layoutDir)
        .foreach(old => fs.delete(new Path(storeDir, old), true))
    }
  }

  /** Max shard-file size in the active layout — the spec's byte-budget
    * probe (a shard of n items at fpp p serializes to ~n·ln(p)/ln²2/8
    * bytes plus a fixed header). */
  def maxShardBytes(spark: SparkSession, storeDir: String, spec: Spec): Long = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layout = new Path(storeDir, spec.layoutDir)
    if (!fs.exists(layout)) 0L
    else fs.listStatus(layout).filter(_.getPath.getName.endsWith(".bin"))
      .map(_.getLen).foldLeft(0L)(math.max)
  }
}
