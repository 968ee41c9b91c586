package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.util.FileCommit

/** THE file-level commit discipline every streaming store here shares
  * — extracted so the invariants live once instead of in five
  * hand-rolled copies ([[ClusterStream]]'s manifest, [[CountStream]]'s
  * generation and delta pointers, [[Reservoir]]'s generation,
  * [[Lineage]]'s stamp, [[CorpusBuilder]]'s builder lock):
  *
  *   1. ATOMIC POINTER SWAP — [[graft.util.FileCommit.replace]] of
  *      one pointer/manifest file; readers see old or new, never torn.
  *   2. REFERENCED-NEVER-DELETED — data dirs are written BEFORE the
  *      pointer references them, swept only AFTER nothing does; a
  *      crash leaves a readable store plus at worst ghost dirs.
  *   3. REPLAY GUARD — the pointer carries the last committed batch
  *      id, so an at-least-once redelivery is a no-op.
  *   4. LINEAGE BIND — batch-id guards are meaningful within ONE
  *      checkpoint lineage ([[Lineage]], a
  *      [[graft.util.FileCommit.create]] stamp).
  *   5. HOLDER LOCK + COMMIT RE-CHECK — writer exclusivity via a lock
  *      file taken by [[graft.util.FileCommit.create]], whose token the
  *      holder re-checks at its commit point ([[acquireHolderLock]]).
  */
object StoreManifest {

  /** Total row count of the parquet data files directly under `dir`,
    * summed from the file FOOTERS on the driver — a metadata read, no
    * Spark job. The per-trigger store disciplines use it for the
    * emptiness / cardinality checks they run on files they JUST wrote:
    * a `spark.read.parquet(dir).count()` there prices a whole
    * scan-job's scheduling against information parquet already
    * committed to every footer. Listing and footer reads go through
    * `dir`'s own Hadoop FileSystem (ONE Configuration for the whole
    * call), so a store on any configured filesystem — local, HDFS, an
    * object-store connector — counts the same way; an unconfigured
    * scheme fails loudly inside `Path.getFileSystem`. At DFS scale the
    * loop is still O(files) footer reads — the per-generation store
    * layout keeps that a handful of files by construction
    * ([[graft.streaming.CountStream.ShardBytes]] sizing). */
  def parquetRowCount(dir: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      /** Also count files in nested dirs (partitioned layouts like the
        * cluster stores' `__bk=<k>` leaves); hidden dirs (`_`/`.`) are
        * skipped like hidden files. */
      recursive: Boolean = false): Long = {
    val fs = dir.getFileSystem(conf)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def count(d: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(d).iterator.map { st =>
        val n = st.getPath.getName
        if (st.isFile && n.endsWith(".parquet") && !hidden(n)) {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        } else if (recursive && st.isDirectory && !hidden(n)) count(st.getPath)
        else 0L
      }.sum
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) 0L
    else count(dir)
  }

  /** [[parquetRowCount]] for a java.nio local path (the in-process
    * stores' native shape) — same Hadoop-FS read under the hood. */
  def parquetRowCount(dir: Path): Long =
    parquetRowCount(new org.apache.hadoop.fs.Path(dir.toUri),
      new org.apache.hadoop.conf.Configuration())

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** Invariant 2's sweep half: delete every child DIRECTORY of `root`
    * whose name fails `keep`. Pointer-referenced names must be kept by
    * the caller's predicate; files (pointers, locks) are never
    * touched. */
  def sweepChildDirs(root: Path, keep: String => Boolean): Unit =
    if (Files.exists(root)) {
      val ls = Files.list(root)
      try ls.iterator.asScala.filter(Files.isDirectory(_)).toList
        .foreach(d => if (!keep(d.getFileName.toString)) deleteRecursively(d))
      finally ls.close()
    }

  // ---- the gen=N + GEN pointer discipline (CountStream, Reservoir) ----

  /** Raw committed GEN pointer content, if any. The first
    * space-separated token is the generation number; stores append
    * their own payload (CountStream rides the batch id). */
  def genPointer(storeDir: String): Option[String] =
    FileCommit.read(Paths.get(storeDir, "GEN")).map(_.trim)

  /** Committed generation directory (relative), if any. */
  def currentGenDir(storeDir: String): Option[String] =
    genPointer(storeDir).map(p => s"gen=${p.split(" ")(0)}")

  /** One generation advance under invariants 1+2: write gen=N+1 via
    * `writeGen(dir)`, run `afterWrite(dir)` (a failing check here —
    * e.g. a cardinality ceiling — leaves the store at its last good
    * generation), swap the pointer to `pointerFor(N+1)`, then drop the
    * superseded generation. */
  def advanceGen(storeDir: String, writeGen: String => Unit,
      pointerFor: Long => String = _.toString,
      afterWrite: String => Unit = _ => ()): Unit = {
    val old = genPointer(storeDir).map(_.split(" ")(0).toLong)
    val next = old.map(_ + 1).getOrElse(0L)
    val dir = s"$storeDir/gen=$next"
    writeGen(dir)
    afterWrite(dir)
    FileCommit.replace(Paths.get(storeDir, "GEN"), pointerFor(next).getBytes(UTF_8))
    old.foreach(g => deleteRecursively(Paths.get(storeDir, s"gen=$g")))
  }

  // ---- invariant 5: holder lock + commit re-check ----

  /** [[acquireHolderLock]]'s CONTENTION failure — the lock file already
    * exists. A dedicated type so retry loops (e.g. a back-to-back build
    * arriving inside the previous builder's async release window) retry
    * ONLY on contention and let every other failure — unreadable lock,
    * permission error — propagate immediately. */
  final class AlreadyLockedException(msg: String) extends RuntimeException(msg)

  /** Atomically take an exclusive `role` lock, throwing
    * [[AlreadyLockedException]] if one is already held. Returns the
    * token the holder's commits pass to [[requireHolderLock]]. A
    * crashed holder leaves the lock for the operator to delete (the
    * [[ClusterStream]] compaction-lock contract). */
  def acquireHolderLock(lock: Path, role: String, holder: String,
      why: String): String = {
    val token = java.util.UUID.randomUUID().toString
    if (!FileCommit.create(lock, s"$token $holder".getBytes(UTF_8))) {
      val cur = FileCommit.read(lock).map(_.trim).getOrElse("<unreadable>")
      throw new AlreadyLockedException(
        s"store at ${lock.getParent} already has a live $role " +
          s"($cur) — $why; stop it first, or if it crashed, delete $lock")
    }
    token
  }

  /** Release IF `token` still holds the lock (idempotent; a
    * force-broken lock belongs to the usurper and is left alone). */
  def releaseHolderLock(lock: Path, token: String): Unit =
    if (FileCommit.read(lock).exists(_.startsWith(token)))
      Files.deleteIfExists(lock)

  /** The commit re-check: a holder must still own the lock at its
    * point of no return — a force-broken lock fails the usurped
    * holder's commit loudly instead of letting two writers
    * interleave. No token checks nothing (caller-owned
    * serialization). */
  def requireHolderLock(lock: Path, token: Option[String],
      consequence: String): Unit = token.foreach { t =>
    val cur = FileCommit.read(lock).getOrElse("")
    require(cur.startsWith(t),
      s"this holder no longer holds $lock (current holder: " +
        s"'${cur.trim}') — its lock was broken and another writer took " +
        s"the store; $consequence")
  }
}
