package graft.state

import java.nio.file.{Files, Path, Paths}

import graft.util.FileCommit

/** Message-processing state machine (SURVEY §2.7 T3): the reference
  * deduplicates Pub/Sub deliveries with a Firestore-backed transactional
  * state keyed by message ID — states running/completed/failed with
  * expiry and TTL (`pkg/domain/model/state.go:9-31`,
  * `pkg/infra/firestore/client.go:24-60`; defaults 30 min timeout /
  * 7 d TTL, `pkg/usecase/usecase.go:36-38`).
  *
  * In the Spark design the checkpointed file source already gives
  * per-file exactly-once *discovery*, so this store is only needed when
  * mirroring the push architecture (multiple ingest drivers racing on
  * the same queue). It is file-backed with [[FileCommit.create]] as the
  * transaction primitive (≡ Firestore create-if-absent): a record or
  * lock is visible with its full content from the first instant, so a
  * losing caller never reads it half-written. On object storage the
  * same interface fronts a conditional-put.
  *
  * Acquisition semantics (`state.go:19-31`):
  *   - no state        → acquire (running)
  *   - completed       → never re-acquire
  *   - failed          → always re-acquire
  *   - running         → re-acquire only after expiry
  */
final class StateStore(rootDir: String,
    timeoutMillis: Long = 30L * 60 * 1000,
    ttlMillis: Long = 7L * 24 * 3600 * 1000,
    clock: () => Long = () => System.currentTimeMillis(),
    sleeper: Long => Unit = Thread.sleep(_),
    /** Age past which a lock file counts as crashed-holder stale.
      * Short values are for specs. */
    lockTimeoutMillis: Long = 60000L) {

  sealed trait State { def name: String }
  case object Running extends State { val name = "running" }
  case object Completed extends State { val name = "completed" }
  case object Failed extends State { val name = "failed" }

  final case class Record(id: String, state: String, updatedAt: Long, expiresAt: Long)

  Files.createDirectories(Paths.get(rootDir))

  private def file(id: String): Path = Paths.get(rootDir, s"$id.state")

  private def body(r: Record): Array[Byte] =
    s"""{"id":"${r.id}","state":"${r.state}","updated_at":${r.updatedAt},"expires_at":${r.expiresAt}}"""
      .getBytes("UTF-8")

  def get(id: String): Option[Record] =
    FileCommit.read(file(id)).flatMap { s =>
      def field(k: String): String =
        s.split(s""""$k":"?""")(1).takeWhile(c => c != '"' && c != ',' && c != '}')
      val rec = Record(field("id"), field("state"),
        field("updated_at").toLong, field("expires_at").toLong)
      // TTL: an expired record is as good as absent (Firestore TTL doc)
      if (clock() > rec.updatedAt + ttlMillis) None else Some(rec)
    }

  /** Try to acquire `id` for processing. Returns true when this caller
    * now owns it (state transitions to running).
    *
    * Races: the absent-record path is decided by [[FileCommit.create]];
    * the re-acquisition paths (failed / expired-running / TTL-expired)
    * are read-check-overwrite and would let two callers both win, so
    * they are serialized through a short-lived lock file (also
    * [[FileCommit.create]] — the loser returns false and relies on
    * redelivery). A lock left by a crashed winner is broken after
    * `lockTimeoutMillis`. */
  def acquire(id: String): Boolean = {
    val now = clock()
    val fresh = Record(id, Running.name, now, now + timeoutMillis)
    val p = file(id)
    if (!Files.exists(p) && FileCommit.create(p, body(fresh))) return true
    val lock = p.resolveSibling(p.getFileName.toString + ".lock")
    if (!tryLock(lock, now)) return false
    try {
      val retake = get(id) match {
        case None => true
        case Some(r) => r.state == Failed.name ||
          (r.state == Running.name && now > r.expiresAt)
      }
      if (retake) FileCommit.replace(p, body(fresh))
      retake
    } finally Files.deleteIfExists(lock)
  }

  private def tryLock(lock: Path, now: Long): Boolean =
    FileCommit.create(lock, s"$now -".getBytes("UTF-8")) || {
      val content = FileCommit.read(lock).map(_.trim)
      // content is "<millis> -"; age from the first field
      val age = content.flatMap(_.split("\\s+").headOption)
        .flatMap(_.toLongOption).map(now - _).getOrElse(0L)
      if (age > lockTimeoutMillis) breakStaleLock(lock, content)
      false // breaker also retries via redelivery, never self-grants
    }

  /** Break a stale lock ATOMICALLY: rename it aside first (only one
    * breaker can win the move), then delete only if the moved file still
    * carries the stale timestamp we read. A lock that was released and
    * re-created between our read and the move carries a fresh timestamp
    * — it is put back, not destroyed. (Plain delete-after-read could
    * destroy a new winner's live lock and let two callers both pass
    * tryLock — the ADVICE race.) */
  private def breakStaleLock(lock: Path, staleContent: Option[String]): Unit = {
    val aside = lock.resolveSibling(
      lock.getFileName.toString + ".broken-" + java.util.UUID.randomUUID())
    try {
      Files.move(lock, aside) // atomic same-directory rename
      val moved = new String(Files.readAllBytes(aside), "UTF-8").trim
      if (staleContent.contains(moved)) Files.deleteIfExists(aside)
      else // stole a freshly re-created lock — restore it
        try Files.move(aside, lock)
        catch { case _: Exception => Files.deleteIfExists(aside) }
    } catch { case _: Exception => () } // lost the break race: nothing held
  }

  /** Wait until `id` leaves `running` or `untilMillis` passes — the
    * reference's waiter path (`pkg/usecase/state.go:45-66`, default 10 s
    * poll): a second worker DEFERS to the current owner instead of
    * dropping the delivery, then decides via [[acquire]] whether the
    * owner completed (skip) or failed/expired (take over). Returns the
    * final observed state name (None = no / TTL-expired record). */
  def waitState(id: String, untilMillis: Long,
      checkIntervalMillis: Long = 10000L): Option[String] = {
    while (true) {
      val st = get(id)
      if (!st.exists(_.state == Running.name)) return st.map(_.state)
      if (clock() > untilMillis) return st.map(_.state)
      sleeper(checkIntervalMillis)
    }
    None // unreachable
  }

  def markCompleted(id: String): Unit = mark(id, Completed)

  def markFailed(id: String): Unit = mark(id, Failed)

  private def mark(id: String, st: State): Unit = {
    val now = clock()
    FileCommit.replace(file(id), body(Record(id, st.name, now, now + timeoutMillis)))
  }
}
