package graft.util

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path,
  StandardCopyOption}
import java.util.UUID

/** The two file-commit primitives every store here commits through —
  * the local-disk stand-ins for the reference's two managed-service
  * primitives, Firestore's transactional create-if-absent
  * (`pkg/infra/firestore/client.go:24-60`) and BigQuery's ETag
  * compare-and-set (`pkg/infra/bq/client.go:198-204`):
  *
  *   - [[replace]]: last-writer-wins swap of a pointer, manifest,
  *     schema, state record or spool file;
  *   - [[create]]: create-if-absent of a lock, a log version or a
  *     first-use stamp — the transaction primitive.
  *
  * Both stage the full content in a HIDDEN, ATTEMPT-UNIQUE sibling
  * (`.<name>.<uuid>.tmp`) first: two writers never share a tmp, a
  * file source never lists one, and a crash mid-write leaves only an
  * inert tmp beside the committed file. Readers see the old content or
  * the new, never a torn or empty file. Data goes through Spark,
  * pointers through here. */
object FileCommit {

  private def stage(target: Path, bytes: Array[Byte]): Path = {
    Files.createDirectories(target.toAbsolutePath.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes)
    tmp
  }

  /** Atomically replace `target`'s content with `bytes` (an atomic
    * rename over it). */
  def replace(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = stage(target, bytes)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  /** Atomically create `target` with `bytes` unless it exists; false
    * when it does. The hard link publishes the full content at once —
    * unlike `CREATE_NEW`, which makes the file visible empty before
    * the write lands. */
  def create(target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = stage(target, bytes)
    try { Files.createLink(target, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** `target`'s content, or None when it is absent — also when it
    * vanishes between a caller's check and this read. */
  def read(target: Path): Option[String] =
    try Some(Files.readString(target))
    catch { case _: NoSuchFileException => None }
}
