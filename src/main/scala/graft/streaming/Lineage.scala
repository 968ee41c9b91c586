package graft.streaming

import java.nio.file.Paths

import graft.util.FileCommit

/** Checkpoint-lineage binding for BATCH-ID-guarded foreachBatch stores
  * ([[CountStream]]'s generation and delta disciplines,
  * [[ScoreStream]]'s per-batch output dirs, [[ClusterStream]] via its
  * manifest): their replay idempotence keys on the micro-batch id,
  * which is only meaningful within ONE checkpoint lineage. A second
  * stream pointed at the same store restarts batch ids at 0 — below
  * the committed pointer — so its folds would silently no-op
  * (CountStream) or overwrite committed batch dirs (ScoreStream)
  * instead of failing. The first drain stamps its checkpoint identity
  * into `_LINEAGE` (a name parquet directory listings ignore); later
  * drains must match or fail loudly.
  *
  * Deliberately NOT applied to the VALUE-keyed stores: [[Reservoir]]
  * dedups on the id column (the E-S key is a pure function of the id,
  * so any replay collapses — ReservoirSpec drains one store from two
  * checkpoints as a feature) and [[CorpusBuilder]] gates on content
  * digests (a full fresh-checkpoint replay is the tested
  * exactly-once-by-content contract). For those, a second lineage is
  * a correct operation, not a hazard.
  *
  * Reference anchor: the reference keys its message state machine on
  * the message id within one subscription (`pkg/domain/model/state.go`)
  * — state is meaningful only against the stream that created it. */
object Lineage {

  /** Normalized identity of a checkpoint location. */
  def id(checkpointDir: String): String =
    Paths.get(checkpointDir).toAbsolutePath.normalize.toString

  /** Bind `dir` to `checkpointDir`'s lineage: stamp on first use, fail
    * loudly on mismatch ever after. The stamp is a create-if-absent, so
    * of two first drains racing on one store exactly one binds. `what`
    * names the store kind in the error. */
  def bind(dir: String, checkpointDir: String, what: String): Unit = {
    val ckpt = id(checkpointDir)
    val f = Paths.get(dir, "_LINEAGE")
    if (!FileCommit.create(f, ckpt.getBytes("UTF-8"))) {
      val cur = FileCommit.read(f).fold("")(_.trim)
      require(cur == ckpt,
        s"$what at $dir is bound to checkpoint lineage '$cur' but this " +
          s"stream runs from '$ckpt' — the store's batch-id replay guard " +
          "tracks ONE stream, and a second lineage's restarted batch ids " +
          "would silently no-op or overwrite committed state. Resume with " +
          "the original checkpoint dir, point the new stream at a fresh " +
          s"store, or delete $f for a deliberate rebind")
    }
  }
}
