package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Eager materialization with lineage truncation for output-sized
  * intermediates (candidate edges, dedup pairs, per-doc counts): the
  * checkpointed frame is computed ONCE, its upstream caches can be
  * released, and downstream joins see exact (post-computation) stats —
  * so the output-sized side broadcasts instead of the corpus-sized one.
  *
  * Checkpoint mode follows the session:
  *   - `sparkContext.setCheckpointDir(...)` configured → RELIABLE
  *     checkpoint (blocks persisted to the checkpoint FS). Survives
  *     executor loss — the right mode on spot-instance fleets, where a
  *     preempted node must not make every downstream action fail.
  *   - no checkpoint dir → `localCheckpoint`. Blocks live only in
  *     executor storage: cheapest by far, but NOT fault-tolerant — losing
  *     an executor after the call fails downstream actions
  *     unrecoverably. The default because single-JVM/local runs (tests,
  *     bench, notebooks) have no executor churn and no checkpoint FS.
  *
  * Public API contract: frames returned by the dedup/similarity
  * operators inherit this lifetime — callers on clusters with node churn
  * should set a checkpoint dir before calling them. Reliable-checkpoint
  * files are reclaimed when the frame is GC'd only under
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (set by
  * GraftSession; Spark's default leaves them on disk) — sessions built
  * elsewhere should set it too, or clear the checkpoint dir between
  * runs.
  *
  * [[observed]] takes the same checkpoint with `Dataset.observe`
  * metrics attached: aggregates over exactly the rows the checkpoint
  * computes, delivered with it — no job of their own. A gate that needs
  * a count or a touched-bucket set of a frame it materializes anyway
  * reads them there instead of running a second action.
  */
object Materialize {
  def eager(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // cache-before-checkpoint: Dataset.checkpoint() runs TWO jobs (an
      // eager count, then the ReliableRDDCheckpointData write) — without
      // a persist the upstream plan would compute twice, breaking the
      // "runs exactly once" contract the dedup pipelines rely on. The
      // cache is released as soon as the checkpoint files exist; the
      // returned frame reads those, not the cache.
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try df.checkpoint() finally df.unpersist(blocking = false)
    } else df.localCheckpoint()

  /** [[eager]] with `metrics` (named aggregate columns) observed on the
    * materialization: returns the checkpointed frame and the metric
    * values by name. A fresh uniquely named `Observation` per call;
    * no metrics is plain [[eager]]. */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) =
    if (metrics.isEmpty) (eager(df), Map.empty)
    else {
      val obs = Observation()
      val m = eager(df.observe(obs, metrics.head, metrics.tail: _*))
      (m, obs.get)
    }
}
