package graft

import org.apache.spark.sql.SparkSession

/** One place for engine-wide session tuning so Verify / Bench / tests /
  * user code all run the same plan-shaping configuration.
  *
  * Scale rationale (these matter more on a 1000-executor cluster than on
  * local[32], but local mirrors them):
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join
  *     splitting, and dynamic broadcast-join demotion/promotion — the
  *     reference has fixed goroutine pools (BASELINE.md), we let the
  *     runtime re-plan instead.
  *   - shuffle.partitions: sized to cores locally; on a real cluster
  *     AQE's coalescing makes the initial number a ceiling, not a tuning
  *     knob.
  *   - nanosAsLong: the driver's `events` table is TIMESTAMP(NANOS)
  *     parquet which Spark refuses natively (see Tables.events).
  */
object GraftSession {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Reliable checkpoints (Materialize.eager when a checkpoint dir is
      // set) are deleted when their RDD is GC'd instead of accumulating
      // until the checkpoint FS fills — the operators' no-hidden-state
      // contract extends to checkpoint storage.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // Dynamic-partition writes use the default SORT-based writer: the
      // ingest path rebalance-clusters every batch by `__part` before the
      // write (TableSink.appendSlice), so each task holds a handful of
      // partition values and the per-task sort is near-free. The r3
      // alternative (maxConcurrentOutputFileWriters=64) multiplied open
      // parquet writers across tasks — 677 concurrent writers, shrunken
      // row groups, tasks×partitions tiny files — the wrong trade at any
      // scale once the batch is clustered.
      // InferFiltersFromGenerate rewrites explode(e) into
      // Filter(size(e)>0 && isnotnull(e)) + Generate and then pushes the
      // filter down THROUGH projections, substituting aliases — for an
      // expensive generator input (shingling, banding) the whole
      // expression tree gets re-evaluated once more per row (measured
      // 25× slowdown on the n-gram pair join). The inferred filter is
      // redundant for us: Generate itself skips empty/null inputs.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  def get(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
