package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.relational.RelationalQueries.dsum

/** Embedding-space quality diagnostics. The curation-pipeline use:
  * before trusting an embedding column for semantic dedup, clustering,
  * or ANN retrieval, measure whether it actually separates the labels
  * it claims to encode — dimensions with near-zero Fisher ratio are
  * dead weight (quantize or drop them), and a collapsed overall ratio
  * means the upstream encoder regressed.
  *
  * Scale shape (100 TB): the only pass over the full (row × dim)
  * exploded stream is one map-side-combined groupBy to per-(label,
  * dim) sufficient statistics (count / Σx / Σx²) — the classic
  * one-pass scheme. Everything after operates on the (labels · dims)-
  * sized stats frame: per-dim rollup, broadcast join, tiny output.
  * Nothing driver-side, no second data pass.
  *
  * Determinism contract: all Σ run in DECIMAL(18,6)
  * ([[graft.relational.RelationalQueries.dsum]] — commutative, so
  * partitioning-independent), float32 inputs widen to double exactly,
  * and the derived algebra (means, scatter, ratio) is plain IEEE ±,·,/
  * on identical operands in Spark and DuckDB, rounded to 6 decimals at
  * the output.
  *
  * Materialization contract (the [[graft.util.Materialize]] note, as on
  * the dedup operators): both diagnostics EAGERLY execute the
  * sufficient-stats pass at DataFrame-construction time — the one-pass
  * scheme checkpoints the stats frame so its consumers don't re-run the
  * exploded stream — so building the frame costs Spark jobs even if the
  * caller never acts on it, and the checkpointed subtree carries
  * localCheckpoint's fault-tolerance caveat (lost executors fail the
  * query instead of recomputing lineage).
  */
object EmbeddingStats {

  /** Anisotropy: the mean pairwise cosine over all vector pairs, in
    * closed form — `(‖Σx̂‖² − Σ‖x̂‖²) / (n·(n−1))` over the normalized
    * vectors x̂, so the O(n²) pair space collapses to one pass plus a
    * dimension-sized reduction. Well-conditioned embedding spaces sit
    * near 0; a high value means vectors crowd a narrow cone (the
    * classic LM-embedding pathology) and every cosine-based operator
    * downstream — semantic dedup, ANN, SemDeDup clustering — loses
    * discrimination. Zero-norm vectors are excluded; n < 2 returns a
    * null mean.
    *
    * Eager: the call itself runs Spark jobs — [[graft.util.Materialize.eager]]
    * computes the per-dim stats before the frame is returned — and the
    * frame inherits that checkpoint's lifetime (localCheckpoint unless
    * a checkpoint dir is set: executor loss fails later actions
    * instead of recomputing). See the class doc.
    *
    * @return one row: (n, mean_cos) rounded to 6 decimals
    */
  def anisotropy(emb: DataFrame, vec: Column): DataFrame = {
    val base = emb.select(vec.cast(ArrayType(DoubleType)).as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      .filter(col("nrm") > 0.0)
    val e = base
      .select(col("nrm"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("dim"), (col("x") / col("nrm")).as("e"))
    // ONE pass over the exploded stream: the per-dim sufficient stats
    // (Σe as dsum — the same expression as before — and Σe² kept in
    // DECIMAL so the later global fold is the SAME exact decimal sum
    // the old flat dsum ran, just reassociated; decimal addition is
    // exact, so reassociation is bit-identical) — before, s2 and ss
    // each re-ran the normalize+posexplode pass
    val pd = graft.util.Materialize.eager(e.groupBy(col("dim")).agg(
      dsum(col("e")).as("s"),
      sum((col("e") * col("e"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("ssd")))
    val s2 = pd.agg(dsum(col("s") * col("s")).as("s2"))
    val ss = pd.agg(sum(col("ssd")).cast(DoubleType).as("ss"))
    val n = base.agg(count(lit(1)).as("n"))
    n.crossJoin(broadcast(s2)).crossJoin(broadcast(ss))
      .select(col("n"),
        when(col("n") < 2, lit(null).cast(DoubleType))
          .otherwise(round((col("s2") - col("ss")) /
            (col("n").cast(DoubleType) * (col("n") - lit(1L)).cast(DoubleType)), 6))
          .as("mean_cos"))
  }

  /** Per-dimension Fisher separability of `vec` w.r.t. `label`:
    * between-class scatter over within-class scatter,
    *
    *   between_d = Σ_c n_c · (μ_cd − μ_d)²
    *   within_d  = Σ_c (Σx² − (Σx)²/n_c)
    *
    * from one-pass per-class sufficient statistics. Dimensions whose
    * within-class scatter rounds to 0 return a null ratio (constant
    * dimension — degenerate, flagged rather than ±Inf).
    *
    * Eager: the call itself runs Spark jobs — [[graft.util.Materialize.eager]]
    * computes the per-(label, dim) stats before the frame is returned —
    * and the frame inherits that checkpoint's lifetime (localCheckpoint
    * unless a checkpoint dir is set: executor loss fails later actions
    * instead of recomputing). See the class doc.
    *
    * @return (dim, scatter_between, scatter_within, fisher) — one row
    *         per dimension, ordered by dim, rounded to 6 decimals
    */
  def fisherRatio(emb: DataFrame, vec: Column, label: Column): DataFrame = {
    val e = emb.select(label.as("label"), posexplode(vec).as(Seq("dim", "xf")))
      .select(col("label"), col("dim").cast(LongType).as("dim"),
        col("xf").cast(DoubleType).as("x"))
    // materialized once: the (labels · dims)-sized stats frame feeds
    // two consumers (the per-dim rollup and the join) — unmaterialized,
    // each re-ran the posexplode pass over the corpus
    val cs = graft.util.Materialize.eager(e.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_c"),
        dsum(col("x")).as("s"),
        dsum(col("x") * col("x")).as("sxx")))
    val ds = cs.groupBy(col("dim"))
      .agg(sum(col("n_c")).as("n_d"), dsum(col("s")).as("s_d"))
    val mu_c = col("s") / col("n_c").cast(DoubleType)
    val mu_d = col("s_d") / col("n_d").cast(DoubleType)
    cs.join(broadcast(ds), Seq("dim"))
      .select(col("dim"),
        (col("n_c").cast(DoubleType) * ((mu_c - mu_d) * (mu_c - mu_d))).as("b"),
        (col("sxx") - col("s") * col("s") / col("n_c").cast(DoubleType)).as("w"))
      .groupBy(col("dim"))
      .agg(round(dsum(col("b")), 6).as("scatter_between"),
        round(dsum(col("w")), 6).as("scatter_within"))
      .select(col("dim"), col("scatter_between"), col("scatter_within"),
        when(col("scatter_within") > 0.0,
          round(col("scatter_between") / col("scatter_within"), 6))
          .otherwise(lit(null).cast(DoubleType)).as("fisher"))
      .orderBy(col("dim"))
  }
}
