package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Label-aware neighbor mining over an embedding table — the two
  * pipeline stages that sit between "embeddings exist" and "a model
  * trains on them":
  *
  *   - hard-NEGATIVE mining: for each query, the most-similar vectors
  *     with a DIFFERENT label — the contrastive-training fuel that
  *     actually moves retrieval/classifier quality (easy negatives
  *     teach nothing).
  *   - kNN label agreement: the fraction of each vector's nearest
  *     neighbors sharing its label — vectors whose neighborhoods
  *     disagree are the mislabel/contamination audit queue (the
  *     confident-learning signal, computed geometrically).
  *
  * Scale shape (100 TB): the query side is broadcast (norms staged
  * once per row, never per pair); the corpus side streams through the
  * scoring projection with no shuffle until the per-query top-k — the
  * exact [[Similarity.bruteForceTopK]] shape, with the label either
  * filtering pairs before any ranking (negatives) or riding along to
  * the aggregation (agreement). For corpus-scale query sides, run the
  * same composition per IVF cluster ([[Similarity.ivfTopK]] semantics)
  * — the label plumbing is identical.
  *
  * Determinism: cosine via the portable left-fold dot, rounded to 6
  * decimals BEFORE ranking; ties break on neighbor id; agreement is an
  * exact rational rounded at the output.
  */
object Mining {

  /** Query-row count above which the exact entry points REFUSE to
    * broadcast: 64k rows of ~768-dim double vectors is ~400 MB
    * serialized — the edge of any sane broadcast budget. Past it the
    * exact shape is the wrong plan no matter how it's joined (the
    * cross join itself is |Q|·|C|), so rather than silently falling
    * back to a cartesian shuffle the guard fails loudly and names the
    * scale path ([[hardNegativesIvf]] / a per-cluster composition),
    * mirroring the dedup index probes' broadcast guard
    * ([[graft.dedup.LsmIndex.Store.probeSides]]). */
  val MaxBroadcastQueryRows: Long = 1L << 16

  /** Count-once guard shared by the exact entry points: returns the
    * query frame's row count so callers already holding it can reuse
    * it; one cheap count job against the (small by contract) side. */
  private def guardQueries(queries: DataFrame, maxQueryRows: Long,
      op: String, scalePath: String): Unit = {
    val qn = queries.count()
    require(qn <= maxQueryRows,
      s"$op: query side has $qn rows > maxQueryRows=$maxQueryRows — the " +
        s"exact all-pairs shape would broadcast ~$qn vectors and score " +
        s"|Q|x|C| pairs. Use $scalePath for corpus-scale query sides, " +
        "or raise maxQueryRows explicitly for a bounded exact audit.")
  }

  private def fastDot(df: DataFrame)(x: Column, y: Column): Column =
    if (df.sparkSession.catalog.functionExists("graft_dot"))
      call_function("graft_dot", x, y)
    else Similarity.dot(x, y)

  private def staged(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, pre: String, spread: Boolean): DataFrame = {
    val src = if (spread) graft.util.Spread(df) else df
    src.select(col(idCol).as(s"${pre}_id"), col(labelCol).as(s"${pre}_label"),
        col(vecCol).cast(ArrayType(DoubleType)).as(s"${pre}v"))
      .withColumn(s"${pre}n", sqrt(fastDot(df)(col(s"${pre}v"), col(s"${pre}v"))))
  }

  /** Top-`k` most-similar corpus vectors with a label DIFFERENT from
    * the query's. `queries` must be broadcast-small — ENFORCED: the
    * query side is counted once and the call fails loudly past
    * `maxQueryRows` ([[MaxBroadcastQueryRows]]) instead of OOMing the
    * driver on an unbounded broadcast.
    *
    * @return (query_id, query_label, neighbor_id, neighbor_label, sim,
    *         rk) — rk 1..k by (sim desc, neighbor_id)
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label",
      maxQueryRows: Long = MaxBroadcastQueryRows): DataFrame = {
    require(k > 0)
    guardQueries(queries, maxQueryRows, "hardNegatives", "hardNegativesIvf")
    val q = broadcast(staged(queries, idCol, vecCol, labelCol, "query", spread = false))
    val c = staged(corpus, idCol, vecCol, labelCol, "neighbor", spread = true)
    val scored = c.crossJoin(q)
      .filter(col("query_label") =!= col("neighbor_label"))
      .withColumn("sim",
        round(fastDot(corpus)(col("queryv"), col("neighborv")) /
          (col("queryn") * col("neighborn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("sim"), col("rk"))
  }

  /** The corpus-scale path for [[hardNegatives]]: IVF-pruned candidate
    * generation ([[Similarity.ivfTopK]] shape) with the label filter
    * applied inside the probed lists — the corpus never cross-joins,
    * only the `nprobe` nearest inverted lists per query are scored.
    * With `nprobe = nlist` the probe is exhaustive and the output is
    * IDENTICAL to [[hardNegatives]] (the recall identity MiningSpec
    * pins); lower `nprobe` trades recall for a bounded candidate set,
    * exactly like every other IVF composition here.
    *
    * The query side is broadcast only while it stays under
    * `maxBroadcastQueryRows`; past the cap both query-side joins fall
    * back to shuffles — safe, because both are equi-joins (cluster /
    * query_id). For a corpus-scale query side size `nlist` up so the
    * cluster key carries enough parallelism for the shuffle.
    */
  def hardNegativesIvf(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label",
      maxBroadcastQueryRows: Long = MaxBroadcastQueryRows): DataFrame = {
    require(k > 0 && nprobe >= 1 && nprobe <= nlist)
    val cents = Similarity.ivfCentroids(corpus, nlist, idCol, vecCol)
    val c = graft.util.Spread(corpus)
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"),
        col(vecCol).cast(ArrayType(DoubleType)).as("cv"))
      .withColumn("cluster", Similarity.nearestCluster(corpus, cents, col("cv")))
      .withColumn("cn", sqrt(fastDot(corpus)(col("cv"), col("cv"))))
    // both query-side joins are EQUI-joins (cluster / query_id), so a
    // corpus-scale query side degrades safely to a shuffle: broadcast
    // is only a hint applied under the row cap, never a requirement
    // (the LsmIndex.Store.probeSides guard shape)
    val hint: DataFrame => DataFrame =
      if (queries.count() <= maxBroadcastQueryRows) broadcast(_) else identity
    val ql = hint(queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label")))
    val cands = c
      .join(hint(Similarity.probeQueries(queries, cents, nprobe, idCol, vecCol)), "cluster")
      .join(ql, "query_id")
      .filter(col("query_label") =!= col("neighbor_label"))
      .withColumn("sim",
        round(fastDot(corpus)(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("sim"), col("rk"))
  }

  /** For each query vector: its `k` nearest neighbors' label agreement
    * — `n_same / k` over the top-`k` (excluding self by id). Low
    * agreement = the geometric mislabel signal.
    *
    * @return (query_id, query_label, n_same, agreement) — agreement
    *         rounded to 6 decimals, one row per query
    */
  def knnLabelAgreement(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label",
      maxQueryRows: Long = MaxBroadcastQueryRows): DataFrame = {
    require(k > 0)
    guardQueries(queries, maxQueryRows, "knnLabelAgreement",
      "a per-IVF-cluster composition (Similarity.ivfTopK semantics)")
    val q = broadcast(staged(queries, idCol, vecCol, labelCol, "query", spread = false))
    val c = staged(corpus, idCol, vecCol, labelCol, "neighbor", spread = true)
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(fastDot(corpus)(col("queryv"), col("neighborv")) /
          (col("queryn") * col("neighborn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("query_id"), col("query_label"))
      .agg(sum((col("neighbor_label") === col("query_label")).cast("long")).as("n_same"),
        count(lit(1)).as("__ranked"))
      // divide by the neighbors actually RANKED, not the requested k —
      // on a corpus with < k+1 rows a perfectly-labeled query would
      // otherwise report < 1.0 and land atop the mislabel queue
      .select(col("query_id"), col("query_label"), col("n_same"),
        round(col("n_same").cast(DoubleType) / col("__ranked").cast(DoubleType), 6)
          .as("agreement"))
  }
}
