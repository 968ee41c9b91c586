package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sim.Similarity

/** Pins the three PLAN SHAPES a 100×-scale run depends on, so a
  * refactor can't silently regress them from prose contracts back into
  * full scans:
  *
  *   1. IVF-store probes (q42/q62) prune at the SCAN — the probed
  *      clusters arrive as `PartitionFilters`, not a post-scan filter.
  *   2. The ingest append (q33/q34) rebalance-clusters each batch by
  *      `__part` before the dynamic-partition write — the write-shape
  *      fix that keeps files-per-partition ~1 (WriteShapeSpec checks
  *      the RESULTING files; this checks the PLAN that produces them).
  *   3. The bloom dedup gate (q64/CorpusBuilder) touches the stored
  *      corpus only through a column-pruned, candidate-gated semi-join —
  *      never an unconditioned corpus-wide join.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("IVF store probe arrives as PartitionFilters on cluster (q42/q62 scan shape)") {
    val dir = tmpDir("plan-ivf") + "/store"
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.writeIvfStore(emb, dir, nlist = 4)
    val probe = Similarity.incrementalSemanticNearDup(spark, dir, cents,
      emb.filter(col("vec_id") < 3), threshold = -1.0, nprobe = 2)
    val plan = formatted(probe)
    val scanPart = plan.linesIterator
      .filter(_.trim.startsWith("PartitionFilters:")).mkString("\n")
    assert(scanPart.contains("cluster"),
      s"probed store scan must carry a cluster PartitionFilter, plan:\n$plan")
    // and the pruning is real: the data filter list must not be doing
    // the cluster work post-scan (cluster is a partition column)
    assert(plan.contains("PartitionFilters: [cluster")
      || scanPart.matches("(?s).*cluster#\\d+ IN.*")
      || scanPart.contains("cluster#"),
      s"cluster predicate must be a partition filter, got:\n$scanPart")
  }

  test("band index probe arrives as PartitionFilters on __bk (streaming near-dup gate shape)") {
    import graft.dedup.{BandIndex, Dedup}
    import graft.text.TextFunctions.tokens
    val dir = tmpDir("plan-bands")
    val spec = BandIndex.Spec(bands = 8, buckets = 16)
    def sigged(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("sig", call_function("graft_minhash_mix",
        array_distinct(call_function("graft_shingles", tokens(col("text")), lit(3))),
        lit(32)))
      .select(col("doc_id"), col("sig"))
    val corpusSigs = sigged((0L until 30L).map(i =>
      (i, (1 to 40).map(j => s"w${i}_$j").mkString(" "))))
    BandIndex.rebuild(corpusSigs, "doc_id", "sig", dir, spec)
    val batchSigs = sigged(Seq((100L, (1 to 40).map(j => s"w5_$j").mkString(" "))))
    val probe = BandIndex.probe(batchSigs, "doc_id", "sig", dir, spec,
      BandIndex.touched(batchSigs, "sig", spec))
    val plan = formatted(probe)
    val scanPart = plan.linesIterator
      .filter(_.trim.startsWith("PartitionFilters:")).mkString("\n")
    assert(scanPart.contains("__bk"),
      s"band index scan must carry a __bk PartitionFilter, plan:\n$plan")
    // the batch side broadcasts; the index side never shuffles
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"band probe must broadcast the batch side, plan:\n$plan")
    // and the probe finds the planted near-dup
    assert(probe.count() >= 1L)
    assert(Dedup.incrementalCandidates(batchSigs,
      Dedup.banded(corpusSigs, "doc_id", "sig", spec.bands),
      "doc_id", "sig", spec.bands).count() == probe.count(),
      "the persisted-index probe must match the direct re-banding probe")

    // backfill guard: past maxBroadcastRows the batch side must NOT be
    // hint-broadcast — a cap-less AvailableNow backfill would otherwise
    // broadcast an unbounded frame. autoBroadcast is disabled for the
    // assert so only the HINT could produce a BroadcastExchange (AQE
    // re-choosing broadcast from ACTUAL sizes at runtime remains the
    // safe, size-checked version).
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val guarded = BandIndex.probe(batchSigs, "doc_id", "sig", dir, spec,
        BandIndex.touched(batchSigs, "sig", spec), maxBroadcastRows = 0L)
      assert(!formatted(guarded).contains("BroadcastExchange"),
        s"past the row threshold the probe must not hint-broadcast:\n${formatted(guarded)}")
      assert(guarded.count() == probe.count(),
        "the shuffle fallback must produce identical candidates")
      val hinted = BandIndex.probe(batchSigs, "doc_id", "sig", dir, spec,
        BandIndex.touched(batchSigs, "sig", spec))
      assert(formatted(hinted).contains("BroadcastExchange"),
        "under the threshold the batch side still broadcasts")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("IVF-PQ store pass 1 is codes-only + PartitionFilters; pass 2 is broadcast-gated (q73 shape)") {
    val dir = tmpDir("plan-ivfpq") + "/store"
    val emb = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val (cents, books) = Similarity.writeIvfPqStore(emb, dir, nlist = 4, m = 2, ksub = 4)
    val top = Similarity.ivfPqStoreTopK(spark, dir, cents, books,
      emb.filter(col("vec_id") < 3), k = 5, nprobe = 2, topC = 10)
    val plan = formatted(top)
    // every store scan is pruned to the probed clusters AT THE SCAN
    val partLines = plan.linesIterator
      .filter(_.trim.startsWith("PartitionFilters:")).toSeq
    assert(partLines.nonEmpty && partLines.forall(_.contains("cluster")),
      s"every store scan must carry a cluster PartitionFilter, got:\n" +
        s"${partLines.mkString("\n")}\nplan:\n$plan")
    // pass 1 (ADC) reads codes and NEVER the vector column — PQ's
    // compression realized as columnar pruning
    val schemaLines = plan.linesIterator
      .filter(_.trim.startsWith("ReadSchema:")).toSeq
    assert(schemaLines.exists(l => l.contains("codes") && !l.contains("embedding")),
      s"the ADC pass must scan codes without the vector column, got:\n" +
        s"${schemaLines.mkString("\n")}\nplan:\n$plan")
    // pass 2 fetches vectors only through the broadcast candidate join
    assert(plan.contains("BroadcastHashJoin"),
      s"the vector fetch must be broadcast-candidate-gated, plan:\n$plan")
    // and the composed read path returns real neighbors
    assert(top.count() > 0)
  }

  test("int8 store read prunes the float vector and batch-scans (q93 at-rest shape)") {
    val dir = tmpDir("plan-int8")
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 5 + j).toFloat)))
      .toDF("vec_id", "embedding")
    // the at-rest store keeps the float column for exact re-rank; the
    // 4× saving is realized at SCAN time by columnar pruning
    Similarity.quantizeInt8(emb).write.parquet(s"$dir/store")
    // downstream int8 scoring touches only (vec_id, scale, codes):
    // integer dot × scale_a·scale_b approximates the float dot
    val probeCodes = (0 until 8).map(j => math.round(math.sin(j) / 0.01).toInt)
    val scored = spark.read.parquet(s"$dir/store")
      .select(col("vec_id"),
        (aggregate(zip_with(col("codes"),
            lit(probeCodes.toArray), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).cast("double")
          * col("scale") * lit(0.01)).as("score"))
      .orderBy(col("score").desc).limit(5)
    val plan = formatted(scored)
    val schemaLines = plan.linesIterator
      .filter(_.trim.startsWith("ReadSchema:")).toSeq
    assert(schemaLines.nonEmpty && schemaLines.forall(l =>
        !l.contains("embedding") && l.contains("codes") && l.contains("scale")),
      s"int8 scoring must scan codes+scale WITHOUT the float vector " +
        s"(the 4× at-rest saving as a scan shape), got:\n" +
        s"${schemaLines.mkString("\n")}\nplan:\n$plan")
    // and the pruned scan is the vectorized parquet batch reader —
    // nested-column vectorization must not silently fall back to row
    // reads for the codes array
    val scanBlock = plan.linesIterator
      .filter(l => l.contains("Batched:")).mkString("\n")
    assert(scanBlock.contains("Batched: true"),
      s"the codes scan must be a vectorized batch scan, got:\n$scanBlock\nplan:\n$plan")
    assert(scored.count() == 5)
  }

  test("ingest append rebalance-clusters by __part before the partitioned write (q33 shape)") {
    import graft.ingest.TableSink
    import graft.schema.SchemaRegistry
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.optimizedPlan.toString + "\n" + qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val registry = new SchemaRegistry(tmpDir("plan-append"))
      val routed = (0 until 8).map { i =>
        ("id" + i, "ing", java.sql.Timestamp.valueOf(s"2024-05-0${i % 4 + 1} 00:00:00"),
          java.sql.Timestamp.valueOf("2024-05-01 00:00:01"), s"v$i", "ds", "t", "day")
      }.toDF("id", "ingest_id", "timestamp", "ingested_at", "v", "dataset", "table", "partition")
        .withColumn("data", struct($"v")).drop("v")
      TableSink.append(spark, registry, routed)
      // listener bus is async — poll for the write plan
      val deadline = System.currentTimeMillis() + 15000
      var hit = false
      while (!hit && System.currentTimeMillis() < deadline) {
        hit = plans.asScala.exists(p =>
          (p.contains("RebalancePartitions") || p.contains("REBALANCE_PARTITIONS_BY_COL"))
            && p.contains("__part"))
        if (!hit) Thread.sleep(100)
      }
      assert(hit, "the partitioned append must shuffle via REBALANCE(__part); " +
        s"captured ${plans.size} plans:\n${plans.asScala.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("digest index probe arrives as PartitionFilters on __dk (exact-verify store shape)") {
    import graft.dedup.{Dedup, DigestIndex}
    val dir = tmpDir("plan-digests")
    val spec = DigestIndex.Spec(16)
    def digested(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("digest", Dedup.contentKey(col("text")))
      .select(col("doc_id"), col("digest"))
    DigestIndex.rebuild(digested((0L until 40L).map(i => (i, s"doc $i"))),
      "doc_id", "digest", dir, spec)
    val batch = digested(Seq((100L, "doc 7"), (101L, "doc 9")))
    val probe = DigestIndex.probe(batch, "doc_id", "digest", dir, spec,
      DigestIndex.touched(batch, "digest", spec))
    val plan = formatted(probe)
    val scanPart = plan.linesIterator
      .filter(_.trim.startsWith("PartitionFilters:")).mkString("\n")
    assert(scanPart.contains(DigestIndex.BucketCol),
      s"digest index scan must carry a ${DigestIndex.BucketCol} PartitionFilter, plan:\n$plan")
    // the candidate side broadcasts; the stored side never shuffles
    assert(plan.contains("BroadcastHashJoin"),
      s"digest probe must broadcast the candidate side, plan:\n$plan")
    // and the probe finds exactly the planted dups
    assert(probe.select("corpus_id").as[Long].collect().toSet == Set(7L, 9L))
  }

  test("bloom dedup gate reads the stored corpus column-pruned and semi-join gated (q64 shape)") {
    import graft.dedup.Dedup
    val dir = tmpDir("plan-bloom")
    val corpus = (0L until 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .withColumn("digest", Dedup.contentKey(col("text")))
    corpus.write.parquet(s"$dir/corpus")
    val filter = Dedup.digestFilter(corpus, "text", 256L, Dedup.bloomBits(256L, 0.01))
    val batch = (25L until 75L).map(i => (i + 1000L, s"doc $i")).toDF("doc_id", "text")
    val stored = spark.read.parquet(s"$dir/corpus").select("digest")
    val gated = Dedup.bloomNewDocs(batch, stored, "text", filter)
    val plan = formatted(gated)
    // the corpus side participates ONLY as the probe of a semi join on
    // candidate digests (both joins broadcast: nothing corpus-sized
    // shuffles), and its scan reads just the digest column
    assert(plan.contains("LeftSemi"),
      s"corpus digests must be gated by a semi join, plan:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"confirmed dups must drop via an anti join, plan:\n$plan")
    val corpusScan = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("digest")).mkString
    assert(corpusScan.contains("struct<digest:string>"),
      s"corpus scan must be pruned to the digest column, got: $corpusScan\n$plan")
    // correctness of the gate on this data while we're here: only the
    // 25 genuinely-new texts pass
    assert(gated.count() == 25L)
  }

  test("bloom dedup gates probe a broadcast filter: plans stay small at the 2^20-item default") {
    import graft.dedup.{Dedup, DigestIndex}
    val dir = tmpDir("plan-bloom-size")
    val corpus = (0L until 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .withColumn("digest", Dedup.contentKey(col("text")))
    val spec = DigestIndex.Spec(8)
    DigestIndex.rebuild(corpus.select($"doc_id", $"digest"), "doc_id", "digest", dir, spec)
    val items = 1L << 20
    val filter = Dedup.digestFilter(corpus, "text", items, Dedup.bloomBits(items, 0.01))
    assert(filter.length > 1000000, "the default sizing serializes to ~1.2 MB")
    // read from files, as a landed batch is: a local batch would be
    // folded into a LocalRelation at optimization, probe and all
    (25L until 75L).map(i => (i + 1000L, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/batch")
    val batch = spark.read.parquet(s"$dir/batch")
    val limit = 64 * 1024
    val gated = Dedup.bloomNewDocs(batch, corpus.select("digest"), "text", filter)
    val plan = formatted(gated)
    assert(plan.length < limit, s"bloomNewDocs plan is ${plan.length} chars")
    assert(gated.count() == 25L)
    // the indexed gate runs its probe while building the frame (the
    // candidates materialize) — check the executed plans too
    val before = lastExecutionId
    val indexed = Dedup.bloomNewDocsIndexed(batch, "doc_id", "text", filter,
      dir, spec, corpus.select("digest"))
    val indexedPlan = formatted(indexed)
    assert(indexedPlan.length < limit,
      s"bloomNewDocsIndexed plan is ${indexedPlan.length} chars")
    val executed = planDescriptionsAfter(before)(_.contains("xxhash64"))
    assert(executed.exists(_.contains("xxhash64")), "the probe execution was not recorded")
    assert(executed.forall(_.length < limit),
      s"executed plan sizes: ${executed.map(_.length).mkString(", ")}")
    assert(indexed.count() == 25L)
  }

  test("BPE encode runs ONCE per row under multi-consumer projection (q86 shape)") {
    import graft.text.Bpe
    val dir = tmpDir("plan-bpe")
    (0L until 10L).map(i => (i, s"doc number $i text"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val docsDf = spark.read.parquet(s"$dir/docs")
    val merges = Seq(Bpe.Merge("d", "o"), Bpe.Merge("do", "c"))
    // the q86 shape: stage once, consume three times
    val out = docsDf.withColumn("__toks", Bpe.encode(col("text"), merges))
      .select(col("doc_id"),
        (Bpe.decode(col("__toks")) === col("text")).as("rt"),
        size(col("__toks")).as("n"),
        (size(col("__toks")) <= length(col("text"))).as("b"))
    val plan = out.queryExecution.optimizedPlan.toString
    val n = "graft_bpe_encode".r.findAllIn(plan).size
    assert(n == 1,
      s"CollapseProject must keep the staged token array (non-cheap, " +
        s"multi-referenced) — found $n encode calls in:\n$plan")
    // and the staged shape still computes the right thing
    assert(out.filter(!col("rt")).count() == 0)
  }

  test("ANN recall eval broadcasts the query sample on both pipelines (q87 shape)") {
    val emb = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 5 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(q, emb, k = 5)
    val ann = Similarity.lshTopK(q, emb, k = 5)
    val recall = Similarity.recallAtK(exact, ann, k = 5)
    // exact side: corpus × broadcast(queries) — never a shuffled cross
    val exactPlan = formatted(exact)
    assert(exactPlan.contains("BroadcastNestedLoopJoin"),
      s"brute-force baseline must broadcast the query sample:\n$exactPlan")
    assert(!exactPlan.contains("CartesianProduct"),
      s"corpus-side cartesian would shuffle corpus-sized data:\n$exactPlan")
    // LSH side: band-key equi-join against the broadcast query bands
    val annPlan = formatted(ann)
    assert(annPlan.contains("BroadcastHashJoin"),
      s"LSH candidate join must broadcast the query bands:\n$annPlan")
    // end-to-end recall still computes (per-query rows, values in [0,1])
    val rows = recall.collect()
    assert(rows.length == 3 &&
      rows.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("DSIR scoring: fixed-size model tables come back as broadcasts (q103 shape)") {
    import graft.curation.Dsir
    import graft.text.TextFunctions.tokens
    val docs = (1 to 60).map(i => (i.toLong, s"w${i % 9} w${i % 5} w${i % 3}", i % 2 == 0))
      .toDF("doc_id", "text", "tgt")
    val scored = Dsir.importanceScores(docs, col("doc_id"),
      tokens(col("text")), col("tgt"), numBuckets = 64)
    val plan = formatted(scored)
    // the bucket log-ratio table (numBuckets rows) must rejoin the
    // per-doc counts by broadcast — a shuffled join here would move
    // the (doc, bucket) stream for a fixed-size model
    assert(plan.contains("BroadcastHashJoin"),
      s"model table must broadcast back onto per-doc counts:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fixed-size model tables must never sort-merge:\n$plan")
  }

  test("label-aware mining: broadcast-query kNN, never a shuffled cartesian (q111/q112 shape)") {
    import graft.sim.Mining
    val emb = (0L until 50L).map(i =>
      (i, (i % 3).toInt, Array.tabulate(4)(j => math.sin(i * 7 + j).toFloat)))
      .toDF("vec_id", "label", "embedding")
    for (df <- Seq(
      Mining.hardNegatives(emb.filter(col("vec_id") < 3), emb, 5),
      Mining.knnLabelAgreement(emb.filter(col("vec_id") < 3), emb, 5))) {
      val plan = formatted(df)
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"query side must broadcast against the streamed corpus:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"a corpus-side cartesian would shuffle corpus-sized data:\n$plan")
    }
  }

  test("frequent-token mining: k-bounded sketch agg + broadcast candidates (q104 shape)") {
    import graft.text.HeavyHitters
    import graft.text.TextFunctions.tokens
    val docs = (1 to 40).map(i => s"hot hot w$i x$i").toDF("text")
    val out = HeavyHitters.frequentTokens(docs, tokens(col("text")), 1, 10)
    val plan = formatted(out)
    // pass 1: the MG sketch aggregates as an object agg with a map-side
    // partial (k-bounded states move, never the token stream)
    assert("ObjectHashAggregate|SortAggregate".r.findAllIn(plan).size >= 2,
      s"MG sketch must run as partial+final object aggregate:\n$plan")
    assert(plan.contains("graft_misra_gries"), s"sketch missing from plan:\n$plan")
    // pass 2: candidates reach the token stream via broadcast — the
    // vocabulary tail must not shuffle to a sort-merge join
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate re-count must broadcast the ≤k candidate terms:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"full-vocabulary shuffle join defeats the sketch prune:\n$plan")
  }

  test("radius image dedup self-joins on the block key — never a cartesian (q119 shape)") {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(
      (0L until 30L).map(i => (i, s"payload $i ${i % 5}")).toDF("doc_id", "text"))
    val sigs = Multimodal.imageSignatures(media).toDF()
      .select(col("media_id"), col("phash"))
    val plan = formatted(Multimodal.radiusPairs(sigs, maxHamming = 2, hashBits = 8))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the pair space must be pruned by the (slice, bits) equi-key:\n$plan")
    // and the pruning key is the blocked slice, not the raw hash
    assert(plan.contains("blk"), s"join must key on the block column:\n$plan")
  }

  test("simhash near-dup: equi-join on the packed-long block key, verify inside the join (q39 shape)") {
    import graft.dedup.Dedup
    import graft.text.TextFunctions.tokens
    val sigged = (0L until 40L).map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} tail"))
      .toDF("doc_id", "text")
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), Dedup.simhashNative(col("t")).as("sh"))
    val plan = formatted(
      Dedup.simhashNearDup(sigged, "doc_id", "sh", maxHamming = 8))
    // block-key equi-join — the pigeonhole prune must survive any
    // optimizer change (a cartesian here is corpus² at any scale)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the pair space must be pruned by the block equi-key:\n$plan")
    assert(plan.contains("blk"), s"join must key on the block column:\n$plan")
    // the Hamming verify rides the join/filter BEFORE the distinct's
    // exchange — false candidates must die map-side, not shuffle
    // (the round-10 q39 ordering fix)
    assert(plan.contains("bit_count"), s"Hamming verify missing:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"pair de-dup must be the aggregate form:\n$plan")
  }

  test("semantic decontam: broadcast eval probe + aggregate-form argmax, no shuffle of pairs (q134 shape)") {
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(j => math.cos(i * 3 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = formatted(Similarity.semanticContamination(
      emb.filter(col("vec_id") >= 5), emb.filter(col("vec_id") < 5),
      threshold = 0.5))
    // the eval side must arrive broadcast — corpus x corpus at scale
    // otherwise (the q126 one-sided-probe contract)
    assert(plan.contains("BroadcastExchange"),
      s"eval set must be broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"pair rows must never shuffle:\n$plan")
    // argmax is the aggregate form (partial max map-side), not a window
    // over shuffled pair rows
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      s"argmax must pre-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"), s"no window over pair rows:\n$plan")
  }

  test("CDC chunking is map-side — no exchange before the digest aggregate (q137 shape)") {
    import graft.dedup.Dedup
    val docs = (0L until 30L).map(i => (i, (1 to 20).map(j => s"w${(i + j) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    // the per-doc chunk projection must be shuffle-free: tokens,
    // shingle hashes, boundary scan, slices, digests are all row-local
    val plan = formatted(Dedup.cdcChunks(docs, k = 3, p = 4))
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle (it is a projection):\n$plan")
    // and the duplicated-chunk report shuffles only (digest[, doc])
    // chunk rows — the two-exchange count-distinct pair, nothing wider
    val dupPlan = formatted(Dedup.cdcDuplicateChunks(docs, k = 3, p = 4))
    val exchanges = dupPlan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges <= 2,
      s"the report should shuffle only digest rows:\n$dupPlan")
  }

  test("IVF semantic decontam: cluster equi-join, centroids as plan literals, no cartesian (q146 shape)") {
    val emb = (0L until 60L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 5 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = formatted(Similarity.semanticContaminationIvf(
      emb.filter(col("vec_id") % 5 =!= 0), emb.filter(col("vec_id") % 5 === 0),
      threshold = 0.5, nlist = 4, nprobe = 2))
    // the candidate join is keyed on the cluster id — never all-pairs
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair space must be pruned by the cluster equi-key:\n$plan")
    assert(plan.contains("cluster"), s"join must key on cluster:\n$plan")
    // argmax is the aggregate form with a map-side partial (struct max
    // plans as SortAggregate), never a window over candidate rows
    assert(plan.contains("partial_max"),
      s"argmax must pre-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"), s"no window over candidate rows:\n$plan")
  }

  test("incremental cluster probe: batch keys broadcast, stored corpus never shuffles (q150 shape)") {
    import graft.dedup.Dedup
    import graft.streaming.ClusterStream
    val dir = tmpDir("plan-cluster")
    val docs = (0L until 40L).map(i =>
      (i, s"w${i % 5} alpha beta gamma delta epsilon token$i"))
      .toDF("doc_id", "text")
    val staged = Dedup.stagedSigs(docs, "doc_id", "text", shingleK = 3, k = 128)
    staged.write.parquet(s"$dir/sigs")
    Dedup.banded(staged, "doc", "sig", 32).select(col("doc"), col("band_key"))
      .write.parquet(s"$dir/bands")
    val batch = Dedup.stagedSigs(
      docs.filter(col("doc_id") < 4), "doc_id", "text", 3, 128)
    val probe = ClusterStream.crossEdges(
      spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sigs"),
      Dedup.banded(batch, "doc", "sig", 32).select(col("doc"), col("band_key")),
      batch, threshold = 0.8, materialize = identity)
    val plan = formatted(probe)
    assert(plan.contains("BroadcastHashJoin"),
      s"batch band keys and candidate ids must come back broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the stored corpus must never shuffle for the probe:\n$plan")
  }

  test("incremental cluster verify fetch: candidate id-buckets land as STATIC PartitionFilters (q150 fat-read prune)") {
    import graft.dedup.Dedup
    import graft.streaming.ClusterStream
    val dir = tmpDir("plan-cluster-prune")
    val docs = (0L until 40L).map(i =>
      (i, s"w${i % 5} alpha beta gamma delta epsilon token$i"))
      .toDF("doc_id", "text")
    val staged = Dedup.stagedSigs(docs, "doc_id", "text", shingleK = 3, k = 128)
    // the partitioned sig layout a manifest-stamped store writes
    staged.withColumn("__bk", pmod(hash(col("doc")), lit(64)))
      .repartition(col("__bk"))
      .write.partitionBy("__bk").parquet(s"$dir/sigs")
    Dedup.banded(staged, "doc", "sig", 32).select(col("doc"), col("band_key"))
      .write.parquet(s"$dir/bands")
    val batch = Dedup.stagedSigs(
      docs.filter(col("doc_id") < 4), "doc_id", "text", 3, 128)
    val probe = ClusterStream.crossEdges(
      spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sigs"),
      Dedup.banded(batch, "doc", "sig", 32).select(col("doc"), col("band_key")),
      batch, threshold = 0.8, materialize = identity, sigBk = 64)
    val plan = formatted(probe)
    // the shingle scan must carry the collected candidate buckets as a
    // static partition filter — non-candidate buckets' (fat) shingle
    // column is never read
    assert("PartitionFilters: \\[[^\\]]*__bk".r.findFirstIn(plan).isDefined,
      s"the sig scan must prune by candidate id-buckets:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the probe shape is unchanged by the prune:\n$plan")
  }

  test("scorer model tables derive from ONE materialized aggregate — corpus pass budgets hold (q115/q97/q103 shape)") {
    import graft.text.TextFunctions.tokens
    // source on disk so every corpus pass is a visible `Scan parquet`
    val dir = tmpDir("plan-scorer")
    (1L to 30L).map(i => (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 7} w${i % 3}",
        i % 2 == 0))
      .toDF("doc_id", "text", "tgt").write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    // simple mode prints the tree once (formatted repeats each node in
    // the details section, double-counting)
    def parquetScans(df: DataFrame): Int =
      "Scan parquet".r.findAllIn(
        df.queryExecution.explainString(ExplainMode.fromString("simple"))).length

    // trigram LM: c123 is checkpointed during construction; c12/c23/
    // c2/c3/N derive from it, so the remaining corpus scans are the
    // scoring join + the vocab pass (was 7 + vocab = 8)
    val tri = graft.curation.LangModel.trigramCrossEntropy(
      docs, col("doc_id"), tokens(col("text")))
    assert(parquetScans(tri) <= 2,
      s"trigram LM must scan the corpus at most twice (score join + vocab):\n${formatted(tri)}")

    // NB classifier: cwc/cls checkpointed; tokc/v/n derive — scoring
    // is the only remaining corpus scan (was 6)
    val nb = graft.curation.Classifier.naiveBayes(
      docs, col("doc_id"), tokens(col("text")),
      when(col("tgt"), lit("a")).otherwise(lit("b")))
    assert(parquetScans(nb) <= 1,
      s"NB must scan the corpus once (the scoring pass):\n${formatted(nb)}")

    // DSIR: one materialized per-bucket aggregate carries raw+target
    // counts and totals — only the scoring pass re-reads the corpus
    val dsir = graft.curation.Dsir.importanceScores(
      docs, col("doc_id"), tokens(col("text")), col("tgt"), numBuckets = 64)
    assert(parquetScans(dsir) <= 1,
      s"DSIR must scan the corpus once (the scoring pass):\n${formatted(dsir)}")
  }

  test("domain filter: keep-list comes back broadcast — the corpus never reshuffles (q133 shape)") {
    import graft.curation.DomainFilter
    val df = (0L until 60L).map(i => (i, s"d${i % 4}", (i % 10) / 10.0))
      .toDF("id", "dom", "score")
    val plan = formatted(
      DomainFilter.domainQualityFilter(df, col("dom"), col("score"), 5L))
    assert(plan.contains("BroadcastHashJoin"),
      s"keep-list join must be broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus side must not shuffle for the keep-list join:\n$plan")
  }
}
