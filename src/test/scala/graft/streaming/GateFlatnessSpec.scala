package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** MEASURES the O(batch)-per-batch claim of the streaming corpus gates
  * instead of arguing it from plan shape: feed k equal-size batches
  * into a growing corpus and assert the Spark input bytes each batch
  * reads stay ~flat while the corpus grows by an order of magnitude.
  *
  * The r4/r5 scale-killer this pins against regression: a per-batch
  * re-scan of the corpus digest/signature columns makes batch cost
  * LINEAR in corpus size (the final-corpus full-scan cost is measured
  * alongside as the contrast). The index-routed gates read only the
  * buckets the batch's candidates hash to, so per-batch I/O tracks the
  * batch — plus a slowly-growing per-bucket term the in-loop compaction
  * bounds. If someone reintroduces a corpus scan in the gate, the
  * late-batch byte counts jump to the full-scan curve and the factor
  * asserts here fail.
  *
  * Byte counts, not wall time: task input metrics are stable under
  * machine load; the curves land in docs/PERF.md as the committed
  * flatness note.
  */
class GateFlatnessSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` and return the Spark task input bytes it read (listener
    * bus is async — polls until the counter goes quiet). */
  private def inputBytes(body: => Unit): Long = {
    val bytes = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) bytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var last = -1L
      var quiet = 0
      val deadline = System.currentTimeMillis() + 15000
      while (quiet < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        val cur = bytes.get()
        if (cur == last) quiet += 1 else { quiet = 0; last = cur }
      }
      bytes.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Mean of a slice, as Double. */
  private def mean(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size

  test("exact gate: per-batch input bytes stay ~flat while the corpus grows 24x") {
    val corpus = tmpDir("flat-exact")
    val k = 24
    val newPerBatch = 20
    val dupsPerBatch = 5
    val perBatch = (0 until k).map { b =>
      // fixed shape per batch: `newPerBatch` fresh docs + `dupsPerBatch`
      // dups of batch-0 content (the bloom-hit path that routes through
      // the digest-index probe — the part whose I/O could scale with
      // the corpus)
      val fresh = (0 until newPerBatch).map(i =>
        (b * 100L + i, s"flat exact doc $b-$i payload"))
      val dups = (0 until dupsPerBatch).map(i =>
        (b * 100L + 50L + i, s"flat exact doc 0-$i payload"))
      val batch = (fresh ++ dups).toDF("doc_id", "text")
      inputBytes {
        val n = CorpusBuilder.appendNew(spark, batch, corpus, "doc_id", "text")
        assert(n == (if (b == 0) newPerBatch else newPerBatch).toLong)
        if (b % 8 == 7) CorpusBuilder.compactStores(spark, corpus, minFiles = 4)
      }
    }
    // context, not contrast: the old path's per-batch cost was a full
    // scan of the stored digest column — ∝ corpus size. At toy scale
    // that absolute number is SMALLER than the index bookkeeping (the
    // r6 verdict's adjudicated trade); the property pinned here is the
    // SLOPE — the gate's curve must not track corpus growth.
    val fullScan = inputBytes {
      spark.read.option("mergeSchema", "true").parquet(s"$corpus/docs")
        .select(CorpusBuilder.DigestCol).agg(count(lit(1))).head
    }
    info(s"exact gate per-batch input bytes: ${perBatch.mkString(", ")}")
    info(s"final-corpus full digest scan (the old path's cost, ∝ N): $fullScan")
    // batches 2..7 are the small-corpus baseline (0/1 warm caches and
    // create stores); the last quarter runs against a 3-4x larger corpus
    val early = mean(perBatch.slice(2, 8))
    val late = mean(perBatch.takeRight(6))
    assert(late <= early * 3.0,
      s"late batches must not pay for corpus growth: early=$early late=$late " +
        s"curve=${perBatch.mkString(",")}")
    assert(spark.read.parquet(s"$corpus/docs").count() == (k * newPerBatch).toLong)
  }

  test("near-dup gate: per-batch input bytes stay ~flat while the corpus grows 16x") {
    // the bucket knob is what makes the probe sub-linear: a batch's
    // sigs touch ≤ batchRows × bands band keys, so with
    // indexBuckets ≫ that the PartitionFilters-pruned probe reads a
    // small fixed fraction of the index. (With buckets ≲ touched — the
    // misconfigured regime — every batch reads the WHOLE index and the
    // curve grows linearly within each compaction era.)
    val nd = CorpusBuilder.NearDup(shingleK = 3, k = 32, bands = 4,
      minAgree = 0.9, indexBuckets = 256)
    val corpus = tmpDir("flat-nd")
    val k = 16
    val newPerBatch = 4
    def doc(b: Int, i: Int) =
      (1 to 30).map(j => s"fl${b}x${i}w$j").mkString(" ")
    val perBatch = (0 until k).map { b =>
      val fresh = (0 until newPerBatch).map(i => (b * 100L + i, doc(b, i)))
      // two probes of stored content per batch: one exact dup (digest
      // path) + one near-dup of batch-0 (band-index path)
      val dup = Seq((b * 100L + 50L, doc(0, 0)),
        (b * 100L + 51L, doc(0, 1).replace("fl0x1w30", "tail")))
      val batch = (fresh ++ dup).toDF("doc_id", "text")
      inputBytes {
        val n = CorpusBuilder.appendNearDupNew(spark, batch, corpus,
          "doc_id", "text", nd)
        assert(n == (if (b == 0) (newPerBatch + 1) else newPerBatch).toLong,
          s"batch $b: dups must drop, fresh must land")
        if (b % 8 == 7) CorpusBuilder.compactStores(spark, corpus, minFiles = 4)
      }
    }
    val fullScan = inputBytes {
      spark.read.option("mergeSchema", "true").parquet(s"$corpus/docs")
        .select(CorpusBuilder.DigestCol, CorpusBuilder.SigCol)
        .agg(count(lit(1))).head
    }
    info(s"near-dup gate per-batch input bytes: ${perBatch.mkString(", ")}")
    info(s"final-corpus full digest+sig scan (the old path's cost, ∝ N): $fullScan")
    val early = mean(perBatch.slice(2, 8))
    val late = mean(perBatch.takeRight(4))
    assert(late <= early * 3.0,
      s"late batches must not pay for corpus growth: early=$early late=$late " +
        s"curve=${perBatch.mkString(",")}")
    assert(spark.read.parquet(s"$corpus/docs").count() ==
      (k * newPerBatch + 1).toLong)
  }

  test("cluster fold: compaction's partitioned sig bulk cuts the verify fetch's bytes (LSM prune, measured)") {
    import graft.streaming.ClusterStream
    val work = tmpDir("flat-cluster-prune")
    val rnd = new scala.util.Random(7)
    // LONG docs + few bands: the shingle column must dominate the
    // fold's bytes for the prune to show (short docs would let the
    // narrow band table swamp the measurement)
    def longDoc(tag: String) =
      (0 until 900).map(i => s"$tag${rnd.nextInt(50000)}x$i").mkString(" ")
    val seed = longDoc("seed")
    def fold1(df: org.apache.spark.sql.DataFrame, b: Long) =
      ClusterStream.fold(spark, s"$work/store", df, "doc_id", "text",
        3, 0.8, 128, bands = 8, ClusterStream.DefaultBuckets, batchId = b)
    // two corpus batches: unique long docs + the seed, read back from
    // parquet — a local relation of ~1.6 MB would ride in every task
    def landed(rows: Seq[(Long, String)], name: String) = {
      rows.toDF("doc_id", "text").write.parquet(s"$work/$name")
      spark.read.parquet(s"$work/$name")
    }
    fold1(landed((0L until 150L).map(i => (i, longDoc(s"a$i"))) :+ (900L, seed), "in0"), 0)
    fold1(landed((150L until 300L).map(i => (i, longDoc(s"b$i"))), "in1"), 1)
    // the probe batch: one twin of the seed, staged exactly as a fold
    // stages it
    val batchSigs = graft.dedup.Dedup.stagedSigs(
      Seq((901L, seed)).toDF("doc_id", "text"), "doc_id", "text", 3, 128)
      .persist()
    batchSigs.count()
    val bandB = graft.dedup.Dedup.banded(batchSigs, "doc", "sig", 8)
      .select(col("doc"), col("band_key")).persist()
    bandB.count()
    def fetchBytes(bands: org.apache.spark.sql.DataFrame,
        sigs: org.apache.spark.sql.DataFrame, sigBk: Int,
        bandBk: Int): Long = {
      var edges = 0L
      val bytes = inputBytes {
        edges = ClusterStream.crossEdges(
          bands, sigs, bandB, batchSigs, threshold = 0.8,
          sigBk = sigBk, bandBk = bandBk).count()
      }
      assert(edges == 1L, s"the twin must verify against the seed: $edges")
      bytes
    }
    // the same probe, against the same corpus, through the same plan:
    // flat store (full shingle + band scan) vs compacted partitioned
    // bulk (candidate-bucket and band-key-bucket PartitionFilters)
    val before = fetchBytes(
      spark.read.parquet(s"$work/store/bands/batch=0",
        s"$work/store/bands/batch=1"),
      spark.read.parquet(
        s"$work/store/sigs/batch=0", s"$work/store/sigs/batch=1"), 0, 0)
    assert(ClusterStream.compactStores(spark, s"$work/store", minDirs = 2)
      .nonEmpty)
    import scala.jdk.CollectionConverters._
    def compactDir(area: String) = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$work/store/$area")).iterator.asScala
      .map(_.getFileName.toString).find(_.startsWith("compact-")).get
    val compactBands = spark.read.parquet(s"$work/store/bands/${compactDir("bands")}")
    val compactSigs = spark.read.parquet(s"$work/store/sigs/${compactDir("sigs")}")
    // sig prune only: the band side still reads the whole partitioned
    // band bulk — the contrast isolating what the band prune buys
    val sigPruned = fetchBytes(compactBands, compactSigs,
      ClusterStream.SigBuckets, 0)
    val after = fetchBytes(compactBands, compactSigs,
      ClusterStream.SigBuckets, ClusterStream.BandBuckets)
    info(s"verify-fetch bytes: flat=$before sigPruned=$sigPruned " +
      s"fullyPruned=$after")
    // 0.7, not 0.5: at toy scale the pruned band read's ~9 partition
    // FOOTERS outweigh the band data it skips (at production scale the
    // data term dominates and the prune only wins more); the shingle
    // prune still carries the gate
    assert(after.toDouble < before.toDouble * 0.7,
      s"the compacted store's fetch must read far less: $before -> $after")
    // the batch's 8 band keys hit ≤ 9 of the 64 band-key buckets, so
    // the band-side bytes must at least halve against the unpruned
    // partitioned bulk
    assert(after.toDouble < sigPruned.toDouble * 0.5,
      s"the band prune must cut the band-side read: $sigPruned -> $after")
    batchSigs.unpersist(); bandB.unpersist()
  }

  test("cluster fold: the label probe+fetch reads track the touched component, not the label store (comp index, measured)") {
    import graft.streaming.ClusterStream
    val work = tmpDir("flat-cluster-labels")
    val store = s"$work/store"
    val fam = "alpha beta gamma delta epsilon zeta eta theta"
    def fold1(df: org.apache.spark.sql.DataFrame, b: Long) =
      ClusterStream.fold(spark, store, df, "doc_id", "text",
        3, 0.8, 128, 32, ClusterStream.DefaultBuckets, batchId = b)
    // batch 0: the seed family; then disjoint twin-pair fillers grow
    // the LABEL store (every pair is a 2-member comp) while the seed
    // component stays 2 rows
    fold1(Seq((9000L, fam), (9001L, fam)).toDF("doc_id", "text"), 0)
    def filler(b: Long) = {
      val t = (1 to 8).map(j => s"fill${b}tok$j").mkString(" ")
      Seq((b * 2, t), (b * 2 + 1, t)).toDF("doc_id", "text")
    }
    (1L to 3L).foreach(b => fold1(filler(b), b))
    val longType = org.apache.spark.sql.types.LongType
    // the fold's label-side reads, ISOLATED (the r12 measurement
    // lesson): probe the seed family's roots, then fetch its members —
    // through the index (pruned to the comp's buckets) and through the
    // erased-index shape (bks unknown -> every bucket, the pre-index
    // plan this spec pins against regression)
    def labelBytes(): (Long, Long, Long) = {
      val m = ClusterStream.readManifest(store).get
      val endpoints: Set[Any] = Set(9000L, 9001L, 9002L)
      val probe = inputBytes {
        ClusterStream.probeRoots(spark, store, m, endpoints, longType)
      }
      val ri = ClusterStream.probeRoots(spark, store, m, endpoints, longType)
      assert(ri.keySet == Set(9000L), s"the seed family's root: $ri")
      assert(ri(9000L)._1.contains(2L), s"exact member count off the index: $ri")
      val pruned = inputBytes {
        val got = ClusterStream.fetchMembers(spark, store, m, ri, longType)
        assert(got.map(_._1).toSet == Set(9000L, 9001L))
      }
      val unpruned = inputBytes {
        ClusterStream.fetchMembers(spark, store, m,
          ri.map { case (k, (c, _)) => k -> (c, None: Option[Set[Int]]) },
          longType)
      }
      (probe, pruned, unpruned)
    }
    val (p0, f0, a0) = labelBytes()
    val rows0 = ClusterStream.readManifest(store).get.rows
    (4L to 40L).foreach(b => fold1(filler(b), b))
    val (p1, f1, a1) = labelBytes()
    val rows1 = ClusterStream.readManifest(store).get.rows
    info(s"label store $rows0 -> $rows1 rows; probe $p0 -> $p1, " +
      s"pruned fetch $f0 -> $f1, unpruned fetch $a0 -> $a1")
    assert(rows1 >= rows0 * 10, s"the store must grow 10x: $rows0 -> $rows1")
    // the indexed reads stay flat while the store grows 10x...
    assert(p1 <= p0 * 2 && f1 <= f0 * 2,
      s"probe/fetch must not pay for label-store growth: " +
        s"probe $p0 -> $p1, fetch $f0 -> $f1")
    // ...and the index's bucket prune is what buys it: the erased-index
    // fetch reads every live bucket and tracks the store
    assert(f1.toDouble < a1.toDouble * 0.5,
      s"the pruned fetch must read far less than the all-bucket scan: " +
        s"$f1 vs $a1")
  }
}
