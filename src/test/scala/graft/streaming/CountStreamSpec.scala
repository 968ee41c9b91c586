package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The mergeable count-table accumulator: streaming-equals-batch for
  * count-shaped sufficient statistics, replay skip, and the weighted
  * quantile read-out identity (q140/q141's adjudication basis). */
class CountStreamSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = spark.range(600)
    .select($"id".as("doc_id"), ($"id" % 3).cast("string").as("g"),
      ($"id" % 17 + 10).as("x"))

  test("accumulated counts == batch aggregation (merge identity)") {
    val work = graft.util.Workspace.temp("countstream-spec")
    val feed = ScoreStream.feed(corpus, s"$work/landing", files = 5)
    val got = CountStream.accumulate(spark, feed, s"$work/store",
      s"$work/ckpt", Seq("g", "x"), "c") { b =>
      b.groupBy($"g", $"x").agg(count(lit(1)).as("c"))
    }
    val batch = corpus.groupBy($"g", $"x").agg(count(lit(1)).as("c"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    // one committed generation; pointer records the last batch id
    assert(CountStream.lastBatch(s"$work/store").exists(_ >= 4))
  }

  test("every job of a count drain carries its span, on both disciplines") {
    val work = graft.util.Workspace.temp("countstream-spans")
    val feed = ScoreStream.feed(corpus, s"$work/landing", files = 3)
    def table(b: org.apache.spark.sql.DataFrame) = b.groupBy($"g").agg(count(lit(1)).as("c"))
    val gen = jobSpans {
      CountStream.accumulate(spark, feed, s"$work/store", s"$work/ckpt", Seq("g"), "c")(table)
    }
    val deltas = jobSpans {
      CountStream.accumulateDeltas(spark, feed, s"$work/deltas", s"$work/ckptD",
        compactEvery = 2)(table)(_.groupBy($"g").agg(sum($"c").as("c")))
    }
    Seq(gen, deltas).foreach { spans =>
      assert(spans.exists(_.exists(_.startsWith("drain/trigger"))), spans)
      assert(spans.forall(_.exists(_.startsWith("drain"))), spans)
    }
  }

  test("parquetRowCount reads the written footers: matches count(), 0 on empty/missing") {
    val work = graft.util.Workspace.temp("countstream-footer")
    val dir = java.nio.file.Paths.get(s"$work/t")
    corpus.repartition(3).write.parquet(dir.toString)
    assert(StoreManifest.parquetRowCount(dir) ==
      spark.read.parquet(dir.toString).count())
    val empty = java.nio.file.Paths.get(s"$work/empty")
    corpus.limit(0).write.parquet(empty.toString)
    assert(StoreManifest.parquetRowCount(empty) == 0L)
    assert(StoreManifest.parquetRowCount(
      java.nio.file.Paths.get(s"$work/missing")) == 0L)
  }

  test("parquetRowCount routes through the path's Hadoop FileSystem, not java.nio") {
    val work = graft.util.Workspace.temp("countstream-hadoopfs")
    corpus.repartition(2).write.parquet(s"$work/t")
    val expected = spark.read.parquet(s"$work/t").count()
    // a scheme-qualified URI served by RawLocalFileSystem: resolvable
    // ONLY through the Hadoop FileSystem API (java.nio would need the
    // scheme stripped), with checksum files absent — the DFS shape
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.setClass("fs.file.impl",
      classOf[org.apache.hadoop.fs.RawLocalFileSystem],
      classOf[org.apache.hadoop.fs.FileSystem])
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val p = new org.apache.hadoop.fs.Path(s"file://$work/t")
    assert(p.getFileSystem(conf).isInstanceOf[
      org.apache.hadoop.fs.RawLocalFileSystem])
    assert(StoreManifest.parquetRowCount(p, conf) == expected)
    assert(StoreManifest.parquetRowCount(
      new org.apache.hadoop.fs.Path(s"file://$work/missing"), conf) == 0L)
    // an unconfigured scheme fails loudly instead of counting 0
    intercept[Exception] {
      StoreManifest.parquetRowCount(
        new org.apache.hadoop.fs.Path("nosuchfs://bucket/t"), conf)
    }
  }

  test("a re-delivered batch id is skipped, not double-counted") {
    val work = graft.util.Workspace.temp("countstream-replay")
    val feed = ScoreStream.feed(corpus, s"$work/landing", files = 3)
    CountStream.accumulate(spark, feed, s"$work/store", s"$work/ckpt",
      Seq("g"), "c")(b => b.groupBy($"g").agg(count(lit(1)).as("c")))
    val batch = corpus.groupBy($"g").agg(count(lit(1)).as("c"))
    val last = CountStream.lastBatch(s"$work/store").get
    // crash-window re-delivery: merging the SAME batch id again must be
    // a no-op (the pointer guard), while the NEXT id still merges
    CountStream.mergeBatch(spark, s"$work/store", Seq("g"), "c",
      corpus.groupBy($"g").agg(count(lit(1)).as("c")), last)
    val afterReplay = CountStream.current(spark, s"$work/store").get
    assert(afterReplay.exceptAll(batch).isEmpty && batch.exceptAll(afterReplay).isEmpty,
      "counts unchanged after the replayed batch id")
    // a second drain with the same checkpoint and NO new files is empty
    val feed2 = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/landing")
    val got = CountStream.accumulate(spark, feed2, s"$work/store",
      s"$work/ckpt", Seq("g"), "c")(b => b.groupBy($"g").agg(count(lit(1)).as("c")))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "no-new-files drain leaves counts unchanged")
  }

  test("an over-cardinality key trips the guard; the store stays at its last good generation") {
    val work = graft.util.Workspace.temp("countstream-guard")
    // first drain: a bounded key (g) under a tight ceiling — fine
    val feed = ScoreStream.feed(corpus, s"$work/landing", files = 2)
    CountStream.accumulate(spark, feed, s"$work/store", s"$work/ckpt",
      Seq("g"), "c", maxKeys = 10)(b => b.groupBy($"g").agg(count(lit(1)).as("c")))
    val good = CountStream.current(spark, s"$work/store").get.collect().toSet
    val goodBatch = CountStream.lastBatch(s"$work/store").get
    // an unbounded key (raw doc_id) must fail loudly on the merge...
    val e = intercept[Exception] {
      CountStream.mergeBatch(spark, s"$work/store", Seq("g"), "c",
        corpus.select($"doc_id".cast("string").as("g"))
          .groupBy($"g").agg(count(lit(1)).as("c")),
        goodBatch + 1, maxKeys = 10)
    }
    assert(e.getMessage.contains("maxKeys"), e.getMessage)
    // ...and the committed store is untouched (pointer never moved)
    assert(CountStream.current(spark, s"$work/store").get.collect().toSet == good)
    assert(CountStream.lastBatch(s"$work/store").contains(goodBatch))
  }

  test("delta store: accumulated == batch aggregation; per-batch written bytes track the BATCH, not the store") {
    val work = graft.util.Workspace.temp("countstream-deltas")
    def combine(u: org.apache.spark.sql.DataFrame) =
      u.groupBy($"k").agg(sum($"c").as("c"))
    def deltaDirBytes(b: Long): Long = {
      val d = java.nio.file.Paths.get(s"$work/store/delta/batch=$b")
      if (!java.nio.file.Files.exists(d)) -1L
      else {
        val walk = java.nio.file.Files.walk(d)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator.asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
        } finally walk.close()
      }
    }
    // 10 equal-size batches of DISJOINT keys: the store grows 10x while
    // each batch stays the same size — the flatness contrast the old
    // full-re-merge discipline fails (its per-batch write ∝ store)
    val n = 2000
    (0L until 10L).foreach { b =>
      val t = spark.range(n).select(($"id" + b * n).cast("string").as("k"),
        lit(1L).as("c"))
      CountStream.foldDelta(spark, s"$work/store", t, b,
        compactEvery = 100)(combine)
    }
    val sizes = (0L until 10L).map(deltaDirBytes)
    assert(sizes.forall(_ > 0), s"every batch owns a delta dir: $sizes")
    assert(sizes.max.toDouble / sizes.min < 2.0,
      s"per-batch delta bytes must stay flat while the store grows 10x: $sizes")
    val got = CountStream.currentDeltas(spark, s"$work/store")(combine).get
    assert(got.count() == 10L * n && CountStream.lastDeltaBatch(s"$work/store").contains(9L))
    // replayed batch id: a no-op (even with different data)
    CountStream.foldDelta(spark, s"$work/store",
      spark.range(5).select($"id".cast("string").as("k"), lit(99L).as("c")),
      9L, compactEvery = 100)(combine)
    assert(CountStream.currentDeltas(spark, s"$work/store")(combine).get.count() == 10L * n)
  }

  test("delta store compaction bin-packs dirs; compaction boundaries are invisible to the merge") {
    val work = graft.util.Workspace.temp("countstream-delta-compact")
    def combine(u: org.apache.spark.sql.DataFrame) =
      u.groupBy($"k").agg(sum($"c").as("c"))
    // overlapping keys across batches so compaction actually merges
    (0L until 9L).foreach { b =>
      val t = spark.range(50).select(($"id" % 60 + b).cast("string").as("k"),
        lit(1L).as("c")).groupBy($"k").agg(sum($"c").as("c"))
      CountStream.foldDelta(spark, s"$work/store", t, b,
        compactEvery = 4)(combine)
    }
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$work/store/delta")).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(dirs.size <= 4, s"compaction must bound the dir count, got $dirs")
    assert(dirs.exists(_.startsWith("compact-")), s"expected a compacted dir in $dirs")
    // the merged read-out equals the one-shot batch aggregation
    val batch = (0L until 9L).map(b => spark.range(50)
        .select(($"id" % 60 + b).cast("string").as("k"), lit(1L).as("c")))
      .reduce(_ unionByName _).groupBy($"k").agg(sum($"c").as("c"))
    val got = CountStream.currentDeltas(spark, s"$work/store")(combine).get
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("a multi-shard generation reads back merged-correct (size-based sharding end-to-end)") {
    val work = graft.util.Workspace.temp("countstream-shards")
    def table(ids: Range) = ids.toDF("k").select($"k".cast("string").as("k"),
      lit(1L).as("c"))
    // first merge commits gen=0 (~KBs); shardBytes=2000 makes gen=1
    // write ceil(committedBytes/2000) > 1 shard files
    CountStream.mergeBatchWith(spark, s"$work/store", table(0 until 3000),
      batchId = 0, maxKeys = Long.MaxValue)(
      (cur, t) => cur.unionByName(t).groupBy($"k").agg(sum($"c").as("c")))
    CountStream.mergeBatchWith(spark, s"$work/store", table(3000 until 3500),
      batchId = 1, maxKeys = Long.MaxValue, shardBytes = 2000)(
      (cur, t) => cur.unionByName(t).groupBy($"k").agg(sum($"c").as("c")))
    import scala.jdk.CollectionConverters._
    val gen1 = java.nio.file.Paths.get(s"$work/store/gen=1")
    assert(java.nio.file.Files.exists(gen1), "pointer must have swapped to gen=1")
    val parts = java.nio.file.Files.list(gen1).iterator.asScala
      .count(p => p.getFileName.toString.startsWith("part-"))
    assert(parts > 1, s"expected a multi-shard generation, got $parts part files")
    val got = CountStream.current(spark, s"$work/store").get
    assert(got.count() == 3500 &&
      got.agg(sum($"c")).head.getLong(0) == 3500L)
    assert(CountStream.lastBatch(s"$work/store").contains(1L),
      "the pointer swap stays atomic across shards")
  }

  test("two first drains binding one fresh store at once: exactly one binds, the other fails on the lineage") {
    val work = graft.util.Workspace.temp("lineage-race")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (0 until 200).foreach { i =>
      val out = race(pool, 2)(t => Lineage.bind(s"$work/store-$i", s"$work/ckpt$t", "count store"))
      assert(out.count(_.isSuccess) == 1, s"store-$i: $out")
      out.filter(_.isFailure).foreach(f => assert(
        f.failed.get.getMessage.contains("bound to checkpoint lineage"), s"store-$i: $f"))
    } finally pool.shutdown()
  }

  test("a second checkpoint lineage fails loudly on BOTH disciplines; the original resumes") {
    val work = graft.util.Workspace.temp("countstream-lineage")
    def agg(b: org.apache.spark.sql.DataFrame) =
      b.groupBy($"g").agg(count(lit(1)).as("c"))
    def combine(u: org.apache.spark.sql.DataFrame) =
      u.groupBy($"g").agg(sum($"c").as("c"))
    val batch = agg(corpus)
    // generation discipline: a second lineage's restarted batch ids
    // fall below the GEN pointer and its merges would silently vanish
    val feed = ScoreStream.feed(corpus, s"$work/landing", files = 2)
    CountStream.accumulate(spark, feed, s"$work/store", s"$work/ckptA",
      Seq("g"), "c")(agg)
    val feedB = ScoreStream.feed(corpus, s"$work/landingB", files = 1)
    val e1 = intercept[IllegalArgumentException] {
      CountStream.accumulate(spark, feedB, s"$work/store", s"$work/ckptB",
        Seq("g"), "c")(agg)
    }
    assert(e1.getMessage.contains("bound to checkpoint lineage"), e1.getMessage)
    // the original lineage resumes fine (no new files -> unchanged)
    val feedA2 = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/landing")
    val got = CountStream.accumulate(spark, feedA2, s"$work/store",
      s"$work/ckptA", Seq("g"), "c")(agg)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    // delta discipline: same contract on the DELTAS pointer
    val feedD = ScoreStream.feed(corpus, s"$work/landingD", files = 2)
    CountStream.accumulateDeltas(spark, feedD, s"$work/deltas",
      s"$work/ckptD")(b => agg(b).withColumnRenamed("c", "c"))(combine)
    val feedD2 = ScoreStream.feed(corpus, s"$work/landingD2", files = 1)
    val e2 = intercept[IllegalArgumentException] {
      CountStream.accumulateDeltas(spark, feedD2, s"$work/deltas",
        s"$work/ckptD2")(agg)(combine)
    }
    assert(e2.getMessage.contains("bound to checkpoint lineage"), e2.getMessage)
    val gotD = CountStream.currentDeltas(spark, s"$work/deltas")(combine).get
    assert(gotD.exceptAll(batch).isEmpty && batch.exceptAll(gotD).isEmpty)
  }

  test("discipline mismatch fails loudly: a GEN store refuses delta folds and vice versa") {
    val work = graft.util.Workspace.temp("countstream-layout")
    def combine(u: org.apache.spark.sql.DataFrame) =
      u.groupBy($"k").agg(sum($"c").as("c"))
    val t = spark.range(5).select($"id".cast("string").as("k"), lit(1L).as("c"))
    // a generation store (the pre-r12 corpus-diff layout)...
    CountStream.mergeBatchWith(spark, s"$work/gen", t, batchId = 0,
      maxKeys = Long.MaxValue)((cur, x) => combine(cur.unionByName(x)))
    // ...fed through the delta discipline must fail with the migration
    // message instead of reading the accumulated state as empty (which,
    // for the corpus diff, would report every fed digest as removed)
    val e1 = intercept[IllegalArgumentException] {
      CountStream.foldDelta(spark, s"$work/gen", t, 0, compactEvery = 4)(combine)
    }
    assert(e1.getMessage.contains("GENERATION layout"), e1.getMessage)
    // the mirror: a delta store refuses generation merges
    CountStream.foldDelta(spark, s"$work/delta", t, 0, compactEvery = 4)(combine)
    val e2 = intercept[IllegalArgumentException] {
      CountStream.mergeBatchWith(spark, s"$work/delta", t, batchId = 1,
        maxKeys = Long.MaxValue)((cur, x) => combine(cur.unionByName(x)))
    }
    assert(e2.getMessage.contains("DELTA layout"), e2.getMessage)
    // both stores remain readable on their own discipline
    assert(CountStream.current(spark, s"$work/gen").get.count() == 5L)
    assert(CountStream.currentDeltas(spark, s"$work/delta")(combine).get.count() == 5L)
  }

  test("weightedQuantiles over the count table == row-level quantiles") {
    import graft.curation.HistQuantiles
    val counts = corpus.groupBy($"g", $"x").agg(count(lit(1)).as("c"))
    val weighted = HistQuantiles.weightedQuantiles(counts, $"g", $"x", $"c",
      bins = 16)
    val rows = HistQuantiles.quantiles(corpus, $"g", $"x", bins = 16)
    assert(weighted.exceptAll(rows).isEmpty && rows.exceptAll(weighted).isEmpty)
  }
}
