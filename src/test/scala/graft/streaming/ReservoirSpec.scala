package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.curation.Sampling

/** Streaming weighted reservoir: the E-S priority key is mergeable, so
  * the final store must equal the batch weightedSample over everything
  * fed — the streaming-equals-batch identity q135's oracle relies on —
  * and a re-delivered batch must collapse in the id dedup. */
class ReservoirSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = spark.range(500)
    .select($"id".as("doc_id"),
      (($"id" % 7) * 100 + 10).as("w"))

  test("streaming reservoir == batch weightedSample (merge identity)") {
    val work = graft.util.Workspace.temp("reservoir-spec")
    val feed = ScoreStream.feed(corpus, s"$work/landing", files = 5)
    val streamed = Reservoir.streamWeightedSample(spark, feed,
      "doc_id", "w", n = 60, seed = "s", s"$work/store", s"$work/ckpt")
    val batch = Sampling.weightedSample(corpus, $"doc_id", $"w", 60, "s")
    assert(streamed.count() == 60)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // exactly one committed generation dir remains (old ones swept)
    val gens = new java.io.File(s"$work/store").listFiles()
      .filter(_.getName.startsWith("gen=")).map(_.getName).toSeq
    assert(gens.size == 1, s"generations left: $gens")
  }

  test("every job of a reservoir drain carries its span") {
    val work = graft.util.Workspace.temp("reservoir-spans")
    val feed = ScoreStream.feed(corpus, s"$work/landing", files = 3)
    val spans = jobSpans {
      Reservoir.streamWeightedSample(spark, feed,
        "doc_id", "w", n = 20, seed = "s", s"$work/store", s"$work/ckpt")
    }
    assert(spans.exists(_.exists(_.startsWith("drain/trigger"))), spans)
    assert(spans.forall(_.exists(_.startsWith("drain"))), spans)
  }

  test("re-delivered rows collapse; store stays O(n) across many batches") {
    val work = graft.util.Workspace.temp("reservoir-replay")
    // same rows fed TWICE (at-least-once replay): dedup by id must
    // absorb them — the key is a pure function of the id
    val doubled = corpus.union(corpus)
    val feed = ScoreStream.feed(doubled, s"$work/landing", files = 8)
    val streamed = Reservoir.streamWeightedSample(spark, feed,
      "doc_id", "w", n = 40, seed = "s", s"$work/store", s"$work/ckpt")
    val batch = Sampling.weightedSample(corpus, $"doc_id", $"w", 40, "s")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // no duplicate ids inside the reservoir
    assert(streamed.select("doc_id").distinct().count() == 40)
  }

  test("stratified reservoir == batch stratified draw (per-group merge identity)") {
    val work = graft.util.Workspace.temp("reservoir-strata")
    val strat = corpus.withColumn("g", ($"doc_id" % 4).cast("string"))
    val feed = ScoreStream.feed(strat, s"$work/landing", files = 5)
    val streamed = Reservoir.streamWeightedSample(spark, feed,
      "doc_id", "w", n = 20, seed = "s", s"$work/store", s"$work/ckpt",
      strata = Seq("g"))
    val batch = Sampling.stratifiedWeightedSample(strat, Seq("g"),
      $"doc_id", $"w", 20, "s")
    assert(streamed.count() == 80) // 20 per stratum x 4
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a stray next-generation dir (crash before the pointer move) is invisible and overwritten") {
    val work = graft.util.Workspace.temp("reservoir-crash")
    val feed = ScoreStream.feed(corpus.filter($"doc_id" < 250), s"$work/l1", files = 2)
    Reservoir.streamWeightedSample(spark, feed, "doc_id", "w", 25, "s",
      s"$work/store", s"$work/ckpt1")
    val committed = Reservoir.current(spark, s"$work/store").get.collect().toSet
    // simulate a crash AFTER the next gen dir was written but BEFORE the
    // pointer moved: a torn gen=N+1 full of garbage
    val gen = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/store/GEN")).trim.toLong
    spark.range(3).selectExpr("id AS doc_id", "id AS w", "0.0 AS es_key", "id AS rank")
      .write.parquet(s"$work/store/gen=${gen + 1}")
    // readers still see the committed generation only
    assert(Reservoir.current(spark, s"$work/store").get.collect().toSet == committed)
    // the next drain overwrites the torn dir and commits cleanly
    val feed2 = ScoreStream.feed(corpus.filter($"doc_id" >= 250), s"$work/l2", files = 2)
    val fin = Reservoir.streamWeightedSample(spark, feed2, "doc_id", "w", 25, "s",
      s"$work/store", s"$work/ckpt2")
    val batch = Sampling.weightedSample(corpus, $"doc_id", $"w", 25, "s")
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
  }

  test("an id re-carried with a NEW weight dedups deterministically to the max-key row") {
    val work = graft.util.Workspace.temp("reservoir-rekey")
    // doc 0 arrives twice with different weights: the reservoir must
    // keep the max-es_key row (larger weight -> larger key), not an
    // arbitrary dropDuplicates survivor
    val base = spark.range(100).select($"id".as("doc_id"), lit(10L).as("w"))
    val re = spark.range(1).select($"id".as("doc_id"), lit(100000L).as("w"))
    val feed = ScoreStream.feed(base.union(re), s"$work/landing", files = 4)
    val streamed = Reservoir.streamWeightedSample(spark, feed,
      "doc_id", "w", n = 100, seed = "s", s"$work/store", s"$work/ckpt")
    val zero = streamed.filter($"doc_id" === 0).collect()
    assert(zero.length == 1, s"one row for the re-carried id, got ${zero.length}")
    assert(zero.head.getAs[Long]("w") == 100000L,
      "winner must be the max-key (here max-weight) variant, deterministically")
  }

  test("a non-orderable attribute column (map) flows through the dedup") {
    val work = graft.util.Workspace.temp("reservoir-map")
    // a MapType attribute would fail analysis inside max(struct(...));
    // the ordering struct must restrict to orderable columns while the
    // map still rides along on the winning row
    val withMap = corpus.withColumn("attrs",
      map(lit("w2"), $"w" * 2))
    val feed = ScoreStream.feed(withMap, s"$work/landing", files = 3)
    val streamed = Reservoir.streamWeightedSample(spark, feed,
      "doc_id", "w", n = 30, seed = "s", s"$work/store", s"$work/ckpt")
    val batch = Sampling.weightedSample(corpus, $"doc_id", $"w", 30, "s")
    assert(streamed.count() == 30)
    // same winners as the map-free batch draw (the key ignores attrs)
    assert(streamed.select("doc_id").exceptAll(batch.select("doc_id")).isEmpty)
    // and the map column survived with the right content
    assert(streamed.select($"doc_id", element_at($"attrs", "w2").as("w2"), $"w")
      .collect().forall(r => r.getLong(1) == 2 * r.getLong(2)))
  }

  test("current() is None before the first commit; resumes from the pointer") {
    val work = graft.util.Workspace.temp("reservoir-gen")
    assert(Reservoir.current(spark, s"$work/store").isEmpty)
    // two separate drains over two disjoint feeds: the second resumes
    // from the first's committed store and the union equals one batch
    val (a, b) = (corpus.filter($"doc_id" < 250), corpus.filter($"doc_id" >= 250))
    val f1 = ScoreStream.feed(a, s"$work/l1", files = 2)
    Reservoir.streamWeightedSample(spark, f1, "doc_id", "w", 30, "s",
      s"$work/store", s"$work/ckpt1")
    val f2 = ScoreStream.feed(b, s"$work/l2", files = 2)
    val streamed = Reservoir.streamWeightedSample(spark, f2, "doc_id", "w", 30, "s",
      s"$work/store", s"$work/ckpt2")
    val batch = Sampling.weightedSample(corpus, $"doc_id", $"w", 30, "s")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
