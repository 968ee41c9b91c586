package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusBuilderSpec extends SparkSpec {
  import spark.implicits._

  private def corpusDocs(dir: String) = spark.read.parquet(s"$dir/docs")

  test("appendNew: within-batch dedup, cross-batch content dedup, digest column") {
    val corpus = tmpDir("corpus-batch")
    val b1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("doc_id", "text")
    // replayed + partially-new batch: only the genuinely new content lands
    val b2 = Seq((4L, "beta"), (5L, "gamma"), (6L, "gamma")).toDF("doc_id", "text")
    val spans = jobSpans {
      Seq(b1 -> 2L, b2 -> 1L).zipWithIndex.foreach { case ((b, n), i) =>
        graft.util.Span(s"b$i")(assert(
          CorpusBuilder.appendNew(spark, b, corpus, "doc_id", "text") == n))
      }
    }
    // every job runs inside its batch's corpus span; every commit job
    // carries the path of the step it ran in, and every step ran one
    assert(spans.forall(_.exists(p => p.startsWith("b0/corpus") || p.startsWith("b1/corpus"))),
      spans)
    val steps = for (i <- 0 to 1; step <- Seq("digest-index", "docs"))
      yield s"b$i/corpus/commit/$step"
    assert(spans.flatten.filter(_.contains("/commit")).toSet == steps.toSet, spans)
    val docs = corpusDocs(corpus)
    assert(docs.count() == 3L)
    assert(docs.select("text").as[String].collect().sorted.toSeq ==
      Seq("alpha", "beta", "gamma"))
    // within-batch winner is the lowest id
    assert(docs.filter(col("text") === "alpha").select("doc_id").as[Long].head() == 1L)
    // the digest column is the verify's source of truth and must match
    assert(docs.filter(col(CorpusBuilder.DigestCol) =!= md5(col("text"))).count() == 0L)
  }

  test("a stored-corpus trigger takes its counts and probe buckets from its own materializations") {
    val nd = CorpusBuilder.NearDup()
    def doc(i: Int, edit: String = "") =
      ((1 to 59).map(j => s"d${i}_w$j") :+ (if (edit.nonEmpty) edit else s"d${i}_w60"))
        .mkString(" ")
    val (exact, near) = (tmpDir("jobs-exact"), tmpDir("jobs-near"))
    for (b <- 0 until 2) {
      val rows = (0 until 10).map(i => (b * 10L + i, doc(b * 10 + i))).toDF("doc_id", "text")
      assert(CorpusBuilder.appendNew(spark, rows, exact, "doc_id", "text") == 10L)
      assert(CorpusBuilder.appendNearDupNew(spark, rows, near, "doc_id", "text", nd) == 10L)
    }
    // 8 new docs, an exact duplicate of stored doc 3 under a new id and
    // (near-dup gate) a near duplicate of stored doc 12
    val fresh = (0 until 8).map(i => (100L + i, doc(100 + i)))
    val exactDup = 200L -> doc(3)
    val nearDup = 201L -> doc(12, edit = "changed")
    val exactSpans = jobSpans(assert(CorpusBuilder.appendNew(spark,
      (fresh :+ exactDup).toDF("doc_id", "text"), exact, "doc_id", "text") == 8L))
    val nearSpans = jobSpans(assert(CorpusBuilder.appendNearDupNew(spark,
      (fresh :+ exactDup :+ nearDup).toDF("doc_id", "text"), near, "doc_id", "text", nd) == 8L))
    Seq(exact, near).foreach(c => assert(corpusDocs(c).filter(col("doc_id") >= 200L).isEmpty))
    def jobs(spans: Seq[Option[String]], path: String) = spans.count(_.contains(path))
    info(s"exact: ${exactSpans.size} jobs, corpus/stage ${jobs(exactSpans, "corpus/stage")}; " +
      s"near-dup: ${nearSpans.size} jobs, corpus/gate ${jobs(nearSpans, "corpus/gate")}, " +
      s"corpus/stage ${jobs(nearSpans, "corpus/stage")}")
    // no job outside a step: the survivors' count is observed, not a count()
    Seq(exactSpans, nearSpans).foreach(spans => assert(jobs(spans, "corpus") == 0, spans))
    // the probe preludes, the same-id isEmpty and the count are gone
    // (before: exact 20 jobs, 14 in corpus/stage; near-dup 31, 22 in
    // corpus/gate), and so are the corpus-wide filter's two commit jobs
    // (before: exact 13, near-dup 19)
    assert(exactSpans.size == 11 && jobs(exactSpans, "corpus/stage") == 9, exactSpans)
    assert(nearSpans.size == 17 && jobs(nearSpans, "corpus/gate") == 12, nearSpans)
  }

  test("appendNearDupNew: near-dup gate within batch and vs corpus; short docs by content") {
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val nearBase = base.replace("tok100", "changed") // J ≈ 0.94 on 3-shingles
    val unrelated = (1 to 100).map(i => s"other$i").mkString(" ")
    val nd = CorpusBuilder.NearDup()
    val corpus = tmpDir("neardup-corpus")
    val b1 = Seq((1L, base), (2L, nearBase), (3L, unrelated), (4L, "tiny doc"))
      .toDF("doc_id", "text")
    // 2 drops within-batch (near-dup of 1); 1, 3 and the short doc land
    assert(CorpusBuilder.appendNearDupNew(spark, b1, corpus, "doc_id", "text", nd) == 3L)
    val b2 = Seq(
      (10L, base.replace("tok1", "x1")), // near-dup of corpus doc 1 → drop
      (11L, base),                       // exact replay of corpus content → drop
      (12L, "tiny doc"),                 // short: exact-content drop
      (13L, "fresh " + (1 to 50).map(i => s"z$i").mkString(" "))) // genuinely new
      .toDF("doc_id", "text")
    assert(CorpusBuilder.appendNearDupNew(spark, b2, corpus, "doc_id", "text", nd) == 1L)
    val docs = spark.read.parquet(s"$corpus/docs")
    assert(docs.count() == 4L)
    assert(docs.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L, 13L))
    // full replay of both batches: self-matches drop everything
    assert(CorpusBuilder.appendNearDupNew(spark, b1, corpus, "doc_id", "text", nd) == 0L)
    assert(CorpusBuilder.appendNearDupNew(spark, b2, corpus, "doc_id", "text", nd) == 0L)
  }

  test("near-dup gate maintains a persisted band index; loss and param changes rebuild it") {
    import graft.dedup.BandIndex
    val nd = CorpusBuilder.NearDup()
    val corpus = tmpDir("band-index-corpus")
    val base = (1 to 100).map(i => s"w$i").mkString(" ")
    val other = (1 to 100).map(i => s"v$i").mkString(" ")
    val b1 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    assert(CorpusBuilder.appendNearDupNew(spark, b1, corpus, "doc_id", "text", nd) == 2L)
    val spec = BandIndex.Spec(nd.bands, nd.indexBuckets)
    assert(BandIndex.readMeta(spark, corpus).contains(spec),
      "a near-dup commit must declare the band index")
    assert(BandIndex.layoutExists(spark, corpus, spec))
    // near-dup of corpus doc 1: dropped via the index probe
    val b2 = Seq((10L, base.replace("w100", "changed"))).toDF("doc_id", "text")
    assert(CorpusBuilder.appendNearDupNew(spark, b2, corpus, "doc_id", "text", nd) == 0L)
    // lose the index out-of-band: the gate must rebuild it from the
    // corpus' stored (id, sig) columns and still drop the near-dup
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(corpus, spec.layoutDir))
      .iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    assert(CorpusBuilder.appendNearDupNew(spark, b2, corpus, "doc_id", "text", nd) == 0L)
    assert(BandIndex.layoutExists(spark, corpus, spec), "lost index must be rebuilt")
    // banding param change: rebuild into a fresh layout, atomic pointer
    // flip, superseded layout garbage-collected
    val nd2 = nd.copy(bands = 8)
    assert(CorpusBuilder.appendNearDupNew(spark, b2, corpus, "doc_id", "text", nd2) == 0L)
    val spec2 = BandIndex.Spec(8, nd.indexBuckets)
    assert(BandIndex.readMeta(spark, corpus).contains(spec2))
    assert(BandIndex.layoutExists(spark, corpus, spec2))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(corpus, spec.layoutDir)),
      "superseded band layout must be garbage-collected after the flip")
  }

  test("ghost band rows (crash between index append and docs append) never drop the replay") {
    import graft.dedup.BandIndex
    import graft.text.TextFunctions.tokens
    val nd = CorpusBuilder.NearDup()
    val corpus = tmpDir("ghost-corpus")
    val seed = (1 to 60).map(i => s"s$i").mkString(" ")
    assert(CorpusBuilder.appendNearDupNew(spark,
      Seq((1L, seed)).toDF("doc_id", "text"), corpus, "doc_id", "text", nd) == 1L)
    // simulate the crash window: the batch's band rows land in the
    // index, the docs append never happens
    val base = (1 to 100).map(i => s"g$i").mkString(" ")
    val spec = BandIndex.Spec(nd.bands, nd.indexBuckets)
    val ghostSigs = Seq((7L, base)).toDF("doc_id", "text")
      .withColumn("__sig", call_function("graft_minhash_mix",
        array_distinct(call_function("graft_shingles",
          tokens(col("text")), lit(nd.shingleK))), lit(nd.k)))
      .select(col("doc_id"), col("__sig"))
    BandIndex.append(ghostSigs, "doc_id", "__sig", corpus, spec, 1L)
    // replay of that batch: the doc is (id, sig)-identical to its ghost
    // and must be ADMITTED, not dropped by its own crash artifact
    assert(CorpusBuilder.appendNearDupNew(spark,
      Seq((7L, base)).toDF("doc_id", "text"), corpus, "doc_id", "text", nd) == 1L,
      "a replayed batch must not be dropped by its own ghost band rows")
    // and now that the doc REALLY landed, its near-dups gate normally
    assert(CorpusBuilder.appendNearDupNew(spark,
      Seq((8L, base.replace("g100", "changed"))).toDF("doc_id", "text"),
      corpus, "doc_id", "text", nd) == 0L)
  }

  test("gate modes interoperate on one corpus") {
    val nd = CorpusBuilder.NearDup()
    val corpus = tmpDir("mode-mix-corpus")
    // exact-mode first: files carry no signature column
    CorpusBuilder.appendNew(spark,
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      corpus, "doc_id", "text")
    // switch to near-dup on the SAME corpus: must not crash on the
    // missing __corpus_sig column; exact-content still gates
    val n2 = CorpusBuilder.appendNearDupNew(spark,
      Seq((2L, "alpha beta gamma"), (3L, "delta epsilon zeta")).toDF("doc_id", "text"),
      corpus, "doc_id", "text", nd)
    assert(n2 == 1L, "exact dup must drop, new doc must land")
    // switch BACK to exact mode: near-dup-era doc 3's digest must be in
    // the digest index (superset invariant across modes) so its replay
    // is dropped, not silently re-admitted
    val n3 = CorpusBuilder.appendNew(spark,
      Seq((4L, "delta epsilon zeta")).toDF("doc_id", "text"),
      corpus, "doc_id", "text")
    assert(n3 == 0L, "the digest index must be maintained by the near-dup gate too")
    assert(corpusDocs(corpus).count() == 2L)
  }

  test("null text is rejected up front in both gate modes (no permanent gate evasion)") {
    val corpus = tmpDir("null-text-corpus")
    val b = Seq((1L, Some("real doc")), (2L, None), (3L, None))
      .toDF("doc_id", "text")
    // nulls never land — contentKey(null) is null and would evade every
    // digest gate on every replay, accumulating duplicate rows forever
    assert(CorpusBuilder.appendNew(spark, b, corpus, "doc_id", "text") == 1L)
    assert(CorpusBuilder.appendNew(spark, b, corpus, "doc_id", "text") == 0L)
    assert(corpusDocs(corpus).count() == 1L)
    val ndCorpus = tmpDir("null-text-nd-corpus")
    val nd = CorpusBuilder.NearDup()
    assert(CorpusBuilder.appendNearDupNew(spark, b, ndCorpus, "doc_id", "text", nd) == 1L)
    assert(CorpusBuilder.appendNearDupNew(spark, b, ndCorpus, "doc_id", "text", nd) == 0L)
    assert(corpusDocs(ndCorpus).count() == 1L)
  }

  test("exact gate maintains a persisted digest index; loss and bucket changes rebuild it") {
    import graft.dedup.DigestIndex
    val corpus = tmpDir("digest-index-corpus")
    val b1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    assert(CorpusBuilder.appendNew(spark, b1, corpus, "doc_id", "text") == 2L)
    val spec = DigestIndex.Spec(CorpusBuilder.DefaultDigestBuckets)
    assert(DigestIndex.readMeta(spark, corpus).contains(spec),
      "an exact-mode commit must declare the digest index")
    assert(DigestIndex.layoutExists(spark, corpus, spec))
    // different-id replay of corpus content: dropped via the index probe
    val b2 = Seq((10L, "alpha"), (11L, "gamma")).toDF("doc_id", "text")
    assert(CorpusBuilder.appendNew(spark, b2, corpus, "doc_id", "text") == 1L)
    // lose the layout out-of-band: the gate must rebuild it from the
    // corpus' stored (id, digest) columns and still drop duplicates
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(corpus, spec.layoutDir))
      .iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    assert(CorpusBuilder.appendNew(spark, b2, corpus, "doc_id", "text") == 0L)
    assert(DigestIndex.layoutExists(spark, corpus, spec), "lost index must be rebuilt")
    // bucketing change: rebuild into a fresh layout, atomic pointer
    // flip, superseded layout garbage-collected
    assert(CorpusBuilder.appendNew(spark, b2, corpus, "doc_id", "text",
      digestBuckets = 16) == 0L)
    val spec2 = DigestIndex.Spec(16)
    assert(DigestIndex.readMeta(spark, corpus).contains(spec2))
    assert(DigestIndex.layoutExists(spark, corpus, spec2))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(corpus, spec.layoutDir)),
      "superseded digest layout must be garbage-collected after the flip")
    assert(corpusDocs(corpus).count() == 3L)
  }

  test("ghost digest rows (crash between index append and docs append) never drop the replay") {
    import graft.dedup.{Dedup, DigestIndex}
    val corpus = tmpDir("digest-ghost-corpus")
    assert(CorpusBuilder.appendNew(spark,
      Seq((1L, "seed")).toDF("doc_id", "text"), corpus, "doc_id", "text") == 1L)
    // simulate the crash window: the batch's digests land in the
    // index, the docs append never happens
    val ghost = Seq((7L, "ghost content")).toDF("doc_id", "text")
    val spec = DigestIndex.Spec(CorpusBuilder.DefaultDigestBuckets)
    DigestIndex.append(ghost.withColumn("__d", Dedup.contentKey(col("text")))
      .select(col("doc_id"), col("__d")), "doc_id", "__d", corpus, spec, runRows = 1L)
    // replay of that batch: (id, digest)-identical to its ghost row —
    // the same-id fallback consults the corpus, finds nothing, ADMITS
    assert(CorpusBuilder.appendNew(spark, ghost, corpus,
      "doc_id", "text") == 1L,
      "a replayed batch must not be dropped by its own ghost digest rows")
    // now that the doc REALLY landed, a replay of the committed batch
    // is (id, digest)-identical to its COMMITTED row and must DROP
    assert(CorpusBuilder.appendNew(spark, ghost, corpus,
      "doc_id", "text") == 0L)
    // and a different-id carrier of the same content drops too
    assert(CorpusBuilder.appendNew(spark,
      Seq((8L, "ghost content")).toDF("doc_id", "text"), corpus,
      "doc_id", "text") == 0L)
    assert(corpusDocs(corpus).count() == 2L)
  }

  test("a legacy corpus (bloom.bin, filterless index run) still drops a stored duplicate; compaction removes bloom.bin") {
    import graft.dedup.{Dedup, DigestIndex}
    val corpus = tmpDir("legacy-corpus")
    val spec = DigestIndex.Spec(CorpusBuilder.DefaultDigestBuckets)
    // the layout a corpus built before per-file filters left: docs with
    // their digest column, an index run written without a filter, and
    // the corpus-wide filter file no gate reads any more
    val docs = Seq((1L, "legacy one"), (2L, "legacy two")).toDF("doc_id", "text")
      .withColumn(CorpusBuilder.DigestCol, Dedup.contentKey(col("text")))
    DigestIndex.append(docs.select(col("doc_id"), col(CorpusBuilder.DigestCol)),
      "doc_id", CorpusBuilder.DigestCol, corpus, spec, 2L)
    docs.select(col("doc_id").as("doc"), col(CorpusBuilder.DigestCol).as("digest"))
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/${spec.layoutDir}/run-0")
    docs.write.parquet(s"$corpus/docs")
    val bloom = java.nio.file.Paths.get(corpus, "bloom.bin")
    java.nio.file.Files.write(bloom, Array.fill[Byte](64)(0))
    val run = new java.io.File(s"$corpus/${spec.layoutDir}/run-0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(run.toURI), spark.sparkContext.hadoopConfiguration))
    try {
      val block = footer.getRowGroups.get(0)
      assert(footer.getBloomFilterDataReader(block)
        .readBloomFilter(block.getColumns.get(1)) == null, "the legacy run has no filter")
    } finally footer.close()
    // a different-id duplicate of stored content drops through the
    // filterless run; new content lands
    assert(CorpusBuilder.appendNew(spark,
      Seq((10L, "legacy two"), (11L, "modern")).toDF("doc_id", "text"),
      corpus, "doc_id", "text") == 1L)
    assert(java.nio.file.Files.exists(bloom))
    CorpusBuilder.compactStores(spark, corpus)
    assert(!java.nio.file.Files.exists(bloom), "the first compaction deletes bloom.bin")
    assert(CorpusBuilder.appendNew(spark,
      Seq((12L, "legacy one"), (13L, "modern")).toDF("doc_id", "text"),
      corpus, "doc_id", "text") == 0L)
    assert(corpusDocs(corpus).count() == 3L)
  }

  test("streaming build drains a landing dir exactly-once by content across restarts") {
    val landing = tmpDir("corpus-landing")
    val ckpt = tmpDir("corpus-ckpt")
    val corpus = tmpDir("corpus-stream")
    (0 until 4).foreach { f =>
      val lines = (0 until 10).map { i =>
        // 40 rows but only 20 distinct texts: dups within AND across files
        s"""{"doc_id": ${f * 10 + i}, "text": "doc content ${(f * 10 + i) % 20}"}"""
      }.mkString("\n")
      writeFile(landing, s"f$f.json", lines + "\n")
    }
    val q = CorpusBuilder.build(spark, s"$landing/*.json", ckpt, corpus,
      maxFilesPerTrigger = Some(1)) // 4 micro-batches
    q.awaitTermination()
    val docs = corpusDocs(corpus)
    assert(docs.count() == 20L)
    assert(docs.select("text").distinct().count() == 20L)

    // restart with the SAME checkpoint + new files (half dups): only new
    // content lands
    writeFile(landing, "f4.json",
      """{"doc_id": 100, "text": "doc content 3"}""" + "\n" +
        """{"doc_id": 101, "text": "brand new doc"}""" + "\n")
    val q2 = CorpusBuilder.build(spark, s"$landing/*.json", ckpt, corpus,
      maxFilesPerTrigger = Some(1))
    q2.awaitTermination()
    assert(corpusDocs(corpus).count() == 21L)

    // full replay (FRESH checkpoint, all files again): corpus unchanged —
    // at-least-once delivery + content dedup = exactly-once by content
    val q3 = CorpusBuilder.build(spark, s"$landing/*.json", tmpDir("corpus-ckpt2"),
      corpus)
    q3.awaitTermination()
    assert(corpusDocs(corpus).count() == 21L)
  }

  test("near-dup drain keeps every recorded plan small (the filter is broadcast, not a plan literal)") {
    val landing = tmpDir("nd-plans-landing")
    (0 until 3).foreach { f =>
      val lines = (0 until 8).map { i =>
        val words = (0 until 12).map(w => s"w${(f * 8 + i) % 10}x$w").mkString(" ")
        s"""{"doc_id": ${f * 8 + i}, "text": "$words"}"""
      }.mkString("\n")
      writeFile(landing, s"f$f.json", lines + "\n")
    }
    val corpus = tmpDir("nd-plans-corpus")
    val before = lastExecutionId
    val q = CorpusBuilder.build(spark, s"$landing/*.json", tmpDir("nd-plans-ckpt"),
      corpus, maxFilesPerTrigger = Some(1), nearDup = Some(CorpusBuilder.NearDup()))
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(corpusDocs(corpus).count() == 10L)
    // the later triggers probe the digest index: its scan lists the
    // files the filter test kept, and no filter rides in any plan
    def isProbe(p: String) = p.contains(graft.dedup.DigestIndex.Spec(
      CorpusBuilder.DefaultDigestBuckets).layoutDir)
    val plans = planDescriptionsAfter(before)(isProbe)
    assert(plans.exists(isProbe), "no probe execution was recorded")
    val limit = 64 * 1024
    assert(plans.forall(_.length < limit),
      s"largest recorded plan: ${plans.map(_.length).max} chars")
  }

  test("stream killed between derived-store persist and docs append recovers exactly-once (exact gate)") {
    // the real crash path, not a hand-built state: the fault seam kills
    // the QUERY inside foreachBatch after each derived store persists,
    // the batch never reaches the checkpoint, and the restart replays it
    Seq("digest-index").foreach { point =>
      val landing = tmpDir(s"crash-landing-$point")
      val ckpt = tmpDir(s"crash-ckpt-$point")
      val corpus = tmpDir(s"crash-corpus-$point")
      writeFile(landing, "f0.json",
        """{"doc_id": 1, "text": "seed one"}""" + "\n" +
          """{"doc_id": 2, "text": "seed two"}""" + "\n")
      CorpusBuilder.build(spark, s"$landing/*.json", ckpt, corpus)
        .awaitTermination()
      assert(corpusDocs(corpus).count() == 2L)

      // batch 1: one dup of stored content + two new docs; crash lands
      // AFTER `point` persists, BEFORE the docs append
      writeFile(landing, "f1.json",
        """{"doc_id": 10, "text": "seed one"}""" + "\n" +
          """{"doc_id": 11, "text": "fresh alpha"}""" + "\n" +
          """{"doc_id": 12, "text": "fresh beta"}""" + "\n")
      CorpusBuilder.commitFault = (step, dir) =>
        if (step == point && dir == corpus)
          throw new RuntimeException(s"injected crash after $step")
      try {
        val q = CorpusBuilder.build(spark, s"$landing/*.json", ckpt, corpus)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.awaitTermination()
        }
        assert(e.getMessage.contains("injected crash") ||
          Option(e.getCause).exists(_.getMessage.contains("injected crash")))
      } finally CorpusBuilder.commitFault = (_, _) => ()
      // the crash window on disk: derived stores ran ahead, docs did not
      assert(corpusDocs(corpus).count() == 2L,
        s"docs must not contain the crashed batch (point=$point)")

      // restart from the SAME checkpoint: the failed batch replays; its
      // own ghost digests must not drop it, the stored dup must drop
      CorpusBuilder.build(spark, s"$landing/*.json", ckpt, corpus)
        .awaitTermination()
      val docs = corpusDocs(corpus)
      assert(docs.count() == 4L, s"no lost docs after recovery (point=$point)")
      assert(docs.select(CorpusBuilder.DigestCol).distinct().count() == 4L,
        s"no duplicate digests after recovery (point=$point)")
      assert(docs.select("text").as[String].collect().sorted.toSeq ==
        Seq("fresh alpha", "fresh beta", "seed one", "seed two"))
      // and the recovered corpus still gates a replay of everything
      val replayAll = Seq((20L, "seed one"), (21L, "fresh alpha"),
        (22L, "fresh beta")).toDF("doc_id", "text")
      assert(CorpusBuilder.appendNew(spark, replayAll, corpus,
        "doc_id", "text") == 0L)
    }
  }

  test("stream killed mid-commit recovers exactly-once in NEAR-DUP mode (all three stores)") {
    val nd = CorpusBuilder.NearDup()
    val seed = (1 to 80).map(i => s"nd$i").mkString(" ")
    val freshText = (1 to 80).map(i => s"fr$i").mkString(" ")
    Seq("digest-index", "band-index").foreach { point =>
      val landing = tmpDir(s"ndcrash-landing-$point")
      val ckpt = tmpDir(s"ndcrash-ckpt-$point")
      val corpus = tmpDir(s"ndcrash-corpus-$point")
      writeFile(landing, "f0.json",
        s"""{"doc_id": 1, "text": "$seed"}""" + "\n")
      CorpusBuilder.build(spark, s"$landing/*.json", ckpt, corpus,
        nearDup = Some(nd)).awaitTermination()
      assert(corpusDocs(corpus).count() == 1L)

      // batch 1: a near-dup of the seed (must drop), an exact dup (must
      // drop), and a genuinely new doc (must land exactly once)
      writeFile(landing, "f1.json",
        s"""{"doc_id": 10, "text": "${seed.replace("nd80", "changed")}"}""" + "\n" +
          s"""{"doc_id": 11, "text": "$seed"}""" + "\n" +
          s"""{"doc_id": 12, "text": "$freshText"}""" + "\n")
      CorpusBuilder.commitFault = (step, dir) =>
        if (step == point && dir == corpus)
          throw new RuntimeException(s"injected crash after $step")
      try {
        val q = CorpusBuilder.build(spark, s"$landing/*.json", ckpt, corpus,
          nearDup = Some(nd))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.awaitTermination()
        }
      } finally CorpusBuilder.commitFault = (_, _) => ()
      assert(corpusDocs(corpus).count() == 1L,
        s"docs must not contain the crashed batch (point=$point)")

      // restart: the replayed new doc must survive its own ghost rows in
      // whichever stores persisted before the kill (digest index /
      // band index), and both dup shapes must still drop
      CorpusBuilder.build(spark, s"$landing/*.json", ckpt, corpus,
        nearDup = Some(nd)).awaitTermination()
      val docs = corpusDocs(corpus)
      assert(docs.count() == 2L, s"no lost docs after recovery (point=$point)")
      assert(docs.select(CorpusBuilder.DigestCol).distinct().count() == 2L,
        s"no duplicate digests after recovery (point=$point)")
      assert(docs.select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 12L), s"near-dup and exact dup must stay dropped (point=$point)")
      // the recovered stores still gate: full replay appends nothing
      val replay = Seq((20L, seed), (21L, freshText),
        (22L, seed.replace("nd80", "changed"))).toDF("doc_id", "text")
      assert(CorpusBuilder.appendNearDupNew(spark, replay, corpus,
        "doc_id", "text", nd) == 0L)
    }
  }

  /** Visible data files per leaf directory (recursing into `col=value`
    * partition dirs and the LSM layout's `run-*`/`compact-*` dirs),
    * the quantity compaction bounds. */
  private def leafFileCounts(root: String): Map[String, Int] = {
    def walk(d: java.io.File): Seq[(String, Int)] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      val parts = kids.filter(k => k.isDirectory && (k.getName.contains("=")
        || k.getName.startsWith("run-") || k.getName.startsWith("compact-")))
      if (parts.nonEmpty) parts.flatMap(walk)
      else Seq(d.getPath -> kids.count(k => k.isFile &&
        !k.getName.startsWith(".") && !k.getName.startsWith("_")))
    }
    walk(new java.io.File(root)).toMap
  }

  /** The LSM index layout's uncompacted flat-run tail — compaction must
    * keep it bounded (one footer read per tail run per probe). */
  private def runDirCount(root: String): Int =
    Option(new java.io.File(root).listFiles()).map(_.toSeq).getOrElse(Nil)
      .count(f => f.isDirectory && f.getName.startsWith("run-"))

  test("50 micro-batches + periodic compaction keep exact-gate store file counts bounded") {
    val corpus = tmpDir("cb-compact")
    var total = 0L
    (0 until 50).foreach { b =>
      val batch = Seq((b * 10L, s"compact doc $b alpha"),
        (b * 10L + 1, s"compact doc $b beta")).toDF("doc_id", "text")
      total += CorpusBuilder.appendNew(spark, batch, corpus, "doc_id", "text",
        digestBuckets = 4)
      // the build() hook's cadence, driven directly (appendNew is the
      // batch body foreachBatch runs)
      if (b % 10 == 9) CorpusBuilder.compactStores(spark, corpus, minFiles = 4)
    }
    assert(total == 100L)
    // UNBOUNDED growth would put ~25 files in each __dk bucket and ~50
    // in docs; the compaction cadence keeps every leaf under
    // minFiles + one cadence worth of fresh appends
    val docsCounts = leafFileCounts(s"$corpus/docs")
    val idxCounts = leafFileCounts(
      s"$corpus/${graft.dedup.DigestIndex.Spec(4).layoutDir}")
    assert(docsCounts.values.max <= 15,
      s"docs dir not bounded: $docsCounts")
    assert(idxCounts.values.max <= 15,
      s"digest index buckets not bounded: $idxCounts")
    // the LSM fold keeps the flat run tail bounded by one compaction
    // cadence (here 10 batches), not the batch count
    assert(runDirCount(s"$corpus/${graft.dedup.DigestIndex.Spec(4).layoutDir}") <= 10,
      "digest index run tail must fold away at the compaction cadence")
    // compaction preserved every row and the gate still drops replays
    assert(corpusDocs(corpus).count() == 100L)
    assert(corpusDocs(corpus).select("doc_id").distinct().count() == 100L)
    val replay = Seq((30L, "compact doc 3 alpha"), (31L, "compact doc 3 beta"))
      .toDF("doc_id", "text")
    assert(CorpusBuilder.appendNew(spark, replay, corpus, "doc_id", "text",
      digestBuckets = 4) == 0L)
  }

  test("near-dup store compaction bounds band-index buckets and keeps mixed-era docs intact") {
    val corpus = tmpDir("cb-compact-nd")
    val nd = CorpusBuilder.NearDup(shingleK = 2, k = 16, bands = 4,
      minAgree = 0.9, indexBuckets = 4)
    // exact-era first: docs files without the signature column, so the
    // docs compaction MUST schema-merge or it would drop SigCol
    assert(CorpusBuilder.appendNew(spark,
      Seq((1L, "exact era doc one"), (2L, "exact era doc two")).toDF("doc_id", "text"),
      corpus, "doc_id", "text", digestBuckets = 4) == 2L)
    (0 until 12).foreach { b =>
      val text = (1 to 12).map(j => s"ndword${b}_$j").mkString(" ")
      val batch = Seq((100L + b, text)).toDF("doc_id", "text")
      assert(CorpusBuilder.appendNearDupNew(spark, batch, corpus, "doc_id",
        "text", nd, digestBuckets = 4) == 1L)
      if (b % 4 == 3) CorpusBuilder.compactStores(spark, corpus, minFiles = 3)
    }
    val bandCounts = leafFileCounts(
      s"$corpus/${graft.dedup.BandIndex.Spec(4, 4).layoutDir}")
    assert(bandCounts.values.max <= 8,
      s"band index buckets not bounded: $bandCounts")
    assert(runDirCount(s"$corpus/${graft.dedup.BandIndex.Spec(4, 4).layoutDir}") <= 4,
      "band index run tail must fold away at the compaction cadence")
    // mixed-era docs survived the schema-merged compaction: exact-era
    // rows have null sig, near-dup rows kept theirs
    val docs = spark.read.option("mergeSchema", "true").parquet(s"$corpus/docs")
    assert(docs.count() == 14L)
    assert(docs.filter(col(CorpusBuilder.SigCol).isNotNull).count() == 12L)
    // the compacted band index still gates: a near-dup of batch 5 drops
    val neard = Seq((999L, (1 to 12).map(j => s"ndword5_$j").mkString(" ") + " tail"))
      .toDF("doc_id", "text")
    assert(CorpusBuilder.appendNearDupNew(spark, neard, corpus, "doc_id",
      "text", nd, digestBuckets = 4) == 0L)
  }

  test("one live builder per corpus: a second build fails loudly; the lock releases on termination") {
    val landing = tmpDir("lock-landing")
    val corpus = tmpDir("lock-corpus")
    writeFile(landing, "f0.json",
      """{"doc_id": 1, "text": "locked corpus content"}""" + "\n")
    // a live builder holds BUILD.lock (seam: take it the way build()
    // does — deterministic, no trigger-timing race)
    val token = CorpusBuilder.acquireBuildLock(corpus, "spec-holder")
    val e = intercept[RuntimeException] {
      CorpusBuilder.build(spark, s"$landing/*.json",
        tmpDir("lock-ckpt-b"), corpus)
    }
    assert(e.getMessage.contains("live builder") &&
      e.getMessage.contains("BUILD.lock"), e.getMessage)
    // the refused builder must not have corrupted or created anything
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(corpus, "docs")))
    // standalone maintenance must refuse to race a live builder too:
    // the LSM index folds swap the same meta pointer the appends swap
    val c = intercept[RuntimeException] {
      CorpusBuilder.compactStores(spark, corpus)
    }
    assert(c.getMessage.contains("live builder"), c.getMessage)
    CorpusBuilder.releaseBuildLock(corpus, token)
    // lock gone -> a builder starts, drains, and releases on termination
    val q = CorpusBuilder.build(spark, s"$landing/*.json",
      tmpDir("lock-ckpt-c"), corpus)
    q.awaitTermination()
    assert(corpusDocs(corpus).count() == 1L)
    // the watcher releases asynchronously after termination;
    // awaitRelease is the synchronous hand-over — after it returns the
    // lock is GONE, no polling
    CorpusBuilder.awaitRelease(q)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(corpus, "BUILD.lock")),
      "the lock must release when the drain terminates")
    // and a later builder proves the corpus is intact and gated
    val q2 = CorpusBuilder.build(spark, s"$landing/*.json",
      tmpDir("lock-ckpt-d"), corpus)
    q2.awaitTermination()
    assert(corpusDocs(corpus).count() == 1L)
  }

  test("a lock broken MID-FOLD fails the usurped builder at the commit re-check, before the docs append") {
    val corpus = tmpDir("lock-toctou-corpus")
    // builder 1 holds the lock and enters a fold (entry check passes)
    val t1 = CorpusBuilder.acquireBuildLock(corpus, "builder-1")
    // the commitFault seam fires AFTER the derived-store persists and
    // right BEFORE the commit re-check — exactly the TOCTOU window: an
    // operator force-breaks the lock there and a usurper takes over
    @volatile var t2: String = null
    CorpusBuilder.commitFault = (step, dir) =>
      if (step == "digest-index" && dir == corpus && t2 == null) {
        CorpusBuilder.releaseBuildLock(corpus, t1)
        t2 = CorpusBuilder.acquireBuildLock(corpus, "builder-2")
      }
    val b = Seq((1L, "contested content")).toDF("doc_id", "text")
    try {
      val e = intercept[IllegalArgumentException] {
        CorpusBuilder.appendNew(spark, b, corpus, "doc_id", "text",
          lockToken = Some(t1))
      }
      assert(e.getMessage.contains("no longer holds"), e.getMessage)
    } finally CorpusBuilder.commitFault = (_, _) => ()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(corpus, "docs")),
      "the usurped fold must abort before the docs append")
    // the usurper's own folds proceed; builder-1's derived-store rows
    // are crash-window ghosts the gate absorbs
    assert(CorpusBuilder.appendNew(spark, b, corpus, "doc_id", "text",
      lockToken = Some(t2)) == 1L)
    assert(corpusDocs(corpus).count() == 1L)
    // a STALE token at fold ENTRY also aborts (the cheap early check)
    val e2 = intercept[IllegalArgumentException] {
      CorpusBuilder.appendNew(spark, b, corpus, "doc_id", "text",
        lockToken = Some(t1))
    }
    assert(e2.getMessage.contains("no longer holds"), e2.getMessage)
    CorpusBuilder.releaseBuildLock(corpus, t2)
  }
}
