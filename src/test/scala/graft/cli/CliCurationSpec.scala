package graft.cli

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.curation.Sampling

/** Round-trips the curation CLI verbs (`sample`, `select`) against the
  * library operators they surface — the reference's
  * one-usecase-one-verb pattern (`pkg/controller/cmd/cli.go`) extended
  * to the training-data operators. */
class CliCurationSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (0L until 200L)
    .map(i => (i, s"src${i % 4}", (i % 7).toDouble, 10L + i % 5))
    .toDF("doc_id", "src", "q", "w")

  test("sample --per-mille and --strata round-trip the library operators") {
    val dir = tmpDir("cli-sample")
    corpus.write.parquet(s"$dir/in")

    Main.run(spark, Array("sample", "--per-mille", "250",
      "--output", s"$dir/uni", s"$dir/in"))
    val uni = spark.read.parquet(s"$dir/uni")
    assert(uni.select("doc_id").as[Long].collect().sorted.toSeq ==
      Sampling.uniformSample(corpus, col("doc_id"), 250)
        .select("doc_id").as[Long].collect().sorted.toSeq,
      "the verb must be byte-equivalent to the operator")
    assert(uni.count() > 0 && uni.count() < 200)

    Main.run(spark, Array("sample", "--strata", "src", "--cap", "10",
      "--output", s"$dir/cap", s"$dir/in"))
    val capped = spark.read.parquet(s"$dir/cap")
    assert(capped.groupBy("src").count().collect()
      .forall(_.getLong(1) == 10L), "every stratum capped at 10")
  }

  test("sample --cluster-cap balances an embedding table by IVF cluster") {
    val dir = tmpDir("cli-cluster")
    (0L until 80L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 3 + j).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/in")
    Main.run(spark, Array("sample", "--cluster-cap", "5", "--nlist", "4",
      "--id-col", "vec_id", "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.groupBy("cluster").count().collect()
      .forall(_.getLong(1) <= 5L), "every cluster capped")
    assert(out.count() > 0)
  }

  test("sql verb streams a large read-out row-by-row; --limit caps it") {
    val dir = tmpDir("cli-sql")
    val ndj = (1 to 2000).map(i =>
      s"""{"event_id": $i, "ts": ${1559347200 + i}.5, "v": "x$i"}""").mkString("\n")
    writeFile(dir, "events.json", ndj + "\n")
    writeFile(dir, "rules.json",
      """{"event": [{"name": "all", "when": "name LIKE '%.json'", "schemaRule": "ev"}],
        | "schema": [{"name": "ev", "dataset": "'d'", "table": "'t'", "partition": "day",
        |             "timestamp": "ts", "id": "cast(event_id as string)"}]}""".stripMargin)
    Main.run(spark, Array("ingest", "--rules", s"$dir/rules.json",
      "--warehouse", s"$dir/wh", s"$dir/events.json"))
    def runSql(args: String*): Seq[String] = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.run(spark, args.toArray)
      }
      buf.toString("UTF-8").split("\n").filter(_.nonEmpty).toSeq
    }
    // unbounded SELECT: every row arrives, one JSON line each, through
    // toLocalIterator (never a full-result collect on the driver)
    val all = runSql("sql", "--warehouse", s"$dir/wh",
      "SELECT id FROM d_t ORDER BY id")
    assert(all.length == 2000, s"expected 2000 lines, got ${all.length}")
    // --limit caps the read-out outright
    val capped = runSql("sql", "--warehouse", s"$dir/wh", "--limit", "7",
      "SELECT id FROM d_t ORDER BY id")
    assert(capped.length == 7, s"expected 7 lines, got ${capped.length}")
  }

  test("cluster maintains incremental dedup clusters via the verb") {
    val dir = tmpDir("cli-clusterstream")
    val fam = "alpha beta gamma delta epsilon zeta"
    Seq((1L, fam), (2L, fam), (3L, "totally unrelated filler words here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/landing")
    Main.run(spark, Array("cluster", "--store", s"$dir/store",
      "--checkpoint", s"$dir/ckpt", s"$dir/landing"))
    // a second drop over the SAME checkpoint folds incrementally
    Seq((4L, fam)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/landing")
    Main.run(spark, Array("cluster", "--store", s"$dir/store",
      "--checkpoint", s"$dir/ckpt", s"$dir/landing"))
    val labels = graft.streaming.ClusterStream.clusters(spark, s"$dir/store")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels == Set((1L, 1L), (2L, 1L), (4L, 1L)),
      s"the late twin must join the existing component, got $labels")
    // the status verb reads the same manifest the folds maintain
    val status = graft.streaming.ClusterStream.status(s"$dir/store").get
    assert(status.contains("label rows=3") && status.contains("lineage"),
      s"status must surface the maintained totals: $status")
    Main.run(spark, Array("cluster", "status", "--store", s"$dir/store"))
  }

  test("cluster --max-bytes mega-batches the drain; combining it with --max-files is rejected") {
    val dir = tmpDir("cli-cluster-bytes")
    val fam = "alpha beta gamma delta epsilon zeta"
    // two landed files, one generous byte budget -> ONE fold
    Seq((1L, fam), (2L, fam)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/landing")
    Seq((3L, fam)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/landing")
    Main.run(spark, Array("cluster", "--store", s"$dir/store",
      "--checkpoint", s"$dir/ckpt", "--max-bytes", (64L << 20).toString,
      s"$dir/landing"))
    val labels = graft.streaming.ClusterStream.clusters(spark, s"$dir/store")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels == Set((1L, 1L), (2L, 1L), (3L, 1L)), s"got $labels")
    assert(graft.streaming.ClusterStream.lastBatch(s"$dir/store").contains(0L),
      "both files must land in one mega-batch under the byte budget")
    // the file source rejects both trigger limits — fail at the CLI
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, Array("cluster", "--store", s"$dir/store2",
        "--checkpoint", s"$dir/ckpt2", "--max-files", "1",
        "--max-bytes", "1000", s"$dir/landing"))
    }
    assert(ex.getMessage.contains("mutually exclusive"))
  }

  test("corpus --max-bytes mega-batches the drain; combining it with --max-files is rejected") {
    val dir = tmpDir("cli-corpus-bytes")
    writeFile(s"$dir/landing", "f0.json",
      """{"doc_id": 1, "text": "alpha content"}""" + "\n" +
        """{"doc_id": 2, "text": "beta content"}""" + "\n")
    writeFile(s"$dir/landing", "f1.json",
      """{"doc_id": 3, "text": "alpha content"}""" + "\n" +
        """{"doc_id": 4, "text": "gamma content"}""" + "\n")
    Main.run(spark, Array("corpus", "--corpus", s"$dir/corpus",
      "--checkpoint", s"$dir/ckpt", "--max-bytes", (64L << 20).toString,
      s"$dir/landing/*.json"))
    assert(spark.read.parquet(s"$dir/corpus/docs").count() == 3L,
      "content-deduped across both files")
    // a generous byte budget lands both files in ONE micro-batch
    val commits = new java.io.File(s"$dir/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits == 1, s"expected one mega-batch commit, got $commits")
    // the file source rejects both trigger limits — fail at the API
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, Array("corpus", "--corpus", s"$dir/corpus2",
        "--checkpoint", s"$dir/ckpt2", "--max-files", "1",
        "--max-bytes", "1000", s"$dir/landing/*.json"))
    }
    assert(ex.getMessage.contains("mutually exclusive"))
    // ...and the refused call must not leak the builder lock
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/corpus2", "BUILD.lock")))
  }

  test("corpus refuses the removed --shards flag instead of ignoring it") {
    // also the two filter-sizing flags, gone with the corpus-wide filter
    Seq("shards" -> "2", "expected-items" -> "4096", "fpp" -> "0.001").foreach {
      case (flag, value) =>
        val dir = tmpDir(s"cli-corpus-$flag")
        writeFile(s"$dir/landing", "f0.json", """{"doc_id": 1, "text": "alpha"}""" + "\n")
        val ex = intercept[IllegalArgumentException] {
          Main.run(spark, Array("corpus", "--corpus", s"$dir/corpus",
            "--checkpoint", s"$dir/ckpt", s"--$flag", value, s"$dir/landing/*.json"))
        }
        assert(ex.getMessage.contains(s"--$flag was removed"), ex.getMessage)
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/corpus")),
          "a refused call must not start a build")
    }
  }

  test("corpus refuses a misspelled flag before any build starts") {
    val dir = tmpDir("cli-corpus-typo")
    writeFile(s"$dir/landing", "f0.json", """{"doc_id": 1, "text": "alpha"}""" + "\n")
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, Array("corpus", "--corpus", s"$dir/corpus",
        "--checkpoint", s"$dir/ckpt", "--max-file", "2", s"$dir/landing/*.json"))
    }
    assert(ex.getMessage.contains("corpus does not take --max-file"), ex.getMessage)
    // a flag of another form of the same verb is refused by the form
    // the call dispatches to
    Seq(
      Seq("corpus", "compact", "--corpus", s"$dir/corpus", "--near-dup") ->
        "corpus compact does not take --near-dup",
      Seq("score", "--stream", "--load-model", s"$dir/model", "--output", s"$dir/out",
        "--checkpoint", s"$dir/ckpt", "--band", "0.1,0.9", s"$dir/landing/*.json") ->
        "score --stream does not take --band",
      Seq("dsir", "--stream", "--load-model", s"$dir/model", "--threshold", "0.5",
        "--output", s"$dir/out", "--checkpoint", s"$dir/ckpt", "--temperature", "2",
        s"$dir/landing/*.json") -> "dsir --stream does not take --temperature"
    ).foreach { case (args, msg) =>
      val e = intercept[IllegalArgumentException](Main.run(spark, args.toArray))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/corpus")) &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/ckpt")),
      "a refused call must not start a build")
  }

  test("score --stream drains a landing glob against a frozen NB artifact; --max-bytes mega-batches") {
    val dir = tmpDir("cli-score-stream")
    val docs = Seq(
      (1L, "news", "markets rally as stocks climb higher"),
      (2L, "sport", "team wins the cup final tonight"),
      (3L, "news", "stocks slip on rate fears again"),
      (4L, "sport", "late winner seals the cup again"))
      .toDF("doc_id", "src", "text")
    docs.write.parquet(s"$dir/in")
    // train + batch-score via the batch verb (the adjudicating twin)
    Main.run(spark, Array("score", "--label", "src",
      "--save-model", s"$dir/model", "--output", s"$dir/batch", s"$dir/in"))
    // landing zone: two files, drained as a stream with a byte budget
    docs.filter(col("doc_id") <= 2).coalesce(1)
      .write.mode("append").parquet(s"$dir/landing")
    docs.filter(col("doc_id") > 2).coalesce(1)
      .write.mode("append").parquet(s"$dir/landing")
    Main.run(spark, Array("score", "--stream", "--load-model", s"$dir/model",
      "--label", "src", "--output", s"$dir/scored",
      "--checkpoint", s"$dir/ckpt", "--max-bytes", (64L << 20).toString,
      s"$dir/landing"))
    val streamed = graft.streaming.ScoreStream.output(spark, s"$dir/scored")
      .select(col("__id"), col("predicted"), col("score")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val batch = spark.read.parquet(s"$dir/batch")
      .select(col("doc_id"), col("predicted"), col("score")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(streamed == batch,
      s"stream must equal the batch twin:\n$streamed\nvs\n$batch")
    val commits = new java.io.File(s"$dir/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits == 1, s"expected one mega-batch commit, got $commits")
    // both trigger limits at once is rejected before anything starts
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, Array("score", "--stream", "--load-model", s"$dir/model",
        "--output", s"$dir/scored2", "--checkpoint", s"$dir/ckpt2",
        "--max-files", "1", "--max-bytes", "1000", s"$dir/landing"))
    }
    assert(ex.getMessage.contains("mutually exclusive"))
  }

  test("score --stream routes an LM artifact (no cls/) to the bigram scorer") {
    val dir = tmpDir("cli-score-stream-lm")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (2L, "the quick brown fox sleeps by the dog"),
      (3L, "entirely different words compose this one"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/in")
    Main.run(spark, Array("score", "--save-model", s"$dir/model",
      "--output", s"$dir/batch", s"$dir/in"))
    docs.coalesce(1).write.parquet(s"$dir/landing")
    Main.run(spark, Array("score", "--stream", "--load-model", s"$dir/model",
      "--output", s"$dir/scored", "--checkpoint", s"$dir/ckpt",
      "--max-bytes", (64L << 20).toString, s"$dir/landing"))
    val streamed = graft.streaming.ScoreStream.output(spark, s"$dir/scored")
      .select(col("__id"), round(col("xent"), 6).as("xent")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = spark.read.parquet(s"$dir/batch")
      .filter(col("n_bigrams") > 0)
      .select(col("doc_id"), col("xent")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed == batch,
      s"LM stream must equal the batch twin:\n$streamed\nvs\n$batch")
  }

  test("dsir --save-model + --stream gates a landing glob; threshold equals the batch filter") {
    val dir = tmpDir("cli-dsir-stream")
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "de", "der schnelle braune fuchs springt"),
      (3L, "en", "the dog sleeps while the fox runs away"),
      (4L, "de", "ganz andere worte bilden diesen satz"),
      (5L, "en", "the lazy dog and the quick fox again"))
      .toDF("doc_id", "lang", "text")
    docs.write.parquet(s"$dir/in")
    Main.run(spark, Array("dsir", "--save-model", s"$dir/model",
      "--target", "lang = 'en'", "--buckets", "128", s"$dir/in"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/model", "lr")))
    // two landed files, mega-batched; gate at score >= 0 (more
    // target-like than the base rate)
    docs.filter(col("doc_id") <= 2).select("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$dir/landing")
    docs.filter(col("doc_id") > 2).select("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$dir/landing")
    Main.run(spark, Array("dsir", "--stream", "--load-model", s"$dir/model",
      "--threshold", "0.0", "--buckets", "128", "--output", s"$dir/kept",
      "--checkpoint", s"$dir/ckpt", "--max-bytes", (64L << 20).toString,
      s"$dir/landing"))
    val streamed = graft.streaming.ScoreStream.output(spark, s"$dir/kept")
      .select(col("__id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = graft.curation.Dsir.scoreDsirModel(docs, col("doc_id"),
        graft.text.TextFunctions.tokens(lower(col("text"))),
        s"$dir/model", numBuckets = 128)
      .filter(col("score") >= 0.0)
      .select(col("__id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"dsir stream must equal the batch filter:\n$streamed\nvs\n$batch")
    val commits = new java.io.File(s"$dir/ckpt/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(commits == 1, s"expected one mega-batch commit, got $commits")
  }

  test("decontam --save-model + --stream flags a landing glob; equals the batch fuzzy pass") {
    val dir = tmpDir("cli-decontam-stream")
    val leakSrc = "the capital of france is paris and the seine flows through it"
    val docs = Seq(
      (10L, true, leakSrc),                           // the eval doc
      (1L, false, leakSrc.replace("seine", "river")), // drifted leak
      (2L, false, "completely unrelated text about gardening and soil"),
      (3L, false, leakSrc))                           // verbatim leak
      .toDF("doc_id", "is_eval", "text")
    docs.write.parquet(s"$dir/in")
    Main.run(spark, Array("decontam", "--save-model", s"$dir/model",
      "--eval", "is_eval", s"$dir/in"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/model", "fp")))
    docs.filter(!col("is_eval")).select("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/landing")
    Main.run(spark, Array("decontam", "--stream", "--load-model", s"$dir/model",
      "--output", s"$dir/flagged", "--checkpoint", s"$dir/ckpt",
      "--max-bytes", (64L << 20).toString, s"$dir/landing"))
    val streamed = graft.streaming.ScoreStream.output(spark, s"$dir/flagged")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.dedup.Dedup.fuzzyContamination(docs, col("is_eval"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && streamed.map(_._1).contains(3L),
      s"decontam stream must equal the batch fuzzy pass:\n$streamed\nvs\n$batch")
  }

  test("select --budget keeps the greedy score-ordered prefix, via warehouse table ref") {
    val dir = tmpDir("cli-select")
    // warehouse-table input path: ds.tbl resolved through the registry
    val registry = new graft.schema.SchemaRegistry(s"$dir/wh")
    corpus.withColumn("__part", lit("2024-01-01"))
      .write.partitionBy("__part").parquet(registry.dataDir("curated", "docs"))
    Main.run(spark, Array("select", "--budget", "120", "--score", "q",
      "--weight", "w", "--warehouse", s"$dir/wh",
      "--output", s"$dir/out", "curated.docs"))
    val out = spark.read.parquet(s"$dir/out")
    val direct = Sampling.budgetSelect(corpus, col("doc_id"), col("q"),
      col("w"), 120L)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ==
      direct.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(out.agg(max("cum_weight")).head.getLong(0) <= 120L)
    assert(!out.columns.contains("__part"), "partition scaffolding dropped")
  }

  test("sample --shuffle-seed assigns the deterministic training order") {
    val dir = tmpDir("cli-shuffle")
    corpus.write.parquet(s"$dir/in")
    Main.run(spark, Array("sample", "--shuffle-seed", "e0",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select("ord_pos").as[Long].collect().sorted.toSeq ==
      (1L to 200L).toSeq, "a complete 1..N permutation")
    val direct = graft.curation.Sampling.shuffleOrder(corpus, col("doc_id"), "e0")
      .select("doc_id", "ord_pos").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.select("doc_id", "ord_pos").as[(Long, Long)].collect()
      .sortBy(_._1).toSeq == direct, "verb byte-equivalent to the operator")
  }

  test("sample --weighted draws the E-S without-replacement sample via the verb") {
    val dir = tmpDir("cli-weighted")
    corpus.write.parquet(s"$dir/in")
    Main.run(spark, Array("sample", "--weighted", "--weight-col", "w",
      "--n", "50", "--seed", "s1", "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    val direct = Sampling.weightedSample(corpus, col("doc_id"), col("w"), 50, "s1")
    assert(out.count() == 50)
    assert(out.exceptAll(direct).isEmpty && direct.exceptAll(out).isEmpty,
      "verb byte-equivalent to the operator")
  }

  test("sample --strata-col and --mix-alpha realize the quota/mix draws via the verb") {
    val dir = tmpDir("cli-mix")
    corpus.write.parquet(s"$dir/in")
    Main.run(spark, Array("sample", "--weighted", "--weight-col", "w",
      "--n", "10", "--strata-col", "src", "--seed", "s",
      "--output", s"$dir/quota", s"$dir/in"))
    val quota = spark.read.parquet(s"$dir/quota")
    assert(quota.groupBy("src").count().as[(String, Long)].collect()
      .forall(_._2 == 10L), "10 per stratum")
    Main.run(spark, Array("sample", "--mix-alpha", "0.5", "--stratum", "src",
      "--budget", "40", "--weight-col", "w", "--output", s"$dir/mix", s"$dir/in"))
    val mix = spark.read.parquet(s"$dir/mix")
    val direct = Sampling.allocatedSample(corpus, "src", 0.5, 40L,
      col("doc_id"), col("w"), "0")
    assert(mix.exceptAll(direct).isEmpty && direct.exceptAll(mix).isEmpty,
      "verb byte-equivalent to the operator")
  }

  test("decontam --semantic flags embedding-space leaks via the verb") {
    val dir = tmpDir("cli-semdecon")
    // eval = vec 0/1; vec 10 is a near-copy of vec 0 (leak), vec 11 is
    // orthogonal
    Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (10L, Array(0.99f, 0.01f, 0f)), (11L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/in")
    Main.run(spark, Array("decontam", "--semantic", "--eval", "vec_id < 2",
      "--threshold", "0.9", "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select("vec_id").as[Long].collect().toSeq == Seq(10L),
      "only the planted near-copy is flagged")
    assert(out.select("eval_id").as[Long].head() == 0L)
  }

  test("chunkdup reports duplicated chunks and per-doc coverage via the verb") {
    val dir = tmpDir("cli-chunkdup")
    val passage = (1 to 40).map(i => s"p$i").mkString(" ")
    Seq((100L, s"lead in $passage out"),
      (1L, s"fresh prefix $passage suffix"),
      (2L, "novel text nothing shared at all with anything here ok"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("chunkdup", "--p", "4",
      "--output", s"$dir/dup", s"$dir/in"))
    assert(spark.read.parquet(s"$dir/dup").count() > 0,
      "interior chunks of the shared passage must be reported")
    Main.run(spark, Array("chunkdup", "--p", "4", "--ref", "doc_id >= 100",
      "--output", s"$dir/cov", s"$dir/in"))
    val cov = spark.read.parquet(s"$dir/cov").orderBy($"doc_id")
      .select("doc_id", "coverage").as[(Long, Double)].collect().toSeq
    assert(cov.map(_._1) == Seq(1L, 2L))
    assert(cov(0)._2 > 0.5 && cov(1)._2 == 0.0, s"$cov")
  }

  test("strip --ref excises CDC chunks via the verb") {
    val dir = tmpDir("cli-cdcstrip")
    val passage = (1 to 40).map(i => s"p$i").mkString(" ")
    Seq((100L, s"lead in $passage out"),
      (1L, s"fresh prefix $passage suffix"),
      (2L, "novel text nothing shared at all with anything here ok"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("strip", "--ref", "doc_id >= 100", "--p", "4",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out").orderBy($"doc_id")
      .select("doc_id", "clean", "dropped_tokens")
      .as[(Long, String, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(out(0)._3 > 20 && !out(0)._2.contains("p10 p11"), s"${out(0)}")
    assert(out(1)._3 == 0L)
  }

  test("tokenize trains, saves, reloads, and encodes losslessly via the verb") {
    val dir = tmpDir("cli-tokenize")
    Seq((1L, "the cat sat on the mat"), (2L, "the mat sat on the cat"),
      (3L, "cats and mats")).toDF("doc_id", "text").write.parquet(s"$dir/in")

    Main.run(spark, Array("tokenize", "--merges", "20",
      "--save-merges", s"$dir/merges.tsv",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 3)
    // lossless: concat(tokens) reproduces the text
    val joined = out.join(spark.read.parquet(s"$dir/in"), "doc_id")
    assert(joined.filter(
      graft.text.Bpe.decode(col("tokens")) =!= col("text")).count() == 0)

    // saved merges reload to the identical table, and --load-merges
    // (encode-only, no training pass) gives the identical encoding
    val merges = graft.text.Bpe.loadMerges(s"$dir/merges.tsv")
    assert(merges.nonEmpty && merges.size <= 20)
    Main.run(spark, Array("tokenize", "--load-merges", s"$dir/merges.tsv",
      "--output", s"$dir/out2", s"$dir/in"))
    val a = spark.read.parquet(s"$dir/out").orderBy("doc_id")
      .as[(Long, Seq[String])].collect().toSeq
    val b = spark.read.parquet(s"$dir/out2").orderBy("doc_id")
      .as[(Long, Seq[String])].collect().toSeq
    assert(a == b)
  }

  test("tokenize --ids emits vocab positions; vocab file round-trips") {
    val dir = tmpDir("cli-ids")
    Seq((1L, "aa ab aa"), (2L, "ab aa"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("tokenize", "--merges", "4", "--ids",
      "--save-merges", s"$dir/m.tsv", "--save-vocab", s"$dir/v.txt",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    // parquet reads list elements back nullable — check the element type
    assert(out.schema("tokens").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.IntegerType)
    // the saved vocab decodes the ids back to the exact text
    val v = graft.text.Bpe.loadVocab(s"$dir/v.txt")
    assert(v.contains(" "), "whitespace tokens must survive the vocab file")
    val m = graft.text.Bpe.loadMerges(s"$dir/m.tsv")
    val joined = out.join(spark.read.parquet(s"$dir/in"), "doc_id")
    assert(joined.filter(
      graft.text.Bpe.decodeIds(col("tokens"), v) =!= col("text")).count() == 0)
    // encode-only path with both model files loaded gives identical ids
    Main.run(spark, Array("tokenize", "--load-merges", s"$dir/m.tsv",
      "--load-vocab", s"$dir/v.txt", "--output", s"$dir/out2", s"$dir/in"))
    assert(spark.read.parquet(s"$dir/out2").orderBy("doc_id")
      .as[(Long, Seq[Int])].collect().toSeq ==
      out.orderBy("doc_id").as[(Long, Seq[Int])].collect().toSeq)
  }

  test("recall verb scores an ANN method against the exact baseline") {
    val dir = tmpDir("cli-recall")
    (0L until 50L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 3 + j).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/in")
    Main.run(spark, Array("recall", "--queries", "3", "--k", "5",
      "--method", "ivf", "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 3)
    assert(out.filter(col("recall") < 0 || col("recall") > 1).count() == 0)
  }

  test("pack places token-counted docs into fixed sequences via the verb") {
    val dir = tmpDir("cli-pack")
    (0L until 30L).map(i => (i, 10L + i % 3))
      .toDF("doc_id", "n_tokens").write.parquet(s"$dir/in")
    Main.run(spark, Array("pack", "--seq-len", "64", "--shards", "2",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    // token mass conserved, offsets inside the sequence, both shards used
    assert(out.agg(sum("n_tokens")).head.getLong(0) ==
      (0L until 30L).map(i => 10L + i % 3).sum)
    assert(out.filter(col("offset") < 0 || col("offset") >= 64).count() == 0)
    assert(out.select("shard").distinct().count() == 2)
  }

  test("split assigns per-mille fractions; --pairs keeps clusters whole") {
    val dir = tmpDir("cli-split")
    (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/in")
    Seq((0L, 1L), (1L, 2L)).toDF("a", "b").write.parquet(s"$dir/pairs")
    Main.run(spark, Array("split", "--fractions", "train:700,test:300",
      "--output", s"$dir/plain", s"$dir/in"))
    val plain = spark.read.parquet(s"$dir/plain")
    assert(plain.count() == 100 &&
      plain.select("split").distinct().count() == 2)
    Main.run(spark, Array("split", "--fractions", "train:700,test:300",
      "--pairs", s"$dir/pairs", "--output", s"$dir/ca", s"$dir/in"))
    val ca = spark.read.parquet(s"$dir/ca").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(ca(0L) == ca(1L) && ca(1L) == ca(2L), "cluster must move whole")
  }

  test("rank retrieves BM25 top-k per probe query via the verb") {
    val dir = tmpDir("cli-rank")
    (0L until 40L).map { i =>
      val topic = if (i % 4 == 0) "apple orchard harvest" else "quarterly revenue report"
      (i, s"doc $i about $topic " + ("filler " * (i % 3).toInt))
    }.toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("rank", "--query", "t1:apple harvest;t2:revenue",
      "--k", "3", "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.select("query_id").distinct().count() == 2)
    assert(out.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 3L), "exactly k rows per query")
    // byte-equivalence with the library operator
    val direct = graft.text.Retrieval.bm25TopK(
        spark.read.parquet(s"$dir/in"), col("doc_id"),
        graft.text.TextFunctions.tokens(lower(col("text"))),
        Seq("t1" -> Seq("apple", "harvest"), "t2" -> Seq("revenue")), k = 3)
      .withColumnRenamed("__id", "doc_id")
    assert(out.orderBy("query_id", "rank")
      .as[(String, Long, Long, Double)].collect().toSeq ==
      direct.orderBy("query_id", "rank")
        .as[(String, Long, Long, Double)].collect().toSeq)
    // every t1 hit is an apple doc
    assert(out.filter(col("query_id") === "t1")
      .select("doc_id").as[Long].collect().forall(_ % 4 == 0))
  }

  test("score computes bigram cross-entropy; --band the percentile filter") {
    val dir = tmpDir("cli-score")
    (0L until 60L).map(i => (i, s"the cat sat on mat ${i % 5}", 100L + i))
      .toDF("doc_id", "text", "n_chars").write.parquet(s"$dir/in")
    Main.run(spark, Array("score", "--output", s"$dir/xent", s"$dir/in"))
    val xent = spark.read.parquet(s"$dir/xent")
    assert(xent.count() == 60, "one row per document")
    assert(xent.filter(col("n_bigrams") === 5L).count() == 60)
    val direct = graft.curation.LangModel.bigramCrossEntropy(
        spark.read.parquet(s"$dir/in"), col("doc_id"),
        graft.text.TextFunctions.tokens(lower(col("text"))))
      .select(col("__id"), round(col("xent"), 6).as("xent"))
      .as[(Long, Double)].collect().toMap
    assert(xent.select("doc_id", "xent").as[(Long, Double)].collect()
      .forall { case (id, x) => direct(id) == x })

    Main.run(spark, Array("score", "--band", "0.1,0.9",
      "--value-col", "n_chars", "--output", s"$dir/band", s"$dir/in"))
    val band = spark.read.parquet(s"$dir/band")
    assert(band.count() == 60)
    val within = band.filter(col("within")).count()
    assert(within > 0 && within < 60, "band must cut both tails")
  }

  test("score --ngram 3 runs the interpolated trigram LM via the verb") {
    val dir = tmpDir("cli-tri")
    Seq((1L, "a b c d e a b c d e"), (2L, "q r s t u v"), (3L, "xy"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("score", "--ngram", "3",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.columns.toSet == Set("doc_id", "n_trigrams", "xent"))
    assert(out.count() == 3)
    assert(out.where(col("doc_id") === 3L).head.getLong(1) == 0L,
      "two-token doc has zero trigrams via the verb too")
  }

  test("score --label runs the Naive Bayes classifier via the verb") {
    val dir = tmpDir("cli-classify")
    (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "apple banana cherry", "fruit")
      else (i, "bolt wrench gear", "tool")
    }.toDF("doc_id", "text", "src").write.parquet(s"$dir/in")
    Main.run(spark, Array("score", "--label", "src",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 40)
    assert(out.filter(col("label") =!= col("predicted")).count() == 0,
      "vocab-disjoint classes must self-classify through the verb")
  }

  test("ingest --backend txlog lands through the transaction-log backend") {
    val dir = tmpDir("cli-txlog")
    writeFile(dir, "landing/a.json",
      """{"event_id": 1, "ts": 1714557600.0, "v": 10}""" + "\n" +
        """{"event_id": 2, "ts": 1714557601.0, "v": 20}""" + "\n")
    writeFile(dir, "rules.json", """{
      "event": [{"name": "all", "when": "name LIKE '%.json'", "schemaRule": "ev"}],
      "schema": [{"name": "ev", "dataset": "'d'", "table": "'t'",
                  "partition": "day", "timestamp": "ts",
                  "id": "cast(event_id as string)"}]
    }""")
    Main.run(spark, Array("ingest", "--rules", s"$dir/rules.json",
      "--warehouse", s"$dir/wh", "--backend", "txlog", s"$dir/landing/*.json"))
    val backend = new graft.schema.TxLogBackend(s"$dir/wh")
    // the table exists ONLY in tx-log form: versioned manifest, no
    // registry layout — and reads back through the trait
    assert(backend.snapshotVersions("d", "t").nonEmpty)
    assert(graft.ingest.TableSink.read(spark, backend, "d", "t").count() == 2L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/wh/d/t/data=parquet")) ||
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/wh/d/t/_log")),
      "the tx-log layout must own the table")
  }

  test("txlog verbs: versions list, snapshot export is immutable, vacuum reclaims orphans") {
    val dir = tmpDir("cli-txlog-verbs")
    writeFile(dir, "landing/a.json",
      """{"event_id": 1, "ts": 1714557600.0, "v": 10}""" + "\n")
    writeFile(dir, "landing/b.json",
      """{"event_id": 2, "ts": 1714557601.0, "v": 20}""" + "\n")
    writeFile(dir, "rules.json", """{
      "event": [{"name": "all", "when": "name LIKE '%.json'", "schemaRule": "ev"}],
      "schema": [{"name": "ev", "dataset": "'d'", "table": "'t'",
                  "partition": "day", "timestamp": "ts",
                  "id": "cast(event_id as string)"}]
    }""")
    // two separate ingests → two commits
    Main.run(spark, Array("ingest", "--rules", s"$dir/rules.json",
      "--warehouse", s"$dir/wh", "--backend", "txlog", s"$dir/landing/a.json"))
    Main.run(spark, Array("ingest", "--rules", s"$dir/rules.json",
      "--warehouse", s"$dir/wh", "--backend", "txlog", s"$dir/landing/b.json"))
    val backend = new graft.schema.TxLogBackend(s"$dir/wh")
    val vs = backend.snapshotVersions("d", "t")
    assert(vs.size >= 2, s"two ingests must publish two commits: $vs")
    Main.run(spark, Array("txlog", "versions", "--warehouse", s"$dir/wh", "d.t"))
    // snapshot at the FIRST version sees only the first ingest's row
    Main.run(spark, Array("txlog", "snapshot", "--warehouse", s"$dir/wh",
      "--version", vs.head.toString, "--output", s"$dir/snap1", "d.t"))
    assert(spark.read.parquet(s"$dir/snap1").count() == 1L)
    // tip snapshot (no --version) sees both
    Main.run(spark, Array("txlog", "snapshot", "--warehouse", s"$dir/wh",
      "--output", s"$dir/snapTip", "d.t"))
    assert(spark.read.parquet(s"$dir/snapTip").count() == 2L)
    // vacuum: a stranded batch dir goes, committed data stays
    val orphan = java.nio.file.Paths.get(s"$dir/wh", "d", "t", "data", "batch-orphan")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("junk.parquet"), Array[Byte](1, 2))
    Main.run(spark, Array("txlog", "vacuum", "--warehouse", s"$dir/wh",
      "--older-than-ms", "0", "d.t"))
    assert(!java.nio.file.Files.exists(orphan))
    assert(graft.ingest.TableSink.read(spark, backend, "d", "t").count() == 2L)
    // diff v1..v2: exactly the second ingest's row-digest appears added
    Main.run(spark, Array("txlog", "diff", "--warehouse", s"$dir/wh",
      "--from", vs.head.toString, "--to", vs.max.toString,
      "--output", s"$dir/delta", "d.t"))
    val delta = spark.read.parquet(s"$dir/delta")
      .select("status", "n_before", "n_after").as[(String, Long, Long)].collect().toSeq
    assert(delta == Seq(("added", 0L, 1L)), s"$delta")
    // a compaction-only version diffs to EMPTY vs the tip before it —
    // the content-preservation proof as a one-command check
    Main.run(spark, Array("txlog", "compact", "--warehouse", s"$dir/wh", "d.t"))
    val vs2 = backend.snapshotVersions("d", "t")
    Main.run(spark, Array("txlog", "diff", "--warehouse", s"$dir/wh",
      "--from", vs.max.toString, "--to", vs2.max.toString,
      "--output", s"$dir/delta2", "d.t"))
    assert(spark.read.parquet(s"$dir/delta2").count() == 0L)
  }

  test("strip removes cross-doc duplicated spans via the verb") {
    val dir = tmpDir("cli-strip")
    val shared = (1 to 13).map(i => s"w$i").mkString(" ")
    Seq((1L, s"alpha $shared omega"), (2L, s"start $shared end"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("strip", "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out").orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0)._2 == s"alpha $shared omega" && out(0)._4 == 0L)
    assert(out(1)._2 == "start end" && out(1)._4 == 13L)
  }

  test("strip --intra cuts within-doc stutter via the verb") {
    val dir = tmpDir("cli-intra")
    val span = (1 to 13).map(i => s"w$i").mkString(" ")
    Seq((1L, s"$span mid $span"), (2L, "clean text with no repeats here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("strip", "--intra", "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out").orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0)._2 == s"$span mid" && out(0)._4 == 13L)
    assert(out(1)._4 == 0L)
  }

  test("phrases mines top-PMI collocations via the verb") {
    val dir = tmpDir("cli-phrases")
    (Seq.fill(6)("new york") ++ Seq.fill(6)("the cat the dog"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("phrases", "--min-count", "2", "--k", "3",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out").orderBy("rank")
      .as[(Long, String, String, Long, Double)].collect()
    assert(out.nonEmpty && out.head._2 == "new" && out.head._3 == "york")
  }

  test("dsir selects target-like docs via the verb with a SQL predicate") {
    val dir = tmpDir("cli-dsir")
    Seq((1L, "atoms orbit nuclei", "sci"), (2L, "cells divide fast", "sci"),
      (3L, "buy pills now", "spam"), (4L, "atoms divide fast", "unk"),
      (5L, "buy now click", "unk"))
      .toDF("doc_id", "text", "src").write.parquet(s"$dir/in")
    Main.run(spark, Array("dsir", "--target", "src = 'sci'", "--n", "3",
      "--buckets", "512", "--output", s"$dir/out", s"$dir/in"))
    val got = spark.read.parquet(s"$dir/out").orderBy("rank")
      .select("doc_id").as[Long].collect().toSeq
    assert(got.size == 3 && got.contains(4L) && !got.contains(5L),
      s"science-leaning probe must beat the spam probe: $got")
  }

  test("health reports drift + overlap + embedding diagnostics via the verb") {
    val dir = tmpDir("cli-health")
    Seq(("a", "x x y z"), ("a", "x y z x"), ("b", "x x y z"),
      ("c", "q q q r"), ("c", "q r q q"))
      .toDF("source", "text").write.parquet(s"$dir/docs")
    (0 until 12).map(i => (i.toLong, i % 2,
      Array((i % 2) * 5f + 0.3f * (i % 3), 1f)))
      .toDF("vec_id", "label", "embedding").write.parquet(s"$dir/emb")
    Main.run(spark, Array("health", "--overlap",
      "--embeddings", s"$dir/emb", "--label", "label",
      "--output", s"$dir/out", s"$dir/docs"))
    val drift = spark.read.parquet(s"$dir/out/drift")
    assert(drift.count() == 3 &&
      drift.columns.toSet == Set("group", "n_tokens", "kl", "zipf_slope"))
    assert(spark.read.parquet(s"$dir/out/overlap").count() >= 1,
      "a/b share every span, so at least one overlap row")
    assert(spark.read.parquet(s"$dir/out/fisher").count() == 2)
  }

  test("negatives mines cross-label pairs via the verb, exact and IVF") {
    val dir = tmpDir("cli-neg")
    (0 until 20).map(i => (i.toLong, i % 2,
      Array((i % 2) * 4f + 0.1f * i, 1f)))
      .toDF("vec_id", "label", "embedding").write.parquet(s"$dir/in")
    Main.run(spark, Array("negatives", "--queries", "vec_id < 3", "--k", "4",
      "--output", s"$dir/exact", s"$dir/in"))
    val exact = spark.read.parquet(s"$dir/exact")
    assert(exact.count() == 12 &&
      exact.where(col("query_label") === col("neighbor_label")).count() == 0)
    Main.run(spark, Array("negatives", "--queries", "vec_id < 3", "--k", "4",
      "--nlist", "4", "--nprobe", "4", "--output", s"$dir/ivf", s"$dir/in"))
    assert(spark.read.parquet(s"$dir/ivf").orderBy("query_id", "rk")
      .collect().toSeq ==
      exact.orderBy("query_id", "rk").collect().toSeq,
      "exhaustive IVF probe must equal the exact verb output")
  }

  test("agree scores kNN label agreement via the verb") {
    val dir = tmpDir("cli-agree")
    ((0 until 8).map(i => (i.toLong, 0, Array(1f, 0.01f * i))) ++
      (8 until 16).map(i => (i.toLong, 1, Array(0.01f * i, 1f))) :+
      ((99L, 0, Array(0.01f, 1f))))
      .toDF("vec_id", "label", "embedding").write.parquet(s"$dir/in")
    Main.run(spark, Array("agree", "--k", "5",
      "--output", s"$dir/out", s"$dir/in"))
    val out = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(99L) == 0.0, s"planted mislabel must flag: $out")
    assert(out.size == 17)
  }

  test("calibrate reads out the cosine-threshold percentiles via the verb") {
    val dir = tmpDir("cli-calibrate")
    // two tight clusters → the similarity distribution is bimodal and
    // p99 (within-cluster mass) sits far above p50 (cross-cluster)
    ((0 until 40).map(i => (i.toLong, Array(1f, 0.001f * i))) ++
      (40 until 80).map(i => (i.toLong, Array(0.001f * i, 1f))))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/in")
    Main.run(spark, Array("calibrate", "--sample-mod", "2",
      "--output", s"$dir/out", s"$dir/in"))
    val r = spark.read.parquet(s"$dir/out").head()
    assert(r.getLong(0) > 10 && r.getLong(1) > 40, s"sampled pairs: $r")
    assert(r.getDouble(4) > r.getDouble(2),
      s"p99 above p50 on a bimodal corpus: $r")
    assert(r.getDouble(4) > 0.9, s"within-cluster p99 is near 1: $r")
  }

  test("freq mines exact frequent tokens via the verb") {
    val dir = tmpDir("cli-freq")
    ((Seq.fill(30)("hot") ++ (1 to 70).map(i => s"t$i")).grouped(4)
      .map(_.mkString(" ")).toSeq.zipWithIndex
      .map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.run(spark, Array("freq", "--support", "1/5",
      "--output", s"$dir/out", s"$dir/in"))
    val got = spark.read.parquet(s"$dir/out").as[(String, Long)].collect().toSeq
    assert(got == Seq(("hot", 30L)), s"exact answer is {hot:30}: $got")
  }

  test("score --save-model / --load-model: train once, score a fresh (even unlabeled) feed") {
    val dir = tmpDir("cli-model")
    (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "apple banana cherry", "fruit")
      else (i, "bolt wrench gear", "tool")
    }.toDF("doc_id", "text", "src").write.parquet(s"$dir/train")
    // NB: train + freeze in one pass
    Main.run(spark, Array("score", "--label", "src",
      "--save-model", s"$dir/nb",
      "--output", s"$dir/self", s"$dir/train"))
    // an unlabeled live feed routed by the frozen model (no --label)
    Seq((100L, "banana apple apple"), (101L, "wrench bolt"))
      .toDF("doc_id", "text").write.parquet(s"$dir/live")
    Main.run(spark, Array("score", "--load-model", s"$dir/nb",
      "--output", s"$dir/routed", s"$dir/live"))
    val routed = spark.read.parquet(s"$dir/routed").orderBy("doc_id").collect()
    assert(routed.map(_.getString(2)).toSeq == Seq("fruit", "tool"))
    assert(routed.forall(_.isNullAt(1)), "no label column -> null passthrough")

    // bigram LM: frozen artifact reproduces the self-trained scores
    Main.run(spark, Array("score", "--save-model", s"$dir/lm",
      "--output", s"$dir/lm-self", s"$dir/train"))
    Main.run(spark, Array("score", "--load-model", s"$dir/lm",
      "--output", s"$dir/lm-stored", s"$dir/train"))
    val a = spark.read.parquet(s"$dir/lm-self")
      .select("doc_id", "xent").as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = spark.read.parquet(s"$dir/lm-stored")
      .select("doc_id", "xent").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b, "frozen bigram model must reproduce self-scores")
    // trigram artifacts are rejected loudly
    val e = intercept[IllegalArgumentException](Main.run(spark,
      Array("score", "--ngram", "3", "--save-model", s"$dir/bad",
        "--output", s"$dir/x", s"$dir/train")))
    assert(e.getMessage.contains("bigram-only"))
  }

  test("full curation pipeline: ingest → strip --intra → sample → split → pack over one warehouse") {
    val dir = tmpDir("cli-pipeline")

    // 1. ingest: NDJSON landing zone → warehouse table raw.docs. Even
    // docs carry a stuttered 5-gram (the crawl-loop pathology the
    // intra-strip stage exists for).
    val loop = (1 to 5).map(i => s"loop$i").mkString(" ")
    def text(i: Long): String = {
      val body = (0 until 12).map(j => s"tok${(i * 5 + j) % 17}").mkString(" ")
      if (i % 2 == 0) s"$body $loop $loop" else body
    }
    writeFile(dir, "landing/docs.json", (0L until 40L).map(i =>
      s"""{"doc_id": $i, "ts": ${1714557600.0 + i}, "text": "${text(i)}"}""")
      .mkString("", "\n", "\n"))
    writeFile(dir, "rules.json", """{
      "event": [{"name": "all", "when": "name LIKE '%.json'", "schemaRule": "docs"}],
      "schema": [{"name": "docs", "dataset": "'raw'", "table": "'docs'",
                  "partition": "day", "timestamp": "ts",
                  "id": "cast(doc_id as string)"}]
    }""")
    Main.run(spark, Array("ingest", "--rules", s"$dir/rules.json",
      "--warehouse", s"$dir/wh", s"$dir/landing/*.json"))

    // 2. strip --intra from the warehouse table ref, projecting the
    // payload fields out of the ingest envelope at read
    Main.run(spark, Array("strip", "--intra", "--k", "5",
      "--warehouse", s"$dir/wh",
      "--select", "data.doc_id AS doc_id,data.text AS text",
      "--output", s"$dir/stripped", "raw.docs"))
    val stripped = spark.read.parquet(s"$dir/stripped")
    assert(stripped.count() == 40)
    assert(stripped.filter(col("doc_id") % 2 === 0)
      .filter(col("n_removed") === 0).count() == 0,
      "every stuttered doc must lose its repeated span")
    assert(stripped.filter(col("doc_id") % 2 === 1)
      .filter(col("n_removed") > 0).count() == 0,
      "clean docs stay untouched")

    // 3. uniform sample of the cleaned corpus
    Main.run(spark, Array("sample", "--per-mille", "700",
      "--output", s"$dir/sampled", s"$dir/stripped"))
    val nSampled = spark.read.parquet(s"$dir/sampled").count()
    assert(nSampled > 0 && nSampled < 40)

    // 4. train/test split of the sampled slice
    Main.run(spark, Array("split", "--fractions", "train:800,test:200",
      "--output", s"$dir/split", s"$dir/sampled"))
    assert(spark.read.parquet(s"$dir/split").count() == nSampled)

    // 5. pack into fixed-length training sequences on the surviving
    // token budget (n_tokens - n_removed would need a projection; the
    // original count is the conservative bound a packer can use)
    Main.run(spark, Array("pack", "--seq-len", "32",
      "--count-col", "n_tokens", "--output", s"$dir/packed", s"$dir/split"))
    val packed = spark.read.parquet(s"$dir/packed")
    assert(packed.select("doc_id").distinct().count() == nSampled,
      "every split doc lands in a pack")

    // hash check: the five-verb chain is byte-equivalent to composing
    // the library operators directly over the ingested table
    val raw = graft.ingest.TableSink.read(spark,
        new graft.schema.SchemaRegistry(s"$dir/wh"), "raw", "docs")
      .selectExpr("data.doc_id AS doc_id", "data.text AS text")
    val direct = graft.curation.Packing.packPositions(
      graft.curation.Sampling.datasetSplit(
        graft.curation.Sampling.uniformSample(
          graft.dedup.Dedup.stripIntraDocRepeats(raw, k = 5),
          col("doc_id"), 700),
        col("doc_id"), Seq("train" -> 800, "test" -> 200)),
      col("doc_id"), col("n_tokens"), seqLen = 32, nShards = 1)
    def md5Of(df: org.apache.spark.sql.DataFrame): String = {
      val rows = df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).sorted.mkString("\n")
      java.security.MessageDigest.getInstance("MD5")
        .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(md5Of(packed) == md5Of(direct),
      "verb chain and library composition must hash identically")
  }
}
