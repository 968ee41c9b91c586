package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over a lazy dog"), // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "spark engines content completely different about"), // permutation of 4
    (6L, "")).toDF("doc_id", "text")

  test("connectedComponents: chains close transitively, min id is the label") {
    // components: {1,2,3,4} (a path — the min label needs multiple
    // propagation hops to reach vertex 4) and {7,8}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (7L, 8L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("incrementalCandidates: new batch collides with stored corpus bands only") {
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("t", graft.text.TextFunctions.tokens($"text"))
      .withColumn("sh", graft.text.TextFunctions.wordShinglesOf($"t", 3))
      .select($"doc_id", Dedup.minhashSignatureOf($"sh", 8).as("sig"))
    val corpus = docs.filter($"doc_id" <= 4)
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // dup of corpus 1
      (101L, "entirely novel text with no corpus overlap whatsoever"))
      .toDF("doc_id", "text")
    val store = Dedup.banded(sig(corpus), "doc_id", "sig", bands = 4)
    val hits = Dedup.incrementalCandidates(sig(batch), store, "doc_id", "sig", 4)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(hits.contains((100L, 1L))) // the duplicate is caught
    assert(!hits.exists(_._1 == 101L)) // the novel doc collides with nothing
  }

  test("contamination: flags non-eval docs sharing a k-gram with eval; clean docs pass") {
    val span = (1 to 13).map(i => s"w$i").mkString(" ") // one exact 13-gram
    val corpus = Seq(
      (10L, s"eval doc starts $span and then ends"), // eval (id % 10 == 0)
      (11L, s"train doc leaked $span inside it"), // contaminated
      (12L, "a clean training document with no overlap at all whatsoever here"),
      (13L, "short")) // fewer than k tokens -> no grams, never flagged
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, $"doc_id" % 10 === 0, k = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hits == Seq((11L, 1L)))
  }

  test("bloomNewDocs: exact vs stored corpus; saturated filter still exact") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "zeta eta theta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma"), // exact dup of corpus 1
      (11L, "totally new document"),
      (12L, "delta epsilon"), // exact dup of corpus 2
      (13L, "another new one"),
      (14L, "alpha beta gamma extended")) // near-dup but NOT exact → new
      .toDF("doc_id", "text")
    val digests = corpus.select(Dedup.contentKey(col("text")).as("digest"))

    // well-sized filter: dups drop, new docs (incl. the near-dup) pass
    val sized = Dedup.digestFilter(corpus, "text", 16L, Dedup.bloomBits(16L, 0.01))
    val kept = Dedup.bloomNewDocs(batch, digests, "text", sized)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L, 13L, 14L))

    // SATURATED filter (3 items into 8 bits → fpp ≈ 1): every row becomes
    // a candidate, and the exact-verify stage must still reject only the
    // true dups — correctness never depends on the filter's sizing
    val saturated = Dedup.digestFilter(corpus, "text", 16L, 8L)
    val keptSat = Dedup.bloomNewDocs(batch, digests, "text", saturated)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptSat == kept, "bloom false positives must not drop new docs")
  }

  test("bloomBits: standard sizing formula, monotone in items and precision") {
    assert(Dedup.bloomBits(1000L, 0.01) > Dedup.bloomBits(1000L, 0.1))
    // linear in items (up to ceil rounding)
    val r = Dedup.bloomBits(10000L, 0.01).toDouble / Dedup.bloomBits(1000L, 0.01)
    assert(math.abs(r - 10.0) < 0.01, s"ratio $r")
    // ~9.59 bits/item at 1% — the textbook constant
    val perItem = Dedup.bloomBits(1000000L, 0.01).toDouble / 1000000L
    assert(perItem > 9.0 && perItem < 10.0, s"bits/item $perItem")
  }

  test("exact dedup keeps lowest id per identical content") {
    val kept = Dedup.exact(docs, "text", "doc_id").select("doc_id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("minhash signature: length k, deterministic, similar docs agree more") {
    val sigs = docs.filter($"doc_id" <= 4)
      .select($"doc_id", Dedup.minhashSignature($"text", 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L).length == 16)
    assert(sigs(1L) == sigs(2L)) // identical text, identical signature
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val agree14 = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree13 > agree14)
  }

  test("lsh candidates find near-dup pair without full cross product") {
    val sigged = docs.filter(length($"text") > 0)
      .select($"doc_id", Dedup.minhashSignature($"text", 16).as("sig"))
    // r=1 rows per band: collision prob per band = jaccard (~0.4 for
    // the 1↔3 near-dup), so 16 bands make a miss vanishingly unlikely
    val pairs = Dedup.lshCandidates(sigged, "doc_id", "sig", bands = 16)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
  }

  test("sharedSpanPairs: local overlap pairs docs whole-doc similarity misses; df cut prunes boilerplate") {
    val para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val spanDocs = Seq(
      (1L, s"one unrelated preamble here $para and a different ending x1 y1 z1"),
      (2L, s"totally other opening w2 v2 u2 $para closing words q2 r2 s2"),
      (3L, "no shared content at all just its own words m3 n3 o3 p3 q3 r3 s3 t3 u3 v3"),
      (4L, "tiny")).toDF("doc_id", "text")
    val pairs = Dedup.sharedSpanPairs(spanDocs, "doc_id", "text",
      shingleK = 3, w = 4, minShared = 2)
    val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(t => (t._1, t._2)).toSeq == Seq((1L, 2L)),
      s"only the docs sharing the planted paragraph may pair, got ${rows.toSeq}")
    assert(rows.head._3 >= 2, "the shared span must contribute >= minShared fingerprints")
    // whole-doc contrast: the same pair is BELOW a 0.5 Jaccard (the span
    // is a minority of each doc) — this operator exists for exactly that
    val j = Dedup.jaccardPairs(spanDocs, "doc_id", "text", shingleK = 3, threshold = 0.5)
    assert(j.filter(col("a") === 1L && col("b") === 2L).isEmpty,
      "whole-doc Jaccard must miss the local overlap sharedSpanPairs catches")
    // df cut: make the paragraph corpus boilerplate (in EVERY doc) — a
    // maxDocFreq below the corpus size prunes it and no pairs survive
    val boiler = Seq(
      (1L, s"$para ending one e1 f1 g1"),
      (2L, s"$para ending two e2 f2 g2"),
      (3L, s"$para ending three e3 f3 g3")).toDF("doc_id", "text")
    assert(Dedup.sharedSpanPairs(boiler, "doc_id", "text",
      shingleK = 3, w = 4, minShared = 2, maxDocFreq = 2).isEmpty,
      "fingerprints above the document-frequency cap must not generate pairs")
  }

  test("jaccardPairs: exact similarity, dup pair scores 1.0") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", shingleK = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.contains((1L, 4L))) // no shared shingles
  }

  test("lshJaccardPairs matches the exhaustive jaccardPairs edge set (recall + " +
    "exact precision) and leaves no cache behind") {
    // start from a clean slate so the hygiene assert below measures THIS
    // test's calls, not leftovers from other suites on the shared session
    spark.catalog.clearCache()
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", shingleK = 2,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.lshJaccardPairs(docs, "doc_id", "text", shingleK = 2,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact) // every exact edge found, sims identical
    // hygiene: the big intermediates (postings / pruned sets) are
    // released; only output-sized localCheckpoints may remain
    assert(spark.sharedState.cacheManager.isEmpty,
      "no DataFrame caches may outlive the dedup calls")
  }

  test("simhash: identical for dups, close for near-dups, far for unrelated") {
    val sigs = docs.filter(length($"text") > 0)
      .select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(4L) == sigs(5L)) // simhash ignores token order (bag of words)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
  }

  test("simhashNearDup blocks and verifies by hamming distance") {
    val sigged = docs.filter(length($"text") > 0)
      .select($"doc_id", Dedup.simhash($"text").as("sh"))
    val closePairs = Dedup.simhashNearDup(sigged, "doc_id", "sh", maxHamming = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(closePairs.contains((1L, 2L)))
    assert(closePairs.contains((4L, 5L)))
  }

  test("incrementalSimhash: batch probes the stored sigs one-sided") {
    val sigged = docs.filter(length($"text") > 0)
      .select($"doc_id", Dedup.simhash($"text").as("sh"))
    val corpus = sigged.filter($"doc_id" <= 3)
    val batch = sigged.filter($"doc_id" > 3)
    val hits = Dedup.incrementalSimhash(batch, corpus, "doc_id", "sh",
      maxHamming = 8).as[(Long, Long, Int)].collect()
    // one-sided: every pair is (new, corpus) — never corpus × corpus
    assert(hits.forall(h => h._1 > 3L && h._2 <= 3L))
    // symmetric with the batch-mode operator on the same boundary
    val all = Dedup.simhashNearDup(sigged, "doc_id", "sh", maxHamming = 8)
      .as[(Long, Long, Int)].collect()
      .filter(p => (p._1 <= 3L) != (p._2 <= 3L))
      .map(p => if (p._1 > 3L) (p._1, p._2, p._3) else (p._2, p._1, p._3)).toSet
    assert(hits.toSet == all)
  }

  test("containmentPairs: a quoted doc is contained, not jaccard-similar") {
    val quote = (1 to 10).map(i => s"q$i").mkString(" ")
    val article = s"intro words here $quote and a long tail " +
      (1 to 30).map(i => s"t$i").mkString(" ")
    val in = Seq((1L, quote), (2L, article), (3L, "unrelated other text entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(in, "doc_id", "text",
      shingleK = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    // the quote's shingles all appear in the article → containment 1.0
    // in that direction ONLY (the article is not contained in the quote)
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(pairs.head._3 == 1.0)
    // symmetric jaccard on the same pair stays far below the threshold
    val jac = Dedup.jaccardPairs(in, "doc_id", "text", shingleK = 3)
      .filter($"a" === 1L && $"b" === 2L).select("sim").as[Double].head()
    assert(jac < 0.3, s"jaccard $jac should miss what containment catches")
  }

  test("stripDuplicateSpans: keep-first cross-doc removal; within-doc repeats untouched") {
    val shared = (1 to 13).map(i => s"w$i").mkString(" ")
    val in = Seq(
      (1L, s"alpha $shared omega"),  // min-id holder keeps the span
      (2L, s"start $shared end"),    // non-keeper: span cut, rest joined
      (3L, Seq.fill(14)("self").mkString(" ")), // within-doc dup only
      (4L, shared))                  // entirely duplicated → empty
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(in, k = 13)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == (1L, s"alpha $shared omega", 15L, 0L))
    assert(out(1) == (2L, "start end", 15L, 13L))
    assert(out(2) == (3L, Seq.fill(14)("self").mkString(" "), 14L, 0L))
    assert(out(3) == (4L, "", 13L, 13L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the postings cache must be released")
  }

  test("stripIntraDocRepeats: the dual — within-doc stutter cut, cross-doc shares kept") {
    val shared = (1 to 13).map(i => s"w$i").mkString(" ")
    val stutter = Seq.fill(14)("self").mkString(" ")
    val in = Seq(
      (1L, s"alpha $shared omega"), // cross-doc share only → untouched
      (2L, s"start $shared end"),   // ditto (intra mode ignores doc 1)
      (3L, stutter),                // "self"×14: gram at pos 0 kept, pos 1 on cut
      (4L, s"$shared mid $shared")) // same span twice in ONE doc → second cut
      .toDF("doc_id", "text")
    val out = Dedup.stripIntraDocRepeats(in, k = 13)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == (1L, s"alpha $shared omega", 15L, 0L))
    assert(out(1) == (2L, s"start $shared end", 15L, 0L))
    // "self"×14 has two 13-gram positions; pos 1's span covers idx 1..13
    assert(out(2) == (3L, "self", 14L, 13L))
    assert(out(3) == (4L, s"$shared mid", 27L, 13L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the postings cache must be released")
  }

  test("fuzzyContamination catches a drifted eval leak that exact k-grams miss") {
    val answer = (1 to 30).map(i => s"ans$i").mkString(" ")
    // the leak: the same answer with one token swapped mid-way — no
    // shared EXACT 13-gram crossing the edit, but plenty of intact
    // local spans on either side
    val leaked = (1 to 30).map(i => if (i == 15) "EDIT" else s"ans$i").mkString(" ")
    val docs = Seq(
      (10L, answer),                      // eval doc (id % 10 == 0)
      (1L, leaked),                       // near-verbatim train leak
      (2L, "totally unrelated words here one two three four five six"))
      .toDF("doc_id", "text")
    // exact 13-gram: the edit splits the doc into 14-token halves, so
    // some exact grams DO survive — tighten by editing every 10th token
    val drifted = (1 to 30).map(i => if (i % 10 == 0) s"x$i" else s"ans$i").mkString(" ")
    val docs2 = Seq((10L, answer), (1L, drifted), (2L, "unrelated filler"))
      .toDF("doc_id", "text")
    val exact = Dedup.contamination(docs2, col("doc_id") % 10 === 0, k = 13)
      .collect().map(_.getLong(0)).toSet
    assert(!exact.contains(1L),
      "every-10th-token drift must defeat exact 13-gram matching")
    val fuzzy = Dedup.fuzzyContamination(docs2, col("doc_id") % 10 === 0,
      shingleK = 3, w = 4, minShared = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fuzzy.contains(1L),
      s"winnow fingerprints must still flag the drifted leak: $fuzzy")
    assert(!fuzzy.contains(2L), "unrelated doc stays clean")
    // and a verbatim leak is caught by both
    val both = Dedup.fuzzyContamination(docs, col("doc_id") % 10 === 0)
      .collect().map(_.getLong(0)).toSet
    assert(both.contains(1L))
  }

  test("operators that read one derived frame twice compute each input row once") {
    // docs pass through a counting UDF: every evaluation beyond one per
    // row is a frame the operator computed twice (nondeterministic, so
    // the optimizer neither duplicates nor moves it)
    val evals = spark.sparkContext.longAccumulator("strip-evals")
    val seen = udf((t: String) => { evals.add(1L); t }).asNondeterministic()
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 30).map(j => s"f${i / 2}x$j").mkString(" ")))
      .toDF("doc_id", "text").withColumn("text", seen(col("text")))
    def evaluations(run: => Unit): Long = { evals.reset(); run; evals.value }
    assert(evaluations(Dedup.fuzzyContamination(docs, col("doc_id") % 10 === 0)
      .collect()) == 40L)
    assert(evaluations(Dedup.stripDuplicateSpans(docs, 13).collect()) == 40L)
    assert(evaluations(Dedup.stripIntraDocRepeats(docs, 13).collect()) == 40L)
    assert(evaluations(Dedup.contamination(docs, col("doc_id") % 10 === 0)
      .collect()) == 40L)
    assert(evaluations(Dedup.jaccardPairs(docs, "doc_id", "text").collect()) == 40L)
    assert(evaluations(Dedup.containmentPairs(docs, "doc_id", "text").collect()) == 40L)
    assert(evaluations(Dedup.sharedSpanPairs(docs, "doc_id", "text").collect()) == 40L)
  }

  test("clusterKeepBest retains the argmax member; singletons keep themselves") {
    // cluster {1,2,3} via pairs; doc 2 scores highest; 9 is a singleton
    val docs = Seq((1L, 10), (2L, 30), (3L, 20), (9L, 5))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Dedup.clusterKeepBest(docs, "doc_id", "score", pairs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 1L, 2L, false), (2L, 1L, 2L, true),
      (3L, 1L, 2L, false), (9L, 9L, 9L, true)), out.toString)
    // score tie breaks on the smaller id
    val tied = Seq((1L, 7), (2L, 7)).toDF("doc_id", "score")
    val t = Dedup.clusterKeepBest(tied, "doc_id", "score",
        Seq((1L, 2L)).toDF("a", "b"))
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(t.map(_._3) == Seq(1L, 1L), s"tie keeps min id: $t")
  }

  test("cdcChunks: boundaries are shift-invariant; chunks cover the doc exactly") {
    // the same long passage embedded at DIFFERENT offsets in two hosts
    val passage = (1 to 40).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $passage"),
      (2L, s"one two three four five six seven $passage tail word"),
      (3L, "entirely different content with no shared passage at all here"))
      .toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs, k = 3, p = 4)
    // chunk token counts reconstruct each doc exactly (full coverage,
    // no overlap, no loss)
    val cover = chunks.groupBy("doc_id").agg(sum("chunk_tokens").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(cover == Map(1L -> 42L, 2L -> 49L, 3L -> 10L), s"$cover")
    // shift-invariance: interior chunks of the shared passage collide
    // across hosts despite the different offsets
    val dup = Dedup.cdcDuplicateChunks(docs, k = 3, p = 4)
    val shared = dup.filter($"n_docs" === 2).count()
    assert(shared >= 1, "interior chunks of the shared passage must collide")
    // determinism under partitioning
    val again = Dedup.cdcChunks(docs.repartition(5), k = 3, p = 4)
    assert(chunks.exceptAll(again).isEmpty && again.exceptAll(chunks).isEmpty)
    // short docs (< k tokens) are skipped, not crashed
    val tiny = Dedup.cdcChunks(Seq((9L, "ab cd")).toDF("doc_id", "text"), k = 3, p = 4)
    assert(tiny.count() == 0)
  }

  test("corpusDiff: delta-sized report with added/removed/changed and anchors") {
    val before = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "gamma"))
      .toDF("doc_id", "text")
    val after = Seq((10L, "alpha"), (11L, "delta"), (12L, "gamma"))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiff(before, after)
      .select($"status", $"n_before", $"n_after", $"example_before", $"example_after")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // alpha unchanged (1->1, absent); beta removed; gamma 2->1 changed;
    // delta added
    assert(got == Set(
      ("removed", 1L, 0L, 2L, -1L),
      ("changed", 2L, 1L, 3L, 12L),
      ("added", 0L, 1L, -1L, 11L)), s"$got")
    // identical corpora diff to empty
    assert(Dedup.corpusDiff(before, before).count() == 0)
  }

  test("cdcStrip: excises reference chunks wherever they sit, keeps the rest in order") {
    val passage = (1 to 40).map(i => s"p$i").mkString(" ")
    val ref = Seq((100L, s"lead in words $passage and out")).toDF("doc_id", "text")
    val refD = Dedup.cdcDigests(ref, k = 3, p = 4)
    val probe = Seq(
      (1L, s"some fresh prefix $passage suffix here"),
      (2L, "completely novel text nothing shared with reference at all ok"))
      .toDF("doc_id", "text")
    val got = Dedup.cdcStrip(probe, refD, k = 3, p = 4).orderBy($"doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    val (d1, d2) = (got(0), got(1))
    // the shared passage's interior chunks are gone from doc 1; the
    // doc's own words survive in order
    assert(d1._4 > 20 && d1._2.startsWith("some fresh prefix"), s"$d1")
    assert(!d1._2.contains("p10 p11"), s"interior of the passage must be cut: $d1")
    // accounting reconciles with the doc (45 tokens total)
    assert(d1._3 + d1._4 == 45L)
    // untouched doc comes back verbatim (chunks rejoin with spaces)
    assert(d2._2 == "completely novel text nothing shared with reference at all ok"
      && d2._4 == 0L, s"$d2")
    // a doc that IS a reference chunk loses everything -> empty clean
    val allDup = Dedup.cdcStrip(ref, refD, k = 3, p = 4)
      .as[(Long, String, Long, Long)].head()
    assert(allDup._2 == "" && allDup._3 == 0L)
  }

  test("cdcCoverage: token-weighted duplication fraction against a reference set") {
    val passage = (1 to 40).map(i => s"p$i").mkString(" ")
    val ref = Seq((100L, s"lead in words $passage and out")).toDF("doc_id", "text")
    val probe = Seq(
      (1L, s"some fresh prefix $passage suffix here"),  // mostly copied
      (2L, "completely novel text nothing shared with reference at all ok"))
      .toDF("doc_id", "text")
    val got = Dedup.cdcCoverage(probe,
        Dedup.cdcDigests(ref, k = 3, p = 4), k = 3, p = 4)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 1: interior chunks of the passage collide -> high coverage;
    // doc 2: zero
    assert(got.size == 2)
    val (d1, d2) = (got(0), got(1))
    assert(d1._1 == 1L && d1._4 > 0.5, s"leak doc must score high: $d1")
    assert(d2._1 == 2L && d2._3 == 0L && d2._4 == 0.0, s"clean doc scores 0: $d2")
    // total tokens reconstruct the doc
    assert(d1._2 == 45L && d2._2 == 10L, s"$got")
  }
}
