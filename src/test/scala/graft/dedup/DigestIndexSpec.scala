package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted exact-verify digest store and its classification
  * contract ([[Dedup.indexedDupDigests]]): different-id matches drop
  * with ZERO corpus reads, same-id matches (replay/crash windows)
  * disambiguate against the corpus for exactly that digest set.
  */
class DigestIndexSpec extends SparkSpec {
  import spark.implicits._

  private val spec = DigestIndex.Spec(8)

  private def digested(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
      .withColumn("digest", Dedup.contentKey(col("text")))
      .select($"doc_id", $"digest")

  /** [[DigestIndex.probe]] with the batch's touched buckets taken by
    * [[DigestIndex.touched]] (a spec has no stage to observe them on). */
  private def probe(batch: DataFrame, idCol: String, digestCol: String,
      dir: String, s: DigestIndex.Spec): DataFrame =
    DigestIndex.probe(batch, idCol, digestCol, dir, s,
      DigestIndex.touched(batch, digestCol, s))

  /** A corpusDigests thunk that fails the test if evaluated — the
    * steady-state contract is "no corpus read at all". */
  private def corpusMustNotBeRead: DataFrame =
    sys.error("steady-state verify must not read the corpus")

  test("touched observes exactly the batch's key buckets and key rows, past 64 buckets too") {
    def bucketsOf(keys: DataFrame, n: Int) =
      keys.select(pmod(xxhash64(col("k")), lit(n.toLong)).cast("int")).as[Int].collect().toSet
    val batch = digested((0L until 300L).map(i => (i, s"touched doc $i")))
      .union(Seq((900L, null: String)).toDF("doc_id", "digest"))
    val t = DigestIndex.touched(batch, "digest", DigestIndex.Spec(150))
    val want = bucketsOf(batch.select(col("digest").as("k")).filter($"k".isNotNull), 150)
    assert(want.exists(_ >= 128), "the third 64-bucket word must be exercised")
    assert(t.buckets.sorted == want.toSeq.sorted && t.rows == 300L)
    val sigs = ((0L until 40L).map(i => (i, Seq.tabulate(8)(j => i * 31 + j))) :+
      (99L, null: Seq[Long])).toDF("doc_id", "sig")
    val b = BandIndex.touched(sigs, "sig", BandIndex.Spec(bands = 4, buckets = 100))
    val bandWant = bucketsOf(sigs.filter($"sig".isNotNull)
      .select(explode(Dedup.bandKeys(col("sig"), 4)).as("k")), 100)
    assert(b.buckets.sorted == bandWant.toSeq.sorted && b.rows == 40L * 4)
  }

  test("probe returns matches only from touched buckets; misses return empty") {
    val dir = tmpDir("dix-probe")
    val corpus = digested((0L until 50L).map(i => (i, s"doc $i")))
    DigestIndex.rebuild(corpus, "doc_id", "digest", dir, spec, corpus.count())
    assert(DigestIndex.readMeta(spark, dir).contains(spec))
    val batch = digested(Seq((100L, "doc 7"), (101L, "novel content")))
    val m = probe(batch, "doc_id", "digest", dir, spec)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(m == Set((100L, 7L)))
    // a batch with no candidates probes to empty without error
    assert(probe(batch.filter($"doc_id" < 0L),
      "doc_id", "digest", dir, spec).count() == 0L)
  }

  test("probe against an EMPTY rebuilt layout reads as empty, not lost") {
    val dir = tmpDir("dix-empty")
    DigestIndex.rebuild(digested(Nil), "doc_id", "digest", dir, spec, 0L)
    assert(DigestIndex.layoutExists(spark, dir, spec))
    val batch = digested(Seq((1L, "anything")))
    assert(probe(batch, "doc_id", "digest", dir, spec).count() == 0L)
  }

  test("bucketing change rebuilds into a fresh layout with an atomic pointer flip") {
    val dir = tmpDir("dix-resize")
    val corpus = digested((0L until 20L).map(i => (i, s"d$i")))
    DigestIndex.rebuild(corpus, "doc_id", "digest", dir, spec, corpus.count())
    val spec2 = DigestIndex.Spec(16)
    DigestIndex.rebuild(corpus, "doc_id", "digest", dir, spec2, corpus.count())
    assert(DigestIndex.readMeta(spark, dir).contains(spec2))
    assert(DigestIndex.layoutExists(spark, dir, spec2))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, spec.layoutDir)),
      "superseded digest layout must be garbage-collected after the flip")
    // and the rebuilt layout still answers probes
    val m = probe(digested(Seq((90L, "d3"))), "doc_id", "digest",
      dir, spec2).select("corpus_id").as[Long].collect().toSeq
    assert(m == Seq(3L))
  }

  test("a torn meta tmp (crash mid-write) is inert: the committed pointer stays active") {
    val dir = tmpDir("dix-torn-tmp")
    DigestIndex.rebuild(digested(Seq((1L, "one"))), "doc_id", "digest", dir, spec, 1L)
    // a crash between the tmp write and its rename leaves garbage
    // beside the pointer; readers only ever read the committed name
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "digests-meta.json.crashed-attempt.tmp"),
      "not a meta".getBytes("UTF-8"))
    assert(DigestIndex.readMeta(spark, dir).contains(spec))
    DigestIndex.append(digested(Seq((2L, "two"))), "doc_id", "digest", dir, spec, 1L)
    val m = probe(digested(Seq((8L, "one"), (9L, "two"))),
      "doc_id", "digest", dir, spec).select("corpus_id").as[Long].collect().sorted.toSeq
    assert(m == Seq(1L, 2L))
  }

  test("indexedDupDigests: different-id dups drop with ZERO corpus reads (steady state)") {
    val dir = tmpDir("dix-steady")
    val corpus = digested((0L until 10L).map(i => (i, s"c$i")))
    DigestIndex.rebuild(corpus, "doc_id", "digest", dir, spec, corpus.count())
    // batch ids are disjoint from corpus ids — every match is
    // different-id, so the corpus thunk must never evaluate
    val cand = digested(Seq((100L, "c3"), (101L, "c7"), (102L, "new stuff")))
    val dup = Dedup.indexedDupDigests(cand, "doc_id", "digest", dir, spec,
      corpusMustNotBeRead)
    val dups = dup.as[String].collect().toSet
    val want = digested(Seq((0L, "c3"), (1L, "c7")))
      .select("digest").as[String].collect().toSet
    assert(dups == want)
  }

  test("indexedDupDigests: same-id matches disambiguate via the corpus (replay vs ghost)") {
    val dir = tmpDir("dix-replay")
    // index holds TWO same-id rows: one whose docs append happened
    // (committed — replay must DROP) and one ghost whose docs append
    // crashed (replay must ADMIT)
    val committed = digested(Seq((1L, "landed")))
    val ghost = digested(Seq((2L, "never landed")))
    DigestIndex.rebuild(committed.union(ghost), "doc_id", "digest", dir, spec, 2L)
    val corpusDigests = committed.select($"digest") // only "landed" is real
    val replay = committed.union(ghost) // the at-least-once replay
    val dup = Dedup.indexedDupDigests(replay, "doc_id", "digest", dir, spec,
      corpusDigests)
    val dups = dup.as[String].collect().toSeq
    assert(dups == committed.select("digest").as[String].collect().toSeq,
      "a committed digest must drop; a ghost's own replay must be admitted")
  }

  test("pre-LSM (ver-1) meta parses as ABSENT — legacy layouts migrate through rebuild") {
    val dir = tmpDir("dix-v1")
    // a ver-1 store: meta without the LSM state, layout root holding
    // bucket-partitioned data directly (the pre-r15 shape)
    val corpus = digested((0L until 10L).map(i => (i, s"v1 doc $i")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "digests-meta.json"), """{"buckets":8}""")
    corpus.withColumn(DigestIndex.BucketCol,
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64($"digest"), lit(8L))
          .cast("int"))
      .write.partitionBy(DigestIndex.BucketCol)
      .parquet(s"$dir/${spec.layoutDir}")
    // the migration guard: a ver-1 meta must read as "no trustable
    // index" (the CorpusBuilder resolve path then rebuilds), never be
    // misparsed into the LSM reader
    assert(DigestIndex.readMeta(spark, dir).isEmpty)
    DigestIndex.rebuild(corpus, "doc_id", "digest", dir, spec, corpus.count())
    assert(DigestIndex.readMeta(spark, dir).contains(spec))
    val m = probe(digested(Seq((90L, "v1 doc 3"))), "doc_id",
      "digest", dir, spec).select("corpus_id").as[Long].collect().toSeq
    assert(m == Seq(3L))
  }

  test("append onto a MISMATCHED or ver-1 meta fails loudly; the active layout survives") {
    // spec mismatch: the active layout must not be orphaned by a
    // restart-from-empty append (the superset-invariant guard)
    val dir = tmpDir("dix-append-guard")
    val corpus = digested((0L until 20L).map(i => (i, s"guarded doc $i")))
    DigestIndex.rebuild(corpus, "doc_id", "digest", dir, spec, corpus.count())
    val other = DigestIndex.Spec(16)
    val e = intercept[RuntimeException] {
      DigestIndex.append(digested(Seq((90L, "fresh"))), "doc_id", "digest",
        dir, other, 1L)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // the old layout and meta are intact — the probe still answers
    assert(DigestIndex.readMeta(spark, dir).contains(spec))
    val m = probe(digested(Seq((91L, "guarded doc 3"))),
      "doc_id", "digest", dir, spec)
      .select("corpus_id").as[Long].collect().toSeq
    assert(m == Seq(3L))

    // ver-1 meta (same buckets value): a direct append would orphan the
    // legacy rows and the pointer swap would delete them — fail loudly
    val v1 = tmpDir("dix-append-v1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(v1))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(v1, "digests-meta.json"), """{"buckets":8}""")
    corpus.withColumn(DigestIndex.BucketCol,
        pmod(xxhash64($"digest"), lit(8L)).cast("int"))
      .write.partitionBy(DigestIndex.BucketCol)
      .parquet(s"$v1/${spec.layoutDir}")
    val e1 = intercept[RuntimeException] {
      DigestIndex.append(digested(Seq((92L, "fresh"))), "doc_id", "digest",
        v1, spec, 1L)
    }
    assert(e1.getMessage.contains("ver-1") &&
      e1.getMessage.contains("rebuild"), e1.getMessage)
    // the legacy layout survived the refused append
    assert(spark.read.parquet(s"$v1/${spec.layoutDir}").count() == 20L)
    // band-index twin of the same guard
    val bDir = tmpDir("bix-append-guard")
    val bSpec = BandIndex.Spec(bands = 4, buckets = 8)
    val sigs = Dedup.stagedSigs(
      (0L until 10L).map(i => (i, s"band guard doc $i word")).toDF("doc_id", "text"),
      "doc_id", "text", shingleK = 2, k = 16)
    BandIndex.rebuild(sigs, "doc", "sig", bDir, bSpec, 10L)
    val eb = intercept[RuntimeException] {
      BandIndex.append(sigs, "doc", "sig", bDir,
        BandIndex.Spec(bands = 8, buckets = 8), 10L)
    }
    assert(eb.getMessage.contains("rebuild"), eb.getMessage)
    assert(BandIndex.readMeta(spark, bDir).contains(bSpec))
  }

  test("meta bytes are pinned for both stores; a wrong-kind or unreadable meta fails naming the store") {
    // the literals every existing corpus holds on disk: a store must
    // render them byte for byte and read them back as the active spec
    val st = LsmIndex.State(3L, Seq("compact-0"), Seq("run-1", "run-2"))
    val tail = """"ver":2,"seq":3,"bulks":["compact-0"],"runs":["run-1","run-2"]}"""
    val digestMeta = """{"buckets":8,""" + tail
    val bandMeta = """{"bands":4,"buckets":8,""" + tail
    val bSpec = BandIndex.Spec(bands = 4, buckets = 8)
    assert(DigestIndex.metaJson(spec, st) == digestMeta)
    assert(BandIndex.metaJson(bSpec, st) == bandMeta)
    def withMeta(name: String, body: String): String = {
      val dir = tmpDir("lsm-meta")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), body)
      dir
    }
    assert(DigestIndex.meta(spark, withMeta("digests-meta.json", digestMeta)) ==
      Some(LsmIndex.Meta(spec.layoutDir, Some((spec, st)))))
    assert(BandIndex.meta(spark, withMeta("bands-meta.json", bandMeta)) ==
      Some(LsmIndex.Meta(bSpec.layoutDir, Some((bSpec, st)))))
    def refused(read: String => Any, dir: String, kind: String): Unit = {
      val e = intercept[RuntimeException](read(dir))
      assert(e.getMessage.contains(s"unreadable $kind meta"), e.getMessage)
    }
    val digestRead = (d: String) => DigestIndex.readMeta(spark, d)
    val bandRead = (d: String) => BandIndex.readMeta(spark, d)
    // wrong kind: each store's meta under the other's name
    refused(digestRead, withMeta("digests-meta.json", bandMeta), "digest index")
    refused(bandRead, withMeta("bands-meta.json", digestMeta), "band index")
    // unreadable: garbage, and a ver-2 meta that lost its seq
    refused(digestRead, withMeta("digests-meta.json", "not a meta"), "digest index")
    refused(bandRead, withMeta("bands-meta.json",
      bandMeta.replace(""""seq":3,""", "")), "band index")
  }

  test("tiered compaction: runs fold at minRuns, bulks cap at maxBulks, every era stays probeable") {
    val dir = tmpDir("dix-tiers")
    (0 until 10).foreach { b =>
      DigestIndex.append(digested(Seq((b.toLong, s"tier doc $b"))),
        "doc_id", "digest", dir, spec, 1L)
      if (b % 2 == 1)
        DigestIndex.compact(spark, dir, minRuns = 2, maxBulks = 2)
    }
    def children(prefix: String) =
      Option(new java.io.File(s"$dir/${spec.layoutDir}").listFiles())
        .map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
    assert(children("compact-").size <= 2,
      s"bulk tier must cap at maxBulks, got ${children("compact-")}")
    assert(children("run-").isEmpty,
      "every run must fold away at the cadence")
    // content from the first era (merged through a full merge) and the
    // last (latest L1 fold) both answer probes
    val hits = probe(
      digested(Seq((100L, "tier doc 0"), (101L, "tier doc 9"))),
      "doc_id", "digest", dir, spec)
      .select("corpus_id").as[Long].collect().toSet
    assert(hits == Set(0L, 9L))
    // below the threshold the fold is a no-op
    DigestIndex.append(digested(Seq((20L, "tier doc 20"))),
      "doc_id", "digest", dir, spec, 1L)
    assert(DigestIndex.compact(spark, dir, minRuns = 2).flatMap(_._2).isEmpty)
    assert(children("run-").size == 1)
  }

  test("compaction crash windows: a crashed fold's leftover is overwritten; post-swap ghosts sweep") {
    val dir = tmpDir("dix-crash")
    (0 until 4).foreach { b =>
      DigestIndex.append(digested(Seq((b.toLong, s"crash doc $b"))),
        "doc_id", "digest", dir, spec, 1L)
    }
    val layout = s"$dir/${spec.layoutDir}"
    // window 1 — crash BETWEEN the bulk write and the meta swap: the
    // crashed fold left a (possibly partial) compact-<seq> dir that the
    // meta never references. seq is unchanged, so the retried fold
    // OVERWRITES the leftover under the same deterministic name.
    digested(Seq((999L, "stale leftover row")))
      .write.parquet(s"$layout/compact-4") // seq after 4 appends = 4
    assert(DigestIndex.compact(spark, dir, minRuns = 2).flatMap(_._2).isDefined)
    val hits = probe(
      digested(Seq((100L, "crash doc 2"), (101L, "stale leftover row"))),
      "doc_id", "digest", dir, spec)
      .select("corpus_id").as[Long].collect().toSet
    assert(hits == Set(2L),
      s"the retried fold must overwrite the crashed leftover, got $hits")
    // window 2 — crash AFTER the swap, BEFORE the sweep: unreferenced
    // dirs survive until the next fold's sweep (referenced-never-
    // deleted means they are harmless ghosts meanwhile)
    digested(Seq((998L, "ghost row"))).write.parquet(s"$layout/run-77")
    digested(Seq((997L, "ghost bulk row"))).write.parquet(s"$layout/compact-99")
    (0 until 2).foreach { b =>
      DigestIndex.append(digested(Seq((10L + b, s"post doc $b"))),
        "doc_id", "digest", dir, spec, 1L)
    }
    assert(DigestIndex.compact(spark, dir, minRuns = 2).flatMap(_._2).isDefined)
    val children = Option(new java.io.File(layout).listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty)
    assert(!children.contains("run-77") && !children.contains("compact-99"),
      s"unreferenced ghosts must sweep at the next fold: $children")
    // every committed row still answers; no ghost row ever does
    val all = probe(
      digested((0 until 4).map(i => (200L + i, s"crash doc $i")) ++
        Seq((300L, "post doc 0"), (301L, "ghost row"))),
      "doc_id", "digest", dir, spec)
      .select("corpus_id").as[Long].collect().toSet
    assert(all == Set(0L, 1L, 2L, 3L, 10L), s"got $all")
    // window 3 — a run dir holding ONLY a crashed write's _temporary
    // debris (data-looking basenames under a hidden dir): the fold must
    // classify it EMPTY and fold on — not crash on the schema-less read,
    // and not count the invisible debris as rows
    (0 until 2).foreach { b =>
      DigestIndex.append(digested(Seq((30L + b, s"tmp doc $b"))),
        "doc_id", "digest", dir, spec, 1L)
    }
    val debris = new java.io.File(s"$layout/run-66/_temporary/0")
    assert(debris.mkdirs())
    digested(Seq((996L, "temp debris row"))).coalesce(1)
      .write.parquet(s"$layout/run-66/_temporary/0/staging")
    // splice the debris-only run into the meta as a live run
    val metaPath = java.nio.file.Paths.get(dir, "digests-meta.json")
    val meta = java.nio.file.Files.readString(metaPath)
    val spliced = meta.replaceFirst("\"runs\":\\[",
      java.util.regex.Matcher.quoteReplacement("\"runs\":[\"run-66\","))
    java.nio.file.Files.writeString(metaPath, spliced)
    // the out-of-band edit invalidates the Hadoop checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".digests-meta.json.crc"))
    assert(DigestIndex.compact(spark, dir, minRuns = 2).flatMap(_._2).isDefined,
      "a debris-only run must fold as empty, not crash")
    val afterTmp = probe(
      digested(Seq((400L, "tmp doc 0"), (401L, "temp debris row"))),
      "doc_id", "digest", dir, spec)
      .select("corpus_id").as[Long].collect().toSet
    assert(afterTmp == Set(30L),
      s"committed rows answer, debris rows never do: $afterTmp")
  }

  test("mega-batch runs fan out by row count; micro-batch runs stay single-file") {
    // the sizing arithmetic
    assert(LsmIndex.runParts(0L, 1000L) == 0) // writeRun clamps to 1
    assert(LsmIndex.runParts(1L, 1000L) == 1)
    assert(LsmIndex.runParts(1000L, 1000L) == 1)
    assert(LsmIndex.runParts(1001L, 1000L) == 2)
    assert(LsmIndex.runParts(Long.MaxValue, 1L) == 64, "cap at 64")
    val dir = tmpDir("dix-parts")
    // a "mega" append asked to fan out writes multiple files in ONE run
    val rows = digested((0L until 40L).map(i => (i, s"wide doc $i")))
      .repartition(8)
    DigestIndex.append(rows, "doc_id", "digest", dir, spec, 40L, runFiles = 4)
    val run = new java.io.File(s"$dir/${spec.layoutDir}/run-0")
    assert(run.isDirectory)
    val files = run.listFiles().count(f =>
      f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(files == 4, s"expected 4 run files, got $files")
    // ...and the probe reads the fanned-out run like any flat tail
    val m = probe(digested(Seq((100L, "wide doc 7"))), "doc_id",
      "digest", dir, spec).select("corpus_id").as[Long].collect().toSeq
    assert(m == Seq(7L))
    // a micro-batch append (default) adds exactly one file
    DigestIndex.append(digested(Seq((50L, "one more"))), "doc_id", "digest",
      dir, spec, 1L)
    val run1 = new java.io.File(s"$dir/${spec.layoutDir}/run-1")
    assert(run1.listFiles().count(f =>
      f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) == 1)
  }

  /** Records `body`'s tasks read (task input metrics: parquet rows
    * scanned; the listener bus is async — polls until the count goes
    * quiet). */
  private def recordsRead(body: => Unit): Long = {
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => records.addAndGet(m.inputMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var (last, quiet) = (-1L, 0)
      val deadline = System.currentTimeMillis() + 15000
      while (quiet < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        if (records.get() == last) quiet += 1 else { quiet = 0; last = records.get() }
      }
      records.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a small probe scans only the files whose filter may hold a candidate; filterless files are always read") {
    val dir = tmpDir("dix-filtered")
    // four runs of 50 digests each, written with their row counts, so
    // each run file carries a filter
    (0 until 4).foreach { r =>
      DigestIndex.append(digested((0L until 50L).map(i => (r * 100L + i, s"run $r doc $i"))),
        "doc_id", "digest", dir, spec, runRows = 50L)
    }
    /** (new_id, corpus_id) matches of `batch` and the store rows read. */
    def probed(batch: DataFrame): (Set[(Long, Long)], Long) = {
      val t = DigestIndex.touched(batch, "digest", spec)
      var got = Set.empty[(Long, Long)]
      val read = recordsRead {
        got = DigestIndex.probe(batch, "doc_id", "digest", dir, spec, t)
          .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      }
      (got, read)
    }
    // candidates held by run 2 only, and new content
    val batch = digested(Seq((900L, "run 2 doc 3"), (901L, "run 2 doc 17"), (902L, "novel")))
    val (m1, read1) = probed(batch)
    assert(m1 == Set((900L, 203L), (901L, 217L)))
    assert(read1 == 50L, s"only run 2's rows may be read, read $read1")
    // a run as written before the store was filtered has no filter: it
    // is read whatever the candidates, and its rows match
    val legacy = digested(Seq((500L, "filterless doc"), (501L, "other")))
    DigestIndex.append(legacy, "doc_id", "digest", dir, spec, 2L)
    legacy.select($"doc_id".as("doc"), $"digest").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/${spec.layoutDir}/run-4")
    val (m2, read2) = probed(batch.union(digested(Seq((903L, "filterless doc")))))
    assert(m2 == Set((900L, 203L), (901L, 217L), (903L, 500L)))
    assert(read2 == 52L, s"run 2 and the filterless run, read $read2")
    // past FilterProbeRowsPerBucket candidates a bucket the probe reads
    // every run, as before
    val big = digested((0L until LsmIndex.FilterProbeRowsPerBucket * spec.buckets)
      .map(i => (1000L + i, s"big $i")) ++ Seq((5000L, "run 0 doc 5"), (5001L, "other")))
    val (m3, read3) = probed(big)
    assert(m3 == Set((5000L, 5L), (5001L, 501L)))
    assert(read3 == 202L, s"the unfiltered scan reads every run, read $read3")
    // a fold writes its bulk files with filters too: an absent digest
    // reads no row of its bucket
    assert(DigestIndex.compact(spark, dir, minRuns = 2).flatMap(_._2).isDefined)
    val (m4, read4) = probed(batch)
    assert(m4 == m1 && read4 < 202L / 2, s"read $read4")
    assert(probed(digested(Seq((904L, "novel"))))._2 == 0L)
    // past FilterProbeRowsPerBucket candidates in all, a bulk file is
    // still tested with its own bucket's: 1,100 novel digests in
    // bucket 0 and one in every other bucket pass bucket 0's file, and
    // the other buckets' files only for the one they hold
    val spread = digested((0L until 12000L).map(i => (10000L + i, s"spread $i")))
      .withColumn("b", pmod(xxhash64($"digest"), lit(spec.buckets.toLong)))
      .as[(Long, String, Long)].collect().toSeq
    val skewed = spread.filter(_._3 == 0L).take(1100) ++
      (1 until spec.buckets).map(b => spread.find(_._3 == b).get)
    val (m5, read5) = probed(skewed.map(r => (r._1, r._2)).toDF("doc_id", "digest")
      .union(digested(Seq((905L, "run 2 doc 3")))))
    assert(m5 == Set((905L, 203L)))
    assert(read5 < 202L / 2, s"only the buckets whose filter may hold a key, read $read5")
  }

  test("a small probe over a live run or bulk lost out-of-band fails; it never reads as no match") {
    val dir = tmpDir("dix-lost")
    (0 until 2).foreach(r => DigestIndex.append(digested(Seq((r.toLong, s"lost doc $r"))),
      "doc_id", "digest", dir, spec, 1L))
    val layout = s"$dir/${spec.layoutDir}"
    val batch = digested(Seq((9L, "lost doc 0")))
    assert(probe(batch, "doc_id", "digest", dir, spec).count() == 1L)
    graft.streaming.StoreManifest.deleteRecursively(java.nio.file.Paths.get(layout, "run-0"))
    val e = intercept[java.io.FileNotFoundException](
      probe(batch, "doc_id", "digest", dir, spec).count())
    assert(e.getMessage.contains("run-0"), e.getMessage)
    // the same for a fold's bulk
    val dir2 = tmpDir("dix-lost-bulk")
    (0 until 2).foreach(r => DigestIndex.append(digested(Seq((r.toLong, s"lost doc $r"))),
      "doc_id", "digest", dir2, spec, 1L))
    assert(DigestIndex.compact(spark, dir2, minRuns = 2).flatMap(_._2).contains((2, 1)))
    val bulk = new java.io.File(s"$dir2/${spec.layoutDir}").listFiles()
      .filter(_.getName.startsWith("compact-")).head
    graft.streaming.StoreManifest.deleteRecursively(bulk.toPath)
    val e2 = intercept[java.io.FileNotFoundException](
      probe(batch, "doc_id", "digest", dir2, spec).count())
    assert(e2.getMessage.contains(bulk.getName), e2.getMessage)
  }

  test("bloomNewDocsIndexed matches bloomNewDocs and never reads the corpus steady-state") {
    val dir = tmpDir("dix-bloom")
    val corpusRows = (0L until 40L).map(i => (i, s"doc $i"))
    val corpus = corpusRows.toDF("doc_id", "text")
      .withColumn("digest", Dedup.contentKey(col("text")))
    DigestIndex.rebuild(corpus.select($"doc_id", $"digest"),
      "doc_id", "digest", dir, spec, corpus.count())
    val filter = Dedup.digestFilter(corpus, "text", 256L, Dedup.bloomBits(256L, 0.01))
    val batch = (20L until 60L).map(i => (i + 1000L, s"doc $i")).toDF("doc_id", "text")
    val gated = Dedup.bloomNewDocsIndexed(batch, "doc_id", "text", filter,
      dir, spec, corpusMustNotBeRead)
    assert(gated.count() == 20L)
    assert(gated.columns.toSeq == Seq("doc_id", "text"))
    // same answer as the corpus-scanning twin
    val twin = Dedup.bloomNewDocs(batch, corpus.select("digest"), "text", filter)
    assert(gated.select("doc_id").as[Long].collect().sorted.toSeq ==
      twin.select("doc_id").as[Long].collect().sorted.toSeq)
  }
}
