package graft.ingest

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.rules.{EventRule, Rules}
import graft.schema.TableBackend
import graft.sources.{ConcatJsonReader, ObjectSource}
import graft.util.Span

/** End-to-end ingest: objects → event rules → parse/infer → schema rules
  * → evolve → partitioned append — the reference's `Load` pipeline
  * (`pkg/usecase/load.go:58-134`, lifecycle SURVEY §3.1).
  *
  * Batch (`ingest`/`enqueue` CLI ≡ `ingestPaths`/`ingestPrefix`) and
  * streaming (`serve` ≡ `stream`) share the same body; streaming uses
  * the checkpointed file source for discovery (at-least-once per file)
  * with deterministic row IDs making replays idempotent downstream
  * (SURVEY §2.7 T3: checkpoint + md5 id replaces the Firestore state
  * machine).
  *
  * Parallelism: the reference fans out with 3 goroutine pools
  * (objects×32, tables×8, chunks×8 — `load.go:150,103,336`); here Spark
  * task scheduling subsumes objects/chunks, and destinations are written
  * per-table from one shuffled dataset (SURVEY §4 parallelism row).
  */
object Pipeline {

  final case class Config(
      registry: TableBackend,
      rules: Rules,
      /** Write telemetry to `_meta.load_log` (one row per destination,
        * with LogCount) and `_meta.source_log` (one row per source
        * object, with RowCount) — ref K6, `model/bigquery.go:9-39`,
        * hook `pkg/usecase/load.go:66-81`. */
      telemetry: Boolean = true,
      /** Drop incoming rows whose `id` already exists in the destination
        * (partition-scoped anti-join) — replay safety across delivery
        * mechanisms, the reference's Firestore dedup role (T3).
        *
        * None = the path's default: OFF for batch (`ingestPaths`/
        * `ingestPrefix` — callers re-run batches deliberately), ON for
        * every streaming entry point (`stream`/`streamNotifications` —
        * at-least-once delivery means a crash can replay the last
        * uncommitted micro-batch, and replays must not duplicate table
        * rows out of the box). Some(x) forces x on any path. */
      dedup: Option[Boolean] = None,
      /** Dry-run (ref `--dry-run`, `cmd/ingest.go:33-39`): route records
        * through the full rule/transform path but write NDJSON + schema
        * dumps to this directory instead of appending to tables; no
        * telemetry rows are written either. */
      dryRunDir: Option[String] = None,
      /** Use [[graft.schema.DistributedInference]] for the JSON schema
        * pass instead of `read.json` inference: per-partition schema
        * folds tree-reduced as metadata (SURVEY §2.8 Aggregator
        * fallback). Same typing on well-formed docs (spec-pinned);
        * differs on corrupt docs (no `_corrupt_record` column — the
        * PERMISSIVE parse quarantines them instead).
        *
        * Default stays `read.json`, measured not assumed: interleaved
        * warm runs of the full ingest over the 32-split / 100k-row
        * events export are a wash (1.59–1.81 s both ways — the
        * materializing parse dominates; the inference pass is the
        * cheaper half under either implementation), and `read.json`
        * keeps the richer corrupt-record payloads. Flip per-pipeline
        * when inference cost shows up (very wide/nested docs, where the
        * type-only Jackson fold skips row building). */
      distributedInference: Boolean = false,
      /** Cap on objects parsed per batch (the batch-side twin of the
        * streaming `maxFilesPerTrigger`): a prefix backfill over 500k
        * objects would otherwise build one driver path list feeding a
        * single mega-batch — one cache holding the whole backfill. Each
        * chunk runs the full parse→infer→append body; schema evolution
        * absorbs cross-chunk drift. None = single batch (the right
        * default below ~10k objects). */
      maxObjectsPerBatch: Option[Int] = None)

  final case class LoadResult(ingestId: String, results: Seq[TableSink.IngestResult])

  /** A per-invocation streaming query name: `prefix-<unique suffix>`.
    * Spark refuses to start two ACTIVE queries with one name in a
    * session, and pipelines legitimately run concurrently (two landing
    * zones in one session; a test/verify harness running queries on a
    * pool) — a fixed name made that a start-time collision. The prefix
    * keeps logs/telemetry greppable ([[graft.streaming.StreamLog]]
    * records the name as a label only). */
  private[graft] def uniqueQueryName(prefix: String): String =
    s"$prefix-${UUID.randomUUID().toString.take(8)}"

  /** Serializes quarantine appends across concurrently-running
    * schema-rule tasks: every rule quarantines into the ONE
    * `_meta.quarantine` table, and two concurrent parquet append jobs
    * on one directory race the commit protocol. */
  private val quarantineLock = new Object

  /** Ingest explicit object paths (≡ `swarm ingest` CLI, SURVEY §3.2). */
  def ingestPaths(spark: SparkSession, cfg: Config, paths: Seq[String]): LoadResult = {
    val objects = ObjectSource.list(spark, paths.head)
    val all = paths.tail.foldLeft(objects)((df, p) =>
      df.unionByName(ObjectSource.list(spark, p)))
    ingestObjects(spark, cfg, all)
  }

  /** Ingest everything under a prefix (≡ `swarm enqueue` backfill,
    * SURVEY §3.3 — with Spark owning both listing and processing the
    * work-list handoff disappears). */
  def ingestPrefix(spark: SparkSession, cfg: Config, prefixGlob: String): LoadResult =
    ingestObjects(spark, cfg, ObjectSource.list(spark, prefixGlob))

  /** Core body: evaluate event rules on metadata, parse matched objects
    * ONCE, transform per schema rule, append per destination.
    *
    * Single-pass contract (ref: one download per object, everything
    * downstream in-memory — `pkg/usecase/load.go:186-249`): objects are
    * grouped by their matched-rule SET, read and JSON-parsed exactly
    * once into a materialized batch ([[readBatch]]) shared by every
    * matching rule with that parser; source-row telemetry, quarantine,
    * and the destination appends are all derived from that shared
    * in-memory frame. At 100 TB the JSON parse IS the ingest cost, so
    * parse amplification is the first thing this pipeline refuses to do
    * — including across OVERLAPPING event rules (N rules matching one
    * object = N schema routes over one parse, exactly the reference's
    * one-download set semantics, not N downloads). */
  def ingestObjects(spark: SparkSession, cfg: Config, objects: DataFrame): LoadResult = Span("ingest") {
    val ingestId = UUID.randomUUID().toString
    val started = System.currentTimeMillis()
    val sourceLogs = Seq.newBuilder[(String, String, Long)] // (rule, path, rows)
    import scala.jdk.CollectionConverters._
    val results = cfg.rules.matchGroups(objects).flatMap { case (group, objs) =>
      val matched = objs.select("path")
      // backfill guard: a 500k-object prefix would otherwise become one
      // driver path list feeding a single mega-batch (one cache holding
      // the whole backfill, one inference over everything). Chunking
      // bounds peak memory per batch; schema evolution absorbs drift
      // across chunks exactly as it does across separate ingests.
      // When chunking, the listing is consumed LAZILY (`toLocalIterator`:
      // one listing partition in driver memory at a time), so driver
      // footprint tracks max(partition, chunk) — NOT the whole backfill;
      // a 5M-path backfill never materializes as one driver array.
      // Unchunked, grouped() would buffer the whole listing through the
      // iterator anyway, so a single collect is footprint-equivalent and
      // saves the per-partition serialized driver jobs.
      // (an empty listing yields no chunks — grouped() never emits an
      // empty group, so every chunk below is non-empty)
      // Each chunk reads an object ONCE even when it was notified more
      // than once (two deliveries in one micro-batch): the streaming
      // dedup anti-joins only rows already in the table, so a doubled
      // path would land its records twice. Across chunks the later
      // chunk's dedup sees the earlier chunk's rows.
      val chunks: Iterator[Seq[String]] = (cfg.maxObjectsPerBatch match {
        case None =>
          val all: IndexedSeq[String] =
            matched.collect().map(_.getString(0)).toIndexedSeq
          if (all.isEmpty) Iterator.empty else Iterator.single(all)
        case Some(n) =>
          matched.toLocalIterator().asScala.map(_.getString(0)).grouped(n.max(1))
      }).map(_.distinct)
      chunks.flatMap { chunk =>
        // rules sharing (parser, multiDoc) parse the chunk ONCE; every
        // such rule's schema passes run over that one cached batch
        group.map(r => (r.parser, r.multiDoc)).distinct.flatMap { pk =>
          val sharing = group.filter(r => (r.parser, r.multiDoc) == pk)
          val batch = Span("readBatch")(
            readBatch(spark, sharing.head, chunk, cfg.distributedInference))
          try {
            // per-source decoded-row counts (ref SourceLog.RowCount,
            // `model/bigquery.go:19-26`) — aggregated over the cached
            // batch ONCE, one metadata-sized row per object; each
            // sharing rule logs the same counts under its own name
            val counts: Seq[(String, Long)] =
              if (cfg.telemetry && cfg.dryRunDir.isEmpty)
                Span("sourceCounts")(batch.sourceCounts.collect()
                  .map(r => (r.getString(0), r.getLong(1))).toSeq)
              else Nil
            // SET semantics (ref Rego `log[d]`): every same-name schema
            // rule emits — each costs one pass over the CACHED batch,
            // same per-rule evaluation the reference does per record.
            val tasks: Seq[graft.rules.SchemaRule] = sharing.flatMap { rule =>
              counts.foreach { case (p, n) => sourceLogs += ((rule.name, p, n)) }
              cfg.rules.schemaRulesFor(rule.schemaRule)
            }
            def runOne(schemaRule: graft.rules.SchemaRule): Seq[TableSink.IngestResult] = {
              // invalid-row count rides the append job (observe below
              // the validity filter) — the all-valid common case costs
              // zero extra jobs; only a non-zero count quarantines.
              val invalidObs =
                if (cfg.telemetry && cfg.dryRunDir.isEmpty)
                  Some(org.apache.spark.sql.Observation())
                else None
              val routed = Transform(batch.records, schemaRule, ingestId, invalidObs)
              val res = cfg.dryRunDir match {
                case Some(dir) =>
                  DumpSink.dump(Transform.pruneDataSchema(routed), dir, ingestId).map { case (ds, tbl) =>
                    TableSink.IngestResult(ds, tbl, "", 0, 0L, success = true)
                  }
                case None => Span("append")(TableSink.append(spark, cfg.registry, routed,
                  cfg.dedup.getOrElse(false), knownDests = schemaRule.literalDests))
              }
              invalidObs.foreach { obs =>
                if (invalidCount(obs) > 0)
                  // one _meta.quarantine destination for every rule —
                  // concurrent tasks must not race its parquet commit
                  quarantineLock.synchronized {
                    Span("quarantine")(writeQuarantine(spark, cfg.registry, started,
                      Transform.invalid(batch.records, schemaRule, ingestId)))
                  }
              }
              res
            }
            // Overlap the per-schema-rule appends (guide: submit
            // independent jobs concurrently so one append's task tail
            // back-fills with the next append's work) — SAFE only when
            // every rule's destinations are static (literalDests) and
            // pairwise DISJOINT: two writers appending one table would
            // race the parquet commit protocol. Route-by-expression or
            // overlapping-dest rule sets keep today's sequential path;
            // results stay in rule order either way (same telemetry
            // rows, same order). The batch is a materialized cache, so
            // concurrent appends re-read memory, not files.
            val dests = tasks.map(_.literalDests)
            val disjoint = dests.forall(_.isDefined) && {
              val all = dests.flatMap(_.get.map(d => (d._1, d._2)))
              all.distinct.size == all.size
            }
            if (tasks.size <= 1 || !disjoint || cfg.dryRunDir.isDefined)
              tasks.flatMap(runOne)
            else {
              import scala.concurrent.{Await, ExecutionContext, Future}
              import scala.concurrent.duration.Duration
              val pool = java.util.concurrent.Executors.newFixedThreadPool(
                math.min(TableSink.TableConcurrency, tasks.size))
              implicit val ec: ExecutionContext =
                ExecutionContext.fromExecutor(pool)
              try Await.result(
                Future.sequence(tasks.map(t => Future(runOne(t)))),
                Duration.Inf).flatten
              finally pool.shutdown()
            }
          } finally batch.release()
        }
      }
    }
    if (cfg.telemetry && cfg.dryRunDir.isEmpty) {
      writeLoadLog(spark, cfg.registry, ingestId, started, results)
      writeSourceLog(spark, cfg.registry, ingestId, started, sourceLogs.result())
    }
    LoadResult(ingestId, results)
  }

  /** One rule's object set, parsed and MATERIALIZED exactly once.
    *
    * `records` carries only the record fields (what [[Transform]] packs
    * into `data`); `sourceCounts` is the per-source-object decoded row
    * count `(p, n)` derived from the same cached frame; `release` frees
    * the cache — callers must invoke it when the batch is fully
    * consumed (no cached blocks outlive the ingest). */
  private[ingest] final case class Batch(records: DataFrame,
      sourceCounts: DataFrame, release: () => Unit)

  private val SourceCol = "__graft_src"

  /** Read + parse one event-rule's objects with full-scan schema
    * inference (ALL rows type the schema — same coverage the reference
    * advertises vs BigQuery autodetect's 500-row sample,
    * `docs/comparisons.md:18`; `dropFieldIfAllNull` reproduces the
    * null/empty stripping of `cloneWithoutNil` at inference time).
    *
    * Scan/parse budget (the scale contract):
    *   - json/NDJSON: file bytes are read ONCE (`spark.read.text`, gz
    *     transparent) into the block-manager cache; inference is one
    *     parse over the cached lines, materialization one more
    *     (`from_json` → typed rows, eagerly cached); every downstream
    *     action — telemetry counts, quarantine, per-destination appends —
    *     reads the typed cache. Versus parsing the files per action
    *     (4× at round 2), this is 1× I/O + 2× in-memory parse.
    *   - multiDoc: same, over [[ConcatJsonReader.docsWithPath]] docs.
    *   - csv: header + full-scan inference then an eager cache — 2 file
    *     reads total, downstream actions hit the cache.
    *   - parquet: left lazy — columnar, self-describing, and caching
    *     would defeat column pruning in the downstream projections. */
  private[ingest] def readBatch(spark: SparkSession, rule: EventRule,
      paths: Seq[String], distInfer: Boolean = false): Batch = rule.parser match {
    case "csv" =>
      val parsed = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(paths: _*)
        .withColumn(SourceCol, input_file_name())
        .persist()
      // eager: downstream actions must not re-read files. A failure here
      // must not leak the freshly-registered cache into the session.
      try parsed.count()
      catch { case t: Throwable => parsed.unpersist(); throw t }
      Batch(parsed.drop(SourceCol), countsBySource(parsed),
        () => { parsed.unpersist(); () })
    case "parquet" =>
      val df = spark.read.parquet(paths: _*)
      Batch(df, countsBySource(df.withColumn(SourceCol, input_file_name())),
        () => ())
    case _ if rule.multiDoc =>
      parseOnce(spark, ConcatJsonReader.docsWithPath(spark, paths), distInfer)
    case _ =>
      parseOnce(spark,
        spark.read.text(paths: _*)
          .select(col("value"), input_file_name().as(SourceCol)), distInfer)
  }

  private def countsBySource(df: DataFrame): DataFrame =
    df.groupBy(col(SourceCol).as("p")).agg(count(lit(1)).as("n"))

  /** The single-parse kernel: raw `(value, __graft_src)` docs → one
    * cached typed frame. The raw docs are cached first (so inference
    * costs CPU, not a second file read), the inferred-schema parse is
    * materialized eagerly, then the raw cache is dropped — peak memory
    * holds text + typed rows only during the parse itself.
    *
    * Parse semantics match `spark.read.json`: blank docs are skipped,
    * a top-level JSON array contributes one record per element (the
    * `ArrayType` wrap — Jackson wraps a lone object as a 1-element
    * array), and an unparseable doc yields an all-null record (the
    * PERMISSIVE row, which validation then quarantines as null-routed). */
  private def parseOnce(spark: SparkSession, raw: DataFrame,
      distInfer: Boolean = false): Batch = {
    import spark.implicits._
    val lines = raw.persist()
    // inference can fail (unreadable object, truncated gz) — never leak
    // the just-registered text cache into the session when it does
    try {
      val nonBlank = lines.filter(trim(col("value")) =!= "")
      val corruptName = spark.conf.get("spark.sql.columnNameOfCorruptRecord",
        "_corrupt_record")
      val inferred =
        if (distInfer)
          graft.schema.DistributedInference.inferJson(
            nonBlank.select("value").as[String])
        else spark.read.option("dropFieldIfAllNull", "true")
          .json(nonBlank.select("value").as[String]).schema
      // A batch whose docs carry no object fields at all (e.g. top-level
      // arrays of scalars — distributed inference folds them to an EMPTY
      // struct) must not abort on the `__rec.*` star-expansion below;
      // type it as pure corrupt records so every doc routes to quarantine
      // with its payload — the same destination read.json's
      // `_corrupt_record` inference gives such docs.
      val elem =
        if (inferred.nonEmpty) inferred
        else org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(corruptName,
            org.apache.spark.sql.types.StringType)))
      // stage the parsed array once (multi-referenced below: rows +
      // corrupt detection) — an inline repeat would parse twice per row
      val arr = from_json(col("value"), org.apache.spark.sql.types.ArrayType(elem))
      val exploded = nonBlank
        .withColumn("__arr", arr)
        .select(explode(coalesce(col("__arr"), array(lit(null).cast(elem)))).as("__rec"),
          col(SourceCol),
          // a null RECORD (whole doc unparseable → the array(null) wrap,
          // or one element of a parsed array that didn't fit the schema)
          // keeps the doc payload for the quarantine row
          when(col("__rec").isNull, col("value")).as("__raw"))
      // read.json PERMISSIVE keeps the offending text in the corrupt
      // column when inference saw corrupt docs; from_json leaves it null
      // — restore the payload so quarantine rows stay actionable
      // ("dropped data is never silent" includes the unparseable bytes).
      val parsed = (
        if (elem.fieldNames.contains(corruptName))
          exploded.select(col("__rec.*"), col(SourceCol), col("__raw"))
            .withColumn(corruptName, coalesce(col(corruptName), col("__raw")))
            .drop("__raw")
        else exploded.select(col("__rec.*"), col(SourceCol)))
        .persist()
      // No eager materialization job: the FIRST downstream action (source
      // counts when telemetry is on, else the append itself) fills the
      // typed cache straight from the cached text — every later action
      // reads typed rows. Both caches are dropped together at release();
      // peak footprint is one batch of text + typed rows, spilling to disk
      // beyond memory.
      Batch(parsed.drop(SourceCol), countsBySource(parsed),
        () => { parsed.unpersist(); lines.unpersist(); () })
    } catch { case t: Throwable => lines.unpersist(); throw t }
  }

  /** Above this many matched paths, the per-line path filter switches
    * from an `isin` literal list to a broadcast semi-join: a backlog
    * micro-batch of 50k files would otherwise build a 50k-literal In
    * predicate evaluated against every line. Below it, the literal list
    * wins (no join overhead, and an In over a handful of values is
    * codegen'd to a hash set). */
  private[ingest] val PathLiteralLimit = 512

  /** Restrict a cached micro-batch to the lines of `paths` — literal
    * `isin` for small sets, broadcast semi-join for large ones (the
    * matched-path set is always driver-resident metadata; the join keeps
    * its EVALUATION distributed instead of one giant predicate). */
  private[ingest] def filterByPaths(cached: DataFrame, paths: Seq[String]): DataFrame =
    if (paths.lengthCompare(PathLiteralLimit) <= 0)
      cached.filter(col("path").isin(paths: _*))
    else {
      val spark = cached.sparkSession
      import spark.implicits._
      cached.join(broadcast(paths.toDF("path")), Seq("path"), "left_semi")
    }

  /** Transform + quarantine + append for one rule's parsed records —
    * shared by the streaming branches so validation rejects are never
    * silent there either (same contract as the batch path). */
  private def ingestRecords(spark: SparkSession, cfg: Config, rule: EventRule,
      records: DataFrame, ingestId: String): Seq[TableSink.IngestResult] =
    cfg.rules.schemaRulesFor(rule.schemaRule).flatMap { schemaRule =>
      val invalidObs =
        if (cfg.telemetry) Some(org.apache.spark.sql.Observation()) else None
      val results = TableSink.append(spark, cfg.registry,
        Transform(records, schemaRule, ingestId, invalidObs),
        cfg.dedup.getOrElse(false), knownDests = schemaRule.literalDests)
      invalidObs.foreach { obs =>
        if (invalidCount(obs) > 0)
          writeQuarantine(spark, cfg.registry, System.currentTimeMillis(),
            Transform.invalid(records, schemaRule, ingestId))
      }
      results
    }

  /** Observed invalid-row count from the append action (0 on an empty
    * batch — count(when) never yields null). */
  private def invalidCount(obs: org.apache.spark.sql.Observation): Long =
    obs.get.get("invalid").map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Streaming ingest over a landing directory (≡ `swarm serve`,
    * SURVEY §3.1): the checkpointed text file source discovers new
    * objects (gz transparent), `_metadata` supplies the object attrs for
    * event rules, and each micro-batch runs the same transform/append
    * body via foreachBatch. `Trigger.AvailableNow` drains a backlog and
    * stops (backfill); a processing-time trigger runs continuously.
    */
  def stream(spark: SparkSession, cfg0: Config, landingGlob: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      /** Byte-budget per micro-batch (SURVEY §2.7 T6 — the memory half
        * of backpressure: bounds a batch by DATA VOLUME, so one giant
        * backlog object can't blow the executor memory budget that
        * `maxFilesPerTrigger` alone would admit). Maps to the file
        * source's native `maxBytesPerTrigger`. */
      maxBytesPerTrigger: Option[Long] = None): StreamingQuery = {
    import spark.implicits._
    val cfg = resolveStreamDedup(cfg0)
    // The text source DECODES file content as UTF-8 lines — fine for
    // NDJSON rules (the lines are reused directly, no second read), but
    // a binary parquet or multi-doc object would be materialized as
    // garbage mega-rows just to be discarded. Rule sets containing any
    // non-line format use metadata-only discovery instead.
    if (cfg.rules.event.exists(r => r.parser != "json" || r.multiDoc))
      return streamByListing(spark, cfg, landingGlob, checkpointDir, trigger,
        maxFilesPerTrigger, maxBytesPerTrigger)
    var reader = spark.readStream.format("text")
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    maxBytesPerTrigger.foreach(n => reader = reader.option("maxBytesPerTrigger", n))
    val lines = reader.load(landingGlob)
      .select(col("value"),
        col("_metadata.file_path").as("path"),
        col("_metadata.file_size").as("size"),
        col("_metadata.file_modification_time").as("created_at"))
    lines.writeStream
      .queryName(uniqueQueryName("graft-ingest"))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ingestId = UUID.randomUUID().toString
        val started = System.currentTimeMillis()
        // the micro-batch lines feed discovery AND (for line-JSON rules)
        // the parse itself — cache them so neither re-reads the files
        val cached = batch.persist()
        try {
          val files = cached.select("path", "size", "created_at").distinct()
            .withColumn("bucket", lit(""))
            .withColumn("name", col("path"))
            // file-source metadata has no checksum; keep the rule-visible
            // schema identical to ObjectSource.list (null never matches)
            .withColumn("md5", lit(null).cast("string"))
          // matched-rule-set groups share one parse (the ingestObjects
          // discipline, on the micro-batch)
          val results = cfg.rules.matchGroups(files).flatMap { case (group, objs) =>
            val paths = objs.select("path").collect().map(_.getString(0)).toIndexedSeq
            if (paths.isEmpty) Nil
            else group.map(r => (r.parser, r.multiDoc)).distinct.flatMap { pk =>
              val sharing = group.filter(r => (r.parser, r.multiDoc) == pk)
              if (pk == ("json", false)) {
                // line-JSON rules parse the cached micro-batch lines —
                // once for the whole sharing group
                val lines = filterByPaths(cached, paths)
                  .select("value").as[String]
                val b = parseOnce(spark, lines.toDF("value")
                  .withColumn(SourceCol, lit("")), cfg.distributedInference)
                try sharing.flatMap(r =>
                  ingestRecords(spark, cfg, r, b.records, ingestId))
                finally b.release()
              } else {
                // non-line formats (concatenated JSON, csv, parquet) are
                // re-read whole by path; the text-source lines are only
                // the discovery signal for them
                val b = readBatch(spark, sharing.head, paths, cfg.distributedInference)
                try sharing.flatMap(r =>
                  ingestRecords(spark, cfg, r, b.records, ingestId))
                finally b.release()
              }
            }
          }
          if (cfg.telemetry)
            writeLoadLog(spark, cfg.registry, ingestId, started, results)
        } finally cached.unpersist()
        ()
      }
      .start()
  }

  /** Streaming ingest with METADATA-ONLY discovery: the checkpointed
    * binaryFile source tracks new objects, but only (path, size, mtime)
    * is ever selected — the source skips the content column entirely,
    * so binary/columnar objects are never decoded as text. Every
    * matched object is then read by its rule's own reader. Used by
    * [[stream]] whenever a rule's format isn't line-JSON. */
  private def streamByListing(spark: SparkSession, cfg0: Config,
      landingGlob: String, checkpointDir: String, trigger: Trigger,
      maxFilesPerTrigger: Option[Int],
      maxBytesPerTrigger: Option[Long] = None): StreamingQuery = {
    val cfg = resolveStreamDedup(cfg0)
    // streaming sources need an explicit schema; binaryFile's is fixed
    val binSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    var reader = spark.readStream.format("binaryFile").schema(binSchema)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    maxBytesPerTrigger.foreach(n => reader = reader.option("maxBytesPerTrigger", n))
    val files = reader.load(landingGlob)
      .select(col("path"), col("length").as("size"),
        col("modificationTime").as("created_at"))
    files.writeStream
      .queryName(uniqueQueryName("graft-ingest"))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ingestId = UUID.randomUUID().toString
        val started = System.currentTimeMillis()
        val objects = batch
          .withColumn("bucket", lit(""))
          .withColumn("name", col("path"))
          .withColumn("md5", lit(null).cast("string"))
        // matched-rule-set groups share one read+parse per (parser,
        // multiDoc) — the ingestObjects discipline, on the micro-batch
        val results = cfg.rules.matchGroups(objects).flatMap { case (group, objs) =>
          val paths = objs.select("path").collect().map(_.getString(0)).toSeq
          if (paths.isEmpty) Nil
          else group.map(r => (r.parser, r.multiDoc)).distinct.flatMap { pk =>
            val sharing = group.filter(r => (r.parser, r.multiDoc) == pk)
            val b = readBatch(spark, sharing.head, paths, cfg.distributedInference)
            try sharing.flatMap(r =>
              ingestRecords(spark, cfg, r, b.records, ingestId))
            finally b.release()
          }
        }
        if (cfg.telemetry)
          writeLoadLog(spark, cfg.registry, ingestId, started, results)
        ()
      }
      .start()
  }

  /** Streaming ingest driven by OBJECT NOTIFICATIONS rather than
    * directory listing — the other half of S6: [[graft.sources.PushReceiver]]
    * spools one storage-event JSON line per Pub/Sub push, and this query
    * tails the spool (checkpointed text source, at-least-once), decodes
    * each event to object metadata ([[Events.decodeStorageEvents]] — the
    * staged single-parse hot path) and runs the referenced objects
    * through the full rule pipeline. This is the reference's `serve`
    * loop shape exactly: notification in → object fetched → rules →
    * append (`pkg/controller/server/server.go` → `usecase.Load`).
    *
    * `pathRewrite` remaps a decoded path prefix before the read —
    * `gs://bucket/` → another connector's scheme or a local mirror.
    * The notification stream is metadata-sized; the heavy lifting
    * (reading the objects) is a fresh distributed job per micro-batch. */
  def streamNotifications(spark: SparkSession, cfg0: Config, spoolGlob: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      pathRewrite: Option[(String, String)] = None): StreamingQuery = {
    val cfg = resolveStreamDedup(cfg0)
    spark.readStream.format("text").load(spoolGlob)
      .writeStream
      .queryName(uniqueQueryName("graft-push-ingest"))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val decoded = graft.sources.Events
          .decodeStorageEvents(batch, col("value"), "ev").select("ev.*")
        val objects = pathRewrite.fold(decoded) { case (from, to) =>
          decoded.withColumn("path",
            when(col("path").startsWith(from),
              concat(lit(to), expr(s"substring(path, ${from.length + 1})")))
              .otherwise(col("path")))
        }
        ingestObjects(spark, cfg, objects)
        ()
      }
      .start()
  }

  /** Streaming paths dedup by default (None → ON): at-least-once
    * delivery means a crash can replay the last uncommitted micro-batch
    * — replays must not duplicate table rows unless the caller
    * explicitly opts out with `dedup = Some(false)`. */
  private def resolveStreamDedup(cfg: Config): Config =
    cfg.copy(dedup = Some(cfg.dedup.getOrElse(true)))

  /** Telemetry row per destination append → `_meta.load_log`,
    * month-partitioned like the reference's meta table
    * (`pkg/usecase/bigquery.go:64-89`); `log_count` ≡ IngestLog.LogCount. */
  private def writeLoadLog(spark: SparkSession, registry: TableBackend,
      ingestId: String, startedMs: Long,
      results: Seq[TableSink.IngestResult]): Unit = {
    import spark.implicits._
    val rows = results.map(r =>
      (ingestId, new java.sql.Timestamp(startedMs),
        new java.sql.Timestamp(System.currentTimeMillis()),
        r.dataset, r.table, r.schemaVersion, r.logCount, r.success))
    if (rows.isEmpty) return
    // driver-sized telemetry (rows = destinations): one task, not a
    // default-parallelism fan-out of empty partitions
    val df = rows.toDF("ingest_id", "started_at", "finished_at",
        "dataset", "table", "schema_version", "log_count", "success")
      .coalesce(1)
      .withColumn("__part", date_format(col("started_at"), "yyyy-MM"))
    appendMeta(registry, "load_log", df)
  }

  /** Telemetry appends go DDL-first like every data append: a backend
    * whose write plane validates against table metadata (BigQuery's
    * does — `SCHEMA_MISMATCH_EXTRA_FIELDS`, and an append to an absent
    * table is an error outright) must see the `_meta` table declared
    * before its first row. The parquet/tx-log backends tolerate
    * implicit creation, but the trait's "DDL before data" discipline is
    * the portable contract, so the engine honors it everywhere. */
  private def appendMeta(registry: TableBackend, table: String,
      df: DataFrame): Unit = {
    registry.createOrUpdate("_meta", table,
      org.apache.spark.sql.types.StructType(
        df.schema.filterNot(_.name == "__part")))
    registry.appendPartitioned("_meta", table, df)
  }

  /** Records dropped by validation → `_meta.quarantine` (reasons +
    * re-serialized record). The reference FAILS the object on one
    * invalid log (`load.go:213-231`); at scale one bad record must not
    * fail a billion-row object, so the pipeline appends the rejects
    * where an operator can query them — dropped data is never silent.
    * Callers gate on the invalid count observed during the append job
    * ([[invalidCount]]), so this runs ONLY when there is something to
    * write — the all-valid common case never pays a probe or write job. */
  private def writeQuarantine(spark: SparkSession, registry: TableBackend,
      startedMs: Long, bad: DataFrame): Unit =
    appendMeta(registry, "quarantine", bad
      .withColumn("rejected_at", lit(new java.sql.Timestamp(startedMs)))
      .withColumn("__part", date_format(col("rejected_at"), "yyyy-MM")))

  /** Per-source telemetry → `_meta.source_log` (ref SourceLog:
    * one row per ingested object with its decoded row count). */
  private def writeSourceLog(spark: SparkSession, registry: TableBackend,
      ingestId: String, startedMs: Long,
      sources: Seq[(String, String, Long)]): Unit = {
    import spark.implicits._
    if (sources.isEmpty) return
    val df = sources.map { case (rule, path, n) =>
      (ingestId, new java.sql.Timestamp(startedMs), rule, path, n)
    }.toDF("ingest_id", "started_at", "rule", "path", "row_count")
      .coalesce(1) // driver-sized: rows = source objects in this ingest
      .withColumn("__part", date_format(col("started_at"), "yyyy-MM"))
    appendMeta(registry, "source_log", df)
  }

  /** Schema-only pass (≡ `swarm schema` CLI, `cmd/schema.go`): run rules
    * + inference + transform + null-pruning, return each destination's
    * effective data schema WITHOUT writing anything. */
  def inferSchemas(spark: SparkSession, cfg: Config,
      paths: Seq[String]): Seq[(String, String, org.apache.spark.sql.types.StructType)] = {
    val objects = paths.map(p => ObjectSource.list(spark, p))
      .reduceLeft(_ unionByName _)
    cfg.rules.matchObjects(objects).flatMap { case (rule, matched) =>
      val ps = matched.select("path").collect().map(_.getString(0)).toSeq
      if (ps.isEmpty) Nil
      else {
        val batch = readBatch(spark, rule, ps, cfg.distributedInference)
        try cfg.rules.schemaRulesFor(rule.schemaRule).flatMap { schemaRule =>
          val routed = Transform.pruneDataSchema(
            Transform(batch.records, schemaRule, "schema-inspect"))
          val dataSchema = routed.schema("data").dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          routed.select("dataset", "table").distinct().collect()
            .map(r => (r.getString(0), r.getString(1), dataSchema)).toSeq
        } finally batch.release()
      }
    }
  }
}
