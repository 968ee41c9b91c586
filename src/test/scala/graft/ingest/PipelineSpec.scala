package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.rules._
import graft.schema.SchemaRegistry

/** E2E ingest mirroring the reference's test scenarios
  * (`pkg/usecase/load_test.go`, fixtures described in FIXTURES.md —
  * fixture data here is same-shaped, independently authored). */
class PipelineSpec extends SparkSpec {

  private val accessLogNdjson =
    """{"log_id": "a1", "event_time": 1559347200.25, "remote_ip": "10.0.0.1", "user": "user1", "action": "login", "success": true}
      |{"log_id": "a2", "event_time": 1559347201.5, "remote_ip": "10.0.0.2", "user": "user2", "action": "logout", "success": false}
      |""".stripMargin

  // one concatenated-JSON doc exploding into 2 records; includes an
  // always-null field (must be pruned) and nested structs/arrays
  private val batchDoc =
    """{"Records": [
      |  {"eventID": "e-1", "eventTime": "2020-03-02T23:55:50Z", "eventName": "PutObject",
      |   "responseElements": null, "who": {"type": "svc", "invokedBy": "s3"},
      |   "bytes": {"in": 1228.0, "out": 0.0},
      |   "resources": [{"type": "Object", "arn": "arn:1"}], "readOnly": false},
      |  {"eventID": "e-2", "eventTime": "2020-03-02T23:56:10Z", "eventName": "GetObject",
      |   "responseElements": null, "who": {"type": "user", "invokedBy": "cli"},
      |   "bytes": {"in": 0.0, "out": 55.5},
      |   "resources": [{"type": "Object", "arn": "arn:2"}], "readOnly": true}
      |]}""".stripMargin

  private def accessRules(extra: Seq[TransformOp] = Nil) = Rules(
    event = Seq(EventRule(name = "access", when = "name LIKE '%.log'",
      schemaRule = "access")),
    schema = Seq(SchemaRule(name = "access",
      dataset = "'swarm_test'", table = "'my_log_table'",
      id = Some("log_id"), timestamp = "event_time", transforms = extra)))

  test("access-log NDJSON end-to-end (getting-started golden path)") {
    val landing = tmpDir("landing")
    writeFile(landing, "access.log", accessLogNdjson)
    writeFile(landing, "ignored.txt", "not json\n") // no event rule match
    val registry = new SchemaRegistry(tmpDir("tables"))
    val res = Pipeline.ingestPrefix(spark, Pipeline.Config(registry, accessRules()),
      s"$landing/*")
    assert(res.results.map(r => (r.dataset, r.table)) == Seq(("swarm_test", "my_log_table")))

    val out = TableSink.read(spark, registry, "swarm_test", "my_log_table")
      .orderBy("id")
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(0)).toSeq == Seq("a1", "a2")) // id = log_id
    // envelope: fractional seconds kept to micros (ref load.go:233-236)
    assert(rows(0).getTimestamp(2).toInstant.toString == "2019-06-01T00:00:00.250Z")
    // data struct carries the record fields
    val data = out.select("data.user", "data.success").orderBy("data.user").collect()
    assert(data.map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
      Seq(("user1", true), ("user2", false)))
    // telemetry: load_log row carries the appended-row count (IngestLog
    // .LogCount parity), source_log one row per object with RowCount
    val meta = spark.read.parquet(registry.dataDir("_meta", "load_log"))
    assert(meta.count() == 1)
    val metaRow = meta.select("dataset", "table", "log_count", "success").head()
    assert(metaRow.getString(0) == "swarm_test" && metaRow.getLong(2) == 2L
      && metaRow.getBoolean(3))
    val srcLog = spark.read.parquet(registry.dataDir("_meta", "source_log"))
      .select("rule", "path", "row_count").collect()
    assert(srcLog.length == 1 && srcLog(0).getString(0) == "access"
      && srcLog(0).getString(1).endsWith("access.log") && srcLog(0).getLong(2) == 2L)
  }

  test("streaming ingest of csv rules uses metadata-only discovery (no text decode)") {
    val landing = tmpDir("csv-landing")
    writeFile(landing, "metrics.csv",
      "metric_id,ts,v\nm1,1714557600.5,1.5\nm2,1714557601.0,2.5\n")
    val registry = new SchemaRegistry(tmpDir("csv-tables"))
    val cfg = Pipeline.Config(registry, Rules(
      event = Seq(EventRule(name = "metrics", when = "name LIKE '%.csv'",
        parser = "csv", schemaRule = "metrics")),
      schema = Seq(SchemaRule(name = "metrics",
        dataset = "'stream_test'", table = "'metrics'",
        id = Some("metric_id"), timestamp = "ts"))))
    val q = Pipeline.stream(spark, cfg, s"$landing/*.csv", tmpDir("csv-ckpt"))
    q.awaitTermination()
    val out = TableSink.read(spark, registry, "stream_test", "metrics")
    assert(out.select("id").collect().map(_.getString(0)).sorted.toSeq == Seq("m1", "m2"))
    assert(out.select("data.v").collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.5, 2.5))
  }

  test("invalid records land in _meta.quarantine with reasons; valid rows unaffected") {
    val landing = tmpDir("landing")
    // record 2 has no event_time -> timestamp_null; record 3's is junk text
    writeFile(landing, "access.log",
      """{"log_id": "ok1", "event_time": 1559347200.0, "user": "u1"}
        |{"log_id": "bad1", "user": "u2"}
        |{"log_id": "ok2", "event_time": 1559347201.0, "user": "u3"}
        |""".stripMargin)
    val registry = new SchemaRegistry(tmpDir("tables"))
    Pipeline.ingestPrefix(spark, Pipeline.Config(registry, accessRules()), s"$landing/*")

    val table = TableSink.read(spark, registry, "swarm_test", "my_log_table")
    assert(table.select("id").collect().map(_.getString(0)).sorted.toSeq == Seq("ok1", "ok2"))

    val q = spark.read.parquet(registry.dataDir("_meta", "quarantine"))
    val rows = q.select("rule", "reasons", "record").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "access")
    assert(rows(0).getSeq[String](1) == Seq("timestamp_null"))
    assert(rows(0).getString(2).contains("\"log_id\":\"bad1\""))
  }

  test("enrichment hook: broadcast lookup enriches routing + data; quarantine sees the enriched record") {
    // ≡ the reference's mid-rule http.send enrichment (README.md:55-66),
    // Spark-first: fetch once per batch, broadcast-join into the records
    val landing = tmpDir("enrich-landing")
    writeFile(landing, "a.log",
      """{"log_id": "e1", "event_time": 1559347200.0, "region": "eu"}
        |{"log_id": "e2", "event_time": 1559347201.0, "region": "ap"}
        |{"log_id": "e3", "event_time": 1559347202.0, "region": "zz"}
        |""".stripMargin)
    val lookup = { import spark.implicits._
      Seq(("eu", "europe"), ("ap", "asia")).toDF("region", "geo") }
    val geo = Enrichment("geo", recs =>
      recs.join(broadcast(lookup), Seq("region"), "left"))
    val rules = Rules(
      event = Seq(EventRule(name = "e", when = "name LIKE '%.log'", schemaRule = "s")),
      schema = Seq(SchemaRule(name = "s",
        dataset = "concat('ds_', geo)", table = "'t'", // routed BY the enrichment
        id = Some("log_id"), timestamp = "event_time", enrich = Some(geo))))
    val registry = new SchemaRegistry(tmpDir("enrich-tables"))
    Pipeline.ingestPrefix(spark, Pipeline.Config(registry, rules), s"$landing/*")
    val eu = TableSink.read(spark, registry, "ds_europe", "t")
    assert(eu.count() == 1L && eu.select("data.geo").head.getString(0) == "europe",
      "the enriched column must both route the record and land in data")
    assert(TableSink.read(spark, registry, "ds_asia", "t").count() == 1L)
    // the unmatched region got a null dataset → quarantined, and the
    // quarantined record shows the ENRICHED shape (geo: null present)
    val q = spark.read.parquet(registry.dataDir("_meta", "quarantine"))
      .select("reasons", "record").collect()
    assert(q.length == 1 && q(0).getSeq[String](0) == Seq("dataset_null"))
    assert(q(0).getString(1).contains("\"log_id\":\"e3\""))
  }

  test("rule files resolve named enrichments from the registry; unknown names fail loudly") {
    val dir = tmpDir("enrich-rules")
    writeFile(dir, "r.json",
      """{"event": [{"name": "e", "when": "name LIKE '%.log'", "schemaRule": "s"}],
        |"schema": [{"name": "s", "dataset": "'d'", "table": "'t'",
        |            "timestamp": "event_time", "enrich": "geo"}]}""".stripMargin)
    val geo = Enrichment("geo", identity)
    val loaded = RuleLoader.fromDir(dir, Map("geo" -> geo))
    assert(loaded.schemaRule("s").enrich.contains(geo))
    val err = intercept[RuntimeException](RuleLoader.fromDir(dir))
    assert(err.getMessage.contains("enrichment 'geo'"),
      s"unknown enrichment must fail loudly, got: ${err.getMessage}")
  }

  test("all-invalid batch: every record quarantined, table ensured empty " +
    "(literal routing), load_log records the zero-count append") {
    val landing = tmpDir("landing")
    writeFile(landing, "access.log",
      """{"log_id": "x1", "user": "u1"}
        |{"log_id": "x2", "user": "u2"}
        |""".stripMargin) // no event_time anywhere → all rows invalid
    val registry = new SchemaRegistry(tmpDir("tables"))
    val res = Pipeline.ingestPrefix(spark, Pipeline.Config(registry, accessRules()),
      s"$landing/*")
    // literal-routed rules ensure the destination even when no record
    // survives validation (the reference creates tables at schema time)
    assert(res.results.map(r => (r.dataset, r.table, r.logCount)) ==
      Seq(("swarm_test", "my_log_table", 0L)))
    assert(TableSink.read(spark, registry, "swarm_test", "my_log_table").count() == 0)
    val q = spark.read.parquet(registry.dataDir("_meta", "quarantine"))
    assert(q.count() == 2) // dropped data is never silent
  }

  test("mis-written rules fail loudly: only missing FIELDS degrade to quarantine, " +
    "unknown functions / bad exprs abort the batch") {
    val landing = tmpDir("landing")
    writeFile(landing, "access.log",
      """{"log_id": "a1", "event_time": 1559347200.0, "user": "u1"}""" + "\n")
    val registry = new SchemaRegistry(tmpDir("tables"))
    val badFn = Rules(
      event = Seq(EventRule(name = "a", when = "name LIKE '%.log'", schemaRule = "s")),
      schema = Seq(SchemaRule(name = "s", dataset = "'d'", table = "'t'",
        timestamp = "not_a_function(event_time)"))) // typo ≠ missing data
    intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.ingestPrefix(spark, Pipeline.Config(registry, badFn), s"$landing/*")
    }
  }

  test("unparseable docs quarantine WITH the offending bytes (corrupt payload kept)") {
    val landing = tmpDir("landing")
    writeFile(landing, "access.log",
      """{"log_id": "ok1", "event_time": 1559347200.0, "user": "u1"}
        |{"log_id": "broken", "event_time": 15593
        |{"log_id": "ok2", "event_time": 1559347201.0, "user": "u2"}
        |""".stripMargin)
    val registry = new SchemaRegistry(tmpDir("tables"))
    Pipeline.ingestPrefix(spark, Pipeline.Config(registry, accessRules()), s"$landing/*")
    val table = TableSink.read(spark, registry, "swarm_test", "my_log_table")
    assert(table.select("id").collect().map(_.getString(0)).sorted.toSeq == Seq("ok1", "ok2"))
    val q = spark.read.parquet(registry.dataDir("_meta", "quarantine"))
      .select("record").collect().map(_.getString(0))
    assert(q.length == 1)
    assert(q(0).contains("broken"), // the raw line is recoverable
      s"quarantined record must carry the unparseable bytes, got: ${q(0)}")
  }

  test("many-table batch: destinations append concurrently, counts per table") {
    val landing = tmpDir("landing")
    val registry = new SchemaRegistry(tmpDir("tables"))
    val rules = Rules(
      event = Seq(EventRule(name = "any", when = "name LIKE '%.log'", schemaRule = "s")),
      schema = Seq(SchemaRule(name = "s", dataset = "'d'",
        table = "concat('t', cast(v % 6 as string))", timestamp = "ts")))
    val lines = (0 until 12).map(i => s"""{"ts": ${1000.0 + i}, "v": $i}""").mkString("\n")
    writeFile(landing, "a.log", lines + "\n")
    val res = Pipeline.ingestPrefix(spark, Pipeline.Config(registry, rules), s"$landing/*")
    assert(res.results.length == 6)
    assert(res.results.forall(r => r.logCount == 2 && r.success))
    assert(res.results.map(_.table).toSet == (0 until 6).map(i => s"t$i").toSet)
    (0 until 6).foreach { i =>
      assert(TableSink.read(spark, registry, "d", s"t$i").count() == 2)
    }
    // one load_log row per destination, each with its own count
    val meta = spark.read.parquet(registry.dataDir("_meta", "load_log"))
    assert(meta.count() == 6)
    assert(meta.filter(col("log_count") === 2).count() == 6)

    // per-request rollup (ref LoadLog{Sources[],Ingests[]}): ONE nested
    // record for this request — 6 destination entries, 1 source entry
    val roll = LoadLogView.requestRollup(spark, registry)
    assert(roll.count() == 1)
    val row = roll.select(col("ingest_id"), size(col("ingests")).as("ni"),
      size(col("sources")).as("ns"),
      col("sources")(0).getField("path").as("p"),
      col("sources")(0).getField("row_count").as("rc")).head()
    assert(row.getString(0) == res.ingestId)
    assert(row.getInt(1) == 6 && row.getInt(2) == 1)
    assert(row.getString(3).endsWith("a.log") && row.getLong(4) == 12L)
    // nested shape matches the reference's record layout
    val ingestsType = roll.schema("ingests").dataType.simpleString
    assert(ingestsType ==
      "array<struct<dataset:string,table:string,schema_version:int,log_count:bigint,success:boolean>>",
      ingestsType)
  }

  test("maxObjectsPerBatch chunks a backfill without losing rows") {
    val landing = tmpDir("landing")
    (0 until 5).foreach { i =>
      writeFile(landing, s"part$i.log",
        s"""{"log_id": "p$i-1", "event_time": ${1559347200.0 + i}, "u": "a"}""" + "\n" +
        s"""{"log_id": "p$i-2", "event_time": ${1559347300.0 + i}, "u": "b"}""" + "\n")
    }
    val registry = new SchemaRegistry(tmpDir("tables"))
    val res = Pipeline.ingestPrefix(spark,
      Pipeline.Config(registry, accessRules(), maxObjectsPerBatch = Some(2)),
      s"$landing/*")
    // 5 objects at 2 per chunk → 3 parse batches, each appending to the
    // same destination; the table is complete and exactly-once
    assert(res.results.length == 3, s"expected 3 chunk appends: ${res.results}")
    assert(res.results.map(_.logCount).sum == 10L)
    val out = TableSink.read(spark, registry, "swarm_test", "my_log_table")
    assert(out.count() == 10L)
    assert(out.select("id").distinct().count() == 10L)
    // source telemetry still one row per object across chunks
    val srcLog = spark.read.parquet(registry.dataDir("_meta", "source_log"))
    assert(srcLog.count() == 5L)
  }

  test("sql passthrough exposes the telemetry meta tables and the request rollup") {
    val landing = tmpDir("landing")
    writeFile(landing, "access.log", accessLogNdjson)
    val registry = new SchemaRegistry(tmpDir("tables"))
    Pipeline.ingestPrefix(spark, Pipeline.Config(registry, accessRules()), s"$landing/*")
    val tables = registry.listTables()
    val meta = Migrate.sql(spark, registry, tables,
      "SELECT l.log_count, s.row_count FROM meta_load_log l " +
        "JOIN meta_source_log s USING (ingest_id)").head()
    assert(meta.getLong(0) == 2L && meta.getLong(1) == 2L)
    val roll = Migrate.sql(spark, registry, tables,
      "SELECT size(sources), size(ingests) FROM meta_load_log_rollup").head()
    assert(roll.getInt(0) == 1 && roll.getInt(1) == 1)
  }

  test("chunked dry-run dumps ALL chunks (append, not clobber); fresh-warehouse rollup is empty") {
    val landing = tmpDir("landing")
    (0 until 4).foreach { i =>
      writeFile(landing, s"part$i.log",
        s"""{"log_id": "d$i", "event_time": ${1559347200.0 + i}, "u": "x"}""" + "\n")
    }
    val registry = new SchemaRegistry(tmpDir("tables"))
    val dumpDir = tmpDir("dry-run")
    val cfg = Pipeline.Config(registry, accessRules(), dryRunDir = Some(dumpDir),
      maxObjectsPerBatch = Some(1))
    val run1 = Pipeline.ingestPrefix(spark, cfg, s"$landing/*")
    // 4 objects at 1/chunk → 4 dump calls; every record must survive
    val dumped = spark.read.json(s"$dumpDir/${run1.ingestId}/swarm_test.my_log_table.log")
    assert(dumped.count() == 4L,
      "dry-run chunks must append to the dump, not overwrite each other")
    // a SECOND run at the same --output lands under its own ingest-id
    // namespace: neither run's dump doubles the other's records
    val run2 = Pipeline.ingestPrefix(spark, cfg, s"$landing/*")
    assert(run2.ingestId != run1.ingestId)
    assert(spark.read.json(s"$dumpDir/${run2.ingestId}/swarm_test.my_log_table.log")
      .count() == 4L, "each dry-run owns its namespace — no cross-run append")
    assert(spark.read.json(s"$dumpDir/${run1.ingestId}/swarm_test.my_log_table.log")
      .count() == 4L, "a later dry-run must not touch an earlier run's dump")
    // dry-run writes no tables and no telemetry → the request rollup on
    // this warehouse is EMPTY, not PATH_NOT_FOUND
    assert(LoadLogView.requestRollup(spark, registry).count() == 0L)
  }

  test("multi-doc explode + null pruning + gzip (cloudtrail-shaped)") {
    val landing = tmpDir("landing")
    writeGzip(landing, "trail1.json.gz", batchDoc)
    val registry = new SchemaRegistry(tmpDir("tables"))
    val rules = Rules(
      event = Seq(EventRule(name = "trail", when = "name LIKE '%.json.gz'",
        multiDoc = true, schemaRule = "trail")),
      schema = Seq(SchemaRule(name = "trail",
        explodePath = Some("Records"),
        dataset = "'aws'", table = "'cloudtrail'", partition = "month",
        id = Some("eventID"), timestamp = "eventTime")))
    Pipeline.ingestObjects(spark, Pipeline.Config(registry, rules),
      graft.sources.ObjectSource.list(spark, s"$landing/*"))

    val out = TableSink.read(spark, registry, "aws", "cloudtrail").orderBy("id")
    assert(out.select("id").collect().map(_.getString(0)).toSeq == Seq("e-1", "e-2"))
    // null-only field pruned from the table schema (cloneWithoutNil ≡)
    val dataFields = out.schema("data").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    assert(!dataFields.contains("responseElements"))
    assert(dataFields.contains("who") && dataFields.contains("resources"))
    // nested values survive
    val r = out.filter(col("id") === "e-2")
      .select("data.who.invokedBy", "data.bytes.out", "data.resources")
      .head()
    assert(r.getString(0) == "cli" && r.getDouble(1) == 55.5)
    // month partition dirs exist
    val partDirs = new java.io.File(registry.dataDir("aws", "cloudtrail"))
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(partDirs.contains("__part=2020-03"))
  }

  test("CloudTrail fixture golden-ID parity with the reference engine (plain + gzip)") {
    // Replays the reference's flagship e2e (`pkg/usecase/load_test.go:54-128`)
    // against ITS OWN fixture, read in place: same policy semantics
    // (testdata/policy/schema.rego — explode Records, id = r.eventID,
    // month partition), asserting the exact LogIDs the Go engine asserts.
    val fixture = "/root/reference/pkg/usecase/testdata/object/cloudtrail_example.json"
    assume(new java.io.File(fixture).exists, "reference fixture not present")
    val goldenIds = Set( // load_test.go:115-120
      "ac3cfd93-435d-41cc-bbd7-aad0340ec668",
      "18e67b09-94a3-4b5c-9b3a-cd549b3341fb",
      "dbb28938-5ed4-4774-8bb6-82ea916b21bb",
      "d4dacb9d-9822-4217-b88d-d334bde89755")
    for (path <- Seq(fixture, fixture + ".gz")) {
      val registry = new SchemaRegistry(tmpDir("tables"))
      val rules = Rules(
        event = Seq(EventRule(name = "trail", when = "name LIKE '%cloudtrail%'",
          multiDoc = true, schemaRule = "cloudtrail",
          compress = if (path.endsWith(".gz")) "gzip" else "")),
        schema = Seq(SchemaRule(name = "cloudtrail", explodePath = Some("Records"),
          dataset = "'my_dataset'", table = "'cloudtrail'", partition = "month",
          id = Some("eventID"), timestamp = "eventTime")))
      Pipeline.ingestPaths(spark, Pipeline.Config(registry, rules), Seq(path))
      val out = TableSink.read(spark, registry, "my_dataset", "cloudtrail")
      assert(out.count() == 4, s"4 records expected from $path")
      assert(out.select("id").collect().map(_.getString(0)).toSet == goldenIds)
      // timestamp contract: RFC3339 eventTime, µs precision
      val ts = out.filter(col("id") === "d4dacb9d-9822-4217-b88d-d334bde89755")
        .select("timestamp").head().getTimestamp(0)
      assert(ts.toInstant.toString == "2020-03-02T23:55:50Z")
    }
  }

  test("schema evolution across heterogeneous batches (ref client_test.go:41-111)") {
    val landing = tmpDir("landing")
    val registry = new SchemaRegistry(tmpDir("tables"))
    val rules = Rules(
      event = Seq(EventRule(name = "any", when = "name LIKE '%.log'", schemaRule = "s")),
      schema = Seq(SchemaRule(name = "s", dataset = "'d'", table = "'t'",
        timestamp = "ts")))
    writeFile(landing, "batch1/a.log", """{"ts": 1.0, "red": "r", "blue": 5}""" + "\n")
    Pipeline.ingestPrefix(spark, Pipeline.Config(registry, rules), s"$landing/batch1/*")
    writeFile(landing, "batch2/b.log", """{"ts": 2.0, "red": "r2", "orange": 1.5}""" + "\n")
    writeFile(landing, "batch2/c.log", """{"ts": 3.0, "black": true}""" + "\n")
    Pipeline.ingestPrefix(spark, Pipeline.Config(registry, rules), s"$landing/batch2/*")

    val (version, schema) = registry.currentSchema("d", "t").get
    assert(version == 2)
    val dataFields = schema("data").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    assert(Set("red", "blue", "orange", "black", "ts").subsetOf(dataFields))
    // old files readable under evolved schema: missing cols are NULL
    val out = TableSink.read(spark, registry, "d", "t")
    assert(out.count() == 3)
    assert(out.filter(col("data.blue").isNotNull).count() == 1)
    assert(out.filter(col("data.black") === true).count() == 1)
  }

  test("record fields named like envelope/routing columns survive into data") {
    import spark.implicits._
    val records = Seq(
      ("r1", 1700000000.5, "my-ds", "my-tbl", "my-part", "orig-ts")
    ).toDF("log_id", "event_time", "dataset", "table", "partition", "timestamp")
    val rule = SchemaRule(name = "s", dataset = "'d'", table = "'t'",
      partition = "day", id = Some("log_id"), timestamp = "event_time")
    val out = Transform(records, rule, "ing-1")
    // routing/envelope values come from the rule, not the record
    val env = out.select("dataset", "table", "partition").head()
    assert((env.getString(0), env.getString(1), env.getString(2)) == ("d", "t", "day"))
    assert(out.select("timestamp").head().getTimestamp(0).toInstant.toString ==
      "2023-11-14T22:13:20.500Z")
    // the record's own same-named fields are packed into data untouched
    val data = out.select("data.dataset", "data.table", "data.partition", "data.timestamp").head()
    assert((data.getString(0), data.getString(1), data.getString(2), data.getString(3)) ==
      ("my-ds", "my-tbl", "my-part", "orig-ts"))
  }

  test("default id is deterministic md5 of canonical data (ref types.go:27-34)") {
    val landing = tmpDir("landing")
    val registry = new SchemaRegistry(tmpDir("tables"))
    val rules = Rules(
      event = Seq(EventRule(name = "any", when = "name LIKE '%.log'", schemaRule = "s")),
      schema = Seq(SchemaRule(name = "s", dataset = "'d'", table = "'t'",
        timestamp = "ts"))) // no id -> md5(canonical json)
    writeFile(landing, "a.log", """{"ts": 1.0, "z": "v", "a": 1}""" + "\n")
    Pipeline.ingestPrefix(spark, Pipeline.Config(registry, rules), s"$landing/*.log")
    val id1 = TableSink.read(spark, registry, "d", "t").select("id").head().getString(0)
    // re-ingest identical record into a fresh table -> same id
    val registry2 = new SchemaRegistry(tmpDir("tables"))
    Pipeline.ingestPrefix(spark, Pipeline.Config(registry2, rules), s"$landing/*.log")
    val id2 = TableSink.read(spark, registry2, "d", "t").select("id").head().getString(0)
    assert(id1 == id2 && id1.length == 32)
  }

  test("event rule fan-out: N matching rules ingest the object N ways") {
    val landing = tmpDir("landing")
    val registry = new SchemaRegistry(tmpDir("tables"))
    val rules = Rules(
      event = Seq(
        EventRule(name = "r1", when = "name LIKE '%.log'", schemaRule = "s1"),
        EventRule(name = "r2", when = "size > 0", schemaRule = "s2")),
      schema = Seq(
        SchemaRule(name = "s1", dataset = "'d'", table = "'t1'", timestamp = "ts"),
        SchemaRule(name = "s2", dataset = "'d'", table = "'t2'", timestamp = "ts")))
    writeFile(landing, "a.log", """{"ts": 1.0, "v": 1}""" + "\n")
    val res = Pipeline.ingestPrefix(spark, Pipeline.Config(registry, rules), s"$landing/*")
    assert(res.results.map(_.table).toSet == Set("t1", "t2"))
  }

  test("dedup: re-delivered objects don't duplicate rows (ref T3 state machine)") {
    val landing = tmpDir("landing")
    val registry = new SchemaRegistry(tmpDir("tables"))
    val cfg = Pipeline.Config(registry, accessRules(), dedup = Some(true))
    writeFile(landing, "a.log", accessLogNdjson)
    Pipeline.ingestPrefix(spark, cfg, s"$landing/*")
    // same object re-delivered (at-least-once) -> no new rows
    Pipeline.ingestPrefix(spark, cfg, s"$landing/*")
    assert(TableSink.read(spark, registry, "swarm_test", "my_log_table").count() == 2)
    // a genuinely new record still lands
    writeFile(landing, "b.log",
      """{"log_id": "a3", "event_time": 1559347300, "user": "u3", "action": "x", "success": true}""" + "\n")
    Pipeline.ingestPrefix(spark, cfg, s"$landing/*")
    assert(TableSink.read(spark, registry, "swarm_test", "my_log_table").count() == 3)
  }

  test("two notifications of one object in one micro-batch commit each record once") {
    val objects = tmpDir("twice-objects")
    writeFile(objects, "access.log", accessLogNdjson)
    // two deliveries (distinct message ids, so the push receiver spools
    // both) of the same object land in ONE notification micro-batch
    val spool = tmpDir("twice-spool")
    val event = """{"kind":"storage#object","bucket":"b","name":"access.log",""" +
      """"size":"123","timeCreated":"2024-05-01T10:00:00Z"}"""
    writeFile(spool, "m-1.json", event + "\n")
    writeFile(spool, "m-2.json", event + "\n")
    val registry = new SchemaRegistry(tmpDir("tables"))
    val q = Pipeline.streamNotifications(spark,
      Pipeline.Config(registry, accessRules()), s"$spool/*.json", tmpDir("ckpt"),
      pathRewrite = Some(("gs://b/", s"$objects/")))
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 1,
      "both notifications must arrive in one micro-batch")
    val out = TableSink.read(spark, registry, "swarm_test", "my_log_table")
    assert(out.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a1", "a2"))
  }

  test("backpressure: maxFilesPerTrigger bounds each micro-batch (T6)") {
    val landing = tmpDir("landing")
    val registry = new SchemaRegistry(tmpDir("tables"))
    (1 to 3).foreach(i => writeFile(landing, s"f$i.log",
      s"""{"log_id": "b$i", "event_time": ${1559347200 + i}, "user": "u$i", "action": "x", "success": true}""" + "\n"))
    val q = Pipeline.stream(spark, Pipeline.Config(registry, accessRules()),
      landing, tmpDir("ckpt"), maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    assert(TableSink.read(spark, registry, "swarm_test", "my_log_table").count() == 3)
    // 3 files at 1 file/trigger → 3 non-empty micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
  }

  test("backpressure: maxBytesPerTrigger bounds each micro-batch by volume (T6)") {
    val landing = tmpDir("landing")
    val registry = new SchemaRegistry(tmpDir("tables"))
    (1 to 3).foreach(i => writeFile(landing, s"f$i.log",
      s"""{"log_id": "b$i", "event_time": ${1559347200 + i}, "user": "u$i", "action": "x", "success": true}""" + "\n"))
    // each file ~90 B; a 1-byte budget still admits one file per batch
    // (the source never splits a file) — so volume, not file count,
    // paces the drain: 3 non-empty micro-batches
    val q = Pipeline.stream(spark, Pipeline.Config(registry, accessRules()),
      landing, tmpDir("ckpt"), maxBytesPerTrigger = Some(1L))
    q.awaitTermination()
    assert(TableSink.read(spark, registry, "swarm_test", "my_log_table").count() == 3)
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
  }

  test("streaming replay safety: dedup is ON by default — a lost checkpoint " +
    "(full at-least-once replay) cannot duplicate table rows") {
    val landing = tmpDir("landing")
    writeFile(landing, "access.log", accessLogNdjson)
    val registry = new SchemaRegistry(tmpDir("tables"))
    val cfg = Pipeline.Config(registry, accessRules()) // dedup = None → stream default ON
    val q1 = Pipeline.stream(spark, cfg, landing, tmpDir("ckpt-1"))
    q1.awaitTermination()
    assert(TableSink.read(spark, registry, "swarm_test", "my_log_table").count() == 2)
    // checkpoint lost → the fresh stream re-reads EVERY landing object;
    // the id anti-join keeps the table exactly-once out of the box
    val q2 = Pipeline.stream(spark, cfg, landing, tmpDir("ckpt-2"))
    q2.awaitTermination()
    val out = TableSink.read(spark, registry, "swarm_test", "my_log_table")
    assert(out.count() == 2)
    assert(out.select("id").distinct().count() == 2)
    // explicit opt-out replays duplicate (the caller asked for raw appends)
    val q3 = Pipeline.stream(spark, cfg.copy(dedup = Some(false)), landing, tmpDir("ckpt-3"))
    q3.awaitTermination()
    assert(TableSink.read(spark, registry, "swarm_test", "my_log_table").count() == 4)
  }

  test("streaming ingest: AvailableNow drains, checkpoint prevents reprocessing") {
    val landing = tmpDir("landing")
    val checkpoint = tmpDir("ckpt")
    val registry = new SchemaRegistry(tmpDir("tables"))
    val cfg = Pipeline.Config(registry, accessRules())
    writeFile(landing, "one.log", accessLogNdjson)
    val q1 = Pipeline.stream(spark, cfg, landing, checkpoint)
    q1.awaitTermination()
    assert(TableSink.read(spark, registry, "swarm_test", "my_log_table").count() == 2)
    // second run: only the NEW file is processed (file-source checkpoint)
    writeFile(landing, "two.log",
      """{"log_id": "b1", "event_time": 1559347300, "user": "user3", "action": "login", "success": true}""" + "\n")
    val q2 = Pipeline.stream(spark, cfg, landing, checkpoint)
    q2.awaitTermination()
    val out = TableSink.read(spark, registry, "swarm_test", "my_log_table")
    assert(out.count() == 3)
    assert(out.filter(col("id") === "a1").count() == 1) // not duplicated
  }
}
