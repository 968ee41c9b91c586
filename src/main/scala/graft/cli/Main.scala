package graft.cli

import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.ingest.{Enqueue, Migrate, Pipeline}
import graft.rules.RuleLoader
import graft.schema.SchemaRegistry

/** CLI entry points mirroring the reference binary's subcommands
  * (`/root/reference/main.go:1-12`, `pkg/controller/cmd/cli.go`):
  *
  * {{{
  *   graft.cli.Main ingest  --rules R --warehouse W [--dry-run --output D] [--dedup] <glob>...
  *   graft.cli.Main serve   --rules R --warehouse W --checkpoint C [--continuous MS] [--max-files N] <glob>
  *   graft.cli.Main enqueue --output D [--count-limit N] [--size-limit B] <glob>
  *   graft.cli.Main schema  --rules R <glob>...
  *   graft.cli.Main migrate --warehouse W <srcDs.srcTbl> <dstDs.dstTbl> [--partition U]
  *   graft.cli.Main sql     --warehouse W <query>
  * }}}
  *
  * `--rules` takes a JSON rule file or a directory of them (the Rego
  * policy-dir replacement, SURVEY §2.8); `--warehouse` is the registry
  * root. `serve` ≡ the reference's server loop re-expressed as the
  * checkpointed streaming source: AvailableNow drains-and-exits
  * (backfill), `--continuous` keeps a processing-time trigger running.
  */
object Main {

  private val usage: String =
    """usage: graft [ingest|serve|push|enqueue|schema|migrate|sql|corpus|cluster|sample|select|strip|tokenize|pack|recall|split|rank|score|phrases|dsir|freq|health|negatives|agree|calibrate|decontam|imagedup|chunkdup|txlog] <flags> <args>
      |  ingest  --rules <file|dir> --warehouse <dir> [--backend registry|txlog] [--dry-run] [--output <dir>] [--dedup] [--batch-size <n>] <glob>...
      |  serve   --rules <file|dir> --warehouse <dir> [--backend registry|txlog] --checkpoint <dir> [--continuous <ms>] [--max-files <n>] [--dedup] <glob>
      |  push    --rules <file|dir> --warehouse <dir> [--backend registry|txlog] --checkpoint <dir> --spool <dir> [--port <n>] [--interval <ms>] [--path-rewrite <from=to>] [--auth-rego <file>] [--auth-token <t>] [--jwt-secret <s> [--jwt-issuer <iss>]] [--jwks <file|url> [--jwt-issuer <iss>] [--jwt-email <e>]] [--state <dir>] [--memory-limit <bytes>] [--dedup]
      |  enqueue --output <dir> [--count-limit <n>] [--size-limit <bytes>] <glob>
      |  schema  --rules <file|dir> [--warehouse <dir>] <glob>...
      |  migrate --warehouse <dir> [--backend registry] [--partition <unit>] <srcDs.srcTbl> <dstDs.dstTbl>
      |  sql     --warehouse <dir> [--backend registry] [--limit <n>] <query>
      |  corpus  --corpus <dir> --checkpoint <dir> [--id-col <c>] [--text-col <c>] [--continuous <ms>] [--max-files <n> | --max-bytes <b>] [--near-dup] [--min-agree <f>] [--compact-every <n>] <glob>
      |  corpus compact --corpus <dir> [--target-bytes <b>] [--small-bytes <b>] [--min-files <n>]
      |  cluster --store <dir> --checkpoint <dir> [--output <dir>] [--id-col <c>] [--text-col <c>] [--threshold <t>] [--buckets <n>] [--max-files <n> | --max-bytes <b>] <glob>
      |  cluster compact --store <dir> [--min-dirs <n>]
      |  cluster status --store <dir>
      |  cluster expire --store <dir> --keep-from <batchId>
      |  sample  --output <dir> [--id-col <c>] (--per-mille <n> | --strata <c1,c2> --cap <n> | --cluster-cap <n> [--nlist <n>] [--vec-col <c>] | --shuffle-seed <s> | --weighted --weight-col <c> --n <n> [--strata-col <c1,c2>] [--seed <s>] | --mix-alpha <a> --stratum <c> --budget <n> --weight-col <c> [--seed <s>]) [--warehouse <dir>] <ds.tbl|parquetDir>
      |  select  --output <dir> --budget <n> --score <col> --weight <col> [--id-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  strip   --output <dir> [--intra | --ref "<bool SQL>" [--p <n>]] [--k <n>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  tokenize --output <dir> [--merges <n>] [--min-freq <n>] [--save-merges <file>] [--load-merges <file>] [--ids] [--save-vocab <file>] [--load-vocab <file>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  pack    --output <dir> [--seq-len <n>] [--shards <n>] [--id-col <c>] [--count-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  recall  --output <dir> [--queries <n>] [--k <n>] [--method lsh|ivf|pq] [--id-col <c>] [--vec-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  split   --output <dir> [--fractions train:800,val:100,test:100] [--pairs <parquetDir>] [--id-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  rank    --output <dir> --query "<id>:<terms>[;<id>:<terms>...]" [--k <n>] [--k1 <f>] [--b <f>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  score   --output <dir> [--band <loQ,hiQ> --value-col <c> | --label <c>] [--ngram 2|3] [--save-model <dir> | --load-model <dir>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  score --stream --load-model <dir> --output <dir> --checkpoint <dir> [--label <c>] [--id-col <c>] [--text-col <c>] [--max-files <n> | --max-bytes <b>] <parquetGlob>
      |  phrases --output <dir> [--k <n>] [--min-count <n>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  decontam --output <dir> --eval "<bool SQL>" [--fuzzy [--w <n>] | --semantic [--threshold <t>] [--vec-col <c>]] [--k <n>] [--min-shared <n>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  decontam --save-model <dir> --eval "<bool SQL>" [--k <n>] [--w <n>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  decontam --stream --load-model <dir> --output <dir> --checkpoint <dir> [--k <n>] [--w <n>] [--min-shared <n>] [--id-col <c>] [--text-col <c>] [--max-files <n> | --max-bytes <b>] <parquetGlob>
      |  dsir    --output <dir> --target "<bool SQL>" [--n <n>] [--buckets <n>] [--temperature <t>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  dsir    --save-model <dir> --target "<bool SQL>" [--buckets <n>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  dsir    --stream --load-model <dir> --threshold <t> --output <dir> --checkpoint <dir> [--buckets <n>] [--id-col <c>] [--text-col <c>] [--max-files <n> | --max-bytes <b>] <parquetGlob>
      |  freq    --output <dir> [--support <num/den>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  health  --output <dir> [--group-col <c>] [--text-col <c>] [--overlap [--max-group-freq <n>]] [--embeddings <ds.tbl|parquetDir> [--vec-col <c>] [--label <c>]] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  negatives --output <dir> --queries "<bool SQL>" [--k <n>] [--nlist <n> [--nprobe <n>]] [--id-col <c>] [--vec-col <c>] [--label-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  agree   --output <dir> [--queries "<bool SQL>"] [--k <n>] [--id-col <c>] [--vec-col <c>] [--label-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  calibrate --output <dir> [--sample-mod <n>] [--id-col <c>] [--vec-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  imagedup --output <dir> [--radius <n> [--hash-bits <n>]] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  chunkdup --output <dir> [--ref "<bool SQL>"] [--k <n>] [--p <n>] [--id-col <c>] [--text-col <c>] [--warehouse <dir>] <ds.tbl|parquetDir>
      |  txlog versions --warehouse <dir> <ds.tbl>
      |  txlog snapshot --warehouse <dir> --output <dir> [--version <n>] <ds.tbl>
      |  txlog vacuum   --warehouse <dir> [--older-than-ms <n>] <ds.tbl>
      |  txlog compact  --warehouse <dir> [--target-partitions <n>] [--expire] <ds.tbl>
      |  txlog diff     --warehouse <dir> --output <dir> [--from <v>] [--to <v>] <ds.tbl>
      |every <ds.tbl|parquetDir> verb also takes --select "<expr AS name>,..." to project at read (e.g. --select "data.doc_id AS doc_id,data.text AS text" off an ingested table)""".stripMargin

  /** Each form's flags, read off its own `usage` line — the one list of
    * them — plus the global `--select`. A form is keyed by its verb and
    * the line's sub-command word or leading mode flag ("" for neither);
    * the mode flags are listed in the order the dispatch tests them. */
  private val modeFlags = Seq("--stream", "--save-model")
  private val formFlags: Map[(String, String), Set[String]] =
    usage.linesIterator.map(_.trim.split("\\s+", 3)).toSeq.collect {
      case Array(verb, first, rest) =>
        val form = if (first.matches("[a-z]+") || modeFlags.contains(first)) first else ""
        (verb, form) -> ("--([a-z][a-z0-9-]*)".r.findAllMatchIn(s"$first $rest")
          .map(_.group(1)).toSet + "select")
    }.groupMapReduce(_._1)(_._2)(_ ++ _)

  /** Short names of the oldest verbs. */
  private val aliases =
    Map("i" -> "ingest", "s" -> "serve", "p" -> "push", "e" -> "enqueue",
      "m" -> "migrate", "c" -> "corpus")

  /** Flags a verb no longer takes, with why. */
  private val removedFlags = Seq("shards", "expected-items", "fpp").map(f => ("corpus", f) ->
    (s"corpus --$f was removed: the corpus keeps no corpus-wide filter; each file " +
      "of its digest index carries a filter sized for its own rows")).toMap

  /** Refuse any flag the form the call dispatches to does not take — a
    * misspelled or foreign flag would otherwise be ignored and the run
    * proceed on defaults. Unknown verbs and forms pass through to the
    * dispatch's own error. */
  private def checkFlags(verb: String, flags: Map[String, String],
      pos: Seq[String]): Unit = {
    def has(form: String) = formFlags.contains((verb, form))
    val form = pos.headOption.filter(has)
      .orElse(modeFlags.find(m => flags.contains(m.drop(2)) && has(m)))
      .getOrElse("")
    formFlags.get((verb, form)).foreach { allowed =>
      flags.keys.toSeq.sorted.find(!allowed(_)).foreach { f =>
        throw new IllegalArgumentException(removedFlags.getOrElse((verb, f),
          s"${s"$verb $form".trim} does not take --$f\n$usage"))
      }
    }
  }

  /** Parsed flags + positional args (flags may appear anywhere). */
  private def parse(args: Seq[String]): (Map[String, String], Seq[String]) = {
    val flags = Map.newBuilder[String, String]
    val pos = Seq.newBuilder[String]
    val boolFlags = Set("--dry-run", "--dedup", "--near-dup", "--ids",
      "--overlap", "--intra", "--expire", "--fuzzy", "--semantic", "--weighted",
      "--stream")
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case f :: tail if boolFlags(f) =>
        flags += f.drop(2) -> "true"; rest = tail
      case f :: v :: tail if f.startsWith("--") =>
        flags += f.drop(2) -> v; rest = tail
      case f :: Nil if f.startsWith("--") =>
        sys.error(s"flag $f needs a value"); rest = Nil
      case p :: tail => pos += p; rest = tail
      case Nil =>
    }
    (flags.result(), pos.result())
  }

  private def loadRules(path: String) =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
      RuleLoader.fromDir(path)
    else RuleLoader.fromFile(path)

  private def req(flags: Map[String, String], k: String): String =
    flags.getOrElse(k, sys.error(s"missing required flag --$k\n$usage"))

  /** Storage backend for the write-path verbs: the directory-partitioned
    * parquet registry (default) or the transaction-log backend
    * ([[graft.schema.TxLogBackend]] — versioned manifest commits,
    * snapshot reads, lock-free cross-JVM appends). `migrate`/`sql` read
    * through registry-specific layout and stay registry-only. */
  private def backendFor(flags: Map[String, String]): graft.schema.TableBackend =
    flags.getOrElse("backend", "registry") match {
      case "registry" => new SchemaRegistry(req(flags, "warehouse"))
      case "txlog" => new graft.schema.TxLogBackend(req(flags, "warehouse"))
      case "bigquery-emu" => new graft.schema.bigquery.BigQueryWriteBackend(
        new graft.schema.bigquery.BigQueryEmulator(req(flags, "warehouse")))
      case other => sys.error(
        s"unknown --backend '$other' (registry | txlog | bigquery-emu)")
    }

  /** Input frame for the curation verbs: with `--warehouse`, a
    * registry table named `ds.tbl` (partition scaffolding dropped,
    * like `sql`); otherwise a parquet directory path. */
  private def readTable(spark: org.apache.spark.sql.SparkSession,
      flags: Map[String, String], ref: String) = {
    val base = flags.get("warehouse") match {
      case Some(w) if ref.contains(".") && !ref.contains("/") =>
        val Array(ds, tbl) = ref.split("\\.", 2)
        spark.read.parquet(new SchemaRegistry(w).dataDir(ds, tbl)).drop("__part")
      case _ => spark.read.parquet(ref)
    }
    // --select "data.doc_id AS doc_id,data.text AS text": projection
    // applied at read, so curation verbs chain directly off ingested
    // tables (whose payload lives under the `data` envelope) without a
    // materialization step. Comma-separated simple expressions.
    flags.get("select") match {
      case Some(sel) => base.selectExpr(sel.split(",").map(_.trim): _*)
      case None => base
    }
  }

  /** Sized parquet file-stream for the replay verbs (`cluster`,
    * `score --stream`, `dsir --stream`, `decontam --stream`): one file
    * per trigger by default; every replay's floor is PER-TRIGGER, so a
    * backlogged landing zone should mega-batch with `--max-bytes` (or
    * `--max-files`). The two are mutually exclusive — the file stream
    * source rejects both limits at once. `schema` defaults to a one-off
    * batch read of the same glob. */
  private def sizedFileStream(spark: org.apache.spark.sql.SparkSession,
      flags: Map[String, String], glob: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None) = {
    require(!(flags.contains("max-files") && flags.contains("max-bytes")),
      "--max-files and --max-bytes are mutually exclusive (the file " +
        "stream source rejects both trigger limits at once) — pick one")
    val reader = spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(glob).schema))
    (flags.get("max-bytes") match {
      case Some(b) => reader.option("maxBytesPerTrigger", b)
      case None => reader.option("maxFilesPerTrigger",
        flags.getOrElse("max-files", "1").toInt)
    }).parquet(glob)
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val spark = GraftSession.get()
    try run(spark, args) finally spark.stop()
  }

  /** The dispatch, session-agnostic — `main` owns the session's
    * lifecycle; tests drive verbs on a shared session. */
  def run(spark: org.apache.spark.sql.SparkSession, args: Array[String]): Unit = {
    val (flags, pos) = parse(args.toSeq.tail)
    val verb = aliases.getOrElse(args(0), args(0))
    checkFlags(verb, flags, pos)
    verb match {

      case "ingest" =>
        require(pos.nonEmpty, "ingest needs at least one object path/glob")
        val cfg = Pipeline.Config(
          backendFor(flags),
          loadRules(req(flags, "rules")),
          dedup = if (flags.contains("dedup")) Some(true) else None,
          dryRunDir = if (flags.contains("dry-run"))
            Some(flags.getOrElse("output", ".")) else None,
          maxObjectsPerBatch = flags.get("batch-size").map(_.toInt))
        val res = Pipeline.ingestPaths(spark, cfg, pos)
        res.results.foreach(r => println(
          s"${r.dataset}.${r.table} v${r.schemaVersion} rows=${r.logCount} ok=${r.success}"))

      case "serve" =>
        require(pos.size == 1, "serve needs exactly one landing glob")
        val cfg = Pipeline.Config(
          backendFor(flags),
          loadRules(req(flags, "rules")),
          dedup = if (flags.contains("dedup")) Some(true) else None)
        val sl = graft.streaming.StreamLog.attach(spark, cfg.registry)
        val trigger = flags.get("continuous")
          .map(ms => Trigger.ProcessingTime(ms.toLong))
          .getOrElse(Trigger.AvailableNow())
        val q = Pipeline.stream(spark, cfg, pos.head, req(flags, "checkpoint"),
          trigger, flags.get("max-files").map(_.toInt))
        q.awaitTermination()
        sl.drain() // let the final batch's telemetry land before stop

      case "push" =>
        // HTTP Pub/Sub push endpoint (S6): receiver spools notifications,
        // the continuous query ingests the referenced objects
        val cfg = Pipeline.Config(
          backendFor(flags),
          loadRules(req(flags, "rules")),
          dedup = if (flags.contains("dedup")) Some(true) else None)
        val sl = graft.streaming.StreamLog.attach(spark, cfg.registry)
        val spool = req(flags, "spool")
        val rx = new graft.sources.PushReceiver(spool,
          flags.get("port").map(_.toInt).getOrElse(0),
          // --auth-rego <file>: a `package auth` Rego policy evaluated
          // per request (the reference's native auth surface — header/
          // path/query rules, io.jwt over http.send JWKS, see
          // rules.rego.RegoAuth). Else
          // --jwks <file|url>: RS256 bearer JWTs verified against a JWK
          // Set (the Google-signed-ID-token production shape; pin the
          // service account with --jwt-email, issuer with --jwt-issuer;
          // the set is re-read hourly). Else --jwt-secret <s>: HS256
          // claims-verifying bearer JWTs (exp/nbf enforced; pin iss with
          // --jwt-issuer). Else --auth-token <t>: only
          // `Authorization: Bearer <t>` may push
          auth = flags.get("auth-rego")
            .map { f =>
              graft.rules.rego.RegoAuth.asHttpAuth(graft.rules.rego.RegoAuth.compile(
                java.nio.file.Files.readString(java.nio.file.Paths.get(f))))
            }
            .orElse(flags.get("jwks")
            .map { src =>
              val fetch: () => String = () =>
                if (src.startsWith("http://") || src.startsWith("https://"))
                  scala.io.Source.fromURL(src, "UTF-8").mkString
                else new String(java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(src)), "UTF-8")
              graft.sources.PushReceiver.jwtBearerRs256(
                graft.sources.PushReceiver.cachedSupplier(3600L, fetch),
                flags.get("jwt-issuer").map(i => Map("iss" -> i)).getOrElse(Map.empty) ++
                  flags.get("jwt-email").map(e => Map("email" -> e)).getOrElse(Map.empty))
            })
            .orElse(flags.get("jwt-secret")
              .map(s => graft.sources.PushReceiver.jwtBearer(s,
                flags.get("jwt-issuer").map(i => Map("iss" -> i)).getOrElse(Map.empty))))
            .orElse(flags.get("auth-token")
              .map(graft.sources.PushReceiver.bearerToken))
            .getOrElse(_ => true),
          // --state <dir>: multi-worker message state machine (shared dir)
          state = flags.get("state").map(new graft.state.StateStore(_)),
          // --memory-limit <bytes>: 429 above this heap use (T6)
          memoryLimitBytes = flags.get("memory-limit").map(_.toLong).getOrElse(0L)
        ).start()
        println(s"push receiver listening on :${rx.boundPort}, spool=$spool")
        val rewrite = flags.get("path-rewrite").map { s =>
          val Array(from, to) = s.split("=", 2); (from, to)
        }
        val q = Pipeline.streamNotifications(spark, cfg, s"$spool/*.json",
          req(flags, "checkpoint"),
          Trigger.ProcessingTime(flags.get("interval").map(_.toLong).getOrElse(1000L)),
          rewrite)
        try q.awaitTermination() finally { sl.drain(); rx.stop() }

      case "enqueue" =>
        require(pos.size == 1, "enqueue needs exactly one prefix glob")
        val files = Enqueue.enqueue(spark, pos.head, req(flags, "output"),
          flags.get("count-limit").map(_.toInt).getOrElse(Enqueue.DefaultCountLimit),
          flags.get("size-limit").map(_.toLong).getOrElse(Enqueue.DefaultSizeLimit))
        files.foreach(println)

      case "schema" =>
        require(pos.nonEmpty, "schema needs at least one object path/glob")
        val cfg = Pipeline.Config(new SchemaRegistry(
          flags.getOrElse("warehouse", graft.util.Workspace.temp("graft-schema"))),
          loadRules(req(flags, "rules")))
        Pipeline.inferSchemas(spark, cfg, pos).foreach { case (ds, tbl, schema) =>
          println(s"-- $ds.$tbl")
          println(schema.treeString)
        }

      case "migrate" =>
        // registry-layout reads only — silently constructing a registry
        // over a txlog warehouse would find no tables, with no hint why
        flags.get("backend").filter(_ != "registry").foreach(b =>
          sys.error(s"--backend $b is not supported by 'migrate' (registry layout only)"))
        require(pos.size == 2, "migrate needs <srcDs.srcTbl> <dstDs.dstTbl>")
        val Array(sds, stbl) = pos(0).split("\\.", 2)
        val Array(dds, dtbl) = pos(1).split("\\.", 2)
        val n = Migrate.migrate(spark, new SchemaRegistry(req(flags, "warehouse")),
          sds, stbl, dds, dtbl, flags.getOrElse("partition", ""))
        println(s"migrated $sds.$stbl -> $dds.$dtbl rows=$n")

      case "sql" =>
        flags.get("backend").filter(_ != "registry").foreach(b =>
          sys.error(s"--backend $b is not supported by 'sql' (registry layout only)"))
        require(pos.size == 1, "sql needs exactly one query string")
        val registry = new SchemaRegistry(req(flags, "warehouse"))
        // telemetry tables are plain parquet (no registry schema entry) —
        // register them too so `_meta_load_log` etc. are queryable
        Seq("load_log", "source_log", "quarantine", "stream_log").foreach { t =>
          val dir = registry.dataDir("_meta", t)
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
            spark.read.parquet(dir).drop("__part")
              .createOrReplaceTempView(s"_meta_$t")
        }
        val df = Migrate.sql(spark, registry, registry.listTables(), pos.head)
        // stream the read-out: toLocalIterator holds one partition at a
        // time on the driver, so an unbounded SELECT over a 100 TB table
        // never materializes the full result; --limit caps it outright
        val rows = flags.get("limit").map(n => df.limit(n.toInt)).getOrElse(df)
        rows.toJSON.toLocalIterator().forEachRemaining(println(_))

      case "corpus" if pos == Seq("compact") =>
        // bounded-growth maintenance for the corpus stores (docs dir +
        // digest/band index layouts): small-file bin packing, serialized
        // against concurrent compactions via the maintenance lock
        val reports = graft.streaming.CorpusBuilder.compactStores(
          spark, req(flags, "corpus"),
          targetBytes = flags.get("target-bytes").map(_.toLong).getOrElse(256L << 20),
          smallBytes = flags.get("small-bytes").map(_.toLong).getOrElse(64L << 20),
          minFiles = flags.get("min-files").map(_.toInt).getOrElse(16))
        if (reports.isEmpty) println("compact: nothing to do (or lock held)")
        else reports.foreach { case (store, rs) =>
          if (rs.isEmpty) println(s"$store: already compact")
          // an index entry's Report counts (runs folded, bulks after),
          // not files/bytes — print it as the LSM fold it is
          else if (store.endsWith("-index"))
            rs.foreach(r => println(s"$store ${r.partition}: folded " +
              s"${r.filesBefore} runs into ${r.filesAfter} bulks"))
          else rs.foreach(r => println(s"$store ${r.partition}: " +
            s"${r.filesBefore} -> ${r.filesAfter} (${r.bytes} bytes)"))
        }

      case "corpus" =>
        // streaming exact-deduped corpus builder (CorpusBuilder):
        // exactly-once by content under any replay
        require(pos.size == 1, "corpus needs exactly one landing glob")
        val trigger = flags.get("continuous")
          .map(ms => Trigger.ProcessingTime(ms.toLong))
          .getOrElse(Trigger.AvailableNow())
        // --max-bytes: mega-batch landing, the `cluster` verb's knob —
        // each micro-batch pays the gate's fixed floor (index
        // probes + derived-store appends), so a backlogged landing
        // zone should batch by bytes, not files
        val q = graft.streaming.CorpusBuilder.build(spark, pos.head,
          req(flags, "checkpoint"), req(flags, "corpus"),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"),
          trigger = trigger,
          maxFilesPerTrigger = flags.get("max-files").map(_.toInt),
          maxBytesPerTrigger = flags.get("max-bytes").map(_.toLong),
          nearDup = if (flags.contains("near-dup"))
            Some(graft.streaming.CorpusBuilder.NearDup(
              minAgree = flags.get("min-agree").map(_.toDouble).getOrElse(0.8)))
          else None,
          compactEvery = flags.get("compact-every").map(_.toInt)
            .getOrElse(graft.streaming.CorpusBuilder.DefaultCompactEvery))
        q.awaitTermination()
        println(s"corpus rows: " +
          spark.read.parquet(s"${req(flags, "corpus")}/docs").count())

      case "cluster" if pos == Seq("compact") =>
        // bounded-growth maintenance for the cluster state (one sig +
        // band + edge dir per micro-batch otherwise accretes forever);
        // run between drains, like `corpus compact`
        graft.streaming.ClusterStream.compactStores(spark,
          req(flags, "store"),
          minDirs = flags.get("min-dirs").map(_.toInt).getOrElse(8)) match {
          case Some((s0, b0, e0)) => println(s"cluster compact: $s0 sig + " +
            s"$b0 band + $e0 edge dirs -> 1 each")
          case None => println("cluster compact: nothing to do")
        }

      case "cluster" if pos == Seq("status") =>
        // operational read-out of the store manifest: the batch
        // pointer, maintained row total, state-dir accretion (how
        // overdue compaction is), and the bound checkpoint lineage
        graft.streaming.ClusterStream.status(req(flags, "store")) match {
          case Some(s) => println(s)
          case None => println("cluster status: empty store")
        }

      case "cluster" if pos == Seq("expire") =>
        // retention horizon (the reference's bounded dedup TTL,
        // pkg/usecase/usecase.go:37): drop documents that landed before
        // --keep-from <batchId> and recompute the labels as the batch
        // CC over the retained window; run between drains
        graft.streaming.ClusterStream.expire(spark, req(flags, "store"),
          req(flags, "keep-from").toLong) match {
          case Some((docs, rows)) => println(
            s"cluster expire: $docs docs retained, $rows label rows")
          case None => println("cluster expire: empty store, nothing to do")
        }

      case "cluster" =>
        // incremental duplicate clustering (ClusterStream): connected
        // components maintained under a live feed, only touched
        // components recomputed per batch; resume with the SAME
        // checkpoint (the store's batch pointer tracks one stream)
        require(pos.size == 1, "cluster needs exactly one landing glob")
        val store = req(flags, "store")
        val (idCol0, textCol0) =
          (flags.getOrElse("id-col", "doc_id"), flags.getOrElse("text-col", "text"))
        // the id type follows the landing data (ClusterStream supports
        // any orderable id) — a one-off batch read of the same glob
        // supplies the stream schema instead of hardcoding LongType
        val landed = spark.read.parquet(pos.head).schema
        val in = sizedFileStream(spark, flags, pos.head,
          Some(org.apache.spark.sql.types.StructType(Seq(
            landed(idCol0), landed(textCol0)))))
        val labels = graft.streaming.ClusterStream.streamClusters(spark, in,
          store, req(flags, "checkpoint"),
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"),
          threshold = flags.get("threshold").map(_.toDouble).getOrElse(0.8),
          nBuckets = flags.get("buckets").map(_.toInt)
            .getOrElse(graft.streaming.ClusterStream.DefaultBuckets))
        flags.get("output").foreach(out =>
          labels.write.mode("overwrite").parquet(out))
        println(s"clusters: ${labels.select("comp").distinct().count()} " +
          s"components over ${labels.count()} paired docs " +
          s"(batch ${graft.streaming.ClusterStream.lastBatch(store).getOrElse(-1L)})")

      case "sample" =>
        // deterministic corpus sampling (q49/q75 operators as a verb —
        // the reference's one-usecase-one-verb pattern, cmd/cli.go)
        require(pos.size == 1, "sample needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.col
        val df = readTable(spark, flags, pos.head)
        val id = col(flags.getOrElse("id-col", "doc_id"))
        val sampled =
          if (flags.contains("per-mille"))
            graft.curation.Sampling.uniformSample(df, id, flags("per-mille").toInt)
          else if (flags.contains("strata"))
            graft.curation.Sampling.stratifiedCap(df,
              flags("strata").split(",").toSeq, id, req(flags, "cap").toInt)
          else if (flags.contains("cluster-cap"))
            graft.sim.Similarity.clusterBalancedSample(df,
              flags.getOrElse("nlist", "16").toInt, flags("cluster-cap").toInt,
              idCol = flags.getOrElse("id-col", "vec_id"),
              vecCol = flags.getOrElse("vec-col", "embedding"))
          else if (flags.contains("shuffle-seed"))
            // deterministic training-order assignment (q80 operator)
            graft.curation.Sampling.shuffleOrder(df, id, flags("shuffle-seed"))
          else if (flags.contains("weighted") && flags.contains("strata-col"))
            // per-stratum quota draw (q143)
            graft.curation.Sampling.stratifiedWeightedSample(df,
              flags("strata-col").split(",").toSeq, id,
              col(req(flags, "weight-col")), req(flags, "n").toInt,
              flags.getOrElse("seed", "0"))
          else if (flags.contains("weighted"))
            // Efraimidis-Spirakis without-replacement draw (q132)
            graft.curation.Sampling.weightedSample(df, id,
              col(req(flags, "weight-col")), req(flags, "n").toInt,
              flags.getOrElse("seed", "0"))
          else if (flags.contains("mix-alpha"))
            // temperature-balanced mix, REALIZED (q145): q55's
            // alpha-weighted allocations drawn by E-S priority
            graft.curation.Sampling.allocatedSample(df,
              req(flags, "stratum"), flags("mix-alpha").toDouble,
              req(flags, "budget").toLong, id,
              col(req(flags, "weight-col")), flags.getOrElse("seed", "0"))
          else sys.error(
            s"sample needs --per-mille, --strata + --cap, --cluster-cap, " +
              s"--shuffle-seed, --weighted + --weight-col + --n " +
              s"[--strata-col], or --mix-alpha + --stratum + --budget + " +
              s"--weight-col\n$usage")
        sampled.write.mode("overwrite").parquet(req(flags, "output"))
        println(s"sampled rows: " +
          spark.read.parquet(req(flags, "output")).count())

      case "select" =>
        // quality-ranked token-budget selection (q76 operator as a verb)
        require(pos.size == 1, "select needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.col
        val df = readTable(spark, flags, pos.head)
        val kept = graft.curation.Sampling.budgetSelect(df,
          col(flags.getOrElse("id-col", "doc_id")),
          col(req(flags, "score")), col(req(flags, "weight")),
          req(flags, "budget").toLong)
        kept.write.mode("overwrite").parquet(req(flags, "output"))
        println(s"selected rows: " +
          spark.read.parquet(req(flags, "output")).count())

      case "strip" =>
        // exact substring-span removal (q79 operator as a verb): cut
        // k-token grams repeated across docs from all but one keeper;
        // --intra instead cuts grams repeated WITHIN one document
        // (q116 — the crawl-loop / template-stutter cleaner)
        require(pos.size == 1, "strip needs exactly one <ds.tbl|parquetDir>")
        val df = readTable(spark, flags, pos.head)
        val stripId = flags.getOrElse("id-col", "doc_id")
        val stripText = flags.getOrElse("text-col", "text")
        val out =
          if (flags.contains("ref")) {
            // CDC chunk strip vs a reference slice (q147): excise
            // whole content-defined chunks the --ref slice contains
            import org.apache.spark.sql.functions.{expr, not}
            val refPred = expr(flags("ref"))
            val (k, p) = (flags.getOrElse("k", "3").toInt,
              flags.getOrElse("p", "8").toInt)
            graft.dedup.Dedup.cdcStrip(df.filter(not(refPred)),
              graft.dedup.Dedup.cdcDigests(df.filter(refPred), k, p,
                stripId, stripText), k, p, stripId, stripText)
          } else if (flags.contains("intra"))
            graft.dedup.Dedup.stripIntraDocRepeats(df,
              k = flags.getOrElse("k", "13").toInt,
              idCol = stripId, textCol = stripText)
          else graft.dedup.Dedup.stripDuplicateSpans(df,
            k = flags.getOrElse("k", "13").toInt,
            idCol = stripId, textCol = stripText)
        out.write.mode("overwrite").parquet(req(flags, "output"))
        val removedCol =
          if (flags.contains("ref")) "dropped_tokens" else "n_removed"
        val removed = spark.read.parquet(req(flags, "output"))
          .agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum(removedCol),
            org.apache.spark.sql.functions.lit(0L))).head.getLong(0)
        println(s"stripped tokens: $removed")

      case "split" =>
        // deterministic train/val/test split (q68/q89 operators as a
        // verb): per-mille fractions over the md5 id bucket; with
        // --pairs, near-dup clusters move whole (cluster-aware, q89)
        require(pos.size == 1, "split needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c}
        val df = readTable(spark, flags, pos.head)
        val idCol = flags.getOrElse("id-col", "doc_id")
        val fractions = flags.getOrElse("fractions", "train:800,val:100,test:100")
          .split(",").toSeq.map { part =>
            part.split(":", 2) match {
              case Array(n, p) => n -> p.toInt
              case _ => sys.error(s"bad --fractions entry '$part' (name:permille)")
            }
          }
        val out = flags.get("pairs") match {
          case Some(p) => graft.curation.Sampling.clusterAwareSplit(
            df, c(idCol), spark.read.parquet(p), fractions)
          case None => graft.curation.Sampling.datasetSplit(df, c(idCol), fractions)
        }
        out.write.mode("overwrite").parquet(req(flags, "output"))
        spark.read.parquet(req(flags, "output")).groupBy("split").count()
          .orderBy("split").collect()
          .foreach(r => println(s"${r.getString(0)}: ${r.getLong(1)}"))

      case "recall" =>
        // ANN recall eval (q87 operator as a verb): exact baseline on a
        // query sample vs an approximate method — the tuning loop run
        // before committing parameters to a full corpus pass
        require(pos.size == 1, "recall needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c}
        import graft.sim.Similarity
        val df = readTable(spark, flags, pos.head)
        val idCol = flags.getOrElse("id-col", "vec_id")
        val vecCol = flags.getOrElse("vec-col", "embedding")
        val nQ = flags.getOrElse("queries", "10").toInt
        val k = flags.getOrElse("k", "10").toInt
        val queries = df.orderBy(c(idCol)).limit(nQ)
        val exact = Similarity.bruteForceTopK(queries, df, k, idCol, vecCol)
        val approx = flags.getOrElse("method", "lsh") match {
          case "lsh" => Similarity.lshTopK(queries, df, k, idCol = idCol, vecCol = vecCol)
          case "ivf" => Similarity.ivfTopK(queries, df, k, idCol = idCol, vecCol = vecCol)
          case "pq" => Similarity.pqTopK(queries, df, k, idCol = idCol, vecCol = vecCol)
          case m => sys.error(s"unknown --method $m (lsh|ivf|pq)")
        }
        val recall = Similarity.recallAtK(exact, approx, k)
        recall.write.mode("overwrite").parquet(req(flags, "output"))
        val mean = spark.read.parquet(req(flags, "output"))
          .agg(org.apache.spark.sql.functions.avg("recall")).head.getDouble(0)
        println(f"mean recall@$k: $mean%.4f over $nQ queries")

      case "pack" =>
        // sequence packing (q57 operator as a verb): place docs into
        // fixed-length training sequences, sharded, no global sort
        require(pos.size == 1, "pack needs exactly one <ds.tbl|parquetDir>")
        val df = readTable(spark, flags, pos.head)
        val positions = graft.curation.Packing.packPositions(df,
          org.apache.spark.sql.functions.col(flags.getOrElse("id-col", "doc_id")),
          org.apache.spark.sql.functions.col(flags.getOrElse("count-col", "n_tokens")),
          seqLen = flags.getOrElse("seq-len", "2048").toInt,
          nShards = flags.getOrElse("shards", "1").toInt)
        positions.write.mode("overwrite").parquet(req(flags, "output"))
        val packs = spark.read.parquet(req(flags, "output"))
          .select("shard", "pack_id").distinct().count()
        println(s"packs: $packs")

      case "tokenize" =>
        // BPE tokenize (q86 operator as a verb): train a merge table
        // over the input (or load a saved one), encode every doc. The
        // train/encode split is the production shape — train once on a
        // sample, ship the small merges file with every encode job.
        require(pos.size == 1, "tokenize needs exactly one <ds.tbl|parquetDir>")
        import graft.text.Bpe
        val df = readTable(spark, flags, pos.head)
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val merges = flags.get("load-merges") match {
          case Some(f) => Bpe.loadMerges(f)
          case None => Bpe.train(df, textCol,
            numMerges = flags.getOrElse("merges", "1000").toInt,
            minFreq = flags.getOrElse("min-freq", "1").toLong)
        }
        flags.get("save-merges").foreach(Bpe.saveMerges(_, merges))
        // --ids: emit int token ids against a vocab (loaded, or built
        // from this input and optionally saved) instead of strings
        val encoded =
          if (flags.contains("ids") || flags.contains("load-vocab") ||
              flags.contains("save-vocab")) {
            val vocab = flags.get("load-vocab") match {
              case Some(f) => Bpe.loadVocab(f)
              case None => Bpe.vocabList(df, textCol, merges)
            }
            flags.get("save-vocab").foreach(Bpe.saveVocab(_, vocab))
            Bpe.encodeIds(org.apache.spark.sql.functions.col(textCol),
              merges, vocab).as("tokens")
          } else Bpe.encode(org.apache.spark.sql.functions.col(textCol),
            merges).as("tokens")
        df.select(org.apache.spark.sql.functions.col(idCol), encoded)
          .write.mode("overwrite").parquet(req(flags, "output"))
        val n = spark.read.parquet(req(flags, "output"))
          .agg(org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.size(
                org.apache.spark.sql.functions.col("tokens"))),
            org.apache.spark.sql.functions.lit(0L))).head.getLong(0)
        println(s"merges: ${merges.size}, tokens: $n")

      case "rank" =>
        // BM25 keyword retrieval (q82 operator as a verb): exact top-k
        // per probe query — eval-set mining / targeted decontamination
        // without an external index. --query takes `id:terms` entries
        // separated by `;` (a bare term list gets query id "q").
        require(pos.size == 1, "rank needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, lower}
        val df = readTable(spark, flags, pos.head)
        val idCol = flags.getOrElse("id-col", "doc_id")
        val queries = req(flags, "query").split(";").toSeq
          .map(_.trim).filter(_.nonEmpty).map { entry =>
            entry.split(":", 2) match {
              case Array(qid, terms) =>
                qid.trim -> terms.trim.split("\\s+").toSeq
              case _ => "q" -> entry.split("\\s+").toSeq
            }
          }
        val ranked = graft.text.Retrieval.bm25TopK(df, c(idCol),
          graft.text.TextFunctions.tokens(
            lower(c(flags.getOrElse("text-col", "text")))),
          queries, k = flags.getOrElse("k", "10").toInt,
          k1 = flags.getOrElse("k1", "1.2").toDouble,
          b = flags.getOrElse("b", "0.75").toDouble)
          .withColumnRenamed("__id", idCol)
        ranked.write.mode("overwrite").parquet(req(flags, "output"))
        spark.read.parquet(req(flags, "output"))
          .orderBy(c("query_id"), c("rank")).collect()
          .foreach(r => println(s"${r.get(0)} #${r.get(1)}: ${r.get(2)} " +
            f"(${r.getDouble(3)}%.4f)"))

      case "score" if flags.contains("stream") =>
        // STREAMING scoring against a frozen --load-model artifact —
        // the q120/q122 path as a verb: the parquet landing glob
        // drains as a file stream, every micro-batch scores against
        // the frozen model (NB when the artifact carries cls/, bigram
        // LM otherwise), and --output accumulates batch=<id> subdirs
        // (read back as one frame via ScoreStream.output). Trigger
        // sizing mirrors `cluster`: one file per trigger by default;
        // the scoring floor is PER-TRIGGER, so a backlogged landing
        // zone should mega-batch with --max-bytes (or --max-files)
        require(pos.size == 1,
          "score --stream needs exactly one parquet landing glob")
        import org.apache.spark.sql.functions.{col => c, lit, lower}
        val modelDir = req(flags, "load-model")
        val idCol = flags.getOrElse("id-col", "doc_id")
        val toksOf = graft.text.TextFunctions.tokens(
          lower(c(flags.getOrElse("text-col", "text"))))
        val in = sizedFileStream(spark, flags, pos.head)
        val outDir = req(flags, "output")
        if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(modelDir, "cls")))
          graft.curation.Classifier.scoreNbStream(in, c(idCol), toksOf,
            flags.get("label").map(c(_)).getOrElse(lit(null).cast("string")),
            modelDir, outDir, req(flags, "checkpoint"))
        else
          graft.curation.LangModel.scoreBigramStream(in, c(idCol), toksOf,
            modelDir, outDir, req(flags, "checkpoint"))
        println(s"scored rows: " +
          graft.streaming.ScoreStream.output(spark, outDir).count())

      case "score" =>
        // corpus-statistics document scoring: by default the bigram-LM
        // cross-entropy (q81, the CCNet-style quality signal); with
        // --band loQ,hiQ --value-col <c>, the adaptive percentile-band
        // filter (q92 — thresholds from the corpus, not constants);
        // with --label <c>, the closed-form Naive Bayes classifier
        // (q97 — self-classification: label ≠ predicted rows are the
        // mislabel/contamination audit surface)
        require(pos.size == 1, "score needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, coalesce, lit, lower, round, avg, sum => fsum}
        val df = readTable(spark, flags, pos.head)
        val idCol = flags.getOrElse("id-col", "doc_id")
        val toksOf = graft.text.TextFunctions.tokens(
          lower(c(flags.getOrElse("text-col", "text"))))
        // artifact kind by layout: NB models carry cls/, LM models c12/
        def isNbModel(dir: String): Boolean =
          java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "cls"))
        if (flags.contains("label") ||
            flags.get("load-model").exists(isNbModel)) {
          // train-once/score-many: --save-model persists the five NB
          // count tables; --load-model scores (even an unlabeled feed)
          // against the frozen artifact without a training pass
          val out = (flags.get("load-model"), flags.get("label")) match {
            case (Some(dir), lbl) =>
              graft.curation.Classifier.scoreNbModel(df, c(idCol), toksOf,
                  lbl.map(c(_)).getOrElse(lit(null).cast("string")), dir)
                .withColumnRenamed("__id", idCol)
            case (None, Some(lbl)) =>
              flags.get("save-model").foreach(dir =>
                graft.curation.Classifier.trainNbModel(df, c(idCol), toksOf,
                  c(lbl), dir))
              graft.curation.Classifier.naiveBayes(df, c(idCol), toksOf, c(lbl))
                .withColumnRenamed("__id", idCol)
            case _ => sys.error("unreachable")
          }
          out.write.mode("overwrite").parquet(req(flags, "output"))
          val got = spark.read.parquet(req(flags, "output"))
          val agree = got.where(c("label") === c("predicted")).count()
          println(s"self-agreement: $agree/${got.count()}")
        } else flags.get("band") match {
          case Some(band) =>
            val Array(loQ, hiQ) = band.split(",", 2).map(_.trim.toDouble)
            val out = graft.curation.Packing.percentileFilter(df,
              req(flags, "value-col"), loQ, hiQ)
            out.write.mode("overwrite").parquet(req(flags, "output"))
            val got = spark.read.parquet(req(flags, "output"))
            val kept = got.where(c("within")).count()
            val b0 = got.select("lo", "hi").head
            println(f"band [${b0.getDouble(0)}%.2f, ${b0.getDouble(1)}%.2f]: " +
              s"$kept/${got.count()} within")
          case None =>
            // default: bigram LM; --ngram 3 switches to the
            // Jelinek-Mercer-interpolated trigram model (q115);
            // --save-model/--load-model freeze/reuse the bigram count
            // tables (score a live feed without retraining, q120's path)
            val toks = toksOf
            val trigram = flags.getOrElse("ngram", "2") match {
              case "2" => false
              case "3" => true
              case other => sys.error(s"--ngram must be 2 or 3, got '$other'")
            }
            require(!(trigram && (flags.contains("save-model") ||
              flags.contains("load-model"))),
              "model artifacts are bigram-only (--ngram 2)")
            val (scored, nCol, unit) = flags.get("load-model") match {
              case Some(dir) => (graft.curation.LangModel.scoreBigramModel(
                df, c(idCol), toks, dir), "n_bigrams", "bigrams")
              case None =>
                if (trigram) (graft.curation.LangModel.trigramCrossEntropy(
                  df, c(idCol), toks), "n_trigrams", "trigrams")
                else {
                  flags.get("save-model").foreach(dir =>
                    graft.curation.LangModel.trainBigramModel(df, c(idCol), toks, dir))
                  (graft.curation.LangModel.bigramCrossEntropy(
                    df, c(idCol), toks), "n_bigrams", "bigrams")
                }
            }
            val out = df.select(c(idCol))
              .join(scored.withColumnRenamed("__id", idCol), Seq(idCol), "left")
              .select(c(idCol),
                coalesce(c(nCol), lit(0L)).as(nCol),
                round(c("xent"), 6).as("xent"))
            out.write.mode("overwrite").parquet(req(flags, "output"))
            val m = spark.read.parquet(req(flags, "output"))
              .agg(avg("xent"), fsum(nCol)).head
            println(f"mean xent: ${m.getDouble(0)}%.4f over ${m.getLong(1)} $unit")
        }

      case "phrases" =>
        // PMI collocation mining (q102 operator as a verb): top-k
        // adjacent token pairs by pointwise mutual information —
        // multi-word-expression discovery / boilerplate audit
        require(pos.size == 1, "phrases needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, lower}
        val df = readTable(spark, flags, pos.head)
        val out = graft.text.Collocations.pmiTopK(df,
          graft.text.TextFunctions.tokens(
            lower(c(flags.getOrElse("text-col", "text")))),
          minCount = flags.getOrElse("min-count", "5").toLong,
          k = flags.getOrElse("k", "50").toInt)
        out.write.mode("overwrite").parquet(req(flags, "output"))
        spark.read.parquet(req(flags, "output")).orderBy(c("rank")).collect()
          .foreach(r => println(f"#${r.getLong(0)} ${r.getString(1)} " +
            f"${r.getString(2)} (n=${r.getLong(3)}, pmi=${r.getDouble(4)}%.4f)"))

      case "dsir" if flags.contains("stream") =>
        // STREAMING DSIR gate (q127 as a verb): drain the parquet
        // landing glob against a frozen --load-model lr/ table,
        // appending documents with score >= --threshold to --output —
        // DSIR as a filter, because a per-document threshold
        // decomposes over micro-batches where a global top-n would not
        require(pos.size == 1,
          "dsir --stream needs exactly one parquet landing glob")
        import org.apache.spark.sql.functions.{col => c, lower}
        graft.curation.Dsir.gateStream(sizedFileStream(spark, flags, pos.head),
          c(flags.getOrElse("id-col", "doc_id")),
          graft.text.TextFunctions.tokens(
            lower(c(flags.getOrElse("text-col", "text")))),
          req(flags, "load-model"),
          flags.getOrElse("buckets", "1024").toInt,
          req(flags, "threshold").toDouble,
          req(flags, "output"), req(flags, "checkpoint"))
        println(s"gated rows: " + graft.streaming.ScoreStream
          .output(spark, req(flags, "output")).count())

      case "dsir" if flags.contains("save-model") =>
        // the train-once half of the streaming gate: persist the
        // frozen per-bucket log-ratio table (full domain, Laplace-
        // smoothed) for --stream drains against a fixed target slice
        require(pos.size == 1,
          "dsir --save-model needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, expr, lower}
        graft.curation.Dsir.trainDsirModel(readTable(spark, flags, pos.head),
          c(flags.getOrElse("id-col", "doc_id")),
          graft.text.TextFunctions.tokens(
            lower(c(flags.getOrElse("text-col", "text")))),
          expr(req(flags, "target")),
          flags.getOrElse("buckets", "1024").toInt, req(flags, "save-model"))
        println(s"dsir model saved: ${req(flags, "save-model")}/lr " +
          s"(target: ${req(flags, "target")})")

      case "dsir" =>
        // DSIR selection (q103/q118 as a verb): --target is a SQL
        // predicate naming the trusted slice. Default keeps the
        // deterministic top --n head; --temperature T switches to the
        // paper's Gumbel importance RESAMPLING (md5-deterministic)
        require(pos.size == 1, "dsir needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, expr, lower}
        val df = readTable(spark, flags, pos.head)
        val idCol = flags.getOrElse("id-col", "doc_id")
        val toks = graft.text.TextFunctions.tokens(
          lower(c(flags.getOrElse("text-col", "text"))))
        val n = flags.getOrElse("n", "100").toInt
        val buckets = flags.getOrElse("buckets", "1024").toInt
        val out = (flags.get("temperature") match {
          case Some(t) => graft.curation.Dsir.resample(df, c(idCol), toks,
            expr(req(flags, "target")), n, buckets, t.toDouble)
          case None => graft.curation.Dsir.select(df, c(idCol), toks,
            expr(req(flags, "target")), n, buckets)
        }).withColumnRenamed("__id", idCol)
        out.write.mode("overwrite").parquet(req(flags, "output"))
        val got = spark.read.parquet(req(flags, "output"))
        println(s"selected: ${got.count()} docs (target: ${req(flags, "target")})")

      case "freq" =>
        // exact frequent-token mining (q104 operator as a verb): terms
        // at support ≥ num/den of the token stream via the Misra-Gries
        // candidate pass + exact re-count — stop-list / boilerplate
        // token discovery without shuffling the vocabulary tail
        require(pos.size == 1, "freq needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, lower}
        val df = readTable(spark, flags, pos.head)
        val (num, den) = flags.getOrElse("support", "1/100")
          .split("/", 2).map(_.trim) match {
          case Array(n, d) if n.forall(_.isDigit) && d.forall(_.isDigit)
              && n.nonEmpty && d.nonEmpty => (n.toLong, d.toLong)
          case other => sys.error(
            s"--support must be num/den (e.g. 1/100), got '${other.mkString("/")}'")
        }
        val out = graft.text.HeavyHitters.frequentTokens(df,
          graft.text.TextFunctions.tokens(
            lower(c(flags.getOrElse("text-col", "text")))), num, den)
        out.write.mode("overwrite").parquet(req(flags, "output"))
        spark.read.parquet(req(flags, "output"))
          .orderBy(c("freq").desc, c("term")).collect()
          .foreach(r => println(s"${r.getString(0)}: ${r.getLong(1)}"))

      case "health" =>
        // corpus-health report (q105/q107/q109/q110/q106 as one verb):
        // per-group KL drift + Zipf slope over a text table; with
        // --overlap also the top shared-span source pairs; with
        // --embeddings/--label, the embedding-space diagnostics
        // (anisotropy + the weakest/strongest Fisher dimensions)
        require(pos.size == 1, "health needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, lower}
        val df = readTable(spark, flags, pos.head)
        val groupCol = flags.getOrElse("group-col", "source")
        val toks = graft.text.TextFunctions.tokens(
          lower(c(flags.getOrElse("text-col", "text"))))
        val kl = graft.text.CorpusStats.klDrift(df, c(groupCol), toks)
        val zipf = graft.text.CorpusStats.zipfSlope(df, c(groupCol), toks)
        val rep = kl.join(zipf.select(c("group"), c("zipf_slope")), Seq("group"))
        rep.write.mode("overwrite").parquet(req(flags, "output") + "/drift")
        spark.read.parquet(req(flags, "output") + "/drift")
          .orderBy(c("kl").desc).collect().foreach(r =>
          println(f"${r.getString(0)}%-12s kl=${r.getDouble(2)}%.4f " +
            (if (r.isNullAt(3)) "zipf=n/a" else f"zipf=${r.getDouble(3)}%.3f")))
        if (flags.contains("overlap")) {
          val ov = graft.text.CorpusStats.groupOverlap(df, c(groupCol),
            c(flags.getOrElse("text-col", "text")),
            maxGroupFreq = flags.getOrElse("max-group-freq", "64").toInt)
          ov.write.mode("overwrite").parquet(req(flags, "output") + "/overlap")
          spark.read.parquet(req(flags, "output") + "/overlap")
            .orderBy(c("overlap").desc).limit(10).collect().foreach(r =>
            println(f"overlap ${r.getString(0)} ~ ${r.getString(1)}: " +
              f"${r.getDouble(3)}%.4f (${r.getLong(2)} spans)"))
        }
        flags.get("embeddings").foreach { embTbl =>
          val emb = readTable(spark, flags, embTbl)
          val vecCol = flags.getOrElse("vec-col", "embedding")
          val an = graft.sim.EmbeddingStats.anisotropy(emb, c(vecCol))
            .collect().head
          println(if (an.isNullAt(1)) s"anisotropy: n/a (n=${an.getLong(0)})"
            else f"anisotropy: ${an.getDouble(1)}%.4f over ${an.getLong(0)} vectors")
          flags.get("label").foreach { lbl =>
            val fr = graft.sim.EmbeddingStats.fisherRatio(emb, c(vecCol), c(lbl))
            fr.write.mode("overwrite").parquet(req(flags, "output") + "/fisher")
            val rows = spark.read.parquet(req(flags, "output") + "/fisher")
              .orderBy(c("fisher").desc_nulls_last).collect()
            val shown = rows.take(3) ++ rows.reverse.take(3)
            shown.foreach(r => println(f"fisher dim ${r.getLong(0)}: " +
              (if (r.isNullAt(3)) "n/a" else f"${r.getDouble(3)}%.5f")))
          }
        }

      case "negatives" =>
        // hard-negative mining (q111/q113 as a verb): --queries is a
        // SQL predicate choosing the probe rows; --nlist/--nprobe
        // switch to the IVF scale path
        require(pos.size == 1, "negatives needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, expr}
        val df = readTable(spark, flags, pos.head)
        val qs = df.filter(expr(req(flags, "queries")))
        val k = flags.getOrElse("k", "10").toInt
        val idCol = flags.getOrElse("id-col", "vec_id")
        val vecCol = flags.getOrElse("vec-col", "embedding")
        val lblCol = flags.getOrElse("label-col", "label")
        val out = (flags.get("nlist"), flags.get("nprobe")) match {
          case (Some(nl), np) => graft.sim.Mining.hardNegativesIvf(qs, df, k,
            nl.toInt, np.map(_.toInt).getOrElse(math.max(1, nl.toInt / 4)),
            idCol, vecCol, lblCol)
          case (None, Some(_)) => sys.error(
            "--nprobe without --nlist: the IVF path needs both (or neither " +
              "for the exact cross join)")
          case _ => graft.sim.Mining.hardNegatives(qs, df, k, idCol, vecCol, lblCol)
        }
        out.write.mode("overwrite").parquet(req(flags, "output"))
        val got = spark.read.parquet(req(flags, "output"))
        println(s"mined: ${got.count()} negatives for " +
          s"${got.select("query_id").distinct().count()} queries")

      case "calibrate" =>
        // cosine-threshold calibration (q131 as a verb): the read-out
        // you run BEFORE picking a semantic-dedup cutoff — md5 vector
        // sample, exact pairwise cosine over the sample, exact
        // percentiles of the similarity distribution
        require(pos.size == 1, "calibrate needs exactly one <ds.tbl|parquetDir>")
        val df = readTable(spark, flags, pos.head)
        val out = graft.sim.Similarity.cosineCalibration(df,
          flags.getOrElse("id-col", "vec_id"),
          flags.getOrElse("vec-col", "embedding"),
          flags.getOrElse("sample-mod", "8").toInt)
        out.write.mode("overwrite").parquet(req(flags, "output"))
        spark.read.parquet(req(flags, "output")).collect().foreach(r =>
          println(f"vectors ${r.getLong(0)} pairs ${r.getLong(1)} " +
            f"p50 ${r.getDouble(2)}%.6f p90 ${r.getDouble(3)}%.6f " +
            f"p99 ${r.getDouble(4)}%.6f"))

      case "agree" =>
        // kNN label agreement (q112 as a verb): the geometric mislabel
        // audit — low-agreement rows are the review queue
        require(pos.size == 1, "agree needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{col => c, expr}
        val df = readTable(spark, flags, pos.head)
        val qs = flags.get("queries").map(p => df.filter(expr(p))).getOrElse(df)
        val out = graft.sim.Mining.knnLabelAgreement(qs, df,
          flags.getOrElse("k", "10").toInt,
          flags.getOrElse("id-col", "vec_id"),
          flags.getOrElse("vec-col", "embedding"),
          flags.getOrElse("label-col", "label"))
        out.write.mode("overwrite").parquet(req(flags, "output"))
        spark.read.parquet(req(flags, "output"))
          .orderBy(c("agreement"), c("query_id")).limit(10).collect()
          .foreach(r => println(f"vec ${r.getLong(0)} label ${r.get(1)}: " +
            f"agreement ${r.getDouble(3)}%.2f"))

      case "decontam" if flags.contains("stream") =>
        // STREAMING fuzzy decontamination (q129 as a verb): screen the
        // parquet landing glob against a frozen --load-model fp/ set
        // (built once from the benchmark suite with --save-model),
        // appending flagged (id, n_shared) rows to --output
        require(pos.size == 1,
          "decontam --stream needs exactly one parquet landing glob")
        graft.dedup.Dedup.decontaminateStream(
          sizedFileStream(spark, flags, pos.head), req(flags, "load-model"),
          req(flags, "output"), req(flags, "checkpoint"),
          shingleK = flags.getOrElse("k", "3").toInt,
          w = flags.getOrElse("w", "4").toInt,
          minShared = flags.getOrElse("min-shared", "2").toInt,
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"))
        println(s"flagged rows: " + graft.streaming.ScoreStream
          .output(spark, req(flags, "output")).count())

      case "decontam" if flags.contains("save-model") =>
        // the train-once half of crawl-time decontamination: winnow
        // the benchmark slice's fingerprints into a frozen fp/ set
        require(pos.size == 1,
          "decontam --save-model needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.expr
        graft.dedup.Dedup.trainEvalFingerprints(
          readTable(spark, flags, pos.head), expr(req(flags, "eval")),
          req(flags, "save-model"),
          shingleK = flags.getOrElse("k", "3").toInt,
          w = flags.getOrElse("w", "4").toInt,
          idCol = flags.getOrElse("id-col", "doc_id"),
          textCol = flags.getOrElse("text-col", "text"))
        println(s"eval fingerprints saved: ${req(flags, "save-model")}/fp " +
          s"(eval: ${req(flags, "eval")})")

      case "decontam" =>
        // train/eval decontamination (q48/q123 as a verb): --eval is a
        // SQL predicate naming the benchmark slice; default is exact
        // k-gram overlap, --fuzzy switches to winnowed-fingerprint
        // collisions (catches drifted/paraphrased leaks)
        require(pos.size == 1, "decontam needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.expr
        val df = readTable(spark, flags, pos.head)
        val evalPred = expr(req(flags, "eval"))
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val out =
          if (flags.contains("semantic")) {
            // embedding-space decontamination (q134): max cosine of
            // each corpus vector against the eval slice, flag at
            // --threshold; report rows above it (paraphrased leaks
            // share no n-grams but sit next to the eval point)
            import org.apache.spark.sql.functions.{col, not}
            graft.sim.Similarity.semanticContamination(
                df.filter(not(evalPred)), df.filter(evalPred),
                threshold = flags.getOrElse("threshold", "0.25").toDouble,
                idCol = flags.getOrElse("id-col", "vec_id"),
                vecCol = flags.getOrElse("vec-col", "embedding"))
              .filter(col("contaminated"))
          } else if (flags.contains("fuzzy"))
            graft.dedup.Dedup.fuzzyContamination(df, evalPred,
              shingleK = flags.getOrElse("k", "3").toInt,
              w = flags.getOrElse("w", "4").toInt,
              minShared = flags.getOrElse("min-shared", "2").toInt,
              idCol = idCol, textCol = textCol)
          else graft.dedup.Dedup.contamination(df, evalPred,
            k = flags.getOrElse("k", "13").toInt,
            idCol = idCol, textCol = textCol)
        out.write.mode("overwrite").parquet(req(flags, "output"))
        println(s"flagged: ${spark.read.parquet(req(flags, "output")).count()} " +
          s"contaminated docs (eval: ${req(flags, "eval")})")

      case "imagedup" =>
        // perceptual-hash image dedup (q114/q119 as a verb): radius 0 =
        // aHash bucket join + exact feature verify; --radius > 0 blocks
        // the hash into radius+1 bit slices (pigeonhole-total recall)
        require(pos.size == 1, "imagedup needs exactly one <ds.tbl|parquetDir>")
        val df = readTable(spark, flags, pos.head)
        val radius = flags.getOrElse("radius", "0").toInt
        val out =
          if (radius == 0) graft.multimodal.Multimodal.imageNearDupPairs(df)
          else graft.multimodal.Multimodal.imageNearDupPairsRadius(df, radius,
            flags.getOrElse("hash-bits", "64").toInt)
        out.write.mode("overwrite").parquet(req(flags, "output"))
        println(s"image near-dup pairs: " +
          s"${spark.read.parquet(req(flags, "output")).count()} (radius $radius)")

      case "chunkdup" =>
        // content-defined chunking dedup (q137/q138 as a verb): default
        // emits the cross-doc duplicated-chunk report; --ref "<pred>"
        // switches to per-doc duplication COVERAGE against the
        // reference slice (the crawl-gate signal)
        require(pos.size == 1, "chunkdup needs exactly one <ds.tbl|parquetDir>")
        import org.apache.spark.sql.functions.{expr, not}
        val df = readTable(spark, flags, pos.head)
        val k = flags.getOrElse("k", "3").toInt
        val p = flags.getOrElse("p", "8").toInt
        val idCol = flags.getOrElse("id-col", "doc_id")
        val textCol = flags.getOrElse("text-col", "text")
        val out = flags.get("ref") match {
          case Some(pred) =>
            val refPred = expr(pred)
            graft.dedup.Dedup.cdcCoverage(df.filter(not(refPred)),
              graft.dedup.Dedup.cdcDigests(df.filter(refPred), k, p, idCol, textCol),
              k, p, idCol, textCol)
          case None =>
            graft.dedup.Dedup.cdcDuplicateChunks(df, k, p, idCol, textCol)
        }
        out.write.mode("overwrite").parquet(req(flags, "output"))
        println(s"chunkdup rows: ${spark.read.parquet(req(flags, "output")).count()}" +
          s" (k=$k p=$p${flags.get("ref").map(r => s" ref=$r").getOrElse("")})")

      case "txlog" =>
        // maintenance/lineage verbs for the transaction-log backend:
        // `versions` lists the manifest total order, `snapshot` exports
        // an immutable readAt(version) (the reproducible-training-run
        // contract: record the number, re-read identical bytes
        // forever), `vacuum` reclaims crash-stranded batch dirs
        require(pos.size == 2 &&
          Set("versions", "snapshot", "vacuum", "compact", "diff")(pos.head),
          s"txlog needs versions|snapshot|vacuum|compact|diff + one <ds.tbl>\n$usage")
        val Array(ds, tbl) = pos(1).split("\\.", 2)
        val backend = new graft.schema.TxLogBackend(req(flags, "warehouse"))
        pos.head match {
          case "versions" =>
            val vs = backend.snapshotVersions(ds, tbl)
            if (vs.isEmpty) println("no commits")
            else vs.foreach(v => println(s"v$v"))
          case "snapshot" =>
            val vs = backend.snapshotVersions(ds, tbl)
            require(vs.nonEmpty, s"$ds.$tbl has no commits to snapshot")
            val v = flags.get("version").map(_.toInt).getOrElse(vs.max)
            require(vs.contains(v),
              s"version $v is not a published commit (have: ${vs.mkString(", ")})")
            backend.readAt(spark, ds, tbl, v).drop("__part")
              .write.mode("overwrite").parquet(req(flags, "output"))
            println(s"snapshot $ds.$tbl@v$v rows=" +
              spark.read.parquet(req(flags, "output")).count())
          case "vacuum" =>
            val gone = backend.vacuum(ds, tbl,
              flags.get("older-than-ms").map(_.toLong).getOrElse(24L * 3600 * 1000))
            if (gone.isEmpty) println("vacuum: nothing to reclaim")
            else gone.foreach(d => println(s"reclaimed $d"))
          case "compact" =>
            val v = backend.compact(spark, ds, tbl,
              flags.getOrElse("target-partitions", "1").toInt)
            if (v == 0) println("compact: already compact")
            else println(s"compacted $ds.$tbl -> v$v")
            if (flags.contains("expire")) {
              val gone = backend.expireReplaced(ds, tbl)
              println(s"expired ${gone.size} replaced batch dirs")
            }
          case "diff" =>
            // row-digest delta between two published snapshots — the
            // "what did that append/compaction change" audit. Digest =
            // md5 of the row's canonical JSON (the engine's row-identity
            // hash), so column order / partitioning can never alias a
            // change. Compaction-only versions diff to EMPTY — the
            // content-preservation proof as a one-command check.
            import org.apache.spark.sql.functions.{col, lit, struct}
            val vs = backend.snapshotVersions(ds, tbl)
            require(vs.nonEmpty, s"$ds.$tbl has no commits to diff")
            val to = flags.get("to").map(_.toInt).getOrElse(vs.max)
            val from = flags.get("from").map(_.toInt).getOrElse(
              vs.filter(_ < to).maxOption.getOrElse(to))
            require(vs.contains(from) && vs.contains(to),
              s"versions must be published commits (have: ${vs.mkString(", ")})")
            def digested(v: Int) = {
              val df = backend.readAt(spark, ds, tbl, v).drop("__part")
              df.select(graft.functions.logId(struct(df.columns.map(col): _*),
                df.schema).as("text"))
            }
            val delta = graft.dedup.Dedup.corpusDiff(
                digested(from).withColumn("doc_id", lit(-1L)),
                digested(to).withColumn("doc_id", lit(-1L)))
              .drop("example_before", "example_after")
            delta.write.mode("overwrite").parquet(req(flags, "output"))
            val n = spark.read.parquet(req(flags, "output")).count()
            println(if (n == 0) s"diff $ds.$tbl v$from..v$to: identical content"
              else s"diff $ds.$tbl v$from..v$to: $n changed digests")
        }

      case other =>
        System.err.println(s"unknown command '$other'\n$usage"); sys.exit(2)
    }
  }
}
