package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.GraftSession
import graft.ingest.Pipeline
import graft.rules.RuleLoader
import graft.schema.{SchemaRegistry, TableBackend}
import graft.sources.PushReceiver
import graft.state.StateStore
import graft.streaming.{ClusterStream, CorpusBuilder}

/** Drives one workload through the program's public entry points and
  * writes the raw measurements as JSON; `run.py` turns them into metrics
  * and checks the outputs left on disk.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --input DIR --work DIR --rules FILE --out FILE --spawned-ms EPOCH_MS
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      input: String, work: String, rules: String, out: String, spawnedMs: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("input"), m("work"), m("rules"), m("out"), m("spawned-ms").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    // set-up: from JVM spawn until the session is up and warm
    val spark = session(a, cpus)
    warm(spark, s"${a.work}/warm-session")
    val setupS = (System.currentTimeMillis() - a.spawnedMs) / 1e3
    HeapAfterGc.install()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val rules = RuleLoader.fromFile(a.rules)
    val w = new Workloads(spark, a, rules, tracer)
    val result = a.workload match {
      case "backfill" => w.backfill()
      case "serve" => w.serve()
      case "corpus" => w.corpus()
      case "clusters" => w.clusters()
      case other => sys.error(s"unknown workload $other")
    }
    val t1 = System.currentTimeMillis()
    val gc = gcMs() - w.gcAtStart
    tracer.foreach(_.stop())
    val out = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> cpus,
      "setup_s" -> setupS, "measure_start" -> w.measureStart, "measure_end" -> t1,
      "gc_s" -> gc / 1e3, "vmhwm_kb" -> vmHwmKb(), "heap_after_gc_peak_mb" -> HeapAfterGc.peak / 1048576.0,
      "triggers" -> progress.all.map(t => Map("start" -> t.start, "ms" -> t.durationMs)),
      "result" -> result) ++ tracer.map(t => "trace" -> t.report()).toMap
    Files.write(Paths.get(a.out), Json.write(out).getBytes("UTF-8"))
    spark.stop()
  }

  private def session(a: Args, cpus: Int): SparkSession = {
    val s = GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session warm-up: a job, a JSON parse, a parquet write and read. */
  private def warm(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, 20000, 1, 4).selectExpr("sum(id)").collect()
    val js = Seq("""{"a":1,"b":{"c":"x"}}""", """{"a":2,"b":{"c":"y"}}""").toDS()
    spark.read.json(js).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).count()
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Largest heap occupancy right after a GC since the last reset: the
    * driver's live-data high-water mark (plus old-gen garbage not yet
    * collected). Unlike the RSS high-water mark it does not depend on how
    * far the collector happened to grow the heap. */
  object HeapAfterGc {
    @volatile var peak = 0L
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: Any) =>
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              if (used > peak) peak = used
            }, null, null)
        case _ => ()
      }
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** The four workloads. Each warms up on the small `warm` input, then runs
  * every unit of work the generator wrote (rounds, drains, lifecycles;
  * for `serve`, the load generator's send window) and returns its raw
  * measurements; outputs stay on disk under the work dir for run.py's
  * checks. */
final class Workloads(spark: SparkSession, a: Main.Args, rules: graft.rules.Rules,
    tracer: Option[Tracer]) {

  private def now: Double = System.currentTimeMillis().toDouble

  /** When the workload's warm-up ended and measurement began (epoch ms),
    * and the JVM's GC time then. */
  var measureStart = 0.0
  var gcAtStart = 0L
  private def startMeasuring(): Unit = {
    gcAtStart = Main.gcMs()
    Main.HeapAfterGc.peak = 0L
    measureStart = now
  }

  private def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  private def backend(dir: String): TableBackend = {
    val reg = new SchemaRegistry(dir)
    tracer.fold[TableBackend](reg)(t => new TimedBackend(reg, t))
  }

  /** (start, end) of `body`, epoch ms. */
  private def timed(body: => Any): (Double, Double) = {
    val t0 = now
    body
    (t0, now)
  }

  /** Names of the input dirs starting with `prefix`, in order. */
  private def inputDirs(prefix: String): Seq[String] = {
    val s = Files.list(Paths.get(a.input))
    try s.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith(prefix)).toSeq.sorted
    finally s.close()
  }

  private def sortedFiles(dir: String, suffix: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Copy files into a landing dir with strictly increasing mtimes, so
    * the file source takes them in order, one per trigger. */
  private var mtime = System.currentTimeMillis() - 3600L * 1000
  private def land(files: Seq[Path], landing: String): Unit = {
    Files.createDirectories(Paths.get(landing))
    files.foreach { f =>
      val target = Paths.get(landing, f.getFileName.toString)
      Files.copy(f, target)
      mtime += 1000
      Files.setLastModifiedTime(target, FileTime.fromMillis(mtime))
    }
  }

  def backfill(): Map[String, Any] = {
    Pipeline.ingestPrefix(spark, Pipeline.Config(new SchemaRegistry(s"${a.work}/warm-warehouse"),
      rules), s"${a.input}/warm/round-00/*.json.gz")
    val cfg = Pipeline.Config(backend(s"${a.work}/warehouse"), rules)
    val rounds = inputDirs("round-")
    startMeasuring()
    val done = rounds.map { r =>
      val (s, e) = timed(span("backfill.ingestPrefix")(
        Pipeline.ingestPrefix(spark, cfg, s"${a.input}/$r/*.json.gz")))
      Map("round" -> r, "start" -> s, "end" -> e)
    }
    Map("rounds" -> done, "warehouse" -> s"${a.work}/warehouse")
  }

  def serve(): Map[String, Any] = {
    val warmQ = Pipeline.streamNotifications(spark,
      Pipeline.Config(new SchemaRegistry(s"${a.work}/warm-warehouse"), rules),
      s"${a.input}/warm/spool/*.json", s"${a.work}/warm-ckpt",
      pathRewrite = Some(("gs://bench/", s"${a.input}/warm/objects/")))
    warmQ.awaitTermination()
    val spool = s"${a.work}/spool"
    val landing = s"${a.work}/landing"
    Files.createDirectories(Paths.get(landing))
    val receiver = new PushReceiver(spool,
      state = Some(new StateStore(s"${a.work}/state"))).start()
    val cfg = Pipeline.Config(backend(s"${a.work}/warehouse"), rules)
    val q = Pipeline.streamNotifications(spark, cfg, s"$spool/*.json", s"${a.work}/ckpt",
      Trigger.ProcessingTime(Serve.TriggerMs), pathRewrite = Some(("gs://bench/", s"$landing/")))
    try {
      startMeasuring()
      Files.write(Paths.get(a.work, "ready.json"),
        s"""{"port": ${receiver.boundPort}}""".getBytes("UTF-8"))
      val done = Paths.get(a.work, "loadgen.done")
      val deadline = now + (a.seconds + 120) * 1000
      while (!Files.exists(done)) {
        require(now < deadline, "load generator never finished")
        Thread.sleep(20)
      }
      val sendEnd = now
      span("serve.drain")(q.processAllAvailable())
      Map("send_end" -> sendEnd, "drained" -> now, "warehouse" -> s"${a.work}/warehouse",
        "spool" -> spool, "state" -> s"${a.work}/state", "landing" -> landing,
        "trigger_ms" -> Serve.TriggerMs)
    } finally {
      q.stop()
      receiver.stop()
    }
  }

  def corpus(): Map[String, Any] = {
    def drain(landing: String, ckpt: String, dir: String): Unit = {
      val q = CorpusBuilder.build(spark, s"$landing/*.json", ckpt, dir,
        maxFilesPerTrigger = Some(1), nearDup = Some(CorpusBuilder.NearDup()))
      q.awaitTermination()
      CorpusBuilder.awaitRelease(q)
    }
    land(sortedFiles(s"${a.input}/warm/drain-00", ".json"), s"${a.work}/warm-landing")
    drain(s"${a.work}/warm-landing", s"${a.work}/warm-ckpt", s"${a.work}/warm-corpus")
    val landing = s"${a.work}/landing"
    startMeasuring()
    val calls = inputDirs("drain-").map { d =>
      val files = sortedFiles(s"${a.input}/$d", ".json")
      land(files, landing)
      val (s, e) = timed(span("corpus.build")(
        drain(landing, s"${a.work}/ckpt", s"${a.work}/corpus")))
      Map("files" -> files.size, "start" -> s, "end" -> e)
    }
    Map("files" -> calls.map(_("files").asInstanceOf[Int]).sum, "drains" -> calls,
      "corpus" -> s"${a.work}/corpus")
  }

  def clusters(): Map[String, Any] = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val m = Json.read(new String(Files.readAllBytes(Paths.get(a.input, "manifest.json")), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    val firstDrain = m("first_drain").asInstanceOf[Number].intValue
    val horizon = m("horizon").asInstanceOf[Number].longValue
    def cycle(feedDir: String, dir: String): Map[String, Any] = {
      val files = sortedFiles(feedDir, ".parquet")
      val landing = s"$dir/landing"
      val store = s"$dir/store"
      val ckpt = s"$dir/ckpt"
      def drain(name: String): (Double, Double) = {
        val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(landing)
        timed(span(name)(ClusterStream.streamClusters(spark, stream, store, ckpt)))
      }
      land(files.take(firstDrain), landing)
      val d1 = drain("clusters.drain")
      val (cs, ce) = timed(span("clusters.compactStores")(
        ClusterStream.compactStores(spark, store)))
      land(files.drop(firstDrain), landing)
      val d2 = drain("clusters.drain")
      ClusterStream.clusters(spark, store).write.parquet(s"$dir/labels-before")
      val (es, ee) = timed(span("clusters.expire")(
        ClusterStream.expire(spark, store, fromBatch = horizon)))
      ClusterStream.clusters(spark, store).write.parquet(s"$dir/labels-after")
      Map("dir" -> dir, "drains" -> Seq(Seq(d1._1, d1._2), Seq(d2._1, d2._2)),
        "compact" -> Seq(cs, ce), "expire" -> Seq(es, ee))
    }
    cycle(s"${a.input}/warm/cycle-00", s"${a.work}/warm-cycle")
    val cycles = inputDirs("cycle-")
    startMeasuring()
    Map("cycles" -> cycles.map(c => cycle(s"${a.input}/$c", s"${a.work}/$c") + ("cycle" -> c)))
  }
}

object Serve {
  /** Processing-time trigger of the notification stream. */
  val TriggerMs = 1000L
}

