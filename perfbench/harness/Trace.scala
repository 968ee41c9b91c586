package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.schema.TableBackend

/** A timed interval the harness opened around one public call (or one
  * streaming trigger, from its progress report). Times are epoch ms. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

/** One trigger's start (epoch ms) and phase durations, from Spark's own
  * progress report. */
final case class TriggerReport(start: Double, durationMs: Map[String, Long])

/** Progress reports of every streaming query in the session. Installed
  * in untraced runs too: trigger durations are end-to-end metrics. */
final class ProgressLog extends StreamingQueryListener {
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[TriggerReport]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // idle heartbeats carry no addBatch: they are not triggers that ran
    if (d.contains("addBatch"))
      triggers.add(TriggerReport(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d))
  }
  def all: Seq[TriggerReport] = triggers.asScala.toSeq.sortBy(_.start)
}

/** The repo's modules, as named layers. A job is charged to the layer of
  * the first `graft` frame in its call-site stack; frames of the shared
  * helper packages are charged to their caller. */
object Layers {
  val Named = Seq("sources", "rules", "ingest", "schema", "state", "streaming", "dedup")
  private val PassThrough = Seq("graft.util.", "graft.functions.", "graft.plans.")

  def of(stack: String): String = {
    val it = stack.linesIterator
    while (it.hasNext) {
      val frame = it.next().trim
      if (frame.startsWith("graft.") && !PassThrough.exists(frame.startsWith)) {
        val pkg = frame.split('.')(1)
        if (Named.contains(pkg)) return pkg
      }
    }
    "engine"
  }
}

/** One Spark job: its interval, the layer its call site names, and the
  * counters of its tasks. */
final class JobRec(val id: Int, val start: Double, val callLayer: String, val frame: String,
    val stream: Boolean) {
  var end = start
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
}

/** Traced-run instrumentation, all of it outside the program: a
  * SparkListener that records every job with its call site and task
  * counters, a sampler of the driver threads that call into Spark, spans
  * around the harness's calls, and a timing decorator over the
  * TableBackend seam. Everything stays in memory until [[report]];
  * run.py charges the jobs to layers.
  *
  * Why a sampler: a streaming query's thread carries the call site of
  * the query's `start()` for every job it runs (Structured Streaming
  * sets it), so inside `foreachBatch` the call site cannot tell the
  * modules apart. The sampler sees the real stack of each thread that
  * is inside a Spark call and names the innermost graft frame below it. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val nextSpan = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile private var rootSpan = 0L

  private val execStack = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val calls = new ConcurrentHashMap[String, (AtomicLong, AtomicLong)]() // name -> (count, ns)

  // the long call site keeps this many frames; the default (20) can
  // stop short of the graft frame under deep stacks
  System.setProperty("spark.callstack.depth", "200")
  spark.sparkContext.addSparkListener(this)
  private val sampler = new Sampler(Tracer.SamplePeriodMs)
  sampler.start()

  private var samplerCpuS = 0.0

  def stop(): Unit = {
    samplerCpuS = sampler.cpuS
    sampler.halt()
    spark.sparkContext.removeSparkListener(this)
  }

  private def now: Double = System.currentTimeMillis().toDouble

  /** Time `body` as a span; nested spans on one thread get it as parent,
    * spans on other threads (pool threads) get the open root span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextSpan.getAndIncrement()
    val stack = open.get
    val parent = stack.headOption.getOrElse(rootSpan)
    if (stack.isEmpty && rootSpan == 0L) rootSpan = id
    open.set(id :: stack)
    val t0 = now
    try body
    finally {
      spans.add(Span(id, parent, name, t0, now))
      open.set(stack)
      if (rootSpan == id) rootSpan = 0L
    }
  }

  def timeCall[T](name: String)(body: => T): T = {
    val c = calls.computeIfAbsent(name, _ => (new AtomicLong, new AtomicLong))
    val t0 = System.nanoTime()
    try span(name)(body)
    finally { c._1.incrementAndGet(); c._2.addAndGet(System.nanoTime() - t0) }
  }

  /** SQL executions record the call site of the thread that started
    * them; jobs they run on pool threads (AQE stages, broadcasts) carry
    * the execution id but no caller frames of their own. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execStack.put(s.executionId, s.details)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execStack.get(id.toLong)))
    val stack = exec.filter(Layers.of(_) != "engine")
      .getOrElse(result.map(_.details).getOrElse(""))
    val frame = stack.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .getOrElse(result.map(_.name).getOrElse("?"))
    // a streaming query's jobs carry its start() call site, not their own
    val stream = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time.toDouble, Layers.of(stack), frame, stream))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.end = e.time.toDouble })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outputBytes += m.outputMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Everything recorded, as plain values for the result file. */
  def report(): Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => j.synchronized(Map(
      "id" -> j.id, "start" -> j.start, "end" -> j.end, "call_layer" -> j.callLayer,
      "stream" -> j.stream,
      "frame" -> j.frame, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
      "task_s" -> j.taskMs / 1e3, "cpu_s" -> j.cpuNs / 1e9, "input_bytes" -> j.inputBytes,
      "shuffle_bytes" -> j.shuffleBytes, "output_bytes" -> j.outputBytes,
      "spill_bytes" -> j.spillBytes))),
    "samples" -> sampler.samples.asScala.toSeq.map { case (t, th, l, f) => Seq(t, th, l, f) },
    "sample_period_ms" -> Tracer.SamplePeriodMs, "sampler_cpu_s" -> samplerCpuS,
    "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
    "calls" -> calls.asScala.map { case (k, (n, ns)) =>
      k -> Map("calls" -> n.get, "s" -> ns.get / 1e9) }.toMap)
}

object Tracer {
  val SamplePeriodMs = 20L
}

object Sampler {
  val MaxDepth = 400

  /** Name prefixes of the driver threads program code runs on: the
    * harness thread, streaming query threads, and the program's pools
    * (default JDK executors, Scala's global context, named pools). */
  val Callers = Seq("main", "stream execution thread", "pool-", "ForkJoinPool",
    "scala-execution-context", "corpus-commit", "cluster-store-writes")

  /** Frames through which every Spark job is submitted: a thread below
    * one of them is running (or waiting on) jobs, not merely waiting on
    * a query or running driver code. */
  def runsJobs(cls: String, method: String): Boolean =
    cls.startsWith("org.apache.spark.sql.execution.SQLExecution") ||
      (cls == "org.apache.spark.SparkContext" && method == "runJob")
}

/** Samples the stacks of the driver's non-Spark threads every `periodMs`
  * and keeps (time, thread, layer, frame) for each thread that is inside a
  * Spark call made from graft code. */
final class Sampler(periodMs: Long) extends Thread("perfbench-sampler") {
  setDaemon(true)
  val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long, String, String)]()
  @volatile private var running = true

  def halt(): Unit = { running = false; join() }

  /** CPU time the sampler itself used, in seconds. */
  def cpuS: Double =
    java.lang.management.ManagementFactory.getThreadMXBean.getThreadCpuTime(getId) / 1e9

  private def threads(): Array[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val buf = new Array[Thread](g.activeCount() * 2 + 16)
    buf.take(g.enumerate(buf, true))
  }

  private val mx = java.lang.management.ManagementFactory.getThreadMXBean

  override def run(): Unit = while (running) {
    val t = System.currentTimeMillis().toDouble
    // only threads that run program code on the driver: Spark's own
    // threads never hold a graft caller frame. One getThreadInfo call is
    // one safepoint for all of them.
    val ids = threads().filter(th => (th ne this) && Sampler.Callers.exists(th.getName.startsWith))
      .map(_.getId)
    for (info <- mx.getThreadInfo(ids, Sampler.MaxDepth) if info != null) {
      val st = info.getStackTrace
      var inJob = false
      var i = 0
      var found: String = null
      while (i < st.length && found == null) {
        val c = st(i).getClassName
        if (Sampler.runsJobs(c, st(i).getMethodName)) inJob = true
        else if (inJob && c.startsWith("graft.") && Layers.of(c) != "engine")
          found = s"$c.${st(i).getMethodName}(${st(i).getFileName}:${st(i).getLineNumber})"
        i += 1
      }
      if (found != null) samples.add((t, info.getThreadId, Layers.of(found), found))
    }
    Thread.sleep(periodMs)
  }
}

/** Timing decorator over the program's storage seam: the backend passed
  * in `Pipeline.Config` in traced runs. */
final class TimedBackend(inner: TableBackend, tr: Tracer) extends TableBackend {
  override def exists(dataset: String, table: String): Boolean = inner.exists(dataset, table)
  override def currentSchema(dataset: String, table: String): Option[(Int, StructType)] =
    inner.currentSchema(dataset, table)
  override def createOrUpdate(dataset: String, table: String, incoming: StructType): StructType =
    tr.timeCall("schema.ddl")(inner.createOrUpdate(dataset, table, incoming))
  override def appendPartitioned(dataset: String, table: String, df: DataFrame): Unit =
    tr.timeCall("schema.append")(inner.appendPartitioned(dataset, table, df))
  override def readWithPart(spark: SparkSession, dataset: String, table: String): DataFrame =
    tr.timeCall("schema.read")(inner.readWithPart(spark, dataset, table))
}
