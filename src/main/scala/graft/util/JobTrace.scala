package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Whole-session job tracer (`spark.extraListeners=graft.util.JobTraceListener`):
  * logs every Spark job's duration, task count, [[Span]] path and
  * call-site line at INFO through the `graft.span` logger — the
  * decomposition tool that tells a broadcast build from a store append
  * from scheduler dead time in any drain. */
class JobTraceListener extends SparkListener {
  private val starts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int, String)]()

  override def onJobStart(js: SparkListenerJobStart): Unit =
    starts.put(js.jobId, (System.nanoTime(), JobTraceListener.describe(js),
      js.stageInfos.map(_.numTasks).sum,
      Option(js.properties).flatMap(p => Option(p.getProperty(Span.Key))).getOrElse("-")))

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(starts.remove(je.jobId)).foreach { case (t0, desc, tasks, span) =>
      Span.log.info(f"job #${je.jobId}%-4d ${(System.nanoTime() - t0) / 1e9}%6.3fs " +
        f"$tasks%4d tasks  $span  $desc")
    }
}

object JobTraceListener {

  /** A job's one-line label: its result stage's NAME, the
    * Spark-4-reliable call-site carrier ("count at Dedup.scala:123"),
    * then `callSite.short`, and the job description last — a streaming
    * query sets the description to its query name, which would label
    * every drain job alike. Empty values fall through. */
  def describe(js: SparkListenerJobStart): String = {
    def prop(k: String) =
      Option(js.properties).flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
    js.stageInfos.maxByOption(_.stageId).map(_.name).filter(_.nonEmpty)
      .orElse(prop("callSite.short"))
      .orElse(prop("spark.job.description"))
      .flatMap(_.linesIterator.find(_.trim.nonEmpty)).getOrElse("?").take(90)
  }
}
