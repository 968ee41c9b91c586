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

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(js.properties).flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
    // filter BEFORE the fallbacks: a present-but-empty description must
    // fall through, not swallow them. The result stage's NAME is the
    // Spark-4-reliable call-site carrier ("count at Dedup.scala:123");
    // callSite.short is kept for submission paths that still set it.
    val desc = prop("spark.job.description")
      .orElse(prop("callSite.short"))
      .orElse(js.stageInfos.lastOption.map(_.name).filter(_.nonEmpty))
      .getOrElse("?")
    starts.put(js.jobId, (System.nanoTime(),
      desc.linesIterator.find(_.trim.nonEmpty).getOrElse("?").take(90),
      js.stageInfos.map(_.numTasks).sum, prop(Span.Key).getOrElse("-")))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(starts.remove(je.jobId)).foreach { case (t0, desc, tasks, span) =>
      Span.log.info(f"job #${je.jobId}%-4d ${(System.nanoTime() - t0) / 1e9}%6.3fs " +
        f"$tasks%4d tasks  $span  $desc")
    }
}
