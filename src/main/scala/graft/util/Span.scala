package graft.util

import org.apache.spark.sql.SparkSession

/** The program's one timing span. `Span("name") { body }` appends `name`
  * to the thread's Spark local property `graft.span` (so the path reads
  * `corpus/commit/digest-index`), runs the body, restores the previous
  * value on every exit, and logs `path seconds` at INFO through the
  * `graft.span` logger — silent at the session's default WARN level.
  *
  * Every Spark job submitted inside the body carries the path in its
  * job properties (`SparkListenerJobStart.properties`; SQL executions
  * hand it on to their broadcast and AQE threads), so a listener such
  * as [[JobTraceListener]] charges each job to the span that started
  * it. Pool threads keep the local properties of the thread that
  * created them: a step handed to a pool re-sets the submitter's path
  * with [[graft.streaming.ClusterStream.withJobGroup]].
  *
  * The body's jobs also carry the leaf `name` as their short call site
  * (`callSite.short`, restored the same way), so a job and stage label
  * reads `gate` or `stage` even inside a streaming drain, where Spark
  * would label every job with the query's `start` line. The long call
  * site, which stack-based attribution reads, is left alone. */
object Span {
  val Key = "graft.span"

  /** Spark's local property for the short call site (`CallSite.SHORT_FORM`). */
  private val ShortSite = "callSite.short"

  private[util] val log = org.slf4j.LoggerFactory.getLogger(Key)

  def apply[T](name: String)(body: => T): T = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val parent = sc.flatMap(c => Option(c.getLocalProperty(Key)))
    val site = sc.map(_.getLocalProperty(ShortSite)).orNull
    val path = parent.fold(name)(p => s"$p/$name")
    sc.foreach { c => c.setLocalProperty(Key, path); c.setLocalProperty(ShortSite, name) }
    val t0 = System.nanoTime()
    try body
    finally {
      sc.foreach { c =>
        c.setLocalProperty(Key, parent.orNull); c.setLocalProperty(ShortSite, site)
      }
      if (log.isInfoEnabled) log.info(f"$path ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
  }
}
