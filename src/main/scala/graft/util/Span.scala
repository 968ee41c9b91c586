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
  * with [[graft.streaming.ClusterStream.withJobGroup]]. */
object Span {
  val Key = "graft.span"

  private[util] val log = org.slf4j.LoggerFactory.getLogger(Key)

  def apply[T](name: String)(body: => T): T = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val parent = sc.flatMap(c => Option(c.getLocalProperty(Key)))
    val path = parent.fold(name)(p => s"$p/$name")
    sc.foreach(_.setLocalProperty(Key, path))
    val t0 = System.nanoTime()
    try body
    finally {
      sc.foreach(_.setLocalProperty(Key, parent.orNull))
      if (log.isInfoEnabled) log.info(f"$path ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
  }
}
