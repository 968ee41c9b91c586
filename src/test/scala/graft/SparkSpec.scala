package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  def writeFile(dir: String, name: String, content: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }
  /** `body(t)` for t in 0 until n on `n` pool threads a barrier releases
    * together; each thread's outcome, in t order. */
  def race[A](pool: java.util.concurrent.ExecutorService, n: Int)(
      body: Int => A): Seq[scala.util.Try[A]] = {
    val go = new java.util.concurrent.CyclicBarrier(n)
    (0 until n).map(t => pool.submit(new java.util.concurrent.Callable[scala.util.Try[A]] {
      def call(): scala.util.Try[A] = { go.await(); scala.util.Try(body(t)) }
    })).map(_.get)
  }
  /** Id of the newest SQL execution the status store has recorded. */
  def lastExecutionId: Long =
    spark.sharedState.statusStore.executionsList().map(_.executionId)
      .maxOption.getOrElse(-1L)
  /** Physical-plan descriptions the SQL status store keeps for the
    * executions after `afterId` — the strings it retains per execution.
    * The listener bus is async, so this waits (up to 15 s) until one of
    * them satisfies `arrived`. */
  def planDescriptionsAfter(afterId: Long)(arrived: String => Boolean): Seq[String] = {
    val deadline = System.currentTimeMillis() + 15000
    def recorded = spark.sharedState.statusStore.executionsList()
      .filter(_.executionId > afterId).map(_.physicalPlanDescription)
    var plans = recorded
    while (!plans.exists(arrived) && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      plans = recorded
    }
    plans
  }
  /** The [[graft.util.Span]] path of every Spark job `body` starts, in
    * start order (None: started outside any span). The listener bus is
    * async, so this waits until no job start has arrived for 300 ms. */
  def jobSpans(body: => Unit): Seq[Option[String]] = {
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        spans.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty(graft.util.Span.Key))))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var (seen, quiet) = (-1, 0)
      val deadline = System.currentTimeMillis() + 15000
      while (quiet < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        if (spans.size == seen) quiet += 1 else { quiet = 0; seen = spans.size }
      }
      spans.toArray.toSeq.map(_.asInstanceOf[Option[String]])
    } finally spark.sparkContext.removeSparkListener(listener)
  }
  def writeGzip(dir: String, name: String, content: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(p))
    out.write(content.getBytes("UTF-8")); out.close()
    p.toString
  }
}

object SparkSpec {
  // same session shape as production (GraftSession): extensions with the
  // native kernel functions, optimizer exclusions, nanos handling
  lazy val session: SparkSession = {
    val s = graft.GraftSession.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
