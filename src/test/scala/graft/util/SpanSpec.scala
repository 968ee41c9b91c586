package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.SparkSpec
import graft.streaming.ClusterStream

/** [[Span]] paths on Spark jobs: nesting, the restore on every exit,
  * and the hand-off to a pool thread. */
class SpanSpec extends SparkSpec {
  private def job(): Unit = spark.range(4).collect()
  private def current = spark.sparkContext.getLocalProperty(Span.Key)

  test("nested spans label their jobs a/b; the property is restored after a return and a throw") {
    val spans = jobSpans {
      Span("a") {
        job()
        Span("b")(job())
        assert(current == "a")
        intercept[IllegalStateException](Span("b")(throw new IllegalStateException("b")))
        assert(current == "a")
      }
      assert(current == null)
      intercept[IllegalStateException](Span("a")(throw new IllegalStateException("a")))
      assert(current == null)
      job()
    }
    assert(spans == Seq(Some("a"), Some("a/b"), None))
  }

  test("a job's trace label is its result stage's name, not a streaming query's description") {
    def stage(id: Int, name: String) = new org.apache.spark.scheduler.StageInfo(
      id, 0, name, 1, Nil, Nil, "", resourceProfileId = 0)
    val props = new java.util.Properties()
    props.setProperty("spark.job.description", "graft-corpus-builder-x")
    val js = org.apache.spark.scheduler.SparkListenerJobStart(7, 0L,
      Seq(stage(0, "map at Stage.scala:1"), stage(1, "count at Dedup.scala:1")), props)
    assert(JobTraceListener.describe(js) == "count at Dedup.scala:1")
    assert(JobTraceListener.describe(js.copy(stageInfos = Nil)) == "graft-corpus-builder-x")
  }

  test("a job's trace label names its span's leaf; the short call site is restored after") {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.scheduler.SparkListenerJobStart]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(Span.Key) == "outer/leaf"))
          starts.add(js)
    }
    sc.addSparkListener(listener)
    try {
      Span("outer")(Span("leaf")(job()))
      assert(sc.getLocalProperty("callSite.short") == null)
      // a drain thread's site (Spark sets the query's start line) comes back too
      sc.setCallSite("start at Drain.scala:1")
      Span("outer")(Span("leaf")(job()))
      assert(sc.getLocalProperty("callSite.short") == "start at Drain.scala:1")
      val deadline = System.currentTimeMillis() + 15000
      while (starts.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally {
      sc.setLocalProperty("callSite.short", null)
      sc.removeSparkListener(listener)
    }
    assert(starts.size == 2, "one job per span")
    starts.forEach(js => assert(JobTraceListener.describe(js).startsWith("leaf"),
      JobTraceListener.describe(js)))
  }

  test("a job submitted from a pool thread carries the submitting span's path, not a stale one") {
    val sc = spark.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // the pool's one thread is created here and inherits "stale"
      Span("stale")(Await.result(Future(()), Duration.Inf))
      val spans = jobSpans {
        Span("a")(Span("b") {
          val props = ClusterStream.jobGroupSnapshot(sc)
          Await.result(Future(ClusterStream.withJobGroup(sc, props)(job())), Duration.Inf)
        })
      }
      assert(spans == Seq(Some("a/b")))
    } finally pool.shutdown()
  }
}
