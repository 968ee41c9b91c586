package graft.ingest

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Events
import graft.state.StateStore

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("Events: pubsub envelope base64 decode") {
    val payload = """{"hello":"world"}"""
    val b64 = java.util.Base64.getEncoder.encodeToString(payload.getBytes("UTF-8"))
    val env = s"""{"message":{"messageId":"m1","data":"$b64"},"subscription":"s"}"""
    val out = Seq(env).toDF("j")
      .select(Events.decodePubSub($"j").as("p")).select("p.*")
      .as[(String, String)].collect().head
    assert(out == ("m1", payload))
  }

  test("Events: storage event decode coerces size/time/md5 (ref message.go:64-104)") {
    // md5 of "x" = 9dd4e461268c8034f5c8564e155c67a6; GCS ships it base64
    val md5b64 = java.util.Base64.getEncoder.encodeToString(
      java.math.BigInteger.valueOf(0).toByteArray.take(0) ++
        hexBytes("9dd4e461268c8034f5c8564e155c67a6"))
    val ev = s"""{"kind":"storage#object","name":"a/b.json","bucket":"bkt",
      "size":"123","timeCreated":"2024-03-01T10:20:30Z","md5Hash":"$md5b64"}"""
    val o = Seq(ev).toDF("j")
      .select(Events.decodeStorageEvent($"j").as("o")).select("o.*")
      .collect().head
    assert(o.getAs[String]("bucket") == "bkt")
    assert(o.getAs[String]("path") == "gs://bkt/a/b.json")
    assert(o.getAs[Long]("size") == 123L)
    assert(o.getAs[java.sql.Timestamp]("created_at").toInstant.toString
      == "2024-03-01T10:20:30Z")
    assert(o.getAs[String]("md5") == "9dd4e461268c8034f5c8564e155c67a6")
  }

  private def hexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("Events: work-list message explodes to one row per object (ref S8)") {
    val msg = """{"objects":[{"bucket":"b","name":"x","size":1},
      {"bucket":"b","name":"y","size":2}]}"""
    val rows = Events.explodeWorkList(Seq(msg).toDF("j"), "j")
      .select("name", "size").as[(String, Long)].collect().toSet
    assert(rows == Set(("x", 1L), ("y", 2L)))
  }

  test("Enqueue.plan: flush on size limit, count limit, oversized object (ref enqueue.go:50-56)") {
    def o(n: Int, size: Long) = Enqueue.ObjectRef("b", s"o$n", s"p$n", size)
    // size-based flush: 3+3+3 with limit 7 -> [3,3],[3]
    assert(Enqueue.plan(Seq(o(1, 3), o(2, 3), o(3, 3)), sizeLimit = 7)
      .map(_.map(_.name)) == Seq(Seq("o1", "o2"), Seq("o3")))
    // count-based flush
    assert(Enqueue.plan((1 to 5).map(o(_, 1)), countLimit = 2, sizeLimit = 100)
      .map(_.size) == Seq(2, 2, 1))
    // single oversized object still ships alone
    assert(Enqueue.plan(Seq(o(1, 10), o(2, 1)), sizeLimit = 5)
      .map(_.map(_.name)) == Seq(Seq("o1"), Seq("o2")))
    assert(Enqueue.plan(Nil).isEmpty)
  }

  test("Enqueue.enqueue writes work-list files the S8 decoder can read") {
    val dir = tmpDir("enq")
    writeFile(dir, "in/a.json", "x" * 100)
    writeFile(dir, "in/b.json", "y" * 100)
    val files = Enqueue.enqueue(spark, s"$dir/in/*.json", s"$dir/out")
    assert(files.size == 1)
    val decoded = Events.explodeWorkList(
      spark.read.text(files.head).withColumnRenamed("value", "j"), "j")
    assert(decoded.count() == 2)
    assert(decoded.select("size").as[Long].collect().toSet == Set(100L))
  }

  test("parseGsUrl validates like CSUrl.Parse (ref types.go:81-104)") {
    val rows = Seq("gs://bkt/a/b.log", "gs://bkt/", "gs://b", "s3://x/y", "gs:///obj", "")
      .toDF("u").select(graft.functions.parseGsUrl($"u").as("o"))
      .select($"o.bucket", $"o.name").collect()
    assert(rows(0).getString(0) == "bkt" && rows(0).getString(1) == "a/b.log")
    assert(rows(1).getString(0) == "bkt" && rows(1).getString(1) == "") // empty object ok
    assert((2 to 5).forall(rows(_).isNullAt(0))) // no object part / wrong scheme / empty bucket
  }

  test("StateStore acquisition matrix (ref state.go:19-31)") {
    var now = 1000L
    val st = new StateStore(tmpDir("state"), timeoutMillis = 100,
      ttlMillis = 10000, clock = () => now)
    // absent -> acquire; running -> no
    assert(st.acquire("m1"))
    assert(!st.acquire("m1"))
    // running + expired -> re-acquire
    now += 200
    assert(st.acquire("m1"))
    // completed -> never
    st.markCompleted("m1")
    now += 200
    assert(!st.acquire("m1"))
    // failed -> always
    st.markFailed("m2")
    assert(st.acquire("m2"))
    // TTL passed -> record treated as absent
    st.markCompleted("m3")
    now += 20000
    assert(st.acquire("m3"))
  }

  test("StateStore: racing acquires of a fresh id elect exactly one winner, and no loser reads a half-made record") {
    val st = new StateStore(tmpDir("state-race-acquire"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try (0 until 200).foreach { i =>
      val out = race(pool, 8)(_ => st.acquire(s"m$i"))
      assert(out.forall(_.isSuccess), s"m$i: ${out.filter(_.isFailure)}")
      assert(out.count(_.get) == 1, s"m$i: winners ${out.count(_.get)}")
    } finally pool.shutdown()
  }

  test("StateStore: concurrent markCompleted/markFailed on one id never collide; the last record parses") {
    val st = new StateStore(tmpDir("state-race-mark"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val out = race(pool, 2)(_ => (0 until 1000).foreach { j =>
        if (j % 2 == 0) st.markCompleted("m") else st.markFailed("m")
      })
      assert(out.forall(_.isSuccess), out.filter(_.isFailure).toString)
    } finally pool.shutdown()
    assert(st.get("m").exists(r => Set("completed", "failed")(r.state)))
  }

  test("StateStore.waitState: defer-poll-decide (ref state.go:45-66, server_test.go:149+)") {
    var now = 1000L
    var polls = 0
    var onPoll: () => Unit = () => ()
    val st = new StateStore(tmpDir("state"), timeoutMillis = 1000,
      ttlMillis = 1000000, clock = () => now,
      sleeper = ms => { polls += 1; now += ms; onPoll() })

    // waiter polls (fake 10s interval) until the owner completes → skip
    assert(st.acquire("w1"))
    onPoll = () => if (polls == 2) st.markCompleted("w1")
    assert(st.waitState("w1", untilMillis = now + 60000,
      checkIntervalMillis = 10000) == Some("completed"))
    assert(polls == 2)
    assert(!st.acquire("w1")) // completed → skip, not re-process

    // waiter times out while the owner is still running → returns
    // running; re-acquire succeeds only because the state itself expired
    polls = 0; onPoll = () => ()
    assert(st.acquire("w2"))
    assert(st.waitState("w2", untilMillis = now + 15000,
      checkIntervalMillis = 10000) == Some("running"))
    assert(polls == 2) // two sleeps pushed clock past the deadline
    assert(st.acquire("w2")) // 20s elapsed > 1s state timeout

    // failed → returns immediately (no sleep), take-over allowed
    val st2 = new StateStore(tmpDir("state2"), timeoutMillis = 1000,
      ttlMillis = 1000000, clock = () => now, sleeper = _ => fail("must not sleep"))
    st2.markFailed("w3")
    assert(st2.waitState("w3", untilMillis = now + 60000) == Some("failed"))
    assert(st2.acquire("w3"))
    // absent → immediately None
    assert(st2.waitState("nope", untilMillis = now + 60000) == None)
  }

  test("DumpSink writes NDJSON + schema per destination (ref dump/client.go)") {
    val dir = tmpDir("dump")
    val routed = Seq(
      ("a1", "i1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "v1", "ds", "t1", ""),
      ("a2", "i1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "v2", "ds", "t2", ""))
      .toDF("id", "ingest_id", "timestamp", "ingested_at", "data", "dataset", "table", "partition")
    val written = DumpSink.dump(routed, dir, "run1").toSet
    assert(written == Set(("ds", "t1"), ("ds", "t2")))
    assert(new java.io.File(s"$dir/run1/ds.t1.schema.json").exists())
    val back = spark.read.json(s"$dir/run1/ds.t1.log")
    assert(back.count() == 1 && back.select("data").as[String].head() == "v1")
  }

  test("Migrate copies schema + data; SQL passthrough reads it (ref migrate.go, K3)") {
    import graft.schema.SchemaRegistry
    val work = tmpDir("migrate")
    val registry = new SchemaRegistry(s"$work/wh")
    val src = Seq(("a", "i", java.sql.Timestamp.valueOf("2024-05-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-05-01 00:00:01"), "payload"))
      .toDF("id", "ingest_id", "timestamp", "ingested_at", "v")
      .withColumn("data", struct($"v")).drop("v")
    TableSink.appendSlice(spark, registry, "srcds", "t", "", src)
    val n = Migrate.migrate(spark, registry, "srcds", "t", "dstds", "t2", "month")
    assert(n == 1)
    val viaSql = Migrate.sql(spark, registry, Seq(("dstds", "t2")),
      "SELECT COUNT(*) AS n FROM dstds_t2 WHERE data.v = 'payload'").as[Long].head()
    assert(viaSql == 1L)
  }
}
