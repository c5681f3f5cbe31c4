package graft

import graft.bus.MemoryBus
import graft.envelope._
import graft.service.ServiceFlow
import org.apache.spark.sql.functions._

/** End-to-end service round trip over the in-memory bus — the testkit
  * scenario of the reference (TestBus.scala): publish typed events,
  * a registered handler transforms them, replies land on the out topic
  * with reply-envelope enrichment (responseTo, correlationId).
  */
class ServiceFlowSpec extends SparkSpec {
  import spark.implicits._

  test("MemoryBus round trip: publish -> handler -> enveloped reply with responseTo") {
    val bus = new MemoryBus(spark)
    val flow = new ServiceFlow("test-svc", bus)
    flow.registerStream[Ping, Pong]((p, _) => Pong(p.n * 2, p.tag))

    // hand-built envelopes with known meta, the RPC-caller shape
    val reqMeta = EventMeta(
      eventId = "req-1", eventType = classOf[Ping].getName,
      correlationId = Some("corr-9"),
      occurredAt = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    bus.publishEnvelopes(classOf[Ping].getName, Seq(
      PublishedEvent(reqMeta, """{"n":21,"tag":"t1"}""".getBytes("UTF-8")),
      PublishedEvent(reqMeta.copy(eventId = "req-2", correlationId = None),
        """{"n":5,"tag":"t2"}""".getBytes("UTF-8"))))

    val queries = flow.start { (topic, df) =>
      df.writeStream.format("memory")
        .queryName(topic.replace('.', '_'))
        .outputMode("append").start()
    }
    try {
      queries.foreach(_.processAllAvailable())
      val out = spark.table(classOf[Pong].getName.replace('.', '_'))
      val rows = out
        .select($"meta.responseTo", $"meta.correlationId", $"meta.eventType",
          $"payload".cast("string"))
        .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getString(2), r.getString(3)))
        .sortBy(_._1)
      assert(rows.length === 2)
      assert(rows(0)._1 === "req-1")
      assert(rows(0)._2 === Some("corr-9"))
      assert(rows(0)._3 === classOf[Pong].getName)
      assert(rows(0)._4.contains("\"doubled\":42"))
      assert(rows(1)._1 === "req-2")
      assert(rows(1)._2 === None)
      assert(rows(1)._4.contains("\"doubled\":10"))
    } finally queries.foreach(_.stop())
  }

  test("MemoryBus.publish serializes through the engine (Option/Timestamp survive)") {
    val bus = new MemoryBus(spark)
    bus.publish(Seq(
      RichEvent(1L, "x", Some("maybe"), java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        Map("a" -> "b"), Inner(3, None))))
    val q = bus.source(classOf[RichEvent].getName)
      .writeStream.format("memory").queryName("rich_pub").outputMode("append").start()
    try {
      q.processAllAvailable()
      val back = EnvelopeCodec.decodeTyped[RichEvent](spark.table("rich_pub")).collect()
      assert(back.head.note === Some("maybe"))
      assert(back.head.inner === Inner(3, None))
      assert(back.head.at === java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
    } finally q.stop()
  }

  test("descriptor lists methods and registered types, hiding service streams") {
    val bus = new MemoryBus(spark)
    val flow = new ServiceFlow("svc", bus)
    flow.registerStream[Ping, Pong]((p, _) => Pong(p.n, p.tag))
    flow.registerSink[Pong](_ => ())
    flow.registerServiceStream[Pong, Ping]((p, _) => Ping(p.doubled, p.tag))
    val d = flow.descriptor
    assert(d.service === "svc")
    assert(d.serviceMethods.map(m => (m.in, m.out)) ===
      Seq((classOf[Ping].getName, classOf[Pong].getName)))
    assert(d.types.keySet === Set(classOf[Ping].getName, classOf[Pong].getName))
  }

  test("state-lookup stream answers requests with current entity state (T3)") {
    val bus = new MemoryBus(spark)
    val flow = new ServiceFlow("db-svc", bus)
    val state = spark.createDataset(Seq(
      ("u1", UserState("u1", 10.5)), ("u2", UserState("u2", 2.0))))
    flow.registerDataBaseStream[GetUser, UserState](state, _.userId)

    bus.publishEnvelopes(classOf[GetUser].getName, Seq(
      PublishedEvent(EventMeta(eventId = "q-1", eventType = classOf[GetUser].getName,
        occurredAt = new java.sql.Timestamp(0)), """{"userId":"u2"}""".getBytes("UTF-8"))))
    val queries = flow.start { (topic, df) =>
      df.writeStream.format("memory").queryName("dbreply")
        .outputMode("append").start()
    }
    try {
      queries.foreach(_.processAllAvailable())
      val rows = spark.table("dbreply")
        .select($"meta.responseTo", $"payload".cast("string")).as[(String, String)].collect()
      assert(rows.toSeq === Seq(("q-1", """{"userId":"u2","total":2.0}""")))
    } finally queries.foreach(_.stop())
  }

  test("concurrent appends to one topic decode intact and keep each thread's order") {
    // the MemoryBus sink's shape: several task threads closing their
    // partitions at once, each appending its buffer to the same topic
    val bus = new MemoryBus(spark)
    val topic = "concurrent-appends"
    val (threads, appends, perAppend) = (8, 40, 5)
    def id(th: Int, seq: Int): String = f"t$th%d-$seq%05d"
    // payload lengths vary row to row, so a row encoded into another
    // row's buffer cannot decode as itself
    def payload(th: Int, seq: Int): String = id(th, seq) + "|" + "x" * ((th * 31 + seq) % 97)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val done = (0 until threads).map { th =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            for (a <- 0 until appends)
              bus.publishEnvelopes(topic, (0 until perAppend).map { i =>
                val seq = a * perAppend + i
                PublishedEvent(EventMeta(eventId = id(th, seq), eventType = topic,
                  occurredAt = new java.sql.Timestamp(seq.toLong)),
                  payload(th, seq).getBytes("UTF-8"))
              })
          }
        })
      }
      start.countDown()
      done.foreach(_.get())
    } finally pool.shutdown()

    val q = bus.source(topic).writeStream.format("memory")
      .queryName("concurrent_appends").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("concurrent_appends")
        .select($"meta.eventId", $"meta.occurredAt", $"payload".cast("string"))
        .as[(String, java.sql.Timestamp, String)].collect().toSeq
      assert(rows.size === threads * appends * perAppend)
      val byThread = rows.groupBy(_._1.takeWhile(_ != '-'))
      assert(byThread.keySet === (0 until threads).map(th => s"t$th").toSet)
      for (th <- 0 until threads) {
        val expected = (0 until appends * perAppend)
          .map(seq => (id(th, seq), new java.sql.Timestamp(seq.toLong), payload(th, seq)))
        assert(byThread(s"t$th") === expected, s"thread $th's rows")
      }
    } finally q.stop()
  }
}
