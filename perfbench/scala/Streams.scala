package perfbench

import graft.bus.MemoryBus
import graft.entity.EntityStore
import graft.envelope._
import graft.rpc.Client
import graft.service.{RetryBackoff, RetryFlow, RetryPolicy, ServiceFlow}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

final case class Cmd(key: String, value: Long, seq: Long)
final case class Job(id: Long, n: Long, failTimes: Int)
final case class JobDone(id: Long, doubled: Long)
final case class Ping(n: Long)
final case class Pong(doubled: Long)

/** Job handler for the retry flow. It fails the first `failTimes` calls
  * for a job; the call counter lives in this JVM (local mode), so it also
  * counts every handler invocation the retry flow makes.
  */
object JobHandler {
  val calls = new ConcurrentHashMap[Long, AtomicInteger]()
  def apply(j: Job): JobDone = {
    val c = calls.computeIfAbsent(j.id, _ => new AtomicInteger()).incrementAndGet()
    if (c <= j.failTimes) throw new IllegalStateException(s"planned failure ${j.id}/$c")
    JobDone(j.id, 2 * j.n)
  }
}

/** Open-loop streaming workloads over the in-memory bus. One generator
  * thread publishes pre-encoded envelopes on a fixed tick through
  * `MemoryBus.publishEnvelopes`, stamping each event's due time as
  * `meta.occurredAt`; the benchmark's `foreachBatch` sinks stamp when
  * each output row is seen. An event's latency runs from its due time to
  * its first correct output; an event with no correct output within
  * `LimitMs` fails.
  */
object Streams {
  val LimitMs = 4000.0
  val TickMs = 100.0
  /** Warm-up, charged to setup_s: the first triggers run several times
    * slower until codegen and the JIT settle. Bursts (blocks published at
    * once) get there fastest; a short open-loop stretch at the reference
    * rate follows. */
  val WarmBursts = 3
  val WarmSeconds = 2.0
  val DrainPasses = 5

  /** One planned event: ledger entry plus its pre-encoded envelope. */
  final case class Ev(seq: Int, topic: String, meta: EventMeta, payload: Array[Byte],
                      var dueMs: Double = Double.NaN, var doneMs: Double = Double.NaN,
                      var traced: Boolean = false)

  /** Per-run state shared by the generator, sinks and checks. */
  final class Run(val spark: SparkSession, val tracer: Tracer, val outDir: String) {
    val bus = new MemoryBus(spark)
    val events = mutable.ArrayBuffer.empty[Ev]
    val errors = mutable.ArrayBuffer.empty[String] // wrong outputs
    val tickLateMs = mutable.ArrayBuffer.empty[Double]
    val publishMs = mutable.ArrayBuffer.empty[Double]
    val queries = mutable.ArrayBuffer.empty[(String, StreamingQuery)]
    val backlog = mutable.ArrayBuffer.empty[Int] // unanswered published events
    val backlogPerS = mutable.ArrayBuffer.empty[Int] // the same, each second of the measured phase
    var preEncodeS = 0.0
    var measuredFrom, measuredTo = 0.0
    var measured: Seq[Ev] = Nil

    /** Record `e`'s first correct output; a second output is wrong. */
    def done(e: Ev, t: Double): Unit =
      if (e.doneMs.isNaN) e.doneMs = t else wrong(s"second output for event e${e.seq}")
    def wrong(msg: String): Unit = errors.synchronized { if (errors.size < 20) errors += msg }

    def sink[T](f: (Array[T], Double) => Unit): (Dataset[T], Long) => Unit =
      (ds: Dataset[T], _: Long) => {
        val rows = ds.collect()
        val t = tracer.nowMs()
        this.synchronized(f(rows, t))
      }

    def start[T](name: String, ds: Dataset[T], mode: String)
                (f: (Array[T], Double) => Unit): Unit = {
      val q = ds.writeStream.queryName(name).outputMode(mode)
        .option("checkpointLocation", s"$outDir/chk/$name")
        .foreachBatch(sink[T](f)).start()
      queries += name -> q
    }

    def failedQueries: Seq[String] = queries.collect {
      case (n, q) if q.exception.isDefined || !q.isActive => n
    }.toSeq

    /** Publish `evs` open-loop at `rate` events/s starting now; returns
      * when the last tick is published. Events due in one tick go out in
      * one `publishEnvelopes` call per topic. The measured phase also
      * samples the backlog each second.
      */
    def openLoop(evs: Seq[Ev], rate: Double, measuring: Boolean = false): Unit = {
      backlog += unanswered()
      val t0 = tracer.nowMs() + TickMs
      evs.zipWithIndex.foreach { case (e, i) => e.dueMs = t0 + i * 1000.0 / rate }
      val traced = tracer.on
      val gen = new Thread(() => {
        var i = 0
        var k = 0
        while (i < evs.size) {
          val tickDue = t0 + k * TickMs
          val wait = tickDue - tracer.nowMs()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          // traced runs record spans on every other tick only, so the run
          // states its own tracing overhead
          if (measuring && traced) tracer.on = k % 2 == 0
          if (measuring && k % (1000 / TickMs).toInt == 0) backlogPerS += unanswered()
          val j0 = i
          while (i < evs.size && evs(i).dueMs <= tickDue) { evs(i).traced = tracer.on; i += 1 }
          val start = tracer.nowMs()
          tickLateMs += start - tickDue
          evs.slice(j0, i).groupBy(_.topic).foreach { case (topic, es) =>
            bus.publishEnvelopes(topic, es.map(e => PublishedEvent(
              e.meta.copy(occurredAt = new java.sql.Timestamp(e.dueMs.toLong)), e.payload)))
          }
          val end = tracer.nowMs()
          if (i > j0) {
            publishMs += end - start
            tracer.record(tracer.newId(), 0L, 0L, "bus.publish", start, end)
          }
          k += 1
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      backlog += unanswered()
      tracer.on = traced
    }

    def unanswered(): Int = {
      val now = tracer.nowMs()
      events.count(e => e.dueMs <= now && e.doneMs.isNaN)
    }

    /** Wait until every event in `evs` has a correct output, the limit
      * after its due time has passed, or a query has died.
      */
    def await(evs: Seq[Ev], limitMs: Double): Unit = {
      val deadline = evs.map(_.dueMs).max + limitMs
      while (tracer.nowMs() < deadline && evs.exists(_.doneMs.isNaN) && failedQueries.isEmpty)
        Thread.sleep(5)
    }

    /** Drain passes: publish a block at once and time until its last
      * correct output. */
    def drain(blocks: Seq[Seq[Ev]]): Seq[Double] = blocks.map { b =>
      val t0 = tracer.nowMs()
      b.foreach(_.dueMs = t0)
      b.groupBy(_.topic).foreach { case (topic, es) =>
        bus.publishEnvelopes(topic, es.map(e => PublishedEvent(
          e.meta.copy(occurredAt = new java.sql.Timestamp(t0.toLong)), e.payload)))
      }
      await(b, 30000.0)
      if (b.exists(_.doneMs.isNaN)) Double.NaN else (b.map(_.doneMs).max - t0) / 1000.0
    }

    def warmUp(evs: Seq[Ev], burst: Int, rate: Double): Unit = {
      val (bursts, loop) = evs.splitAt(WarmBursts * burst)
      drain(bursts.grouped(burst).toSeq)
      openLoop(loop, rate)
      await(loop, 10000.0)
    }

    /** The measured phase: open loop at `rate`, then per-event latency,
      * observed or, for an event still unanswered when the wait ends, the
      * time waited (a lower bound beyond the limit). */
    def measure(evs: Seq[Ev], rate: Double): Seq[Double] = {
      measuredFrom = tracer.nowMs()
      measured = evs
      // if the JVM dies from here on, every measured event counts as failed
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/measured.json"),
        Json.obj(Seq("attempted" -> evs.size)))
      openLoop(evs, rate, measuring = true)
      await(evs, LimitMs)
      val end = tracer.nowMs()
      measuredTo = end
      evs.map(e => (if (e.doneMs.isNaN) end else e.doneMs) - e.dueMs)
    }

    /** Trigger-level instruments from StreamingQueryProgress for the
      * triggers that started in the measured phase, plus one span per
      * trigger phase, parented to the query's span. */
    def progress(): Map[String, Any] = queries.map { case (name, q) =>
      def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ps = q.recentProgress.filter(p => p.numInputRows > 0 &&
        startMs(p) >= measuredFrom && startMs(p) <= measuredTo).toSeq
      if (tracer.on) {
        val qid = tracer.newId()
        var qStart = Double.MaxValue
        var qEnd = 0.0
        ps.foreach { p =>
          val start = startMs(p)
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
          val total = d.getOrElse("triggerExecution", 0L).toDouble
          val tid = tracer.newId()
          tracer.record(tid, qid, qid, s"$name.trigger", start, start + total)
          var t = start
          Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
            .foreach { ph => d.get(ph).foreach { v =>
              tracer.record(tracer.newId(), tid, qid, s"$name.$ph", t, t + v); t += v } }
          qStart = math.min(qStart, start); qEnd = math.max(qEnd, start + total)
        }
        if (ps.nonEmpty) tracer.record(qid, 0L, qid, s"$name.query", qStart, qEnd)
      }
      name -> Map(
        "trigger_ms" -> ps.map(_.durationMs.get("triggerExecution").longValue()),
        "rows" -> ps.map(_.numInputRows),
        "commit_ms" -> ps.flatMap(_.stateOperators.map(_.commitTimeMs)),
        "state_rows" -> ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L),
        "state_rows_max" -> (0L +: ps.map(_.stateOperators.map(_.numRowsTotal).sum)).max,
        "state_bytes" -> ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L),
        "input_rows" -> ps.map(_.numInputRows).sum)
    }.toMap

    def result(rate: Double, latency: Seq[Double], firstOpMs: Double, drainS: Seq[Double],
               heapMb: Double, extra: Map[String, Any]): Map[String, Any] = {
      val deadQueries = failedQueries
      val prog = progress()
      queries.foreach(_._2.stop())
      Map(
        "kind" -> "stream",
        "rate" -> rate,
        "first_op_ms" -> firstOpMs,
        "attempted" -> latency.size,
        "failed" -> latency.count(_ > LimitMs),
        "latency_ms" -> latency,
        "traced" -> measured.map(_.traced),
        "drain_s" -> drainS,
        "live_heap_mb" -> heapMb,
        "errors" -> errors.toList,
        "dead_queries" -> (deadQueries ++ queries.flatMap { case (n, q) =>
          q.exception.map(e => s"$n: ${String.valueOf(e.getMessage).take(300)}") }),
        "pre_encode_s" -> preEncodeS,
        "tick_late_ms" -> tickLateMs.toList,
        "publish_ms" -> publishMs.toList,
        "backlog" -> backlog.toList,
        "backlog_per_s" -> backlogPerS.toList,
        "progress" -> prog) ++ extra
    }
  }

  /** svc_state: commands over Zipf-skewed keys through
    * `EnvelopeCodec.decodeTyped` into `EntityStore.streamingEntityDb`;
    * one event in 11 is a job run through `RetryFlow.streaming`, a
    * seeded fifth of which fail `PlannedFailures` times (Linear backoff,
    * 200 ms, numRetry = 3). The reference rate is 200 commands/s plus
    * 20 jobs/s.
    */
  val StateRate = 220.0
  val JobEvery = 11
  val StateKeys = 1000
  val StatePolicy = RetryPolicy(3, 200.millis, RetryBackoff.Linear)
  /** Each retry runs one trigger later (about 1 s here), so a job that
    * fails twice lands at 3-4 s and a quarter of them miss the 4 s limit;
    * one planned failure keeps the retry path inside it. */
  val PlannedFailures = 1

  def state(spark: SparkSession, seed: Long, seconds: Double, tracer: Tracer,
            outDir: String, rate: Double): Map[String, Any] = {
    import spark.implicits._
    val run = new Run(spark, tracer, outDir)
    val rnd = new scala.util.Random(seed)
    val cmdTopic = EnvelopeCodec.fqnOf[Cmd]
    val jobTopic = EnvelopeCodec.fqnOf[Job]
    // Zipf(1.0) over the key space
    val cdf = (1 to StateKeys).map(k => 1.0 / k).scanLeft(0.0)(_ + _).tail
    def key(): String = {
      val u = rnd.nextDouble() * cdf.last
      s"k${cdf.indexWhere(_ >= u)}"
    }
    val jobPhase = rnd.nextInt(5)
    var jobs = 0
    def plan(n: Int): Seq[Either[Cmd, Job]] = (0 until n).map { _ =>
      val seq = run.events.size
      val e = if (rnd.nextInt(JobEvery) == 0) {
        jobs += 1
        Right(Job(seq, rnd.nextInt(1000000), if (jobs % 5 == jobPhase) PlannedFailures else 0))
      } else Left(Cmd(key(), rnd.nextLong(), seq))
      run.events += Ev(seq, "", null, null)
      e
    }
    val block = 300
    val warmN = WarmBursts * 2 * block + (rate * WarmSeconds).toInt
    val mainN = (rate * seconds).toInt
    val drainN = DrainPasses * block
    val planned = plan(warmN + mainN + drainN)

    // Set-up: pre-encode every payload through the engine's JSON codec.
    val t0 = System.nanoTime()
    val cmds = planned.collect { case Left(c) => c }
    val jobsList = planned.collect { case Right(j) => j }
    val cmdBytes = run.bus.encodePayloads(cmds)
    val jobBytes = run.bus.encodePayloads(jobsList)
    run.preEncodeS = (System.nanoTime() - t0) / 1e9
    (cmds.zip(cmdBytes).map { case (c, b) => (c.seq.toInt, cmdTopic, Some(c.key), b) } ++
      jobsList.zip(jobBytes).map { case (j, b) => (j.id.toInt, jobTopic, None, b) })
      .foreach { case (seq, topic, k, b) =>
        run.events(seq) = Ev(seq, topic, EventMeta(eventId = s"e$seq", eventType = topic, key = k), b)
      }
    val cmdBySeq = cmds.map(c => c.seq -> c).toMap
    val jobById = jobsList.map(j => j.id -> j).toMap

    // Entity path: the sink sees one row per key per trigger; each row
    // covers every command of that key up to the row's seq.
    val commands = EnvelopeCodec.decodeTyped[Cmd](run.bus.source(cmdTopic))
      .map(c => EntityStore.Modify(c.key, c, c.seq))
    val entity = EntityStore.streamingEntityDb[Cmd](commands)
    val pendingByKey = mutable.HashMap.empty[String, mutable.Queue[Long]]
    cmds.foreach(c => pendingByKey.getOrElseUpdate(c.key, mutable.Queue.empty) += c.seq)
    val lastSeq = mutable.HashMap.empty[String, Long]
    run.start[EntityStore.EntityEvent[Cmd]]("entity", entity, "update") { (rows, t) =>
      rows.foreach { r =>
        val s = r.state
        val prev = lastSeq.get(r.id)
        if (!cmdBySeq.get(s.seq).contains(s) || s.key != r.id)
          run.wrong(s"entity row ${r.id} does not match the ledger")
        else if (prev.exists(_ >= s.seq)) run.wrong(s"entity ${r.id} went back to seq ${s.seq}")
        else if (r.created != prev.isEmpty) run.wrong(s"entity ${r.id} created=${r.created}")
        else {
          lastSeq(r.id) = s.seq
          val q = pendingByKey(r.id)
          while (q.nonEmpty && q.head <= s.seq) run.done(run.events(q.dequeue().toInt), t)
        }
      }
    }

    // Retry path
    val attempts = mutable.HashMap.empty[Int, Int]
    val retried = RetryFlow.streaming[Job, JobDone](
      EnvelopeCodec.decodeWithMeta[Job](run.bus.source(jobTopic)), StatePolicy)(
      (j: Job, _: EventMeta) => JobHandler(j))
    run.start[(RetryFlow.Attempt[JobDone], EventMeta)]("retry", retried, "append") { (rows, t) =>
      rows.foreach { case (a, m) =>
        val j = jobById.get(m.eventId.drop(1).toLong)
        if (!j.exists(j => a.ok.contains(JobDone(j.id, 2 * j.n)) && a.attempts == j.failTimes + 1))
          run.wrong(s"retry output $a for ${m.eventId}")
        else {
          attempts(a.attempts) = attempts.getOrElse(a.attempts, 0) + 1
          run.done(run.events(j.get.id.toInt), t)
        }
      }
    }

    run.warmUp(run.events.take(warmN).toSeq, 2 * block, rate)

    val firstOpMs = tracer.nowMs()
    val latency = run.measure(run.events.slice(warmN, warmN + mainN).toSeq, rate)
    val heap = Main.liveHeapMb()
    val drainS = run.drain(run.events.drop(warmN + mainN).grouped(block).map(_.toSeq).toSeq)

    val handlerCalls = JobHandler.calls.values.asScala.map(_.get).sum
    val successes = attempts.values.sum
    run.result(rate, latency, firstOpMs, drainS, heap, Map(
      "retry_attempts" -> attempts.map { case (k, v) => k.toString -> v }.toMap,
      "retry_handler_calls" -> handlerCalls,
      "retry_successes" -> successes,
      "drain_block" -> block))
  }

  /** svc_rpc: `Ping` requests, pre-encoded with `AvroPayloadCodec`,
    * answered by `ServiceFlow.registerStream[Ping, Pong]` with
    * `startPublishing()` (K1 + K2 routing through the MemoryBus sink) and
    * `startErrors`; the sink reads `Client.replies[Pong]`. About 1 % of
    * payloads are poison and must each come back as one ServiceException.
    */
  val RpcRate = 50.0

  def rpc(spark: SparkSession, seed: Long, seconds: Double, tracer: Tracer,
          outDir: String, rate: Double): Map[String, Any] = {
    import spark.implicits._
    val run = new Run(spark, tracer, outDir)
    val rnd = new scala.util.Random(seed)
    val topic = EnvelopeCodec.fqnOf[Ping]
    val block = 100
    val warmN = WarmBursts * 2 * block + (rate * WarmSeconds).toInt
    val mainN = (rate * seconds).toInt
    val drainN = DrainPasses * block
    val n = warmN + mainN + drainN
    val pings = (0 until n).map(_ => Ping(rnd.nextInt(1000000)))
    val poison = (0 until n).map(_ => rnd.nextInt(100) == 0)
    val t0 = System.nanoTime()
    val bytes = AvroPayloadCodec.encode(spark.createDataset(pings))
      .select("payload").collect().map(_.getAs[Array[Byte]](0))
    run.preEncodeS = (System.nanoTime() - t0) / 1e9
    val bad = Array.fill[Byte](12)(0xFF.toByte) // an Avro long that never terminates
    (0 until n).foreach { i =>
      run.events += Ev(i, topic, EventMeta(eventId = s"e$i", eventType = topic,
        correlationId = Some(s"e$i"), directReply = Some(RpcClient("", "caller"))),
        if (poison(i)) bad else bytes(i))
    }

    val svc = new ServiceFlow("pinger", run.bus, codec = AvroPayloadCodec)
      .registerStream[Ping, Pong]((p, _) => Pong(2 * p.n))
    svc.startPublishing().foreach(q => run.queries += "service" -> q)
    var errorsReported = 0
    svc.startErrors { (_, df) =>
      val q = df.writeStream.queryName("errors")
        .option("checkpointLocation", s"$outDir/chk/errors")
        .foreachBatch(run.sink[org.apache.spark.sql.Row] { (rows, t) =>
          rows.foreach { r =>
            val i = r.getStruct(0).getAs[String]("responseTo").drop(1).toInt
            errorsReported += 1
            if (!poison(i)) run.wrong(s"error reply for healthy request e$i")
            else run.done(run.events(i), t)
          }
        }).start()
      run.queries += "errors" -> q
      q
    }
    val replies = new Client("caller", run.bus, AvroPayloadCodec).replies[Pong]
    run.start[(Pong, EventMeta)]("rpc", replies, "append") { (rows, t) =>
      rows.foreach { case (p, m) =>
        val i = m.responseTo.map(_.drop(1).toInt).getOrElse(-1)
        if (i < 0 || poison(i) || p.doubled != 2 * pings(i).n) run.wrong(s"reply $p to $i")
        else run.done(run.events(i), t)
      }
    }

    run.warmUp(run.events.take(warmN).toSeq, 2 * block, rate)
    val firstOpMs = tracer.nowMs()
    val latency = run.measure(run.events.slice(warmN, warmN + mainN).toSeq, rate)
    val heap = Main.liveHeapMb()
    val drainS = if (run.failedQueries.isEmpty)
      run.drain(run.events.drop(warmN + mainN).grouped(block).map(_.toSeq).toSeq) else Nil
    run.result(rate, latency, firstOpMs, drainS, heap, Map(
      "errors_reported" -> errorsReported,
      "poison_planned" -> poison.count(identity),
      "drain_block" -> block))
  }
}
