package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory span recorder. A span has a name, start, end (epoch ms),
  * parent span id and trace id; spans are written out when the run ends.
  * When `on` is false every call is a plain pass-through, so an untraced
  * run pays nothing beyond one branch per layer call.
  */
final class Tracer(@volatile var on: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with nanoTime resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, trace: Long, name: String,
             start: Double, end: Double): Unit =
    if (on) spans.synchronized { spans += Span(id, parent, trace, name, start, end) }

  /** Time `body` as span `name` under `parent`; the span id is published
    * as a Spark local property so the job listener can parent the jobs
    * the body submits to it.
    */
  def span[A](sc: SparkContext, name: String, parent: Long, trace: Long)(body: => A): A =
    if (!on) body else {
      val id = newId()
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s"$id:$trace:$name")
      val t0 = nowMs()
      try body finally {
        record(id, parent, trace, name, t0, nowMs())
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)))
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, trace: Long, name: String,
                        start: Double, end: Double)
}

/** Spark's own scheduler instruments, attributed to the layer span that
  * was open on the submitting thread when each job started: jobs,
  * stages, tasks, task busy time, GC, shuffle and spill bytes, peak
  * execution memory. Each job also becomes a `job` span.
  */
final class LayerListener(tracer: Tracer) extends SparkListener {
  final class Counts {
    var jobs, stages, tasks = 0L
    var busyMs, gcMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
  }
  private val byLayer = mutable.HashMap.empty[String, Counts]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val jobInfo = mutable.HashMap.empty[Int, (Long, Long, String, Long)]

  def counts: Map[String, Counts] = synchronized(byLayer.toMap)

  private def layer(l: String): Counts = byLayer.getOrElseUpdate(l, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
    val (parent, trace, name) = prop.map(_.split(":", 3)) match {
      case Some(Array(id, tr, n)) => (id.toLong, tr.toLong, n)
      case _ => (0L, 0L, "other")
    }
    layer(name).jobs += 1
    e.stageIds.foreach(s => stageLayer(s) = name)
    jobInfo(e.jobId) = (parent, trace, name, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (parent, trace, _, start) =>
      tracer.record(tracer.newId(), parent, trace, "job", start.toDouble, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    layer(stageLayer.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = layer(stageLayer.getOrElse(e.stageId, "other"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.busyMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }
}

/** Minimal JSON rendering for the result files (flat values, arrays and
  * nested objects of them).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
