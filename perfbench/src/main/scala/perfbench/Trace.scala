package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. A span wraps one call from the benchmark into a
  * layer of the program; Spark jobs, stages and tasks started while a span
  * is open on the submitting thread are attached to it (the span id rides
  * a Spark local property, which the listener reads back from the job).
  * Nothing is written until [[Trace.write]] at the end of the run. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toLong)
      id.flatMap(i => Option(spans.get(i))).foreach { s =>
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(stageSpan.put(_, s))
        s.synchronized {
          s.counts("jobs") += 1
          s.jobStarts(e.jobId) = e.time
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        s.synchronized {
          s.jobStarts.remove(e.jobId).foreach(t0 => s.jobs += ((t0, e.time)))
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.synchronized { s.counts("stages") += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Option(stageSpan.get(e.stageId)).foreach { s =>
        s.synchronized {
          s.counts("tasks") += 1
          s.counts("task_ms") += m.executorRunTime
          s.counts("input_bytes") += m.inputMetrics.bytesRead
          s.counts("output_bytes") += m.outputMetrics.bytesWritten
          s.counts("shuffle_bytes") += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  })

  /** Run `body` inside a span named `name` of layer `layer`. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = current.get()
    val s = new Span(ids.incrementAndGet(), Option(parent).map(_.id).getOrElse(0L),
      layer, name, System.currentTimeMillis(), Thread.currentThread().getName)
    spans.put(s.id, s)
    current.set(s)
    val prevProp = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.currentTimeMillis()
      current.set(parent)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** Record a span whose interval was measured elsewhere (the engine's own
    * trigger phases, read from query progress). */
  def record(layer: String, name: String, start: Long, end: Long,
      parent: Long = 0L): Long = {
    if (!enabled) return 0L
    val s = new Span(ids.incrementAndGet(), parent, layer, name, start,
      "stream-progress")
    s.end = end
    spans.put(s.id, s)
    s.id
  }

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  def write(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "thread" -> s.thread, "start_ms" -> s.start,
        "end_ms" -> s.end, "self_ms" -> selfMs(s)) ++
        s.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v } :+
        ("driver_gap_ms" -> s.driverGapMs)))
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes("UTF-8"))
  }

  /** Duration minus the part of it covered by child spans. */
  def selfMs(s: Span): Long = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end))
    s.duration - covered(kids, s.start, s.end)
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final class Span(val id: Long, val parent: Long, val layer: String,
      val name: String, val start: Long, val thread: String) {
    @volatile var end: Long = start
    val counts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
    val jobStarts: mutable.Map[Int, Long] = mutable.Map.empty
    val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
    def duration: Long = end - start
    /** Time inside the span with no Spark job running: driver-side work. */
    def driverGapMs: Long = synchronized { duration - covered(jobs.toSeq, start, end) }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Minimal JSON writer for the driver's outputs. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
