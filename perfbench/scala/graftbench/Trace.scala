package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` groups the spans of one
  * request (a job id, a query id or a pass); `parent` is the id of the span
  * that caused this one, 0 for a root. Times are System.nanoTime values. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store. Recording is off unless an engine or spans pass
  * turned it on, so plain passes pay one volatile read per boundary. Spans are
  * written out once, when the run ends. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]

  def nextId(): Long = ids.incrementAndGet()

  /** Record a finished span (callers only do so for traced work). */
  def record(id: Long, parent: Long, trace: String, name: String,
      startNs: Long, endNs: Long): Unit =
    spans.add(Span(id, parent, trace, name, startNs, endNs))

  /** Time `body` as a child span of `parent`; returns body's value. */
  def timed[T](name: String, trace: String, parent: Long)(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      val t0 = System.nanoTime()
      try body
      finally record(id, parent, trace, name, t0, System.nanoTime())
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spans whose start lies in [t0, t1). */
  def within(t0: Long, t1: Long): Seq[Span] =
    all.filter(s => s.startNs >= t0 && s.startNs < t1)

  /** Span count per span name within a pass window. */
  def counts(w: Ctx#Window): Map[String, Int] =
    within(w.t0, w.t1 + 1).groupBy(_.name).map { case (n, xs) => n -> xs.size }

  /** The innermost of `candidates` whose interval contains `t`. */
  def enclosing(candidates: Seq[Span], t: Long): Option[Span] =
    candidates.filter(s => s.startNs <= t && t <= s.endNs).maxByOption(_.startNs)

  /** One JSON object per line; times in ms from `originNs`. */
  def write(path: java.nio.file.Path, originNs: Long): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_ms" -> (s.startNs - originNs) / 1e6, "end_ms" -> (s.endNs - originNs) / 1e6)))
        .append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stats {
  /** Nearest-rank percentile, p in [0, 100]; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }
}

/** Minimal JSON rendering for the harness's own records. */
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
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
