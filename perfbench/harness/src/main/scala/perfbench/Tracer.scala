package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary the benchmark crosses. Times
  * are epoch microseconds; `parent` is 0 for the run span only.
  */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder, written out once when the run ends. A Spark
  * job becomes a span under the phase whose job group it ran in.
  */
final class Tracer(val runId: String) {
  private val next = new AtomicLong(0L)
  private val buf = new ConcurrentLinkedQueue[Span]

  private val prefix = s"perfbench-$runId-"

  def newId(): Long = next.incrementAndGet()

  /** The Spark job group of span `spanId`: unique to this run, so jobs of
    * another run in the same session never count under it.
    */
  def group(spanId: Long): String = s"$prefix$spanId"
  def spanOf(group: String): Option[Long] =
    if (group.startsWith(prefix)) group.drop(prefix.length).toLongOption else None

  def spans: Seq[Span] = buf.asScala.toSeq

  def add(s: Span): Unit = buf.add(s)

  /** Runs `f` as span `id` under `parent`. */
  def record[T](id: Long, parent: Long, name: String)(f: => T): T = {
    val t0 = Tracer.nowUs
    try f finally buf.add(Span(id, parent, name, t0, Tracer.nowUs))
  }

  def span[T](parent: Long, name: String)(f: Long => T): T = {
    val id = newId()
    record(id, parent, name)(f(id))
  }

  /** Job spans: a job in group `group(id)` hangs under span `id`;
    * a job outside the benchmark's groups hangs under `fallback`.
    */
  def addJobs(jobs: Iterable[JobRecord], fallback: Long): Unit =
    jobs.foreach { j =>
      val parent = spanOf(j.group).getOrElse(fallback)
      buf.add(Span(newId(), parent, s"job:${j.id}", j.startMs * 1000, j.endMs * 1000))
    }

  /** Spans whose parent is not a recorded span. */
  def orphans: Seq[Span] = {
    val all = spans
    val ids = all.map(_.id).toSet
    all.filter(s => s.parent != 0 && !ids(s.parent))
  }

  /** A span's duration minus the part of it its children cover (children
    * may overlap, e.g. concurrent jobs of one query phase).
    */
  def selfUs: Map[Long, Long] = {
    val all = spans
    val children = all.groupBy(_.parent)
    all.map { s =>
      s.id -> Tracer.uncovered(children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)), s.startUs, s.endUs)
    }.toMap
  }

  def toJson: String = {
    val self = selfUs
    spans.sortBy(_.id).map { s =>
      s"""{"run":"${Json.esc(runId)}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${Json.esc(s.name)}","start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""self_us":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  /** Length of [t0, t1] that no interval of `intervals` covers. */
  def uncovered(intervals: Iterable[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    intervals.toSeq.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (t1 - t0) - covered
  }

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
