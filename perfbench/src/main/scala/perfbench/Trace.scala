package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval, in epoch milliseconds. `parent` is 0 for the root.
  * Spans of one key in one pass share `key` and `pass`. */
final case class Span(id: Long, parent: Long, name: String, key: String,
    pass: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Trace {
  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredMs(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var open: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      open match {
        case Some((oa, ob)) if a <= ob => open = Some((oa, math.max(ob, b)))
        case Some((oa, ob)) => total += ob - oa; open = Some((a, b))
        case None => open = Some((a, b))
      }
    }
    total + open.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children that overlap each other count once). */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = coveredMs(s.startMs, s.endMs,
        kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
      s.id -> (s.durMs - covered)
    }.toMap
  }

  /** Self time summed per span name, in seconds. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfMs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1000 }
  }
}

/** Spans kept in memory and written out once, when the run ends. */
final class Tracer {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1L

  /** A fresh span id, for a span recorded once its end is known. */
  def newId(): Long = synchronized { nextId += 1; nextId - 1 }

  def record(s: Span): Long = synchronized { buf += s; s.id }

  def add(parent: Long, name: String, key: String, pass: String,
      startMs: Double, endMs: Double): Long =
    record(Span(newId(), parent, name, key, pass, startMs, endMs))

  def spans: Seq[Span] = synchronized(buf.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.write(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "key" -> s.key, "pass" -> s.pass, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Wall clock with sub-millisecond resolution on Spark's epoch-ms scale. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
