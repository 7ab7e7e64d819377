package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** One traced interval: `parent` is the id of the span that caused it (-1 for
  * a root), `trace` groups the spans of one page or one job. Times are
  * nanoseconds; kernel spans use System.nanoTime, Spark spans use the
  * listener's epoch milliseconds scaled to nanoseconds — one clock per trace. */
final case class Span(id: Int, parent: Int, trace: Long, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span store. Spans are only appended while the benchmark runs
  * and are written out once, when it ends. */
final class Tracer {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty[Span]

  def add(parent: Int, trace: Long, name: String, start: Long, end: Long): Int = {
    val id = spans.length
    spans += Span(id, parent, trace, name, start, end)
    id
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its children. */
  def selfTimes(): Array[Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.iterator.map { s =>
      val iv = kids.getOrElse(s.id, ArrayBuffer.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      for ((a, b) <- iv) {
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      s.dur - covered
    }.toArray
  }

  /** name -> (count, total ns, self ns) */
  def summary(): Map[String, (Long, Long, Long)] = {
    val self = selfTimes()
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> ((is.length.toLong, is.iterator.map(spans(_).dur).sum, is.iterator.map(self(_)).sum))
    }
  }

  def total(name: String): Long = spans.iterator.filter(_.name == name).map(_.dur).sum
  def durations(name: String): Array[Long] = spans.iterator.filter(_.name == name).map(_.dur).toArray

  /** One JSON object per line, in recording order. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}
