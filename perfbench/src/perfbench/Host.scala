package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and JVM context recorded with every run: cores, hypervisor steal,
  * GC time and JIT compile time. */
object Host {

  final case class Sample(stealJiffies: Long, totalJiffies: Long, gcMs: Long, jitMs: Long)

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def sample(): Sample = {
    val (steal, total) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
          (if (f.length > 7) f(7) else 0L, f.sum)
        } finally src.close()
      } catch { case _: Exception => (0L, 0L) }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    Sample(steal, total, gc, jit)
  }

  /** (steal %, GC ms, JIT ms) between two samples. */
  def delta(a: Sample, b: Sample): (Double, Double, Double) = {
    val steal = if (b.totalJiffies > a.totalJiffies)
      100.0 * (b.stealJiffies - a.stealJiffies) / (b.totalJiffies - a.totalJiffies) else 0.0
    (steal, (b.gcMs - a.gcMs).toDouble, (b.jitMs - a.jitMs).toDouble)
  }
}
