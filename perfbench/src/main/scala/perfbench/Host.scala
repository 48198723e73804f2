package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Readings of the box and of this JVM. The box readings are recorded
  * beside every run so that a run made on a loaded box identifies
  * itself; no metric is divided by them. */
object Host {

  private def readFile(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    catch { case _: Exception => None }

  /** The 1-, 5- and 15-minute load averages. */
  def loadavg(): Seq[Double] =
    readFile("/proc/loadavg").map(_.trim.split("\\s+").take(3).map(_.toDouble).toSeq)
      .getOrElse(Seq(-1.0, -1.0, -1.0))

  /** Aggregate CPU jiffies from /proc/stat: (total, idle + iowait, steal). */
  def cpuJiffies(): (Long, Long, Long) =
    readFile("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      def at(i: Int) = if (f.length > i) f(i) else 0L
      (f.take(8).sum, at(3) + at(4), at(7))
    }.getOrElse((0L, 0L, 0L))

  /** (idle %, steal %) of the box between two `cpuJiffies` readings. */
  def idleSteal(a: (Long, Long, Long), b: (Long, Long, Long)): (Double, Double) = {
    val total = math.max(1L, b._1 - a._1).toDouble
    (100 * (b._2 - a._2) / total, 100 * (b._3 - a._3) / total)
  }

  /** A fixed single-thread CPU reference: the best of three timings of
    * a xorshift loop, in seconds. On a quiet box it is a constant; a
    * loaded box inflates it. */
  def cpuReferenceS(): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = t0 | 1L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink = x // an observable result, so the loop is not optimized away
      (System.nanoTime() - t0) / 1e9
    }.min
  @volatile private var sink = 0L

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    readFile("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def jitSeconds(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3 else 0.0
  }

  /** Used MB of the memory pools whose name contains `fragment`. */
  def poolUsedMb(fragment: String): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains(fragment)).map(_.getUsage.getUsed).sum / 1e6

  /** Wall-clock time at which this JVM started, in epoch milliseconds. */
  def jvmStartMillis(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
