package graft.streaming

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev-only per-stage sample recorder for the streaming sinks'
  * `GRAFT_SINK_PROFILE=1` timers (D10/D16). Round 13's per-stage D16
  * attribution existed only as stderr prose — the numbers a SURVEY
  * table cites must trace to a committed JSON record, so the sinks
  * now RECORD each (stage, seconds, Spark jobs) sample here when
  * profiling is on and `graft.StreamBench` folds the aggregates into
  * its output JSON.
  *
  * Each sample also carries the section's codegen compiles: the
  * growth of Spark's process-wide `CodegenMetrics` compilation count
  * over the section, taken beside the job count. Spark's codegen
  * cache holds 100 classes, so a batch whose stages outgrow it
  * recompiles classes every batch; this is where they are. Unlike
  * the job count it is not tagged per section, so concurrent sinks
  * (or any other query running meanwhile) add to each other's
  * figure.
  *
  * Process-wide and append-only between resets; recording is gated on
  * the same env flag as the stderr lines, so a production stream
  * (profiling off) never touches it and the buffer cannot grow
  * unboundedly. One lock — samples are a handful per micro-batch.
  *
  * Job counts come from a listener this object registers on the
  * sink's SparkContext the first time a section runs with profiling
  * on — never otherwise. A section tags the jobs its thread submits
  * with a local property unique to that section run (Spark copies
  * local properties to the broadcast and subquery threads a query
  * starts), so concurrent sinks never count each other's jobs.
  */
object SinkProfile {
  /** One section run: its wall seconds, the Spark jobs it started and
    * the generated classes compiled meanwhile. */
  final case class Sample(stage: String, sec: Double, jobs: Long, compiles: Long)

  private val lock = new Object
  private var samples = Vector.empty[Sample]

  /** True when the sinks' profiling env flag is set. */
  def enabled: Boolean = sys.env.get("GRAFT_SINK_PROFILE").contains("1")

  def record(stage: String, sec: Double, jobs: Long = 0L, compiles: Long = 0L): Unit =
    lock.synchronized { samples :+= Sample(stage, sec, jobs, compiles) }

  def reset(): Unit = lock.synchronized { samples = Vector.empty }

  /** All samples since the last reset, in record order (stage names
    * repeat — one sample per micro-batch per stage). */
  def snapshot(): Seq[Sample] = lock.synchronized { samples }

  private val SectionKey = "graft.sink.section"
  private val sectionIds = new java.util.concurrent.atomic.AtomicLong

  private final class JobCounter extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SectionKey)))
        .foreach(id => jobs.merge(id, java.lang.Long.valueOf(1L),
          (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue)))
  }
  private var counter: (SparkContext, JobCounter) = null

  private def counterFor(sc: SparkContext): JobCounter = lock.synchronized {
    if (counter == null || (counter._1 ne sc)) {
      val c = new JobCounter
      sc.addSparkListener(c)
      counter = (sc, c)
    }
    counter._2
  }

  private def compiled: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs one named sink section. With profiling on it records the
    * section's seconds, Spark jobs and codegen compiles and prints
    * them to stderr as `[label] name  sec  jobs  compiles`; with
    * profiling off it only runs `body`. */
  def section[T](sc: SparkContext, label: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val c = counterFor(sc)
      val id = sectionIds.incrementAndGet().toString
      val outer = sc.getLocalProperty(SectionKey)
      sc.setLocalProperty(SectionKey, id)
      val c0 = compiled
      val t0 = System.nanoTime()
      val r = try body finally sc.setLocalProperty(SectionKey, outer)
      val sec = (System.nanoTime() - t0) / 1e9
      // the listener bus is asynchronous: drain it so every job the
      // section started has been counted
      org.apache.spark.graft.Listeners.settle(sc)
      val jobs = Option(c.jobs.remove(id)).fold(0L)(_.longValue)
      val compiles = compiled - c0
      record(name, sec, jobs, compiles)
      System.err.println(f"[$label] $name%-16s $sec%6.2f s $jobs%3d jobs $compiles%3d compiles")
      r
    }
}
