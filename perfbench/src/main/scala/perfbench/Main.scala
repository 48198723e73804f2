package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM:
  *
  *   perfbench.Main --workload etl|dedup|ingest --seed N --seconds S
  *                  --trace 0|1 --data DIR --work DIR --result FILE
  *
  * Sets up once, runs the cold pass or batch and one untimed warm-up,
  * then steady passes or batches for at least S seconds, then produces
  * the outputs that run.py checks. Writes its figures to FILE as JSON.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, result: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("result"))
  }

  /** The session settings of graft's benchmark mains (`graft.Bench`,
    * `graft.StreamBench`). */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = Host.loadavg()
    val cpu0 = Host.cpuJiffies()
    val ref0 = Host.cpuReferenceS()
    val out = new Result
    val workload: Workload = a.workload match {
      case "etl" => new QueryPasses(Workloads.Etl, a, out)
      case "dedup" => new QueryPasses(Workloads.Dedup, a, out)
      case "ingest" => new Ingest(a, out)
      case w => sys.error(s"unknown workload '$w' (etl, dedup, ingest)")
    }
    workload.run()
    val ref1 = Host.cpuReferenceS()
    val (idle, steal) = Host.idleSteal(cpu0, Host.cpuJiffies())
    out.e2e("peak_rss_mb", Host.peakRssMb(), "MB")
    out.host ++= Seq(
      "loadavg_start" -> load0.mkString(" "), "loadavg_end" -> Host.loadavg().mkString(" "),
      "idle_pct" -> f"$idle%.1f", "steal_pct" -> f"$steal%.2f",
      "cpu_ref_s" -> f"${math.min(ref0, ref1)}%.4f",
      "cores" -> Runtime.getRuntime.availableProcessors.toString)
    out.write(a.result)
  }
}

/** A workload's figures, written as one JSON object for run.py. */
final class Result {
  val e2eMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layerMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  val host = mutable.LinkedHashMap[String, String]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0
  var failed = 0
  /** Per query: (timed executions, executions that threw). */
  val executions = mutable.LinkedHashMap[String, (Int, Int)]()
  val errors = mutable.ArrayBuffer[String]()

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)

  private def q(s: String) = Result.quote(s)
  private def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => s"${q(k)}:{${q("value")}:${num(v)},${q("unit")}:${q(u)}}" }
      .mkString("{", ",", "}")
  private def strings(m: mutable.LinkedHashMap[String, String]) =
    m.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")

  def write(path: String): Unit = {
    val ex = executions.map { case (k, (n, f)) => s"${q(k)}:[$n,$f]" }.mkString("{", ",", "}")
    val json = s"""{"attempted":$attempted,"failed":$failed,"e2e":${metrics(e2eMetrics)},""" +
      s""""layer":${metrics(layerMetrics)},"host":${strings(host)},"info":${strings(info)},""" +
      s""""executions":$ex,"errors":[${errors.map(q).mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}

object Result {
  /** A JSON string literal. */
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

trait Workload { def run(): Unit }

/** Shared by the workloads: the clock, the timed set-up and the
  * per-window layer readings of the traced run. */
abstract class Common(a: Main.Args, out: Result) extends Workload {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val rng = new Random(a.seed)
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000
  /** nanoTime on the epoch-microsecond clock the stage spans use. */
  def us(nano: Long): Long = epochUs0 + (nano - nano0) / 1000

  /** Builds the session and runs `setup` in it, once, timed from JVM
    * start: what one scheduled run pays before its first operation. It
    * is not repeated in this JVM, because a second set-up would run
    * warm and would warm the JIT and codegen before the cold pass. */
  def timedSetup[T](setup: SparkSession => T): (SparkSession, T) = {
    val t0 = System.nanoTime() - (System.currentTimeMillis() - Host.jvmStartMillis()) * 1000000L
    val s = Main.session(cores, a.work + "/spark-local")
    val v = setup(s)
    out.e2e("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    (s, v)
  }

  /** Per-window layer readings, reduced to per-pass medians. */
  val windows = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Double]]()
  val units = mutable.LinkedHashMap[String, String]()
  def jvmReading(): (Double, Double) = (Host.gcSeconds(), Host.jitSeconds())

  /** Layer figures common to every workload, for one window. */
  def operatorsAndJvm(w: Window, wallS: Double, from: Long, to: Long,
                      gcJit0: (Double, Double)): mutable.LinkedHashMap[String, Double] = {
    val r = mutable.LinkedHashMap[String, Double]()
    def put(k: String, v: Double, u: String): Unit = { r(k) = v; units(k) = u }
    val stageSpans = w.stages.map { case (_, s, e) => (s * 1000, e * 1000) }
    put("operators.jobs", w.jobs, "count")
    put("operators.stages", w.stages.size, "count")
    put("operators.tasks", w.tasks, "count")
    put("operators.task_s", w.taskMs / 1e3, "s")
    put("operators.cpu_util", w.taskMs / 1e3 / (wallS * cores), "fraction")
    put("operators.driver_gap_s", Stats.driverGap((from, to), stageSpans) / 1e6, "s")
    put("operators.shuffle_write_mb", w.shuffleWriteBytes / 1e6, "MB")
    put("operators.shuffle_read_mb", w.shuffleReadBytes / 1e6, "MB")
    put("operators.spill_mb", w.spillBytes / 1e6, "MB")
    put("operators.fetch_wait_s", w.fetchWaitMs / 1e3, "s")
    put("plans.catalyst_s", w.catalystMs / 1e3, "s")
    put("plans.codegen_compiles", w.codegenCompiles.toDouble, "count")
    val (gc, jit) = jvmReading()
    put("jvm.gc_s", gc - gcJit0._1, "s")
    put("jvm.jit_s", jit - gcJit0._2, "s")
    put("jvm.codeheap_mb", Host.poolUsedMb("CodeHeap"), "MB")
    put("jvm.metaspace_mb", Host.poolUsedMb("Metaspace"), "MB")
    r
  }

  /** Writes the median over steady windows of every layer figure. */
  def reportLayers(): Unit =
    if (windows.nonEmpty) units.foreach { case (k, u) =>
      out.layer(k, Stats.median(windows.toSeq.map(_.getOrElse(k, 0.0))), u)
    }

  /** Records, beside the metrics, the sample count of a latency and its
    * highest percentile (in steps of 5) with ten samples beyond it. */
  def tail(what: String, xs: Seq[Double]): Unit = {
    out.info(s"${what}_samples") = xs.size.toString
    Stats.highestSupported(xs).foreach { case (p, v) =>
      out.info(s"${what}_p${math.round(p * 100)}_s") = f"$v%.4f" }
  }
}
