package graft
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Benchmark main (driver contract): runs every `SparkEntry.queries`
  * entry against SPARK_GRAFT_SF_DIR, min-of-REPS after a full warmup
  * pass, and reports two ways:
  *
  *  - ONE compact JSON line on stdout (the driver's scrape), with the
  *    headline fields LAST so a tail-truncated capture still carries
  *    them;
  *  - the COMPLETE full-precision record to SPARK_GRAFT_BENCH_OUT
  *    (default `bench_out.json` in the cwd; kept runs are committed
  *    under `records/`), so the run's
  *    record is self-contained even when the stdout scrape
  *    truncates — BENCH_r05 and r06 both lost their tails that way.
  *    Its per-query `diag` carries each rep's seconds, JIT seconds,
  *    host steal/iowait/idle and mini-calibration stamp
  *    (`tools/stamp_filter.py` reads these), plus the min rep's GC
  *    and spill and the storage left behind.
  *
  * Both carry a LOAD CALIBRATION: a fixed, sf-independent reference
  * computation (sum(xxhash64(id)) over 2^28 ids — pure CPU across all
  * cores, no I/O, no shuffle) timed min-of-3 BEFORE and AFTER the
  * sweep. On a quiet box it is a stable constant for a given core
  * count; external load inflates even its min, so a load-corrupted
  * record self-identifies (r06's driver run was ~3× inflated end to
  * end and nothing in the record said so). /proc/loadavg snapshots
  * land beside it for diagnosis.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // fail fast on a mistyped filter name — BEFORE the session and
    // the multi-minute warmup, with the unknown names spelled out
    val selected = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val shufflePartitions = GraftSession.shufflePartitions
    val spark = GraftSession.build()
    // Warm the JVM so no measured query is charged JIT/startup cost:
    // one full UNMEASURED pass of the same query set at the same sf
    // dir (same plans + same AQE decisions → same generated classes),
    // then the measured pass below runs fully warm. A smaller-sf
    // warmup does NOT work — AQE picks different join strategies at
    // different sizes, so the generated code differs. Each timing
    // below is steady-state engine cost, not "who ran first pays the
    // operator family's cold codegen compile".
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    // validate the rep count BEFORE the warmup too: reps <= 0 would
    // make every rep list empty, silently reporting the -1.0 sentinel
    // for every query (indistinguishable from "all reps failed"), and
    // a typo'd value would throw a bare NumberFormatException AFTER
    // minutes of warmup already ran
    val repsRaw = sys.env.getOrElse("SPARK_GRAFT_REPS", "3")
    val reps = scala.util.Try(repsRaw.toInt).getOrElse(
      sys.error(s"SPARK_GRAFT_REPS must be an integer >= 1, got '$repsRaw'"))
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got '$repsRaw'")

    // ---- load calibration -------------------------------------------------
    // fixed reference work: ~268M xxhash64 evaluations, embarrassingly
    // parallel, zero I/O — its min-of-3 moves only when something else
    // is eating the cores. Warmed once so codegen never pollutes it.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: a sum of 2^28 hashes overflows long under
      // ANSI arithmetic; xor is overflow-free and just as CPU-bound
      spark.range(1L << 28).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def calibMin(): Double = { calibOnce(); (1 to 3).map(_ => calibOnce()).min }
    // Per-REP mini-calibration (round 14): the sweep-level pre/post
    // calib can't see INSIDE the run, and this box showed multi-minute
    // ~3× CPU-slowdown windows with ZERO guest-visible steal (the
    // pure-CPU reference itself went 0.09 → 0.27 s between runs in
    // identical conditions). A heavy query's three reps span 1-2.5
    // minutes — the same order as a burst — so min-of-3 can't dodge
    // and the row inflates with no JVM-side signature (measured:
    // zero spill/storage/gc on reps 2-3× slower than standalone).
    // One 2^27-id slice (~45 ms quiet, 3× under a burst) after each
    // rep stamps that rep's window; analysis can then discard reps
    // whose stamp is inflated instead of trusting a blind min.
    def miniCalib(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 27).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
      catch { case _: Exception => "unavailable" }
    val loadPre = loadavg()
    val calibPre = calibMin()

    // ---- per-query diagnostics (round 14: the suite-inflation hunt) ---
    // A query's wall seconds alone can't attribute an in-suite
    // inflation (r13: c38 29.6/41.0 s in-suite vs 17.3 standalone,
    // min-of-3 per run — NOT transient noise). Three cheap probes per
    // query separate the suspects: driver+executor GC time (suite-long
    // heap debt), task spill bytes (execution-memory contention), and
    // the BlockManager's resident RDD storage (this suite's operators
    // localCheckpoint intermediates — Components per CC round, the
    // packing prefix sums — and those blocks are freed only when a
    // DRIVER GC lets the ContextCleaner collect them, so storage can
    // accumulate across a 95-query suite and squeeze execution
    // memory). All three land in the FULL file record only; the
    // stdout line (the driver's scrape) is unchanged.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // JIT-state probes (round 14, second pass): the chain experiment
    // reproduced the inflation with ZERO gc/spill/storage signature —
    // the remaining suspects are JVM code state. Per query: the JIT's
    // cumulative compilation-time delta (a recompile storm = seconds
    // of C2 work mid-query), code-heap occupancy (the sweeper starts
    // flushing warm methods near the segment caps — this probe is
    // how the r15 code-cache-saturation verdict was reached, and why
    // build.sbt now forks with -XX:ReservedCodeCacheSize=512m; at
    // the JVM default 240 MB the 95-query sf10 suite measurably
    // re-warmed flushed kernels, SURVEY §6 r15), and metaspace
    // (class accumulation from one generated class per codegen
    // stage per plan).
    def jitMillis(): Long = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
    }
    def poolUsedMb(nameFrag: String): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains(nameFrag)).map(_.getUsage.getUsed).sum / 1e6
    }
    // Host CPU accounting per rep (round 14, third pass): the per-rep
    // spikes survive a quiet pre/post calib because the calib can't
    // see INSIDE the run. /proc/stat's cpu line is the ground truth —
    // a rep whose window carries high STEAL ran against a co-tenant
    // burst (invalid measurement, not an engine cost); high IOWAIT
    // says storage stalls; high IDLE with a long wall says scheduler
    // gaps. Returns (user+nice, system+irq+softirq, idle, iowait,
    // steal) jiffies — irq/softirq fold into the system bucket so
    // the denominator covers the full cpu line and the reported
    // percentages aren't overstated on irq-heavy windows.
    def procStat(): Array[Long] =
      try {
        val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        def at(i: Int) = if (f.length > i) f(i) else 0L
        Array(f(0) + f(1), f(2) + at(5) + at(6), f(3), f(4), at(7))
      } catch { case _: Exception => Array(0L, 0L, 0L, 0L, 0L) }
    val spillBytes = new LongAdder
    // shuffle-fetch wait per rep (round 16): the next engine-side
    // suspect for context-free rep scatter — a rep whose tasks sat
    // waiting on shuffle fetches carries the wait here, separating
    // "executor starved by the host" from "engine waited on itself"
    val fetchWaitMs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
          if (m.shuffleReadMetrics != null)
            fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
        }
      }
    })
    // disk size matters as much as memory: localCheckpoint blocks are
    // MEMORY_AND_DISK, so under execution-memory pressure they land on
    // disk and STAY there until a driver GC lets the ContextCleaner
    // reap them — an sf10 suite accumulated 73 GB of block-manager
    // files in ~50 min before the periodic driver GC (r14, hit ENOSPC)
    def storageSnapshot(): (Long, Long, Int) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.map(_.memSize).sum, infos.map(_.diskSize).sum,
        spark.sparkContext.getPersistentRDDs.size)
    }
    // local profiling with a name filter warms only the filtered set
    // (the driver passes no args → full warmup, unchanged)
    miniCalib() // warm the per-rep stamp's codegen before anything is measured
    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // name-sorted so per-query timings are comparable across rounds:
    // with Map iteration order, adding one query reshuffles who pays
    // the shared cold codegen/JIT of each operator family
    // optional args = query-name filter (local profiling; driver passes none)
    // Noise robustness: the box this runs on carries unpredictable
    // external load (round-4 record: a 1.2 s query measured at 16.8 s
    // inside a load window). Each query therefore runs REPS measured
    // repetitions and records the MIN — the warmup above already
    // targets steady state, so the min IS the steady-state engine
    // cost, and one noisy minute can no longer corrupt a round's
    // record. A rep that THROWS records the -1.0 sentinel; a query
    // whose every rep fails reports -1.0 — a broken query must never
    // masquerade as a fast one.
    val resultsFull = selected.map { case (name, fn) =>
      // noop sink: computes every output column (count() would let
      // Catalyst prune the projections) without any write cost.
      val times = (1 to reps).map { _ =>
        // drain the listener bus so a prior rep's straggling task-end
        // events don't leak into this rep's spill total (outside the
        // timer on both ends)
        org.apache.spark.graft.Listeners.settle(spark.sparkContext)
        spillBytes.reset()
        fetchWaitMs.reset()
        val g0 = gcMillis()
        val j0 = jitMillis()
        val s0 = procStat()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          org.apache.spark.graft.Listeners.settle(spark.sparkContext)
          val s1 = procStat()
          val ds = s1.zip(s0).map { case (a, b) => (a - b).toDouble }
          val tot = math.max(1.0, ds.sum)
          // (steal%, iowait%, idle%) of the host over this rep's window
          (sec, (gcMillis() - g0) / 1e3, spillBytes.sum() / 1e6,
            (jitMillis() - j0) / 1e3,
            100 * ds(4) / tot, 100 * ds(3) / tot, 100 * ds(2) / tot,
            miniCalib(), fetchWaitMs.sum() / 1e3)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            (-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        }
      }
      val ok = times.filter(_._1 >= 0)
      // diagnostics ride the rep that produced the reported (min) time
      val best =
        if (ok.isEmpty) (-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        else ok.minBy(_._1)
      val (storageBytes, storageDiskBytes, nRdds) = storageSnapshot()
      (name, best._1, best._2, best._3, storageBytes / 1e6,
        storageDiskBytes / 1e6, nRdds,
        times.map(_._1), times.map(_._4), poolUsedMb("CodeHeap"), poolUsedMb("Metaspace"),
        times.map(_._5), times.map(_._6), times.map(_._7), times.map(_._8),
        times.map(_._9))
    }
    val results = resultsFull.map(r => r._1 -> r._2)
    // post-sweep calibration: load arriving MID-run shows up as
    // pre/post disagreement even if the pre measurement was quiet
    val calibPost = calibMin()
    val loadPost = loadavg()
    val calib = math.min(calibPre, calibPost)

    // The harness that consumes the stdout line captures only the
    // LAST ~2000 bytes; a full-precision 80-query line is ~3 KB, so
    // its head — including the {"metric":…} prefix — was being
    // truncated off every round and the line never parsed. Defenses,
    // layered:
    //   1. per-query times at millisecond precision (min of reps ⇒
    //      sub-ms digits are noise anyway) keeps the line small;
    //   2. "queries" FIRST and calib/metric/value/unit/sf LAST, so
    //      even a truncated capture still carries the summary fields
    //      (JSON object keys are unordered);
    //   3. the COMPLETE full-precision record also lands in
    //      SPARK_GRAFT_BENCH_OUT (default bench_out.json in the
    //      cwd) — the self-contained file twin of this line;
    //   4. the stdout line prints AFTER spark.stop(), so no shutdown
    //      logging can push it out of the capture window.
    def ms(v: Double): String =
      if (v < 0) "-1.0" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val line =
      s"""{"queries":$qs,"calib":${ms(calib)},"out":"$outPath",""" +
      s""""metric":"total","value":${ms(total)},"unit":"sec","sf":"$sfDir"}"""
    // per-query diagnostics (gc seconds + spill MB of the min rep;
    // resident RDD storage MB + block count right AFTER the query) —
    // the attribution record for any in-suite-vs-standalone gap
    val diag = resultsFull.map {
      case (name, _, gcSec, spillMb, storMb, storDiskMb, nRdds,
            repSecs, repJitSecs, codeHeapMb, metaspaceMb,
            repStealPct, repIowaitPct, repIdlePct, repCalib,
            repFetchWait) =>
        "\"" + name + s"""":{"gc_sec":${ms(gcSec)},"spill_mb":${ms(spillMb)},""" +
          s""""storage_mb_after":${ms(storMb)},""" +
          s""""storage_disk_mb_after":${ms(storDiskMb)},"rdds_after":$nRdds,""" +
          s""""rep_secs":[${repSecs.map(ms).mkString(",")}],""" +
          s""""rep_jit_secs":[${repJitSecs.map(ms).mkString(",")}],""" +
          s""""rep_steal_pct":[${repStealPct.map(ms).mkString(",")}],""" +
          s""""rep_iowait_pct":[${repIowaitPct.map(ms).mkString(",")}],""" +
          s""""rep_idle_pct":[${repIdlePct.map(ms).mkString(",")}],""" +
          s""""rep_calib_secs":[${repCalib.map(ms).mkString(",")}],""" +
          s""""rep_fetch_wait_secs":[${repFetchWait.map(ms).mkString(",")}],""" +
          s""""codeheap_mb_after":${ms(codeHeapMb)},""" +
          s""""metaspace_mb_after":${ms(metaspaceMb)}}"""
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""reps":$reps,"cpus":"$cpus","shuffle_partitions":"$shufflePartitions",""" +
      s""""n_queries":${results.size},""" +
      s""""calib":$calib,"calib_pre":$calibPre,"calib_post":$calibPost,""" +
      s""""calib_ref":"min-of-3 bit_xor(xxhash64(id)) over range(2^28), warmed",""" +
      s""""loadavg_pre":"$loadPre","loadavg_post":"$loadPost",""" +
      s""""diag":$diag,""" +
      s""""queries":$qsFull}"""
    // best-effort: the bench must still report via stdout if cwd
    // isn't writable (e.g. run from a read-only checkout)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Exception => System.err.println(s"[bench] $outPath not written: $e") }
    spark.stop()
    println(line)
  }
}
