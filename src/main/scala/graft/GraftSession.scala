package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of every graft main (Bench, StreamBench,
  * Verify, PlanDump, ScaleGen), so a setting a measurement depends on
  * is set once and the mains cannot drift apart.
  *
  *  - `local[SPARK_GRAFT_CPUS]` (default 32) with
  *    `SPARK_GRAFT_SHUFFLE_PARTITIONS` shuffle partitions (default:
  *    the core count). The partition count scales with DATA, not
  *    cores: the core count is right for sf0.1, but at sf10 the big
  *    self-join shuffles spill tens of GB when squeezed into 32
  *    partitions. On a real cluster AQE splits from a high initial
  *    partition number; locally the variable lets scale runs set e.g.
  *    256 (AQE coalesces the small stages back down, so only the
  *    genuinely big shuffles keep the fan-out).
  *  - `spark.shuffle.sort.bypassMergeThreshold=1`: the bypass-merge
  *    writer opens one temp file per REDUCE partition per map task
  *    (M×R file creates/deletes per exchange), and on a slow-metadata
  *    filesystem each open/delete costs ~10 ms — thread dumps of a
  *    32-map × 32-reduce exchange showed task CPU dominated by
  *    FileOutputStream.open0/delete0 (~300 ms/task against ~5 ms of
  *    real row work; taskSum 12 s → 0.5 s with the sort writer,
  *    OPTIMIZATION_r17.md). Threshold 1 routes every multi-partition
  *    exchange through the sort-based writer: one spill file + index
  *    per map task. At cluster reducer counts (R > 200) bypass never
  *    fires anyway, so this makes the local plan shape match the
  *    at-scale one.
  *  - `spark.cleaner.periodicGC.interval=60s`, the disk-leak guard:
  *    localCheckpoint blocks are MEMORY_AND_DISK and are freed only
  *    when a DRIVER GC lets the ContextCleaner reap the dead RDD
  *    handles; a long suite run accumulated 73 GB of dead block files
  *    in ~50 min and hit ENOSPC (SURVEY §6 r14). The periodic driver
  *    GC bounds that to one interval's worth (73 → 7 GB measured) at
  *    no wall-time cost (gc60 vs hyg0 chain pair, §6 r14).
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: legacy `events`
  *    files store `ts` as parquet TIMESTAMP(NANOS), which Spark's
  *    reader rejects unless it reads them as long nanos;
  *    `Tables.load` converts that long to a session timestamp. Set
  *    here once, so loading a table never rewrites session conf.
  *  - UI off, UTC session time zone, log level WARN, and WindowExec's
  *    "No Partition Defined" WARN silenced (see `build`).
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  /** Build (or return) the session.
    *
    * WindowExec's per-execution "No Partition Defined" WARN is
    * silenced: in this engine the ONLY unpartitioned window is c40's
    * Σw over the strata AGGREGATE (dozens of rows by construction;
    * PlanSpec pins that it is the only unpartitioned window and that
    * it consumes post-aggregation rows, and Stratified.mixturePlan
    * documents the measured rejection of both warning-free rewrites).
    * The warning fired six times per Verify/Bench run for a
    * proven-bounded window, drowning real signals. PlanSpec's sweep
    * over every declared plan, not this WARN, catches a new one. */
  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // log backend absent: keep going
    spark
  }
}
