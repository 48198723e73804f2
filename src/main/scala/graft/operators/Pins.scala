package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Batch-scoped pin tracking for the streaming sinks (round 17).
  *
  * The ingest sinks pin batch-scoped frames with eager
  * localCheckpoints; those MEMORY_AND_DISK blocks must be freed at
  * end of batch or they accumulate on disk (73 GB / ENOSPC, SURVEY
  * §6 r14). The r14-r16 reap diffed `getPersistentRDDs` around the
  * batch body — UNSOUND under concurrent streaming queries: sink A's
  * diff sees sink B's in-flight pins and reaps them, and a reaped
  * localCheckpoint has truncated lineage, so B hard-fails on a
  * missing checkpoint block (measured: the r17 two-sink probe died
  * on its 4th arrival pair with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
  * The r16 runtime guard — skip the reap when
  * `spark.streams.active > 1` — never engaged in real wiring:
  * foreachBatch hands the sink a per-query CLONED session whose
  * StreamingQueryManager does not see sibling queries, so the count
  * read 1 with two queries running.
  *
  * Fix: stop inferring ownership from a global diff; RECORD it.
  * Every eager localCheckpoint on a sink-reachable path goes through
  * `checkpoint`, which registers the pinned RDD with the current
  * THREAD's collector — a foreachBatch body is single-threaded
  * driver code, so thread identity is batch identity. The sink's
  * end-of-batch reap unpersists exactly its own pins: correct under
  * any number of concurrent queries, pre-existing pins (frozen model
  * tables) untouched by construction, and no degraded skip mode at
  * all. A sink-path checkpoint NOT routed through here falls back to
  * the gc60 regime (its dead handle is reaped on the next periodic
  * driver GC) — bounded growth, never a reaped sibling.
  *
  * `persist` is the second pin kind (r17, the demoted-arrival fix):
  * a LAZY MEMORY_AND_DISK cache registered for the same end-of-batch
  * reap. A demoted oversized arrival must not be eagerly
  * checkpointed (the guard exists to avoid paying a corpus-sized
  * materialization up front), but its returned signature tables feed
  * several sink actions, each re-running the shingle→minhash
  * pipeline on the lazy plan — measured 1.74× the per-arrival wall
  * (records/demotedprobe_r17.json: 6.01 s lazy vs 3.45 s cached at a
  * 20k-doc forced demotion; every post-survivor action drops from
  * ~0.6-1.1 s to cache-scan cost). The cache is populated by
  * whichever action runs first — no up-front cost — and the
  * collector unpersists it at end of batch, so nothing leaks in a
  * long-running sink. Without a collector (a plain batch caller)
  * `persist` is a NO-OP and the frame stays fully lazy: the caller
  * owns the lifecycle there, and an unreaped CacheManager entry per
  * call is exactly the leak this class exists to prevent.
  */
object Pins {
  private[graft] sealed trait Pin
  private final case class Ckpt(rdd: RDD[_]) extends Pin
  private final case class Cached(df: DataFrame) extends Pin

  private val collector = new ThreadLocal[java.util.ArrayList[Pin]]

  /** Row counts of the RDDs `checkpoint` materialized, keyed weakly
    * by the pinned RDD: an entry lives exactly as long as some frame
    * still plans over that RDD, so nothing here outlives its pin. */
  private val counts = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], java.lang.Long])

  private def pinnedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Eager localCheckpoint that keeps its row count: the frame is
    * marked with a lazy `localCheckpoint(false)` and then materialized
    * by ONE `count()` of the pinned RDD — the same single job an
    * eager checkpoint runs (which counts the RDD and discards the
    * answer), so `count` below can answer for the frame without
    * another job. The pinned RDD is registered with this thread's
    * active collector (no-op without one, e.g. when the operator runs
    * as a plain batch query). */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(false)
    pinnedRdd(out) match {
      case Some(rdd) =>
        counts.put(rdd, rdd.count())
        val c = collector.get()
        if (c != null) c.add(Ckpt(rdd))
      case None =>
        // unexpected plan shape: materialize the plain way and leave
        // the pin to gc60
        out.count()
    }
    out
  }

  /** Row count of `df`: the count `checkpoint` stored when `df` is a
    * frame it returned (no job), otherwise `df.count()`. Only the
    * pinned frame itself has a stored count — a frame DERIVED from
    * it (a filter, a join) counts its own rows with a job. */
  def count(df: DataFrame): Long =
    pinnedRdd(df).flatMap(r => Option(counts.get(r))).map(_.longValue)
      .getOrElse(df.count())

  /** Lazy MEMORY_AND_DISK persist registered with this thread's
    * active collector for the end-of-batch reap; WITHOUT a collector
    * the frame is returned untouched (never a leaked cache entry).
    * The plan stays lineage-complete (no LogicalRDD barrier) and
    * nothing materializes until the first consuming action. */
  def persist(df: DataFrame): DataFrame = {
    val c = collector.get()
    if (c == null) df
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      c.add(Cached(df))
      df
    }
  }

  /** Opens a collector on this thread; the caller MUST `stop()` in a
    * finally. Does not nest — one collector per batch body. */
  private[graft] def start(): java.util.ArrayList[Pin] = {
    require(collector.get() == null, "Pins collector does not nest")
    val c = new java.util.ArrayList[Pin]
    collector.set(c)
    c
  }

  private[graft] def stop(): Unit = collector.remove()

  /** Unpersists every pin the batch body registered — called by the
    * sink AFTER `stop()`, outside the collector. Non-blocking: the
    * blocks disappear asynchronously, the handles are dead now. A
    * checkpoint pin is dropped through the SparkContext, not
    * `rdd.unpersist`, which logs a lineage-truncation WARN for every
    * locally checkpointed RDD — seven lines per D16 arrival. */
  private[graft] def reap(pins: java.util.ArrayList[Pin],
                          log: String => Unit = _ => ()): Unit =
    pins.forEach {
      case Ckpt(rdd) =>
        log(s"end-of-batch reap: rdd ${rdd.id} (${rdd.name})")
        org.apache.spark.graft.Listeners.unpersistRDD(rdd.sparkContext, rdd.id)
      case Cached(df) =>
        log("end-of-batch reap: cached demoted tables")
        df.unpersist(blocking = false)
    }
}
