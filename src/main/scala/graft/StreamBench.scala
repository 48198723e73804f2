package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Micro-batch rows fed to the gate sinks (top-level so
  * `Encoders.product` derives its schema). */
case class StreamDoc(doc_id: Long, lang: String, text: String)

/** Streaming-throughput harness (dev tool, SURVEY §6): measures
  * rows/second per MICRO-BATCH for the D-family gate sinks —
  * D9 (decontamination), D10 (near-dup store gate), D13 (DSIR
  * relevance), D15 (trained classifier), plus D16 (the COMPOSED
  * ingest pipeline: the whole ladder in one stream, the number a
  * production ingest actually pays per row) — at three batch sizes
  * (default 500/2000/10000; override via
  * SPARK_GRAFT_STREAM_BATCH_SIZES), so the O(batch) per-arrival
  * claim each sink documents carries a measured curve instead of an
  * argument: per-batch seconds should scale ~linearly with batch
  * size (rows/s roughly constant), and the near-dup gate's
  * per-batch time must stay flat as its persistent store grows —
  * the optional growth phase drives one sink long enough to measure
  * that flatness as a first-10 vs last-10 median ratio.
  *
  * args: `[gate ...] [growth]`. Gate names (`d9_decontamination`,
  * `d10_neardup`, `d13_dsir`, `d15_classifier`, `d16_pipeline`)
  * restrict the per-gate sweep, the way Bench takes query names; no
  * argument runs all five. One growth name adds the growth phase in
  * the shape of the r15 records — 40 arrivals of 2 000 docs onto a
  * store preseeded with 100 000 docs, optionally with an error-page
  * storm of 20 % of each batch (one 60-token template) — and, given
  * alone, skips the sweep:
  *
  *  - `d10_growth`: the D10 gate (`records/streambench_d10_growth_ctl_r15.json`);
  *  - `d10_growth_storm`: D10 under the storm
  *    (`records/streambench_d10_growth_storm_r15.json`);
  *  - `d16_growth`: the composed D16 ladder (no r15 record);
  *  - `d16_growth_storm`: D16 under the storm
  *    (`records/streambench_d16_growth_storm_r15.json`).
  *
  * Those records also swept `d10_neardup` at 500 docs with one
  * measured batch; the sweep measures 6.
  *
  * Batch texts come from the sf dir's `documents` table with every
  * whitespace token PREFIXED per (gate, batch) — the ScaleGen
  * disjoint-vocabulary trick — so (a) every fed doc is globally
  * unique (D10 survivors are real, the store grows honestly) and
  * (b) no fed doc collides with the frozen eval/model tables, which
  * keeps the measured work the gate's own join/score/merge cost.
  * Model training (frozen by contract for all four sinks) is NOT
  * measured.
  *
  * One JSON line to stdout + SPARK_GRAFT_STREAMBENCH_OUT (default
  * streambench_out.json): per gate × batch size, the per-batch
  * seconds (first measured batch can still carry residual JIT; a
  * same-size warmup batch runs unmeasured first), the median rows/s
  * and `landed_rows`, the corpus rows the run landed (warmup batch
  * included); with a growth argument, its per-batch seconds, max
  * task and `landed_rows` under `d10_growth` (the key the r15
  * records use for both gates). Each run's temp dir (corpus, store,
  * checkpoint) is deleted once its rows are counted.
  */
object StreamBench {
  /** Median of a non-empty sample: the middle value, or the mean of
    * the two middle values for an even count (the default 6 batches
    * and the first-10/last-10 windows are even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Measured batches per (gate, batch size), after one warmup. */
  private val NBatches = 6

  private val GateNames =
    Seq("d9_decontamination", "d10_neardup", "d13_dsir", "d15_classifier", "d16_pipeline")

  // the growth phase's r15 shape (see the object doc)
  private val GrowthBatches = 40
  private val GrowthSize = 2000
  private val GrowthPreseed = 100000
  private val StormTokens = 60

  /** Growth argument → (sink, storm fraction of each batch). */
  private val Growths: Map[String, (String, Double)] = Map(
    "d10_growth" -> ("d10", 0.0), "d10_growth_storm" -> ("d10", 0.2),
    "d16_growth" -> ("d16", 0.0), "d16_growth_storm" -> ("d16", 0.2))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "streambench_out.json")
    val batchSizes = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH_SIZES", "500,2000,10000")
      .split(",").map(_.trim.toInt).toSeq
    val unknown = args.filterNot(a => GateNames.contains(a) || Growths.contains(a))
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(", ")} — gates: " +
      s"${GateNames.mkString(", ")}; growth: ${Growths.keys.toSeq.sorted.mkString(", ")}")
    val growthArgs = args.filter(Growths.contains).toSeq
    require(growthArgs.size <= 1, s"at most one growth argument, got ${growthArgs.mkString(", ")}")
    val growthArg = growthArgs.headOption
    val selectedGates = if (args.isEmpty) GateNames else args.filter(GateNames.contains).toSeq
    // which sink the growth phase drives: "d10" (the near-dup gate
    // alone — the store-cost microbench) or "d16" (the WHOLE composed
    // ingest ladder, near-dup stage included — measures whether the
    // ladder inherits the gate's flat-arrival/storm behavior instead
    // of assuming it composes)
    val (growthGate, stormFrac) = growthArg.fold(("d10", 0.0))(Growths)
    // ERROR-PAGE STORM plant (round 14, the streaming twin of the
    // batch skew corpus's replace mode, SURVEY §6 round 13): this
    // fraction of every growth batch is ONE identical template text
    // (vocab disjoint from the pool's prefixed tokens), the crawl
    // regime where a frontier keeps emitting the same error page /
    // cookie wall. Identical text ⟹
    // identical signature ⟹ every storm doc collides on every band
    // key with every stored storm doc — the exact-dup-cluster regime
    // the batch skew program measured on C3 (SURVEY §6 r13), now
    // aimed at the gate's per-arrival cost at a grown store.
    val cpus = GraftSession.cpus
    val spark = GraftSession.build()

    // source material: (lang, text) pool, driver-side (bench tool —
    // bounded by the sf documents table, reused cyclically)
    val pool = Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(pool.nonEmpty, s"no documents in $sfDir")

    // frozen gate models, trained once (excluded from timings):
    val docsT = Tables.load(spark, sfDir, "documents")
    val evalGrams = operators.Contamination.evalGramSet(
        docsT.filter(col("doc_id") % 100 === 0), col("doc_id"),
        lower(col("text")), 3)
      .localCheckpoint(true)
    val dsir0 = operators.Dsir.train(
      docsT.filter(col("lang") === "en"), docsT, col("doc_id"), lower(col("text")))
    val dsirModel = dsir0.copy(table = dsir0.table.localCheckpoint(true))
    val clf0 = operators.Classifier.train(
      docsT.filter(col("doc_id") % 10 === 1), docsT.filter(col("doc_id") % 10 === 2),
      col("doc_id"), col("text"))
    val clfModel = clf0.copy(table = clf0.table.localCheckpoint(true))
    val lm0 = operators.LangModel.train(docsT, lower(col("text")))
    val lmModel = lm0.copy(table = lm0.table.localCheckpoint(true))
    // D16 composed-ladder config: permissive cutoffs so (nearly) every
    // doc flows through EVERY stage — the measurement is the ladder's
    // full compute cost per row, not its selectivity
    val pipelineCfg = streaming.EventStream.IngestPipeline(
      minQuality = -1e9,
      lm = Some((lmModel, 1e9)),
      clf = Some((clfModel, -1e9)),
      dsir = Some((dsirModel, -1000.0)),
      decon = Some((evalGrams, 3, 0L)),
      nearDup = true,
      // the LM/DSIR models and the eval grams above train on
      // lower(text); the classifier on raw text — score each stage
      // on the transform its model saw (the IngestPipeline contract)
      lmText = lower, dsirText = lower, deconText = lower)

    /** rows for micro-batch `k` of `size` docs: unique ids, every
      * token prefixed with the (gate, batch) tag. */
    def mkBatch(tag: String, k: Int, size: Int): Seq[StreamDoc] =
      (0 until size).map { i =>
        val (lang, text) = pool((k * size + i) % pool.length)
        val pfx = s"$tag${k}·"
        StreamDoc(k.toLong * size + i, lang,
          text.split("\\s+").filter(_.nonEmpty).map(pfx + _).mkString(" "))
      }

    /** growth-phase batch with the storm plant applied: the first
      * ⌈size·stormFrac⌉ docs carry the SAME fixed template text in
      * every batch (ids stay globally unique — a crawler assigns
      * fresh ids to re-fetched error pages). */
    val stormText = (0 until StormTokens).map(i => s"storm·$i").mkString(" ")
    def mkGrowthBatch(tag: String, k: Int, size: Int): Seq[StreamDoc] = {
      val base = mkBatch(tag, k, size)
      if (stormFrac <= 0) base
      else {
        val nStorm = math.min(size, math.ceil(size * stormFrac).toInt)
        base.zipWithIndex.map { case (d, i) =>
          if (i < nStorm) d.copy(text = stormText) else d
        }
      }
    }

    /** Rows of the corpus a run landed under `dir` (0 when nothing
      * landed), read after its query stopped — outside every timer. */
    def landedRows(dir: String): Long =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "corpus")))
        spark.read.parquet(s"$dir/corpus").count()
      else 0L

    /** Deletes a run's temp dir (corpus, store, checkpoint). */
    def deleteTree(dir: String): Unit = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }

    /** drive one (gate, batchSize) run: warmup batch 0 (unmeasured),
      * then `NBatches` measured batches. Returns (per-batch seconds,
      * per-batch addData seconds — bounding processing in
      * [sec − add, sec], the sinks' per-stage samples when
      * GRAFT_SINK_PROFILE=1 — the committed-record twin of the stderr
      * attribution lines — and the landed corpus row count). */
    def run(gate: String, size: Int,
            start: (DataFrame, String) => StreamingQuery)
      : (Seq[Double], Seq[Double], Seq[streaming.SinkProfile.Sample], Long) = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-sb-$gate-$size").toString
      val input = MemoryStream[StreamDoc](spark)(Encoders.product[StreamDoc])
      val q = start(input.toDF(), dir)
      try {
        input.addData(mkBatch(s"${gate}s${size}w", 0, size): _*)
        q.processAllAvailable() // warmup: codegen + sink setup
        streaming.SinkProfile.reset() // measured batches only
        val rows = (1 to NBatches).map { k =>
          // t0 BEFORE addData: the query runs continuously and can
          // start processing the moment addData commits, so a timer
          // started after it would both exclude the producer's cost
          // and miss that head start. The stderr line reports the
          // addData time alone, so processing is bounded in
          // [sec − add, sec].
          val t0 = System.nanoTime()
          input.addData(mkBatch(s"${gate}s$size", k, size): _*)
          val aSec = (System.nanoTime() - t0) / 1e9
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[streambench] $gate size=$size batch $k%2d: " +
            f"$sec%.3f s total (addData $aSec%.3f s)")
          (sec, aSec)
        }
        val stages = streaming.SinkProfile.snapshot()
        q.stop()
        (rows.map(_._1), rows.map(_._2), stages, landedRows(dir))
      } finally { q.stop(); deleteTree(dir) }
    }

    val gates: Map[String, (DataFrame, String) => StreamingQuery] = Map(
      "d9_decontamination" -> ((in, dir) =>
        streaming.EventStream.decontaminationSink(in, evalGrams, "doc_id",
          lower(col("text")), n = 3, maxShared = 0, dir + "/corpus", "lang", dir + "/ckpt")),
      "d10_neardup" -> ((in, dir) =>
        streaming.EventStream.nearDupGateSink(in, "doc_id", col("text"),
          dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")),
      "d13_dsir" -> ((in, dir) =>
        streaming.EventStream.dsirGateSink(in, "doc_id", lower(col("text")),
          dsirModel, minLogw = -1000.0, dir + "/corpus", "lang", dir + "/ckpt")),
      "d15_classifier" -> ((in, dir) =>
        streaming.EventStream.classifierGateSink(in, "doc_id", col("text"),
          clfModel, cutoff = -1e9, dir + "/corpus", "lang", dir + "/ckpt")),
      // D16: the realistic number — one stream through the WHOLE
      // ladder (quality+scrub → LM → classifier → DSIR → decon →
      // near-dup store gate), one corpus landing
      "d16_pipeline" -> ((in, dir) =>
        streaming.EventStream.ingestPipelineSink(in, "doc_id", col("text"),
          pipelineCfg, dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")))

    // JSON numbers must be locale-independent: the f"" interpolator
    // renders %.3f with the JVM default locale, so a comma-decimal
    // default (de_DE, fr_FR, …) would emit 4,123 and invalidate the
    // record — format every JSON field through Locale.ROOT (stderr
    // traces are human logs and may stay locale-formatted)
    def j(v: Double, digits: Int = 3): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val results = for (gate <- selectedGates; size <- batchSizes) yield {
      val (secs, feedSecs, stages, landed) = run(gate, size, gates(gate))
      val med = median(secs)
      System.err.println(f"[streambench] $gate size=$size med=$med%.3f s " +
        f"(${size / med}%.0f rows/s) landed=$landed secs=${secs.map(s => f"$s%.3f").mkString(",")}")
      (gate, size, secs, med, feedSecs, stages, landed)
    }
    // Store growth: per-batch seconds over a LONG run (store and
    // corpus grow by one batch dir each arrival; the claim under test
    // is that per-batch time stays flat as both grow). A storm
    // argument measures the error-page-storm regime, and the
    // per-batch MAX TASK (straggler) is recorded beside the wall
    // seconds — the evidence separating "one hot band key holds the
    // arrival" (salting territory) from "distributed candidate volume
    // grows" (dedup-the-store territory).
    val growth: Option[(Seq[Double], Seq[Double], Long)] = growthArg.map { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft-sb-growth").toString
      // per-batch straggler attribution (the max-task anatomy of
      // `records/skewbench_*_r13.json`, trimmed): duration + shuffle
      // read/records of the longest task
      case class MaxTask(ms: Long, stage: Int, shufRMb: Double, recordsR: Long)
      val mtLock = new Object
      @volatile var maxTask = MaxTask(0, -1, 0, 0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) mtLock.synchronized {
            if (t.taskInfo.duration > maxTask.ms) maxTask = MaxTask(
              t.taskInfo.duration, t.stageId,
              m.shuffleReadMetrics.totalBytesRead / 1e6,
              m.shuffleReadMetrics.recordsRead)
          }
        }
      })
      // preseed the signature store (indexed layout) BEFORE the run,
      // so the flat-arrival claim is tested against a store that
      // dwarfs the arrivals, not one the run itself built. Seed ids
      // start at 10⁹ and the seed vocabulary is prefixed apart from
      // the growth batches', so nothing collides with the stream.
      import spark.implicits._
      val seed = (0 until GrowthPreseed).map { i =>
        val (lang, text) = pool(i % pool.length)
        StreamDoc(1000000000L + i, lang,
          text.split("\\s+").filter(_.nonEmpty).map("seed0·" + _).mkString(" "))
      }.toDF()
      streaming.EventStream.nearDupStoreSeed(seed, "doc_id", col("text"), s"$dir/store")
      System.err.println(s"[streambench] $growthGate growth preseeded store with $GrowthPreseed docs")
      val input = MemoryStream[StreamDoc](spark)(Encoders.product[StreamDoc])
      val q =
        if (growthGate == "d16")
          streaming.EventStream.ingestPipelineSink(input.toDF(), "doc_id", col("text"),
            pipelineCfg, dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
        else
          streaming.EventStream.nearDupGateSink(input.toDF(), "doc_id", col("text"),
            dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
      try {
        input.addData(mkGrowthBatch("growthw", 0, GrowthSize): _*)
        q.processAllAvailable()
        val rows = (1 to GrowthBatches).map { k =>
          mtLock.synchronized { maxTask = MaxTask(0, -1, 0, 0) }
          // t0 before the feed — the same honest-timer rule as the
          // gate runs above
          val t0 = System.nanoTime()
          input.addData(mkGrowthBatch("growth", k, GrowthSize): _*)
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          org.apache.spark.graft.Listeners.settle(spark.sparkContext)
          val mt = mtLock.synchronized(maxTask)
          // per-batch trace: the medians hide the per-batch curve
          System.err.println(f"[streambench] $growthGate growth batch $k%3d: $sec%.3f s " +
            f"max task ${mt.ms / 1e3}%.3f s (stage ${mt.stage} " +
            f"shuf_r=${mt.shufRMb}%.1f MB ${mt.recordsR} rec)")
          (sec, mt.ms / 1e3)
        }
        val secs = rows.map(_._1)
        val head = median(secs.take(10)); val tail = median(secs.takeRight(10))
        System.err.println(f"[streambench] $growthGate growth n=$GrowthBatches size=$GrowthSize " +
          f"stormFrac=$stormFrac first10med=$head%.3f s " +
          f"last10med=$tail%.3f s ratio=${tail / head}%.2f")
        q.stop()
        (secs, rows.map(_._2), landedRows(dir))
      } finally { q.stop(); deleteTree(dir) }
    }
    val json = results.groupBy(_._1).toSeq.sortBy(_._1).map { case (gate, rs) =>
      val per = rs.sortBy(_._2).map { case (_, size, secs, med, feedSecs, stages, landed) =>
        // per-stage aggregation (GRAFT_SINK_PROFILE=1 only): one
        // sample per measured batch per stage → median + the raw
        // samples (seconds and Spark jobs), so a cited per-stage
        // table traces to this record
        val stageJson =
          if (stages.isEmpty) ""
          else stages.groupBy(_.stage).toSeq.sortBy(_._1).map { case (st, ss) =>
            val vals = ss.map(_.sec)
            s""""$st":{"median_sec":${j(median(vals))},""" +
              s""""secs":[${vals.map(j(_)).mkString(",")}],""" +
              s""""jobs":[${ss.map(_.jobs).mkString(",")}]}"""
          }.mkString(""","stages":{""", ",", "}")
        s""""batch_$size":{"secs":[${secs.map(j(_)).mkString(",")}],""" +
          s""""feed_secs":[${feedSecs.map(j(_)).mkString(",")}],""" +
          s""""median_sec":${j(med)},"rows_per_sec":${j(size / med, 0)},""" +
          s""""landed_rows":$landed$stageJson}"""
      }.mkString(",")
      s""""$gate":{$per}"""
    }.mkString(",")
    // `compact_every`, `preseed` and `source` are fixed; they stay in
    // the record so it carries every field of the r15 growth records
    val growthJson = growth.map { case (secs, maxTaskSecs, landed) =>
      val head = median(secs.take(10)); val tail = median(secs.takeRight(10))
      s""","d10_growth":{"arg":"${growthArg.get}","gate":"$growthGate",""" +
        s""""n":$GrowthBatches,"size":$GrowthSize,"compact_every":0,"preseed":$GrowthPreseed,""" +
        s""""storm_frac":${j(stormFrac, 2)},"storm_tokens":$StormTokens,""" +
        s""""first10_median_sec":${j(head)},"last10_median_sec":${j(tail)},""" +
        s""""ratio":${j(tail / head, 2)},"landed_rows":$landed,""" +
        s""""secs":[${secs.map(j(_)).mkString(",")}],""" +
        s""""max_task_secs":[${maxTaskSecs.map(j(_)).mkString(",")}]}"""
    }.getOrElse("")
    // gate demotions are a silent plan-shape change inside a sink —
    // surface the process-wide count in the record (0 on every healthy
    // run: StreamBench batches are micro by construction)
    val line = s"""{"gates":{$json}$growthJson,"n_batches":$NBatches,""" +
      s""""gate_demotions":${operators.Incremental.demotions.sum()},""" +
      s""""source":"memory","sf":"$sfDir","cpus":"$cpus"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[streambench] $outPath not written: $e") }
    spark.stop()
    println(line)
  }
}
