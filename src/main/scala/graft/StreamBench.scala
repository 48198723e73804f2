package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
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
  * size (rows/s roughly constant), and D10's per-batch time must
  * stay flat as its persistent store grows — the optional growth
  * phase (SPARK_GRAFT_STREAM_GROWTH_BATCHES=100+) drives D10 alone
  * long enough to measure that flatness as a first-10 vs last-10
  * median ratio.
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
  * same-size warmup batch runs unmeasured first) and the median
  * rows/s.
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "streambench_out.json")
    val batchSizes = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH_SIZES", "500,2000,10000")
      .split(",").map(_.trim.toInt).toSeq
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "6").toInt
    // optional store-growth phase: drive D10 alone for this many extra
    // batches at a fixed size, recording the per-batch time TREND —
    // the flat-store-cost claim needs a long run, not 6 batches
    val growthBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_GROWTH_BATCHES", "0").toInt
    val growthSize = sys.env.getOrElse("SPARK_GRAFT_STREAM_GROWTH_SIZE", "500").toInt
    // 0 = never; N = run store + corpus compaction between arrivals
    // every N batches (outside the per-batch timers) — measures
    // whether the documented compaction lever flattens the growth
    // curve the plain run exposes
    val compactEvery = sys.env.getOrElse("SPARK_GRAFT_STREAM_GROWTH_COMPACT_EVERY", "0").toInt
    // 0 = cold store; N = pre-populate the signature store with N
    // docs (indexed layout, compacted) BEFORE the growth run, so the
    // flat-arrival claim is tested against a store that dwarfs the
    // arrivals, not one the run itself built
    val preseed = sys.env.getOrElse("SPARK_GRAFT_STREAM_GROWTH_PRESEED", "0").toInt
    // which sink the growth phase drives: "d10" (the near-dup gate
    // alone — the store-cost microbench) or "d16" (the WHOLE composed
    // ingest ladder, near-dup stage included — measures whether the
    // ladder inherits the gate's flat-arrival/storm behavior instead
    // of assuming it composes)
    val growthGate = sys.env.getOrElse("SPARK_GRAFT_STREAM_GROWTH_GATE", "d10")
    require(Set("d10", "d16")(growthGate),
      s"SPARK_GRAFT_STREAM_GROWTH_GATE must be d10 or d16, got '$growthGate'")
    // ERROR-PAGE STORM plant (round 14, the streaming twin of
    // SkewGen's replace mode): this fraction of every growth batch is
    // ONE identical template text (vocab disjoint from the pool's
    // prefixed tokens), the crawl regime where a frontier keeps
    // emitting the same error page / cookie wall. Identical text ⟹
    // identical signature ⟹ every storm doc collides on every band
    // key with every stored storm doc — the exact-dup-cluster regime
    // the batch skew program measured on C3 (SURVEY §6 r13), now
    // aimed at the D10 gate's per-arrival cost at a grown store.
    val stormFrac = sys.env.getOrElse("SPARK_GRAFT_STREAM_STORM_FRAC", "0").toDouble
    val stormTokens = sys.env.getOrElse("SPARK_GRAFT_STREAM_STORM_TOKENS", "60").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      // sort-based shuffle writer (see Bench's builder: M files, not M×R)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "1"))
      // dead-localCheckpoint-block disk guard (see Bench's builder;
      // the sinks also unpersist their own batch pins — this bounds
      // whatever broadcast/shuffle state the cleaner still owns)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // c40's proven-bounded unpartitioned window: see EngineLog
    EngineLog.silenceProvenBoundedWindowWarn()

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
    val stormText = (0 until stormTokens).map(i => s"storm·$i").mkString(" ")
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

    // SPARK_GRAFT_STREAM_SOURCE=file swaps the MemoryStream for a
    // parquet FILE stream whose every batch arrives PRE-PARTITIONED
    // into SPARK_GRAFT_STREAM_SOURCE_FILES files (default 32) — the
    // round-11 open question's experiment: a MemoryStream delivers a
    // whole batch as ONE block, so the sinks' spread() repartition
    // pays a single-task deserialize+shuffle-write before any kernel
    // runs; a Kafka topic with 32 partitions (or a spooled file drop)
    // never has that stage. Batch-write time (the producer's cost) is
    // INSIDE the timer (reported separately on stderr) — the query
    // runs continuously, so any timer started after the write returns
    // would let processing begin before t0 and undercount; file
    // listing + scan is inside too, as it would be in production.
    val sourceMode = sys.env.getOrElse("SPARK_GRAFT_STREAM_SOURCE", "memory")
    val sourceFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_SOURCE_FILES", "32").toInt

    /** drive one (gate, batchSize) run: warmup batch 0 (unmeasured),
      * then `nBatches` measured batches. Returns (per-batch seconds,
      * per-batch producer seconds — file write or addData, bounding
      * processing in [sec − feed, sec], and the sinks' per-stage
      * samples when GRAFT_SINK_PROFILE=1 — the committed-record twin
      * of the stderr attribution lines). */
    def run(gate: String, size: Int,
            start: (DataFrame, String) => StreamingQuery)
      : (Seq[Double], Seq[Double], Seq[streaming.SinkProfile.Sample]) =
      if (sourceMode == "file") {
        val dir = java.nio.file.Files.createTempDirectory(s"graft-sb-$gate-$size").toString
        val spool = dir + "/spool"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(spool))
        // write each batch to a per-batch STAGING dir, then ONE atomic
        // directory rename into the glob-monitored spool: the running
        // query lists the spool continuously, and anything less than a
        // single rename gets listed MID-COMMIT — the batch splits
        // across two micro-batches, each paying the sink ladder's
        // fixed cost (measured: direct multi-file writes split ~4 of 6
        // arrivals, medians 12 → 21 s of double-ladder noise; even a
        // per-FILE rename loop still split 1 of 7). This is the
        // documented file-source recipe (files must appear atomically;
        // for multi-file batches, rename a whole directory into the
        // glob scope) and the honest analogue of a Kafka topic
        // delivering a produced batch.
        def feed(tag: String, k: Int): Unit = {
          val stage = s"$dir/stage-$tag-$k"
          spark.createDataset(mkBatch(tag, k, size))(Encoders.product[StreamDoc])
            .repartition(sourceFiles).write.mode("overwrite").parquet(stage)
          java.nio.file.Files.move(
            java.nio.file.Paths.get(stage),
            java.nio.file.Paths.get(s"$spool/b-$tag-$k"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        feed(s"${gate}s${size}w", 0) // the path must exist before readStream plans
        val src = spark.readStream
          .schema(Encoders.product[StreamDoc].schema).parquet(s"$spool/*")
        val q = start(src, dir)
        try {
          q.processAllAvailable() // warmup batch = the pre-written spool files
          streaming.SinkProfile.reset() // measured batches only
          val rows = (1 to nBatches).map { k =>
            // t0 BEFORE feed(): the query runs continuously, so it can
            // list and start processing batch k's files the moment the
            // producer commits them — a timer started after feed()
            // returns misses that head start and undercounts vs the
            // memory mode (ADVICE r12). The measured second therefore
            // INCLUDES the producer write; the stderr line reports the
            // write alone so processing is bounded in [sec−write, sec].
            val t0 = System.nanoTime()
            feed(s"${gate}s$size", k)
            val wSec = (System.nanoTime() - t0) / 1e9
            q.processAllAvailable()
            val sec = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[streambench] $gate size=$size batch $k%2d: " +
              f"$sec%.3f s total (feed write $wSec%.3f s)")
            (sec, wSec)
          }
          (rows.map(_._1), rows.map(_._2), streaming.SinkProfile.snapshot())
        } finally q.stop()
      } else {
        val dir = java.nio.file.Files.createTempDirectory(s"graft-sb-$gate-$size").toString
        val input = MemoryStream[StreamDoc](spark)(Encoders.product[StreamDoc])
        val q = start(input.toDF(), dir)
        try {
          input.addData(mkBatch(s"${gate}s${size}w", 0, size): _*)
          q.processAllAvailable() // warmup: codegen + sink setup
          streaming.SinkProfile.reset() // measured batches only
          val rows = (1 to nBatches).map { k =>
            // t0 BEFORE addData, symmetrical with the file mode's
            // t0-before-feed (ADVICE r13): the query runs continuously
            // and can start processing the moment addData commits, so
            // a timer started after it would both exclude the
            // producer's cost and miss that head start. The stderr
            // line reports the addData time alone, so processing is
            // bounded in [sec − add, sec] exactly like file mode.
            val t0 = System.nanoTime()
            input.addData(mkBatch(s"${gate}s$size", k, size): _*)
            val aSec = (System.nanoTime() - t0) / 1e9
            q.processAllAvailable()
            val sec = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[streambench] $gate size=$size batch $k%2d: " +
              f"$sec%.3f s total (addData $aSec%.3f s)")
            (sec, aSec)
          }
          (rows.map(_._1), rows.map(_._2), streaming.SinkProfile.snapshot())
        } finally q.stop()
      }

    val gates: Seq[(String, (DataFrame, String) => StreamingQuery)] = Seq(
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
    // optional comma-separated gate-name filter (local profiling —
    // a full-gate run takes tens of minutes at the larger sizes)
    val gateFilter = sys.env.get("SPARK_GRAFT_STREAM_GATES")
      .map(_.split(",").map(_.trim).toSet)
    val selected = gateFilter.fold(gates)(f => gates.filter(g => f(g._1)))
    // a filter matching nothing (e.g. SPARK_GRAFT_STREAM_GATES=none)
    // is allowed when a dedicated phase below runs instead — that is
    // how a growth- or two-sink-only probe skips the per-gate sweep
    require(selected.nonEmpty || growthBatches > 0 ||
      sys.env.getOrElse("SPARK_GRAFT_STREAM_TWO_SINK", "0").toInt > 0,
      s"SPARK_GRAFT_STREAM_GATES matched nothing in ${gates.map(_._1).mkString(",")}")
    val results = for ((gate, start) <- selected; size <- batchSizes) yield {
      val (secs, feedSecs, stages) = run(gate, size, start)
      val med = median(secs)
      System.err.println(f"[streambench] $gate size=$size med=$med%.3f s " +
        f"(${size / med}%.0f rows/s) secs=${secs.map(s => f"$s%.3f").mkString(",")}")
      (gate, size, secs, med, feedSecs, stages)
    }
    // D10 store growth: per-batch seconds over a LONG run (store and
    // corpus grow by one batch dir each arrival; the claim under test
    // is that per-batch time stays flat as both grow). With
    // SPARK_GRAFT_STREAM_STORM_FRAC > 0 the same harness measures the
    // error-page-storm regime, and the per-batch MAX TASK (straggler)
    // is recorded beside the wall seconds — the evidence separating
    // "one hot band key holds the arrival" (salting territory) from
    // "distributed candidate volume grows" (dedup-the-store territory).
    val growth: Option[(Seq[Double], Seq[Double])] = if (growthBatches > 0) Some {
      val dir = java.nio.file.Files.createTempDirectory("graft-sb-growth").toString
      // per-batch straggler attribution (the SkewBench anatomy,
      // trimmed): duration + shuffle read/records of the longest task
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
      if (preseed > 0) {
        // seed dirs land at ids ≥ 1,000,000 (disjoint vocab per the
        // usual construction), then compact into one clustered
        // batch=-1 dir — no id can collide with the stream's 0,1,…
        val chunk = 250000
        var written = 0; var k = 0
        while (written < preseed) {
          val n = math.min(chunk, preseed - written)
          import spark.implicits._
          // ids offset to 10⁹ so they can never collide with stream
          // doc ids; vocab prefix disjoint from the growth batches'
          val seed = (0 until n).map { i =>
            val (lang, text) = pool((k * chunk + i) % pool.length)
            StreamDoc(1000000000L + k.toLong * chunk + i, lang,
              text.split("\\s+").filter(_.nonEmpty)
                .map(s"seed${k}·" + _).mkString(" "))
          }.toDF()
          val (b, s) = operators.Incremental.signatures(
            seed, col("doc_id"), col("text"))
          // preseed chunks are 250k docs (~1M band rows) — setup, not
          // a per-arrival path: the distributed write+sidecar shape
          // beats single-task writeSmall here
          sources.Indexed.write(b,
            s"$dir/store/bands/batch=${1000000 + k}", "bk", 8)
          sources.Indexed.write(s,
            s"$dir/store/sets/batch=${1000000 + k}", "id", 8, pageRows = 128)
          written += n; k += 1
        }
        streaming.EventStream.nearDupStoreCompact(spark, s"$dir/store", 2000000L)
        System.err.println(s"[streambench] d10 growth preseeded store with $preseed docs")
      }
      // the growth phase honors SPARK_GRAFT_STREAM_SOURCE too (round
      // 16): the MemoryStream's single-block delivery puts a
      // single-task spread() stage in front of every arrival — a
      // documented harness artifact — and the storm/ladder curves
      // should be measurable without it, exactly like the per-gate
      // runs above (same staged-dir atomic-rename recipe)
      val (srcDf, feed): (DataFrame, (String, Int) => Unit) =
        if (sourceMode == "file") {
          val spool = dir + "/spool"
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(spool))
          def f(tag: String, k: Int): Unit = {
            val stage = s"$dir/stage-$tag-$k"
            spark.createDataset(mkGrowthBatch(tag, k, growthSize))(
                Encoders.product[StreamDoc])
              .repartition(sourceFiles).write.mode("overwrite").parquet(stage)
            java.nio.file.Files.move(
              java.nio.file.Paths.get(stage),
              java.nio.file.Paths.get(s"$spool/b-$tag-$k"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          f("growthw", 0) // the path must exist before readStream plans
          (spark.readStream.schema(Encoders.product[StreamDoc].schema)
            .parquet(s"$spool/*"), f _)
        } else {
          val input = MemoryStream[StreamDoc](spark)(Encoders.product[StreamDoc])
          ((input.toDF(), (tag: String, k: Int) => {
            input.addData(mkGrowthBatch(tag, k, growthSize): _*); ()
          }))
        }
      val q =
        if (growthGate == "d16")
          streaming.EventStream.ingestPipelineSink(srcDf, "doc_id", col("text"),
            pipelineCfg, dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
        else
          streaming.EventStream.nearDupGateSink(srcDf, "doc_id", col("text"),
            dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
      try {
        if (sourceMode != "file") feed("growthw", 0) // file mode pre-fed the spool
        q.processAllAvailable()
        val rows = (1 to growthBatches).map { k =>
          if (compactEvery > 0 && k % compactEvery == 0) {
            // between arrivals per the single-writer contract; the
            // compaction cost itself is deliberately OUTSIDE the
            // per-batch timer (it amortizes over compactEvery batches
            // and would run on a maintenance schedule in production)
            // watermark = newest committed batch id (k-1): the
            // documented "only the newest batch can replay" rule
            streaming.EventStream.nearDupStoreCompact(spark, dir + "/store", (k - 1).toLong)
            streaming.EventStream.ingestCorpusCompact(spark, dir + "/corpus", "lang", (k - 1).toLong)
          }
          mtLock.synchronized { maxTask = MaxTask(0, -1, 0, 0) }
          // t0 before the feed — the same honest-timer rule as the
          // gate runs above (addData for a growth-sized batch is
          // milliseconds; a file feed's write is inside the timer
          // like the per-gate file runs)
          val t0 = System.nanoTime()
          feed("growth", k)
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          org.apache.spark.graft.Listeners.settle(spark.sparkContext)
          val mt = mtLock.synchronized(maxTask)
          // per-batch trace: the medians hide the compaction sawtooth
          // (arrival cost tracks UNCOMPACTED DIR COUNT, not store
          // size — the curve is the evidence)
          System.err.println(f"[streambench] d10 growth batch $k%3d: $sec%.3f s " +
            f"max task ${mt.ms / 1e3}%.3f s (stage ${mt.stage} " +
            f"shuf_r=${mt.shufRMb}%.1f MB ${mt.recordsR} rec)")
          (sec, mt.ms / 1e3)
        }
        val secs = rows.map(_._1)
        val head = median(secs.take(10)); val tail = median(secs.takeRight(10))
        System.err.println(f"[streambench] d10 growth n=$growthBatches size=$growthSize " +
          f"compactEvery=$compactEvery stormFrac=$stormFrac first10med=$head%.3f s " +
          f"last10med=$tail%.3f s ratio=${tail / head}%.2f")
        (secs, rows.map(_._2))
      } finally q.stop()
    } else None
    // TWO-SINK DISK-HYGIENE PROBE (round 17): two concurrent D10
    // gates in ONE session for N arrival pairs. The probe's first run
    // KILLED the r14-r16 reap design — sink A's global
    // getPersistentRDDs diff caught sink B's in-flight pins and
    // reaped them (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on pair 4), and
    // the r16 active-query guard never engaged because foreachBatch
    // sessions are per-query clones whose StreamingQueryManager does
    // not see siblings. Under the replacement (operators.Pins
    // recorded ownership) the probe verifies the fixed contract:
    // both sinks run to completion, each reaping only its own pins;
    // the pre-existing model pins survive; and the BlockManager
    // local-dir bytes (ground truth — dead blocks included) stay
    // bounded, not a monotone drift. Per pair: wall seconds, LIVE
    // persisted storage (registry view), block-dir MB.
    val twoSink = sys.env.getOrElse("SPARK_GRAFT_STREAM_TWO_SINK", "0").toInt
    val twoSinkJson = if (twoSink > 0) {
      val dir = java.nio.file.Files.createTempDirectory("graft-sb-twosink").toString
      def mkIn() = MemoryStream[StreamDoc](spark)(Encoders.product[StreamDoc])
      val (inA, inB) = (mkIn(), mkIn())
      def sink(in: DataFrame, tag: String) =
        streaming.EventStream.nearDupGateSink(in, "doc_id", col("text"),
          s"$dir/store$tag", s"$dir/corpus$tag", "lang", s"$dir/ckpt$tag")
      val qA = sink(inA.toDF(), "A")
      val qB = sink(inB.toDF(), "B")
      try {
        // warmup pair (codegen + sink setup; unmeasured). Both queries
        // stay active for the whole probe, so every batch's reap runs
        // with a sibling's pins in flight — the exact interleaving
        // that killed the global-diff design.
        inA.addData(mkBatch("tsAw", 0, growthSize): _*); qA.processAllAvailable()
        inB.addData(mkBatch("tsBw", 0, growthSize): _*); qB.processAllAvailable()
        val sc = spark.sparkContext
        // the frozen model tables pinned at startup must survive every
        // reap of the run — they are exactly the "pre-existing pins"
        // the ownership contract protects
        val modelPins = sc.getPersistentRDDs.keySet
        val rows = (1 to twoSink).map { k =>
          val t0 = System.nanoTime()
          inA.addData(mkBatch("tsA", k, growthSize): _*)
          inB.addData(mkBatch("tsB", k, growthSize): _*)
          qA.processAllAvailable(); qB.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          org.apache.spark.graft.Listeners.settle(sc)
          val infos = sc.getRDDStorageInfo
          val liveMb = (infos.map(_.memSize).sum + infos.map(_.diskSize).sum) / 1e6
          val duMb = org.apache.spark.graft.Listeners.blockManagerDiskBytes(sc) / 1e6
          System.err.println(f"[streambench] two-sink pair $k%3d: $sec%.3f s " +
            f"live=${liveMb}%.1f MB rdds=${infos.length} blockdir=${duMb}%.1f MB")
          (sec, liveMb, duMb, infos.length)
        }
        val survived = modelPins.subsetOf(sc.getPersistentRDDs.keySet)
        require(survived,
          "two-sink probe: a pre-existing model pin was reaped — ownership contract broken")
        val duHead = median(rows.take(10).map(_._3))
        val duTail = median(rows.takeRight(10).map(_._3))
        System.err.println(f"[streambench] two-sink n=$twoSink size=$growthSize " +
          f"model_pins=${modelPins.size} survived=$survived blockdir " +
          f"first10med=$duHead%.1f MB last10med=$duTail%.1f MB " +
          f"ratio=${duTail / math.max(duHead, 1e-9)}%.2f")
        s""","two_sink":{"n":$twoSink,"size":$growthSize,""" +
          s""""model_pins":${modelPins.size},"model_pins_survived":$survived,""" +
          s""""secs":[${rows.map(r => j(r._1)).mkString(",")}],""" +
          s""""live_storage_mb":[${rows.map(r => j(r._2, 1)).mkString(",")}],""" +
          s""""blockdir_mb":[${rows.map(r => j(r._3, 1)).mkString(",")}],""" +
          s""""rdds":[${rows.map(_._4).mkString(",")}],""" +
          s""""blockdir_first10_median_mb":${j(duHead, 1)},""" +
          s""""blockdir_last10_median_mb":${j(duTail, 1)},""" +
          s""""blockdir_ratio":${j(duTail / math.max(duHead, 1e-9), 2)}}"""
      } finally { qA.stop(); qB.stop() }
    } else ""
    val json = results.groupBy(_._1).toSeq.sortBy(_._1).map { case (gate, rs) =>
      val per = rs.sortBy(_._2).map { case (_, size, secs, med, feedSecs, stages) =>
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
          s""""median_sec":${j(med)},"rows_per_sec":${j(size / med, 0)}$stageJson}"""
      }.mkString(",")
      s""""$gate":{$per}"""
    }.mkString(",")
    val growthJson = growth.map { case (secs, maxTaskSecs) =>
      val head = median(secs.take(10)); val tail = median(secs.takeRight(10))
      s""","d10_growth":{"gate":"$growthGate","n":$growthBatches,"size":$growthSize,"compact_every":$compactEvery,"preseed":$preseed,""" +
        s""""storm_frac":${j(stormFrac, 2)},"storm_tokens":$stormTokens,""" +
        s""""first10_median_sec":${j(head)},"last10_median_sec":${j(tail)},""" +
        s""""ratio":${j(tail / head, 2)},""" +
        s""""secs":[${secs.map(j(_)).mkString(",")}],""" +
        s""""max_task_secs":[${maxTaskSecs.map(j(_)).mkString(",")}]}"""
    }.getOrElse("")
    // gate demotions are a silent plan-shape change inside a sink —
    // surface the process-wide count in the record (0 on every healthy
    // run: StreamBench batches are micro by construction)
    val line = s"""{"gates":{$json}$growthJson$twoSinkJson,"n_batches":$nBatches,""" +
      s""""gate_demotions":${operators.Incremental.demotions.sum()},""" +
      s""""source":"$sourceMode","sf":"$sfDir","cpus":"$cpus"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[streambench] $outPath not written: $e") }
    spark.stop()
    println(line)
  }
}
