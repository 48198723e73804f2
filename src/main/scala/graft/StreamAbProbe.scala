package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Dev probe (optimization round 18): INTERLEAVED A/B of a session
  * conf over the COMPOSED streaming gate d16 at a production batch
  * size — the streaming twin of `AbProbe`. Round 17's streaming
  * evidence was sequential single runs, and d16's historical
  * per-batch spread (12.5-17.1 s across records at 50k rows) is the
  * same order as this box's load windows, so sequential on/off runs
  * confound arm with load. This alternates complete RESTARTED d16
  * runs inside one process — fresh store/checkpoint dirs per run,
  * identical fed batches, conf set before each query start (the
  * micro-batch execution clones the session at start, inheriting the
  * conf; sinks that read the conf per batch see the clone's value) —
  * so pairwise run ratios cancel any load window longer than one run
  * (~1 min at the default setting).
  *
  * Frozen gate models are trained ONCE outside the arms (the
  * StreamBench contract: model training is never measured).
  *
  * args: <confKey> <valA> <valB>
  * env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  *      STREAM_AB_BATCH_SIZE (rows per micro-batch, default 50000),
  *      STREAM_AB_BATCHES (measured batches per run, default 3),
  *      STREAM_AB_PAIRS (A,B run pairs, default 3)
  */
object StreamAbProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: StreamAbProbe <confKey> <valA> <valB>")
    val (key, valA, valB) = (args(0), args(1), args(2))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val batchSize = sys.env.getOrElse("STREAM_AB_BATCH_SIZE", "50000").toInt
    val nBatches = sys.env.getOrElse("STREAM_AB_BATCHES", "3").toInt
    val pairs = sys.env.getOrElse("STREAM_AB_PAIRS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "1"))
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // StreamBench's source material + frozen models, built once
    val pool = Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(pool.nonEmpty, s"no documents in $sfDir")
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
    val pipelineCfg = streaming.EventStream.IngestPipeline(
      minQuality = -1e9,
      lm = Some((lmModel, 1e9)),
      clf = Some((clfModel, -1e9)),
      dsir = Some((dsirModel, -1000.0)),
      decon = Some((evalGrams, 3, 0L)),
      nearDup = true,
      lmText = lower, dsirText = lower, deconText = lower)

    def mkBatch(tag: String, k: Int): Seq[StreamDoc] =
      (0 until batchSize).map { i =>
        val (lang, text) = pool((k * batchSize + i) % pool.length)
        val pfx = s"$tag${k}·"
        StreamDoc(k.toLong * batchSize + i, lang,
          text.split("\\s+").filter(_.nonEmpty).map(pfx + _).mkString(" "))
      }

    /** One complete d16 run under `value`: fresh dirs, one unmeasured
      * warmup batch, `nBatches` measured. Returns per-batch secs. */
    def runOnce(tag: String, value: String): Seq[Double] = {
      spark.conf.set(key, value)
      // ASCII-only temp name: the tag's '·' token-prefix separator is
      // fine inside document text but not in a path under an ASCII
      // default locale
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft-sab-${tag.filter(_.isLetterOrDigit)}").toString
      val input = MemoryStream[StreamDoc](spark)(Encoders.product[StreamDoc])
      val q = streaming.EventStream.ingestPipelineSink(input.toDF(), "doc_id",
        col("text"), pipelineCfg, dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
      try {
        input.addData(mkBatch(s"${tag}w", 0): _*)
        q.processAllAvailable()
        (1 to nBatches).map { k =>
          val t0 = System.nanoTime()
          input.addData(mkBatch(tag, k): _*)
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[streamab] $tag batch $k%2d: $sec%.3f s")
          sec
        }
      } finally q.stop()
    }

    import StreamBench.median
    val rows = (1 to pairs).map { p =>
      val a = runOnce(s"A${p}·", valA)
      val b = runOnce(s"B${p}·", valB)
      val r = median(b) / median(a)
      println(f"pair $p: A med=${median(a)}%.3f B med=${median(b)}%.3f ratio=$r%.3f " +
        f"(A=${a.map(x => f"$x%.2f").mkString(",")} B=${b.map(x => f"$x%.2f").mkString(",")})")
      (median(a), median(b), r)
    }
    println(f"d16 batch=$batchSize $key $valA->$valB: median pair ratio " +
      f"${median(rows.map(_._3))}%.3f, A meds=${rows.map(r => f"${r._1}%.2f").mkString(",")}, " +
      f"B meds=${rows.map(r => f"${r._2}%.2f").mkString(",")}")
    spark.stop()
  }
}
