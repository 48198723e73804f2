package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Tables
import graft.operators.{Classifier, Contamination, Dsir, LangModel}
import graft.streaming.EventStream

/** One fed document (top level, so `Encoders.product` derives it). */
case class IngestDoc(doc_id: Long, lang: String, text: String)

/** `ingest`: the composed ingest pipeline (`ingestPipelineSink`) fed
  * fixed-size micro-batches in a closed loop. One in-process
  * MemoryStream producer adds the next batch only after the previous
  * one committed. Fresh documents come from the `documents` table
  * with every token prefixed by the document's new id, so no two fresh
  * documents share a shingle and every one of them must land; a seeded
  * share of each later batch re-sends documents fed before, with their
  * ids, so the near-dup gate has real duplicates to drop. The batch
  * size is the smallest of graft.StreamBench's ingest sizes. */
final class Ingest(a: Main.Args, out: Result) extends Common(a, out) {
  val batchSize = 500
  val resendShare = 0.1

  import Ingest.Models

  /** The frozen models the pipeline gates on, trained as set-up. */
  private def train(spark: SparkSession): Models = {
    val docs = Tables.load(spark, a.data, "documents")
    val pool = docs.select(col("lang"), col("text")).orderBy(col("doc_id")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val evalGrams = Contamination.evalGramSet(docs.filter(col("doc_id") % 100 === 0),
      col("doc_id"), lower(col("text")), 3).localCheckpoint(true)
    val dsir = Dsir.train(docs.filter(col("lang") === "en"), docs, col("doc_id"), lower(col("text")))
    val clf = Classifier.train(docs.filter(col("doc_id") % 10 === 1),
      docs.filter(col("doc_id") % 10 === 2), col("doc_id"), col("text"))
    val lm = LangModel.train(docs, lower(col("text")))
    // permissive cutoffs: every document passes every score gate, so
    // only the near-dup gate drops, and it drops exactly the re-sent ones
    Models(pool, EventStream.IngestPipeline(
      minQuality = -1e9,
      lm = Some((lm.copy(table = lm.table.localCheckpoint(true)), 1e9)),
      clf = Some((clf.copy(table = clf.table.localCheckpoint(true)), -1e9)),
      dsir = Some((dsir.copy(table = dsir.table.localCheckpoint(true)), -1000.0)),
      decon = Some((evalGrams, 3, 0L)),
      nearDup = true,
      lmText = lower, dsirText = lower, deconText = lower))
  }

  def run(): Unit = {
    val (spark, models) = timedSetup(train)
    val store = s"${a.work}/store"
    val corpus = s"${a.work}/corpus"
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val progress = mutable.Map[Long, (Double, Double)]() // batch -> (addBatch s, commit s)
    if (a.trace) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        progress.synchronized {
          progress(e.progress.batchId) = (ms("addBatch"), ms("walCommit") + ms("commitOffsets"))
        }
      }
    })

    val order = rng.shuffle(models.pool.indices.toVector)
    var nextFresh = 0
    val fedFresh = mutable.ArrayBuffer[IngestDoc]() // fresh docs fed so far
    val resent = mutable.Set[Long]()
    val fed = mutable.ArrayBuffer[Seq[IngestDoc]]()
    val threw = mutable.Set[Int]()
    val planted = mutable.ArrayBuffer[Set[Long]]() // per batch: the re-sent ids
    def mkBatch(k: Int): Seq[IngestDoc] = {
      val candidates = fedFresh.filterNot(d => resent(d.doc_id))
      val nResend = if (k == 0) 0 else math.min(candidates.size, math.round(batchSize * resendShare).toInt)
      val again = rng.shuffle(candidates.toSeq).take(nResend)
      resent ++= again.map(_.doc_id)
      val fresh = (0 until batchSize - nResend).map { _ =>
        val (lang, text) = models.pool(order(nextFresh % order.size))
        val d = IngestDoc(nextFresh.toLong, lang,
          text.split("\\s+").filter(_.nonEmpty).map(t => s"d${nextFresh}x$t").mkString(" "))
        nextFresh += 1
        d
      }
      fedFresh ++= fresh
      planted += again.map(_.doc_id).toSet
      rng.shuffle(fresh ++ again)
    }

    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val q = EventStream.ingestPipelineSink(input.toDF(), "doc_id", col("text"), models.cfg,
      store, corpus, "lang", s"${a.work}/checkpoint")
    tracer.foreach(_.take())
    var filesBefore = 0
    def files(dir: String): Int = {
      val f = new java.io.File(dir)
      if (!f.exists) 0
      else java.nio.file.Files.walk(f.toPath).filter(p => java.nio.file.Files.isRegularFile(p)).count().toInt
    }

    /** Feeds batch k and waits for its commit; returns the seconds from
      * addData to commit, or None when the batch threw. */
    def batch(k: Int): Option[Double] = {
      val docs = mkBatch(k)
      fed += docs
      out.attempted += 1
      val gcJit0 = jvmReading()
      val t0 = System.nanoTime()
      try {
        input.addData(docs: _*)
        q.processAllAvailable()
        val t1 = System.nanoTime()
        System.err.println(f"[perfbench] batch $k: ${(t1 - t0) / 1e9}%.3f s")
        tracer.foreach { t =>
          val w = t.take()
          val r = operatorsAndJvm(w, (t1 - t0) / 1e9, us(t0), us(t1), gcJit0)
          def put(key: String, v: Double, u: String): Unit = { r(key) = v; units(key) = u }
          val deadline = System.nanoTime() + 5000000000L
          while (progress.synchronized(!progress.contains(k.toLong)) && System.nanoTime() < deadline)
            Thread.sleep(5)
          val (addS, commitS) = progress.synchronized(progress.getOrElse(k.toLong, (0.0, 0.0)))
          val (storeFiles, corpusFiles) = (files(store), files(corpus))
          put("tables.scan_task_s", 0, "s")
          put("tables.scan_tasks", 0, "count")
          put("tables.input_mb", 0, "MB")
          put("sparkentry.build_s", 0, "s")
          put("sparkentry.eager_jobs", 0, "count")
          put("sources.output_mb", w.outputBytes / 1e6, "MB")
          put("sources.files_added", storeFiles + corpusFiles - filesBefore, "count")
          put("streaming.add_batch_s", addS, "s")
          put("streaming.commit_s", commitS, "s")
          put("streaming.jobs_per_batch", w.jobs, "count")
          put("streaming.store_files", storeFiles, "count")
          put("streaming.admit_ratio", 0, "fraction") // filled in from the corpus below
          // spans: batch > the pipeline query (the addBatch phase) > stage
          val stageS = Stats.coveredWithin(w.stages.map { case (_, s, e) => (s * 1000, e * 1000) },
            us(t0), us(t1)) / 1e6
          put("self.pass_s", math.max(0.0, (t1 - t0) / 1e9 - addS), "s")
          put("self.build_s", 0, "s")
          put("self.execute_s", math.max(0.0, addS - stageS), "s")
          put("self.stage_s", stageS, "s")
          filesBefore = storeFiles + corpusFiles
          windows += r
        }
        Some((t1 - t0) / 1e9)
      } catch {
        case e: Throwable =>
          out.failed += 1
          threw += k
          out.errors += s"batch $k: $e"
          None
      }
    }

    val cold = batch(0)
    out.e2e("cold_s", cold.getOrElse(Double.NaN), "s")
    // two untimed warm-up batches: the first two batches after the cold
    // one still run slower than later ones (see README, Measured)
    val warmup = Seq(1, 2).map(batch)
    windows.clear()
    // steady batches until `seconds` have passed, and at least three
    val lat = mutable.ArrayBuffer[Double]()
    var rowsFed = 0L
    val steady0 = System.nanoTime()
    var k = 3
    while (k < 6 || (System.nanoTime() - steady0) / 1e9 < a.seconds) {
      batch(k).foreach { s => lat += s; rowsFed += fed(k).size }
      k += 1
    }
    q.stop()
    // the pipeline query's own run time per batch (the foreachBatch
    // body), from the progress the query keeps anyway
    val addBatchS = q.recentProgress.filter(_.batchId >= 3)
      .flatMap(p => Option(p.durationMs.get("addBatch")).map(_.longValue / 1e3)).toSeq
    tracer.foreach(_.detach())

    // a micro-batch is the ingest's pass; its query is the pipeline's
    // foreachBatch body
    out.e2e("pass_s", Stats.median(lat.toSeq), "s")
    out.e2e("query_p50_s", Stats.median(addBatchS), "s")
    out.e2e("batch_p50_s", Stats.median(lat.toSeq), "s")
    out.e2e("rows_per_s", rowsFed / lat.sum, "rows/s")
    tail("batch", lat.toSeq)
    out.info("steady_batches") = (k - 3).toString
    out.info("warmup_batch_s") = warmup.map(_.fold("nan")(t => f"$t%.3f")).mkString(" ")
    out.info("batch_s_each") = lat.map(t => f"$t%.3f").mkString(" ")
    out.info("batch_size") = batchSize.toString
    out.info("resend_share") = resendShare.toString

    // The checks, outside the timed region. Per batch: every landed doc
    // was fed in it, no doc_id lands twice, every re-sent document is
    // dropped and every fresh one lands. The signature store holds one
    // row per document that passed the score gates, written whether or
    // not the near-dup gate kept it, so it counts the drops apart from
    // the corpus: dropped = fed docs missing from the store (score
    // gates) + re-sent docs in it (near-dup gate), and landed + dropped
    // must equal fed.
    def byBatch(path: String, id: String): Map[Long, Seq[Long]] =
      spark.read.parquet(path).select(col(id), col("batch")).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).groupBy(_._2)
        .map { case (b, rs) => b -> rs.map(_._1).toSeq }
    val landed = byBatch(corpus, "doc_id")
    val gated = byBatch(s"$store/sets", "id")
    val seen = mutable.Set[Long]()
    var landedTotal, droppedTotal, plantedTotal, storedTotal = 0L
    val admit = mutable.ArrayBuffer[Double]()
    for ((docs, b) <- fed.zipWithIndex) {
      val ids = docs.map(_.doc_id).toSet
      val fresh = ids -- planted(b)
      val got = landed.getOrElse(b.toLong, Seq.empty)
      val inStore = gated.getOrElse(b.toLong, Seq.empty).toSet
      val problems = Seq(
        got.exists(id => !ids(id)) -> "landed a doc that was not fed",
        got.exists(seen) -> "a doc_id landed twice",
        (got.distinct.size != got.size) -> "a doc_id landed twice in one batch",
        got.exists(planted(b)) -> "a re-sent duplicate landed",
        !fresh.subsetOf(got.toSet) -> s"${(fresh -- got).size} fresh docs did not land",
        !inStore.subsetOf(ids) -> "the store holds a doc that was not fed")
        .collect { case (true, why) => why }
      seen ++= got
      landedTotal += got.size
      droppedTotal += (ids -- inStore).size + (inStore & planted(b)).size
      plantedTotal += planted(b).size
      storedTotal += inStore.size
      if (b > 0) admit += got.size.toDouble / docs.size
      if (problems.nonEmpty && !threw(b)) {
        out.failed += 1
        out.errors += s"batch $b: ${problems.mkString(", ")}"
      }
    }
    // the run-wide balance is one more checked operation, so that
    // failed never exceeds attempted
    out.attempted += 1
    if (landedTotal + droppedTotal != fed.map(_.size).sum) {
      out.failed += 1
      out.errors += s"landed $landedTotal + dropped $droppedTotal != fed ${fed.map(_.size).sum}"
    }
    out.info("fed") = fed.map(_.size).sum.toString
    out.info("landed") = landedTotal.toString
    out.info("dropped") = droppedTotal.toString
    out.info("planted_duplicates") = plantedTotal.toString
    out.info("in_store") = storedTotal.toString
    reportLayers()
    if (a.trace) {
      out.layer("streaming.admit_ratio", Stats.median(admit.toSeq), "fraction")
      out.layer("trace.pass_s", Stats.median(lat.toSeq), "s")
    }
    Main.stopSession(spark)
  }
}

object Ingest {
  /** The document pool (lang, text) and the pipeline's frozen models. */
  final case class Models(pool: Array[(String, String)], cfg: EventStream.IngestPipeline)
}
