package graft

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}

class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** The WARN-or-worse messages `org.apache.spark` loggers emit while
    * `body` runs — captured by a log4j appender on a WARN-level
    * logger config, so the suite's ERROR log level hides nothing. */
  private def sparkWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-spark-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = "org.apache.spark"
    val prior = Option(ctx.getConfiguration.getLoggers.get(name))
    val logger = new LoggerConfig(name, Level.WARN, false)
    logger.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.removeLogger(name)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    try body
    finally {
      ctx.getConfiguration.removeLogger(name)
      prior.foreach(ctx.getConfiguration.addLogger(name, _))
      ctx.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }

  case class Raw(ts: Timestamp, event_type: String, value: Double)

  test("StreamBench.median: middle value for odd counts, mean of the two middles for even") {
    assert(StreamBench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(StreamBench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(StreamBench.median(Seq(7.0)) == 7.0)
    assert(StreamBench.median(Seq(5.0, 1.0)) == 3.0)
    intercept[IllegalArgumentException](StreamBench.median(Seq.empty))
  }

  test("D1 hourlyCounts: watermark closes windows, append emits once") {
    val input = MemoryStream[Raw](spark)(Encoders.product[Raw])
    val q = EventStream.hourlyCounts(input.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("d1_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Raw(ts("2024-01-01 10:05:00"), "click", 1.0),
        Raw(ts("2024-01-01 10:50:00"), "click", 2.0),
        Raw(ts("2024-01-01 10:20:00"), "view", 5.0))
      q.processAllAvailable()
      // advance event time far enough to close the 10:00 window
      input.addData(Raw(ts("2024-01-01 13:00:00"), "click", 9.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT date_format(hour,'HH:mm') h, event_type, cnt, sum_value " +
          "FROM d1_out ORDER BY h, event_type").collect()
      assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq ==
        Seq(("10:00", "click", 2L, 3.0), ("10:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  case class Upd(k: Long, day: String, ver: Long, v: String)

  test("D6 upsertSink: micro-batches keep-latest-merge into the table; replay is absorbed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-d6").toString
    val path = dir + "/tbl"
    val input = MemoryStream[Upd](spark)(Encoders.product[Upd])
    val q = EventStream.upsertSink(input.toDF(), Seq("k"), Seq("ver"),
      path, "day", dir + "/ckpt")
    def table() = spark.read.parquet(path)
      .selectExpr("k", "cast(day as string) day", "ver", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    try {
      input.addData(Upd(1L, "2024-01-01", 1L, "a"), Upd(2L, "2024-01-02", 1L, "b"))
      q.processAllAvailable()
      assert(table() == Set((1L, "2024-01-01", 1L, "a"), (2L, "2024-01-02", 1L, "b")))
      // batch 2: newer version of k=1, older (late) version of k=2, new k=3
      input.addData(Upd(1L, "2024-01-01", 5L, "a2"), Upd(2L, "2024-01-02", 0L, "stale"),
        Upd(3L, "2024-01-01", 1L, "c"))
      q.processAllAvailable()
      val after = table()
      assert(after == Set((1L, "2024-01-01", 5L, "a2"), (2L, "2024-01-02", 1L, "b"),
        (3L, "2024-01-01", 1L, "c")))
      // simulated REPLAY of batch 2 (foreachBatch redelivery after a
      // crash): idempotent merge leaves the table unchanged
      import org.apache.spark.sql.functions.col
      val replay = spark.createDataFrame(Seq(
        Upd(1L, "2024-01-01", 5L, "a2"), Upd(2L, "2024-01-02", 0L, "stale"),
        Upd(3L, "2024-01-01", 1L, "c")))
      graft.operators.Upsert.mergeWritePartitioned(
        replay, Seq("k"), Seq(col("ver")), path, "day")
      assert(table() == after)
    } finally q.stop()
  }

  test("D4 attribute: conversions match prior clicks within the window") {
    import EventStream.{Click, Conversion}
    val clicks = MemoryStream[Click](spark)(Encoders.product[Click])
    val convs = MemoryStream[Conversion](spark)(Encoders.product[Conversion])
    val q = EventStream.attribute(clicks.toDS(), convs.toDS(), windowSeconds = 1800)
      .writeStream.format("memory").queryName("d4_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Click(1L, 100L, ts("2024-01-01 10:00:00")),
        Click(1L, 101L, ts("2024-01-01 10:20:00")),
        Click(2L, 200L, ts("2024-01-01 10:00:00")))
      convs.addData(
        Conversion(1L, 900L, ts("2024-01-01 10:30:00"), 9.5), // matches 100 + 101
        Conversion(2L, 901L, ts("2024-01-01 11:00:00"), 1.0)) // 10:00 click outside 30min
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT click_id, conv_id, amount FROM d4_out ORDER BY click_id").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq((100L, 900L, 9.5), (101L, 900L, 9.5)))
    } finally q.stop()
  }

  test("D5 enrichAsOf: trades match newest quote <= ts after watermark seals order") {
    import EventStream.Quote
    val trades = MemoryStream[Event](spark)(Encoders.product[Event])
    val quotes = MemoryStream[Quote](spark)(Encoders.product[Quote])
    val q = EventStream.enrichAsOf(trades.toDS(), quotes.toDS(), watermark = "1 hour")
      .writeStream.format("memory").queryName("d5_out")
      .outputMode(OutputMode.Append).start()
    try {
      quotes.addData(Quote(1L, 900L, ts("2024-01-01 10:00:00"), 5.0))
      trades.addData(
        Event(1L, 10L, ts("2024-01-01 10:05:00"), 1.0), // after q900 → match
        Event(1L, 11L, ts("2024-01-01 09:55:00"), 1.0), // before any quote → null
        Event(2L, 20L, ts("2024-01-01 10:00:00"), 1.0)) // user 2 has no quotes
      q.processAllAvailable()
      assert(spark.table("d5_out").count() == 0) // watermark hasn't sealed yet
      trades.addData(Event(3L, 30L, ts("2024-01-01 13:00:00"), 1.0))
      q.processAllAvailable()
      trades.addData(Event(3L, 31L, ts("2024-01-01 13:30:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_id, quote_id, px FROM d5_out ORDER BY event_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
      assert(rows == Seq((10L, 900L, 5.0), (11L, -1L, -1.0), (20L, -1L, -1.0)))
      // retained last quote: a much-later trade with no new quotes
      // still enriches from q900
      trades.addData(Event(1L, 12L, ts("2024-01-01 14:00:00"), 1.0))
      q.processAllAvailable()
      trades.addData(Event(3L, 32L, ts("2024-01-01 16:00:00"), 1.0))
      q.processAllAvailable()
      trades.addData(Event(3L, 33L, ts("2024-01-01 16:30:00"), 1.0))
      q.processAllAvailable()
      val late = spark.sql("SELECT quote_id FROM d5_out WHERE event_id = 12").collect()
      assert(late.length == 1 && late.head.getLong(0) == 900L)
    } finally q.stop()
  }

  test("D2 sessions: gap closes a session; idle session flushes on watermark") {
    implicit val ee = Encoders.product[Event]
    val input = MemoryStream[Event](spark)(Encoders.product[Event])
    val q = EventStream.sessions(input.toDS(), gapSeconds = 1800, watermark = "1 hour")
      .writeStream.format("memory").queryName("d2_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Event(1L, 10L, ts("2024-01-01 10:00:00"), 1.0),
        Event(1L, 11L, ts("2024-01-01 10:10:00"), 1.0),
        Event(2L, 20L, ts("2024-01-01 09:00:00"), 1.0))
      q.processAllAvailable()
      assert(spark.table("d2_out").count() == 0) // nothing closed yet
      input.addData(Event(1L, 12L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, session_id, n_events, " +
          "date_format(session_start,'HH:mm') s, date_format(session_end,'HH:mm') e " +
          "FROM d2_out ORDER BY user_id").collect()
      // user 1: the 12:00 event closed the 10:00-10:10 session by gap.
      // user 2 never sent again: the watermark (driven by other users'
      // events) passed 09:00 + gap, so the idle open session is
      // FLUSHED by the event-time timeout instead of living forever.
      // session_id = session-start micros (unique per user even after
      // state expiry — a counter would restart at 1).
      def micros(t: String): Long = ts(t).getTime * 1000L
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSeq ==
        Seq((1L, micros("2024-01-01 10:00:00"), 2L, "10:00", "10:10"),
          (2L, micros("2024-01-01 09:00:00"), 1L, "09:00", "09:00")))
      // user 1's fresh 12:00 session is still within the horizon → open
      input.addData(Event(3L, 30L, ts("2024-01-01 12:30:00"), 1.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM d2_out WHERE user_id = 1").count() == 1)
    } finally q.stop()
  }

  case class Doc(doc_id: Long, text: String)

  test("D7 qualityGate: rows identical to the batch C9+C13 operators on the same input") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      Doc(1L, "the quick brown fox jumps over the lazy dog and then it sleeps all day"),
      Doc(2L, "!!! ??? ... ;;; ### $$$ %%%"), // punct-heavy: must fail the gate
      Doc(3L, "email me at a.b@example.org or visit https://x.test/page now, " +
        "it is the best of all the sites that we have"),
      Doc(4L, ""))
    val cutoff = 0.3

    val input = MemoryStream[Doc](spark)(Encoders.product[Doc])
    val q = EventStream.qualityGate(input.toDF(), col("text"), minScore = cutoff)
      .writeStream.format("memory").queryName("d7_out")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(docs: _*)
      q.processAllAvailable()
      spark.table("d7_out").collect().map(_.toSeq).toSet
    } finally q.stop()

    // the batch side: the same operators (C9's scorer, C13's scrubber)
    // over a static frame of the same rows
    val batch = graft.operators.Quality.scrubbed(
        graft.operators.Quality.scored(spark.createDataFrame(docs), col("text")), col("text"))
      .filter(col("quality_score") >= cutoff)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.size < docs.size, "gate must drop some rows, keep others")
    // the scrub is visibly applied in-flight
    val d3 = spark.table("d7_out").filter(col("doc_id") === 3L)
      .select(col("scrubbed"), col("n_emails"), col("n_urls")).collect().head
    assert(!d3.getString(0).contains("a.b@example.org") && !d3.getString(0).contains("https://"))
    assert(d3.getLong(1) == 1L && d3.getLong(2) == 1L)
  }

  case class GatedDoc(doc_id: Long, lang: String, text: String)

  test("D9 decontaminationSink: only eval-clean docs land; gate equals batch C19 rule") {
    import org.apache.spark.sql.functions.col
    val evalDocs = Seq(
      GatedDoc(900L, "en", "alpha beta gamma delta epsilon zeta"),
      GatedDoc(901L, "en", "one two three four five six seven"))
    // doc 1 contains a 5-gram of eval 900 → contaminated; 2 is clean;
    // 3 shares a 5-gram with eval 901 → contaminated; 4 short, clean
    val docs = Seq(
      GatedDoc(1L, "en", "intro alpha beta gamma delta epsilon outro words"),
      GatedDoc(2L, "en", "totally unrelated content about spark plans and shuffles today"),
      GatedDoc(3L, "de", "zzz one two three four five qqq"),
      GatedDoc(4L, "en", "short clean"))
    val dir = java.nio.file.Files.createTempDirectory("graft-d9").toString
    val path = dir + "/corpus"
    val evalGrams = graft.operators.Contamination.evalGramSet(
      spark.createDataFrame(evalDocs), col("doc_id"), col("text"), 5)
    val input = MemoryStream[GatedDoc](spark)(Encoders.product[GatedDoc])
    val q = EventStream.decontaminationSink(input.toDF(), evalGrams, "doc_id",
      col("text"), n = 5, maxShared = 0, path, "lang", dir + "/ckpt")
    def landed() = spark.read.parquet(path).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      assert(landed() == Set(2L))
      input.addData(docs.drop(2): _*) // second arrival gates independently
      q.processAllAvailable()
      assert(landed() == Set(2L, 4L))
      // batch C19 rule on the same input picks the same survivors
      val batch = spark.createDataFrame(docs)
      val shared = graft.operators.Contamination.sharedGrams(
        batch, spark.createDataFrame(evalDocs), col("doc_id"), col("text"), 5)
      val batchSurvivors = batch.join(
          shared.filter(col("shared_grams") > 0).withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchSurvivors == landed())
      // replay of the last arrival is absorbed: the batch overwrites
      // its own deterministic batch=<id> dir, never duplicating rows
      EventStream.appendBatchWrite(
        spark.createDataFrame(Seq(docs(3))), 1L, path, "lang")
      assert(landed() == Set(2L, 4L))
      // compaction folds the closed batch dirs into one negative-id
      // dir without changing what a reader sees
      val (before, after) = EventStream.ingestCorpusCompact(spark, path, "lang",
        watermark = 2L)
      assert(before == 2 && after == 1)
      assert(landed() == Set(2L, 4L))
    } finally q.stop()
  }

  case class IngestDoc(doc_id: Long, lang: String, text: String)

  test("D10 nearDupGateSink: stream gating equals global keep-first; replay self-matches to a no-op") {
    import org.apache.spark.sql.functions.col
    val T = 0.7
    // family of near-dups (adjacent variants clear T, distant don't —
    // the IncrementalSpec chain shape) + unique docs
    def fam(v: Int): String = {
      val toks = (1 to 12).map(t => s"w$t").toVector
      (v match {
        case 0 => toks
        case 1 => toks.init :+ "end1"
        case 2 => "new2" +: toks.tail.init :+ "end1"
      }).mkString(" ")
    }
    val docs = Seq(
      IngestDoc(0L, "en", fam(0)), IngestDoc(1L, "en", fam(1)),
      IngestDoc(2L, "de", fam(2)),
      IngestDoc(3L, "en", "totally unrelated words about parquet pruning and shuffles"),
      IngestDoc(4L, "de", "another unique set of tokens nothing shares at all"))
    val dir = java.nio.file.Files.createTempDirectory("graft-d10").toString
    val store = dir + "/store"
    val out = dir + "/corpus"
    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val q = EventStream.nearDupGateSink(input.toDF(), "doc_id", col("text"),
      store, out, "lang", dir + "/ckpt", threshold = T)
    def landed() = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    try {
      // arrivals in id order, one family member per batch
      input.addData(docs(0), docs(3))
      q.processAllAvailable()
      assert(landed() == Set(0L, 3L))
      input.addData(docs(1)) // matches stored 0 → dropped
      q.processAllAvailable()
      assert(landed() == Set(0L, 3L))
      // 2 matches DROPPED 1 but not 0: only an all-seen store drops it
      input.addData(docs(2), docs(4))
      q.processAllAvailable()
      assert(landed() == Set(0L, 3L, 4L))
      // = the global keep-first rule over the whole corpus
      val dropped = graft.operators.MinHash.nearDupPairs(
          spark.createDataFrame(docs), col("doc_id"), col("text"), threshold = T)
        .select("doc_b").collect().map(_.getLong(0)).toSet
      assert(landed() == docs.map(_.doc_id).toSet -- dropped)
      // REPLAY of the last batch after its signatures landed: every
      // doc self-matches at Jaccard 1.0 → zero survivors, no-op
      val (sb, ss) = EventStream.nearDupStore(spark, store,
        spark.createDataFrame(docs), "doc_id", col("text"))
      val (replaySurv, _, _) = graft.operators.Incremental.gate(
        sb, ss, spark.createDataFrame(Seq(docs(2), docs(4))),
        col("doc_id"), col("text"), threshold = T)
      assert(replaySurv.count() == 0)
      // store grew append-only: one batch=dir per non-empty batch
      val batches = new java.io.File(store + "/bands").listFiles
        .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
      assert(batches.size == 3, s"got $batches")
    } finally q.stop()
  }

  test("D10 nearDupStoreCompact: gate unchanged, post-watermark replay intact, idempotent") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Incremental
    val dir = java.nio.file.Files.createTempDirectory("graft-d10-compact").toString
    val store = dir + "/store"
    def doc(i: Long, t: String) = spark.createDataFrame(Seq(IngestDoc(i, "en", t)))
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs today",
      2L -> "sphinx of black quartz judge my vow tonight")
    // build the store exactly as the sink does: one batch=<id> dir per
    // micro-batch under both roots
    for ((id, t) <- texts) {
      val (b, s) = Incremental.signatures(doc(id, t), col("doc_id"), col("text"))
      b.write.parquet(s"$store/bands/batch=$id")
      s.write.parquet(s"$store/sets/batch=$id")
    }
    // probe: one near-dup of doc 0 (one word changed) + one unique
    val probe = spark.createDataFrame(Seq(
      IngestDoc(10L, "en", "the quick brown fox jumps over the lazy cat"),
      IngestDoc(11L, "en", "completely different tokens that match nothing at all")))
    def gateIds(): Set[Long] = {
      val (sb, ss) = EventStream.nearDupStore(spark, store, probe, "doc_id", col("text"))
      Incremental.gate(sb, ss, probe, col("doc_id"), col("text"), threshold = 0.5)
        ._1.select("id").collect().map(_.getLong(0)).toSet
    }
    val pre = gateIds()
    assert(pre == Set(11L), "probe near-dup must be gated before compaction")
    // compact batches 0 and 1 (watermark 2 keeps the newest batch's
    // own dir for replay)
    val (before, after) = EventStream.nearDupStoreCompact(spark, store, watermark = 2L)
    assert(before == 6 && after == 4, s"got ($before, $after)")
    def dirsOf(sub: String) = new java.io.File(s"$store/$sub").listFiles
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirsOf("bands") == Set("batch=-1", "batch=2"))
    assert(dirsOf("sets") == Set("batch=-1", "batch=2"))
    // the gate decision is identical against the compacted store
    assert(gateIds() == pre)
    // replay of the post-watermark batch overwrites its OWN path and
    // self-matches to a no-op
    val (rb, rs) = Incremental.signatures(doc(2L, texts(2)._2), col("doc_id"), col("text"))
    rb.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$store/bands/batch=2")
    rs.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$store/sets/batch=2")
    val (sb2, ss2) = EventStream.nearDupStore(spark, store, probe, "doc_id", col("text"))
    val replaySurv = Incremental.gate(sb2, ss2, doc(2L, texts(2)._2),
      col("doc_id"), col("text"), threshold = 0.5)._1
    assert(replaySurv.count() == 0)
    // idempotent: nothing else below the watermark → per-root no-op
    val (b2, a2) = EventStream.nearDupStoreCompact(spark, store, watermark = 2L)
    assert(b2 == a2)
    // a LATER compaction absorbs the old consolidated dir too (-1 and
    // 2 merge into -2)
    val (b3, a3) = EventStream.nearDupStoreCompact(spark, store, watermark = 3L)
    assert(b3 == 4 && a3 == 2)
    assert(dirsOf("bands") == Set("batch=-2") && dirsOf("sets") == Set("batch=-2"))
    assert(gateIds() == pre)
  }

  test("D10 nearDupStore: half-written first batch (bands only) reads as an empty store") {
    import org.apache.spark.sql.functions.col
    // simulate a crash between the bands write and the sets write on
    // the FIRST micro-batch: bands/ exists, sets/ does not — the store
    // must read as empty (both schemas intact) so the replayed batch
    // can re-create both roots, not crash the stream forever
    val dir = java.nio.file.Files.createTempDirectory("graft-d10-half").toString
    val store = dir + "/store"
    val proto = spark.createDataFrame(Seq(IngestDoc(1L, "en", "a b c d e")))
    val (fb, fs) = graft.operators.Incremental.signatures(
      proto, col("doc_id"), col("text"))
    fb.write.parquet(store + "/bands/batch=0") // no sets write
    val (sb, ss) = EventStream.nearDupStore(spark, store, proto, "doc_id", col("text"))
    assert(sb.isEmpty && ss.isEmpty)
    assert(sb.schema == fb.schema && ss.schema == fs.schema)
  }

  test("D12 perplexityGateSink: frozen-model gate equals the batch C28 rule") {
    import org.apache.spark.sql.functions.{col, lower}
    // train a frozen model on fluent text; garbage trigrams are unseen
    val fluent = (1L to 40L).map(i =>
      IngestDoc(i, "en", "the quick brown fox jumps over the lazy dog again and again"))
    val model = graft.operators.LangModel.train(
      spark.createDataFrame(fluent), lower(col("text")))
    val incoming = Seq(
      IngestDoc(100L, "en", "the quick brown fox jumps over the dog"),
      IngestDoc(101L, "de", "zq xv jj qq kk zz xx vv ww yy"), // unseen trigrams
      IngestDoc(102L, "en", "the lazy dog jumps again"))
    // cutoff: batch-score the incoming docs, split the two classes
    val batchScores = graft.operators.LangModel.score(
        spark.createDataFrame(incoming), col("doc_id"), lower(col("text")), model)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val cutoff = (batchScores(100L).max(batchScores(102L)) + batchScores(101L)) / 2
    assert(batchScores(101L) > cutoff, "garbage must score above the cutoff")

    val dir = java.nio.file.Files.createTempDirectory("graft-d12").toString
    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val q = EventStream.perplexityGateSink(input.toDF(), "doc_id", lower(col("text")),
      model, cutoff, dir + "/corpus", "lang", dir + "/ckpt")
    try {
      input.addData(incoming: _*)
      q.processAllAvailable()
      val landed = spark.read.parquet(dir + "/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(landed == Set(100L, 102L))
      // identical to the batch rule on the same input
      val batchKeep = batchScores.filter(_._2 <= cutoff).keySet
      assert(landed == batchKeep)
      // an arrival the gate drops whole (batch 1) writes no batch dir,
      // and the next arrival (batch 2) still lands
      input.addData(IngestDoc(103L, "de", "zq xv jj qq kk zz xx vv ww yy"))
      q.processAllAvailable()
      input.addData(IngestDoc(104L, "en", "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      val dirs = new java.io.File(dir + "/corpus").list().filter(_.startsWith("batch=")).toSet
      assert(dirs == Set("batch=0", "batch=2"), s"corpus batch dirs: $dirs")
      val all = spark.read.parquet(dir + "/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(all == Set(100L, 102L, 104L))
    } finally q.stop()
  }

  test("D13 dsirGateSink: frozen-model relevance gate equals the batch C46 rule") {
    import org.apache.spark.sql.functions.col
    // frozen model: target = cooking-ish docs, raw = cooking + legal
    val cook = (1L to 20L).map(i =>
      IngestDoc(i, "en", "simmer the onion butter garlic sauce then season and serve warm"))
    val legal = (21L to 40L).map(i =>
      IngestDoc(i, "en", "the party hereto shall indemnify pursuant to clause four herein"))
    val model = graft.operators.Dsir.train(
      spark.createDataFrame(cook), spark.createDataFrame(cook ++ legal),
      col("doc_id"), col("text"))
    val incoming = Seq(
      IngestDoc(100L, "en", "simmer garlic butter sauce and season to serve"),
      IngestDoc(101L, "en", "the party shall indemnify pursuant to clause herein"),
      IngestDoc(102L, "en", "warm onion sauce then serve"))
    val batchScores = graft.operators.Dsir.score(
        spark.createDataFrame(incoming), col("doc_id"), col("text"), model)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val cutoff = (batchScores(100L).min(batchScores(102L)) + batchScores(101L)) / 2
    assert(batchScores(101L) < cutoff, "off-target doc must score below the cutoff")

    val dir = java.nio.file.Files.createTempDirectory("graft-d13").toString
    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val q = EventStream.dsirGateSink(input.toDF(), "doc_id", col("text"),
      model, cutoff, dir + "/corpus", "lang", dir + "/ckpt")
    try {
      input.addData(incoming: _*)
      q.processAllAvailable()
      val landed = spark.read.parquet(dir + "/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(landed == Set(100L, 102L))
      // identical to the batch rule on the same input
      val batchKeep = batchScores.filter(_._2 >= cutoff).keySet
      assert(landed == batchKeep)
    } finally q.stop()
  }

  test("D15 classifierGateSink: frozen trained model gates equal to the batch C52 rule") {
    import org.apache.spark.sql.functions.col
    // frozen model trained on labeled seeds: clean prose vs spam
    val posSeed = (1L to 10L).map(i =>
      IngestDoc(i, "en", "clear prose with careful argument and clean structure"))
    val negSeed = (11L to 20L).map(i =>
      IngestDoc(i, "en", "buy now spam click free winner prize offer deal"))
    val model = graft.operators.Classifier.train(
      spark.createDataFrame(posSeed), spark.createDataFrame(negSeed),
      col("doc_id"), col("text"))
    val incoming = Seq(
      IngestDoc(100L, "en", "careful clean argument in clear prose"),
      IngestDoc(101L, "en", "click free spam offer buy now"),
      IngestDoc(102L, "en", "clean structure and careful prose"))
    val batchRows = graft.operators.Classifier.score(
        spark.createDataFrame(incoming), col("doc_id"), col("text"), model)
      .collect().map(r => (r.getLong(0), (r.getDouble(2), r.getBoolean(3)))).toMap
    assert(batchRows(100L)._2 && !batchRows(101L)._2 && batchRows(102L)._2)

    val dir = java.nio.file.Files.createTempDirectory("graft-d15").toString
    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val q = EventStream.classifierGateSink(input.toDF(), "doc_id", col("text"),
      model, cutoff = 0.0, dir + "/corpus", "lang", dir + "/ckpt")
    try {
      input.addData(incoming: _*)
      q.processAllAvailable()
      val landed = spark.read.parquet(dir + "/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(landed == Set(100L, 102L))
      // identical to the batch rule on the same input
      assert(landed == batchRows.filter(_._2._2).keySet)
    } finally q.stop()
  }

  test("D16 drops every input column text reads, as the analyzer resolves it") {
    // the PII-drop contract: whatever raw columns the scored text is
    // computed from never land — a case-mismatched or backticked
    // reference, a computed lower(body), a concat of two columns
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions.{col, concat, lit, lower}
    val docs = (1L to 8L).map(i => IngestDoc(i, "en",
      s"doc number $i with enough plain words to pass the gate"))
    val cfg = EventStream.IngestPipeline(minQuality = -1e9, nearDup = false)
    def landed(shape: DataFrame => DataFrame, text: Column): (Set[String], Long) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-d16raw").toString
      val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
      val q = EventStream.ingestPipelineSink(shape(input.toDF()), "doc_id", text, cfg,
        dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
      try {
        input.addData(docs: _*)
        q.processAllAvailable()
        val corpus = spark.read.parquet(dir + "/corpus")
        (corpus.columns.toSet, corpus.count())
      } finally q.stop()
    }
    val cases = Seq[(String, DataFrame => DataFrame, Column, Set[String])](
      ("col(\"Text\")", identity, col("Text"), Set("text")),
      ("a backticked name", _.withColumnRenamed("text", "my.text"), col("`my.text`"),
        Set("my.text")),
      ("lower(col(\"body\"))", _.withColumnRenamed("text", "body"), lower(col("body")),
        Set("body")),
      ("concat(title, body)",
        _.withColumnRenamed("text", "body").withColumn("title", lit("a title")),
        concat(col("title"), lit(" "), col("body")), Set("title", "body")))
    for ((what, shape, text, sources) <- cases) {
      val (cols, rows) = landed(shape, text)
      assert(rows == docs.size, s"$what: every doc lands")
      assert(cols.contains("scrubbed") && cols.contains("doc_id") && cols.contains("lang"),
        s"$what: $cols")
      assert(cols.intersect(sources).isEmpty, s"$what: raw source columns landed: $cols")
    }
  }

  test("D16 refuses a text that reads the id or partition column") {
    // those columns land in the corpus, so the raw text they would
    // carry cannot be dropped — refused at sink construction
    import org.apache.spark.sql.functions.{col, concat}
    val cfg = EventStream.IngestPipeline(minQuality = -1e9, nearDup = false)
    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val dir = java.nio.file.Files.createTempDirectory("graft-d16refuse").toString
    val active = spark.streams.active.length
    for (text <- Seq(concat(col("lang"), col("text")), col("LANG"), col("doc_id").cast("string"))) {
      val e = intercept[IllegalArgumentException] {
        EventStream.ingestPipelineSink(input.toDF(), "doc_id", text, cfg,
          dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
      }
      assert(e.getMessage.contains("lands in the corpus"), e.getMessage)
    }
    assert(spark.streams.active.length == active, "a refused sink must start no query")
  }

  test("D16 ingestPipelineSink: one stream applies the whole ladder; equals the batch rules composed") {
    import org.apache.spark.sql.functions.{col, lower}
    import graft.operators.{Classifier, Contamination, Dsir, LangModel, Quality}
    // frozen models: cooking prose is the "good" class everywhere
    val cookTxt = "simmer the onion butter garlic sauce then season and serve warm"
    val cook = (1L to 20L).map(i => IngestDoc(i, "en", cookTxt))
    val legal = (21L to 40L).map(i =>
      IngestDoc(i, "en", "the party hereto shall indemnify pursuant to clause four herein"))
    val spam = (41L to 50L).map(i =>
      IngestDoc(i, "en", "buy now spam click free winner prize offer deal"))
    val cookDF = spark.createDataFrame(cook)
    val lmModel = LangModel.train(cookDF, lower(col("text")))
    val clfModel = Classifier.train(cookDF, spark.createDataFrame(spam),
      col("doc_id"), col("text"))
    val dsirModel = Dsir.train(cookDF, spark.createDataFrame(cook ++ legal),
      col("doc_id"), col("text"))
    val evalGrams = Contamination.evalGramSet(
      spark.createDataFrame(Seq(IngestDoc(900L, "en", "alpha beta gamma delta epsilon zeta"))),
      col("doc_id"), lower(col("text")), 5).localCheckpoint(true)

    // one planted drop per stage + survivors
    val docs = Seq(
      IngestDoc(1L, "en", cookTxt + " tonight"),                       // lands
      IngestDoc(2L, "en", "%%% ### 0101 &&& *** ((( ))) ;;; @@@"),     // quality
      IngestDoc(3L, "en", "zq xv jj qq kk zz xx vv ww yy"),            // LM garbage
      IngestDoc(4L, "en", "buy now spam click free winner prize offer deal"), // classifier
      IngestDoc(5L, "en", "the party hereto shall indemnify pursuant to clause four herein"), // DSIR
      IngestDoc(6L, "en", "intro alpha beta gamma delta epsilon outro serve warm words"), // decon
      IngestDoc(7L, "en", cookTxt + " friends"))                       // near-dup of 1
    val batch2 = Seq(
      IngestDoc(8L, "en", cookTxt + " today"),                         // near-dup vs store
      IngestDoc(9L, "en", "warm garlic butter sauce then serve and season the onion")) // lands

    val all = spark.createDataFrame(docs ++ batch2)
    // per-doc stage verdicts are pure functions of frozen models, so
    // cutoffs derive from batch scores exactly like the D12-D15 specs
    val qScores = Quality.scored(all, col("text"))
      .select("doc_id", "quality_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val keepersQ = Set(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L)
    assert(qScores(2L) < keepersQ.map(qScores).min, s"quality fixture: $qScores")
    val minQ = (qScores(2L) + keepersQ.map(qScores).min) / 2
    val lmScores = LangModel.score(all, col("doc_id"), lower(col("text")), lmModel)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(lmScores(3L) > Set(1L, 7L, 8L, 9L).map(lmScores).max)
    val lmCut = (lmScores(3L) + Set(1L, 7L, 8L, 9L).map(lmScores).max) / 2
    val clfScores = Classifier.score(all, col("doc_id"), col("text"), clfModel)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(clfScores(4L) < Set(1L, 7L, 8L, 9L).map(clfScores).min)
    val clfCut = (clfScores(4L) + Set(1L, 7L, 8L, 9L).map(clfScores).min) / 2
    val dsirScores = Dsir.score(all, col("doc_id"), col("text"), dsirModel)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(dsirScores(5L) < Set(1L, 7L, 8L, 9L).map(dsirScores).min)
    val dsirCut = (dsirScores(5L) + Set(1L, 7L, 8L, 9L).map(dsirScores).min) / 2

    val dir = java.nio.file.Files.createTempDirectory("graft-d16").toString
    val cfg = EventStream.IngestPipeline(
      minQuality = minQ,
      lm = Some((lmModel, lmCut)),
      clf = Some((clfModel, clfCut)),
      dsir = Some((dsirModel, dsirCut)),
      decon = Some((evalGrams, 5, 0L)),
      nearDup = true)
    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val q = EventStream.ingestPipelineSink(input.toDF(), "doc_id", col("text"),
      cfg, dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
    def landed() = spark.read.parquet(dir + "/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      // every planted category caught; the clean doc lands; the
      // within-batch near-dup (7, same family as 1) keep-firsts away
      assert(landed() == Set(1L))
      input.addData(batch2: _*)
      q.processAllAvailable()
      // 8 matches STORED 1 (cross-arrival) and drops; 9 lands
      assert(landed() == Set(1L, 9L))
      // the corpus carries the D7 outputs: scrubbed text + quality —
      // and NOT the raw text column (the PII-never-lands contract)
      val cols = spark.read.parquet(dir + "/corpus").columns.toSet
      assert(cols.contains("scrubbed") && cols.contains("quality_score"))
      assert(!cols.contains("text"),
        "raw (unscrubbed) text must not reach the landed corpus")
      // equals the batch rules composed on the same input: per-doc
      // score gates are pure, so sequential == intersection, then
      // global keep-first near-dup over the score-clean set
      val scoreClean = (docs ++ batch2).map(_.doc_id).filter { id =>
        qScores(id) >= minQ && lmScores(id) <= lmCut &&
          clfScores(id) > clfCut && dsirScores(id) >= dsirCut }
      val cleanDF = all.filter(col("doc_id").isin(scoreClean: _*))
      val shared = Contamination.sharedGramsVs(cleanDF, evalGrams,
          col("doc_id"), lower(col("text")), 5)
        .filter(col("shared_grams") > 0).select("id")
        .collect().map(_.getLong(0)).toSet
      val deconClean = scoreClean.filterNot(shared)
      val dedupIn = all.filter(col("doc_id").isin(deconClean: _*))
      val droppedDup = graft.operators.MinHash.nearDupPairs(
          dedupIn, col("doc_id"), col("text"))
        .select("doc_b").collect().map(_.getLong(0)).toSet
      assert(landed() == deconClean.toSet -- droppedDup)
    } finally q.stop()
  }

  test("D16 warm micro-batch job count stays at its pinned ceiling") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // every fresh doc's tokens carry its id, so no two fresh docs share
    // a shingle; the measured batch re-sends 10 stored docs (dropped by
    // the near-dup gate) next to 40 fresh ones (landed)
    def doc(i: Long) = IngestDoc(i, if (i % 2 == 0) "en" else "de",
      (1 to 12).map(t => s"d${i}w$t").mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("graft-d16-jobs").toString
    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val q = EventStream.ingestPipelineSink(input.toDF(), "doc_id", col("text"),
      EventStream.IngestPipeline(), dir + "/store", dir + "/corpus", "lang", dir + "/ckpt")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") == q.id.toString))
          jobs.incrementAndGet()
    }
    try {
      // two warm-up batches: the store exists and carries sidecars
      for (b <- 0 until 2) {
        input.addData((b * 50L until b * 50L + 50L).map(doc): _*)
        q.processAllAvailable()
      }
      sc.addSparkListener(counter)
      input.addData(((100L until 140L) ++ (0L until 100L by 10L)).map(doc): _*)
      q.processAllAvailable()
      org.apache.spark.graft.Listeners.settle(sc)
      val landed = spark.read.parquet(dir + "/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(landed == (0L until 140L).toSet)
      // the ceiling (55 jobs before the sink reused its checkpoint
      // counts and known store schemas, 37 before the near-dup gate
      // pinned its collapsed tables lazily and verified store and
      // batch candidates through one join): a new action or a
      // schema-less read in the sink (each spark.read.parquet without a
      // schema runs an inference job) fails here by name
      val ceiling = 17
      info(s"jobs in the warm batch: ${jobs.get}")
      assert(jobs.get <= ceiling,
        s"warm D16 micro-batch ran ${jobs.get} Spark jobs, ceiling $ceiling")
    } finally { sc.removeSparkListener(counter); q.stop() }
  }

  test("D11 splitSink: in-flight split equals the batch rule; partitioned layout") {
    import org.apache.spark.sql.functions.col
    val docs = (1L to 200L).map(i => IngestDoc(i, "en", s"doc number $i"))
    val dir = java.nio.file.Files.createTempDirectory("graft-d11").toString
    val input = MemoryStream[IngestDoc](spark)(Encoders.product[IngestDoc])
    val q = EventStream.splitSink(input.toDF(), "doc_id", valFraction = 0.25,
      dir + "/corpus", dir + "/ckpt")
    try {
      input.addData(docs.take(120): _*)
      q.processAllAvailable()
      input.addData(docs.drop(120): _*) // second arrival routes consistently
      q.processAllAvailable()
      val got = spark.read.parquet(dir + "/corpus")
        .select(col("doc_id"), col("split")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      val want = graft.operators.Sampling.trainValSplit(
          spark.createDataFrame(docs), col("doc_id"), 0.25)
        .select(col("doc_id"), col("split")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got == want)
      assert(got.values.toSet == Set("train", "val")) // both sides non-empty
      // hive layout → partition pruning for readers
      // (_spark_metadata is the sink's exactly-once manifest log)
      val dirs = new java.io.File(dir + "/corpus").listFiles
        .filter(f => f.isDirectory && !f.getName.startsWith("_"))
        .map(_.getName).toSet
      assert(dirs == Set("split=train", "split=val"), s"got $dirs")
    } finally q.stop()
  }

  case class Keyed(ts: Timestamp, grp: String, k: Long)

  test("D8 sketchCounts: closed-window sketches match batch bytes and union without rescan") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      Keyed(ts("2024-01-01 10:05:00"), "a", 1L),
      Keyed(ts("2024-01-01 10:10:00"), "a", 2L),
      Keyed(ts("2024-01-01 10:15:00"), "a", 2L), // dupe within group
      Keyed(ts("2024-01-01 10:20:00"), "b", 2L), // same key, other group
      Keyed(ts("2024-01-01 10:25:00"), "b", 3L))
    val input = MemoryStream[Keyed](spark)(Encoders.product[Keyed])
    val q = EventStream.sketchCounts(input.toDF(), col("grp"), col("k"), watermark = "1 hour")
      .writeStream.format("memory").queryName("d8_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(Keyed(ts("2024-01-01 13:00:00"), "a", 9L)) // close the 10:00 window
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT grp, n_distinct FROM d8_out ORDER BY grp").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("a", 2L), ("b", 2L)), s"got $got") // HLL exact at tiny cardinality
      // stream sketch bytes ≡ batch sketch bytes over the same rows —
      // the mergeable-interchange contract, not just equal estimates
      val batch = spark.createDataFrame(rows.filter(_.grp == "a"))
        .agg(hll_sketch_agg(col("k"), lit(12)).as("sk")).collect().head.getAs[Array[Byte]](0)
      val streamed = spark.table("d8_out").filter(col("grp") === "a")
        .select(col("sketch")).collect().head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(batch, streamed))
      // rollup WITHOUT rescanning events: union the emitted sketches
      val total = spark.table("d8_out")
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false))).as("n"))
        .collect().head.getLong(0)
      assert(total == 3L) // distinct keys 1, 2, 3 across both groups
    } finally q.stop()
  }

  test("Pins.count: a checkpoint's stored count costs no job; other frames count") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.operators.Pins
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf[T](body: => T): (T, Int) = {
      org.apache.spark.graft.Listeners.settle(sc)
      jobs.set(0)
      val r = body
      org.apache.spark.graft.Listeners.settle(sc)
      (r, jobs.get)
    }
    sc.addSparkListener(counter)
    try {
      var pinnedRdd = -1
      EventStream.unpersistBatchPins {
        val src = spark.range(0, 1000, 1, 4).toDF("id").filter("id % 7 <> 0")
        // the checkpoint itself is ONE job, as an eager checkpoint is
        val (p, ckptJobs) = jobsOf(Pins.checkpoint(src))
        assert(ckptJobs == 1, s"checkpoint ran $ckptJobs jobs")
        val (n, countJobs) = jobsOf(Pins.count(p))
        assert(n == 857L && countJobs == 0, s"count $n in $countJobs jobs")
        // a lazy frame, and a frame DERIVED from a pin, pay a real count
        val (lazyN, lazyJobs) = jobsOf(Pins.count(src))
        assert(lazyN == 857L && lazyJobs >= 1)
        val (derivedN, derivedJobs) = jobsOf(Pins.count(p.filter("id < 100")))
        assert(derivedN == 85L && derivedJobs >= 1)
        pinnedRdd = p.queryExecution.logical
          .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
        assert(sc.getPersistentRDDs.contains(pinnedRdd))
      }
      // a counted pin is reaped at end of batch like any other
      assert(!sc.getPersistentRDDs.contains(pinnedRdd),
        "the counted pin must be reaped by unpersistBatchPins")
    } finally sc.removeSparkListener(counter)
  }

  test("unpersistBatchPins: own pins reaped, pre-existing and sibling pins survive") {
    val sc = spark.sparkContext
    val pre0 = sc.getPersistentRDDs.keySet
    try {
      // a pre-existing pin (a harness's frozen model table) must
      // survive a sink batch AND stay usable afterwards — its lineage
      // is truncated, so a wrongful reap would be a hard failure
      val frozen = spark.range(100).toDF("id").localCheckpoint(true)
      val beforeBody = sc.getPersistentRDDs.keySet
      var innerIds = Set.empty[Int]
      val warns = sparkWarnings {
        EventStream.unpersistBatchPins {
          val pin1 = graft.operators.Pins.checkpoint(spark.range(10).toDF("a"))
          val pin2 = graft.operators.Pins.checkpoint(spark.range(10).toDF("b"))
          innerIds = sc.getPersistentRDDs.keySet.diff(beforeBody).toSet
          assert(innerIds.size >= 2, "body pins must register while the batch runs")
          assert(pin1.count() == 10 && pin2.count() == 10)
        }
      }
      // batch-scoped pins are gone after the batch...
      assert(sc.getPersistentRDDs.keySet.intersect(innerIds).isEmpty,
        "batch-scoped pins must be reaped at end of batch")
      // ...without Spark's lineage-truncation WARN per reaped pin
      // (RDD.unpersist logs one for every localCheckpoint)
      assert(!warns.exists(_.contains("locally checkpointed")), warns.mkString("\n"))
      // ...and the pre-existing pin is untouched and still collectable
      assert(beforeBody.subsetOf(sc.getPersistentRDDs.keySet),
        "pre-existing pins must survive the reap")
      assert(frozen.count() == 100)
      // a body checkpoint NOT routed through Pins.checkpoint is left
      // to the gc60 regime, never reaped by this batch (the documented
      // fallback for un-routed sink-path pins)
      var unrouted: org.apache.spark.sql.DataFrame = null
      EventStream.unpersistBatchPins {
        unrouted = spark.range(7).toDF("c").localCheckpoint(true)
      }
      assert(unrouted.count() == 7, "un-routed pins must survive the reap")
      // SIBLING ISOLATION (the r17 two-sink failure mode): a reap on
      // one thread must never touch another body's in-flight pins —
      // ownership is the thread-local record, not a global diff. The
      // old before/after-diff reap caught the sibling's pin and the
      // sibling hard-failed on a truncated lineage
      // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND in the two-sink probe).
      val aStarted = new java.util.concurrent.CountDownLatch(1)
      val bDone = new java.util.concurrent.CountDownLatch(1)
      val aFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val tA = new Thread(() => {
        try EventStream.unpersistBatchPins {
          val p = graft.operators.Pins.checkpoint(spark.range(7).toDF("c"))
          aStarted.countDown()
          bDone.await()
          // B's body has pinned and reaped meanwhile; A's pin must
          // still be usable (a wrongful reap truncates its lineage
          // and this count hard-fails)
          assert(p.count() == 7)
        } catch { case t: Throwable => aFailure.set(t) }
      }, "pins-sibling-a")
      tA.start(); aStarted.await()
      EventStream.unpersistBatchPins {
        assert(graft.operators.Pins.checkpoint(spark.range(5).toDF("d")).count() == 5)
      }
      bDone.countDown(); tA.join()
      assert(aFailure.get() == null,
        s"sibling body's in-flight pin was reaped: ${aFailure.get}")
    } finally
      // leave the shared session as found
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pre0.contains(id)) rdd.unpersist(blocking = false)
      }
  }
}
