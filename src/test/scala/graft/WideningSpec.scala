package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.functions.TextFunctions
import graft.operators.{Shingles, Skew}
import graft.sources.Sink
import graft.streaming.EventStream

class WideningSpec extends SparkSpec {
  import spark.implicits._

  test("driver contract: every oracle key has a query; names are stable") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty,
      s"oracleSql declares queries that don't exist (the driver would record them as errors): $orphans")
    // name hygiene: the driver sorts and path-joins these
    assert(qs.forall(_.matches("[a-z0-9_]+")), qs.filterNot(_.matches("[a-z0-9_]+")))
  }

  test("E1 events time handling adapts to nanos-long and timestamp ts forms") {
    // the testdata's events.ts has shipped both as parquet
    // TIMESTAMP(NANOS) (Spark-visible as a raw long under the legacy
    // knob) and as TIMESTAMP(MICROS)/_NTZ — the loader and the
    // stored-domain cutoffs must treat the two forms identically,
    // and the current corpus only exercises one of them
    val dir = Files.createTempDirectory("graft-tsforms").toString
    val rows = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-10 12:30:00"),
      (3L, "2024-01-20 23:59:59")).toDF("event_id", "s")
    rows.select(col("event_id"), expr("cast(s as timestamp_ntz)").as("ts"))
      .write.parquet(s"$dir/ntz")
    rows.select(col("event_id"),
        (expr("cast(cast(s as timestamp) as long)") * 1000000000L).as("ts"))
      .write.parquet(s"$dir/nanos")
    val ntz = spark.read.parquet(s"$dir/ntz")
    val nanos = spark.read.parquet(s"$dir/nanos")
    assert(ntz.schema("ts").dataType != nanos.schema("ts").dataType)
    // eventsFromRaw lands both on the same session timestamps
    def shaped(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      Tables.eventsFromRaw(df)
        .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(shaped(ntz) == shaped(nanos))
    assert(shaped(ntz).map(_._2) == rows.select("s").as[String].collect().toSeq)
    // stored-domain cutoff keeps the same rows in both forms, and the
    // predicate reaches the parquet scan (the 100 TB point of the
    // stored domain) for both
    def kept(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val f = df.filter(col("ts") >= Tables.storedTsLit(df, "ts", "2024-01-10 00:00:00"))
      val plan = f.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), plan)
      f.select("event_id").as[Long].collect().toSeq.sorted
    }
    assert(kept(ntz) == Seq(2L, 3L))
    assert(kept(ntz) == kept(nanos))
    // the mode filter dispatches the same way
    def mode(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      operators.ModeFilter.applyStored(df, "ts", "incremental", "2024-01-20 00:00:00", 7)
        .select("event_id").as[Long].collect().toSeq.sorted
    assert(mode(ntz) == Seq(3L))
    assert(mode(ntz) == mode(nanos))
  }

  test("C13 scrub redacts emails, urls, phones with typed tokens") {
    val df = Seq("mail a.b+c@x-corp.io or call +44-20-7946-0958 via https://x.io/a?b=1 end").toDF("t")
    val got = df.select(TextFunctions.scrub(col("t"))).as[String].head()
    assert(got == "mail <EMAIL> or call <PHONE> via <URL> end")
    val (e, u, p) = TextFunctions.piiCounts(col("t"))
    val counts = df.select(e, u, p).as[(Int, Int, Int)].head()
    assert(counts == ((1, 1, 1)))
  }

  test("C15 normalize strips controls, collapses whitespace, lowercases") {
    val df = Seq("  A\u0001B\t\tC   D\u007f ").toDF("t")
    assert(df.select(TextFunctions.normalize(col("t"))).as[String].head() == "a b c d")
  }

  test("C14 repetitionStats flags degenerate text") {
    val docs = Seq(
      (1L, "spam spam spam spam ham"),      // top token 4/5
      (2L, "a b c d e f")).toDF("doc_id", "text")
    val byId = Shingles.repetitionStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(byId(1L)._1 == 0.8)       // 4 of 5 tokens are "spam"
    assert(byId(1L)._2 == 0.75)      // "spam spam" is 3 of 4 bigrams
    assert(byId(2L)._1 == math.rint(1.0 / 6.0 * 1e6) / 1e6)
  }

  test("C8 join-based LangId equals the map-side column function") {
    val docs = Seq(
      (1L, "the cat of the house is that it"),
      (2L, "el que de la casa y un una"),
      (3L, "xyzzy plugh"),
      (4L, "der und die ist le la de")).toDF("doc_id", "text")
    val joined = graft.operators.LangId.detect(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val mapped = docs.select(col("doc_id"), TextFunctions.langId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(joined == mapped)
    assert(joined(3L) == "und")
  }

  test("C17 sampling: deterministic, repartition-stable, fraction-accurate") {
    import graft.operators.Sampling
    val df = (1L to 4000L).toDF("id")
    val n1 = Sampling.bernoulli(df, col("id"), 0.25).count()
    val n2 = Sampling.bernoulli(df.repartition(13), col("id"), 0.25).count()
    assert(n1 == n2)                       // stable under repartition
    assert(math.abs(n1 - 1000.0) < 100)    // ~25% of 4000
    val split = Sampling.trainValSplit(df, col("id"), 0.25)
    assert(split.filter(col("split") === "val").count() == n1) // same membership rule
    val strat = Sampling.stratified(df, col("id"),
      when(col("id") % 2 === 0, "even").otherwise("odd"),
      Map("even" -> 1.0, "odd" -> 0.0))
    assert(strat.count() == 2000 && strat.filter(col("id") % 2 === 1).count() == 0)
  }

  test("B11/A13b approx sketches track their exact twins within tolerance") {
    val dir = "/root/testdata/sf0.001"
    // approx_percentile with accuracy 10000 is EXACT below 10k rows
    // per group at this sf — but assert a tolerance, not equality,
    // to pin the contract rather than the corpus size
    val exactQ = SparkEntry.queries("b10_quantiles")(spark, dir)
      .select("l_returnflag", "q50").as[(String, Double)].collect().toMap
    val approxQ = SparkEntry.queries("b11_quantiles_approx")(spark, dir)
      .select("l_returnflag", "q50").as[(String, Double)].collect().toMap
    assert(exactQ.keySet == approxQ.keySet)
    exactQ.foreach { case (k, v) =>
      assert(math.abs(approxQ(k) - v) <= math.max(1.0, 0.05 * math.abs(v)), s"q50($k)") }
    // lgK-14 HLL sketch: relative standard error 1.04/sqrt(2^14) ≈
    // 0.81 %; allow 6 RSE (≈ 4.9 %, under 5 %) against the exact counts
    val tol = 6 * 1.04 / math.sqrt((1 << 14).toDouble)
    val exact = SparkEntry.queries("a13_cleanup_stats")(spark, dir)
      .select("unique_messages", "unique_content").as[(Long, Long)].head()
    val approx = SparkEntry.queries("a13b_stats_approx")(spark, dir)
      .select("unique_messages_approx", "unique_content_approx").as[(Long, Long)].head()
    assert(math.abs(approx._1 - exact._1) <= math.max(2.0, tol * exact._1), s"$approx vs $exact")
    assert(math.abs(approx._2 - exact._2) <= math.max(2.0, tol * exact._2), s"$approx vs $exact")
  }

  test("E5 salted join equals the plain join") {
    val probe = (1L to 1000L).map(i => (if (i % 10 == 0) "hot" else s"k$i", i)).toDF("key", "id")
    val build = Seq(("hot", "H"), ("k1", "A"), ("k7", "B")).toDF("key", "tag")
    val salted = Skew.saltedJoin(probe, build, "key", col("id"), salts = 8)
    val plain = probe.join(build, "key")
    assert(salted.count() == plain.count())
    assert(salted.select("key", "id", "tag").collect().toSet ==
      plain.select("key", "id", "tag").collect().toSet)
  }

  test("E6 csv/json sinks round-trip with Tables.loadFormat") {
    val dir = Files.createTempDirectory("graft-fmt").toString
    val df = Seq((1L, "a,b \"quoted\"", 1.5), (2L, "plain", -3.0)).toDF("id", "s", "v")
    Sink.writeCsv(df, s"$dir/csv")
    Sink.writeJson(df, s"$dir/json")
    Sink.writeOrc(df, s"$dir/orc")
    val orcBack = Tables.loadFormat(spark, s"$dir/orc", "orc")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    val csvBack = Tables.loadFormat(spark, s"$dir/csv", "csv")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    val jsonBack = Tables.loadFormat(spark, s"$dir/json", "json")
      .select("id", "s", "v").orderBy("id").as[(Long, String, Double)].collect().toSeq
    val want = Seq((1L, "a,b \"quoted\"", 1.5), (2L, "plain", -3.0))
    assert(csvBack == want)
    assert(jsonBack == want)
    assert(orcBack == want)
  }

  test("D14 urlDedup: variants collapse on the canonical key; malformed rows drop") {
    import WideningSpec.Page
    val input = MemoryStream[Page](spark)(Encoders.product[Page])
    val q = EventStream.urlDedup(input.toDF(), "url", watermark = "1 hour")
      .writeStream.format("memory").queryName("d14_out")
      .outputMode(OutputMode.Append).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      input.addData(
        Page(t("2024-01-01 10:00:00"), "https://Site.ORG:443/a/?utm_source=x&b=2&a=1#f"),
        Page(t("2024-01-01 10:00:05"), "https://site.org/a?a=1&b=2"), // same canonical
        Page(t("2024-01-01 10:00:10"), "https://site.org/other"),
        Page(t("2024-01-01 10:00:15"), "not a url at all"))          // NULL → dropped
      q.processAllAvailable()
      val got = spark.sql("SELECT canonical_url, count(*) c FROM d14_out GROUP BY 1")
        .as[(String, Long)].collect().toMap
      assert(got == Map("https://site.org/a?a=1&b=2" -> 1L,
        "https://site.org/other" -> 1L), got.toString)
    } finally q.stop()
  }

  test("D3 streaming dedup keeps first occurrence within watermark") {
    val input = MemoryStream[EventStream.Event](spark)(Encoders.product[EventStream.Event])
    val q = EventStream.dedup(input.toDF(), Seq("event_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("d3_out")
      .outputMode(OutputMode.Append).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      input.addData(
        EventStream.Event(1L, 100L, t("2024-01-01 10:00:00"), 1.0),
        EventStream.Event(1L, 100L, t("2024-01-01 10:00:05"), 2.0),
        EventStream.Event(2L, 200L, t("2024-01-01 10:01:00"), 3.0))
      q.processAllAvailable()
      input.addData(EventStream.Event(3L, 100L, t("2024-01-01 10:02:00"), 4.0))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id, count(*) c FROM d3_out GROUP BY event_id")
        .as[(Long, Long)].collect().toMap
      assert(ids == Map(100L -> 1L, 200L -> 1L)) // dup event_id 100 dropped twice
    } finally q.stop()
  }
}

object WideningSpec {
  /** A crawled page row for the D14 gate (top-level: encoder TypeTag). */
  case class Page(ts: Timestamp, url: String)
}
