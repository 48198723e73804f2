package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HtmlFunctions, TextFunctions, UrlFunctions}
import graft.operators.{Cleanup, Dedup, Jaccard, MinHash, Quality, Sessionize, Shingles, SimHash, Similarity, Upsert}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query obeys SURVEY §4 portability rules so the DuckDB oracle
  * hash-matches: md5-only hashing, decimal-exact money aggregation,
  * ROUND(,6) on float outputs, literal time cutoffs, sorted
  * concat_ws for arrays, total-order sort keys.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal sum of a money expression, emitted as double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Timestamps in outputs are rendered as strings (SURVEY §4.4). */
  private def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
  private def fmtSec(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("b1_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ================================================================ A
  // Reference-derived operators (pasta-pipeline semantics).

  /** A1 hashtag extraction (utils.py:20): every word of the document
    * is turned into a '#tag' deterministically, then the real
    * extractor runs: group-1 regex, lowercase, dedup. Map-side only. */
  private def a1(s: SparkSession, dir: String): DataFrame = {
    val msg = concat(lit("#"), regexp_replace(col("text"), lit(" "), lit(" #")))
    t(s, dir, "documents").select(
      col("doc_id"),
      concat_ws(",", array_sort(TextFunctions.extractTags(msg))).as("tags"))
      .orderBy(col("doc_id"))
  }

  /** A2 link extraction + trailing-punctuation cleanup (utils.py:4). */
  private def a2(s: SparkSession, dir: String): DataFrame = {
    val msg = concat(
      lit("see https://telegra.ph/"), col("lang"), lit("-"), col("doc_id"),
      lit(" and (https://telegra.ph/p-"), col("source"), lit(".) end"))
    t(s, dir, "documents").select(
      col("doc_id"),
      concat_ws(",", array_sort(TextFunctions.extractLinks(msg))).as("links"))
      .orderBy(col("doc_id"))
  }

  /** A3 message normalization (message_scraper.py:24 format_message):
    * typed projection with null defaults. Pure map-side. */
  private def a3(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id").as("message_id"),
      fmtTs(col("ts")).as("date"),
      coalesce(col("props"), lit("")).as("text"),
      coalesce(col("value"), lit(0.0)).as("views"),
      coalesce(col("event_type"), lit("unknown")).as("kind"))
      .orderBy(col("message_id"))

  /** A4 keyed upsert keep-latest (db_loader.py:166 ON CONFLICT):
    * merge an "existing" and an "incoming" batch; newest (ts,
    * event_id) wins per (user_id, event_type). One shuffle. */
  private def a4(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val existing = e.filter(col("ts") < lit("2024-01-15 00:00:00"))
    val incoming = e.filter(col("ts") >= lit("2024-01-15 00:00:00"))
    Upsert.merge(existing, incoming, Seq("user_id", "event_type"),
      Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_type"), col("event_id"),
        fmtTs(col("ts")).as("ts"), col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** A5 unprocessed-link selection (telegraph_processor.py:81):
    * DISTINCT refs minus already-processed targets — an anti-join,
    * broadcast when the processed side is small. */
  private def a5(s: SparkSession, dir: String): DataFrame = {
    val pending = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey")).distinct()
    val processed = t(s, dir, "customer").filter(col("c_acctbal") > 0)
      .select(col("c_custkey"))
    pending.join(processed, col("o_custkey") === col("c_custkey"), "left_anti")
      .orderBy(col("o_custkey"))
  }

  /** A6 MD5 content hash + word count (telegraph_processor.py:128,142). */
  private def a6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.contentHash(col("text")).as("content_hash"),
      TextFunctions.wordCount(col("text")).cast("long").as("word_count"))
      .orderBy(col("doc_id"))

  /** A7 HTML field extraction (telegraph_processor.py:191-229): a
    * deterministic Telegraph-shaped page is synthesized per document
    * (h1 present only for even ids → exercises the <title> fallback),
    * then title/description/published-time are extracted. */
  private def a7(s: SparkSession, dir: String): DataFrame = {
    val day = lpad(((col("doc_id") % 27) + 1).cast("string"), 2, "0")
    val h1 = when(col("doc_id") % 2 === 0,
      concat(lit("<h1> "), upper(col("lang")), lit(" story </h1>"))).otherwise(lit(""))
    val html = concat(
      lit("<html><head><title>"), col("source"), lit(" – Telegraph</title>"),
      lit("<meta property=\"article:published_time\" content=\"2024-01-"), day,
      lit("T08:30:00+00:00\">"),
      lit("<meta property=\"twitter:description\" content=\""),
      substring(col("text"), 1, 40), lit("\">"),
      lit("</head><body>"), h1, lit("</body></html>"))
    t(s, dir, "documents").select(
      col("doc_id"),
      HtmlFunctions.extractTitle(html).as("title"),
      HtmlFunctions.extractMeta(html, "twitter:description").as("description"),
      fmtSec(HtmlFunctions.extractPublishedTime(html)).as("date_published"))
      .orderBy(col("doc_id"))
  }

  /** A8 dedup keep-latest per key (duplicate_remover.py:28): one
    * window shuffle on the key, newest row survives. */
  private def a8(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLatest(t(s, dir, "events"), Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), fmtTs(col("ts")).as("ts"))
      .orderBy(col("user_id"))

  /** A9 dedup keep-first per content hash (duplicate_remover.py:74):
    * hash = md5 of the first 30 chars (collision-rich on purpose). */
  private def a9(s: SparkSession, dir: String): DataFrame =
    Dedup.keepFirstByHash(t(s, dir, "documents"),
      md5(substring(col("text"), 1, 30)), Seq(col("doc_id")))
      .select(col("doc_id"), md5(substring(col("text"), 1, 30)).as("content_hash"))
      .orderBy(col("doc_id"))

  /** A10 orphan-reference nulling (duplicate_remover.py:122): refs
    * not present in the target table are nulled via a left join
    * against the distinct (broadcastable) key set. */
  private def a10(s: SparkSession, dir: String): DataFrame =
    Cleanup.nullifyOrphans(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
      "o_custkey",
      t(s, dir, "customer").filter(col("c_acctbal") > 0), "c_custkey")
      .orderBy(col("o_orderkey"))

  /** A11 failed-row purge (duplicate_remover.py:160): survivors of
    * status∈set ∧ retries≥3 ∧ stale. Filter pushed to the scan. */
  private def a11(s: SparkSession, dir: String): DataFrame =
    Cleanup.purgeFailed(t(s, dir, "events"),
      col("event_type"), Seq("error", "timeout"),
      col("value"), 3, col("ts"), "2024-01-20 00:00:00")
      .select(col("event_id"))
      .orderBy(col("event_id"))

  /** A12 retention purge (duplicate_remover.py:199). The cutoff is
    * applied in the STORED domain of the time column (long nanos or
    * native timestamp — see Tables.storedTsLit) so it reaches the
    * parquet scan (PushedFilters) — a filter on a CONVERTED column
    * would scan everything at 100 TB. Equivalence is exact for
    * whole-second cutoffs. */
  private def a12(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.loadEventsRaw(s, dir)
    Tables.eventsFromRaw(
      Cleanup.retention(raw, col("ts"),
        Tables.storedTsLit(raw, "ts", "2024-01-05 00:00:00")))
      .select(col("event_id"), fmtTs(col("ts")).as("ts"))
      .orderBy(col("event_id"))
  }

  /** A13 statistics dashboard (duplicate_remover.py:246-283),
    * including the orphaned-links counter (py:274-278): events whose
    * JSON link value has no matching document. */
  private def a13(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Cleanup.stats(
      t(s, dir, "events"), col("user_id"), col("props"),
      docs.withColumn("status", when(col("lang") === "en", "success").otherwise(col("lang"))),
      md5(col("text")), col("status"),
      get_json_object(col("props"), "$.k").cast("int"), col("doc_id"))
  }

  /** A14 incremental processing mode (dag.py:56-60): 7-day lookback
    * window from a reference instant, applied stored-side for scan
    * pushdown (same rationale as A12) via ModeFilter.applyStored. */
  private def a14(s: SparkSession, dir: String): DataFrame =
    operators.ModeFilter.applyStored(Tables.loadEventsRaw(s, dir), "ts",
        "incremental", "2024-01-15 00:00:00", 7)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("event_type"))

  /** A15 JSON prop handling (db_loader.py:98 reactions JSONB). */
  private def a15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .orderBy(col("event_id"))

  // ================================================================ B
  // Analytics core.

  /** B1 TPC-H Q1 shape: single-shuffle grouped aggregation with
    * map-side partials; decimal-exact sums per SURVEY §4.2. */
  private def b1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** B2 TPC-H Q3 shape: dimension filter → broadcast join → agg →
    * deterministic top-10 (revenue desc, key asc tie-break). */
  private def b2(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // no broadcast hint on customer: it SCALES with the corpus (15B
    // rows at 100 TB TPC-H) — AQE broadcasts it when runtime-small
    l.join(o.join(c, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .select(col("o_orderkey"), fmtSec(col("o_orderdate")).as("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** B3 TPC-H Q5 shape: star join. Only the genuinely BOUNDED
    * dimensions (region: 5 rows, nation: 25 — fixed by the schema,
    * sf-independent) carry broadcast hints; customer/supplier scale
    * with the corpus, so their joins are left to AQE, which
    * broadcasts them while runtime-small and falls back to shuffle
    * joins at sizes where a forced broadcast would OOM the driver. */
  private def b3(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val cst = t(s, dir, "customer")
    val sup = t(s, dir, "supplier")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cst, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** B4 top-N per group via window ranking: one shuffle on the
    * grouping key; totals are decimal-exact so ranks are portable. */
  private def b4(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("total_spend"))
    val c = t(s, dir, "customer").join(broadcast(t(s, dir, "nation")),
      col("c_nationkey") === col("n_nationkey"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("total_spend").desc, col("c_custkey"))
    c.join(spend, col("c_custkey") === col("o_custkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("n_name"), col("rank"), col("c_custkey"), col("total_spend"))
      .orderBy(col("n_name"), col("rank"))
  }

  /** B5 gap-based sessionization (30-min gap): one shuffle on
    * user_id, per-key sort rides the exchange. */
  private def b5(s: SparkSession, dir: String): DataFrame =
    Sessionize.summarize(t(s, dir, "events"),
      col("user_id"), col("ts"), col("event_id"), 1800)
      .select(col("key").as("user_id"), col("session_id"),
        col("n_events"), fmtTs(col("session_start")).as("session_start"),
        fmtTs(col("session_end")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))

  /** B6 tumbling-window aggregation (streaming twin: D1). */
  private def b6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .select(fmtSec(col("hour")).as("hour"), col("event_type"), col("cnt"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** B7 term frequency: explode tokens → hash agg (map-side partials
    * collapse the long tail before the shuffle). */
  private def b7(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))

  /** B8 EXISTS/semi-join shape (TPC-H Q4 analog): orders in a window
    * having at least one late-shipped item, counted per priority.
    * The semi-join carries the non-equi lateness predicate alongside
    * the key; no duplicate-elimination pass is ever needed. */
  private def b8(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** B9 correlated-average shape (TPC-H Q17 analog): revenue from
    * items below 20% of their part's average quantity. The per-part
    * average aggregates once (decimal-exact) and broadcasts back —
    * the fact table never shuffles twice. */
  private def b9(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val lim = l.groupBy(col("l_partkey")).agg(
      (lit(0.2) * (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
        count(lit(1)))).as("lim"))
    val p = t(s, dir, "part")
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"))
    // part and the per-partkey averages both scale with the corpus —
    // no forced broadcast (AQE decides at runtime size)
    l.join(p, col("l_partkey") === col("p_partkey"))
      .join(lim, "l_partkey")
      .filter(col("l_quantity") < col("lim"))
      .groupBy(col("p_brand"))
      .agg(round(dsum(col("l_extendedprice")) / 7.0, 6).as("avg_yearly"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  /** B10 exact multi-quantile aggregation: interpolated percentiles
    * of quantity per return flag (the generalization of the
    * reference's stats dashboard percentiles). Spark's `percentile`
    * is the exact interpolated definition — identical to DuckDB's
    * quantile_cont — computed in one aggregate pass. At scale the
    * approx_percentile sketch is the drop-in for this shape. */
  private def b10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D, 0.9D))").as("q"))
      .select(col("l_returnflag"),
        round(element_at(col("q"), 1), 6).as("q25"),
        round(element_at(col("q"), 2), 6).as("q50"),
        round(element_at(col("q"), 3), 6).as("q75"),
        round(element_at(col("q"), 4), 6).as("q90"))
      .orderBy(col("l_returnflag"))

  /** B11 approx multi-quantile — the documented 100 TB drop-in for
    * B10's exact `percentile`: one pass, bounded sketch memory per
    * group, relative error ≤ 1/accuracy. Sketch results are
    * engine-specific (Spark uses KLL-style quantile summaries), so
    * this is a rows-only query; WideningSpec bounds the error against
    * the exact B10 answer instead. */
  private def b11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_quantity, array(0.25D, 0.5D, 0.75D, 0.9D), 10000)").as("q"))
      .select(col("l_returnflag"),
        round(element_at(col("q"), 1), 6).as("q25"),
        round(element_at(col("q"), 2), 6).as("q50"),
        round(element_at(col("q"), 3), 6).as("q75"),
        round(element_at(col("q"), 4), 6).as("q90"))
      .orderBy(col("l_returnflag"))

  /** A13b approx statistics dashboard — the sketch twin of A13: the
    * two exact `countDistinct`s (each a full shuffle of the distinct
    * key stream at 100 TB) become DataSketches HLL sketches
    * (`hll_sketch_agg` at lgK 14, the aggregate `operators.Sketches`
    * uses) that merge map-side in one fixed-size binary buffer.
    * Relative standard error ≈ 1.04/√2¹⁴ ≈ 0.81 %, inside the 1 %
    * the query declares. Sketch estimates are engine-specific →
    * rows-only; WideningSpec bounds the error. */
  private def a13b(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "events").agg(
      count(lit(1)).as("total_messages"),
      hllDistinct(col("user_id")).as("unique_messages_approx"))
    val c = t(s, dir, "documents").agg(
      count(lit(1)).as("total_content"),
      hllDistinct(md5(col("text"))).as("unique_content_approx"))
    m.crossJoin(c)
  }

  /** a13b's distinct-count estimate: an lgK-14 HLL sketch of `key`. */
  private def hllDistinct(key: Column): Column =
    hll_sketch_estimate(hll_sketch_agg(key, lit(14)))

  /** B12 as-of join: each click gets the user's newest purchase at or
    * before it — union + one per-user window, never a range-exploded
    * pair join (see operators.AsOf). (user_id, ts) is unique in the
    * events table, so the match is total-order deterministic. */
  private def b12(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purch_id"), col("value"), col("ts"))
    operators.AsOf.join(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("purch_id", "value"))
      .select(col("user_id"), col("event_id").as("click_id"), fmtTs(col("ts")).as("ts"),
        col("purch_id"), col("value").as("purch_value"))
      .orderBy(col("click_id"))
  }

  /** B13 keyless interval join: events within the 10 minutes before
    * each error, bucketed into an equi-join (see operators.RangeJoin)
    * instead of Spark's nested-loop fallback; zero-match errors kept
    * via the left join back. */
  private def b13(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("ts"))
    val near = operators.RangeJoin.intervalJoin(
        errors, col("ts"),
        e.select(col("event_id").as("rid"), col("ts").as("rts")), col("rts"),
        -600L, 0L)
      .groupBy(col("event_id")).agg(count(lit(1)).as("cnt"))
    errors.join(near, Seq("event_id"), "left")
      .select(col("event_id"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy(col("event_id"))
  }

  /** B14 rolling time-range window: per-user count + exact decimal
    * sum over the trailing hour (RANGE frame on second-floored epoch
    * — the portable frame both engines define identically). One
    * shuffle on user_id; the frame rides the per-key sort. */
  private def b14(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-3600L, 0L)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
      .withColumn("rolling_cnt", count(lit(1)).over(w))
      .withColumn("rolling_sum",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts"),
        col("rolling_cnt"), col("rolling_sum"))
      .orderBy(col("event_id"))
  }

  /** B15 rollup (grouping-set subtotals + grand total), the OLAP
    * cube family; subtotal rows render NULL group keys as 'ALL' so
    * both engines order identically. Runs through `ReAgg.rollup`
    * (B20): one finest-grain corpus aggregation, subtotals
    * re-aggregated from the tiny partials — no Expand replicating
    * every input row per grouping set (decimal sums re-aggregate
    * exactly, so output is identical to native rollup). */
  private def b15(s: SparkSession, dir: String): DataFrame =
    operators.ReAgg.rollup(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"),
        Seq(operators.ReAgg.sumOf("revenue", col("l_extendedprice").cast("decimal(18,2)")),
          operators.ReAgg.countAll("n")))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("revenue").cast("double").as("revenue"), col("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** B20 cube via re-aggregation: all four grouping sets of
    * (status, priority) from ONE corpus aggregation — native cube's
    * Expand would replicate every order row 2^k times (see
    * operators.ReAgg). */
  private def b20(s: SparkSession, dir: String): DataFrame =
    operators.ReAgg.cube(t(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority"),
        Seq(operators.ReAgg.sumOf("revenue", col("o_totalprice").cast("decimal(18,2)")),
          operators.ReAgg.countAll("n"),
          operators.ReAgg.maxOf("max_price", col("o_totalprice").cast("decimal(18,2)"))))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("revenue").cast("double").as("revenue"), col("n"),
        col("max_price").cast("double").as("max_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** B16 pivot: revenue matrix returnflag × linestatus. Pivot values
    * are EXPLICIT ("F", "O") so Spark needs no extra distinct-values
    * pass — one shuffle with map-side partials, like any grouped agg. */
  private def b16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_extendedprice")))
      .orderBy(col("l_returnflag"))

  /** B17 skyline: customers on the (total spend, order count) Pareto
    * frontier — two-phase distributed dominance prune, never the
    * O(n²) anti-join (see operators.Skyline). */
  private def b17(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spend"))
      .select(col("o_custkey"), col("n_orders"), col("total_spend"))
    operators.Skyline.of(spend, Seq(("n_orders", false), ("total_spend", false)))
      .orderBy(col("o_custkey"))
  }

  /** A18 snapshot diff: what an upsert cycle actually changed —
    * keep-latest snapshots of the events table at two cutoffs,
    * diffed per (user_id, event_type) key. Cumulative tables only
    * ever add/change; the 'removed' branch is exercised in
    * SnapshotSpec (see operators.Snapshot). */
  private def a18(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def snap(cutoff: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      ev.filter(col("ts") < lit(cutoff).cast("timestamp"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    }
    operators.Snapshot.diff(snap("2024-01-01 12:00:00"), snap("2024-01-31 00:00:00"),
        Seq("user_id", "event_type"), Seq("event_id", "value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** B18 funnel conversion: view → click → purchase, greedy
    * strictly-ordered stages per user — one user-key shuffle + a
    * codegen'd sorted fold, stage-count independent (the oracle's
    * min-ts cascade is the k-shuffle naive form; see
    * operators.Funnel). */
  private def b18(s: SparkSession, dir: String): DataFrame =
    operators.Funnel.steps(t(s, dir, "events"), col("user_id"), col("ts"),
      col("event_type"), Seq("view", "click", "purchase"))

  /** B19 retention cohorts: first-event-day cohort × day offset →
    * distinct active users, first day via the user-key window (no
    * firsts-table join). */
  private def b19(s: SparkSession, dir: String): DataFrame =
    operators.Funnel.retentionCohorts(t(s, dir, "events"), col("user_id"), col("ts"))

  /** C18 TF-IDF top terms per document (smoothed reciprocal-df — see
    * operators.TfIdf for the engine-portability rationale). */
  private def c18(s: SparkSession, dir: String): DataFrame =
    operators.TfIdf.topTerms(t(s, dir, "documents"), col("doc_id"), lower(col("text")), 3)
      .select(col("id").as("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))

  /** C19 train/eval decontamination: distinct n-gram collisions of
    * each train doc (doc_id % 100 ≠ 0) against the synthetic eval
    * split (doc_id % 100 = 0); zero-collision docs kept via left
    * join. The shipped shape of the benchmark-leak scrub. n = 3: the
    * regenerated corpus shares no 5-grams across the split, and an
    * all-zero gate would pin nothing. */
  private def c19(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val train = docs.filter(col("doc_id") % 100 =!= 0)
    val eval = docs.filter(col("doc_id") % 100 === 0)
    val shared = operators.Contamination.sharedGrams(
      train, eval, col("doc_id"), lower(col("text")), 3)
    train.select(col("doc_id")).join(shared.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
      .orderBy(col("doc_id"))
  }

  /** C49 multi-benchmark decontamination attribution: C19's collision
    * check against THREE named benchmarks at once, reporting which
    * benchmark each train doc leaks (see
    * Contamination.sharedGramsByBenchmark). Eval docs (id % 100 = 0)
    * are assigned round-robin to benchmarks by id block; n = 3 (the
    * synthetic corpus shares no 5-grams across that split, and an
    * attribution query must attribute something). */
  private def c49(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val train = docs.filter(col("doc_id") % 100 =!= 0)
    val eval = docs.filter(col("doc_id") % 100 === 0)
    // integer floor division (`div`), matching the oracle's `// 100`:
    // double division + cast truncates, which diverges for negative or
    // > 2^53 ids
    val bench = concat(lit("bench"), expr("doc_id div 100") % 3)
    operators.Contamination.sharedGramsByBenchmark(
        train, eval, col("doc_id"), lower(col("text")), bench, 3)
      .select(col("id").as("doc_id"), col("benchmark"), col("shared_grams"))
      .orderBy(col("doc_id"), col("benchmark"))
  }

  /** C50 semantic decontamination: train embeddings (vec_id % 100 ≠
    * 0) too close in cosine to any eval embedding (vec_id % 100 = 0)
    * — the embedding rung of the decontamination ladder (C19 exact
    * grams → C37 shingle near-match → this); best eval match per
    * contaminated doc. Threshold 0.3 sits inside the synthetic
    * corpus's cross-split cosine tail so the gate pins real rows. */
  private def c50(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    operators.Contamination.semanticMatches(
        e.filter(col("vec_id") % 100 =!= 0), e.filter(col("vec_id") % 100 === 0),
        col("vec_id"), col("embedding"), threshold = 0.3)
      .select(col("id").as("vec_id"), col("eval_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  /** C51 host-graph PageRank: crawl-quality host weighting over a
    * deterministic citation fixture — doc d cites doc (d²+3) mod N
    * (N = max id + 1, ids dense; QUADRATIC so in-degrees are skewed
    * — a linear permutation leaves every host at identical rank and
    * the pin would be vacuous), giving a host→host edge per doc;
    * weights = citation counts. 3 iterations, damping 85%, ranks in
    * 10^12 fixed-point units (integer arithmetic is the §4.1
    * portability discipline — float PageRank isn't reproducible
    * across engines or partitionings). */
  private def c51(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val edges = docs
      .select(((col("doc_id") * col("doc_id") + 3) % n).as("cid"), col("source").as("src"))
      .join(docs.select(col("doc_id").as("cid"), col("source").as("dst")), "cid")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    operators.PageRank.ranks(edges, col("src"), col("dst"), col("w"), iters = 3)
      .select(col("node").as("host"), col("rank").as("rank_fp"))
      .orderBy(col("host"))
  }

  /** C52 trained quality classifier: multinomial NB over word
    * unigrams, trained on labeled seed splits (pos = id%10==1, neg =
    * id%10==2 — the curated-vs-crawl seed pair of the GPT-3 recipe),
    * scoring EVERY doc with prior + per-token log-odds and a keep
    * verdict at cutoff 0. C46's portability discipline: 8-rounded
    * model terms, decimal per-doc sums. */
  private def c52(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = operators.Classifier.train(
      docs.filter(col("doc_id") % 10 === 1), docs.filter(col("doc_id") % 10 === 2),
      col("doc_id"), col("text"))
    operators.Classifier.score(docs, col("doc_id"), col("text"), model)
      .select(col("id").as("doc_id"), col("n_hits"), col("logodds"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** C53 hashed random-projection doc embeddings: the model-free
    * embedding generator (feature hashing × ±1 projection — SimHash's
    * continuous cousin) that manufactures the vector column C5/C36/
    * C50 consume. 16 dims, emitted as e0..e15 rounded doubles (flat
    * columns hash-compare portably; the library API returns the
    * array). Zero-norm docs → NULL embedding, n_toks preserved. */
  private def c53(s: SparkSession, dir: String): DataFrame = {
    val emb = operators.Embeddings.project(
      t(s, dir, "documents"), col("doc_id"), col("text"), dims = 16)
    emb.select(col("id").as("doc_id") +: col("n_toks") +:
        (0 until 16).map(j => element_at(col("emb"), j + 1).as(s"e$j")): _*)
      .orderBy(col("doc_id"))
  }

  /** C53b — the closed loop, end to end: manufacture embeddings from
    * raw text (C53) and semantically dedup on them (C36, exhaustive
    * nCells = 1), so the whole text → vector → dedup chain sits under
    * one DuckDB oracle (the c16b/c36b twin pattern). Near-dup doc
    * families project to cosine ≈ 1, so the 0.95 gate drops real
    * rows at every sf. Input capped to doc_id < 2000: an exhaustive
    * twin is a CORRECTNESS pin, and the cap keeps its all-pairs
    * verify at a constant ~2·10⁶ candidates at every sf (uncapped it
    * measured 162 s at sf1 — pair count, not an engine defect; c53
    * itself carries the scaling evidence). */
  /** C12 multimodal decode, end-to-end: a deterministic synthetic
    * media table (REAL PNG/WAV/MJPEG-AVI payloads — `sfDir` is
    * unused; media aren't part of the TPC-H-ish corpus) through the
    * batched REAL decoders, aggregated per kind. Rows-only: no SQL
    * engine can decode pixels/samples, so there is no portable
    * oracle — the per-value pins live in MultimodalSinkSpec
    * (exact PNG round-trip, sine RMS, per-frame agreement). */
  private def c12(s: SparkSession, dir: String): DataFrame = {
    val media = sources.Multimodal.synthesize(s, 240)
    sources.Multimodal.decodeFeatures(media, batchSize = 32)
      .filter(col("features").isNotNull)
      .select(col("kind"),
        element_at(col("features"), 1).as("f0"),
        element_at(col("features"), 4).as("rms_or_meanG"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("f0")), 4).as("avg_f0"),
        round(avg(col("rms_or_meanG")), 4).as("avg_f3"))
      .orderBy(col("kind"))
  }

  private def c53b(s: SparkSession, dir: String): DataFrame = {
    // checkpoint: semDedup references its input several times (norms,
    // assignment, both pair-join sides) — materialize the ~2000
    // manufactured vectors once instead of re-running the projection
    val emb = operators.Embeddings.project(
        t(s, dir, "documents").filter(col("doc_id") < 2000),
        col("doc_id"), col("text"), dims = 16)
      .filter(col("emb").isNotNull)
      .localCheckpoint(true)
    Similarity.semDedup(emb, col("id"), col("emb"),
        threshold = 0.95, nCells = 1, iters = 0)
      .select(col("vec_id").as("doc_id"), col("cell"))
      .orderBy(col("doc_id"))
  }

  /** C30 token-budget shard packing: docs → fixed-budget training
    * shards by exclusive prefix sum of whitespace token counts in
    * doc_id order — two-phase distributed prefix sum, never a global
    * single-partition window (the oracle's global window IS the
    * naive form; see operators.Packing). */
  private def c30(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packByBudget(t(s, dir, "documents"),
        col("doc_id"), TextFunctions.wordCount(col("text")), budget = 2000L)
      .select(col("id").as("doc_id"), col("weight").as("tokens"), col("shard"))
      .orderBy(col("doc_id"))

  /** C29 bloom-prefiltered decontamination: identical semantics (and
    * oracle) to C19, but train-side grams pass a Bloom sketch of the
    * eval grams BEFORE the join's exchange — the shuffle carries only
    * collisions + fpp strays (see operators.Bloom / E10). */
  private def c29(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val train = docs.filter(col("doc_id") % 100 =!= 0)
    val eval = docs.filter(col("doc_id") % 100 === 0)
    val shared = operators.Contamination.sharedGramsPrefiltered(
      train, eval, col("doc_id"), lower(col("text")), 3, expectedEvalGrams = 200000L)
    train.select(col("doc_id")).join(shared.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
      .orderBy(col("doc_id"))
  }

  /** A17 reactions-map aggregation (db_loader.py:98 reactions JSONB,
    * message_scraper.py:38-44 emoji→count maps): a deterministic
    * two-emoji reaction map is synthesized per event from the props
    * payload, parsed as map<string,int>, exploded, and aggregated per
    * emoji. Map-side parse + one shuffle. */
  private def a17(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    val reactions = concat(lit("{\"heart\":"), (k % 3).cast("string"),
      lit(",\"like\":"), (k % 5).cast("string"), lit("}"))
    t(s, dir, "events")
      .filter(k.isNotNull)
      .select(explode(from_json(reactions,
        org.apache.spark.sql.types.DataType.fromDDL("map<string,int>"))).as(Seq("emoji", "cnt")))
      .groupBy(col("emoji"))
      .agg(sum(col("cnt")).cast("long").as("total"), count(lit(1)).as("n_events"))
      .orderBy(col("emoji"))
  }

  // ================================================================ C
  // LLM-training-data operators.

  /** C1 exact dedup: hash-groupBy on md5 of a normalized content key
    * (30-char prefix — collision-rich in this corpus), keep min id.
    * Map-side partial agg → single shuffle, no sort. */
  private def c1(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), Seq(substring(col("text"), 1, 30)), col("doc_id"))
      .select(col("content_hash"), col("keep_id"), col("dup_count"))
      .orderBy(col("content_hash"))

  /** C2 MinHash+LSH near-dup: 8 md5-minhashes over word 3-shingles,
    * 4 bands of 2 → band-bucket join → exact-Jaccard verify ≥ 0.5. */
  private def c2(s: SparkSession, dir: String): DataFrame =
    MinHash.nearDupPairs(t(s, dir, "documents"), col("doc_id"), col("text"), threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** C3 SimHash near-dup: 64-bit fingerprints over word 3-shingles,
    * 8-chunk pigeonhole banding, hamming ≤ 7. */
  private def c3(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDupPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, maxHamming = 7, chunks = 8)
      .orderBy(col("doc_a"), col("doc_b"))

  /** C3b SimHash at the WEB-SCALE configuration: hamming ≤ 3 with
    * 5-of-8 chunk combination banding (Manku et al. WWW'07) — the
    * 40-bit band key cuts candidate volume to n²·56/2⁴⁰ vs the
    * single-chunk ham ≤ 7 band's n²/64, which saturates at corpus
    * scale (SURVEY §6 sf10 post-mortem). Same fingerprints as C3;
    * only the band join differs. */
  private def c3b(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDupPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, maxHamming = 3, chunks = 8, agree = 5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** C4 exact n-gram Jaccard join: prefix-filtered inverted index,
    * every pair with J ≥ 0.5 — no probabilistic misses. */
  private def c4(s: SparkSession, dir: String): DataFrame =
    Jaccard.nearDupPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** C5 embedding-cosine near-dup: every pair ≥ 0.4 (rounded), via
    * angular-cell bucketing + exact verify — identical output to the
    * all-pairs form (the triangle-inequality bound makes candidate
    * generation complete), with only equi-joins in the plan. */
  private def c5(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairsBucketed(t(s, dir, "embeddings"), col("vec_id"), col("embedding"), 0.4)
      .orderBy(col("vec_a"), col("vec_b"))

  /** C6 ANN brute-force: top-10 cosine neighbors for the broadcast
    * query set (vec_id < 8). */
  private def c6(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), k = 10)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C7 ANN LSH-bucketed: 4 tables × 6 md5-seeded hyperplanes; exact
    * rounded cosine ranks bucket candidates; top-5. Not expressible
    * as one portable SQL → rows-only check. */
  private def c7(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.lshTopK(e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C7b LSH with the ONE-BUCKET signature (tables = 1, planes = 0):
    * every vector collides, so the bucketed machinery — signature
    * computation, bucket join, cross-table dedup, exact rank — must
    * reproduce brute force exactly. That puts the whole LSH path
    * under a DuckDB oracle (the c16b nprobe = nCells pattern); the
    * production bucketing stays c7, recall-pinned by spec. */
  private def c7b(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.lshTopK(e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), k = 5, tables = 1, planes = 0)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C16 ANN IVF: clustered coarse-quantizer path (rows-only — the
    * Lloyd means are float-order sensitive, so no portable oracle for
    * the RESTRICTED probe; see c16b for the oracle-checked mode). */
  private def c16(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C16b ANN IVF with EXHAUSTIVE probe (nprobe = nCells — FAISS's
    * exact mode): every cell is scanned, so the result must equal
    * brute force regardless of clustering quality. That makes the
    * whole IVF machinery — quantizer training, map-side assignment,
    * probe selection, exact ranking — DuckDB-checkable end-to-end;
    * the restricted-probe form stays c16 (recall pinned by spec). */
  private def c16b(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), k = 5, nCells = 16, nprobe = 16)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C28 char-trigram LM perplexity score (CCNet-style quality
    * filter): model trained on the corpus itself, documents ranked
    * by average negative log-prob — decimal-summed, rounded per
    * SURVEY §4 so the DuckDB oracle hash-matches. */
  private def c28(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = operators.LangModel.train(docs, lower(col("text")))
    operators.LangModel.score(docs, col("doc_id"), lower(col("text")), model)
      .select(col("id").as("doc_id"), col("n_tris"), col("lm_score"))
      .orderBy(col("doc_id"))
  }

  /** C27 ANN via product quantization: 8 codes per 64-dim vector
    * (32× compression — the form factor a 100 TB embedding corpus is
    * scanned in), ADC approximate scan + exact cosine re-rank
    * (rows-only — the Lloyd codebooks are float-order sensitive; the
    * recall and exact-score properties are pinned in PQSpec). */
  private def c27(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // one Lloyd round: the exact re-rank makes recall robust to
    // codebook quality (PQSpec pins it at 2 rounds; 1 vs 2 moved
    // recall < 2% on this corpus and drops a mean-shuffle + collect
    // barrier from every index build)
    val model = operators.PQ.train(e, col("vec_id"), col("embedding"), iters = 1)
    val encoded = operators.PQ.encode(e, col("vec_id"), col("embedding"), model)
    operators.PQ.adcTopK(encoded, e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), model, k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C31 ANN via IVFADC: coarse cells restrict which PQ codes each
    * query ADC-scans (nprobe/nCells of the corpus), exact re-rank on
    * top — the full 100 TB layout: 32× smaller index × 4/16 of it
    * scanned per query (rows-only; recall + all-cells≡full-ADC
    * equivalence pinned in PQSpec). */
  private def c31(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = operators.PQ.train(e, col("vec_id"), col("embedding"), iters = 1)
    val coarse = operators.PQ.trainCoarse(e, col("vec_id"), col("embedding"))
    operators.PQ.ivfAdcTopK(e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), model, coarse, k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C27b PQ/ADC with EXHAUSTIVE re-rank (rerank = ∞): every corpus
    * vector survives the ADC cut, so the full PQ machinery — Lloyd
    * codebooks, map-side encode, the broadcast ADC-table scan, the
    * per-query window, the exact re-rank join — must reproduce brute
    * force exactly regardless of codebook quality. That puts the PQ
    * path under a DuckDB oracle end-to-end (the c16b nprobe = nCells
    * pattern); the production rerank = 32 cut stays c27, with its
    * recall + ADC≈cosine properties pinned in PQSpec. */
  private def c27b(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = operators.PQ.train(e, col("vec_id"), col("embedding"), iters = 1)
    val encoded = operators.PQ.encode(e, col("vec_id"), col("embedding"), model)
    operators.PQ.adcTopK(encoded, e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), model, k = 5, rerank = Int.MaxValue)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C31b IVFADC with EXHAUSTIVE probe AND re-rank (nprobe = nCells,
    * rerank = ∞): every (query, vector) pair is a candidate exactly
    * once — the coarse-cell routing must neither drop nor duplicate
    * any — and the exact re-rank must then equal brute force. The
    * whole IVFADC layout (coarse quantizer, cell probing, code scan,
    * re-rank) becomes DuckDB-checkable; the restricted nprobe = 4
    * form stays c31, recall-pinned by PQSpec. */
  private def c31b(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val model = operators.PQ.train(e, col("vec_id"), col("embedding"), iters = 1)
    val coarse = operators.PQ.trainCoarse(e, col("vec_id"), col("embedding"))
    operators.PQ.ivfAdcTopK(e, e.filter(col("vec_id") < 8),
        col("vec_id"), col("embedding"), model, coarse, k = 5,
        nprobe = coarse.length, rerank = Int.MaxValue)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** C17 deterministic sampling/split: reproducible 25% holdout via
    * lexicographic md5 threshold (never rand()), plus a 40% stratified
    * keep for en docs / 10% for the rest — all pure map-side. */
  private def c17(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val split = operators.Sampling.trainValSplit(docs, col("doc_id"), 0.25)
    val kept = operators.Sampling.stratified(docs, col("doc_id"),
      when(col("lang") === "en", "en").otherwise("other"),
      Map("en" -> 0.4, "other" -> 0.1))
      .select(col("doc_id"), lit(1L).as("kept"))
    split.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), coalesce(col("kept"), lit(0L)).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** C21 end-to-end corpus pipeline — the composed shape a training
    * corpus actually ships through, all from library operators:
    * normalize (C15) → quality gate (C9's components) → exact dedup
    * keep-first (C1/A9) → deterministic split (C17) → per-(lang,
    * split) corpus stats. One map-side pass + one dedup shuffle +
    * one stats shuffle. */
  private def c21(s: SparkSession, dir: String): DataFrame = {
    val norm = t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextFunctions.normalize(col("text")).as("t"))
    val gated = norm
      .withColumn("wc", TextFunctions.wordCount(col("t")).cast("long"))
      .withColumn("punct", TextFunctions.punctRatio(col("t")))
      .filter(col("wc") >= 5 && col("punct") <= 0.2)
    val deduped = Dedup.keepFirstByHash(gated, md5(col("t")), Seq(col("doc_id")))
    operators.Sampling.trainValSplit(deduped, col("doc_id"), 0.25)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("wc")).cast("long").as("total_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  /** C22 dedup clusters: near-dup pairs (exact Jaccard, C4) resolved
    * into connected components — every doc gets its cluster's min id
    * as the canonical representative and a keep flag. The decision
    * step a pairwise dedup is useless without (see
    * operators.Components). */
  private def c22(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Jaccard.nearDupPairs(docs, col("doc_id"), col("text"), n = 3, threshold = 0.5)
    operators.Components.connected(docs.select(col("doc_id")), col("doc_id"),
        pairs, col("doc_a"), col("doc_b"))
      .select(col("id").as("doc_id"), col("comp").as("cluster"),
        when(col("id") === col("comp"), 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** C38 quality-aware dedup canonicalization: same clusters as C22,
    * but each keeps its highest-QUALITY doc (C9's score; smallest id
    * on ties) instead of the smallest id — near-dup clusters mix
    * clean originals with truncated scrapes, and keep-min-id throws
    * away the best copy whenever a worse one crawled first (see
    * Components.canonicalBy). */
  private def c38(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Jaccard.nearDupPairs(docs, col("doc_id"), col("text"), n = 3, threshold = 0.5)
    operators.Components.canonicalBy(
        Quality.scored(docs, col("text")), col("doc_id"), col("quality_score"),
        pairs, col("doc_a"), col("doc_b"))
      .select(col("id").as("doc_id"), col("comp").as("cluster"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** C39 collocation mining: corpus-wide bigram PMI (the word2vec
    * phrase-detection step), count floor 5, top-50 by (pmi desc,
    * bigram) — a deterministic total order (see operators.Phrases). */
  private def c39(s: SparkSession, dir: String): DataFrame =
    operators.Phrases.collocations(t(s, dir, "documents"), col("text"), minCount = 5)
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(50)

  /** C40 training-mixture planner: √-damped token-budget allocation
    * over (lang, source) strata with per-stratum epoch factors —
    * C33's temperature exponent applied at TOKEN granularity (see
    * Stratified.mixturePlan). Budget 200k tokens. */
  private def c40(s: SparkSession, dir: String): DataFrame =
    operators.Stratified.mixturePlan(t(s, dir, "documents"),
        concat(col("lang"), lit("/"), col("source")),
        TextFunctions.wordCount(col("text")), budget = 200000L)
      .orderBy(col("stratum"))

  /** C41 host-reputation dashboard: extract every URL, parse its
    * host, and aggregate per host — doc reach, link volume, and the
    * exact-decimal mean quality of documents linking there. This is
    * how domain allow/block lists get built (domain filtering is the
    * first gate of every web-scale corpus). URLs are planted
    * deterministically per doc (the a1/a2/c13 convention — the
    * corpus has no native URLs); host parsing is a portable regexp,
    * not parse_url (DuckDB lacks it). */
  private def c41(s: SparkSession, dir: String): DataFrame = {
    val docs = operators.Quality.scored(t(s, dir, "documents"), col("text"))
    val msg = concat(lit("read https://"), col("source"), lit(".example.org/"),
      col("lang"), lit("/"), col("doc_id"),
      lit(" and http://mirror-"), col("source"), lit(".example.net/p/"),
      col("doc_id"), lit(" done"))
    docs
      .select(col("doc_id"), col("quality_score"),
        explode(regexp_extract_all(msg, lit("""https?://[^\s]+"""), lit(0))).as("url"))
      .select(col("doc_id"), col("quality_score"),
        regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_docs"),
        // exact decimal sum of the (already 6-rounded) per-doc scores
        // → the mean's operands are deterministic in any engine
        round(sum(col("quality_score").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_quality"))
      .orderBy(col("host"))
  }

  /** C23 mergeable HLL distinct dashboard: per-lang distinct content
    * hashes + a '*' row from UNIONING the per-group sketches (never
    * re-scanning) — the storable-state form of A13's countDistinct.
    * Rows-only: estimates carry the documented ±1.6% HLL bound
    * (exact-vs-sketch tolerance is spec'd in SketchesSpec). */
  private def c23(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.distinctByGroup(t(s, dir, "documents"),
        col("lang"), md5(col("text")))
      .orderBy(col("grp"))

  /** C24 mergeable KLL quantiles: per-event-type p50/p90/p99 of value
    * + a '*' row MERGING the per-group sketches — B10/B11's storable
    * twin (the sketch is a column, not transient agg state). */
  private def c24(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.quantilesByGroup(t(s, dir, "events"),
        col("event_type"), col("value"), Seq(0.5, 0.9, 0.99))
      .withColumnsRenamed(Map("q0" -> "p50", "q1" -> "p90", "q2" -> "p99"))
      .orderBy(col("grp"))

  /** C25 mergeable heavy hitters: top-10 terms via the
    * accumulate/combine/estimate state — B7 with constant memory
    * (exact here: vocabulary ≪ tracked budget; SketchesSpec pins
    * that equivalence). */
  private def c25(s: SparkSession, dir: String): DataFrame =
    operators.Sketches.approxTopK(
        t(s, dir, "documents")
          .select(explode(TextFunctions.tokens(lower(col("text")))).as("term")),
        col("term"), k = 10)

  /** C26 theta-sketch decontamination dashboard: train/val split
    * (C17's deterministic threshold) → per-split theta sketch of
    * content hashes → union/intersection/difference estimates — the
    * single-pass sketch twin of C19's n-gram collision join. */
  private def c26(s: SparkSession, dir: String): DataFrame = {
    val split = operators.Sampling.trainValSplit(
      t(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("h")),
      col("doc_id"), 0.25)
    operators.Sketches.setOverlap(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "val"), col("h"))
  }

  /** Per-language stopword suffix used to make the language-ID query
    * exercise every branch: each doc gets its declared language's
    * stopwords appended ×10, so the detector must recover `lang`. */
  private def langSuffix: Column = {
    val bags = TextFunctions.LangStopwords.map { case (l, sw) => l -> sw.mkString(" ", " ", "") }
    bags.tail.foldLeft(when(col("lang") === bags.head._1, lit(bags.head._2))) {
      case (acc, (l, sfx)) => acc.when(col("lang") === l, lit(sfx))
    }.otherwise(lit(""))
  }

  /** C8 language ID: stopword-hit argmax with lang-code tie-break
    * over text augmented with the declared language's stopwords —
    * the join-based distributed form (token-equality semantics). */
  private def c8(s: SparkSession, dir: String): DataFrame =
    operators.LangId.detect(t(s, dir, "documents"),
        col("doc_id"), concat(lower(col("text")), repeat(langSuffix, 10)))
      .select(col("id").as("doc_id"), col("lang_id"))
      .orderBy(col("doc_id"))

  /** C9 quality scoring: length/punct/stopword/word-length components
    * (each rounded per SURVEY §4.3) + a fixed linear score. Pure
    * map-side (`Quality.scored` — the same code path the D7 streaming
    * gate runs); identical double arithmetic on the oracle side. */
  private def c9(s: SparkSession, dir: String): DataFrame =
    Quality.scored(t(s, dir, "documents"), col("text"))
      .select(col("doc_id"), col("word_count"), col("punct_ratio"),
        col("stopword_ratio"), col("mean_word_len"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** C10 token counting: whitespace tokens + BPE-ish pre-tokenizer
    * (letter runs / digit runs / single punctuation). */
  private def c10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.wordCount(col("text")).cast("long").as("ws_tokens"),
      TextFunctions.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** C11 document fingerprint: bottom-5 sketch of md5'd 3-shingles,
    * aggregated from the shared exploded-shingle shuffle. */
  private def c11(s: SparkSession, dir: String): DataFrame =
    Shingles.bottomKFingerprint(t(s, dir, "documents"), col("doc_id"), col("text"), 3, 5)
      .select(col("id").as("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))

  /** C13 PII/URL scrubbing: deterministic contact info is planted per
    * doc, then redacted with typed tokens; per-kind counts emitted.
    * Pure map-side codegen regexps (`Quality.scrubbed` — the same
    * code path the D7 streaming gate runs). */
  private def c13(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" see https://example.com/d/"), col("doc_id"))
    Quality.scrubbed(t(s, dir, "documents"), planted)
      .select(col("doc_id"), col("scrubbed"), col("n_emails"),
        col("n_urls"), col("n_phones"))
      .orderBy(col("doc_id"))
  }

  /** C14 repetition stats (Gopher-style quality rules): fraction of
    * tokens/2-grams taken by the most frequent one. */
  private def c14(s: SparkSession, dir: String): DataFrame =
    Shingles.repetitionStats(t(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("top_token_frac"), col("top_bigram_frac"))
      .orderBy(col("doc_id"))

  /** C15 text normalization: control-char strip, whitespace collapse,
    * trim, lowercase — with before/after lengths. */
  private def c15(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(lit("  "), col("text"), lit("\t\tendhere  "))
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.normalize(messy).as("normalized"),
      length(messy).cast("long").as("n_before"),
      length(TextFunctions.normalize(messy)).cast("long").as("n_after"))
      .orderBy(col("doc_id"))
  }

  /** C32 duplicated-span stats: per document, its distinct 5-token
    * spans and how many also occur in another document — corpus-wide
    * exact substring overlap (Lee et al. 2022's k-gram form; see
    * operators.Spans). */
  private def c32(s: SparkSession, dir: String): DataFrame =
    operators.Spans.dupSpans(t(s, dir, "documents"), col("doc_id"), lower(col("text")), 5)
      .select(col("id").as("doc_id"), col("n_spans"), col("dup_spans"), col("dup_frac"))
      .orderBy(col("doc_id"))

  /** C35 span-removal rewrite: drop every token covered by a 5-token
    * span shared with another document and re-emit the surviving
    * text — the dedup step behind C32's statistic (Lee et al. 2022;
    * see operators.Spans.removeDupSpans). */
  private def c35(s: SparkSession, dir: String): DataFrame =
    operators.Spans.removeDupSpans(t(s, dir, "documents"), col("doc_id"), col("text"), 5)
      .select(col("id").as("doc_id"), col("n_tokens"), col("kept_tokens"),
        col("removed_frac"), col("kept_text"))
      .orderBy(col("doc_id"))

  /** C37 fuzzy decontamination: train docs (doc_id % 5 ≠ 0) that
    * near-match an eval doc (doc_id % 5 = 0) at exact Jaccard ≥ 0.5
    * on banded minhash candidates — catches lightly-rewritten
    * benchmark leakage C19's exact n-gram collisions miss (see
    * Contamination.fuzzyMatches). */
  private def c37(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    operators.Contamination.fuzzyMatches(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
        col("doc_id"), col("text"), threshold = 0.5)
      .select(col("id").as("doc_id"), col("eval_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** C42 generation novelty: distinct 5-token spans of the "new"
    * generation (doc_id ≥ 250) already present in the "old" one
    * (doc_id < 250) — the go/no-go number for ingesting a recrawl
    * (see Spans.generationNovelty). */
  private def c42(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    operators.Spans.generationNovelty(
      docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
      col("doc_id"), col("text"), 5)
  }

  /** C43 distribution drift: smoothed unigram KL(new ‖ old) between
    * the doc_id < 250 and ≥ 250 generations — the monitoring number
    * that catches topic/language/scraper shifts before anyone reads
    * a sample (see operators.Drift). */
  private def c43(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    operators.Drift.unigramKl(
      docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250), col("text"))
  }

  /** C46 DSIR importance weights: log(p_target/p_raw) per doc under
    * hashed-ngram (md5-prefix bucket) unigram models — target = the
    * English slice, raw = the whole corpus, so positive logw marks
    * English-looking docs (see operators.Dsir; Xie et al. 2023). */
  private def c46(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = operators.Dsir.train(docs.filter(col("lang") === "en"), docs,
      col("doc_id"), col("text"), prefixLen = 3)
    operators.Dsir.score(docs, col("doc_id"), col("text"), model)
      .select(col("id").as("doc_id"), col("n_feats"), col("logw"))
      .orderBy(col("doc_id"))
  }

  /** C47 training-sequence packing: the epoch materialization step —
    * documents in a deterministic md5-seeded shuffle order,
    * concatenated and cut into fixed 512-token context windows; one
    * row per (doc, window) segment with in-doc token offsets.
    * Boundary docs legitimately span two windows (GPT-2/3, T5
    * concat-and-split). Distributed prefix sum + map-side explode —
    * never a global window (see operators.Packing.packSequences). */
  private def c47(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packSequences(t(s, dir, "documents"),
        col("doc_id"), TextFunctions.wordCount(col("text")),
        seqLen = 512L, seed = "epoch1")
      .select(col("id").as("doc_id"), col("seq_id"), col("begin_tok"), col("end_tok"))
      .orderBy(col("doc_id"), col("seq_id"))

  /** C48 URL canonicalization + canonical-URL grouping: the first
    * dedup gate of a CommonCrawl-style pipeline — the same page
    * arrives under many raw spellings (scheme/host case, default
    * ports, fragments, tracker params, param order, trailing slash)
    * and URL-level dedup must key on ONE canonical form (see
    * functions.UrlFunctions). Variants are planted deterministically
    * per doc (the a1/a2/c13/c41 convention): v1 always, the
    * case/param-order twin v2 on even ids (same canonical as v1), an
    * http mirror v3 on ids divisible by 3 (its own canonical — the
    * scheme IS the origin). Pure map-side canonicalization + one
    * hash agg on the canonical key. */
  private def c48(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val v1 = base.select(col("doc_id"), concat(lit("https://"), col("source"),
      lit(".example.org:443/p/"), col("doc_id"),
      lit("/?utm_source=feed&b=2&a=1#sec")).as("url"))
    val v2 = base.filter(col("doc_id") % 2 === 0).select(col("doc_id"),
      concat(lit("HTTPS://"), upper(col("source")), lit(".Example.ORG/p/"),
        col("doc_id"), lit("?a=1&b=2")).as("url"))
    val v3 = base.filter(col("doc_id") % 3 === 0).select(col("doc_id"),
      concat(lit("http://"), col("source"), lit(".example.org:80/p/"),
        col("doc_id"), lit("?b=2&a=1&fbclid=x")).as("url"))
    v1.unionByName(v2).unionByName(v3)
      .select(col("doc_id"), UrlFunctions.canonicalize(col("url")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_raw"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("canonical_url"))
  }

  /** C44 Gopher composite filter: the published rule gate (Rae et al.
    * 2021) over C9 + C14 statistics — keep verdict plus the named
    * failed rules, so the output both filters and audits. Thresholds
    * tuned so the synthetic corpus genuinely splits (minWords 25,
    * minStop 0.03, maxTopToken 0.15 — the corpus stats straddle each
    * bound; Gopher's own web-calibrated values are the defaults in
    * `Quality.GopherParams`). */
  private def c44(s: SparkSession, dir: String): DataFrame =
    Quality.gopherFilter(t(s, dir, "documents"), col("doc_id"), col("text"),
        Quality.GopherParams(minWords = 25, minStop = 0.03, maxTopToken = 0.15))
      .select(col("id").as("doc_id"), col("word_count"), col("mean_word_len"),
        col("stopword_ratio"), col("top_token_frac"), col("top_bigram_frac"),
        col("keep").cast("long").as("keep"), col("fail_reasons"))
      .orderBy(col("doc_id"))

  /** C45 line-level boilerplate dedup (CCNet/RefinedWeb): plant a
    * per-source header, a corpus-wide footer and a per-doc unique
    * line around each text, then drop every line whose normalized
    * form appears in ≥ 2 distinct docs — the footer and headers
    * vanish from ALL docs, unique lines survive (see
    * operators.Lines). */
  private def c45(s: SparkSession, dir: String): DataFrame = {
    val planted = concat_ws("\n",
      concat(lit("shared header for "), col("source")),
      col("text"),
      lit("copyright footer all rights reserved"),
      concat(lit("doc "), col("doc_id"), lit(" unique trailing line")))
    operators.Lines.removeDupLines(t(s, dir, "documents"), col("doc_id"), planted)
      .select(col("id").as("doc_id"), col("n_lines"), col("kept_lines"),
        col("removed_frac"), col("kept_text"))
      .orderBy(col("doc_id"))
  }

  /** C36 SemDeDup: semantic dedup over embeddings — keep-first within
    * coarse-quantizer clusters at rounded cosine ≥ 0.4 (Abbas et al.
    * 2023's shape; see Similarity.semDedup). nCells = 0 ⇒ ADAPTIVE
    * cell count (⌈√(n/target)⌉, like C5) so the within-cell fan-out
    * stays linear at any corpus size. Cluster assignment is
    * Lloyd-float-dependent → rows-only; the exhaustive twin c36b pins
    * the whole drop rule against DuckDB. */
  private def c36(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        threshold = 0.4, nCells = 0, iters = 2)
      .orderBy(col("vec_id"))

  /** C36b exhaustive SemDeDup: nCells = 1 ⇒ every pair is
    * within-cluster ⇒ survivors ≡ the global keep-first rule —
    * DuckDB-expressible, pinning the drop rule end-to-end (the
    * C16/C16b pattern). */
  private def c36b(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        threshold = 0.4, nCells = 1, iters = 0)
      .orderBy(col("vec_id"))

  /** C36c incremental SemDeDup — the stored-codebook pipeline real
    * ingest runs, composed end-to-end: train the coarse quantizer
    * ONCE on the first arrival and persist it (E14 model store), dedup
    * arrival 1 with it and publish the survivors as a versioned
    * snapshot (E13), then gate arrival 2 through
    * `Similarity.semDedupIncrement` against the all-seen store under
    * the RELOADED codebook and publish the refreshed snapshot. Reads
    * back the final snapshot.
    *
    * nCells = 1 makes every arrival exhaustive, and gating against an
    * all-seen store makes sequential ≡ global keep-first — so the
    * final snapshot must be EXACTLY c36b's survivor set, which is the
    * DuckDB oracle here: the entire train-store-reload-gate-publish
    * composition is hash-pinned, not just its pieces.
    *
    * Input capped at a FIXED 2000-vector slice (c53b's convention): a
    * one-cell correctness pin is all-pairs by construction AND lands
    * on a single cell-key reducer, so an uncapped run at a scale sf
    * rides an O(n²) single-task aggregation into the suite — at sf10
    * the 200k-vector arrival 2 is 2·10¹⁰ pairs on ONE thread (found
    * hung mid-warmup, round 8). The cap is a no-op at sf ≤ 0.1, keeps
    * the pin constant-cost at every sf, and the oracle carries the
    * same predicate. Scale-path SemDeDup is c36 (real cell counts). */
  private def c36c(s: SparkSession, dir: String): DataFrame = {
    val em = t(s, dir, "embeddings").filter(col("vec_id") < 2000)
    val arr1 = em.filter(col("vec_id") < 250)
    val arr2 = em.filter(col("vec_id") >= 250)
    val tmp = java.nio.file.Files.createTempDirectory("graft-c36c").toString
    // arrival 1: train once, persist the codebook, dedup, snapshot v1
    sources.Models.saveCoarse(s,
      operators.PQ.trainCoarse(arr1, col("vec_id"), col("embedding"), 1, 0), s"$tmp/model")
    val cb = sources.Models.loadCoarse(s, s"$tmp/model")
    val s1 = Similarity.semDedupWith(arr1, col("vec_id"), col("embedding"), 0.4, cb)
    sources.Versioned.write(s1, s"$tmp/kept", keep = 2)
    // arrival 2: gate against ALL seen vectors (not just survivors —
    // that is what keeps sequential ≡ global), refresh the snapshot
    val s2 = Similarity.semDedupIncrement(arr1, arr2,
      col("vec_id"), col("embedding"), 0.4, cb)
    sources.Versioned.write(
      sources.Versioned.read(s, s"$tmp/kept").unionByName(s2), s"$tmp/kept", keep = 2)
    sources.Versioned.read(s, s"$tmp/kept").orderBy(col("vec_id"))
  }

  /** C33 stratified √-damped rebalancing: deterministic md5-ranked
    * sample per (lang, source) stratum with quota min(c, 4⌈√c⌉) —
    * temperature sampling for over-represented strata (see
    * operators.Stratified). */
  private def c33(s: SparkSession, dir: String): DataFrame =
    operators.Stratified.sampleSqrt(t(s, dir, "documents"), col("doc_id"),
        concat(col("lang"), lit("/"), col("source")), scale = 4)
      .select(col("id").as("doc_id"), col("stratum"), col("rk"))
      .orderBy(col("stratum"), col("rk"))

  /** C34 incremental near-dup ingest gate: docs with id ≥ 400 arrive
    * as a batch against a signature store of ids < 400 — survivors
    * are batch docs that near-match (banded candidates + exact
    * Jaccard ≥ 0.5, C2's match definition) no store doc and no
    * smaller-id batch doc. Equal to the global keep-first rule
    * restricted to the batch (see operators.Incremental). */
  private def c34(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (sb, ss) = operators.Incremental.signatures(
      docs.filter(col("doc_id") < 400), col("doc_id"), col("text"))
    val (surv, _, _) = operators.Incremental.gate(sb, ss,
      docs.filter(col("doc_id") >= 400), col("doc_id"), col("text"), threshold = 0.5,
      microBatch = false) // the "arrival" here is most of the corpus
    surv.select(col("id").as("doc_id")).orderBy(col("doc_id"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_extract_hashtags" -> (a1 _),
    "a2_extract_links" -> (a2 _),
    "a3_normalize_messages" -> (a3 _),
    "a4_upsert_latest" -> (a4 _),
    "a5_link_selection" -> (a5 _),
    "a6_content_hash" -> (a6 _),
    "a7_html_extract" -> (a7 _),
    "a8_dedup_latest" -> (a8 _),
    "a9_dedup_first_by_hash" -> (a9 _),
    "a10_orphan_cleanup" -> (a10 _),
    "a11_failed_cleanup" -> (a11 _),
    "a12_retention" -> (a12 _),
    "a13_cleanup_stats" -> (a13 _),
    "a14_mode_incremental" -> (a14 _),
    "a15_json_props" -> (a15 _),
    "b1_pricing_summary" -> (b1 _),
    "b2_top_orders" -> (b2 _),
    "b3_region_revenue" -> (b3 _),
    "b4_top_customers_per_nation" -> (b4 _),
    "b5_sessionize" -> (b5 _),
    "b6_hourly_events" -> (b6 _),
    "b7_term_counts" -> (b7 _),
    "c1_dedup_exact" -> (c1 _),
    "c2_dedup_minhash" -> (c2 _),
    "c3_dedup_simhash" -> (c3 _),
    "c3b_simhash_ham3" -> (c3b _),
    "c4_dedup_ngram_jaccard" -> (c4 _),
    "c5_dedup_embedding" -> (c5 _),
    "c6_ann_bruteforce" -> (c6 _),
    "c7_ann_lsh" -> (c7 _),
    "c7b_ann_lsh_exhaustive" -> (c7b _),
    "c16_ann_ivf" -> (c16 _),
    "c16b_ann_ivf_exhaustive" -> (c16b _),
    "c17_sample_split" -> (c17 _),
    "c8_lang_id" -> (c8 _),
    "c9_quality_score" -> (c9 _),
    "c10_token_count" -> (c10 _),
    "c11_fingerprint" -> (c11 _),
    "b8_priority_semijoin" -> (b8 _),
    "b10_quantiles" -> (b10 _),
    "b11_quantiles_approx" -> (b11 _),
    "a13b_stats_approx" -> (a13b _),
    "b12_asof_join" -> (b12 _),
    "b13_interval_join" -> (b13 _),
    "b14_rolling_window" -> (b14 _),
    "b15_rollup" -> (b15 _),
    "b16_pivot" -> (b16 _),
    "b17_skyline" -> (b17 _),
    "a18_snapshot_diff" -> (a18 _),
    "b18_funnel" -> (b18 _),
    "b19_retention" -> (b19 _),
    "c21_pipeline" -> (c21 _),
    "c22_dedup_clusters" -> (c22 _),
    "c18_tfidf" -> (c18 _),
    "c19_decontaminate" -> (c19 _),
    "b9_small_qty_revenue" -> (b9 _),
    "a17_reactions_agg" -> (a17 _),
    "c13_scrub" -> (c13 _),
    "c14_repetition" -> (c14 _),
    "c15_normalize" -> (c15 _),
    "c23_sketch_distinct" -> (c23 _),
    "c24_sketch_quantiles" -> (c24 _),
    "c25_sketch_topk" -> (c25 _),
    "c26_sketch_overlap" -> (c26 _),
    "c27_ann_pq" -> (c27 _),
    "c27b_ann_pq_exhaustive" -> (c27b _),
    "c28_lm_score" -> (c28 _),
    "c29_decontaminate_bloom" -> (c29 _),
    "c30_shard_pack" -> (c30 _),
    "c31_ann_ivfpq" -> (c31 _),
    "c31b_ann_ivfpq_exhaustive" -> (c31b _),
    "c32_dup_spans" -> (c32 _),
    "c33_stratified_sample" -> (c33 _),
    "c34_incremental_gate" -> (c34 _),
    "c35_span_rewrite" -> (c35 _),
    "b20_cube" -> (b20 _),
    "c36_semdedup" -> (c36 _),
    "c36b_semdedup_exhaustive" -> (c36b _),
    "c36c_semdedup_incremental" -> (c36c _),
    "c37_fuzzy_decontaminate" -> (c37 _),
    "c38_cluster_keep_best" -> (c38 _),
    "c39_collocations" -> (c39 _),
    "c40_mixture_plan" -> (c40 _),
    "c41_host_stats" -> (c41 _),
    "c42_generation_novelty" -> (c42 _),
    "c43_distribution_drift" -> (c43 _),
    "c44_gopher_filter" -> (c44 _),
    "c45_line_dedup" -> (c45 _),
    "c46_dsir_weights" -> (c46 _),
    "c47_pack_sequences" -> (c47 _),
    "c48_url_canonical" -> (c48 _),
    "c49_decontaminate_attrib" -> (c49 _),
    "c50_decontaminate_semantic" -> (c50 _),
    "c51_host_pagerank" -> (c51 _),
    "c52_quality_classifier" -> (c52 _),
    "c53_doc_embeddings" -> (c53 _),
    "c53b_embed_semdedup" -> (c53b _),
    "c12_media_features" -> (c12 _))

  /** The run list of the query mains (Bench, Verify, PlanDump): the
    * queries `names` names, in that order, or every query sorted by
    * name when `names` is empty. Any unknown name is refused here,
    * before a main does any work, and the error lists them all. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val qs = queries
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — known: " +
        qs.keys.toSeq.sorted.mkString(", "))
    if (names.isEmpty) qs.toSeq.sortBy(_._1) else names.distinct.map(n => n -> qs(n))
  }

  /** DuckDB-runnable oracle SQL per query (SURVEY §4). */
  def oracleSql: Map[String, String] = Map(
    "a1_extract_hashtags" ->
      """SELECT doc_id,
        |  coalesce(list_aggregate(list_sort(list_distinct(
        |    list_transform(regexp_extract_all('#' || replace(text, ' ', ' #'),
        |                                      '#([a-zA-Zа-яА-Я0-9_]+)', 1),
        |                   t -> lower(t)))), 'string_agg', ','), '') AS tags
        |FROM documents ORDER BY doc_id""".stripMargin,
    "a2_extract_links" ->
      """SELECT doc_id,
        |  coalesce(list_aggregate(list_sort(list_distinct(
        |    list_transform(
        |      regexp_extract_all('see https://telegra.ph/' || lang || '-' || doc_id ||
        |                         ' and (https://telegra.ph/p-' || source || '.) end',
        |                         'https://telegra\.ph/[^\s\n\])>_*}]+', 0),
        |      l -> regexp_replace(l, '[.,"''\*_]+$', '')))), 'string_agg', ','), '') AS links
        |FROM documents ORDER BY doc_id""".stripMargin,
    "a3_normalize_messages" ->
      """SELECT event_id AS message_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS date,
        |  coalesce(props, '') AS text,
        |  coalesce(value, 0.0) AS views,
        |  coalesce(event_type, 'unknown') AS kind
        |FROM events ORDER BY message_id""".stripMargin,
    "a4_upsert_latest" ->
      """SELECT user_id, event_type, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "a5_link_selection" ->
      """SELECT DISTINCT o_custkey FROM orders
        |WHERE o_orderstatus = 'O'
        |  AND NOT EXISTS (SELECT 1 FROM customer
        |                  WHERE c_acctbal > 0 AND c_custkey = orders.o_custkey)
        |ORDER BY o_custkey""".stripMargin,
    "a6_content_hash" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL OR text = '' THEN '' ELSE md5(text) END AS content_hash,
        |  CAST(CASE WHEN text IS NULL THEN 0
        |       ELSE len(regexp_extract_all(text, '\S+')) END AS BIGINT) AS word_count
        |FROM documents ORDER BY doc_id""".stripMargin,
    "a7_html_extract" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><head><title>' || source || ' – Telegraph</title>' ||
        |    '<meta property="article:published_time" content="2024-01-' ||
        |      lpad(CAST((doc_id % 27) + 1 AS VARCHAR), 2, '0') || 'T08:30:00+00:00">' ||
        |    '<meta property="twitter:description" content="' || substr(text, 1, 40) || '">' ||
        |    '</head><body>' ||
        |    CASE WHEN doc_id % 2 = 0 THEN '<h1> ' || upper(lang) || ' story </h1>' ELSE '' END ||
        |    '</body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN trim(regexp_extract(html, '<h1[^>]*>([^<]*)</h1>', 1)) <> ''
        |       THEN trim(regexp_extract(html, '<h1[^>]*>([^<]*)</h1>', 1))
        |       ELSE trim(regexp_replace(regexp_extract(html, '<title>([^<]*)</title>', 1),
        |                                ' – Telegraph', '')) END AS title,
        |  nullif(trim(regexp_extract(html,
        |    '<meta[^>]*property="twitter:description"[^>]*content="([^"]*)"', 1)), '') AS description,
        |  strftime(strptime(regexp_extract(html,
        |    '<meta[^>]*property="article:published_time"[^>]*content="([^"]*)"', 1),
        |    '%Y-%m-%dT%H:%M:%S%z'), '%Y-%m-%d %H:%M:%S') AS date_published
        |FROM pages ORDER BY doc_id""".stripMargin,
    "a8_dedup_latest" ->
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "a9_dedup_first_by_hash" ->
      """SELECT doc_id, md5(substr(text, 1, 30)) AS content_hash
        |FROM (SELECT *, row_number() OVER (PARTITION BY md5(substr(text, 1, 30))
        |                                   ORDER BY doc_id) AS rn
        |      FROM documents)
        |WHERE md5(substr(text, 1, 30)) IS NULL OR rn = 1
        |ORDER BY doc_id""".stripMargin,
    "a10_orphan_cleanup" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        |       THEN o_custkey ELSE NULL END AS o_custkey
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "a11_failed_cleanup" ->
      """SELECT event_id FROM events
        |WHERE NOT (event_type IN ('error', 'timeout') AND value >= 3
        |           AND ts < TIMESTAMP '2024-01-20 00:00:00')
        |ORDER BY event_id""".stripMargin,
    "a12_retention" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
        |FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "a13_cleanup_stats" ->
      """SELECT
        |  CAST((SELECT count(*) FROM events) AS BIGINT) AS total_messages,
        |  CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT) AS unique_messages,
        |  CAST((SELECT count(props) FROM events) AS BIGINT) AS messages_with_links,
        |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS total_content,
        |  CAST((SELECT count(DISTINCT md5(text)) FROM documents) AS BIGINT) AS unique_content,
        |  CAST((SELECT count(*) FROM documents WHERE lang = 'en') AS BIGINT) AS successful_content,
        |  CAST((SELECT count(*) FROM documents WHERE lang <> 'en') AS BIGINT) AS failed_content,
        |  CAST((SELECT count(*) FROM events
        |        WHERE CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
        |          AND CAST(json_extract_string(props, '$.k') AS INT) NOT IN
        |              (SELECT doc_id FROM documents)) AS BIGINT) AS orphaned_links""".stripMargin,
    "a14_mode_incremental" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' - INTERVAL 7 DAY
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a15_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "b1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "b2_top_orders" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "b3_region_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "b4_top_customers_per_nation" ->
      """WITH spend AS (
        |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT n_name, rank, c_custkey, total_spend FROM (
        |  SELECT n_name, c_custkey, total_spend,
        |    row_number() OVER (PARTITION BY n_name ORDER BY total_spend DESC, c_custkey) AS rank
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN spend ON c_custkey = o_custkey)
        |WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin,
    "b5_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "b6_hourly_events" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "b7_term_counts" ->
      """SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents)
        |WHERE term <> '' GROUP BY term ORDER BY cnt DESC, term""".stripMargin,
    "c1_dedup_exact" ->
      """SELECT md5(substr(text, 1, 30)) AS content_hash,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "c2_dedup_minhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sig AS (
        |  SELECT doc_id, s,
        |    list_transform(range(0,4), b -> md5(
        |      list_min(list_transform(s, x -> md5(CAST(b*2 AS VARCHAR)||':'||x))) || '|' ||
        |      list_min(list_transform(s, x -> md5(CAST(b*2+1 AS VARCHAR)||':'||x))))) AS bands
        |  FROM sh),
        |exploded AS (
        |  SELECT doc_id, unnest(bands) AS bk, generate_subscripts(bands,1) AS bi FROM sig),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM exploded a JOIN exploded b
        |    ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT p.doc_a, p.doc_b,
        |  round(len(list_intersect(x.s, y.s))::DOUBLE /
        |        (len(x.s)+len(y.s)-len(list_intersect(x.s,y.s))), 6) AS jaccard
        |FROM pairs p JOIN sh x ON p.doc_a = x.doc_id JOIN sh y ON p.doc_b = y.doc_id
        |WHERE round(len(list_intersect(x.s, y.s))::DOUBLE /
        |        (len(x.s)+len(y.s)-len(list_intersect(x.s,y.s))), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "c3_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS s
        |  FROM toks WHERE len(t) >= 3),
        |hashed AS (SELECT doc_id, md5(s) AS h FROM sh),
        |bits AS (
        |  SELECT doc_id, i.i AS i,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + i.i // 4, 1)) - 1)
        |               >> (i.i % 4)) & 1 = 1
        |         THEN 1 ELSE -1 END AS v
        |  FROM hashed, (SELECT unnest(range(0,64)) AS i) i),
        |sums AS (SELECT doc_id, i, sum(v) AS sv FROM bits GROUP BY doc_id, i),
        |simhash AS (
        |  SELECT doc_id, string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
        |  FROM sums GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_filter(range(1,65), i -> substr(a.sig,i,1) <> substr(b.sig,i,1))) AS BIGINT) AS hamming
        |FROM simhash a JOIN simhash b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(range(1,65), i -> substr(a.sig,i,1) <> substr(b.sig,i,1))) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin,
    // same brute-force signature SQL as c3; only the radius differs —
    // the Spark side must find the identical pair set through the
    // 5-of-8 combination bands (losslessness of the banding is the
    // thing under test)
    "c3b_simhash_ham3" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS s
        |  FROM toks WHERE len(t) >= 3),
        |hashed AS (SELECT doc_id, md5(s) AS h FROM sh),
        |bits AS (
        |  SELECT doc_id, i.i AS i,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + i.i // 4, 1)) - 1)
        |               >> (i.i % 4)) & 1 = 1
        |         THEN 1 ELSE -1 END AS v
        |  FROM hashed, (SELECT unnest(range(0,64)) AS i) i),
        |sums AS (SELECT doc_id, i, sum(v) AS sv FROM bits GROUP BY doc_id, i),
        |simhash AS (
        |  SELECT doc_id, string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
        |  FROM sums GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_filter(range(1,65), i -> substr(a.sig,i,1) <> substr(b.sig,i,1))) AS BIGINT) AS hamming
        |FROM simhash a JOIN simhash b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(range(1,65), i -> substr(a.sig,i,1) <> substr(b.sig,i,1))) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "c4_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "c5_dedup_embedding" ->
      """WITH scored AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(
        |      list_sum(list_transform(range(1,65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 6) AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT * FROM scored WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,
    "c6_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(
        |      list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cosine
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
        |      FROM s)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, cosine
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    // one-bucket LSH ≡ brute force: same scoring SQL as c6, k = 5
    "c7b_ann_lsh_exhaustive" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(
        |      list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cosine
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
        |      FROM s)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, cosine
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    // exhaustive-rerank PQ ≡ brute force: same scoring SQL, k = 5
    "c27b_ann_pq_exhaustive" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(
        |      list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cosine
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
        |      FROM s)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, cosine
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    // exhaustive probe+rerank IVFADC ≡ brute force: same scoring SQL, k = 5
    "c31b_ann_ivfpq_exhaustive" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(
        |      list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cosine
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
        |      FROM s)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, cosine
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    // exhaustive-probe IVF ≡ brute force: same scoring SQL, k = 5
    "c16b_ann_ivf_exhaustive" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(
        |      list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cosine
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
        |      FROM s)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, vec_id, cosine
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,
    "c8_lang_id" ->
      """WITH aug AS (
        |  SELECT doc_id, lower(text) || repeat(CASE lang
        |      WHEN 'en' THEN ' the a of and to in is that it for'
        |      WHEN 'es' THEN ' el la de que y en un una los por'
        |      WHEN 'de' THEN ' der die das und ist ein eine zu mit von'
        |      WHEN 'fr' THEN ' le la les de et un une est que pour'
        |      WHEN 'zh' THEN ' 的 了 是 我 不 在 人 有 他 这'
        |      ELSE '' END, 10) AS text2
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text2),'\s+'), x -> x <> '') AS toks
        |  FROM aug),
        |best AS (
        |  SELECT doc_id, least(
        |    lpad(CAST(100000 - len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS VARCHAR), 6, '0') || 'en',
        |    lpad(CAST(100000 - len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','los','por'))) AS VARCHAR), 6, '0') || 'es',
        |    lpad(CAST(100000 - len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','eine','zu','mit','von'))) AS VARCHAR), 6, '0') || 'de',
        |    lpad(CAST(100000 - len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS VARCHAR), 6, '0') || 'fr',
        |    lpad(CAST(100000 - len(list_filter(toks, x -> x IN ('的','了','是','我','不','在','人','有','他','这'))) AS VARCHAR), 6, '0') || 'zh') AS b
        |  FROM t)
        |SELECT doc_id, CASE WHEN substr(b,1,6) = '100000' THEN 'und' ELSE substr(b,7) END AS lang_id
        |FROM best ORDER BY doc_id""".stripMargin,
    "c9_quality_score" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS toks,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS rawtoks
        |  FROM documents),
        |comp AS (
        |  SELECT doc_id,
        |    CAST(len(rawtoks) AS BIGINT) AS word_count,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE round(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))::DOUBLE / len(text), 6) END AS punct_ratio,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / len(toks), 6) END AS stopword_ratio,
        |    CASE WHEN len(rawtoks) = 0 THEN 0.0
        |         ELSE round(list_sum(list_transform(rawtoks, x -> len(x)))::DOUBLE / len(rawtoks), 6) END AS mean_word_len
        |  FROM base)
        |SELECT doc_id, word_count, punct_ratio, stopword_ratio, mean_word_len,
        |  round(least(word_count / 200.0, 1.0) * 0.4 +
        |        (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3 +
        |        least(stopword_ratio * 4.0, 1.0) * 0.3, 6) AS quality_score
        |FROM comp ORDER BY doc_id""".stripMargin,
    "c10_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN text IS NULL THEN 0
        |       ELSE len(regexp_extract_all(text, '\S+')) END AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "c11_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  coalesce(list_aggregate(
        |    list_sort(list_transform(list_distinct(list_transform(range(1, len(t)-1),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2])), x -> md5(x)))[1:5],
        |    'string_agg', ','), '') AS fingerprint
        |FROM toks ORDER BY doc_id""".stripMargin,
    "b10_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS q25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS q50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS q75,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS q90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "b8_priority_semijoin" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "b9_small_qty_revenue" ->
      """WITH pa AS (
        |  SELECT l_partkey, 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS lim
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN pa USING (l_partkey) JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < lim AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "c17_sample_split" ->
      """SELECT doc_id,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '40000000000000000000000000000000'
        |       THEN 'val' ELSE 'train' END AS split,
        |  CAST(CASE
        |    WHEN lang = 'en'
        |         AND md5(CAST(doc_id AS VARCHAR)) < '66666666666666666666666666666666' THEN 1
        |    WHEN lang <> 'en'
        |         AND md5(CAST(doc_id AS VARCHAR)) < '19999999999999999999999999999999' THEN 1
        |    ELSE 0 END AS BIGINT) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,
    "b12_asof_join" ->
      """SELECT l.user_id, l.event_id AS click_id,
        |  strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  r.event_id AS purch_id, r.value AS purch_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY click_id""".stripMargin,
    "b13_interval_join" ->
      """SELECT l.event_id, CAST(count(r.event_id) AS BIGINT) AS cnt
        |FROM (SELECT * FROM events WHERE event_type = 'error') l
        |LEFT JOIN events r
        |  ON r.ts >= l.ts - INTERVAL 10 MINUTE AND r.ts <= l.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "b14_rolling_window" ->
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  CAST(count(*) OVER w AS BIGINT) AS rolling_cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_sum
        |FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "b15_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "b20_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        |  coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "b16_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |           THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |           THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "b17_skyline" ->
      """WITH sp AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, n_orders, total_spend FROM sp p
        |WHERE NOT EXISTS (SELECT 1 FROM sp q
        |  WHERE q.n_orders >= p.n_orders AND q.total_spend >= p.total_spend
        |    AND (q.n_orders > p.n_orders OR q.total_spend > p.total_spend))
        |ORDER BY o_custkey""".stripMargin,
    "a18_snapshot_diff" ->
      """WITH s1 AS (SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts < TIMESTAMP '2024-01-01 12:00:00') WHERE rn = 1),
        |s2 AS (SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts < TIMESTAMP '2024-01-31 00:00:00') WHERE rn = 1)
        |SELECT user_id, event_type,
        |  CASE WHEN s1.event_id IS NULL THEN 'added'
        |       WHEN s2.event_id IS NULL THEN 'removed'
        |       WHEN s1.event_id IS DISTINCT FROM s2.event_id
        |         OR s1.value IS DISTINCT FROM s2.value THEN 'changed' END AS change
        |FROM s1 FULL OUTER JOIN s2 USING (user_id, event_type)
        |WHERE CASE WHEN s1.event_id IS NULL THEN 'added'
        |           WHEN s2.event_id IS NULL THEN 'removed'
        |           WHEN s1.event_id IS DISTINCT FROM s2.event_id
        |             OR s1.value IS DISTINCT FROM s2.value THEN 'changed' END IS NOT NULL
        |ORDER BY user_id, event_type""".stripMargin,
    "b18_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3))
        |ORDER BY step""".stripMargin,
    "c28_lm_score" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        |tri AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri
        |        FROM d, UNNEST(range(1, CASE WHEN length(t) >= 3
        |                                     THEN length(t) - 1 ELSE 1 END)) AS u(i)),
        |c3 AS (SELECT tri, count(*) AS c3 FROM tri GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM c3),
        |c2 AS (SELECT substr(tri, 1, 2) AS pre, sum(c3) AS c2 FROM c3 GROUP BY 1),
        |m AS (SELECT tri, round(ln((c3 + 0.5) / (c2 + 0.5 * (SELECT v FROM v))), 8) AS logp
        |      FROM c3 JOIN c2 ON substr(c3.tri, 1, 2) = c2.pre),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tris,
        |         CAST(sum(CAST(logp AS DECIMAL(20,8))) AS DOUBLE) AS s
        |       FROM tri JOIN m USING (tri) GROUP BY 1)
        |SELECT d.doc_id, coalesce(sc.n_tris, 0) AS n_tris,
        |  coalesce(round(-sc.s / sc.n_tris, 6),
        |           round(-round(ln(0.5 / (0.5 * (SELECT v FROM v))), 8), 6)) AS lm_score
        |FROM d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "b19_retention" ->
      """WITH f AS (SELECT user_id, ts,
        |  CAST(min(ts) OVER (PARTITION BY user_id) AS DATE) AS first_day
        |  FROM events)
        |SELECT CAST(first_day AS VARCHAR) AS cohort,
        |  CAST(date_diff('day', first_day, CAST(ts AS DATE)) AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM f GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    "c22_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |          (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))), 6) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster,
        |  CAST(CASE WHEN min(lab) = id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // c38 = c22's clusters, but the keeper maximizes c9's quality
    // score (smallest id on ties)
    "c38_cluster_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE /
        |          (len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))), 6) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lab) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |comps AS (SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster
        |          FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id,
        |    round(least(CAST(len(list_filter(string_split_regex(text,'\s+'), x -> x <> '')) AS BIGINT) / 200.0, 1.0) * 0.4 +
        |      (1.0 - least((CASE WHEN len(text) = 0 THEN 0.0
        |          ELSE round(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))::DOUBLE / len(text), 6) END) * 5.0, 1.0)) * 0.3 +
        |      least((CASE WHEN len(list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '')) = 0 THEN 0.0
        |          ELSE round(len(list_filter(list_filter(string_split_regex(lower(text),'\s+'), x -> x <> ''),
        |                x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE /
        |            len(list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '')), 6) END) * 4.0, 1.0) * 0.3, 6) AS qs
        |  FROM documents),
        |ranked AS (
        |  SELECT comps.doc_id, cluster, row_number() OVER (
        |    PARTITION BY cluster ORDER BY qs DESC, comps.doc_id) AS rn
        |  FROM comps JOIN q ON comps.doc_id = q.doc_id)
        |SELECT doc_id, cluster, CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM ranked ORDER BY doc_id""".stripMargin,
    // c39 = bigram PMI over whitespace tokens of lower(text), count
    // floor 5, top-50 by (pmi desc, w1, w2); ln and double division
    // order replicate the Spark expression exactly
    "c39_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT u AS w, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS u FROM toks) GROUP BY 1),
        |bi AS (
        |  SELECT g AS bg, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1])) AS g
        |        FROM toks WHERE len(t) >= 2) GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c1)::DOUBLE FROM uni) AS n1,
        |               (SELECT sum(c)::DOUBLE FROM bi) AS n2),
        |j AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2, c
        |  FROM bi WHERE c >= 5)
        |SELECT w1, w2, c,
        |  round(ln((c::DOUBLE / n2) / ((ca.c1 / n1) * (cb.c1 / n1))), 6) AS pmi
        |FROM j CROSS JOIN tot
        |JOIN uni ca ON ca.w = j.w1
        |JOIN uni cb ON cb.w = j.w2
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    // c40 = sqrt-damped token-budget mixture: every reduction exact
    // (long token sums; decimal sum of ROUNDED weights), every double
    // op on deterministic operands -> bit-portable
    "c40_mixture_plan" ->
      """WITH s AS (
        |  SELECT lang || '/' || source AS stratum,
        |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT stratum, tokens, round(sqrt(tokens), 6) AS weight
        |      FROM s WHERE tokens > 0),
        |tot AS (SELECT CAST(sum(CAST(weight AS DECIMAL(28,6))) AS DOUBLE) AS tw FROM w)
        |SELECT stratum, tokens, weight,
        |  CAST(floor(200000.0 * round(weight / tw, 6)) AS BIGINT) AS alloc_tokens,
        |  round(CAST(floor(200000.0 * round(weight / tw, 6)) AS DOUBLE) / tokens, 6) AS epochs
        |FROM w CROSS JOIN tot ORDER BY stratum""".stripMargin,
    // c41 = per-host link dashboard over deterministically-planted
    // URLs; mean quality sums exact decimals of per-doc 6-rounded
    // scores so the division operands are engine-identical
    "c41_host_stats" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS toks,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS rawtoks
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, source,
        |    round(least(CAST(len(rawtoks) AS BIGINT) / 200.0, 1.0) * 0.4 +
        |      (1.0 - least((CASE WHEN len(text) = 0 THEN 0.0
        |          ELSE round(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))::DOUBLE / len(text), 6) END) * 5.0, 1.0)) * 0.3 +
        |      least((CASE WHEN len(toks) = 0 THEN 0.0
        |          ELSE round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / len(toks), 6) END) * 4.0, 1.0) * 0.3, 6) AS qs
        |  FROM base),
        |links AS (
        |  SELECT doc_id, qs, unnest(regexp_extract_all(
        |    'read https://' || source || '.example.org/' || lang || '/' || doc_id ||
        |    ' and http://mirror-' || source || '.example.net/p/' || doc_id || ' done',
        |    'https?://[^\s]+', 0)) AS url
        |  FROM q),
        |h AS (SELECT doc_id, qs, regexp_extract(url, '^https?://([^/]+)', 1) AS host FROM links)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(qs AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_quality
        |FROM h GROUP BY 1 ORDER BY host""".stripMargin,
    // c42 = distinct 5-gram overlap of the new generation (>= 250)
    // against the old (< 250); novelty = 1 - shared/total
    "c42_generation_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)-3),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))) AS sh
        |  FROM toks WHERE len(t) >= 5),
        |oldg AS (SELECT DISTINCT sh FROM sp WHERE doc_id < 250),
        |newg AS (SELECT DISTINCT sh FROM sp WHERE doc_id >= 250),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_spans_new FROM newg),
        |shr AS (SELECT CAST(count(*) AS BIGINT) AS shared_spans
        |        FROM newg SEMI JOIN oldg USING (sh))
        |SELECT n_spans_new, shared_spans,
        |  CASE WHEN n_spans_new > 0
        |       THEN round(1.0 - CAST(shared_spans AS DOUBLE) / n_spans_new, 6)
        |       ELSE 0.0 END AS novelty_frac
        |FROM tot CROSS JOIN shr""".stripMargin,
    // c43 = smoothed unigram KL(new||old), factored single-pass form:
    // S = sum over w of (c_new+1/2)*ln((c_new+1/2)/(c_old+1/2)) with
    // per-term rounding to 12 + decimal sum (the only order-sensitive
    // reduction), then KL = S/(N_new+V/2) + ln((N_old+V/2)/(N_new+V/2))
    // from exact integer totals — mirrors Drift.unigramKl exactly
    "c43_distribution_drift" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |uo AS (SELECT u AS w, CAST(count(*) AS BIGINT) AS c_old
        |       FROM (SELECT unnest(t) AS u FROM toks WHERE doc_id < 250) GROUP BY 1),
        |un AS (SELECT u AS w, CAST(count(*) AS BIGINT) AS c_new
        |       FROM (SELECT unnest(t) AS u FROM toks WHERE doc_id >= 250) GROUP BY 1),
        |j AS (SELECT coalesce(c_new, 0) AS c_new, coalesce(c_old, 0) AS c_old
        |      FROM un FULL OUTER JOIN uo USING (w)),
        |agg AS (SELECT
        |    CAST(coalesce(sum(c_old), 0) AS BIGINT) AS n_old,
        |    CAST(coalesce(sum(c_new), 0) AS BIGINT) AS n_new,
        |    CAST(count(*) AS BIGINT) AS v,
        |    sum(CAST(round(
        |      (c_new::DOUBLE + 0.5) * ln((c_new::DOUBLE + 0.5) / (c_old::DOUBLE + 0.5)),
        |      12) AS DECIMAL(28,12))) AS s
        |  FROM j)
        |SELECT n_old AS n_tokens_old, n_new AS n_tokens_new, v AS vocab,
        |  CASE WHEN v = 0 THEN 0.0 ELSE round(
        |    CAST(s AS DOUBLE) / (n_new::DOUBLE + 0.5 * v) +
        |    ln((n_old::DOUBLE + 0.5 * v) / (n_new::DOUBLE + 0.5 * v)), 6) END AS kl_nats
        |FROM agg""".stripMargin,
    // c46 = DSIR: features are md5-3-hex-prefix buckets (B = 4096)
    // of word uni+bigrams; lambda rounds to 8, per-doc sums run in
    // DECIMAL over the rounded terms (the Spark side is identical)
    "c46_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, substr(md5(g), 1, 3) AS b FROM (
        |    SELECT doc_id, unnest(t) AS g FROM toks
        |    UNION ALL
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1])) AS g FROM toks)),
        |tcnt AS (
        |  SELECT b, count(*) AS ct FROM feats
        |  JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
        |rcnt AS (SELECT b, count(*) AS cr FROM feats GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT coalesce(sum(ct), 0) FROM tcnt) AS nt,
        |  (SELECT coalesce(sum(cr), 0) FROM rcnt) AS nr),
        |lam AS (
        |  SELECT b, round(ln((coalesce(ct, 0) + 0.5) / (nt + 0.5 * 4096)) -
        |                  ln((cr + 0.5) / (nr + 0.5 * 4096)), 8) AS lam
        |  FROM rcnt LEFT JOIN tcnt USING (b) CROSS JOIN tot),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |         sum(CAST(lam AS DECIMAL(20,8))) AS s
        |  FROM feats JOIN lam USING (b) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_feats, 0) AS n_feats,
        |  CAST(round(coalesce(s, 0), 6) AS DOUBLE) AS logw
        |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,
    // c44 = c9's components + c14's fractions, then the five named
    // rules; reason names listed alphabetically in both engines
    "c44_gopher_filter" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS toks,
        |    list_filter(string_split_regex(text,'\s+'), x -> x <> '') AS rawtoks
        |  FROM documents),
        |comp AS (
        |  SELECT doc_id,
        |    CAST(len(rawtoks) AS BIGINT) AS word_count,
        |    CASE WHEN len(rawtoks) = 0 THEN 0.0
        |         ELSE round(list_sum(list_transform(rawtoks, x -> len(x)))::DOUBLE / len(rawtoks), 6) END AS mean_word_len,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE / len(toks), 6) END AS stopword_ratio
        |  FROM base),
        |tok1 AS (SELECT doc_id, tokval, count(*) c FROM (SELECT doc_id, unnest(toks) AS tokval FROM base) GROUP BY 1,2),
        |f1 AS (SELECT doc_id, round(max(c)::DOUBLE/sum(c), 6) AS top_token_frac FROM tok1 GROUP BY 1),
        |big AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i]||' '||toks[i+1])) AS bg FROM base),
        |tok2 AS (SELECT doc_id, bg, count(*) c FROM big GROUP BY 1,2),
        |f2 AS (SELECT doc_id, round(max(c)::DOUBLE/sum(c), 6) AS top_bigram_frac FROM tok2 GROUP BY 1),
        |j AS (
        |  SELECT comp.doc_id, word_count, mean_word_len, stopword_ratio,
        |    coalesce(top_token_frac, 0.0) AS top_token_frac,
        |    coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
        |  FROM comp LEFT JOIN f1 USING (doc_id) LEFT JOIN f2 USING (doc_id)),
        |r AS (
        |  SELECT *, concat_ws(',',
        |    CASE WHEN NOT (mean_word_len >= 3.0 AND mean_word_len <= 10.0) THEN 'mean_word_len' END,
        |    CASE WHEN NOT (top_bigram_frac <= 0.2) THEN 'repetition_bigram' END,
        |    CASE WHEN NOT (top_token_frac <= 0.15) THEN 'repetition_token' END,
        |    CASE WHEN NOT (stopword_ratio >= 0.03) THEN 'stopword_ratio' END,
        |    CASE WHEN NOT (word_count >= 25 AND word_count <= 100000) THEN 'word_count' END) AS fail_reasons
        |  FROM j)
        |SELECT doc_id, word_count, mean_word_len, stopword_ratio,
        |  top_token_frac, top_bigram_frac,
        |  CAST(CASE WHEN fail_reasons = '' THEN 1 ELSE 0 END AS BIGINT) AS keep,
        |  fail_reasons
        |FROM r ORDER BY doc_id""".stripMargin,
    // c45 = plant header/footer/unique lines, then drop every line
    // whose trimmed-lower-ws-collapsed form is in >= 2 distinct docs
    "c45_line_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    'shared header for ' || source || chr(10) || text || chr(10) ||
        |    'copyright footer all rights reserved' || chr(10) ||
        |    'doc ' || doc_id || ' unique trailing line' AS ptext
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, unnest(string_split(ptext, chr(10))) AS line,
        |         unnest(range(1, len(string_split(ptext, chr(10))) + 1)) AS p
        |  FROM planted),
        |norm AS (
        |  SELECT doc_id, p, line,
        |    trim(regexp_replace(lower(line), '\s+', ' ', 'g')) AS nl
        |  FROM lines),
        |hot AS (SELECT nl FROM (
        |  SELECT nl, count(DISTINCT doc_id) AS nd FROM norm WHERE nl <> '' GROUP BY 1)
        |  WHERE nd >= 2),
        |kept AS (SELECT doc_id, p, line FROM norm ANTI JOIN hot USING (nl)),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
        |         string_agg(line, chr(10) ORDER BY p) AS kept_text
        |  FROM kept GROUP BY 1)
        |SELECT pl.doc_id,
        |  CAST(len(string_split(ptext, chr(10))) AS BIGINT) AS n_lines,
        |  coalesce(kept_lines, 0) AS kept_lines,
        |  round((len(string_split(ptext, chr(10))) - coalesce(kept_lines, 0))::DOUBLE
        |        / len(string_split(ptext, chr(10))), 6) AS removed_frac,
        |  coalesce(kept_text, '') AS kept_text
        |FROM planted pl LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "c21_pipeline" ->
      """WITH norm AS (
        |  SELECT doc_id, lang,
        |    lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g'))) AS t
        |  FROM documents),
        |gated AS (
        |  SELECT doc_id, lang, t,
        |    CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) AS wc
        |  FROM norm
        |  WHERE CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) >= 5
        |    AND (CASE WHEN len(t) = 0 THEN 0.0
        |         ELSE round(len(regexp_extract_all(t, '[^a-zA-Z0-9\s]'))::DOUBLE / len(t), 6) END) <= 0.2),
        |dedup AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn FROM gated),
        |split AS (
        |  SELECT *, CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '40000000000000000000000000000000'
        |                 THEN 'val' ELSE 'train' END AS split
        |  FROM dedup WHERE rn = 1)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(wc) AS BIGINT) AS total_tokens
        |FROM split GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "c18_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, round(CAST(tf AS DOUBLE) * (n + 1) / (df + 1), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |      FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "c19_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 100 = 0),
        |tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 100 <> 0),
        |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_grams
        |        FROM tr JOIN ev USING (g) GROUP BY 1)
        |SELECT d.doc_id, coalesce(hit.shared_grams, 0) AS shared_grams
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 100 <> 0) d
        |LEFT JOIN hit USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "c30_shard_pack" ->
      """WITH w AS (SELECT doc_id,
        |  CAST(CASE WHEN text IS NULL THEN 0
        |       ELSE len(regexp_extract_all(text, '\S+')) END AS BIGINT) AS tokens
        |  FROM documents)
        |SELECT doc_id, tokens,
        |  CAST(floor(coalesce(sum(tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000) AS BIGINT) AS shard
        |FROM w ORDER BY doc_id""".stripMargin,
    // c47 = concat-and-split sequence packing: the oracle is the
    // naive global-window form of the same md5-seeded order; the
    // LATERAL generate_series enumerates the windows a doc spans
    "c47_pack_sequences" ->
      """WITH w AS (SELECT doc_id,
        |  CAST(CASE WHEN text IS NULL THEN 0
        |       ELSE len(regexp_extract_all(text, '\S+')) END AS BIGINT) AS tokens
        |  FROM documents),
        |o AS (SELECT doc_id, tokens,
        |  CAST(coalesce(sum(tokens) OVER (
        |    ORDER BY md5(concat('epoch1:', CAST(doc_id AS VARCHAR))), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM w WHERE tokens > 0)
        |SELECT doc_id, CAST(s.seq_id AS BIGINT) AS seq_id,
        |  CAST(greatest(0, s.seq_id*512 - start) AS BIGINT) AS begin_tok,
        |  CAST(least(tokens, (s.seq_id+1)*512 - start) AS BIGINT) AS end_tok
        |FROM o, LATERAL unnest(generate_series(start//512, (start+tokens-1)//512)) AS s(seq_id)
        |ORDER BY doc_id, seq_id""".stripMargin,
    // c48 = URL canonicalization: the oracle replays the same five
    // rules (fragment, scheme/host case, default port, tracker-param
    // drop + sort, trailing slash) in DuckDB string/list functions;
    // starts_with (not LIKE 'utm_%' — '_' is a LIKE wildcard)
    "c48_url_canonical" ->
      """WITH raw AS (
        |  SELECT doc_id, 'https://' || source || '.example.org:443/p/' || doc_id ||
        |         '/?utm_source=feed&b=2&a=1#sec' AS url FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'HTTPS://' || upper(source) || '.Example.ORG/p/' || doc_id ||
        |         '?a=1&b=2' FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, 'http://' || source || '.example.org:80/p/' || doc_id ||
        |         '?b=2&a=1&fbclid=x' FROM documents WHERE doc_id % 3 = 0),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([Hh][Tt][Tt][Pp][Ss]?)://', 1)) AS scheme,
        |    lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^[^:/?#]+://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(regexp_replace(url, '#.*$', ''), '^[^:/?#]+://[^/?#]+([^?#]*)', 1) AS rawpath,
        |    regexp_extract(regexp_replace(url, '#.*$', ''), '\?([^#]*)', 1) AS rawq
        |  FROM raw),
        |canon AS (
        |  SELECT doc_id, scheme || '://' ||
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         ELSE hostport END ||
        |    CASE WHEN rawpath = '' OR rawpath = '/' THEN '/'
        |         ELSE regexp_replace(rawpath, '/$', '') END ||
        |    CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
        |  FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |      p -> p <> '' AND NOT starts_with(regexp_extract(p, '^([^=]*)', 1), 'utm_')
        |        AND regexp_extract(p, '^([^=]*)', 1) NOT IN ('fbclid','gclid','msclkid','ref'))), '&') AS q
        |    FROM parts))
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_raw,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    // c49 = c19's collision check attributed per benchmark: same
    // gram construction at n=3, eval grams deduped per benchmark name
    "c49_decontaminate_attrib" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ev AS (SELECT DISTINCT 'bench' || CAST((doc_id // 100) % 3 AS VARCHAR) AS benchmark,
        |              unnest(s) AS g
        |       FROM sh WHERE doc_id % 100 = 0),
        |tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 100 <> 0)
        |SELECT tr.doc_id, ev.benchmark, CAST(count(*) AS BIGINT) AS shared_grams
        |FROM tr JOIN ev USING (g)
        |GROUP BY 1, 2 ORDER BY doc_id, benchmark""".stripMargin,
    // c50 = best cosine eval match per contaminated train embedding;
    // same ::DOUBLE-promoted scoring SQL as c6, rounded per §4.1
    "c50_decontaminate_semantic" ->
      """WITH tr AS (SELECT vec_id, embedding AS tv FROM embeddings WHERE vec_id % 100 <> 0),
        |ev AS (SELECT vec_id AS eval_id, embedding AS ev FROM embeddings WHERE vec_id % 100 = 0),
        |s AS (
        |  SELECT tr.vec_id, ev.eval_id,
        |    round(
        |      list_sum(list_transform(range(1,65), i -> tr.tv[i]::DOUBLE * ev.ev[i]::DOUBLE)) /
        |      (sqrt(list_sum(list_transform(range(1,65), i -> tr.tv[i]::DOUBLE * tr.tv[i]::DOUBLE))) *
        |       sqrt(list_sum(list_transform(range(1,65), i -> ev.ev[i]::DOUBLE * ev.ev[i]::DOUBLE)))), 6) AS cosine
        |  FROM tr, ev),
        |r AS (SELECT vec_id, eval_id, cosine,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, eval_id) AS rnk
        |      FROM s WHERE cosine >= 0.3)
        |SELECT vec_id, eval_id, cosine FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin,
    // c53 = the hashed projection replayed: same md5 hex-char bit
    // extraction as the c3 oracle, exact integer per-dim sums, one
    // rounded division per element; zero-norm docs keep NULL dims
    "c53_doc_embeddings" ->
      ("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (SELECT doc_id, md5(unnest(t)) AS h FROM toks),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM occ GROUP BY 1),
        |bits AS (
        |  SELECT doc_id, j.j AS j,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + j.j // 4, 1)) - 1)
        |               >> (j.j % 4)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
        |  FROM occ CROSS JOIN (SELECT unnest(range(0,16)) AS j) j),
        |sums AS (SELECT doc_id, j, CAST(sum(sgn) AS BIGINT) AS s FROM bits GROUP BY 1,2),
        |nrm AS (SELECT doc_id, sum(s*s) AS n2 FROM sums GROUP BY 1),
        |emb AS (
        |  SELECT s.doc_id,
        |""".stripMargin +
        (0 until 16).map(j =>
          s"    max(CASE WHEN j = $j THEN CASE WHEN n2 = 0 THEN NULL " +
          s"ELSE round(s::DOUBLE/sqrt(n2::DOUBLE), 6) END END) AS e$j").mkString(",\n") +
        """
        |  FROM sums s JOIN nrm USING (doc_id) GROUP BY 1)
        |SELECT d.doc_id, coalesce(cnt.n_toks, 0) AS n_toks,
        |""".stripMargin +
        (0 until 16).map(j => s"  e$j").mkString(",\n") +
        """
        |FROM documents d LEFT JOIN cnt USING (doc_id) LEFT JOIN emb USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // c53b = the whole text → embedding → semantic-dedup chain under
    // one oracle: c53's projection CTEs feeding c36b's exhaustive
    // drop-if-smaller-id-neighbor rule over the 16 rounded dims
    "c53b_embed_semdedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 2000),
        |occ AS (SELECT doc_id, md5(unnest(t)) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, j.j AS j,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(h, 1 + j.j // 4, 1)) - 1)
        |               >> (j.j % 4)) & 1 = 1 THEN 1 ELSE -1 END AS sgn
        |  FROM occ CROSS JOIN (SELECT unnest(range(0,16)) AS j) j),
        |sums AS (SELECT doc_id, j, CAST(sum(sgn) AS BIGINT) AS s FROM bits GROUP BY 1,2),
        |nrm AS (SELECT doc_id, sum(s*s) AS n2 FROM sums GROUP BY 1),
        |vec AS (SELECT s.doc_id, list(round(s.s::DOUBLE/sqrt(n.n2::DOUBLE),6) ORDER BY s.j) AS v
        |        FROM sums s JOIN nrm n USING (doc_id) WHERE n.n2 > 0 GROUP BY s.doc_id),
        |nn AS (SELECT doc_id, v,
        |         sqrt(list_sum(list_transform(range(1,17), i -> v[i]*v[i]))) AS nrm
        |       FROM vec),
        |dropped AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM nn a JOIN nn b ON a.doc_id < b.doc_id
        |  WHERE a.nrm > 0 AND b.nrm > 0
        |    AND round(list_sum(list_transform(range(1,17), i -> a.v[i]*b.v[i])) /
        |          (a.nrm * b.nrm), 6) >= 0.95)
        |SELECT doc_id, CAST(0 AS INTEGER) AS cell
        |FROM nn WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin,
    // c52 = NB classifier replayed in SQL: same token split, add-one
    // smoothing over the joint seed vocab, 8-rounded log-odds,
    // decimal per-doc sums + prior (the c46 discipline)
    "c52_quality_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |pc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cp FROM occ WHERE doc_id % 10 = 1 GROUP BY 1),
        |nc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cn FROM occ WHERE doc_id % 10 = 2 GROUP BY 1),
        |joint AS (SELECT tok, cp, cn FROM pc FULL OUTER JOIN nc USING (tok)),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM joint) AS v,
        |               (SELECT CAST(coalesce(sum(cp),0) AS BIGINT) FROM pc) AS np,
        |               (SELECT CAST(coalesce(sum(cn),0) AS BIGINT) FROM nc) AS nn,
        |               (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 = 1) AS dp,
        |               (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 = 2) AS dn),
        |w AS (SELECT tok, round(ln((coalesce(cp,0) + 1.0) / (np + v)) -
        |                        ln((coalesce(cn,0) + 1.0) / (nn + v)), 8) AS w
        |      FROM joint CROSS JOIN tot),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |               sum(CAST(w AS DECIMAL(20,8))) AS s
        |        FROM occ JOIN w USING (tok) GROUP BY 1),
        |pri AS (SELECT round(ln(dp::DOUBLE / dn), 8) AS prior FROM tot)
        |SELECT d.doc_id, coalesce(n_hits, 0) AS n_hits,
        |  CAST(round(coalesce(s, 0) + (SELECT CAST(prior AS DECIMAL(20,8)) FROM pri), 6) AS DOUBLE) AS logodds,
        |  (CAST(round(coalesce(s, 0) + (SELECT CAST(prior AS DECIMAL(20,8)) FROM pri), 6) AS DOUBLE) > 0.0) AS keep
        |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,
    // c51 = three unrolled fixed-point PageRank iterations; integer
    // floor division throughout, so the numbers are engine-exact
    "c51_host_pagerank" ->
      """WITH nmax AS (SELECT max(doc_id)+1 AS c FROM documents),
        |e AS (
        |  SELECT d.source AS src, c.source AS dst, CAST(count(*) AS BIGINT) AS w
        |  FROM documents d JOIN documents c ON c.doc_id = (d.doc_id*d.doc_id+3) % (SELECT c FROM nmax)
        |  GROUP BY 1,2),
        |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst AS node FROM e),
        |deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |con AS (SELECT ((1000000000000 * 15) // 100) // (SELECT n FROM nn) AS base,
        |               1000000000000 // (SELECT n FROM nn) AS r0),
        |i1 AS (SELECT e.dst AS node, sum(((SELECT r0 FROM con) * e.w) // d.deg) AS cs
        |       FROM e JOIN deg d USING (src) GROUP BY 1),
        |r1 AS (SELECT nodes.node, (SELECT base FROM con) + (coalesce(i1.cs,0)*85)//100 AS rank
        |       FROM nodes LEFT JOIN i1 USING (node)),
        |i2 AS (SELECT e.dst AS node, sum((r1.rank * e.w) // d.deg) AS cs
        |       FROM e JOIN deg d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT nodes.node, (SELECT base FROM con) + (coalesce(i2.cs,0)*85)//100 AS rank
        |       FROM nodes LEFT JOIN i2 USING (node)),
        |i3 AS (SELECT e.dst AS node, sum((r2.rank * e.w) // d.deg) AS cs
        |       FROM e JOIN deg d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT nodes.node, (SELECT base FROM con) + (coalesce(i3.cs,0)*85)//100 AS rank
        |       FROM nodes LEFT JOIN i3 USING (node))
        |SELECT node AS host, CAST(rank AS BIGINT) AS rank_fp FROM r3 ORDER BY host""".stripMargin,
    // c29 = c19 with a Bloom prefilter that cannot change the result
    // — the oracle is the same collision count
    "c29_decontaminate_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 100 = 0),
        |tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 100 <> 0),
        |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_grams
        |        FROM tr JOIN ev USING (g) GROUP BY 1)
        |SELECT d.doc_id, coalesce(hit.shared_grams, 0) AS shared_grams
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 100 <> 0) d
        |LEFT JOIN hit USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "a17_reactions_agg" ->
      """WITH k AS (SELECT k FROM (SELECT CAST(json_extract_string(props,'$.k') AS INT) AS k
        |             FROM events) WHERE k IS NOT NULL),
        |r AS (SELECT 'heart' AS emoji, k%3 AS cnt FROM k UNION ALL SELECT 'like', k%5 FROM k)
        |SELECT emoji, CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_events
        |FROM r GROUP BY emoji ORDER BY emoji""".stripMargin,
    "c13_scrub" ->
      """WITH p AS (
        |  SELECT doc_id, text || ' contact user' || doc_id || '@example.com or +1-555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' see https://example.com/d/' || doc_id AS planted
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, planted,
        |    regexp_replace(planted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s1
        |  FROM p),
        |s2 AS (SELECT doc_id, planted, s1, regexp_replace(s1, 'https?://[^\s]+', '<URL>', 'g') AS u FROM s)
        |SELECT doc_id,
        |  regexp_replace(u, '\+?\d[\d-]{6,}\d', '<PHONE>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(planted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(s1, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(u, '\+?\d[\d-]{6,}\d')) AS BIGINT) AS n_phones
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "c14_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t FROM documents),
        |tok1 AS (
        |  SELECT doc_id, tokval, count(*) c FROM (SELECT doc_id, unnest(t) AS tokval FROM toks) GROUP BY doc_id, tokval),
        |f1 AS (SELECT doc_id, round(max(c)::DOUBLE/sum(c), 6) AS top_token_frac FROM tok1 GROUP BY doc_id),
        |big AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1])) AS bg FROM toks),
        |tok2 AS (SELECT doc_id, bg, count(*) c FROM big GROUP BY doc_id, bg),
        |f2 AS (SELECT doc_id, round(max(c)::DOUBLE/sum(c), 6) AS top_bigram_frac FROM tok2 GROUP BY doc_id)
        |SELECT f1.doc_id AS doc_id, top_token_frac, coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM f1 LEFT JOIN f2 ON f1.doc_id = f2.doc_id ORDER BY doc_id""".stripMargin,
    "c15_normalize" ->
      """WITH m AS (SELECT doc_id, '  ' || text || chr(9) || chr(9) || 'endhere  ' AS messy FROM documents)
        |SELECT doc_id,
        |  lower(trim(regexp_replace(regexp_replace(messy, '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g'))) AS normalized,
        |  CAST(len(messy) AS BIGINT) AS n_before,
        |  CAST(len(lower(trim(regexp_replace(regexp_replace(messy, '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')))) AS BIGINT) AS n_after
        |FROM m ORDER BY doc_id""".stripMargin,
    "c32_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-3),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])) AS s
        |  FROM toks WHERE len(t) >= 5),
        |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |nd AS (SELECT g, count(*) AS ndocs FROM g GROUP BY 1),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |          CAST(count(CASE WHEN nd.ndocs >= 2 THEN 1 END) AS BIGINT) AS dup_spans
        |        FROM g JOIN nd USING (g) GROUP BY 1)
        |SELECT d.doc_id, coalesce(per.n_spans, 0) AS n_spans,
        |  coalesce(per.dup_spans, 0) AS dup_spans,
        |  CASE WHEN coalesce(per.n_spans, 0) > 0
        |       THEN round(CAST(per.dup_spans AS DOUBLE) / per.n_spans, 6)
        |       ELSE 0.0 END AS dup_frac
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // c35 = the rewrite counterpart: a token at 1-based position p is
    // removed iff some cross-doc-shared 5-gram starts at i in
    // [p-4, p]; kept tokens re-join with single spaces
    "c35_span_rewrite" ->
      """WITH toks AS (
        |  SELECT doc_id, coalesce(list_filter(string_split_regex(lower(text),'\s+'), x -> x <> ''), []) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i, t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4] AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t)-3)) AS i FROM toks WHERE len(t) >= 5)),
        |shared AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY 1) WHERE nd >= 2),
        |starts AS (SELECT DISTINCT doc_id, i FROM grams JOIN shared USING (g)),
        |covered AS (SELECT DISTINCT doc_id, unnest(range(i, i+5)) AS p FROM starts),
        |tokpos AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS p FROM toks),
        |kept AS (
        |  SELECT tokpos.doc_id, p, tok FROM tokpos
        |  ANTI JOIN covered USING (doc_id, p)),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
        |         string_agg(tok, ' ' ORDER BY p) AS kept_text
        |  FROM kept GROUP BY 1)
        |SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  coalesce(kept_tokens, 0) AS kept_tokens,
        |  CASE WHEN len(t) > 0
        |       THEN round(CAST(len(t) - coalesce(kept_tokens, 0) AS DOUBLE) / len(t), 6)
        |       ELSE 0.0 END AS removed_frac,
        |  coalesce(kept_text, '') AS kept_text
        |FROM toks LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // c36b = SemDeDup with nCells=1: every pair is within-cluster, so
    // survivors are exactly the global keep-first rule — a vector is
    // dropped iff some LOWER-id vector has rounded cosine >= 0.4
    "c36b_semdedup_exhaustive" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(range(1,65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
        |  FROM embeddings),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0
        |    AND round(list_sum(list_transform(range(1,65),
        |          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 6) >= 0.4)
        |SELECT vec_id,
        |  CASE WHEN nrm > 0 THEN CAST(0 AS INTEGER) END AS cell
        |FROM n
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,
    // c36c = two-arrival incremental SemDeDup against an all-seen
    // store under one stored nCells=1 codebook ⇒ sequential gating
    // IS the global keep-first rule — same oracle as c36b, over the
    // same fixed 2000-vector slice the query caps itself to
    "c36c_semdedup_incremental" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(range(1,65), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
        |  FROM embeddings WHERE vec_id < 2000),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0
        |    AND round(list_sum(list_transform(range(1,65),
        |          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 6) >= 0.4)
        |SELECT vec_id,
        |  CASE WHEN nrm > 0 THEN CAST(0 AS INTEGER) END AS cell
        |FROM n
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,
    "c33_stratified_sample" ->
      """WITH rows_ AS (
        |  SELECT doc_id, lang || '/' || source AS stratum FROM documents),
        |q AS (SELECT stratum,
        |        LEAST(count(*), 4 * CAST(ceil(sqrt(count(*))) AS BIGINT)) AS quota
        |      FROM rows_ GROUP BY 1),
        |r AS (SELECT doc_id, stratum,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY stratum
        |          ORDER BY md5('s:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |      FROM rows_)
        |SELECT r.doc_id, r.stratum, r.rk
        |FROM r JOIN q USING (stratum) WHERE r.rk <= q.quota
        |ORDER BY stratum, rk""".stripMargin,
    // c34 = the global keep-first rule restricted to batch rows (ids
    // >= 400): drop a batch doc iff ANY smaller-id doc (store or
    // batch) shares a band and verifies at Jaccard >= 0.5 — the same
    // banded candidate definition as c2's oracle
    "c34_incremental_gate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sig AS (
        |  SELECT doc_id, s,
        |    list_transform(range(0,4), b -> md5(
        |      list_min(list_transform(s, x -> md5(CAST(b*2 AS VARCHAR)||':'||x))) || '|' ||
        |      list_min(list_transform(s, x -> md5(CAST(b*2+1 AS VARCHAR)||':'||x))))) AS bands
        |  FROM sh),
        |exploded AS (
        |  SELECT doc_id, unnest(bands) AS bk, generate_subscripts(bands,1) AS bi FROM sig),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM exploded a JOIN exploded b
        |    ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
        |  WHERE b.doc_id >= 400),
        |dup AS (
        |  SELECT DISTINCT p.doc_b AS doc_id
        |  FROM pairs p JOIN sh x ON p.doc_a = x.doc_id JOIN sh y ON p.doc_b = y.doc_id
        |  WHERE round(len(list_intersect(x.s, y.s))::DOUBLE /
        |        (len(x.s)+len(y.s)-len(list_intersect(x.s,y.s))), 6) >= 0.5)
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY doc_id""".stripMargin,
    // c37 = banded-minhash candidates (same band formula as c34)
    // between the train (% 5 <> 0) and eval (% 5 = 0) splits, exact
    // Jaccard >= 0.5 verify, best match per train doc (jac desc,
    // eval_id asc)
    "c37_fuzzy_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sig AS (
        |  SELECT doc_id, s,
        |    list_transform(range(0,4), b -> md5(
        |      list_min(list_transform(s, x -> md5(CAST(b*2 AS VARCHAR)||':'||x))) || '|' ||
        |      list_min(list_transform(s, x -> md5(CAST(b*2+1 AS VARCHAR)||':'||x))))) AS bands
        |  FROM sh),
        |ex AS (SELECT doc_id, unnest(bands) AS bk, generate_subscripts(bands,1) AS bi FROM sig),
        |cand AS (
        |  SELECT DISTINCT t.doc_id AS tid, e.doc_id AS eid
        |  FROM ex t JOIN ex e ON t.bi = e.bi AND t.bk = e.bk
        |  WHERE t.doc_id % 5 <> 0 AND e.doc_id % 5 = 0),
        |ver AS (
        |  SELECT tid, eid,
        |    round(len(list_intersect(x.s, y.s))::DOUBLE /
        |      (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jac
        |  FROM cand JOIN sh x ON cand.tid = x.doc_id JOIN sh y ON cand.eid = y.doc_id),
        |best AS (
        |  SELECT tid, eid, jac,
        |    row_number() OVER (PARTITION BY tid ORDER BY jac DESC, eid) AS rn
        |  FROM ver WHERE jac >= 0.5)
        |SELECT tid AS doc_id, eid AS eval_id, jac AS jaccard
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin)
}
