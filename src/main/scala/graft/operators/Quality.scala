package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Document quality gate (SURVEY C9 + C13) — ONE code path for the
  * batch queries and their streaming twin (D7, `EventStream
  * .qualityGate`). Every column here is a pure map-side codegen
  * expression over `text`, so the same call applies to a static or
  * streaming DataFrame unchanged: no state, no shuffle, no
  * reordering. The reference has no quality stage (it loads whatever
  * the scraper produced); these are the Gopher/C4-style gates a
  * training-data pipeline needs in front of the lake.
  */
object Quality {

  /** Append C9's component columns and its fixed linear score:
    * word_count, punct_ratio, stopword_ratio, mean_word_len,
    * quality_score (each rounded per SURVEY §4.3 so the DuckDB
    * oracle reproduces the doubles exactly).
    *
    * All four raw counts come from ONE native byte pass
    * (`plans.TextStats`) instead of five regex scans — this is the
    * most common corpus pass there is, and the regex form re-walked
    * (and for the mean, regexp_replace-copied) every document per
    * statistic. Values, null behavior, and the DuckDB oracle are
    * unchanged: the guards below replicate the regex formulation
    * exactly (null text → wc 0, null punct_ratio, 0.0 stop/mean —
    * FunctionsSpec pins parity with the regex forms). */
  def scored(df: DataFrame, text: Column,
             stopwords: Seq[String] = TextFunctions.LangStopwords.toMap.apply("en")): DataFrame = {
    val st = graft.plans.TextExpressions.textStats(text, stopwords)
    val wc = when(text.isNull, lit(0)).otherwise(st.getField("wc"))
    val punct = when(length(text) === 0, lit(0.0))
      .otherwise(round(st.getField("punct").cast("double") / length(text).cast("double"), 6))
    val stop = when(wc === 0, lit(0.0))
      .otherwise(round(st.getField("stop").cast("double") / wc.cast("double"), 6))
    val mean = when(wc === 0, lit(0.0))
      .otherwise(round(st.getField("nonws").cast("double") / wc.cast("double"), 6))
    df.withColumn("word_count", wc.cast("long"))
      .withColumn("punct_ratio", punct)
      .withColumn("stopword_ratio", stop)
      .withColumn("mean_word_len", mean)
      .withColumn("quality_score",
        round(least(wc / 200.0, lit(1.0)) * 0.4 +
          (lit(1.0) - least(punct * 5.0, lit(1.0))) * 0.3 +
          least(stop * 4.0, lit(1.0)) * 0.3, 6))
  }

  /** Append C13's redaction of `text` and its per-kind PII counts:
    * scrubbed, n_emails, n_urls, n_phones.
    *
    * Runs the fused `PiiScrub` kernel — three byte walks per doc
    * where the regex form pays nine regex traversals (three chained
    * replaces + each count's rebuild of its partial chain).
    * Byte-identical to `scrubbedDeclarative` (parity spec-pinned);
    * the c13 oracle seals it cross-engine. */
  def scrubbed(df: DataFrame, text: Column): DataFrame =
    df.withColumn("__pii", graft.plans.TextExpressions.piiScrub(text))
      .withColumn("scrubbed", col("__pii.scrubbed"))
      .withColumn("n_emails", col("__pii.n_emails"))
      .withColumn("n_urls", col("__pii.n_urls"))
      .withColumn("n_phones", col("__pii.n_phones"))
      .drop("__pii")

  /** The regex formulation — retained as the parity oracle for
    * `scrubbed`'s kernel: same columns, identical values, at
    * nine-regex-traversals-per-doc cost. */
  private[graft] def scrubbedDeclarative(df: DataFrame, text: Column): DataFrame = {
    val (emails, urls, phones) = TextFunctions.piiCounts(text)
    df.withColumn("scrubbed", TextFunctions.scrub(text))
      .withColumn("n_emails", emails.cast("long"))
      .withColumn("n_urls", urls.cast("long"))
      .withColumn("n_phones", phones.cast("long"))
  }

  /** Thresholds for `gopherFilter` — defaults are the published
    * Gopher rule values (Rae et al. 2021, appendix A1.1) where the
    * rule maps 1:1 onto a C9/C14 statistic; `minWords`/`minStop`/
    * `maxTopToken` are per-corpus knobs (Gopher's 50-word floor and
    * "≥ 2 stop words" are web-page calibrated). */
  final case class GopherParams(minWords: Long = 50, maxWords: Long = 100000,
                                minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                                minStop: Double = 0.0, maxTopToken: Double = 1.0,
                                maxTopBigram: Double = 0.2)

  /** Composite document filter (SURVEY C44) — the Gopher paper's
    * rule-based quality gate (Rae et al. 2021) assembled from the
    * engine's own statistics: C9's `scored` counts/ratios plus C14's
    * repetition fractions, each rule a named predicate, the verdict
    * one conjunction. This is the gate real corpus pipelines run
    * FIRST (before dedup, before model-based scoring): cheap, fully
    * explainable, and tunable per corpus.
    *
    * Output: (id, word_count, mean_word_len, stopword_ratio,
    * top_token_frac, top_bigram_frac, keep, fail_reasons) — one row
    * per input doc; `fail_reasons` is the comma-joined
    * alphabetically-sorted list of failed rule names ('' when all
    * pass), so downstream can both filter (`keep`) and AUDIT (group
    * by reason) in one pass.
    *
    * Shape: C9's components are one native map-side `TextStats`
    * pass and C14's fractions one more fused column of the SAME pass
    * (`plans.RepetitionStats`); the rule evaluation is pure
    * projection. No join, no shuffle, nothing corpus-pairwise. */
  def gopherFilter(df: DataFrame, id: Column, text: Column,
                   p: GopherParams = GopherParams()): DataFrame = {
    // round 18: with the fused RepetitionStats kernel the C14
    // fractions are one more map-side column of the SAME pass as
    // C9's stats — the per-doc aggregate chains and the id join that
    // tied them back together disappear (guide §2.4; that join form
    // is `DeclarativeRef.gopherStats`, test scope, the parity
    // reference). Token-less and null-text docs take 0.0 via the same
    // coalesce the left join used (the kernel reports 0.0 / null
    // respectively).
    val joined =
      scored(df.select(id.as("id"), text.as("text")), col("text"))
        .select(col("id"), col("word_count"), col("mean_word_len"),
          col("stopword_ratio"),
          graft.plans.TextExpressions.repetitionStats(lower(col("text"))).as("__r"))
        .select(col("id"), col("word_count"), col("mean_word_len"),
          col("stopword_ratio"),
          coalesce(col("__r.top_token_frac"), lit(0.0)).as("top_token_frac"),
          coalesce(col("__r.top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
    // each rule: (name, passes) — reasons sort alphabetically so the
    // output string is deterministic regardless of evaluation order
    val rules: Seq[(String, Column)] = Seq(
      "mean_word_len" -> (col("mean_word_len") >= p.minMeanWordLen &&
        col("mean_word_len") <= p.maxMeanWordLen),
      "repetition_bigram" -> (col("top_bigram_frac") <= p.maxTopBigram),
      "repetition_token" -> (col("top_token_frac") <= p.maxTopToken),
      "stopword_ratio" -> (col("stopword_ratio") >= p.minStop),
      "word_count" -> (col("word_count") >= p.minWords && col("word_count") <= p.maxWords))
    val fails = array(rules.map { case (name, ok) =>
      when(!ok, lit(name)).otherwise(lit(null).cast("string")) }: _*)
    joined
      .withColumn("fail_reasons", concat_ws(",", filter(fails, r => r.isNotNull)))
      .withColumn("keep", col("fail_reasons") === "")
  }
}
