package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Classifier, Dsir, LangModel, MinHash, Quality, Shingles}

/** Declarative (explode → aggregate) twins of the text family's fused
  * per-document kernels (`plans.TextExpressions`): each is the chain
  * its operator ran before round 18 moved the work into one map-side
  * pass. They live in test scope only — the engine runs the kernels —
  * and the specs pin kernel == reference row for row, so a kernel
  * that drifts from the plain Spark formulation fails by name. */
object DeclarativeRef {

  // --- MinHash / Jaccard / Incremental -------------------------------

  /** k-minhash signature per id from exploded (id, shingle) rows: one
    * row per id with columns m0..m{k-1}, mi = min md5("i:"+sh). The
    * twin of `MinHash.signaturesMapSide` / `plans.MinHashSig`. */
  def signatureAgg(exploded: DataFrame, id: String, shingle: String, k: Int): DataFrame = {
    val aggs = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col(shingle)))).as(s"m$i"))
    exploded.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** `Shingles.explodedDistinct` as exploded rows + a distinct. */
  def explodedDistinct(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    Shingles.exploded(df, id, text, n).distinct()

  /** `Incremental.signatures` from the aggregate forms: bands
    * (id, bi, bk) and sets (id, s), every doc kept (short and null
    * docs with an empty set) through a left join. */
  def incrementalSignatures(docs: DataFrame, id: Column, text: Column,
                            n: Int = 3, k: Int = 8,
                            bandRows: Int = 2): (DataFrame, DataFrame) = {
    val ex = Shingles.exploded(docs.select(id.as("id"), text.as("txt")),
      col("id"), col("txt"), n)
    val bands = signatureAgg(ex, "id", "sh", k).select(col("id"),
      posexplode(MinHash.bandArray(k, bandRows)).as(Seq("bi", "bk")))
    val sets = docs.select(id.as("id")).join(Shingles.hashSets(ex), Seq("id"), "left")
      .select(col("id"), coalesce(col("s"), array().cast("array<bigint>")).as("s"))
    (bands, sets)
  }

  /** Exact Jaccard of two distinct-element arrays, rounded to 6
    * (SURVEY §4.3), by `array_intersect`: the plain-Spark twin of
    * `Jaccard.exactScore`'s merge scan. int sizes divide in double. */
  def jaccard(x: Column, y: Column): Column = {
    val inter = size(array_intersect(x, y))
    round(inter.cast("double") / (size(x) + size(y) - inter), 6)
  }

  /** Candidate pairs (doc_a, doc_b) verified at exact Jaccard ≥ t over
    * `sets` (id, s): (doc_a, doc_b, jaccard), 6-rounded. */
  private def verified(cand: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sets.select(col("id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccard(col("sa"), col("sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** `MinHash.nearDupPairs` without salting or barriers: aggregate
    * signatures banded, band self-join, exact verification over the
    * aggregate shingle sets. */
  def minHashPairs(docs: DataFrame, id: Column, text: Column, n: Int = 3, k: Int = 8,
                   bandRows: Int = 2, threshold: Double = 0.5): DataFrame = {
    val ex = Shingles.exploded(docs, id, text, n)
    val bands = signatureAgg(ex, "id", "sh", k).select(col("id"),
      posexplode(MinHash.bandArray(k, bandRows)).as(Seq("bi", "bk")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b")).distinct()
    verified(cand, Shingles.hashSets(ex), threshold)
  }

  /** `Jaccard.nearDupPairs` by brute force: every pair of the
    * aggregate shingle sets, exact Jaccard ≥ t. */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column, n: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    val sets = Shingles.hashSets(Shingles.exploded(docs, id, text, n))
    val cand = sets.select(col("id").as("doc_a"))
      .crossJoin(sets.select(col("id").as("doc_b")))
      .filter(col("doc_a") < col("doc_b"))
    verified(cand, sets, threshold)
  }

  // --- SimHash --------------------------------------------------------

  /** 0-15 value of the 1-based `idx`-th hex char of md5 hex string
    * `h`: '0'-'9' → ascii-48, 'a'-'f' → ascii-87. */
  private def hexVal(h: Column, idx: Int): Column = {
    val a = ascii(substring(h, idx, 1))
    when(a >= 97, a - 87).otherwise(a - 48)
  }

  /** Bit-packed 64-bit SimHash fingerprint per id from exploded
    * (id, shingle) rows (dedup them first — the fingerprint is over
    * DISTINCT shingles): the twin of `SimHash.fingerprintsMapSide` /
    * `plans.SimHashSig`.
    *
    * The 64 per-bit ONES COUNTS are carried in just 16 aggregate
    * accumulators: each md5 hex char (4 bits) is spread into a long
    * with four 15-bit COUNTER LANES (the classic multiply-and-mask
    * bit spread: v·(1+2¹⁴+2²⁸+2⁴²) & (1+2¹⁵+2³⁰+2⁴⁵) lands bit l
    * of v in lane l·15), so one `sum` per hex char accumulates four
    * counters at once with no inter-lane carries. Bit i of the
    * fingerprint is set iff ones·2 > shingles (the classic
    * sum-of-±1 > 0 criterion), extracted branch-free via the sign bit
    * of (n − 2·ones).
    *
    * Lane bound: 15-bit lanes count up to
    * `SimHash.MaxNarrowLaneShingles` = 32 767 distinct shingles per
    * document. Past it a lane would silently carry into its neighbor,
    * so the packed fingerprint is guarded per doc: an over-bound doc
    * RAISES with the doc id and count, pointing at `wideLanes = true`
    * (32-bit lanes, two per long, 32 accumulators — exact to
    * `SimHash.MaxWideLaneShingles` ≈ 2.1e9). The 15-bit width is the
    * ANSI-safe one: the lane sum is at most n·(2^45+2^30+2^15+1)
    * < 2^63 for every n < 262 130, so any doc up to 8× past the bound
    * provably reaches the guard instead of Spark's generic
    * ARITHMETIC_OVERFLOW (the r16 16-bit layout did not — SURVEY §6
    * r17, `laneprobe_fp_3arm_final_r17.json`). NearDupSpec pins the
    * exact 32 767 boundary and the 32 768 refusal in BOTH ANSI
    * modes. */
  def fingerprints(exploded: DataFrame, id: String, shingle: String,
                   wideLanes: Boolean = false): DataFrame = {
    val hashed0 = exploded.select(col(id), md5(col(shingle)).as("__h"))
    val (hashed, aggs, cntOf, bound) =
      if (!wideLanes) {
        // 15-bit lanes at 0/15/30/45: bit l of the hex char lands at
        // position 15·l via v·(1+2^14+2^28+2^42) & (1+2^15+2^30+2^45)
        // — the terms of v·K are 4 bits wide and 14 apart, so they
        // never carry into each other before the mask picks one bit
        val spreadM = (1L << 0) + (1L << 14) + (1L << 28) + (1L << 42)
        val laneMask = (1L << 0) + (1L << 15) + (1L << 30) + (1L << 45)
        val h = hashed0.select(col(id) +: (1 to 16).map(c =>
          (hexVal(col("__h"), c) * lit(spreadM)).bitwiseAND(lit(laneMask)).as(s"p$c")): _*)
        val a = (1 to 16).map(c => sum(col(s"p$c")).as(s"s$c"))
        val cnt = (i: Int) => shiftrightunsigned(col(s"s${i / 4 + 1}"), (i % 4) * 15)
          .bitwiseAND(lit(0x7FFFL))
        (h, a, cnt, operators.SimHash.MaxNarrowLaneShingles)
      } else {
        // 32-bit lanes, two per long: bits 0-1 of hex char c in s${c}a
        // (positions 0 and 32), bits 2-3 in s${c}b — the same
        // multiply-and-mask spread with v·(1+2³¹) & 0x0000000100000001.
        // Max lane sum n·(2³²+1) stays under 2^63 for n ≤ 2³¹−1, so
        // ANSI summation never overflows inside the bound.
        val spreadW = 1L + (1L << 31)
        val laneMaskW = 0x0000000100000001L
        val h = hashed0.select(col(id) +: (1 to 16).flatMap { c =>
          val v = hexVal(col("__h"), c)
          Seq((v.bitwiseAND(lit(3)) * lit(spreadW)).bitwiseAND(lit(laneMaskW)).as(s"p${c}a"),
            (shiftright(v, 2) * lit(spreadW)).bitwiseAND(lit(laneMaskW)).as(s"p${c}b"))
        }: _*)
        val a = (1 to 16).flatMap(c =>
          Seq(sum(col(s"p${c}a")).as(s"s${c}a"), sum(col(s"p${c}b")).as(s"s${c}b")))
        val cnt = (i: Int) => {
          val c = i / 4 + 1; val j = i % 4
          shiftrightunsigned(col(if (j < 2) s"s${c}a" else s"s${c}b"), (j % 2) * 32)
            .bitwiseAND(lit(0xFFFFFFFFL))
        }
        (h, a, cnt, operators.SimHash.MaxWideLaneShingles)
      }
    val packed = (0 until 64).map { i =>
      shiftleft(shiftright(col("__n") - cntOf(i) * 2, 63).bitwiseAND(lit(1L)), i)
    }.reduce(_ + _)
    // per-doc guard: refuse loudly instead of silently corrupting the
    // fingerprint past the lane capacity (the else branch only
    // evaluates on over-bound docs; NullType coerces into the long)
    val guarded = when(col("__n") <= lit(bound), packed)
      .otherwise(raise_error(concat(
        lit("DeclarativeRef.fingerprints: doc "), col(id).cast("string"),
        lit(" has "), col("__n").cast("string"),
        lit(s" distinct shingles > $bound — " + (if (wideLanes)
          "32-bit counter lanes would overflow (that is not a document, it is a corpus)"
        else "15-bit counter lanes would overflow; pass wideLanes = true")))).cast("long"))
    val allAggs = aggs :+ count(lit(1)).as("__n")
    hashed.groupBy(col(id)).agg(allAggs.head, allAggs.tail: _*)
      .select(col(id), guarded.as("sig"))
  }

  // --- Quality / Classifier / LangId / TfIdf ---------------------------

  /** `Shingles.repetitionStats` as two explode → (id, gram) count →
    * per-id max/sum chains tied back by a left join (docs too short
    * for a 2-gram get 0.0; token-less docs are absent). */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    def topFrac(grams: DataFrame): DataFrame =
      grams.groupBy(col("id"), col("sh")).agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as("frac"))
    val tok = topFrac(Shingles.exploded(df, id, text, 1)).withColumnRenamed("frac", "top_token_frac")
    val big = topFrac(Shingles.exploded(df, id, text, 2)).withColumnRenamed("frac", "top_bigram_frac")
    tok.join(big, Seq("id"), "left")
      .select(col("id"), col("top_token_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** `Quality.gopherFilter`'s statistics (every column but the
    * verdict, which is a projection of these): C9's `scored` columns
    * left-joined to the aggregate `repetitionStats`. */
  def gopherStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val stats = Quality.scored(df.select(id.as("id"), text.as("text")), col("text"))
      .select(col("id"), col("word_count"), col("mean_word_len"), col("stopword_ratio"))
    stats.join(repetitionStats(df, id, text), Seq("id"), "left")
      .select(col("id"), col("word_count"), col("mean_word_len"), col("stopword_ratio"),
        coalesce(col("top_token_frac"), lit(0.0)).as("top_token_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** `Quality.scrubbed` as the regex formulation: the same four
    * columns (scrubbed, n_emails, n_urls, n_phones) from three
    * chained replaces plus a partial-chain rebuild per count — the
    * twin of `plans.PiiScrub`. */
  def scrubbed(df: DataFrame, text: Column): DataFrame = {
    val (emails, urls, phones) = TextFunctions.piiCounts(text)
    df.withColumn("scrubbed", TextFunctions.scrub(text))
      .withColumn("n_emails", emails.cast("long"))
      .withColumn("n_urls", urls.cast("long"))
      .withColumn("n_phones", phones.cast("long"))
  }

  /** `Classifier`'s training count table (tok, cname) as explode →
    * groupBy over lower(text)'s word unigrams — the twin of
    * `plans.CountAggregates.tokenCounts`. */
  def classifierCounts(df: DataFrame, text: Column, cname: String): DataFrame =
    df.select(explode(graft.plans.TextExpressions.wordNgrams(lower(text), 1)).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as(cname))

  // --- Frozen-model scorers (C28 / C46 / C52) -------------------------

  /** `LangModel.score` as explode → broadcast join → per-doc decimal
    * aggregation, one row per TRIGRAM — the twin of
    * `plans.TrigramLmScore`. Short docs carry the unseen floor. */
  def langModelScore(docs: DataFrame, id: Column, text: Column,
                     model: LangModel.Model): DataFrame = {
    val perTri = docs
      .select(id.as("id"), explode_outer(LangModel.charTrigrams(text)).as("tri"))
      .join(broadcast(model.table), Seq("tri"), "left")
      .select(col("id"),
        when(col("tri").isNull, null) // short doc: no trigram rows
          .otherwise(coalesce(col("logp"), lit(model.unkLogp)))
          .cast("decimal(20,8)").as("lp"))
    perTri.groupBy(col("id"))
      .agg(count(col("lp")).as("n_tris"),
        coalesce(sum(col("lp")).cast("double"), lit(model.unkLogp)).as("s"))
      .select(col("id"), col("n_tris"),
        round(-col("s") / greatest(col("n_tris"), lit(1L)), 6).as("lm_score"))
  }

  /** `Dsir.countsFused` as feature explode → md5 bucket → groupBy:
    * (b, count) over the buckets that occur — the twin of
    * `plans.CountAggregates.BucketCountAgg`. */
  def dsirCounts(df: DataFrame, id: Column, text: Column,
                 prefixLen: Int, cname: String): DataFrame =
    Dsir.feats(df, id, text, prefixLen).filter(col("b").isNotNull)
      .groupBy(col("b")).agg(count(lit(1)).as(cname))

  /** `Dsir.score` as feature explode → broadcast join → per-doc
    * decimal sum, one row per FEATURE — the twin of
    * `plans.DsirScore`. */
  def dsirScore(docs: DataFrame, id: Column, text: Column,
                model: Dsir.Model): DataFrame = {
    val perFeat = Dsir.feats(docs, id, text, model.prefixLen)
      .join(broadcast(model.table), Seq("b"), "left")
      .select(
        when(col("b").isNull, null)
          .otherwise(coalesce(col("lam"), lit(model.unkLam)))
          .cast("decimal(20,8)").as("lp"),
        col("id"))
    perFeat.groupBy(col("id"))
      .agg(count(col("lp")).as("n_feats"),
        coalesce(sum(col("lp")), lit(BigDecimal(0))).as("s"))
      .select(col("id"), col("n_feats"),
        // round IN DECIMAL, cast after: the sum is an EXACT 8-decimal
        // value, so casting first hands round() a double whose
        // shortest decimal representation can land exactly on a
        // ....50 tie that engines resolve differently (found at
        // sf0.1: one doc off by exactly 1e-6). Decimal HALF_UP is
        // identical in Spark and DuckDB.
        round(col("s"), 6).cast("double").as("logw"))
  }

  /** `Classifier.score` as token explode → broadcast join → per-doc
    * decimal sum plus the prior, one row per TOKEN — the twin of
    * `plans.NbScore`. */
  def classifierScore(docs: DataFrame, id: Column, text: Column,
                      model: Classifier.Model, cutoff: Double = 0.0): DataFrame =
    docs.select(id.as("id"),
        explode_outer(graft.plans.TextExpressions.wordNgrams(lower(text), 1)).as("tok"))
      .join(broadcast(model.table), Seq("tok"), "left")
      .select(col("id"), col("w").cast("decimal(20,8)").as("w"))
      .groupBy(col("id"))
      .agg(count(col("w")).as("n_hits"),
        coalesce(sum(col("w")), lit(BigDecimal(0))).as("s"))
      .select(col("id"), col("n_hits"),
        // prior joins the sum IN DECIMAL (it is an exact 8-decimal
        // value — Double.toString recovers it losslessly) and the
        // 6-digit round happens in decimal too: rounding after a
        // cast to double let a ....50 tie resolve differently per
        // engine (found at sf0.1, exactly 1e-6 off on one doc)
        round(col("s") + lit(new java.math.BigDecimal(
            java.lang.Double.toString(model.prior))), 6)
          .cast("double").as("logodds"))
      .withColumn("keep", col("logodds") > cutoff)

  /** `LangId.detect` as the join form: tokens explode and
    * broadcast-join the (word → lang) stopword table, per-(doc, lang)
    * hits aggregate, a struct-min argmax picks the winner with a
    * language-code tie-break, docs without hits come back "und". */
  def langId(df: DataFrame, id: Column, text: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sw = TextFunctions.LangStopwords
      .flatMap { case (lang, words) => words.map(w => (w, lang)) }
      .toDF("tok", "lang")
    val toks = Shingles.exploded(df, id, text, 1)
    val hits = toks.join(broadcast(sw), toks("sh") === sw("tok"))
      .groupBy(col("id"), col("lang"))
      .agg(count(lit(1)).as("hits"))
    val best = hits.groupBy(col("id"))
      .agg(min(struct((-col("hits")).as("neg"), col("lang").as("l"))).as("b"))
      .select(col("id"), col("b.l").as("lang_id"))
    df.select(id.as("id")).join(best, Seq("id"), "left")
      .select(col("id"), coalesce(col("lang_id"), lit("und")).as("lang_id"))
  }

  /** (id, sh, tf): per-(doc, term) counts from an explode → count
    * aggregate — the twin of `plans.TokenTf`. */
  def tf(docs: DataFrame, id: Column, text: Column): DataFrame =
    Shingles.exploded(docs, id, text, 1)
      .groupBy(col("id"), col("sh")).agg(count(lit(1)).as("tf"))

  /** `TfIdf.topTerms` over the aggregate `tf` table. */
  def topTerms(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val t = tf(docs, id, text)
    val df = t.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(id).as("n"))
    val score = round(col("tf").cast("double") * (col("n") + 1) / (col("df") + 1), 6)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("sh"))
    t.join(df, "sh")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("long").as("rank"),
        col("sh").as("term"), col("score"))
  }

  // --- Contamination ----------------------------------------------------

  /** Distinct (id, h) rows, h = md5 of a word n-gram: explode → md5 →
    * dropDuplicates — the twin of `plans.Md5GramSet`. */
  def md5Grams(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    Shingles.exploded(df, id, text, n)
      .select(col("id"), md5(col("sh")).as("h"))
      .dropDuplicates("id", "h")

  /** `Contamination.sharedGrams` (and its Bloom-prefiltered form,
    * which must return the same rows) over `md5Grams`. */
  def sharedGrams(train: DataFrame, eval: DataFrame, id: Column, text: Column,
                  n: Int): DataFrame =
    md5Grams(train, id, text, n)
      .join(md5Grams(eval, id, text, n).select(col("h")).distinct(), "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("shared_grams"))

  /** `Contamination.sharedGramsByBenchmark` over `md5Grams`, the eval
    * side keyed on the benchmark name. */
  def sharedGramsByBenchmark(train: DataFrame, eval: DataFrame, id: Column,
                             text: Column, benchmark: Column, n: Int): DataFrame = {
    val evalGrams = Shingles.exploded(eval, benchmark, text, n)
      .select(col("id").as("benchmark"), md5(col("sh")).as("h"))
      .distinct()
    md5Grams(train, id, text, n)
      .join(evalGrams, "h")
      .groupBy(col("id"), col("benchmark"))
      .agg(count(lit(1)).as("shared_grams"))
  }
}
