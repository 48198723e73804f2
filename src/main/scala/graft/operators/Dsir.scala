package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR data selection (SURVEY C46) — hashed n-gram importance
  * weighting (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023): score every raw document
  * by log(p_target/p_raw) under bag-of-hashed-ngram unigram models
  * of a small TARGET corpus (the domain you want more of) and the
  * RAW corpus. High log-weight docs look like the target; resampling
  * by the weights (C33/C40's machinery) retargets the mixture
  * without training a classifier.
  *
  * Features are word unigrams + bigrams of `lower(text)` hashed into
  * a FIXED bucket space — the hash is an md5-hex PREFIX (`prefixLen`
  * hex chars ⇒ 16^prefixLen buckets), so the oracle reproduces it
  * exactly (SURVEY §4.1: oracle-visible hashes are md5-only).
  * Bucketing is what makes the method corpus-size-free: both models
  * are ≤ B rows no matter how big the corpora are.
  *
  * Portability discipline (§4): per-bucket log-ratios λ(b) round to
  * 8 decimals in the model; per-doc sums run in DECIMAL over those
  * rounded terms (the one order-sensitive reduction), cast to double
  * and round 6 at the end — bit-identical across engines.
  *
  * Shape at 100 TB: training is one fused count pass per corpus
  * into a B-long array (`plans.CountAggregates.BucketCountAgg`); the
  * totals are driver scalars of those COUNT tables (never a corpus
  * rescan — C39/C43's rule). Scoring is one map-side kernel
  * (`plans.CompiledBucketWeights` through `plans.ModelScore`): each
  * document's bytes are walked once, each feature md5-hashed in place
  * and looked up in the dense B-long λ array. Nothing is pairwise,
  * and scoring shuffles nothing.
  */
object Dsir {

  /** (b, lam) model table (≤ 16^prefixLen rows) plus the
    * unseen-bucket fallback — λ for a bucket absent from BOTH
    * corpora (only reachable when scoring docs outside `raw`).
    * `compiled` is the collected scoring-kernel form — bucket-table-
    * sized driver traffic; lazy + transient so the frozen-model
    * streaming gate (D13) builds it once per model. */
  final case class Model(table: DataFrame, unkLam: Double, prefixLen: Int) {
    @transient lazy val compiled: graft.plans.CompiledBucketWeights =
      new graft.plans.CompiledBucketWeights(
        table.select(col("b"), col("lam")).collect()
          .map(r => (r.getString(0), r.getDouble(1))), unkLam, prefixLen)
  }

  /** Hashed features with multiplicity: md5-hex prefixes of the word
    * unigrams AND bigrams of lower(text). explode_outer keeps
    * feature-less docs (null/short text) as a single null row so
    * scorers can emit them with n_feats = 0. */
  private[graft] def feats(df: DataFrame, id: Column, text: Column,
                           prefixLen: Int): DataFrame = {
    val t = graft.plans.TextExpressions
    df.select(id.as("id"),
      explode_outer(concat(t.wordNgrams(lower(text), 1),
        t.wordNgrams(lower(text), 2))).as("g"))
      .select(col("id"), substring(md5(col("g")), 1, prefixLen).as("b"))
  }

  /** Train the per-bucket log-ratio model:
    * λ(b) = round(ln((c_t(b)+0.5)/(N_t+0.5·B)) −
    *              ln((c_r(b)+0.5)/(N_r+0.5·B)), 8).
    * N_t/N_r are driver scalars summed from the ≤ B-row count
    * tables; the add-half smoothing denominator uses the FIXED
    * bucket count B, so the model is defined for any bucket.
    * `prefixLen` is in [1,5] (`CompiledBucketWeights.requirePrefixLen`,
    * which the count kernel applies before any job runs). */
  def train(target: DataFrame, raw: DataFrame, id: Column, text: Column,
            prefixLen: Int = 3): Model = {
    val b = math.pow(16.0, prefixLen)
    // ONE byte-walk pass per corpus via the fused BucketCountAgg
    // kernel (the scoring kernel's training twin): per-partition
    // state is one B-long array, the shuffle carries one partial per
    // partition, and the count tables come back bit-identical to the
    // explode→md5→groupBy plan (exact longs; the test-scope
    // `DeclarativeRef.dsirCounts` is the spec-pinned parity oracle).
    val tc = countsFused(target, text, prefixLen, "ct").localCheckpoint(true)
    val rc = countsFused(raw, text, prefixLen, "cr").localCheckpoint(true)
    // totals: scalars of the bucket-count tables, never a corpus rescan
    val nt = tc.agg(coalesce(sum(col("ct")), lit(0L))).head().getLong(0).toDouble
    val nr = rc.agg(coalesce(sum(col("cr")), lit(0L))).head().getLong(0).toDouble
    val table = tc.join(rc, Seq("b"), "full_outer")
      .select(col("b"),
        round(log((coalesce(col("ct"), lit(0L)) + 0.5) / (nt + 0.5 * b)) -
          log((coalesce(col("cr"), lit(0L)) + 0.5) / (nr + 0.5 * b)), 8).as("lam"))
    val unk = BigDecimal(math.log(0.5 / (nt + 0.5 * b)) -
        math.log(0.5 / (nr + 0.5 * b)))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    Model(table, unk, prefixLen)
  }

  /** (id, n_feats, logw) per document: logw = Σ λ(bucket) over the
    * doc's features WITH multiplicity, decimal-summed, rounded 6.
    * Feature-less docs score 0.0 (no evidence either way — weight 1,
    * unlike C28's pessimistic floor, because DSIR resampling should
    * not favor or bury empty docs).
    *
    * Runs as ONE map-side pass of the fused kernel — no per-feature
    * explode, no md5 column, no join, no shuffle. Fixed-point sums
    * make it bit-identical to the decimal pipeline of the test-scope
    * `DeclarativeRef.dsirScore` (parity spec-pinned); oracle c46
    * unchanged. */
  def score(docs: DataFrame, id: Column, text: Column, model: Model): DataFrame =
    docs.select(id.as("id"), scoreCol(text, model).as("r"))
      .select(col("id"), col("r.n_feats").as("n_feats"),
        col("r.logw").as("logw"))

  /** The per-document verdict as a COLUMN — `struct<n_feats, logw>`
    * of exactly what `score` emits, usable as a plain filter term
    * (the streaming gates drop their per-batch semi-joins this way). */
  def scoreCol(text: Column, model: Model): Column =
    graft.plans.TextExpressions.modelScore(
      coalesce(lower(text).cast("string"), lit("")), model.compiled)

  /** The keep verdict of the D13 gate and D16's DSIR rung: a document
    * lands iff its `logw` is at least `minLogw`. */
  def keep(text: Column, model: Model, minLogw: Double): Column =
    scoreCol(text, model).getField("logw") >= minLogw

  /** The fused count table: (b, count) over nonzero buckets.
    * format_string's %x is lowercase — exactly
    * substring(md5(g), 1, prefixLen)'s alphabet. */
  private[graft] def countsFused(df: DataFrame, text: Column,
                                 prefixLen: Int, cname: String): DataFrame =
    df.agg(graft.plans.CountAggregates
        .bucketCounts(lower(text), prefixLen).as("a"))
      .select(posexplode(col("a")).as(Seq("i", cname)))
      .filter(col(cname) > 0)
      .select(format_string(s"%0${prefixLen}x", col("i")).as("b"), col(cname))
}
