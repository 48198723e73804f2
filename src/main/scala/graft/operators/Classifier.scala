package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier (SURVEY C52) — the supervised stage of
  * a web-corpus pipeline: GPT-3 filtered Common Crawl with a
  * classifier trained on curated positives vs crawl negatives (Brown
  * et al. 2020, Appendix A), and CCNet/LLaMA ship the same idea as a
  * fastText model. C9/C44 are RULE gates; this LEARNS the decision
  * from labeled seed sets, as a multinomial Naive Bayes over word
  * unigrams — the linear model fastText reduces to for this task —
  * expressed entirely as aggregations, so training is two count
  * passes, not an iterative solver.
  *
  * Relationship to DSIR (C46): both score log-likelihood ratios; C46
  * hashes features into a fixed bucket space and targets RESAMPLING
  * weights, this keeps the explicit seed vocabulary, adds class
  * PRIORS from the labeled doc counts, and emits a keep/drop verdict
  * — the filter-stage contract.
  *
  * Portability discipline = C46's exactly (§4.1): per-token log-odds
  * round to 8 decimals in the model, per-doc sums run in DECIMAL
  * over the rounded terms, final score cast double and rounded 6.
  * Out-of-vocabulary tokens contribute nothing (fastText inference
  * without subwords does the same); docs with NO in-vocab tokens
  * score exactly the prior.
  *
  * Shape at 100 TB: seed corpora are curated samples — small by
  * construction — so training aggregates seed-sized data into a
  * vocabulary-sized model table; V and the token totals are driver
  * scalars OF THAT TABLE (never a corpus rescan, C39/C43's rule).
  * Scoring is one map-side kernel (`plans.CompiledTokenWeights`
  * through `plans.ModelScore`, C28's and C46's kernel shape): each
  * document's bytes are walked once against the collected vocabulary
  * map — no explode, no join, no shuffle.
  */
object Classifier {

  /** (tok, w) log-odds table (seed-vocabulary-sized, broadcastable)
    * plus the log prior-odds ln(|pos docs| / |neg docs|), rounded 8.
    * `compiled` is the collected scoring-kernel form — vocab-sized
    * driver traffic; lazy + transient so the frozen-model streaming
    * gate (D15) builds it once per model. It carries the prior as
    * model data, like the weights. */
  final case class Model(table: DataFrame, prior: Double) {
    @transient lazy val compiled: graft.plans.CompiledTokenWeights =
      new graft.plans.CompiledTokenWeights(
        table.select(col("tok"), col("w")).collect()
          .map(r => (r.getString(0), r.getDouble(1))),
        prior)
  }

  /** Train on labeled seeds: per joint-vocabulary token,
    * w(tok) = round(ln((c_pos+1)/(N_pos+V)) − ln((c_neg+1)/(N_neg+V)), 8)
    * (add-one smoothing over the joint vocab, so every vocab token is
    * defined for both classes); prior = round(ln(D_pos/D_neg), 8).
    * N/V/D are driver scalars of the vocab-sized count tables and the
    * seed-sized inputs. */
  def train(pos: DataFrame, neg: DataFrame, id: Column, text: Column): Model = {
    val dp = pos.count().toDouble
    val dn = neg.count().toDouble
    // an empty seed would make the prior ±Inf and every smoothing
    // denominator degenerate — fail loudly at train time, not as NaN
    // verdicts at scoring time
    require(dp > 0 && dn > 0,
      s"Classifier.train: both seed sets must be non-empty (pos=$dp, neg=$dn)")
    // ONE byte-walk pass per seed corpus via the fused TokenCountAgg
    // kernel (the scoring kernel's training twin): per-partition
    // state is a seed-vocabulary-bounded count map — the same budget
    // Model.compiled already spends — and the count tables come back
    // bit-identical to the explode→groupBy plan (exact longs;
    // DeclarativeRef.classifierCounts is the spec-pinned parity oracle)
    val pc = tokenCountTable(pos, text, "cp").localCheckpoint(true)
    val nc = tokenCountTable(neg, text, "cn").localCheckpoint(true)
    val joint = pc.join(nc, Seq("tok"), "full_outer").localCheckpoint(true)
    val v = joint.count().toDouble
    val np = pc.agg(coalesce(sum(col("cp")), lit(0L))).head().getLong(0).toDouble
    val nn = nc.agg(coalesce(sum(col("cn")), lit(0L))).head().getLong(0).toDouble
    val table = joint.select(col("tok"),
      round(log((coalesce(col("cp"), lit(0L)) + 1.0) / (np + v)) -
        log((coalesce(col("cn"), lit(0L)) + 1.0) / (nn + v)), 8).as("w"))
    val prior = BigDecimal(math.log(dp / dn))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    Model(table, prior)
  }

  /** (id, n_hits, logodds, keep) per document: logodds =
    * round(prior + Σ w(tok) over in-vocab occurrences, 6) decimal-
    * summed; keep = logodds > 0 (`keeps`). n_hits counts the in-vocab
    * occurrences, so a prior-only verdict (n_hits = 0) is auditable.
    *
    * Runs as ONE map-side pass of the fused kernel — no per-token
    * explode, no join, no shuffle. Fixed-point sums make it
    * bit-identical to the decimal pipeline of the test-scope
    * `DeclarativeRef.classifierScore` (parity spec-pinned); oracle
    * c52 unchanged. */
  def score(docs: DataFrame, id: Column, text: Column, model: Model): DataFrame =
    docs.select(id.as("id"), scoreCol(text, model).as("r"))
      .select(col("id"), col("r.n_hits").as("n_hits"),
        col("r.logodds").as("logodds"))
      .withColumn("keep", keeps(col("logodds"), 0.0))

  /** The per-document verdict as a COLUMN — `struct<n_hits, logodds>`
    * of exactly what `score` emits, usable as a plain filter term
    * (the streaming gates drop their per-batch semi-joins this way). */
  def scoreCol(text: Column, model: Model): Column =
    graft.plans.TextExpressions.modelScore(
      coalesce(lower(text).cast("string"), lit("")), model.compiled)

  /** The keep verdict of the D15 gate and D16's classifier rung: a
    * document lands iff its `logodds` exceeds `cutoff`. */
  def keep(text: Column, model: Model, cutoff: Double): Column =
    keeps(scoreCol(text, model).getField("logodds"), cutoff)

  private def keeps(logodds: Column, cutoff: Double): Column = logodds > cutoff

  /** The fused count table: (tok, count) over the corpus vocab. */
  private[graft] def tokenCountTable(df: DataFrame, text: Column,
                                     cname: String): DataFrame =
    df.agg(graft.plans.CountAggregates.tokenCounts(lower(text)).as("m"))
      .select(explode(col("m")).as(Seq("tok", cname)))
}
