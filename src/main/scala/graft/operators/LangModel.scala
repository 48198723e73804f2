package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Character-trigram language-model perplexity scoring (SURVEY C28)
  * — the CCNet-style quality filter (Wenzek et al., "CCNet:
  * Extracting high quality monolingual datasets from web crawl
  * data", 2020): rank documents by how surprising their character
  * sequence is under an n-gram model of the (presumed-clean)
  * corpus. Low score = fluent text; high score = boilerplate,
  * encoding garbage, or the wrong language. Heuristic filters (C9)
  * catch structural junk; the LM catches junk that LOOKS structural.
  *
  * Training is one explode + two counts; the model is a bounded
  * table (≤ |charset|³ trigram rows — data-independent at any corpus
  * size). Scoring is one map-side kernel (`plans.CompiledLm` through
  * `plans.ModelScore`): each document's bytes are walked once against
  * the collected model — no explode, no join, no shuffle.
  *
  * Engine-portable determinism (SURVEY §4): log-probs are rounded to
  * 8 decimals in the MODEL, the kernel sums them as exact scale-8
  * fixed point (the decimal sum, with no float summation-order
  * sensitivity), and the final average is rounded to 6 — the same
  * discipline as the money aggregates.
  */
object LangModel {

  /** All length-3 character windows of `text` (lowercased upstream if
    * the caller wants case folding) — the native linear-pass
    * expression (per-position substr is quadratic on UTF-8; see
    * plans.CharNgrams). */
  private[graft] def charTrigrams(text: Column): Column =
    graft.plans.TextExpressions.charNgrams(text, 3)

  /** Trained model: (tri, logp) with add-half smoothing
    * logp = ln((c(tri) + 0.5) / (c(prefix) + 0.5·V)), plus the
    * unseen-trigram floor as `unkLogp`. V = distinct trigram count.
    * The model table is bounded by the charset, never the corpus —
    * which is what makes `compiled` (the collected scoring kernel
    * form) model-sized driver traffic. Lazy + transient: built once
    * per Model (the frozen-model streaming gate D12 scores many
    * batches against one Model), rebuilt if the instance is ever
    * serialized. */
  final case class Model(table: DataFrame, unkLogp: Double) {
    @transient lazy val compiled: graft.plans.CompiledLm =
      new graft.plans.CompiledLm(
        table.select(col("tri"), col("logp")).collect()
          .map(r => (r.getString(0), r.getDouble(1))),
        unkLogp)
  }

  def train(docs: DataFrame, text: Column): Model = {
    val tris = docs.select(explode(charTrigrams(text)).as("tri"))
    // materialize the (charset-bounded, tiny) trigram counts ONCE:
    // vocab count, prefix counts, and the model table all derive from
    // it — without this the corpus-sized explode would run three
    // times (count action, model build, and again under the join)
    val c3 = tris.groupBy(col("tri")).agg(count(lit(1)).as("c3"))
      .localCheckpoint(true)
    val vocab = c3.count().toDouble
    val c2 = c3.groupBy(substring(col("tri"), 1, 2).as("pre"))
      .agg(sum(col("c3")).as("c2"))
    val table = c3
      .join(c2, substring(col("tri"), 1, 2) === col("pre"))
      .select(col("tri"),
        round(log((col("c3") + 0.5) / (col("c2") + 0.5 * vocab)), 8).as("logp"))
    // unseen trigram: zero count against an unseen prefix (empty
    // corpus → vocab 0 → treat as 1 so the floor stays finite)
    val unk = BigDecimal(math.log(0.5 / (0.5 * math.max(vocab, 1.0))))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    Model(table, unk)
  }

  /** (id, n_tris, lm_score) per document: lm_score = average negative
    * log-prob of its trigrams under `model`, rounded to 6. Documents
    * shorter than 3 chars carry the unseen floor (they have no
    * evidence of fluency).
    *
    * Runs as ONE map-side pass of the fused kernel — no per-trigram
    * explode, no join, no shuffle. The fixed-point sum inside the
    * kernel is bit-identical to the decimal(20,8)
    * pipeline of the test-scope `DeclarativeRef.langModelScore`
    * (parity is spec-pinned), so the C28 oracle and the D12 gate
    * semantics are unchanged. */
  def score(docs: DataFrame, id: Column, text: Column, model: Model): DataFrame =
    docs.select(id.as("id"), scoreCol(text, model).as("r"))
      .select(col("id"), col("r.n_tris").as("n_tris"),
        col("r.lm_score").as("lm_score"))

  /** The per-document verdict as a COLUMN — `struct<n_tris, lm_score>`
    * of exactly what `score` emits, usable as a plain filter/projection
    * term (the streaming gates drop their per-batch semi-joins this
    * way: the verdict is map-side, so keep/drop is just a predicate). */
  def scoreCol(text: Column, model: Model): Column =
    graft.plans.TextExpressions
      .modelScore(coalesce(text.cast("string"), lit("")), model.compiled)

  /** The keep verdict of the D12 gate and D16's LM rung: a document
    * lands iff its `lm_score` is at most `maxScore`. */
  def keep(text: Column, model: Model, maxScore: Double): Column =
    scoreCol(text, model).getField("lm_score") <= maxScore
}
