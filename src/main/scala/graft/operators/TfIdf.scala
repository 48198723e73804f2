package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF term weighting (SURVEY C18): the classic relevance score
  * a text pipeline uses for keyword extraction, near-topic grouping,
  * and quality filtering.
  *
  * Weighting: tf · (N+1)/(df+1) — smoothed RECIPROCAL document
  * frequency rather than the log form, so the score is one exact
  * integer product and one IEEE division: bit-identical across
  * engines (SURVEY §4.3; `ln` implementations differ at the ulp and
  * would poison hash comparison), same ordering as log-idf for
  * ranking within a document.
  *
  * Execution shape: the per-doc tf map (one fused kernel pass,
  * exploded to (doc, term, tf) rows) feeds the df-per-term
  * aggregation; the df table joins back on the term (AQE broadcasts
  * it while the vocabulary fits); ranking is one window shuffle on
  * doc_id.
  */
object TfIdf {

  /** Top-k terms per document by tf·idf (rounded to 6), rank by
    * (score desc, term asc). Returns (id, rank, term, score). */
  def topTerms(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    // round 18: the per-(doc, term) tf table is per-document work —
    // the fused TokenTf kernel emits each doc's term-frequency map in
    // one pass and `explode(map)` reproduces the tf rows exactly,
    // where the declarative form (`DeclarativeRef.tf`, test scope)
    // shuffled every token occurrence through an (id, term)
    // aggregation exchange. df counts one row per (doc, term).
    val tf = docs.select(id.as("id"),
      explode(graft.plans.TextExpressions.tokenTf(lower(text))).as(Seq("sh", "tf")))
    val df = tf.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // corpus size as a broadcast 1-row aggregate — stays in the plan,
    // no driver-side action
    val n = docs.agg(countDistinct(id).as("n"))
    val score = round(col("tf").cast("double") * (col("n") + 1) / (col("df") + 1), 6)
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("sh"))
    // df is vocabulary-sized: small here, but it GROWS with the
    // corpus — no broadcast hint; AQE broadcasts while it fits and
    // falls back to a shuffled join on the term beyond that
    tf.join(df, "sh")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("long").as("rank"),
        col("sh").as("term"), col("score"))
  }
}
