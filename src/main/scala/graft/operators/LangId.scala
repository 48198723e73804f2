package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stopword-hit language identification (SURVEY C8) — the
  * per-document twin of the `TextFunctions.langId` column function.
  *
  * Tokens are looked up in the (word → lang) stopword table (token
  * EQUALITY — exactly the reference heuristic's semantics); per-lang
  * hit counts pick the winner with a language-code tie-break, and
  * docs with zero hits come back "und". All of it is per-document
  * work, so it runs as one fused kernel pass per row
  * (plans.LangIdScore, round 18) — no explode, join or shuffle.
  * `DeclarativeRef.langId` (test scope) keeps the former token
  * explode → broadcast join → two-aggregate form as the parity
  * reference.
  */
object LangId {

  /** (id, lang_id) for every input row. */
  def detect(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"),
      coalesce(graft.plans.TextExpressions.langIdScore(lower(text)),
        lit("und")).as("lang_id"))
}
