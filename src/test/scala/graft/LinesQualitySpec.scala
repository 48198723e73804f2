package graft

import org.apache.spark.sql.functions._
import graft.operators.{Lines, Quality}

/** C44 composite Gopher filter + C45 line-level boilerplate dedup. */
class LinesQualitySpec extends SparkSpec {
  import spark.implicits._

  // --- C44 gopherFilter ---

  test("map-side repetition stats equal the aggregate form (r18 kernel parity)") {
    import graft.operators.Shingles
    // duplicate-heavy generated corpus + degenerate docs (null text,
    // punct-only, single token, all-same-token)
    val g = new scala.util.Random(11)
    val gen = (0 until 50).map { i =>
      (i.toLong, Seq.fill(1 + g.nextInt(30))(s"w${g.nextInt(6)}").mkString(" "))
    } ++ Seq((50L, null.asInstanceOf[String]), (51L, "$$$ %%%"), (52L, "solo"),
      (53L, "rep rep rep rep"))
    val df = gen.toDF("doc_id", "text")
    def byId(r: org.apache.spark.sql.DataFrame) =
      r.as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(Shingles.repetitionStats(df, col("doc_id"), col("text"))) ==
      byId(DeclarativeRef.repetitionStats(df, col("doc_id"), col("text"))))
    // gopherFilter: its statistics equal the left-join form's (covers
    // the fused no-join shape, incl. null text); the verdict columns
    // are a projection of them
    val p = Quality.gopherFilter(df, col("doc_id"), col("text"),
      Quality.GopherParams(minWords = 3, minStop = 0.0, maxTopToken = 0.5))
    assert(p.drop("keep", "fail_reasons").collect().map(_.toSeq).toSet ==
      DeclarativeRef.gopherStats(df, col("doc_id"), col("text"))
        .collect().map(_.toSeq).toSet)
    assert(p.count() == df.count())
  }

  test("map-side lang-id and tf kernels equal the join/aggregate forms (r18)") {
    import graft.operators.{LangId, TfIdf}
    // mixed-language corpus incl. the es/fr SHARED stopwords ("la",
    // "de", "que" — the join form counts them for BOTH languages),
    // ties, null text, and token-less docs
    val docs = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el que la casa de la y en un una"),
      (3L, "la de que un"), // es/fr tie on the SHARED words → "es" (lex min)
      (4L, "der und das ist ein zu mit von"),
      (5L, "no stopwords here xyzzy"),
      (6L, null.asInstanceOf[String]),
      (7L, "   "),
      (8L, "le les et est pour")).toDF("doc_id", "text")
    val langOn = LangId.detect(docs, col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(langOn == DeclarativeRef.langId(docs, col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap)
    assert(langOn(3L) == "es" && langOn(6L) == "und" && langOn(7L) == "und")
    assert(TfIdf.topTerms(docs, col("doc_id"), lower(col("text")), 3)
      .collect().map(_.toSeq).toSet ==
      DeclarativeRef.topTerms(docs, col("doc_id"), lower(col("text")), 3)
        .collect().map(_.toSeq).toSet)
  }

  private val good =
    "the quick brown fox jumps over a lazy dog and then runs to " +
      "the river for a drink of water in the morning sun with friends"

  test("gopherFilter keeps a clean doc and reports no reasons") {
    val df = Seq((1L, good)).toDF("doc_id", "text")
    val r = Quality.gopherFilter(df, col("doc_id"), col("text"),
      Quality.GopherParams(minWords = 10, minStop = 0.03, maxTopToken = 0.2))
      .select("keep", "fail_reasons").as[(Boolean, String)].head()
    assert(r == ((true, "")))
  }

  test("gopherFilter names every failed rule, alphabetically") {
    // 5 tokens (< minWords), zero stopwords, one token repeated 3/5;
    // 3-char tokens keep mean_word_len at its 3.0 floor (passing)
    val df = Seq((1L, "zzz zzz zzz qqq www")).toDF("doc_id", "text")
    val r = Quality.gopherFilter(df, col("doc_id"), col("text"),
      Quality.GopherParams(minWords = 10, minStop = 0.03, maxTopToken = 0.15,
        maxTopBigram = 0.2))
      .select("keep", "fail_reasons").as[(Boolean, String)].head()
    assert(!r._1)
    // top bigram 'zzz zzz' is 2/4 > 0.2, top token 3/5 > 0.15
    assert(r._2 ==
      "repetition_bigram,repetition_token,stopword_ratio,word_count")
  }

  test("gopherFilter null text fails word_count only via zero counts") {
    val df = Seq((1L, null: String)).toDF("doc_id", "text")
    val r = Quality.gopherFilter(df, col("doc_id"), col("text"),
      Quality.GopherParams(minWords = 1, minStop = 0.0, minMeanWordLen = 0.0))
      .select("word_count", "keep", "fail_reasons")
      .as[(Long, Boolean, String)].head()
    assert(r == ((0L, false, "word_count")))
  }

  test("gopherFilter boundary values pass (closed intervals)") {
    // exactly minWords tokens, each rule sitting ON its bound passes
    val df = Seq((1L, "the cat the dog the fox the owl the elk")).toDF("doc_id", "text")
    val stats = Quality.gopherFilter(df, col("doc_id"), col("text"),
      Quality.GopherParams(minWords = 10, maxWords = 10,
        minMeanWordLen = 3.0, maxMeanWordLen = 3.1,
        minStop = 0.5, maxTopToken = 0.5, maxTopBigram = 0.5))
      .select("word_count", "stopword_ratio", "top_token_frac", "keep")
      .as[(Long, Double, Double, Boolean)].head()
    assert(stats == ((10L, 0.5, 0.5, true)))
  }

  // --- C45 removeDupLines ---

  private def lineDocs(rows: (Long, String)*) =
    Lines.removeDupLines(rows.toDF("doc_id", "text"), col("doc_id"), col("text"))
      .orderBy("id")
      .select("id", "n_lines", "kept_lines", "removed_frac", "kept_text")
      .as[(Long, Long, Long, Double, String)].collect().toSeq

  test("removeDupLines drops a cross-doc line from every doc, keeps order") {
    val got = lineDocs(
      1L -> "unique one\nshared footer\nunique two",
      2L -> "other text\nshared footer")
    assert(got == Seq(
      (1L, 3L, 2L, 0.333333, "unique one\nunique two"),
      (2L, 2L, 1L, 0.5, "other text")))
  }

  test("removeDupLines matches on the normalized form, emits the original") {
    val got = lineDocs(
      1L -> "  Shared   FOOTER \nmine",
      2L -> "shared footer\nyours")
    // both variants normalize to 'shared footer' and both are removed;
    // surviving lines keep their original spelling
    assert(got == Seq(
      (1L, 2L, 1L, 0.5, "mine"),
      (2L, 2L, 1L, 0.5, "yours")))
  }

  test("removeDupLines never removes blank lines or within-doc repeats") {
    val got = lineDocs(
      1L -> "a\n\nb\n\nc",       // blank lines shared with doc 2 — kept
      2L -> "same\n\nsame\nsame") // 'same' 3x but only in THIS doc — kept
    assert(got == Seq(
      (1L, 5L, 5L, 0.0, "a\n\nb\n\nc"),
      (2L, 4L, 4L, 0.0, "same\n\nsame\nsame")))
  }

  test("removeDupLines null and empty text, all-removed doc") {
    val got = lineDocs(
      1L -> null,
      2L -> "",
      3L -> "shared footer",
      4L -> "shared footer")
    assert(got == Seq(
      (1L, 0L, 0L, 0.0, ""),   // null → no lines
      (2L, 1L, 1L, 0.0, ""),   // one blank line, kept (never hot)
      (3L, 1L, 0L, 1.0, ""),   // whole doc was boilerplate
      (4L, 1L, 0L, 1.0, "")))
  }

  test("removeDupLines minDocs guards and scales the hot threshold") {
    intercept[IllegalArgumentException] {
      Lines.removeDupLines(Seq((1L, "x")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), minDocs = 1)
    }
    // at minDocs = 3 a line in only 2 docs survives
    val df = Seq((1L, "pair line\na"), (2L, "pair line\nb")).toDF("doc_id", "text")
    val got = Lines.removeDupLines(df, col("doc_id"), col("text"), minDocs = 3)
      .agg(sum("kept_lines")).as[Long].head()
    assert(got == 4L)
  }
}
