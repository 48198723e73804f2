package graft

import org.apache.spark.sql.functions._
import graft.operators.LangModel

/** Char-trigram LM (C28): the score separates fluent text from
  * garbage, and short docs get the no-evidence floor. */
class LangModelSpec extends SparkSpec {
  import spark.implicits._

  private val clean = Seq(
    "the quick brown fox jumps over the lazy dog and the dog sleeps",
    "a quiet morning with the paper and a cup of coffee on the porch",
    "she walked over the old bridge and watched the river below her",
    "the children played in the garden until the evening light faded",
    "he opened the window and the cold morning air filled the room")

  test("score: trigram-shuffled garbage ranks worse than held-out fluent text") {
    val train = clean.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val model = LangModel.train(train, col("text"))
    // held-out fluent sentence from the same register vs its reversal
    // (same chars, destroyed trigram structure)
    val fluent = "the dog jumps over the old bridge in the morning"
    val garbage = fluent.reverse
    val out = LangModel.score(
        Seq((100L, fluent), (101L, garbage)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(100L) < out(101L), s"fluent ${out(100L)} !< garbage ${out(101L)}")
  }

  test("score kernel ≡ declarative decimal pipeline, bit-identical") {
    // train on half the docs so scoring exercises BOTH map hits and
    // the unk floor; include unicode (multi-byte grams), a short doc,
    // an empty doc, and a null text
    val train = clean.take(3).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val model = LangModel.train(train, col("text"))
    val probe = Seq(
      (10L, clean(3)), (11L, clean(4)),
      (12L, "naïve café — übermäßig 日本語のテキスト"),
      (13L, "ab"), (14L, ""), (15L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val kernel = LangModel.score(probe, col("doc_id"), col("text"), model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val decl = DeclarativeRef.langModelScore(
        probe.na.fill("", Seq("text")), col("doc_id"), col("text"), model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(kernel.toSeq == decl.toSeq,
      s"kernel ${kernel.mkString(",")} != declarative ${decl.mkString(",")}")
  }

  test("score: sub-trigram docs carry the unseen floor, not a crash") {
    val train = clean.take(2).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val model = LangModel.train(train, col("text"))
    val out = LangModel.score(Seq((7L, "ab")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1 && out.head._2 == 0L)
    assert(out.head._3 > 0) // -unkLogp: positive surprise, finite
  }
}
