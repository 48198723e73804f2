package graft

import org.apache.spark.sql.functions._
import graft.operators.Dsir

/** C46 DSIR hashed-ngram importance weighting. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val target = Seq(
    (1L, "alpha beta gamma alpha beta"),
    (2L, "alpha gamma delta")).toDF("doc_id", "text")
  private val raw = Seq(
    (1L, "alpha beta gamma alpha beta"),
    (2L, "alpha gamma delta"),
    (3L, "omega psi chi omega"),
    (4L, "psi chi psi chi")).toDF("doc_id", "text")

  test("target-like docs score higher than off-target docs") {
    val m = Dsir.train(target, raw, col("doc_id"), col("text"))
    val got = Dsir.score(raw, col("doc_id"), col("text"), m)
      .select("id", "logw").as[(Long, Double)].collect().toMap
    // docs 1-2 are the target itself; 3-4 share no tokens with it
    assert(got(1L) > 0 && got(2L) > 0, s"target docs must score > 0: $got")
    assert(got(3L) < 0 && got(4L) < 0, s"off-target docs must score < 0: $got")
    assert(got(1L) > got(3L) && got(2L) > got(4L))
  }

  test("model is bucket-bounded and scoring is deterministic") {
    val m = Dsir.train(target, raw, col("doc_id"), col("text"), prefixLen = 1)
    assert(m.table.count() <= 16, "prefixLen=1 means at most 16 buckets")
    val a = Dsir.score(raw, col("doc_id"), col("text"), m)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    val b = Dsir.score(raw, col("doc_id"), col("text"), m)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("feature count is unigrams + bigrams with multiplicity") {
    val m = Dsir.train(target, raw, col("doc_id"), col("text"))
    val n = Dsir.score(raw, col("doc_id"), col("text"), m)
      .select("id", "n_feats").as[(Long, Long)].collect().toMap
    // 5 tokens -> 5 unigrams + 4 bigrams; 3 -> 3 + 2; 4 -> 4 + 3
    assert(n == Map(1L -> 9L, 2L -> 5L, 3L -> 7L, 4L -> 7L))
  }

  test("feature-less docs score neutral 0.0, unseen buckets use the floor") {
    val m = Dsir.train(target, raw, col("doc_id"), col("text"))
    val odd = Seq((10L, null: String), (11L, ""), (12L, "zzzz qqqq"))
      .toDF("doc_id", "text")
    val got = Dsir.score(odd, col("doc_id"), col("text"), m)
      .select("id", "n_feats", "logw").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(10L) == ((0L, 0.0)) && got(11L) == ((0L, 0.0)))
    // 'zzzz'/'qqqq' buckets are absent from both corpora (checked by
    // the tolerance below — an md5 collision with a seen bucket would
    // shift the sum): each of the 3 features takes unkLam exactly
    assert(got(12L)._1 == 3L)
    assert(math.abs(got(12L)._2 - 3 * m.unkLam) < 1e-5, s"${got(12L)} vs ${3 * m.unkLam}")
  }

  test("score kernel ≡ declarative decimal pipeline, bit-identical") {
    import spark.implicits._
    // seen buckets, unseen buckets (unkLam path), repeated features
    // (multiplicity), every whitespace byte the split recognizes,
    // unicode tokens (multi-byte md5 input), empty and null text,
    // and prefix lengths 1, 3 (the default) and 5 (the largest train
    // accepts) to cover the bucket-width logic
    val docs = Seq(
      (200L, "alpha beta gamma alpha beta zzzz"),
      (201L, "naïve\tcafé\n日本語\falpha\romega"),
      (202L, "  \t \n  "), (203L, ""), (204L, null.asInstanceOf[String]),
      (205L, "ALPHA Beta alpha"), (206L, "solo"))
      .toDF("doc_id", "text")
    for (pl <- Seq(1, 3, 5)) {
      val m = Dsir.train(target, raw, col("doc_id"), col("text"), prefixLen = pl)
      val kernel = Dsir.score(docs, col("doc_id"), col("text"), m)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      val decl = DeclarativeRef.dsirScore(docs, col("doc_id"), col("text"), m)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(kernel == decl, s"prefixLen=$pl: kernel $kernel != declarative $decl")
    }
  }

  test("train kernel counts ≡ declarative explode counts (fused training)") {
    import spark.implicits._
    // the same hostile shapes the score-parity fixture uses: repeated
    // features, every whitespace byte, unicode, empty/null text
    val docs = Seq(
      (200L, "alpha beta gamma alpha beta zzzz"),
      (201L, "naïve\tcafé\n日本語\falpha\romega"),
      (202L, "  \t \n  "), (203L, ""), (204L, null.asInstanceOf[String]),
      (205L, "ALPHA Beta alpha"), (206L, "solo"))
      .toDF("doc_id", "text")
    for (pl <- Seq(1, 3, 5)) {
      val fused = Dsir.countsFused(docs, col("text"), pl, "c")
        .as[(String, Long)].collect().toSet
      val decl = DeclarativeRef.dsirCounts(docs, col("doc_id"), col("text"), pl, "c")
        .as[(String, Long)].collect().toSet
      assert(fused == decl, s"prefixLen=$pl: fused counts diverge")
      assert(fused.nonEmpty)
    }
    // and the model trained through the fused path scores identically
    // under the DECLARATIVE scorer — train+score cross-parity
    val m = Dsir.train(target, raw, col("doc_id"), col("text"))
    val a = Dsir.score(raw, col("doc_id"), col("text"), m)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val b = DeclarativeRef.dsirScore(raw, col("doc_id"), col("text"), m)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("train rejects out-of-range prefix lengths") {
    intercept[IllegalArgumentException] {
      Dsir.train(target, raw, col("doc_id"), col("text"), prefixLen = 0)
    }
    intercept[IllegalArgumentException] {
      Dsir.train(target, raw, col("doc_id"), col("text"), prefixLen = 6)
    }
  }
}
