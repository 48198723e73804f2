package graft

import org.apache.spark.sql.functions._
import graft.operators.{Classifier, Dsir, LangModel}

/** C52: the trained NB quality classifier on a hand-labeled corpus —
  * direction of the learned signal, the prior-only contract for
  * out-of-vocabulary docs, verdict semantics, and determinism across
  * partitionings (the decimal-sum discipline). */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val pos = Seq((1L, "good clean prose text"), (2L, "clean text reads well"))
  private val neg = Seq((10L, "spam junk click spam"), (11L, "junk click buy buy"))

  test("scores separate seed-like docs; prior-only for OOV; keep at cutoff") {
    val model = Classifier.train(pos.toDF("id", "t"), neg.toDF("id", "t"),
      col("id"), col("t"))
    val docs = Seq(
      (100L, "clean text prose"),     // pos-vocab only → high
      (101L, "spam junk buy"),        // neg-vocab only → low
      (102L, "zzz qqq"),              // fully OOV → prior only
      (103L, "")).toDF("id", "t")     // token-less → prior only
    val got = Classifier.score(docs, col("id"), col("t"), model)
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    val prior = model.prior // equal seeds → ln(1) = 0
    assert(prior == 0.0)
    assert(got(100L)._3 > 0 && got(100L)._4, got(100L).toString)
    assert(got(101L)._3 < 0 && !got(101L)._4, got(101L).toString)
    assert(got(102L)._2 == 0 && got(102L)._3 == prior)
    assert(got(103L)._2 == 0 && got(103L)._3 == prior)
    // shared-vocab token ("text") is near-neutral, only in pos here
    assert(got(100L)._3 > got(101L)._3)
  }

  test("unbalanced seeds shift the prior; result invariant to partitioning") {
    val model = Classifier.train(
      (pos ++ Seq((3L, "more clean text"))).toDF("id", "t"),
      neg.toDF("id", "t"), col("id"), col("t"))
    assert(model.prior > 0) // ln(3/2)
    val docs = (0L until 50L).map(i => (i, if (i % 2 == 0) "clean text" else "junk spam"))
    val a = Classifier.score(docs.toDF("id", "t").repartition(1), col("id"), col("t"), model)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    val b = Classifier.score(docs.toDF("id", "t").repartition(13), col("id"), col("t"), model)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("models with different priors generate identical scoring code") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.StringType
    val even = Classifier.train(pos.toDF("id", "t"), neg.toDF("id", "t"), col("id"), col("t"))
    val skewed = Classifier.train((pos :+ ((3L, "more clean text"))).toDF("id", "t"),
      neg.toDF("id", "t"), col("id"), col("t"))
    assert(even.prior != skewed.prior)
    // the prior is model data, read from the model object: a literal in
    // the source would make every model compile its own class
    def source(m: graft.plans.FrozenTextModel): String = {
      val ctx = new CodegenContext
      GenerateUnsafeProjection.createCode(ctx,
        Seq(graft.plans.ModelScore(BoundReference(0, StringType, nullable = true), m)))
        .code.toString + ctx.declareAddedFunctions()
    }
    assert(source(even.compiled) == source(skewed.compiled))
    // the same holds for the other frozen text models: two LMs with
    // different unseen floors, two DSIR models with different unseen λ
    val lmA = LangModel.train((pos ++ neg).toDF("id", "t"), col("t"))
    val lmB = LangModel.train(pos.toDF("id", "t"), col("t"))
    assert(lmA.unkLogp != lmB.unkLogp)
    assert(source(lmA.compiled) == source(lmB.compiled))
    val raw = (pos ++ neg).toDF("id", "t")
    val dsirA = Dsir.train(pos.toDF("id", "t"), raw, col("id"), col("t"))
    val dsirB = Dsir.train((pos :+ ((3L, "more clean text"))).toDF("id", "t"), raw,
      col("id"), col("t"))
    assert(dsirA.unkLam != dsirB.unkLam)
    assert(source(dsirA.compiled) == source(dsirB.compiled))
  }

  test("score kernel ≡ declarative decimal pipeline, bit-identical") {
    // vocab hits, OOV tokens, repeated occurrences (multiplicity),
    // every whitespace byte the split recognizes, unicode tokens
    // (case folding upstream of both paths), empty and null text
    val model = Classifier.train(
      (pos ++ Seq((4L, "naïve café 日本語"))).toDF("id", "t"),
      neg.toDF("id", "t"), col("id"), col("t"))
    val docs = Seq(
      (200L, "clean clean CLEAN spam text zzz"),
      (201L, "naïve\tcafé\n日本語prose\fclick\rspam"),
      (202L, "  \t \n  "), (203L, ""), (204L, null.asInstanceOf[String]),
      (205L, "NAÏVE Café junk"))
      .toDF("id", "t")
    val kernel = Classifier.score(docs, col("id"), col("t"), model)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    val decl = DeclarativeRef.classifierScore(
        docs.na.fill("", Seq("t")), col("id"), col("t"), model)
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(kernel == decl, s"kernel $kernel != declarative $decl")
    // the fixture exercises both hit and OOV paths
    assert(kernel.find(_._1 == 200L).get._2 >= 3)
  }

  test("train kernel counts ≡ declarative explode counts (fused training)") {
    val docs = Seq(
      (200L, "clean clean CLEAN spam text zzz"),
      (201L, "naïve\tcafé\n日本語prose\fclick\rspam"),
      (202L, "  \t \n  "), (203L, ""), (204L, null.asInstanceOf[String]),
      (205L, "NAÏVE Café junk"))
      .toDF("id", "t")
    val fused = Classifier.tokenCountTable(docs, col("t"), "c")
      .as[(String, Long)].collect().toSet
    val decl = DeclarativeRef.classifierCounts(docs, col("t"), "c")
      .as[(String, Long)].collect().toSet
    assert(fused == decl && fused.nonEmpty, s"fused $fused != declarative $decl")
  }
}
