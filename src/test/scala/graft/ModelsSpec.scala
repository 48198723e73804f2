package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{PQ, Similarity}
import graft.sources.{Models, Versioned}

/** E14 persistent ANN model store: exact round-trip, identical
  * encode, versioned refresh. */
class ModelsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = {
    val rows = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => math.cos((i * 31 + j * 7).toDouble).toFloat)))
    rows.toDF("vec_id", "embedding")
  }

  test("PQ model round-trips bit-for-bit and encodes identically") {
    val path = Files.createTempDirectory("graft-models").toString + "/pq"
    val trained = PQ.train(vecs, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 2)
    Models.savePQ(spark, trained, path)
    val loaded = Models.loadPQ(spark, path)
    assert(loaded == trained) // parquet doubles are exact
    val a = PQ.encode(vecs, col("vec_id"), col("embedding"), trained)
      .as[(Long, Seq[Int])].collect().toSet
    val b = PQ.encode(vecs, col("vec_id"), col("embedding"), loaded)
      .as[(Long, Seq[Int])].collect().toSet
    assert(a == b)
  }

  test("coarse codebook round-trips; loaded model assigns identically") {
    val path = Files.createTempDirectory("graft-models").toString + "/coarse"
    val cents = PQ.trainCoarse(vecs, col("vec_id"), col("embedding"), nCells = 4, iters = 2)
    Models.saveCoarse(spark, cents, path)
    val loaded = Models.loadCoarse(spark, path)
    assert(loaded == cents)
    val a = Similarity.ivfAssign(vecs, col("vec_id"), col("embedding"), cents)
      .select("vec_id", "cell").as[(Long, Int)].collect().toSet
    val b = Similarity.ivfAssign(vecs, col("vec_id"), col("embedding"), loaded)
      .select("vec_id", "cell").as[(Long, Int)].collect().toSet
    assert(a == b)
  }

  test("model refresh is a versioned publish: old snapshot survives for in-flight readers") {
    val path = Files.createTempDirectory("graft-models").toString + "/pq"
    val m1 = PQ.train(vecs, col("vec_id"), col("embedding"), m = 2, k = 4, iters = 1)
    Models.savePQ(spark, m1, path)
    val v1Dir = Versioned.currentSnapshot(spark, path).get._2
    val m2 = PQ.train(vecs, col("vec_id"), col("embedding"), m = 2, k = 4, iters = 2)
    Models.savePQ(spark, m2, path, keep = 1)
    // current resolves to the refreshed model...
    assert(Models.loadPQ(spark, path) == m2)
    // ...and a reader that resolved v1 before the refresh still reads it whole
    assert(spark.read.parquet(v1Dir).count() == 2L * 4L)
  }

  test("classifier model round-trips: identical scores from the loaded snapshot") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val pos = Seq((1L, "good clean text"), (2L, "clean prose")).toDF("id", "t")
    val neg = Seq((10L, "spam junk"), (11L, "junk junk click")).toDF("id", "t")
    val trained = graft.operators.Classifier.train(pos, neg, col("id"), col("t"))
    val path = Files.createTempDirectory("graft-models").toString + "/clf"
    Models.saveClassifier(spark, trained, path)
    val loaded = Models.loadClassifier(spark, path)
    assert(loaded.prior == trained.prior)
    val docs = Seq((100L, "clean text"), (101L, "junk click"), (102L, "zzz")).toDF("id", "t")
    def scores(m: graft.operators.Classifier.Model) =
      graft.operators.Classifier.score(docs, col("id"), col("t"), m)
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(scores(loaded) == scores(trained))
    // the prior row never leaks into the vocabulary
    assert(loaded.table.filter(col("tok").isNull).count() == 0)
  }

  test("dead cells (empty centroids) survive the round trip") {
    val path = Files.createTempDirectory("graft-models").toString + "/dead"
    val withDead = PQ.Model(2, 3, 4, Seq(
      Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq.empty, Seq(0.0, 1.0, 0.0, 0.0)),
      Seq(Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0), Seq.empty)))
    Models.savePQ(spark, withDead, path)
    assert(Models.loadPQ(spark, path) == withDead)
  }
}
