package graft

import org.apache.spark.sql.functions._
import graft.operators.{PQ, Similarity}

/** Product quantization (C27): codes are well-formed, ADC+rerank
  * recalls brute-force neighbors, and reported scores are exact. */
class PQSpec extends SparkSpec {
  import spark.implicits._

  // 240 vectors in 12 deterministic clusters on the unit sphere
  // (dim 16): cluster centers from a fixed LCG, members = center +
  // small deterministic jitter
  private lazy val vecs = {
    val dim = 16
    def lcg(seed: Long): Iterator[Double] =
      Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
        .map(s => ((s >>> 33).toDouble / (1L << 31).toDouble) - 0.5)
    val centers = (0 until 12).map(c => lcg(c * 7919L + 1).take(dim).toArray)
    (0 until 240).map { i =>
      val c = centers(i % 12)
      val j = lcg(i * 104729L + 13).take(dim).toArray
      val v = c.indices.map(d => c(d) + 0.08 * j(d)).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("encode: m codes per vector, all within the codebook") {
    val model = PQ.train(vecs, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 2)
    val codes = PQ.encode(vecs, col("vec_id"), col("embedding"), model)
      .select(col("codes")).as[Seq[Int]].collect()
    assert(codes.length == 240)
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 8)))
    // clustered corpus → codebook actually used, not collapsed
    assert(codes.distinct.length > 8)
  }

  test("one Lloyd round is enough once re-rank verifies exactly (c27 uses iters=1)") {
    val queries = vecs.filter(col("vec_id") < 10)
    val model = PQ.train(vecs, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 1)
    val encoded = PQ.encode(vecs, col("vec_id"), col("embedding"), model)
    val pq = PQ.adcTopK(encoded, vecs, queries, col("vec_id"), col("embedding"),
        model, k = 5, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val bf = Similarity.bruteForceTopK(vecs, queries, col("vec_id"), col("embedding"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.count(bf) >= (0.8 * bf.size).toInt, s"recall ${pq.count(bf)}/${bf.size}")
  }

  test("ivfAdcTopK: cell-restricted scan still recalls >= 0.7 at nprobe=4/8") {
    val queries = vecs.filter(col("vec_id") < 10)
    val model = PQ.train(vecs, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 1)
    val coarse = PQ.trainCoarse(vecs, col("vec_id"), col("embedding"), nCells = 8, iters = 1)
    val ivf = PQ.ivfAdcTopK(vecs, queries, col("vec_id"), col("embedding"),
        model, coarse, k = 5, nprobe = 4, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val bf = Similarity.bruteForceTopK(vecs, queries, col("vec_id"), col("embedding"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val bfSet = bf.map(t => (t._1, t._2)).toSet
    val hit = ivf.map(t => (t._1, t._2)).count(bfSet)
    assert(hit >= (0.7 * bfSet.size).toInt, s"recall $hit/${bfSet.size}")
    // overlapping pairs report the exact brute-force cosine
    val bfScore = bf.map(t => (t._1, t._2) -> t._3).toMap
    ivf.foreach { case (q, v, s) =>
      bfScore.get((q, v)).foreach(exp => assert(s == exp)) }
    // probing all cells must recover the full-ADC result
    val all = PQ.ivfAdcTopK(vecs, queries, col("vec_id"), col("embedding"),
        model, coarse, k = 5, nprobe = 8, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val adc = PQ.adcTopK(PQ.encode(vecs, col("vec_id"), col("embedding"), model),
        vecs, queries, col("vec_id"), col("embedding"), model, k = 5, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(all == adc)
  }

  test("zero-norm vectors: native expressions return null, never -1 codes") {
    import graft.plans.PQExpressions
    val model = PQ.train(vecs, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 1)
    val zeroed = Seq((9999L, Seq.fill(16)(0.0f))).toDF("vec_id", "embedding")
    val probe = zeroed.select(
      PQExpressions.unitVec(col("embedding")).as("u"),
      PQExpressions.nearestCodes(col("embedding"), model.centroids).as("codes"),
      PQExpressions.adcTable(col("embedding"), model.centroids).as("tbl")).head()
    assert(probe.isNullAt(0) && probe.isNullAt(1) && probe.isNullAt(2))
    // and both ADC indexes drop a zero-norm vector and a zero-norm
    // query (see Similarity.normed). rerank ≥ corpus size sends every
    // candidate, the zero-norm one included, to the exact re-rank, and
    // the zero-norm query is re-ranked too — where the cosine would
    // divide by a zero norm
    val coarse = PQ.trainCoarse(vecs, col("vec_id"), col("embedding"), nCells = 8, iters = 1)
    val corpus = vecs.unionByName(zeroed)
    val queries = corpus.filter(col("vec_id") < 3 || col("vec_id") === 9999L)
    val adc = PQ.adcTopK(PQ.encode(corpus, col("vec_id"), col("embedding"), model),
        corpus, queries, col("vec_id"), col("embedding"), model, k = 5, rerank = Int.MaxValue)
      .collect()
    val ivf = PQ.ivfAdcTopK(corpus, queries, col("vec_id"), col("embedding"),
        model, coarse, k = 5, nprobe = 8, rerank = Int.MaxValue).collect()
    for ((name, res) <- Seq("adcTopK" -> adc, "ivfAdcTopK" -> ivf)) {
      assert(res.map(_.getLong(0)).toSet == Set(0L, 1L, 2L), s"$name: queries answered")
      assert(res.length == 15, s"$name: k rows per real query")
      assert(!res.exists(_.getLong(2) == 9999L), s"$name: zero-norm vector ranked")
    }
  }

  test("adcTopK: recall@5 vs brute force >= 0.8 with rerank, scores exact") {
    val queries = vecs.filter(col("vec_id") < 10)
    val model = PQ.train(vecs, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 2)
    val encoded = PQ.encode(vecs, col("vec_id"), col("embedding"), model)
    val pq = PQ.adcTopK(encoded, vecs, queries, col("vec_id"), col("embedding"),
        model, k = 5, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val bf = Similarity.bruteForceTopK(vecs, queries, col("vec_id"), col("embedding"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val bfSet = bf.map(t => (t._1, t._2)).toSet
    val hit = pq.map(t => (t._1, t._2)).count(bfSet)
    assert(hit >= (0.8 * bfSet.size).toInt, s"recall ${hit}/${bfSet.size}")
    // any overlapping (query, vec) pair reports the SAME exact cosine
    val bfScore = bf.map(t => (t._1, t._2) -> t._3).toMap
    pq.foreach { case (q, v, s) =>
      bfScore.get((q, v)).foreach(exp => assert(s == exp, s"($q,$v): $s vs $exp"))
    }
  }

  test("codebooks do not depend on how the corpus is partitioned") {
    // the same rows trained from one partition and from eight: each
    // centroid mean is an exact decimal sum, so the codebooks are
    // bit-identical, not merely close
    val one = vecs.coalesce(1)
    val eight = vecs.repartition(8)
    assert(one.rdd.getNumPartitions == 1 && eight.rdd.getNumPartitions == 8)
    def pq(df: org.apache.spark.sql.DataFrame) =
      PQ.train(df, col("vec_id"), col("embedding"), m = 4, k = 8, iters = 2).centroids
    def coarse(df: org.apache.spark.sql.DataFrame) =
      PQ.trainCoarse(df, col("vec_id"), col("embedding"), nCells = 8, iters = 2)
    assert(pq(one) == pq(eight))
    assert(coarse(one) == coarse(eight))
  }
}
