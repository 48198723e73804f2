package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.ArrayExpressions

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic vectors: 0/1 near-identical, 2 orthogonal-ish,
    * plus noise vectors. */
  private def vecs: DataFrame = {
    val base = Array.tabulate(8)(j => math.sin(j * 2.0 + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val rows = Seq((0L, base), (1L, near)) ++
      (2L until 12L).map(i => (i, Array.tabulate(8)(j => math.cos((i * 31 + j * 7).toDouble).toFloat)))
    rows.toDF("vec_id", "embedding")
  }

  test("cosinePairs finds the near-identical pair above threshold") {
    val got = Similarity.cosinePairs(vecs, col("vec_id"), col("embedding"), 0.99)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == Set((0L, 1L)))
    assert(got.head._3 > 0.999)
  }

  test("cosinePairsBucketed equals the all-pairs oracle (several thresholds)") {
    for (t <- Seq(0.2, 0.5, 0.9)) {
      val want = Similarity.cosinePairs(vecs, col("vec_id"), col("embedding"), t)
        .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
      val got = Similarity.cosinePairsBucketed(vecs, col("vec_id"), col("embedding"), t,
          nCells = 3, iters = 2)
        .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
      assert(got == want, s"threshold $t")
    }
  }

  test("autoCells: clamp floor, √ growth, cap") {
    assert(Similarity.autoCells(500, 64) == 16) // floor
    assert(Similarity.autoCells(1L << 20, 64) == 128) // ⌈√(2²⁰/64)⌉
    assert(Similarity.autoCells(4L << 20, 64) == 256) // 4× corpus → 2× cells
    assert(Similarity.autoCells(Long.MaxValue, 64) == 1024) // cap
  }

  test("adaptive nCells stays exact at two corpus sizes picking different auto-k") {
    for ((n, wantK) <- Seq((400, 20), (900, 30))) {
      // targetCellSize=1 so small corpora already clear the 16-cell floor
      assert(Similarity.autoCells(n, 1) == wantK)
      val vs = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          j => cos(col("id") * 31 + j * 7)).as("embedding"))
      val want = Similarity.cosinePairs(vs, col("vec_id"), col("embedding"), 0.9)
        .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
      val got = Similarity.cosinePairsBucketed(vs, col("vec_id"), col("embedding"), 0.9,
          targetCellSize = 1)
        .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
      assert(want.nonEmpty, s"vacuous oracle at n=$n")
      assert(got == want, s"n=$n, auto-k=$wantK")
    }
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break, excludes self") {
    val got = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        col("vec_id"), col("embedding"), 3)
      .orderBy("rank").select("vec_id", "rank", "cosine")
      .as[(Long, Int, Double)].collect().toSeq
    assert(got.length == 3)
    assert(got.head._1 == 1L) // the near-dup is rank 1
    assert(got.map(_._3) == got.map(_._3).sorted.reverse)
    assert(!got.map(_._1).contains(0L))
  }

  test("lshTopK returns bucket-mates with exact scores and no self") {
    val got = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 0),
        col("vec_id"), col("embedding"), k = 5, tables = 4, planes = 2, dims = 8)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(!got.map(_._2).contains(0L))
    // near-identical vectors share every hyperplane side → 1 must be found
    assert(got.map(_._2).contains(1L))
    val brute = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        col("vec_id"), col("embedding"), 11)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toMap
    got.foreach { case (_, v, c) => assert(brute(v) == c) }
  }

  test("lshTopK one-bucket (planes=0) equals brute force exactly — the c7b pin") {
    // the degenerate signature is the empty string: every vector
    // collides, so the whole bucketed path (signature, bucket join,
    // cross-table dedup, rank) must reproduce brute force bit-for-bit
    val got = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") < 3),
        col("vec_id"), col("embedding"), k = 4, tables = 1, planes = 0, dims = 8)
      .select("query_id", "rank", "vec_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 3),
        col("vec_id"), col("embedding"), 4)
      .select("query_id", "rank", "vec_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == brute)
  }

  test("ivfTopK scores match brute force on its candidates; near-dup found with full probe") {
    val got = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0),
        col("vec_id"), col("embedding"), k = 5, nCells = 3, nprobe = 3, iters = 2, dims = 8)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    assert(got.nonEmpty)
    assert(!got.map(_._1).contains(0L))
    // nprobe = nCells → exhaustive → must equal brute force top-5
    val brute = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        col("vec_id"), col("embedding"), 5)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    assert(got.toSet == brute.toSet)
  }

  test("semDedup: exhaustive (nCells=1) equals global keep-first from cosinePairs") {
    val t = 0.5
    // global keep-first: dropped iff some lower-id vector matches
    val droppedWant = Similarity.cosinePairs(vecs, col("vec_id"), col("embedding"), t)
      .select("vec_b").as[Long].collect().toSet
    val want = vecs.select("vec_id").as[Long].collect().toSet -- droppedWant
    val got = Similarity.semDedup(vecs, col("vec_id"), col("embedding"), t,
        nCells = 1, iters = 0)
      .select("vec_id").as[Long].collect().toSet
    assert(got == want)
    assert(!got.contains(1L) && got.contains(0L)) // 1 is 0's near-dup, 0 kept
  }

  test("semDedup: clustered survivors ⊇ exhaustive survivors; drops are sound") {
    val t = 0.3
    val exhaustive = Similarity.semDedup(vecs, col("vec_id"), col("embedding"), t,
        nCells = 1, iters = 0).select("vec_id").as[Long].collect().toSet
    val clustered = Similarity.semDedup(vecs, col("vec_id"), col("embedding"), t,
        nCells = 4, iters = 2)
    val surv = clustered.select("vec_id").as[Long].collect().toSet
    // clustering only MISSES matches (cross-cluster), never invents them
    assert(exhaustive.subsetOf(surv))
    // soundness: every dropped vector really has a lower-id match ≥ t
    val dropped = vecs.select("vec_id").as[Long].collect().toSet -- surv
    val matchedPairs = Similarity.cosinePairs(vecs, col("vec_id"), col("embedding"), t)
      .select("vec_b").as[Long].collect().toSet
    assert(dropped.subsetOf(matchedPairs))
    // identical vectors always share a cell → always deduped
    val withClone = vecs.union(Seq((99L, Array.tabulate(8)(j => math.sin(j * 2.0 + 1).toFloat)))
      .toDF("vec_id", "embedding"))
    val survClone = Similarity.semDedup(withClone, col("vec_id"), col("embedding"), 0.99,
        nCells = 4, iters = 2).select("vec_id").as[Long].collect().toSet
    assert(!survClone.contains(99L))
  }

  test("semDedup: adaptive nCells scales with corpus size; sound/superset at both sizes") {
    // two corpus sizes must pick DIFFERENT auto-k (targetCellSize=1
    // dodges the min clamp: √400 = 20, √1600 = 40)
    def corpus(n: Int) = (0 until n).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 3.7 + j * 1.3).toFloat))).toDF("vec_id", "embedding")
    val (small, big) = (corpus(400), corpus(1600))
    val kSmall = Similarity.autoCells(400, 1)
    val kBig = Similarity.autoCells(1600, 1)
    assert(kSmall == 20 && kBig == 40)
    for ((c, n) <- Seq((small, 400), (big, 1600))) {
      val t = 0.9
      val surv = Similarity.semDedup(c, col("vec_id"), col("embedding"), t,
          nCells = 0, iters = 1, targetCellSize = 1)
        .select("vec_id").as[Long].collect().toSet
      val exhaustive = Similarity.semDedup(c, col("vec_id"), col("embedding"), t,
          nCells = 1, iters = 0).select("vec_id").as[Long].collect().toSet
      // clustering only MISSES matches, never invents them...
      assert(exhaustive.subsetOf(surv), s"n=$n: clustered lost an exhaustive survivor")
      // ...and every drop is a REAL lower-id match at >= t
      val matched = Similarity.cosinePairs(c, col("vec_id"), col("embedding"), t)
        .select("vec_b").as[Long].collect().toSet
      val dropped = (0L until n).toSet -- surv
      assert(dropped.subsetOf(matched), s"n=$n: unsound drop")
      assert(dropped.nonEmpty, s"n=$n: the sin-lattice corpus must contain near-dups")
    }
  }

  test("semDedupWith: a stored codebook reproduces semDedup exactly") {
    import graft.operators.PQ
    import graft.sources.Models
    val cents = PQ.trainCoarse(vecs, col("vec_id"), col("embedding"), 4, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup-model").toString
    Models.saveCoarse(spark, cents, dir)
    val want = Similarity.semDedup(vecs, col("vec_id"), col("embedding"), 0.3,
      nCells = 4, iters = 2).collect().map(_.toSeq).toSet
    val got = Similarity.semDedupWith(vecs, col("vec_id"), col("embedding"), 0.3,
      Models.loadCoarse(spark, dir)).collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("semDedupIncrement: sequential all-seen gating equals global keep-first; re-ingest drops") {
    import graft.operators.PQ
    val t = 0.3
    val arr1 = vecs.filter(col("vec_id") < 10)
    val arr2 = vecs.filter(col("vec_id") >= 10)
    // one codebook for both arrivals, nCells=1 ⇒ exhaustive
    val cb = PQ.trainCoarse(arr1, col("vec_id"), col("embedding"), 1, 0)
    val s1 = Similarity.semDedupWith(arr1, col("vec_id"), col("embedding"), t, cb)
      .select("vec_id").as[Long].collect().toSet
    val s2 = Similarity.semDedupIncrement(arr1, arr2,
        col("vec_id"), col("embedding"), t, cb)
      .select("vec_id").as[Long].collect().toSet
    // sequential ≡ global: union of arrival survivors = one-shot dedup
    val global = Similarity.semDedup(vecs, col("vec_id"), col("embedding"), t,
        nCells = 1, iters = 0)
      .select("vec_id").as[Long].collect().toSet
    assert((s1 ++ s2) == global)
    // re-ingesting an arrival already in the seen pool self-matches
    // (cosine 1 with itself) → zero survivors, idempotent ingest
    val replay = Similarity.semDedupIncrement(vecs, arr2,
      col("vec_id"), col("embedding"), t, cb)
    assert(replay.count() == 0)
  }

  test("semDedup: zero-norm vectors always survive, with null cell") {
    val withZero = vecs.union(Seq((50L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    val got = Similarity.semDedup(withZero, col("vec_id"), col("embedding"), 0.0,
        nCells = 2, iters = 1)
      .select(col("vec_id"), col("cell")).as[(Long, Option[Int])].collect().toMap
    assert(got.contains(50L) && got(50L).isEmpty)
    // threshold 0.0 with real vectors: everything non-orthogonal to a
    // lower id within its cell drops, but the zero vector never does
  }

  test("zero-norm vectors never pair, never rank, never NPE training") {
    // id 0 is zero-norm AND among the lowest ids, so it would be
    // picked as a Lloyd seed (driver NPE via null unit vector) and
    // parked in cell 0 (NaN pairs) without the explicit gates
    val zv = Seq((0L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
      .union(vecs.filter(col("vec_id") > 0))
    for (t <- Seq(0.2, 0.9)) {
      val all = Similarity.cosinePairs(zv, col("vec_id"), col("embedding"), t)
        .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect()
      val bucketed = Similarity.cosinePairsBucketed(zv, col("vec_id"), col("embedding"), t,
          nCells = 3, iters = 2)
        .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect()
      assert(!all.exists(r => r._1 == 0L || r._2 == 0L), s"zero-norm paired (all-pairs), t=$t")
      assert(!all.exists(_._3.isNaN), s"NaN cosine leaked (all-pairs), t=$t")
      assert(bucketed.toSet == all.toSet, s"bucketed != all-pairs with a zero-norm row, t=$t")
    }
    // zero-norm QUERY produces no rows (not k arbitrary NaN rows)
    val zq = Similarity.ivfTopK(zv, zv.filter(col("vec_id") === 0),
      col("vec_id"), col("embedding"), k = 3, nCells = 3, nprobe = 3, iters = 2, dims = 8)
    assert(zq.isEmpty, "zero-norm IVF query returned rows")
    assert(Similarity.bruteForceTopK(zv, zv.filter(col("vec_id") === 0),
      col("vec_id"), col("embedding"), 3).isEmpty, "zero-norm brute-force query returned rows")
    assert(Similarity.lshTopK(zv, zv.filter(col("vec_id") === 0),
      col("vec_id"), col("embedding"), 3, planes = 2, dims = 8).isEmpty,
      "zero-norm LSH query returned rows")
    // zero-norm CORPUS vector is absent from real queries' results
    val res = Similarity.ivfTopK(zv, zv.filter(col("vec_id") === 2),
        col("vec_id"), col("embedding"), k = 10, nCells = 3, nprobe = 3, iters = 2, dims = 8)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    assert(res.nonEmpty && !res.map(_._1).contains(0L) && !res.exists(_._2.isNaN))
  }

  test("SortedIntersectSize merges correctly incl. empty and disjoint") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d"), 2),
      (Seq[String](), Seq("x"), 0),
      (Seq("a"), Seq("b"), 0),
      (Seq("a", "b"), Seq("a", "b"), 2)).toDF("x", "y", "want")
    val got = df.select(ArrayExpressions.sortedIntersectSize(col("x"), col("y")), col("want"))
      .as[(Int, Int)].collect()
    got.foreach { case (g, w) => assert(g == w) }
  }
}
