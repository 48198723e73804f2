package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.PQExpressions

/** Product-quantization ANN (SURVEY C27) — compressed-domain
  * similarity search in the IVFADC family (Jégou, Douze, Schmid,
  * "Product quantization for nearest neighbor search", TPAMI 2011).
  *
  * Vectors are L2-normalized, split into `m` subspaces, and each
  * subvector is replaced by the id of its nearest subspace centroid:
  * d floats become m small codes (64-dim float32 → 8 bytes here, a
  * 32× compression), which is what makes a 100 TB embedding corpus
  * scannable — the scan touches codes, not vectors.
  *
  * Search is ADC (asymmetric distance computation): each query
  * precomputes an m×k table of subspace dots against the centroids
  * (tiny, broadcast with the query), and a candidate's approximate
  * cosine is m array lookups summed — `zip_with(codes, tbl, …)` +
  * `aggregate`, fully codegen'd, no join fan-out. The top `rerank`
  * candidates per query are then re-scored EXACTLY against the full
  * vectors (one model-sized semi-join), so approximation decides only
  * WHICH candidates are considered, never their reported scores —
  * the same verify-exact discipline as the LSH/IVF/angular-cell
  * operators here.
  *
  * Training runs one Lloyd recursion for ALL subspaces at once: the
  * corpus explodes to (id, sub, subvector) rows, assignment is a
  * MAP-SIDE arg-max against literal centroids (per-subspace when()
  * chain — only the matching branch's k dots evaluate), and the
  * update is a (sub, cell, dim) mean — ONE shuffle per iteration,
  * independent of m. Only the m×k×(d/m) centroid model (= one
  * d-dim vector per cell column, ~k·d doubles) ever reaches the
  * driver, embedded as plan-time literals for the map-side encode.
  */
object PQ {

  /** Trained model: centroids(sub)(cell) = subspace centroid. */
  final case class Model(m: Int, k: Int, subDim: Int,
                         centroids: Seq[Seq[Seq[Double]]]) {
    require(centroids.length == m && centroids.forall(_.length == k))
  }

  /** L2-normalized d-dim view of `vec` (PQ operates on the unit
    * sphere so ADC dots approximate cosine directly) — the native
    * O(d) expression; the HOF form (`transform(v, x => x/norm(v))`)
    * re-computes the norm per element when evaluated interpreted. */
  private def unit(vec: Column): Column = PQExpressions.unitVec(vec)

  /** Mean of the double column `x` over an exact decimal sum: one
    * value whatever order the rows arrive in, so a trained codebook
    * does not depend on how the corpus is partitioned (a double `avg`
    * rounds in arrival order). Each unit-vector component keeps 18
    * decimals, and the sum is rounded to a double once. */
  private def exactMean(x: Column): Column =
    sum(x.cast("decimal(38,18)")).cast("double") / count(x)

  /** Train the m×k subspace codebooks with `iters` Lloyd rounds,
    * seeded deterministically from the `k` lowest-id vectors'
    * subvectors. */
  def train(corpus: DataFrame, id: Column, vec: Column,
            m: Int = 8, k: Int = 16, iters: Int = 2): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // ONE collect serves three needs: the dimensionality, the seed
    // codebooks (sliced driver-side), and the corpus-smaller-than-k
    // shrink — no separate dims job, no reliance on explode order
    // filter AFTER unit(): a zero-norm row would otherwise collect as
    // a null seed and NPE at `.head._2.length` (zero-norm vectors are
    // also mean-invisible below — their null v explodes to no rows)
    val seeds = corpus
      .select(id.cast("long").as("id"), unit(vec).as("v"))
      .filter(col("v").isNotNull).orderBy(col("id")).limit(k)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    require(seeds.nonEmpty,
      "PQ.train: empty corpus (or all vectors zero-norm) — nothing to build a codebook from")
    val d = seeds.head._2.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val subDim = d / m
    // corpus smaller than k: shrink the codebook to the seeds that
    // exist (duplicate centroids would only waste code space)
    val kEff = seeds.length
    var model: Seq[((Int, Int), Seq[Double])] = for {
      (cell, (_, v)) <- seeds.zipWithIndex.map(_.swap).toSeq
      s <- 0 until m
    } yield ((s, cell), v.slice(s * subDim, (s + 1) * subDim))
    for (_ <- 0 until iters) {
      // map-side argmax against the native codebook expression (the
      // same scoring as `encode`): nearest by L2 ⇔ max of
      // (sv·cv − |cv|²/2), the whole m×k codebook riding as one plan
      // reference object — no broadcast join, no (id, sub) shuffle;
      // the mean aggregation below is each iteration's only exchange.
      // A cell with no members this round is dead (empty seq — the
      // native argmax skips it, same as the old flatMap skip).
      val byKey = model.toMap
      val c3 = Seq.tabulate(m)(s => Seq.tabulate(kEff)(c =>
        byKey.getOrElse((s, c), Seq.empty[Double])))
      // codes computed ONCE per row (one native call), then exploded
      // to (sub, cell, subvector) for the mean update
      val assigned = corpus.select(unit(vec).as("v"))
        .select(col("v"),
          PQExpressions.nearestCodes(col("v"), c3, normalize = false).as("codes"))
        .select(posexplode(transform(sequence(lit(0), lit(m - 1)), s =>
          struct(element_at(col("codes"), s + 1).as("cell"),
            slice(col("v"), s * subDim + 1, lit(subDim)).as("sv")))).as(Seq("sub", "sc")))
        .select(col("sub"), col("sc.cell").as("cell"), col("sc.sv").as("sv"))
      model = assigned
        .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("cell"), col("dim")).agg(exactMean(col("x")).as("mu"))
        .groupBy(col("sub"), col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mu")))).as("dm"))
        .select(col("sub"), col("cell"), transform(col("dm"), e => e.getField("mu")).as("cv"))
        .as[(Int, Int, Seq[Double])].collect().toSeq
        .map { case (s, c, cv) => ((s, c), cv) }
    }
    val byKey = model.toMap
    // a cell that lost all members keeps its previous centroid absent
    // from `model` — refill from the seed order to keep the codebook
    // total (codes must always have k valid targets)
    val seedFill = byKey.values.head
    Model(m, kEff, subDim, Seq.tabulate(m)(s => Seq.tabulate(kEff)(c =>
      byKey.getOrElse((s, c), seedFill))))
  }

  /** Append `codes array<int>` (length m): per subspace, the cell id
    * of the nearest codebook centroid — pure map-side, one native
    * argmax call per row against the plan-constant model. */
  def encode(corpus: DataFrame, id: Column, vec: Column, model: Model): DataFrame =
    corpus.select(id.as("vec_id"),
      PQExpressions.nearestCodes(vec, model.centroids).as("codes"))

  /** Coarse quantizer for IVFADC: `nCells` full-dimension centroids
    * via the same literal-argmax Lloyd as the subspace training (one
    * mean shuffle per iteration; only the nCells×d model reaches the
    * driver). Seeds = the nCells lowest-id vectors. */
  def trainCoarse(corpus: DataFrame, id: Column, vec: Column,
                  nCells: Int = 16, iters: Int = 1): Seq[Seq[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // unitVec null-propagates zero-norm vectors: drop them here so a
    // zero-norm row among the nCells lowest ids can't become a NULL
    // seed (callers take l2 of every centroid — a driver-side NPE)
    // and can't vote in the means. Such rows are unindexable anyway
    // (null cell in ivfAssign, gated out of the pair operators).
    val v = corpus.select(id.cast("long").as("id"), unit(vec).as("v"))
      .filter(col("v").isNotNull)
    var cents: Seq[Seq[Double]] = v.orderBy(col("id")).limit(nCells)
      .select(col("v")).as[Seq[Double]].collect().toSeq
    require(cents.nonEmpty, "PQ.trainCoarse: empty corpus (or all vectors zero-norm)")
    def cellOf(cs: Seq[Seq[Double]]): Column =
      PQExpressions.nearestCell(col("v"), cs, normalize = false)
    for (_ <- 0 until iters) {
      val byCell = v.select(cellOf(cents).as("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim")).agg(exactMean(col("x")).as("mu"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mu")))).as("dm"))
        .select(col("cell"), transform(col("dm"), e => e.getField("mu")).as("cv"))
        .as[(Int, Seq[Double])].collect().toMap
      cents = cents.indices.map(c => byCell.getOrElse(c, cents(c)))
    }
    cents
  }

  /** IVFADC search (the full Jégou et al. layout, non-residual
    * variant): every vector carries (cell, codes) — both computed
    * map-side in one pass — and a query ADC-scans ONLY its `nprobe`
    * nearest cells' codes before the exact re-rank. The cell
    * restriction multiplies PQ's 32× memory saving by an
    * nprobe/nCells scan saving; the only shuffles are the per-query
    * rank and the rerank join (cell probing is a broadcast join).
    * Zero-norm vectors and queries never rank (see `Similarity.normed`). */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
                 model: Model, coarse: Seq[Seq[Double]], k: Int,
                 nprobe: Int = 4, rerank: Int = 32): DataFrame = {
    // (vec_id, cell, codes) — one map-side pass over the corpus, two
    // native calls per row
    val index = corpus.select(id.as("vec_id"),
      PQExpressions.nearestCodes(vec, model.centroids).as("codes"),
      PQExpressions.nearestCell(vec, coarse).as("cell"))
    val q = Similarity.probeList(queries, id, vec, coarse, nprobe,
      "tbl" -> PQExpressions.adcTable(vec, model.centroids))
    rerankExact(shortlist(index.join(broadcast(q), "cell"), rerank), corpus, queries, id, vec, k)
  }

  /** ADC top-k: approximate-cosine scan over codes, exact re-rank of
    * the top `rerank` candidates per query against the full vectors.
    * Returns (query_id, rank, vec_id, cosine) with the EXACT rounded
    * cosine, rank by (cosine desc, vec_id). Zero-norm vectors and
    * queries never rank (see `Similarity.normed`). */
  def adcTopK(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
              id: Column, vec: Column, model: Model, k: Int,
              rerank: Int = 32): DataFrame = {
    val q = queries.select(id.as("query_id"),
      PQExpressions.adcTable(vec, model.centroids).as("tbl"))
    rerankExact(shortlist(encoded.crossJoin(broadcast(q)), rerank), corpus, queries, id, vec, k)
  }

  /** (query_id, vec_id): each query's `rerank` best candidates by ADC
    * score — a candidate's m codes look up the query's m×k table and
    * sum, fully codegen'd. */
  private def shortlist(candidates: DataFrame, rerank: Int): DataFrame = {
    val adc = aggregate(zip_with(col("codes"), col("tbl"), (c, t) => element_at(t, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    Similarity.topK(candidates.filter(col("vec_id") =!= col("query_id")), "adc", adc, rerank)
      .select(col("query_id"), col("vec_id"))
  }

  /** Exact re-rank: (query_id, vec_id) candidates join back to true
    * vectors (model-sized per query), scores are exact rounded
    * cosine like C6. */
  private def rerankExact(candidates: DataFrame, corpus: DataFrame,
                          queries: DataFrame, id: Column, vec: Column,
                          k: Int): DataFrame = {
    val full = Similarity.normed(corpus, id, vec, "vec_id", "v", "nrm")
    val qfull = Similarity.normed(queries, id, vec, "query_id", "qv", "qn")
    Similarity.topK(candidates.join(full, "vec_id").join(broadcast(qfull), "query_id"),
      "cosine", Similarity.cosine(col("qv"), col("v"), col("qn"), col("nrm")), k)
  }
}
