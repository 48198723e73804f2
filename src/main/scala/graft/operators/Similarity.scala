package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.VectorExpressions

/** Embedding similarity operators (SURVEY C5-C7): threshold pair
  * dedup, brute-force ANN top-k, and LSH-bucketed ANN.
  *
  * Every score is the one rounded cosine (`cosine`, SURVEY §4.3) over
  * vectors that pass the one zero-norm gate (`normed`); thresholds go
  * through `similar`, per-query ranks through `topK` (cosine desc,
  * vec-id tie-break, so rankings are total orders) and IVF probes
  * through `probeList` — PQ's ADC indexes share all of them. The
  * per-pair math runs through the native codegen expression
  * `graft.plans.ArrayDotProduct` (E2), bit-identical to the
  * higher-order-function form kept in test scope
  * (`DeclarativeRef.cosine`), at whole-stage-codegen speed.
  *
  * Scale:
  *  - `cosinePairs` precomputes each vector's norm ONCE (map-side), so
  *    the pair stage is a single dot per pair. The all-pairs form is
  *    the exactness baseline; at 100 TB use `lshTopK`'s bucketing (or
  *    a blocking column) — same scores, candidates only.
  *  - `bruteForceTopK` broadcasts the (small) query set against the
  *    corpus: map-side scoring, one shuffle to rank per query.
  *  - `lshTopK` buckets vectors by random-hyperplane sign signatures.
  *    Hyperplanes are md5-seeded ±1 vectors materialized at PLAN time
  *    as literal arrays (deterministic, no stored model, no per-row
  *    hashing); L independent tables give recall; the only shuffle is
  *    the (table, signature) bucket join.
  */
object Similarity {

  /** (idName, vecName, normName): `vec` as array<double> and its L2
    * norm, computed once per vector — with the engine-wide ZERO-NORM
    * CONTRACT applied. Cosine with the zero vector is undefined (0/0):
    * under ANSI it raises DIVIDE_BY_ZERO, and without ANSI its NaN
    * satisfies every `>= threshold` and ranks first under `desc`
    * (Spark orders NaN greatest) — a spurious pair with every vector,
    * k arbitrary rows for a zero-norm query. So zero-norm rows never
    * pair, never rank and never query: every scored operator here and
    * in `PQ` projects its inputs through this gate. The two cell
    * paths follow the same contract without a row filter: `ivfAssign`
    * gives a zero-norm vector a null cell (it falls out of every cell
    * equi-join, and SemDeDup keeps it as a survivor), and
    * `probeList` drops a query whose centroid dots are null. */
  private[operators] def normed(df: DataFrame, id: Column, vec: Column,
                                idName: String, vecName: String, normName: String): DataFrame =
    df.select(id.as(idName), vec.cast("array<double>").as(vecName))
      .withColumn(normName, VectorExpressions.norm(col(vecName)))
      .filter(col(normName) > 0)

  /** The score: cosine of `va`, `vb` from their precomputed norms,
    * rounded to 6 (SURVEY §4.3) before any threshold or rank. Norms
    * are > 0 by the `normed` gate. */
  private[graft] def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    round(VectorExpressions.dot(va, vb) / (na * nb), 6)

  /** Allocation-free necessary condition for `round(dot/(na·nb), 6) >=
    * t`, used as the FIRST conjunct of every threshold-pair join
    * condition: Spark's `Round` on doubles goes through
    * `BigDecimal.valueOf(..).setScale(..)` — two heap allocations per
    * evaluated candidate, which at n²-shaped candidate volume IS the
    * join's cost (measured 4 μs/pair against ~50 ns for the 64-dim
    * dot). `round(x, 6) >= t` implies `x >= t − 0.5e-6`, so
    * `dot >= (t − 1e-6)·na·nb` (norms are > 0, see `normed`) rejects
    * non-pairs with one fused-codegen dot + multiply + compare and NO
    * allocation; only near-threshold survivors pay the exact decimal
    * round, which stays the deciding conjunct so results are
    * bit-identical. */
  private def rawGate(dot: Column, na: Column, nb: Column, threshold: Double): Column =
    dot >= lit(threshold - 1e-6) * na * nb

  /** The threshold-pair condition between join sides `a` and `b`, each
    * carrying vector `v` and norm `norm`: rounded cosine ≥ threshold,
    * behind the allocation-free `rawGate`. */
  private def similar(norm: String, threshold: Double): Column = {
    val (va, vb, na, nb) = (col("a.v"), col("b.v"), col(s"a.$norm"), col(s"b.$norm"))
    rawGate(VectorExpressions.dot(va, vb), na, nb, threshold) &&
      cosine(va, vb, na, nb) >= threshold
  }

  /** The pair cosine `similar` decides on, as an output column. */
  private def pairCosine(norm: String): Column =
    cosine(col("a.v"), col("b.v"), col(s"a.$norm"), col(s"b.$norm")).as("cosine")

  /** Per-query top-k: `score` as column `name`, ranked by (`name`
    * desc, vec_id) within each `query_id` and kept to rank ≤ k; returns
    * (query_id, rank, vec_id, name). The exact indexes rank on the
    * rounded `cosine`, PQ's ADC shortlist on its approximate score. */
  private[operators] def topK(pairs: DataFrame, name: String, score: Column, k: Int): DataFrame =
    pairs.withColumn(name, score)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col(name).desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col(name))

  /** One row per (query, probed cell): each query's `nprobe` nearest
    * cells of the codebook `cents`, as (query_id, carry…, cell). The
    * centroid dots sort as struct(−dot, cell) ascending = (dot desc,
    * lowest cell on ties) inside one projection — no window, no
    * shuffle. A query with null centroid dots (zero-norm or wrong
    * dimension) is dropped, per the `normed` contract: its (null, c)
    * structs would sort FIRST and probe cells 0..nprobe−1 with
    * undefined scores. */
  private[operators] def probeList(queries: DataFrame, id: Column, vec: Column,
                                   cents: Seq[Seq[Double]], nprobe: Int,
                                   carry: (String, Column)*): DataFrame = {
    val cellDots = transform(sequence(lit(0), lit(cents.length - 1)), c =>
      struct((-element_at(col("cdots"), c + 1)).as("nd"), c.cast("int").as("c")))
    val kept = col("query_id") +: carry.map { case (n, _) => col(n) }
    queries.select((id.as("query_id") +: carry.map { case (n, c) => c.as(n) }) :+
        graft.plans.PQExpressions.centroidDots(vec, cents).as("cdots"): _*)
      .filter(col("cdots").isNotNull)
      .select(kept :+ explode(slice(array_sort(cellDots), 1, nprobe)).as("p"): _*)
      .select(kept :+ col("p.c").as("cell"): _*)
  }

  /** (vec_a, vec_b, cosine) for all pairs with rounded cosine ≥ t.
    * Norms computed once per vector, not per pair, and the threshold
    * is part of the JOIN CONDITION: the nested-loop join evaluates it
    * on the (zero-copy) joined row and only MATERIALIZES qualifying
    * pairs. This all-pairs form is the EXACTNESS ORACLE (specs diff
    * `cosinePairsBucketed` against it) — the shipped C5 query runs
    * the bucketed plan, which never builds the O(n²) loop.
    * Zero-norm vectors never pair (see `normed`). */
  def cosinePairs(vecs: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val v = normed(vecs, id, vec, "id", "v", "nrm")
    v.as("a").join(v.as("b"), col("a.id") < col("b.id") && similar("nrm", threshold))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"), pairCosine("nrm"))
  }

  private def clamp1(c: Column): Column = least(greatest(c, lit(-1.0)), lit(1.0))

  /** Adaptive cell count for `cosinePairsBucketed`:
    * k = ⌈√(n/targetCellSize)⌉, clamped to [16, 1024]. With k = √(n/t)
    * the per-cell pair fan-out (n/k)² is t·n — LINEAR in the corpus
    * with coefficient t — instead of the quadratic blow-up a fixed k
    * suffers at 100× scale. The 1024 cap bounds the two driver-side
    * k-sized artifacts (the k×d literal codebook and the O(k²·d)
    * centroid-angle table); a corpus that saturates it should shard on
    * a blocking column first. */
  private[graft] def autoCells(n: Long, targetCellSize: Int): Int = {
    require(targetCellSize >= 1, s"autoCells: targetCellSize must be >= 1, got $targetCellSize")
    math.min(1024, math.max(16, math.ceil(math.sqrt(n.toDouble / targetCellSize)).toInt))
  }

  /** EXACT threshold-pair dedup without the all-pairs join — the
    * 100 TB-shaped C5.
    *
    * Vectors are clustered into `nCells` angular cells (Lloyd
    * iterations with cosine assignment, deterministically seeded from
    * the `nCells` lowest-id vectors). Assignment is PURE MAP-SIDE:
    * after each (model-sized, k×d — the only thing that ever reaches
    * the driver) centroid collect, the next assignment embeds the
    * centroids as plan-time literal arrays and takes the arg-max via
    * `greatest(struct(cos, -cell))` over k native-codegen dot
    * products — no join, no nested loop anywhere in the plan.
    *
    * Completeness is GEOMETRIC, not probabilistic (unlike LSH): with
    * r_c = max angle(centroid_c, member) and θmax = acos(t), the
    * triangle inequality for angular distance gives, for any pair
    * with angle ≤ θmax living in cells (c₁, c₂):
    * angle(c₁, c₂) ≤ r₁ + θmax + r₂. Only cell pairs satisfying that
    * bound (a tiny k² table, broadcast) feed the pair join — an
    * EQUI-JOIN on the cell id — and every candidate is verified with
    * the exact rounded cosine in the join condition. Output is
    * therefore identical to `cosinePairs` regardless of clustering
    * quality; the cells only decide how much work is pruned. Float
    * jitter in the Lloyd means can shift candidates, never results.
    *
    * Scale: the only heavy exchange is the pair join's shuffle on the
    * cell id (AQE splits skewed cells). `nCells = 0` (the default) is
    * ADAPTIVE: k = ⌈√(n/targetCellSize)⌉ from a count-only scan, so
    * within-cell pair fan-out stays ≈ targetCellSize·n (linear, not
    * quadratic) as the corpus grows — see `autoCells` for the clamp.
    *
    * Quantizer: `PQ.trainCoarse` — the SAME Lloyd code path as IVF
    * (C16) and IVFADC (C31); assignment here is one map-side
    * projection (native `centroidDots` against the plan-reference
    * codebook — O(1) expression nodes however large k gets), argmax +
    * member angle via an in-projection array sort. Zero-norm vectors
    * never pair: `normed` gates them out before assignment — the null
    * cdots alone would not, because the assignment's array_sort puts
    * the (null, 0) struct FIRST and would park every zero-norm vector
    * in cell 0. */
  def cosinePairsBucketed(vecs: DataFrame, id: Column, vec: Column, threshold: Double,
                          nCells: Int = 0, iters: Int = 1,
                          targetCellSize: Int = 64): DataFrame = {
    require(nCells == 0 || nCells >= 2, "cosinePairsBucketed: need nCells >= 2, or 0 = adaptive " +
      "(one cell would degenerate to the all-pairs join this operator exists to avoid)")
    val spark = vecs.sparkSession
    import spark.implicits._
    // materialize the filtered working set ONCE (the canonical cache
    // for iterative training — MLlib's k-means does the same): the
    // adaptive count, the seed collect, every Lloyd mean, the radius
    // aggregate, and BOTH sides of the pair join would otherwise each
    // re-scan the source and re-run the norm projection — five-plus
    // full passes to set up one join
    val v = normed(vecs, id, vec, "id", "v", "nrm").localCheckpoint(true)

    val n = v.count()
    if (n < 2) return cosinePairs(vecs, id, vec, threshold)
    val k = if (nCells > 0) nCells else autoCells(n, targetCellSize)

    def l2(a: Seq[Double]): Double = math.sqrt(a.map(x => x * x).sum)
    // same ids, same double vectors as the raw corpus → identical
    // seeds and centroids (the exactness specs pin the output anyway)
    val cents = PQ.trainCoarse(v, col("id"), col("v"), k, iters)
    val cnorms = cents.map(l2)

    // assignment + radius angle in ONE projection: cos to every
    // centroid from a single native call, argmax by array sort
    // (ascending on (-cos, cell) = cos desc, lowest cell on ties)
    val cellCos = transform(sequence(lit(0), lit(cents.length - 1)), c =>
      struct((-element_at(col("cdots"), c + 1) / element_at(typedlit(cnorms), c + 1)).as("nc"),
        c.cast("int").as("c")))
    val asg = v
      .withColumn("cdots", graft.plans.PQExpressions.centroidDots(col("v"), cents))
      .withColumn("b", element_at(array_sort(cellCos), 1))
      .select(col("id"), col("v"), col("nrm"),
        col("b.c").as("cell"), acos(clamp1(-col("b.nc"))).as("ang"))

    // cell radii are MODEL-SIZED (k rows ≤ 1024 — same class as the
    // centroid collect): resolve them on the driver so the candidate
    // cell-pair table becomes a pure literal. Leaving radii in-plan
    // costs two more corpus scans (each re-running the assignment
    // projection) plus two exchanges and two broadcast joins inside
    // the pair query — all to produce k rows.
    val radii: Map[Int, Double] = asg.groupBy(col("cell"))
      .agg(max(col("ang")).as("r")).as[(Int, Double)].collect().toMap
    // candidate cell pairs: centroid angles are driver-side constants;
    // 1e-6 slack absorbs double rounding in the triangle bound. Cells
    // with no members have no radius and can't contribute a pair.
    val thetaMax = math.acos(math.max(-1.0, threshold - 1e-6))
    val ccPairs = for {
      (va, ca) <- cents.zipWithIndex; (vb, cb) <- cents.zipWithIndex
      if ca <= cb && radii.contains(ca) && radii.contains(cb)
      cos = va.lazyZip(vb).map(_ * _).sum / (l2(va) * l2(vb))
      if math.acos(math.max(-1.0, math.min(1.0, cos))) <=
        thetaMax + radii(ca) + radii(cb) + 1e-6
    } yield (ca, cb)
    val cc = ccPairs.toDF("ca", "cb")

    asg.as("a").join(broadcast(cc), col("a.cell") === col("ca"))
      .join(asg.as("b"),
        col("b.cell") === col("cb") &&
          (col("ca") =!= col("cb") || col("a.id") < col("b.id")) &&
          similar("nrm", threshold))
      .select(least(col("a.id"), col("b.id")).as("vec_a"),
        greatest(col("a.id"), col("b.id")).as("vec_b"), pairCosine("nrm"))
  }

  /** Exact top-k neighbors per query vector (query set should be
    * small — it is broadcast). Returns (query_id, rank, vec_id,
    * cosine), rank by (cosine desc, vec_id). Zero-norm rows drop out
    * of both sides (see `normed`). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     id: Column, vec: Column, k: Int): DataFrame = {
    val c = normed(corpus, id, vec, "vec_id", "cv", "cn")
    val q = normed(queries, id, vec, "query_id", "qv", "qn")
    topK(c.join(broadcast(q), col("vec_id") =!= col("query_id")),
      "cosine", cosine(col("qv"), col("cv"), col("qn"), col("cn")), k)
  }

  /** ±1 hyperplane component for (table t, plane p, dim d): parity of
    * the first hex char of md5("t_p:d"). Computed ONCE here on the
    * driver (same derivation an engine-portable SQL would use) and
    * shipped as literals — no model to store, no per-row hashing. */
  private[operators] def hyperSigns(t: Int, p: Int, dims: Int): Array[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { d =>
      val hex = digest.digest(s"${t}_$p:$d".getBytes("UTF-8"))
      val first = (hex(0) >> 4) & 0xf
      if (first % 2 == 1) 1.0 else -1.0
    }.toArray
  }

  /** LSH signature for table `t`: `planes` sign bits of native-dot
    * hyperplane projections, as a bit string. Fully codegen'd.
    * `planes = 0` is the degenerate ONE-BUCKET signature (empty
    * string): every vector collides, so `lshTopK` degrades to exact
    * brute force — the configuration the oracle-checked c7b twin
    * pins (the c16b nprobe = nCells pattern). */
  def lshSignature(vec: Column, t: Int, planes: Int, dims: Int): Column =
    if (planes <= 0) lit("")
    else concat((0 until planes).map { p =>
      when(VectorExpressions.dot(vec, typedlit(hyperSigns(t, p, dims))) >= 0, "1").otherwise("0")
    }: _*)

  /** IVF (inverted-file) ANN — the clustered scale path beside LSH.
    *
    * Coarse quantizer: `PQ.trainCoarse` — the SAME quantizer C31's
    * IVFADC uses (one code path for both indexes). Lloyd assignment
    * is a MAP-SIDE native argmax against the plan-literal codebook
    * (`PQExpressions.nearestCell`): no centroid cross-join, no row
    * fan-out, no per-iteration vec_id shuffle — each iteration's only
    * exchange is the (cell, dim) mean aggregation, and only the
    * nCells×d centroid matrix (= the IVF model) ever reaches the
    * driver. The final index assignment is one projection over the
    * corpus scan — zero exchanges until the per-query rank.
    *
    * Search: pick each query's `nprobe` nearest cells map-side
    * (`probeList`), broadcast the probe list, and rank only those
    * cells' vectors by exact rounded cosine. The per-query rank is
    * the plan's ONLY hash exchange (PlanSpec pins that); recall tunes
    * with nprobe like any IVF index. Zero-norm vectors and queries
    * never rank (see `normed`). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
              k: Int, nCells: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val cents = PQ.trainCoarse(corpus, id, vec, nCells, iters)
    val index = ivfAssign(corpus, id, vec, cents)
    // the query norm rides as a carried column: computed once per
    // query, before the probe explode, not once per probed cell
    val qv = vec.cast("array<double>")
    val probes = probeList(queries, id, vec, cents, nprobe,
      "qv" -> qv, "qn" -> VectorExpressions.norm(qv))
    topK(index.join(broadcast(probes), Seq("cell")).filter(col("vec_id") =!= col("query_id")),
      "cosine", cosine(col("qv"), col("v"), col("qn"), col("vn")), k)
  }

  /** (vec_id, v, vn, cell) — the IVF index assignment: one map-side
    * projection (native argmax against the literal centroids), no
    * exchange anywhere in its plan (PlanSpec asserts). A zero-norm
    * vector gets a null cell (see `normed`). */
  private[graft] def ivfAssign(corpus: DataFrame, id: Column, vec: Column,
                               cents: Seq[Seq[Double]]): DataFrame =
    corpus.select(id.as("vec_id"), vec.cast("array<double>").as("v"))
      .withColumn("cell", graft.plans.PQExpressions.nearestCell(col("v"), cents))
      .withColumn("vn", VectorExpressions.norm(col("v")))

  /** SemDeDup (SURVEY C36): semantic dedup over embeddings — cluster
    * with the shared coarse quantizer, then within each cluster drop
    * every vector that has a LOWER-ID cluster-mate with rounded
    * cosine ≥ threshold (the C2/C34 keep-first rule, applied to
    * embedding space). Returns the survivors as (vec_id, cell).
    *
    * This is the Abbas et al. 2023 "SemDeDup" shape: near-duplicate
    * SEMANTICS (paraphrases, re-encodes, templated rewrites) that
    * token-level dedup (C1-C4) can't see, at clustered — not
    * quadratic — cost. It is deliberately APPROXIMATE where C5 is
    * exact: C5's triangle-bound cell pairs guarantee every qualifying
    * pair is scored, while SemDeDup scores only WITHIN-cluster pairs
    * and accepts misses across cluster boundaries; in exchange its
    * candidate join is a pure equi-join on one cell id with no
    * cell-pair fan-out at all. `nCells = 1` makes it exhaustive
    * (every pair is within-cluster ⇒ ≡ global keep-first — that
    * variant is the DuckDB-oracle pin, C16b-style).
    *
    * Scale: quantizer model (k×d) is the only driver traffic; cluster
    * assignment is one map-side native-argmax projection (no
    * exchange); the within-cell self-join shuffles the corpus ONCE on
    * the cell id (both sides of the join reuse the same exchange) and
    * the anti-join back shuffles on vec_id. Pick nCells ≈ n/target so
    * cells stay bounded — the within-cell candidate scan is the same
    * cost model the paper's per-cluster pass has.
    *
    * Zero-norm vectors never match and always survive, with a null
    * cell (see `normed`).
    *
    * `nCells = 0` (the default) is ADAPTIVE, like C5's bucketed pair
    * join: k = ⌈√(n/targetCellSize)⌉ from a count-only scan, so the
    * within-cell candidate fan-out (n/k)² stays ≈ targetCellSize·n —
    * linear in the corpus — where any FIXED k goes quadratic at 100×
    * scale. `nCells = 1` stays the explicit exhaustive mode (the
    * oracle twin). */
  def semDedup(vecs: DataFrame, id: Column, vec: Column, threshold: Double,
               nCells: Int = 0, iters: Int = 2, targetCellSize: Int = 64): DataFrame = {
    require(nCells >= 0, s"semDedup: nCells must be >= 0 (0 = adaptive), got $nCells")
    val k = if (nCells > 0) nCells else autoCells(vecs.count(), targetCellSize)
    semDedupWith(vecs, id, vec, threshold, PQ.trainCoarse(vecs, id, vec, k, iters))
  }

  /** `semDedup` against a PRE-TRAINED coarse codebook (load it with
    * `sources.Models.loadCoarse` — the E14 store): incremental
    * semantic dedup reuses one quantizer across arrivals instead of
    * re-running Lloyd per batch, and two corpora deduped under the
    * SAME codebook partition identically — cluster boundaries stop
    * being a source of run-to-run drift. */
  def semDedupWith(vecs: DataFrame, id: Column, vec: Column, threshold: Double,
                   cents: Seq[Seq[Double]]): DataFrame = {
    val asg = ivfAssign(vecs, id, vec, cents)
    val dropped = asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id") &&
          similar("vn", threshold))
      .select(col("b.vec_id").as("vec_id")).distinct()
    asg.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** Incremental SemDeDup arrival gate — the embedding-space C34: a
    * batch vector is dropped iff it matches (rounded cosine ≥ t, same
    * cell) ANY already-seen vector, or a LOWER-ID batch mate. Returns
    * batch survivors as (vec_id, cell).
    *
    * Run every arrival under ONE stored codebook (train once, E14
    * `Models.saveCoarse`/`loadCoarse`) so cluster boundaries never
    * drift between arrivals. Against an ALL-SEEN store (every vector
    * ever ingested, not just survivors) with arrival-ordered ids,
    * sequential gating is EXACTLY the global keep-first rule — the
    * same equivalence C34/D10 pin for minhash space, which is what
    * makes the nCells = 1 variant DuckDB-checkable end-to-end.
    * Re-ingesting an already-seen id self-matches (cosine 1) and
    * drops — idempotent ingest.
    *
    * Scale: per arrival this joins the batch (broadcast-sized) against
    * the seen+batch assignment on the cell id — one equi-join, O(batch
    * × cell density) comparisons, and the seen side is scanned, never
    * rewritten. */
  def semDedupIncrement(seen: DataFrame, batch: DataFrame, id: Column, vec: Column,
                        threshold: Double, cents: Seq[Seq[Double]]): DataFrame = {
    val sa = ivfAssign(seen, id, vec, cents).withColumn("seen", lit(true))
    val ba = ivfAssign(batch, id, vec, cents)
    val pool = sa.unionByName(ba.withColumn("seen", lit(false)))
    val dropped = pool.as("a").join(ba.as("b"),
        col("a.cell") === col("b.cell") &&
          (col("a.seen") || col("a.vec_id") < col("b.vec_id")) &&
          similar("vn", threshold))
      .select(col("b.vec_id").as("vec_id")).distinct()
    ba.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** ANN via L hash tables of `planes`-bit signatures: candidates
    * share a (table, signature) bucket with the query; exact rounded
    * cosine ranks them. Returns (query_id, rank, vec_id, cosine) with
    * rank ≤ k. The bucket join is the only shuffle. Zero-norm rows
    * drop out of both sides (see `normed`: a zero vector hashes to the
    * all-zeros signature, so it would collide into real buckets). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
              k: Int, tables: Int = 4, planes: Int = 6, dims: Int = 64): DataFrame = {
    def bucketed(df: DataFrame, idName: String, vecName: String, nName: String) =
      normed(df, id, vec, idName, vecName, nName)
        .select(col(idName), col(vecName), col(nName),
          posexplode(array((0 until tables).map(t =>
            lshSignature(col(vecName), t, planes, dims)): _*)).as(Seq("t", "sig")))
    val c = bucketed(corpus, "vec_id", "cv", "cn")
    val q = bucketed(queries, "query_id", "qv", "qn")
    val pairs = c.join(broadcast(q), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("qv"), col("cv"), col("qn"), col("cn"))
      .distinct() // a pair can collide in several tables
    topK(pairs, "cosine", cosine(col("qv"), col("cv"), col("qn"), col("cn")), k)
  }
}
