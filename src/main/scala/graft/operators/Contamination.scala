package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Train/eval decontamination (SURVEY C19): the n-gram collision
  * check every LLM training pipeline runs before shipping a corpus —
  * a training document that shares long word n-grams with an
  * evaluation set leaks the benchmark into the weights.
  *
  * Implementation is the inverted-index join, never train × eval
  * pairs: both sides explode to distinct (id, md5(n-gram)) rows; the
  * (small) eval-side gram set joins the train side on the hash — one
  * shuffle, candidate rows only — and the per-train-doc distinct
  * count of shared grams comes from the same exchange. At 100 TB the
  * eval side (benchmarks are small) broadcasts; the train side
  * streams map-side.
  */
object Contamination {

  /** Per TRAIN doc: the number of distinct `n`-grams it shares with
    * any eval doc (0 rows share → doc absent; left-join upstream if
    * every doc must appear). Returns (id, shared_grams). */
  def sharedGrams(train: DataFrame, eval: DataFrame, id: Column, text: Column,
                  n: Int): DataFrame =
    sharedGramsVs(train, evalGramSet(eval, id, text, n), id, text, n)

  /** The distinct md5'd n-gram set of an eval corpus, as (h) rows —
    * compute (and persist) ONCE when the same eval set gates many
    * arrivals (the D9 streaming gate does). */
  def evalGramSet(eval: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    grams(eval, id, text, n).select(col("h")).distinct()

  /** `sharedGrams` against a PRECOMPUTED `evalGramSet`. */
  def sharedGramsVs(train: DataFrame, evalGrams: DataFrame, id: Column,
                    text: Column, n: Int): DataFrame =
    grams(train, id, text, n)
      .join(evalGrams, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("shared_grams"))

  /** Per (train doc, BENCHMARK) attribution (SURVEY C49): distinct
    * shared `n`-grams against EACH of many named benchmarks in one
    * pass — production pipelines gate against dozens of eval sets at
    * once and must report WHICH benchmark a doc leaks (drop the doc,
    * or quarantine the benchmark), which `sharedGrams`' single
    * aggregate count cannot say. Same inverted-index shape: the eval
    * side dedups grams per benchmark (explode keyed on the benchmark
    * name, so a gram shared by two eval docs of one benchmark counts
    * once), the train side joins on the gram hash — still ONE
    * shuffle, still benchmark-sized on the build side at 100 TB.
    * Returns (id, benchmark, shared_grams), contaminated pairs only. */
  def sharedGramsByBenchmark(train: DataFrame, eval: DataFrame, id: Column,
                             text: Column, benchmark: Column, n: Int): DataFrame = {
    // per-doc gram stream via the same kernel as `grams`; the
    // cross-doc distinct on (benchmark, h) stays — a benchmark has
    // MANY eval docs — but the kernel pre-dedups per doc, shrinking
    // the distinct's input
    val evalGrams = eval.select(benchmark.as("benchmark"),
        explode(graft.plans.TextExpressions.md5GramSet(lower(text), n)).as("h"))
      .distinct()
    grams(train, id, text, n)
      .join(evalGrams, "h")
      .groupBy(col("id"), col("benchmark"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  private def grams(df: DataFrame, id: Column, text: Column, n: Int) =
    // round 18: the per-doc distinct md5'd gram set is row-local —
    // one fused kernel pass + explode (no (id, h) exchange, one md5
    // per DISTINCT gram instead of per occurrence) instead of
    // explode → md5 → dropDuplicates; that chain is
    // `DeclarativeRef.md5Grams` (test scope), the parity reference.
    // Null/short docs drop at the explode.
    df.select(id.as("id"),
      explode(graft.plans.TextExpressions.md5GramSet(lower(text), n)).as("h"))

  /** `sharedGrams` with a Bloom prefilter (E10) on the train side:
    * train grams that are definitely not in the eval set never reach
    * the join's exchange — at 100 TB that is almost all of them, so
    * the shuffle carries ~collisions + fpp·|train grams| instead of
    * every gram. Output is bit-identical to `sharedGrams` (the Bloom
    * admits false positives only; the exact join resolves them). */
  def sharedGramsPrefiltered(train: DataFrame, eval: DataFrame, id: Column,
                             text: Column, n: Int,
                             expectedEvalGrams: Long): DataFrame = {
    val evalGrams = grams(eval, id, text, n).select(col("h")).distinct()
    Bloom.prefilterFor(grams(train, id, text, n), col("h"),
        evalGrams, col("h"), expectedEvalGrams)
      .join(evalGrams, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** FUZZY decontamination (SURVEY C37): train docs that NEAR-match
    * an eval doc at exact shingle-Jaccard ≥ threshold, via the same
    * md5-minhash banded candidate generation as C2/C34 — the
    * document-level complement of `sharedGrams`' exact n-gram
    * collisions. Exact collisions (C19/C29) catch verbatim benchmark
    * leakage but miss light rewrites (reflowed whitespace, shuffled
    * sentences, near-paraphrase) that still share most shingles;
    * banding catches those at one equi-join, never train × eval.
    *
    * Returns one row per CONTAMINATED train doc: (id, eval_id,
    * jaccard) for its best match — highest exact Jaccard, smallest
    * eval id on ties (a total order, so results are deterministic).
    * Clean train docs are absent; threshold semantics and the band
    * definition are exactly `Incremental`'s, so a doc flagged here is
    * the same doc C34's gate would have dropped had the eval set been
    * in its store.
    *
    * Scale: the band join's eval side is benchmark-sized — it
    * broadcasts; the verify join moves only banded candidates. The
    * per-doc argmax rides a window over candidate rows (bounded by
    * matches-per-doc, not corpus size). */
  def fuzzyMatches(train: DataFrame, eval: DataFrame, id: Column, text: Column,
                   n: Int = 3, k: Int = 8, bandRows: Int = 2,
                   threshold: Double = 0.5): DataFrame = {
    val (tBands, tSets) = Incremental.signatures(train, id, text, n, k, bandRows)
    val (eBands, eSets) = Incremental.signatures(eval, id, text, n, k, bandRows)
    val cand = tBands.select(col("id").as("tid"), col("bi"), col("bk"))
      .join(broadcast(eBands.select(col("id").as("eid"), col("bi"), col("bk"))),
        Seq("bi", "bk"))
      .select(col("tid"), col("eid")).distinct()
    val jac = Jaccard.exactScore(col("sa"), col("sb"), size(col("sa")), size(col("sb")))
    val w = Window.partitionBy(col("id")).orderBy(col("jaccard").desc, col("eval_id"))
    cand
      .join(tSets.select(col("id").as("tid"), col("s").as("sa")), "tid")
      .join(eSets.select(col("id").as("eid"), col("s").as("sb")), "eid")
      .filter(jac >= threshold)
      .select(col("tid").as("id"), col("eid").as("eval_id"), jac.as("jaccard"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** SEMANTIC decontamination (SURVEY C50): train docs whose
    * EMBEDDING is too close (rounded cosine ≥ threshold) to any eval
    * embedding — the third rung of the decontamination ladder after
    * exact n-gram collisions (C19) and shingle near-match (C37):
    * a translated, heavily-paraphrased, or summarized benchmark item
    * shares no shingles at all but still lands next to the original
    * in embedding space (the SemDeDup/D4 observation applied to
    * benchmark leakage).
    *
    * Returns one row per CONTAMINATED train doc: (id, eval_id,
    * cosine) for its best match — highest cosine, smallest eval id on
    * ties — the same contract as `fuzzyMatches`, so callers compose
    * the two gates uniformly. Zero-norm vectors on either side never
    * match (cosine undefined — the engine-wide contract).
    *
    * Scale: the eval side is benchmark-sized at any corpus size, so
    * it is collected and shipped as a PLAN-LITERAL MATRIX (the same
    * model-sized-driver-traffic class as C5/C16's centroids) and the
    * whole operator becomes ONE map-side projection over the train
    * scan: the native `BestCosineMatch` kernel (VectorExpressions)
    * computes every eval dot, the rounded-cosine max, and the
    * first-tie index in a single codegen call per row; only flagged
    * rows reach the (tiny, broadcast) index→eval_id join. No shuffle,
    * no join against the corpus. Two rejected alternatives, both
    * measured at 100× scale: a broadcast nested-loop join (condition
    * evaluated outside whole-stage codegen — ~40 s) and a zip_with/
    * array_max projection (HOFs are interpreted CodegenFallback and
    * the optimizer re-inlines them per reference — minutes). The
    * eval matrix is indexed in ascending eval_id order, so the
    * kernel's "first max position" = smallest eval id on rounded
    * ties — `fuzzyMatches`' exact tie contract. */
  def semanticMatches(train: DataFrame, eval: DataFrame, id: Column,
                      vec: Column, threshold: Double,
                      maxEvalRows: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import graft.plans.VectorExpressions
    require(maxEvalRows >= 1, s"maxEvalRows must be >= 1, got $maxEvalRows")
    val spark = train.sparkSession
    val tr = train.select(id.as("id"), vec.cast("array<double>").as("tv"))
    // Rows with a NULL ELEMENT inside the vector are dropped with the
    // zero-norm rows (cosine undefined either way): the cast to
    // array<double> preserves element nulls, and an eval array with
    // one null element would NPE on primitive unboxing below even
    // though its norm (computed over the non-null elements) passes.
    val ev = eval.select(id.as("eval_id"), vec.cast("array<double>").as("ev"))
      .filter(!exists(col("ev"), e => e.isNull))
      .withColumn("en", VectorExpressions.norm(col("ev")))
      .filter(col("en") > 0)
      .orderBy(col("eval_id"))
    // The eval side is collected: it must be BENCHMARK-sized, never
    // corpus-sized — a caller passing a corpus here would otherwise
    // hit a silent driver OOM (the same guard class as Components'
    // driverLimit). limit(max+1) keeps the refusal itself cheap: at
    // most max+1 rows ever reach the driver, and no extra count job
    // runs on the happy path.
    val evRows = ev.limit(maxEvalRows + 1).collect()
    require(evRows.length <= maxEvalRows,
      s"semanticMatches eval side exceeds maxEvalRows=$maxEvalRows: the eval " +
        "frame is collected to the driver by contract (benchmark-sized). " +
        "Pass the benchmark set as `eval`, or raise maxEvalRows explicitly.")
    if (evRows.isEmpty)
      return tr.limit(0).crossJoin(ev.select(col("eval_id")))
        .select(col("id"), col("eval_id"), lit(0.0).as("cosine"))
    val mat: Seq[Seq[Double]] = evRows.map(_.getSeq[Double](1).toSeq).toSeq
    val norms: Seq[Double] = evRows.map(_.getDouble(2)).toSeq
    // idx → eval_id keeps the id's ORIGINAL type (no silent cast —
    // the C22 lesson); one row per eval doc, broadcast below
    val evIdx = spark.createDataFrame(
      spark.sparkContext.parallelize(
        evRows.zipWithIndex.map { case (r, i) => Row(i, r.get(0)) }.toSeq, 1),
      StructType(Seq(StructField("idx", IntegerType, nullable = false),
        ev.schema("eval_id"))))
    // zero-norm train vectors: the kernel returns NULL (the engine-
    // wide zero-norm contract), and the isNotNull filter drops them.
    // The checkpoint is a deliberate optimizer BARRIER: the filter
    // and the two struct-field projections below would each re-inline
    // the kernel (alias substitution, no CSE — measured 3× the scan
    // cost at 100×); materializing (id, best) runs it exactly once
    // per row, and the stored frame is two scalars per doc.
    val scored = tr
      .select(col("id"),
        VectorExpressions.bestCosineMatch(col("tv"), mat, norms).as("best"))
      .localCheckpoint(true)
      .filter(col("best").isNotNull && col("best.cosine") >= threshold)
      .select(col("id"), col("best.idx").as("idx"), col("best.cosine").as("cosine"))
    scored.join(broadcast(evIdx), "idx")
      .select(col("id"), col("eval_id"), col("cosine"))
  }
}
