package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.ArrayExpressions

/** Exact n-gram Jaccard near-duplicate join (SURVEY C4).
  *
  * Unlike MinHash (C2, probabilistic candidates), this is EXACT: every
  * pair with Jaccard ≥ t is found. Candidate generation uses the
  * classic exactness-preserving PREFIX FILTER (Chaudhuri et al.
  * SSJoin / Bayardo AllPairs): with every doc's shingle-hash set
  * sorted in the global xxhash64 order (any fixed total order
  * preserves the filter's exactness), only the first
  * |S| − ⌈t·|S|⌉ + 1 hashes are indexed as candidate generators. For
  * any pair with J ≥ t the overlap is ≥ ⌈t·|S|⌉ on both sides, so the
  * two prefixes must share a hash — no qualifying pair is missed,
  * while the index (and its self-join fan-out) shrinks by
  * ~(t/(1+t))²·4 vs indexing every shingle. The prefix is SLICED from
  * the already-sorted set array — no ranking window, no extra pass.
  *
  * Verification is a merge-scan |A ∩ B| over the per-doc sorted hash
  * arrays via the native codegen `SortedIntersectSize` (E2) — one
  * O(|A|+|B|) pass per candidate, no per-pair set allocation.
  *
  * Execution shape: a TWO-STEP operator. Step 1 (`sortedSets`) builds
  * the per-doc sorted hash-set table in one aggregation exchange;
  * step 2 (`nearDupPairsFromSets`) consumes that table FOUR times —
  * both prefix-index sides and both verify joins. Feeding step 2 the
  * bare aggregation re-executes the merge-side `collect_set` at every
  * consumer (Spark reuses EXCHANGES, not the operators above them):
  * measured at sf10, the 500k sorted arrays were rebuilt 4× —
  * 26.6 GB shuffle read against 13.3 GB written, and the 16→32-thread
  * scaling row was FLAT (§6 round-11). `nearDupPairs` therefore
  * inserts an explicit repartition ABOVE the merged aggregation once
  * the input clears `Skew.CorpusScaleMinInputBytes` (below it the
  * rebuild is milliseconds and the barrier's fixed stage latency
  * would be the larger cost): that second exchange becomes the plan's reuse
  * point — the merge aggregation runs ONCE to fill it, all four
  * consumers read it as ReusedExchange, and its id-partitioning
  * feeds the verify joins with no further exchange (see `barriered`
  * for the key/count choice and the measured rejection of the
  * AQE-flexible alternative — PlanSpec pins the single-build
  * shape). No cache, no lifecycle:
  * the barrier is shuffle files, the same fault-tolerance story as
  * every other stage, and honest under repeated benchmark actions
  * (a `persist` would be silently rematched by the CacheManager
  * across reps and measure cache reads). Callers that probe several
  * thresholds over one corpus can do better still: build `sortedSets`
  * once, land it with `Sink.writeBucketed` on `id` (E9), and call
  * `nearDupPairsFromSets` per threshold — zero rebuilds across runs.
  *
  * The prefix self-join shuffles only (hash, id, sz, pos) rows;
  * size-compatibility (J ≥ t ⟹ t·|B| ≤ |A| ≤ |B|/t) prunes inside
  * the join condition. The verify joins carry NO broadcast hint: the
  * set table is O(corpus), and a forced broadcast is an OOM at scale
  * (measured: the 100× ScaleGen corpus killed the job at 500k docs).
  * AQE broadcasts it when it is ACTUALLY small at runtime.
  */
object Jaccard {

  /** The exact Jaccard score of two ascending distinct-element
    * arrays `a` and `b` of sizes `sizeA` and `sizeB`, rounded to 6
    * (SURVEY §4.3): |A ∩ B| by the native merge scan
    * (`SortedIntersectSize`), divided in double by |A| + |B| − |A ∩ B|.
    * The one score of the near-dup family's verify steps (MinHash,
    * Jaccard, the incremental gate, C37's fuzzy decontamination). */
  def exactScore(a: Column, b: Column, sizeA: Column, sizeB: Column): Column = {
    val inter = ArrayExpressions.sortedIntersectSize(a, b)
    round(inter.cast("double") / (sizeA + sizeB - inter), 6)
  }

  /** Step 1: per-doc ASC-sorted distinct xxhash64 shingle-set table
    * (id, hs, sz) — one projection, no exchange. xxhash64 longs, not
    * md5 hex strings: the verify joins ship one array per candidate
    * pair, so element width IS the operator's shuffle volume (see
    * Shingles.hashSets). Reusable across thresholds — persist it with
    * `Sink.writeBucketed` on `id` for exchange-free verify joins. */
  def sortedSets(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    // round 18: built MAP-SIDE by the fused HashedShingleSet kernel
    // (one pass per document, no aggregation exchange — a doc's
    // shingles never leave its own row). Callers that consume the
    // table several times need a materialization point above it;
    // `nearDupPairs` handles both scales below, and the two-step/
    // bucketed-write callers materialize the table themselves.
    Shingles.hashSetsMapSide(docs, id, text, n)
      .select(col("id"), col("s").as("hs"), size(col("s")).as("sz"))

  /** The declarative (explode → collect_set) set build — kept as the
    * sub-barrier-scale form for `nearDupPairs`: with four consumers
    * and NO barrier, its partial-aggregation EXCHANGE is the shared
    * reuse point (only the cheap merge re-executes per consumer),
    * whereas the map-side kernel would re-hash every document per
    * consumer (interleaved A/B at sf0.1: kernel-no-barrier 1.18×
    * WORSE). At corpus scale the barrier exists and the kernel wins;
    * below it this form wins. */
  private[graft] def sortedSetsDeclarative(docs: DataFrame, id: Column, text: Column,
                                           n: Int): DataFrame =
    Shingles.hashSets(Shingles.exploded(docs, id, text, n))
      .select(col("id"), col("s").as("hs"), size(col("s")).as("sz"))

  /** The build-once materialization barrier `nearDupPairs` puts above
    * the merged aggregation: repartition on the doc id at 2× the
    * session's shuffle-partition count. The count must differ from
    * the aggregation's own (EnsureRequirements elides a repartition
    * whose partitioning semantically equals its child's — count
    * included — and the 4× merge re-execution silently returns); 2×
    * also gives the array-payload verify joins a finer task grain.
    * Keying on `id` (REPARTITION_BY_NUM) rather than a derived
    * expression feeds both verify joins exchange-free — an
    * xxhash64(id)-keyed variant that kept every downstream exchange
    * AQE-coalescible/skew-splittable measured STRICTLY worse at sf10
    * (66.4/27.4/17.7 s at 8/16/32 threads vs this form's
    * 42.9/22.7/16.1): the set table re-exchanges it added cost more
    * at every width than AQE's runtime freedom bought. What the
    * fixed partitioning gives up: AQE cannot coalesce or skew-split
    * the verify joins — acceptable because verify-join skew is
    * LINEAR in a doc's candidate count (the quadratic surface is the
    * prefix self-join, which keeps full AQE and the opt-in salting).
    * Read at plan-construction time on purpose — the count is baked
    * into this plan, not re-read at execution. */
  def barriered(sets: DataFrame): DataFrame = {
    val parts = 2 * sets.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    sets.repartition(parts, col("id"))
  }

  /** Step 2: all pairs (doc_a < doc_b) with exact Jaccard ≥ t over a
    * prebuilt `sortedSets` table (columns id, hs, sz — hs ascending).
    * The input is consumed four times; hand it a materialized or
    * barrier-protected table (see the object scaladoc) or accept the
    * merge-agg re-execution. Returns (doc_a, doc_b, jaccard) with the
    * score 6-rounded. */
  def nearDupPairsFromSets(sets: DataFrame, threshold: Double = 0.5,
                           salts: Int = 1, hotMin: Long = 4096): DataFrame = {
    // prefix index: first sz − ⌈t·sz⌉ + 1 hashes of the sorted set,
    // with each hash's position for the PPJoin positional filter
    val plen = (col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
    val prefix = sets.select(col("id"), col("sz"),
      posexplode(slice(col("hs"), lit(1), plen)).as(Seq("pos", "h")))
    // hot-prefix salting (Skew.saltedSelfJoin): a boilerplate shingle
    // hash that lands low in the xxhash64 order sits in EVERY
    // template-carrying doc's prefix. The positional/size filters
    // below are per-pair-instance and commute with salting.
    val (prefA, prefB, saltEq) =
      Skew.saltedSelfJoin(prefix, Seq("h"), col("id"), col("pos"), salts, hotMin)
    // positional filter (PPJoin): at the FIRST common hash, overlap
    // ≤ min of the remaining suffix lengths, which must reach the
    // J ≥ t overlap bound t·(|A|+|B|)/(1+t). Later common hashes may
    // fail the test, but the first always passes for a qualifying
    // pair, and distinct() keeps a pair if ANY instance survived.
    // (−1e-9: the real-valued bound must never round up past an
    // integer overlap that exactly meets it.)
    val alpha = lit(threshold / (1 + threshold)) * (col("a.sz") + col("b.sz")) - lit(1e-9)
    val cand = prefA.as("a").join(prefB.as("b"),
        col("a.h") === col("b.h") && saltEq && col("a.id") < col("b.id") &&
          col("a.sz") >= lit(threshold) * col("b.sz") &&
          col("b.sz") >= lit(threshold) * col("a.sz") &&
          least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >= alpha)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    // SHUFFLE_HASH, not sort-merge: SMJ would SORT the set table —
    // including the multi-KB hash arrays — on every verify join,
    // spill-bound at scale (measured 70× sf1's time for 10× its data
    // on the 100× corpus); a hash build per partition never sorts the
    // array payload. AQE still turns these into broadcasts when the
    // set table is runtime-small.
    cand
      .join(sets.select(col("id").as("doc_a"), col("hs").as("ha"), col("sz").as("sza"))
        .hint("shuffle_hash"), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("hs").as("hb"), col("sz").as("szb"))
        .hint("shuffle_hash"), "doc_b")
      .withColumn("jaccard", exactScore(col("ha"), col("hb"), col("sza"), col("szb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** All pairs (doc_a < doc_b) with exact Jaccard(shingles) ≥ t,
    * thresholded on the 6-rounded score: `sortedSets` built once
    * behind a repartition barrier (see the object scaladoc), then
    * `nearDupPairsFromSets`. Returns (doc_a, doc_b, jaccard). */
  def nearDupPairs(docs: DataFrame, id: Column, text: Column,
                   n: Int = 3, threshold: Double = 0.5,
                   salts: Int = 1, hotMin: Long = 4096): DataFrame = {
    // The barrier is `barriered` (see its scaladoc for the key and
    // count choice and the measured rejection of the AQE-flexible
    // alternative).
    // PlanSpec pins the shape: one set-kernel scan,
    // REPARTITION_BY_NUM above it, auto-switch in both directions.
    // Scale-dependent set build (round 18): at corpus scale
    // (Skew.CorpusScaleMinInputBytes) the barrier materializes ONE
    // build, so the map-side kernel replaces the whole explode →
    // collect_set chain behind it; below the floor there is no
    // barrier and the declarative form's reused partial-agg exchange
    // beats re-running the kernel per consumer (see
    // sortedSetsDeclarative).
    val sets =
      if (Skew.corpusScale(docs)) barriered(sortedSets(docs, id, text, n))
      else sortedSetsDeclarative(docs, id, text, n)
    nearDupPairsFromSets(sets, threshold, salts, hotMin)
  }
}
