package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared shingle machinery for the near-dup family (C2-C4, C11).
  *
  * `exploded` produces one (id, shingle) row per consecutive word
  * n-gram ENTIRELY MAP-SIDE: tokenize into an array, build the n-gram
  * array with `transform`/`slice` over the token array, explode. The
  * per-doc lambda is interpreted, but it only runs once per DOCUMENT
  * (cheap array slicing — no hashing inside), and in exchange the
  * operator needs NO shuffle at all: the previous formulation
  * (posexplode tokens → per-id window `lead`) shuffled and SORTED
  * every token row before producing a single shingle, and its
  * WindowExec stage was the dominant cold cost of the whole near-dup
  * family. Downstream per-id aggregations add their own (map-side
  * partialed) exchange — net one small hash shuffle instead of a
  * token sort, and identical downstream branches still collapse into
  * ReusedExchange.
  */
object Shingles {

  /** (id, sh) rows: consecutive n-grams of the whitespace tokens of
    * `lower(text)` (python str.split semantics — empties dropped).
    * Docs with fewer than n tokens produce no rows. NOT deduplicated
    * (min-aggregations don't care; dedup where semantics need it).
    *
    * Gram construction is the native `WordNgrams` expression: one
    * linear byte pass and one copy per gram, inside whole-stage
    * codegen. The prior HOF form (split → filter → transform/slice/
    * array_join) ran the interpreter once per SHINGLE — the hottest
    * loop in the near-dup family (TextNativeSpec pins parity with
    * it; null text → null array → explode drops the doc, same as
    * before). */
  def exploded(df: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    df.select(id.as("id"),
      explode(graft.plans.TextExpressions.wordNgrams(lower(text), n)).as("sh"))

  /** (id, sh) rows with per-document dedup done MAP-SIDE
    * (optimization round 18, guide §2.4): `array_distinct` over the
    * native gram array before the explode — the same row set as
    * `exploded(…).distinct()` (a per-doc distinct is row-local, so
    * the distinct's exchange + partial/final aggregate pair bought
    * nothing), in per-doc first-occurrence order instead of the
    * distinct's arbitrary order (consumers are aggregations/joins —
    * order-free). */
  def explodedDistinct(df: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame =
    df.select(id.as("id"),
      explode(array_distinct(
        graft.plans.TextExpressions.wordNgrams(lower(text), n))).as("sh"))

  /** HASHED distinct-shingle set per id: ascending-sorted array of
    * xxhash64(shingle) longs. This is the SCALE representation for
    * the verify step: 8 bytes/element instead of a ~48-byte md5 hex
    * string, so the candidate-verify joins — which ship one set per
    * candidate PAIR, the near-dup family's dominant shuffle — move
    * ~6× fewer bytes, and the native merge scan compares longs, not
    * strings (measured on the 100× ScaleGen corpus: the string form
    * spilled > 70 GB and could exhaust local disk). Exactness caveat:
    * two distinct shingles colliding in 64 bits could perturb one
    * set size or one intersection count; at 10⁸ verified pairs of
    * ~10²-shingle docs the probability of ANY collision affecting a
    * run is ~10⁻⁷ (the md5-string form carried the same caveat at
    * 2⁻¹²⁸). Hash values never surface in results — callers emit ids
    * and scores only. */
  def hashSets(exploded: DataFrame): DataFrame =
    exploded.groupBy(col("id"))
      .agg(sort_array(collect_set(xxhash64(col("sh")))).as("s"))

  /** MAP-SIDE `hashSets` (optimization round 18, guide §2.4): the
    * per-doc sorted distinct xxhash64 set computed in one fused pass
    * per document — a document's shingles never leave its own row,
    * so the explode → collect_set aggregation paid a corpus exchange
    * (plus the merge-side set build and sort) for row-local work.
    * Output-identical to `hashSets(exploded(docs, …))` (NearDupSpec
    * pins parity, incl. the collision-on-hash-values dedup rule and
    * the absent-row convention for docs with no shingles). */
  def hashSetsMapSide(docs: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame = {
    val t = graft.plans.TextExpressions
    // no-shingle drop via a kernel-free gram-count predicate BELOW
    // the projection, and KnownNotNull on the kernel output (truthful
    // after that filter: the text tokenizes), so neither the pushed
    // drop filter nor a consumer-inferred isnotnull re-runs the
    // hashing ahead of the one projection that computes it
    docs.filter(size(t.wordNgrams(lower(text), n)) > 0)
      .select(id.as("id"),
        t.knownNotNull(t.hashedShingleSet(lower(text), n)).as("s"))
  }

  /** Repetition statistics per document (SURVEY C14, Gopher-style
    * quality rules): fraction of tokens taken by the most frequent
    * token, and of word 2-grams by the most frequent 2-gram. High
    * values flag degenerate/boilerplate text; docs too short for a
    * 2-gram get 0.0, token-less docs are absent.
    *
    * Both fractions are per-document functions of the row, so they
    * come from one fused kernel pass (plans.RepetitionStats, round
    * 18) instead of two explode → count → max/sum chains and their
    * tie-back join. `DeclarativeRef.repetitionStats` (test scope) is
    * that chain, kept as the parity reference; the kernel-free token
    * filter reproduces its absent-row convention. */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val t = graft.plans.TextExpressions
    df.filter(size(t.wordNgrams(lower(text), 1)) > 0)
      .select(id.as("id"),
        t.knownNotNull(t.repetitionStats(lower(text))).as("__r"))
      .select(col("id"), col("__r.top_token_frac").as("top_token_frac"),
        col("__r.top_bigram_frac").as("top_bigram_frac"))
  }

  /** Bottom-k sketch fingerprint per document (SURVEY C11): the k
    * lexicographically smallest md5 hashes of the distinct shingles,
    * comma-joined; '' for docs too short to shingle. Aggregation
    * rides the `exploded` shuffle; the join back to the full id set
    * broadcasts the (tiny) sketch side or shuffles once. */
  def bottomKFingerprint(df: DataFrame, id: Column, text: Column,
                         n: Int = 3, k: Int = 5): DataFrame = {
    val sk = exploded(df, id, text, n)
      .groupBy(col("id"))
      .agg(concat_ws(",", slice(sort_array(collect_set(md5(col("sh")))), 1, k)).as("fp"))
    df.select(id.as("id"))
      .join(sk, Seq("id"), "left")
      .select(col("id"), coalesce(col("fp"), lit("")).as("fingerprint"))
  }
}
