package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.plans.ArrayExpressions

/** MinHash + LSH near-duplicate detection (SURVEY C2).
  *
  * Generalizes the reference's exact content-hash dedup
  * (pasta-pipeline `dags/processors/duplicate_remover.py:74` — one md5
  * per document) to NEAR-duplicates: k minhashes over word shingles,
  * banded so that only documents sharing a band key are ever compared.
  *
  * Portability (SURVEY §4.1): a minhash is the LEXICOGRAPHIC MIN of
  * `md5(seed ':' shingle)` hex strings — identical in any engine with
  * md5, no engine-native hash(), no platform-dependent ints.
  *
  * Scale & execution shape: signatures and verify sets are computed
  * MAP-SIDE, one fused kernel pass per document (`signaturesMapSide`,
  * `Shingles.hashSetsMapSide`) — no shuffle before the band
  * self-join, whose two sides share one band exchange
  * (ReusedExchange). Candidates — never O(n²) — are verified with
  * exact Jaccard. Band width tunes candidate volume.
  */
object MinHash {

  /** Distinct word n-gram shingles of the lowercased text. */
  def shingles(text: Column, n: Int = 3): Column =
    array_distinct(TextFunctions.wordShingles(lower(text), n))

  /** k-minhash signature per document: one row per id with columns
    * m0..m{k-1}, mi = min over its shingles of md5("i:"+sh) —
    * computed in one fused pass per document (optimization round 18,
    * guide §2.4). The k min-md5s are row-local (a doc's shingles
    * never leave its own row), so the former explode → k-min
    * aggregation paid a corpus exchange and k md5s per shingle
    * OCCURRENCE where the kernel dedups first and hashes each
    * DISTINCT shingle k times. Output-identical to that aggregation
    * (`DeclarativeRef.signatureAgg`, test scope — NearDupSpec pins
    * parity); docs with no shingles are absent, as they were. */
  def signaturesMapSide(docs: DataFrame, id: Column, text: Column,
                        n: Int, k: Int): DataFrame = {
    val t = graft.plans.TextExpressions
    // kernel-free drop filter below the projection (see
    // Shingles.hashSetsMapSide); the k element_at extractions share
    // ONE kernel call via codegen subexpression elimination within
    // the collapsed Project
    docs.filter(size(t.wordNgrams(lower(text), n)) > 0)
      .select(id.as("id"), t.knownNotNull(t.minHashSig(lower(text), n, k)).as("__mh"))
      .select(col("id") +:
        (0 until k).map(i => element_at(col("__mh"), i + 1).as(s"m$i")): _*)
  }

  /** Band-key array column over signature columns m0..m{k-1}:
    * bands of `rows` consecutive minhashes, each md5("m|m"). */
  def bandArray(k: Int, rows: Int): Column =
    array((0 until k / rows).map { b =>
      md5(concat_ws("|", (0 until rows).map(r => col(s"m${b * rows + r}")): _*))
    }: _*)

  /** Exact Jaccard of two distinct-element arrays, rounded to 6
    * (SURVEY §4.3). int sizes divide in double. */
  def jaccard(x: Column, y: Column): Column = {
    val inter = size(array_intersect(x, y))
    round(inter.cast("double") / (size(x) + size(y) - inter), 6)
  }

  /** Full near-dup pipeline: shingle → sign → band → candidate join →
    * exact-Jaccard verification at `threshold` (on the rounded score).
    * Returns (doc_a, doc_b, jaccard).
    *
    * `salts` controls hot-band-key salting (boilerplate templates put
    * f·n docs under one band key and the self-join then emits (f·n)²
    * pairs from one task — Skew.selfJoinSides): 1 = off (default),
    * ≥ 2 = spread keys holding > hotMin band rows over that many
    * tasks. EXPLICIT OPT-IN for boilerplate-heavy corpora (real web
    * ingest): detection costs a window pass over the band table —
    * measured ~9% on a uniform corpus where it buys nothing, vs a
    * 1.4× wall / 1.9× straggler win on the skewed twin (SURVEY §6
    * round 12, `skewbench_sf1_*_r12.json`) — and a pipeline that
    * runs exact/line dedup first (C1/C45, the c21 order) strips the
    * worst boilerplate before this operator sees it. The candidate
    * SET is identical at any setting (each pair meets exactly once —
    * NearDupSpec pins parity). */
  def nearDupPairs(docs: DataFrame, id: Column, text: Column,
                   n: Int = 3, k: Int = 8, bandRows: Int = 2,
                   threshold: Double = 0.5,
                   salts: Int = 1, hotMin: Long = 4096): DataFrame = {
    // hashed long sets for the verify step (the SIGNATURE stays
    // md5-based for engine portability — see the object scaladoc;
    // the verify arrays are internal, so they take the 8-byte
    // representation that keeps the candidate-pair shuffle lean).
    // Both tables are built MAP-SIDE by the fused kernels (round 18 —
    // see signaturesMapSide / Shingles.hashSetsMapSide). The set
    // table feeds TWO verify joins: at corpus scale it goes behind
    // Jaccard's build-once repartition barrier so the kernel runs
    // once and both joins read the barrier exchange (below the size
    // floor the rebuild is milliseconds and the barrier's fixed stage
    // latency would be the larger cost — Jaccard.BarrierMinInputBytes).
    val sh0 = Shingles.hashSetsMapSide(docs, id, text, n)
    val corpusScale =
      docs.queryExecution.optimizedPlan.stats.sizeInBytes >= Jaccard.BarrierMinInputBytes
    val sh = if (corpusScale) Jaccard.barriered(sh0) else sh0
    val sig = signaturesMapSide(docs, id, text, n, k)
    val banded0 = sig.select(col("id"), posexplode(bandArray(k, bandRows)).as(Seq("bi", "bk")))
    // salting adds a third consumer of the band table (the hot-key
    // count aggregate) — materialize it behind a reuse barrier so
    // detection doesn't re-run the signature merge-agg per consumer
    // (the derived xxhash64 key can't be elided; downstream
    // exchanges re-key on (bi, bk) anyway)
    val banded =
      if (salts > 1) banded0.repartition(xxhash64(col("id"), col("bi")))
      else banded0
    val (bandA, bandB) =
      if (salts > 1) Skew.selfJoinSides(banded, Seq("bi", "bk"), col("id"), salts, hotMin)
      else (banded, banded)
    val saltEq =
      if (salts > 1) col("a.__salt") === col("b.__salt") else lit(true)
    val cand = bandA.as("a").join(bandB.as("b"),
        col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") && saltEq &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val inter = ArrayExpressions.sortedIntersectSize(col("sa"), col("sb"))
    cand
      .join(sh.select(col("id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("jaccard",
        round(inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
