package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  *
  * The signature has ONE shape, `ShingleWords`/`Hashes`/`BandRows`: C2's
  * pairs, the C34/D10/D16 ingest gate and its persistent store
  * (`Incremental`) and C37's fuzzy decontamination all band the same
  * signatures, so a doc flagged by one is flagged by the others and
  * a store written by one sink is read by another.
  */
object MinHash {

  /** Words per shingle. */
  val ShingleWords = 3
  /** Minhashes per signature. */
  val Hashes = 8
  /** Minhashes per band: `Hashes / BandRows` band keys per doc. */
  val BandRows = 2

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

  /** The band table (id, bi, bk) of `docs` at the signature shape:
    * one row per band of each doc's signature; docs with no shingles
    * emit none. */
  private[operators] def bandTable(docs: DataFrame, id: Column, text: Column): DataFrame =
    signaturesMapSide(docs, id, text, ShingleWords, Hashes)
      .select(col("id"), posexplode(bandArray(Hashes, BandRows)).as(Seq("bi", "bk")))

  /** Full near-dup pipeline: shingle → sign → band → candidate join →
    * exact-Jaccard verification at `threshold` (on the rounded score),
    * at the one signature shape. Returns (doc_a, doc_b, jaccard).
    *
    * `salts`/`hotMin`: hot-band-key salting, off at the default 1
    * (see `Skew.saltedSelfJoin`; the candidate set is the same at
    * any setting). */
  def nearDupPairs(docs: DataFrame, id: Column, text: Column,
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
    // once and both joins read the barrier exchange (below the floor
    // the rebuild is milliseconds — Skew.CorpusScaleMinInputBytes).
    val sh0 = Shingles.hashSetsMapSide(docs, id, text, ShingleWords)
    val sh = if (Skew.corpusScale(docs)) Jaccard.barriered(sh0) else sh0
    val banded = bandTable(docs, id, text)
    val (bandA, bandB, saltEq) =
      Skew.saltedSelfJoin(banded, Seq("bi", "bk"), col("id"), col("bi"), salts, hotMin)
    val cand = bandA.as("a").join(bandB.as("b"),
        col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") && saltEq &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("jaccard",
        Jaccard.exactScore(col("sa"), col("sb"), size(col("sa")), size(col("sb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
