package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection (SURVEY C3).
  *
  * 64-bit SimHash over distinct word shingles: each shingle's md5
  * contributes ±1 per bit position; the sign of each positional sum is
  * that bit of the fingerprint. Near-dups are pairs within Hamming
  * distance `maxHamming`.
  *
  * Portability (SURVEY §4.1): bits come from md5 hex chars — bit i of
  * a signature is bit (i mod 4) of hex char (i div 4), extracted with
  * plain integer arithmetic (ascii offset + floor-div + mod, no
  * engine-native hash or platform ints). Fingerprints are packed into
  * a long whose bit pattern equals the 64-char '0'/'1' string an
  * engine-portable SQL would build (`bitString` renders it).
  *
  * Scale & execution shape: fingerprints are computed MAP-SIDE, one
  * fused kernel pass per document (`fingerprintsMapSide`) — no
  * shuffle. Pair-finding is banded by the pigeonhole principle: split
  * 64 bits into `chunks` bytes — any pair with hamming < chunks must
  * agree exactly on ≥1 chunk — so the only shuffle is the self-join
  * on (chunk_idx, chunk_value), whose two sides share one exchange.
  * Candidates are verified with `bit_count(a XOR b)` — one
  * codegen'd popcount per pair, never O(n²) pairs and never
  * interpreted per-bit loops.
  */
object SimHash {

  /** Per-document distinct-shingle capacity of the narrow
    * (default) fingerprint: 2^15 − 1, the count a 15-bit counter lane
    * of the declarative lane-sum layout holds (the ANSI-safe capacity
    * — SURVEY §6 r17; the layout itself is `DeclarativeRef.fingerprints`,
    * test scope). */
  val MaxNarrowLaneShingles: Long = 32767L

  /** Per-document capacity of the `wideLanes = true` fingerprint: the
    * largest n with n·(2³²+1) < 2^63, so the declarative layout's
    * 32-bit ANSI lane sums are provably overflow-free inside it. */
  val MaxWideLaneShingles: Long = (1L << 31) - 1

  /** Bit-packed 64-bit fingerprint per document, (id, sig), computed
    * MAP-SIDE in ONE projection per document via the fused
    * `SimHashSig` kernel (optimization round 18, guide §2.4) — at
    * ZERO exchanges, where the former explode → dropDuplicates(id,
    * sh) → lane-sum aggregate chain paid two hash aggregates and two
    * exchanges per corpus, shuffles that existed only because the
    * aggregate form couldn't see that a document's shingles never
    * leave its own row. That chain is `DeclarativeRef.fingerprints`
    * (test scope); NearDupSpec pins row-level parity with it on
    * generated corpora and at the capacity boundary below.
    *
    * The per-doc capacity refusal keeps the declarative layout's
    * bounds with the same loud raise (the kernel's JVM int counters
    * are exact far past either bound, but silently accepting a
    * document the lane layout refuses would change behavior): narrow
    * refuses past `MaxNarrowLaneShingles`, wide past
    * `MaxWideLaneShingles`. Docs with no shingles (null text, < n
    * tokens) are absent. */
  def fingerprintsMapSide(docs: DataFrame, id: Column, text: Column,
                          n: Int, wideLanes: Boolean = false): DataFrame = {
    val t = graft.plans.TextExpressions
    val bound = if (wideLanes) MaxWideLaneShingles else MaxNarrowLaneShingles
    val guarded = when(col("r.n_sh") <= lit(bound), col("r.sig"))
      .otherwise(raise_error(concat(
        lit("SimHash.fingerprints: doc "), col("id").cast("string"),
        lit(" has "), col("r.n_sh").cast("string"),
        lit(s" distinct shingles > $bound — " + (if (wideLanes)
          "that is not a document, it is a corpus"
        else "past the narrow fingerprint capacity; pass wideLanes = true")))).cast("long"))
    // Keep the kernel out of every FILTER so it runs exactly once per
    // row, in the projection: (a) the no-shingle drop (null text /
    // < n tokens — the rows the exploded form's explode dropped) is a
    // kernel-free gram-count predicate that pushes to the scan
    // without re-running the hashing; (b) the guard is tagged
    // KnownNotNull — truthful: its else-branch always raises — so the
    // band join's null-intolerant condition cannot infer an
    // isnotnull(CASE…kernel…) filter to push below the projection
    // (observed: the kernel evaluated 4× per row that way).
    docs.filter(size(t.wordNgrams(lower(text), n)) > 0)
      .select(id.as("id"), t.simhashSig(lower(text), n).as("r"))
      .select(col("id"), t.knownNotNull(guarded).as("sig"))
  }

  /** The 64-char '0'/'1' rendering of a packed fingerprint, bit 0
    * first — matches the portable-SQL string form. */
  def bitString(sig: Column): Column =
    reverse(lpad(bin(sig), 64, "0"))

  /** Codegen'd Hamming distance between two packed fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Corpus-size ceiling for the `agree = 1` single-chunk band: the
    * candidate volume is ~n²·chunks/2^width (n²/32 at the 8×8
    * default — measured 4·10⁹ candidates / 89 s at 500k docs), so at
    * 1M docs it is already ~3·10¹⁰ pairs and growing quadratically.
    * Above this bound `nearDupPairs` REFUSES the quadratic
    * configuration unless `allowQuadraticBand = true`, pointing at
    * the scale-safe combination banding (smaller radius, wider key —
    * e.g. maxHamming = 3, agree = 5) that lives in the same
    * operator. A guard, not an auto-switch: silently shrinking the
    * Hamming radius would change which pairs the caller gets. */
  val QuadraticBandMaxDocs: Long = 1000000L

  /** Near-dup pairs within `maxHamming`. Returns (doc_a, doc_b,
    * hamming).
    *
    * Banding is the pigeonhole principle generalized to `agree`-chunk
    * COMBINATIONS (Manku, Jain & Das Sarma, "Detecting Near-Duplicates
    * for Web Crawling", WWW'07 §3): a pair within hamming `h` differs
    * in at most `h` chunks, so it agrees exactly on some
    * (chunks − h)-subset — keying the self-join on every
    * C(chunks, agree) combination is lossless whenever
    * `maxHamming ≤ chunks − agree`.
    *
    * Why `agree` matters at scale: candidate volume for near-uniform
    * signatures is ~ n²/2 · C(chunks, agree) / 2^(width·agree).
    * The default single-chunk band at ham ≤ 7 (agree = 1) is
    * n²·8/2⁸ = n²/64 — saturated at corpus scale (measured: 4·10⁹
    * candidates, 89 s at 500k docs) and NOT improvable: radius 7 of
    * 64 bits leaves no selective banding (any wider key needs
    * agree ≥ 2 ⟹ maxHamming ≤ 6). The web-scale configuration is a
    * SMALLER radius with a wider key: ham ≤ 3 with agree = 5 of 8
    * keys on 40 bits — n²·56/2⁴⁰, ~6·10⁸× more selective — which is
    * exactly the regime Manku et al. ran at 8·10⁹ documents.
    */
  def nearDupPairs(docs: DataFrame, id: Column, text: Column,
                   n: Int = 3, maxHamming: Int = 7, chunks: Int = 8,
                   agree: Int = 1, allowQuadraticBand: Boolean = false,
                   salts: Int = 1, hotMin: Long = 4096,
                   wideLanes: Boolean = false): DataFrame = {
    require(agree >= 1 && agree <= chunks, "need 1 <= agree <= chunks")
    require(maxHamming <= chunks - agree,
      "pigeonhole: need maxHamming <= chunks - agree")
    require(64 % chunks == 0, "chunks must divide 64")
    if (agree == 1 && !allowQuadraticBand) {
      // refusing an n²/2^width band at corpus scale is worth one
      // cheap job: Catalyst's plan-time row-count estimate answers
      // for free when available (CBO stats / a bare LocalRelation);
      // otherwise a count() ACTION runs here, at builder time —
      // parquet row-count pushdown makes it metadata-only for table
      // scans, but callers on expensive upstream plans should pass
      // agree > 1 or allowQuadraticBand to skip it. A streaming
      // frame can't be counted (or sized) at all: the guard refuses
      // it rather than guessing.
      require(!docs.isStreaming,
        "SimHash.nearDupPairs: cannot verify corpus size on a streaming input — " +
          "use combination banding (agree > 1) or pass allowQuadraticBand = true")
      // trust the plan-time rowCount only when it is EXACT: with CBO
      // enabled, FilterEstimation propagates post-filter selectivity
      // ESTIMATES into rowCount, and an underestimate would silently
      // admit the n² band this guard exists to refuse. Even WITHOUT
      // CBO the size-only visitor propagates two estimates: Sample
      // reports ceil(child × fraction) — which can undercount the
      // actual draw and admit an over-cap corpus — and GlobalLimit
      // reports the limit value, an upper bound that would spuriously
      // refuse a small limited corpus. Either node in the plan →
      // fall back to the count() action; everything else that
      // populates rowCount without CBO is exact (LocalRelation,
      // Range, leaf metadata counts).
      val plan = docs.queryExecution.optimizedPlan
      val estimatedNode = plan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
        case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => true
        case _ => false
      }
      val exactPlanCount =
        if (docs.sparkSession.sessionState.conf.cboEnabled || estimatedNode) None
        else plan.stats.rowCount.map(_.longValue)
      val nDocs = exactPlanCount.getOrElse(docs.count())
      require(nDocs <= QuadraticBandMaxDocs,
        s"SimHash.nearDupPairs: corpus has $nDocs docs > $QuadraticBandMaxDocs — " +
          s"the agree = 1 single-chunk band is quadratic (~n^2*$chunks/2^${64 / chunks} " +
          "candidate pairs). Use combination banding (e.g. maxHamming = 3, agree = 5) " +
          "for corpus-scale runs, or pass allowQuadraticBand = true to override")
    }
    val width = 64 / chunks
    val sigs = fingerprintsMapSide(docs, id, text, n, wideLanes)
    def chunkVal(c: Int): Column =
      shiftrightunsigned(col("sig"), c * width).bitwiseAND(lit((1L << width) - 1))
    // SHUFFLE_HASH on the band join: forces both sides through an
    // identical hashpartitioning(ci, cv) exchange, which AQE collapses
    // into ONE computed pipeline + a ReusedExchange — a broadcast join
    // would build the entire fingerprint pipeline a second time for
    // the build side (2× the scan/shingle/aggregate work AND 2× the
    // codegen of the wide aggregate).
    //
    // `salts` ≥ 2 salts hot (ci, cv) keys (Skew.saltedSelfJoin): a
    // template-dominated corpus puts near-identical fingerprints
    // under one key. Both the first-agreeing-chunk filter
    // (per-pair-instance) and the dedup'd combination path return the
    // same pair set at any setting.
    def bandJoin(chunked: DataFrame, extraCond: Column): DataFrame = {
      val (left, right, saltEq) =
        Skew.saltedSelfJoin(chunked, Seq("ci", "cv"), col("id"), col("ci"), salts, hotMin)
      left.as("a").hint("shuffle_hash").join(right.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") && saltEq &&
          col("a.id") < col("b.id") && extraCond)
        .select(col("a.id").as("doc_a"), col("a.sig").as("siga"),
          col("b.id").as("doc_b"), col("b.sig").as("sigb"))
    }
    val cand = if (agree == 1) {
      val chunked = sigs.select(col("id"), col("sig"),
        posexplode(array((0 until chunks).map(chunkVal): _*)).as(Seq("ci", "cv")))
      // Emit each pair ONLY at its first agreeing chunk instead of
      // deduplicating afterwards: a pure filter replaces a shuffle
      // over every chunk collision. "No agreeing chunk below ci" =
      // the XOR of the fingerprints, with all bytes ≥ ci forced to
      // 0xFF, has no zero byte — the classic branch-free zero-byte
      // test. (Needs 8-bit chunks; other widths dedup instead.)
      val loMask = array((0 until chunks).map(c =>
        lit(if (c == 0) 0L else (1L << (c * width)) - 1)): _*)
      val xorLow = {
        val x = col("a.sig").bitwiseXOR(col("b.sig"))
        x.bitwiseOR(bitwise_not(element_at(loMask, col("a.ci") + 1)))
      }
      val hasZeroByteBelow =
        (xorLow - lit(0x0101010101010101L)).bitwiseAND(bitwise_not(xorLow))
          .bitwiseAND(lit(0x8080808080808080L)) =!= 0
      val base = bandJoin(chunked,
        if (width == 8) !hasZeroByteBelow else lit(true))
      // non-8-bit widths dedup candidate pairs; hamming-filter FIRST
      // (optimization round 17): the verify predicate is a function of
      // the two signatures already on the row, so filter-then-distinct
      // ≡ distinct-then-filter, and the distinct's exchange then
      // carries only qualifying pairs instead of every band collision
      if (width == 8) base
      else base.filter(hamming(col("siga"), col("sigb")) <= maxHamming).distinct()
    } else {
      // Combination banding: one (ci, cv) row per agree-subset, cv =
      // the member chunk values packed side by side into one long
      // (agree·width ≤ 64 always, since agree ≤ chunks). A qualifying
      // pair can agree on several subsets, so dedup the candidates —
      // cheap here BECAUSE the wide key makes collisions rare.
      val combos = (0 until chunks).combinations(agree).toSeq
      require(combos.size <= 4096,
        s"C($chunks, $agree) = ${combos.size} bands — too many; " +
          "use fewer chunks or a different agree")
      val packed = combos.map(_.zipWithIndex.map { case (c, j) =>
        shiftleft(chunkVal(c), j * width)
      }.reduce(_.bitwiseOR(_)))
      val chunked = sigs.select(col("id"), col("sig"),
        posexplode(array(packed: _*)).as(Seq("ci", "cv")))
      // hamming-filter BEFORE the candidate dedup (round 17): a pair
      // can agree on several C(chunks, agree) subsets, so the join
      // emits multiple instances per pair — but the verify predicate
      // is a pure function of the signatures riding the row, so
      // filtering first is output-identical while the distinct's
      // exchange shrinks from every band collision to qualifying
      // pairs only (guide §2.3: shuffle fewer bytes). At the c3b
      // configuration the collision stream is the operator's largest
      // intermediate at corpus scale.
      bandJoin(chunked, lit(true))
        .filter(hamming(col("siga"), col("sigb")) <= maxHamming)
        .distinct()
    }
    cand.withColumn("hamming", hamming(col("siga"), col("sigb")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
