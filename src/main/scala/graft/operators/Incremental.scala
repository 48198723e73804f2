package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental near-dup ingest gate (SURVEY C34).
  *
  * The batch near-dup operators (C2-C5) re-dedup a whole corpus; an
  * INGEST pipeline can't afford that per arrival — the operational
  * shape at corpus scale is a persistent SIGNATURE STORE and an
  * O(batch) gate: each incoming batch is checked against the store
  * (and itself), survivors flow on, and the batch's signatures are
  * appended for the next arrival. Generalizes the reference's
  * incremental mode + content-hash dedup (pasta-pipeline
  * `dags/pipelines/dag.py:52-61`, `duplicate_remover.py:74` — "only
  * process what's new, drop what's already seen") from exact hashes
  * to near-duplicates.
  *
  * Semantics (provably batch-order-independent): a doc is dropped iff
  * it near-matches (exact Jaccard ≥ t on minhash-banded candidates —
  * C2's match definition) ANY previously-seen doc or a smaller-id doc
  * in its own batch. The store keeps a signature for every SEEN doc —
  * kept and dropped alike, never just survivors — which is what makes
  * sequential gating EQUAL to the global keep-first rule "keep d iff
  * no d' < d matches" when batches arrive in id order (Jaccard is not
  * transitive: a near-dup of a dropped doc need not match that doc's
  * keeper, so a survivors-only store would silently re-admit it;
  * IncrementalSpec pins the equality). One refinement that loses
  * nothing: docs with IDENTICAL signatures are interchangeable for
  * matching (a match is a function of the shingle set, never the id),
  * so every `gate` call returns tables that carry ONE representative
  * row per distinct signature per batch, plus every empty-set short
  * doc — see the exact-signature collapse in `gate`. C22 remains the
  * GLOBAL cluster form — this is its online counterpart.
  *
  * Scale: the batch is signed map-side (`MinHash.signaturesMapSide`,
  * no explode before the collapse), and the collapse is the one
  * shuffle over the batch. On the micro shape every store join reads
  * the store once as a scan: the band join probes a broadcast of the
  * batch's band rows and the verify join probes a broadcast of the
  * candidate pairs, so the store is never reshuffled. With an
  * `Indexed` store layout the pruners turn those scans into point
  * reads. One row per (id, band) keeps the band payload a pair of md5
  * hexes; the shingle sets needed for exact verification live
  * one-row-per-doc beside it. Every table here has `MinHash`'s one
  * signature shape.
  *
  * Plan shape: `gate` picks one of two shapes from one fact, the
  * batch's band-row bound against `MaxMicroBatchBandRows`. Under it
  * the batch tables are pinned and broadcast (the micro shape); over
  * it the arrival is demoted to the declarative shape, which keeps
  * the tables lazy and lets Catalyst/AQE plan the joins. Verdicts
  * and returned tables are identical on both.
  *
  * Store schema note: sets are array<bigint> (xxhash64 — see
  * `signatures`). A store persisted by a pre-long-hash build
  * (array<string> md5 sets) is incompatible: rebuild it by
  * re-signing the raw docs (bands are unchanged, so only sets/
  * needs rewriting).
  */
object Incremental {

  /** Enforceable bound on the micro-batch contract: past this many
    * batch BAND rows (≈ docs × Hashes/BandRows — ~1M docs) the
    * gate's driver-side collects and broadcasts (batch band keys,
    * candidate ids) stop being "micro" and `gate` DEMOTES the
    * arrival to the declarative shape: no pruner collects, no
    * broadcast pins, no eager batch checkpoint — Catalyst/AQE plan
    * the joins and the batch tables stay lazy end to end (the guard
    * compares a COUNT BOUND, `bandRowBound`, taken before anything
    * materializes). Results are identical either way; only the plan
    * shape changes. */
  val MaxMicroBatchBandRows: Long = 4L << 20

  /** Process-wide count of micro→declarative gate demotions (the
    * band-row bound tripping). A demotion is a SILENT plan-shape
    * change inside a streaming sink — stderr alone proved too quiet
    * (ADVICE r15) — so the harnesses surface this counter in their
    * JSON records (StreamBench) and the sinks echo it under
    * GRAFT_SINK_PROFILE. */
  val demotions = new java.util.concurrent.atomic.LongAdder

  /** Separate (tighter) bound for the PRUNER path: its driver-side
    * key collects (distinct band keys ≈ band rows; candidate ids)
    * are useful only while `Indexed.prunedRead` can plausibly accept
    * the probe, and a multi-million-key collect would hurt the
    * driver long before the demotion bound trips. Above this many
    * band rows (by `bandRowBound`) the gate keeps the micro-batch
    * broadcast pins but skips the pruners — whole store scans against
    * the same broadcasts are the fallback, identical results. 512k
    * keys ≈ ~30 MB collected. */
  val MaxPrunerBandRows: Long = 1L << 19

  /** Upper bound on the band rows `signatures` emits for `nDocs`
    * docs: every doc emits at most `Hashes / BandRows` band rows
    * (short docs emit none). */
  def bandRowBound(nDocs: Long): Long = nDocs * (MinHash.Hashes / MinHash.BandRows)

  /** Signature tables for a doc set: bands (id, bi, bk) — one row per
    * band for the bucketed store layout — and sets (id, s) with the
    * sorted distinct xxhash64-shingle LONG array for exact
    * verification (8 bytes/element — the persistent store and the
    * per-arrival verify shuffle are ~6× leaner than with md5 hex
    * strings; see Shingles.hashSets). Short docs (fewer tokens than
    * a shingle) get no band rows and an empty set: they can never
    * near-match anything and always survive the gate. */
  def signatures(docs: DataFrame, id: Column, text: Column): (DataFrame, DataFrame) = {
    // round 18: both tables built MAP-SIDE by the fused kernels — no
    // explode, no aggregation exchange, and the former keep-every-doc
    // LEFT JOIN for `sets` collapses to a coalesce on the kernel
    // output (empty array for short/null docs, the same convention;
    // `DeclarativeRef.incrementalSignatures`, test scope, is the
    // join form). Streaming-safe: stateless projections.
    val bands = MinHash.bandTable(docs, id, text)
    val sets = docs.select(id.as("id"),
      coalesce(graft.plans.TextExpressions.hashedShingleSet(lower(text), MinHash.ShingleWords),
        array().cast("array<bigint>")).as("s"))
    (bands, sets)
  }

  /** Survivor ids of `batch` gated against the store at `threshold`:
    * drops a batch doc iff a store doc or a smaller-id batch doc
    * shares a band AND verifies at exact Jaccard ≥ threshold.
    * `storeBands`/`storeSets` use the `signatures` schema; pass empty
    * frames (or `signatures` of an empty doc set) for a cold store.
    * Returns (survivorIds, batchBands, batchSets) — append the batch
    * tables to the store for the next arrival. They cover ALL seen
    * docs, never just survivors, and are COLLAPSED to one
    * representative per distinct signature (plus the empty-set short
    * docs — see the object scaladoc) on both shapes: a store must
    * never accumulate duplicate signatures. `threshold` must be at
    * most 1 (NaN is refused too): above it even identical docs would
    * not match, and the collapse would drop docs that survive.
    *
    * Two plan shapes, picked by one fact: the batch's band-row bound
    * (`bandRowBound` of its row count, taken before anything
    * materializes) against `maxBandRows`. Under it the arrival takes
    * the micro shape below; over it the arrival is DEMOTED to the
    * declarative shape — no pruner collects, no pins, no broadcast
    * hints; Catalyst/AQE plan the joins and the batch tables stay
    * lazy (inside a sink they are `Pins.persist`ed for the batch), so
    * a corpus-sized arrival never broadcasts or checkpoints a
    * corpus-sized table. Past `maxPrunerBandRows` the micro shape
    * keeps its pins but skips the pruners' driver-side collects.
    *
    * The micro shape is STORE-SCAN-ONLY (pinned, not left to size
    * estimates): every join the store participates in broadcasts a
    * BATCH-bounded side — the band join the batch's band table, the
    * verify join the candidate pairs with the batch docs' sets, which
    * the store's set table (pruned or whole) probes. Without the pins,
    * Catalyst's size estimation flips the verify join to
    * SortMergeJoin once the batch outgrows the broadcast threshold,
    * and every arrival then re-sorts and re-shuffles the ENTIRE
    * store's sets — measured 250 MB shuffled per 50k-doc arrival
    * against a 500k-doc store (SURVEY §6 round 9; the GateProfile
    * probe's source is at commit 814e342), growing linearly with the
    * store forever. With the pins the store is only ever scanned:
    * per-arrival network is O(batch), matching the store's O(batch)
    * append writes. The broadcasts are bounded by `maxBandRows`
    * (batch signatures and candidate sets — never the store side).
    *
    * Jobs (the micro shape): the gate pins TWO batch-sized tables,
    * each lazily (`Pins.pin`), so each is materialized by the first
    * job that reads it and read from its blocks by every later one —
    * no pin runs a job of its own:
    *  - `sig`, one row per kept signature (id, s, b): the collapse's
    *    groupBy runs once (one shuffle), and the returned band and
    *    set tables are map-side projections of it. The pruner's
    *    band-key collect materializes it;
    *  - `cand`, the (cid, oid, tag) candidate pairs of the store AND
    *    the batch from ONE band join. The pruner's candidate-id
    *    collect materializes it.
    * The survivor ids then cost three broadcasts: the batch docs'
    * sets, the candidate pairs carrying them, and the dropped ids. */
  def gate(storeBands: DataFrame, storeSets: DataFrame, batch: DataFrame,
           id: Column, text: Column,
           threshold: Double = 0.5,
           prunedBands: Option[Seq[Any] => Option[DataFrame]] = None,
           prunedSets: Option[Seq[Any] => Option[DataFrame]] = None,
           maxBandRows: Long = MaxMicroBatchBandRows,
           maxPrunerBandRows: Long = MaxPrunerBandRows)
    : (DataFrame, DataFrame, DataFrame) = {
    // the collapse below drops every identical-set doc but the
    // smallest id, which is a verdict only Jaccard 1.0 ≥ threshold
    // makes (`<=` is false for NaN, so NaN is refused too)
    require(threshold <= 1.0, s"Incremental.gate: threshold must be ≤ 1, got $threshold")
    // the guard runs BEFORE anything materializes: every doc emits at
    // most Hashes/BandRows band rows (short docs emit none), so the
    // incoming batch's row count upper-bounds the band table without
    // running the shingle→minhash pipeline — free when the caller
    // passes a `Pins.checkpoint`ed batch (its count is already known),
    // one cheap count otherwise — and an oversized arrival demotes to
    // the declarative shape WITHOUT first paying an eager corpus-sized
    // checkpoint it would immediately abandon (the bound can only
    // demote EARLY — on batches padded with short docs — which errs
    // toward the scale-safe shape)
    val nBandBound = bandRowBound(Pins.count(batch))
    val micro = nBandBound <= maxBandRows
    if (!micro) {
      demotions.increment() // surfaced in StreamBench's JSON, not just stderr
      System.err.println(
        s"Incremental.gate: ≤$nBandBound batch band rows (bound) > $maxBandRows — " +
          "not a micro-batch; falling back to the declarative plan shape " +
          "(signature tables stay collapsed — the store contract holds)")
    }
    // the pruner point-read path pays driver-side key collects — cap
    // them (on the same bound, so the cap too errs toward the
    // collect-free shape) at a depth where prunedRead can still
    // plausibly win (its own alive-key cap is far smaller); past it
    // the store tables are scanned whole — the same answer without
    // the collect
    val usePruners = micro && nBandBound <= maxPrunerBandRows
    // micro shape: the batch tables are small → pin them once and
    // broadcast them into every join the store participates in. A
    // demoted arrival must NOT broadcast or checkpoint corpus-scale
    // tables: it keeps the declarative shape and lets Catalyst/AQE
    // choose.
    def hint(df: DataFrame): DataFrame = if (micro) broadcast(df) else df

    // EXACT-SIGNATURE COLLAPSE (round 14, the error-page-storm fix):
    // batch docs with IDENTICAL shingle sets are mutual near-dups by
    // construction — identical nonempty sets hash to the identical
    // minhash signature (so they share EVERY band) and verify at
    // exact Jaccard 1.0 ≥ threshold — so the keep-first rule always
    // drops all but the min-id doc of each identical-set group, and
    // any OTHER doc (this batch, this store, or any future arrival)
    // matches a group member iff it matches the representative (the
    // match is a function of the set, never the id). Collapsing the
    // group to its representative BEFORE the store probe and BEFORE
    // the signature append is therefore verdict-identical forever
    // (IncrementalSpec pins the multi-arrival parity) while removing
    // the quadratic cost of a crawl-storm regime: without it, a
    // stream that keeps re-fetching one error page appends m
    // identical signatures per arrival and the NEXT arrival's m storm
    // docs generate m × (accumulated m·t) candidate pairs — measured
    // on the D10 gate as a per-arrival cost growing linearly forever
    // (6.3 → 9.2 s over 40 arrivals at a 20% plant,
    // records/streambench_d10_growth_storm_r14.json) with NO straggler (max
    // task ≤ 1.3 s — distributed volume, not a hot key, which is why
    // salting is the wrong tool here). With the collapse the store
    // gains ONE row per distinct storm text per arrival and the curve
    // flattens to the no-storm baseline. The empty-set short docs are
    // never collapsed: they match nothing, always survive, and their
    // (id, []) rows still land in the store.
    //
    // The collapsed docs are exactly the batch docs missing from
    // `sig`, so the survivors below are `sig`'s ids minus the verified
    // drops — the collapse needs no join of its own.
    //
    // A DEMOTED arrival collapses too: its signature tables are
    // APPENDED to the persistent store, and an uncollapsed oversized
    // arrival would permanently seed the store with duplicate
    // signatures, re-opening the quadratic storm regime the r14 fix
    // closed.
    //
    // The batch is signed into ONE table, `sig` (id, s, b), which the
    // collapse groups and the micro shape pins; the returned tables
    // are map-side projections of it.
    val t = graft.plans.TextExpressions
    // docs with shingles, signed in one map-side pass: the verify set
    // `s` and the band-key array `b` (`signaturesMapSide` keyed by the
    // (id, s) pair, so the set kernel runs on the same filtered rows,
    // where it is never null — asserted, or a null-intolerant consumer
    // would infer a not-null filter that re-runs the kernel)
    val signed = MinHash.signaturesMapSide(batch,
        struct(id.as("id"),
          t.knownNotNull(t.hashedShingleSet(lower(text), MinHash.ShingleWords)).as("s")),
        text, MinHash.ShingleWords, MinHash.Hashes)
      .select(col("id.id").as("id"), col("id.s").as("s"),
        MinHash.bandArray(MinHash.Hashes, MinHash.BandRows).as("b"))
    val kept = signed.groupBy(col("s")).agg(min(struct(col("id"), col("b"))).as("r"))
      .select(col("r.id").as("id"), col("s"), col("r.b").as("b"))
    // short (or null) docs: an empty set and no bands
    val short = batch
      .filter(!coalesce(size(t.wordNgrams(lower(text), MinHash.ShingleWords)) > 0, lit(false)))
      .select(id.as("id"), array().cast("array<bigint>").as("s"),
        lit(null).cast("array<string>").as("b"))
    val sig = if (micro) Pins.pin(kept.unionByName(short)) else kept.unionByName(short)
    // explode an expression, not the bare `b`: for a bare column Spark
    // infers `size(b) > 0` and pushes it below the projection that
    // computes `b`, re-running the minhash kernel in the filter (on an
    // unpinned batch, 6× the band table's own cost)
    val pBands = sig.select(col("id"), posexplode(coalesce(col("b"), array())).as(Seq("bi", "bk")))
    val pSets = sig.select(col("id"), col("s"))
    // demoted arrival inside a sink: register the returned tables
    // (which the survivors plan below also reads) for a LAZY
    // MEMORY_AND_DISK cache reaped with the batch — no eager
    // checkpoint (the guard exists to avoid a corpus-sized
    // materialization up front), yet no shingle→minhash re-run per
    // consuming action either (measured 1.74× the per-arrival wall
    // without it, records/demotedprobe_r17.json). Outside a collector
    // `Pins.persist` is a no-op and the shape stays fully lazy; a
    // persist never truncates lineage, so IncrementalSpec's
    // no-LogicalRDD demoted-plan pin holds on both paths
    if (!micro) { Pins.persist(pBands); Pins.persist(pSets) }

    // store band probe: with an indexed store layout the batch's band
    // keys (batch-bounded, deduped on the driver — a distinct() would
    // add a shuffle stage) select a point-read of the store instead
    // of a scan
    val effStoreBands =
      if (usePruners)
        prunedBands.flatMap(f =>
            f(pBands.select(col("bk")).collect().map(_.get(0)).distinct.toSeq))
          .map(_.select(col("id"), col("bi"), col("bk")))
          .getOrElse(storeBands)
      else storeBands

    // ONE band join finds both candidate kinds against the (one,
    // reused) broadcast of the batch bands: store docs (tag 0, any id —
    // a replayed doc self-matches) and batch docs (tag 1, keep-first:
    // oid < cid). The batch side rides the collapsed table: a
    // non-representative oid's match is always witnessed by its
    // (smaller-id) representative, so dropping duplicates from the oid
    // side never loses a verdict — rep(set) < oid < cid and Jaccard is
    // set-determined. The build side drops null ids (no verdict joins
    // them) on both kinds, so the keep-first predicate's inferred
    // not-null filter leaves the two broadcasts identical and the
    // second one reuses the first.
    //
    // A pair sharing several bands repeats, once per shared band: at
    // most Hashes/BandRows repeats of a near-dup pair (the collapse
    // leaves no identical-doc clusters). On the micro shape verifying
    // them again is cheaper than the shuffle job a distinct() adds; a
    // demoted arrival, whose joins shuffle anyway, verifies each pair
    // once
    def candidates(other: DataFrame, tag: Int): DataFrame =
      other.select(col("id").as("oid"), col("bi"), col("bk"))
        .join(hint(pBands.filter(col("id").isNotNull)
          .select(col("id").as("cid"), col("bi"), col("bk"))), Seq("bi", "bk"))
        .select(col("cid"), col("oid"), lit(tag).as("tag"))
    val cand0 = candidates(effStoreBands, 0)
      .unionByName(candidates(pBands, 1).filter(col("oid") < col("cid")))
    val cand = if (micro) Pins.pin(cand0) else cand0.distinct()

    // verification: the store's set table is only ever SCANNED —
    // through the pruner's point-read when it accepts the candidate
    // ids (Indexed.prunedRead, already filtered to id ∈ candidates,
    // bit-identical to the scan; the key list is deduped on the
    // driver) or whole — and probes the broadcast candidate pairs,
    // which carry the batch doc's set. The batch's own sets (tag 1)
    // probe the same broadcast
    val pruned =
      if (usePruners) prunedSets.flatMap(f =>
        f(cand.filter(col("tag") === 0).select(col("oid")).collect()
          .map(_.get(0)).distinct.toSeq))
      else None
    val storeCandSets = pruned.map(_.select(col("id"), col("s"))).getOrElse(storeSets)
    val pairs = cand.join(hint(pSets.select(col("id").as("cid"), col("s").as("sa"))), "cid")
    val jac = Jaccard.exactScore(col("sa"), col("sb"), size(col("sa")), size(col("sb")))
    val dropped = storeCandSets.select(col("id").as("oid"), lit(0).as("tag"), col("s").as("sb"))
      .unionByName(pSets.select(col("id").as("oid"), lit(1).as("tag"), col("s").as("sb")))
      .join(hint(pairs), Seq("oid", "tag"))
      .filter(jac >= threshold)
      .select(col("cid").as("id"))
    val survivors = pSets.select(col("id")).join(hint(dropped), Seq("id"), "left_anti")
    (survivors, pBands, pSets)
  }
}
