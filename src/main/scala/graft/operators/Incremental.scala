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
  * so on every `microBatch = true` call — including an oversized
  * arrival demoted to the declarative plan shape — the returned
  * tables carry ONE representative row per distinct signature per
  * batch, plus every empty-set short doc — see the exact-signature
  * collapse in `gate` (only explicit `microBatch = false` calls
  * return the uncollapsed tables). C22
  * remains the GLOBAL cluster form — this is its online counterpart.
  *
  * Scale: signatures are one hash-agg shuffle per batch (reusing C2's
  * md5-minhash pipeline); the store join is a band-key equi-join whose
  * left side is batch-sized. Persist the store with
  * `Sink.writeBucketed` on `bk` (E9) and the per-arrival cost is a
  * map-side co-bucketed probe of one bucket subset — the store is
  * never reshuffled, never rescanned whole. One row per (id, band)
  * keeps the payload a pair of md5 hexes; the shingle sets needed for
  * exact verification live one-row-per-doc beside it. Every table
  * here has `MinHash`'s one signature shape.
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
    * candidate ids) stop being "micro" and `gate` FALLS BACK to the
    * declarative `microBatch = false` shape for the rest of the
    * call: no pruner collects, no broadcast pins, no eager batch
    * checkpoint — Catalyst/AQE plan the joins and the batch tables
    * stay lazy end to end (the guard compares a COUNT BOUND,
    * `bandRowBound`, taken before anything materializes). Results
    * are identical either way; only the plan shape changes. */
  val MaxMicroBatchBandRows: Long = 4L << 20

  /** Process-wide count of micro→declarative gate demotions (the
    * band-row bound tripping on a `microBatch = true` call). A
    * demotion is a SILENT plan-shape change inside a streaming sink —
    * stderr alone proved too quiet (ADVICE r15) — so the harnesses
    * surface this counter in their JSON records (StreamBench) and
    * the sinks echo it under GRAFT_SINK_PROFILE. */
  val demotions = new java.util.concurrent.atomic.LongAdder

  /** Separate (tighter) bound for the PRUNER path: its driver-side
    * key collects (distinct band keys ≈ band rows; candidate ids)
    * are useful only while `Indexed.prunedRead` can plausibly accept
    * the probe, and a multi-million-key collect would hurt the
    * driver long before the demotion bound trips. Above this many
    * band rows the gate keeps the micro-batch broadcast pins but
    * skips the pruners — the broadcast semi-join store path is the
    * fallback, identical results. 512k keys ≈ ~30 MB collected. */
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
    * docs, never just survivors; on every `microBatch = true` call
    * (micro AND demoted — a store must never accumulate duplicate
    * signatures) they are COLLAPSED to one representative per
    * distinct signature (plus the empty-set short docs — see the
    * object scaladoc).
    *
    * STORE-SCAN-ONLY plan shape (pinned, not left to size
    * estimates): every join the store participates in builds/
    * broadcasts a BATCH-bounded side — the band join broadcasts the
    * batch's band table, and the verify join first SEMI-REDUCES the
    * store's set table by the broadcast candidate-id list before any
    * payload join. Without the pins, Catalyst's size estimation
    * flips the verify join to SortMergeJoin once the batch outgrows
    * the broadcast threshold, and every arrival then re-sorts and
    * re-shuffles the ENTIRE store's sets — measured 250 MB shuffled
    * per 50k-doc arrival against a 500k-doc store (SURVEY §6 round 9;
    * the GateProfile probe's source is at commit 814e342),
    * growing linearly with the store forever. With the pins the
    * store is only ever scanned: per-arrival network is O(batch),
    * matching the store's O(batch) append writes. The broadcasts are
    * micro-batch-bounded by the sink's contract (batch bands/sets
    * and candidate ids — never the store side), and the signature
    * tables are localCheckpointed (batch-sized) so the shingle→
    * minhash pipeline runs once, not once per downstream join.
    * `microBatch = false` opts OUT of all the pins for a
    * corpus-sized arrival, where broadcasting/checkpointing the
    * "batch" would itself be the scale defect — and a caller who
    * passes a corpus-sized frame WITH `microBatch = true` is demoted
    * to the same shape automatically once the batch band table
    * exceeds `maxBandRows` (the contract is enforced, not assumed). */
  def gate(storeBands: DataFrame, storeSets: DataFrame, batch: DataFrame,
           id: Column, text: Column,
           threshold: Double = 0.5, microBatch: Boolean = true,
           prunedBands: Option[Seq[Any] => Option[DataFrame]] = None,
           prunedSets: Option[Seq[Any] => Option[DataFrame]] = None,
           maxBandRows: Long = MaxMicroBatchBandRows,
           maxPrunerBandRows: Long = MaxPrunerBandRows)
    : (DataFrame, DataFrame, DataFrame) = {
    val (bBands0, bSets0) = signatures(batch, id, text)
    // the contract is ENFORCED, not documentary — and the guard runs
    // BEFORE anything materializes: every doc emits at most
    // Hashes/BandRows band rows (short docs emit none), so the incoming
    // batch's row count upper-bounds the band table without running
    // the shingle→minhash pipeline — free when the caller passes a
    // `Pins.checkpoint`ed batch (its count is already known), one
    // cheap count otherwise — and an oversized
    // "micro-batch" demotes to the declarative shape WITHOUT first
    // paying an eager corpus-sized checkpoint it would immediately
    // abandon (the bound can only demote EARLY — on batches padded
    // with short docs — which errs toward the scale-safe shape)
    val nBandBound = if (microBatch) bandRowBound(Pins.count(batch)) else 0L
    val micro = microBatch && {
      if (nBandBound > maxBandRows) {
        demotions.increment() // surfaced in StreamBench's JSON, not just stderr
        System.err.println(
          s"Incremental.gate: ≤$nBandBound batch band rows (bound) > $maxBandRows — " +
            "not a micro-batch; falling back to the declarative plan shape " +
            "(signature tables stay collapsed — the store contract holds)")
      }
      nBandBound <= maxBandRows
    }
    // micro-batch contract (the streaming sinks): the batch tables
    // are small → materialize them once (the shingle→minhash
    // pipeline would otherwise re-run under every downstream join)
    // and broadcast them into every join the store participates in.
    // A corpus-sized arrival (microBatch = false — e.g. the c34
    // fixture gating most of the corpus in one call) must NOT
    // broadcast or checkpoint corpus-scale tables: it keeps the
    // declarative shape and lets Catalyst/AQE choose.
    val (bBands, bSets) =
      if (micro) (Pins.checkpoint(bBands0), Pins.checkpoint(bSets0))
      else (bBands0, bSets0)
    // the pruner cap below compares the ACTUAL band-row count —
    // the checkpoint above already counted it (no job)
    val nBand = if (micro) Pins.count(bBands) else nBandBound
    // the pruner point-read path pays driver-side key collects — cap
    // them at a depth where prunedRead can still plausibly win (its
    // own alive-key cap is far smaller); past it the broadcast
    // semi-join store path below is the same answer without the
    // collect
    val usePruners = micro && nBand <= maxPrunerBandRows
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
    // flattens to the no-storm baseline. Disabled when threshold > 1
    // (then even Jaccard 1.0 wouldn't drop the duplicates) — and the
    // empty-set short docs are never collapsed: they match nothing,
    // always survive, and their (id, []) rows still land in the store.
    //
    // STREAMING-CALLER PATH (round 15 restricted it to micro; round
    // 16 re-extends it to DEMOTED micro-batch calls): the storm
    // regime lives in the streaming sinks, which call with
    // `microBatch = true`. On the micro path the collapse's
    // array-keyed groupBy and two anti-joins ride batch-sized
    // broadcasts; an arrival that DEMOTES (band-row bound exceeded)
    // must still collapse — its signature tables are APPENDED to the
    // persistent store, and an uncollapsed oversized arrival would
    // permanently seed the store with duplicate signatures,
    // re-opening the quadratic storm regime the r14 fix closed — so
    // the demoted shape keeps the collapse as plain shuffle joins
    // (no broadcast, no eager checkpoint: Catalyst/AQE plan them,
    // and the demoted tables are `Pins.persist`ed below — a LAZY
    // MEMORY_AND_DISK cache registered with the sink's end-of-batch
    // reap, populated by whichever consuming action runs first.
    // Without it every separate action a sink takes on the returned
    // tables re-ran the shingle→minhash pipeline — measured 1.74×
    // the per-arrival wall, records/demotedprobe_r17.json: each
    // post-survivor count/write paid ~0.6-1.1 s vs cache-scan cost
    // once cached. Outside a sink collector `Pins.persist` is a
    // no-op and the shape stays fully lazy: nothing leaks, and
    // IncrementalSpec's no-LogicalRDD demoted-plan pin holds on
    // both paths — a persist never truncates lineage). Only an
    // EXPLICIT
    // `microBatch = false` caller (c34's corpus-sized declarative
    // arrival, whose tables are not destined for a store) skips the
    // collapse: there those steps would be three extra full shuffles
    // over the corpus for a dedup that C1 (exact hash-groupBy)
    // already does upstream. Verdicts are identical on every path:
    // identical-signature docs still share every band and verify at
    // Jaccard 1.0, so keep-first drops them through the ordinary
    // within-batch path; only the RETURNED tables differ
    // (uncollapsed in declarative mode).
    val collapse = microBatch && threshold <= 1.0
    val (pBands, pSets, exactDropped) = if (collapse) {
      val reps = bSets.filter(size(col("s")) > 0)
        .groupBy(col("s")).agg(min(col("id")).as("id")).select(col("id"))
      // non-representative duplicate ids: batch-bounded (smaller than
      // the batch), so the micro-batch contract broadcasts them into
      // the two anti-joins below; the demoted shape joins them
      // declaratively instead
      val dup0 = bSets.filter(size(col("s")) > 0)
        .join(hint(reps), Seq("id"), "left_anti").select(col("id"))
      val dup = if (micro) Pins.checkpoint(dup0) else dup0
      (bBands.join(hint(dup), Seq("id"), "left_anti"),
        bSets.join(hint(dup), Seq("id"), "left_anti"),
        dup.select(col("id").as("cid")))
    } else (bBands, bSets, bSets.limit(0).select(col("id").as("cid")))
    // demoted arrival inside a sink: register the returned tables
    // (which the survivors plan below also embeds) for a lazy
    // collector-reaped cache — see the streaming-caller note above.
    // `Pins.persist` returns its argument; outside a collector it is
    // a no-op and the declarative shape is untouched.
    if (microBatch && !micro) { Pins.persist(pBands); Pins.persist(pSets) }

    val jac = Jaccard.exactScore(col("sa"), col("sb"), size(col("sa")), size(col("sb")))

    // candidates against the store: batch id on the left, ANY store id.
    // `prunedRight`: given the candidate ids, an optional
    // sidecar-pruned point-read of the right sets (Indexed.prunedRead
    // — already filtered to id ∈ candidates, bit-identical to the
    // semi-join it replaces); None → the broadcast semi-join path.
    def verified(cand: DataFrame, leftSets: DataFrame, rightSets: DataFrame,
                 prunedRight: Option[Seq[Any] => Option[DataFrame]]) = {
      // candidate ids are batch-bounded → broadcast them to prune the
      // (possibly store-sized) right side down to candidate rows with
      // a scan, never a shuffle of the store. The pruner's key list is
      // deduped on the driver: the collected array is bounded by the
      // pruner cap, and a distinct() would add a shuffle stage
      val pruned =
        if (usePruners) prunedRight.flatMap(f =>
          f(cand.select(col("oid")).collect().map(_.get(0)).distinct.toSeq))
        else None
      val reduced = pruned.map(_.select(col("id"), col("s"))).getOrElse {
        if (micro) rightSets.join(
          broadcast(cand.select(col("oid").as("id")).distinct()), Seq("id"), "left_semi")
        else rightSets
      }
      cand
        .join(hint(leftSets.select(col("id").as("cid"), col("s").as("sa"))), "cid")
        .join(reduced.select(col("id").as("oid"), col("s").as("sb")), "oid")
        .filter(jac >= threshold)
        .select(col("cid"))
    }

    // store band probe: with an indexed store layout the batch's band
    // keys (batch-bounded — collected off the checkpointed batch
    // table, deduped on the driver like the candidate ids above)
    // select a point-read of the store instead of a scan
    val effStoreBands =
      if (usePruners)
        prunedBands.flatMap(f =>
            f(pBands.select(col("bk")).collect().map(_.get(0)).distinct.toSeq))
          .map(_.select(col("id"), col("bi"), col("bk")))
          .getOrElse(storeBands)
      else storeBands

    val vsStoreCand = effStoreBands.select(col("id").as("oid"), col("bi"), col("bk"))
      .join(hint(pBands.select(col("id").as("cid"), col("bi"), col("bk"))),
        Seq("bi", "bk"))
      .select(col("cid"), col("oid")).distinct()
    val vsStore = verified(
      if (micro) Pins.checkpoint(vsStoreCand) else vsStoreCand,
      pSets, storeSets, prunedSets)

    // within-batch: keep-first by id (the C2 pair orientation) — all
    // sides batch-bounded. Both sides ride the collapsed tables: a
    // non-representative oid's match is always witnessed by its
    // (smaller-id) representative, so dropping duplicates from the
    // oid side never loses a verdict — rep(set) < oid < cid and
    // Jaccard is set-determined
    val vsBatch = verified(
      pBands.select(col("id").as("cid"), col("bi"), col("bk"))
        .join(hint(pBands.select(col("id").as("oid"), col("bi"), col("bk"))),
          Seq("bi", "bk"))
        .filter(col("oid") < col("cid"))
        .select(col("cid"), col("oid")).distinct(),
      pSets, pSets, None)

    val dropped0 = vsStore.unionByName(vsBatch)
    val dropped =
      (if (collapse) dropped0.unionByName(exactDropped) else dropped0).distinct()
    val survivors = batch.select(id.as("id"))
      .join(dropped.withColumnRenamed("cid", "id"), Seq("id"), "left_anti")
    // microBatch = true (micro or demoted): the returned signature
    // tables are the COLLAPSED ones — one row per distinct signature
    // (plus every empty-set doc), which preserves every future
    // verdict; explicit declarative mode returns them uncollapsed —
    // see the collapse note above
    (survivors, pBands, pSets)
  }
}
