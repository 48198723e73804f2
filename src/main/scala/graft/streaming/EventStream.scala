package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming twins of the batch operators (SURVEY D1-D2).
  *
  * The reference runs its aggregation/cleanup on a schedule (Airflow
  * DAGs, pasta-pipeline `dags/pipelines/dag.py`); the streaming-native
  * re-expression is continuous: `readStream` → the same declarative
  * transforms → `writeStream`, with event-time watermarks bounding
  * state.
  *
  * Scale: both operators keep state partitioned by their keys (window
  * × type, user) — the same single-shuffle shape as their batch twins
  * B6/B5; watermarks let Spark drop state for closed windows/idle
  * sessions, so state size tracks the ACTIVE keyset, not history.
  */
object EventStream {
  import EventMicros.{fromMicros, toMicros}

  /** One event row (matches the `events` table columns used here). */
  case class Event(user_id: Long, event_id: Long, ts: Timestamp, value: Double)

  /** A closed (or finally-flushed) session. */
  case class Session(user_id: Long, session_id: Long, n_events: Long,
                     session_start: Timestamp, session_end: Timestamp)

  /** Per-user state (public: encoder codegen instantiates it). */
  case class OpenSession(startMicros: Long, lastMicros: Long, n: Long)

  /** D1: watermarked tumbling-window counts/sums per event_type —
    * streaming twin of B6. Input must have (ts: timestamp,
    * event_type: string, value: double). Late data beyond
    * `watermark` is dropped; closed windows emit once (Append). */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** D3: streaming exact dedup — the streaming twin of the batch
    * keyed dedup (A8/C1): keep the first occurrence per key, with
    * state bounded by the watermark (duplicates are only expected
    * within the lateness horizon, the reference's re-scrape window).
    * Input needs an event-time `ts` column. */
  def dedup(events: DataFrame, keyCols: Seq[String], watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** D14: streaming canonical-URL dedup gate — C48's canonicalizer
    * (functions.UrlFunctions) applied IN-FLIGHT, then D3's
    * watermark-bounded keep-first on the canonical key: the
    * CommonCrawl-style first dedup gate run at ingest, so no later
    * stage ever sees URL-variant duplicates of a page. Malformed
    * URLs (NULL canonical) are DROPPED rather than deduped — a
    * shared null key would collapse unrelated garbage onto one
    * surviving row. Input needs (ts: timestamp, `urlCol`: string);
    * the emitted rows carry the canonical key for downstream joins.
    * Scale: the canonicalization is pure map-side expression work in
    * the same stage as the source; state is one row per DISTINCT
    * canonical URL inside the lateness horizon, not per raw spelling. */
  def urlDedup(pages: DataFrame, urlCol: String,
               watermark: String = "2 hours"): DataFrame =
    pages
      .withColumn("canonical_url",
        graft.functions.UrlFunctions.canonicalize(col(urlCol)))
      .filter(col("canonical_url").isNotNull)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("canonical_url"))

  /** A click (left side of the D4 attribution join). */
  case class Click(user_id: Long, click_id: Long, click_ts: Timestamp)

  /** A conversion (right side of the D4 attribution join). */
  case class Conversion(user_id: Long, conv_id: Long, conv_ts: Timestamp, amount: Double)

  /** D4: stream-stream interval join — the attribution shape: each
    * conversion matches the same user's clicks in the preceding
    * `windowSeconds`. Both sides carry watermarks so Spark bounds the
    * join state: a click can be dropped once the conversion stream's
    * watermark passes click_ts + window; late rows beyond `watermark`
    * are dropped. State is partitioned by user — one shuffle per
    * side, same key discipline as the batch joins. */
  def attribute(clicks: Dataset[Click], convs: Dataset[Conversion],
                windowSeconds: Long, watermark: String = "1 hour"): DataFrame = {
    val l = clicks.toDF().withWatermark("click_ts", watermark)
    val r = convs.toDF().withWatermark("conv_ts", watermark)
    l.join(r,
      l("user_id") === r("user_id") &&
        r("conv_ts") >= l("click_ts") &&
        r("conv_ts") <= l("click_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(l("user_id"), col("click_id"), col("conv_id"),
        col("click_ts"), col("conv_ts"), col("amount"))
  }

  /** A priced quote (right side of the D5 as-of enrichment). */
  case class Quote(user_id: Long, quote_id: Long, qts: Timestamp, px: Double)

  /** A trade enriched with the newest quote at-or-before it. */
  case class Enriched(user_id: Long, event_id: Long, ts: Timestamp,
                      quote_id: Option[Long], px: Option[Double])

  /** D5 buffer state: rows not yet past the watermark, plus the
    * newest already-flushed quote (public: encoder codegen). */
  case class AsOfState(quotes: Seq[(Long, Long, Double)], // (micros, id, px)
                       trades: Seq[(Long, Long)],         // (micros, id)
                       last: Option[(Long, Long, Double)])

  /** D5: streaming as-of enrichment — the streaming twin of B12.
    * Trades and quotes union into ONE keyed stream; per-user state
    * buffers both sides until the event-time watermark passes, then
    * flushes in strict event-time order: each trade ≤ watermark is
    * emitted with the newest quote at-or-before it (quotes sort
    * before trades at equal timestamps — the inclusive as-of
    * convention, same as the batch twin). Because nothing is matched
    * before the watermark seals its ordering, the result is EXACT for
    * data within the allowed lateness — not a best-effort
    * latest-state lookup. State is the within-horizon buffer plus one
    * retained quote per user (the newest flushed one), so it tracks
    * the active-key horizon like D2, never history. */
  def enrichAsOf(trades: Dataset[Event], quotes: Dataset[Quote],
                 watermark: String = "1 hour"): Dataset[Enriched] = {
    implicit val ee = Encoders.product[Enriched]
    implicit val es = Encoders.product[AsOfState]
    val spark = trades.sparkSession
    import spark.implicits._

    // tag both sides into one schema: side 0 = quote, 1 = trade
    val tagged = trades.select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id").as("id"), lit(0.0).as("px"))
      .unionByName(quotes.select(col("user_id"), col("qts").as("ts"), lit(0).as("side"),
        col("quote_id").as("id"), col("px")))
      .withWatermark("ts", watermark)
      .as[(Long, Timestamp, Int, Long, Double)]

    def flush(userId: Long, st: AsOfState, wmMicros: Long,
              out: scala.collection.mutable.Builder[Enriched, Seq[Enriched]]): AsOfState = {
      // STRICTLY below the watermark: Spark admits rows AT the
      // watermark, so a quote with ts exactly equal to a buffered
      // trade's could still arrive — flushing that trade now would
      // miss its inclusive same-instant match
      val (dueQ, keepQ) = st.quotes.partition(_._1 < wmMicros)
      val (dueT, keepT) = st.trades.partition(_._1 < wmMicros)
      var last = st.last
      // merge in event-time order, quotes first at equal instants
      val qIt = dueQ.sortBy(q => (q._1, q._2)).iterator.buffered
      for ((tUs, tid) <- dueT.sortBy(t => (t._1, t._2))) {
        while (qIt.hasNext && qIt.head._1 <= tUs) last = Some(qIt.next())
        out += Enriched(userId, tid, fromMicros(tUs), last.map(_._2), last.map(_._3))
      }
      var tail = last
      while (qIt.hasNext) tail = Some(qIt.next()) // remaining due quotes still advance `last`
      AsOfState(keepQ, keepT, tail)
    }

    def update(userId: Long, rows: Iterator[(Long, Timestamp, Int, Long, Double)],
               state: GroupState[AsOfState]): Iterator[Enriched] = {
      val st = state.getOption.getOrElse(AsOfState(Nil, Nil, None))
      val out = Seq.newBuilder[Enriched]
      // flush on BOTH paths: a key receiving data in every micro-batch
      // never times out, so the data path must also drain everything
      // the watermark has already sealed — otherwise emission defers
      // forever and the buffers grow without bound
      val next =
        if (state.hasTimedOut) flush(userId, st, state.getCurrentWatermarkMs() * 1000L, out)
        else {
          var q = st.quotes; var t = st.trades
          for ((_, ts, side, id, px) <- rows) {
            val us = toMicros(ts)
            if (side == 0) q = q :+ ((us, id, px)) else t = t :+ ((us, id))
          }
          flush(userId, st.copy(quotes = q, trades = t),
            state.getCurrentWatermarkMs() * 1000L, out)
        }
      // the newest flushed quote is retained per key (a later trade
      // still needs it); only a key that never saw a quote and holds
      // nothing buffered can drop out entirely. Idle keys with empty
      // buffers set no timeout — no per-watermark wakeups.
      if (next.quotes.isEmpty && next.trades.isEmpty && next.last.isEmpty) state.remove()
      else {
        state.update(next)
        if (next.quotes.nonEmpty || next.trades.nonEmpty)
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
      }
      out.result().iterator
    }

    tagged.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update _)
  }

  /** D2: stateful gap sessionization via flatMapGroupsWithState —
    * streaming twin of B5. Emits a Session whenever a gap >
    * `gapSeconds` closes one; the open session per user lives in
    * state with an EVENT-TIME TIMEOUT at last-event + gap, so once
    * the watermark passes the gap with no new events the idle
    * session is FLUSHED and its state dropped. State size therefore
    * tracks users active within one gap+watermark horizon — never
    * all users ever seen (the NoTimeout formulation held every idle
    * user's open session forever: unbounded state AND lost final
    * sessions). Batches are sorted in-group by (ts, event_id) so
    * intra-batch order is total.
    *
    * Resolution contract: gaps compare in MICROSECONDS here, while
    * the batch twin (`Sessionize`, B5) floors to whole seconds to
    * stay portable with its SQL oracle — events exactly gap±1µs
    * apart can split differently across the twins on sub-second
    * data (see Sessionize's scaladoc). */
  def sessions(events: Dataset[Event], gapSeconds: Long,
               watermark: String = "1 hour"): Dataset[Session] = {
    implicit val se = Encoders.product[Session]
    implicit val so = Encoders.product[OpenSession]
    implicit val kl = Encoders.scalaLong
    // session id = the session's start micros: unique per user even
    // ACROSS state expiry (a per-user counter would either restart at
    // 1 after a timeout flush — colliding ids — or require keeping a
    // counter for every user forever, the unbounded state this
    // operator exists to avoid)
    def asSession(userId: Long, s: OpenSession): Session =
      Session(userId, s.startMicros, s.n, fromMicros(s.startMicros), fromMicros(s.lastMicros))

    def update(userId: Long, rows: Iterator[Event],
               state: GroupState[OpenSession]): Iterator[Session] = {
      if (state.hasTimedOut) {
        // watermark passed last-event + gap: the open session can
        // never be extended — flush it and drop the state
        val flushed = state.getOption.map(asSession(userId, _))
        state.remove()
        return flushed.iterator
      }
      val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
      var open = state.getOption
      val closed = Seq.newBuilder[Session]
      for (e <- sorted) {
        val t = toMicros(e.ts)
        open = open match {
          case Some(s) if t - s.lastMicros <= gapSeconds * 1000000L =>
            Some(s.copy(lastMicros = math.max(s.lastMicros, t), n = s.n + 1))
          case Some(s) =>
            closed += asSession(userId, s)
            Some(OpenSession(t, t, 1))
          case None =>
            Some(OpenSession(t, t, 1))
        }
      }
      open.foreach { s =>
        state.update(s)
        // fire once the event-time watermark passes the gap; clamp
        // above the current watermark (a timeout in the past throws)
        state.setTimeoutTimestamp(math.max(
          math.floorDiv(s.lastMicros, 1000L) + gapSeconds * 1000L,
          state.getCurrentWatermarkMs() + 1))
      }
      closed.result().iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Micro-batch sources often deliver a whole batch as ONE
    * partition (a MemoryStream block, a single-partition Kafka
    * topic) — every per-row kernel downstream of it would then run
    * single-threaded no matter how many cores the cluster has
    * (measured: the D16 map ladder at 18.4 of a 25.1 s arrival,
    * zero shuffle bytes — serial). One O(batch)-byte round-robin
    * shuffle buys full parallelism; a source that already delivers
    * ≥ the cluster's parallelism skips it. Applied at the TOP of
    * each gate's foreachBatch body, so all per-row work (scrub,
    * scoring kernels, shingle/minhash signatures) sits downstream
    * of the spread. */
  private def spread(batch: DataFrame): DataFrame = {
    val par = batch.sparkSession.sparkContext.defaultParallelism
    if (batch.rdd.getNumPartitions < par) batch.repartition(par) else batch
  }

  /** Runs one foreachBatch body, then unpersists exactly the RDDs
    * the body itself pinned. The ingest sinks pin batch-scoped
    * frames with eager localCheckpoints (the score ladder, the
    * gate's signature tables, the survivor ids); those
    * MEMORY_AND_DISK blocks are otherwise freed only when a DRIVER
    * GC lets the ContextCleaner reap the dead RDD handles — on a
    * long run the dead blocks accumulate on disk faster than any
    * natural driver GC (measured: 73 GB of block-manager files in
    * ~50 min at sf10, ENOSPC — SURVEY §6 r14/r15). Explicit
    * end-of-batch unpersist makes the sinks' disk high-water mark
    * O(one batch) by construction, independent of any GC/periodicGC
    * tuning.
    *
    * OWNERSHIP IS RECORDED, NOT INFERRED (round 17): every
    * sink-path eager checkpoint goes through
    * `operators.Pins.checkpoint`, which registers the pinned RDD
    * with this body's thread-local collector, and the reap below
    * unpersists exactly that list. The r14-r16 global
    * `getPersistentRDDs` before/after diff was unsound under
    * concurrent streaming queries — sink A's diff caught sink B's
    * in-flight pins and reaped them, hard-failing B on a truncated
    * lineage (measured: the r17 two-sink probe died on arrival pair
    * 4 with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), and the r16
    * active-query-count guard never engaged because foreachBatch
    * hands the sink a per-query cloned session whose
    * StreamingQueryManager does not see sibling queries. With
    * recorded ownership there is no skip and no degraded mode:
    * any number of sinks can share a session, each reaping only its
    * own pins; pre-existing pins (frozen model tables) are
    * untouched by construction. Safe because every pinned frame is
    * batch-scoped: the signature store and corpus are re-read from
    * their parquet roots each arrival, so no checkpointed RDD
    * outlives its batch's last action (all of which complete inside
    * `body`). Reaped RDD ids are logged under GRAFT_SINK_PROFILE.
    * StreamingSpec pins pre-existing-pin survival, batch-pin
    * reaping, and two-sink sibling-pin survival.
    *
    * The collector also reaps `Pins.persist` entries — the lazy
    * MEMORY_AND_DISK caches a DEMOTED oversized arrival's signature
    * tables register (Incremental.gate; measured 1.74× the
    * per-arrival wall without them, records/demotedprobe_r17.json) — so a
    * demoted arrival costs one cache population instead of a
    * pipeline re-run per consuming action, and the cache dies with
    * its batch. */
  private[graft] def unpersistBatchPins[T](body: => T): T = {
    val pins = graft.operators.Pins.start()
    try body
    finally {
      graft.operators.Pins.stop()
      graft.operators.Pins.reap(pins,
        msg => if (SinkProfile.enabled) System.err.println(s"[sink] $msg"))
    }
  }

  /** The input columns of `docs` that `text` reads, as the analyzer
    * resolves them — case rules, backticked names and computed
    * expressions alike (`lower(col("body"))` reads `body`,
    * `concat(title, body)` both) — less `scrubbed`, which D16's own
    * scrub output replaces. D16 drops them once `scrubbed` exists.
    * Refuses a `text` that reads `idName` or `partCol`: both land in
    * the corpus, so dropping them is not an option and keeping them
    * would land raw text. Read once, at sink construction. */
  private def textSourceColumns(docs: DataFrame, text: Column, idName: String,
                                partCol: String): Seq[String] = {
    val Seq(reads, id, part) = docs.select(text, col(idName), col(partCol))
      .queryExecution.analyzed.expressions.map(_.references)
    val landing = reads.intersect(id ++ part)
    require(landing.isEmpty, s"ingestPipelineSink: text ($text) reads " +
      s"${landing.map(_.name).mkString(", ")}, which lands in the corpus as the id " +
      "or partition column; the raw text it carries would land unscrubbed")
    val resolver = docs.sparkSession.sessionState.conf.resolver
    docs.queryExecution.analyzed.output.filter(reads.contains).map(_.name)
      .filterNot(resolver(_, "scrubbed"))
  }

  /** D7: in-flight LLM-data gate — the streaming twin of C9 (quality
    * scoring) and C13 (PII scrub). `Quality.scored`/`Quality.scrubbed`
    * are pure map-side codegen projections, so the SAME code path the
    * batch queries run applies to a streaming DataFrame unchanged: no
    * state, no watermark, no shuffle — it composes in front of any
    * sink here (e.g. the D6 upsert sink) and never buffers or
    * reorders rows. Docs scoring below `minScore` are dropped and PII
    * is scrubbed from the survivors — the filter a training-data
    * pipeline runs BEFORE landing data, rather than as a weekly batch
    * sweep. StreamingSpec pins row-identity with the batch operators
    * on the same input. */
  def qualityGate(docs: DataFrame, text: Column, minScore: Double = 0.0): DataFrame =
    graft.operators.Quality.scrubbed(graft.operators.Quality.scored(docs, text), text)
      .filter(col("quality_score") >= minScore)

  /** D8: streaming mergeable-sketch dashboard — the streaming twin of
    * C23's HLL distinct counts. Per (tumbling window, group) the HLL
    * sketch of `key` is aggregated and emitted ALONGSIDE its
    * estimate: the sketch bytes are the product, not just the number
    * — closed-window sketches land in a store and roll up by UNION
    * (day ← hours, fleet ← hosts, corpus ← days) without re-reading
    * any event, exactly the batch dashboard's mergeable contract made
    * continuous (StreamingSpec pins stream sketch bytes ≡ batch
    * sketch bytes on the same rows, and unions them).
    *
    * Scale: the sketch partial-aggregates MAP-SIDE in fixed memory
    * (lgK-bounded), the only shuffle is the (window, group) key, and
    * streaming state per open window is one sketch blob per group —
    * never the raw keyset. Watermark semantics are D1's: late rows
    * beyond `watermark` drop, closed windows emit once (Append). */
  def sketchCounts(events: DataFrame, group: Column, key: Column,
                   watermark: String = "2 hours", lgK: Int = 12): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), group.as("grp"))
      .agg(hll_sketch_agg(key, lit(lgK)).as("sketch"))
      .select(col("window.start").as("hour"), col("grp"), col("sketch"),
        hll_sketch_estimate(col("sketch")).as("n_distinct"))

  /** D9: streaming decontamination gate — the streaming twin of C19.
    * Each micro-batch of incoming docs is checked against a FIXED
    * eval-gram set (benchmarks change rarely; pass the precomputed,
    * persisted `Contamination.evalGramSet` so eval text is shingled
    * once, not per arrival) and only docs sharing ≤ `maxShared`
    * distinct n-grams with the eval set land — decontamination
    * BEFORE data reaches the corpus, rather than a full-corpus sweep
    * after.
    *
    * One code path with batch: the gate calls the same
    * `Contamination.sharedGramsVs` the C19/C29 queries run, once per
    * micro-batch (the D6 pattern) — the per-doc shared-gram count
    * is a batch aggregation, which Append-mode streaming can't
    * express row-locally. Survivors land through `landFiltered`
    * (the replay argument is there).
    *
    * Scale: the eval side is benchmark-sized → its (cached) gram set
    * broadcasts under AQE; each micro-batch's cost is O(batch grams),
    * independent of corpus size — the store is never rescanned. */
  def decontaminationSink(docs: DataFrame, evalGrams: DataFrame, idName: String,
                          text: Column, n: Int, maxShared: Long,
                          path: String, partCol: String, checkpoint: String)
    : StreamingQuery =
    landFiltered(docs, checkpoint, path, partCol) { b =>
      val shared = graft.operators.Contamination
        .sharedGramsVs(b, evalGrams, col(idName), text, n)
      b.join(
        shared.filter(col("shared_grams") > maxShared)
          .select(col("id").as(idName)),
        Seq(idName), "left_anti")
    }

  /** D11: streaming train/val split router — C17's deterministic
    * md5-threshold split applied in-flight, writing a PARTITIONED
    * corpus through Spark's native streaming file sink. Membership is
    * a pure function of the key (one code path with
    * `Sampling.trainValSplit`), so a row routes identically in batch
    * and stream, across replays, and across engines; the native file
    * sink's manifest log gives exactly-once file commits without any
    * foreachBatch (contrast D6's keyed merge and the D9/D10 gates,
    * whose per-batch work is relational). Downstream readers
    * get `split=train/` / `split=val/` partition pruning for free.
    * Stateless: no watermark, no state store, nothing buffered. */
  def splitSink(docs: DataFrame, keyName: String, valFraction: Double,
                path: String, checkpoint: String)
    : StreamingQuery =
    graft.operators.Sampling.trainValSplit(docs, col(keyName), valFraction)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .partitionBy("split")
      .format("parquet")
      .option("path", path)
      .start()

  /** D12: in-flight LM-perplexity gate — the streaming twin of C28's
    * CCNet-style quality filter. Each micro-batch is scored with the
    * SAME kernel the batch query runs, against a FROZEN model (train
    * it offline on a presumed-clean corpus; the trigram table is
    * charset-bounded, so the task-shipped kernel map costs the same
    * at any corpus size), and docs whose average negative log-prob
    * exceeds `maxScore` never land (`LangModel.keep`). This is the
    * gate that catches junk C9's structural heuristics cannot:
    * encoding garbage and wrong-language text LOOK structurally
    * fine. The verdict is a map-side kernel column, so the gate
    * itself is a stateless filter — no per-batch score/semi-join
    * shuffle — and the per-batch step remains only for the
    * exactly-once corpus landing (`landFiltered`, which holds the
    * replay argument). */
  def perplexityGateSink(docs: DataFrame, idName: String, text: Column,
                         model: graft.operators.LangModel.Model, maxScore: Double,
                         path: String, partCol: String, checkpoint: String)
    : StreamingQuery =
    landFiltered(docs, checkpoint, path, partCol)(_.filter(
      graft.operators.LangModel.keep(text, model, maxScore)))

  /** D13: in-flight DSIR relevance gate — the streaming twin of
    * C46's importance weighting. Each micro-batch is scored with the
    * SAME kernel as `Dsir.score`, against a FROZEN log-ratio model
    * (train offline: target = the domain you want, raw = a reference
    * crawl; the λ array is 16^prefixLen longs, so the task-shipped
    * model costs the same at any corpus size), and docs whose
    * log(p_target/p_raw) falls below `minLogw` never land
    * (`Dsir.keep`) — the ingest-time form of "only keep crawl that
    * looks like the target domain". Where D12 rejects junk ANY
    * corpus would refuse, D13 STEERS the mixture toward a chosen
    * target distribution. Same map-side filter as D12, landed through
    * `landFiltered`. */
  def dsirGateSink(docs: DataFrame, idName: String, text: Column,
                   model: graft.operators.Dsir.Model, minLogw: Double,
                   path: String, partCol: String, checkpoint: String)
    : StreamingQuery =
    landFiltered(docs, checkpoint, path, partCol)(_.filter(
      graft.operators.Dsir.keep(text, model, minLogw)))

  /** D15: in-flight TRAINED-classifier gate (twin of C52) — the last
    * rung of the streaming quality ladder: D7 applies rule gates,
    * D12 an LM-perplexity cutoff, D13 a DSIR domain steer, and this
    * one the supervised keep/drop verdict of a frozen
    * `Classifier.Model` (train offline on labeled seeds; the
    * vocab-sized log-odds map ships identically at any corpus size).
    * Docs with `logodds <= cutoff` never land (`Classifier.keep`).
    * Same map-side filter as D12/D13, landed through `landFiltered`. */
  def classifierGateSink(docs: DataFrame, idName: String, text: Column,
                         model: graft.operators.Classifier.Model, cutoff: Double,
                         path: String, partCol: String, checkpoint: String)
    : StreamingQuery =
    landFiltered(docs, checkpoint, path, partCol)(_.filter(
      graft.operators.Classifier.keep(text, model, cutoff)))

  /** D10: continuous near-dup ingest gate — the streaming form of
    * C34. Each micro-batch is gated through the SAME
    * `Incremental.gate` the batch operator runs (banded minhash
    * candidates + exact Jaccard, drop iff any seen doc or smaller-id
    * batch-mate matches); survivors land in the corpus as one
    * `batch=<id>` dir and the batch's signatures are appended to a
    * persistent store so the next arrival gates against everything
    * ever seen. The whole step is `nearDupLanding` (shared with D16;
    * the replay argument is there): replays converge, and
    * re-ingesting an already-seen doc id is a no-op forever —
    * idempotent ingest.
    *
    * Store layout: `storePath/{bands,sets}/batch=<batchId>/` — one
    * immutable directory per micro-batch, written with Overwrite into
    * the DETERMINISTIC batchId path, so a replay overwrites its own
    * files instead of duplicating them. Growth is append-only (no
    * O(store) rewrite per arrival — the C34 scaling contract);
    * reading is one parquet scan of the root. Every reader and writer
    * of the store signs with `MinHash`'s one signature shape (a store
    * of another shape has band keys and set hashes no gate could
    * match): `nearDupStore`, `nearDupStoreSeed` and D16 share the
    * store D10 writes.
    *
    * Scale: per arrival the gate joins batch-sized signatures against
    * the store's band table (equi-join on the band key; the batch
    * side is small so it broadcasts), and only the batch's own
    * signatures are written. The store is never rewritten, never
    * rescanned whole per doc — O(batch) work per arrival. */
  def nearDupGateSink(docs: DataFrame, idName: String, text: Column,
                      storePath: String, outPath: String, partCol: String,
                      checkpoint: String, threshold: Double = 0.5): StreamingQuery = {
    // session-level setup for the store probes (documented conf
    // raise, made once and visibly at sink construction — see
    // Indexed.configureSession)
    graft.sources.Indexed.configureSession(docs.sparkSession)
    batchSink(docs, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) unpersistBatchPins {
        nearDupLanding(spread(batch), idName, text, threshold,
          storePath, outPath, partCol, batchId, s"d10 sink b=$batchId")
      }
    }
  }

  /** The one sink prelude: Update mode, the query's checkpoint, and
    * `body` once per micro-batch. */
  private def batchSink(docs: DataFrame, checkpoint: String)
                       (body: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** The filter-gate landing of D9, D12, D13 and D15: `survivors` maps
    * the spread micro-batch to the docs that pass the gate, and they
    * land via `appendBatchWrite`.
    *
    * The landing contract, for every corpus-writing gate here (D10
    * and D16 land through `nearDupLanding` under the same rules):
    *  - a batch that is empty, or whose gate keeps nothing, writes
    *    nothing — no `batch=<id>` dir;
    *  - survivors land in the batch's OWN `batch=<id>` dir with
    *    Overwrite, so a micro-batch REPLAYED after recovery
    *    overwrites its own files instead of duplicating them. Every
    *    gate is a pure function of the batch and its frozen inputs,
    *    so the replay lands the same rows: exactly-once EFFECTIVE,
    *    O(batch) per arrival regardless of corpus size;
    *  - a gate that also records state (the near-dup signature store)
    *    writes it only AFTER the corpus (see `nearDupLanding`). */
  private def landFiltered(docs: DataFrame, checkpoint: String, path: String,
                           partCol: String)
                          (survivors: DataFrame => DataFrame): StreamingQuery =
    batchSink(docs, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val kept = survivors(spread(batch))
        if (!kept.isEmpty) appendBatchWrite(kept, batchId, path, partCol)
      }
    }

  /** The near-dup landing step of D10 and D16: gates `gated` against
    * the signature store at `storePath`, lands the survivors in
    * `outPath` via `appendBatchWrite`, then appends the signatures of
    * ALL of `gated` (not just the survivors) to the store. `label`
    * tags the step's GRAFT_SINK_PROFILE sections.
    *
    * Replay — `landFiltered`'s landing contract, extended to the
    * store. If a batch replays AFTER its signatures were stored,
    * every batch doc self-matches (Jaccard 1.0 with its own stored
    * signature — the gate has no self-exclusion, deliberately), the
    * survivors are empty and nothing lands. If it replays BEFORE,
    * the gate recomputes the same survivors and overwrites the
    * batch's own corpus dir with identical rows. Either interleaving
    * converges to the same corpus and store.
    *
    * The stored signatures are collapsed to one representative per
    * distinct signature, plus the empty-set rows; the gate holds that
    * on both the micro path and a demoted oversized arrival, so the
    * store never accumulates duplicate signatures. */
  private def nearDupLanding(gated: DataFrame, idName: String, text: Column,
                             threshold: Double, storePath: String, outPath: String,
                             partCol: String, batchId: Long, label: String): Unit = {
    val spark = gated.sparkSession
    def st[T](name: String)(body: => T): T =
      SinkProfile.section(spark.sparkContext, label, name)(body)
    val (storeBands, storeSets, pb, ps) = gateStore(spark, storePath, gated, idName, text)
    val dem0 = graft.operators.Incremental.demotions.sum()
    val (ids0, bBands, bSets) = st("gate construct") {
      graft.operators.Incremental.gate(
        storeBands, storeSets, gated, col(idName), text, threshold,
        prunedBands = pb, prunedSets = ps)
    }
    // an oversized arrival demoting to the declarative shape is a
    // plan change worth a metrics row, not just stderr (the collapse
    // itself survives demotion — the store stays clean)
    if (SinkProfile.enabled && graft.operators.Incremental.demotions.sum() > dem0)
      SinkProfile.record("gate demoted", 1.0)
    // materialize the survivor ID list once (batch-sized longs):
    // without this pin the gate's verify joins re-ran for BOTH the
    // emptiness probe and the corpus write — measured ~2 s of
    // duplicated work per 50k-doc arrival. The pin's stored count is
    // the emptiness test (no job)
    val ids = st("surv ids") { graft.operators.Pins.checkpoint(ids0) }
    if (graft.operators.Pins.count(ids) > 0)
      st("corpus write") {
        appendBatchWrite(
          gated.join(ids.withColumnRenamed("id", idName), Seq(idName), "left_semi"),
          batchId, outPath, partCol)
      }
    st("sig writes") {
      writeSignatures(bBands, bSets, storePath, batchId, graft.operators.Pins.count(gated))
    }
  }

  private type Pruner = Option[Seq[Any] => Option[DataFrame]]

  /** The D10 store as `Incremental.gate` consumes it: (bands, sets)
    * as `nearDupStore` reads them, plus the point-lookup pruners
    * (Indexed sidecars): given the arriving batch's band keys /
    * candidate ids, a pruned read of the store — or None (fall back
    * to the scan plan) when the store predates the indexed layout or
    * too many keys survive the bloom. Bit-identical either way; see
    * `graft.sources.Indexed`. Every read carries the store's known
    * schema, so none of them runs a schema-inference job. */
  private def gateStore(spark: SparkSession, storePath: String, proto: DataFrame,
                        idName: String, text: Column)
    : (DataFrame, DataFrame, Pruner, Pruner) = {
    val (eb, es) = emptySignatures(proto, idName, text)
    val (storeBands, storeSets) = storeTables(spark, storePath, eb, es)
    (storeBands, storeSets,
      Some(keys => graft.sources.Indexed.prunedRead(spark, s"$storePath/bands", "bk", keys,
        schema = Some(eb.schema))),
      Some(keys => graft.sources.Indexed.prunedRead(spark, s"$storePath/sets", "id", keys,
        schema = Some(es.schema))))
  }

  /** Read-granule sizing: band rows are ~tens of bytes (2000-row
    * pages ≈ 90 KB), set rows carry whole shingle arrays (128-row
    * pages ≈ 64 KB) — both about one point-read I/O unit, and the
    * page row count is what multiplies every probe key's read. */
  private val BandPageRows = 2000
  private val SetPageRows = 128

  /** Append one batch's signature tables to the store in the indexed
    * layout: sorted file(s) per table plus the `_graft_idx` sidecar,
    * under the deterministic `batch=<id>` dirs (replays overwrite
    * their own files — the D10 contract). `nDocs` is the gated
    * batch's doc count: with the store's shape it upper-bounds both
    * tables' row counts. */
  private def writeSignatures(bBands: DataFrame, bSets: DataFrame,
                              storePath: String, batchId: Long, nDocs: Long): Unit = {
    // writeSmall: sorted file(s) + one read-back per table (the
    // batch tables are micro-batch-sized) — the distributed sidecar
    // jobs cost ~3 s/arrival of scheduling at small batches, which
    // would dominate the gate's floor. The row bounds (a doc has one
    // set row and at most Hashes/BandRows band rows — no job: a
    // sink's batch count is already known) let writeSmall go
    // parallel for LARGE arrivals instead of serializing the write
    // through one task; set rows carry whole shingle arrays, so their
    // per-file row budget is much smaller than the bands'.
    graft.sources.Indexed.writeSmall(bBands,
      s"$storePath/bands/batch=$batchId", "bk", pageRows = BandPageRows,
      nRows = graft.operators.Incremental.bandRowBound(nDocs),
      fileRows = 65536)
    graft.sources.Indexed.writeSmall(bSets,
      s"$storePath/sets/batch=$batchId", "id", pageRows = SetPageRows,
      nRows = nDocs, fileRows = 8192)
  }

  /** The D10 signature store as (bands, sets) — empty frames with the
    * right schema when nothing has been ingested yet (`proto` only
    * shapes the schema; it is never scanned for that). */
  def nearDupStore(spark: SparkSession, storePath: String, proto: DataFrame,
                   idName: String, text: Column): (DataFrame, DataFrame) = {
    val (eb, es) = emptySignatures(proto, idName, text)
    storeTables(spark, storePath, eb, es)
  }

  /** Seeds the signature store at `storePath` with the signatures of
    * ALL of `docs` (uncollapsed, like `Incremental.signatures`), so a
    * stream gates against them as already seen. They land through
    * the same indexed write as every arrival's, in one `batch=-1` dir:
    * a negative id, like a compaction's, can never collide with a
    * micro-batch's. Run it before the stream starts (the store has a
    * single writer); a second seed overwrites the first. */
  def nearDupStoreSeed(docs: DataFrame, idName: String, text: Column,
                       storePath: String): Unit = {
    val (bands, sets) = graft.operators.Incremental.signatures(docs, col(idName), text)
    writeSignatures(bands, sets, storePath, -1L, graft.operators.Pins.count(docs))
  }

  /** The store's signature tables of no docs: they carry its schemas. */
  private def emptySignatures(proto: DataFrame, idName: String, text: Column)
    : (DataFrame, DataFrame) =
    graft.operators.Incremental.signatures(proto.limit(0), col(idName), text)

  /** `nearDupStore` given the store's empty signature frames `eb`/`es`:
    * both roots read with those frames' schemas — a schema-less
    * `spark.read.parquet` runs a one-task inference job per read,
    * every arrival — or `eb`/`es` themselves for a cold store. */
  private def storeTables(spark: SparkSession, storePath: String,
                          eb: DataFrame, es: DataFrame): (DataFrame, DataFrame) = {
    val bandsRoot = new Path(storePath, "bands")
    val setsRoot = new Path(storePath, "sets")
    val fs = bandsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // BOTH roots must exist: a crash between the bands write and the
    // sets write would otherwise leave a store the stream can never
    // read again (bands present, sets missing) — a half-written batch
    // is treated as not written at all, and the replay re-creates
    // both dirs at the same deterministic path
    if (fs.exists(bandsRoot) && fs.exists(setsRoot))
      (spark.read.schema(eb.schema).parquet(s"$storePath/bands"),
        spark.read.schema(es.schema).parquet(s"$storePath/sets"))
    else (eb, es)
  }

  /** Configuration for the D16 composed ingest pipeline: each stage
    * is optional (None/false = skip); models are FROZEN by the same
    * contract as the standalone gates. Stages apply in the ladder
    * order cheap-to-expensive: quality rules → LM perplexity →
    * trained classifier → DSIR steer → decontamination → near-dup
    * gate — each stage shrinks the next stage's input, so the
    * expensive relational gates see only what the cheap rules kept.
    * `lm`/`clf`/`dsir` carry (model, cutoff); `decon` carries
    * (persisted eval-gram set, n, maxShared).
    *
    * The per-stage `*Text` transforms close a silent model/input
    * mismatch: a model trained on TRANSFORMED text (e.g.
    * `lower(text)` — the standalone gates let the caller pass that
    * column directly) must score the same transform of the scrubbed
    * text here, or every verdict quietly shifts. Each defaults to
    * identity; pass e.g. `lmText = lower` to match a
    * lowercase-trained LM. `deconText` must match how the eval-gram
    * set was built (C19's contract). */
  final case class IngestPipeline(
      minQuality: Double = 0.0,
      lm: Option[(graft.operators.LangModel.Model, Double)] = None,
      clf: Option[(graft.operators.Classifier.Model, Double)] = None,
      dsir: Option[(graft.operators.Dsir.Model, Double)] = None,
      decon: Option[(DataFrame, Int, Long)] = None,
      nearDup: Boolean = true,
      lmText: Column => Column = identity,
      clfText: Column => Column = identity,
      dsirText: Column => Column = identity,
      deconText: Column => Column = identity)

  /** D16: the COMPOSED streaming ingest pipeline — the streaming twin
    * of C21's batch pipeline and the form a production crawl ingest
    * actually runs: ONE stream, ONE checkpoint, ONE corpus, with the
    * whole gate ladder applied in one micro-batch step. Running
    * the five standalone gate sinks instead would read the source
    * five times, keep five checkpoints, and land five corpora that
    * then need re-joining.
    *
    * Semantics are EXACTLY the standalone gates', composed: D7
    * quality+scrub runs FIRST, inside the batch body just after the
    * parallelism spread (so every later stage and the landed corpus
    * see the scrubbed text and carry the quality columns — the RAW
    * text column is dropped right there, so unscrubbed PII reaches
    * neither a model nor the corpus), then the LM, classifier, and
    * DSIR verdicts — D12's, D15's and D13's own `keep` columns, so
    * the composition holds by construction (map-side kernel columns:
    * the three gates fold into ONE filter pass), the D9 anti-join
    * against the eval grams, and the D10 near-dup gate against the
    * persistent signature store — D10's own step, `nearDupLanding`,
    * whose replay argument the whole ladder inherits (every stage is
    * a pure function of batch + frozen models + store). With
    * `nearDup = false` the score-gated docs land directly via
    * `appendBatchWrite`.
    *
    * Scale: every stage is O(batch) — the models broadcast, the eval
    * side is benchmark-sized, the store join is banded — and the one
    * localCheckpoint pins the batch-sized survivor set so the later
    * stages' actions don't recompute the earlier joins.
    *
    * The raw-text drop: every input column `text` reads (see
    * `textSourceColumns`) is dropped once `scrubbed` exists, so a
    * computed `lower(col("body"))` drops `body` with no extra
    * argument; a `text` reading `idName` or `partCol` is refused at
    * construction. */
  def ingestPipelineSink(docs: DataFrame, idName: String, text: Column,
                         cfg: IngestPipeline, storePath: String, outPath: String,
                         partCol: String, checkpoint: String): StreamingQuery = {
    // downstream stages score the SCRUBBED text — the pipeline
    // contract: PII never reaches a model or the corpus
    val scrubbedText = col("scrubbed")
    val raws = textSourceColumns(docs, text, idName, partCol)
    // session-level setup for the D10 store probes (see
    // Indexed.configureSession — visible, once, at construction)
    if (cfg.nearDup) graft.sources.Indexed.configureSession(docs.sparkSession)
    batchSink(docs, checkpoint) { (batch, batchId) =>
      unpersistBatchPins {
        // GRAFT_SINK_PROFILE=1: per-section timers and job counts (dev only)
        val label = s"d16 sink b=$batchId"
        def st[T](name: String)(body: => T): T =
          SinkProfile.section(batch.sparkSession.sparkContext, label, name)(body)
        // quality+scrub applies INSIDE the body, downstream of the
        // spread — the whole per-row ladder parallelizes even when
        // the source delivers the batch as one partition. The PIN
        // after it is load-bearing: predicate pushdown would
        // otherwise substitute the scrub-regex alias into EVERY
        // kernel filter, re-running the scrub once per stage
        // (measured 8.98 → 3.87 s for the 50k-doc map ladder)
        var surv = st("quality+scrub") {
          val gated = qualityGate(spread(batch), text, cfg.minQuality)
          // the pipeline contract: PII never reaches a model OR the
          // corpus — once `scrubbed` exists, the raw text column(s)
          // are dropped. Also roughly halves the bytes this
          // checkpoint and the landed corpus carry.
          val noRaw = gated.drop(raws: _*)
          graft.operators.Pins.checkpoint(noRaw) }
        // the batch-emptiness test is the quality pin's stored count
        // (no job): an empty batch, or one the quality rules drop
        // whole, has nothing to gate, land or sign
        if (graft.operators.Pins.count(surv) > 0) {
          // the three model verdicts are map-side kernel columns, so
          // the whole score ladder is ONE conjunctive filter over one
          // pass of the batch — no per-stage score/semi-join shuffles.
          // && short-circuits left-to-right, preserving the cheap-to-
          // expensive ladder order per row
          cfg.lm.foreach { case (m, maxScore) =>
            surv = surv.filter(
              graft.operators.LangModel.keep(cfg.lmText(scrubbedText), m, maxScore)) }
          cfg.clf.foreach { case (m, cutoff) =>
            surv = surv.filter(
              graft.operators.Classifier.keep(cfg.clfText(scrubbedText), m, cutoff)) }
          cfg.dsir.foreach { case (m, minLogw) =>
            surv = surv.filter(
              graft.operators.Dsir.keep(cfg.dsirText(scrubbedText), m, minLogw)) }
          cfg.decon.foreach { case (evalGrams, n, maxShared) =>
            // both sides of the anti-join read `surv` — fine: its
            // upstream past the quality pin is only the three cheap
            // kernel filters (measured 0.17 s at 50k docs)
            surv = surv.join(
              graft.operators.Contamination
                .sharedGramsVs(surv, evalGrams, col(idName),
                  cfg.deconText(scrubbedText), n)
                .filter(col("shared_grams") > maxShared)
                .select(col("id").as(idName)),
              Seq(idName), "left_anti") }
          // pin the survivor set once: the near-dup gate and the
          // two writes below each run actions over it
          val pinned = st("score ladder") { graft.operators.Pins.checkpoint(surv) }
          if (cfg.nearDup)
            nearDupLanding(pinned, idName, scrubbedText, threshold = 0.5,
              storePath, outPath, partCol, batchId, label)
          else if (graft.operators.Pins.count(pinned) > 0)
            appendBatchWrite(pinned, batchId, outPath, partCol)
        }
      }
    }
  }

  /** Exactly-once APPEND write for streaming ingest corpora: each
    * micro-batch lands in its own immutable `batch=<batchId>`
    * directory (partitioned by `partCol` inside), written with
    * Overwrite into the DETERMINISTIC batchId path, so a micro-batch
    * REPLAY overwrites its own files instead of duplicating them —
    * the D10 signature-store contract applied to the corpus itself
    * (the gates' full replay argument is on `landFiltered`).
    *
    * Why not the keyed merge the gates used before: per micro-batch,
    * `Upsert.mergeWritePartitioned` re-reads and re-writes every
    * affected partition of the EXISTING corpus, and since every batch
    * carries every `partCol` value, that is O(corpus) read+write per
    * arrival — StreamBench measured the merge dominating every
    * gate's per-batch floor, and the floor GROWS as the corpus does.
    * This write is O(batch) bytes regardless of corpus size. The
    * trade: ingest gates assume upstream assigns each doc a unique
    * id (their job is DROPPING rows, not updating them); a keyed
    * keep-latest corpus remains D6 `upsertSink`'s contract.
    *
    * Readers scan the root (`batch` and `partCol` are partition
    * columns; `partCol` pruning still applies); `ingestCorpusCompact`
    * bounds the directory count, exactly like the D10 store's
    * compaction. */
  def appendBatchWrite(batch: DataFrame, batchId: Long,
                       path: String, partCol: String): Unit =
    batch.write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(s"$path/batch=$batchId")

  /** Ingest-corpus compaction — `nearDupStoreCompact`'s hygiene pass
    * for the `appendBatchWrite` layout: consolidates every
    * `batch=<id>` dir with id < `watermark` into ONE
    * `batch=<negative>` dir (still partitioned by `partCol`, ≈
    * totalBytes/`targetBytes` files per value), then deletes the
    * sources. Same replay-safety argument as the store compaction:
    * consolidated ids are strictly decreasing negatives no
    * micro-batch id collides with; pick `watermark` ≤ the newest
    * batch id so only checkpoint-uncommitted batches stay
    * replayable; the consolidated dir is fully written BEFORE any
    * source is deleted.
    *
    * Unlike the signature store (where a duplicated closed batch
    * only costs extra self-matches), corpus duplicates change what
    * readers SEE — so the crash window between "consolidated dir
    * written" and "sources deleted" must CONVERGE, not compound: the
    * consolidated dir carries a `_SOURCES` completion marker (an
    * underscore file — invisible to parquet readers) naming the dirs
    * it covers, and every run first finishes any marker's recorded
    * deletions before planning. A crash mid-delete therefore
    * duplicates rows only until the next compaction run; the
    * remaining unmarked window is the single marker-file create.
    * Returns (dirsBefore, dirsAfter). */
  def ingestCorpusCompact(spark: SparkSession, path: String, partCol: String,
                          watermark: Long, targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0, s"ingestCorpusCompact: targetBytes must be > 0, got $targetBytes")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (0, 0)
    // crash convergence: a prior run that wrote its consolidated dir
    // and marker but died mid-delete leaves sources the marker names
    // — finish those deletions FIRST, so the duplicates converge
    // instead of being re-consolidated (idempotent: already-deleted
    // names no-op)
    batchDirs(fs, root).filter(_._1 < 0).foreach { case (_, p) =>
      val m = new Path(p, CompactSourcesMarker)
      if (fs.exists(m)) {
        val in = fs.open(m)
        val names =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        names.foreach { nm =>
          val sp = new Path(root, nm)
          if (fs.exists(sp)) fs.delete(sp, true)
        }
      }
    }
    val parts = batchDirs(fs, root)
    val closed = parts.filter(_._1 < watermark)
    if (closed.size <= 1) return (parts.size, parts.size)
    val bytes = closed.map { case (_, p) => fs.getContentSummary(p).getLength }.sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val nextId = math.min(0L, parts.map(_._1).min) - 1
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferPrev = spark.conf.get(inferKey)
    val consolidated = try {
      spark.conf.set(inferKey, "false") // partCol dir values verbatim
      spark.read.option("basePath", path).parquet(closed.map(_._2.toString): _*)
        .drop("batch")
        .coalesce(nFiles)
    } finally spark.conf.set(inferKey, inferPrev)
    val outDir = new Path(root, s"batch=$nextId")
    consolidated.write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(outDir.toString)
    // completion marker BEFORE any delete: names the covered sources
    // so a crash mid-delete is finished by the next run (above)
    val marker = fs.create(new Path(outDir, CompactSourcesMarker), true)
    try marker.write(
      closed.map(_._2.getName).mkString("\n").getBytes("UTF-8"))
    finally marker.close()
    closed.foreach { case (_, p) => fs.delete(p, true) }
    (parts.size, parts.size - closed.size + 1)
  }

  /** See `ingestCorpusCompact`: the consolidated-dir completion
    * marker naming the source dirs it covers. */
  private val CompactSourcesMarker = "_SOURCES"

  /** The `batch=<id>` dirs directly under `root`, with their ids —
    * the layout both compactions consolidate (other names are
    * skipped). */
  private def batchDirs(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch="))
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption.map((_, st.getPath))
      else None
    }

  /** Signature-store compaction — the lifecycle pass the append-only
    * D10 store needs (reference parity: the weekly cleanup DAG,
    * pasta-pipeline `dags/processors/duplicate_remover.py:199`, is the
    * same hygiene job). `nearDupGateSink` writes one `batch=<id>` dir
    * per micro-batch; at one dir per arrival a continuously-ingesting
    * store accumulates unbounded small files and directories — the
    * operational killer at scale. This consolidates every batch dir
    * with id < `watermark` (per root, bands and sets independently)
    * into ONE `batch=<negative>` dir of ≈ totalBytes/`targetBytes`
    * files, then deletes the sources.
    *
    * The replay contract survives:
    *  - consolidated dirs get strictly DECREASING NEGATIVE ids (-1,
    *    then -2, ...), which no micro-batch id can ever collide with,
    *    so a replaying batch ≥ watermark still overwrites exactly its
    *    own `batch=<id>` path;
    *  - pick `watermark` ≤ the newest batch id: only the newest
    *    micro-batch can replay after a crash (older ones are committed
    *    in the streaming checkpoint), so everything below it is
    *    closed;
    *  - crash-safety by ORDER, not atomicity: the consolidated dir is
    *    fully written BEFORE any source is deleted, and the gate's
    *    match rule is existence-based — a crash between the two steps
    *    leaves duplicate signatures, which change no gate decision,
    *    and the next compaction run absorbs them (a previous
    *    consolidated dir is itself below any future watermark).
    *    Run it between arrivals (the store's single-writer contract).
    *
    * No-ops per root when fewer than two dirs are below the watermark.
    * Returns (dirsBefore, dirsAfter) summed over both roots. */
  def nearDupStoreCompact(spark: SparkSession, storePath: String, watermark: Long,
                          targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0, s"nearDupStoreCompact: targetBytes must be > 0, got $targetBytes")
    def one(rootStr: String, keyCol: String): (Int, Int) = {
      val root = new Path(rootStr)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) return (0, 0)
      val parts = batchDirs(fs, root)
      val closed = parts.filter(_._1 < watermark)
      if (closed.size <= 1) return (parts.size, parts.size)
      val bytes = closed.map { case (_, p) => fs.getContentSummary(p).getLength }.sum
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      val nextId = math.min(0L, parts.map(_._1).min) - 1
      // reading the leaf dirs directly drops the batch partition
      // column — correct: the consolidated rows' batch is the new
      // dir's name, like every other store row's. The consolidated
      // dir is written in the Indexed point-lookup layout (globally
      // key-clustered files + sidecar): compaction is where the
      // store's range shuffle is paid, once, amortized over every
      // arrival it serves — per-arrival probes then read only the
      // granules holding the batch's keys (graft.sources.Indexed).
      graft.sources.Indexed.write(
        spark.read.parquet(closed.map(_._2.toString): _*),
        new Path(root, s"batch=$nextId").toString,
        keyCol, nFiles,
        pageRows = if (keyCol == "id") SetPageRows else BandPageRows)
      closed.foreach { case (_, p) => fs.delete(p, true) }
      (parts.size, parts.size - closed.size + 1)
    }
    val b = one(s"$storePath/bands", "bk")
    val s = one(s"$storePath/sets", "id")
    (b._1 + s._1, b._2 + s._2)
  }

  /** D6: continuous keyed upsert sink — the streaming form of the
    * reference's batched `ON CONFLICT DO UPDATE` loader
    * (db_loader.py:117-181): each micro-batch keep-latest-merges into
    * a partitioned parquet table via `Upsert.mergeWritePartitioned`
    * (O(batch) partition-scoped rewrite, crash-safe swaps).
    *
    * Exactly-once EFFECTIVE semantics without a transactional sink:
    * foreachBatch may REPLAY a micro-batch after recovery, and the
    * keyed keep-latest merge is IDEMPOTENT (re-merging rows already
    * in the table changes nothing), so replays are absorbed —
    * idempotent-write exactly-once, the documented pattern for
    * non-transactional stores. Returns the started query. */
  def upsertSink(stream: DataFrame, keys: Seq[String], version: Seq[String],
                 path: String, partCol: String, checkpoint: String)
    : StreamingQuery =
    batchSink(stream, checkpoint) { (batch, _) =>
      if (!batch.isEmpty)
        graft.operators.Upsert.mergeWritePartitioned(
          batch, keys, version.map(col), path, partCol)
    }
}

/** Event time as microseconds (the state encoding of D2 and D5), and
  * back. An object of its own: the state functions that call these
  * ship to executors, and a method of `EventStream` would drag the
  * (unserializable) `EventStream` object along. */
private object EventMicros {
  def toMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000
  def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
