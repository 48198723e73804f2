package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression tests: the scale design of SURVEY §5 as
  * assertions, so a future change that un-broadcasts a dimension,
  * loses a pushed filter, or breaks exchange reuse fails CI instead
  * of surfacing as a 100 TB regression. Runs on sf0.001.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  private def finalPlan(q: String): String = {
    val df: DataFrame = SparkEntry.queries(q)(spark, dir)
    df.collect() // materialize so AQE finalizes the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  test("b3 star join: all five dimensions broadcast, no sort-merge join") {
    val p = plan("b3_region_revenue")
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5, p)
    // region filter is pushed into its parquet scan
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("b1 scan: filter pushed down and columns pruned") {
    val p = plan("b1_pricing_summary")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"), p)
    // projection pruning: untouched lineitem columns never read
    assert(!p.contains("l_partkey") && !p.contains("l_comment"), p)
  }

  test("a5 anti-join broadcasts the processed-key side") {
    val p = plan("a5_link_selection")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("GreaterThan(c_acctbal,0.0)"), p)
  }

  test("c2 minhash: the shingle exchange is computed once and reused") {
    val p = finalPlan("c2_dedup_minhash")
    assert(p.contains("ReusedExchange"), p)
  }

  test("c3 simhash: shuffle-hash self-join reuses one fingerprint pipeline") {
    val p = finalPlan("c3_dedup_simhash")
    assert(p.contains("ShuffledHashJoin"), p) // broadcast would duplicate the pipeline
    assert(p.contains("ReusedExchange"), p)
  }

  test("b5 sessionize: exactly one hash exchange (the per-user one)") {
    val p = plan("b5_sessionize")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("b8 semi-join and b9 broadcast shapes") {
    val p8 = plan("b8_priority_semijoin")
    assert(p8.contains("LeftSemi"), p8)
    val p9 = plan("b9_small_qty_revenue")
    assert(p9.contains("BroadcastHashJoin"), p9)
    assert(!p9.contains("SortMergeJoin"), p9)
  }

  test("c5 bucketed pair dedup: no nested-loop or cartesian join anywhere") {
    val p = finalPlan("c5_dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b12/b13: time joins are window/equi plans, never nested loops") {
    val p12 = plan("b12_asof_join")
    assert(!p12.contains("Join"), p12) // pure union + window, no join at all
    assert(p12.contains("Window"), p12)
    val p13 = finalPlan("b13_interval_join")
    assert(!p13.contains("BroadcastNestedLoopJoin"), p13)
    assert(!p13.contains("CartesianProduct"), p13)
  }

  test("E9 co-bucketed tables join with zero exchanges on the bucket key") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.Sink.writeBucketed(
        (1L to 500L).map(i => (i, s"a$i")).toDF("k", "va"), "bkt_a", "k", 4)
      graft.sources.Sink.writeBucketed(
        (1L to 500L).map(i => (i, i * 2.0)).toDF("k", "vb"), "bkt_b", "k", 4)
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      assert(j.count() == 500)
      val p = j.queryExecution.executedPlan.toString
      // the §5 claim made checkable: co-located bucketed joins are
      // exchange-free — the shuffle happened once, at write time
      assert(!p.contains("Exchange"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a12/a14 event-time filters are pushed to the scan (stored domain)") {
    val p12 = plan("a12_retention")
    assert(p12.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), p12)
    val p14 = plan("a14_mode_incremental")
    assert(p14.contains("GreaterThanOrEqual(ts,"), p14)
    // and at sf0.01, whose events.ts is TIMESTAMP_NTZ: the stored-
    // domain cutoff is still pushed, and both scans read only the
    // columns their queries use
    import org.apache.spark.sql.functions.col
    val sf01 = "/root/testdata/sf0.01"
    val a17 = SparkEntry.queries("a17_reactions_agg")(spark, sf01)
      .queryExecution.executedPlan.toString
    assert(a17.contains("ReadSchema: struct<props:string>"), a17)
    val raw = Tables.loadEventsRaw(spark, sf01)
    val raw12 = raw.filter(col("ts") >= Tables.storedTsLit(raw, "ts", "2024-01-05 00:00:00"))
      .select(col("event_id")).queryExecution.executedPlan.toString
    assert(raw12.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"), raw12)
    assert(raw12.contains("ReadSchema: struct<event_id:bigint,ts:timestamp_ntz>"), raw12)
  }

  test("c29 decontamination keeps its bloom prefilter in the plan") {
    // regression guard: if the prefilter is dropped the query still
    // passes its oracle (results are identical by design) but the
    // 100 TB shuffle-reduction silently disappears
    val p = plan("c29_decontaminate_bloom")
    assert(p.contains("might_contain"), p)
  }

  test("c28 lm score runs the fused kernel: no explode, no join") {
    val p = plan("c28_lm_score")
    assert(p.contains("graft_lm_score"), p)
    // the one-row-per-trigram scoring shape must not come back: no
    // per-trigram explode, no model join, no per-doc aggregation —
    // the only post-scan operators are the projection and the output
    // sort (training is a separate model-sized job, not in this plan)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("b18 funnel: one user-key exchange feeds the fold, no join") {
    val p = plan("b18_funnel")
    assert(!p.contains("Join"), p)
    val userExchanges = "hashpartitioning\\(u".r.findAllIn(p).size
    assert(userExchanges >= 1, p)
  }

  test("c16 IVF: assignment is map-side (no Exchange); one hash exchange total") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = graft.operators.PQ.trainCoarse(
      e, col("vec_id"), col("embedding"), nCells = 8, iters = 1)
    // the index-assignment stage is a single projection over the scan
    val pa = graft.operators.Similarity.ivfAssign(
      e, col("vec_id"), col("embedding"), cents)
      .queryExecution.executedPlan.toString
    assert(!pa.contains("Exchange"), pa)
    assert(pa.contains("graft_pq_codes"), pa) // the native literal argmax
    // and the whole query's only hash exchange is the per-query rank —
    // the round-4 shape (crossJoin + groupBy argmax) shuffled the
    // corpus on vec_id per Lloyd iteration plus once for the index
    val p = plan("c16_ann_ivf")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c32/c34 span and gate dedup: equi-joins only, no nested loop or cartesian") {
    for (q <- Seq("c32_dup_spans", "c34_incremental_gate")) {
      val p = finalPlan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // c34's arrival is gated on the micro shape: the batch's band
    // table is broadcast once and reused by the store and the
    // within-batch candidate joins. Both live in the pinned candidate
    // table, whose plan is the one a `localCheckpoint` action reports
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "localCheckpoint") pinned.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      finalPlan("c34_incremental_gate")
      org.apache.spark.graft.Listeners.settle(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val cand = pinned.toArray(Array.empty[String]).filter(_.contains("oid"))
    assert(cand.length == 1, s"one pinned candidate table, got ${cand.length}")
    assert(cand.head.contains("ReusedExchange"), cand.head)
  }

  test("c33 stratified sample: broadcast quota join, one stratum window exchange") {
    // AQE prints Final + Initial sections; count nodes in Final only
    val p = finalPlan("c33_stratified_sample").split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"), p) // the quota side must broadcast
    val windows = "Window \\[row_number".r.findAllIn(p).size
    assert(windows == 1, s"expected one window, plan:\n$p")
    // the window's only input exchange is on the stratum key — never
    // a SinglePartition global sort
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("c40 mixture plan: the unpartitioned window reads ONLY the strata aggregate (r18)") {
    // c40's Σw window is deliberately unpartitioned — single-partition
    // is correct because its input is the strata AGGREGATE (dozens of
    // rows), never corpus rows. This pins the bound structurally: the
    // one Window node in the plan must sit directly above the strata
    // aggregation chain, with no corpus-sized operator between them
    // (a future edit feeding the window anything pre-aggregation
    // becomes a failing test, not a 100 TB single-partition sort).
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("c40_mixture_plan")(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }
    assert(wins.size == 1, s"expected exactly one Window:\n${df.queryExecution.optimizedPlan}")
    assert(wins.head.partitionSpec.isEmpty) // the documented shape
    // everything UNDER the window must include the strata Aggregate
    // before any leaf — i.e. the window consumes post-aggregation rows
    val aggsBelow = wins.head.child.collect { case a: logical.Aggregate => a }
    assert(aggsBelow.nonEmpty,
      s"window no longer reads the strata aggregate:\n${wins.head}")
  }

  test("c40's window is the only unpartitioned Window across all declared queries") {
    // The driver mains silence WindowExec's "No Partition Defined"
    // WARN for every window (GraftSession), so a new unbounded
    // single-partition window would run silently there. This sweep is
    // that signal instead: every declared plan (subqueries included)
    // is searched, and c40's proven-bounded Σw window (pinned above)
    // must be the one and only Window with an empty partition spec.
    import org.apache.spark.sql.catalyst.plans.logical
    val unpartitioned = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, build) =>
      build(spark, dir).queryExecution.optimizedPlan.collectWithSubqueries {
        case w: logical.Window if w.partitionSpec.isEmpty => q
      }
    }
    assert(unpartitioned == Seq("c40_mixture_plan"), unpartitioned)
  }

  test("c35/c36/c37 round-6 dedup ops: equi-joins only, no nested loop or cartesian") {
    for (q <- Seq("c35_span_rewrite", "c36_semdedup", "c37_fuzzy_decontaminate",
        "c38_cluster_keep_best")) {
      val p = finalPlan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // c35's kept-token selection must be the (id, pos) ANTI JOIN — the
    // per-doc array-mask alternative is quadratic on boilerplate-heavy
    // docs and must not come back
    assert(finalPlan("c35_span_rewrite").contains("LeftAnti"))
    // c36's cluster assignment is a map-side projection: no join
    // against a centroid table anywhere (the literal codebook is
    // inside the nearestCell expression) — at sf0.001 AQE broadcasts
    // the tiny pair-join sides, so join COUNT is the guard, not kind
    val p36 = finalPlan("c36_semdedup")
    val joins36 = "Join".r.findAllIn(p36).size
    assert(joins36 <= 4, s"c36 grew unexpected joins ($joins36):\n$p36")
  }

  test("b15/b20 re-aggregated rollup/cube: no Expand in the final plan") {
    for (q <- Seq("b15_rollup", "b20_cube")) {
      val p = finalPlan(q)
      assert(!p.contains("Expand"), s"$q must not Expand the corpus:\n$p")
    }
  }

  test("c30/c47 packing: windows are per-range-partition, never global") {
    for (q <- Seq("c30_shard_pack", "c47_pack_sequences")) {
      val p = plan(q)
      // a global-order window would show an empty partition spec:
      // "Window [...], [id ASC..." with SinglePartition exchange
      assert(!p.contains("SinglePartition"), s"$q:\n$p")
      assert(p.contains("pid"), s"$q:\n$p")
    }
  }

  test("c44/c45/c46 corpus gates: equi-joins only, no nested loop or cartesian") {
    for (q <- Seq("c44_gopher_filter", "c45_line_dedup", "c46_dsir_weights")) {
      val p = finalPlan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // corpus-side joins must hash, never sort the doc payloads (c46's
    // B-row model build legitimately full-outer-joins two tiny count
    // tables, so the sort ban scopes to the two corpus-join queries)
    for (q <- Seq("c44_gopher_filter", "c45_line_dedup"))
      assert(!finalPlan(q).contains("SortMergeJoin"), s"$q must hash-join, not sort")
    // c45's hot-line removal must stay the ANTI equi-join — a per-doc
    // membership array scan would be O(lines x hot) per doc
    assert(finalPlan("c45_line_dedup").contains("LeftAnti"))
    // c46's scoring runs the fused DSIR kernel: the corpus side
    // sees no model join, no per-feature explode, no per-doc
    // aggregation — one map-side pass (training's tiny bucket-table
    // jobs run eagerly before this plan, so they don't appear in it)
    val p46 = finalPlan("c46_dsir_weights")
    assert(p46.contains("graft_dsir_score"), p46)
    assert(!p46.contains("Join"), p46)
    assert(!p46.contains("Generate"), p46)
    assert(!p46.contains("HashAggregate"), p46)
  }

  test("c52 classifier scoring runs the fused kernel: no explode, no join") {
    val p = finalPlan("c52_quality_classifier")
    assert(p.contains("graft_nb_score"), p)
    // the one-row-per-token scoring shape must not come back: no
    // per-token explode, no model join, no per-doc aggregation —
    // the only post-scan operators are the projection and the output
    // sort (training is a separate vocab-sized job, not in this plan)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("c50/c53: native-kernel scans — no corpus join, no corpus sort-merge") {
    // c50: the only join is the tiny idx→eval_id broadcast; the
    // corpus side is a checkpointed kernel scan
    val p50 = finalPlan("c50_decontaminate_semantic")
    assert(!p50.contains("SortMergeJoin"), p50)
    assert(p50.contains("BroadcastHashJoin"), p50)
    // c53: pure map-side projection + ONE per-doc aggregation — any
    // join means the projection stopped being expression-only
    val p53 = finalPlan("c53_doc_embeddings").split("== Initial Plan ==")(0)
    assert(!p53.contains("Join"), p53)
    assert("Exchange hashpartitioning".r.findAllIn(p53).size <= 1, p53)
  }

  test("c48 url canonicalization: map-side, no join, one grouping exchange") {
    // the adaptive plan string repeats exchanges in its "Initial
    // Plan" echo — scope the count to the finalized section
    val p = finalPlan("c48_url_canonical").split("== Initial Plan ==")(0)
    // the canonical key is computed in the scan stage; grouping it is
    // the ONLY exchange besides the output sort — any join here means
    // the canonicalizer stopped being a pure expression
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("c49 per-benchmark decontamination: equi-join on the gram hash only") {
    val p = finalPlan("c49_decontaminate_attrib")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // corpus-sized gram join must hash, never sort corpus payloads
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("c4 jaccard: corpus-scale input builds the merged set table ONCE") {
    // the round-11 weak: the merge-side collect_set above the reused
    // partial-agg exchange re-executed at all four consumers (both
    // prefix sides + both verify joins) — 500k arrays rebuilt 4× at
    // sf10, flat 16→32-thread scaling. The fix pins this shape: one
    // repartition exchange (id-keyed at 2× the session count, so the
    // elision rule can never fold it into the aggregation's own
    // partitioning — Jaccard.barriered) above the set build is the
    // reuse point, so the build executes once and every other
    // consumer is a ReusedExchange. Forced here via the two-step
    // composition because the sf0.001 fixture sits (correctly) below
    // the Skew.CorpusScaleMinInputBytes auto-switch.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def shape() = {
      val df = operators.Jaccard.nearDupPairsFromSets(
        operators.Jaccard.barriered(
          operators.Jaccard.sortedSets(docs, col("doc_id"), col("text"), 3)), 0.5)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    // the set table is built by the MAP-SIDE kernel (round 18 — no
    // collect_set anywhere); the barrier is the single build point:
    // the kernel scan appears once, every other consumer is a
    // ReusedExchange
    val p = shape()
    assert(!p.contains("collect_set"), p)
    assert("graft_hashed_shingle_set".r.findAllIn(p).size == 1, p)
    assert(p.contains("REPARTITION_BY_NUM"), p)
    assert("ReusedExchange".r.findAllIn(p).size >= 3, p)
  }

  test("c4 jaccard: the barrier auto-switch follows plan-time input size") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    // sf0.001 is far below the floor → inline plan, no barrier (the
    // 4× rebuild of a 500-doc set table is cheaper than the extra
    // stage round-trips)
    val small = plan("c4_dedup_ngram_jaccard")
    assert(!small.contains("REPARTITION_BY_NUM"), small)
    // a lazily-defined corpus whose PLAN-TIME stats clear the floor
    // flips the barrier on — asserted on the initial plan, nothing
    // executed (Range stats are exact plan-time row/byte counts)
    val big = spark.range(10000000L).select(col("id").as("doc_id"),
      concat_ws(" ", lit("alpha"), col("id").cast("string"), lit("beta gamma")).as("text"))
    assert(operators.Skew.corpusScale(big))
    val forced = operators.Jaccard.nearDupPairs(big, col("doc_id"), col("text"))
    assert(forced.queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM"))
  }

  test("E5 salted self-join sides ride non-coalescible REPARTITION_BY_NUM exchanges") {
    // The round-13 residual post-mortem (§6): a bare
    // REPARTITION_BY_COL on (keys…, __salt) is fair game for AQE's
    // input-byte partition coalescing, which packed 20-30
    // tiny-input/quadratic-OUTPUT hot salt cells back into one
    // reducer — the salted straggler sat at ~13 s regardless of
    // salts or partition count until selfJoinSides pinned an
    // explicit count. This pin is the regression tripwire: both
    // salted sides must carry REPARTITION_BY_NUM, and the executed
    // join must run at the pinned count (a coalescible exchange on
    // this toy input would collapse to a handful of partitions).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = (1 to 2000).map(i =>
      (i.toLong, if (i % 2 == 0) "hot" else s"k$i")).toDF("id", "k")
    val (a, b) = operators.Skew.selfJoinSides(t, Seq("k"), col("id"),
      salts = 8, hotMin = 100)
    val j = a.as("a").join(b.as("b"),
      col("a.k") === col("b.k") && col("a.__salt") === col("b.__salt") &&
        col("a.id") < col("b.id"))
    assert(j.count() > 0)
    val p = j.queryExecution.executedPlan.toString
    assert("REPARTITION_BY_NUM".r.findAllIn(p).size >= 2, p)
    val pinned = spark.sessionState.conf.numShufflePartitions
    assert(j.rdd.getNumPartitions == pinned,
      s"salted join ran at ${j.rdd.getNumPartitions} partitions, expected $pinned — " +
        "AQE coalescing re-packed the salt cells")
  }

  test("c4 multi-threshold path: bucketed sortedSets feeds the verify joins with no exchange above the bucketed scan") {
    // The E9 composition the Jaccard object scaladoc promises: a
    // caller probing several thresholds lands sortedSets ONCE with
    // Sink.writeBucketed on id, then calls nearDupPairsFromSets per
    // threshold — zero set-table rebuilds across runs, and each
    // verify join's sets side rides the write-time bucketing (the
    // doc_a/doc_b rename is alias-preserved partitioning), so the
    // only exchanges left are the candidate side's. The prefix
    // self-join legitimately re-keys on the shingle hash — the claim
    // is scoped to the VERIFY joins, where the corpus-sized array
    // payload lives.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // shuffle-join regime: AQE would broadcast the toy-sized set
    // table and hide the partitioning question this test pins
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      graft.sources.Sink.writeBucketed(
        operators.Jaccard.sortedSets(docs, col("doc_id"), col("text"), 3),
        "bkt_sets4", "id", 4)
      val df = operators.Jaccard.nearDupPairsFromSets(spark.table("bkt_sets4"), 0.5)
      df.collect()
      def subtree(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: subtree(a.executedPlan)
        case q: QueryStageExec => p +: subtree(q.plan)
        case r: ReusedExchangeExec => p +: subtree(r.child)
        case other => p +: other.children.flatMap(subtree)
      }
      def bucketScans(p: SparkPlan): Seq[FileSourceScanExec] =
        subtree(p).collect {
          case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("bkt_sets4")) => s
        }
      val all = subtree(df.queryExecution.executedPlan)
      // the table (not a recomputed aggregation) feeds every consumer:
      // prefix explode + two verify sides — and no collect_set ran
      assert(bucketScans(df.queryExecution.executedPlan).size >= 3,
        df.queryExecution.executedPlan.toString)
      assert(!all.exists(_.toString.contains("collect_set")),
        df.queryExecution.executedPlan.toString)
      val verifyJoins = all.collect {
        case jn: ShuffledHashJoinExec if jn.leftKeys.exists(k =>
          k.toString.contains("doc_a") || k.toString.contains("doc_b")) => jn
      }
      assert(verifyJoins.size == 2, all.mkString("\n"))
      verifyJoins.foreach { jn =>
        // the sets side is the join input that is a pure projection
        // of the bucketed table — a bucket scan with no join below it
        // (the candidate side also reaches bucket scans, but only
        // through the prefix self-join / the previous verify join)
        val setsSides = Seq(jn.left, jn.right).filter { s =>
          val sub = subtree(s)
          bucketScans(s).nonEmpty &&
            !sub.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        }
        assert(setsSides.nonEmpty, jn.toString)
        setsSides.foreach { side =>
          assert(!subtree(side).exists(_.isInstanceOf[ShuffleExchangeLike]),
            s"exchange above the bucketed scan:\n$side")
        }
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_sets4")
    }
  }
}
