package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Contamination, Incremental, MinHash, Pins}

/** C34 incremental near-dup ingest gate: sequential gating over
  * batches must equal the global keep-first rule, including across
  * transitive chains (the store keeps ALL seen signatures). */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val T = 0.7

  /** ~30 docs in near-dup families: per family f, variants differ by
    * one leading/trailing token so adjacent variants clear T but
    * distant ones don't; plus unique docs and a short doc. */
  private def corpus: Seq[(Long, String)] = {
    def base(f: Int) = (1 to 12).map(t => s"f${f}w$t")
    val rows = for {
      f <- 0 until 4
      v <- 0 until 3
    } yield {
      val toks = base(f).toVector
      val txt = v match {
        case 0 => toks
        case 1 => toks.init :+ s"f${f}end"                    // change last
        case 2 => (s"f${f}new" +: toks.tail.init) :+ s"f${f}end" // change first+last
      }
      ((f * 3 + v).toLong, txt.mkString(" "))
    }
    rows ++ Seq(
      (100L, "completely different words about spark shuffles and parquet pruning here now"),
      (101L, "tiny"), // < 3 tokens: no shingles, must always survive
      (102L, "another unique set of tokens nothing shares with any family at all"))
  }

  private def df(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

  /** Global keep-first over the SAME band-candidate match definition. */
  private def globalKept(all: Seq[(Long, String)]): Set[Long] = {
    val dropped = MinHash.nearDupPairs(df(all), col("doc_id"), col("text"), threshold = T)
      .select("doc_b").as[Long].collect().toSet
    all.map(_._1).toSet -- dropped
  }

  private def gateSeq(batches: Seq[Seq[(Long, String)]]): Set[Long] = {
    var (storeBands, storeSets) =
      Incremental.signatures(df(Nil), col("doc_id"), col("text"))
    var kept = Set.empty[Long]
    for (b <- batches) {
      val (surv, bb, bs) = Incremental.gate(storeBands, storeSets, df(b),
        col("doc_id"), col("text"), threshold = T)
      kept ++= surv.as[Long].collect()
      storeBands = storeBands.unionByName(bb)
      storeSets = storeSets.unionByName(bs)
    }
    kept
  }

  test("sequential gate over id-ordered batches equals the global keep-first rule") {
    val all = corpus.sortBy(_._1)
    // precondition: the families really do near-match under the banded
    // candidates (otherwise the test is vacuous)
    val pairs = MinHash.nearDupPairs(df(all), col("doc_id"), col("text"), threshold = T)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "corpus produced no near-dup pairs — tune the fixture")
    val want = globalKept(all)
    for (split <- Seq(Seq(all), // one batch = pure within-batch dedup
        all.grouped(12).toSeq, // a few arrivals
        all.map(Seq(_)))) { // one doc per arrival = pure store matching
      assert(gateSeq(split) == want, s"${split.length} batches")
    }
    // the short doc always survives
    assert(want.contains(101L))
  }

  test("exact-signature collapse: storm batches gate identically with and without it") {
    // the error-page-storm regime: every arrival carries the SAME
    // template text under fresh ids (records/streambench_d10_growth_storm_r14
    // measured the uncollapsed cost growing linearly forever). The
    // collapse must be invisible in verdicts — per-arrival survivors
    // identical on the collapsing micro-batch path and the
    // uncollapsed `microBatch = false` shape, across arrivals whose
    // STORES were built by their own mode (on-store vs off-store) —
    // while the on-mode store stays at one signature row-group per
    // distinct storm text per arrival.
    val storm = (1 to 12).map(t => s"storm$t").mkString(" ")
    val stormB = (1 to 12).map(t => s"hailB$t").mkString(" ")
    def arrival(k: Int): Seq[(Long, String)] = {
      val base = k.toLong * 100
      // 4 copies of storm A, 2 of storm B, one near-dup-of-corpus doc,
      // one unique doc, one short doc — ids ascending within arrival
      (0 until 4).map(i => (base + i, storm)) ++
        Seq((base + 10, stormB), (base + 11, stormB),
          (base + 20, corpus(k % corpus.length)._2),
          (base + 30, s"unique tokens only arrival $k carries ever a b c d e"),
          (base + 40, "ti ny"))
    }
    val batches = (0 until 4).map(arrival)
    def gateSeqMode(collapse: Boolean): Seq[Set[Long]] = {
      var (sb, ss) = Incremental.signatures(df(Nil), col("doc_id"), col("text"))
      batches.map { b =>
        val (surv, bb, bs) = Incremental.gate(sb, ss, df(b),
          col("doc_id"), col("text"), threshold = T, microBatch = collapse)
        sb = sb.unionByName(bb); ss = ss.unionByName(bs)
        surv.as[Long].collect().toSet
      }
    }
    val on = gateSeqMode(collapse = true)
    val off = gateSeqMode(collapse = false)
    assert(on == off, s"collapse changed verdicts: on=$on off=$off")
    // arrival 0 keeps one doc per storm text; later arrivals keep no
    // storm docs at all (the store remembers), and the short doc
    // always survives
    assert(on.head.intersect(Set(0L, 1L, 2L, 3L)) == Set(0L))
    assert(on.head.contains(10L) && !on.head.contains(11L))
    assert(on.tail.forall(s => !s.exists(id => id % 100 < 12)),
      s"storm docs survived a later arrival: ${on.tail}")
    assert(on.forall(s => s.exists(id => id % 100 == 40)))
    // the collapsed store carries ONE signature per distinct nonempty
    // set per arrival: 6 storm copies → 2 reps, plus the corpus doc
    // and the unique doc, plus the short doc's empty-set row = 5
    var (sb2, ss2) = Incremental.signatures(df(Nil), col("doc_id"), col("text"))
    val (_, bb2, bs2) = Incremental.gate(sb2, ss2, df(batches.head),
      col("doc_id"), col("text"), threshold = T)
    val setRows = bs2.as[(Long, Seq[Long])].collect()
    assert(setRows.length == 5, s"expected 5 collapsed set rows, got ${setRows.length}")
    assert(setRows.count(_._2.isEmpty) == 1, "the short doc's empty-set row must persist")
    val bandIds = bb2.select("id").distinct().as[Long].collect().toSet
    assert(bandIds == Set(0L, 10L, 20L, 30L),
      s"collapsed bands must carry only the min-id representatives, got $bandIds")
  }

  test("transitive chain across batches: a dup of a DROPPED doc is still dropped") {
    // v1 matches v0 (dropped); v2 matches v1 but not v0 — only a
    // store that keeps dropped docs' signatures catches v2
    val f = corpus.filter(t => t._1 < 3).sortBy(_._1) // family 0: ids 0, 1, 2
    val pairs = MinHash.nearDupPairs(df(f), col("doc_id"), col("text"), threshold = T)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)) && !pairs.contains((0L, 2L)),
      s"fixture must form a chain, got $pairs")
    val kept = gateSeq(f.map(Seq(_)))
    assert(kept == Set(0L), s"chain must collapse to the first doc, got $kept")
  }

  test("fuzzyMatches flags train docs near eval, best match deterministic") {
    // family 0 variants: 0 is "eval", 1 and 2 are "train"; 1 matches 0
    // above T, 2 matches 1 but NOT 0 — so only 1 is contaminated.
    // unique docs and the short doc are never flagged.
    val evalRows = corpus.filter(r => r._1 == 0L)
    val trainRows = corpus.filterNot(r => r._1 == 0L)
    val got = Contamination.fuzzyMatches(df(trainRows), df(evalRows),
        col("doc_id"), col("text"), threshold = T)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSet == Set(1L))
    assert(got.head._2 == 0L && got.head._3 >= T)
    // two eval docs matching the same train doc: best = (jac desc, id asc)
    val eval2 = Seq((0L, corpus.find(_._1 == 1L).get._2), // identical to train 1 → jac 1.0
      (50L, corpus.find(_._1 == 0L).get._2))
    val got2 = Contamination.fuzzyMatches(df(trainRows), df(eval2),
        col("doc_id"), col("text"), threshold = T)
      .as[(Long, Long, Double)].collect().filter(_._1 == 1L)
    assert(got2.length == 1 && got2.head._2 == 0L && got2.head._3 == 1.0)
  }

  test("semanticMatches flags close embeddings, honors zero-norm and tie contracts") {
    def vdf(rows: Seq[(Long, Seq[Double])]) = rows.toDF("id", "v")
    val eval = vdf(Seq(0L -> Seq(1.0, 0.0), 50L -> Seq(1.0, 0.0), // identical pair: tie → id 0
      60L -> Seq(0.0, 0.0))) // zero-norm eval can never match
    val train = vdf(Seq(
      1L -> Seq(0.9, 0.1),  // cos vs e0 ≈ 0.994 → contaminated
      2L -> Seq(0.0, 1.0),  // orthogonal → clean
      3L -> Seq(0.0, 0.0))) // zero-norm train never matches
    val got = Contamination.semanticMatches(train, eval, col("id"), col("v"), 0.5)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L), s"only doc 1 is contaminated: ${got.toSeq}")
    // two equally-close eval docs: best = (cosine desc, eval id asc)
    assert(got.head._2 == 0L && got.head._3 >= 0.99)
    // threshold is inclusive on the ROUNDED cosine (the §4.1 contract)
    val exact = Contamination.semanticMatches(
      vdf(Seq(1L -> Seq(1.0, 1.0))), vdf(Seq(9L -> Seq(1.0, 0.0))),
      col("id"), col("v"), 0.707107).as[(Long, Long, Double)].collect()
    assert(exact.map(_._3).toSeq == Seq(0.707107), s"rounded-edge pair must pass: ${exact.toSeq}")
    // ties are decided on the ROUNDED cosine: two evals whose raw
    // cosines differ by 3e-7 (same 6-decimal value) must resolve to
    // the SMALLER id even though its raw cosine is the lower one
    val y = math.sqrt(1.0 - 0.5 * 0.5)
    val tie = Contamination.semanticMatches(
      vdf(Seq(1L -> Seq(1.0, 0.0))),
      vdf(Seq(5L -> Seq(0.5000001, y), 6L -> Seq(0.5000004, y))),
      col("id"), col("v"), 0.4).as[(Long, Long, Double)].collect()
    assert(tie.toSeq == Seq((1L, 5L, 0.5)), s"rounded tie must pick id 5: ${tie.toSeq}")
  }

  test("semanticMatches refuses a corpus-sized eval side and skips null-element vectors") {
    def vdf(rows: Seq[(Long, Seq[Double])]) = rows.toDF("id", "v")
    val train = vdf(Seq(1L -> Seq(1.0, 0.0)))
    // the eval side is COLLECTED by contract (benchmark-sized): an
    // over-limit eval frame must refuse loudly, never driver-OOM
    val bigEval = vdf((0L until 10L).map(i => i -> Seq(1.0, 0.0)))
    val err = intercept[IllegalArgumentException] {
      Contamination.semanticMatches(train, bigEval, col("id"), col("v"), 0.5,
        maxEvalRows = 5)
    }
    assert(err.getMessage.contains("maxEvalRows") &&
      err.getMessage.contains("collected"), err.getMessage)
    // at the limit exactly: no refusal
    assert(Contamination.semanticMatches(train, bigEval, col("id"), col("v"),
      0.5, maxEvalRows = 10).count() == 1)
    // an eval vector with a NULL ELEMENT joins the zero-norm rows in
    // the "cosine undefined" bucket (previously: NPE on unboxing);
    // the remaining valid eval vector still matches
    val nullEval = Seq(7L, 9L).toDF("id")
      .withColumn("v", when(col("id") === 7L,
          array(lit(1.0), lit(null).cast("double")))
        .otherwise(array(lit(1.0), lit(0.0))))
    val got = Contamination.semanticMatches(train, nullEval, col("id"), col("v"), 0.5)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 9L, 1.0)), s"null-element eval row skipped: ${got.toSeq}")
  }

  test("batch signatures returned by gate equal signatures() of the same docs") {
    val b = corpus.take(6)
    val (_, bb, bs) = Incremental.gate(
      Incremental.signatures(df(Nil), col("doc_id"), col("text"))._1,
      Incremental.signatures(df(Nil), col("doc_id"), col("text"))._2,
      df(b), col("doc_id"), col("text"), threshold = T)
    val (wb, ws) = Incremental.signatures(df(b), col("doc_id"), col("text"))
    assert(bb.collect().toSet == wb.collect().toSet)
    assert(bs.collect().toSet == ws.collect().toSet)
  }

  test("micro-batch contract enforced: oversized batches demote to the declarative shape") {
    // a caller who passes a corpus-sized frame with microBatch = true
    // must not trigger the driver-side collects/broadcasts: the gate
    // demotes itself once the batch band table exceeds maxBandRows.
    // Results are identical; the pruners (driver point-read path)
    // must never be invoked.
    val all = corpus.sortBy(_._1)
    val want = globalKept(all)
    val boom: Option[Seq[Any] => Option[DataFrame]] =
      Some(_ => fail("pruner invoked for an over-bound batch — the size guard is dead"))
    val (eb, es) = Incremental.signatures(df(Nil), col("doc_id"), col("text"))
    val (surv, demotedBands, _) = Incremental.gate(eb, es, df(all), col("doc_id"), col("text"),
      threshold = T, prunedBands = boom, prunedSets = boom, maxBandRows = 10)
    assert(surv.as[Long].collect().toSet == want,
      "demoted gate must still compute the keep-first survivors")
    // the demote path must stay LAZY end to end: the guard counts a
    // bound BEFORE materializing, so an over-bound batch is never
    // eagerly localCheckpointed (a checkpointed table plans as a
    // LogicalRDD scan; the lazy one keeps its aggregation lineage)
    assert(!demotedBands.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      "over-bound batch must not be checkpointed on the demote path")
    // under the bound, the micro path (and its pruners) stays active
    var pruned = 0
    val count: Option[Seq[Any] => Option[DataFrame]] =
      Some { _ => pruned += 1; None }
    val (inSurv, microBands, _) = Incremental.gate(eb, es, df(all.take(3)),
      col("doc_id"), col("text"), threshold = T, prunedBands = count, prunedSets = count)
    inSurv.as[Long].collect()
    assert(pruned > 0, "in-bound batch must keep the micro-batch pruner path")
    assert(microBands.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      "in-bound batch keeps the materialize-once checkpoint")
    // between the two bounds: pruner collects skipped, broadcast pins
    // (and results) retained — the tiered enforcement
    val boom2: Option[Seq[Any] => Option[DataFrame]] =
      Some(_ => fail("pruner invoked past maxPrunerBandRows"))
    val (surv2, _, _) = Incremental.gate(eb, es, df(all), col("doc_id"), col("text"),
      threshold = T, prunedBands = boom2, prunedSets = boom2,
      maxBandRows = 1000000, maxPrunerBandRows = 10)
    assert(surv2.as[Long].collect().toSet == want,
      "pruner-capped gate must still compute the keep-first survivors")
  }

  test("demoted arrivals still collapse exact-signature duplicates (the store contract)") {
    // an oversized microBatch=true arrival (forced demotion) carrying
    // storm duplicates must NOT append duplicate signatures to the
    // store: the collapse survives demotion as plain shuffle joins
    // (round 16 — the r15 micro-only restriction silently re-opened
    // the storm regime for arrivals that demote inside a sink)
    val storm = (1 to 12).map(t => s"storm$t").mkString(" ")
    val rows = (0L until 6L).map(i => (i, storm)) ++
      Seq((10L, "unique doc text with its own tokens a b c d e f"), (20L, "ti ny"))
    val (eb, es) = Incremental.signatures(df(Nil), col("doc_id"), col("text"))
    val dem0 = Incremental.demotions.sum()
    val (surv, bb, bs) = Incremental.gate(eb, es, df(rows), col("doc_id"), col("text"),
      threshold = T, maxBandRows = 1) // any nonempty batch demotes
    assert(surv.as[Long].collect().toSet == Set(0L, 10L, 20L))
    assert(Incremental.demotions.sum() > dem0, "demotion must bump the surfaced counter")
    // 6 storm copies → ONE representative set row; plus the unique doc
    // and the short doc's empty-set row = 3
    val sets = bs.as[(Long, Seq[Long])].collect()
    assert(sets.length == 3, s"demoted tables must stay collapsed, got ${sets.toSeq}")
    assert(sets.count(_._2.isEmpty) == 1, "the short doc's empty-set row must persist")
    assert(bb.select("id").distinct().as[Long].collect().toSet == Set(0L, 10L),
      "collapsed bands must carry only the min-id representative")
    // and the demoted shape stays lazy end to end (no checkpoint pin)
    assert(!bb.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      "demoted collapse must not eagerly checkpoint")
    // explicit declarative callers (c34's shape) remain collapse-free:
    // same verdicts, uncollapsed tables
    val (survD, _, bsD) = Incremental.gate(eb, es, df(rows), col("doc_id"), col("text"),
      threshold = T, microBatch = false)
    assert(survD.as[Long].collect().toSet == Set(0L, 10L, 20L))
    assert(bsD.count() == rows.size.toLong, "declarative mode returns uncollapsed tables")
  }

  test("demoted arrival under a sink collector caches the returned tables; the reap frees them") {
    // r17 (ADVICE r16): without a cache, every separate action a sink
    // takes on a demoted arrival's returned tables re-runs the
    // shingle→minhash pipeline — measured 1.74× the per-arrival wall
    // (records/demotedprobe_r17.json). Inside a Pins collector the gate now
    // registers a LAZY MEMORY_AND_DISK persist on the returned
    // tables; the end-of-batch reap unpersists exactly those. Outside
    // a collector nothing is cached (no leaked CacheManager entry for
    // plain batch callers) and the shape stays fully lazy.
    import org.apache.spark.storage.StorageLevel
    val rows = (0L until 4L).map(i =>
      (i, s"batch doc $i with mostly shared tokens alpha beta gamma delta epsilon"))
    val (eb, es) = Incremental.signatures(df(Nil), col("doc_id"), col("text"))
    // no collector: untouched lazy shape
    val (surv0, bb0, bs0) = Incremental.gate(eb, es, df(rows), col("doc_id"), col("text"),
      threshold = T, maxBandRows = 1)
    val want = surv0.as[Long].collect().toSet
    assert(bb0.storageLevel == StorageLevel.NONE && bs0.storageLevel == StorageLevel.NONE,
      "no-collector demoted tables must not be cached (caller owns the lifecycle)")
    // collector active (the sink's batch body): tables registered for
    // a lazy cache, results identical, reap frees the cache
    val pins = Pins.start()
    val (bb, bs) =
      try {
        val (surv, bb, bs) = Incremental.gate(eb, es, df(rows), col("doc_id"), col("text"),
          threshold = T, maxBandRows = 1)
        assert(bb.storageLevel != StorageLevel.NONE && bs.storageLevel != StorageLevel.NONE,
          "collector-scoped demoted tables must be registered for caching")
        assert(surv.as[Long].collect().toSet == want, "cache must not change verdicts")
        assert(bb.collect().toSet == bb0.collect().toSet &&
          bs.collect().toSet == bs0.collect().toSet,
          "cache must not change the returned signature tables")
        // the cache is a persist, never a plan barrier: the demoted
        // no-LogicalRDD pin holds on this path too
        assert(!bb.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
          "collector-scoped demoted tables must stay lineage-complete")
        (bb, bs)
      } finally Pins.stop()
    Pins.reap(pins)
    assert(bb.storageLevel == StorageLevel.NONE && bs.storageLevel == StorageLevel.NONE,
      "the end-of-batch reap must unpersist the demoted-table caches")
  }

  test("gate never shuffles the store: per-arrival shuffle flat as the store doubles") {
    // The store-scan-only plan shape is pinned by explicit hints, not
    // by Catalyst's size estimates — so it must hold even with
    // auto-broadcast DISABLED (the regression this guards: at real
    // batch sizes the verify join flipped to SortMergeJoin and
    // re-shuffled the entire store's sets every arrival). Measured
    // contract: shuffle bytes for one arrival are ~unchanged when the
    // store doubles.
    import java.util.concurrent.atomic.LongAdder
    def mkDocs(from: Int, n: Int): DataFrame =
      (from until from + n).map(i =>
        (i.toLong, (1 to 12).map(t => s"u${i}t$t").mkString(" "))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-gate-flat").toString
    for ((name, n) <- Seq("s1" -> 2000, "s2" -> 4000)) {
      val (b, s) = Incremental.signatures(mkDocs(10000, n), col("doc_id"), col("text"))
      b.write.mode("overwrite").parquet(s"$dir/$name/bands")
      s.write.mode("overwrite").parquet(s"$dir/$name/sets")
    }
    val shufW = new LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) shufW.add(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def settled(): Long = { // listener events are async: poll to quiescence
      var prev = -1L
      var cur = shufW.sum
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = shufW.sum }
      cur
    }
    val thresholdConf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdConf)
    spark.conf.set(thresholdConf, "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      def arrivalBytes(store: String): Long = {
        val before = settled()
        Incremental.gate(
            spark.read.parquet(s"$dir/$store/bands"),
            spark.read.parquet(s"$dir/$store/sets"),
            mkDocs(50000, 200), col("doc_id"), col("text"), threshold = T)
          ._1.write.format("noop").mode("overwrite").save()
        settled() - before
      }
      val small = arrivalBytes("s1")
      val big = arrivalBytes("s2")
      assert(big <= small * 1.3 + (64 << 10),
        s"store doubled but arrival shuffle grew ${small}B -> ${big}B — " +
          "the store is being shuffled again")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(thresholdConf, saved)
    }
  }

  test("indexed store (Indexed sidecars + pruners) gates bit-identically") {
    // the sinks' disk layout end-to-end: per-arrival signature dirs
    // written via Indexed.write, gate reads the store with the
    // pruned point-lookup path — survivors must equal the in-memory
    // gate AND the global keep-first rule, including the transitive
    // chain that needs dropped docs' signatures
    import graft.sources.Indexed
    val all = corpus.sortBy(_._1)
    val want = globalKept(all)
    val store = java.nio.file.Files.createTempDirectory("graft-gate-idx").toString
    val pb: Option[Seq[Any] => Option[DataFrame]] =
      Some(keys => Indexed.prunedRead(spark, s"$store/bands", "bk", keys))
    val ps: Option[Seq[Any] => Option[DataFrame]] =
      Some(keys => Indexed.prunedRead(spark, s"$store/sets", "id", keys))
    var kept = Set.empty[Long]
    for ((b, i) <- all.grouped(6).zipWithIndex) {
      val haveStore = new java.io.File(s"$store/bands").exists()
      val (storeBands, storeSets) =
        if (haveStore) (spark.read.parquet(s"$store/bands"),
          spark.read.parquet(s"$store/sets"))
        else Incremental.signatures(df(Nil), col("doc_id"), col("text"))
      val (surv, bb, bs) = Incremental.gate(storeBands, storeSets, df(b),
        col("doc_id"), col("text"), threshold = T,
        prunedBands = pb, prunedSets = ps)
      kept ++= surv.as[Long].collect()
      Indexed.write(bb.coalesce(1), s"$store/bands/batch=$i", "bk", 0)
      Indexed.write(bs.coalesce(1), s"$store/sets/batch=$i", "id", 0)
    }
    assert(kept == want, s"indexed-store gate diverged: got $kept want $want")
    // compaction preserves the layout contract: consolidate, regate a
    // replayed batch — every doc self-matches, zero survivors
    graft.streaming.EventStream.nearDupStoreCompact(spark, store, Long.MaxValue)
    val (sb2, ss2) = (spark.read.parquet(s"$store/bands"),
      spark.read.parquet(s"$store/sets"))
    val (replay, _, _) = Incremental.gate(sb2, ss2, df(all.take(6)),
      col("doc_id"), col("text"), threshold = T,
      prunedBands = pb, prunedSets = ps)
    assert(replay.as[Long].collect().isEmpty,
      "replayed batch must fully self-match against the compacted store")
  }

  test("gate over the sinks' writeSmall MULTI-FILE layout is bit-identical too") {
    // the streaming sinks append via writeSmall, which past the nRows
    // hint range-partitions each batch dir into several sorted files;
    // the gate + pruners must see exactly the same survivors there
    import graft.sources.Indexed
    val all = corpus.sortBy(_._1)
    val want = globalKept(all)
    val store = java.nio.file.Files.createTempDirectory("graft-gate-ws").toString
    val pb: Option[Seq[Any] => Option[DataFrame]] =
      Some(keys => Indexed.prunedRead(spark, s"$store/bands", "bk", keys))
    val ps: Option[Seq[Any] => Option[DataFrame]] =
      Some(keys => Indexed.prunedRead(spark, s"$store/sets", "id", keys))
    var kept = Set.empty[Long]
    for ((b, i) <- all.grouped(6).zipWithIndex) {
      val haveStore = new java.io.File(s"$store/bands").exists()
      val (storeBands, storeSets) =
        if (haveStore) (spark.read.parquet(s"$store/bands"),
          spark.read.parquet(s"$store/sets"))
        else Incremental.signatures(df(Nil), col("doc_id"), col("text"))
      val (surv, bb, bs) = Incremental.gate(storeBands, storeSets, df(b),
        col("doc_id"), col("text"), threshold = T,
        prunedBands = pb, prunedSets = ps)
      kept ++= surv.as[Long].collect()
      // tiny fileRows forces the parallel multi-file path per dir
      Indexed.writeSmall(bb, s"$store/bands/batch=$i", "bk",
        nRows = bb.count(), fileRows = 8)
      Indexed.writeSmall(bs, s"$store/sets/batch=$i", "id",
        nRows = bs.count(), fileRows = 4)
    }
    val nFiles = new java.io.File(s"$store/bands/batch=0").listFiles
      .count(_.getName.startsWith("part-"))
    assert(nFiles > 1, s"fixture must exercise the multi-file layout (got $nFiles)")
    assert(kept == want, s"writeSmall-layout gate diverged: got $kept want $want")
  }
}
