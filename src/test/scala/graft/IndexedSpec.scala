package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.sources.Indexed

/** E17 key-indexed parquet layout: prunedRead must be bit-identical
  * to read-everything+filter (the bloom has no false negatives and
  * manifest/page pruning only removes granules that cannot hold a
  * probe key), must actually SKIP (scan-node metrics), and must
  * degrade to None — never to wrong rows — whenever it can't prune
  * (too many alive keys, unindexed or nested dirs). */
class IndexedSpec extends SparkSpec {
  import spark.implicits._

  /** Store-shaped fixture: uniform string keys (md5 hex) + payload. */
  private def mkDF(from: Int, n: Int): DataFrame =
    spark.range(from, from + n)
      .select(md5(concat(lit("k"), col("id"))).as("bk"), col("id").as("payload"))

  private def scanStats(df: DataFrame): (Long, Long) = {
    def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(find)
      }
    val scans = find(df.queryExecution.executedPlan)
    (scans.map(_.metrics("numOutputRows").value).sum,
      scans.map(_.metrics("numFiles").value).sum)
  }

  /** n keys spread uniformly across the payload range. */
  private def keysOf(df: DataFrame, n: Int): Seq[String] = {
    val span = df.count() / n
    df.filter(col("payload") % span === 0).select(col("bk"))
      .limit(n).collect().map(_.getString(0)).toSeq
  }

  test("prunedRead ≡ read+filter, string keys, mixed append/compacted dirs") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx").toString
    Indexed.write(mkDF(0, 200000).coalesce(1), s"$root/batch=0", "bk", 0)
    Indexed.write(mkDF(200000, 200000).coalesce(1), s"$root/batch=1", "bk", 0)
    Indexed.write(mkDF(400000, 600000), s"$root/batch=-1", "bk", 4)
    val present = keysOf(mkDF(0, 1000000), 40) // spread across all dirs
    val absent = (0 until 40).map(i => s"not-a-key-$i")
    val keys: Seq[Any] = present ++ absent
    val got = Indexed.prunedRead(spark, root, "bk", keys)
    assert(got.isDefined, "indexed store must take the pruned path")
    val want = spark.read.parquet(root).filter(col("bk").isInCollection(keys))
      .select("bk", "payload").as[(String, Long)].collect().toSet
    assert(want.size == present.size, "fixture: every present key matches once")
    assert(got.get.select("bk", "payload").as[(String, Long)].collect().toSet == want)
  }

  test("pruning actually skips: few keys read few files and few rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-skip").toString
    Indexed.write(mkDF(0, 200000), s"$root/batch=-1", "bk", 8)
    val keys: Seq[Any] = keysOf(mkDF(0, 200000), 4)
    val df = Indexed.prunedRead(spark, root, "bk", keys).get
    assert(df.count() == 4)
    val (rows, files) = scanStats(df)
    assert(files < 8, s"4 clustered keys should not touch all 8 files (got $files)")
    // page-level: 2000-row pages → ~1-2 pages per key, far below 200k
    assert(rows < 40000, s"page pruning should cut the scan (got $rows rows)")
  }

  test("multi-chunk key sets (> ChunkSize) still push down and prune") {
    // the cost gate needs alive × pageRows (520 × 2000 ≈ 1.0M) under
    // half the store, so the store must be big enough to warrant a
    // point probe at all
    val root = java.nio.file.Files.createTempDirectory("graft-idx-chunk").toString
    Indexed.write(mkDF(0, 3000000), s"$root/batch=-1", "bk", 8)
    val keys: Seq[Any] = keysOf(mkDF(0, 3000000), 520) // 2 OR'd In chunks
    val got = Indexed.prunedRead(spark, root, "bk", keys)
    assert(got.isDefined, "520-key probe of a 3M-row store must stay pruned")
    val df = got.get
    assert(df.count() == keys.size)
    val want = spark.read.parquet(s"$root/batch=-1")
      .filter(col("bk").isInCollection(keys))
      .select("bk", "payload").as[(String, Long)].collect().toSet
    assert(df.select("bk", "payload").as[(String, Long)].collect().toSet == want)
    val (rows, _) = scanStats(df)
    assert(rows < 3000000 / 2,
      s"chunked OR-of-In must still page-prune (got $rows of 3000000 rows)")
  }

  test("cost gate charges each dir only for the keys its own bloom admits") {
    // four 20 000-row dirs of 2 000-row pages, three probe keys in
    // each: a dir is charged 3 × 2 000 rows, 24 000 of the store's
    // 80 000 in all, so the probe runs. Charging every dir for all 12
    // alive keys (24 000 each, capped at its 20 000 rows) would put
    // the estimate at the whole store and decline the probe
    val root = java.nio.file.Files.createTempDirectory("graft-idx-perdir").toString
    val keys: Seq[Any] = (0 until 4).flatMap { i =>
      val from = i * 20000
      Indexed.write(mkDF(from, 20000).coalesce(1), s"$root/batch=$i", "bk", 0)
      mkDF(from, 20000).filter(col("payload").isin(from + 1, from + 7001, from + 14001))
        .select("bk").as[String].collect().toSeq
    }
    assert(keys.size == 12, "fixture: three present keys per dir")
    val got = Indexed.prunedRead(spark, root, "bk", keys)
    assert(got.isDefined, "per-dir charges stay under half the store: the probe must run")
    val want = spark.read.parquet(root).filter(col("bk").isInCollection(keys))
      .select("bk", "payload").as[(String, Long)].collect().toSet
    assert(want.size == keys.size)
    assert(got.get.select("bk", "payload").as[(String, Long)].collect().toSet == want)
  }

  test("bloom rules out absent keys entirely — empty probe, no fallback") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-miss").toString
    Indexed.write(mkDF(0, 5000).coalesce(1), s"$root/batch=0", "bk", 0)
    val got = Indexed.prunedRead(spark, root, "bk", Seq("zzz-1", "zzz-2"))
    assert(got.isDefined && got.get.isEmpty)
    assert(got.get.columns.toSeq == Seq("bk", "payload"))
  }

  test("long keys: parity and bloom membership") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-long").toString
    val df = spark.range(0, 30000)
      .select((col("id") * 7919 % 104729).as("id"), col("id").as("payload"))
    Indexed.write(df, s"$root/batch=-1", "id", 3)
    val keys: Seq[Any] = Seq(7919L % 104729, (2L * 7919) % 104729, -5L, 999999L)
    val got = Indexed.prunedRead(spark, root, "id", keys).get
      .select("id", "payload").as[(Long, Long)].collect().toSet
    val want = spark.read.parquet(s"$root/batch=-1")
      .filter(col("id").isInCollection(keys))
      .select("id", "payload").as[(Long, Long)].collect().toSet
    assert(got == want && want.nonEmpty)
  }

  test("mixed-type probe keys neither crash the sort nor lose rows") {
    // Seq[Any] is the public probe API: a caller mixing Integer and
    // Long probes against a long-keyed store must get the long rows
    // back (Integer probes bloom/compare as longs), and the key sort
    // must stay a lawful total order (an intransitive comparator
    // makes TimSort throw mid-probe)
    val root = java.nio.file.Files.createTempDirectory("graft-idx-mix").toString
    val df = spark.range(0, 30000).select(col("id"), col("id").as("payload"))
    Indexed.write(df, s"$root/batch=-1", "id", 3, pageRows = 8)
    val keys: Seq[Any] = (0 until 40).flatMap(i => Seq[Any](
      java.lang.Long.valueOf(i * 700L),
      java.lang.Integer.valueOf(i * 700 + 1))) :+ (null: Any)
    val got = Indexed.prunedRead(spark, root, "id", keys)
    assert(got.isDefined)
    val longKeys = keys.collect {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
    }.filter(_ < 30000).toSet
    assert(got.get.select("id").as[Long].collect().toSet == longKeys)
  }

  test("degrades to None: key cap, unindexed root, nested unindexed dir") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-degrade").toString
    Indexed.write(mkDF(0, 2000).coalesce(1), s"$root/batch=0", "bk", 0)
    // cap: more alive keys than keyCap → None
    val many: Seq[Any] = mkDF(0, 2000).select("bk").as[String].collect().toSeq
    assert(Indexed.prunedRead(spark, root, "bk", many, keyCap = 100).isEmpty)
    // unindexed root (plain write, no sidecar) → None
    val plain = java.nio.file.Files.createTempDirectory("graft-idx-plain").toString
    mkDF(0, 1000).write.parquet(s"$plain/batch=0")
    assert(Indexed.prunedRead(spark, plain, "bk", Seq("x")).isEmpty)
    // mixed indexed + unindexed FLAT dir: parity still holds (the
    // unindexed dir is read whole, all keys stay alive); the indexed
    // dir must be big enough that the cost gate keeps the probe
    val mixed = java.nio.file.Files.createTempDirectory("graft-idx-mixed").toString
    Indexed.write(mkDF(0, 200000), s"$mixed/batch=0", "bk", 2)
    mkDF(500000, 1000).coalesce(1).write.parquet(s"$mixed/batch=1")
    val keys: Seq[Any] = keysOf(mkDF(0, 200000), 3) ++ keysOf(mkDF(500000, 1000), 3)
    val got = Indexed.prunedRead(spark, mixed, "bk", keys)
    assert(got.isDefined)
    assert(got.get.select("bk").as[String].collect().toSet == keys.map(_.toString).toSet)
    // a NESTED unindexed dir (inner partition dirs) is opaque → None
    val nested = java.nio.file.Files.createTempDirectory("graft-idx-nested").toString
    mkDF(0, 1000).withColumn("p", col("payload") % 2)
      .write.partitionBy("p").parquet(s"$nested/batch=0")
    assert(Indexed.prunedRead(spark, nested, "bk", Seq("x")).isEmpty)
  }

  test("cache evicts superseded dirs: compaction deletes stop pinning blooms") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-evict").toString
    Indexed.write(mkDF(0, 5000).coalesce(1), s"$root/batch=0", "bk", 0)
    Indexed.write(mkDF(5000, 5000).coalesce(1), s"$root/batch=1", "bk", 0)
    Indexed.load(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(new org.apache.hadoop.fs.Path(root)).toString
    assert(Indexed.cachedDirs.count(_.startsWith(q)) == 2)
    // compaction shape: batch=1 consolidated away, batch=0 survives
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/batch=1"), true)
    Indexed.load(spark, root)
    val cached = Indexed.cachedDirs.filter(_.startsWith(q))
    assert(cached.size == 1 && cached.head.endsWith("batch=0"),
      s"stale entry not evicted: $cached")
    // other roots' entries are untouched by this root's eviction
    val other = java.nio.file.Files.createTempDirectory("graft-idx-evict2").toString
    Indexed.write(mkDF(0, 2000).coalesce(1), s"$other/batch=0", "bk", 0)
    Indexed.load(spark, other)
    Indexed.load(spark, root)
    val qo = fs.makeQualified(new org.apache.hadoop.fs.Path(other)).toString
    assert(Indexed.cachedDirs.count(_.startsWith(qo)) == 1)
  }

  test("prunedRead leaves session conf untouched; low thresholds still prune per-value") {
    val conf = "spark.sql.parquet.pushdown.inFilterThreshold"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "10") // the un-configured default
      val root = java.nio.file.Files.createTempDirectory("graft-idx-conf").toString
      Indexed.write(mkDF(0, 200000), s"$root/batch=-1", "bk", 8)
      val keys: Seq[Any] = keysOf(mkDF(0, 200000), 24) // > one 10-key chunk
      val got = Indexed.prunedRead(spark, root, "bk", keys).get
      assert(got.count() == keys.size)
      assert(spark.conf.get(conf) == "10",
        "prunedRead must not mutate session conf")
      val (rows, _) = scanStats(got)
      assert(rows < 200000 / 2,
        s"10-key chunks must still push per-value granule checks (got $rows rows)")
      assert(spark.conf.get(conf) == "10")
    } finally spark.conf.set(conf, saved)
  }

  test("string manifest ranges compare as UTF-8 bytes, not UTF-16 code units") {
    // U+FFFD sorts BELOW U+1F600 in UTF-8 bytes (EF.. < F0..) but
    // ABOVE it in UTF-16 code units (FFFD > D83D): a file whose
    // manifest max is the emoji key must NOT be range-pruned for the
    // U+FFFD probe — with String.<= ordering the row silently vanished
    val root = java.nio.file.Files.createTempDirectory("graft-idx-utf8").toString
    Indexed.write(mkDF(0, 5000).coalesce(1), s"$root/batch=0", "bk", 0)
    // written via write() so the manifest min/max comes from SPARK's
    // aggregation (UTF8String order) \u2014 the ordering leq must match
    val special = Seq(("aa", 1L), ("\uFFFDz", 2L), ("\uD83D\uDE00z", 3L))
      .toDF("bk", "payload")
    Indexed.write(special.coalesce(1), s"$root/batch=1", "bk", 0)
    val got = Indexed.prunedRead(spark, root, "bk", Seq("\uFFFDz"))
    assert(got.isDefined, "indexed store must take the pruned path")
    assert(got.get.select("bk", "payload").as[(String, Long)].collect().toSeq ==
      Seq(("\uFFFDz", 2L)))
  }

  test("writeSmall nRows hint goes parallel: several sorted files, parity, pruning") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-par").toString
    Indexed.writeSmall(mkDF(0, 100000), s"$root/batch=0", "bk",
      nRows = 100000L, fileRows = 16384)
    val nFiles = new java.io.File(s"$root/batch=0").listFiles
      .count(f => f.getName.startsWith("part-"))
    assert(nFiles > 1, s"100k rows at 16384/file must write several files (got $nFiles)")
    val keys: Seq[Any] = keysOf(mkDF(0, 100000), 2)
    val got = Indexed.prunedRead(spark, root, "bk", keys).get
    assert(got.count() == 2)
    val want = spark.read.parquet(s"$root/batch=0")
      .filter(col("bk").isInCollection(keys))
      .select("bk", "payload").as[(String, Long)].collect().toSet
    assert(got.select("bk", "payload").as[(String, Long)].collect().toSet == want)
    val (rows, filesTouched) = scanStats(got)
    assert(filesTouched < nFiles,
      s"2 keys must not touch all $nFiles range-disjoint files")
    assert(rows < 50000, s"page pruning must hold on the parallel layout (got $rows)")
  }

  test("sidecar replay-safety: rewrite refreshes the cache (mtime-keyed)") {
    val root = java.nio.file.Files.createTempDirectory("graft-idx-replay").toString
    Indexed.write(mkDF(0, 20000).coalesce(1), s"$root/batch=0", "bk", 0)
    assert(Indexed.prunedRead(spark, root, "bk", keysOf(mkDF(0, 20000), 1)).get.count() == 1)
    Thread.sleep(1100) // mtime granularity
    Indexed.write(mkDF(50000, 20000).coalesce(1), s"$root/batch=0", "bk", 0)
    val k2: Seq[Any] = keysOf(mkDF(50000, 20000), 2)
    assert(Indexed.prunedRead(spark, root, "bk", k2).get.count() == 2)
  }

  test("prunedRead with a known schema: same rows, no schema-inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = java.nio.file.Files.createTempDirectory("graft-idx-schema").toString
    Indexed.writeSmall(mkDF(0, 20000), s"$root/batch=0", "bk", pageRows = 500)
    Indexed.writeSmall(mkDF(20000, 20000), s"$root/batch=1", "bk", pageRows = 500)
    val keys: Seq[Any] = keysOf(mkDF(0, 40000), 8) :+ "not-a-key"
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsToBuild(schema: Option[org.apache.spark.sql.types.StructType]) = {
      org.apache.spark.graft.Listeners.settle(sc)
      jobs.set(0)
      val df = Indexed.prunedRead(spark, root, "bk", keys, schema = schema).get
      org.apache.spark.graft.Listeners.settle(sc)
      (df, jobs.get)
    }
    sc.addSparkListener(counter)
    try {
      val (inferred, inferJobs) = jobsToBuild(None)
      val (known, knownJobs) = jobsToBuild(Some(mkDF(0, 1).schema))
      assert(inferJobs >= 1, "a schema-less read infers the schema with a job")
      assert(knownJobs == 0, s"a known-schema read ran $knownJobs jobs before any action")
      val want = inferred.as[(String, Long)].collect().toSet
      assert(want.size == 8)
      assert(known.as[(String, Long)].collect().toSet == want)
    } finally sc.removeSparkListener(counter)
  }
}
