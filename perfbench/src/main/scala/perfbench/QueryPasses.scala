package perfbench

import scala.collection.mutable


import graft.SparkEntry

object Workloads {
  /** The reference-semantics queries: many short scan-and-window
    * queries, so per-query fixed cost dominates. */
  val Etl: Seq[String] = Seq(
    "a1_extract_hashtags", "a2_extract_links", "a3_normalize_messages", "a4_upsert_latest",
    "a5_link_selection", "a6_content_hash", "a7_html_extract", "a8_dedup_latest",
    "a9_dedup_first_by_hash", "a10_orphan_cleanup", "a11_failed_cleanup", "a12_retention",
    "a13_cleanup_stats", "a13b_stats_approx", "a14_mode_incremental", "a15_json_props",
    "a17_reactions_agg", "a18_snapshot_diff")

  /** The near-dup and decontamination queries: text kernels, self-join
    * shuffles and eager jobs inside the builders. */
  val Dedup: Seq[String] = Seq(
    "c1_dedup_exact", "c2_dedup_minhash", "c3_dedup_simhash", "c3b_simhash_ham3",
    "c4_dedup_ngram_jaccard", "c5_dedup_embedding", "c19_decontaminate", "c21_pipeline",
    "c22_dedup_clusters", "c29_decontaminate_bloom", "c32_dup_spans", "c34_incremental_gate",
    "c35_span_rewrite", "c36c_semdedup_incremental", "c37_fuzzy_decontaminate",
    "c38_cluster_keep_best", "c45_line_dedup")
}

/** `etl` and `dedup`: passes over a fixed query list, in an order the
  * seed draws afresh for every pass. Each query is built with
  * `SparkEntry.queries(name)(spark, dir)` and executed; steady passes
  * execute into the noop sink, which computes every output column and
  * writes nothing. */
final class QueryPasses(names: Seq[String], a: Main.Args, out: Result) extends Common(a, out) {
  private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
    sys.error(s"graft has no query '$n'"))).toMap

  def run(): Unit = {
    val (spark, _) = timedSetup(s => s.range(1).count())
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.take())
    val check = s"${a.work}/check"
    val rowsRead = mutable.Map[String, Long]() // table path -> rows
    var rowsPerPass = 0L

    /** One pass in the given order. The cold pass writes each output as
      * parquet for run.py's oracle check (what a scheduled run pays);
      * steady passes use the noop sink. Returns the pass seconds and the
      * seconds of each query that did not throw. */
    def pass(id: Int, order: Seq[String], cold: Boolean): (Double, Seq[Double]) = {
      val gcJit0 = jvmReading()
      val spans = mutable.ArrayBuffer[(String, Long, Long, Long)]() // group, start, built, end
      var untimed = 0L
      val p0 = System.nanoTime()
      for (name <- order) {
        val group = s"p$id:$name"
        out.attempted += 1
        val (n, f) = out.executions.getOrElse(name, (0, 0))
        out.executions(name) = (n + 1, f)
        val t0 = System.nanoTime()
        try {
          if (tracer.isDefined) spark.sparkContext.setJobGroup(group + Tracer.Build, name)
          val df = fns(name)(spark, a.data)
          val built = System.nanoTime()
          if (tracer.isDefined) spark.sparkContext.setJobGroup(group + Tracer.Exec, name)
          if (cold) df.write.mode("overwrite").parquet(s"$check/$name")
          else df.write.format("noop").mode("overwrite").save()
          spans += ((group, t0, built, System.nanoTime()))
          if (cold) {
            val u0 = System.nanoTime()
            rowsPerPass += df.inputFiles.map(f => f.substring(0, f.indexOf(".parquet") + 8))
              .distinct.map(t => rowsRead.getOrElseUpdate(t, spark.read.parquet(t).count())).sum
            untimed += System.nanoTime() - u0
          }
        } catch {
          case e: Throwable =>
            out.failed += 1
            out.executions(name) = (n + 1, f + 1)
            out.errors += s"$name (pass $id): $e"
        }
      }
      val p1 = System.nanoTime()
      System.err.println(f"[perfbench] pass $id: ${(p1 - p0 - untimed) / 1e9}%.3f s")
      tracer.foreach { t =>
        spark.sparkContext.clearJobGroup()
        if (!cold) windows += passLayers(t.take(), us(p0), us(p1), (p1 - p0) / 1e9, spans.toSeq, gcJit0)
      }
      ((p1 - p0 - untimed) / 1e9, spans.map { case (_, t0, _, t1) => (t1 - t0) / 1e9 }.toSeq)
    }

    def order(): Seq[String] = rng.shuffle(names)

    val (coldS, _) = pass(0, order(), cold = true)
    out.e2e("cold_s", coldS, "s")
    writeOracleSql(check)
    tracer.foreach(_.take())
    // one untimed warm-up pass: the first pass after the cold one can
    // still run slower than later passes (see README, Measured)
    out.info("warmup_pass_s") = f"${pass(1, order(), cold = false)._1}%.3f"
    windows.clear()

    // steady passes until `seconds` have passed, and at least two: the
    // latencies of one pass are 18 samples, too few for a steady median
    val passTimes = mutable.ArrayBuffer[Double]()
    val lat = mutable.ArrayBuffer[Double]()
    val steady0 = System.nanoTime()
    var id = 2
    while (passTimes.size < 2 || (System.nanoTime() - steady0) / 1e9 < a.seconds) {
      val (s, l) = pass(id, order(), cold = false)
      passTimes += s
      lat ++= l
      id += 1
    }
    tracer.foreach(_.detach())
    out.e2e("pass_s", Stats.median(passTimes.toSeq), "s")
    out.e2e("query_p50_s", Stats.median(lat.toSeq), "s")
    // each query is one unit of work submitted and awaited: its batch
    out.e2e("batch_p50_s", Stats.median(lat.toSeq), "s")
    out.e2e("rows_per_s", rowsPerPass * passTimes.size / passTimes.sum, "rows/s")
    tail("query", lat.toSeq)
    out.info("steady_passes") = passTimes.size.toString
    out.info("pass_s_each") = passTimes.map(t => f"$t%.3f").mkString(" ")
    out.info("rows_per_pass") = rowsPerPass.toString
    reportLayers()
    if (a.trace) out.layer("trace.pass_s", Stats.median(passTimes.toSeq), "s")
    Main.stopSession(spark)
  }

  /** The oracle SQL of this workload's queries, beside their outputs. */
  private def writeOracleSql(dir: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = names.flatMap(n => oracle.get(n).map(n -> _)).map { case (k, v) =>
      Result.quote(k) + ":" + Result.quote(v)
    }.mkString("{", ",", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), json.getBytes("UTF-8"))
  }

  /** Layer figures of one traced pass. */
  private def passLayers(w: Window, from: Long, to: Long, wallS: Double,
                         spans: Seq[(String, Long, Long, Long)],
                         gcJit0: (Double, Double)): mutable.LinkedHashMap[String, Double] = {
    val r = operatorsAndJvm(w, wallS, from, to, gcJit0)
    def put(k: String, v: Double, u: String): Unit = { r(k) = v; units(k) = u }
    def stagesOf(group: String) =
      w.stages.collect { case (g, s, e) if g == group => (s * 1000, e * 1000) }
    val build = spans.map { case (g, t0, b, _) => (g, us(t0), us(b)) }
    val exec = spans.map { case (g, _, b, t1) => (g, us(b), us(t1)) }
    put("tables.scan_task_s", w.scanTaskMs / 1e3, "s")
    put("tables.scan_tasks", w.scanTasks, "count")
    put("tables.input_mb", w.inputBytes / 1e6, "MB")
    put("sparkentry.build_s", build.map { case (_, s, e) => e - s }.sum / 1e6, "s")
    put("sparkentry.eager_jobs", w.buildJobs, "count")
    put("sources.output_mb", 0, "MB")
    put("sources.files_added", 0, "count")
    Seq("streaming.add_batch_s" -> "s", "streaming.commit_s" -> "s",
      "streaming.jobs_per_batch" -> "count", "streaming.store_files" -> "count",
      "streaming.admit_ratio" -> "fraction").foreach { case (k, u) => put(k, 0, u) }
    // self time of each span kind: run > pass > query (build, execute) > stage
    val allStages = w.stages.map { case (_, s, e) => (s * 1000, e * 1000) }
    put("self.pass_s", Stats.selfTime((from, to),
      spans.map { case (_, t0, _, t1) => (us(t0), us(t1)) }) / 1e6, "s")
    put("self.build_s", build.map { case (g, s, e) =>
      Stats.selfTime((s, e), stagesOf(g + Tracer.Build)) }.sum / 1e6, "s")
    put("self.execute_s", exec.map { case (g, s, e) =>
      Stats.selfTime((s, e), stagesOf(g + Tracer.Exec)) }.sum / 1e6, "s")
    put("self.stage_s", Stats.coveredWithin(allStages, from, to) / 1e6, "s")
    r
  }
}
