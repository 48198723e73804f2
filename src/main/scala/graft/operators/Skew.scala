package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY E5, §5): salted equi-join for hot keys.
  *
  * AQE's skew-join split handles most skew at runtime; salting is the
  * explicit fallback when one key dominates so badly that even split
  * partitions bottleneck (the classic null-key / celebrity-key case),
  * or when AQE is unavailable (streaming joins).
  *
  * The probe side scatters each row into one of `salts` sub-keys via
  * a deterministic hash of a unique column; the build side replicates
  * each row `salts` times. The join key becomes (key, salt): the hot
  * key's rows spread over `salts` reducers instead of one. Cost:
  * build side inflates ×salts — use for dimension-sized build sides.
  */
object Skew {

  /** Corpus-scale floor for the near-dup family's adaptive plan
    * choices (the Jaccard/MinHash build-once barrier): inputs whose
    * plan-time stats sizeInBytes clear this get the scale-shaped
    * plan; toy inputs skip the extra stages it costs. The barrier is
    * a pure win only once the set build is expensive: it costs a
    * fixed extra stage round-trip plus set-table re-exchanges (~0.5 s
    * of local scheduling — measured +0.55 s at sf0.1/5k docs,
    * +0.28 s at sf1/50k docs, where the 4× rebuild it removes is
    * milliseconds) and saves 3 of 4 set-build executions (measured
    * −7.3 s and a restored 16→32-thread curve at sf10/500k docs).
    * Crossover sits near ~12 MB of input; 16 MB (≈ 10⁵ docs of
    * compressed text) keeps every oracle/spec fixture on the inline
    * plan while anything corpus-shaped gets the single-build barrier. */
  val CorpusScaleMinInputBytes: Long = 16L << 20

  /** Whether `docs` clears `CorpusScaleMinInputBytes`, judged on its
    * optimizedPlan stats — for a file scan the actual file size, for
    * derived plans a Catalyst estimate; both error directions only
    * flip which of two CORRECT plan shapes runs. */
  def corpusScale(docs: DataFrame): Boolean =
    docs.queryExecution.optimizedPlan.stats.sizeInBytes >= CorpusScaleMinInputBytes

  /** Inner equi-join of `probe` and `build` on `key`, salted to
    * `salts` sub-partitions. `probeUnique` is any column giving a
    * deterministic per-row spread (an id). Result = plain inner join
    * on the key columns. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 probeUnique: Column, salts: Int): DataFrame = {
    val p = probe.withColumn("__salt", pmod(xxhash64(probeUnique), lit(salts)).cast("int"))
    val b = build.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    p.join(b, Seq(key, "__salt")).drop("__salt")
  }

  /** The two sides of a near-dup pair-generating self-join on
    * `keyCols` (MinHash bands, Jaccard prefixes, SimHash chunks) and
    * the predicate that ties their salts. The caller aliases the
    * sides "a" and "b" and keeps its own join, condition and hints.
    *
    * `salts` ≤ 1, every caller's default: `table` twice and
    * `lit(true)`, the plain self-join. `salts` ≥ 2 is the
    * boilerplate-corpus opt-in: `selfJoinSides` spreads each key
    * holding more than `hotMin` rows over `salts` tasks, and since
    * every pair still meets exactly once the candidate set is the
    * same at any setting (per-pair-instance filters in the join
    * condition commute with it; NearDupSpec pins parity). Opt-in
    * because detection is paid on every corpus — measured ~9% (c2) /
    * ~22% (c4) at sf10 on a uniform corpus where it buys nothing, vs
    * a 1.4× wall / 1.9× straggler win on the skewed twin (SURVEY §6
    * round 12, `records/skewbench_sf1_*_r12.json`) — and a pipeline that runs
    * exact/line dedup first (C1/C45) strips the worst boilerplate
    * before a near-dup operator sees it.
    *
    * Salting adds a third consumer of the key table (the hot-key
    * count, beside the two sides), so the table first goes behind a
    * reuse barrier, a repartition on xxhash64(`unique`, `spread`):
    * detection reads the barrier instead of re-running the upstream
    * pipeline per consumer. The derived key cannot be elided, and the
    * downstream exchanges re-key on (keys…, __salt) anyway, so
    * `spread` only has to give a balanced deterministic spread. */
  def saltedSelfJoin(table: DataFrame, keyCols: Seq[String], unique: Column,
                     spread: Column, salts: Int,
                     hotMin: Long): (DataFrame, DataFrame, Column) =
    if (salts > 1) {
      val (a, b) = selfJoinSides(table.repartition(xxhash64(unique, spread)),
        keyCols, unique, salts, hotMin)
      (a, b, col("a.__salt") === col("b.__salt"))
    } else (table, table, lit(true))

  /** Hot-key salted sides for a pair-generating SELF-join (the
    * near-dup family's band/prefix joins, SURVEY §6 round-12).
    *
    * The skew AQE cannot fix: a boilerplate template shared by f·n
    * docs puts f·n rows under ONE band/prefix key, and the self-join
    * then emits (f·n)² candidate pairs FROM ONE TASK — input bytes
    * look balanced (AQE's skew split sees nothing), output work is
    * quadratic and serial (callers reach this through
    * `saltedSelfJoin`). Salting spreads it: scatter each LEFT row
    * of a hot key into one of `salts` sub-keys by a hash of its
    * unique id, replicate RIGHT rows of hot keys across all `salts`
    * sub-keys, join on (key…, __salt). Every (a, b) pair still meets
    * EXACTLY ONCE — at a's salt — so the candidate SET is identical
    * (the parity property NearDupSpec pins); the hot key's emission
    * spreads over `salts` tasks. Cold keys ride salt 0 unreplicated:
    * cost on an unskewed corpus is one key-partitioned window
    * exchange (shared by both sides via ReusedExchange), a per-side
    * sort for the window, and the two (keys…, __salt) repartitions —
    * the opt-in cost `saltedSelfJoin` cites.
    *
    * Hot detection is DECLARATIVE and SINGLE-LINEAGE: a count() over
    * a window partitioned by the key attaches each row's key
    * multiplicity in place — no second aggregation branch (a separate
    * count branch gets column-pruned into a canonically DIFFERENT
    * subtree, so exchange reuse dies and the whole upstream pipeline
    * runs twice — measured as a 3× regression on the first cut of
    * this helper), no broadcast list, no driver action, no key-count
    * cap to caveat. Both sides read the same key-partitioned exchange
    * (ReusedExchange); the window's per-consumer cost is one sort of
    * the light key table.
    *
    * Returns (scattered, replicated): both carry every column of
    * `table` plus `__salt`; join them on the key columns AND
    * `__salt`, then drop/ignore `__salt`. */
  def selfJoinSides(table: DataFrame, keyCols: Seq[String], unique: Column,
                    salts: Int, hotMin: Long): (DataFrame, DataFrame) = {
    require(salts >= 2, s"salts must be >= 2, got $salts")
    import org.apache.spark.sql.expressions.Window
    val counted = table.withColumn("__n",
      count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
    val saltKeys = (keyCols :+ "__salt").map(col)
    // the explicit (keys…, __salt) repartition is LOAD-BEARING, not a
    // hint: the window above leaves both sides hash-partitioned on
    // the bare keys, which ALREADY satisfies the join's clustered
    // distribution (subset-key co-partitioning), so without it the
    // planner happily runs the join on the key partitioning and every
    // salt cell of a hot key lands back in ONE task — salting would
    // alter the plan and split nothing. Forcing both sides onto the
    // full (keys…, salt) partitioning is what actually spreads a hot
    // key over `salts` tasks (and the join then needs no further
    // exchange; elision cannot fold it into the window's bare-key
    // exchange because the expression lists differ).
    //
    // The EXPLICIT partition count is load-bearing for the same
    // reason (round 13): a bare REPARTITION_BY_COL is fair game for
    // AQE's input-byte partition coalescing, and a hot salt cell is
    // exactly the partition AQE misjudges — a few MB of input rows
    // that emit a quadratic pair volume. Measured on the skewed sf1
    // twin at 256 partitions: AQE packed ~20-30 salt cells back into
    // one reducer and the salted straggler sat at 23.6-30.9 s
    // regardless of salts (16 or 64) or partition count (32 or 256);
    // the same plan with non-coalescible placement runs the max task
    // at 2.9 s. REPARTITION_BY_NUM (the session count, read at plan
    // time like Jaccard.barriered) pins the cell spread without
    // touching AQE anywhere else — the cost, more (mostly tiny)
    // tasks on an unskewed corpus, lands only on callers who opted
    // into salting.
    val parts = table.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val scattered = counted
      .withColumn("__salt",
        when(col("__n") > hotMin, pmod(xxhash64(unique), lit(salts)).cast("int"))
          .otherwise(lit(0)))
      .drop("__n")
      .repartition(parts, saltKeys: _*)
    val replicated = counted
      .withColumn("__salt", explode(
        when(col("__n") > hotMin, sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .drop("__n")
      .repartition(parts, saltKeys: _*)
    (scattered, replicated)
  }
}
