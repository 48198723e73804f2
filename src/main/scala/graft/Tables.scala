package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table registry/loader for the graft engine (SURVEY §E1).
  *
  * Loads the synthetic star-schema + document/embedding tables from a
  * scale-factor directory. At cluster scale the same API fronts a
  * partitioned data lake: `load` is a plain parquet scan, so Catalyst
  * column pruning and predicate pushdown apply to everything built on
  * top of it.
  *
  * Repeat loads are cheap: parquet schema inference is a Spark job
  * per read, so `readParquet` remembers each table's inferred schema
  * and hands it to later reads. The memo is keyed on the table path,
  * the length and modification time of its files and the session
  * confs that shape inference; a rewritten table or a flipped conf
  * infers afresh. It holds schemas, not DataFrames, so every load
  * still gets its own attribute ids and two loads of one table
  * self-join like two independent reads.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Adaptive SCAN FAN-OUT (optimization round 17, guide §2.5 "input
    * skew: one huge unsplittable file"): the testdata tables are
    * single-file, SINGLE-ROW-GROUP parquet, so every scan is exactly
    * one task regardless of `maxPartitionBytes` — and each query's
    * whole map pass (tokenize/shingle/md5/regex) serialized on one
    * core while the other 31 idled (measured: c53's fingerprint
    * aggregation spent 0.66 s of its 1.45 s wall in a 1-task stage,
    * OPTIMIZATION_r17.md). A round-robin repartition right after the
    * read moves the few (< one split's worth of) megabytes once and
    * unlocks the cores for every downstream map stage.
    *
    * Scale-adaptive by construction, not a local[32] constant: the
    * fan-out fires only when the WHOLE table is at most one scan
    * split (`spark.sql.files.maxPartitionBytes`) — i.e. exactly when
    * the scan provably cannot parallelize on its own. A corpus-sized
    * table (any table past one split, 128 MB at the default) is left
    * untouched: its scan already fans out and the repartition would
    * be the classic "repartition for parallelism" anti-pattern the
    * optimization guide warns about. Catalyst pushes filters and
    * column pruning THROUGH the repartition, so PushedFilters /
    * ReadSchema at the scan are unchanged (spec-pinned). Correctness
    * is partitioning-independent for every declared query by the §4
    * portability discipline (decimal-exact sums, md5-ranked orders —
    * anything order-sensitive could never have hash-matched a
    * different engine in the first place).
    *
    * Tables smaller than this floor never fan out: for a few-KB
    * dimension table the extra exchange costs more than the
    * parallelism buys. */
  private val FanoutMinBytes = 128L << 10

  /** The tables a DEFAULT (`fanoutParts = -1`) consumer fans out: the
    * two corpus tables whose EVERY consumer runs the engine's heavy
    * per-byte map kernels (tokenize/shingle/md5 over `documents`,
    * vector math over `embeddings`) — measured interleaved A/B:
    * fan-out wins 0.85x total over the text/vector family but LOSES
    * 1.45x over the cheap-scan relational family (lineitem/orders/
    * events TPC-H aggregations, where the extra exchange outweighs
    * the map parallelism it buys). A consumer that forces its own
    * width (`fanoutParts` = n > 0, the `tFan`/`tNarrow` loaders in
    * SparkEntry) fans out whether or not its table is listed. */
  private val FanoutTables = Set("documents", "embeddings")

  /** Fan-out width for WIDE-AGGREGATION/MULTI-ACTION consumers
    * (`load(.., fanoutParts = narrowFanoutParts(s))`). 2, NOT
    * cores/4: those consumers pay a per-task fixed cost —
    * UnsafeProjection SOURCE generation for wide aggregate buffers
    * (Dsir/Classifier kernels, PQ/embedding result projections),
    * measured at ~300-600 ms per task and SERIALIZED across tasks by
    * the codegen cache lock (OPTIMIZATION_r17.md "Per-task fixed
    * costs") — so with work T and per-task constant K the useful
    * width is ~sqrt(T/K) ≈ 2 at sub-second T, independent of the
    * core count. Round-17's per-table cores/4 width multiplied that
    * constant 8× at 32 cores and regressed the whole train+score
    * family on the driver's box (VERDICT r17: c46 3.0×, c33 2.0×,
    * c52, c51, c31, c53 — all FASTER at 8 cores than 32). */
  private val NarrowFanoutParts = 2

  /** Width for wide-aggregation/multi-action consumers — see
    * `NarrowFanoutParts`. */
  def narrowFanoutParts(spark: SparkSession): Int = NarrowFanoutParts

  /** Default fan-out width: the session's default parallelism / 4,
    * at least 2 (see `scanFanout` for why not the full core count).
    * Also the width of a FORCED per-consumer fan-out of a table
    * outside `FanoutTables` (the events JSON-parse family: round-17
    * A/B measured a17/a15 at 0.58× and a13 at 0.81× under an events
    * fan-out that lost on every cheap events query — per-consumer is
    * the shape that keeps the win without the blanket loss). */
  def defaultFanoutParts(spark: SparkSession): Int =
    math.max(2, spark.sparkContext.defaultParallelism / 4)

  private def scanFanout(spark: SparkSession, df: DataFrame, name: String,
                         fanoutParts: Int): DataFrame = {
    // per-consumer width (round 18): -1 = the per-table default;
    // 0 = this consumer opts OUT (its plan pays more per task than the
    // parallelism buys); n > 0 = this consumer fans out to exactly n,
    // whether or not the table is in the default list. The size gates
    // below apply to every arm, so the fan-out stays scale-inert: a
    // table past one scan split never fans out for anyone.
    if (fanoutParts == 0) return df
    if (fanoutParts < 0 && !FanoutTables(name)) return df
    // cores/4, not cores: each fanned-out task pays a fixed setup cost
    // (per-task UnsafeProjection source generation, object-agg buffer
    // init — ~10-600 ms depending on plan width, measured via thread
    // dumps in OPTIMIZATION_r17.md), so past the point where the map
    // pass is spread "enough", more tasks just multiply that constant:
    // an interleaved A/B over 22 queries measured 8 partitions beating
    // 32 at ratio 0.889 (sf0.1, local[32]), with only the two
    // biggest-input tables (lineitem, events) marginally preferring 32
    val n = if (fanoutParts > 0) fanoutParts else defaultFanoutParts(spark)
    if (n <= 1) return df
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxSplit = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    if (bytes < BigInt(FanoutMinBytes) || bytes > maxSplit) return df
    // size said "at most one split's worth" — but a MULTI-FILE table
    // of the same bytes already scans in parallel (Spark packs small
    // files into openCostInBytes-weighted splits, so >= n files means
    // >= n-ish tasks): only a low-file-count scan needs help. The
    // file count comes off the read's own FileIndex (already listed —
    // a df.rdd.getNumPartitions peek would be exact but re-plans the
    // scan per load call, measured +0.15-0.3 s per query).
    if (df.inputFiles.length < n) df.repartition(n) else df
  }

  /** Load a registry table. `fanoutParts` is the PER-CONSUMER scan
    * fan-out width (round 18): -1 (default) = the per-table default
    * (`FanoutTables`), 0 = no fan-out for this consumer, n > 0 = fan
    * out to exactly n partitions (even for a table outside the
    * default list). See scanFanout — the ≤-one-split size gate
    * applies to every setting, so all of this is inert at corpus
    * scale. The read itself goes through `readParquet`, so a repeat
    * load of an unchanged table runs no schema-inference job.
    *
    * events.ts has shipped in TWO physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS), which Spark reads only as
    * long nanos under `spark.sql.legacy.parquet.nanosAsLong` (set by
    * `GraftSession`; without it such a file is rejected), and plain
    * TIMESTAMP(MICROS)/_NTZ. The loader adapts to whatever the file
    * stores, so the engine's `ts` is always a session TimestampType —
    * E16's schema-drift tolerance applied to the registry's own
    * tables. Loading writes no session conf. */
  def load(spark: SparkSession, dir: String, name: String,
           fanoutParts: Int = -1): DataFrame = {
    val df = scanFanout(spark, readParquet(spark, s"$dir/$name.parquet"), name, fanoutParts)
    if (name == "events") eventsFromRaw(df) else df
  }

  /** Raw `events` (ts in its STORED type — nanos long for legacy
    * TIMESTAMP(NANOS) files, timestamp[_ntz] for current ones) — for
    * pushdown-sensitive event-time filters: a predicate built in the
    * stored type reaches the parquet scan (and prunes row groups /
    * partitions), which a predicate on a CONVERTED column never does
    * (it's a computed column to Catalyst). The scan fan-out sits
    * ABOVE the scan, so stored-domain pushdown is unaffected. */
  def loadEventsRaw(spark: SparkSession, dir: String,
                    fanoutParts: Int = -1): DataFrame =
    scanFanout(spark, readParquet(spark, s"$dir/events.parquet"), "events", fanoutParts)

  /** The session confs that shape parquet schema inference in Spark
    * 4.1: the five flags `ParquetToSparkSchemaConverter` is built from
    * (binary-as-string, INT96-as-timestamp, NTZ inference, nanos-as-
    * long, unknown-type annotations), plus the two that choose which
    * footers are read (merge across files, summary files). */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  /** What an inferred parquet schema depends on: the qualified path,
    * every file under it as (path, length, modification time), and
    * the values of `InferenceConfs`. */
  private final case class SchemaKey(path: String, files: Seq[(String, Long, Long)],
                                     confs: Seq[Option[String]])

  /** Bound on remembered schemas (least recently used go first); the
    * registry has ten tables per scale-factor directory. */
  private val SchemaMemoCap = 64

  private val schemaMemo =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size() > SchemaMemoCap
    }

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      // a file lists as itself, a directory as every file under it
      val it = fs.listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sortBy(_._1)
      Some(SchemaKey(fs.makeQualified(p).toString, files,
        InferenceConfs.map(spark.conf.getOption)))
    } catch {
      // missing path (or a glob): no memo — the plain read below
      // raises Spark's own error, or expands the glob itself
      case _: java.io.FileNotFoundException => None
    }
  }

  /** `spark.read.parquet(path)` that infers the schema once per table
    * state (see the object doc): a memo hit passes the schema to the
    * read, which then starts no job until an action. Files are listed
    * through Hadoop `FileSystem`, so directories and non-local paths
    * work. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = schemaKey(spark, path)
    key.flatMap(k => schemaMemo.synchronized(Option(schemaMemo.get(k)))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemaMemo.synchronized(schemaMemo.put(k, df.schema)))
        df
    }
  }

  /** Nanos-since-epoch of a UTC 'yyyy-MM-dd HH:mm:ss' literal —
    * the raw-domain image of a timestamp cutoff for nanos-long
    * columns. Exact for whole seconds, so raw >= tsNanos(c) ⟺
    * converted ts >= c. */
  def tsNanos(ts: String): Long =
    java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L

  /** A cutoff literal in the STORED type of `df`'s time column, so
    * the comparison stays on the stored column and is pushed to the
    * scan whichever physical form the file uses: long nanos for
    * legacy TIMESTAMP(NANOS) reads, TIMESTAMP_NTZ for ntz columns,
    * session timestamp otherwise. `ts` is 'yyyy-MM-dd HH:mm:ss[.S]'
    * interpreted as UTC (the session zone of record). */
  def storedTsLit(df: DataFrame, colName: String, ts: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(colName).dataType match {
      case LongType         => lit(tsNanos(ts))
      case TimestampNTZType => lit(ts).cast(TimestampNTZType)
      case _                => lit(ts).cast("timestamp")
    }
  }

  /** Standard shape from raw events: ts as a session TimestampType,
    * whatever the stored form — nanos longs truncate to micros
    * (exactly what DuckDB/Arrow do when narrowing ns → µs), ntz
    * reinterprets its wall clock in the session zone (UTC here, so
    * values are identical to the legacy conversion). */
  def eventsFromRaw(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }

  /** Load any supported lake format with an optional explicit schema
    * (csv/json need one for stable types; parquet carries its own). */
  def loadFormat(spark: SparkSession, path: String, format: String,
                 schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.format(format)
    val withSchema = schema.fold(if (format == "csv") r.option("inferSchema", "true") else r)(r.schema)
    (if (format == "csv") withSchema.option("header", "true") else withSchema).load(path)
  }

  /** Register every table as a temp view (for spark.sql users). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Schema-drift-tolerant union load (SURVEY E16): one DataFrame
    * over CORPUS GENERATIONS whose schemas drifted — later crawls add
    * columns (a quality score, a license tag), early ones lack them.
    * Parquet's own mergeSchema handles ADDED columns only when types
    * agree; this also reconciles a column that changed NUMERIC WIDTH
    * across generations (int → long, float → double) by widening
    * every generation to the common type before `unionByName` with
    * missing-column nulls. Incompatible changes (string → int) fail
    * loudly rather than silently coercing.
    *
    * Scale: each generation stays its own parquet scan (pruning and
    * pushdown intact per source); the union is plan-level, not a
    * shuffle. */
  def loadGenerations(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "loadGenerations: need at least one path")
    import org.apache.spark.sql.types._
    val frames = paths.map(p => spark.read.parquet(p))
    def isInt(t: DataType): Boolean =
      t == ByteType || t == ShortType || t == IntegerType || t == LongType
    def isFloat(t: DataType): Boolean = t == FloatType || t == DoubleType
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (x, y) if isInt(x) && isInt(y) =>
        if (x.defaultSize >= y.defaultSize) x else y
      case (x, y) if isInt(x) && isFloat(y) => y
      case (x, y) if isFloat(x) && isInt(y) => x
      case (x, y) if isFloat(x) && isFloat(y) =>
        if (x.defaultSize >= y.defaultSize) x else y
      // decimal width drift (DECIMAL(10,2) vs DECIMAL(18,4)) widens to
      // a type holding both: max integral digits + max scale, capped
      // at Spark's 38-digit maximum
      case (x: DecimalType, y: DecimalType) =>
        val scale = math.max(x.scale, y.scale)
        val intDigits = math.max(x.precision - x.scale, y.precision - y.scale)
        DecimalType(math.min(DecimalType.MAX_PRECISION, intDigits + scale), scale)
      case (x, y) => throw new IllegalArgumentException(
        s"loadGenerations: incompatible drift for a column: $x vs $y")
    }
    val merged: Map[String, DataType] = frames.flatMap(_.schema.fields)
      .groupBy(_.name).map { case (n, fs) =>
        n -> fs.map(_.dataType).reduce(widen)
      }
    // FIRST-SEEN column order — the first generation's declared order,
    // then columns newly added by later generations in discovery
    // order. Alphabetical re-sorting surprises positional readers and
    // writers of the unioned frame.
    val ordered = frames.foldLeft(Vector.empty[String]) { (acc, f) =>
      acc ++ f.schema.fieldNames.filterNot(acc.contains)
    }
    val aligned = frames.map { f =>
      val cols = f.schema.fieldNames.toSet
      f.select(ordered.map { n =>
        if (cols(n)) org.apache.spark.sql.functions.col(n).cast(merged(n))
        else org.apache.spark.sql.functions.lit(null).cast(merged(n)).as(n)
      }: _*)
    }
    aligned.reduce(_ unionByName _)
  }

  private def jdbcProps(props: Map[String, String]): java.util.Properties = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** JDBC source — the reference's persistence layer is a SQL
    * database read row-at-a-time (pasta-pipeline
    * `dags/processors/telegraph_processor.py:82-88`); here the same
    * table arrives as a DataFrame with Catalyst pushing filters and
    * column pruning into the generated SQL (the scan shows
    * `PushedFilters`), so only the needed rows/columns cross the
    * wire. Single connection — for big tables use the partitioned
    * overload. */
  def loadJdbc(spark: SparkSession, url: String, table: String,
               props: Map[String, String] = Map()): DataFrame =
    spark.read.jdbc(url, table, jdbcProps(props))

  /** Partitioned JDBC read: `numPartitions` parallel range queries on
    * `partitionCol` (one executor task each, WHERE-clause ranges over
    * [lower, upper]) — the scale path for ingesting a large table
    * without funnelling it through one connection. */
  def loadJdbc(spark: SparkSession, url: String, table: String,
               partitionCol: String, lower: Long, upper: Long, numPartitions: Int,
               props: Map[String, String]): DataFrame =
    spark.read.jdbc(url, table, partitionCol, lower, upper, numPartitions,
      jdbcProps(props))
}
