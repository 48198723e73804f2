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
  * top of it. Nothing is layered over the scan: a small single-file
  * table reads as one task, and a query's first exchange is its own.
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
  /** Load a registry table: a plain parquet scan through
    * `readParquet`, so a repeat load of an unchanged table runs no
    * schema-inference job.
    *
    * events.ts has shipped in TWO physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS), which Spark reads only as
    * long nanos under `spark.sql.legacy.parquet.nanosAsLong` (set by
    * `GraftSession`; without it such a file is rejected), and plain
    * TIMESTAMP(MICROS)/_NTZ. The loader adapts to whatever the file
    * stores, so the engine's `ts` is always a session TimestampType —
    * E16's schema-drift tolerance applied to the registry's own
    * tables. Loading writes no session conf. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events") eventsFromRaw(df) else df
  }

  /** Raw `events` (ts in its STORED type — nanos long for legacy
    * TIMESTAMP(NANOS) files, timestamp[_ntz] for current ones) — for
    * pushdown-sensitive event-time filters: a predicate built in the
    * stored type reaches the parquet scan (and prunes row groups /
    * partitions), which a predicate on a CONVERTED column never does
    * (it's a computed column to Catalyst). */
  def loadEventsRaw(spark: SparkSession, dir: String): DataFrame =
    readParquet(spark, s"$dir/events.parquet")

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
