package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.readParquet`'s schema memo: repeat loads start no job, and
  * anything that changes the inferred schema — the table's files or
  * an inference conf — infers afresh. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Result of `body` and the Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Listeners.settle(sc)
    sc.addSparkListener(counter)
    try {
      val r = body
      Listeners.settle(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  test("a repeat Tables.load of an unchanged table starts no Spark job") {
    val dir = Files.createTempDirectory("graft-tables-memo").toString
    (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(firstJobs >= 1, "the first load infers the schema with a job")
    val (second, secondJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(secondJobs == 0, s"repeat load ran $secondJobs jobs")
    assert(second.schema == first.schema)
    // the memo holds schemas, not frames: two loads are independent
    // reads, so their self-join resolves like any other
    assert(second.queryExecution.analyzed.output.map(_.exprId)
      .intersect(first.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    assert(first.join(second, first("id") === second("id") + 1).count() == 49L)
  }

  test("a table rewritten at the same path is re-inferred") {
    val dir = Files.createTempDirectory("graft-tables-rewrite").toString
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v2 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "extra")
    v1.write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    Tables.load(spark, dir, "t") // memo hit
    v2.write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables.load(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "v", "extra"))
    assert(back.select("extra").as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))

    // a single-file table replaced in place: same name, new bytes
    def partFile(d: String) = Files.list(Paths.get(d)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    v1.coalesce(1).write.parquet(s"$dir/v1")
    v2.coalesce(1).write.parquet(s"$dir/v2")
    val single = Paths.get(s"$dir/s.parquet")
    Files.copy(Paths.get(partFile(s"$dir/v1")), single)
    assert(Tables.load(spark, dir, "s").columns.toSeq == Seq("id", "v"))
    Files.copy(Paths.get(partFile(s"$dir/v2")), single, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.load(spark, dir, "s").columns.toSeq == Seq("id", "v", "extra"))
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-infers events.ts") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // the legacy events form: ts stored as parquet TIMESTAMP(NANOS),
    // which Spark reads only as a long under the legacy conf
    val dir = Files.createTempDirectory("graft-tables-nanos").toString
    val path = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Tables.tsNanos("2024-01-10 12:30:00") + 123456789L
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(path),
      spark.sparkContext.hadoopConfiguration)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos))
    finally w.close()

    val before = spark.conf.getOption(NanosKey)
    try {
      // the session conf GraftSession sets: the long form, memoized
      spark.conf.set(NanosKey, "true")
      assert(Tables.loadEventsRaw(spark, dir).schema("ts").dataType == LongType)
      assert(Tables.readParquet(spark, path).schema("ts").dataType == LongType)
      // flipped off, the same file infers afresh — and Spark rejects
      // the nanos column instead of getting the remembered long, in a
      // load too (which leaves the conf alone)
      spark.conf.set(NanosKey, "false")
      val e = intercept[AnalysisException](Tables.readParquet(spark, path))
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
      intercept[AnalysisException](Tables.load(spark, dir, "events"))
      // back on, the session-timestamp shape follows
      spark.conf.set(NanosKey, "true")
      val ev = Tables.load(spark, dir, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String]
        .head() == "2024-01-10 12:30:00.123456")
    } finally before.fold(spark.conf.unset(NanosKey))(spark.conf.set(NanosKey, _))
  }

  test("Tables.load and loadEventsRaw leave nanosAsLong as they found it") {
    // a TIMESTAMP(MICROS) events table, the form every shipped
    // scale-factor directory stores: it reads the same either way
    val dir = Files.createTempDirectory("graft-tables-conf").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-10 12:30:00"))).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val before = spark.conf.getOption(NanosKey)
    try for (state <- Seq(None, Some("false"), Some("true"))) {
      state.fold(spark.conf.unset(NanosKey))(spark.conf.set(NanosKey, _))
      val found = spark.conf.getOption(NanosKey) // an unset key reads its default
      assert(Tables.load(spark, dir, "events").count() == 1L)
      assert(Tables.loadEventsRaw(spark, dir).count() == 1L)
      assert(spark.conf.getOption(NanosKey) == found, s"a load changed $NanosKey from $found")
    } finally before.fold(spark.conf.unset(NanosKey))(spark.conf.set(NanosKey, _))
  }
}
