package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_manifest.json with each query's status ("ok"/"failed"),
  * error message and elapsed seconds. Exits 1, naming the failed
  * queries, when any query threw — after every output is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir>")
    val sfDir = args(0)
    val outDir = args(1)
    // optional args(2..): restrict to named queries (dev loop only —
    // the driver always passes exactly two args and gets the full
    // set); an unknown name is refused before anything is written
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // one (name, error, seconds) per query, in run order; error is
    // None for a query whose output was written
    val results = selected.map { case (name, fn) =>
      // stderr marker BEFORE each query: engine WARN lines (task-size,
      // single-partition windows) interleave with these, so a warning
      // in the log attributes to the query between markers
      System.err.println(s"[verify] running $name")
      val t0 = System.nanoTime()
      val error =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(Option(e.getMessage).getOrElse(e.toString))
        }
      (name, error, (System.nanoTime() - t0) / 1e9)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // per-query status beside the outputs, so a query that threw is a
    // record a checker can fail on, not only a stderr line
    val manifest = results.map { case (name, error, secs) =>
      val status = if (error.isEmpty) "ok" else "failed"
      s"${q(name)}: {\"status\": ${q(status)}, " +
        s"\"error\": ${error.fold("null")(q)}, \"elapsed_s\": ${"%.3f".formatLocal(java.util.Locale.ROOT, secs)}}"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(s"$outDir/verify_manifest.json"), manifest)
    spark.stop()
    val failed = results.collect { case (name, Some(_), _) => name }
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${results.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
