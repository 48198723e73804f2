package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins graft's runtime surface from the main sources' text: five
  * mains, one session builder, no environment reads inside the
  * engine packages, a fixed list of environment variables, no
  * `spark.graft.*` conf key, one landing path for the streaming
  * sinks and one definition each of the near-dup family's, the text
  * kernels' and the media probes' shared steps — so a one-off probe
  * main, a second builder, an experiment knob or a copied sink body
  * or helper cannot come back unnoticed. */
class SurfaceSpec extends AnyFunSuite {

  /** Path under src/main/scala (with '/') → source text. */
  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') -> Files.readString(p))
      .toMap
    finally walk.close()
  }

  private def occurrences(text: String, pattern: String): Int =
    pattern.r.findAllMatchIn(text).size

  test("exactly Bench, StreamBench, Verify, PlanDump and ScaleGen define a main") {
    val mains = sources.map { case (f, t) => f -> occurrences(t, """def main\(|extends App\b""") }
      .filter(_._2 > 0)
    val kept = Seq("Bench", "StreamBench", "Verify", "PlanDump", "ScaleGen")
      .map(n => s"graft/$n.scala" -> 1).toMap
    assert(mains == kept)
  }

  test("SparkSession.builder() is called only in GraftSession") {
    val builders = sources.collect {
      case (f, t) if occurrences(t, """SparkSession\s*\.\s*builder""") > 0 => f
    }.toSet
    assert(builders == Set("graft/GraftSession.scala"))
  }

  test("engine packages read no environment variable but GRAFT_SINK_PROFILE") {
    val engine = Seq("operators", "sources", "streaming", "plans", "functions")
      .map(p => s"graft/$p/")
    val reads = for {
      (f, t) <- sources.toSeq if engine.exists(f.startsWith)
      line <- t.linesIterator
      if occurrences(line, """sys\.env|System\.getenv""") > 0
      if !(f == "graft/streaming/SinkProfile.scala" &&
        line.contains("""sys.env.get("GRAFT_SINK_PROFILE")"""))
    } yield s"$f: ${line.trim}"
    assert(reads.isEmpty, reads.mkString("\n"))
  }

  /** Every environment variable `src/main` may read, each with a
    * caller that sets it: the session's cores and shuffle partitions,
    * the sink profiler switch, and the mains' input and output paths,
    * Bench's rep count and StreamBench's batch sizes. */
  private val EnvAllowList = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "GRAFT_SINK_PROFILE",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_REPS", "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_STREAMBENCH_OUT", "SPARK_GRAFT_STREAM_BATCH_SIZES",
    "SPARK_GRAFT_PLANS_DIR")

  test("src/main reads only the allow-listed environment variables, by literal name") {
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val reads = for {
      (f, t) <- sources.toSeq
      line <- t.linesIterator
      if occurrences(line, """sys\.env|System\.getenv""") > 0
    } yield f -> line.trim
    val unnamed = reads.filter { case (_, l) => named.findFirstIn(l).isEmpty }
    assert(unnamed.isEmpty, unnamed.mkString("\n"))
    val names = reads.flatMap { case (_, l) => named.findAllMatchIn(l).map(_.group(1)) }.toSet
    assert(names.subsetOf(EnvAllowList), (names -- EnvAllowList).mkString(", "))
    assert(EnvAllowList.size <= 10)
  }

  test("the streaming sinks share one prelude, one gate, one store read and one signature write") {
    val total = sources.values.map(occurrences(_, """\.foreachBatch\b""")).sum
    assert(total == 1, s".foreachBatch occurs $total times in src/main")
    val es = sources("graft/streaming/EventStream.scala")
    val calls = Seq("""Incremental\.gate\(""", """(?<!def )\bgateStore\(""",
      """(?<!def )\bwriteSignatures\(""")
      .map(p => p -> occurrences(es, p)).toMap
    assert(calls.values.forall(_ == 1), s"call sites in EventStream: $calls")
  }

  test("src/main names no spark.graft.* conf key") {
    val keys = for {
      (f, t) <- sources.toSeq
      line <- t.linesIterator if line.contains("\"spark.graft.")
    } yield s"$f: ${line.trim}"
    assert(keys.isEmpty, keys.mkString("\n"))
  }

  test("shared steps have one definition each: salting, corpus scale, Jaccard score, kernel bytes, RIFF walk") {
    def count(pattern: String, files: String => Boolean = _ => true): Map[String, Int] =
      sources.collect { case (f, t) if files(f) && occurrences(t, pattern) > 0 =>
        f -> occurrences(t, pattern) }
    assert(count("""if \(salts > 1\)""") == Map("graft/operators/Skew.scala" -> 1))
    assert(count("""stats\.sizeInBytes >=""") == Map("graft/operators/Skew.scala" -> 1))
    assert(count("""sortedIntersectSize\(""", _.startsWith("graft/operators/")) ==
      Map("graft/operators/Jaccard.scala" -> 1))
    assert(count("""getInstance\("MD5"\)""", _.startsWith("graft/plans/")) ==
      Map("graft/plans/KernelBytes.scala" -> 1))
    for (d <- Seq("isWs", "round6"))
      assert(count(s"""def $d\\b""") == Map("graft/plans/KernelBytes.scala" -> 1), d)
    assert(occurrences(sources("graft/sources/Multimodal.scala"), """def walk\(""") == 1)
    assert(count("""rawTextCol|plainColName|resolveColName""").isEmpty)
  }
}
