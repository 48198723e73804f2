package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins graft's runtime surface from the main sources' text: five
  * mains, one session builder, no environment reads inside the
  * engine packages, a fixed list of environment variables, no
  * `spark.graft.*` conf key, one landing path for the streaming
  * sinks and one definition each of the near-dup family's, the text
  * kernels' and the media probes' shared steps, a registry load
  * that is a bare parquet scan, one minhash signature shape, one
  * owner of the signature store's files, one scoring path for the
  * embedding operators and one map, score expression, round and
  * verdict each for the frozen text models — so a one-off probe
  * main, a second builder, an experiment knob, a copied sink body or
  * helper, a repartition over the registry scan, a settable signature
  * shape, a second store writer or a restated score cannot come back
  * unnoticed. */
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

  /** Source file → occurrences of `pattern`, for the files `files`
    * selects in which it occurs. */
  private def count(pattern: String, files: String => Boolean = _ => true): Map[String, Int] =
    sources.collect { case (f, t) if files(f) && occurrences(t, pattern) > 0 =>
      f -> occurrences(t, pattern) }

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
    val calls = Seq("""Incremental\.gate\(""", """(?<!def )\bgateStore\(""")
      .map(p => p -> occurrences(es, p)).toMap
    assert(calls.values.forall(_ == 1), s"call sites in EventStream: $calls")
    // the landing step and the store seed: both append through it
    assert(occurrences(es, """(?<!def )\bwriteSignatures\(""") == 2)
  }

  test("the signature store's files have one owner: EventStream") {
    val writers = sources.collect {
      case (f, t) if occurrences(t, """Indexed\.(write|writeSmall|writeSidecar)\(""") > 0 => f
    }.toSet
    assert(writers == Set("graft/streaming/EventStream.scala"))
    val sb = sources("graft/StreamBench.scala")
    val hits = Seq("""Indexed\.""", """store/(bands|sets)""", """batch=""", """pageRows""",
      """nearDupStoreCompact""").filter(p => occurrences(sb, p) > 0)
    assert(hits.isEmpty, s"StreamBench writes the store itself: ${hits.mkString(", ")}")
  }

  test("one minhash signature shape: no shape parameter, no second set of constants") {
    // the parameter list of `def name(` in `file`
    def params(file: String, name: String): String = {
      val m = (s"(?s)def $name\\((.*?)\\)\\s*:").r.findFirstMatchIn(sources(file))
      assert(m.isDefined, s"$file: no def $name")
      m.get.group(1)
    }
    val defs = Seq(
      "graft/operators/MinHash.scala" -> "nearDupPairs",
      "graft/operators/Incremental.scala" -> "signatures",
      "graft/operators/Incremental.scala" -> "gate",
      "graft/operators/Incremental.scala" -> "bandRowBound",
      "graft/operators/Contamination.scala" -> "fuzzyMatches")
    val shaped = for {
      (f, d) <- defs
      p <- Seq("n", "k", "bandRows") if occurrences(params(f, d), s"\\b$p\\s*:") > 0
    } yield s"$d($p)"
    assert(shaped.isEmpty, shaped.mkString(", "))
    val names = for {
      (f, t) <- sources.toSeq
      n <- Seq("SigN", "SigK", "SigBandRows", "collapseExact") if occurrences(t, s"\\b$n\\b") > 0
    } yield s"$f: $n"
    assert(names.isEmpty, names.mkString("\n"))
  }

  test("src/main names no spark.graft.* conf key") {
    val keys = for {
      (f, t) <- sources.toSeq
      line <- t.linesIterator if line.contains("\"spark.graft.")
    } yield s"$f: ${line.trim}"
    assert(keys.isEmpty, keys.mkString("\n"))
  }

  test("shared steps have one definition each: salting, corpus scale, Jaccard score, kernel bytes, RIFF walk") {
    assert(count("""if \(salts > 1\)""") == Map("graft/operators/Skew.scala" -> 1))
    assert(count("""stats\.sizeInBytes >=""") == Map("graft/operators/Skew.scala" -> 1))
    assert(count("""sortedIntersectSize\(""", _.startsWith("graft/operators/")) ==
      Map("graft/operators/Jaccard.scala" -> 1))
    assert(count("""getInstance\("MD5"\)""", _.startsWith("graft/plans/")) ==
      Map("graft/plans/KernelBytes.scala" -> 1))
    for (d <- Seq("isWs", "round6", "tokenBounds"))
      assert(count(s"""def $d\\b""") == Map("graft/plans/KernelBytes.scala" -> 1), d)
    // the token scan that keeps each token's byte range is tokenBounds;
    // the other walk (CompiledTokenWeights.score) keeps none
    assert(count("""while \(i < len && !isWs\(bytes\(i\)\)\) i \+= 1""") ==
      Map("graft/plans/KernelBytes.scala" -> 1, "graft/plans/TextExpressions.scala" -> 1))
    assert(occurrences(sources("graft/sources/Multimodal.scala"), """def walk\(""") == 1)
    assert(count("""rawTextCol|plainColName|resolveColName""").isEmpty)
  }

  test("the embedding operators score one way: one gate, cosine, pair test, top-k, ADC score and probe list") {
    val sim = "graft/operators/Similarity.scala"
    val vectorOps = Set(sim, "graft/operators/PQ.scala")
    // the zero-norm gate
    assert(count("""\.filter\(col\([^)]*\) > 0\)""", vectorOps) == Map(sim -> 1))
    // the rounded cosine: dot over norms, rounded, in one place
    assert(count("""round\((VectorExpressions\.)?dot\(""") == Map(sim -> 1))
    assert(count("""(?<!def )\brawGate\(""") == Map(sim -> 1))
    assert(count("""row_number\(\)""", vectorOps) == Map(sim -> 1))
    assert(count("""partitionBy\(col\("query_id"\)\)""") == Map(sim -> 1))
    assert(count("""zip_with\(col\("codes"\)""") == Map("graft/operators/PQ.scala" -> 1))
    assert(count("""slice\(\s*(reverse\()?array_sort\(""", _.startsWith("graft/operators/")) ==
      Map(sim -> 1))
    assert(count("""\bVectorFunctions\b""").isEmpty)
    assert(!sources.contains("graft/functions/VectorFunctions.scala"))
  }

  test("the frozen text models share one map, one score expression, one round and one verdict each") {
    val text = "graft/plans/TextExpressions.scala"
    // one open-addressing map in the plans package, with one size guard
    assert(count("""private val mask = """, _.startsWith("graft/plans/")) == Map(text -> 1))
    assert(count("""1 << 27""") == Map(text -> 1))
    // one model-carrying score expression; the per-model classes are gone
    assert(count("""case class \w+\(child: Expression, model: """) == Map(text -> 1))
    assert(count("""\b(TrigramLmScore|NbScore|DsirScore)\b""").isEmpty)
    // one scale-8 fixed-point → 6-digit decimal round
    assert(count("""setScale\(6, java\.math\.RoundingMode\.HALF_UP\)""") ==
      Map("graft/plans/KernelBytes.scala" -> 1))
    // each keep verdict once, in its operator: the gates and D16 call it
    assert(count(""""lm_score"\)\s*<=""") == Map("graft/operators/LangModel.scala" -> 1))
    assert(count("""logodds"?\)?\s*>\s*cutoff""") == Map("graft/operators/Classifier.scala" -> 1))
    assert(count(""""logw"\)\s*>=""") == Map("graft/operators/Dsir.scala" -> 1))
    // the media probes read container headers through one set of readers
    val mm = sources("graft/sources/Multimodal.scala")
    for (r <- Seq("u8", "be16", "be32", "le16", "le32", "leU32", "fourcc"))
      assert(occurrences(mm, s"""def $r\\b""") == 1, r)
    assert(occurrences(mm, """def (leInt|tag)\b""") == 0)
  }

  test("a registry load is one plain scan: no scan fan-out and no per-call-site width") {
    val names = Seq("fanoutParts", "scanFanout", "FanoutTables", "NarrowFanoutParts",
      "defaultFanoutParts", "tFan", "tNarrow", "tNoFan")
    val hits = for {
      (f, t) <- sources.toSeq
      n <- names if occurrences(t, s"\\b$n\\b") > 0
    } yield s"$f: $n"
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(occurrences(sources("graft/Tables.scala"), """def load\(""") == 1)
  }
}
