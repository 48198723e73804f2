package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins graft's runtime surface from the main sources' text: five
  * mains, one session builder, and no environment reads inside the
  * engine packages — so a one-off probe main, a second builder or a
  * per-operator env knob cannot come back unnoticed. */
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
}
