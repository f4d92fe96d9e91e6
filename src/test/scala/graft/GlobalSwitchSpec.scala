package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The library keeps one behaviour per input: outside the harness mains
  * (Bench, Verify) and the tool mains, no source reads the environment and
  * no `@volatile var` is reachable from outside its class. Private memo
  * cells (HopCache, PipelineQueries) are not switches and stay allowed.
  * The router plans on Datasets only: no RDD API, no custom Partitioner. */
class GlobalSwitchSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  /** library sources (relative path -> numbered code lines), doc and line
    * comments dropped */
  private lazy val sources: Seq[(String, Seq[(Int, String)])] =
    Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(root.relativize)
      .filterNot(p => p.startsWith("tools") ||
        Set("Bench.scala", "Verify.scala").contains(p.toString))
      .sortBy(_.toString)
      .map { rel =>
        rel.toString -> Files.readAllLines(root.resolve(rel)).asScala.toSeq
          .zipWithIndex
          .map { case (l, i) => (i + 1, l.replaceAll("//.*$", "").trim) }
          .filterNot { case (_, c) => c.startsWith("*") || c.startsWith("/*") }
      }

  test("the scan covers the library") {
    assert(sources.map(_._1).contains(Paths.get("router", "Matcher.scala").toString))
  }

  test("no environment read outside the harness and the tools") {
    val envRead = """\bsys\.env\b|System\.getenv""".r
    val hits = for {
      (f, code) <- sources
      (n, c) <- code if envRead.findFirstIn(c).isDefined
    } yield s"$f:$n: $c"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("the router stays off the RDD API") {
    val rddApi = """\.rdd\b|\bRDD\[|\bextends\b.*\bPartitioner\b""".r
    val hits = for {
      (f, code) <- sources if f.startsWith("router")
      (n, c) <- code if rddApi.findFirstIn(c).isDefined
    } yield s"$f:$n: $c"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("no non-private @volatile var") {
    val volatileVar = """@volatile\s+((?:[\w\[\]]+\s+)*)var\s+\w+""".r
    val hits = for {
      (f, code) <- sources
      m <- volatileVar.findAllMatchIn(code.map(_._2).mkString("\n"))
      mods = m.group(1).split("\\s+").toSet
      if !(mods("private") || mods("private[this]"))
    } yield s"$f: ${m.matched.replaceAll("\\s+", " ")}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
