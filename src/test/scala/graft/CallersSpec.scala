package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** src/main holds only what runs. A src/main file is reached when it
  * defines a `main`, or when a top-level class, trait or object it
  * defines is named outside comments by perfbench/scala or by another
  * reached src/main file. Every other file fails the scan, by name. */
class CallersSpec extends AnyFunSuite {

  /** The files kept without a caller, each with its reason. */
  private val exceptions = Map(
    "src/main/scala/graft/battle/LlmClassifier.scala" ->
      "the reference's Phase-2 classifier, injected by the embedding app (LiveEndpointsSpec)",
    "src/main/scala/graft/battle/CardMetadataOps.scala" ->
      "the reference's update_cardsdata.py backfill")

  /** A literal or a comment, literals first so a `//` inside a string
    * is not taken for a comment. */
  private val lexeme = ("(?s)\"\"\".*?\"\"\"" +
    """|"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)'|/\*(?s:.*?)\*/|//[^\n]*""").r

  /** `src` with its comments blanked and its literals kept. */
  private def code(src: String): String =
    lexeme.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) " " else scala.util.matching.Regex.quoteReplacement(m.matched))

  private def sources(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.toString -> code(new String(Files.readAllBytes(p), "UTF-8"))).toMap
  }

  test("every src/main file is reached from a main or the benchmark") {
    val main = sources("src/main/scala")
    val bench = sources("perfbench/scala").values.mkString("\n")
    val topLevel = ("""(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*""" +
      """(?:class|trait|object)\s+(\w+)""").r
    val names = main.map { case (f, c) => f -> topLevel.findAllMatchIn(c).map(_.group(1)).toSet }
    def named(f: String, text: String) = names(f).exists(n => s"\\b$n\\b".r.findFirstIn(text).nonEmpty)
    var reached = main.keySet.filter(f =>
      """\bdef\s+main\s*\(""".r.findFirstIn(main(f)).nonEmpty || named(f, bench))
    var grew = true
    while (grew) {
      val more = (main.keySet -- reached).filter(f => reached.exists(g => g != f && named(f, main(g))))
      reached ++= more
      grew = more.nonEmpty
    }
    val unreached = main.keySet -- reached
    val stray = (unreached -- exceptions.keySet).toSeq.sorted
    assert(stray.isEmpty, "no main, query, workflow or benchmark reaches:\n" +
      stray.map(f => s"  $f (${names(f).toSeq.sorted.mkString(", ")})").mkString("\n"))
    val stale = (exceptions.keySet -- unreached).toSeq.sorted
    assert(stale.isEmpty, s"reached or gone now, drop the exception: ${stale.mkString(", ")}")
  }
}
