package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** src/main holds only what runs, down to each definition.
  *
  * Files: a src/main file is reached when it defines a `main`, or when
  * a top-level class, trait or object it defines is named outside
  * comments by perfbench/scala or by another reached src/main file.
  *
  * Members: a non-`override`, non-`implicit` `def`/`val`/`var` directly
  * in a top-level object is reached when its name appears outside
  * comments in perfbench/scala or in a reached unit, bare or qualified
  * by its object (`m`, `Obj.m`; `x.m` on another receiver does not
  * count, so `md.reset()` does not reach `Artifacts.reset`). The units are
  * those members, each top-level class or trait (named by the class),
  * and the rest of each top-level object — its header, nested types
  * and statements (named by the object). A `main`, the [[kept]] units
  * and every unit of an [[exceptions]] file are reached from the
  * start; `apply` is reached with its object. Reach is transitive, so
  * members that only call each other stay unreached. Every failure
  * names what it found. */
class CallersSpec extends AnyFunSuite {
  import CallersSpec._

  /** The files kept without a caller, each with its reason. */
  private val exceptions = Map(
    "src/main/scala/graft/battle/LlmClassifier.scala" ->
      "the reference's Phase-2 classifier, injected by the embedding app (LiveEndpointsSpec)",
    "src/main/scala/graft/battle/CardMetadataOps.scala" ->
      "the reference's update_cardsdata.py backfill")

  /** The units kept without a caller inside src/main, each with its
    * reason. They and the [[exceptions]] files are roots of the member
    * scan: what they call is reached. */
  private val kept = Map(
    "Artifacts.reset" -> "test hook: specs drop the memo to build from scratch",
    "Artifacts.memoScopes" -> "test hook: ArtifactsSpec counts the memo entries of one artifact",
    "SparkEntry.entry" -> "the driver contract's flagship query, called by name from outside",
    "LlmExpert" -> "the reference's coach answer over HTTP, injected by the embedding app (LiveEndpointsSpec)")

  /** A literal or a comment, literals first so a `//` inside a string
    * is not taken for a comment. */
  private val lexeme = ("(?s)\"\"\".*?\"\"\"" +
    """|"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)'|/\*(?s:.*?)\*/|//[^\n]*""").r

  private def blank(s: String): String = s.map(c => if (c == '\n') '\n' else ' ')

  private def source(src: String): Source = {
    val code = new StringBuilder
    val shape = new StringBuilder
    var at = 0
    lexeme.findAllMatchIn(src).foreach { m =>
      code ++= src.substring(at, m.start); shape ++= src.substring(at, m.start)
      val comment = m.matched.startsWith("/")
      code ++= (if (comment) blank(m.matched) else m.matched)
      shape ++= blank(m.matched)
      at = m.end
    }
    code ++= src.substring(at); shape ++= src.substring(at)
    Source(code.toString, shape.toString)
  }

  private def sources(dir: String): Map[String, Source] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.toString -> source(new String(Files.readAllBytes(p), "UTF-8"))).toMap
  }

  private lazy val main = sources("src/main/scala")
  private lazy val bench = sources("perfbench/scala").values.map(_.code).mkString("\n")

  private val modifiers = """(?:(?:final|sealed|abstract|case|implicit|lazy|override|""" +
    """(?:private|protected)(?:\[\w+\])?)\s+)*"""
  private val topLevel = s"(?m)^$modifiers(class|trait|object)\\s+(\\w+)".r
  private val definition = s"(?m)^[ \\t]*($modifiers)(def|val|var|class|trait|object|type)\\b\\s*(\\w*)".r
  private val word = """\w+""".r

  /** The names a text uses: every word (`any`), the words not after a
    * dot (`bare`), and each `q.m` pair (`qualified`). */
  private final class Refs {
    private val any, bare, qualified = scala.collection.mutable.Set[String]()

    def add(text: String): Unit = word.findAllMatchIn(text).foreach { m =>
      any += m.matched
      var p = m.start - 1
      while (p >= 0 && text(p).isWhitespace) p -= 1
      if (p < 0 || text(p) != '.') bare += m.matched
      else {
        var q = p - 1
        while (q >= 0 && text(q).isWhitespace) q -= 1
        var from = q
        while (from >= 0 && (text(from).isLetterOrDigit || text(from) == '_')) from -= 1
        qualified += s"${text.substring(from + 1, q + 1)}.${m.matched}"
      }
    }

    /** Whether `u` is reached by the texts added so far. */
    def reach(u: Part): Boolean =
      if (!u.member || u.name != u.id.split('.').last) any(u.name)
      else bare(u.name) || qualified(u.id)
  }

  test("every src/main file is reached from a main or the benchmark") {
    val names = main.map { case (f, s) => f -> topLevel.findAllMatchIn(s.code).map(_.group(2)).toSet }
    def named(f: String, text: String) = names(f).exists(n => s"\\b$n\\b".r.findFirstIn(text).nonEmpty)
    var reached = main.keySet.filter(f =>
      """\bdef\s+main\s*\(""".r.findFirstIn(main(f).code).nonEmpty || named(f, bench))
    var grew = true
    while (grew) {
      val more = (main.keySet -- reached).filter(f => reached.exists(g => g != f && named(f, main(g).code)))
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

  /** The units of one file: every top-level class or trait whole, and
    * every top-level object split into its direct def/val/var members
    * and the rest. A member runs from its keyword to the next direct
    * definition of the object (or the object's closing brace). */
  private def units(file: String, s: Source): Seq[Part] = {
    val tops = topLevel.findAllMatchIn(s.shape).toSeq
    tops.zipWithIndex.flatMap { case (t, i) =>
      val end = if (i + 1 < tops.size) tops(i + 1).start else s.shape.length
      val (kind, obj) = (t.group(1), t.group(2))
      if (kind != "object") Seq(Part(file, obj, obj, s.code.substring(t.start, end), member = false))
      else {
        val open = s.shape.indexOf('{', t.end)
        if (open < 0 || open >= end) Seq(Part(file, obj, obj, s.code.substring(t.start, end), member = false))
        else {
          // brace depth inside the object body: 1 = a direct definition
          var depth = 0
          val depthAt = new Array[Int](end)
          (open until end).foreach { p =>
            depthAt(p) = depth
            s.shape(p) match { case '{' => depth += 1; case '}' => depth -= 1; case _ => }
          }
          val close = (open + 1 until end).find(p => s.shape(p) == '}' && depthAt(p) == 1).getOrElse(end)
          val defs = definition.findAllMatchIn(s.shape.substring(0, close)).filter(m =>
            m.start > open && depthAt(m.start(2)) == 1).toSeq
          val spans = defs.zipWithIndex.map { case (m, j) =>
            (m, m.start, if (j + 1 < defs.size) defs(j + 1).start else close)
          }
          val members = spans.filter { case (m, _, _) =>
            Set("def", "val", "var")(m.group(2)) && m.group(3).nonEmpty &&
              !m.group(1).contains("override") && !m.group(1).contains("implicit")
          }
          val memberUnits = members.map { case (m, from, to) =>
            val n = m.group(3)
            Part(file, s"$obj.$n", if (n == "apply") obj else n, s.code.substring(from, to), member = true)
          }
          val rest = members.foldRight(s.code.substring(t.start, end)) { case ((_, from, to), text) =>
            text.substring(0, from - t.start) + blank(text.substring(from - t.start, to - t.start)) +
              text.substring(to - t.start)
          }
          Part(file, obj, obj, rest, member = false) +: memberUnits
        }
      }
    }
  }

  test("every src/main object member is reached from a main or the benchmark") {
    val all = main.toSeq.flatMap { case (f, s) => units(f, s) }
    val missing = kept.keySet -- all.map(_.id)
    assert(missing.isEmpty, s"no such unit, drop the entry: ${missing.toSeq.sorted.mkString(", ")}")
    def reach(roots: Seq[Part]): Set[Part] = {
      val refs = new Refs
      refs.add(bench)
      var reached = roots.toSet
      var more = roots
      while (more.nonEmpty) {
        more.foreach(u => refs.add(u.text))
        more = all.filter(u => !reached(u) && refs.reach(u))
        reached ++= more
      }
      reached
    }
    val base = reach(all.filter(u => u.name == "main" || exceptions.contains(u.file)))
    val stale = kept.keySet.filter(id => base.exists(_.id == id)).toSeq.sorted
    assert(stale.isEmpty, s"reached now, drop the entry: ${stale.mkString(", ")}")
    val reached = reach(base.toSeq ++ all.filter(u => kept.contains(u.id)))
    val stray = all.filter(u => u.member && !reached(u)).map(u => s"  ${u.id} (${u.file})").sorted
    assert(stray.isEmpty, "no main, query, workflow or benchmark reaches these members:\n" +
      stray.mkString("\n"))
  }
}

object CallersSpec {

  /** One source file as two same-length texts: `code` with comments
    * blanked and literals kept (names inside an interpolation count),
    * `shape` with literals blanked too (braces inside a string do not
    * nest). Newlines survive in both, so line anchors still work. */
  final case class Source(code: String, shape: String)

  /** A unit of the member scan. `id` is `Object.member` for a member
    * and the bare name otherwise; `name` is what a caller writes. */
  final case class Part(file: String, id: String, name: String, text: String, member: Boolean)
}
