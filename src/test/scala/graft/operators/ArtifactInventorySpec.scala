package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The inventory table in the [[Artifacts]] scaladoc names every
  * standing artifact exactly once, each as an index or model or as a
  * cached intermediate or result, and names nothing that no call site
  * builds. The names come from the `Artifacts.frame/localFrame/value`
  * call sites in src/main; an interpolated name must be listed in
  * [[dynamic]] with every name it takes. */
class ArtifactInventorySpec extends AnyFunSuite {

  /** Each interpolated call-site name, with the names it takes. */
  private val dynamic = Map(
    "$name:rows" -> Set("bpe_ntok_dict:rows", "bpe_wp_dict:rows")) // BpeQueries.dictJoined

  private val root = Paths.get("src/main/scala")

  private def read(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")

  private val call = """Artifacts\.(?:frame|localFrame|value)\(""".r
  private val named = """Artifacts\.(?:frame|localFrame|value)\(\s*[^,()]+,\s*[^,()]+,\s*s?"([^"]*)"""".r

  test("the Artifacts inventory table lists exactly the names the call sites build") {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val sites = files.flatMap { p =>
      val src = read(p)
      val names = named.findAllMatchIn(src).map(_.group(1)).toSeq
      assert(names.size === call.findAllMatchIn(src).size,
        s"$p: every Artifacts.frame/localFrame/value call must name its artifact with a literal")
      names
    }
    val unknown = sites.filter(n => n.contains("$") && !dynamic.contains(n))
    assert(unknown.isEmpty, s"interpolated names missing from `dynamic`: ${unknown.mkString(", ")}")
    val built = sites.flatMap(n => dynamic.getOrElse(n, Set(n))).toSet

    val rows = read(root.resolve("graft/operators/Artifacts.scala")).linesIterator
      .map(_.trim.stripPrefix("*").trim)
      .filter(l => l.startsWith("|") && !l.startsWith("|---") && !l.startsWith("| owner"))
      .map(_.split('|').map(_.trim).drop(1).toSeq).toSeq
    assert(rows.nonEmpty && rows.forall(_.size == 3), s"malformed inventory rows: $rows")
    val tick = "`([^`]+)`".r
    def names(col: Int) = rows.flatMap(r => tick.findAllMatchIn(r(col)).map(_.group(1)))
    val (kept, cached) = (names(1), names(2))
    val listed = kept ++ cached
    assert(listed.diff(listed.distinct).isEmpty,
      s"listed more than once: ${listed.diff(listed.distinct).distinct.mkString(", ")}")

    val missing = (built -- listed).toSeq.sorted
    assert(missing.isEmpty, s"built but missing from the Artifacts inventory: ${missing.mkString(", ")}")
    val stale = (listed.toSet -- built).toSeq.sorted
    assert(stale.isEmpty, s"listed in the Artifacts inventory with no call site: ${stale.mkString(", ")}")
  }
}
