package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public def under src/main/scala exists because production
  * code reaches it. A def whose only callers are specs is either a
  * capability no query runs (delete it) or a reference twin of a
  * declared path (it lives under src/test). Comments are stripped and
  * string literals kept, so a name a query builds into SQL text or a
  * registered function name still counts as a use. It matches names,
  * not symbols: a def whose name is also a column or a local elsewhere
  * passes even when nothing calls it.
  *
  * Exempt, written out: the product API (`api/`, `Xlsx.readSheet`,
  * `Xlsx.sheetNames`), the streaming surface (`ext/streaming/`, which
  * still counts as a caller), entry points (`main`, `apply`) and
  * overrides. */
class SurfaceLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala/graft")

  private val exemptDirs = Seq("api/", "ext/streaming/")
  private val exemptDefs = Set("sources/Xlsx.scala#readSheet",
    "sources/Xlsx.scala#sheetNames")
  private val exemptNames = Set("main", "apply")

  /** Source text with `//` and (nested) block comments removed; string
    * and character literals are copied through untouched. */
  private def stripComments(s: String): String = {
    val out = new StringBuilder
    val n = s.length
    var i = 0
    while (i < n) {
      if (s.startsWith("//", i)) {
        val j = s.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (s.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (s.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (s.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
      } else if (s.startsWith("\"\"\"", i)) {
        val k = s.indexOf("\"\"\"", i + 3)
        var j = if (k < 0) n else k + 3
        while (j < n && s.charAt(j) == '"') j += 1
        out.append(s.substring(i, j))
        i = j
      } else if (s.charAt(i) == '"') {
        var j = i + 1
        while (j < n && s.charAt(j) != '"' && s.charAt(j) != '\n') {
          if (s.charAt(j) == '\\') j += 1
          j += 1
        }
        j = math.min(j + 1, n)
        out.append(s.substring(i, j))
        i = j
      } else if (s.charAt(i) == '\'' && i + 2 < n &&
          (s.charAt(i + 2) == '\'' || s.charAt(i + 1) == '\\')) {
        val j = math.min(if (s.charAt(i + 1) == '\\') i + 4 else i + 3, n)
        out.append(s.substring(i, j))
        i = j
      } else {
        out.append(s.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  private lazy val sources: Map[String, String] =
    Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => mainRoot.relativize(p).toString ->
        stripComments(Files.readString(p)))
      .toMap

  /** How often each identifier occurs across all of src/main. */
  private lazy val nameCounts: Map[String, Int] =
    sources.values.toSeq.flatMap(raw"\w+".r.findAllIn(_))
      .groupMapReduce(identity)(_ => 1)(_ + _)

  private val defLine = raw"(?m)^[ \t]*((?:[\w\[\]@]+[ \t]+)*)def[ \t]+([A-Za-z_]\w*)".r

  test("every public def under src/main is named outside its definition") {
    val unreached = for {
      (file, src) <- sources.toSeq.sorted
      if !exemptDirs.exists(file.startsWith)
      m <- defLine.findAllMatchIn(src)
      mods = m.group(1)
      name = m.group(2)
      if !Seq("private", "protected", "override").exists(mods.contains)
      if !exemptNames(name) && !exemptDefs(s"$file#$name")
      if nameCounts(name) <= 1
    } yield s"${file.stripSuffix(".scala").replace('/', '.')}.$name"
    if (unreached.nonEmpty)
      fail(s"${unreached.size} public defs have no production caller:\n" +
        unreached.mkString("\n"))
  }
}
