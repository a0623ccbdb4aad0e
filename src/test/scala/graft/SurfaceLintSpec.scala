package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public def, object, class and trait under src/main/scala
  * exists because production code reaches it. One whose only users are
  * specs is either a capability no query runs (delete it) or a
  * reference twin of a declared path (it lives under src/test).
  * Comments are stripped and string literals kept, so a name a query
  * builds into SQL text still counts as a use. It matches names, not
  * symbols: a def whose name is also a column or a local elsewhere
  * passes even when nothing calls it.
  *
  * Exempt, written out: the product API (`api/`, `Xlsx.readSheet`,
  * `Xlsx.sheetNames`), entry points (`main`, `apply`, and the objects
  * that define `main`) and overrides. */
class SurfaceLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala/graft")

  private val exemptDirs = Seq("api/")
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

  /** A definition line: its modifiers, then the keyword and the name. */
  private def declLine(keywords: String) =
    raw"(?m)^[ \t]*((?:[\w\[\]@]+[ \t]+)*)(?:$keywords)[ \t]+([A-Za-z_]\w*)".r

  /** `file.name` for every public `keywords` definition outside the
    * exempt dirs whose name occurs nowhere else in src/main, less the
    * names `exempt(file, name)` lets through. */
  private def unreached(keywords: String)(
      exempt: (String, String) => Boolean): Seq[String] = for {
    (file, src) <- sources.toSeq.sorted
    if !exemptDirs.exists(file.startsWith)
    m <- declLine(keywords).findAllMatchIn(src)
    mods = m.group(1)
    name = m.group(2)
    if !Seq("private", "protected", "override").exists(mods.contains)
    if !exempt(file, name)
    if nameCounts(name) <= 1
  } yield s"${file.stripSuffix(".scala").replace('/', '.')}.$name"

  private def failOn(what: String, names: Seq[String]): Unit =
    if (names.nonEmpty)
      fail(s"${names.size} public $what have no production use:\n" +
        names.mkString("\n"))

  test("every public def under src/main is named outside its definition") {
    failOn("defs", unreached("def") { (file, name) =>
      exemptNames(name) || exemptDefs(s"$file#$name")
    })
  }

  test("every public object, class and trait under src/main is named " +
      "outside its definition") {
    // a main's object (the last object opened before its `main`) is
    // its own entry point
    val mainObject =
      raw"(?s)\bobject[ \t]+(\w+)\b(?:(?!\bobject\b).)*\bdef[ \t]+main\(".r
    failOn("objects, classes and traits", unreached("object|class|trait") {
      (file, name) => mainObject.findFirstMatchIn(sources(file))
        .exists(_.group(1) == name)
    })
  }
}
