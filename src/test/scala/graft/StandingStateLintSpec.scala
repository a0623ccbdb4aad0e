package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Standing state has one owner per kind: path artifacts publish through
  * `core.ParquetMemo.ensureWith` (the only staged-build rename) and
  * catalog tables through `core.Bucketing.ensure` (the only catalog
  * existence check). A hand-rolled copy of either protocol drifts — the
  * copies this replaced had each grown their own sweep bug — so a new one
  * anywhere else under src/main/scala fails here. */
class StandingStateLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala/graft")

  private def filesUsing(token: String): Seq[String] =
    Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(token))
      .map((p: Path) => mainRoot.relativize(p).toString)
      .toSeq.sorted

  test("staged-build rename lives only in core/ParquetMemo.scala") {
    assert(filesUsing(".renameTo(") === Seq("core/ParquetMemo.scala"))
  }

  test("catalog existence check lives only in core/Bucketing.scala") {
    assert(filesUsing("catalog.tableExists(") === Seq("core/Bucketing.scala"))
  }
}
