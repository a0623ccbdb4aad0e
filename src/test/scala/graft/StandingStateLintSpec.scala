package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Standing state has one owner per kind: path artifacts publish through
  * `core.ParquetMemo.ensureWith` (the only staged-build rename) and
  * catalog tables through `core.Bucketing.ensure` (the only catalog
  * existence check). A hand-rolled copy of either protocol drifts — the
  * copies this replaced had each grown their own sweep bug — so a new one
  * anywhere else under src/main/scala fails here. So does a second
  * Spark-event listener, bus drain or probe main anywhere under src/. */
class StandingStateLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala/graft")
  private val srcRoot = Paths.get("src")

  /** Scala files under `root` whose text `matches`, skipping this spec,
    * whose patterns name the tokens it hunts. */
  private def files(root: Path)(matches: String => Boolean): Seq[String] =
    Using.resource(Files.walk(root)) { walk =>
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "StandingStateLintSpec.scala")
        .filter(p => matches(Files.readString(p)))
        .map((p: Path) => root.relativize(p).toString)
        .toSeq.sorted
    }

  private def filesUsing(token: String): Seq[String] =
    files(mainRoot)(_.contains(token))

  test("staged-build rename lives only in core/ParquetMemo.scala") {
    assert(filesUsing(".renameTo(") === Seq("core/ParquetMemo.scala"))
  }

  test("catalog existence check lives only in core/Bucketing.scala") {
    assert(filesUsing("catalog.tableExists(") === Seq("core/Bucketing.scala"))
  }

  test("one Spark-event listener under src/: core/SparkEvents.scala") {
    val subclass =
      raw"\b(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b".r
    assert(files(srcRoot)(subclass.findFirstIn(_).nonEmpty) ===
      Seq("main/scala/graft/core/SparkEvents.scala"))
  }

  test("one listener-bus drain under src/: ListenerDrain") {
    assert(files(srcRoot)(_.contains("listenerBus")) ===
      Seq("main/scala/org/apache/spark/sql/graftbridge/ListenerDrain.scala"))
  }

  test("four mains under src/: Bench, Probe, SynthScale and Verify") {
    assert(files(srcRoot)(_.contains("def main(")) ===
      Seq("Bench", "Probe", "SynthScale", "Verify")
        .map(m => s"main/scala/graft/$m.scala"))
  }
}
