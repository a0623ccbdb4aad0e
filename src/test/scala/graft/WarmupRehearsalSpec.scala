package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The rehearsal's disk gauge reads the standing-state store itself: the
  * memo root it is configured with, and memo names in the store's own
  * spelling (which keeps the `.` of a dotted corpus dir like `sf0.1`).
  * No Spark needed: the planted build writes one file. */
class WarmupRehearsalSpec extends AnyFunSuite {

  test("stateBytes counts a memo build of a dotted corpus dir under " +
      "graft.memo.root") {
    val root = Files.createTempDirectory("graft_state_root")
    val sfDir = root.resolve("sf0.1").toString
    val warehouse = root.resolve("warehouse").toString
    sys.props("graft.memo.root") = root.toString
    try {
      assert(Probe.stateBytes(sfDir, warehouse) == 0L)
      core.ParquetMemo.ensureWith(s"$sfDir/documents.parquet", "planted",
          "v1") { staging =>
        Files.createDirectories(Paths.get(staging))
        Files.write(Paths.get(staging, "part-0.parquet"), new Array[Byte](4096))
      }
      assert(Probe.stateBytes(sfDir, warehouse) >= 4096L,
        "a planted memo build must count toward the corpus's state")
    } finally {
      sys.props.remove("graft.memo.root"): Unit
      core.ParquetMemo.deleteRecursively(root.toFile)
    }
  }
}
