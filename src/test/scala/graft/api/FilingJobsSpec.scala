package graft.api

import java.nio.file.Files

import graft.SparkSuite

/** Job budget of one interactive filing: the reference's whole flow
  * (upload → box A–D summary → xlsx download) is driver round-trips, not
  * data, so the number of Spark jobs it submits is its latency. Per
  * sheet: CSV schema inference and the header sample; per filing: ONE
  * grouped metadata pass (year, null-box and rate diagnostics for all
  * sheets) and the summary, computed once and reused by every sink. */
class FilingJobsSpec extends SparkSuite {

  private lazy val tmp = Files.createTempDirectory("graft_jobs").toFile

  private def sheet(name: String, month: Int): (String, String) = {
    val f = new java.io.File(tmp, s"$name.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("VAT return,,,,,")
    w.println("Supply Type,Invoice #,Date,Net,Tax,Box")
    (1 to 40).foreach { i =>
      w.println(f"Standard,$i,2024-$month%02d-${i % 28 + 1}%02d,${i * 10},${i * 0.5},${"ABC"(i % 3)}")
    }
    w.close()
    (f.getAbsolutePath, name)
  }

  private def filing(sheets: Seq[(String, String)]): (Int, Int) = {
    val xlsx = new java.io.File(tmp, s"summary_${sheets.size}.xlsx").getAbsolutePath
    val ((_, sinkJobs), total) = jobsOf {
      val res = new VatPipeline(spark).processSheets(sheets)
      assert(res.summary.collect().length == 4 * sheets.size)
      jobsOf(res.writeXlsx(xlsx))
    }
    (total, sinkJobs)
  }

  test("a one-sheet filing takes at most 7 jobs; the xlsx sink takes none") {
    val (total, sink) = filing(Seq(sheet("Jan 2024", 1)))
    assert(total <= 7, s"one-sheet filing took $total jobs")
    assert(sink == 0, s"writeXlsx after summary.collect() took $sink jobs")
  }

  test("a two-sheet filing takes at most 9 jobs: the metadata pass is shared") {
    val (total, sink) = filing(Seq(sheet("Feb 2024", 2), sheet("Mar 2024", 3)))
    assert(total <= 9, s"two-sheet filing took $total jobs")
    assert(sink == 0, s"writeXlsx after summary.collect() took $sink jobs")
  }
}
