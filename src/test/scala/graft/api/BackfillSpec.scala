package graft.api

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.Union

import graft.SparkSuite

/** One conform for every sheet: a backfill's plan and job count do not
  * grow with the number of sheets it carries, and both front doors keep
  * the column names, warnings and refusals pinned below for a set of
  * mixed layouts. */
class BackfillSpec extends SparkSuite {

  private lazy val tmp = Files.createTempDirectory("graft_backfill").toFile

  private val Header = Seq("Supply Type", "Invoice #", "Date", "Net", "Tax", "Box")

  /** `n` rows of month `m`: (type, invoice, date, net, tax, box). */
  private def rows(m: Int, n: Int, box: Int => String = i => "ABC"(i % 3).toString) =
    (1 to n).map(i => Seq("Standard", s"$m-$i", f"2024-$m%02d-${i % 28 + 1}%02d",
      s"${i * 10}", s"${i * 0.5}", box(i)))

  private def workbook(dir: java.io.File, name: String,
      sheets: Seq[(String, Seq[Seq[String]])]): Unit =
    graft.sources.Xlsx.write(new java.io.File(dir, s"$name.xlsx").getAbsolutePath, sheets)

  private def csv(name: String, file: String, cells: Seq[Seq[String]]): (String, String) = {
    val f = new java.io.File(tmp, s"$file.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    cells.foreach(r => w.println(r.map(v =>
      if (v.exists(c => c == ',' || c == '"')) "\"" + v.replace("\"", "\"\"") + "\""
      else v).mkString(",")))
    w.close()
    (f.getAbsolutePath, name)
  }

  /** A backfill directory of `n` one-sheet workbooks of one layout. */
  private def books(n: Int): String = {
    val dir = Files.createTempDirectory(s"graft_backfill_$n").toFile
    (1 to n).foreach(w =>
      workbook(dir, f"wb$w%02d", Seq(s"${"JanFebMarApr".slice(3 * w - 3, 3 * w)} 2024" ->
        (Header +: rows(w, 40)))))
    dir.getAbsolutePath
  }

  test("a backfill of 1 or 4 workbooks submits the same jobs, at most 7") {
    val counts = Seq(1, 4).map { n =>
      val dir = books(n)
      val (_, jobs) = jobsOf {
        val res = new VatPipeline(spark).processWorkbooks(dir)
        assert(res.summary.collect().length == 4 * n)
      }
      spark.catalog.clearCache()
      jobs
    }
    assert(counts(0) === counts(1), s"jobs for 1 and 4 workbooks: $counts")
    assert(counts.max <= 7, s"backfill jobs: $counts")
  }

  test("a backfill's data plan has no union and one size for 1 or 4 workbooks") {
    val sizes = Seq(1, 4).map { n =>
      val plan = new VatPipeline(spark).processWorkbooks(books(n))
        .data.queryExecution.optimizedPlan
      assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
      spark.catalog.clearCache()
      plan.collect { case p => p }.size
    }
    assert(sizes(0) === sizes(1), s"plan nodes for 1 and 4 workbooks: $sizes")
  }

  private val Nbsp = "\u00A0"

  /** Sheets of mixed layout: an unknown extra column and a preamble, a
    * sheet missing required columns, a blank and an empty header with a
    * header named like an enriched column, NBSP synonyms, a second
    * "Jan 2024", and two headers that both resolve to `net_value`. */
  private val mixed: Seq[(String, Seq[Seq[String]])] = Seq(
    "Jan 2024" -> (Seq(Seq("VAT return", "", "", "", "", "", "", ""),
      Seq("Supply Type", "Invoice #", "Date", "Net", "Tax", "Gross", "Box", "Notes")) ++
      rows(1, 5).map(r => r.take(5) ++ Seq("1", r(5), "memo"))),
    "Feb 2024" -> (Seq(Seq("Supply Type", "#", "Date", "Customer Name", "Net", "Tax",
      "Recoverable")) ++ rows(2, 4).map(r => Seq(r(0), r(1), r(2), "Acme", r(3), r(4), "Yes"))),
    "Mar 2024" -> (Seq(Seq("Supply Type", "Invoice No.", "Date", " ", "Net", "Tax", "Box",
      "", "Month")) ++ rows(3, 4).map(r => r.take(3) ++ Seq("x", r(3), r(4), r(5), "y", "March"))),
    "Apr 2024" -> (Seq(Seq(s"Supply${Nbsp}Type ", s"Invoice$Nbsp#", "Date",
      s"Customer/supplier${Nbsp}Name", s"Net$Nbsp", " Tax", "Gross", "Recoverable",
      s"Box$Nbsp")) ++ rows(4, 4).map(r => r.take(3) ++ Seq("Beta", r(3), r(4), "9", "No", r(5)))),
    "Jan 2024" -> (Seq(Header) ++ rows(1, 3, i => if (i == 2) "" else "A") ++
      Seq(Seq("Standard", "x", "2023-01-01", "5", "9", "A"))),
    "May 2024" -> (Seq(Seq("Supply Type", "Invoice #", "Date", "Net", s"Net$Nbsp", "Tax",
      "Box")) ++ rows(5, 3).map(r => r.take(4) ++ Seq("1") ++ r.drop(4))))

  private val noBox = "in NO box (nulls stay null; enable nanBoxCompat to replay the reference)."
  private val ambiguousNet = "[AMBIGUOUS_REFERENCE] Reference `net_value` is ambiguous, " +
    "could be: [`net_value`, `net_value`]. SQLSTATE: 42704"
  private val Tail = Seq("month", "month_num", "year", "source_sheet", "box_was_null",
    "box_letter")

  test("mixed layouts through the CSV door: names, warnings and failures") {
    val res = new VatPipeline(spark).processSheets(
      mixed.zipWithIndex.map { case ((name, cells), i) => csv(name, s"mixed$i", cells) })
    assert(res.data.columns.toSeq === Seq("supply_type", "invoice_number", "date",
      "net_value", "vat_value", "invoice_value", "box", "Notes", "customer_supplier_name",
      "recoverable") ++ Tail ++ Seq("_c3", "None"))
    assert(res.warnings === Seq(
      "Sheet 'Jan 2024': multiple years detected: 2023→1, 2024→3 — using most frequent year.",
      s"Sheet 'Feb 2024': 4 rows with null Box — $noBox",
      s"Sheet 'Jan 2024': 1 rows with null Box — $noBox",
      "Sheet 'Jan 2024': 1 Box-A rows where |vat − net × 5.00%| > 0.50 (rate check)."))
    assert(res.failures === Seq(VatPipeline.SheetFailure("May 2024", ambiguousNet)))
    assert(res.data.count() === 21)
  }

  test("mixed layouts through the bulk door: names, warnings and failures") {
    val dir = Files.createTempDirectory("graft_backfill_mixed").toFile
    workbook(dir, "wbA", mixed.take(4))
    workbook(dir, "wbB", mixed.drop(4))
    val res = new VatPipeline(spark).processWorkbooks(dir.getAbsolutePath)
    assert(res.data.columns.toSeq === Seq("supply_type", "invoice_number", "date",
      "customer_supplier_name", "net_value", "vat_value", "invoice_value", "recoverable",
      "box") ++ Tail ++ Seq("Notes", "_c3", "None"))
    assert(res.warnings === Seq(
      "Sheet 'wbB/Jan 2024': multiple years detected: 2023→1, 2024→3 — using most frequent year.",
      s"Sheet 'wbA/Feb 2024': 4 rows with null Box — $noBox",
      s"Sheet 'wbB/Jan 2024': 1 rows with null Box — $noBox",
      "Sheet 'wbB/Jan 2024': 1 Box-A rows where |vat − net × 5.00%| > 0.50 (rate check)."))
    assert(res.failures === Seq(VatPipeline.SheetFailure("wbB/May 2024", ambiguousNet)))
    assert(res.data.count() === 21)
    spark.catalog.clearCache()
  }

  test("a sheet whose date headers collide is refused, not fatal; repeated " +
      "passthrough headers stay apart across sheets") {
    val plain = csv("Jul 2024", "plain", Header +: rows(7, 3))
    val dates = csv("Aug 2024", "dates", Seq(Seq("Supply Type", "Invoice #", "Date",
      "DATE", "Net", "Tax", "Box")) ++ rows(8, 3).map(r => r.take(3) ++ r.drop(2)))
    val blanks = csv("Jun 2024", "blanks", (Header ++ Seq("", "")) +:
      rows(6, 3).map(_ ++ Seq("p", "q")))
    val res = new VatPipeline(spark).processSheets(Seq(plain, dates, blanks))
    assert(res.failures.map(_.sheet) === Seq("Aug 2024"))
    assert(res.failures.head.error.contains("AMBIGUOUS_REFERENCE"))
    assert(res.data.columns.toSeq.takeRight(2) === Seq("None", "None"))
    val n = res.data.columns.length
    assert(res.data.filter("source_sheet = 'Jun 2024'").collect()
      .map(r => (r.getString(n - 2), r.getString(n - 1))).toSet === Set(("p", "q")))
    assert(res.summary.count() === 8)
  }
}
