package graft.api

import java.nio.file.Files

import graft.SparkSuite

/** Per-sheet semantics of the one metadata pass a filing shares across
  * its sheets: each sheet keeps its own mode year (keyed by position, so
  * a same-name pair stays apart), multiple-years warnings come in frame
  * order, null-box and rate warnings are summed by name in name order. */
class SheetYearsSpec extends SparkSuite {

  private lazy val tmp = Files.createTempDirectory("graft_years").toFile

  private val Header = "Supply Type,Invoice #,Date,Net,Tax,Box"

  /** A sheet file; each row is (invoice, date, vat, box). */
  private def sheet(file: String, name: String, header: String,
      rows: Seq[(Int, String, String, String)]): (String, String) = {
    val f = new java.io.File(tmp, s"$file.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println(header)
    rows.foreach { case (inv, d, vat, box) =>
      w.println(s"Standard,$inv,$d,100,$vat,$box") }
    w.close()
    (f.getAbsolutePath, name)
  }

  private val now = java.time.Year.now.getValue

  private lazy val sheets = Seq(
    // mode 2023 over 2024; one null-box row
    sheet("zeta", "Zeta Jan", Header, Seq(
      (1, "2023-01-05", "5", "A"), (2, "05/01/2023", "5", ""),
      (3, "2024-01-07", "5", "A"))),
    // mode 2024 over 2023; one rate outlier (10% on Box A)
    sheet("alpha", "Alpha Feb", Header, Seq(
      (11, "2024-02-01", "5", "A"), (12, "2024-02-02", "10", "A"),
      (13, "2023-02-03", "5", "B"))),
    // 2 × 2022 against 2 × 2021: the tie goes to the smaller year
    sheet("tie", "Tie Mar", Header, Seq(
      (21, "2022-03-01", "5", "A"), (22, "2021-03-01", "5", "A"),
      (23, "2022-03-02", "5", "A"), (24, "2021-03-02", "5", "A"))),
    // no parseable date: the current year
    sheet("nodates", "Nodates Apr", Header, Seq(
      (31, "", "5", "A"), (32, "n/a", "5", "A"))),
    // "DATE" is not the canonical `date` column: the current year even
    // though every cell parses
    sheet("upper", "Upper May", "Supply Type,Invoice #,DATE,Net,Tax,Box",
      Seq((41, "2020-05-01", "5", "A"))),
    // a same-name pair, each with its own year, a null box and an
    // outlier; the diagnostics sum over the name
    sheet("dup1", "Dup Jun", Header, Seq(
      (51, "2019-06-01", "5", ""), (52, "2019-06-02", "20", "A"))),
    sheet("dup2", "Dup Jun", Header, Seq(
      (61, "2018-06-01", "5", ""), (62, "2018-06-02", "5", "A"),
      (63, "2017-06-03", "20", "A"))))

  test("each sheet keeps its own mode year; warnings keep their order") {
    val res = new VatPipeline(spark).processSheets(sheets)
    assert(res.failures.isEmpty, res.failures)
    val years = res.data.select("invoice_number", "year").collect()
      .map(r => r.getString(0).toInt -> r.getInt(1)).toMap
    assert(years === Map(
      1 -> 2023, 2 -> 2023, 3 -> 2023,
      11 -> 2024, 12 -> 2024, 13 -> 2024,
      21 -> 2021, 22 -> 2021, 23 -> 2021, 24 -> 2021,
      31 -> now, 32 -> now, 41 -> now,
      51 -> 2019, 52 -> 2019,
      61 -> 2018, 62 -> 2018, 63 -> 2018))
    val noBox = "in NO box (nulls stay null; enable nanBoxCompat to replay the reference)."
    val rate = "|vat − net × 5.00%| > 0.50 (rate check)."
    assert(res.warnings === Seq(
      "Sheet 'Zeta Jan': multiple years detected: 2023→2, 2024→1 — using most frequent year.",
      "Sheet 'Alpha Feb': multiple years detected: 2023→1, 2024→2 — using most frequent year.",
      "Sheet 'Tie Mar': multiple years detected: 2021→2, 2022→2 — using most frequent year.",
      "Sheet 'Dup Jun': multiple years detected: 2017→1, 2018→2 — using most frequent year.",
      s"Sheet 'Dup Jun': 2 rows with null Box — $noBox",
      s"Sheet 'Zeta Jan': 1 rows with null Box — $noBox",
      s"Sheet 'Alpha Feb': 1 Box-A rows where $rate",
      s"Sheet 'Dup Jun': 2 Box-A rows where $rate"))
  }

  test("the year step leaves the conformed schema as it was") {
    def fields(cfg: VatConfig) = new VatPipeline(spark)
      .processSheets(sheets.take(2), cfg).data.schema.fields.toSeq
      .map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}")
    def expected(money: String) = Seq("supply_type:string:true",
      "invoice_number:string:true", "date:string:true",
      s"net_value:$money:true", s"vat_value:$money:true", "box:string:true",
      "customer_supplier_name:string:true", s"invoice_value:$money:true",
      "recoverable:string:true", "month:string:false", "month_num:int:false",
      "year:int:false", "source_sheet:string:false",
      "box_was_null:boolean:false", "box_letter:string:true")
    assert(fields(VatConfig()) === expected("double"))
    assert(fields(VatConfig(decimalMoney = true)) === expected("decimal(18,2)"))
  }
}
