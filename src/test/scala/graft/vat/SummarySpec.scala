package graft.vat

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Golden-output replay (SURVEY.md §5.2-2): the full reference pipeline
  * over a synthesized workbook — junk preamble, synonym headers, messy
  * currencies, Excel-serial dates — must reproduce the reference's
  * summary shape and invariants (fianl2.py:167-195, vat_summary.db). */
class SummarySpec extends SparkSuite {

  private lazy val tmp = Files.createTempDirectory("vat_sheets").toFile

  private def writeSheet(name: String, lines: Seq[String]): String = {
    val f = new java.io.File(tmp, s"$name.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    lines.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  // Jan sheet: junk preamble + synonym/trailing-space headers.
  // Box A: net 100 (AED) + 367 ($100) = 467; vat 5 + 18.35 ($5) = 23.35
  // Box C: net 50; vat 2.5        Box B: zero-rated net 200, vat 0
  private lazy val janPath = writeSheet("Jan 2024", Seq(
    "ACME LLC,,,,,",
    "VAT workbook,,,,,",
    "Supply Type,Invoice #,Date,Customer Name,Net,Tax",
    "Standard,1,2024-01-05,Alpha,AED 100,5",
    "Standard,2,05/01/2024,Beta,$100,$5",
    "Zero Rated,3,45297,Gamma,200,0",          // Excel serial 45297 = 2024-01-06
    "Input,4,2024-01-07,Delta,50,2.5"))

  // bare letters like the golden workbook: the reference's contains()
  // matching would put "Box X"-style values into box B via the B of "BOX"
  private lazy val boxedJan = Seq("A", "A", "B", "C")

  private def janConformed = {
    val df = new graft.api.VatPipeline(spark)
      .processSheets(Seq(janPath -> "Jan 2024")).data
    // the raw sheet has no Box column → inject per-row boxes for the test
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("invoice_number"))
    val boxes = typedlit(boxedJan)
    df.withColumn("box", element_at(boxes, row_number().over(w)))
      .withColumn("box_letter", VatFunctions.boxLetter(col("box")))
  }

  test("conformance: junk preamble skipped, synonyms renamed, money in AED") {
    val df = janConformed
    Conform.RequiredCols.foreach(c => assert(df.columns.contains(c), c))
    val rows = df.orderBy(col("invoice_number")).collect()
    assert(rows.length == 4)
    val nets = rows.map(_.getAs[Double]("net_value")).toSeq
    assert(nets == Seq(100.0, 367.0, 200.0, 50.0))
    val vats = rows.map(_.getAs[Double]("vat_value")).toSeq
    assert(vats == Seq(5.0, 18.35, 0.0, 2.5))
    // period detection: month from sheet name, year = mode of dates
    assert(rows.map(_.getAs[String]("month")).toSet == Set("Jan"))
    assert(rows.map(_.getAs[Int]("year")).toSet == Set(2024))
    // serial date parsed
    val d3 = df.filter(col("invoice_number") === "3")
      .select(VatFunctions.parseDateMulti(col("date"))).collect()(0).getTimestamp(0)
    assert(d3.toString.startsWith("2024-01-06"))
  }

  test("golden shape: 4 rows per period, D = A.vat − C.vat, zeros placement") {
    val summary = Summary.vatSummary(janConformed)
    val rows = summary.collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[String]("fta_box")).toSeq ==
      Seq("Box A", "Box B", "Box C", "Box D"))
    val byBox = rows.map(r => r.getAs[String]("fta_box") -> r).toMap
    assert(byBox("Box A").getAs[Double]("net_value") == 467.0)
    assert(byBox("Box A").getAs[Double]("vat_value") == 23.35)
    assert(byBox("Box B").getAs[Double]("net_value") == 200.0)
    assert(byBox("Box C").getAs[Double]("vat_value") == 2.5)
    // D: net 0, vat = payable = A.vat − C.vat = 20.85 after round(2)
    // (fianl2.py:182,192-195; 23.35-2.5 in raw double is 20.85…0014)
    assert(byBox("Box D").getAs[Double]("net_value") == 0.0)
    assert(byBox("Box D").getAs[Double]("vat_value") == 20.85)
    assert(byBox("Box D").getAs[Double]("net_vat_payable") == 20.85)
    assert(byBox("Box A").getAs[Double]("net_vat_payable") == 0.0)
    // descriptions from the broadcast dimension (fianl2.py:43-48)
    assert(byBox("Box A").getAs[String]("description") == "Standard Rated Supplies (5%)")
    assert(byBox("Box D").getAs[String]("description") == "Net VAT Payable (BoxA_VAT - BoxC_VAT)")
    assert(summary.select("period").distinct().collect()(0).getString(0) == "Jan 2024")
  }

  // ---- golden-DB replay -------------------------------------------------
  // The 16 rows of the reference's real run artifact (vat_summary.db,
  // table vat_summary; values also tabulated in BASELINE.md): 4 periods
  // Jan–Apr 2024 × boxes A–D. (period, box) → (net, vat, payable).
  private val goldenDb: Seq[(String, String, Double, Double, Double)] = Seq(
    ("Jan 2024", "Box A", 572712315.14, 13069631.69, 0.0),
    ("Jan 2024", "Box B", 4490318.61, 222936.35, 0.0),
    ("Jan 2024", "Box C", 194526.87, 9726.36, 0.0),
    ("Jan 2024", "Box D", 0.0, 13059905.33, 13059905.33),
    ("Feb 2024", "Box A", 1037935.29, 213209.99, 0.0),
    ("Feb 2024", "Box B", 2697296.69, 225160.02, 0.0),
    ("Feb 2024", "Box C", 1348895.15, 9540.78, 0.0),
    ("Feb 2024", "Box D", 0.0, 203669.21, 203669.21),
    ("Mar 2024", "Box A", 825164.95, 212047.65, 0.0),
    ("Mar 2024", "Box B", 2200771.57, 222571.9, 0.0),
    ("Mar 2024", "Box C", 1175492.37, 8115.0, 0.0),
    ("Mar 2024", "Box D", 0.0, 203932.65, 203932.65),
    ("Apr 2024", "Box A", 4258677.58, 212933.87, 0.0),
    ("Apr 2024", "Box B", 4480428.28, 222660.23, 0.0),
    ("Apr 2024", "Box C", 194526.87, 9726.36, 0.0),
    ("Apr 2024", "Box D", 0.0, 203207.51, 203207.51))

  /** Workbook whose per-(period, box) sums equal the golden A/B/C inputs.
    * Box A is split across rows — one in dollars in Jan/Feb so the
    * currency-conversion path contributes to a golden total — and every
    * sheet keeps the junk preamble + synonym headers the pipeline must
    * strip. D is never an input: the pipeline must derive it. */
  private lazy val goldenSheets: Seq[(String, String)] = {
    val hdr = "Supply Type,Invoice #,Date,Customer Name,Net,Tax,Box"
    val pre = Seq("ACME LLC,,,,,,", "FTA VAT return,,,,,,")
    def sheet(name: String, rows: Seq[String]): (String, String) =
      writeSheet(name, pre ++ Seq(hdr) ++ rows) -> name
    Seq(
      sheet("Jan 2024", Seq(
        "Standard,1,2024-01-05,Alpha,$100,$5,A", // → 367.00 / 18.35 AED
        "Standard,2,05/01/2024,Beta,572711948.14,13069613.34,A",
        "Zero Rated,3,45297,Gamma,4490318.61,222936.35,B", // Excel serial
        "Input,4,2024-01-07,Delta,194526.87,9726.36,C")),
      sheet("Feb 2024", Seq(
        "Standard,1,2024-02-02,Alpha,1000000.04,200000.74,A",
        "Standard,2,15/02/2024,Beta,37935.25,13209.25,A",
        "Zero Rated,3,45328,Gamma,2697296.69,225160.02,B",
        "Input,4,2024-02-20,Delta,1348895.15,9540.78,C")),
      sheet("Mar 2024", Seq(
        "Standard,1,2024-03-10,Alpha,825164.95,212047.65,A",
        "Zero Rated,2,10/03/2024,Gamma,2200771.57,222571.90,B",
        "Input,3,2024-03-28,Delta,1175492.37,8115.00,C")),
      sheet("Apr 2024", Seq(
        "Standard,1,2024-04-04,Alpha,4258677.58,212933.87,A",
        "Zero Rated,2,18/04/2024,Gamma,4480428.28,222660.23,B",
        "Input,3,2024-04-30,Delta,194526.87,9726.36,C")))
  }

  private def assertGolden(res: graft.api.VatPipeline.VatResult): Unit = {
    // rate-check warnings are EXPECTED on the golden workbook: its Box A
    // VAT totals are not 5% of net (asserted separately below); nothing
    // else may warn
    assert(res.failures.isEmpty &&
      res.warnings.forall(_.contains("(rate check)")), res.warnings)
    val out = res.summary
      .orderBy(col("month_num"), col("fta_box"))
      .select(col("period"), col("fta_box"),
        // decimal mode returns DECIMAL(18,2); compare in the golden
        // table's double domain either way
        col("net_value").cast("double"), col("vat_value").cast("double"),
        col("net_vat_payable").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
      .toSeq
    assert(out == goldenDb, {
      val diff = out.zip(goldenDb).filter { case (a, b) => a != b }
      s"first mismatches: ${diff.take(4).mkString("; ")}"
    })
  }

  test("golden replay: pipeline reproduces all 16 vat_summary.db rows exactly") {
    assertGolden(new graft.api.VatPipeline(spark).processSheets(goldenSheets))
  }

  test("golden replay in DECIMAL money mode: same 16 rows, DECIMAL(18,2) schema") {
    val res = new graft.api.VatPipeline(spark).processSheets(goldenSheets,
      graft.api.VatConfig(decimalMoney = true))
    // the flag must actually change the types, end to end
    import org.apache.spark.sql.types.DecimalType
    assert(res.data.schema("net_value").dataType == DecimalType(18, 2))
    Seq("net_value", "vat_value", "net_vat_payable").foreach { c =>
      assert(res.summary.schema(c).dataType == DecimalType(18, 2), c)
    }
    assertGolden(res)
    // and the decimal path is exact: Box D Jan in cents, no float drift
    val d = res.summary.filter(col("period") === "Jan 2024" &&
        col("fta_box") === "Box D")
      .collect()(0).getAs[java.math.BigDecimal]("net_vat_payable")
    assert(d.compareTo(new java.math.BigDecimal("13059905.33")) == 0)
  }

  test("rate-check diagnostic fires on the golden workbook's off-rate Box A rows") {
    val res = new graft.api.VatPipeline(spark).processSheets(goldenSheets)
    val rate = res.warnings.filter(_.contains("(rate check)"))
    // Jan: 1 off-rate row (the $100/$5 row is exactly 5%); Feb: both rows
    // off; Mar: 1; Apr: 212933.87 ≈ 4258677.58×5% within 0.5 AED → clean
    assert(rate.exists(w => w.contains("Jan 2024") && w.contains("1 Box-A rows")), rate)
    assert(rate.exists(w => w.contains("Feb 2024") && w.contains("2 Box-A rows")), rate)
    assert(rate.exists(w => w.contains("Mar 2024") && w.contains("1 Box-A rows")), rate)
    assert(!rate.exists(_.contains("Apr 2024")), rate)
    // rateCheck = false silences the diagnostic, nothing else
    val quiet = new graft.api.VatPipeline(spark).processSheets(goldenSheets,
      graft.api.VatConfig(rateCheck = false))
    assert(quiet.warnings.isEmpty, quiet.warnings)
  }

  test("golden replay through a REAL xlsx workbook (the reference's input format)") {
    // same golden sheets, but packed into one multi-sheet xlsx and
    // ingested through processWorkbook — the reference's actual E2E path
    val xlsx = new java.io.File(tmp, "golden.xlsx").getAbsolutePath
    val sheets = goldenSheets.map { case (csvPath, name) =>
      val rows = scala.io.Source.fromFile(csvPath, "UTF-8").getLines()
        .map(_.split(",", -1).toSeq).toSeq
      name -> rows
    }
    graft.sources.Xlsx.write(xlsx, sheets)
    assertGolden(new graft.api.VatPipeline(spark).processWorkbook(xlsx))
  }

  // ---- "NAN"-box compat: both modes pinned vs fianl2.py:162-163,176 ----
  // Sheet with one null-Box row (net 1000, vat 50) and one Box A row.
  private lazy val dirtySheet = writeSheet("May 2024", Seq(
    "junk,,,,,,",
    "Supply Type,Invoice #,Date,Customer Name,Net,Tax,Box",
    "Standard,1,2024-05-02,Alpha,100,5,A",
    "Standard,2,2024-05-03,Beta,1000,50,")) -> "May 2024"

  test("nanBoxCompat off (default): null-box rows in no box, loud warning") {
    val res = new graft.api.VatPipeline(spark).processSheets(Seq(dirtySheet))
    assert(res.warnings.exists(w =>
      w.contains("May 2024") && w.contains("1 rows with null Box")), res.warnings)
    val byBox = res.summary.collect()
      .map(r => r.getAs[String]("fta_box") -> r).toMap
    assert(byBox("Box A").getAs[Double]("net_value") == 100.0)
    assert(byBox("Box A").getAs[Double]("vat_value") == 5.0)
    // and the row keeps a null letter
    assert(res.data.filter(col("box_letter").isNull).count() == 1)
  }

  test("nanBoxCompat on: null box becomes 'NAN' → Box A membership, letter N") {
    val res = new graft.api.VatPipeline(spark)
      .processSheets(Seq(dirtySheet), nanBoxCompat = true)
    assert(res.warnings.exists(w =>
      w.contains("May 2024") && w.contains("astype-str compat")), res.warnings)
    val dirty = res.data.filter(col("invoice_number") === "2").collect()(0)
    assert(dirty.getAs[String]("box") == "NAN")
    assert(dirty.getAs[String]("box_letter") == "N")
    val byBox = res.summary.collect()
      .map(r => r.getAs[String]("fta_box") -> r).toMap
    // "NAN" contains "A" → the 1000/50 row lands in Box A (fianl2.py:176)
    assert(byBox("Box A").getAs[Double]("net_value") == 1100.0)
    assert(byBox("Box A").getAs[Double]("vat_value") == 55.0)
    assert(byBox("Box D").getAs[Double]("net_vat_payable") == 55.0)
  }

  test("invariant: summary row count = 4 × distinct periods (lineitem fixture)") {
    val s = Summary.lineitemVatSummary(spark, sfDir)
    val periods = s.select("year", "month_num").distinct().count()
    assert(s.count() == 4 * periods)
  }

  test("invariant: aggregate is stable under repartitioning") {
    val base = Summary.lineitemVatSummary(spark, sfDir).collect().toSeq
    val li = graft.core.Tables.lineitem(spark, sfDir).repartition(17)
    val tmpDir = Files.createTempDirectory("li_repart").toFile.getAbsolutePath
    li.write.mode("overwrite").parquet(s"$tmpDir/lineitem.parquet")
    // copy the other tables' paths is unnecessary: summary reads lineitem only
    val again = Summary.lineitemVatSummary(spark, tmpDir).collect().toSeq
    assert(base == again)
  }
}
