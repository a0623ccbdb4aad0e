package graft.api

import java.nio.file.Files

import graft.SparkSuite

/** End-to-end through the public facade: multi-sheet workbook →
  * mapping + summary + export, with a failing sheet surfaced not fatal. */
class GraftApiSpec extends SparkSuite {

  private lazy val tmp = Files.createTempDirectory("graft_api").toFile

  private def sheet(name: String, lines: Seq[String]): (String, String) = {
    val f = new java.io.File(tmp, s"$name.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    lines.foreach(w.println)
    w.close()
    (f.getAbsolutePath, name)
  }

  private lazy val jan = sheet("Jan 2024", Seq(
    "junk,,,,,",
    "Supply Type,Invoice #,Date,Net,Tax,Box",
    "Standard,1,2024-01-05,AED 100,5,A",
    "Zero,2,2024-01-06,$100,0,B",
    "Input,3,2024-01-07,50,2.5,C"))

  private lazy val feb = sheet("Feb 2024", Seq(
    "Supply Type,Invoice No.,Date,Net,Tax,Box",
    "Standard,9,2024-02-02,200,10,A"))

  test("workbook → mapping + summary; 4 rows per period in box order") {
    val result = new VatPipeline(spark).processSheets(Seq(jan, feb))
    assert(result.failures.isEmpty)

    val mapping = result.mapping.collect()
    assert(mapping.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      Set(("Jan 2024", "Jan", "2024"), ("Feb 2024", "Feb", "2024")))

    val s = result.summary.collect()
    assert(s.length == 8) // 2 periods × 4 boxes
    assert(s.map(_.getAs[String]("fta_box")).toSeq ==
      Seq("Box A", "Box B", "Box C", "Box D", "Box A", "Box B", "Box C", "Box D"))
    // Jan first (month_num order), Feb second
    assert(s.head.getAs[String]("period") == "Jan 2024")
    assert(s(4).getAs[String]("period") == "Feb 2024")
    // Feb: A net 200, vat 10; D payable = 10
    assert(s(4).getAs[Double]("net_value") == 200.0)
    assert(s(7).getAs[Double]("net_vat_payable") == 10.0)
  }

  test("JDBC sink round-trips the summary through embedded Derby (S6)") {
    // the reference's SQLite sink (fianl2.py:253-255) generalized to any
    // JDBC url; exercised end-to-end against Derby, the JDBC engine that
    // ships inside Spark's own jars — no external driver needed
    val result = new VatPipeline(spark).processSheets(Seq(jan, feb))
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    result.writeJdbc(url, "vat_summary", props)
    val back = spark.read.jdbc(url, "vat_summary", props)
    assert(back.columns.toSeq === result.summary.columns.toSeq)
    assert(back.collect().map(_.toSeq).toSet ===
      result.summary.collect().map(_.toSeq).toSet)
    // overwrite mode: a second write replaces, not appends
    result.writeJdbc(url, "vat_summary", props)
    assert(spark.read.jdbc(url, "vat_summary", props).count() ===
      result.summary.count())
  }

  test("missing sheet file is reported, remaining sheets still process") {
    val result = new VatPipeline(spark)
      .processSheets(Seq(jan, ("/nonexistent/nope.csv", "Mar 2024")))
    assert(result.failures.map(_.sheet) == Seq("Mar 2024"))
    assert(result.summary.count() == 4)
  }

  test("directory ingest enumerates csv sheets by basename (S3)") {
    val dir = Files.createTempDirectory("graft_dir").toFile
    for ((src, _) <- Seq(jan, feb)) {
      val f = new java.io.File(src)
      Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath)
    }
    val result = new VatPipeline(spark).processDirectory(dir.getAbsolutePath)
    assert(result.mapping.count() == 2)
    assert(result.summary.count() == 8)
  }

  test("multiple years in one sheet produce the reference's warning (A5)") {
    val mixed = sheet("Mix 2024", Seq(
      "Supply Type,Invoice #,Date,Net,Tax,Box",
      "Standard,1,2024-01-05,100,5,A",
      "Standard,2,2024-01-06,100,5,A",
      "Standard,3,2023-12-31,100,5,A"))
    val result = new VatPipeline(spark).processSheets(Seq(mixed))
    assert(result.warnings.exists(_.contains("multiple years")))
    // mode year wins: 2024 (2 rows) over 2023 (1 row)
    assert(result.data.select("year").distinct().collect()(0).getInt(0) == 2024)
  }

  test("vatRate: default 5% flags off-rate Box A rows; override re-bases the check") {
    val mixedRates = sheet("Jun 2024", Seq(
      "Supply Type,Invoice #,Date,Net,Tax,Box",
      "Standard,1,2024-06-01,100,5,A",    // exactly 5%
      "Standard,2,2024-06-02,100,10,A",   // 10% — off at the default rate
      "Input,3,2024-06-03,100,99,C"))     // Box C: never rate-checked
    val p = new VatPipeline(spark)
    // default: vatRate = 0.05 → only the 10% row is an outlier
    val dflt = p.processSheets(Seq(mixedRates), VatConfig())
    assert(dflt.warnings.count(_.contains("(rate check)")) == 1, dflt.warnings)
    assert(dflt.warnings.exists(w =>
      w.contains("Jun 2024") && w.contains("1 Box-A rows") && w.contains("5.00%")),
      dflt.warnings)
    // override to 10%: now the 5% row is the outlier instead — same count,
    // re-based message
    val ovr = p.processSheets(Seq(mixedRates), VatConfig(vatRate = 0.10))
    assert(ovr.warnings.exists(w =>
      w.contains("1 Box-A rows") && w.contains("10.00%")), ovr.warnings)
    // and a generous tolerance clears everything
    val loose = p.processSheets(Seq(mixedRates),
      VatConfig(rateTolerance = 100.0))
    assert(!loose.warnings.exists(_.contains("(rate check)")), loose.warnings)
  }

  test("typed Dataset[VatTransaction]: compile-time pipeline over conformed rows") {
    val res = new VatPipeline(spark).processSheets(Seq(jan, feb))
    val ds = res.typed
    // compile-time field access — a typed map/filter chain, no Rows
    val byBox = ds.filter(_.box.contains("A"))
      .map(t => t.net_value.getOrElse(0.0) + t.vat_value.getOrElse(0.0))(
        org.apache.spark.sql.Encoders.scalaDouble)
      .collect().sum
    assert(byBox == 100.0 + 5.0 + 200.0 + 10.0) // Jan A row + Feb A row
    // row count and periods survive the typed projection
    assert(ds.count() == res.data.count())
    assert(ds.collect().map(_.month).toSet == Set("Jan", "Feb"))
    // decimal mode yields the SAME typed view (money cast back to double)
    val dec = new VatPipeline(spark).processSheets(Seq(jan, feb),
      VatConfig(decimalMoney = true)).typed
    assert(dec.collect().map(_.net_value).toSet ==
      ds.collect().map(_.net_value).toSet)
  }

  test("bulk workbook ingest decodes on executors, bit-identical to " +
      "the driver path (S9)") {
    val dir = Files.createTempDirectory("graft_bulk").toFile
    def wb(name: String, sheets: Seq[(String, Seq[Seq[String]])]): Unit =
      graft.sources.Xlsx.write(
        new java.io.File(dir, s"$name.xlsx").getAbsolutePath, sheets)
    val header = Seq("Supply Type", "Invoice #", "Date", "Net", "Tax", "Box")
    wb("wb1", Seq(
      "Jan 2024" -> Seq(Seq("junk", "", "", "", "", ""), header,
        Seq("Standard", "1", "2024-01-05", "AED 100", "5", "A"),
        Seq("Zero", "2", "2024-01-06", "$100", "0", "B")),
      "Feb 2024" -> Seq(header,
        Seq("Standard", "9", "2024-02-02", "200", "10", "A"))))
    wb("wb2", Seq(
      "Mar 2024" -> Seq(header,
        Seq("Input", "3", "2024-03-07", "50", "2.5", "C"),
        Seq("Standard", "4", "2024-03-09", "1,000", "50", "A"))))
    // wb3 reuses wb1's sheet NAME — labels must keep them distinct
    wb("wb3", Seq(
      "Jan 2024" -> Seq(header,
        Seq("Standard", "7", "2024-01-15", "300", "15", "A"))))
    val p = new VatPipeline(spark)
    val cfg = VatConfig(decimalMoney = true)
    val bulk = p.processWorkbooks(dir.getAbsolutePath, cfg)
    assert(bulk.failures.isEmpty, bulk.failures)
    assert(bulk.mapping.count() == 4) // 4 sheets across 3 workbooks
    // the conform must read the ONE persisted decode, never
    // re-run the zip codec (the at-scale contract: decode once)
    assert(bulk.data.queryExecution.optimizedPlan.toString
      .contains("InMemoryRelation"), "decoded cells not cached")
    // driver-path equivalent: extract each workbook driver-side with
    // the same labels, run the interactive pipeline
    val pairs = dir.listFiles().filter(_.getName.endsWith(".xlsx"))
      .sortBy(_.getName).toSeq.flatMap { f =>
        val out = Files.createTempDirectory("graft_bulk_csv").toFile
        val base = f.getName.replaceAll("(?i)\\.xlsx$", "")
        graft.sources.Xlsx.toCsv(f.getAbsolutePath, out.getAbsolutePath)
          .map { case (csv, sheet) => csv -> s"$base/$sheet" }
      }
    val drv = p.processSheets(pairs, cfg)
    assert(bulk.summary.columns.toSeq === drv.summary.columns.toSeq)
    assert(bulk.summary.collect().map(_.toSeq).toSeq ===
      drv.summary.collect().map(_.toSeq).toSeq)
    assert(bulk.mapping.collect().map(_.toSeq).toSeq ===
      drv.mapping.collect().map(_.toSeq).toSeq)
    assert(bulk.warnings.sorted === drv.warnings.sorted)
  }

  test("openCatalog exposes the corpus to spark.sql") {
    Graft.openCatalog(spark, sfDir)
    val n = spark.sql(
      "SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey")
      .collect()(0).getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT COUNT(*) FROM events WHERE ts IS NOT NULL")
      .collect()(0).getLong(0) > 0)
  }

  test("csv export writes a single header-ed file") {
    val out = new java.io.File(tmp, "export").getAbsolutePath
    new VatPipeline(spark).processSheets(Seq(jan)).writeCsv(out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files(0)).getLines().toSeq
    assert(lines.head.split(",").contains("fta_box"))
    assert(lines.length == 5) // header + 4 box rows
  }
}
