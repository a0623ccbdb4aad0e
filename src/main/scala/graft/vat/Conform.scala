package graft.vat

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.vat.VatFunctions._

/** The canonical post-conformance row (SURVEY.md §1.4) — the typed Scala
  * API over the dynamic ingest surface. `date` stays the raw cell string
  * (parse on demand via `VatFunctions.parseDateMulti`); money is DOUBLE
  * in the typed view even under `decimalMoney` (the decimal plumbing is
  * an aggregation-exactness concern, `Summary` reads the DataFrame). */
case class VatTransaction(
    supply_type: Option[String],
    invoice_number: Option[String],
    date: Option[String],
    customer_supplier_name: Option[String],
    net_value: Option[Double],
    vat_value: Option[Double],
    invoice_value: Option[Double],
    recoverable: Option[String],
    box: Option[String],
    month: String,
    month_num: Int,
    year: Int,
    source_sheet: String,
    box_was_null: Boolean,
    box_letter: Option[String])

/** Schema-on-read conformance: the reference's fuzzy header pipeline
  * (fianl2.py:130-150) re-expressed for Spark.
  *
  * Header-row detection and header normalization are *metadata* ops — they
  * run driver-side over a bounded ≤30-row sample (one tiny job per CSV
  * sheet; one job for ALL sheets of a bulk backfill), never over the full
  * data (SURVEY.md §4.1: the reference reads every sheet twice; we read
  * the head once for metadata and the body once for data).
  *
  * A sheet is conformed in two steps: a *body* (`csvSheetBody` /
  * `cellsSheetBody` → `enrichBody`, every column but the year) and a
  * *year step* (`withYear`). The year is the one per-sheet fact that
  * needs a pass over the data; `VatPipeline` — the only ingest entry
  * point — counts `parsedYear` for all sheets of a filing in ONE grouped
  * pass, together with the null-box and rate diagnostics, and picks
  * each sheet's `modeYear` from those counts.
  */
object Conform {

  /** Canonical engine schema (snake_case of fianl2.py:144-147). */
  val RequiredCols: Seq[String] = Seq(
    "supply_type", "invoice_number", "date", "customer_supplier_name",
    "net_value", "vat_value", "invoice_value", "recoverable", "box")

  /** Synonym → canonical map (fianl2.py:51-65), keyed by the *normalized*
    * raw header. */
  val HeaderMap: Map[String, String] = Map(
    "Supply Type" -> "supply_type",
    "#" -> "invoice_number",
    "Invoice #" -> "invoice_number",
    "Invoice No." -> "invoice_number",
    "Date" -> "date",
    "Recoverable" -> "recoverable",
    "Customer/supplier Name" -> "customer_supplier_name",
    "Customer Name" -> "customer_supplier_name",
    "Supplier Name" -> "customer_supplier_name",
    "Net" -> "net_value",
    "Tax" -> "vat_value",
    "Gross" -> "invoice_value",
    "Box" -> "box")

  private val Keywords = Seq("supply", "box", "date", "tax", "gross", "net")

  /** S2 — header-row detection (fianl2.py:74-81): first row among the
    * first 30 where ≥2 of the keywords appear (each keyword counted once,
    * matched as a substring of any cell); none → 0. `rows` is the
    * collected head of the raw sheet. */
  def detectHeaderRow(rows: Seq[Seq[String]]): Int = {
    rows.take(30).indexWhere { row =>
      val cells = row.map(c => String.valueOf(c).toLowerCase)
      Keywords.count(k => cells.exists(_.contains(k))) >= 2
    } match {
      case -1 => 0
      case i  => i
    }
  }

  /** P1+P2 — rename known headers to canonical names and add missing
    * canonical columns as string nulls (fianl2.py:139-150). Unknown
    * columns are preserved (the reference keeps them too). */
  def conformColumns(df: DataFrame): DataFrame = {
    val renamed = df.columns.foldLeft(df) { (acc, raw) =>
      val norm = normalizeHeader(raw)
      HeaderMap.get(norm) match {
        case Some(canon) => acc.withColumnRenamed(raw, canon)
        case None        => acc
      }
    }
    val missing = RequiredCols.filterNot(renamed.columns.map(_.toLowerCase).contains)
    missing.foldLeft(renamed)((acc, c) => acc.withColumn(c, lit(null).cast(StringType)))
  }

  /** One "sheet" (a headerless CSV file with possible junk preamble) →
    * conformed, typed, enriched VAT body, year not yet set (see
    * `enrichBody`). Mirrors process_sheet (fianl2.py:130-164) but
    * distributed:
    *
    *  - header detection on a driver-side `limit(30)` sample
    *  - preamble rows dropped by zipWithIndex (no second file read)
    *  - currency conversion / box canon / period literals as Column ops
    */
  def csvSheetBody(spark: SparkSession, path: String, sheetName: String,
      nanBoxCompat: Boolean = false, decimalMoney: Boolean = false): DataFrame = {
    val raw = spark.read
      .option("header", "false").option("inferSchema", "false")
      // RFC-4180 quoting: xlsx-extracted sheets carry doubled-quote
      // escapes and may hold newlines inside quoted cells; multiLine
      // keeps such records whole (sheets are interactive-upload sized,
      // so losing intra-file split parallelism is irrelevant)
      .option("escape", "\"").option("multiLine", "true")
      .csv(path)
    val head = sampleHead(raw.limit(30).collect().toSeq
      .map(r => Seq.tabulate(r.length)(r.getString)))
    val headerIdx = detectHeaderRow(head)
    val headers = head(headerIdx).map(normalizeHeader)

    // drop preamble + header row; keep partition-order semantics of the file
    val bodyRdd = raw.rdd.zipWithIndex()
      .filter(_._2 > headerIdx).map(_._1)
    val named = spark.createDataFrame(bodyRdd, raw.schema)
      .toDF(headers.zipWithIndex.map { case (h, i) => if (h.isEmpty) s"_c$i" else h }: _*)

    enrichBody(conformColumns(named), sheetName, nanBoxCompat, decimalMoney)
  }

  /** `csvSheetBody`'s twin over ALREADY-DECODED cells — `cellsDf` is
    * (idx BIGINT, cells ARRAY<STRING>) rows from the executor-side
    * workbook codec (`sources.Xlsx.readAllSheets`), dense and padded,
    * with empty cells as SQL nulls (mirroring what the driver path's
    * CSV round trip reads back). `head` is the sheet's first ≤30 rows
    * of cells, in `idx` order, which the caller already holds — a bulk
    * backfill collects every sheet's sample in one job. Same preamble
    * drop, same conform/enrich — the decode TRANSPORT is the only
    * difference, so the two paths agree bit-for-bit (GraftApiSpec pins
    * it). */
  def cellsSheetBody(cellsDf: DataFrame, head: Seq[Seq[String]],
      sheetName: String, nanBoxCompat: Boolean = false,
      decimalMoney: Boolean = false): DataFrame = {
    val sample = sampleHead(head)
    val headerIdx = detectHeaderRow(sample)
    val headers = sample(headerIdx).map(normalizeHeader)
    val named = cellsDf.filter(col("idx") > headerIdx)
      .select(headers.zipWithIndex.map { case (h, i) =>
        col("cells").getItem(i).as(if (h.isEmpty) s"_c$i" else h) }: _*)
    enrichBody(conformColumns(named), sheetName, nanBoxCompat, decimalMoney)
  }

  /** A collected header sample as header detection reads it: SQL nulls
    * spelled "None" (Python's `str(None)`). */
  private def sampleHead(rows: Seq[Seq[String]]): Seq[Seq[String]] =
    rows.map(_.map(v => if (v == null) "None" else v))

  /** Currency conversion, period detection, provenance, box letter
    * (fianl2.py:153-163), every column but the year: `year` is a typed
    * null that only holds the column's place, so `withYear` (the mode
    * of parsed Date years with pinned min-year tie-break, SURVEY.md A4)
    * sets it without moving it.
    *
    * `box_was_null` records which rows had no Box value BEFORE
    * canonicalization — the always-on seam for the null-box diagnostic
    * (those rows silently change boxes between compat modes, so the
    * pipeline surfaces their count as a warning either way).
    *
    * `decimalMoney` (SURVEY.md §1.4/§7.4 — off by default, reference
    * parity keeps DOUBLE) types the three money columns DECIMAL(18,2) at
    * the source, making every downstream aggregate exact and
    * partition-order-invariant; `Summary.vatSummary` detects the type
    * from the schema, so the flag is set once, here. */
  def enrichBody(conformed: DataFrame, sheetName: String,
      nanBoxCompat: Boolean = false, decimalMoney: Boolean = false): DataFrame = {
    val (monthAbbr, monthNum) = extractMonthFromSheet(sheetName)
    val asMoney: Column => Column =
      if (decimalMoney) c => currencyToAed(c).cast(DecimalType(18, 2))
      else currencyToAed(_)
    conformed
      .withColumn("net_value", asMoney(col("net_value")))
      .withColumn("vat_value", asMoney(col("vat_value")))
      .withColumn("invoice_value", asMoney(col("invoice_value")))
      .withColumn("month", lit(monthAbbr))
      .withColumn("month_num", lit(monthNum))
      .withColumn("year", lit(null).cast(IntegerType))
      .withColumn("source_sheet", lit(sheetName))
      .withColumn("box_was_null", col("box").isNull)
      .withColumn("box", boxCanon(col("box"), nanBoxCompat))
      .withColumn("box_letter", boxLetter(col("box")))
  }

  /** The year step: the sheet's period year as a literal, in place. */
  def withYear(body: DataFrame, yearVal: Int): DataFrame =
    body.withColumn("year", lit(yearVal))

  /** The typed Scala API over an enriched VAT table: compile-time field
    * access (`ds.map(_.net_value)`) after the dynamic conformance did
    * its work. Unknown passthrough columns are dropped; money is cast to
    * DOUBLE so the same type works in both money modes. */
  def typed(df: DataFrame): Dataset[VatTransaction] = {
    import df.sparkSession.implicits._
    df.select(
      col("supply_type").cast("string").as("supply_type"),
      col("invoice_number").cast("string").as("invoice_number"),
      col("date").cast("string").as("date"),
      col("customer_supplier_name").cast("string").as("customer_supplier_name"),
      col("net_value").cast("double").as("net_value"),
      col("vat_value").cast("double").as("vat_value"),
      col("invoice_value").cast("double").as("invoice_value"),
      col("recoverable").cast("string").as("recoverable"),
      col("box").cast("string").as("box"),
      col("month"), col("month_num"), col("year"),
      col("source_sheet"), col("box_was_null"), col("box_letter"))
      .as[VatTransaction]
  }

  /** The year of each row's parsed Date, null when unparseable or when
    * the sheet has no `date` column. */
  def parsedYear(df: DataFrame): Column =
    if (df.columns.contains("date")) year(parseDateMulti(col("date")))
    else lit(null).cast(IntegerType)

  /** A4 — most frequent year in the Date column, from per-year counts
    * of parseable dates (`VatPipeline` takes every sheet's counts from
    * one shared pass); ties → smallest year (pinned); no parseable
    * dates → current year (fianl2.py:115-126). */
  def modeYear(counts: Map[Int, Long]): Int =
    if (counts.isEmpty) java.time.Year.now.getValue
    else counts.minBy { case (y, n) => (-n, y) }._1
}
