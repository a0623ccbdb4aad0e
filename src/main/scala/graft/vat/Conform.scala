package graft.vat

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset}
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
  * The reference runs `process_sheet` once per sheet and concatenates
  * the results (fianl2.py:130-164, 212-221). Here every sheet of a
  * filing or a backfill conforms through ONE projection over ONE cells
  * relation, `(pos INT, idx BIGINT, cells ARRAY<STRING>)`: `pos` is the
  * sheet's position among the sheets conformed together, `idx` the row's
  * index within its sheet and `cells` the row's dense cells, SQL null
  * for an empty cell. What differs between sheets is metadata: a
  * driver-side [[SheetLayout]], read from the sheet's ≤30-row head (one
  * tiny job per CSV sheet; one job for ALL sheets of a bulk backfill),
  * never from the full data. [[Projection]] folds the layouts into the
  * select as literal arrays indexed by `pos`, so the plan, its planning
  * time and its generated code do not grow with the number of sheets.
  *
  * The year is the one per-sheet fact that needs a pass over the data;
  * `VatPipeline` — the only ingest entry point — counts
  * [[Projection.parsedYear]] for all sheets of a filing in ONE grouped
  * pass, together with the null-box and rate diagnostics, picks each
  * sheet's `modeYear` from those counts and hands the years to
  * [[Projection.rows]].
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

  /** Money columns: converted to AED from their cell (P3). */
  private val MoneyCols = Seq("net_value", "vat_value", "invoice_value")

  /** Columns every sheet gets from enrichment, in the order they are
    * added; none reads a cell of its own. */
  private val EnrichedCols = Seq("month", "month_num", "year",
    "source_sheet", "box_was_null", "box_letter")

  /** Columns the conform reads; a sheet where one of them names more
    * than one column is refused. */
  private val ReadCols = MoneyCols ++ Seq("box", "date")

  /** One sheet's conform as data: `label` is its `source_sheet`,
    * `headerRow` the `idx` of its header row (body rows come after it),
    * `columns` its output columns in order, each with the index of the
    * cell behind it (none for a missing required column and for the
    * enriched ones), and `month`/`monthNum` its period from the label. */
  final case class SheetLayout(label: String, headerRow: Int,
      columns: Seq[(String, Option[Int])], month: String, monthNum: Int) {

    /** The cell of the column named exactly `date`, the only one the
      * year is parsed from (a `DATE` header keeps its cells but not the
      * year). */
    def dateCell: Option[Int] = columns.collectFirst { case ("date", c) => c }.flatten

    /** The cell behind each of `names` (a [[SheetLayout.union]] order):
      * the k-th column named like `names(j)` (case-insensitive, k
      * counting earlier equal names) or none. */
    def cellsFor(names: Seq[String]): Seq[Option[Int]] =
      names.indices.map { j =>
        val k = names.take(j).count(_.equalsIgnoreCase(names(j)))
        columns.filter(_._1.equalsIgnoreCase(names(j))).lift(k).flatMap(_._2)
      }
  }

  object SheetLayout {

    /** The layout of a sheet from its head, the first ≤30 rows of cells
      * (SQL null for an empty cell), by the reference's naming rules:
      *
      *  - the header row is `detectHeaderRow` of the head with nulls
      *    spelled "None" (Python's `str(None)`, so an empty header cell
      *    names a `None` column); a header blank after `normalizeHeader`
      *    names column i `_c<i>`
      *  - P1: a header whose normalized text is in `HeaderMap` renames
      *    every column it equals ignoring case — Spark's default name
      *    resolution, which every later step follows too
      *  - P2: required columns no header names are appended as nulls
      *  - P3: money and box columns keep their place under their
      *    canonical names; the enriched columns replace same-named
      *    headers in place or are appended
      *
      * A sheet where a column the conform reads (`ReadCols`) names two
      * columns fails with the analyzer's own ambiguous-reference error. */
    def apply(label: String, head: Seq[Seq[String]]): SheetLayout = {
      val sample = head.map(_.map(v => if (v == null) "None" else v))
      val headerRow = detectHeaderRow(sample)
      val raw = sample(headerRow).map(normalizeHeader).zipWithIndex
        .map { case (h, i) => if (h.isEmpty) s"_c$i" else h }
      val renamed = raw.foldLeft(raw) { (names, h) =>
        HeaderMap.get(h).fold(names)(canon =>
          names.map(n => if (n.equalsIgnoreCase(h)) canon else n))
      }
      val present = renamed.map(_.toLowerCase)
      val conformed = renamed.zipWithIndex.map { case (n, i) => n -> Option(i) } ++
        RequiredCols.filterNot(present.contains).map(_ -> Option.empty[Int])
      ReadCols.foreach { c =>
        val hits = conformed.map(_._1).filter(_.equalsIgnoreCase(c))
        if (hits.size > 1) throw new AnalysisException("AMBIGUOUS_REFERENCE",
          Map("name" -> s"`$c`", "referenceNames" -> hits.map(h => s"`$h`").mkString("[", ", ", "]")))
      }
      val canonical = conformed.map { case (n, cell) =>
        (if ((MoneyCols :+ "box").exists(n.equalsIgnoreCase)) n.toLowerCase else n) -> cell
      }
      val columns = EnrichedCols.foldLeft(canonical) { (cols, e) =>
        if (cols.exists(_._1.equalsIgnoreCase(e)))
          cols.map { case (n, cell) => if (n.equalsIgnoreCase(e)) e -> None else n -> cell }
        else cols :+ (e -> None)
      }
      val (month, monthNum) = extractMonthFromSheet(label)
      SheetLayout(label, headerRow, columns, month, monthNum)
    }

    /** The output columns of sheets conformed together, in
      * `unionByName(allowMissingColumns = true)` order: the first sheet's
      * columns, then each later sheet's new ones, names matched ignoring
      * case (a sheet's second `None` column is a new one). */
    def union(layouts: Seq[SheetLayout]): Seq[String] =
      layouts.foldLeft(Vector.empty[String]) { (out, l) =>
        l.columns.map(_._1).foldLeft((out, Map.empty[String, Int])) {
          case ((acc, seen), n) =>
            val k = seen.getOrElse(n.toLowerCase, 0)
            (if (acc.count(_.equalsIgnoreCase(n)) > k) acc else acc :+ n,
              seen.updated(n.toLowerCase, k + 1))
        }._1
      }
  }

  /** The schema of the cells relation every sheet is conformed from. */
  val Cells: StructType = StructType(Seq(StructField("pos", IntegerType),
    StructField("idx", LongType), StructField("cells", ArrayType(StringType))))

  /** Every sheet's conform as one projection over the cells relation
    * (`Cells`), sheet `layouts(pos)` for the rows of position `pos`.
    * Each output column is ONE expression for all sheets; a per-sheet
    * value — header row, cell index, month, label, year — is a lookup
    * by `pos` in a literal array, so the generated code does not depend
    * on the layout values and a row with no layout (`pos` null) drops.
    *
    * `body` picks each sheet's cells into one column per output column
    * that reads a cell; `rows` and `apply` conform those columns, as
    * the reference's `process_sheet` does a sheet's named columns. The
    * pick is `element_at`, which the optimizer does not copy into every
    * expression that reads the column, so a money cell is extracted
    * once per row however many expressions convert it.
    *
    * Currency conversion, period, provenance and box letter follow
    * fianl2.py:153-163. `box_was_null` records which rows had no Box
    * value BEFORE canonicalization — the always-on seam for the null-box
    * diagnostic (those rows silently change boxes between compat modes,
    * so the pipeline surfaces their count as a warning either way).
    *
    * `decimalMoney` (SURVEY.md §1.4/§7.4 — off by default, reference
    * parity keeps DOUBLE) types the three money columns DECIMAL(18,2) at
    * the source, making every downstream aggregate exact and
    * partition-order-invariant; `Summary.vatSummary` detects the type
    * from the schema, so the flag is set once, here. */
  final class Projection(layouts: IndexedSeq[SheetLayout],
      nanBoxCompat: Boolean, decimalMoney: Boolean) {

    /** Output column names, in order. */
    val columns: Seq[String] = SheetLayout.union(layouts)

    private def bySheet[T: TypeTag](values: Seq[T]): Column =
      get(typedlit(values), col("pos"))

    /** `bySheet` for a value that is never null, typed non-null like the
      * literal it stands for. */
    private def bySheet[T: TypeTag](values: Seq[T], none: T): Column =
      coalesce(bySheet(values), lit(none))

    /** The sheet's cell behind `cell`, null when the sheet has none. */
    private def pick(cell: Seq[Option[Int]]): Column =
      element_at(col("cells"), bySheet(cell.map(_.map(_ + 1))))

    private val cellIndex = layouts.map(_.cellsFor(columns))

    /** Output columns whose value is read from a cell: the required ones
      * in `RequiredCols` order, then the rest. The counts pass reads only
      * required columns, so its generated code is the same for every
      * header order. */
    private val fromCells = columns.indices
      .filterNot(j => EnrichedCols.contains(columns(j)))
      .sortBy(j => RequiredCols.indexWhere(columns(j).equalsIgnoreCase) match {
        case -1 => RequiredCols.size + j
        case r  => r
      })

    private def cell(j: Int): Column = col(s"cell$j")

    private val rawBox = cell(columns.indexOf("box"))

    private val asMoney: Column => Column =
      if (decimalMoney) c => currencyToAed(c).cast(DecimalType(18, 2))
      else currencyToAed(_)

    private val box = boxCanon(rawBox, nanBoxCompat)

    private def value(j: Int, years: Seq[Int]): Column = columns(j) match {
      case n if MoneyCols.contains(n) => asMoney(cell(j))
      case "box" => box
      case "month" => bySheet(layouts.map(_.month), "")
      case "month_num" => bySheet(layouts.map(_.monthNum), 0)
      case "year" => bySheet(years, 0)
      case "source_sheet" => bySheet(layouts.map(_.label), "")
      case "box_was_null" => rawBox.isNull
      case "box_letter" => boxLetter(box)
      case _ => cell(j)
    }

    /** The output column `name` of `body` (not `year`, which needs the
      * years). */
    def apply(name: String): Column = value(columns.indexOf(name), Nil)

    /** The year of each row's parsed `date` cell, null when unparseable
      * or when the sheet has no column named `date`. */
    val parsedYear: Column = year(parseDateMulti(col("date_cell")))

    /** Each sheet's body: its rows after its header row, as `pos` and
      * the cells the output columns and `parsedYear` read. */
    def body(cells: DataFrame): DataFrame =
      cells.filter(col("idx") > bySheet(layouts.map(_.headerRow)))
        .select(col("pos") +: fromCells.map(j =>
          pick(cellIndex.map(_(j))).as(s"cell$j")) :+
          pick(layouts.map(_.dateCell)).as("date_cell"): _*)

    /** The conformed rows: every output column of `body`, sheet `pos`
      * dated `years(pos)`. */
    def rows(body: DataFrame, years: Seq[Int]): DataFrame =
      body.select(columns.indices.map(j => value(j, years).as(columns(j))): _*)
  }

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

  /** A4 — most frequent year in the Date column, from per-year counts
    * of parseable dates (`VatPipeline` takes every sheet's counts from
    * one shared pass); ties → smallest year (pinned); no parseable
    * dates → current year (fianl2.py:115-126). */
  def modeYear(counts: Map[Int, Long]): Int =
    if (counts.isEmpty) java.time.Year.now.getValue
    else counts.minBy { case (y, n) => (-n, y) }._1
}
