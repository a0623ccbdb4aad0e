package graft.vat

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.vat.Conform.SheetLayout

/** A sheet's conform as driver-side data, without Spark: the header row,
  * the output columns with the cell behind each, the period, and the
  * column order of sheets conformed together. */
class SheetLayoutSpec extends AnyFunSuite {

  private val Enriched = Seq("month", "month_num", "year", "source_sheet",
    "box_was_null", "box_letter").map(_ -> None)

  test("the header row comes after a junk preamble; synonyms take their " +
      "canonical names; unknown columns pass through; missing required " +
      "columns and the enriched ones are appended without a cell") {
    val l = SheetLayout("Jan 2024", Seq(
      Seq("ACME LLC", null, null, null, null),
      Seq("Supply Type", "Invoice #", "Date", "Net", "Notes"),
      Seq("Standard", "1", "2024-01-05", "100", null)))
    assert(l.headerRow === 1)
    assert(l.columns === Seq("supply_type" -> Some(0),
      "invoice_number" -> Some(1), "date" -> Some(2), "net_value" -> Some(3),
      "Notes" -> Some(4), "customer_supplier_name" -> None,
      "vat_value" -> None, "invoice_value" -> None, "recoverable" -> None,
      "box" -> None) ++ Enriched)
    assert((l.month, l.monthNum, l.label) === (("Jan", 1, "Jan 2024")))
    assert(l.dateCell === Some(2))
  }

  test("no header row among the first 30 rows: row 0 is the header") {
    assert(SheetLayout("x", Seq(Seq("a", "b"), Seq("c", "d"))).headerRow === 0)
  }

  test("NBSP and edge spaces normalize before the synonym lookup; a " +
      "blank header names `_c<i>`, an empty one `None`") {
    val l = SheetLayout("Mar 2024", Seq(Seq("Supply\u00A0Type ", " Tax",
      "\u00A0", null, "Box", "Gross", "Net", "Invoice No.", "Date",
      "Customer\u00A0Name", "Recoverable")))
    assert(l.columns.map(_._1).take(5) ===
      Seq("supply_type", "vat_value", "_c2", "None", "box"))
    assert(l.columns.take(5).map(_._2) === (0 to 4).map(Some(_)))
    assert(l.columns.size === 11 + Enriched.size)
  }

  test("header case: renames and references resolve ignoring case, like " +
      "Spark's default name resolution") {
    val l = SheetLayout("Sep 2024", Seq(Seq("Year", "Month", "NET_VALUE",
      "BOX", "DATE", "Tax", "Gross")))
    // enriched names replace a same-named header in place, without a cell
    assert(l.columns.take(5) === Seq("year" -> None, "month" -> None,
      "net_value" -> Some(2), "box" -> Some(3), "DATE" -> Some(4)))
    // `DATE` counts as the date column but is not the one years parse from
    assert(!l.columns.exists(_._1 == "date"))
    assert(l.dateCell === None)
    assert(l.columns.map(_._1).count(_ == "month") === 1)
  }

  test("two headers that resolve to one column the conform reads fail " +
      "with the analyzer's ambiguous-reference error") {
    val e = intercept[AnalysisException](SheetLayout("May 2024",
      Seq(Seq("Supply Type", "Net", "Net\u00A0", "Tax", "Box"))))
    assert(e.getMessage === "[AMBIGUOUS_REFERENCE] Reference `net_value` is " +
      "ambiguous, could be: [`net_value`, `net_value`]. SQLSTATE: 42704")
    intercept[AnalysisException](SheetLayout("x",
      Seq(Seq("Date", "DATE", "Net", "Box"))))
    // two headers naming one passthrough column are kept, in place
    val dup = SheetLayout("x", Seq(Seq("Net", null, "Box", null)))
    assert(dup.columns.take(4).map(_._1) === Seq("net_value", "None", "box", "None"))
  }

  test("the union order is unionByName's: the first sheet's columns, then " +
      "each later sheet's new ones, matched ignoring case") {
    val a = SheetLayout("Jan", Seq(Seq("Net", "Box", "DATE", null)))
    val b = SheetLayout("Feb", Seq(Seq("Box", "Net", "Date", "Notes", null, null)))
    val names = SheetLayout.union(Seq(a, b))
    assert(names === a.columns.map(_._1) ++ Seq("Notes", "None"))
    assert(names.take(4) === Seq("net_value", "box", "DATE", "None"))
    // each sheet's cells, by output column: `DATE` takes b's `date`, and
    // the k-th `None` the sheet's k-th
    assert(a.cellsFor(names).take(4) === Seq(Some(0), Some(1), Some(2), Some(3)))
    assert(b.cellsFor(names).take(4) === Seq(Some(1), Some(0), Some(2), Some(4)))
    assert(a.cellsFor(names).takeRight(2) === Seq(None, None))
    assert(b.cellsFor(names).takeRight(2) === Seq(Some(3), Some(5)))
    assert(SheetLayout.union(Seq(a)) === a.columns.map(_._1))
  }
}
