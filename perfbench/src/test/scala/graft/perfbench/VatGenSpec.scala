package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class VatGenSpec extends AnyFunSuite {

  test("the generator is deterministic for a seed") {
    val a = VatGen.workbooks(7L, Seq(1, 2), 50, 80)
    val b = VatGen.workbooks(7L, Seq(1, 2), 50, 80)
    assert(a == b)
    assert(a != VatGen.workbooks(8L, Seq(1, 2), 50, 80))
    assert(a.map(_.sheets.size) == Seq(1, 2))
    assert(a.flatMap(_.sheets).forall(s => s.dataRows.size >= 50 && s.dataRows.size <= 80))
  }

  test("every sheet's header row is the first row with two keywords") {
    val keywords = Seq("supply", "box", "date", "tax", "gross", "net")
    VatGen.workbooks(3L, Seq(2, 2, 2), 50, 60).flatMap(_.sheets).foreach { s =>
      val hits = s.rows.take(30).map(r =>
        keywords.count(k => r.exists(_.toLowerCase.contains(k))))
      assert(hits.indexWhere(_ >= 2) == s.headerRow, s.name)
    }
  }

  test("money cells convert the reference's way") {
    assert(VatGen.aed("AED 1,200.00") == BigDecimal("1200.00"))
    assert(VatGen.aed("(500)") == BigDecimal("-500.00"))
    assert(VatGen.aed("USD (1,000.00)") == BigDecimal("-3670.00"))
    assert(VatGen.aed("₹100") == BigDecimal("4.40"))
    // the Arabic symbols carry a dot, which survives the strip
    assert(VatGen.aed("د.إ 75") == BigDecimal("0.75"))
    assert(VatGen.aed("ر.س 40") == BigDecimal("0.39"))
    assert(VatGen.aed("€1.234,50") == BigDecimal("4.91"))
    assert(VatGen.aed("--") == BigDecimal(0))
    assert(VatGen.aed("") == BigDecimal(0))
    assert(VatGen.aed(null) == BigDecimal(0))
  }

  test("expected summary of a hand-sized workbook") {
    val rows = IndexedSeq(
      IndexedSeq("Company", "Al Noor", "", ""),
      IndexedSeq("Box ", "Net", "Tax", "Date"),
      IndexedSeq("A", "AED 100.00", "5.00", "2024-03-01"),
      IndexedSeq("Box C", "$ 10", "(1.00)", "2024-03-02"),  // boxes B and C
      IndexedSeq("b", "€1.234,50", "--", "2024-03-03"),
      IndexedSeq("", "50", "2.5", "2024-03-04"),           // no box
      IndexedSeq("D?", "7", "1", "2024-03-05"))            // box D is derived
    val sheet = VatGen.Sheet("March 2024", 3, 2024, rows, headerRow = 1)
    val got = VatGen.expected(Seq(sheet))
    def line(net: String, vat: String, pay: String) =
      (BigDecimal(net), BigDecimal(vat), BigDecimal(pay))
    assert(got == Map(
      ("Mar 2024", "Box A") -> line("100.00", "5.00", "0"),
      ("Mar 2024", "Box B") -> line("41.61", "-1.00", "0"),
      ("Mar 2024", "Box C") -> line("36.70", "-1.00", "0"),
      ("Mar 2024", "Box D") -> line("0", "6.00", "6.00")))
  }

  test("sheets of the same period add up") {
    val header = IndexedSeq("Net", "Tax", "Box")
    def sheet(name: String, y: Int, net: String) = VatGen.Sheet(name, 1, y,
      IndexedSeq(header, IndexedSeq(net, "1.00", "A")), headerRow = 0)
    val got = VatGen.expected(Seq(sheet("Jan", 2023, "10"), sheet("January 2023", 2023, "5"),
      sheet("01", 2022, "7")))
    assert(got(("Jan 2023", "Box A")) == ((BigDecimal("15.00"), BigDecimal("2.00"), BigDecimal(0))))
    assert(got(("Jan 2022", "Box A"))._1 == BigDecimal("7.00"))
    assert(got.size == 8)
  }
}
