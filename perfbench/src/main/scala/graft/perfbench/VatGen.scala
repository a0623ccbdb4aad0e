package graft.perfbench

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import scala.math.BigDecimal.RoundingMode
import scala.util.Random

/** Seeded VAT workbooks in the reference's messy input domain, with the
  * box A–D totals each one must produce, computed here without Spark.
  *
  * The totals come from a plain-Scala model of the reference rules
  * (fianl2.py as documented in FIXTURES.md §1): currency detection in
  * priority order, strip to `[0-9.()-]`, accounting negatives, invalid
  * numbers → 0, banker's rounding to cents; box membership by substring
  * of the upper-cased, trimmed Box cell; the period from the sheet name
  * and the most frequent date year of the sheet. The currency table is
  * the reference's, kept apart from the engine's copy on purpose.
  */
object VatGen {

  val Rates: Seq[(String, Double)] = Seq(
    "AED" -> 1.00, "د.إ" -> 1.00, "USD" -> 3.67, "$" -> 3.67,
    "EUR" -> 3.98, "€" -> 3.98, "GBP" -> 4.62, "£" -> 4.62,
    "SAR" -> 0.98, "ر.س" -> 0.98, "INR" -> 0.044, "₹" -> 0.044)

  val MonthAbbr: IndexedSeq[String] = IndexedSeq("Jan", "Feb", "Mar", "Apr",
    "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val MonthFull = IndexedSeq("January", "February", "March", "April",
    "May", "June", "July", "August", "September", "October", "November",
    "December")

  final case class Sheet(name: String, month: Int, year: Int,
      rows: IndexedSeq[IndexedSeq[String]], headerRow: Int) {
    def dataRows: IndexedSeq[IndexedSeq[String]] = rows.drop(headerRow + 1)
    def header: IndexedSeq[String] = rows(headerRow)
    def cells: Long = rows.map(_.length.toLong).sum
  }
  final case class Workbook(name: String, sheets: Seq[Sheet]) {
    def dataRows: Long = sheets.map(_.dataRows.length.toLong).sum
  }

  /** Sums of one period: net and VAT of boxes A, B and C. */
  final case class Totals(net: Map[Char, BigDecimal], vat: Map[Char, BigDecimal]) {
    def +(o: Totals): Totals = Totals(
      "ABC".map(c => c -> (net(c) + o.net(c))).toMap,
      "ABC".map(c => c -> (vat(c) + o.vat(c))).toMap)
  }
  object Totals {
    val zero: Totals = Totals("ABC".map(_ -> BigDecimal(0)).toMap,
      "ABC".map(_ -> BigDecimal(0)).toMap)
  }

  /** One summary line: (period, box) → (net, vat, payable). */
  type Summary = Map[(String, String), (BigDecimal, BigDecimal, BigDecimal)]

  // ------------------------------------------------------------- model

  /** Spark's `trim`: spaces only, not every control character. */
  private def spaceTrim(s: String): String =
    s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse

  /** A money cell converted to AED cents, the reference's way. */
  def aed(cell: String): BigDecimal = {
    if (cell == null || cell.isEmpty) return BigDecimal(0)
    val s = spaceTrim(cell)
    val rate = Rates.find { case (sym, _) => s.contains(sym) }.map(_._2).getOrElse(1.0)
    val cleaned = s.replaceAll("[^0-9.()\\-]", "")
    val unparen =
      if (cleaned.length >= 2 && cleaned.startsWith("(") && cleaned.endsWith(")"))
        "-" + cleaned.substring(1, cleaned.length - 1)
      else cleaned
    if (!unparen.matches("-?(\\d+\\.?\\d*|\\.\\d+)")) BigDecimal(0)
    else BigDecimal(unparen.toDouble * rate).setScale(2, RoundingMode.HALF_EVEN)
  }

  /** Boxes among A, B and C whose letter the Box cell contains. */
  def boxes(cell: String): Seq[Char] =
    if (cell == null || cell.isEmpty) Nil
    else {
      val u = spaceTrim(cell).toUpperCase
      "ABC".filter(u.contains(_)).toSeq
    }

  def period(month: Int, year: Int): String = s"${MonthAbbr(month - 1)} $year"

  /** Period totals of one sheet, from the cells alone. */
  def sheetTotals(s: Sheet): Totals = {
    val h = s.header.map(normalize)
    def idx(names: String*): Int = h.indexWhere(names.contains(_))
    val (iNet, iVat, iBox) = (idx("Net"), idx("Tax"), idx("Box"))
    s.dataRows.foldLeft(Totals.zero) { (t, r) =>
      val net = aed(r(iNet))
      val vat = aed(r(iVat))
      boxes(r(iBox)).foldLeft(t)((acc, b) => Totals(
        acc.net.updated(b, acc.net(b) + net),
        acc.vat.updated(b, acc.vat(b) + vat)))
    }
  }

  private def normalize(h: String): String =
    java.text.Normalizer.normalize(h, java.text.Normalizer.Form.NFKD)
      .replace('\u00A0', ' ').trim

  /** The summary a set of sheets must produce: four lines per period,
    * money rounded half-up to cents, box D = A's VAT − C's VAT. */
  def expected(sheets: Seq[Sheet]): Summary = {
    val byPeriod = sheets.groupBy(s => (s.year, s.month))
      .map { case ((y, m), ss) => period(m, y) -> ss.map(sheetTotals).reduce(_ + _) }
    def r(x: BigDecimal) = x.setScale(2, RoundingMode.HALF_UP)
    val zero = BigDecimal(0)
    byPeriod.toSeq.flatMap { case (p, t) =>
      "ABC".map(b => (p, s"Box $b") -> (r(t.net(b)), r(t.vat(b)), zero)) :+
        ((p, "Box D") -> (zero, r(t.vat('A') - t.vat('C')), r(t.vat('A') - t.vat('C'))))
    }.toMap
  }

  // --------------------------------------------------------- generator

  private val Preamble = Seq(
    Seq("VAT Return Workpaper"), Seq("Company", "Al Noor Trading LLC"),
    Seq("TRN", "100234567800003"), Seq(""), Seq("Prepared by", "Finance team"),
    Seq("Currency", "mixed"), Seq("Status", "draft"))
  private val Names = IndexedSeq("Gulf Star Foods", "Müller GmbH",
    "Smith, Jones & Co", "شركة الخليج", "Desert Rose Cafe", "Blue Wave Marine",
    "Orion Supplies", "Fatima Al Zahra", "Kumar Textiles", "\"Prime\" Logistics")
  private val SupplyTypes = IndexedSeq("Standard", "Zero Rated", "Import",
    "Exempt supply", "")
  // (cell, weight): every box variant the reference meets, nulls included
  private val BoxCells = IndexedSeq("A" -> 30, "Box A" -> 6, "box a" -> 4,
    " a " -> 3, "B" -> 12, "box b" -> 3, "C" -> 14, "Box C" -> 3, " c " -> 3,
    "D" -> 4, "D?" -> 2, "E" -> 2, "" -> 4)
  private val BoxTotalWeight = BoxCells.map(_._2).sum

  private def pickBox(rnd: Random): String = {
    var k = rnd.nextInt(BoxTotalWeight)
    BoxCells.find { case (_, w) => k -= w; k < 0 }.get._1
  }

  private def decorate(h: String, rnd: Random): String = rnd.nextInt(6) match {
    case 0 => h + " "
    case 1 => h.replace(' ', '\u00A0') + " "
    case 2 => " " + h
    case _ => h
  }

  private def money(rnd: Random): String = {
    val v = BigDecimal(rnd.nextInt(5000000)) / 100
    val plain = v.setScale(2).toString
    def grouped = {
      val (int, frac) = plain.splitAt(plain.indexOf('.'))
      int.reverse.grouped(3).mkString(",").reverse + frac
    }
    val (sym, _) = Rates(rnd.nextInt(Rates.length))
    rnd.nextInt(20) match {
      case 0 => ""                                   // missing
      case 1 => "--"                                 // unparseable
      case 2 => s"($plain)"                          // accounting negative
      case 3 => s"$sym ($grouped)"
      case 4 => plain.replace('.', ',')              // comma decimals
      case 5 => s"${sym}${plain.replace(".", "")}"
      case 6 | 7 => s"$sym $grouped"
      case 8 | 9 => s"$plain $sym"
      case 10 => grouped
      case _ => plain
    }
  }

  private val Epoch = LocalDate.of(1899, 12, 30)

  private def date(d: LocalDate, rnd: Random): String = rnd.nextInt(4) match {
    case 0 => d.toString
    case 1 => f"${d.getDayOfMonth}%02d/${d.getMonthValue}%02d/${d.getYear}"
    case 2 => ChronoUnit.DAYS.between(Epoch, d).toString
    case _ => ChronoUnit.DAYS.between(Epoch, d).toString + ".0"
  }

  private def sheetName(month: Int, year: Int, rnd: Random): String =
    rnd.nextInt(4) match {
      case 0 => s"${MonthFull(month - 1)} $year"
      case 1 => MonthAbbr(month - 1)
      case 2 => f"$month%02d"
      case _ => s"VAT ${MonthAbbr(month - 1)}-${year % 100}"
    }

  private def sheet(month: Int, year: Int, rows: Int, rnd: Random,
      used: Set[String]): Sheet = {
    var name = sheetName(month, year, rnd)
    while (used(name)) name = s"$name ${rnd.nextInt(10)}"
    val cols = rnd.shuffle(Seq(
      "Supply Type",
      Seq("#", "Invoice #", "Invoice No.")(rnd.nextInt(3)),
      "Date",
      Seq("Customer/supplier Name", "Customer Name", "Supplier Name")(rnd.nextInt(3)),
      "Net", "Tax", "Gross", "Recoverable", "Box") ++
      (if (rnd.nextInt(3) == 0) Seq("Notes") else Nil)).toIndexedSeq
    val header = cols.map(decorate(_, rnd))
    val preamble = (0 until rnd.nextInt(6)).map(_ => Preamble(rnd.nextInt(Preamble.length)))
    val body = (0 until rows).map { i =>
      val roll = rnd.nextInt(100)
      val d = LocalDate.of(if (roll < 8) year - 1 else year, month,
        1 + rnd.nextInt(28))
      val dateCell = if (roll >= 96) Seq("", "TBD", "n/a")(rnd.nextInt(3)) else date(d, rnd)
      cols.map {
        case "Supply Type" => SupplyTypes(rnd.nextInt(SupplyTypes.length))
        case "#" | "Invoice #" | "Invoice No." =>
          if (rnd.nextBoolean()) f"INV-${rnd.nextInt(100000)}%05d" else (10000 + i).toString
        case "Date" => dateCell
        case "Customer/supplier Name" | "Customer Name" | "Supplier Name" =>
          Names(rnd.nextInt(Names.length))
        case "Net" | "Tax" | "Gross" => money(rnd)
        case "Recoverable" => Seq("Yes", "No", "")(rnd.nextInt(3))
        case "Box" => pickBox(rnd)
        case _ => if (rnd.nextInt(4) == 0) "see ledger" else ""
      }
    }
    val width = cols.length
    val pre = preamble.map(r => r.toIndexedSeq.padTo(width, ""))
    Sheet(name, month, year, (pre :+ header) ++ body, pre.length)
  }

  /** One workbook per entry of `sheetsPerBook`, with that many sheets
    * of `minRows`–`maxRows` data rows each; mostly one filing year with
    * a minority of last year's dates, and now and then a sheet of the
    * previous year. */
  def workbooks(seed: Long, sheetsPerBook: Seq[Int], minRows: Int,
      maxRows: Int): Seq[Workbook] = {
    val rnd = new Random(seed)
    sheetsPerBook.zipWithIndex.map { case (nSheets, w) =>
      val baseYear = 2021 + rnd.nextInt(4)
      val months = rnd.shuffle((1 to 12).toList).take(nSheets)
      val sheets = months.foldLeft(Seq.empty[Sheet]) { (acc, m) =>
        val y = if (rnd.nextInt(5) == 0) baseYear - 1 else baseYear
        val n = minRows + rnd.nextInt(maxRows - minRows + 1)
        acc :+ sheet(m, y, n, rnd, acc.map(_.name).toSet)
      }
      Workbook(f"wb$w%03d", sheets)
    }
  }
}
