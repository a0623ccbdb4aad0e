package graft.sources

import java.io.{File, FileInputStream, FileOutputStream, PrintWriter}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

/** Minimal xlsx codec — the reference's ACTUAL input format
  * (`pd.ExcelFile` / `pd.read_excel`, fianl2.py:133-135,212) and its
  * download sink (fianl2.py:241-248), implemented on nothing but the
  * JDK: an xlsx file is a ZIP of XML parts (`xl/workbook.xml` for sheet
  * names, `xl/_rels/workbook.xml.rels` for part paths,
  * `xl/sharedStrings.xml` for the string table, and one
  * `xl/worksheets/sheetN.xml` per sheet for cells).
  *
  * This is a DRIVER-SIDE metadata/ingest shim by design: workbooks are
  * interactive uploads (the reference's largest evidenced file is
  * ~440 KB), not cluster-scale data. Sheets are extracted to CSV files
  * that the distributed pipeline (`VatPipeline.processSheets`) then
  * reads through Spark's parallel CSV reader; only the bulk backfill
  * (`readAllSheets`) parses XML on executors. Cell coverage: shared strings (`t="s"`), inline strings
  * (`t="inlineStr"`), formula-cached strings (`t="str"`), booleans
  * (`t="b"`), and raw numerics — which is how Excel stores dates too
  * (serial numbers; `VatFunctions.parseDateMulti` already decodes them).
  */
object Xlsx {

  private val xif = {
    val f = XMLInputFactory.newInstance()
    // defense for untrusted workbooks: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  // ---------------------------------------------------------------- read

  /** Sheet names in workbook order (the reference's `xls.sheet_names`). */
  def sheetNames(path: String): Seq[String] =
    withZip(path)(z => parseWorkbook(z).map(_._1))

  /** One sheet as dense rows of strings: sparse cells AND sparse rows
    * (Excel omits blank rows from sheetData; the `r` attribute is the
    * truth) filled with "", every row padded to the sheet's max width —
    * matching what `read_excel(header=None)` hands the reference. */
  def readSheet(path: String, sheet: String): Seq[Seq[String]] = withZip(path) { z =>
    val book = parseWorkbook(z)
    val target = book.toMap.getOrElse(sheet,
      throw new IllegalArgumentException(
        s"sheet '$sheet' not in ${book.map(_._1).mkString(", ")}"))
    densify(parseWorksheet(z, target, parseSharedStrings(z)))
  }

  private def densify(rows: Seq[Seq[String]]): Seq[Seq[String]] = {
    val width = if (rows.isEmpty) 0 else rows.map(_.length).max
    rows.map(r => r.padTo(width, ""))
  }

  /** Extract every sheet to `outDir/<sheet>.csv`; returns (csvPath,
    * sheetName) pairs in workbook order — the exact input shape of
    * `VatPipeline.processSheets`. One pass over the ZIP: workbook,
    * relationships and the shared-string table parse once, not once per
    * sheet. */
  def toCsv(path: String, outDir: String): Seq[(String, String)] = {
    new File(outDir).mkdirs()
    withZip(path) { z =>
      val sst = parseSharedStrings(z)
      parseWorkbook(z).map { case (name, target) =>
        val f = new File(outDir, s"$name.csv")
        val w = new PrintWriter(f, "UTF-8")
        try densify(parseWorksheet(z, target, sst))
          .foreach(r => w.println(r.map(csvQuote).mkString(",")))
        finally w.close()
        f.getAbsolutePath -> name
      }
    }
  }

  /** Whole workbook from BYTES — the executor-side entry for bulk
    * ingest (`VatPipeline.processWorkbooks`): spill to a per-call temp
    * file (ZipFile needs random access; workbooks are interactive-
    * upload sized, KB–MB) and run the EXACT same parse chain as the
    * driver path, so the two paths agree bit-for-bit by construction.
    * Returns (sheetName, dense rows) in workbook order. */
  def readAllSheets(bytes: Array[Byte]): Seq[(String, Seq[Seq[String]])] = {
    val tmp = File.createTempFile("graft_wb", ".xlsx")
    try {
      val out = new FileOutputStream(tmp)
      try out.write(bytes) finally out.close()
      withZip(tmp.getAbsolutePath) { z =>
        val sst = parseSharedStrings(z)
        parseWorkbook(z).map { case (name, target) =>
          name -> densify(parseWorksheet(z, target, sst))
        }
      }
    } finally { tmp.delete(); () }
  }

  private def csvQuote(v: String): String =
    if (v.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  private def withZip[A](path: String)(f: ZipFile => A): A = {
    val z = new ZipFile(path)
    try f(z) finally z.close()
  }

  private def entryStream(z: ZipFile, name: String) = {
    val e = z.getEntry(name)
    if (e == null) null else z.getInputStream(e)
  }

  /** (sheetName, worksheet part path) in workbook order. */
  private def parseWorkbook(z: ZipFile): Seq[(String, String)] = {
    // r:id → target part, from the workbook relationships
    val rels = mutable.Map[String, String]()
    val relsIn = entryStream(z, "xl/_rels/workbook.xml.rels")
    if (relsIn != null) {
      val r = xif.createXMLStreamReader(relsIn)
      try while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship") {
          val target = r.getAttributeValue(null, "Target")
          val clean = if (target.startsWith("/xl/")) target.stripPrefix("/")
            else "xl/" + target.stripPrefix("./")
          rels(r.getAttributeValue(null, "Id")) = clean
        }
      } finally { r.close(); relsIn.close() }
    }
    val out = mutable.ArrayBuffer[(String, String)]()
    val wbIn = entryStream(z, "xl/workbook.xml")
    require(wbIn != null, "not an xlsx: missing xl/workbook.xml")
    val r = xif.createXMLStreamReader(wbIn)
    try while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        val name = r.getAttributeValue(null, "name")
        // the r:id attribute is namespaced; scan attributes by local name
        val rid = (0 until r.getAttributeCount)
          .find(i => r.getAttributeLocalName(i) == "id")
          .map(r.getAttributeValue)
        val target = rid.flatMap(rels.get)
          .getOrElse(s"xl/worksheets/sheet${out.length + 1}.xml")
        out += name -> target
      }
    } finally { r.close(); wbIn.close() }
    out.toSeq
  }

  private def parseSharedStrings(z: ZipFile): IndexedSeq[String] = {
    val in = entryStream(z, "xl/sharedStrings.xml")
    if (in == null) return IndexedSeq.empty
    val out = mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inSi = false
    var inT = false
    val r = xif.createXMLStreamReader(in)
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
        inSi = true; sb.clear()
      case XMLStreamConstants.START_ELEMENT if inSi && r.getLocalName == "t" =>
        inT = true
      case XMLStreamConstants.CHARACTERS if inT =>
        sb.append(r.getText)
      case XMLStreamConstants.END_ELEMENT if r.getLocalName == "t" =>
        inT = false
      case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
        inSi = false; out += sb.toString
      case _ => ()
    } finally { r.close(); in.close() }
    out.toIndexedSeq
  }

  /** "C3" → 0-based column 2. */
  private def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    if (letters.isEmpty) -1
    else letters.foldLeft(0)((acc, c) => acc * 26 + (c.toUpper - 'A' + 1)) - 1
  }

  private def parseWorksheet(z: ZipFile, part: String,
      sst: IndexedSeq[String]): Seq[Seq[String]] = {
    val in = entryStream(z, part)
    require(in != null, s"missing worksheet part $part")
    val rows = mutable.ArrayBuffer[Seq[String]]()
    val row = mutable.ArrayBuffer[String]()
    val text = new StringBuilder
    var cellType = ""
    var cellCol = -1
    var inV = false
    var nextCol = 0
    var rowIdx = 0 // 1-based row number from the r attribute
    val r = xif.createXMLStreamReader(in)
    try while (r.hasNext) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" =>
          row.clear(); nextCol = 0
          rowIdx = Option(r.getAttributeValue(null, "r"))
            .flatMap(_.toIntOption).getOrElse(rows.length + 1)
        case "c" =>
          cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
          cellCol = Option(r.getAttributeValue(null, "r"))
            .map(colIndex).filter(_ >= 0).getOrElse(nextCol)
          text.clear()
        case "v" | "t" => inV = true
        case _ => ()
      }
      case XMLStreamConstants.CHARACTERS if inV => text.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" | "t" => inV = false
        case "c" =>
          val raw = text.toString
          val v = cellType match {
            case "s"  => raw.toIntOption.flatMap(sst.lift).getOrElse("")
            case "b"  => if (raw == "1") "TRUE" else "FALSE"
            case _    => raw // inlineStr/str accumulate via <t>; numbers via <v>
          }
          while (row.length < cellCol) row += ""
          if (row.length == cellCol) row += v else row(cellCol) = v
          nextCol = cellCol + 1
        case "row" =>
          // Excel omits blank rows from sheetData; back-fill them so row
          // positions match the reference's read_excel grid
          while (rows.length < rowIdx - 1) rows += Seq.empty
          rows += row.toSeq
        case _ => ()
      }
      case _ => ()
    } finally { r.close(); in.close() }
    rows.toSeq
  }

  // --------------------------------------------------------------- write

  /** Write a minimal multi-sheet xlsx (the reference's summary-download
    * sink shape). Numeric-looking values become number cells, everything
    * else inline strings — which keeps dates-as-serials round-trippable
    * and needs no shared-string table. */
  def write(path: String, sheets: Seq[(String, Seq[Seq[String]])]): Unit = {
    require(sheets.nonEmpty, "workbook needs at least one sheet")
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val numeric = """-?\d+(\.\d+)?([eE][-+]?\d+)?""".r
    try {
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        sheets.indices.map(i =>
          s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        """</Types>""")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + """</sheets></workbook>""")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        sheets.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
        """</Relationships>""")
      sheets.zipWithIndex.foreach { case ((_, rows), i) =>
        val body = rows.zipWithIndex.map { case (cells, ri) =>
          s"""<row r="${ri + 1}">""" + cells.zipWithIndex.map { case (v, ci) =>
            val ref = colRef(ci) + (ri + 1)
            if (v == null || v.isEmpty) ""
            else if (numeric.matches(v)) s"""<c r="$ref"><v>$v</v></c>"""
            else s"""<c r="$ref" t="inlineStr"><is><t>${xmlEscape(v)}</t></is></c>"""
          }.mkString + "</row>"
        }.mkString
        put(s"xl/worksheets/sheet${i + 1}.xml",
          """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
          s"<sheetData>$body</sheetData></worksheet>")
      }
    } finally zos.close()
  }

  private def colRef(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val rem = (n - 1) % 26; sb.insert(0, ('A' + rem).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def xmlEscape(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  /** Dev convenience: file copy (e.g. staging an upload). */
  private[sources] def copy(src: String, dst: String): Unit = {
    val in = new FileInputStream(src)
    val out = new FileOutputStream(dst)
    try { in.transferTo(out); () } finally { in.close(); out.close() }
  }
}
