package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.vat.{Conform, Summary}
import graft.vat.Conform.SheetLayout

/** Front door of the engine: everything the reference app does
  * (fianl2.py:198-259), as a library a reference user can switch to.
  *
  * Reference flow → engine call:
  *  - upload workbook, enumerate sheets (fianl2.py:212-213) →
  *    `VatPipeline.processSheets` over (csvPath, sheetName) pairs
  *  - per-sheet clean/conform (fianl2.py:130-164) → one
  *    `Conform.SheetLayout` per sheet, every sheet conformed by ONE
  *    `Conform.Projection`
  *  - error-tolerant ingest: failed sheets skipped, error surfaced
  *    (fianl2.py:216-221) → `VatResult.failures`
  *  - period mapping report (fianl2.py:230-233) → `VatResult.mapping`
  *  - VAT summary (fianl2.py:167-195) → `VatResult.summary`
  *  - xlsx download / sqlite sink (fianl2.py:241-255) → `writeCsv` /
  *    `writeParquet` / `writeJdbc` (any JDBC url whose driver is on the
  *    classpath; round-tripped against embedded Derby in GraftApiSpec,
  *    SURVEY.md §7.4)
  */
object Graft {

  /** Opinionated session builder: AQE on, UTC, shuffle parallelism sized
    * to the cluster (never the 200 default). */
  def session(appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    master.foreach(b.master)
    val s = b.getOrCreate()
    val parts = shufflePartitions.getOrElse(s.sparkContext.defaultParallelism)
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s
  }

  /** F12 — the reference's timestamped download filename
    * (`vat_summary_{datetime.now():%Y%m%d_%H%M%S}.xlsx`, fianl2.py:248).
    * The clock is injectable so callers (and tests) can pin the instant;
    * the default is wall-clock now, matching the reference. */
  def timestampedName(prefix: String = "vat_summary", ext: String = "xlsx",
      clock: java.time.Clock = java.time.Clock.systemDefaultZone()): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
    s"${prefix}_${java.time.LocalDateTime.now(clock).format(fmt)}.$ext"
  }

  /** Register every fixture table of a scale-factor directory as a temp
    * view, opening the full `spark.sql` surface over the corpus (the
    * engine's SQL front door; `AsOfJoin.ensurePlanned` installs the one
    * planner strategy the engine adds). */
  def openCatalog(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      graft.core.Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }
    graft.core.Tables.events(spark, dir).createOrReplaceTempView("events")
  }
}

/** Pipeline configuration — the reference UI's sidebar knobs plus the
  * engine's own modes, one immutable object:
  *
  *  - `nanBoxCompat` — replay pandas `astype(str)` null→"NAN" boxes
  *    (fianl2.py:162-163,176); see `processSheets`.
  *  - `decimalMoney` — SURVEY.md §1.4/§7.4: type money DECIMAL(18,2) at
  *    the source so every aggregate is exact cents. Off by default
  *    (reference parity is double + round(2)).
  *  - `vatRate` — the sidebar "VAT Rate (%)" input (ss1.png/ss2.png,
  *    default 5.00% → 0.05), used by the rate-check diagnostic: rows in
  *    Box A membership whose `|vat − net × rate|` exceeds
  *    `rateTolerance` (absolute, AED) are counted per sheet into
  *    `VatResult.warnings`. `rateCheck = false` silences it. */
final case class VatConfig(
    nanBoxCompat: Boolean = false,
    decimalMoney: Boolean = false,
    vatRate: Double = 0.05,
    rateTolerance: Double = 0.5,
    rateCheck: Boolean = true)

object VatPipeline {

  /** One failed sheet: name + error, mirroring the reference's per-sheet
    * try/except report (fianl2.py:216-221). */
  final case class SheetFailure(sheet: String, error: String)

  /** Spark's string order (UTF-8 bytes, unsigned), for driver-side sorts
    * that must agree with an `orderBy` on a string column. */
  private val BinaryOrder: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  final case class VatResult(data: DataFrame, failures: Seq[SheetFailure],
      warnings: Seq[String] = Seq.empty) {

    /** Sheet → detected period report (fianl2.py:230-233). */
    def mapping: DataFrame = data
      .select(col("source_sheet"), col("month"), col("year").cast("string").as("year"))
      .dropDuplicates("source_sheet", "month", "year")
      .orderBy(col("source_sheet"))

    /** The reference's whole analytical output (fianl2.py:167-195), as a
      * snapshot: the summary is computed once, on first access, and
      * served from a driver-local relation to every later reader —
      * `collect`, `writeXlsx`, `writeCsv`, `writeParquet`, `writeJdbc` —
      * so no sink recomputes it. Bounded at 4 rows per period. */
    lazy val summary: DataFrame = {
      val s = Summary.vatSummary(data)
      data.sparkSession.createDataFrame(
        java.util.Arrays.asList(s.collect(): _*), s.schema)
    }

    /** Typed view of the conformed rows (SURVEY.md §1.4's
      * `Dataset[VatTransaction]`) for compile-time Scala pipelines. */
    def typed: org.apache.spark.sql.Dataset[graft.vat.VatTransaction] =
      Conform.typed(data)

    def writeParquet(path: String): Unit =
      summary.coalesce(1).write.mode("overwrite").parquet(path)

    def writeCsv(path: String): Unit =
      summary.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(path)

    def writeJdbc(url: String, table: String,
        props: java.util.Properties = new java.util.Properties): Unit =
      summary.write.mode("overwrite").jdbc(url, table, props)

    /** The reference's download sink (fianl2.py:241-248): the summary as
      * a one-sheet xlsx. Driver-side by design — the summary is 4 rows
      * per period (bounded), never cluster-scale data, and already
      * local once computed, so the sink runs no job. */
    def writeXlsx(path: String, sheet: String = "VAT Summary"): Unit = {
      val df = summary.select("period", "fta_box", "description",
        "net_value", "vat_value", "net_vat_payable")
      val header = df.columns.toSeq
      val rows = df.collect().toSeq
        .map(r => (0 until r.length).map(i =>
          // blanks for SQL nulls, like the reference sink — not "null"
          if (r.isNullAt(i)) "" else String.valueOf(r.get(i))))
      graft.sources.Xlsx.write(path, Seq(sheet -> (header +: rows)))
    }

    /** The download-button flow verbatim: write into `dir` under the
      * reference's timestamped name; returns the path written. */
    def writeXlsxTimestamped(dir: String,
        clock: java.time.Clock = java.time.Clock.systemDefaultZone()): String = {
      val p = new java.io.File(dir, Graft.timestampedName(clock = clock)).getAbsolutePath
      writeXlsx(p)
      p
    }
  }
}

final class VatPipeline(spark: SparkSession) {
  import VatPipeline.{BinaryOrder, SheetFailure, VatResult}

  /** Ingest many sheets (one CSV file per sheet, junk preamble + synonym
    * headers tolerated), conform to the canonical schema, union by name.
    * Sheets that fail to parse are skipped and reported, like the
    * reference.
    *
    * Per sheet, only metadata is read: the CSV schema and the ≤30-row
    * head its `SheetLayout` comes from. Each file then becomes a narrow
    * leaf of cells rows (`zipWithIndex` keeps the file's row order, so
    * the preamble drops by index, without a second read); the leaves
    * are the only per-sheet branches, and one `Conform.Projection`
    * conforms them all.
    *
    * `nanBoxCompat = true` replays the reference's pandas `astype(str)`
    * quirk: null Box cells become the literal "NAN", which the contains
    * matching counts into Box A with box letter "N" (fianl2.py:162-163,
    * 176). Default `false` keeps nulls null, so null-box rows belong to
    * NO box — different totals on dirty data. Because the two modes
    * silently disagree, `warnings` always reports the null-box row count
    * per sheet whenever it is non-zero, in either mode. */
  def processSheets(sheets: Seq[(String, String)],
      nanBoxCompat: Boolean = false): VatResult =
    processSheets(sheets, VatConfig(nanBoxCompat = nanBoxCompat))

  /** Full-config entry point (decimal money, VAT-rate diagnostic). */
  def processSheets(sheets: Seq[(String, String)],
      config: VatConfig): VatResult = {
    val results = sheets.map { case (path, name) =>
      try {
        val raw = spark.read
          .option("header", "false").option("inferSchema", "false")
          // RFC-4180 quoting: xlsx-extracted sheets carry doubled-quote
          // escapes and may hold newlines inside quoted cells; multiLine
          // keeps such records whole (sheets are interactive-upload
          // sized, so losing intra-file split parallelism is irrelevant)
          .option("escape", "\"").option("multiLine", "true")
          .csv(path)
        val head = raw.limit(30).collect().toSeq
          .map(r => Seq.tabulate(r.length)(r.getString))
        Right(SheetLayout(name, head) -> raw)
      } catch { case e: Exception => Left(SheetFailure(name, String.valueOf(e.getMessage))) }
    }
    val read = results.collect { case Right(r) => r }
    val leaves = read.zipWithIndex.map { case ((_, raw), pos) =>
      raw.rdd.zipWithIndex().map { case (r, i) =>
        Row(pos, i, Seq.tabulate(r.length)(r.getString))
      }
    }
    finish(spark.createDataFrame(spark.sparkContext.union(leaves), Conform.Cells),
      read.map(_._1).toIndexedSeq, results.collect { case Left(f) => f }, config)
  }

  /** Shared tail of every ingest front door: `cells` rows (`Conform.Cells`)
    * of the sheets `layouts`, by position, all conformed by ONE
    * `Conform.Projection`. ONE grouped pass over it — never a pass per
    * sheet — counts rows, null-box rows and rate outliers per (sheet
    * position, parsed year). From those counts the driver derives each
    * sheet's mode year (keyed by position: two sheets may share a name),
    * the multiple-years warnings (sheet order) and the null-box and rate
    * warnings (summed by sheet name, in name order). Null-box rows change
    * boxes between compat modes, so their existence is always surfaced;
    * the rate check flags Box-A-membership rows whose VAT is not
    * net × vatRate within tolerance (the sidebar rate input put to real
    * use: it catches mis-keyed or mis-rated invoices before they reach
    * the return). */
  private def finish(cells: DataFrame, layouts: IndexedSeq[SheetLayout],
      failures: Seq[SheetFailure], config: VatConfig): VatResult = {
    require(layouts.nonEmpty, "No valid sheets processed")
    val conform = new Conform.Projection(layouts, config.nanBoxCompat,
      config.decimalMoney)
    val body = conform.body(cells)
    val rateOutlier = conform("box").contains("A") &&
      conform("net_value").isNotNull && conform("vat_value").isNotNull &&
      abs(conform("vat_value").cast("double") -
        conform("net_value").cast("double") * lit(config.vatRate)) >
        lit(config.rateTolerance)
    // rows: (pos, y, n, n_null_box, n_rate_outliers)
    val counts = body.select(col("pos"), conform.parsedYear.as("y"),
        conform("box_was_null").as("box_was_null"), rateOutlier.as("rate_outlier"))
      .groupBy(col("pos"), col("y")).agg(
        count(lit(1)).as("n"),
        sum(when(col("box_was_null"), 1L).otherwise(0L)).as("n_null_box"),
        sum(when(col("rate_outlier"), 1L).otherwise(0L)).as("n_rate_outliers"))
      .collect().toSeq
    val byPos = counts.groupBy(_.getInt(0))
    val yearCounts = layouts.indices.map(i =>
      byPos.getOrElse(i, Nil).filterNot(_.isNullAt(1))
        .map(r => r.getInt(1) -> r.getLong(2)).toMap)
    // A5 — the reference's "Multiple years detected" warning
    // (fianl2.py:124-125), surfaced per sheet
    val yearWarnings = layouts.zip(yearCounts).collect {
      case (l, ys) if ys.size > 1 =>
        s"Sheet '${l.label}': multiple years detected: " +
          ys.toSeq.sorted.map { case (y, n) => s"$y→$n" }.mkString(", ") +
          " — using most frequent year."
    }
    val diag = counts.groupMapReduce(r => layouts(r.getInt(0)).label)(
      r => (r.getLong(3), r.getLong(4))) { case ((a, b), (x, y)) => (a + x, b + y) }
      .toSeq.sortBy(_._1)(BinaryOrder)
    val nullBoxWarnings = diag.collect { case (name, (n, _)) if n > 0 =>
      val fate = if (config.nanBoxCompat)
        "counted into Box A as 'NAN' (astype-str compat)"
      else "in NO box (nulls stay null; enable nanBoxCompat to replay the reference)"
      s"Sheet '$name': $n rows with null Box — $fate."
    }
    val rateWarnings =
      if (!config.rateCheck) Seq.empty[String]
      else diag.collect { case (name, (_, n)) if n > 0 =>
        f"Sheet '$name': $n Box-A rows where " +
          f"|vat − net × ${config.vatRate * 100}%.2f%%| > ${config.rateTolerance}%.2f (rate check)."
      }
    VatResult(conform.rows(body, yearCounts.map(Conform.modeYear)), failures,
      yearWarnings ++ nullBoxWarnings ++ rateWarnings)
  }

  /** The reference's actual front door (fianl2.py:212-221): one xlsx
    * workbook in, every sheet enumerated and processed. The xlsx parts
    * are decoded driver-side (`sources.Xlsx` — workbooks are interactive
    * uploads, not cluster data) into CSV files that the distributed
    * sheet pipeline then ingests. */
  def processWorkbook(xlsxPath: String, nanBoxCompat: Boolean = false): VatResult =
    processWorkbook(xlsxPath, VatConfig(nanBoxCompat = nanBoxCompat))

  def processWorkbook(xlsxPath: String, config: VatConfig): VatResult = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_xlsx").toFile
    // the extracted CSVs back the returned (lazy) DataFrames, so they
    // must outlive this call; reclaim them at JVM exit
    tmp.deleteOnExit()
    val sheets = graft.sources.Xlsx.toCsv(xlsxPath, tmp.getAbsolutePath)
    sheets.foreach { case (p, _) => new java.io.File(p).deleteOnExit() }
    processSheets(sheets, config)
  }

  /** Bulk-backfill front door: MANY workbooks decoded on EXECUTORS.
    * `binaryFile` ships each workbook's bytes to a partition, the same
    * StAX codec (`sources.Xlsx.readAllSheets`) parses there, and only
    * the ≤30-row header samples ever reach the driver — a backfill of
    * thousands of workbooks parallelizes across the cluster instead of
    * serializing through driver-side decode. The interactive path
    * (`processWorkbook`) stays for single uploads (mirrors the
    * reference's upload flow, fianl2.py:212). Sheet labels are
    * `<workbook basename>/<sheet name>` so same-named sheets across
    * workbooks stay distinct. Decoded cells are persisted once, and ONE
    * `Conform.Projection` reads them directly (a literal label →
    * position map keys each row to its sheet's layout): the plan has
    * no per-sheet branch, so its size, planning time and generated code
    * do not grow with the number of sheets. The cache lazily backs the
    * returned frames — release is the caller's contract
    * (`spark.catalog.clearCache()`), as with every standing
    * intermediate in this engine. */
  def processWorkbooks(pathOrGlob: String,
      config: VatConfig = VatConfig()): VatResult = {
    import spark.implicits._
    val decoded = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx")
      .load(pathOrGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1)
          .replaceAll("(?i)\\.xlsx$", "")
        graft.sources.Xlsx.readAllSheets(bytes).flatMap { case (sheet, rows) =>
          rows.zipWithIndex.map { case (cells, i) =>
            // "" ↔ null: the driver path's CSV round trip reads empty
            // fields back as SQL nulls; mirror it so both paths
            // conform identically
            (s"$base/$sheet", i.toLong,
              cells.map(c => if (c.isEmpty) null else c))
          }
        }
      }
      .toDF("sheet_label", "idx", "cells")
      .persist()
    // every sheet's label and ≤30-row header sample in ONE job; a sheet
    // with no rows has no label, so it is not enumerated
    val heads = decoded.filter(col("idx") < 30).collect().toSeq
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)(BinaryOrder)
    val results = heads.map { case (label, rows) =>
      try Right(SheetLayout(label, rows.sortBy(_.getLong(1)).map(_.getSeq[String](2))))
      catch { case e: Exception =>
        Left(SheetFailure(label, String.valueOf(e.getMessage))) }
    }
    val layouts = results.collect { case Right(l) => l }.toIndexedSeq
    val pos = typedlit(layouts.map(_.label).zipWithIndex.toMap)
    finish(decoded.select(element_at(pos, col("sheet_label")).as("pos"),
        col("idx"), col("cells")),
      layouts, results.collect { case Left(f) => f }, config)
  }

  /** S3 — sheet enumeration: one CSV per sheet in a directory, sheet
    * name = file basename (the reference's `xls.sheet_names` analogue,
    * fianl2.py:212-213). */
  def processDirectory(dir: String, nanBoxCompat: Boolean = false): VatResult =
    processDirectory(dir, VatConfig(nanBoxCompat = nanBoxCompat))

  def processDirectory(dir: String, config: VatConfig): VatResult = {
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.toLowerCase.endsWith(".csv"))
      .sortBy(_.getName)
    processSheets(files.toSeq.map(f =>
      f.getAbsolutePath -> f.getName.replaceAll("\\.csv$", "")), config)
  }
}
