package graft.vat

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, Tables}

/** The reference's analytical core (calculate_summary, fianl2.py:167-195)
  * as ONE declarative plan.
  *
  * The reference loops over distinct (month, year) pairs and re-filters
  * the full table per period and per box — O(periods × 4 × N) scans
  * (SURVEY.md §4.1). Here it is a single conditional hash aggregation:
  * Catalyst plans partial (map-side) + final HashAggregateExec, so the
  * data is scanned once no matter how many periods exist — the property
  * that makes this run on 100 TB: one shuffle keyed on (year, month), no
  * driver-side loops, and the unpivot + description lookup happen on the
  * already-tiny aggregate (4 rows per period, broadcast join for the
  * 4-row description dimension).
  */
object Summary {

  /** Long-format output rows per period, box order A,B,C,D
    * (fianl2.py:184-194): A/B/C carry payable=0; D carries net=0 and
    * payable = vatA − vatC (fianl2.py:182).
    *
    * Box matching is SUBSTRING containment, exactly like the reference's
    * `Box.str.contains(letter)` (fianl2.py:176) — which means a literal
    * box value "BOX A" matches box B too (the "B" of "BOX"). The golden
    * workbook uses bare letters, where containment degenerates to
    * equality; the quirk is reproduced, not fixed (SURVEY.md §7.4). */
  private case class BoxSpec(label: String, letter: String)

  /** Reference-parity summary over a conformed VAT table (post
    * `Conform.enrich`): double money, round(2) like fianl2.py:195.
    *
    * Decimal money mode is schema-driven: when `Conform.enrich` typed the
    * money columns DECIMAL(18,2) (the `decimalMoney` flag), the whole
    * aggregate — sums, Box D subtraction, output columns — stays decimal
    * end-to-end (exact cents, no float drift, partition-order-invariant);
    * round(2) is then a no-op on an already-scale-2 type. */
  def vatSummary(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val decimalMode = df.schema("net_value").dataType.isInstanceOf[DecimalType]
    val zero = if (decimalMode) lit(0).cast(DecimalType(18, 2)) else lit(0.0)
    def s(letter: String, c: String): Column =
      coalesce(sum(when(col("box").contains(letter), col(c))), zero)
    val agg = df.groupBy(col("month"), col("year")).agg(
      max(col("month_num")).as("month_num"),
      s("A", "net_value").as("netA"), s("A", "vat_value").as("vatA"),
      s("B", "net_value").as("netB"), s("B", "vat_value").as("vatB"),
      s("C", "net_value").as("netC"), s("C", "vat_value").as("vatC"))
    finishSummary(agg, df.sparkSession,
      Seq(BoxSpec("Box A", "A"), BoxSpec("Box B", "B"), BoxSpec("Box C", "C")),
      round2 = true,
      moneyType = if (decimalMode) "decimal(18,2)" else "double")
  }

  /** Flagship oracle query: the same VAT-summary semantics over the
    * driver's `lineitem` fixture (FIXTURES.md §2 mapping: box =
    * l_returnflag ∈ {A,N,R} ≙ boxes A/B/C, net = l_extendedprice, vat =
    * l_extendedprice × l_tax, period = shipdate month/year). Money is
    * aggregated in DECIMAL for bit-exact oracle parity (core.Exact).
    */
  def lineitemVatSummary(spark: SparkSession, dir: String,
      decimalMoney: Boolean = false): DataFrame = {
    import Exact._
    // explicit map-side spread: the fixture lineitem is a single-row-
    // group file (one scan task), and this chain's per-row work — date
    // extraction plus the exact DECIMAL money/VAT cascade — is the
    // stage cost. Probe steady 1.00 → 0.82 s with the spread; a no-op
    // at deployment scale where the scan already splits (see
    // core.Width / core.Tables scaladocs for the measured rule on
    // which scans earn this).
    val li = graft.core.Width.byKeys(
      Tables.lineitem(spark, dir), col("l_orderkey"))
    val base = li.select(
      year(col("l_shipdate")).as("year"),
      month(col("l_shipdate")).as("month_num"),
      col("l_returnflag").as("box"),
      money(col("l_extendedprice")).as("net"),
      (money(col("l_extendedprice")) * rate(col("l_tax"))).as("vat"))
    def s(letter: String, c: String): Column =
      coalesce(sum(when(col("box").contains(letter), col(c))), lit(0))
    val agg = base.groupBy(col("year"), col("month_num")).agg(
      s("A", "net").as("netA"), s("A", "vat").as("vatA"),
      s("N", "net").as("netB"), s("N", "vat").as("vatB"),
      s("R", "net").as("netC"), s("R", "vat").as("vatC"))
    finishSummary(agg, spark,
      Seq(BoxSpec("Box A", "A"), BoxSpec("Box B", "N"), BoxSpec("Box C", "R")),
      round2 = false,
      moneyType = if (decimalMoney) "decimal(18,2)" else "double",
      centsSurface = decimalMoney)
  }

  /** Unpivot the wide per-period aggregate into the reference's long
    * format and attach descriptions via a broadcast join against the
    * 4-row constant dimension (J1 — the reference's dict probe,
    * fianl2.py:186-193).
    *
    * The unpivot is `inline(array(struct…))` — an Expand over the
    * ALREADY-AGGREGATED rows. A union-of-selects formulation would
    * re-execute the whole scan+aggregation once per box (4× the I/O at
    * any scale); the Expand touches 4 tiny rows per period instead. */
  private def finishSummary(agg: DataFrame, spark: SparkSession,
      boxes: Seq[BoxSpec], round2: Boolean,
      moneyType: String = "double",
      centsSurface: Boolean = false): DataFrame = {
    val r: Column => Column = if (round2) round(_, 2) else identity
    val period = concat_ws(" ",
      VatFunctions.monthAbbrev(col("month_num")), col("year"))

    def slice(label: String, net: Column, vat: Column, pay: Column) =
      struct(lit(label).as("fta_box"),
        net.cast(moneyType).as("net_value"),
        vat.cast(moneyType).as("vat_value"),
        pay.cast(moneyType).as("net_vat_payable"))

    val slices = boxes.zipWithIndex.map { case (b, i) =>
      val suffix = ('A' + i).toChar.toString
      slice(b.label, r(col(s"net$suffix")), r(col(s"vat$suffix")), lit(0.0))
    } :+ slice("Box D", lit(0.0),
      r(col("vatA") - col("vatC")), r(col("vatA") - col("vatC")))

    val long = agg.select(col("year"), col("month_num"),
      period.as("period"), inline(array(slices: _*)))

    val desc = spark.createDataFrame(CurrencyRates.boxDescriptions)
      .toDF("fta_box", "description")
    // Exact-cents surface: the driver's hash compare is over cell
    // REPRESENTATIONS, and DECIMAL parquet reads back as Decimal objects
    // while the DuckDB oracle fetch yields float64 — value-equal but
    // hash-different. So oracle-checked output carries BIGINT cents
    // (exactness preserved, representation identical on both sides);
    // the DECIMAL math stays internal. Same rule as ARRAY/MAP
    // (PlanSpec "harness compat" lint, now covering DecimalType too).
    val moneyCols =
      if (centsSurface)
        Seq((col("net_value") * 100).cast("long").as("net_value_cents"),
          (col("vat_value") * 100).cast("long").as("vat_value_cents"),
          (col("net_vat_payable") * 100).cast("long")
            .as("net_vat_payable_cents"))
      else Seq(col("net_value"), col("vat_value"), col("net_vat_payable"))
    long.join(broadcast(desc), Seq("fta_box"), "left")
      .select(Seq(col("year"), col("month_num"), col("period"),
        col("fta_box"), col("description")) ++ moneyCols: _*)
      .orderBy(col("year"), col("month_num"), col("fta_box"))
  }

  /** DuckDB oracle for the exact-cents mode (`vat_summary_decimal`):
    * every surfaced DOUBLE becomes round(x, 2) × 100 → BIGINT cents.
    * Spark's scale-4 → scale-2 decimal cast rounds HALF_UP (Java: half
    * AWAY from zero); DuckDB's round() is also half-away-from-zero, so
    * the two engines agree on every .xx50 tie, including the possibly
    * negative Box D payable. Cents are surfaced as BIGINT (not DECIMAL)
    * because the driver hash is over cell representations: DECIMAL
    * parquet reads back as Decimal objects on the Spark side but
    * float64 on the DuckDB-fetch side — value-equal, hash-different. */
  def lineitemVatSummarySqlDecimal: String =
    lineitemVatSummarySql
      .replaceAll(
        """CAST\(([^()]*) AS DOUBLE\)""",
        "CAST(round($1, 2) * 100 AS BIGINT)")
      .replace(
        "l.net_value, l.vat_value, l.net_vat_payable",
        "l.net_value AS net_value_cents, l.vat_value AS vat_value_cents, " +
          "l.net_vat_payable AS net_vat_payable_cents")

  val lineitemVatSummarySql: String = {
    val months = (1 to 12).map(m =>
      s"($m,'${Seq("Jan","Feb","Mar","Apr","May","Jun","Jul","Aug","Sep","Oct","Nov","Dec")(m - 1)}')")
      .mkString(", ")
    val descs = CurrencyRates.boxDescriptions
      .map { case (b, d) => s"('$b','${d.replace("'", "''")}')" }.mkString(", ")
    s"""
WITH base AS (
  SELECT CAST(year(l_shipdate) AS INT) AS year,
         CAST(month(l_shipdate) AS INT) AS month_num,
         l_returnflag AS box,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS net,
         CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_tax AS DECIMAL(4,2)) AS vat
  FROM lineitem),
agg AS (
  SELECT year, month_num,
    COALESCE(SUM(CASE WHEN contains(box,'A') THEN net END), 0) AS neta,
    COALESCE(SUM(CASE WHEN contains(box,'A') THEN vat END), 0) AS vata,
    COALESCE(SUM(CASE WHEN contains(box,'N') THEN net END), 0) AS netb,
    COALESCE(SUM(CASE WHEN contains(box,'N') THEN vat END), 0) AS vatb,
    COALESCE(SUM(CASE WHEN contains(box,'R') THEN net END), 0) AS netc,
    COALESCE(SUM(CASE WHEN contains(box,'R') THEN vat END), 0) AS vatc
  FROM base GROUP BY year, month_num),
lng AS (
  SELECT year, month_num, 'Box A' AS fta_box,
         CAST(neta AS DOUBLE) AS net_value, CAST(vata AS DOUBLE) AS vat_value,
         CAST(0 AS DOUBLE) AS net_vat_payable FROM agg
  UNION ALL SELECT year, month_num, 'Box B', CAST(netb AS DOUBLE), CAST(vatb AS DOUBLE), CAST(0 AS DOUBLE) FROM agg
  UNION ALL SELECT year, month_num, 'Box C', CAST(netc AS DOUBLE), CAST(vatc AS DOUBLE), CAST(0 AS DOUBLE) FROM agg
  UNION ALL SELECT year, month_num, 'Box D', CAST(0 AS DOUBLE), CAST(vata - vatc AS DOUBLE), CAST(vata - vatc AS DOUBLE) FROM agg)
SELECT l.year, l.month_num,
       m.m_name || ' ' || CAST(l.year AS VARCHAR) AS period,
       l.fta_box, d.description, l.net_value, l.vat_value, l.net_vat_payable
FROM lng l
JOIN (VALUES $months) AS m(m_num, m_name) ON m.m_num = l.month_num
JOIN (VALUES $descs) AS d(fta_box, description) ON d.fta_box = l.fta_box
ORDER BY l.year, l.month_num, l.fta_box
""".trim
  }
}
