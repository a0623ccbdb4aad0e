package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout: interleave the bits of two sort
  * dimensions so that sorting by ONE key clusters the data in BOTH.
  * [EXT] SURVEY §2.11 — the data-skipping layout trick behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`: parquet footers keep per-file
  * min/max for every column, so a scan with a predicate on either
  * dimension prunes files only if that dimension is clustered; a linear
  * sort clusters one dimension and scatters the other, the z-curve
  * bounds both. At 100 TB the difference is "read 3% of files" vs
  * "read all of them" for the second dimension's predicates.
  *
  * The bit math is pure 64-bit integer ops (mask-and-shift spreading),
  * identical in any engine — the audit query carries a full DuckDB
  * oracle. Inputs must be non-negative and < 2^31 so the interleaved
  * value never reaches the sign bit and BIGINT ordering ≡ unsigned
  * z-curve ordering.
  */
object ZOrder {

  /** Spread the low 31 bits of `x` to even bit positions (0, 2, 4, …)
    * via the classic mask-and-shift cascade. */
  def spreadBits(x: Column): Column = {
    val start = x.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
    Seq(
      16 -> 0x0000FFFF0000FFFFL,
      8  -> 0x00FF00FF00FF00FFL,
      4  -> 0x0F0F0F0F0F0F0F0FL,
      2  -> 0x3333333333333333L,
      1  -> 0x5555555555555555L
    ).foldLeft(start) { case (acc, (s, m)) =>
      acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(m))
    }
  }

  /** Morton code: bits of `a` at even positions, `b` at odd. */
  def zValue(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Layout audit: bucket the fact table by z-curve block and report
    * each block's row count and bounding box in both dimensions. The
    * oracle-checked surface for the bit math AND the clustering claim —
    * block boxes are bounded tiles, not full-range stripes. */
  def zOrderAudit(lineitem: DataFrame, blockShift: Int): DataFrame =
    lineitem
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .withColumn("zblock",
        shiftrightunsigned(zValue(col("p"), col("s")), blockShift))
      .groupBy(col("zblock"))
      .agg(count(lit(1)).as("n"),
        min(col("p")).as("p_min"), max(col("p")).as("p_max"),
        min(col("s")).as("s_min"), max(col("s")).as("s_max"))
      .orderBy(col("zblock"))

  def zOrderAuditSql(blockShift: Int): String = {
    def spread(e: String): String = {
      // CAST first: on an INTEGER column the cascade would evaluate in
      // 32-bit and `<< 16` overflows DuckDB for keys >= 32768; the
      // engine side casts to long explicitly, so the oracle must too
      var cur = s"(CAST($e AS BIGINT) & 2147483647)"
      Seq(16 -> "281470681808895", 8 -> "71777214294589695",
        4 -> "1085102592571150095", 2 -> "3689348814741910323",
        1 -> "6148914691236517205").foreach { case (s, m) =>
        cur = s"(($cur | ($cur << $s)) & $m)"
      }
      cur
    }
    s"""WITH z AS (
       |  SELECT l_partkey AS p, l_suppkey AS s,
       |    (${spread("l_partkey")} | (${spread("l_suppkey")} << 1))
       |      >> $blockShift AS zblock
       |  FROM lineitem)
       |SELECT zblock, COUNT(*) AS n,
       |       MIN(p) AS p_min, MAX(p) AS p_max,
       |       MIN(s) AS s_min, MAX(s) AS s_max
       |FROM z GROUP BY zblock ORDER BY zblock""".stripMargin
  }

  /** Zone-map skipping effectiveness audit — the number the layout
    * decision is actually about: parquet footers keep per-file min/max
    * (zone maps), and a scan with a range predicate reads a file only
    * if the predicate overlaps its zone. This op simulates BOTH layouts
    * with value-based file assignment (linear = `p div 64` range
    * buckets on the sort key; z-order = the audit's z-curve blocks —
    * narrow maps, no global row_number), derives each file's s-zone,
    * and for every band of an s-predicate workload reports files/rows
    * each layout must read. The 100 TB claim made measurable: the
    * partkey-sorted layout's s-zones are full-range stripes (every
    * band reads ~all files), the z-layout's are bounded tiles.
    * All-integer: band grid = (smax + nBands − 1) div nBands off one
    * bounded scalar, overlap test two BIGINT compares. */
  def zoneMapSkipAudit(lineitem: DataFrame, blockShift: Int,
      nBands: Int): DataFrame = {
    val spark = lineitem.sparkSession
    val base = lineitem
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .localCheckpoint(true)
    val smax = base.agg(max(col("s"))).head().getLong(0)
    val w = (smax + nBands - 1) / nBands
    val bands = spark.range(nBands).select(col("id").cast("long").as("band"),
      (col("id") * w + 1).as("lo"),
      least((col("id") + 1) * w, lit(smax)).as("hi"))
    def zones(file: Column) = base
      .groupBy(file.as("f"))
      .agg(count(lit(1)).as("n"), min(col("s")).as("s_min"),
        max(col("s")).as("s_max"))
    def readStats(zm: DataFrame, tag: String) = zm
      .crossJoin(broadcast(bands))
      .groupBy(col("band"))
      .agg(count(lit(1)).as(s"files_$tag"),
        sum(when(col("s_max") >= col("lo") && col("s_min") <= col("hi"), 1L)
          .otherwise(0L)).as(s"files_read_$tag"),
        sum(when(col("s_max") >= col("lo") && col("s_min") <= col("hi"),
          col("n")).otherwise(0L)).as(s"rows_read_$tag"))
    val lin = readStats(zones(expr("p div 64")), "linear")
    val zo = readStats(
      zones(shiftrightunsigned(zValue(col("p"), col("s")), blockShift)), "z")
    bands.join(lin, Seq("band")).join(zo, Seq("band"))
      .orderBy(col("band"))
  }

  def zoneMapSkipAuditSql(blockShift: Int, nBands: Int): String = {
    def spread(e: String): String = {
      var cur = s"(CAST($e AS BIGINT) & 2147483647)"
      Seq(16 -> "281470681808895", 8 -> "71777214294589695",
        4 -> "1085102592571150095", 2 -> "3689348814741910323",
        1 -> "6148914691236517205").foreach { case (s, m) =>
        cur = s"(($cur | ($cur << $s)) & $m)"
      }
      cur
    }
    s"""WITH base AS (
       |  SELECT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |mx AS (SELECT MAX(s) AS smax, (MAX(s) + $nBands - 1) // $nBands AS w
       |       FROM base),
       |bands AS (
       |  SELECT r.range AS band,
       |    r.range * (SELECT w FROM mx) + 1 AS lo,
       |    least((r.range + 1) * (SELECT w FROM mx),
       |          (SELECT smax FROM mx)) AS hi
       |  FROM range(0, $nBands) r),
       |zlin AS (
       |  SELECT p // 64 AS f, COUNT(*) AS n, MIN(s) AS s_min,
       |         MAX(s) AS s_max
       |  FROM base GROUP BY 1),
       |zz AS (
       |  SELECT (${spread("p")} | (${spread("s")} << 1)) >> $blockShift AS f,
       |         COUNT(*) AS n, MIN(s) AS s_min, MAX(s) AS s_max
       |  FROM base GROUP BY 1),
       |lin AS (
       |  SELECT band, COUNT(*) AS files_linear,
       |    SUM(CASE WHEN s_max >= lo AND s_min <= hi THEN 1 ELSE 0 END)
       |      AS files_read_linear,
       |    SUM(CASE WHEN s_max >= lo AND s_min <= hi THEN n ELSE 0 END)
       |      AS rows_read_linear
       |  FROM zlin, bands GROUP BY band),
       |zo AS (
       |  SELECT band, COUNT(*) AS files_z,
       |    SUM(CASE WHEN s_max >= lo AND s_min <= hi THEN 1 ELSE 0 END)
       |      AS files_read_z,
       |    SUM(CASE WHEN s_max >= lo AND s_min <= hi THEN n ELSE 0 END)
       |      AS rows_read_z
       |  FROM zz, bands GROUP BY band)
       |SELECT b.band, b.lo, b.hi,
       |  CAST(files_linear AS BIGINT) AS files_linear,
       |  CAST(files_read_linear AS BIGINT) AS files_read_linear,
       |  CAST(rows_read_linear AS BIGINT) AS rows_read_linear,
       |  CAST(files_z AS BIGINT) AS files_z,
       |  CAST(files_read_z AS BIGINT) AS files_read_z,
       |  CAST(rows_read_z AS BIGINT) AS rows_read_z
       |FROM bands b JOIN lin USING (band) JOIN zo USING (band)
       |ORDER BY band""".stripMargin
  }

  /** Build-once bucketed twins of the fact join's two sides (lineitem
    * and orders, bucketed + sorted on the order key with the session's
    * shuffle-partition count) — the `ensureBackbone` discipline applied
    * to the hottest join in the schema. Paid once per corpus; every
    * subsequent orderkey join reads co-located buckets. */
  def ensureBucketedFacts(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val stem = dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase + "_b" +
      spark.sessionState.conf.numShufflePartitions
    (Bucketing.ensure(spark, s"graft_bkt_lineitem_$stem", "l_orderkey",
        Seq("l_orderkey"))(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))),
     Bucketing.ensure(spark, s"graft_bkt_orders_$stem", "o_orderkey",
        Seq("o_orderkey"))(Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))))
  }

  /** The declared bucketed-layout query: the orderkey fact join served
    * from the bucketed twins — SortMergeJoin with NO Exchange on either
    * side (pinned in BucketingSpec on this exact plan; at cluster scale
    * this is the one-shuffle-amortized-forever layout the 100 TB
    * contract wants). The RESULT is layout-independent, which is
    * exactly what makes it oracle-checkable: DuckDB computes the same
    * join from the flat parquet. */
  def bucketedFactJoin(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val (lt, ot) = ensureBucketedFacts(spark, dir)
    spark.table(lt)
      .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        graft.core.Exact.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val bucketedFactJoinSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
      |       AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  def queries: Seq[(String, QueryDef)] = Seq(
    "layout_bucketed" -> QueryDef(
      (s, d) => bucketedFactJoin(s, d), bucketedFactJoinSql),
    "layout_zonemap" -> QueryDef(
      (s, d) => zoneMapSkipAudit(Tables.lineitem(s, d), blockShift = 16,
        nBands = 10),
      zoneMapSkipAuditSql(blockShift = 16, nBands = 10)),
    "layout_zorder" -> QueryDef(
      (s, d) => zOrderAudit(Tables.lineitem(s, d), blockShift = 16),
      zOrderAuditSql(blockShift = 16)),
    "layout_skew_report" -> QueryDef(
      (s, d) => skewReport(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey"), buckets = 32),
      skewReportSql(Seq("l_orderkey", "l_partkey", "l_suppkey"), 32)))

  /** Partition-skew report for candidate shuffle/bucket keys — the ops
    * table that picks a layout BEFORE a 100 TB backfill: for each
    * candidate key, rows hash (md5-derived bucket — the same function
    * in both engines, unlike engine-native hashes) into `buckets`
    * partitions and the report surfaces the size spread plus
    * skew ×100 = 100·max·buckets div total — the straggler multiplier
    * a shuffle on that key would pay (100 = perfectly even). One
    * partial-agg pass per candidate over a shared scan, all-integer
    * output. */
  def skewReport(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      buckets: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val perKey = keys.map { k =>
      df.select(pmod(conv(substring(md5(col(k).cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(buckets.toLong)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("total"),
          min(col("n")).as("min_rows"), max(col("n")).as("max_rows"))
        .select(lit(k).as("key"), col("n_buckets"), col("total"),
          col("min_rows"), col("max_rows"),
          expr(s"100 * max_rows * $buckets div total").as("skew_x100"))
    }
    perKey.reduce(_.unionByName(_)).orderBy(col("key"))
  }

  def skewReportSql(keys: Seq[String], buckets: Int): String =
    keys.map { k =>
      s"""SELECT '$k' AS key, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(n) AS BIGINT) AS total,
         |  CAST(MIN(n) AS BIGINT) AS min_rows, CAST(MAX(n) AS BIGINT) AS max_rows,
         |  CAST(100 * MAX(n) * $buckets // SUM(n) AS BIGINT) AS skew_x100
         |FROM (
         |  SELECT ('0x' || substr(md5(CAST($k AS VARCHAR)), 1, 8))::BIGINT % $buckets AS bucket,
         |         COUNT(*) AS n
         |  FROM lineitem GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY key"
}
