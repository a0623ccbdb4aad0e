package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, QueryDef, Tables}

/** Declarative data-quality audit (the Deequ/expectations pattern): a
  * fixed suite of constraint checks evaluated in ONE pass per table
  * plus one anti-join for referential integrity, emitting a compact
  * (check, measured, ok) report. [EXT] — the reference trusts its
  * input after header conformance; a pipeline feeding a 100 TB corpus
  * runs exactly this before anything downstream is allowed to read a
  * new drop.
  *
  * Scale shape: every per-table constraint (uniqueness, null rate,
  * range, row count) folds into a single aggregate over that table —
  * the checks share one scan and one reduce, however many constraints
  * the suite carries. Referential integrity is a left-anti join keyed
  * on the FK (AQE decides broadcast vs shuffle); its violation count
  * aggregates the anti side, never materializing violations unless
  * asked. Measured values are exact integer counts or single IEEE
  * divisions of them — hash-safe cross-engine.
  */
object Quality {

  private def report(rows: Seq[(String, Column, Column)]): Column =
    // (check, measured, ok) triples exploded from one struct array so
    // the whole suite stays a single-row aggregate until the very end
    explode(array(rows.map { case (name, measured, ok) =>
      struct(lit(name).as("check"), measured.cast("double").as("measured"),
        ok.as("ok"))
    }: _*))

  /** The declared audit suite over the star schema's fact spine. */
  def dqAudit(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    // one scan of orders: primary-key uniqueness + row floor
    val o = orders.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("n_pk"))
      .select(report(Seq(
        ("orders.pk_unique", col("n") - col("n_pk"), col("n") === col("n_pk")),
        ("orders.row_floor", col("n"), col("n") >= 1000)
      )).as("r"))
    // one scan of lineitem: null rates + domain ranges
    val l = lineitem.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_shipdate").isNull, 1).otherwise(0)).as("null_ship"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1)
        .otherwise(0)).as("bad_disc"),
      sum(when(col("l_quantity") <= 0, 1).otherwise(0)).as("bad_qty"))
      .select(report(Seq(
        ("lineitem.shipdate_null_rate",
          col("null_ship").cast("double") / col("n"),
          col("null_ship").cast("double") / col("n") <= 0.01),
        ("lineitem.discount_in_range", col("bad_disc"), col("bad_disc") === 0),
        ("lineitem.quantity_positive", col("bad_qty"), col("bad_qty") === 0)
      )).as("r"))
    // referential integrity: lineitem.l_orderkey ⊆ orders.o_orderkey
    val fk = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
      .select(report(Seq(
        ("lineitem.fk_orders", col("orphans"), col("orphans") === 0)
      )).as("r"))
    o.unionByName(l).unionByName(fk)
      .select(col("r.check").as("check"), col("r.measured").as("measured"),
        col("r.ok").as("ok"))
      .orderBy(col("check"))
  }

  val dqAuditSql: String =
    """WITH o AS (
      |  SELECT COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS n_pk FROM orders),
      |l AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_ship,
      |    SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS bad_disc,
      |    SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS bad_qty
      |  FROM lineitem),
      |fk AS (
      |  SELECT COUNT(*) AS orphans FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      |rep AS (
      |  SELECT 'orders.pk_unique' AS check, CAST(n - n_pk AS DOUBLE) AS measured,
      |         n = n_pk AS ok FROM o
      |  UNION ALL
      |  SELECT 'orders.row_floor', CAST(n AS DOUBLE), n >= 1000 FROM o
      |  UNION ALL
      |  SELECT 'lineitem.shipdate_null_rate',
      |         CAST(null_ship AS DOUBLE) / n,
      |         CAST(null_ship AS DOUBLE) / n <= 0.01 FROM l
      |  UNION ALL
      |  SELECT 'lineitem.discount_in_range', CAST(bad_disc AS DOUBLE),
      |         bad_disc = 0 FROM l
      |  UNION ALL
      |  SELECT 'lineitem.quantity_positive', CAST(bad_qty AS DOUBLE),
      |         bad_qty = 0 FROM l
      |  UNION ALL
      |  SELECT 'lineitem.fk_orders', CAST(orphans AS DOUBLE),
      |         orphans = 0 FROM fk)
      |SELECT "check", measured, ok FROM rep ORDER BY "check"""".stripMargin

  /** Column profiler: null count, exact distinct count and min/max per
    * column, emitted as one row per column — the first pass any
    * warehouse runs over a new drop. All columns profile in ONE
    * aggregate over one scan (multi-column exact distinct plans as
    * Catalyst's Expand — a constant input-size factor, not extra
    * passes); min/max compare in native type and render to strings only
    * for the unified report schema. */
  def profileColumns(orders: DataFrame): DataFrame = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderpriority")
    val agg = orders.agg(
      count(lit(1)).as("n"),
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1).otherwise(0)).as(s"null_$c"),
        countDistinct(col(c)).as(s"dist_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))): _*)
    agg.select(profileReport(cols.map(c =>
        (c, col(s"null_$c"), col(s"dist_$c"), col(s"min_$c"), col(s"max_$c")))
      ).as("r"))
      .select(col("r.column").as("column"), col("r.n_null").as("n_null"),
        col("r.n_distinct").as("n_distinct"), col("r.min_val").as("min_val"),
        col("r.max_val").as("max_val"))
      .orderBy(col("column"))
  }

  private def profileReport(
      rows: Seq[(String, Column, Column, Column, Column)]): Column =
    explode(array(rows.map { case (name, nNull, nDist, mn, mx) =>
      struct(lit(name).as("column"), nNull.cast("long").as("n_null"),
        nDist.cast("long").as("n_distinct"), mn.as("min_val"),
        mx.as("max_val"))
    }: _*))

  val profileColumnsSql: String =
    """WITH a AS (
      |  SELECT
      |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_ck,
      |    COUNT(DISTINCT o_custkey) AS dist_ck,
      |    CAST(MIN(o_custkey) AS VARCHAR) AS min_ck,
      |    CAST(MAX(o_custkey) AS VARCHAR) AS max_ck,
      |    SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS null_os,
      |    COUNT(DISTINCT o_orderstatus) AS dist_os,
      |    CAST(MIN(o_orderstatus) AS VARCHAR) AS min_os,
      |    CAST(MAX(o_orderstatus) AS VARCHAR) AS max_os,
      |    SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS null_tp,
      |    COUNT(DISTINCT o_totalprice) AS dist_tp,
      |    CAST(MIN(o_totalprice) AS VARCHAR) AS min_tp,
      |    CAST(MAX(o_totalprice) AS VARCHAR) AS max_tp,
      |    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS null_op,
      |    COUNT(DISTINCT o_orderpriority) AS dist_op,
      |    CAST(MIN(o_orderpriority) AS VARCHAR) AS min_op,
      |    CAST(MAX(o_orderpriority) AS VARCHAR) AS max_op
      |  FROM orders)
      |SELECT "column", n_null, n_distinct, min_val, max_val FROM (
      |  SELECT 'o_custkey' AS "column", CAST(null_ck AS BIGINT) AS n_null,
      |         CAST(dist_ck AS BIGINT) AS n_distinct,
      |         min_ck AS min_val, max_ck AS max_val FROM a
      |  UNION ALL
      |  SELECT 'o_orderstatus', CAST(null_os AS BIGINT), CAST(dist_os AS BIGINT),
      |         min_os, max_os FROM a
      |  UNION ALL
      |  SELECT 'o_totalprice', CAST(null_tp AS BIGINT), CAST(dist_tp AS BIGINT),
      |         min_tp, max_tp FROM a
      |  UNION ALL
      |  SELECT 'o_orderpriority', CAST(null_op AS BIGINT), CAST(dist_op AS BIGINT),
      |         min_op, max_op FROM a)
      |ORDER BY "column"""".stripMargin

  // ---------------------------------------------- profile-drift audit

  /** A synthesized "next corpus version" of orders in which every drift
    * arm fires by construction (the pii_redact/planted-dup pattern —
    * the report must demonstrate each detector at every SF, not depend
    * on what the fixture happens to contain): every 13th key is dropped
    * (removed), every 11th surviving key nulls its priority (null-rate
    * drift + changed), every 17th bumps its price by 10^6 (max drift +
    * changed), and 5 synthetic rows with negative keys, custkey −1
    * (the fixture contains custkey 0),
    * status 'X' and price −1 arrive (added + min/distinct drift). */
  def driftedOrders(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val kept = orders
      .filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 17 === 0, col("o_totalprice") + 1000000.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(col("o_orderkey") % 11 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
    val added = spark.range(1, 6).select(
      (-col("id")).as("o_orderkey"), lit(-1L).as("o_custkey"),
      lit("X").as("o_orderstatus"), lit(-1.0).as("o_totalprice"),
      lit("DRIFT").as("o_orderpriority"))
    kept.unionByName(added)
  }

  /** Profile-drift audit: `profileColumns`' per-column statistics
    * computed on both corpus versions (one single-row aggregate per
    * side, crossed 1×1) plus `Etl.tableDiff`'s row-status counts (one
    * full-outer join), unified as (metric, before_v, after_v, delta) —
    * the pre-publish check a pipeline runs between corpus versions.
    * Scale shape: two scans + one join, no metric-wise passes; every
    * value is an exact count, a single IEEE division of counts, or a
    * native min/max — hash-safe cross-engine. */
  def profileDrift(orders: DataFrame): DataFrame = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderpriority")
    val numCols = Seq("o_custkey", "o_totalprice")
    val before = orders.select(col("o_orderkey") +: cols.map(col): _*)
    val after = driftedOrders(orders)
    def prof(df: DataFrame, p: String) = df.agg(
      count(lit(1)).cast("double").as(s"${p}n"),
      (cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1).otherwise(0)).cast("double").as(s"${p}null_$c"),
        countDistinct(col(c)).cast("double").as(s"${p}dist_$c"))) ++
       numCols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"${p}min_$c"),
        max(col(c)).cast("double").as(s"${p}max_$c")))): _*)
    def m(name: String, b: Column, a: Column) =
      struct(lit(name).as("metric"), b.as("before_v"), a.as("after_v"))
    val metrics =
      Seq(m("rows.total", col("b_n"), col("a_n"))) ++
      cols.flatMap(c => Seq(
        m(s"null_rate.$c",
          col(s"b_null_$c") / col("b_n"), col(s"a_null_$c") / col("a_n")),
        m(s"n_distinct.$c", col(s"b_dist_$c"), col(s"a_dist_$c")))) ++
      numCols.flatMap(c => Seq(
        m(s"min.$c", col(s"b_min_$c"), col(s"a_min_$c")),
        m(s"max.$c", col(s"b_max_$c"), col(s"a_max_$c"))))
    val profRows = prof(before, "b_").crossJoin(prof(after, "a_"))
      .select(explode(array(metrics: _*)).as("x"))
      .select(col("x.metric"), col("x.before_v"), col("x.after_v"))
    val statusRows = Etl.tableDiff(before, after, "o_orderkey", cols)
      .select(concat(lit("rows."), col("status")).as("metric"),
        lit(null).cast("double").as("before_v"),
        col("n").cast("double").as("after_v"))
    profRows.unionByName(statusRows)
      .select(col("metric"), col("before_v"), col("after_v"),
        (col("after_v") - col("before_v")).as("delta"))
      .orderBy(col("metric"))
  }

  val profileDriftSql: String =
    """WITH after AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 17 = 0 THEN o_totalprice + 1000000.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
      |         ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 13 <> 0
      |  UNION ALL
      |  SELECT -i, CAST(-1 AS BIGINT), 'X', -1.0, 'DRIFT'
      |  FROM (SELECT unnest(range(1, 6)) AS i)),
      |bp AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS null_ck,
      |    CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS dist_ck,
      |    CAST(CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS null_os,
      |    CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) AS dist_os,
      |    CAST(CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS null_tp,
      |    CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE) AS dist_tp,
      |    CAST(CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS null_op,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) AS dist_op,
      |    CAST(MIN(o_custkey) AS DOUBLE) AS min_ck, CAST(MAX(o_custkey) AS DOUBLE) AS max_ck,
      |    CAST(MIN(o_totalprice) AS DOUBLE) AS min_tp, CAST(MAX(o_totalprice) AS DOUBLE) AS max_tp
      |  FROM orders),
      |ap AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS null_ck,
      |    CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS dist_ck,
      |    CAST(CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS null_os,
      |    CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) AS dist_os,
      |    CAST(CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS null_tp,
      |    CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE) AS dist_tp,
      |    CAST(CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) AS null_op,
      |    CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) AS dist_op,
      |    CAST(MIN(o_custkey) AS DOUBLE) AS min_ck, CAST(MAX(o_custkey) AS DOUBLE) AS max_ck,
      |    CAST(MIN(o_totalprice) AS DOUBLE) AS min_tp, CAST(MAX(o_totalprice) AS DOUBLE) AS max_tp
      |  FROM after),
      |prof AS (
      |  SELECT 'rows.total' AS metric, bp.n AS before_v, ap.n AS after_v FROM bp, ap
      |  UNION ALL SELECT 'null_rate.o_custkey', bp.null_ck / bp.n, ap.null_ck / ap.n FROM bp, ap
      |  UNION ALL SELECT 'n_distinct.o_custkey', bp.dist_ck, ap.dist_ck FROM bp, ap
      |  UNION ALL SELECT 'null_rate.o_orderstatus', bp.null_os / bp.n, ap.null_os / ap.n FROM bp, ap
      |  UNION ALL SELECT 'n_distinct.o_orderstatus', bp.dist_os, ap.dist_os FROM bp, ap
      |  UNION ALL SELECT 'null_rate.o_totalprice', bp.null_tp / bp.n, ap.null_tp / ap.n FROM bp, ap
      |  UNION ALL SELECT 'n_distinct.o_totalprice', bp.dist_tp, ap.dist_tp FROM bp, ap
      |  UNION ALL SELECT 'null_rate.o_orderpriority', bp.null_op / bp.n, ap.null_op / ap.n FROM bp, ap
      |  UNION ALL SELECT 'n_distinct.o_orderpriority', bp.dist_op, ap.dist_op FROM bp, ap
      |  UNION ALL SELECT 'min.o_custkey', bp.min_ck, ap.min_ck FROM bp, ap
      |  UNION ALL SELECT 'max.o_custkey', bp.max_ck, ap.max_ck FROM bp, ap
      |  UNION ALL SELECT 'min.o_totalprice', bp.min_tp, ap.min_tp FROM bp, ap
      |  UNION ALL SELECT 'max.o_totalprice', bp.max_tp, ap.max_tp FROM bp, ap),
      |status AS (
      |  SELECT 'rows.' || CASE
      |      WHEN b.o_orderkey IS NULL THEN 'added'
      |      WHEN a.o_orderkey IS NULL THEN 'removed'
      |      WHEN b.o_custkey IS NOT DISTINCT FROM a.o_custkey
      |       AND b.o_orderstatus IS NOT DISTINCT FROM a.o_orderstatus
      |       AND b.o_totalprice IS NOT DISTINCT FROM a.o_totalprice
      |       AND b.o_orderpriority IS NOT DISTINCT FROM a.o_orderpriority
      |      THEN 'unchanged' ELSE 'changed' END AS metric,
      |    CAST(NULL AS DOUBLE) AS before_v,
      |    CAST(COUNT(*) AS DOUBLE) AS after_v
      |  FROM orders b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey
      |  GROUP BY 1)
      |SELECT metric, before_v, after_v, after_v - before_v AS delta
      |FROM (SELECT * FROM prof UNION ALL SELECT * FROM status)
      |ORDER BY metric""".stripMargin

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    * 2007): group the table by its quasi-identifier columns and flag
    * equivalence classes smaller than `k` (re-identifiable) or with
    * fewer than `l` distinct sensitive values (attribute-disclosing).
    * The training-data relevance: before releasing a user-derived
    * corpus, this is the per-class risk report a privacy review reads
    * next to `pii_redact`'s span scrub.
    *
    * One partial-agg shuffle on the QI key; the sensitive dimension is
    * banded to integers BEFORE the distinct (count-distinct over a
    * bounded band domain, not over raw doubles), so the expand fanout
    * per class is capped by the band count at any scale. */
  def kAnonymity(df: DataFrame, k: Int = 10, l: Int = 6): DataFrame =
    df.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(floor(col("c_acctbal") / 1000).cast("long"))
          .as("sensitive_bands"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("class_size"), col("sensitive_bands"),
        (col("class_size") < k).as("k_risk"),
        (col("sensitive_bands") < l).as("l_risk"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  def kAnonymitySql(k: Int = 10, l: Int = 6): String =
    s"""SELECT c_nationkey, c_mktsegment,
       |  CAST(COUNT(*) AS BIGINT) AS class_size,
       |  CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS BIGINT)
       |    AS sensitive_bands,
       |  COUNT(*) < $k AS k_risk,
       |  COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) < $l AS l_risk
       |FROM customer
       |GROUP BY c_nationkey, c_mktsegment
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  // ------------------------------------------------- referential audit

  /** The star schema's seven FK relationships, each as
    * (name, child table, child key, parent table, parent key). */
  private val FkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem.l_orderkey->orders",  "lineitem", "l_orderkey", "orders",   "o_orderkey"),
    ("lineitem.l_partkey->part",     "lineitem", "l_partkey",  "part",     "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",  "supplier", "s_suppkey"),
    ("orders.o_custkey->customer",   "orders",   "o_custkey",  "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey","nation",   "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey","nation",   "n_nationkey"),
    ("nation.n_regionkey->region",   "nation",   "n_regionkey","region",   "r_regionkey"))

  /** Full referential-integrity audit of the star schema: one row per
    * FK relationship with exact child-row, orphan-row and null-key-row
    * counts. Extends the single `dq_audit` FK probe to the whole FK
    * graph — the report a warehouse wants BEFORE joining a new drop,
    * because a silently-broken FK turns every downstream inner join
    * into a row-dropper.
    *
    * Scale shape: each arm first collapses the child to its DISTINCT
    * key inventory with per-key row counts (map-side combine does the
    * heavy lifting — the join probe side is |distinct keys|, not
    * |child rows|), then LEFT-joins the parent's key set (AQE
    * broadcasts the dimension parents; orders/part at 100 TB shuffle
    * on the key both sides already hash on). Orphans and null keys are
    * counted from the flags in the same single aggregate; no violation
    * row set is ever materialized. NULL FKs are reported separately
    * from orphans — SQL NOT IN semantics silently drops them, which is
    * exactly the surprise this report exists to surface. */
  def referentialAudit(spark: SparkSession, dir: String): DataFrame =
    referentialAuditOver(name => Tables.table(spark, dir, name))

  /** As `referentialAudit` over an explicit table loader (testability:
    * specs plant orphans/null FKs without touching fixtures). */
  def referentialAuditOver(load: String => DataFrame): DataFrame = {
    def arm(rel: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      val keyed = child.select(col(ck).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      val p = parent.select(col(pk).as("k")).distinct()
        .withColumn("present", lit(1))
      keyed.join(p, Seq("k"), "left")
        .agg(
          coalesce(sum(col("cnt")), lit(0)).as("n_child"),
          coalesce(sum(when(col("k").isNotNull && col("present").isNull,
            col("cnt"))), lit(0)).as("n_orphans"),
          coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0))
            .as("n_null_keys"))
        .select(lit(rel).as("relationship"),
          col("n_child").cast("long").as("n_child"),
          col("n_orphans").cast("long").as("n_orphans"),
          col("n_null_keys").cast("long").as("n_null_keys"),
          (col("n_orphans") === 0).as("ok"))
    }
    FkEdges.map { case (rel, c, ck, p, pk) =>
      arm(rel, load(c), ck, load(p), pk)
    }.reduce(_ unionByName _)
      .orderBy(col("relationship"))
  }

  val referentialAuditSql: String = {
    val arms = FkEdges.map { case (rel, c, ck, p, pk) =>
      // COALESCE on every SUM: an empty child table must report 0/true
      // like the Spark arm, not NULL (SUM over zero rows is NULL)
      s"""  SELECT '$rel' AS relationship,
         |    CAST(COUNT(*) AS BIGINT) AS n_child,
         |    CAST(COALESCE(SUM(CASE WHEN c.$ck IS NOT NULL AND p.k IS NULL
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphans,
         |    CAST(COALESCE(SUM(CASE WHEN c.$ck IS NULL THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_null_keys,
         |    COALESCE(SUM(CASE WHEN c.$ck IS NOT NULL AND p.k IS NULL
         |      THEN 1 ELSE 0 END), 0) = 0 AS ok
         |  FROM $c c LEFT JOIN (SELECT DISTINCT $pk AS k FROM $p) p
         |    ON c.$ck = p.k""".stripMargin
    }
    arms.mkString("", "\n  UNION ALL\n", "\nORDER BY relationship")
  }

  // --------------------------------------------------- freshness audit

  /** Feed-freshness audit: per event type, the last-seen event and its
    * staleness against the freshest type in the same drop. Anchoring on
    * the data's own max timestamp (not wall clock) keeps the report a
    * pure function of the input — reproducible across engines and
    * reruns, which a `now()`-based lag never is. A type silent for more
    * than `maxLagHours` while others kept flowing is exactly how a
    * dead upstream topic looks. One partial-aggregated scan; the
    * anchor is a window over the |types|-row aggregate. Micros are
    * exact BIGINTs end to end. */
  def freshness(events: DataFrame, maxLagHours: Long = 48): DataFrame = {
    val perType = events.groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
      .withColumn("last_us", unix_micros(col("last_ts")))
      .withColumn("anchor_us", expr("max(last_us) over ()"))
    perType
      .select(col("event_type"), col("n_events"),
        col("last_us"),
        (col("anchor_us") - col("last_us")).as("staleness_us"),
        (col("anchor_us") - col("last_us") <= maxLagHours * 3600000000L)
          .as("ok"))
      .orderBy(col("event_type"))
  }

  def freshnessSql(maxLagHours: Long = 48): String =
    s"""WITH p AS (
       |  SELECT event_type, COUNT(*) AS n_events,
       |    CAST(epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us
       |  FROM events GROUP BY 1)
       |SELECT event_type, CAST(n_events AS BIGINT) AS n_events, last_us,
       |  MAX(last_us) OVER () - last_us AS staleness_us,
       |  MAX(last_us) OVER () - last_us <= ${maxLagHours * 3600000000L} AS ok
       |FROM p ORDER BY event_type""".stripMargin

  // ------------------------------------------------------ Benford audit

  /** Benford first-digit expectation log10(1 + 1/d), pre-scaled to ppm
    * as LITERAL integer constants (computing log10 at query time would
    * put two libm implementations on the comparison surface; the law's
    * digit table is a constant, so it ships as one). */
  private val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Benford's-law first-significant-digit audit over order totals —
    * the classic fraud/data-fabrication screen: a money population
    * spanning orders of magnitude should put ~30.1% of first digits at
    * 1; fabricated or truncated feeds don't. One aggregate over one
    * scan; every surfaced number is an exact integer (observed ppm is
    * a single integer division; expected ppm is the literal table), so
    * the report is hash-stable cross-engine.
    *
    * First-digit extraction stays in integer space: exact cents via
    * the DECIMAL cast (`core/Exact`), rendered as a BIGINT string —
    * the leading digit of `round(100x)` IS the first significant digit
    * of x for x ≥ 0.01, with no float log10/pow near-boundary risk. */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    val cents = (Exact.money(col("o_totalprice")) * lit(100))
      .cast("decimal(14,0)")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val counts = orders
      .filter(col("o_totalprice") >= 0.01)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    import spark.implicits._
    val expected = BenfordPpm.toDF("digit", "expected_ppm")
    // left join FROM the constant digit table: digits with zero
    // observations still report (n_obs = 0), and the 9-row side drives
    expected.join(counts, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .withColumn("obs_ppm",
        expr("(n_obs * 1000000) div sum(n_obs) over ()").cast("long"))
      .select(col("digit"), col("n_obs").cast("long").as("n_obs"),
        col("obs_ppm"), col("expected_ppm").cast("long").as("expected_ppm"),
        (col("obs_ppm") - col("expected_ppm")).as("dev_ppm"))
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String = {
    val lits = BenfordPpm.map { case (d, p) => s"($d, ${p}::BIGINT)" }.mkString(", ")
    s"""WITH exp AS (
       |  SELECT * FROM (VALUES $lits) AS t(digit, expected_ppm)),
       |obs AS (
       |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
       |      AS DECIMAL(14,0)) AS VARCHAR), 1, 1) AS INT) AS digit,
       |    COUNT(*) AS n_obs
       |  FROM orders WHERE o_totalprice >= 0.01
       |  GROUP BY 1)
       |SELECT exp.digit, CAST(COALESCE(obs.n_obs, 0) AS BIGINT) AS n_obs,
       |  CAST((COALESCE(obs.n_obs, 0) * 1000000)
       |    // SUM(COALESCE(obs.n_obs, 0)) OVER () AS BIGINT) AS obs_ppm,
       |  exp.expected_ppm,
       |  CAST((COALESCE(obs.n_obs, 0) * 1000000)
       |    // SUM(COALESCE(obs.n_obs, 0)) OVER () AS BIGINT) - exp.expected_ppm
       |    AS dev_ppm
       |FROM exp LEFT JOIN obs USING (digit)
       |ORDER BY exp.digit""".stripMargin
  }

  /** Binned two-sample Kolmogorov–Smirnov drift statistic — the
    * distribution-level check `profileDrift`'s moment compare can't
    * see (equal means with different shapes): split the purchase-value
    * population weekday vs weekend, bin exact cents on a grid derived
    * from one bounded max scalar, and take the largest CDF gap. The
    * gap is EXACT: D = max |cum₁·n₂ − cum₂·n₁| in cross-multiplied
    * BIGINTs (no per-bin IEEE division), surfaced as floor ppm with
    * one integer `div`; the argmax bin is the smallest achieving the
    * max (deterministic via the struct max). Sub-binning resolution is
    * the documented truncation — the statistic is exactly the KS of
    * the binned distributions.
    *
    * Scale shape: one partial-aggregated groupBy collapses events to
    * ≤ nBins rows; the CDF window and the final fold run on that
    * bounded relation. */
  def ksDrift(events: DataFrame, nBins: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events
      .select(((weekday(col("ts")) + 1) >= 6).as("wend"),
        (Exact.money(col("value")) * 100).cast("long").as("cents"))
      .localCheckpoint(true)
    val cmax = base.agg(max(col("cents"))).head().getLong(0)
    val w = (cmax + nBins - 1) / nBins
    val bins = base
      .groupBy((col("cents") / w).cast("long").as("bin"))
      .agg(sum(when(col("wend"), 0L).otherwise(1L)).as("c1"),
        sum(when(col("wend"), 1L).otherwise(0L)).as("c2"))
    val cum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.orderBy(col("bin")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    bins
      .withColumn("cum1", sum(col("c1")).over(cum))
      .withColumn("cum2", sum(col("c2")).over(cum))
      .withColumn("n1", sum(col("c1")).over(tot))
      .withColumn("n2", sum(col("c2")).over(tot))
      .withColumn("d",
        abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
      .agg(max(col("n1")).as("n_weekday"), max(col("n2")).as("n_weekend"),
        max(struct(col("d"), (-col("bin")).as("nb"))).as("best"))
      .select(col("n_weekday"), col("n_weekend"),
        expr("(best.d * 1000000) div (n_weekday * n_weekend)").as("ks_ppm"),
        (-col("best.nb")).as("bin_at_max"))
  }

  def ksDriftSql(nBins: Int = 50): String =
    s"""WITH base AS (
       |  SELECT CAST(date_part('isodow', CAST(ts AS TIMESTAMP)) AS INT) >= 6
       |           AS wend,
       |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |mx AS (SELECT (MAX(cents) + $nBins - 1) // $nBins AS w FROM base),
       |b AS (
       |  SELECT cents // (SELECT w FROM mx) AS bin,
       |    SUM(CASE WHEN wend THEN 0 ELSE 1 END) AS c1,
       |    SUM(CASE WHEN wend THEN 1 ELSE 0 END) AS c2
       |  FROM base GROUP BY 1),
       |c AS (
       |  SELECT bin,
       |    SUM(c1) OVER (ORDER BY bin) AS cum1,
       |    SUM(c2) OVER (ORDER BY bin) AS cum2,
       |    SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
       |  FROM b),
       |d AS (
       |  SELECT bin, abs(cum1 * n2 - cum2 * n1) AS d, n1, n2 FROM c)
       |SELECT CAST(n1 AS BIGINT) AS n_weekday, CAST(n2 AS BIGINT) AS n_weekend,
       |  CAST((MAX(d) * 1000000) // (n1 * n2) AS BIGINT) AS ks_ppm,
       |  CAST(MIN(CASE WHEN d = (SELECT MAX(d) FROM d) THEN bin END)
       |       AS BIGINT) AS bin_at_max
       |FROM d GROUP BY n1, n2""".stripMargin

  /** Candidate-key / functional-dependency discovery audit: for a fixed
    * probe set of column combinations, surface row count, distinct
    * count, violation count and the verdict — the profiling step that
    * decides merge keys and dedup keys before a pipeline trusts them.
    * Uniqueness probes fold into ONE multi-distinct aggregate per table
    * (Catalyst expands once per distinct set — still a single scan);
    * the FD probe (o_custkey → o_orderpriority, expected to FAIL on this
    * schema) is one grouped distinct-count over the determinant. All
    * surfaces are exact BIGINT counts. */
  def keyDiscovery(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val o = orders.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("d_ok"),
      countDistinct(col("o_custkey")).as("d_ck"),
      countDistinct(col("o_custkey"), col("o_orderdate")).as("d_ckd"))
      .select(report(Seq(
        ("orders.key:o_orderkey", col("n") - col("d_ok"),
          col("n") === col("d_ok")),
        ("orders.key:o_custkey", col("n") - col("d_ck"),
          col("n") === col("d_ck")),
        ("orders.key:o_custkey+o_orderdate", col("n") - col("d_ckd"),
          col("n") === col("d_ckd"))
      )).as("r"))
    val l = lineitem.agg(
      count(lit(1)).as("n"),
      countDistinct(col("l_orderkey"), col("l_linenumber")).as("d_pk"))
      .select(report(Seq(
        ("lineitem.key:l_orderkey+l_linenumber", col("n") - col("d_pk"),
          col("n") === col("d_pk"))
      )).as("r"))
    val fd = orders.groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("d"))
      .agg(sum(when(col("d") > 1, 1L).otherwise(0L)).as("viol"))
      .select(report(Seq(
        ("orders.fd:o_custkey->o_orderpriority", col("viol"), col("viol") === 0)
      )).as("r"))
    o.unionByName(l).unionByName(fd)
      .select(col("r.check").as("check"), col("r.measured").as("measured"),
        col("r.ok").as("ok"))
      .orderBy(col("check"))
  }

  val keyDiscoverySql: String =
    """WITH o AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(DISTINCT o_orderkey) AS d_ok,
      |    COUNT(DISTINCT o_custkey) AS d_ck,
      |    COUNT(DISTINCT (o_custkey, o_orderdate)) AS d_ckd
      |  FROM orders),
      |l AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(DISTINCT (l_orderkey, l_linenumber)) AS d_pk
      |  FROM lineitem),
      |fd AS (
      |  SELECT CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS viol
      |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS d
      |        FROM orders GROUP BY o_custkey)),
      |rows_out AS (
      |  SELECT 'orders.key:o_orderkey' AS "check",
      |    CAST(n - d_ok AS DOUBLE) AS measured, n = d_ok AS ok FROM o
      |  UNION ALL
      |  SELECT 'orders.key:o_custkey', CAST(n - d_ck AS DOUBLE), n = d_ck FROM o
      |  UNION ALL
      |  SELECT 'orders.key:o_custkey+o_orderdate',
      |    CAST(n - d_ckd AS DOUBLE), n = d_ckd FROM o
      |  UNION ALL
      |  SELECT 'lineitem.key:l_orderkey+l_linenumber',
      |    CAST(n - d_pk AS DOUBLE), n = d_pk FROM l
      |  UNION ALL
      |  SELECT 'orders.fd:o_custkey->o_orderpriority', CAST(viol AS DOUBLE),
      |    viol = 0 FROM fd)
      |SELECT "check", measured, ok FROM rows_out ORDER BY "check"""".stripMargin

  /** Content-checksum manifest: per source, an ORDER-FREE corpus
    * fingerprint — doc count, char mass, and Σ(md5(text) residue mod
    * 10⁹) — the cheap equality certificate two copies of a dataset
    * compare before anyone diffs rows (silent corruption, partial
    * copies, re-encoding drift all move the sum). Residue sums are
    * commutative, so the manifest is partitioning/order-independent
    * by construction; one narrow md5 map + one partial-agg reduce. */
  def contentChecksum(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        length(col("text")).cast("long").as("nc"),
        (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
          % 1000000000L).as("res"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("res")).as("checksum"))
      .orderBy(col("source"))

  val contentChecksumSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT % 1000000000)
      |       AS BIGINT) AS checksum
      |FROM documents
      |GROUP BY source ORDER BY source""".stripMargin

  /** Event-time lateness audit — the measurement that SIZES a
    * watermark: within each type, events arrive in event_id order (the
    * log's ingest sequence); an event whose timestamp sits behind the
    * running event-time maximum is LATE by exactly that gap. Per type:
    * events, late events, max and total lateness in exact microseconds
    * — read these before choosing a watermark's delay, so that number
    * is not a guess. One type-keyed window over the
    * arrival order + one partial-agg reduce. */
  def latenessAudit(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("hwm", max(col("us")).over(w))
      .withColumn("late_us",
        greatest(coalesce(col("hwm") - col("us"), lit(0L)), lit(0L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("late_us") > 0).cast("long")).as("n_late"),
        max(col("late_us")).as("max_late_us"),
        sum(col("late_us")).as("sum_late_us"))
      .orderBy(col("event_type"))
  }

  val latenessAuditSql: String =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |l AS (
      |  SELECT event_type,
      |    greatest(COALESCE(MAX(us) OVER (PARTITION BY event_type
      |      ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0), 0)
      |      AS late_us
      |  FROM e)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
      |  CAST(SUM(late_us) AS BIGINT) AS sum_late_us
      |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------ join-size forecast

  /** Join-cardinality forecast WITHOUT running the join: for a join on
    * key k, |A ⋈ B| = Σ_k c_A(k)·c_B(k) exactly — two partial-agg
    * degree tables joined on the key domain (vocabulary-sized), never
    * the fact×fact product. Surfaces, per candidate join: both input
    * sizes, exact predicted output rows, the single heaviest key's
    * contribution and its share — the "will this join explode, and is
    * it one skewed key or genuine fan-out" readout a planner (or an
    * engineer sizing `spark.sql.shuffle.partitions`) wants BEFORE
    * paying the shuffle. The self-join row is the co-purchase build's
    * own cost forecast (Σ c² is its pair count before the u<v halving).
    * Heaviest key ties break to the smallest key id (struct max on
    * (contribution, −key)). */
  def joinSizeForecast(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    def degrees(df: DataFrame, key: String) =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
    def forecast(name: String, a: DataFrame, ka: String,
        b: DataFrame, kb: String): DataFrame = {
      val da = degrees(a, ka)
      val db = degrees(b, kb)
      da.join(db.withColumnRenamed("c", "c2"), Seq("k"))
        .select(col("k"), (col("c") * col("c2")).as("contrib"))
        .agg(
          sum(col("contrib")).as("predicted_rows"),
          count(lit(1)).as("n_shared_keys"),
          max(struct(col("contrib"), (-col("k")).as("nk"), col("k")))
            .as("m"))
        .select(lit(name).as("join_name"),
          col("predicted_rows"), col("n_shared_keys"),
          col("m.k").as("top_key"), col("m.contrib").as("top_contrib"),
          expr("m.contrib * 10000L div predicted_rows").as("top_share_bp"))
    }
    forecast("lineitem.orderkey x orders", lineitem, "l_orderkey",
        orders, "o_orderkey")
      .unionByName(forecast("lineitem.partkey self", lineitem, "l_partkey",
        lineitem, "l_partkey"))
      .unionByName(forecast("orders.custkey self", orders, "o_custkey",
        orders, "o_custkey"))
      .orderBy(col("join_name"))
  }

  val joinSizeForecastSql: String = {
    // top key = smallest k among max-contribution keys, spelled as a
    // max-then-filter CTE (the portable twin of Spark's struct max)
    def arm(name: String, a: String, ka: String, b: String, kb: String) =
      s"""SELECT '$name' AS join_name, agg.predicted_rows,
         |  agg.n_shared_keys, top.top_key, top.top_contrib,
         |  top.top_contrib * 10000 // agg.predicted_rows AS top_share_bp
         |FROM (
         |  SELECT CAST(SUM(contrib) AS BIGINT) AS predicted_rows,
         |    COUNT(*) AS n_shared_keys
         |  FROM (
         |    SELECT da.k, da.c * db.c AS contrib
         |    FROM (SELECT $ka AS k, COUNT(*) AS c FROM $a GROUP BY 1) da
         |    JOIN (SELECT $kb AS k, COUNT(*) AS c FROM $b GROUP BY 1) db
         |      USING (k))) agg
         |CROSS JOIN (
         |  SELECT MIN(k) AS top_key, CAST(MAX(contrib) AS BIGINT)
         |    AS top_contrib
         |  FROM (
         |    SELECT da.k, da.c * db.c AS contrib
         |    FROM (SELECT $ka AS k, COUNT(*) AS c FROM $a GROUP BY 1) da
         |    JOIN (SELECT $kb AS k, COUNT(*) AS c FROM $b GROUP BY 1) db
         |      USING (k))
         |  WHERE contrib = (
         |    SELECT MAX(da.c * db.c)
         |    FROM (SELECT $ka AS k, COUNT(*) AS c FROM $a GROUP BY 1) da
         |    JOIN (SELECT $kb AS k, COUNT(*) AS c FROM $b GROUP BY 1) db
         |      USING (k))) top""".stripMargin
    s"""${arm("lineitem.orderkey x orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey")}
       |UNION ALL
       |${arm("lineitem.partkey self", "lineitem", "l_partkey",
        "lineitem", "l_partkey")}
       |UNION ALL
       |${arm("orders.custkey self", "orders", "o_custkey",
        "orders", "o_custkey")}
       |ORDER BY join_name""".stripMargin
  }

  // -------------------------------------- k-anonymity generalization

  /** Generalization-lattice proposer for DQ7's k-anonymity audit: how
    * coarse must the sensitive band get before every (nation, segment,
    * band) class reaches size k? One row per candidate granularity
    * (whole dollars → $10 → $100 → $1000 bands, computed on exact
    * cents), with the class count, the smallest class, and whether this
    * is the CHOSEN level (the finest one meeting k — the standard
    * utility-preserving pick). All levels share one pass over customer
    * (a union of partial-agg groupBys over the tiny class relations);
    * min class size per level is bounded metadata. */
  def kAnonGeneralize(customer: DataFrame, k: Long = 5L): DataFrame = {
    val base = customer.select(col("c_nationkey"), col("c_mktsegment"),
      (Exact.money(col("c_acctbal")) * 100).cast("long").as("cents"))
    val levels = Seq(1L, 10L, 100L, 1000L)
    val perLevel = levels.map { lvl =>
      // +10^8 cents shifts every balance positive BEFORE the band
      // division: Spark div truncates toward zero, DuckDB // floors —
      // they agree only on non-negative operands (same classes, bands
      // uniformly shifted)
      base
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          expr(s"(cents + 100000000L) div ${lvl * 100}L").as("band"))
        .agg(count(lit(1)).as("cs"))
        .agg(lit(lvl).as("band_dollars"), count(lit(1)).as("n_classes"),
          min(col("cs")).as("min_class"))
    }.reduce(_ unionByName _)
    val chosen = perLevel.filter(col("min_class") >= k)
      .agg(min(col("band_dollars")).as("chosen_level"))
    perLevel.crossJoin(broadcast(chosen))
      .select(col("band_dollars"), col("n_classes"), col("min_class"),
        (col("min_class") >= k).as("meets_k"),
        (col("band_dollars") === col("chosen_level")).as("chosen"))
      .orderBy(col("band_dollars"))
  }

  def kAnonGeneralizeSql(k: Long = 5L): String = {
    def arm(lvl: Long) =
      s"""SELECT $lvl AS band_dollars, COUNT(*) AS n_classes,
         |  CAST(MIN(cs) AS BIGINT) AS min_class FROM (
         |  SELECT c_nationkey, c_mktsegment,
         |    (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      + 100000000) // ${lvl * 100} AS band,
         |    COUNT(*) AS cs
         |  FROM customer GROUP BY 1, 2, 3)""".stripMargin
    val union = Seq(1L, 10L, 100L, 1000L).map(arm).mkString("\nUNION ALL\n")
    s"""WITH lv AS ($union),
       |ch AS (SELECT MIN(band_dollars) AS chosen_level FROM lv
       |       WHERE min_class >= $k)
       |SELECT band_dollars, n_classes, min_class,
       |  min_class >= $k AS meets_k,
       |  band_dollars = ch.chosen_level AS chosen
       |FROM lv CROSS JOIN ch
       |ORDER BY band_dollars""".stripMargin
  }

  def queries: Seq[(String, QueryDef)] = Seq(
    "dq_kanon_generalize" -> QueryDef(
      (s, d) => kAnonGeneralize(Tables.customer(s, d)),
      kAnonGeneralizeSql()),
    "dq_join_size" -> QueryDef(
      (s, d) => joinSizeForecast(Tables.lineitem(s, d), Tables.orders(s, d)),
      joinSizeForecastSql),
    "dq_lateness" -> QueryDef(
      (s, d) => latenessAudit(Tables.events(s, d)), latenessAuditSql),
    "dq_content_checksum" -> QueryDef(
      (s, d) => contentChecksum(Tables.documents(s, d)),
      contentChecksumSql),
    "dq_key_discovery" -> QueryDef(
      (s, d) => keyDiscovery(Tables.orders(s, d), Tables.lineitem(s, d)),
      keyDiscoverySql),
    "dq_ks" -> QueryDef(
      (s, d) => ksDrift(Tables.events(s, d)), ksDriftSql()),
    "dq_kanon" -> QueryDef(
      (s, d) => kAnonymity(Tables.customer(s, d)), kAnonymitySql()),
    "dq_referential" -> QueryDef(
      (s, d) => referentialAudit(s, d), referentialAuditSql),
    "dq_benford" -> QueryDef(
      (s, d) => benfordAudit(Tables.orders(s, d)), benfordAuditSql),
    "dq_freshness" -> QueryDef(
      (s, d) => freshness(Tables.events(s, d)), freshnessSql()),
    "dq_audit" -> QueryDef(
      (s, d) => dqAudit(Tables.lineitem(s, d), Tables.orders(s, d)),
      dqAuditSql),
    "profile_columns" -> QueryDef(
      (s, d) => profileColumns(Tables.orders(s, d)), profileColumnsSql),
    "dq_drift" -> QueryDef(
      (s, d) => profileDrift(Tables.orders(s, d)), profileDriftSql))
}
