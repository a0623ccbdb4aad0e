package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Bucketed co-located joins: shuffle paid at write, not per query. */
class BucketingSpec extends SparkSuite {

  test("join of two same-bucketed tables plans without Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(Tables.orders(spark, sfDir),
        "orders_b", "o_orderkey", 8, sortCols = Seq("o_orderkey"))
      Bucketing.writeBucketed(Tables.lineitem(spark, sfDir),
        "lineitem_b", "l_orderkey", 8, sortCols = Seq("l_orderkey"))
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      // the aggregation above the join still exchanges on its group key;
      // the JOIN KEYS must never be shuffled (bucketing absorbed it)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not shuffle its inputs:\n$p")
      assert(p.contains("SelectedBucketsCount"), "scan must be bucket-aware")
      // same join unbucketed DOES shuffle on the join keys
      val unbucketed = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      unbucketed.collect()
      val up = unbucketed.queryExecution.executedPlan.toString
      assert(up.contains("Exchange hashpartitioning(l_orderkey") ||
        up.contains("Exchange hashpartitioning(o_orderkey"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("layout_bucketed declared path: zero-exchange join, layout-independent result") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = ZOrder.bucketedFactJoin(spark, sfDir)
      val got = q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed fact join must not shuffle its inputs:\n$p")
      // the layout must never change the answer: same agg off flat parquet
      val flat = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          Exact.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("o_orderstatus"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === flat)
      assert(got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("Bucketing.ensure: builds once, at the session's shuffle width") {
    val table = "bucketing_ensure_once"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build = {
      builds.incrementAndGet()
      Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderstatus"))
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      assert(Bucketing.ensure(spark, table, "o_orderkey")(build) == table)
      assert(Bucketing.ensure(spark, table, "o_orderkey")(build) == table)
      assert(builds.get() == 1, "a catalogued table must not be rebuilt")
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      assert(meta.bucketSpec.map(_.numBuckets) ===
        Some(spark.sessionState.conf.numShufflePartitions))
      assert(spark.table(table).count() == Tables.orders(spark, sfDir).count())
    } finally spark.sql(s"DROP TABLE IF EXISTS $table"): Unit
  }

  test("Bucketing.ensure sweeps an orphan warehouse dir before writing") {
    val table = "bucketing_ensure_orphan"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a dead session's leftover: files on disk, no catalog entry — the
    // bucketed writer refuses to write over such a location
    val loc = new java.io.File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath)
    assert(loc.mkdirs() || loc.isDirectory)
    val orphan = new java.io.File(loc, "part-orphan.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    try {
      Bucketing.ensure(spark, table, "o_orderkey")(
        Tables.orders(spark, sfDir).select(col("o_orderkey")))
      assert(!orphan.exists(), "orphan warehouse dir was not swept")
      assert(spark.table(table).count() == Tables.orders(spark, sfDir).count())
    } finally spark.sql(s"DROP TABLE IF EXISTS $table"): Unit
  }
}

