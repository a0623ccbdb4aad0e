package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the star-schema corpus (TESTDATA.md / FIXTURES.md §2).
  *
  * Each table is a single parquet file under a scale-factor directory. The
  * API is path-based so that at cluster scale the same call reads a
  * partitioned directory tree instead of one file — callers never change.
  * Reads go through Spark's vectorized parquet reader; column pruning and
  * predicate pushdown are supplied by Catalyst as long as callers keep
  * plans declarative (verified in `PlanSpec`).
  */
object Tables {

  /** Hash-spread key per table — the table's dominant downstream
    * join/group key, so the re-spread exchange below doubles as that
    * operation's shuffle (hash(l_orderkey, width) from the re-spread
    * satisfies an orderkey join's requirement outright). Hash, not
    * round-robin: same balance on a near-unique key, but no
    * sortBeforeRepartition local sort ahead of the exchange (the
    * memoMedia discipline). */
  /** ONLY `documents`: the one base table whose consumers are
    * dominated by per-row CPU (tokenize/shingle/hash chains at ms per
    * document) against a sub-MB exchange. A blanket re-spread of every
    * large fixture table was measured-and-rejected on a full sweep:
    * the extra exchange+stage taxed ~175 cheap scan+aggregate queries
    * a median 1.30× (shuffle-identical control queries read 0.97×,
    * so the machine was clean) — the mechanism only pays where map-side
    * CPU, not the scan, owns the stage. CPU-heavy relational chains opt
    * in explicitly at their own sites (e.g. the VAT enrich cascade in
    * `vat.Summary`) via [[Width.byKeys]]. */
  private val spreadKey = Map("documents" -> "doc_id")

  /** Per-(dir, table, width) verdict of the unsplittable-input check
    * below: the fixture files are immutable, so the scan width never
    * changes for a given path within a JVM. */
  private val spreadCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]

  /** Re-spread floor for unsplittable inputs (optimization guide §2.5):
    * a parquet ROW GROUP is the minimum split unit, and every fixture
    * table is a single-file, single-row-group parquet — so however the
    * split math slices the byte range, exactly one task receives rows
    * and ALL map-side work ahead of the first exchange (decode, scalar
    * chains, partial aggregation) runs on one core. The classic remedy
    * is to repartition immediately after the read. Conditions, both
    * cached: the scan must be NARROWER than the session width (at
    * deployment scale `maxPartitionBytes` splits a real multi-row-group
    * table into ≥ width partitions and this is a no-op — no shuffle is
    * added where the scan already parallelizes), and the file must
    * carry enough bytes (≥ 256 KB) that a re-spread exchange is cheaper
    * than the stage latency it adds — region/nation-class dimension
    * tables stay single-task broadcast fodder. Width = the session's
    * shuffle-partition count, NOT defaultParallelism, so the re-spread
    * partitioning unifies with every downstream exchange at the same
    * width instead of forcing a re-key. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val width = spark.sessionState.conf.numShufflePartitions
    val key = spreadKey.get(name)
    if (key.isEmpty) raw
    else {
      val narrow = spreadCache.computeIfAbsent(s"$dir|$name|$width", _ => {
        val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        val bytes = fs.getContentSummary(path).getLength
        bytes >= 262144L && raw.rdd.getNumPartitions < width
      })
      if (narrow)
        raw.repartition(width, org.apache.spark.sql.functions.col(key.get))
      else raw
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")

  /** The fixture's `ts` physical type has varied across driver
    * regenerations — TIMESTAMP(NANOS) (which Spark's reader rejects
    * without the legacy INT64 conf) and plain `timestamp[us]` (which
    * Spark reads as TIMESTAMP_NTZ). Normalize BOTH to a microsecond
    * TimestampType column so every downstream query and oracle sees one
    * representation regardless of fixture vintage. Sessions run with
    * spark.sql.session.timeZone=UTC, so the NTZ→TZ cast relabels the
    * same instant (no wall-clock shift), matching DuckDB's naive
    * TIMESTAMP view of the identical parquet values. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      // integer division: epoch-nanos (~1.7e18) overflows double precision
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
