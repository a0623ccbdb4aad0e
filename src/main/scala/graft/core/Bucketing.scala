package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: the shuffle-elimination pattern for repeated
  * large-scale joins (SURVEY.md §4.2 / the 100 TB contract).
  *
  * Writing both sides of a hot join bucketed by the join key (same
  * bucket count) lets Spark plan a SortMergeJoin with NO Exchange on
  * either side — the shuffle is paid once at write time and amortized
  * over every subsequent join. At cluster scale this is the difference
  * between re-shuffling 100 TB per query and reading co-located buckets.
  * Verified in BucketingSpec: the joined plan contains no shuffle.
  */
object Bucketing {

  /** Persist `df` as a bucketed managed table (overwriting). The input
    * is repartitioned to the BUCKET layout first: the bucketed writer
    * emits one file per (write task × bucket), so a build plan running
    * at a volume-sized width (e.g. the 30× adjacency builds, or any
    * plan with AQE coalescing off) would otherwise scatter each bucket
    * across every task's file — measured: 1,992 files for a 32-bucket
    * backbone table, +1–2 s of scan overhead on EVERY consumer. After
    * the repartition each task holds exactly one bucket's rows (hash
    * repartitioning and bucket assignment share the same
    * HashPartitioning id function), so the table is exactly `buckets`
    * files regardless of how wide the build ran. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sortCols: Seq[String] = Seq.empty): Unit = {
    import org.apache.spark.sql.functions.col
    val w = df.repartition(buckets, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** The standing-state store for catalog tables: return `table`,
    * writing `build` bucketed on `key` at the session's shuffle-partition
    * count if the catalog does not hold it yet — so the scan's
    * hash(key) partitioning matches every downstream exchange. The
    * catalog memoizes per session (fixture corpora are immutable); a
    * stale warehouse dir left by a dead session is swept before the
    * write. `build` is only evaluated on a miss. */
  def ensure(spark: SparkSession, table: String, key: String,
      sortCols: Seq[String] = Nil)(build: => DataFrame): String =
    synchronized {
      if (!spark.catalog.tableExists(table)) {
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table)
        val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true): Unit
        writeBucketed(build, table, key,
          spark.sessionState.conf.numShufflePartitions, sortCols)
      }
      table
    }
}
