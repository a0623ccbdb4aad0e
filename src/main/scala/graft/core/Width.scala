package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The engine's one width policy: how many tasks a stage gets for the
  * volume it carries. Catalyst plans the operators; this object only
  * sizes the exchanges the engine pins explicitly.
  *
  * Why the engine sizes widths at all: AQE coalesces post-shuffle
  * partitions by SHUFFLE BYTES, and the session width is a property of
  * the machine, not of the data. Both are blind to the stages that
  * matter here:
  *   - per-row CPU behind a sub-MB exchange (a `row_number` window over
  *     a million-row inventory, exact `array_intersect` verification
  *     over candidate pairs) — AQE merges the exchange to one partition
  *     and the stage runs on one core;
  *   - iteration folds and serving probes whose per-job work is bounded
  *     — at the session width every job schedules `cpus` near-empty
  *     tasks (measured: 32-core walls 2-4× the 8-core walls on the same
  *     code);
  *   - corpus builds joining/aggregating O(|E|) pair streams — at the
  *     session width a 30× corpus starved per-task execution memory into
  *     sort/aggregate spills (measured: 39 GB across the adjacency
  *     builds of one bench warm-up).
  *
  * One unit covers all three: ~500k narrow rows per task. Tasks of that
  * size spilled nothing in the 30× kNN-graph build (50M candidate rows)
  * and amortize their scheduling cost; below it, extra tasks are pure
  * fixed overhead. Two families apply it:
  *   - [[spread]]: `max(1, min(cap, rows/500k + 1))` — width GROWS with
  *     volume up to a cap (the session width, or a multiple of it), so
  *     bench-scale inputs stop paying near-empty tasks and
  *     deployment-scale inputs keep every core;
  *   - [[provision]]: `max(session, rows/500k)` — width never drops
  *     below the session and grows past it only when the volume needs
  *     more execution memory than `session` tasks hold.
  * The byte rule [[byKeys]] is the spread family over source bytes
  * (128 KB per task) for stages whose row count is not known up front.
  *
  * Results must not depend on the width chosen here (order-independent
  * integer math, total orders before any limit; RepartitionInvariance-
  * Spec pins a representative set), so a width choice moves walls, not
  * result bytes.
  */
object Width {

  /** Narrow rows that justify one task. */
  private val RowsPerTask = 500000L

  /** Source bytes that justify one spread task. */
  private val BytesPerTask = 131072L

  /** Largest source for which a one-derivation count window beats a
    * partial aggregate + join-back (see [[windowFits]]). */
  private val WindowMaxSourceBytes = 256L << 20

  /** The session's shuffle width. */
  def sessionWidth(spark: SparkSession): Long =
    spark.sessionState.conf.numShufflePartitions.toLong

  /** Spread family: one task per 500k rows, at least 1, at most `cap`. */
  def spread(rows: Long, cap: Long): Int = spreadOf(rows, RowsPerTask, cap)

  /** Provision family: one task per 500k rows, never below `session`. */
  def provision(rows: Long, session: Long): Int =
    math.max(session, rows / RowsPerTask).toInt

  private def spreadOf(volume: BigInt, perTask: Long, cap: Long): Int =
    (volume / perTask + 1).min(cap).max(1).toInt

  /** Leaf-relation byte volume of `df`'s plan — file-source relations
    * report their on-disk size, cached relations their estimate. */
  def sourceBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum

  /** Hash-repartition on `keys` to one task per 128 KB of source, capped
    * at the session width. An explicit partition count is
    * REPARTITION_BY_NUM, which AQE never coalesces; keyed by the
    * downstream partition/join keys, the exchange doubles as that
    * operation's required distribution, so at deployment scale it
    * replaces the exchange EnsureRequirements would have inserted
    * anyway. Per-row CPU behind these exchanges tracks source volume
    * (tokens/shingles per corpus byte is roughly constant), which is
    * why the unit is bytes here, not rows. */
  def byKeys(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      spreadOf(sourceBytes(df), BytesPerTask, sessionWidth(df.sparkSession)),
      keys: _*)

  /** Whether a per-key count window over `df` stays below the size at
    * which its hottest key's occurrence list stops fitting one task's
    * sorter (AQE skew handling cannot split a single key). Above it,
    * gated shapes switch to a partial aggregate + shuffled-hash
    * join-back, which reduces map-side and streams the occurrences. */
  def windowFits(df: DataFrame): Boolean =
    sourceBytes(df) <= WindowMaxSourceBytes

  /** Child session whose every exchange is planned at width `p`, with
    * AQE coalescing off. Planned at the parent's width, an aggregate
    * exits at hash(key, cpus) and mismatches a relation partitioned at
    * p, so EnsureRequirements re-exchanges both join sides; and AQE
    * coalescing sizes partitions by shuffle bytes, so it would merge a
    * width chosen for per-task memory or for a partitioning contract
    * right back (observed: a 108-wide build coalesced to 36 at 30× and
    * the spill returned). The parent's conf is untouched. */
  def pinned(spark: SparkSession, p: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", p.toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  private val footerRows =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]

  /** Row count of `dir/table.parquet` — a footer-only count, one tiny
    * job per (dir, table) per JVM. Corpus metadata that sizes widths,
    * never query results: the fixture corpus is immutable, and every
    * query still computes from the parquet inputs. */
  def rows(spark: SparkSession, dir: String, table: String): Long =
    footerRows.computeIfAbsent((dir, table), _ =>
      spark.read.parquet(s"$dir/$table.parquet").count()).longValue
}
