package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Bit-exact aggregation helpers for oracle-checked queries.
  *
  * The driver hash-compares our parquet output against DuckDB running the
  * same ANSI SQL. Double-precision SUMs are order-dependent (Spark sums
  * per-partition then merges; DuckDB sums sequentially), so the last bits
  * — and after rounding, sometimes the cents — can disagree. All fixture
  * money columns carry exactly 2 decimal places (FIXTURES.md §2), so we
  * cast to DECIMAL at the source, aggregate exactly, and cast the final
  * value back to DOUBLE. Decimal arithmetic is exact and associative, and
  * double→decimal(…,2) conversion of a 2-dp-generated double is
  * unambiguous in both engines, so results are bit-identical regardless of
  * partitioning — which also makes every aggregate stable under cluster
  * re-partitioning (a correctness property at 100 TB, not just for tests).
  *
  * The DuckDB twin of `dsum(c)` is
  * `CAST(CAST(SUM(CAST(c AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)` and of `davg(c)` is
  * `CAST(CAST(SUM(CAST(c AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(c)`.
  */
object Exact {
  /** 2-dp money ≤ ~1e10: covers every fixture money column. */
  val Money: DecimalType = DecimalType(12, 2)
  /** Small 2-dp rates (l_discount, l_tax ∈ [0, 0.10]). */
  val Rate: DecimalType = DecimalType(4, 2)

  def money(c: Column): Column = c.cast(Money)
  def rate(c: Column): Column  = c.cast(Rate)

  /** Exact SUM of a 2-dp double column, returned as DOUBLE. */
  def dsum(c: Column): Column = sum(money(c)).cast("double")

  /** Exact SUM with empty/all-null groups mapped to 0.0 (pandas `.sum()`
    * semantics, fianl2.py:179-181). */
  def dsum0(c: Column): Column = coalesce(sum(money(c)), lit(0)).cast("double")

  /** AVG as exact-sum / count — one double division, identical in both
    * engines. */
  def davg(c: Column): Column = sum(money(c)).cast("double") / count(c)

  /** (1 − rate) and (1 + rate) pinned to DECIMAL(3,2) so chained decimal
    * products stay far from the 38-digit cap (where Spark and DuckDB
    * apply *different* precision-loss rules — the one thing that would
    * silently break bit-exactness). DuckDB twin:
    * `CAST(1 - CAST(c AS DECIMAL(4,2)) AS DECIMAL(3,2))`. */
  def oneMinus(c: Column): Column = (lit(1) - rate(c)).cast(DecimalType(3, 2))
  def onePlus(c: Column): Column  = (lit(1) + rate(c)).cast(DecimalType(3, 2))
}
