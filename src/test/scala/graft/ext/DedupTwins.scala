package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Dedup._

/** Interpreted and generic twins of the dedup chain. No query runs
  * them; the specs use them as the differential reference for the
  * native expressions and the standing paths. */
object DedupTwins {

  /** HOF formulation (slot k = min over shingles of xxhash64(k, s)) —
    * interpreted; kept as the differential-testing twin. Uses a
    * different hash family than the native expression, so signatures
    * differ in VALUE but share every structural property the pipeline
    * relies on (MinHashSigSpec). */
  def minhashSignatureHof(sh: Column): Column =
    transform(sequence(lit(0), lit(NumHashes - 1)), k =>
      aggregate(sh, lit(Long.MaxValue), (acc, s) => least(acc, xxhash64(k, s))))

  /** Twin of `allPairsJaccardStanding` over raw documents: the same
    * prefix-filtered all-pairs join, shingling and hashing in-query. */
  def allPairsJaccard(docs: DataFrame, num: Long = 3L, den: Long = 5L): DataFrame =
    // grams as 60-bit md5 ints (the portable hash family): every
    // downstream stage — the df aggregate, the ranking join, the
    // prefix self-join, the verify intersections — shuffles and
    // compares 8-byte ints instead of ~25-byte gram strings.
    // Cross-gram collisions (≈ |grams|²/2^60) are deterministic and
    // identical in both engines; list_distinct after hashing keeps the
    // set sizes consistent under one.
    allPairsFromHashed(withShingles(docs)
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        array_distinct(transform(col("sh"), s =>
          conv(substring(md5(s), 1, 15), 16, 10).cast("long"))).as("sh")),
      num, den)

  /** 64-bit SimHash fingerprint over tokens as a Long column, computed
    * entirely with array HOFs (one narrow projection, no shuffle): bit b
    * of the fingerprint is the sign of Σ_tokens (±1 by bit b of
    * xxhash64(token)). Shift amounts are lambda variables, so we go
    * through `call_function` (the Scala `shiftleft/shiftright` helpers
    * only accept literal Int bit counts). The hash array must be
    * MATERIALIZED (same inlining hazard as `shinglesFromTokens` — the
    * 64 per-bit votes each re-evaluate their argument subtree). */
  def simhashFromHashes(hashes: Column): Column = {
    // per-bit vote: +1 if bit set, -1 otherwise; fingerprint bit = vote>0
    val votes = transform(sequence(lit(0), lit(63)), b =>
      aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, b) =>
        when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  def simhashFingerprint(text: Column): Column =
    simhashFromHashes(transform(tokens(text), t => xxhash64(t)))

  /** HOF formulation of one md5-family slot — interpreted; kept as the
    * differential-testing twin of the native codegen'd `Md5MinHashSig`
    * (bit-equal incl. empty/null-element semantics, Md5MinHashSigSpec). */
  def md5SlotHof(sh: Column, seed: Int): Column =
    when(size(sh) === 0, lit(null).cast("long")).otherwise(
      aggregate(sh, lit(Long.MaxValue), (acc, s) =>
        least(acc, conv(substring(md5(concat(lit(s"$seed:"), s)), 1, 15), 16, 10)
          .cast("long"))))
}
