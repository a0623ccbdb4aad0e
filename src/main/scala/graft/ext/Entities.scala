package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** Structured-record entity resolution (record linkage): find records
  * that denote the same real-world entity despite textual noise. The
  * document-side near-dup family (ext/Dedup) handles free text; this is
  * its structured-dimension counterpart — the op a warehouse runs before
  * trusting any customer/supplier dimension.
  *
  * Classic two-phase shape, built to scale:
  *   - BLOCK: records shuffle once on a cheap deterministic key
  *     (nation + last-4 of the normalized name). Quadratic comparison
  *     is confined to blocks; the corpus is never self-joined raw.
  *     Block-size skew is bounded by the key's cardinality — at 100 TB
  *     you widen the suffix, the shape is unchanged.
  *   - SCORE: Levenshtein distance on the normalized names, computed
  *     once per candidate pair, thresholded. Matching is DEFINED by the
  *     (block, score) rule — deterministic in any engine, which is what
  *     makes the result hash-comparable (fuzzy matching emits
  *     candidates, not truth; the rule is the contract).
  *
  * The declared query plants one dirty copy (a single dropped
  * character) for every 11th customer, so the gate proves the planted
  * duplicates surface — and any same-block near-collisions the rule
  * also flags are oracle-checked identically.
  */
object Entities {

  /** The fixture registry: every customer, plus a deterministic dirty
    * copy (3rd character dropped — edit distance 1, block key intact)
    * for custkey % 11 == 0, offset into a disjoint id range. */
  def registryWithDupes(customer: DataFrame): DataFrame = {
    val base = customer.select(col("c_custkey").as("rec_id"),
      col("c_name").as("name"), col("c_nationkey").as("nation"))
    val dirty = customer.filter(col("c_custkey") % 11 === 0)
      .select((col("c_custkey") + 100000000L).as("rec_id"),
        concat(substring(col("c_name"), 1, 2),
          expr("substring(c_name, 4)")).as("name"),
        col("c_nationkey").as("nation"))
    base.unionByName(dirty)
  }

  /** Blocked fuzzy matching: candidate pairs share (nation, suffix-4 of
    * the upper-cased name); a pair matches when Levenshtein ≤ maxEdits.
    * Output: (id_a, id_b, edits), id_a < id_b. */
  def entityMatches(recs: DataFrame, maxEdits: Int): DataFrame = {
    val blocked = recs
      .select(col("rec_id"), upper(col("name")).as("norm"), col("nation"))
      .withColumn("blk",
        concat_ws("|", col("nation"), expr("substring(norm, -4, 4)")))
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.rec_id") < col("b.rec_id"))
      .withColumn("edits",
        levenshtein(col("a.norm"), col("b.norm")).cast("int"))
      .filter(col("edits") <= maxEdits)
      .select(col("a.rec_id").as("id_a"), col("b.rec_id").as("id_b"),
        col("edits"))
      .orderBy(col("id_a"), col("id_b"))
  }

  def entityMatchesSql(maxEdits: Int): String =
    s"""WITH r AS (
       |  SELECT c_custkey AS rec_id, c_name AS name, c_nationkey AS nation
       |  FROM customer
       |  UNION ALL
       |  SELECT c_custkey + 100000000, substr(c_name, 1, 2) || substr(c_name, 4),
       |         c_nationkey
       |  FROM customer WHERE c_custkey % 11 = 0),
       |b AS (
       |  SELECT rec_id, upper(name) AS norm,
       |    CAST(nation AS VARCHAR) || '|' ||
       |      substr(upper(name), length(name) - 3, 4) AS blk
       |  FROM r)
       |SELECT a.rec_id AS id_a, bb.rec_id AS id_b,
       |       CAST(levenshtein(a.norm, bb.norm) AS INT) AS edits
       |FROM b a JOIN b bb ON a.blk = bb.blk AND a.rec_id < bb.rec_id
       |WHERE levenshtein(a.norm, bb.norm) <= $maxEdits
       |ORDER BY id_a, id_b""".stripMargin

  def queries: Seq[(String, QueryDef)] = Seq(
    "entity_matches" -> QueryDef(
      (s, d) => entityMatches(registryWithDupes(Tables.customer(s, d)), 2),
      entityMatchesSql(2)))
}
