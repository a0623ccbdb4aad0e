package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Blocked fuzzy entity resolution (ext/Entities). */
class EntitiesSpec extends SparkSuite {

  test("entityMatches: planted dirty copies all matched at edit distance 1") {
    val cust = graft.core.Tables.customer(spark, sfDir)
    val planted = cust.filter(col("c_custkey") % 11 === 0)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val matches = Entities
      .entityMatches(Entities.registryWithDupes(cust), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val found = matches.collect {
      case (a, b, e) if b == a + 100000000L => (a, e)
    }.toMap
    assert(planted.subsetOf(found.keySet),
      s"missing planted pairs: ${planted -- found.keySet}")
    assert(found.filterKeys(planted).values.forall(_ == 1),
      "every planted copy is exactly one edit away")
  }

  test("entityMatches: candidates only form inside blocks") {
    import spark.implicits._
    val recs = Seq(
      (1L, "Widget Alpha 0001", 5),
      (2L, "Widget Alphq 0001", 5),  // 1 edit, same block → match
      (3L, "Widget Alpha 0001", 9),  // identical text, other nation → blocked
      (4L, "Widget Alpha 9999", 5))  // same nation, other suffix → blocked
      .toDF("rec_id", "name", "nation")
    val out = Entities.entityMatches(recs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)),
      "blocking must gate candidate generation, not just scoring")
  }

  test("entityMatches: threshold respected and symmetric-free (id_a < id_b)") {
    import spark.implicits._
    val recs = Seq(
      // record 3's edits stay OUTSIDE the suffix-4 block key
      (1L, "abcdefgh", 1), (2L, "abcdefgh", 1), (3L, "azcqefgh", 1))
      .toDF("rec_id", "name", "nation")
    val out = Entities.entityMatches(recs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // 1-2 identical (0 edits); 3 is 2 edits from both
    assert(out.toSeq == Seq((1L, 2L, 0), (1L, 3L, 2), (2L, 3L, 2)))
    assert(out.forall { case (a, b, _) => a < b })
    val strict = Entities.entityMatches(recs, 1).collect()
    assert(strict.length == 1, "edits=2 pairs drop at maxEdits=1")
  }

}
