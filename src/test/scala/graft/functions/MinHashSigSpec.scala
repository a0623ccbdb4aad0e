package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ext.{Dedup, DedupTwins}

/** Native MinHashSig expression: structural parity with the HOF twin
  * (signature properties, not values — different hash family), codegen
  * participation, null/empty handling. */
class MinHashSigSpec extends SparkSuite {

  private def sig(texts: Seq[String], native: Boolean): Seq[Seq[Long]] = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val s = if (native) Dedup.minhashSignature(col("sh"))
            else DedupTwins.minhashSignatureHof(col("sh"))
    df.select(s.as("sig")).orderBy(col("doc_id"))
      .collect().map(_.getSeq[Long](0)).toSeq
  }

  private val corpus = Seq(
    "the quick brown fox jumps over the lazy dog tonight",
    "the quick brown fox jumps over the lazy dog tonight",   // dup of 0
    "a completely different set of words for testing here now",
    "")

  test("structural parity with HOF twin: dup-equality, k, distinctness") {
    for (native <- Seq(true, false)) {
      val s = sig(corpus, native)
      assert(s.forall(_.length == Dedup.NumHashes))
      assert(s(0) == s(1), "identical docs → identical signature")
      assert(s(0) != s(2), "different docs → different signature")
      assert(s(3).forall(_ == Long.MaxValue), "empty doc → identity slots")
    }
  }

  test("signature overlap tracks jaccard similarity (native)") {
    val near = Seq(
      "one two three four five six seven eight nine ten eleven twelve",
      "one two three four five six seven eight nine ten eleven snake")
    val s = sig(near, native = true)
    val overlap = s(0).zip(s(1)).count { case (a, b) => a == b }
    assert(overlap >= Dedup.NumHashes / 2, s"overlap $overlap too low")
  }

  test("participates in whole-stage codegen over a real scan") {
    val df = graft.core.Tables.documents(spark, sfDir)
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .select(Dedup.minhashSignature(col("sh")).as("sig"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, s"no codegen:\n$p")
  }

  test("null array propagates null; null elements are skipped") {
    import spark.implicits._
    val rows = Seq(
      (1L, Option(Seq(Option("a b c"), None))),
      (2L, Option.empty[Seq[Option[String]]]))
      .toDF("id", "sh")
      .select(Dedup.minhashSignature(col("sh")).as("sig"))
      .orderBy(col("id")) // keep row order stable via input order
      .collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
  }
}
