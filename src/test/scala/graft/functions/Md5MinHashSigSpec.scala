package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ext.{Dedup, DedupTwins}

/** The native md5-family signature must be bit-identical to the
  * interpreted conv(substring(md5(...))) chain the DuckDB oracle
  * replays — including the empty-array-null and null-element-skip
  * semantics — and run inside whole-stage codegen. */
class Md5MinHashSigSpec extends SparkSuite {

  test("native ≡ HOF slots on every fixture document (incl. empty-shingle docs)") {
    val sh = Dedup.withShingles(graft.core.Tables.documents(spark, sfDir))
    val k = 4
    val compare = sh.select(Seq(col("doc_id")) ++ (0 until k).map(i =>
      (element_at(Md5MinHashSig.md5_minhash_sig(col("sh"), k), i + 1) <=>
        DedupTwins.md5SlotHof(col("sh"), i)).as(s"eq$i")): _*)
    val bad = compare.filter((0 until k).map(i => !col(s"eq$i")).reduce(_ || _))
    assert(bad.count() == 0, "native and HOF md5 slots diverge")
  }

  test("dirty inputs: empty array → NULL signature; null elements skipped") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[String]("a b c", "d e f")),
      (2L, Seq.empty[String]),
      (3L, Seq[String](null, "a b c"))).toDF("id", "sh")
    val out = df.select(col("id"),
      Md5MinHashSig.md5_minhash_sig(col("sh"), 2).as("sig"),
      DedupTwins.md5SlotHof(col("sh"), 0).as("hof0"),
      DedupTwins.md5SlotHof(col("sh"), 1).as("hof1"))
      .orderBy(col("id")).collect()
    // clean row: slots equal the HOF chain
    assert(out(0).getSeq[Long](1) ==
      Seq(out(0).getLong(2), out(0).getLong(3)))
    // empty array: whole signature is NULL (the md5 chain's guard)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
    // null element skipped: same value as the one real shingle alone
    assert(out(2).getSeq[Long](1) == out(0).getSeq[Long](1))
  }

  test("a hand-computed slot matches the documented 15-hex-char derivation") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("3:x y z".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val expect = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val got = Seq(Seq("x y z")).toDF("sh")
      .select(element_at(Md5MinHashSig.md5_minhash_sig(col("sh"), 4), 4))
      .head().getLong(0)
    assert(got == expect)
  }

  test("native expression runs inside a codegen stage") {
    val e = Dedup.withShingles(graft.core.Tables.documents(spark, sfDir))
      .select(Md5MinHashSig.md5_minhash_sig(col("sh"), 4).as("sig"))
    e.collect()
    val p = e.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      s"expected codegen stage:\n$p")
  }
}
