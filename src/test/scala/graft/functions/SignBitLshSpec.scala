package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ext.SimilarityTwins

/** The native quantizer must be bit-identical to the interpreted HOF
  * formulation over the same md5 plane matrix — same component values,
  * same accumulation order — and run inside whole-stage codegen. */
class SignBitLshSpec extends SparkSuite {

  test("md5 family: native ≡ portable HOF on clean AND dirty inputs " +
      "(full parity — md5 planes are literals, no hash-skip accident)") {
    import spark.implicits._
    // clean fixture vectors, several widths
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    for (nPlanes <- Seq(2, 4, 7)) {
      val planes = SimilarityTwins.md5Planes(nPlanes, 64)
      val diff = emb.select(
        SimilarityTwins.lshCellFromPlanes(col("v"), planes).as("hof"),
        SignBitLsh.sign_bit_lsh_md5(col("v"), 64, nPlanes).as("native"))
        .filter(col("hof") =!= col("native")).count()
      assert(diff == 0, s"nPlanes=$nPlanes: $diff rows differ")
    }
    // dirty inputs: the md5 HOF zips against a LITERAL plane array, so
    // null elements and BOTH length mismatches null-poison the
    // aggregate to cell 0 — exactly the native contract
    val rows = Seq(
      Seq[java.lang.Double](1.0, 2.0, 3.0),
      Seq[java.lang.Double](1.0, null, 3.0),
      Seq[java.lang.Double](1.0, 2.0),
      Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0)).toDF("v")
    val planes3 = SimilarityTwins.md5Planes(4, 3)
    val out = rows.select(
      SimilarityTwins.lshCellFromPlanes(col("v"), planes3).as("hof"),
      SignBitLsh.sign_bit_lsh_md5(col("v"), 3, 4).as("native")).collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == r.getInt(1), s"row $i: hof=${r.get(0)} native=${r.get(1)}")
    }
    assert(out.drop(1).forall(_.getInt(1) == 0), "malformed rows → cell 0")
    // and the md5 matrix matches the documented SQL derivation for a
    // hand-computed component: ('0x'||substr(md5('2:5'),1,13))::BIGINT
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("2:5".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val expect = java.lang.Long.parseLong(hex.substring(0, 13), 16).toDouble /
      4503599627370496.0 * 2.0 - 1.0
    assert(SimilarityTwins.md5Planes(4, 8)(2)(5) == expect)
  }

  test("native expression runs inside a codegen stage") {
    // a real parquet scan — local relations constant-fold the stage away
    val e = graft.core.Tables.embeddings(spark, sfDir)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(SignBitLsh.sign_bit_lsh_md5(col("v"), 64, 4).as("cell"))
    e.collect()
    val p = e.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      s"expected codegen stage:\n$p")
  }
}
