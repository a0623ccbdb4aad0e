package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ext.SimilarityTwins

/** The native quantizer must be bit-identical to the interpreted HOF
  * formulation it replaces — same hash chain, same component math, same
  * accumulation order — and run inside whole-stage codegen. */
class SignBitLshSpec extends SparkSuite {

  test("plane matrix replicates the HOF's xxhash64 component chain") {
    // one component evaluated through the actual builtin expressions
    import spark.implicits._
    val viaBuiltins = Seq(1).toDF("x").select(
      ((call_function("shiftrightunsigned", xxhash64(lit(3), lit(17)), lit(11))
        .cast("double") / (1L << 53).toDouble) * 2.0 - 1.0).as("c"))
      .head().getDouble(0)
    assert(SignBitLsh.planeMatrix(18, 4)(3)(17) == viaBuiltins)
    // and the components are genuinely two-sided (the arithmetic-shift
    // bug folded them all negative)
    val m = SignBitLsh.planeMatrix(64, 8).flatten
    assert(m.exists(_ > 0) && m.exists(_ < 0) && m.forall(c => c >= -1 && c < 1))
  }

  test("native ≡ HOF cell id on every fixture embedding, several widths") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    for (nPlanes <- Seq(2, 4, 7, 13)) {
      val diff = emb.select(
        SimilarityTwins.lshCell(col("v"), 64, nPlanes).as("hof"),
        SignBitLsh.sign_bit_lsh(col("v"), 64, nPlanes).as("native"))
        .filter(col("hof") =!= col("native")).count()
      assert(diff == 0, s"nPlanes=$nPlanes: $diff rows differ")
    }
  }

  test("dirty inputs: null element / wrong length → cell 0 (and where the " +
      "HOF twin's accidental long-array semantics diverge)") {
    import spark.implicits._
    val rows = Seq(
      Seq[java.lang.Double](1.0, 2.0, 3.0),          // clean, dim 3
      Seq[java.lang.Double](1.0, null, 3.0),         // null element
      Seq[java.lang.Double](1.0, 2.0),               // short
      Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0))     // long
      .toDF("v")
    val out = rows.select(
      SimilarityTwins.lshCell(col("v"), 3, 4).as("hof"),
      SignBitLsh.sign_bit_lsh(col("v"), 3, 4).as("native")).collect()
    // clean, null-element and short rows: native ≡ HOF
    out.take(3).zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == r.getInt(1), s"row $i: hof=${r.get(0)} native=${r.get(1)}")
    }
    // every malformed row lands in cell 0 under the native contract
    assert(out.drop(1).forall(_.getInt(1) == 0))
    // the long row is where the HOF's accident shows: xxhash64 skips the
    // null-padded index, folding the tail through a per-plane constant —
    // the native expression deliberately rejects it to 0 instead
    assert(out(3).getInt(1) == 0)
  }

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
    // aggregate to cell 0 — exactly the native contract, with no
    // long-array divergence to carve out (unlike the xxhash64 twin)
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

  test("SQL registration through GraftExtensions function injection") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types.IntegerType
    val builder = (exprs: Seq[Expression]) => exprs match {
      case Seq(v, Literal(dim: Int, IntegerType), Literal(p: Int, IntegerType)) =>
        SignBitLsh(v, dim, p)
      case other => throw new IllegalArgumentException(other.toString)
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sign_bit_lsh", builder, "internal")
    val cells = spark.sql(
      """SELECT sign_bit_lsh(array(1.0d, 1.0d), 2, 4) AS c1,
        |       sign_bit_lsh(array(-1.0d, -1.0d), 2, 4) AS c2""".stripMargin)
      .collect()(0)
    // opposite vectors flip every sign bit: cells are bitwise complements
    assert((cells.getInt(0) ^ cells.getInt(1)) == 0xF)
  }

  test("native expression runs inside a codegen stage") {
    // a real parquet scan — local relations constant-fold the stage away
    val e = graft.core.Tables.embeddings(spark, sfDir)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(SignBitLsh.sign_bit_lsh(col("v"), 64, 4).as("cell"))
    e.collect()
    val p = e.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      s"expected codegen stage:\n$p")
  }
}
