package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSuite
import graft.ext.{Similarity, SimilarityTwins}

/** Native CosineSimilarity expression: bit-parity with the HOF twin and
  * the codegen path actually taken. */
class CosineSimilaritySpec extends SparkSuite {

  test("bit-identical to the interpreted HOF formulation (300 random vectors)") {
    import spark.implicits._
    val g = Gen.listOfN(64, Gen.chooseNum(-1.0, 1.0))
    val vecs = Seq.fill(300)((g.sample.get.toArray, g.sample.get.toArray))
    val df = vecs.toDF("a", "b").select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      SimilarityTwins.cosineHof(col("a"), col("b")).as("hof"))
    val rows = df.collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
  }

  test("InnerProduct native expression: bit-identical to the HOF dot " +
      "fold (300 random vectors) and inside codegen on a real scan") {
    import spark.implicits._
    val g = Gen.listOfN(64, Gen.chooseNum(-1.0, 1.0))
    val vecs = Seq.fill(300)((g.sample.get.toArray, g.sample.get.toArray))
    val rows = vecs.toDF("a", "b").select(
      Similarity.dotNative(col("a"), col("b")).as("native"),
      SimilarityTwins.dot(col("a"), col("b")).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
    // whole-stage codegen on a parquet-backed scan (the MIPS shape)
    val e = graft.core.Tables.embeddings(spark, sfDir)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(Similarity.dotNative(col("v"), col("v")).as("ip"))
    e.collect()
    val plan = e.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[inner_product".r.findFirstIn(plan).isDefined,
      s"expected inner_product inside a codegen stage:\n$plan")
    assert(!plan.contains("CodegenFallback"), "must not fall back")
    // null propagation
    val n = Seq((Option.empty[Array[Double]], Option(Array(1.0))))
      .toDF("a", "b")
      .select(Similarity.dotNative(col("a"), col("b"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("interpreted eval path (nullSafeEval) agrees too") {
    import spark.implicits._
    // a constant-folded projection exercises eval() instead of codegen
    val v = Array(0.5, -0.25, 0.125)
    val out = Seq((v, v)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(out - 1.0) < 1e-15)
  }

  test("expression participates in whole-stage codegen") {
    // a real parquet scan (local relations constant-fold away the stage)
    val e = graft.core.Tables.embeddings(spark, sfDir)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(Similarity.cosine(col("v"), col("v")).as("c"))
    e.collect()
    val p = e.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      s"expected codegen stage:\n$p")
    assert(!p.contains("CodegenFallback"), "must not fall back")
  }

  test("null inputs propagate null") {
    import spark.implicits._
    val out = Seq((Option.empty[Array[Double]], Some(Array(1.0))))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).collect()(0)
    assert(out.isNullAt(0))
  }
}
