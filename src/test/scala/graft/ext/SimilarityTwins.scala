package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Similarity._

/** Interpreted and ad-hoc twins of the similarity search paths. No
  * query runs them; the specs use them as the differential reference
  * for the native expressions and the prebuilt-index probes. */
object SimilarityTwins {

  /** Σ aᵢ·bᵢ as a fold — strictly left-to-right double accumulation.
    * HOF form (interpreted); the differential-testing twin of
    * `Similarity.dotNative`. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** HOF formulation — interpreted (CodegenFallback); the
    * differential-testing twin of the native `Similarity.cosine`. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** PORTABLE hyperplane matrix: component (p, i) is the first 13 hex
    * chars of md5("p:i") — a 52-bit integer mapped to [-1, 1). Both
    * steps of the mapping (÷2⁵² then ×2−1) are exact in doubles, and
    * md5 is identical in every engine, so the matrix can be re-derived
    * in ANSI SQL:
    * `('0x'||substr(md5(p||':'||i),1,13))::BIGINT / 2^52 * 2 − 1`.
    * Same trick as the md5 MinHash family in `Dedup`. */
  def md5Planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    graft.functions.SignBitLsh.md5PlaneMatrix(dim, nPlanes).toSeq.map(_.toSeq)

  /** Sign-bit cell id over an explicit (constant) hyperplane matrix —
    * HOF formulation, kept as the differential twin of the codegen'd
    * `sign_bit_lsh_md5` (bit-equal on clean AND dirty inputs,
    * SignBitLshSpec). Callers must bind `v` to a materialized column
    * (not an inline transform) — each plane's aggregate re-evaluates
    * the subtree. */
  def lshCellFromPlanes(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val proj = aggregate(zip_with(v, typedlit(plane), (x, c) => x * c),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** IVF search with a trained coarse quantizer: assign every vector to
    * its nearest centroid cell, then probe only the query's `nprobe`
    * nearest cells. Centroids are tiny (cells × dim) → broadcast; cell
    * assignment is one narrow map over the corpus. This is the ad-hoc
    * (single-query) formulation; the at-scale path precomputes the
    * assignment ONCE via `buildIvfIndex` and probes with `ivfProbe`,
    * which bucket-prunes the scan instead of re-assigning the corpus. */
  def ivfTopK(spark: SparkSession, dir: String, qId: Long, k: Int,
      nprobe: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = labelCentroids(emb)
      .select(col("label").as("cell"), col("centroid"))
    val assigned = ivfAssign(emb)
    val qCells = assigned.filter(col("vec_id") === qId)
      .crossJoin(broadcast(cents.select(col("cell").as("probe_cell"), col("centroid"))))
      .withColumn("cdist", -cosine(col("v"), col("centroid")))
      .orderBy(col("cdist").asc, col("probe_cell"))
      .limit(nprobe)
      .select(col("probe_cell"), col("v").as("q"))
    assigned.filter(col("vec_id") =!= qId)
      .join(broadcast(qCells), col("cell") === col("probe_cell"))
      .withColumn("cos", cosine(col("v"), col("q")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("neighbor_id"), col("cos"), col("cell"))
  }
}
