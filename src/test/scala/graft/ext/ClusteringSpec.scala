package graft.ext

import graft.SparkSuite

/** Fixed-point k-means (ext/Clustering): planted separation, empty
  * clusters, and the cross-partitioning bit-equality the integer
  * formulation exists for. */
class ClusteringSpec extends SparkSuite {
  import spark.implicits._

  /** Two well-separated blobs; seeds 0 and 1 land one in each blob, so
    * 3 rounds must put every point with its blob — and inertia is the
    * exact integer sum of in-blob spreads. */
  test("separated blobs resolve to their own clusters") {
    // blob A around 0.0, blob B around 1.5 (quantized: 0 and 1536)
    val rows =
      (0L to 4L).map(i => (i, Array.fill(4)(0.001f * i))) ++   // A: ids 0,2,3,4 …
      Seq((1L, Array.fill(4)(1.5f))) ++                         // B seed
      (5L to 8L).map(i => (i, Array.fill(4)(1.5f + 0.001f * i)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Clustering.kmeansOn(emb, k = 2, iters = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(0 -> 5L, 1 -> 5L))
  }

  test("a cluster that captures nothing drops from the report") {
    // both seeds inside one tight blob; k=3's third seed is a far
    // outlier that captures only itself
    val rows = (0L to 5L).map(i => (i, Array(0.01f * i, 0.0f))) ++
      Seq((6L, Array(3.0f, 3.0f)))
    // seed ids 0,1,2 are all in the blob — cluster of the outlier point
    // still forms around whichever seed it is nearest; with 3 blob
    // seeds, iteration pulls two seeds together and one cluster may end
    // up owning zero points after reassignment
    val emb = rows.toDF("vec_id", "embedding")
    val got = Clustering.kmeansOn(emb, k = 3, iters = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.values.sum === 7L, s"every point assigned exactly once: $got")
  }

  test("semantic dedup: a planted identical vector is always found") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val off = 10000000L
    // identical vectors quantize identically → same argmin cluster in
    // every round → the pair can never be blocked apart
    val planted = emb.filter(col("vec_id") === 5L)
      .select((col("vec_id") + off).as("vec_id"), col("embedding"),
        col("label"))
    val pairs = Clustering.semanticDupPairs(
        emb.select("vec_id", "embedding", "label").unionByName(planted),
        k = 8, iters = 3, minCos = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((5L, 5L + off)), "planted semantic dup must surface")
  }

  /** Label 0: [1.0, 0.0] and [1.0, 0.5] → centroid (1024, 256);
    * label 1: [-1.0, 0.0] → (-1024, 0); global sums (1024, 512) over 3
    * vectors → (341, 170). Drift = exact squared gaps:
    * 683² + 86² = 473_885 and (-1365)² + 170² = 1_892_125. */
  test("embedding drift: hand-computed integer centroid gaps per label") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.5f), 0),
      (2L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Clustering.embeddingDrift(emb)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0, 2L, 473885L), (1, 1L, 1892125L)))
  }

  test("clustering is bit-identical across partitionings") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    def run(parts: Int) =
      Clustering.kmeansOn(emb.repartition(parts), k = 4, iters = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(1) === run(8))
  }

  test("k-center coreset: farthest-first order on a line, radius " +
      "monotone non-increasing, partitioning-invariant") {
    // points on a 1-D line at 0, 0.1, 0.5, 1.0, 1.9 (ids 0..4):
    // seed 0 → farthest is 1.9 (id 4) → then 1.0 (id 3, mind to {0,1.9}
    // is min(1.0², .9²)= .81·Q²) → then 0.5 (id 2) → then 0.1 (id 1)
    val emb = Seq(
      (0L, Array(0.0f)), (1L, Array(0.1f)), (2L, Array(0.5f)),
      (3L, Array(1.0f)), (4L, Array(1.9f)))
      .toDF("vec_id", "embedding")
    val got = Clustering.kcenterOn(emb, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._2).toSeq === Seq(0L, 4L, 3L, 2L, 1L),
      s"farthest-first pick order: $got")
    val radii = got.map(_._3).drop(1) // rank 1 is the 0-radius seed
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"covering radius must be monotone non-increasing: ${radii.toSeq}")
    // bit-equality across partitionings (integer argmax discipline)
    def run(parts: Int) =
      Clustering.kcenterOn(emb.repartition(parts), k = 4)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(1) === run(8))
    // k larger than n stops at n picks instead of padding
    assert(Clustering.kcenterOn(emb.limit(2), k = 5).count() === 2L)
  }

  test("k-center incremental-min: one job per round, O(N·k) total work") {
    // the running-min formulation must spend exactly one job on the
    // seed lookup plus one argmax job per remaining pick — never a
    // job-per-center re-fold (the O(N·k²) shape this replaced)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val k = 8
    val (res, n) = jobsOf {
      val res = Clustering.kcenterOn(emb, k)
      res.count(): Unit
      res
    }
    // seed + (k-1) argmax rounds + the final toDF/count on driver
    // rows; a small slack absorbs Spark-internal bookkeeping jobs
    assert(n <= k + 3, s"expected ≤ ${k + 3} jobs for k=$k, saw $n")
    // and the per-round plan folds ONE center, not the whole prefix:
    // distance work per round is a single least(mind, d2(v, newest))
    assert(res.collect().length == k)
  }

  test("dimension stats: exact grid moments per dim, dead dim flagged") {
    // dim 1 varies (0.0, 1.0 → 0, 1024), dim 2 constant 0.5 → dead
    val emb = Seq(
      (0L, Array(0.0f, 0.5f)), (1L, Array(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Clustering.dimStats(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(got(1) === ((2L, 1024L, 1024L * 1024L, 0L, 1024L, false)))
    assert(got(2) === ((2L, 1024L, 2L * 512L * 512L, 512L, 512L, true)),
      "constant dimension must flag dead")
  }

  test("class geometry: orthogonal/identical/opposite planted centroids") {
    import spark.implicits._
    // label 0: e1-ish vectors; label 1: e2; label 2: -e1 (exactly
    // opposite of 0); label 3: same as 0 → cosines 0 / -1e6 / 1e6
    def vec(i: Int, s: Double) =
      (0 until 64).map(j => if (j == i) s.toFloat else 0.0f)
    val rows = Seq(
      (1L, vec(0, 0.25), 0), (2L, vec(0, 0.25), 0),
      (3L, vec(1, 0.25), 1),
      (4L, vec(0, -0.25), 2),
      (5L, vec(0, 0.25), 3))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Clustering.classGeometry(df).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    assert(got((0, 1)) === Some(0L))
    assert(got((0, 2)) === Some(-1000000L))
    assert(got((0, 3)) === Some(1000000L))
    assert(got((1, 2)) === Some(0L))
  }
}
