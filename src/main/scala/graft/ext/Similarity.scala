package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables, Width}

/** Approximate-nearest-neighbor search over embedding columns (SURVEY.md
  * §2.11 L3).
  *
  * Brute-force cosine top-k is the exactness baseline: one broadcast of
  * the query vector, one narrow map computing dot/norms with array HOFs
  * (codegen'd, no UDF), one global top-k (TakeOrdered — no full sort).
  * At 100 TB the scan dominates and parallelizes perfectly.
  *
  * The scale path is IVF-style cell probing: vectors are bucketed by a
  * deterministic coarse quantizer (sign-bit LSH over hash-derived
  * hyperplanes), the query probes only its own cell — a partition-pruned
  * fraction of the corpus. Recall vs the brute-force baseline is asserted
  * in SimilaritySpec.
  */
object Similarity {

  /** Native codegen'd inner product (graft.functions.InnerProduct) —
    * Σ aᵢ·bᵢ with strictly left-to-right double accumulation,
    * bit-identical to the interpreted HOF fold (CosineSimilaritySpec),
    * the throughput form for full-scan MIPS scoring. */
  def dotNative(a: Column, b: Column): Column =
    graft.functions.InnerProduct.inner_product(a, b)

  /** Native codegen'd expression (graft.functions.CosineSimilarity);
    * bit-identical to the interpreted HOF formulation (same
    * accumulation order, CosineSimilaritySpec), ~10× its throughput in
    * the brute-force scan. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_similarity(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Brute-force cosine top-k for one query vector (vec_id = qId).
    * Output is rank-only (ids, not scores) so the oracle compare is
    * immune to last-bit float accumulation differences. */
  def bruteForceTopK(spark: SparkSession, dir: String, qId: Long, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === qId).select(col("v").as("q"))
    e.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("v"), col("q")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("rank"))
  }

  /** Maximum-inner-product top-k (the recommendation-serving score:
    * unnormalized u·v, where cosine would erase magnitude). Brute-force
    * exact scan, rank-only surface (the `simsearch_topk` contract: ids
    * not scores, so last-bit float accumulation never reaches the
    * oracle compare — though here both engines fold strictly
    * left-to-right, so even the scores agree). The ANN path for MIPS is
    * the Bachrach et al. (RecSys 2014) reduction — augment each vector
    * with sqrt(M² − ‖x‖²) so inner-product order becomes cosine order,
    * then serve from the existing IVF index; SimilaritySpec pins that
    * the augmented-cosine ranking reproduces exactly this top-k. */
  def mipsTopK(spark: SparkSession, dir: String, qId: Long, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === qId).select(col("v").as("q"))
    e.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .withColumn("ip", dotNative(col("v"), col("q")))
      .orderBy(col("ip").desc, col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("ip").desc, col("vec_id"))))
      .select(col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("rank"))
  }

  def mipsTopKSql(qId: Long, k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $qId),
       |scored AS (
       |  SELECT e.vec_id, list_dot_product(e.v, q.qv) AS ip
       |  FROM e, q WHERE e.vec_id <> $qId)
       |SELECT vec_id AS neighbor_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY ip DESC, vec_id) AS INT) AS rank
       |FROM scored
       |ORDER BY ip DESC, vec_id
       |LIMIT $k""".stripMargin

  // ------------------------------------------ indexed MIPS (Bachrach)

  /** Standing MIPS index via the Bachrach et al. (RecSys 2014)
    * reduction: augment every corpus vector with sqrt(M² − ‖v‖²)
    * (M = max corpus norm) so all augmented vectors share norm M and
    * inner-product order against ANY query becomes cosine order of
    * the augmented space — then the existing portable md5 sign-bit
    * quantizer applies unchanged. The index stores (vec_id, v, cell)
    * DIRECTORY-PARTITIONED by the augmented vector's `nPlanes`-bit
    * cell (ParquetMemo.ensurePartitioned), so a probe's literal
    * `cell IN (...)` becomes a PartitionFilter and unprobed
    * directories are never opened. M² is one MAX scalar (bounded
    * driver metadata, like the IVF centroid table); the build is one
    * narrow map + the partitioned write — the offline "add to index"
    * step, paid once per corpus. */
  def ensureMipsIndex(spark: SparkSession, dir: String,
      nPlanes: Int = 4): String =
    graft.core.ParquetMemo.ensurePartitioned(
        s"$dir/embeddings.parquet", s"mipsidx_p$nPlanes", "v1", Seq("cell")) {
      val e0 = Tables.embeddings(spark, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val dim = e0.select(size(col("v"))).head().getInt(0)
      val m2 = e0.agg(max(dotNative(col("v"), col("v")))).head().getDouble(0)
      // greatest(…, 0): the max-norm vector's own augmentation is an
      // exact 0, but float edges on OTHER near-max vectors must never
      // hand sqrt a -1e-16 (mirrored in the oracle SQL)
      val vaug = concat(col("v"),
        array(sqrt(greatest(lit(m2) - dotNative(col("v"), col("v")), lit(0.0)))))
      e0.withColumn("cell",
        graft.functions.SignBitLsh.sign_bit_lsh_md5(vaug, dim + 1, nPlanes))
    }

  /** The declared `simsearch_mips_indexed` surface: probe the standing
    * Bachrach index at the query's augmented cell plus its `nPlanes`
    * Hamming-1 neighbors (multiprobe: a sign-bit code disagreeing on
    * one plane still holds near vectors), then EXACT inner-product
    * re-score on the probed candidates only — rank-only output, the
    * `simsearch_topk` contract. Query-side augmentation is the
    * reduction's gift: qaug = [q, 0], so serving needs no knowledge of
    * M. The probe cells are computed driver-side from the same md5
    * plane matrix the index used (nPlanes·(dim+1) doubles — bounded
    * metadata), and the scan's `cell IN (...)` rides PartitionFilters:
    * at 100 TB the query opens (nPlanes+1)/2^nPlanes of the corpus
    * directories, never the rest. Recall vs the exact arm
    * (`simsearch_mips`) is pinned in SimilaritySpec. */
  def mipsIndexedTopK(spark: SparkSession, dir: String, qId: Long, k: Int,
      nPlanes: Int = 4): DataFrame = {
    val path = ensureMipsIndex(spark, dir, nPlanes)
    val qRows = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === qId)
      .select(asDouble(col("embedding")).as("v")).collect()
    require(qRows.nonEmpty, s"vec_id $qId not in $dir/embeddings")
    val qv = qRows(0).getSeq[Double](0)
    val qaug = qv :+ 0.0
    // same left-to-right fold as SignBitLsh's kernel and the oracle's
    // list_dot_product — the sign decision must be bit-identical
    val planes =
      graft.functions.SignBitLsh.md5PlaneMatrix(qaug.length, nPlanes)
    var qcell = 0
    planes.zipWithIndex.foreach { case (plane, p) =>
      var s = 0.0; var i = 0
      while (i < plane.length) { s += qaug(i) * plane(i); i += 1 }
      if (s >= 0) qcell |= 1 << p
    }
    val probeCells =
      (qcell +: (0 until nPlanes).map(p => qcell ^ (1 << p))).map(Int.box)
    spark.read.parquet(path)
      .filter(col("cell").isin(probeCells: _*) && col("vec_id") =!= qId)
      .withColumn("ip", dotNative(col("v"), typedlit(qv)))
      .orderBy(col("ip").desc, col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("ip").desc, col("vec_id"))))
      .select(col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("rank"))
  }

  /** DuckDB twin of the whole Bachrach lifecycle: max-norm scalar,
    * augmentation (query side appends literal 0), md5 plane derivation
    * over dim+1 components, sign-bit cells, Hamming-1 multiprobe via
    * xor, exact inner-product re-score. Fixed to the declared
    * nPlanes = 4 (the xor fan below is the probe set). */
  def mipsIndexedTopKSql(qId: Long, k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |m AS (SELECT MAX(list_dot_product(v, v)) AS m2 FROM e),
       |ea AS (
       |  SELECT vec_id, v,
       |    list_append(v, sqrt(greatest(m.m2 - list_dot_product(v, v), 0))) AS va
       |  FROM e, m),
       |planes AS (
       |  SELECT p, list(comp ORDER BY i) AS plane FROM (
       |    SELECT t.p, s.i,
       |      ('0x' || substr(md5(CAST(t.p AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 13))::BIGINT
       |        / 4503599627370496.0 * 2.0 - 1.0 AS comp
       |    FROM range(0, 4) t(p), range(0, 65) s(i))
       |  GROUP BY p),
       |cellid AS (
       |  SELECT ea.vec_id,
       |    CAST(SUM(CASE WHEN list_dot_product(ea.va, pl.plane) >= 0
       |             THEN (1 << pl.p) ELSE 0 END) AS INT) AS cell
       |  FROM ea, planes pl GROUP BY ea.vec_id),
       |q AS (SELECT v AS qv, list_append(v, 0.0) AS qva FROM e
       |      WHERE vec_id = $qId),
       |qc AS (
       |  SELECT CAST(SUM(CASE WHEN list_dot_product(q.qva, pl.plane) >= 0
       |           THEN (1 << pl.p) ELSE 0 END) AS INT) AS qcell
       |  FROM q, planes pl),
       |probed AS (
       |  SELECT qcell AS cell FROM qc
       |  UNION ALL SELECT xor(qcell, 1) FROM qc
       |  UNION ALL SELECT xor(qcell, 2) FROM qc
       |  UNION ALL SELECT xor(qcell, 4) FROM qc
       |  UNION ALL SELECT xor(qcell, 8) FROM qc),
       |scored AS (
       |  SELECT e.vec_id, list_dot_product(e.v, q.qv) AS ip
       |  FROM e JOIN cellid c ON c.vec_id = e.vec_id CROSS JOIN q
       |  WHERE c.cell IN (SELECT cell FROM probed) AND e.vec_id <> $qId)
       |SELECT vec_id AS neighbor_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY ip DESC, vec_id) AS INT) AS rank
       |FROM scored ORDER BY ip DESC, vec_id LIMIT $k""".stripMargin

  val bruteForceTopKSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |scored AS (
      |  SELECT e.vec_id,
      |    list_dot_product(e.v, q.qv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      |  FROM e, q WHERE e.vec_id <> 0)
      |SELECT vec_id AS neighbor_id,
      |  CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
      |FROM scored
      |ORDER BY cos DESC, vec_id
      |LIMIT 10""".stripMargin

  /** The declared `simsearch_lsh` surface: IVF/LSH-bucketed ANN that
    * probes only the query's cell, over the md5-derived portable
    * hyperplanes with rank-only output — so quantization, cell
    * membership and in-cell ranking all sit behind the DuckDB hash
    * gate. */
  def lshTopKPortable(spark: SparkSession, dir: String, qId: Long, k: Int,
      nPlanes: Int = 4): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // dim from the data (memoized per corpus — corpusDimOf): the
    // oracle's range(0, 64) plane derivation then fails VISIBLY on a
    // reshaped fixture instead of this side silently collapsing into
    // cell 0
    val dim = corpusDimOf(spark, dir)
    val e = e0.withColumn("cell",
      graft.functions.SignBitLsh.sign_bit_lsh_md5(col("v"), dim, nPlanes))
    val q = e.filter(col("vec_id") === qId)
      .select(col("v").as("q"), col("cell").as("qcell"))
    e.filter(col("vec_id") =!= qId)
      .join(broadcast(q), col("cell") === col("qcell"))
      .withColumn("cos", cosine(col("v"), col("q")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("rank"))
  }

  /** DuckDB twin of the portable LSH probe: identical hyperplane
    * derivation (md5 → 52-bit → [-1,1)), identical sign-bit cell ids,
    * identical (cos desc, vec_id) in-cell ranking. */
  val lshTopKSql: String =
    """WITH planes AS (
      |  SELECT p, list(comp ORDER BY i) AS plane FROM (
      |    SELECT t.p, s.i,
      |      ('0x' || substr(md5(CAST(t.p AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 13))::BIGINT
      |        / 4503599627370496.0 * 2.0 - 1.0 AS comp
      |    FROM range(0, 4) t(p), range(0, 64) s(i))
      |  GROUP BY p),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cellid AS (
      |  SELECT e.vec_id,
      |    CAST(SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
      |             THEN (1 << pl.p) ELSE 0 END) AS INT) AS cell
      |  FROM e, planes pl GROUP BY e.vec_id),
      |q AS (
      |  SELECT e.v AS qv, c.cell AS qcell FROM e
      |  JOIN cellid c ON c.vec_id = e.vec_id WHERE e.vec_id = 0),
      |scored AS (
      |  SELECT e.vec_id,
      |    list_dot_product(e.v, q.qv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      |  FROM e JOIN cellid c ON c.vec_id = e.vec_id
      |  CROSS JOIN q
      |  WHERE c.cell = q.qcell AND e.vec_id <> 0)
      |SELECT vec_id AS neighbor_id,
      |  CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
      |FROM scored ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** Batch ANN join: top-k cosine neighbors for EVERY query in a set at
    * once — the shape a training pipeline actually runs (dedup against
    * a reference corpus, hard-negative mining, retrieval eval), as
    * opposed to the single-vector serving probes above.
    *
    * Plan shape: the corpus is quantized once (narrow map), the query
    * subset joins on cell equality — candidates only, NEVER all pairs —
    * and a per-query window takes the top k. Spark plans the
    * rank-filter as WindowGroupLimit, so per-cell candidate lists are
    * pruned to k during the shuffle read instead of materializing, and
    * the join itself shuffles both sides by cell — no broadcast of the
    * query set, which at 100 TB is itself corpus-sized.
    *
    * `nPlanes` pins the oracle's plane derivation; production scales
    * cells with corpus size exactly like the embedding dedup does
    * (`Dedup.planesForCorpus`) — more planes = more cells = smaller
    * candidate lists and higher join parallelism, at recall cost
    * recovered by multi-probe.
    *
    * The md5-portable quantizer makes quantization, blocking, scoring
    * and ranking all ANSI-reproducible — an approximate batch join
    * behind the full hash gate (same trick as `simsearch_lsh`). */
  def knnJoin(spark: SparkSession, dir: String, everyN: Long, k: Int,
      nPlanes: Int = 4): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val dim = corpusDimOf(spark, dir)
    val e = e0.withColumn("cell",
      graft.functions.SignBitLsh.sign_bit_lsh_md5(col("v"), dim, nPlanes))
    val queries = e.filter(col("vec_id") % everyN === 0)
      .select(col("vec_id").as("qid"), col("v").as("q"), col("cell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(col("v"), col("q")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** DuckDB twin of the batch join: identical plane derivation, cell
    * blocking, scoring and per-query ranking. */
  def knnJoinSql(everyN: Long, k: Int): String =
    s"""WITH planes AS (
       |  SELECT p, list(comp ORDER BY i) AS plane FROM (
       |    SELECT t.p, s.i,
       |      ('0x' || substr(md5(CAST(t.p AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 13))::BIGINT
       |        / 4503599627370496.0 * 2.0 - 1.0 AS comp
       |    FROM range(0, 4) t(p), range(0, 64) s(i))
       |  GROUP BY p),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cellid AS (
       |  SELECT e.vec_id,
       |    CAST(SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
       |             THEN (1 << pl.p) ELSE 0 END) AS INT) AS cell
       |  FROM e, planes pl GROUP BY e.vec_id),
       |q AS (
       |  SELECT e.vec_id AS qid, e.v AS qv, c.cell FROM e
       |  JOIN cellid c ON c.vec_id = e.vec_id WHERE e.vec_id % $everyN = 0),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |    list_dot_product(e.v, q.qv) /
       |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
       |  FROM e JOIN cellid c ON c.vec_id = e.vec_id
       |  JOIN q ON c.cell = q.cell
       |  WHERE e.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, vec_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |SELECT qid, vec_id AS neighbor_id, rank
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Nearest-centroid assignment of every vector — the "add to index"
    * step of IVF, as a ZERO-exchange narrow map: the trained centroids
    * are bounded metadata (cells × dim doubles), so they are collected
    * once and folded into the projection as a constant matrix; per-row
    * argmin is `array_min` over (cdist, cell) structs, whose
    * lexicographic struct ordering reproduces the old window
    * formulation's tie-break (smaller cell id) exactly. The previous
    * crossJoin + row_number-over-vec_id shape shuffled corpus × cells
    * rows — an avoidable full exchange at index-build time; this one
    * never shuffles (plan-asserted in SimilaritySpec). */
  /** Nearest-centroid assignment against a FIXED centroid set — the
    * seam that lets incremental maintenance assign a new batch to the
    * standing quantizer without retraining. */
  private[ext] def assignToCentroids(emb: DataFrame,
      cents: Array[(Int, Seq[Double])]): DataFrame = {
    // loud beats obscure: with zero centroids the argmin array below
    // would be ArrayType(NullType) and fail analysis with an unrelated
    // message; an empty corpus cannot train a quantizer, say so
    require(cents.nonEmpty, "cannot train an IVF quantizer on an empty corpus")
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val scored = array(cents.map { case (c, ctr) =>
      struct((-cosine(col("v"), typedlit(ctr))).as("cdist"), lit(c).as("cell"))
    }: _*)
    e.withColumn("cell", array_min(scored).getField("cell"))
      .select(col("vec_id"), col("v"), col("cell"))
  }

  private[ext] def collectCentroids(emb: DataFrame): Array[(Int, Seq[Double])] =
    labelCentroids(emb)
      .select(col("label").as("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)

  def ivfAssign(emb: DataFrame): DataFrame =
    assignToCentroids(emb, collectCentroids(emb))

  /** Build the persistent IVF index: the corpus-wide cell assignment is
    * computed ONCE and written as parquet DIRECTORY-PARTITIONED by
    * `cell` under `path/index`, centroids beside it at `path/centroids`.
    * Cells are low-cardinality by construction (quantizer cells, not
    * join keys), so partitioning — not bucketing — is the right layout:
    * a probe's literal `cell IN (...)` becomes a PartitionFilter and the
    * scan never opens the unprobed directories. (Bucketing would rely on
    * the planner keeping the bucketed scan alive, which it drops for
    * filter-only queries; `core.Bucketing` remains the tool for join
    * co-location.) At 100 TB this is the point of IVF: index build is
    * one bounded shuffle at write time; every query reads ~nprobe/cells
    * of the data (asserted on the plan in SimilaritySpec). */
  def buildIvfIndex(spark: SparkSession, dir: String, path: String): Unit = {
    val emb = Tables.embeddings(spark, dir)
    ivfAssign(emb).write.mode("overwrite").format("parquet")
      .partitionBy("cell").save(s"$path/index")
    labelCentroids(emb).select(col("label").as("cell"), col("centroid"))
      .write.mode("overwrite").format("parquet")
      .save(s"$path/centroids")
  }

  /** Bumped whenever the index build algorithm changes shape or values. */
  private[ext] val IndexAlgoVersion = "v2-exact-centroids"

  /** Build-once IVF index, through the standing-state store
    * (`ParquetMemo.ensureWith`: `_SUCCESS` receipt, staged build,
    * publish by rename, stale fingerprints swept). The declared
    * `simsearch_ivf` query calls this, making the index build the
    * offline "add to index" step — exactly once per corpus — while
    * every query execution is only the pruned probe. */
  def ensureIvfIndex(spark: SparkSession, dir: String): String =
    graft.core.ParquetMemo.ensureWith(s"$dir/embeddings.parquet", "ivf",
      IndexAlgoVersion)(buildIvfIndex(spark, dir, _))

  /** Probe a prebuilt IVF index with a caller-supplied query vector (in
    * a serving system the query embedding arrives from outside — it is
    * never looked up by scanning the index). Centroid ranking is bounded
    * driver-side metadata (cells × dim doubles) — the standard IVF query
    * planner; the corpus-side scan carries a literal `cell IN (...)`
    * predicate, so directory pruning keeps the unprobed cells unopened
    * and the only data-sized work is the cosine scoring inside the
    * probed ones. `excludeId` drops the query's own row for
    * self-similarity searches. */
  def ivfProbe(spark: SparkSession, path: String, qv: Seq[Double], k: Int,
      nprobe: Int = 2, excludeId: Long = -1L,
      preFilter: Column = lit(true)): DataFrame = {
    def dotD(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
    // centroid order: (-cosine) asc, cell asc
    val probeCells = cents.map { case (c, ctr) =>
      c -> -(dotD(qv, ctr) / (math.sqrt(dotD(qv, qv)) * math.sqrt(dotD(ctr, ctr))))
    }.sortBy { case (c, d) => (d, c) }.take(nprobe).map(_._1).toSeq
    spark.read.parquet(s"$path/index")
      .filter(col("cell").isin(probeCells: _*) && col("vec_id") =!= excludeId
        && preFilter)
      .withColumn("cos", cosine(col("v"), typedlit(qv)))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("neighbor_id"), col("cos"), col("cell"))
  }

  /** Attribute-FILTERED ANN over the prebuilt IVF index — the serving
    * pattern plain top-k can't express: search only vectors satisfying
    * a metadata predicate (here `vec_id >= minVecId`, the "newest
    * shard / recent documents" window). The decision that matters is
    * PRE-filter vs post-filter: post-filtering an unfiltered top-k
    * underfills whenever the filter is selective (most of the top-k
    * fails the predicate and the list comes back short); the correct
    * plan pushes the predicate INTO the probed-cell scan — here it
    * rides the same PartitionFilters/PushedFilters scan as the
    * `cell IN` prune, so selectivity REDUCES work instead of
    * discarding it. Rank-only surface like every simsearch query. */
  def ivfProbeFilteredRanked(spark: SparkSession, dir: String, qId: Long,
      k: Int, nprobe: Int = 2, minVecId: Long = 250L): DataFrame = {
    val path = ensureIvfIndex(spark, dir)
    val qRows = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === qId)
      .select(asDouble(col("embedding")).as("v")).collect()
    require(qRows.nonEmpty, s"vec_id $qId not in $dir/embeddings")
    ivfProbe(spark, path, qRows(0).getSeq[Double](0), k, nprobe,
        excludeId = qId, preFilter = col("vec_id") >= minVecId)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("neighbor_id"))))
      .select(col("neighbor_id"), col("rank"))
      .orderBy(col("rank"))
  }

  def ivfProbeFilteredSql(qId: Long, k: Int, nprobe: Int,
      minVecId: Long): String =
    s"""WITH ${ivfCoreCtesSql(qId, nprobe)},
       |scored AS (
       |  SELECT a.vec_id,
       |    list_dot_product(a.v, q.qv) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
       |  FROM assigned a CROSS JOIN q
       |  WHERE a.cell IN (SELECT cell FROM probed)
       |    AND a.vec_id <> $qId AND a.vec_id >= $minVecId)
       |SELECT vec_id AS neighbor_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
       |FROM scored ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin

  /** Convenience: resolve the query vector by id from the SOURCE table
    * (a pushdown-filtered two-column point lookup — not an index scan),
    * then probe. */
  def ivfProbeById(spark: SparkSession, dir: String, qId: Long, k: Int,
      nprobe: Int = 2): DataFrame = {
    val path = ensureIvfIndex(spark, dir)
    val qRows = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === qId)
      .select(asDouble(col("embedding")).as("v")).collect()
    require(qRows.nonEmpty, s"vec_id $qId not in $dir/embeddings")
    ivfProbe(spark, path, qRows(0).getSeq[Double](0), k, nprobe, excludeId = qId)
  }

  /** The declared `simsearch_ivf` surface: the prebuilt-index probe,
    * rank-only (ids, not raw cosines) so the oracle compare is immune to
    * last-bit float accumulation — the same contract `simsearch_topk`
    * uses. Because the quantizer centroids are exact quantized sums
    * (see `labelCentroids`), the ENTIRE chain — train → assign → probe
    * cell choice → in-cell ranking — is reproducible in ANSI SQL, so
    * this approximate index sits behind the full DuckDB hash gate, not
    * a rows-only check. */
  def ivfProbeRanked(spark: SparkSession, dir: String, qId: Long, k: Int,
      nprobe: Int = 2): DataFrame =
    ivfProbeById(spark, dir, qId, k, nprobe)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("neighbor_id"))))
      .select(col("neighbor_id"), col("rank"))
      .orderBy(col("rank"))

  /** DuckDB twin of the whole IVF lifecycle. The centroid CTE mirrors
    * `labelCentroids`' exact quantized sum term-for-term; assignment and
    * probe-cell choice order by (−cosine, cell) exactly like
    * `ivfAssign`/`ivfProbe`; the final ranking mirrors
    * `bruteForceTopKSql`'s rank-only surface. */
  /** The coarse half of the IVF lifecycle as reusable CTEs — exact
    * quantized-sum centroids, (−cosine, cell) assignment, query lookup
    * and probe-cell choice. Shared by `ivfProbeSql` and the IVF-PQ
    * composition (`Quantization.ivfPqTopKSql`). */
  private[ext] def ivfCoreCtesSql(qId: Long, nprobe: Int): String =
    s"""e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |comp AS (
       |  SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos FROM e),
       |cent AS (
       |  SELECT label AS cell, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, pos, SUM(floor(x * 1048576.0) / 1048576.0) AS cx
       |    FROM comp GROUP BY label, pos)
       |  GROUP BY label),
       |assigned AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        -(list_dot_product(e.v, c.centroid) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centroid, c.centroid)))) ASC,
       |        c.cell ASC) AS rn
       |    FROM e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $qId),
       |probed AS (
       |  SELECT cell FROM (
       |    SELECT c.cell,
       |      ROW_NUMBER() OVER (ORDER BY
       |        -(list_dot_product(q.qv, c.centroid) /
       |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.centroid, c.centroid)))) ASC,
       |        c.cell ASC) AS rn
       |    FROM cent c CROSS JOIN q)
       |  WHERE rn <= $nprobe)""".stripMargin

  /** Incremental IVF maintenance — the vector-side twin of the text
    * index's incremental merge (`ext/Search` L6e): a NEW batch of
    * vectors is assigned to the STANDING corpus' FROZEN centroids (no
    * retrain — the realistic maintenance move: the quantizer is a
    * stable artifact, the posting lists grow), and the probe serves
    * standing ∪ batch immediately. Declared over a deterministic batch
    * slice (vec_id % batchMod = batchRem) so the whole lifecycle —
    * standing-only training, frozen assignment of BOTH slices, probe —
    * replays in ANSI SQL behind the hash gate. Probe-cell choice is
    * bounded driver metadata exactly like `ivfProbe`; the merged
    * relation unions two narrow assignment maps, no shuffle before the
    * in-cell scoring. */
  def ivfIncrementalRanked(spark: SparkSession, dir: String, qId: Long,
      k: Int, nprobe: Int = 2, batchMod: Long = 10L,
      batchRem: Long = 7L): DataFrame =
    ivfIncrementalFrom(Tables.embeddings(spark, dir), qId, k, nprobe,
      batchMod, batchRem)

  def ivfIncrementalFrom(emb: DataFrame, qId: Long,
      k: Int, nprobe: Int = 2, batchMod: Long = 10L,
      batchRem: Long = 7L): DataFrame = {
    val standing = emb.filter(col("vec_id") % batchMod =!= batchRem)
    val batch = emb.filter(col("vec_id") % batchMod === batchRem)
    val cents = collectCentroids(standing)
    val merged = assignToCentroids(standing, cents)
      .unionByName(assignToCentroids(batch, cents))
    val qRows = emb.filter(col("vec_id") === qId)
      .select(asDouble(col("embedding")).as("v")).collect()
    require(qRows.nonEmpty, s"vec_id $qId not found in the embeddings input")
    val qv = qRows(0).getSeq[Double](0)
    def dotD(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val probeCells = cents.map { case (c, ctr) =>
      c -> -(dotD(qv, ctr) / (math.sqrt(dotD(qv, qv)) * math.sqrt(dotD(ctr, ctr))))
    }.sortBy { case (c, cd) => (cd, c) }.take(nprobe).map(_._1).toSeq
    merged.filter(col("cell").isin(probeCells: _*) && col("vec_id") =!= qId)
      .withColumn("cos", cosine(col("v"), typedlit(qv)))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("rank"))
  }

  def ivfIncrementalSql(qId: Long, k: Int, nprobe: Int,
      batchMod: Long, batchRem: Long): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |standing AS (SELECT * FROM e WHERE vec_id % $batchMod <> $batchRem),
       |comp AS (
       |  SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos
       |  FROM standing),
       |cent AS (
       |  SELECT label AS cell, list(cx ORDER BY pos) AS centroid FROM (
       |    SELECT label, pos, SUM(floor(x * 1048576.0) / 1048576.0) AS cx
       |    FROM comp GROUP BY label, pos)
       |  GROUP BY label),
       |assigned AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        -(list_dot_product(e.v, c.centroid) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centroid, c.centroid)))) ASC,
       |        c.cell ASC) AS rn
       |    FROM e CROSS JOIN cent c)
       |  WHERE rn = 1),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $qId),
       |probed AS (
       |  SELECT cell FROM (
       |    SELECT c.cell,
       |      ROW_NUMBER() OVER (ORDER BY
       |        -(list_dot_product(q.qv, c.centroid) /
       |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.centroid, c.centroid)))) ASC,
       |        c.cell ASC) AS rn
       |    FROM cent c CROSS JOIN q)
       |  WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT a.vec_id,
       |    list_dot_product(a.v, q.qv) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
       |  FROM assigned a CROSS JOIN q
       |  WHERE a.cell IN (SELECT cell FROM probed) AND a.vec_id <> $qId)
       |SELECT vec_id AS neighbor_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
       |FROM scored ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin

  val ivfProbeSql: String =
    s"""WITH ${ivfCoreCtesSql(qId = 0, nprobe = 2)},
      |scored AS (
      |  SELECT a.vec_id,
      |    list_dot_product(a.v, q.qv) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
      |  FROM assigned a CROSS JOIN q
      |  WHERE a.cell IN (SELECT cell FROM probed) AND a.vec_id <> 0)
      |SELECT vec_id AS neighbor_id,
      |  CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
      |FROM scored ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** Centroid of each labelled cluster — the "train the coarse
    * quantizer" step of IVF expressed as one aggregation: element-wise
    * reduction via posexplode + group, the standard shuffle-bounded
    * shape.
    *
    * The reduction is a DETERMINISTIC QUANTIZED SUM, not a float mean:
    * each component is snapped to a multiple of 2⁻²⁰
    * (`floor(x·2²⁰)/2²⁰` — both steps exact in doubles since scaling by
    * a power of two only shifts the exponent), and the partial sums of
    * such terms stay exactly representable (≤ 2⁵³ with huge margin for
    * |x| < 1 corpora), so the double SUM is EXACT and therefore
    * order-independent. That buys two things a 1000-executor build
    * needs: the index is bit-reproducible run-to-run (a plain float
    * mean varies with shuffle merge order), and the DuckDB oracle can
    * recompute the identical centroids, putting the whole IVF chain
    * behind the hash-compare gate. Cosine only reads direction, so the
    * un-divided sum trains the same quantizer a mean would. */
  def labelCentroids(emb: DataFrame): DataFrame = {
    val q = 1048576.0 // 2^20
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("x").cast("double") * q) / q).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p.getField("cx")).as("centroid"))
  }

  /** Radius (range) search — the ANN variant top-k can't express:
    * EVERY vector within squared-L2 distance r² of the query, on the
    * k-means ×2^10 integer grid so the DISTANCES THEMSELVES are exact
    * BIGINTs behind the hash gate (the rank-only contract of
    * `simsearch_topk` is not needed — integer d2 has no accumulation
    * order). One broadcast of the 1-row query + a narrow zip_with fold
    * per corpus vector — the honest exhaustive baseline; at cluster
    * scale the IVF cell prune (`ensureIvfIndex`: cells whose centroid
    * d2 minus cell radius exceeds r² can't contain a hit) composes in
    * front of exactly this scorer, the same build the top-k probe
    * reads. */
  def rangeSearch(spark: SparkSession, dir: String, qId: Long,
      r2: Long): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast("double") * 1024).cast("long"))
        .as("v"))
    val q = e.filter(col("vec_id") === qId).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .withColumn("d2", aggregate(
        zip_with(col("v"), col("qv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .filter(col("d2") <= r2)
      .select(col("vec_id").as("neighbor_id"), col("d2"))
      .orderBy(col("d2"), col("neighbor_id"))
  }

  def rangeSearchSql(qId: Long, r2: Long): String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1024) AS BIGINT)) AS v
       |  FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $qId),
       |d AS (
       |  SELECT e.vec_id,
       |    list_sum(list_transform(range(1, len(e.v) + 1),
       |      i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i]))) AS d2
       |  FROM e, q WHERE e.vec_id <> $qId)
       |SELECT vec_id AS neighbor_id, CAST(d2 AS BIGINT) AS d2
       |FROM d WHERE d2 <= $r2
       |ORDER BY d2, neighbor_id""".stripMargin

  /** Matryoshka (truncated-prefix) retrieval: coarse-score on the first
    * `dp` dimensions, keep the top `c` candidates, rerank those by
    * FULL-dimension cosine — the two-stage funnel used with MRL-style
    * embeddings where nested prefixes are themselves valid embeddings
    * (Kusupati et al., NeurIPS 2022). At 100 TB the prefix lives as its
    * own skinny column (or a store-truncated replica), so the coarse
    * scan reads dp/dim of the vector bytes and the full vectors are
    * fetched for only `c` rows — this local form keeps exactly that
    * plan shape: a narrow prefix projection scored row-wise, a global
    * top-c (rank-prunable), and a `c`-row rerank.
    *
    * Determinism: both stages accumulate strictly left-to-right in
    * doubles (the `bruteForceTopK` discipline — matches DuckDB's
    * list_dot_product fold), ties break on vec_id at BOTH cuts, and no
    * fixture score pair sits within drift distance of a cut, so the
    * rank list is oracle-checkable end to end. */
  def matryoshkaTopK(spark: SparkSession, dir: String, qId: Long, k: Int,
      dp: Int, c: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("p", slice(col("v"), 1, dp))
    val q = e.filter(col("vec_id") === qId)
      .select(col("v").as("qv"), col("p").as("qp"))
    val cands = e.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .withColumn("pscore", aggregate(
        zip_with(col("p"), col("qp"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x))
      .orderBy(col("pscore").desc, col("vec_id"))
      .limit(c)
    cands
      .withColumn("cos", cosine(col("v"), col("qv")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("neighbor_id"), col("rank"))
      .orderBy(col("rank"))
  }

  def matryoshkaTopKSql(qId: Long, k: Int, dp: Int, c: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         CAST(embedding AS DOUBLE[])[1:$dp] AS p
       |  FROM embeddings),
       |q AS (SELECT v AS qv, p AS qp FROM e WHERE vec_id = $qId),
       |cands AS (
       |  SELECT e.vec_id, e.v, q.qv,
       |         list_dot_product(e.p, q.qp) AS pscore
       |  FROM e, q WHERE e.vec_id <> $qId
       |  ORDER BY pscore DESC, vec_id LIMIT $c),
       |reranked AS (
       |  SELECT vec_id,
       |    list_dot_product(v, qv) /
       |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos
       |  FROM cands)
       |SELECT vec_id AS neighbor_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
       |FROM reranked
       |ORDER BY cos DESC, vec_id
       |LIMIT $k""".stripMargin

  /** Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR'98): greedily pick the candidate maximizing
    * `lam·rel(c) − mu·max_{s∈picked} sim(c, s)` — relevance traded
    * against redundancy with what's already selected. This is the
    * retrieval-side twin of SemDeDup: a near-duplicate of an already
    * picked result scores its redundancy penalty and drops down the
    * list, so the k results SPAN the neighborhood instead of repeating
    * its densest cluster.
    *
    * Scale split (the IVF-probe / markov-chain pattern): the data-sized
    * work is the corpus relevance scan (native cosine, TakeOrdered
    * top-c — never a full sort); the greedy selection is inherently
    * sequential but touches only the c-row candidate set (c, c² ≤
    * bounded METADATA, constants independent of corpus size), so it
    * runs driver-side. Candidate-pair sims use the same strict
    * left-to-right double fold as the cluster-side expression, so the
    * whole chain stays bit-reproducible in ANSI SQL: the oracle replays
    * the greedy loop as a recursive CTE with the identical float
    * literals and (score DESC, vec_id) tie order. `lam`/`mu` are BOTH
    * explicit (never 1−lam: `1 − 0.7` is 0.30000000000000004 in IEEE —
    * not the literal 0.3 the SQL would parse). Rank-only output, like
    * every simsearch surface. */
  def mmrTopK(spark: SparkSession, dir: String, qId: Long, k: Int,
      c: Int, lam: Double = 0.7, mu: Double = 0.3): DataFrame =
    mmrTopKOver(Tables.embeddings(spark, dir), qId, k, c, lam, mu)

  /** As `mmrTopK` over an explicit (vec_id, embedding) relation. */
  def mmrTopKOver(emb: DataFrame, qId: Long, k: Int,
      c: Int, lam: Double, mu: Double): DataFrame = {
    val spark = emb.sparkSession
    val e = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === qId).select(col("v").as("qv"))
    val cand = e.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .withColumn("rel", cosine(col("v"), col("qv")))
      // zero-norm vectors make cosine NaN; NaN > -Inf is false, so an
      // all-NaN tail would leave the greedy argmax unset — drop them
      // here (the SQL twin filters isfinite(rel) identically)
      .filter(!isnan(col("rel")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(c)
      .select(col("vec_id"), col("rel"), col("v"))
      .collect() // c rows: bounded candidate metadata, not corpus-sized
    val ids = cand.map(_.getLong(0))
    val rel = cand.map(_.getDouble(1))
    val vecs = cand.map(_.getSeq[Double](2).toArray)
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cosA(i: Int, j: Int): Double =
      dotA(vecs(i), vecs(j)) /
        (math.sqrt(dotA(vecs(i), vecs(i))) * math.sqrt(dotA(vecs(j), vecs(j))))
    val n = ids.length
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    // candidates arrive (rel DESC, vec_id ASC): index 0 IS the first pick
    val remaining = scala.collection.mutable.LinkedHashSet((0 until n): _*)
    if (n > 0) { picked += 0; remaining -= 0 }
    while (picked.length < math.min(k, n) && remaining.nonEmpty) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      remaining.foreach { i =>
        var mx = Double.NegativeInfinity
        picked.foreach { j =>
          val s0 = cosA(i, j)
          // zero-norm picks are filtered above, but guard anyway: a
          // NaN pairwise sim must not poison the penalty term
          if (!s0.isNaN && s0 > mx) mx = s0
        }
        val sc = lam * rel(i) - mu * mx
        // ties (exact double equality, as in the SQL sort) → lower id
        if (!sc.isNaN &&
            (sc > bestScore || (sc == bestScore && best >= 0 && ids(i) < ids(best)))) {
          best = i; bestScore = sc
        }
      }
      if (best < 0) { remaining.clear() } // all-NaN residue: stop early
      else { picked += best; remaining -= best }
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case (idx, r) => (r + 1, ids(idx)) }
      .toDF("rank", "vec_id")
  }

  def mmrTopKSql(qId: Long, k: Int, c: Int,
      lam: Double = 0.7, mu: Double = 0.3): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $qId),
       |cand0 AS (
       |  SELECT e.vec_id,
       |    list_dot_product(e.v, q.qv) /
       |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS rel,
       |    e.v
       |  FROM e, q WHERE e.vec_id <> $qId),
       |cand AS (
       |  SELECT * FROM cand0 WHERE isfinite(rel)
       |  ORDER BY rel DESC, vec_id LIMIT $c),
       |sims AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
       |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
       |sel AS (
       |  SELECT 1 AS step,
       |    [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1)] AS picked
       |  WHERE EXISTS (SELECT 1 FROM cand)
       |  UNION ALL
       |  SELECT s.step + 1, list_append(s.picked, (
       |      SELECT c2.vec_id FROM cand c2
       |      WHERE NOT list_contains(s.picked, c2.vec_id)
       |      ORDER BY $lam * c2.rel - $mu * (
       |          SELECT MAX(m.sim) FROM sims m
       |          WHERE m.ia = c2.vec_id AND list_contains(s.picked, m.ib)) DESC,
       |        c2.vec_id
       |      LIMIT 1))
       |  FROM sel s
       |  WHERE s.step < $k AND EXISTS (
       |      SELECT 1 FROM cand c3 WHERE NOT list_contains(s.picked, c3.vec_id))),
       |f AS (SELECT picked FROM sel ORDER BY step DESC LIMIT 1)
       |SELECT CAST(u.i AS INT) AS rank, f.picked[CAST(u.i AS BIGINT)] AS vec_id
       |FROM f, unnest(range(1, len(f.picked) + 1)) AS u(i)
       |ORDER BY rank""".stripMargin

  /** ANN quality evaluation INSIDE the engine: recall@k of the
    * cell-blocked batch kNN (`knnJoin`) against the exhaustive exact
    * ranking, per sampled query. A deployment tuning nPlanes/nprobe
    * needs exactly this harness, and it belongs next to the index it
    * measures. The exact arm is deliberately exhaustive — an EVAL pass
    * over a bounded query sample (corpus/everyN rows), not a serving
    * path; every sampled query surfaces even at zero hits (the LEFT
    * join + indicator fold, grouped over the always-k exact rows). */
  def annRecall(spark: SparkSession, dir: String, everyN: Long,
      k: Int): DataFrame = {
    val approx = knnJoin(spark, dir, everyN, k)
      .select(col("qid"), col("neighbor_id"), lit(1).as("hit"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val qs = e.filter(col("vec_id") % everyN === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"))
    exact.join(approx, Seq("qid", "neighbor_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("n_hit"))
      .orderBy(col("qid"))
  }

  def annRecallSql(everyN: Long, k: Int): String =
    s"""WITH approx AS (SELECT * FROM (${knnJoinSql(everyN, k)})),
       |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qs AS (SELECT vec_id AS qid, v AS qv FROM e2 WHERE vec_id % $everyN = 0),
       |xscored AS (
       |  SELECT qs.qid, e2.vec_id,
       |    list_dot_product(e2.v, qs.qv) /
       |      (sqrt(list_dot_product(e2.v, e2.v)) * sqrt(list_dot_product(qs.qv, qs.qv))) AS cos
       |  FROM e2, qs WHERE e2.vec_id <> qs.qid),
       |exact AS (
       |  SELECT qid, vec_id AS neighbor_id FROM (
       |    SELECT qid, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |    FROM xscored) WHERE rank <= $k)
       |SELECT x.qid, COUNT(*) AS n_exact,
       |  CAST(SUM(CASE WHEN a.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |FROM exact x LEFT JOIN approx a
       |  ON a.qid = x.qid AND a.neighbor_id = x.neighbor_id
       |GROUP BY x.qid ORDER BY x.qid""".stripMargin

  // ------------------------------------------- graph ANN (NSW greedy)

  /** Build-once symmetric kNN graph — the layer-0 structure of
    * NSW/HNSW-family indexes (Malkov & Yashunin 2016 shape): every
    * vector keeps its cell-blocked top-`graphK` neighbors, mirrored so
    * greedy search can walk against the link direction. Each edge row
    * DENORMALIZES the destination vector (exactly what an in-memory
    * HNSW node stores), so a probe hop is one pruned scan with no
    * join. Written range-partitioned + sorted on `src`, so a
    * `src = cur` probe prunes to one file and its row-group stats —
    * the text-index bucket-probe pattern. Memoized per corpus snapshot
    * (`ParquetMemo`): the build pays the cell-blocked candidate join
    * once; probes are serving-path reads. */
  /** Three 2-bit band keys off the shared 6-plane sign hash. */
  /** Corpus-size-aware band width for the NSW build's banded sign-LSH
    * candidate join. A FIXED width saturates: with the historical
    * 2-bit bands every bucket holds N/4 of the corpus and the
    * candidate stream grows as N² — the r14 30× rehearsal measured
    * ~2.7e9 candidate rows and a 45-minute single-task HashAggregate
    * on the `.distinct()`. Holding bucket occupancy near `target`
    * instead keeps the stream ~3·N·target — linear in N, the IVF
    * nlist≈√N sizing discipline applied to the banded join. Smallest b
    * with 2^b ≥ ceil(N/target), clamped to [2, 10]; b=2 reproduces the
    * historical 6-plane geometry bit-exactly, so the sf0.001/sf0.01
    * corpora (≤1000 vectors) and every committed oracle hash at those
    * scales are unchanged. The DuckDB oracle derives the same b from
    * count(*) via the power-of-two CASE ladder in the shared `geo`
    * CTE (`graphGreedySearchSql`). */
  private[graft] def knnBandBits(n: Long, target: Long = 250L): Int = {
    val m = math.max(1L, (n + target - 1) / target)
    val b =
      if (m <= 1L) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(10, math.max(2, b))
  }

  /** Vector dim of a corpus directory, memoized per JVM — the fixture
    * corpus is immutable (the `Tables.spreadCache` discipline), and
    * every graph-serving call otherwise re-paid a one-row dim probe for
    * a constant that never changes. (The row count comes from the
    * shared footer memo, `Width.rows`.) */
  private val corpusDim =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]
  private def corpusDimOf(spark: SparkSession, dir: String): Int =
    corpusDim.computeIfAbsent(dir, _ => Tables.embeddings(spark, dir)
      .select(size(asDouble(col("embedding")))).head().getInt(0)).intValue

  /** The band width for a corpus directory — one parquet-footer count
    * of the FULL embeddings table (the standing/batch split must agree
    * on geometry, so both derive b from the unsplit corpus). */
  private def knnBandBitsFor(spark: SparkSession, dir: String): Int =
    knnBandBits(Width.rows(spark, dir, "embeddings"))

  private def bandKeys(e: DataFrame, bits: Int): DataFrame =
    e.select(col("vec_id"), explode(array((0 until 3).map(r =>
        struct(lit(r).as("band"),
          shiftright(col("cell"), bits * r)
            .bitwiseAND(lit((1 << bits) - 1)).as("bkey"))): _*))
        .as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"))

  /** Directed banded top-`graphK` edges from every `qSide` vector to
    * its `nSide` candidates — the one candidate chain shared by the
    * full build (qSide = nSide = corpus) and the incremental insert
    * (qSide = batch, nSide = standing; never standing×standing). */
  private def bandedKnnEdges(qSide: DataFrame, nSide: DataFrame,
      graphK: Int, bits: Int, nQ: Long, nN: Long,
      dim: Int): DataFrame = {
    // Candidate-volume-sized shuffle width for the BUILD's wide stages
    // (the full build passes its corpus count, the incremental insert
    // its batch and corpus counts): the candidate stream is
    // ~3·nQ·250 narrow rows, and at the session's fixed width (cpus) a
    // 30× corpus put ~1.6M of them in every distinct/top-k-sort task —
    // starving per-task execution memory into multi-pass spill merges
    // (50M candidates: ~50 GB spill accounting, 1914 task-seconds, the
    // whole 30× build overhang). `Width.provision` spills nothing and
    // protects small corpora: width never drops under the session
    // width, and it only exceeds it when the candidate volume genuinely
    // warrants more tasks (AQE does NOT coalesce explicit-count
    // repartitions, so the guard is the formula, not the runtime). The explicit hash repartitions SATISFY
    // the downstream distribution requirements (distinct clusters on
    // (qid,nid), the window on qid), so no extra exchange is added —
    // the same two exchanges, wider. Known trade: repartition-then-
    // distinct forfeits map-side partial dedup of cross-band duplicate
    // pairs (≤3× inflation through the exchange; measured +2 MB at
    // sf0.1, dwarfed by the spill it prevents at 30×).
    val width = Width.provision(3L * nQ * 250L,
      Width.sessionWidth(qSide.sparkSession))
    val cand = bandKeys(qSide, bits).as("a")
      .join(bandKeys(nSide, bits).as("b"), Seq("band", "bkey"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
      .repartition(width, col("qid"), col("nid"))
      .distinct() // dedup across bands BEFORE paying any cosine
    // Score with BROADCAST vector lookups whenever the vector relation
    // provably fits (count × row bytes ≤ 256 MB, callers pass exact
    // footer counts): past the 10 MB autobroadcast threshold Catalyst
    // plans these joins as SortMergeJoin, and the ~3·N·250-row
    // candidate stream then gets re-shuffled and re-sorted CARRYING a
    // dim-sized double vector between the two joins — at 30× that
    // intermediate was 50M rows × ~520 B ≈ 25 GB through one exchange,
    // the entire build overhang (46 GB spill, ~3900 task-seconds).
    // With both sides broadcast the candidate stream stays 16 B/row
    // end-to-end and the cosine is a map-side lookup. Each side is
    // gated INDEPENDENTLY (the incremental insert pairs a tiny batch
    // side with a corpus-sized standing side — broadcasting the batch
    // still keeps one join map-side when the standing side outgrows the
    // bound), at 128 MB per side so two simultaneous broadcasts stay
    // well under driver/executor memory even with the several-×
    // hashed-relation expansion; the per-row estimate charges the
    // 8-byte vec_id key and ~64 B of UnsafeRow + hashed-relation
    // overhead on top of the double-array payload. Beyond the bound a
    // side falls back to shuffle — the documented broadcast→shuffle
    // transition class (§6.2c).
    val rowBytes = 8L * dim + 24L + 8L + 64L
    def fitsBroadcast(n: Long): Boolean =
      dim > 0 && n > 0 && n * rowBytes <= (128L << 20)
    val bcastQ = fitsBroadcast(nQ)
    val bcastN = fitsBroadcast(nN)
    val qVec0 = qSide.select(col("vec_id").as("qid"), col("v").as("qv"))
    val nVec0 = nSide.select(col("vec_id").as("nid"), col("v").as("nv"))
    val qVec = if (bcastQ) broadcast(qVec0) else qVec0
    val nVec = if (bcastN) broadcast(nVec0) else nVec0
    // any shuffle-joined vector side attaches FIRST, while candidate
    // rows are still 16 B — a shuffle join downstream of an attached
    // vector payload would drag that payload through its exchange
    val joined =
      if (bcastQ && !bcastN) cand.join(nVec, Seq("nid")).join(qVec, Seq("qid"))
      else cand.join(qVec, Seq("qid")).join(nVec, Seq("nid"))
    val scored = joined
      // drop both vector payloads the moment the cosine is computed:
      // the top-k window exchange repartitions the full candidate
      // stream by qid, and carrying two dim-sized double arrays per
      // candidate row makes that exchange ~30× wider than the
      // (qid, nid, cos) triple it needs.
      .select(col("qid"), col("nid"),
        cosine(col("nv"), col("qv")).as("cos"))
      .repartition(width, col("qid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= graphK)
      .select(col("qid").as("src"), col("nid").as("dst"))
  }

  /** Symmetrize + denormalize destination vectors: the stored edge
    * layout a probe hop reads. `mirrorDisjoint = true` skips the
    * post-union distinct — correct ONLY when the edge relation's src
    * and dst domains are disjoint (the incremental insert arm: every
    * edge is batch→standing, every mirror standing→batch, and
    * bandedKnnEdges already emits distinct (qid, nid) pairs), where the
    * generic full-build case needs it because (a,b) and (b,a) can both
    * win top-k and collide with each other's mirrors. Deleting the
    * provably-no-op distinct deletes one exchange + AQE stage from
    * every incremental serving call. */
  private def symWithVectors(edges: DataFrame, e0: DataFrame,
      mirrorDisjoint: Boolean = false): DataFrame = {
    val uni = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val sym = if (mirrorDisjoint) uni else uni.distinct()
    sym.join(e0.select(col("vec_id").as("dst"), col("v").as("dvec")),
        Seq("dst"))
      .select(col("src"), col("dst"), col("dvec"))
  }

  private def withCell(e0: DataFrame, dim: Int, bits: Int): DataFrame =
    e0.withColumn("cell",
      graft.functions.SignBitLsh.sign_bit_lsh_md5(col("v"), dim, 3 * bits))

  /** Plane count for the serving walks' ENTRY cell — fixed at the
    * historical 6-plane geometry, deliberately decoupled from the
    * adaptive 3·b band planes: with adaptive bands the cell space grows
    * to 2^30 and every cell is a singleton past a few thousand vectors,
    * so a band-geometry entry cell would always fall back to the global
    * min vec_id — the IVF-flavored warm start would be OFF at exactly
    * the corpus sizes the adaptive geometry targets. 64 coarse cells
    * keep the entry near the query at any N. At b=2 (every corpus ≤
    * ~1000 vectors, incl. the committed oracle scales) 3·b = 6, so this
    * constant reproduces the historical entry bit-exactly. */
  private[graft] val EntryPlanes = 6

  def ensureKnnGraph(spark: SparkSession, dir: String,
      graphK: Int = 8): String =
    ensureKnnGraphB(spark, dir, graphK, knnBandBitsFor(spark, dir))

  /** [[ensureKnnGraph]] with the band width precomputed — serving
    * callers that already counted the corpus pass `bits` down so each
    * serving call pays at most ONE footer count. */
  /** The full-build plan behind [[ensureKnnGraph]] — factored out so
    * the §6.2c build probe can `.explain` and execute exactly what the
    * memoized build writes. BANDED candidate generation, not
    * single-cell blocking: a 3·b-plane sign hash split into three
    * b-bit bands — two nearby vectors disagreeing on a couple of
    * planes still co-block in some band, so the graph gets the
    * cross-cell links greedy search needs (single-cell blocking yields
    * a DISCONNECTED graph and caps recall at the entry cell's
    * content). Same pigeonhole geometry as the dedup MinHash bands; b
    * adapts to corpus size (knnBandBits) so the candidate stream stays
    * linear. */
  private[ext] def knnGraphBuildPlan(spark: SparkSession, dir: String,
      graphK: Int, bits: Int): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val dim = e0.select(size(col("v"))).head().getInt(0)
    val e = withCell(e0, dim, bits)
    // build-only footer count: sizes the candidate-stream shuffle
    // width and the broadcast decision, paid once per cold index
    // build, never when serving
    val n = e0.count()
    symWithVectors(bandedKnnEdges(e, e, graphK, bits, n, n, dim), e0)
      .repartitionByRange(16, col("src"))
      .sortWithinPartitions(col("src"))
  }

  private def ensureKnnGraphB(spark: SparkSession, dir: String,
      graphK: Int, bits: Int): String = {
    graft.core.ParquetMemo.ensure(
      s"$dir/embeddings.parquet", s"knngraph_k${graphK}_b$bits",
      "v3-adaptive") {
      knnGraphBuildPlan(spark, dir, graphK, bits)
    }
  }

  /** Build-geometry audit for [[ensureKnnGraph]] (SURVEY §6.2c, the
    * post-fix 30× measurement): band-bucket occupancy and candidate-pair
    * volume of the banded build at a corpus, computed from the SAME
    * withCell/bandKeys chain the build runs — (N, b, candidate ordered
    * pairs Σc·(c−1), mean occupancy, max occupancy). The adaptive-width
    * contract says candidates ≈ 3·N·target and occupancy ≈ target. */
  private[graft] def knnBuildGeometry(spark: SparkSession,
      dir: String): (Long, Int, Long, Double, Long) = {
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val n = e0.count()
    val bits = knnBandBits(n)
    val dim = e0.select(size(col("v"))).head().getInt(0)
    val row = bandKeys(withCell(e0, dim, bits), bits)
      .groupBy("band", "bkey").count()
      .agg(sum(col("count") * (col("count") - 1)).as("cand"),
        avg(col("count")).as("mean_occ"),
        max(col("count")).as("max_occ")).head()
    (n, bits, row.getLong(0), row.getDouble(1), row.getLong(2))
  }

  /** Standing-side graph for the incremental maintenance path: built
    * once over the corpus EXCLUDING the arriving batch (the
    * `simsearch_ivf_incremental` split, vec_id % batchMod = batchRem). */
  def ensureStandingKnnGraph(spark: SparkSession, dir: String,
      graphK: Int = 8, batchMod: Long = 10L, batchRem: Long = 7L): String =
    // geometry from the FULL corpus count, not the standing split —
    // the incremental insert (batch side) must band identically
    ensureStandingKnnGraphB(spark, dir, graphK, batchMod, batchRem,
      knnBandBitsFor(spark, dir))

  private def ensureStandingKnnGraphB(spark: SparkSession, dir: String,
      graphK: Int, batchMod: Long, batchRem: Long, bits: Int): String = {
    graft.core.ParquetMemo.ensure(
      s"$dir/embeddings.parquet",
      s"knngraph_standing_k${graphK}_m${batchMod}r${batchRem}_b$bits",
      "v2-adaptive") {
      val e0 = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % batchMod =!= batchRem)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val dim = e0.select(size(col("v"))).head().getInt(0)
      val e = withCell(e0, dim, bits)
      val n = e0.count()
      symWithVectors(bandedKnnEdges(e, e, graphK, bits, n, n, dim), e0)
        .repartitionByRange(16, col("src"))
        .sortWithinPartitions(col("src"))
    }
  }

  /** Greedy best-first walk over the kNN graph — graph ANN serving:
    * start at the deterministic entry (min vec_id ≠ query), and for
    * `hops` steps move to the unvisited neighbor of the current node
    * closest to the query (forced move, so plateaus are crossed);
    * answer = top-k of all visited nodes. Rank-only output, the
    * `simsearch_topk` contract.
    *
    * Determinism: every cosine is the same strict left-to-right double
    * fold in the driver walk, the Spark build, and the DuckDB replay
    * (list_dot_product); ties break by vec_id. Each hop collects ≤
    * 2·graphK candidate rows (bounded metadata, the IVF probe-side
    * contract) via a src-pruned scan of the standing graph — the
    * corpus itself is touched only twice, for the query vector and the
    * entry point, both single-row lookups. */
  /** BEAM serving budgets, adaptive in the corpus' band width b (b ≈
    * log2(N/250), the `knnBandBits` geometry): a FIXED budget that
    * recalls well at one N explores a vanishing corpus fraction at
    * 10×/30× — the r15 constants (ef 6, rounds 8) measured beam
    * recall@10 collapsing 0.51 → 0.09 from 1× to 10× even with the
    * best-cosine entry, while ef = 8b / rounds = 3b read 0.93 / 0.92 /
    * 0.87 at 1× / 10× / 30× (§6.2c). Budgets grow LOGARITHMICALLY with
    * N — the HNSW ef_search scaling — so serving stays a bounded-probe
    * driver walk at any corpus size.
    *
    * The GREEDY walk deliberately keeps its fixed 32-hop budget: the
    * single walker SATURATES (measured 10×: 0.115 recall at 32 hops →
    * only 0.30 at 112, at 3× the serving wall), so scaling hops buys
    * latency without usable recall — greedy is the declared
    * minimal-latency arm, the beam the quality arm at every N. */
  private[ext] def beamEf(bits: Int): Int = 8 * bits
  private[ext] def beamRounds(bits: Int): Int = 3 * bits

  def graphGreedySearch(spark: SparkSession, dir: String, qId: Long,
      k: Int, graphK: Int = 8, hops: Int = 32): DataFrame = {
    val g = spark.read.parquet(ensureKnnGraph(spark, dir, graphK))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    greedyWalkRanked(g, emb, dir, qId, k, hops)
  }

  /** Incremental graph-index maintenance — the HNSW insert applied to
    * the standing NSW graph (the `simsearch_ivf_incremental` story for
    * the graph family): the arriving batch (vec_id % batchMod =
    * batchRem) connects to its top-`graphK` STANDING neighbors via the
    * banded candidate chain — batch×banded-standing work only, never a
    * standing×standing rebuild — and the mirrored insert edges splice
    * the new vectors into the walkable graph. The serve is the same
    * greedy walk, now able to reach and return batch members.
    * Asymmetry is the scale story: a 100 TB corpus absorbs a daily
    * drop at the drop's size, exactly like `incrementalDedup`. */
  def graphIncrementalSearch(spark: SparkSession, dir: String, qId: Long,
      k: Int, graphK: Int = 8, hops: Int = 32, batchMod: Long = 10L,
      batchRem: Long = 7L): DataFrame = {
    // memoized corpus constants (count feeds the banding geometry —
    // bits → the standing build's memo key + the insert arm's bands —
    // and the broadcast decision; dim feeds the cell planes): the two
    // per-call metadata jobs the serve used to pay are now one-time
    val nCorpus = Width.rows(spark, dir, "embeddings")
    val dim = corpusDimOf(spark, dir)
    val bits = knnBandBits(nCorpus)
    val standingGraph = spark.read.parquet(
      ensureStandingKnnGraphB(spark, dir, graphK, batchMod, batchRem, bits))
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val batch = e0.filter(col("vec_id") % batchMod === batchRem)
    val standing = e0.filter(col("vec_id") % batchMod =!= batchRem)
    // MATERIALIZE the insert once (eager localCheckpoint): the walk
    // probes the graph once per hop, and an unmaterialized insert arm
    // would re-run the banded connect chain on every probe — the
    // insert is "the index accepted the batch", paid once, like a real
    // index's in-memory delta segment.
    //
    // VOLUME-SIZED final width (r17 verdict item: the serve anti-scaled
    // 0.29 — 18.2 s at 32 cores vs 5.3 s at 8): the checkpoint used to
    // inherit the session's shuffle width, so every one of the ~30
    // sequential IN-list probe jobs scanned `width` near-empty RDD
    // partitions on top of the pruned standing scan — per-probe task
    // count ∝ session width with bounded data behind it. The insert
    // relation is 2·graphK·|batch| rows by construction; size its
    // partition count to that volume (`Width.spread`, capped at the
    // session width) so a bench-scale batch checkpoints into ONE
    // partition and each probe job is a handful of tasks. Upstream (the
    // banded connect chain) keeps its own width — only the final tiny
    // edge relation is re-keyed.
    val insertParts = Width.spread(2L * graphK * (nCorpus / batchMod + 1L),
      Width.sessionWidth(spark))
    val inserted = symWithVectors(
      bandedKnnEdges(withCell(batch, dim, bits),
        withCell(standing, dim, bits), graphK, bits,
        nQ = nCorpus / batchMod + 1, nN = nCorpus, dim = dim),
      e0, mirrorDisjoint = true)
      .repartition(insertParts, col("src"))
      .localCheckpoint(eager = true)
    // standing graph holds only standing↔standing edges, inserts only
    // batch↔standing — disjoint by construction, no distinct needed
    greedyWalkRanked(standingGraph.unionByName(inserted), e0, dir, qId, k,
      hops)
  }

  def graphIncrementalSearchSql(qId: Long, k: Int, graphK: Int = 8,
      hops: Int = 32, batchMod: Long = 10L, batchRem: Long = 7L): String = {
    val core = graphGreedySearchSql(qId, k, graphK, hops)
    // reuse the shared plane/cell/band CTEs and walk; replace the
    // single knn/edges pair with the standing + insert arms
    val prefix = core.substring(0, core.indexOf("cand AS ("))
    val suffix = core.substring(core.indexOf("qv AS ("))
    s"""${prefix}candS AS (
       |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
       |  FROM bands a JOIN bands b USING (band, bkey)
       |  WHERE a.vec_id <> b.vec_id
       |    AND a.vec_id % $batchMod <> $batchRem
       |    AND b.vec_id % $batchMod <> $batchRem),
       |candB AS (
       |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
       |  FROM bands a JOIN bands b USING (band, bkey)
       |  WHERE a.vec_id % $batchMod = $batchRem
       |    AND b.vec_id % $batchMod <> $batchRem),
       |knnS AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT cand.qid, cand.nid AS vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
       |        list_dot_product(eb.v, ea.v) /
       |          (sqrt(list_dot_product(eb.v, eb.v)) * sqrt(list_dot_product(ea.v, ea.v)))
       |        DESC, cand.nid) AS rnk
       |    FROM candS cand JOIN e ea ON ea.vec_id = cand.qid
       |    JOIN e eb ON eb.vec_id = cand.nid)
       |  WHERE rnk <= $graphK),
       |knnB AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT cand.qid, cand.nid AS vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY cand.qid ORDER BY
       |        list_dot_product(eb.v, ea.v) /
       |          (sqrt(list_dot_product(eb.v, eb.v)) * sqrt(list_dot_product(ea.v, ea.v)))
       |        DESC, cand.nid) AS rnk
       |    FROM candB cand JOIN e ea ON ea.vec_id = cand.qid
       |    JOIN e eb ON eb.vec_id = cand.nid)
       |  WHERE rnk <= $graphK),
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT qid AS src, vec_id AS dst FROM knnS
       |    UNION ALL SELECT vec_id, qid FROM knnS
       |    UNION ALL SELECT qid, vec_id FROM knnB
       |    UNION ALL SELECT vec_id, qid FROM knnB)
       |  WHERE src <> $qId AND dst <> $qId),
       |$suffix""".stripMargin
  }

  /** The fixed-geometry entry cells for the serving walks: the cell
    * hash is the FIXED [[EntryPlanes]] geometry, NOT the adaptive band
    * planes — at adaptive widths the cell space is up to 2^30 and
    * every cell a singleton, which would silently disable the warm
    * start at scale. */
  private def entryCells(emb: DataFrame, dim: Int): DataFrame =
    emb.withColumn("cell",
      graft.functions.SignBitLsh.sign_bit_lsh_md5(col("v"), dim,
        EntryPlanes))

  /** Standing ENTRY index for the graph-serving walks: (vec_id, v)
    * DIRECTORY-PARTITIONED by the fixed [[EntryPlanes]]-bit entry cell
    * (the `ensureMipsIndex` layout). Before this artifact existed the
    * serving walks hashed and scanned the WHOLE embeddings relation
    * per query to find the entry point — at 100 TB a full corpus pass
    * per ANN lookup, defeating the memoized graph's purpose. With the
    * partitioned layout the query's `cell = qCell` literal rides
    * PartitionFilters, so the probe opens 1/2^[[EntryPlanes]] of the
    * corpus directories and the serving call touches O(cell + walk)
    * data. Build is one narrow map + the partitioned write, memoized
    * once per corpus beside the graph itself. */
  private[graft] def ensureEntryIndex(spark: SparkSession, dir: String)
      : String =
    graft.core.ParquetMemo.ensurePartitioned(
        s"$dir/embeddings.parquet", s"knnentry_p$EntryPlanes", "v1",
        Seq("cell")) {
      val e0 = Tables.embeddings(spark, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val dim = e0.select(size(col("v"))).head().getInt(0)
      // one output file per cell directory (the Bucketing.scala:28
      // lesson): cluster rows by the partition column before the
      // partitioned write so a 32-task build doesn't emit
      // tasks×cells files
      entryCells(e0, dim).repartition(col("cell"))
    }

  /** The query's entry cell computed DRIVER-SIDE from the portable md5
    * plane matrix — the `mipsIndexedTopK` precedent: same strict
    * left-to-right double fold and `>= 0` sign decision as the
    * SignBitLsh kernel that built the index, so the cell literal is
    * bit-identical to what the Spark expression would produce, without
    * touching the corpus. EntryPlanes·dim doubles: bounded metadata. */
  private[ext] def entryCellOf(qv: Array[Double]): Int = {
    val planes =
      graft.functions.SignBitLsh.md5PlaneMatrix(qv.length, EntryPlanes)
    var cell = 0
    planes.zipWithIndex.foreach { case (plane, p) =>
      var s = 0.0; var i = 0
      while (i < plane.length) { s += qv(i) * plane(i); i += 1 }
      if (s >= 0) cell |= 1 << p
    }
    cell
  }

  /** Entry point for the serving walks: the BEST-COSINE member of the
    * query's entry cell (the IVF probe applied as the HNSW warm
    * start), falling back to the global min id when the cell has no
    * finite-cosine member. The r15 min-id entry started the walk at a
    * RANDOM cell member, and at 10× the fixed hop/round budget could
    * not recover the distance — measured recall@10 collapsed 0.41 →
    * 0.12 (greedy) / 0.50 → 0.09 (beam) from 1× to 10×; the argmax
    * entry puts the walker inside the answer's neighborhood before the
    * first hop at any N. Cost shape: the probe reads ONLY the query's
    * cell directory of the standing [[ensureEntryIndex]] artifact
    * (PartitionFilters — asserted in SimilaritySpec), i.e.
    * corpus/2^[[EntryPlanes]] rows; the min-id fallback scans just the
    * vec_id column and only when the probed cell is empty of
    * finite-cosine members. */
  private def walkEntry(spark: SparkSession, dir: String, qId: Long,
      qCell: Int, qv: Array[Double]): (Long, Array[Double]) = {
    val idx = spark.read.parquet(ensureEntryIndex(spark, dir))
    val qLit = array(qv.map(lit): _*)
    val best = entryProbePlan(idx, qId, qCell, qLit).collect()
    // the probe carries the entry VECTOR alongside the id: the caller's
    // visited map needs cos(entry, q), and fetching the vector here
    // deletes the per-serving-call single-row corpus lookup job the
    // walks used to pay (one fewer driver round-trip per query)
    if (best.nonEmpty) (best(0).getLong(0), best(0).getSeq[Double](1).toArray)
    else {
      // min-id fallback: TakeOrdered over (vec_id, v) — same single job
      // as the old agg(min), now returning the vector too
      val r = idx.filter(col("vec_id") =!= qId)
        .select(col("vec_id"), col("v"))
        .orderBy(col("vec_id")).limit(1).head()
      (r.getLong(0), r.getSeq[Double](1).toArray)
    }
  }

  /** The entry probe's plan, factored out so SimilaritySpec can assert
    * the `cell = qCell` literal lands in PartitionFilters. */
  private[ext] def entryProbePlan(idx: DataFrame, qId: Long, qCell: Int,
      qLit: Column): DataFrame =
    idx.filter(col("vec_id") =!= qId && col("cell") === qCell)
      .select(col("vec_id"), col("v"), cosine(col("v"), qLit).as("cos"))
      .filter(!isnan(col("cos")))
      .orderBy(col("cos").desc, col("vec_id")).limit(1)

  /** Volume-sized probe width for the driver serving walks: the
    * serving graph arrives as its writer's fixed file-split count (16
    * range files + the incremental insert arm), so every sequential
    * probe job scheduled ~17 tasks for ≤ maxBatch·2·graphK result rows
    * — per-probe task count ∝ file count, the r17 serving anti-scale
    * shape. coalesce (no shuffle) merges splits to a width
    * proportional to the graph's row volume (~2·graphK·N rows at
    * graphK = 8; `Width.spread`, capped at the session width); the src
    * IN-list pushdown sits below the coalesce, so row-group pruning is
    * untouched. */
  private def serveCoalesced(spark: SparkSession, dir: String,
      g: DataFrame): DataFrame =
    g.coalesce(Width.spread(16L * Width.rows(spark, dir, "embeddings"),
      Width.sessionWidth(spark)))

  /** The serving walk over an explicit (src, dst, dvec) graph — shared
    * by the full-graph and incremental declared paths. `dir` feeds the
    * standing entry index; the corpus relation itself is touched only
    * for the query/entry vectors (single-row lookups). */
  private def greedyWalkRanked(g: DataFrame, emb: DataFrame, dir: String,
      qId: Long, k: Int, hops: Int): DataFrame = {
    val spark = emb.sparkSession
    val gServe = serveCoalesced(spark, dir, g)
    def vecOf(id: Long): Array[Double] =
      emb.filter(col("vec_id") === id).head().getSeq[Double](1).toArray
    val qv = vecOf(qId)
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cosQ(a: Array[Double]): Double =
      dotA(a, qv) / (math.sqrt(dotA(a, a)) * math.sqrt(dotA(qv, qv)))
    val (entry, entryVec) = walkEntry(spark, dir, qId, entryCellOf(qv), qv)
    val visited = scala.collection.mutable.LinkedHashMap(
      entry -> cosQ(entryVec))
    // Driver-side adjacency cache with batched IN-list prefetch. The
    // walk is sequential, but the ids it can move to next are known the
    // moment a node's neighbor rows arrive — so when a probe job is
    // unavoidable (cur's adjacency unknown), it fetches cur PLUS every
    // pending candidate id in one `src IN (...)` pruned scan. Same rows
    // read through the same src-sorted layout (an IN-list of point
    // lookups, never a full graph pass), identical walk sequence — but
    // ~hops sequential probe jobs collapse to a handful of batched
    // round-trips. At bench scale that deletes most of the per-job
    // scheduling floor (the walk WAS ~32 jobs of ~60 ms each); at
    // deployment scale it is serving latency = network round-trips cut
    // by the same factor. Batch cap 64 sources × 2·graphK rows keeps
    // each collect bounded probe metadata, the IVF probe-side contract.
    val adjCache =
      scala.collection.mutable.Map[Long, Array[(Long, Array[Double])]]()
    val pending = scala.collection.mutable.LinkedHashSet[Long]()
    val maxBatch = 64
    def fetchAdj(need: Long): Unit = {
      // NEWEST pending first: the walk's next moves are the most
      // recently discovered candidates, so once pending outgrows the
      // batch cap an oldest-first prefetch starves exactly the ids the
      // walk is about to visit (measured: ~30 probe jobs for 32 hops —
      // a near-zero hit rate). Recency order keeps the active frontier
      // inside every batch; fetch contents never affect walk choices,
      // so the visited sequence is bit-identical.
      val ids = (Iterator.single(need) ++
        pending.toSeq.reverseIterator.filterNot(adjCache.contains))
        .distinct.take(maxBatch).toSeq
      val bySrc = gServe
        .filter(col("src").isInCollection(ids) && col("dst") =!= qId)
        .collect() // ≤ maxBatch·2·graphK rows: bounded probe metadata
        .groupBy(_.getLong(0))
      ids.foreach { s =>
        adjCache(s) = bySrc.getOrElse(s, Array.empty)
          .map(r => (r.getLong(1), r.getSeq[Double](2).toArray))
        pending -= s
      }
    }
    var cur = entry
    var hop = 0
    var exhausted = false
    while (hop < hops && !exhausted) {
      if (!adjCache.contains(cur)) fetchAdj(cur)
      val cands = adjCache(cur)
        .filter(t => !visited.contains(t._1))
        .map { case (id, v) => (id, cosQ(v)) }
        // zero-norm vectors cosine to NaN, and Scala's total Ordering
        // sorts NaN OPPOSITE to SQL's DESC — drop them here exactly as
        // the oracle's isfinite(cos) filter does (the mmrTopKOver rule)
        .filter(!_._2.isNaN)
      if (cands.isEmpty) exhausted = true
      else {
        cands.foreach { case (id, _) =>
          if (!adjCache.contains(id)) pending += id }
        val (bid, bcos) = cands.minBy { case (id, c) => (-c, id) }
        visited.update(bid, bcos)
        cur = bid
        hop += 1
      }
    }
    import spark.implicits._
    // a NaN-cos entry (zero-norm vector) is walkable state but not an
    // answer: the oracle's score CTE filters isfinite(cos), so it must
    // drop from the ranked surface here too
    visited.toSeq.filter(!_._2.isNaN)
      .sortBy { case (id, c) => (-c, id) }
      .take(k).map(_._1).zipWithIndex
      .map { case (id, i) => (i + 1, id) }
      .toDF("rank", "vec_id")
      .orderBy(col("rank"))
  }

  /** Beam-search over the same standing graph — the HNSW `ef_search`
    * parameter made explicit: each round expands EVERY beam node's
    * neighbors at once and keeps the best `ef` unvisited candidates as
    * the next beam, so one round does the work of `ef` greedy hops in
    * ONE pruned probe. Fewer sequential round-trips (serving latency)
    * AND better recall than the single-walker greedy: the beam can't
    * be trapped by one bad local choice. Beam/visited are sets for
    * expansion purposes — the final answer re-ranks all visited by
    * (cos DESC, vec_id), so intra-beam order never matters, which is
    * what lets the oracle's list() aggregation replay it exactly. */
  def graphBeamSearch(spark: SparkSession, dir: String, qId: Long,
      k: Int, graphK: Int = 8, ef: Int = -1, rounds: Int = -1): DataFrame = {
    val bits = knnBandBitsFor(spark, dir)
    val efN = if (ef < 0) beamEf(bits) else ef
    val roundsN = if (rounds < 0) beamRounds(bits) else rounds
    val g = spark.read.parquet(ensureKnnGraphB(spark, dir, graphK, bits))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    def vecOf(id: Long): Array[Double] =
      emb.filter(col("vec_id") === id).head().getSeq[Double](1).toArray
    val qv = vecOf(qId)
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cosQ(a: Array[Double]): Double =
      dotA(a, qv) / (math.sqrt(dotA(a, a)) * math.sqrt(dotA(qv, qv)))
    // fixed-geometry best-cosine entry cell — see walkEntry/EntryPlanes;
    // the cell is computed driver-side and probed through the standing
    // partitioned entry index, never by scanning the corpus (the probe
    // returns the entry vector too, deleting the single-row lookup job)
    val (entry, entryVec) = walkEntry(spark, dir, qId, entryCellOf(qv), qv)
    val visited = scala.collection.mutable.LinkedHashMap(
      entry -> cosQ(entryVec))
    var beam = Vector(entry)
    var round = 0
    val gServe = serveCoalesced(spark, dir, g)
    while (round < roundsN && beam.nonEmpty) {
      val next = gServe
        .filter(col("src").isInCollection(beam) && col("dst") =!= qId)
        .collect() // ≤ ef·2·graphK rows: bounded probe metadata
        .filter(r => !visited.contains(r.getLong(1)))
        .groupBy(_.getLong(1)).map { case (id, rs) =>
          (id, cosQ(rs.head.getSeq[Double](2).toArray)) }
        .filter(!_._2.isNaN)
        .toSeq.sortBy { case (id, c) => (-c, id) }
        .take(efN)
      next.foreach { case (id, c) => visited.update(id, c) }
      beam = next.map(_._1).toVector
      round += 1
    }
    import spark.implicits._
    visited.toSeq.filter(!_._2.isNaN)
      .sortBy { case (id, c) => (-c, id) }
      .take(k).map(_._1).zipWithIndex
      .map { case (id, i) => (i + 1, id) }
      .toDF("rank", "vec_id")
      .orderBy(col("rank"))
  }

  def graphBeamSearchSql(qId: Long, k: Int, graphK: Int = 8,
      ef: Int = -1, rounds: Int = -1): String = {
    // adaptive budgets mirror beamEf/beamRounds off the geo CTE's b —
    // both engines derive them from the same corpus count
    val efX = if (ef < 0) "(SELECT 8 * b FROM geo)" else ef.toString
    val roundsX = if (rounds < 0) "(SELECT 3 * b FROM geo)" else rounds.toString
    val core = graphGreedySearchSql(qId, k, graphK, hops = 0)
    // reuse the shared build CTEs (planes … entry) and replace the walk
    val prefix = core.substring(0, core.indexOf("walk AS ("))
    s"""${prefix}walk AS (
       |  SELECT 0 AS round, [(SELECT id FROM entry)] AS beam,
       |         [(SELECT id FROM entry)] AS visited
       |  UNION ALL
       |  SELECT w.round + 1, p.nb, list_concat(w.visited, p.nb)
       |  FROM walk w CROSS JOIN LATERAL (
       |    -- ROW_NUMBER + WHERE, not LIMIT: DuckDB rejects a
       |    -- non-constant limit inside a correlated subquery, and the
       |    -- adaptive ef is a scalar subquery over geo
       |    SELECT list(v ORDER BY rn) AS nb FROM (
       |      SELECT v, ROW_NUMBER() OVER (ORDER BY cos DESC, v) AS rn
       |      FROM (
       |        SELECT DISTINCT s.vec_id AS v, s.cos
       |        FROM edges ed JOIN score s ON s.vec_id = ed.dst
       |        WHERE list_contains(w.beam, ed.src)
       |          AND NOT list_contains(w.visited, ed.dst)))
       |    WHERE rn <= $efX) p
       |  WHERE w.round < $roundsX AND len(p.nb) > 0),
       |fin AS (SELECT visited FROM walk ORDER BY round DESC LIMIT 1),
       |vis AS (SELECT unnest(visited) AS vec_id FROM fin)
       |SELECT rank, vec_id FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY s.cos DESC, s.vec_id) AS INT)
       |           AS rank, s.vec_id
       |  FROM vis JOIN score s USING (vec_id))
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  def graphGreedySearchSql(qId: Long, k: Int, graphK: Int = 8,
      hops: Int = 32): String = {
    val hopsX = hops.toString
    // geo.b mirrors knnBandBits: smallest b with 2^b >= ceil(N/250),
    // clamped [2,10] — a pure power-of-two CASE ladder, so both
    // engines agree exactly (no float log2 at the boundaries)
    s"""WITH RECURSIVE geo AS (
       |  SELECT CASE WHEN m <= 4 THEN 2 WHEN m <= 8 THEN 3
       |              WHEN m <= 16 THEN 4 WHEN m <= 32 THEN 5
       |              WHEN m <= 64 THEN 6 WHEN m <= 128 THEN 7
       |              WHEN m <= 256 THEN 8 WHEN m <= 512 THEN 9
       |              ELSE 10 END AS b
       |  FROM (SELECT (COUNT(*) + 249) // 250 AS m FROM embeddings)),
       |planes AS (
       |  SELECT p, list(comp ORDER BY i) AS plane FROM (
       |    SELECT t.p, s.i,
       |      ('0x' || substr(md5(CAST(t.p AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 13))::BIGINT
       |        / 4503599627370496.0 * 2.0 - 1.0 AS comp
       |    FROM range(0, 30) t(p), range(0, 64) s(i))
       |  GROUP BY p),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cellid AS (
       |  SELECT e.vec_id,
       |    CAST(SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
       |             THEN (1 << pl.p) ELSE 0 END) AS INT) AS cell
       |  FROM e, planes pl, geo WHERE pl.p < 3 * geo.b
       |  GROUP BY e.vec_id),
       |ecell AS (
       |  SELECT e.vec_id,
       |    CAST(SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
       |             THEN (1 << pl.p) ELSE 0 END) AS INT) AS cell
       |  FROM e, planes pl WHERE pl.p < 6
       |  GROUP BY e.vec_id),
       |bands AS (
       |  SELECT c.vec_id, t.r AS band,
       |    (c.cell >> (geo.b * t.r)) & ((1 << geo.b) - 1) AS bkey
       |  FROM cellid c, range(0, 3) t(r), geo),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
       |  FROM bands a JOIN bands b USING (band, bkey)
       |  WHERE a.vec_id <> b.vec_id),
       |scored0 AS (
       |  SELECT cand.qid, cand.nid AS vec_id,
       |    list_dot_product(eb.v, ea.v) /
       |      (sqrt(list_dot_product(eb.v, eb.v)) * sqrt(list_dot_product(ea.v, ea.v))) AS cos
       |  FROM cand JOIN e ea ON ea.vec_id = cand.qid
       |  JOIN e eb ON eb.vec_id = cand.nid),
       |knn AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
       |    FROM scored0)
       |  WHERE rnk <= $graphK),
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT qid AS src, vec_id AS dst FROM knn
       |    UNION ALL
       |    SELECT vec_id AS src, qid AS dst FROM knn)
       |  WHERE src <> $qId AND dst <> $qId),
       |qv AS (SELECT v FROM e WHERE vec_id = $qId),
       |score AS (
       |  SELECT * FROM (
       |    SELECT e.vec_id,
       |      list_dot_product(e.v, qv.v) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS cos
       |    FROM e, qv WHERE e.vec_id <> $qId)
       |  WHERE isfinite(cos)),
       |entry AS (
       |  -- best-cosine member of the query's entry cell (score already
       |  -- excludes the query id and non-finite cosines); global min id
       |  -- only when the cell has no finite-cosine member
       |  SELECT COALESCE(
       |    (SELECT s.vec_id FROM score s JOIN ecell c ON c.vec_id = s.vec_id
       |     WHERE c.cell = (SELECT cell FROM ecell WHERE vec_id = $qId)
       |     ORDER BY s.cos DESC, s.vec_id LIMIT 1),
       |    (SELECT MIN(vec_id) FROM e WHERE vec_id <> $qId)) AS id),
       |walk AS (
       |  SELECT 0 AS hop, (SELECT id FROM entry) AS cur,
       |         [(SELECT id FROM entry)] AS visited
       |  UNION ALL
       |  SELECT w.hop + 1, p.nxt, list_append(w.visited, p.nxt)
       |  FROM walk w CROSS JOIN LATERAL (
       |    SELECT s.vec_id AS nxt FROM edges ed
       |    JOIN score s ON s.vec_id = ed.dst
       |    WHERE ed.src = w.cur AND NOT list_contains(w.visited, ed.dst)
       |    ORDER BY s.cos DESC, s.vec_id LIMIT 1) p
       |  WHERE w.hop < $hopsX),
       |fin AS (SELECT visited FROM walk ORDER BY hop DESC LIMIT 1),
       |vis AS (SELECT unnest(visited) AS vec_id FROM fin)
       |SELECT rank, vec_id FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY s.cos DESC, s.vec_id) AS INT)
       |           AS rank, s.vec_id
       |  FROM vis JOIN score s USING (vec_id))
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  private val q: Seq[(String, QueryDef)] = Seq(
    // graph ANN: greedy NSW walk over the standing symmetric kNN
    // graph; the oracle replays the identical walk as a recursive CTE
    "simsearch_graph" -> QueryDef(
      (s: SparkSession, d: String) => graphGreedySearch(s, d, 0L, 10),
      Some(graphGreedySearchSql(0L, 10))),
    // beam variant: ef-wide expansion, one probe per round
    "simsearch_beam" -> QueryDef(
      (s: SparkSession, d: String) => graphBeamSearch(s, d, 0L, 10),
      Some(graphBeamSearchSql(0L, 10))),
    // HNSW-insert maintenance: batch splices into the standing graph
    "simsearch_graph_incremental" -> QueryDef(
      (s: SparkSession, d: String) => graphIncrementalSearch(s, d, 0L, 10),
      Some(graphIncrementalSearchSql(0L, 10))),
    // recall@5 of the blocked batch kNN vs the exhaustive ranking —
    // the tuning harness for the ANN ladder, itself oracle-checked
    "simsearch_recall" -> QueryDef(
      (s: SparkSession, d: String) => annRecall(s, d, everyN = 50L, k = 5),
      Some(annRecallSql(50L, 5))),
    "simsearch_matryoshka" -> QueryDef(
      (s: SparkSession, d: String) => matryoshkaTopK(s, d, 0L, 10, dp = 16, c = 50),
      Some(matryoshkaTopKSql(0L, 10, dp = 16, c = 50))),
    // MMR diversified rerank: greedy relevance-vs-redundancy over the
    // bounded top-c candidate set; oracle replays the loop as a
    // recursive CTE with identical float literals and tie order
    "simsearch_filtered" -> QueryDef(
      (s: SparkSession, d: String) =>
        ivfProbeFilteredRanked(s, d, 0L, 10, nprobe = 2, minVecId = 250L),
      Some(ivfProbeFilteredSql(0L, 10, 2, 250L))),
    "simsearch_mmr" -> QueryDef(
      (s: SparkSession, d: String) => mmrTopK(s, d, 0L, 10, c = 20),
      Some(mmrTopKSql(0L, 10, c = 20))),
    "simsearch_range" -> QueryDef(
      (s: SparkSession, d: String) => rangeSearch(s, d, 0L, 1700000L),
      Some(rangeSearchSql(0L, 1700000L))),
    "simsearch_topk" -> QueryDef(
      (s: SparkSession, d: String) => bruteForceTopK(s, d, 0L, 10), bruteForceTopKSql),
    "simsearch_mips" -> QueryDef(
      (s: SparkSession, d: String) => mipsTopK(s, d, 0L, 10),
      Some(mipsTopKSql(0L, 10))),
    // the indexed MIPS arm: Bachrach augmentation onto the portable
    // md5 sign-bit quantizer, directory-partitioned standing index,
    // Hamming-1 multiprobe, exact IP re-score on probed candidates
    // only — full oracle (the simsearch_lsh replay discipline); recall
    // vs the exact arm pinned in SimilaritySpec
    "simsearch_mips_indexed" -> QueryDef(
      (s: SparkSession, d: String) => mipsIndexedTopK(s, d, 0L, 10),
      Some(mipsIndexedTopKSql(0L, 10))),
    // portable md5-plane quantizer ⇒ full oracle
    "simsearch_lsh" -> QueryDef(
      (s: SparkSession, d: String) => lshTopKPortable(s, d, 0L, 10),
      Some(lshTopKSql)),
    // full oracle: exact quantized-sum centroids make the whole chain
    // (train → assign → probe) ANSI-reproducible. The DECLARED path is
    // still the deployable one — build-once directory-partitioned index
    // + pruned probe; equality with the ad-hoc per-query assignment
    // (`SimilarityTwins.ivfTopK`), recall vs brute force, and the
    // PartitionFilters pruning are pinned in SimilaritySpec on this path
    "simsearch_ivf" -> QueryDef(
      (s: SparkSession, d: String) => ivfProbeRanked(s, d, 0L, 10, nprobe = 2),
      Some(ivfProbeSql)),
    // index MAINTENANCE: new batch assigned to frozen standing
    // centroids, probe serves standing ∪ batch — whole lifecycle in SQL
    "simsearch_ivf_incremental" -> QueryDef(
      (s: SparkSession, d: String) =>
        ivfIncrementalRanked(s, d, 0L, 10, nprobe = 2),
      Some(ivfIncrementalSql(0L, 10, 2, 10L, 7L))),
    // the batch shape: top-k for every 50th vector in ONE pass, cell
    // blocked, full oracle via the md5-portable quantizer
    "knn_join" -> QueryDef(
      (s: SparkSession, d: String) => knnJoin(s, d, everyN = 50L, k = 5),
      Some(knnJoinSql(50L, 5)))
  )

  def queries: Seq[(String, QueryDef)] = q
}
