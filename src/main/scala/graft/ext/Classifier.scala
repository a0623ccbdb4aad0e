package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** In-engine linear-classifier training (batch perceptron) over integer
  * text features — the "train a quality/language filter ON the corpus,
  * then filter WITH it" primitive behind fastText-style CommonCrawl
  * curation, here as a first-class relational op. [EXT] SURVEY §2.11.
  *
  * All-integer training (the kmeans/PageRank discipline): features are
  * exact integer counts, labels ±1, the batch-perceptron update is
  *   w ← w + Σ_{yᵢ·⟨w,xᵢ⟩ ≤ 0} yᵢ·xᵢ
  * — an integer vector sum, order-independent — so every epoch is
  * bit-identical at any parallelism and the whole training run (and
  * its per-epoch error counts) replays in an unrolled-CTE oracle. No
  * learning rate: the perceptron update is scale-free, and integer
  * weights never drift.
  *
  * Scale shape per epoch: ONE aggregate over the feature relation
  * (margin test + conditional component sums fold into a single
  * partial-aggregated reduce); weights are a handful of driver-side
  * integers folded back in as literals — bounded metadata, the same
  * contract as kmeans centroids. Feature extraction is a narrow map,
  * computed once and persisted.
  */
object Classifier {

  /** Integer features from the document text: bias, token count,
    * char-length div 16, 'e'-occurrence count (a crude but portable
    * English signal); label +1 iff lang = 'en'. */
  def features(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      lit(1L).as("x0"),
      size(Dedup.tokens(col("text"))).cast("long").as("x1"),
      expr("length(text) div 16").as("x2"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "e", ""))).cast("long").as("x3"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"))

  private val Dim = 4

  /** `epochs` batch-perceptron rounds from w = 0. Output: one row per
    * epoch — the error count under the INCOMING weights plus the
    * updated weight vector, the training run's full fingerprint. */
  def trainPerceptron(feats: DataFrame, epochs: Int): DataFrame = {
    import feats.sparkSession.implicits._
    val f = feats.persist()
    val xs = (0 until Dim).map(i => col(s"x$i"))
    var w = Array.fill(Dim)(0L)
    val rows = (1 to epochs).map { epoch =>
      val margin = xs.zip(w).map { case (x, wi) => x * lit(wi) }
        .reduce(_ + _) * col("y")
      val mis = when(margin <= 0, 1L).otherwise(0L)
      val agg = f.agg(
        sum(mis).as("errs"),
        xs.map(x => sum(when(margin <= 0, col("y") * x).otherwise(0L))): _*)
        .head()
      val errs = agg.getLong(0)
      w = w.indices.map(i => w(i) + agg.getLong(i + 1)).toArray
      (epoch, errs, w(0), w(1), w(2), w(3))
    }
    // every epoch's action has run and `rows` is local — release the
    // cached features now so repeated training runs in one session
    // don't accumulate dead cache in executor memory
    f.unpersist()
    rows.toDF("epoch", "n_errors", "w0", "w1", "w2", "w3")
      .orderBy(col("epoch"))
  }

  def trainPerceptronSql(epochs: Int): String = {
    val feat =
      """f AS (
        |  SELECT doc_id,
        |    CAST(1 AS BIGINT) AS x0,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS x1,
        |    length(text) // 16 AS x2,
        |    CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS x3,
        |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
        |  FROM documents)""".stripMargin
    // w0 = zero vector; epoch CTEs chain: eN computes errors + updated
    // weights under w(N-1)
    val epochCtes = (1 to epochs).map { n =>
      s"""e$n AS (
         |  SELECT CAST($n AS INT) AS epoch,
         |    CAST(SUM(CASE WHEN m <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         |    CAST((SELECT w0 FROM w${n - 1}) + SUM(CASE WHEN m <= 0 THEN y * x0 ELSE 0 END) AS BIGINT) AS w0,
         |    CAST((SELECT w1 FROM w${n - 1}) + SUM(CASE WHEN m <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS w1,
         |    CAST((SELECT w2 FROM w${n - 1}) + SUM(CASE WHEN m <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS w2,
         |    CAST((SELECT w3 FROM w${n - 1}) + SUM(CASE WHEN m <= 0 THEN y * x3 ELSE 0 END) AS BIGINT) AS w3
         |  FROM (
         |    SELECT f.*, y * (x0 * (SELECT w0 FROM w${n - 1})
         |                   + x1 * (SELECT w1 FROM w${n - 1})
         |                   + x2 * (SELECT w2 FROM w${n - 1})
         |                   + x3 * (SELECT w3 FROM w${n - 1})) AS m
         |    FROM f)),
         |w$n AS (SELECT w0, w1, w2, w3 FROM e$n)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to epochs)
      .map(n => s"SELECT epoch, n_errors, w0, w1, w2, w3 FROM e$n")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $feat,
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
       |$epochCtes
       |SELECT * FROM (
       |  $unions)
       |ORDER BY epoch""".stripMargin
  }

  /** The APPLY side of the loop: score every document with the trained
    * weights (one narrow map — the weights are literals by the time the
    * filter runs, exactly how a deployed quality filter ships) and
    * report per-source keep rates — the dataset-curation dashboard
    * number. */
  def applyFilter(docs: DataFrame, epochs: Int): DataFrame = {
    val f = features(docs)
    val finalW = trainPerceptron(f, epochs)
      .orderBy(col("epoch").desc).limit(1)
      .select("w0", "w1", "w2", "w3").head()
    val w = (0 until Dim).map(finalW.getLong)
    val score = (0 until Dim).map(i => col(s"x$i") * lit(w(i))).reduce(_ + _)
    f.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), when(score > 0, 1L).otherwise(0L).as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"),
        (sum(col("keep")).cast("double") / count(lit(1))).as("keep_rate"))
      .orderBy(col("source"))
  }

  def applyFilterSql(epochs: Int): String = {
    val train = trainPerceptronSql(epochs)
    val ctes = train.substring(0, train.indexOf("SELECT * FROM (")).trim
    s"""$ctes,
       |scored AS (
       |  SELECT d.source,
       |    CASE WHEN f.x0 * (SELECT w0 FROM w$epochs)
       |       + f.x1 * (SELECT w1 FROM w$epochs)
       |       + f.x2 * (SELECT w2 FROM w$epochs)
       |       + f.x3 * (SELECT w3 FROM w$epochs) > 0 THEN 1 ELSE 0 END AS keep
       |  FROM f JOIN documents d ON d.doc_id = f.doc_id)
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(keep) AS BIGINT) AS n_keep,
       |       CAST(CAST(SUM(keep) AS VARCHAR) AS DOUBLE) / COUNT(*) AS keep_rate
       |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  /** Exact ROC AUC of the trained scorer — the evaluation half of the
    * filter loop: how well does ⟨w, x⟩ RANK English over non-English,
    * threshold-free? AUC is the Mann–Whitney statistic
    *   AUC = (Σ_{i:pos} avgrank(sᵢ) − n₊(n₊+1)/2) / (n₊·n₋)
    * with average ranks over score ties. All-integer: doubled average
    * rank r2(s) = 2·cntLess(s) + cntEq(s) + 1 keeps tie midpoints
    * exact, and the result surfaces as floor basis points
    *   auc_bp = ⌊10000·(Σ r2 − n₊(n₊+1)) / (2·n₊·n₋)⌋
    * — one IEEE-free division, hash-comparable across engines.
    *
    * Scale shape (NO global rank window — the fat-key trap): scores
    * aggregate to a score-frequency relation (distinct integer scores,
    * vocabulary-bounded), the exclusive running count is a window over
    * THAT bounded relation, and Σ r2 folds in the same pass. The wide
    * relation is touched exactly once, by the frequency groupBy. */
  def aucReport(docs: DataFrame, epochs: Int): DataFrame = {
    val f = features(docs)
    val finalW = trainPerceptron(f, epochs)
      .orderBy(col("epoch").desc).limit(1)
      .select("w0", "w1", "w2", "w3").head()
    val w = (0 until Dim).map(finalW.getLong)
    val score = (0 until Dim).map(i => col(s"x$i") * lit(w(i))).reduce(_ + _)
    aucOf(f.select(score.as("s"),
      when(col("y") === 1, 1L).otherwise(0L).as("pos")))
  }

  /** Tie-aware exact AUC of a (s: score, pos: 0/1 label) relation —
    * the rank kernel `aucReport` wires behind the trained weights. */
  def aucOf(scored: DataFrame): DataFrame = {
    val freq = scored
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
    val cum = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    freq
      .withColumn("less", coalesce(sum(col("n")).over(cum), lit(0L)))
      .agg(
        sum(col("npos")).as("n_pos"),
        sum(col("n") - col("npos")).as("n_neg"),
        sum(col("npos") * (lit(2) * col("less") + col("n") + lit(1)))
          .as("sum_r2"))
      // integer `div`, not IEEE `/` + cast — the quotient must be the
      // exact floor both engines agree on
      .select(col("n_pos"), col("n_neg"),
        expr("(10000 * (sum_r2 - n_pos * (n_pos + 1)))" +
          " div (2 * n_pos * n_neg)").as("auc_bp"))
  }

  def aucReportSql(epochs: Int): String = {
    val train = trainPerceptronSql(epochs)
    val ctes = train.substring(0, train.indexOf("SELECT * FROM (")).trim
    s"""$ctes,
       |scored AS (
       |  SELECT f.x0 * (SELECT w0 FROM w$epochs)
       |       + f.x1 * (SELECT w1 FROM w$epochs)
       |       + f.x2 * (SELECT w2 FROM w$epochs)
       |       + f.x3 * (SELECT w3 FROM w$epochs) AS s,
       |    CASE WHEN f.y = 1 THEN 1 ELSE 0 END AS pos
       |  FROM f),
       |freq AS (
       |  SELECT s, COUNT(*) AS n, SUM(pos) AS npos
       |  FROM scored GROUP BY s),
       |cum AS (
       |  SELECT s, n, npos,
       |    COALESCE(SUM(n) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
       |  FROM freq)
       |SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
       |       CAST(SUM(n - npos) AS BIGINT) AS n_neg,
       |       CAST((10000 * (SUM(npos * (2 * less + n + 1))
       |              - SUM(npos) * (SUM(npos) + 1)))
       |            // (2 * SUM(npos) * SUM(n - npos)) AS BIGINT) AS auc_bp
       |FROM cum""".stripMargin
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009) —
    * the featurizer that scales where a learned vocabulary cannot:
    * token → md5-derived bucket in [0, dim) with an md5-derived ±1
    * sign, per-(doc, bucket) signed counts, zero-weight buckets
    * dropped. Sparse relational form (doc_id, bucket, weight) — the
    * layout a distributed trainer consumes directly, and the md5
    * derivation keeps the whole featurization ANSI-reproducible.
    *
    * Scale shape: narrow token explode → one (doc, bucket)-keyed
    * partial agg. No vocabulary table at all — that is the point of
    * the trick: memory is O(dim) per model regardless of corpus
    * vocabulary, collisions are the accepted noise (signed hashing
    * keeps their expectation zero). */
  def hashFeatures(docs: DataFrame, dim: Int = 64): DataFrame =
    docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % dim)
          .as("bucket"),
        when(conv(substring(md5(col("w")), 9, 1), 16, 10).cast("long") % 2
          === 0, 1L).otherwise(-1L).as("s"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("s")).as("weight"))
      .filter(col("weight") =!= 0)
      .orderBy(col("doc_id"), col("bucket"))

  def hashFeaturesSql(dim: Int = 64): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |           x -> x <> '')) AS w
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(w), 1, 8))::BIGINT % $dim AS bucket,
       |         CASE WHEN ('0x' || substr(md5(w), 9, 1))::BIGINT % 2 = 0
       |              THEN 1 ELSE -1 END AS s
       |  FROM tok)
       |SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS weight
       |FROM h GROUP BY doc_id, bucket
       |HAVING SUM(s) <> 0
       |ORDER BY doc_id, bucket""".stripMargin

  def queries: Seq[(String, QueryDef)] = Seq(
    "text_hashfeatures" -> QueryDef(
      (s, d) => hashFeatures(Tables.documents(s, d)),
      hashFeaturesSql()),
    "train_perceptron" -> QueryDef(
      (s, d) => trainPerceptron(features(Tables.documents(s, d)), 3),
      trainPerceptronSql(3)),
    "classify_quality" -> QueryDef(
      (s, d) => applyFilter(Tables.documents(s, d), 3),
      applyFilterSql(3)),
    "classify_auc" -> QueryDef(
      (s, d) => aucReport(Tables.documents(s, d), 3),
      aucReportSql(3)))
}
