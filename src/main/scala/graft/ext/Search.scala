package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** Text retrieval over the document corpus: ranked keyword search on an
  * inverted-index shape, and phrase search as a zero-shuffle positional
  * scan. The reference engine has no retrieval surface; these are [EXT]
  * operators a training-data pipeline needs constantly (e.g. "find every
  * document mentioning X" during dataset audits, eval-leak forensics,
  * targeted subset extraction).
  *
  * Scale shape, in order of operations:
  *   - The term filter lands immediately after the token explode, BEFORE
  *     any aggregation — at 100 TB the per-task stream reduces to
  *     postings for the query terms only, so the single shuffle carries
  *     O(matching tokens), not O(corpus tokens).
  *   - Document frequencies are a per-term aggregate of that same tiny
  *     postings relation (|terms| rows); the join back is a broadcast by
  *     construction.
  *   - Scoring is integer-exact: tf × (N − df) — a tf-idf-shaped rarity
  *     weight with no log()/float in the rank key, so ordering is
  *     bit-identical across engines and partitionings (libm last bits
  *     are not a portable surface; see TextOps.text_commonness).
  */
object Search {

  /** Conjunctive ranked retrieval: documents containing ALL query terms,
    * ranked by Σ_t tf(d,t) · (N − df(t)) descending. The posting-list
    * build (explode → filter → per-(doc,term) tf) is the inverted-index
    * access path; `df` and `N` are the index statistics a real engine
    * keeps in its dictionary. */
  def rankedSearch(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs")) // 1 row → broadcast
    val postings = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(terms: _*)) // pushdown: postings fetch
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dict = postings
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df")) // |terms| rows
    postings
      .join(dict, Seq("token")) // broadcast: dict is |terms| rows
      .crossJoin(nDocs)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("n_terms"),
        sum(col("tf") * (col("n_docs") - col("df"))).as("score"))
      .filter(col("n_terms") === terms.size) // conjunctive (AND) semantics
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def rankedSearchSql(terms: Seq[String], k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH p AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents)
       |  WHERE token IN ($inList)
       |  GROUP BY doc_id, token),
       |f AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY token),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, CAST(SUM(tf * (n_docs - df)) AS BIGINT) AS score
       |FROM p JOIN f USING (token) CROSS JOIN n
       |GROUP BY doc_id
       |HAVING COUNT(DISTINCT token) = ${terms.size}
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** Phrase search ("w1 w2" adjacent): counted per document with an
    * array scan over the token positions — a pure narrow map, zero
    * exchanges before the final top-level sort. The positional-
    * inverted-index formulation (posexplode + self-join on pos+1) is
    * the general multi-phrase shape, but for a known phrase the
    * in-row scan does the same work with no shuffle at all — at 100 TB
    * that is the difference between a map-only pass and shuffling a
    * positional index of the whole corpus. */
  def phraseSearch(docs: DataFrame, w1: String, w2: String): DataFrame = {
    // Dedup.bind: evaluate split() ONCE per row — interpreted HOFs
    // re-evaluate their argument subtree per element and per reference,
    // so an unbound token array makes this O(tokens²) per document
    val hits = Dedup.bind(split(col("text"), " ")) { toks =>
      // guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0] (step
      // defaults to -1 when start > stop), and element_at(toks, 0)
      // throws — single-token docs must short-circuit to 0
      when(size(toks) < 2, lit(0)).otherwise(
        size(filter(sequence(lit(1), size(toks) - 1), i =>
          element_at(toks, i) === w1 && element_at(toks, i + 1) === w2)))
    }
    docs
      .select(col("doc_id"), hits.as("phrase_hits"))
      .filter(col("phrase_hits") > 0)
      .orderBy(col("phrase_hits").desc, col("doc_id"))
  }

  def phraseSearchSql(w1: String, w2: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN len(toks) < 2 THEN 0 ELSE
       |      len(list_filter(range(1, len(toks)),
       |        i -> toks[i] = '$w1' AND toks[i+1] = '$w2'))
       |    END AS INT) AS phrase_hits
       |  FROM t)
       |SELECT doc_id, phrase_hits FROM h WHERE phrase_hits > 0
       |ORDER BY phrase_hits DESC, doc_id""".stripMargin

  /** n-term phrase search — the positional-inverted-index formulation
    * SURVEY §2.11 L6b documents as the multi-phrase generalization,
    * shipped: posexplode the token stream, keep ONLY postings of the
    * phrase's terms (the pushdown that makes the one shuffle carry
    * O(matching tokens), not O(corpus tokens), at 100 TB), broadcast-
    * join each posting to its phrase offset(s), and group by
    * (doc_id, pos − offset) — a start position that collects all n
    * DISTINCT offsets is one phrase occurrence. The classic n-way
    * positional self-join collapses into a single aggregation, so
    * phrase length adds zero extra exchanges; a term repeated inside
    * the phrase ("a b a") just fans its postings to both offsets.
    * Overlapping occurrences count, matching the 2-term in-row scan
    * (pinned ≡ `phraseSearch` for n = 2 in SearchSketchSpec). */
  def phraseSearchN(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "phrase needs at least 2 terms")
    val spark = docs.sparkSession
    import spark.implicits._
    val probe = terms.zipWithIndex.toDF("token", "off") // n rows
    val postings = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("token").isin(terms.distinct: _*))
    postings
      .join(broadcast(probe), Seq("token"))
      .groupBy(col("doc_id"), (col("pos") - col("off")).as("start"))
      .agg(countDistinct(col("off")).as("matched"))
      .filter(col("matched") === terms.size)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("phrase_hits"))
      .orderBy(col("phrase_hits").desc, col("doc_id"))
  }

  def phraseSearchNSql(terms: Seq[String]): String = {
    val n = terms.size
    val conds = terms.zipWithIndex
      .map { case (t, j) => s"toks[i+$j] = '$t'" }.mkString(" AND ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN len(toks) < $n THEN 0 ELSE
       |      len(list_filter(range(1, len(toks) - ${n - 2}),
       |        i -> $conds))
       |    END AS INT) AS phrase_hits
       |  FROM t)
       |SELECT doc_id, phrase_hits FROM h WHERE phrase_hits > 0
       |ORDER BY phrase_hits DESC, doc_id""".stripMargin
  }

  // ------------------------------------------------ inverted index

  /** Token-hash bucket count for the persisted index layout. At corpus
    * scale this is the number of prunable directory partitions; a
    * term's postings live in exactly one. */
  val IndexBuckets = 64

  /** Bump when the index layout/semantics change — memoized indexes of
    * older builds are then rebuilt, not reused (same contract as
    * Similarity.IndexAlgoVersion). */
  private val IndexAlgoVersion = "ti2" // ti2: + lens relation (BM25 probe)

  private def bucketOf(token: Column): Column =
    pmod(xxhash64(token), lit(IndexBuckets.toLong)).cast("int")

  /** Offline index build: postings (token, doc_id, tf) + dictionary
    * (token, df) both written partitioned by the token-hash bucket, and
    * the corpus size as 1-row stats — the three relations a query-time
    * probe needs, each reachable with a `bucket IN (...)` directory
    * prune. The heavy explode happens HERE, once per corpus; queries
    * never re-tokenize the corpus (at 100 TB: the difference between a
    * per-query full-corpus pass and opening |terms| directories). */
  /** (token, doc_id, tf, bucket) postings of a document set — the
    * relation both the full build and the incremental merge produce. */
  private def postingsOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    .filter(col("token") =!= "")
    .groupBy(col("token"), col("doc_id"))
    .agg(count(lit(1)).as("tf"))
    .withColumn("bucket", bucketOf(col("token")))

  def buildTextIndex(docs: DataFrame, path: String): Unit = {
    val postings = postingsOf(docs)
    postings.write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/postings")
    postings
      .groupBy(col("bucket"), col("token"))
      .agg(count(lit(1)).as("df"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/dict")
    // per-doc lengths: what a length-normalizing ranker (BM25) needs at
    // probe time without re-tokenizing the corpus; |docs| rows of two
    // integers, appended (never rewritten) by the incremental merge
    docs.select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("len"))
      .write.mode("overwrite").parquet(s"$path/lens")
    docs.agg(count(lit(1)).as("n_docs"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Incremental index maintenance — the `dedup_incremental` asymmetry
    * applied to the inverted index: merge a NEW batch's postings into a
    * standing index by rewriting ONLY the token-hash buckets the batch
    * touches, never rebuilding (or even reading) the rest. Work is
    * O(batch + touched-bucket postings); at 100 TB with a daily-drop
    * batch that is the difference between re-tokenizing the corpus and
    * opening a handful of directories. Batch doc_ids are expected new
    * (append-only ingest — the incremental-dedup contract upstream of
    * this merge guarantees it); a re-ingested (token, doc_id) would sum
    * its tf rather than duplicate the row.
    *
    * In-place safety: the merged relations are eagerly materialized
    * (localCheckpoint) BEFORE the dynamic-partition overwrite — Spark
    * reads lazily, so overwriting an input directory mid-plan would
    * otherwise delete the old postings before they were read. */
  def mergeIntoTextIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame): Unit = {
    val bp = postingsOf(batch).localCheckpoint(true)
    // bounded driver list: at most IndexBuckets (64) values
    val touched = bp.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val oldPostings = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(touched.map(Integer.valueOf).toSeq: _*))
    val merged = oldPostings.unionByName(bp)
      .groupBy(col("token"), col("doc_id"), col("bucket"))
      .agg(sum(col("tf")).as("tf"))
      .select(col("token"), col("doc_id"), col("tf"), col("bucket"))
      .localCheckpoint(true)
    val mergedDict = merged
      .groupBy(col("bucket"), col("token"))
      .agg(count(lit(1)).as("df"))
      .localCheckpoint(true)
    val newDocs = batch.agg(countDistinct(col("doc_id")).as("b")).head.getLong(0)
    val nDocs = spark.read.parquet(s"$path/stats").head.getLong(0) + newDocs
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      merged.write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$path/postings")
      mergedDict.write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$path/dict")
    } finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // batch docs are NEW by contract → their lengths APPEND; no standing
    // lens row is ever touched, so no read-before-overwrite hazard here
    batch.select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("len"))
      .write.mode("append").parquet(s"$path/lens")
    import spark.implicits._
    Seq(nDocs).toDF("n_docs")
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** The declared-query artifact, built once per corpus snapshot
    * through the standing-state store (`ParquetMemo.ensureWith`: the
    * fingerprint, the `_SUCCESS` receipt and publish-by-rename live
    * there). It is produced through the MAINTENANCE path — a base build
    * over ~90% of the corpus, then the remaining documents merged in as
    * a batch (bucket-granular, `mergeIntoTextIndex`) before
    * publication. Equal by construction to a full rebuild (pinned
    * relation-for-relation in SearchSketchSpec), so the scan-time
    * oracle still gates the probe — while the declared surface
    * exercises the path a standing 100 TB index actually lives by:
    * nobody re-tokenizes a corpus per daily drop. */
  def ensureTextIndexIncremental(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.core.ParquetMemo.ensureWith(s"$dir/documents.parquet", "textinc",
        IndexAlgoVersion + "-inc") { staging =>
      val docs = Tables.documents(spark, dir)
      buildTextIndex(docs.filter(col("doc_id") % 10 =!= 0), staging)
      mergeIntoTextIndex(spark, staging, docs.filter(col("doc_id") % 10 === 0))
    }

  /** Query-time probe of a prebuilt index: identical semantics (and
    * declared oracle) to `rankedSearch`, but the corpus-sized work is
    * replaced by bucket-pruned postings reads — the `bucket IN`
    * literals land as PartitionFilters (plan-asserted in
    * SearchSketchSpec), so only the query terms' directories open. */
  def rankedSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int): DataFrame = {
    val buckets = terms
      .map(t => math.floorMod(graft.functions.XxHash.forString(t),
        IndexBuckets.toLong).toInt)
      .distinct
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
    val dict = spark.read.parquet(s"$path/dict")
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
      .select(col("token"), col("df"))
    val nDocs = spark.read.parquet(s"$path/stats")
    postings
      .join(dict, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("n_terms"),
        sum(col("tf") * (col("n_docs") - col("df"))).as("score"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones), disjunctive —
    * the industry-standard ranking, in EXACT integer arithmetic. With
    * k1 = 6/5 and b = 3/4, multiplying the classic term score
    *   tf·(k1+1) / (tf + k1·(1−b + b·len/avgdl))
    * through by 10·T (T = corpus token total, avgdl = T/D) gives the
    * integer rational
    *   22·T·tf / (10·T·tf + 3·T + 9·len·D)
    * — numerator and denominator both exact BIGINTs. The IDF factor is
    * the engine's monotone rarity weight (D·1000 div df, the
    * `text_keywords` surrogate that ranks identically to log-idf at
    * fixed tf), folded into the numerator BEFORE the one fixed-point
    * division (×100), so every term score is a single exact integer
    * division — bit-identical cross-engine, no libm.
    *
    * Scale shape: identical to `rankedSearch` — postings explode with
    * the term filter pushed into it, |terms|-row dictionary and 1-row
    * stats both broadcast; the extra `len` join is doc-keyed and
    * partial-aggregable. */
  def bm25Search(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val lens = docs.select(col("doc_id"),
      size(Dedup.tokens(col("text"))).cast("long").as("len"))
    val stats = lens.agg(count(lit(1)).as("d"), sum(col("len")).as("t"))
    val postings = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dict = postings.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    postings
      .join(dict, Seq("token"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        """(((d * 1000) div df) * 22 * t * tf * 100)
          |  div (10 * t * tf + 3 * t + 9 * len * d)""".stripMargin).as("s_fp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
  }

  def bm25SearchSql(terms: Seq[String], k: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH lens AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS len
       |  FROM documents),
       |stats AS (SELECT COUNT(*) AS d, SUM(len) AS t FROM lens),
       |p AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents)
       |  WHERE token IN ($inList)
       |  GROUP BY doc_id, token),
       |f AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY token),
       |s AS (
       |  SELECT p.doc_id,
       |    (((stats.d * 1000) // f.df) * 22 * stats.t * p.tf * 100)
       |      // (10 * stats.t * p.tf + 3 * stats.t + 9 * lens.len * stats.d)
       |      AS s_fp
       |  FROM p JOIN f USING (token) JOIN lens USING (doc_id)
       |  CROSS JOIN stats)
       |SELECT doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp
       |FROM s GROUP BY doc_id
       |ORDER BY score_fp DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** BM25 over the standing index — `bm25Search`'s exact scoring fed
    * from the prebuilt artifact: postings + dictionary reached through
    * the `bucket IN (...)` directory prune, per-doc lengths from the
    * index's `lens` relation (appended, never rewritten, by the
    * incremental merge), corpus totals from lens/stats. Identical
    * results to the scan-time ranker by construction — same oracle,
    * different physical plan (the `text_search_indexed` contract). */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int): DataFrame = {
    val buckets = terms
      .map(t => math.floorMod(graft.functions.XxHash.forString(t),
        IndexBuckets.toLong).toInt)
      .distinct
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
    val dict = spark.read.parquet(s"$path/dict")
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
      .select(col("token"), col("df"))
    val lens = spark.read.parquet(s"$path/lens")
    val stats = spark.read.parquet(s"$path/stats")
      .crossJoin(lens.agg(sum(col("len")).as("t")))
      .select(col("n_docs").as("d"), col("t"))
    postings
      .join(dict, Seq("token"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        """(((d * 1000) div df) * 22 * t * tf * 100)
          |  div (10 * t * tf + 3 * t + 9 * len * d)""".stripMargin).as("s_fp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval with Reciprocal Rank Fusion (Cormack/Clarke/
    * Büttcher 2009) — the modern RAG serving shape: a lexical arm
    * (exact-integer BM25 top-kArm) and a vector arm (cosine top-kArm
    * for the query document's embedding; doc_id ≡ vec_id in the
    * fixture) fused by rank alone. RRF's whole point is that ranks,
    * not scores, combine — which also makes it the hash-gateable
    * fusion: each contribution is the exact integer `10^9 div
    * (60 + rank)`, so the fused ordering never touches a float.
    * Documents in one arm only keep their single contribution (the
    * standard RRF treatment), surfaced with rank 0 on the missing arm.
    *
    * Scale shape: each arm is its own already-declared top-k plan
    * (bounded output), fusion joins two ≤ kArm-row relations — a
    * driver-scale final step no matter the corpus size; the 1-row
    * window ranking the lexical arm runs on kArm rows, not data. */
  def hybridRrf(spark: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String], qId: Long, kArm: Int, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_fp").desc, col("doc_id"))
    val lex = bm25Search(Tables.documents(spark, dir), terms, kArm)
      .withColumn("lex_rank", row_number().over(w))
      .select(col("doc_id"), col("lex_rank"))
    val vec = Similarity.bruteForceTopK(spark, dir, qId, kArm)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("lex_rank", coalesce(col("lex_rank"), lit(0)))
      .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0)))
      .select(col("doc_id"),
        (when(col("lex_rank") > 0, expr("1000000000 div (60 + lex_rank)"))
          .otherwise(lit(0L)) +
         when(col("vec_rank") > 0, expr("1000000000 div (60 + vec_rank)"))
          .otherwise(lit(0L))).cast("long").as("rrf_fp"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("rrf_fp").desc, col("doc_id"))
      .limit(k)
  }

  def hybridRrfSql(terms: Seq[String], qId: Long, kArm: Int, k: Int): String =
    s"""WITH lex AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS INT)
       |      AS lex_rank
       |  FROM (${bm25SearchSql(terms, kArm).replace("\n", "\n   ")})),
       |vecarm AS (
       |  SELECT neighbor_id AS doc_id, rank AS vec_rank
       |  FROM (${Similarity.bruteForceTopKSql.replace("LIMIT 10", s"LIMIT $kArm")
                  .replace("\n", "\n   ")})),
       |fused AS (
       |  SELECT COALESCE(lex.doc_id, vecarm.doc_id) AS doc_id,
       |    COALESCE(lex.lex_rank, 0) AS lex_rank,
       |    COALESCE(vecarm.vec_rank, 0) AS vec_rank
       |  FROM lex FULL OUTER JOIN vecarm ON lex.doc_id = vecarm.doc_id)
       |SELECT doc_id,
       |  CAST((CASE WHEN lex_rank > 0 THEN 1000000000 // (60 + lex_rank) ELSE 0 END)
       |     + (CASE WHEN vec_rank > 0 THEN 1000000000 // (60 + vec_rank) ELSE 0 END)
       |    AS BIGINT) AS rrf_fp,
       |  lex_rank, vec_rank
       |FROM fused
       |ORDER BY rrf_fp DESC, doc_id
       |LIMIT $k""".stripMargin

  /** KWIC (keyword-in-context) snippet extraction: for every document
    * matching a term, surface the first hit position and a fixed-width
    * context window around it — the result-page presentation step after
    * ranking. Pure per-row string kernels (instr + clamped substring,
    * codegen'd, no shuffle before the top-k), so the operator is
    * embarrassingly parallel; the TakeOrdered cut is on (pos, doc_id) —
    * earliest, lowest-id hits first, a total order. */
  def kwicSnippets(docs: DataFrame, term: String, width: Int,
      k: Int): DataFrame = {
    val winLen = 2 * width + term.length
    docs
      .select(col("doc_id"), col("text"))
      .withColumn("pos", instr(col("text"), term))
      .filter(col("pos") > 0)
      .withColumn("snippet",
        expr(s"substring(text, greatest(1, pos - $width), $winLen)"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("snippet"))
      .orderBy(col("pos"), col("doc_id"))
      .limit(k)
  }

  def kwicSnippetsSql(term: String, width: Int, k: Int): String = {
    val winLen = 2 * width + term.length
    s"""SELECT doc_id, CAST(strpos(text, '$term') AS BIGINT) AS pos,
       |  substr(text, greatest(1, strpos(text, '$term') - $width), $winLen)
       |    AS snippet
       |FROM documents
       |WHERE strpos(text, '$term') > 0
       |ORDER BY pos, doc_id
       |LIMIT $k""".stripMargin
  }

  private val q: Seq[(String, QueryDef)] = Seq(
    "search_snippet" -> QueryDef(
      (s, d) => kwicSnippets(Tables.documents(s, d), "vector", 30, 20),
      kwicSnippetsSql("vector", 30, 20)),
    "search_hybrid_rrf" -> QueryDef(
      (s, d) => hybridRrf(s, d, Seq("vector", "hash", "join"),
        qId = 0L, kArm = 25, k = 15),
      hybridRrfSql(Seq("vector", "hash", "join"), qId = 0L, kArm = 25, k = 15)),
    "text_bm25_indexed" -> QueryDef(
      (s, d) => bm25SearchIndexed(s, ensureTextIndexIncremental(s, d),
        Seq("vector", "hash", "join"), 20),
      bm25SearchSql(Seq("vector", "hash", "join"), 20)),
    "text_search_bm25" -> QueryDef(
      (s, d) => bm25Search(Tables.documents(s, d),
        Seq("vector", "hash", "join"), 20),
      bm25SearchSql(Seq("vector", "hash", "join"), 20)),
    "text_search" -> QueryDef(
      (s, d) => rankedSearch(Tables.documents(s, d),
        Seq("vector", "hash", "join"), 20),
      rankedSearchSql(Seq("vector", "hash", "join"), 20)),

    "text_phrase_search" -> QueryDef(
      (s, d) => phraseSearch(Tables.documents(s, d), "hash", "join"),
      phraseSearchSql("hash", "join")),

    // 3-term phrase through the positional-index path (the n-term
    // generalization a real user hits first; terms chosen to occur in
    // the fixture so the oracle compare bites on actual rows)
    "text_phrase3" -> QueryDef(
      (s, d) => phraseSearchN(Tables.documents(s, d),
        Seq("slow", "hash", "batch")),
      phraseSearchNSql(Seq("slow", "hash", "batch"))),

    // the indexed probe must return EXACTLY what the scan-time ranker
    // returns — same oracle, different physical plan (offline index +
    // directory pruning instead of a corpus pass). The artifact is the
    // INCREMENTALLY-maintained one: base build + batch merge, equal to
    // a full rebuild by construction (SearchSketchSpec pins it)
    "text_search_indexed" -> QueryDef(
      (s, d) => rankedSearchIndexed(s, ensureTextIndexIncremental(s, d),
        Seq("vector", "hash", "join"), 20),
      rankedSearchSql(Seq("vector", "hash", "join"), 20))
  )

  // ----------------------------------------------- spelling suggestion

  /** All distinct single-deletion variants of a word, plus the word
    * itself — the SymSpell neighborhood key. */
  private def delVariants(w: Column): Column =
    array_distinct(concat(array(w),
      transform(sequence(lit(1), length(w)),
        i => concat(w.substr(lit(1), i - 1), w.substr(i + 1, length(w))))))

  /** SymSpell-style spelling suggestion (Garbe's symmetric-delete
    * algorithm): instead of scanning the vocabulary per query with an
    * edit-distance UDF (O(\|vocab\|·\|queries\|) — the shape that dies
    * first at scale), BOTH sides expand to their single-deletion
    * neighborhoods and candidates meet on an EQUI key: any pair within
    * Levenshtein 1 provably shares a variant (identity, or the shorter
    * side = a deletion of the longer). Shared-variant candidates are
    * then verified with the exact `levenshtein` built-in (same
    * definition both engines) and the winner per query term is the
    * (distance ASC, frequency DESC, word ASC) argmax — an exact
    * vocabulary hit can never be "corrected" away by a more frequent
    * neighbor; unmatched terms surface with NULL suggestion. Vocabulary variants are Σ\|w\| rows over the
    * DISTINCT word relation — vocabulary-sized, never corpus-sized —
    * and the query side is a literal handful.
    *
    * The vocabulary is an explicitly supplied (word, n_occ) relation
    * (`Tokenizer.wordCounts` of a corpus) — the standing-table seam
    * (`Tokenizer.wordTokenTable`). */
  def spellSuggestFromCounts(spark: org.apache.spark.sql.SparkSession,
      wc: DataFrame, terms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val qv = terms.toDF("term")
      .select(col("term"), explode(delVariants(col("term"))).as("v"))
    val vv = wc.select(col("word"), col("n_occ"),
      explode(delVariants(col("word"))).as("v"))
    val best = qv.join(vv, Seq("v"))
      .select(col("term"), col("word"), col("n_occ")).distinct()
      .withColumn("dist", levenshtein(col("term"), col("word")))
      .filter(col("dist") <= 1)
      .withColumn("rn", row_number().over(Window.partitionBy(col("term"))
        .orderBy(col("dist"), col("n_occ").desc, col("word"))))
      .filter(col("rn") === 1)
    terms.toDF("term").join(best, Seq("term"), "left")
      .select(col("term"), col("word").as("suggestion"),
        col("dist").as("distance"), col("n_occ").as("suggestion_freq"))
      .orderBy(col("term"))
  }

  def spellSuggestSql(terms: Seq[String]): String = {
    val vals = terms.map(t => s"('$t')").mkString(", ")
    s"""WITH q AS (SELECT * FROM (VALUES $vals) t(term)),
       |w AS (
       |  SELECT word, COUNT(*) AS n_occ FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '),
       |      x -> x <> '')) AS word FROM documents)
       |  GROUP BY word),
       |qv AS (
       |  SELECT term, unnest(list_distinct(list_prepend(term,
       |    list_transform(range(1, length(term) + 1),
       |      i -> substr(term, 1, CAST(i AS INT) - 1) ||
       |           substr(term, CAST(i AS INT) + 1, length(term)))))) AS v
       |  FROM q),
       |vv AS (
       |  SELECT word, n_occ, unnest(list_distinct(list_prepend(word,
       |    list_transform(range(1, length(word) + 1),
       |      i -> substr(word, 1, CAST(i AS INT) - 1) ||
       |           substr(word, CAST(i AS INT) + 1, length(word)))))) AS v
       |  FROM w),
       |cand AS (
       |  SELECT DISTINCT term, word, n_occ
       |  FROM qv JOIN vv USING (v)),
       |ranked AS (
       |  SELECT term, word, n_occ, levenshtein(term, word) AS dist,
       |    ROW_NUMBER() OVER (PARTITION BY term
       |      ORDER BY levenshtein(term, word), n_occ DESC, word) AS rn
       |  FROM cand WHERE levenshtein(term, word) <= 1)
       |SELECT q.term, r.word AS suggestion,
       |  CAST(r.dist AS INT) AS distance,
       |  CAST(r.n_occ AS BIGINT) AS suggestion_freq
       |FROM q LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
       |  ON r.term = q.term
       |ORDER BY q.term""".stripMargin
  }

  val spellTerms = Seq("tabl", "windoww", "filtar", "valu", "scan", "zzzz")

  /** Faceted result-set aggregation: the (lang, source) count grid a
    * search UI renders beside the hit list, over the SAME conjunctive
    * match set as [[rankedSearch]]. The match set is doc_ids only
    * (postings-grouped, AND via distinct-term count — never a doc×doc
    * or term×term product); facets join that narrow set back to the
    * metadata columns and partial-aggregate. share_bp is each cell's
    * slice of the whole result set, exact by construction (counts are
    * integers, the total joins in from one broadcast row). */
  def facetedSearch(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val matched = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("n_terms"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"))
    val cells = matched.join(docs, Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("mass"))
    val tot = cells.agg(sum(col("n_docs")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("mass"),
        expr("n_docs * 10000L div total").as("share_bp"))
      .orderBy(col("lang"), col("source"))
  }

  def facetedSearchSql(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH m AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents)
       |  WHERE token IN ($inList)
       |  GROUP BY doc_id
       |  HAVING COUNT(DISTINCT token) = ${terms.size}),
       |cells AS (
       |  SELECT d.lang, d.source, COUNT(*) AS n_docs,
       |    CAST(SUM(d.n_chars) AS BIGINT) AS mass
       |  FROM m JOIN documents d USING (doc_id)
       |  GROUP BY d.lang, d.source),
       |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM cells)
       |SELECT lang, source, n_docs, mass,
       |  n_docs * 10000 // total AS share_bp
       |FROM cells CROSS JOIN t
       |ORDER BY lang, source""".stripMargin
  }

  /** Prefix autocomplete table: top-k completions per 3-char prefix by
    * corpus frequency — the typeahead artifact a search box reads. The
    * per-prefix rank plans as WindowGroupLimit (the topk_per_group
    * contract: k rows retained per key BEFORE the shuffle sort — fat
    * prefixes never fully sort), over the vocabulary relation (Heaps-
    * sublinear). Prefixes below `minMass` total hits are dropped so the
    * artifact stays head-heavy; ties break lexically. */
  def autocomplete(docs: DataFrame, k: Int = 3, minLen: Int = 4,
      minMass: Long = 50L): DataFrame = {
    val freq = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) >= minLen)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .withColumn("prefix", substring(col("token"), 1, 3))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prefix"))
      .orderBy(col("freq").desc, col("token"))
    val wMass = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prefix"))
    freq
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("mass", sum(col("freq")).over(wMass))
      .filter(col("mass") >= minMass)
      .select(col("prefix"), col("rank"), col("token"), col("freq"))
      .orderBy(col("prefix"), col("rank"))
  }

  def autocompleteSql(k: Int = 3, minLen: Int = 4, minMass: Long = 50L): String =
    s"""WITH f AS (
       |  SELECT token, COUNT(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |  WHERE length(token) >= $minLen
       |  GROUP BY token),
       |p AS (SELECT substr(token, 1, 3) AS prefix, token, freq FROM f),
       |r AS (
       |  SELECT prefix, token, freq,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY prefix
       |      ORDER BY freq DESC, token) AS BIGINT) AS rank
       |  FROM p),
       |top AS (SELECT * FROM r WHERE rank <= $k),
       |m AS (
       |  SELECT *, CAST(SUM(freq) OVER (PARTITION BY prefix) AS BIGINT)
       |    AS mass
       |  FROM top)
       |SELECT prefix, rank, token, freq
       |FROM m WHERE mass >= $minMass
       |ORDER BY prefix, rank""".stripMargin

  /** Ranking-quality evaluation: MRR and recall@k of the DISJUNCTIVE
    * rarity ranker against conjunctive ground truth (a doc is relevant
    * to a query iff it contains ALL the query's terms — the qrels a
    * zero-label corpus can self-derive; the OR-ranker may surface
    * partial matches above full ones, which is exactly what the metric
    * measures). All integer: reciprocal rank as 10⁶ div rank, recall
    * in floor bp. Queries arrive as a literal relation (a handful of
    * rows); postings, ranks and relevance flags are the L6 vocabulary-
    * relation shapes — the rank window partitions BY QUERY over docs
    * that matched ≥ 1 term, never the whole corpus. */
  def searchEval(docs: DataFrame, queryTerms: Seq[Seq[String]],
      k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qrel = queryTerms.zipWithIndex
      .flatMap { case (ts, qi) => ts.map(t => (qi.toLong, t)) }
      .toDF("qid", "term")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val postings = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .join(broadcast(qrel), col("token") === col("term"))
      .groupBy(col("qid"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dict = postings.groupBy(col("qid"), col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val qsize = qrel.groupBy(col("qid")).agg(count(lit(1)).as("n_terms"))
    val scored = postings
      .join(dict, Seq("qid", "term"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("tf") * (col("n_docs") - col("df"))).as("score"),
        countDistinct(col("term")).as("hit_terms"))
      .join(broadcast(qsize), Seq("qid"))
      .withColumn("relevant", col("hit_terms") === col("n_terms"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
    scored.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_ranked"),
        sum(col("relevant").cast("long")).as("n_relevant"),
        min(when(col("relevant"), col("rank"))).as("first_rel_rank"),
        sum((col("relevant") && col("rank") <= k).cast("long"))
          .as(s"rel_in_top"))
      .select(col("qid"), col("n_ranked"), col("n_relevant"),
        col("first_rel_rank"),
        expr("CASE WHEN first_rel_rank IS NOT NULL " +
          "THEN 1000000L div first_rel_rank END").as("rr_micro"),
        expr("CASE WHEN n_relevant > 0 " +
          "THEN rel_in_top * 10000L div n_relevant END").as("recall_k_bp"))
      .orderBy(col("qid"))
  }

  def searchEvalSql(queryTerms: Seq[Seq[String]], k: Int = 10): String = {
    // BIGINT literal (qi::BIGINT) so qid surfaces int64 like the Spark
    // side's qi.toLong, not the VALUES-default INTEGER
    val qrows = queryTerms.zipWithIndex
      .flatMap { case (ts, qi) =>
        ts.map(t => s"(CAST($qi AS BIGINT), '$t')") }
      .mkString(", ")
    s"""WITH qrel(qid, term) AS (VALUES $qrows),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |p AS (
       |  SELECT q.qid, t.doc_id, q.term, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents) t
       |  JOIN qrel q ON q.term = t.token
       |  GROUP BY q.qid, t.doc_id, q.term),
       |dict AS (SELECT qid, term, COUNT(DISTINCT doc_id) AS df
       |         FROM p GROUP BY qid, term),
       |qs AS (SELECT qid, COUNT(*) AS n_terms FROM qrel GROUP BY qid),
       |scored AS (
       |  SELECT p.qid, p.doc_id,
       |    CAST(SUM(p.tf * (n.n_docs - d.df)) AS BIGINT) AS score,
       |    COUNT(DISTINCT p.term) AS hit_terms
       |  FROM p JOIN dict d ON d.qid = p.qid AND d.term = p.term
       |  CROSS JOIN n
       |  GROUP BY p.qid, p.doc_id),
       |ranked AS (
       |  SELECT s.qid, s.doc_id, s.hit_terms = qs.n_terms AS relevant,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.qid
       |      ORDER BY s.score DESC, s.doc_id) AS BIGINT) AS rank
       |  FROM scored s JOIN qs ON qs.qid = s.qid)
       |SELECT qid, COUNT(*) AS n_ranked,
       |  CAST(SUM(CASE WHEN relevant THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_relevant,
       |  MIN(CASE WHEN relevant THEN rank END) AS first_rel_rank,
       |  CASE WHEN MIN(CASE WHEN relevant THEN rank END) IS NOT NULL
       |       THEN 1000000 // MIN(CASE WHEN relevant THEN rank END) END
       |    AS rr_micro,
       |  CAST(CASE WHEN SUM(CASE WHEN relevant THEN 1 ELSE 0 END) > 0
       |       THEN CAST(SUM(CASE WHEN relevant AND rank <= $k
       |                     THEN 1 ELSE 0 END) AS BIGINT) * 10000
       |            // SUM(CASE WHEN relevant THEN 1 ELSE 0 END)
       |       END AS BIGINT)
       |    AS recall_k_bp
       |FROM ranked GROUP BY qid ORDER BY qid""".stripMargin
  }

  private val evalQueries: Seq[Seq[String]] =
    Seq(Seq("vector", "hash"), Seq("hash", "join"), Seq("data", "model"))

  def queries: Seq[(String, QueryDef)] = q ++ Seq(
    "search_eval" -> QueryDef(
      (s, d) => searchEval(Tables.documents(s, d), evalQueries),
      searchEvalSql(evalQueries)),
    "search_autocomplete" -> QueryDef(
      (s, d) => autocomplete(Tables.documents(s, d)),
      autocompleteSql()),
    "search_spell" -> QueryDef(
      (s, d) => spellSuggestFromCounts(s,
        Tokenizer.wordTokenTable(s, d).select(col("word"), col("n_occ")),
        spellTerms),
      spellSuggestSql(spellTerms)),
    "search_facets" -> QueryDef(
      (s, d) => facetedSearch(Tables.documents(s, d), Seq("hash", "join")),
      facetedSearchSql(Seq("hash", "join"))))
}
