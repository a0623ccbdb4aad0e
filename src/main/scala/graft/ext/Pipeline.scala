package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** Training-data pipeline preparation operators: sequence packing,
  * source-mixture weighting, and deterministic dataset splits — the
  * steps between a cleaned corpus (`Corpus`) and a training run.
  *
  * None of these exist in the reference (`/root/reference/fianl2.py`
  * stops at the analytical summary); they are [EXT] operators per
  * SURVEY.md §2.11, designed for the 100 TB regime:
  *
  *  - packing is SHARD-LOCAL (window keyed on (source, shard)), so
  *    parallelism scales with the shard count, not the source count;
  *  - mixture weighting reduces the corpus to one row per source
  *    before any math (partial aggregation does the heavy lifting);
  *  - split assignment is a pure narrow map — no RNG state, no
  *    shuffle, bit-identical on re-run, which is what makes a
  *    multi-day 100 TB job resumable without a split-manifest.
  */
object Pipeline {

  // ---------------------------------------------------------------- packing

  /** Sequence packing: lay each shard's documents end-to-end (ordered
    * by doc_id) into fixed `seqLen`-token training sequences and report
    * which sequences each document lands in. A document whose tokens
    * straddle a sequence boundary is flagged — the share of straddlers
    * is the packing-efficiency signal a pipeline tunes `seqLen` with.
    *
    * Packing is shard-local: the running sum is windowed on
    * (source, shard = doc_id % nShards), never globally, so the plan is
    * one hash exchange into source×nShards independent windows. A
    * global pack would serialize 100 TB through one range-partitioned
    * running sum for no training benefit — shard boundaries are free
    * sequence boundaries (every real packer cuts there anyway).
    *
    * All arithmetic is integer (BIGINT token counts, integer division
    * by `seqLen`), so the oracle comparison is exact by construction.
    *
    * Token counts come from an explicitly supplied (doc_id, n_tokens)
    * relation: `Tokenizer.docTokenCounts`, or its standing table
    * `Tokenizer.docTokenTable`. */
  def packSequencesWith(docs: DataFrame, tokenCounts: DataFrame,
      seqLen: Int, nShards: Int): DataFrame = {
    require(seqLen >= 1 && nShards >= 1,
      s"need seqLen >= 1 and nShards >= 1, got $seqLen, $nShards")
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        (col("doc_id") % nShards).as("shard"))
      // REAL subword budgets (vocab-derived greedy tokenizer), not the
      // whitespace proxy; the inner join drops token-less documents —
      // exactly the old n_tokens >= 1 filter
      .join(tokenCounts.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .filter(col("n_tokens") >= 1)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $seqLen").as("first_seq"),
        expr(s"(cum - 1) div $seqLen").as("last_seq"))
      .withColumn("straddles", col("first_seq") =!= col("last_seq"))
      .orderBy(col("doc_id"))
  }

  def packSequencesSql(seqLen: Int, nShards: Int): String =
    s"""WITH RECURSIVE
       |${Tokenizer.ctesSql},
       |t AS (
       |  SELECT d.doc_id, d.source, d.doc_id % $nShards AS shard,
       |    dt.n_tokens
       |  FROM documents d JOIN tok_doc dt ON dt.doc_id = d.doc_id),
       |c AS (
       |  SELECT doc_id, source, shard, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t WHERE n_tokens >= 1)
       |SELECT doc_id, source, shard, n_tokens,
       |  CAST((cum - n_tokens) // $seqLen AS BIGINT) AS first_seq,
       |  CAST((cum - 1) // $seqLen AS BIGINT) AS last_seq,
       |  (cum - n_tokens) // $seqLen <> (cum - 1) // $seqLen AS straddles
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- mixture

  /** Temperature-scaled source mixture: sampling weights proportional
    * to (token count)^(1/2) — the standard multilingual/multi-source
    * rebalancing that upweights small sources without letting a huge
    * one drown the mix. Emits, per source, the weight and the document
    * allocation out of `budget`.
    *
    * Cross-engine exactness (the reason this can be hash-compared at
    * all): sqrt is correctly rounded IEEE in both engines, and the
    * result is snapped to the 2^-20 grid — quantized weights are small
    * multiples of 2^-20, so their ~20-term sum is EXACT (order
    * independent) and every downstream ratio is a single correctly
    * rounded division. Same trick as the IVF centroid oracle
    * (`Similarity.scala`). The corpus collapses to one row per source
    * via partial-aggregated SUM/COUNT before any of this math runs.
    *
    * Token counts come from an explicitly supplied (doc_id, n_tokens)
    * relation: `Tokenizer.docTokenCounts`, or its standing table
    * `Tokenizer.docTokenTable`. */
  def mixtureWeightsWith(docs: DataFrame, tokenCounts: DataFrame,
      budget: Long): DataFrame = {
    // REAL subword budgets (the pack rewire's twin); left join keeps
    // token-less documents in n_docs while contributing 0 tokens
    val perSource = docs
      .select(col("source"), col("doc_id"))
      .join(tokenCounts.select(col("doc_id"), col("n_tokens")),
        Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_tokens"), lit(0L))).as("n_tokens"))
    val q = (floor(sqrt(col("n_tokens").cast("double")) * lit(1048576.0)) /
      lit(1048576.0)).as("q")
    val scored = perSource.select(col("source"), col("n_docs"), col("n_tokens"), q)
    val total = scored.agg(sum(col("q")).as("qtot"))
    scored.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("q") / col("qtot")).as("weight"),
        floor(col("q") / col("qtot") * budget).cast("long").as("alloc_docs"))
      .orderBy(col("source"))
  }

  def mixtureWeightsSql(budget: Long): String =
    s"""WITH RECURSIVE
       |${Tokenizer.ctesSql},
       |s AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(COALESCE(dt.n_tokens, 0)) AS BIGINT) AS n_tokens,
       |    floor(sqrt(CAST(CAST(SUM(COALESCE(dt.n_tokens, 0)) AS VARCHAR) AS DOUBLE)) * 1048576.0)
       |      / 1048576.0 AS q
       |  FROM documents d LEFT JOIN tok_doc dt ON dt.doc_id = d.doc_id
       |  GROUP BY d.source)
       |SELECT source, n_docs, n_tokens,
       |  q / (SELECT SUM(q) FROM s) AS weight,
       |  CAST(floor(q / (SELECT SUM(q) FROM s) * $budget) AS BIGINT) AS alloc_docs
       |FROM s ORDER BY source""".stripMargin

  // ------------------------------------------------------------------ split

  /** Deterministic train/val/test assignment: u = first 8 hex chars of
    * md5("split:" || doc_id) as a uniform in [0,1), thresholded at the
    * cumulative fractions. The "split:" salt decorrelates the holdout
    * from `Corpus.stratifiedSample`'s keep-decision (same doc_id, same
    * md5 family, independent bits) — without it, sampling at rate r
    * would preferentially keep one side of the split.
    *
    * Pure narrow map: no shuffle, no RNG state, bit-identical across
    * engines, runs, and partitionings — re-running assignment over
    * 100 TB reproduces the exact split with no manifest to store.
    */
  def splitAssign(docs: DataFrame, trainFrac: Double, valFrac: Double): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      s"need 0 < train, 0 <= val, train + val < 1; got $trainFrac, $valFrac")
    val u = (conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double") /
      4294967296.0).as("u")
    docs.select(col("doc_id"), col("source"), u)
      .withColumn("split",
        when(col("u") < trainFrac, "train")
          .when(col("u") < trainFrac + valFrac, "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))
  }

  def splitAssignSql(trainFrac: Double, valFrac: Double): String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      / 4294967296.0 AS u
       |  FROM documents)
       |SELECT doc_id, source, u,
       |  CASE WHEN u < $trainFrac THEN 'train'
       |       WHEN u < ${trainFrac + valFrac} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM t ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- curriculum

  /** The rule-point quality score `text_quality` declares, reused here
    * so curriculum bins grade on the same signal the gate already
    * hash-checks. */
  private def qualityScore: Column = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val tokenCount = size(toks)
    val avgTok = aggregate(toks, lit(0), (acc, t) => acc + length(t))
      .cast("double") / tokenCount
    when(length(col("text")).between(100, 1000), 1).otherwise(0) +
      when(tokenCount >= 20, 1).otherwise(0) +
      when(avgTok.between(3.0, 8.0), 1).otherwise(0) +
      when(size(array_distinct(toks)) * 2 >= tokenCount, 1).otherwise(0)
  }

  /** Curriculum binning: per-source quality quartiles + distribution
    * ranks — the signal a staged training schedule samples against
    * ("high-quality bins first / more often").
    *
    * The ranking runs through `DistributedRank.distributionOver`
    * (range-partition + prefix-sum), NOT a window over source: window
    * ntile sorts each source inside ONE task, and sources are exactly
    * the fat-key shape that dies at 100 TB. Same bit-equal contract as
    * `window_distribution_scalable`, applied where a pipeline actually
    * needs it. */
  def curriculumBins(docs: DataFrame, parts: Int = 32): DataFrame =
    graft.rel.DistributedRank.distributionOver(
      docs.select(col("source"), col("doc_id"),
        qualityScore.cast("double").as("score")),
      parts)

  val curriculumSql: String =
    """WITH t AS (
      |  SELECT source, doc_id, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT source, doc_id,
      |    CAST((CASE WHEN length(text) BETWEEN 100 AND 1000 THEN 1 ELSE 0 END) +
      |    (CASE WHEN len(toks) >= 20 THEN 1 ELSE 0 END) +
      |    (CASE WHEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
      |          BETWEEN 3.0 AND 8.0 THEN 1 ELSE 0 END) +
      |    (CASE WHEN len(list_distinct(toks)) * 2 >= len(toks) THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS score
      |  FROM t)
      |SELECT source, doc_id, score,
      |  CAST(NTILE(4) OVER w AS INT) AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM s
      |WINDOW w AS (PARTITION BY source ORDER BY score DESC, doc_id)
      |ORDER BY source, doc_id""".stripMargin

  /** Deterministic source-interleaved training order — the "global
    * shuffle" a data loader wants, without RNG state: each document
    * ranks within its source by md5(doc_id) (uniform, reproducible, the
    * `sample_stratified` derivation), and the global position orders by
    * (in-source rank, source) — round-robin across sources, so
    * consecutive positions maximize source spread (no same-source runs
    * longer than forced by exhausted sources) and the whole order is a
    * pure function of the corpus.
    *
    * Scale: BOTH windows here are the shapes the engine avoids at
    * 100 TB (source is a fat key; the global position is a one-task
    * window); the same order via range-partition + per-partition
    * counts + driver prefix-sum (the `DistributedRank` algorithm) is
    * the path to build when a workload needs it. */
  def interleave(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
      md5(col("doc_id").cast("string")).as("u"))
    val ranked = keyed.withColumn("r", row_number().over(
      Window.partitionBy(col("source")).orderBy(col("u"), col("doc_id"))))
    ranked.withColumn("position", row_number().over(
        Window.orderBy(col("r"), col("source"), col("doc_id"))))
      .select(col("position").cast("long").as("position"),
        col("doc_id"), col("source"))
      .orderBy(col("position"))
  }

  val interleaveSql: String =
    """WITH k AS (
      |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS u
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, doc_id) AS r
      |  FROM k)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY r, source, doc_id) AS BIGINT)
      |         AS position,
      |       doc_id, source
      |FROM r ORDER BY position""".stripMargin

  // -------------------------------------------------------------- datacard

  /** The per-source data card: the one-page corpus summary a pipeline
    * publishes with every training set — volume, duplication, language
    * and quality, reduced to counts and single divisions so every cell
    * is exact cross-engine.
    *
    * Two shuffles total: one corpus-wide fingerprint reduction for the
    * duplicate counts (Heaps-sublinear distinct-text table, counted
    * once, joined back by fingerprint), one group-by on source. The
    * quality/language signals reuse the same expressions their
    * dedicated queries hash-check. */
  def dataCard(docs: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val enScore = size(filter(split(col("text"), " "),
      t => t.isin("the", "a", "and", "of")))
    val fp = md5(col("text"))
    // ONE pass over the text: equal fp ⇒ equal text ⇒ equal per-doc
    // features, so the corpus reduces to (fp, source) groups carrying
    // (count, the shared feature values) — the old shape computed
    // md5+tokenize TWICE (duplicate-count arm + doc-level arm) and
    // shuffled every doc row to the fp join. n_copies is a window sum
    // over the already-reduced distinct-text relation.
    val perText = docs
      .select(col("source"), fp.as("fp"),
        size(toks).cast("long").as("n_tokens"),
        qualityScore.cast("long").as("quality"),
        (enScore >= 2).cast("long").as("is_en"))
      .groupBy(col("fp"), col("source"))
      .agg(count(lit(1)).as("cnt"),
        min(col("n_tokens")).as("ntk"),
        min(col("quality")).as("q"),
        min(col("is_en")).as("en"))
      .withColumn("n_copies", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
    perText
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_docs"),
        sum(col("cnt") * col("ntk")).as("n_tokens"),
        min(col("ntk")).as("min_tokens"),
        max(col("ntk")).as("max_tokens"),
        sum(when(col("n_copies") > 1, col("cnt")).otherwise(0L)).as("n_dup_docs"),
        sum(col("cnt") * col("q")).as("quality_points"),
        sum(col("cnt") * col("en")).as("n_english"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("min_tokens"), col("max_tokens"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs")).as("dup_rate"),
        (col("quality_points").cast("double") / col("n_docs")).as("mean_quality"),
        (col("n_english").cast("double") / col("n_docs")).as("english_rate"))
      .orderBy(col("source"))
  }

  /** The declared surface plants exact duplicates (every 39th document
    * re-appears under a fresh id — 39 is coprime with the fixture's
    * source cycle, so every source gets some) before computing the
    * card: the fixture corpus has no exact dups below the bench scale,
    * and an oracle that never sees `n_copies > 1` would vacuously pass
    * a broken duplicate counter — the same planted-input reasoning as
    * `pii_redact`. */
  def dataCardPlanted(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("text"))
    val off = base.agg((max(col("doc_id")) + 1).as("off"))
    val planted = base.filter(col("doc_id") % 39 === 0)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("off")).as("doc_id"), col("source"),
        col("text"))
    dataCard(base.union(planted))
  }

  val dataCardSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), source, text
      |  FROM documents WHERE doc_id % 39 = 0),
      |t AS (
      |  SELECT source, doc_id, text, md5(text) AS fp,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM base),
      |f AS (SELECT fp, COUNT(*) AS n_copies FROM t GROUP BY fp),
      |d AS (
      |  SELECT t.source,
      |    CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |    (CASE WHEN length(t.text) BETWEEN 100 AND 1000 THEN 1 ELSE 0 END) +
      |    (CASE WHEN len(t.toks) >= 20 THEN 1 ELSE 0 END) +
      |    (CASE WHEN CAST(list_sum(list_transform(t.toks, x -> length(x))) AS DOUBLE) / len(t.toks)
      |          BETWEEN 3.0 AND 8.0 THEN 1 ELSE 0 END) +
      |    (CASE WHEN len(list_distinct(t.toks)) * 2 >= len(t.toks) THEN 1 ELSE 0 END)
      |      AS quality,
      |    CASE WHEN len(list_filter(string_split(t.text, ' '),
      |      x -> x IN ('the','a','and','of'))) >= 2 THEN 1 ELSE 0 END AS is_en,
      |    f.n_copies
      |  FROM t JOIN f ON f.fp = t.fp)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
      |  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
      |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  CAST(CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS VARCHAR) AS DOUBLE) / COUNT(*) AS dup_rate,
      |  CAST(CAST(SUM(quality) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_quality,
      |  CAST(CAST(SUM(is_en) AS VARCHAR) AS DOUBLE) / COUNT(*) AS english_rate
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic per-epoch shuffle manifest: each training epoch
    * re-shards and re-orders the corpus by the md5-derived key
    * h = md5(epoch:doc_id) — different every epoch (the property SGD
    * wants), byte-identical on every rerun/engine/partitioning (the
    * property reproducibility wants), zero RNG state to distribute.
    * Shard = h mod nShards; within a shard the ascending-h order IS the
    * read order. The declared surface is the per-(epoch, shard)
    * manifest — doc count and an order-free checksum Σ(h mod 10⁹) a
    * trainer validates its local shard against (bounded BIGINT by
    * corpus size; the checksum is sum-of-residues, so no window and no
    * fat key anywhere — the full ordered list is a narrow map + a
    * per-shard sort at read time). */
  def epochShuffle(docs: DataFrame, epochs: Int, nShards: Int): DataFrame = {
    require(epochs >= 1 && nShards >= 1)
    epochKeyed(docs, epochs)
      .groupBy(col("epoch"), (col("h") % nShards).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("h") % 1000000000L).as("checksum"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** The keying stage of [[epochShuffle]] on its own — (epoch, doc_id,
    * h) per document per epoch; [[exportPipeline]] reads the per-doc
    * detail the shuffle summary aggregates away. */
  private[ext] def epochKeyed(docs: DataFrame, epochs: Int): DataFrame =
    (0 until epochs).map { e =>
      docs.select(lit(e).cast("long").as("epoch"), col("doc_id"),
        conv(substring(md5(concat(lit(s"$e:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
    }.reduce(_ unionByName _)

  private[ext] def epochKeyedSql(epochs: Int): String =
    (0 until epochs).map(e =>
      s"""  SELECT CAST($e AS BIGINT) AS epoch, doc_id,
         |    ('0x' || substr(md5('$e:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      AS h
         |  FROM documents""".stripMargin).mkString("\n  UNION ALL\n")

  def epochShuffleSql(epochs: Int, nShards: Int): String =
    s"""WITH keyed AS (
       |${epochKeyedSql(epochs)})
       |SELECT epoch, h % $nShards AS shard,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(h % 1000000000) AS BIGINT) AS checksum
       |FROM keyed GROUP BY epoch, shard
       |ORDER BY epoch, shard""".stripMargin

  // ---------------------------------------------------- export composition

  /** The END-TO-END training-EXPORT pipeline as ONE declarative plan —
    * the T-side twin of `corpus_curation_pipeline`: canonical corpus
    * (keep one doc per near-dup cluster) → 8-gram decontamination
    * (benchmark slice and leaked docs cut) → greedy shard assignment →
    * sequence packing → deterministic interleave order → per-epoch
    * shard keys, every stage the SAME code as its standalone declared
    * operator (`corpus_canonical`, `corpus_decontaminate`,
    * `corpus_shard_assign`, `corpus_pack`, `corpus_interleave`,
    * `corpus_epoch_shuffle`'s keying), chained on the kept membership.
    * Output is the per-document export MANIFEST a trainer consumes:
    * one row per (epoch, kept-and-packable doc) with its export shard,
    * token budget, packed sequence span, interleave position and
    * epoch shard. Docs the packer drops (zero subword tokens) drop
    * from the manifest — pack's own inner-join semantics.
    *
    * Scale shape: membership flows as id sets (semi-joins); each stage
    * keeps its standalone plan (no stage is re-derived), and the final
    * assembly is doc_id-keyed joins of per-doc relations — one shuffle
    * key end-to-end. The oracle composes the stage SQLs verbatim as
    * derived tables over the kept membership. */
  /** Version key of the kept-membership chain (canonical →
    * decontaminate) — participates in every export memo fingerprint;
    * bump when canonicalCorpusMd5 / decontaminate semantics change. */
  private val ExportKeptVersion = "kept=canonmd5-decontam-v1"

  /** The kept membership — canonical → decontaminate — computed live
    * from a documents relation (the memo build, and the semantics the
    * oracle recomputes from scratch). */
  private def exportKeptLive(docs: DataFrame): DataFrame =
    Corpus.decontaminate(Corpus.canonicalCorpusMd5Docs(docs))
      .select(col("doc_id"))

  /** STANDING kept-membership relation: the id set is a pure function
    * of the corpus snapshot, and the export plan references the kept
    * corpus from FOUR stage subtrees (shard, pack, interleave, epoch
    * keys) — without a standing relation the near-dup clustering +
    * decontamination chain re-executes once per subtree inside one
    * query plan. A production export materializes exactly this
    * manifest-membership once per snapshot. */
  private def exportKeptTable(spark: SparkSession, dir: String): DataFrame =
    graft.core.ParquetMemo.ensureRead(spark, s"$dir/documents.parquet",
      "export_kept", ExportKeptVersion)(
      exportKeptLive(Tables.documents(spark, dir)))

  /** The kept membership's documents — the corpus every export stage
    * runs over (semi-join against the standing membership). */
  private def exportKeptDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).join(exportKeptTable(spark, dir),
      Seq("doc_id"), "left_semi")

  /** STANDING (doc_id, n_tokens) relation over the EXPORT pipeline's
    * kept corpus. The export pack stage tokenizes the KEPT subset (its
    * vocabulary is derived from what survives canonical+decontaminate,
    * not the raw corpus — the oracle composes the stage SQLs over
    * exactly that membership), so the full-corpus `docTokenTable`
    * cannot serve it; but the kept membership is itself a pure function
    * of the corpus snapshot, so its token relation memoizes under the
    * same discipline. The version key pins BOTH the tokenizer algorithm
    * and the kept-chain definition — bump `|kept=...` when
    * canonicalCorpusMd5 / decontaminate semantics change. */
  private def exportKeptDocTokenTable(spark: SparkSession,
      dir: String): DataFrame =
    graft.core.ParquetMemo.ensureRead(spark, s"$dir/documents.parquet",
      "doctokens_export",
      Tokenizer.TokenizerVersion + "|" + ExportKeptVersion)(
      Tokenizer.docTokenCounts(exportKeptDocs(spark, dir)))

  /** Bench warm-up hook: pre-build the export pipeline's standing
    * kept-membership and kept-corpus token relations (corpus build,
    * not query work). The token build reads the membership, so one
    * call warms both. */
  def ensureExportTokenTable(spark: SparkSession, dir: String): Unit =
    exportKeptDocTokenTable(spark, dir).count(): Unit

  def exportPipeline(spark: SparkSession, dir: String): DataFrame = {
    val keptDocs = exportKeptDocs(spark, dir)
    val sa = Corpus.shardAssign(keptDocs, 3000L)
    val pk = packSequencesWith(keptDocs,
      exportKeptDocTokenTable(spark, dir), seqLen = 256, nShards = 4)
    val il = interleave(keptDocs)
    val ek = epochKeyed(keptDocs, epochs = 3)
    ek
      .join(sa.select(col("doc_id"), col("source"),
        col("shard").as("export_shard")), Seq("doc_id"))
      .join(pk.select(col("doc_id"), col("n_tokens"), col("first_seq"),
        col("last_seq"), col("straddles")), Seq("doc_id"))
      .join(il.select(col("doc_id"), col("position")), Seq("doc_id"))
      .select(col("epoch"), col("doc_id"), col("source"), col("export_shard"),
        col("n_tokens"), col("first_seq"), col("last_seq"), col("straddles"),
        col("position"), (col("h") % 8).as("epoch_shard"))
      .orderBy(col("epoch"), col("doc_id"))
  }

  /** Oracle: each stage's published SQL embedded WHOLE as a derived
    * table (DuckDB scopes a subquery's WITH chain locally and outer
    * CTEs stay visible inside it), with only its `documents` source
    * rebound to the kept membership — the same string the standalone
    * gate hash-checks, so the composition proof runs on one source of
    * truth per stage. */
  lazy val exportPipelineSql: String = {
    def over(sql: String, src: String): String =
      sql.replaceAll("\\bdocuments\\b", src)
    s"""WITH kept0 AS (SELECT doc_id FROM (${Corpus.canonicalCorpusMd5Sql})),
       |kept0docs AS (
       |  SELECT * FROM documents
       |  WHERE doc_id IN (SELECT doc_id FROM kept0)),
       |kept AS (SELECT doc_id FROM (${over(Corpus.decontaminateSql(), "kept0docs")})),
       |keptdocs AS (
       |  SELECT * FROM documents
       |  WHERE doc_id IN (SELECT doc_id FROM kept)),
       |sa AS (SELECT * FROM (${over(Corpus.shardAssignSql(3000L), "keptdocs")})),
       |pk AS (SELECT * FROM (${over(packSequencesSql(256, 4), "keptdocs")})),
       |il AS (SELECT * FROM (${over(interleaveSql, "keptdocs")})),
       |ek AS (
       |${over(epochKeyedSql(3), "keptdocs")})
       |SELECT ek.epoch, ek.doc_id, sa.source, sa.shard AS export_shard,
       |  pk.n_tokens, pk.first_seq, pk.last_seq, pk.straddles,
       |  il.position, ek.h % 8 AS epoch_shard
       |FROM ek
       |JOIN sa ON sa.doc_id = ek.doc_id
       |JOIN pk ON pk.doc_id = ek.doc_id
       |JOIN il ON il.doc_id = ek.doc_id
       |ORDER BY ek.epoch, ek.doc_id""".stripMargin
  }

  // ------------------------------------------------------ declared queries

  /** Subword fertility by language: tokenizer tokens per whitespace
    * word — THE tokenizer-equity metric a multilingual pipeline reads
    * before trusting a shared vocabulary (a language at fertility 2×
    * another pays 2× the context budget for the same text). Reuses the
    * real BPE-ish tokenizer's per-doc counts ([[Tokenizer.docTokenCounts]]
    * — vocabulary-bounded broadcast join, the corpus_mixture plumbing);
    * word counts are one narrow HOF map; the surface is exact integer
    * milli-tokens-per-word.
    *
    * Token counts come from an explicitly supplied (doc_id, n_tokens)
    * relation: `Tokenizer.docTokenCounts`, or its standing table
    * `Tokenizer.docTokenTable`. */
  def fertilityWith(docs: DataFrame, tokenCounts: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), col("lang"),
      size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long").as("n_words"))
    words.join(tokenCounts.select(col("doc_id"), col("n_tokens")),
        Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(coalesce(col("n_tokens"), lit(0L))).as("n_subtokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subtokens"),
        expr("CASE WHEN n_words > 0 THEN n_subtokens * 1000L div n_words END")
          .as("fertility_milli"))
      .orderBy(col("lang"))
  }

  val fertilitySql: String =
    s"""WITH RECURSIVE
       |${Tokenizer.ctesSql},
       |w AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS BIGINT) AS n_words
       |  FROM documents),
       |j AS (
       |  SELECT w.lang, w.n_words, COALESCE(t.n_tokens, 0) AS n_tokens
       |  FROM w LEFT JOIN tok_doc t USING (doc_id))
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_subtokens,
       |  CASE WHEN SUM(n_words) > 0
       |       THEN CAST(SUM(n_tokens) * 1000 // SUM(n_words) AS BIGINT) END
       |    AS fertility_milli
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  /** Split-leakage audit: n-gram contamination ACROSS the declared
    * train/test assignment — the guard that catches near-duplicate
    * documents landing on both sides of the holdout (the md5 split is
    * uniform over doc_ids, so duplicates split independently and WILL
    * leak; this measures how much). Per test doc: distinct w-grams,
    * how many also appear in ANY train doc, leak share in floor bp —
    * the L5f decontaminate machinery pointed at the pipeline's own
    * split instead of an external benchmark. Gram relations are
    * distinct'ed before the one semi-flag join; never doc×doc. */
  def splitLeakage(docs: DataFrame, trainFrac: Double = 0.8,
      valFrac: Double = 0.1, w: Int = 8): DataFrame = {
    val s = splitAssign(docs, trainFrac, valFrac)
      .select(col("doc_id"), col("split"))
    val grams = docs.join(s, Seq("doc_id"))
      .select(col("doc_id"), col("split"),
        graft.ext.Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), col("split"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(toks) - ${w - 1}),
           |  i -> md5(array_join(slice(toks, i, $w), ' '))))""".stripMargin))
        .as("g"))
    val trainGrams = grams.filter(col("split") === "train")
      .select(col("g")).distinct()
      .withColumn("leaked", lit(1L))
    grams.filter(col("split") === "test")
      .join(trainGrams, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("leaked"), lit(0L))).as("n_leaked"))
      .select(col("doc_id"), col("n_grams"), col("n_leaked"),
        expr("n_leaked * 10000L div n_grams").as("leak_bp"))
      .orderBy(col("doc_id"))
  }

  def splitLeakageSql(trainFrac: Double = 0.8, valFrac: Double = 0.1,
      w: Int = 8): String =
    s"""WITH sp AS (
       |  SELECT doc_id,
       |    CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |           / 4294967296.0 < $trainFrac THEN 'train'
       |         WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |           / 4294967296.0 < ${trainFrac + valFrac} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |t AS (
       |  SELECT d.doc_id, sp.split,
       |    list_filter(string_split(d.text, ' '), x -> x <> '') AS toks
       |  FROM documents d JOIN sp ON sp.doc_id = d.doc_id),
       |pg AS (
       |  SELECT DISTINCT doc_id, split,
       |    md5(array_to_string(list_slice(toks, CAST(i AS INT),
       |      CAST(i AS INT) + ${w - 1}), ' ')) AS g
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - ${w - 1} + 1)) AS i) r
       |  WHERE len(toks) >= $w),
       |tg AS (SELECT DISTINCT g FROM pg WHERE split = 'train')
       |SELECT pg.doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_leaked,
       |  CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    * 10000 // COUNT(*) AS leak_bp
       |FROM pg LEFT JOIN tg ON tg.g = pg.g
       |WHERE pg.split = 'test'
       |GROUP BY pg.doc_id
       |ORDER BY pg.doc_id""".stripMargin

  private val q: Seq[(String, QueryDef)] = Seq(
    "corpus_split_leakage" -> QueryDef(
      (s, d) => splitLeakage(Tables.documents(s, d)), splitLeakageSql()),
    "corpus_fertility" -> QueryDef(
      (s, d) => fertilityWith(Tables.documents(s, d),
        Tokenizer.docTokenTable(s, d)), fertilitySql),
    "corpus_epoch_shuffle" -> QueryDef(
      (s, d) => epochShuffle(Tables.documents(s, d), epochs = 3, nShards = 8),
      epochShuffleSql(3, 8)),
    "corpus_pack" -> QueryDef(
      (s, d) => packSequencesWith(Tables.documents(s, d),
        Tokenizer.docTokenTable(s, d), seqLen = 256, nShards = 4),
      packSequencesSql(256, 4)),
    "corpus_mixture" -> QueryDef(
      (s, d) => mixtureWeightsWith(Tables.documents(s, d),
        Tokenizer.docTokenTable(s, d), budget = 10000L),
      mixtureWeightsSql(10000L)),
    "corpus_split" -> QueryDef(
      (s, d) => splitAssign(Tables.documents(s, d), trainFrac = 0.8, valFrac = 0.1),
      splitAssignSql(0.8, 0.1)),
    "corpus_curriculum" -> QueryDef(
      (s, d) => curriculumBins(Tables.documents(s, d)), curriculumSql),
    "corpus_datacard" -> QueryDef(
      (s, d) => dataCardPlanted(Tables.documents(s, d)), dataCardSql),
    "corpus_interleave" -> QueryDef(
      (s, d) => interleave(Tables.documents(s, d)), interleaveSql),
    // the end-to-end training-export composition: canonical →
    // decontaminate → shard_assign → pack → interleave → epoch keys in
    // ONE plan, every stage the standalone operator's exact code, the
    // oracle the standalone SQL strings composed as derived tables
    "corpus_export_pipeline" -> QueryDef(
      (s, d) => exportPipeline(s, d), Some(exportPipelineSql))
  )

  def queries: Seq[(String, QueryDef)] = q
}
