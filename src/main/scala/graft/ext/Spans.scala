package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables, Width}

/** Span-level (substring) exact deduplication — the suffix-array-style
  * pass of Lee et al., "Deduplicating Training Data Makes Language
  * Models Better" (ACL 2022), re-expressed relationally: a duplicated
  * SPAN is a maximal run of token positions whose w-token grams each
  * occur more than once in the corpus. Doc-level dedup (ext/Dedup)
  * misses these — two distinct documents quoting the same boilerplate
  * paragraph are not near-duplicates, but the paragraph still trains
  * the model on repeated data. The reference engine has no such pass;
  * this is [EXT] SURVEY §2.11 territory.
  *
  * Relational shape instead of a suffix array: positional w-grams
  * (doc_id, pos, md5(gram)) — the same information a suffix array's
  * LCP>=w intervals carry, reachable with one explode + one
  * aggregation, no global sort of the corpus.
  *
  * Scale design (100 TB):
  *   - The (doc × positions) explode is the algorithm's inherent size
  *     (a suffix array also touches every token); it is a narrow map.
  *   - Per-gram stats go through groupBy, NOT a window over g: map-side
  *     partial aggregation collapses repeated grams BEFORE the shuffle,
  *     which is what survives boilerplate skew (one gram repeated 10^6
  *     times arrives as one row per map task, not 10^6 rows at one
  *     reducer). The join back on g is AQE-skew-splittable.
  *   - Only duplicated grams (a small fraction of any real corpus)
  *     survive into the island/window stages; the per-doc window is
  *     bounded by document length.
  *
  * The md5 gram hash makes the whole chain ANSI-reproducible, so both
  * queries carry FULL DuckDB oracles (the md5-family trick from
  * ext/Dedup).
  */
object Spans {

  /** Default gram width: long enough that duplicated spans are real
    * boilerplate, short enough to fire on the fixture's ~56-token docs.
    * (Lee et al. use 50 BPE tokens at web scale; w scales with typical
    * document length.) */
  val W = 8

  /** Positional w-grams: one row per gram start position, 1-based.
    * `g` is md5 of the space-joined w tokens — portable across engines.
    * The token array is bound once (Dedup.bind) so projection collapse
    * cannot re-split `text` per element. */
  def positionalGrams(docs: DataFrame, w: Int = W): DataFrame = {
    // no explicit re-spread: Tables.documents already hash-spreads the
    // single-row-group fixture scan by doc_id (core.Tables)
    docs
      .select(col("doc_id"),
        posexplode(Dedup.bind(Dedup.tokens(col("text"))) { ts =>
          when(size(ts) < w, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(ts) - (w - 1)), i =>
              md5(concat_ws(" ",
                (0 until w).map(o => element_at(ts, i + o)): _*))))
        }).as(Seq("off", "g")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"),
        col("g"))
  }

  /** Maximal duplicated spans: (doc_id, span_start, span_end, n_grams),
    * token indices 1-based inclusive, n_grams = duplicated gram starts
    * merged into the span. Island merge is the classic
    * pos − row_number() grouping per document. */
  def duplicatedSpans(docs: DataFrame, w: Int = W): DataFrame = {
    val grams0 = positionalGrams(docs, w)
    val isl = duplicatedOccurrences(grams0, Width.windowFits(grams0))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    isl
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (w - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** (doc_id, pos) of every occurrence of a gram that occurs more than
    * once, in one of two row-identical shapes (pinned in
    * GramShapeSpec); callers choose with `Width.windowFits(grams0)`, the
    * `Dedup.gramDfAttached` rule. `window`: ONE count window over a
    * single gram derivation — the window shape measures ~35% faster at
    * sf0.1. Otherwise a partial-aggregating count + shuffled-hash
    * semi-join, because boilerplate grams are exactly the hot keys this
    * query hunts and a corpus-scale occurrence list must stream, not
    * fill one window sorter (§2.5); the persist keeps the
    * md5-per-position pass at one execution there. */
  private[ext] def duplicatedOccurrences(grams0: DataFrame,
      window: Boolean): DataFrame =
    (if (window)
      grams0
        .withColumn("c", count(lit(1)).over(Window.partitionBy(col("g"))))
        .where(col("c") > 1)
    else {
      val grams = grams0.persist()
      grams.join(
        grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
          .where(col("c") > 1).hint("shuffle_hash"),
        Seq("g"), "left_semi")
    }).select(col("doc_id"), col("pos"))

  /** (doc_id, pos) of every scrubbable gram occurrence — duplicated AND
    * not the gram's global-first occurrence. Both per-gram facts (count,
    * first occurrence) come from one pass, in the two row-identical
    * shapes of [[duplicatedOccurrences]]: the shared-spec window pair,
    * or a partial-aggregating stats + shuffled-hash join-back. */
  private[ext] def scrubbableOccurrences(grams0: DataFrame,
      window: Boolean): DataFrame =
    (if (window) {
      val wG = Window.partitionBy(col("g"))
      grams0
        .withColumn("c", count(lit(1)).over(wG))
        .withColumn("first_occ",
          min(struct(col("doc_id"), col("pos"))).over(wG))
        .where(col("c") > 1 &&
          struct(col("doc_id"), col("pos")) =!= col("first_occ"))
    } else {
      val grams = grams0.persist()
      val stats = grams.groupBy(col("g"))
        .agg(count(lit(1)).as("c"),
          min(struct(col("doc_id"), col("pos"))).as("first_occ"))
        .where(col("c") > 1)
      grams
        .join(stats.hint("shuffle_hash"), Seq("g"))
        .where(struct(col("doc_id"), col("pos")) =!= col("first_occ"))
    }).select(col("doc_id"), col("pos"))

  /** Scrub transform — the Lee-et-al. payoff: rewrite the corpus with
    * every duplicated span removed EXCEPT its first occurrence. An
    * occurrence (doc_id, pos) of a duplicated gram is scrubbable iff it
    * is not that gram's global-first occurrence; scrubbable positions
    * merge into removal spans; tokens covered by a removal span are
    * dropped and the document is re-joined with single spaces (the
    * output is whitespace-normalized by construction — `tokens` is the
    * defined text algebra, as everywhere else in the engine).
    *
    * Returns (doc_id, clean_text, n_removed) for EVERY document; docs
    * with nothing to scrub pass through (normalized) unchanged.
    */
  def scrubSpans(docs: DataFrame, w: Int = W): DataFrame =
    scrubFromGrams(docs, positionalGrams(docs, w), w)

  private def scrubFromGrams(docs: DataFrame, grams0: DataFrame,
                             w: Int): DataFrame = {
    // merge scrubbable occurrences into removal spans (same island
    // trick as duplicatedSpans)
    val spans = scrubbableOccurrences(grams0, Width.windowFits(grams0))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("rm_start"),
        (max(col("pos")) + (w - 1)).as("rm_end"))
      .select(col("doc_id"), col("rm_start"), col("rm_end"))
    // token stream; covered tokens dropped via a per-doc range join —
    // fanout is bounded by spans-per-doc, and only docs that HAVE
    // removal spans pay it
    val toks = docs.select(col("doc_id"),
      posexplode(Dedup.tokens(col("text"))).as(Seq("off", "tok")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("idx"),
        col("tok"))
    // explicit aliases: toks and spans share `docs` lineage, so an
    // unqualified doc_id === doc_id would construct a trivially-true
    // predicate and lean on Spark's self-join disambiguation
    val kept = toks.as("tk")
      .join(spans.as("sp"),
        col("tk.doc_id") === col("sp.doc_id") &&
          col("tk.idx").between(col("sp.rm_start"), col("sp.rm_end")),
        "left_anti")
    val rebuilt = kept
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    // every doc appears, even fully-scrubbed ones (clean_text = '')
    docs
      .select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("n_toks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------- oracles

  private def gramsCte(w: Int): String =
    s"""t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |pg AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |         md5(array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + ${w - 1}), ' ')) AS g
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - ${w - 1} + 1)) AS i) r
       |  WHERE len(toks) >= $w)""".stripMargin

  def duplicatedSpansSql(w: Int = W): String =
    s"""WITH ${gramsCte(w)},
       |dup AS (SELECT g FROM pg GROUP BY g HAVING COUNT(*) > 1),
       |marked AS (SELECT doc_id, pos FROM pg WHERE g IN (SELECT g FROM dup)),
       |isl AS (
       |  SELECT doc_id, pos,
       |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM marked)
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${w - 1} AS span_end,
       |       COUNT(*) AS n_grams
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin

  def scrubSpansSql(w: Int = W): String =
    s"""WITH ${gramsCte(w)},
       |gs AS (
       |  SELECT g, COUNT(*) AS c, MIN(ROW(doc_id, pos)) AS first_occ
       |  FROM pg GROUP BY g HAVING COUNT(*) > 1),
       |scrub AS (
       |  SELECT pg.doc_id, pg.pos FROM pg JOIN gs USING (g)
       |  WHERE ROW(pg.doc_id, pg.pos) <> gs.first_occ),
       |spans AS (
       |  SELECT doc_id, MIN(pos) AS rm_start, MAX(pos) + ${w - 1} AS rm_end
       |  FROM (SELECT doc_id, pos,
       |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM scrub)
       |  GROUP BY doc_id, grp),
       |toks AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS idx, toks[CAST(i AS INT)] AS tok
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) r),
       |kept AS (
       |  SELECT tk.doc_id, tk.idx, tk.tok FROM toks tk
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM spans s
       |    WHERE s.doc_id = tk.doc_id AND tk.idx BETWEEN s.rm_start AND s.rm_end)),
       |rebuilt AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
       |         COUNT(*) AS n_kept
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id,
       |       COALESCE(r.clean_text, '') AS clean_text,
       |       len(t.toks) - COALESCE(r.n_kept, 0) AS n_removed
       |FROM t LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** CCNet-style cross-document sentence dedup report (Wenzek et al.
    * 2020 dedup granularity): hash every trimmed sentence (the
    * `text_sentences` `[.!?]+` split convention), count DISTINCT
    * documents per hash, and report per doc how much of it is
    * boilerplate shared with other docs — n_sents, n_dup_sents
    * (sentence also in ≥ 1 other doc), dup_pct_bp in exact basis
    * points. The granularity between `dedup_exact` (whole doc) and
    * `dedup_spans` (positional w-grams): the one CCNet actually dedups
    * CommonCrawl at.
    *
    * Scale shape: one explode → per-(hash) distinct-doc count (two
    * partial-aggregated reduces) → join back on hash → one per-doc
    * reduce. The hash relation is sentence-vocabulary-sized; nothing
    * quadratic anywhere. */
  def sentenceDedupReport(docs: DataFrame): DataFrame = {
    val sents = docs
      .select(col("doc_id"), explode(filter(transform(
        split(col("text"), "[.!?]+"), x => trim(x)), x => x =!= ""))
        .as("sent"))
      .select(col("doc_id"), md5(col("sent")).as("h"))
    val docsPerHash = sents.distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs_with"))
    sents.join(docsPerHash, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L))
          .as("n_dup_sents"))
      .select(col("doc_id"), col("n_sents"), col("n_dup_sents"),
        expr("(n_dup_sents * 10000) div n_sents").as("dup_pct_bp"))
      .orderBy(col("doc_id"))
  }

  val sentenceDedupReportSql: String =
    """WITH s AS (
      |  SELECT doc_id, md5(sent) AS h FROM (
      |    SELECT doc_id, unnest(list_filter(list_transform(
      |      regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
      |      x -> x <> '')) AS sent
      |    FROM documents)),
      |d AS (
      |  SELECT h, COUNT(DISTINCT doc_id) AS n_docs_with FROM s GROUP BY h)
      |SELECT doc_id, COUNT(*) AS n_sents,
      |  CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_sents,
      |  CAST((SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) * 10000)
      |    // COUNT(*) AS BIGINT) AS dup_pct_bp
      |FROM s JOIN d USING (h)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- queries

  def queries: Seq[(String, QueryDef)] = Seq(
    "dedup_sentences" -> QueryDef(
      (s, dir) => sentenceDedupReport(Tables.documents(s, dir)),
      sentenceDedupReportSql),
    "dedup_spans" -> QueryDef(
      (s, dir) => duplicatedSpans(Tables.documents(s, dir)),
      duplicatedSpansSql()),
    "dedup_span_scrub" -> QueryDef(
      (s, dir) => scrubSpans(Tables.documents(s, dir)),
      scrubSpansSql()))
}
