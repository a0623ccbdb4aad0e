package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** Corpus-derived subword tokenizer (SURVEY §2.11 T1/T2): a
  * deterministic vocabulary — the top-`VocabQuota` character n-grams
  * per length (2..4) by EXACT occurrence-weighted count, ties broken on
  * the gram string — and greedy longest-match segmentation of each word
  * against it, all in integer/string ops (no float, no RNG), so the
  * whole train-vocab → tokenize chain is bit-identical in any engine
  * and sits behind the DuckDB hash gate (`corpus_tokenize`), via a
  * recursive-CTE segmentation oracle (the `dedup_clusters_md5`
  * recursion pattern applied to a string automaton).
  *
  * This replaces the whitespace-token proxy as the unit of account for
  * `corpus_pack` / `corpus_mixture`: token budgets that drive packing
  * and mixture weighting are what a trainer actually consumes, and a
  * whitespace count misprices them.
  *
  * Scale shape (100 TB): everything expensive happens on the DISTINCT
  * word relation, which is vocabulary-sized, not corpus-sized —
  * n-gram counting explodes distinct words weighted by their exact
  * occurrence counts (one corpus-wide partial-aggregated reduction
  * produces those), and the greedy automaton runs once per distinct
  * word. Documents then get token counts through a broadcast join
  * against that tiny (word → n_sub) relation plus one per-doc
  * reduction. The corpus is scanned once; the quadratic-looking
  * matcher never touches it. The vocab itself is O(3·quota) strings —
  * a driver-side literal, the kmeans-centroid precedent. */
object Tokenizer {

  /** Per-length vocabulary quota. 40×3 grams ≪ any broadcast limit;
    * raise for a real training vocab — the plan shape is unchanged. */
  val VocabQuota = 40

  /** Algorithm version of the vocab-derivation + greedy-segmentation
    * chain, the ParquetMemo key for every standing token relation below
    * — bump whenever `wordCounts`/`vocabOf`/`subtokenCount` semantics
    * change, or a stale relation silently serves old counts. */
  private[ext] val TokenizerVersion = s"v1-greedy234-q$VocabQuota"

  /** Distinct words with exact occurrence counts — the ONE
    * corpus-sized reduction everything downstream reuses. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(
        graft.functions.WordShingles.word_ngrams(col("text"), 1)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_occ"))

  private def vocabForLen(wc: DataFrame, len: Int): Seq[String] =
    wc.filter(length(col("word")) >= len)
      .select(explode(transform(
        sequence(lit(1), length(col("word")) - (len - 1)),
        i => col("word").substr(i, lit(len)))).as("g"), col("n_occ"))
      .groupBy(col("g")).agg(sum(col("n_occ")).as("c"))
      .orderBy(col("c").desc, col("g"))
      .limit(VocabQuota)
      .collect().map(_.getString(0)).toSeq

  /** The derived vocabulary: (2-grams, 3-grams, 4-grams), each the
    * exact deterministic top-`VocabQuota`. Bounded driver collect. */
  def vocabOf(wc: DataFrame): (Seq[String], Seq[String], Seq[String]) =
    (vocabForLen(wc, 2), vocabForLen(wc, 3), vocabForLen(wc, 4))

  /** Greedy longest-match subtoken count of one word, as a pure fold
    * over character positions: state (pos, cnt) advances by the longest
    * vocab gram matching at pos (4, then 3, then 2), else by one
    * character (the byte-fallback every real tokenizer carries). A
    * truncated end-of-word substring can never false-match: it has the
    * wrong length for its array. Integer automaton — no UDF, no float. */
  def subtokenCount(word: Column, v2: Seq[String], v3: Seq[String],
      v4: Seq[String]): Column = {
    def inVocab(v: Seq[String], s: Column): Column =
      if (v.isEmpty) lit(false) else array_contains(array(v.map(lit): _*), s)
    aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), lit(0L).as("cnt")),
      (st, i) => {
        val pos = st.getField("pos")
        val cnt = st.getField("cnt")
        val m = when(inVocab(v4, word.substr(pos, lit(4))), 4)
          .when(inVocab(v3, word.substr(pos, lit(3))), 3)
          .when(inVocab(v2, word.substr(pos, lit(2))), 2)
          .otherwise(1)
        when(i === pos,
          struct((pos + m).as("pos"), (cnt + lit(1L)).as("cnt")))
          .otherwise(st)
      },
      st => st.getField("cnt"))
  }

  /** (word, n_occ, n_sub): the tokenized distinct-word relation. */
  def wordTokens(docs: DataFrame): DataFrame = {
    // the distinct-word relation is vocabulary-sized; checkpoint it so
    // the three vocab rankings and the final segmentation all read the
    // one corpus reduction instead of re-scanning the corpus
    val wc = wordCounts(docs).localCheckpoint(true)
    val (v2, v3, v4) = vocabOf(wc)
    wc.select(col("word"), col("n_occ"),
      subtokenCount(col("word"), v2, v3, v4).as("n_sub"))
  }

  /** Per-document subword token counts: explode → broadcast join
    * against the (word → n_sub) relation → one partial-aggregated
    * reduction. Documents with no words simply have no row. */
  def docTokenCounts(docs: DataFrame): DataFrame =
    docTokenCountsWith(docs, wordTokens(docs))

  /** [[docTokenCounts]] over an explicitly supplied (word, n_sub)
    * relation — the seam standing-table callers go through so the
    * vocab + segmentation chain is not re-derived per query. */
  def docTokenCountsWith(docs: DataFrame, wordTok: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.WordShingles.word_ngrams(col("text"), 1))
          .as("word"))
      .join(broadcast(wordTok.select(col("word"), col("n_sub"))), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_sub")).as("n_tokens"))

  /** STANDING (word, n_occ, n_sub) relation over the corpus — the
    * `Dedup.shingleTable` discipline applied to the tokenizer: the
    * vocab derivation + greedy segmentation is a pure function of the
    * corpus snapshot, so at 100 TB nobody re-trains the vocabulary per
    * query; it is paid once per (snapshot, algorithm version) and every
    * tokenizer consumer reads this vocabulary-sized columnar table. */
  def wordTokenTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.ParquetMemo.ensureRead(spark, s"$dir/documents.parquet",
      "wordtokens", TokenizerVersion)(
      wordTokens(Tables.documents(spark, dir)))

  /** STANDING (doc_id, n_tokens) relation — the per-doc reduction over
    * [[wordTokenTable]], memoized because pack/mixture/fertility/export
    * all start from exactly this relation: one corpus-sized
    * explode+join pass per snapshot instead of one per query. */
  def docTokenTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.ParquetMemo.ensureRead(spark, s"$dir/documents.parquet",
      "doctokens", TokenizerVersion)(
      docTokenCountsWith(Tables.documents(spark, dir),
        wordTokenTable(spark, dir)))

  /** The shared oracle CTE chain: vocab derivation + recursive greedy
    * segmentation + per-doc counts, mirroring the engine exactly.
    * Callers must open with `WITH RECURSIVE`. */
  val ctesSql: String =
    s"""tok_words AS (
       |  SELECT word, COUNT(*) AS n_occ FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |tok_v2 AS (
       |  SELECT g FROM (
       |    SELECT substr(word, i, 2) AS g, SUM(n_occ) AS c
       |    FROM (SELECT word, n_occ, unnest(range(1, length(word))) AS i
       |          FROM tok_words WHERE length(word) >= 2)
       |    GROUP BY g)
       |  ORDER BY c DESC, g LIMIT $VocabQuota),
       |tok_v3 AS (
       |  SELECT g FROM (
       |    SELECT substr(word, i, 3) AS g, SUM(n_occ) AS c
       |    FROM (SELECT word, n_occ, unnest(range(1, length(word) - 1)) AS i
       |          FROM tok_words WHERE length(word) >= 3)
       |    GROUP BY g)
       |  ORDER BY c DESC, g LIMIT $VocabQuota),
       |tok_v4 AS (
       |  SELECT g FROM (
       |    SELECT substr(word, i, 4) AS g, SUM(n_occ) AS c
       |    FROM (SELECT word, n_occ, unnest(range(1, length(word) - 2)) AS i
       |          FROM tok_words WHERE length(word) >= 4)
       |    GROUP BY g)
       |  ORDER BY c DESC, g LIMIT $VocabQuota),
       |tok_seg AS (
       |  SELECT word, 1 AS pos, CAST(0 AS BIGINT) AS cnt FROM tok_words
       |  UNION ALL
       |  SELECT word,
       |    pos + CASE
       |      WHEN substr(word, pos, 4) IN (SELECT g FROM tok_v4) THEN 4
       |      WHEN substr(word, pos, 3) IN (SELECT g FROM tok_v3) THEN 3
       |      WHEN substr(word, pos, 2) IN (SELECT g FROM tok_v2) THEN 2
       |      ELSE 1 END,
       |    cnt + 1
       |  FROM tok_seg WHERE pos <= length(word)),
       |tok_wordtok AS (
       |  SELECT word, MAX(cnt) AS n_sub FROM tok_seg GROUP BY word),
       |tok_doc AS (
       |  SELECT doc_id, CAST(SUM(n_sub) AS BIGINT) AS n_tokens FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |    FROM documents)
       |  JOIN tok_wordtok USING (word)
       |  GROUP BY doc_id)""".stripMargin

  private val tokenizeSql: String =
    s"""WITH RECURSIVE
       |$ctesSql
       |SELECT w.word, w.n_occ, CAST(length(w.word) AS INT) AS word_len,
       |       t.n_sub
       |FROM tok_words w JOIN tok_wordtok t USING (word)
       |ORDER BY w.word""".stripMargin

  // --------------------------------------------------- BPE training

  /** Per-word character symbols — the round-0 state of BPE training.
    * Derived via substr (the segmentation automaton's proven-portable
    * character semantics), not split-on-empty. */
  private def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** One greedy left-to-right merge pass of pair (a, b) over a symbol
    * array — the `subtokenCount` pos-pointer automaton with a merge
    * step: at each live position, consume 2 symbols when (a, b) sits
    * there, else 1. "a a a a" → "aa aa" (the classic sequential-BPE
    * semantics, which plain string replace gets wrong: its match
    * consumes the separator the next candidate needs). Bounds stay
    * ANSI-safe behind lazy CASE branches. */
  def mergePass(syms: Column, a: String, b: String): Column =
    aggregate(
      sequence(lit(1), size(syms)),
      struct(lit(1).as("pos"), array().cast("array<string>").as("out")),
      (st, i) => {
        val pos = st.getField("pos")
        val out = st.getField("out")
        val cur = element_at(syms, pos)
        val nxt = when(pos < size(syms), element_at(syms, pos + 1))
        when(i === pos,
          when(cur === lit(a) && nxt === lit(b),
            struct((pos + 2).as("pos"),
              concat(out, array(lit(a + b))).as("out")))
            .otherwise(struct((pos + 1).as("pos"),
              concat(out, array(cur)).as("out"))))
          .otherwise(st)
      },
      st => st.getField("out"))

  /** BPE merge-table training (Sennrich et al., ACL 2016) over the
    * occurrence-weighted distinct-word relation: each round counts all
    * adjacent symbol pairs (overlaps included, weights exact BIGINTs),
    * adopts the (count DESC, pair ASC)-deterministic argmax as the
    * round's merge rule, and rewrites every word by one greedy
    * `mergePass`. Output is the learned artifact itself — the ranked
    * merge table (rank, left, right, exact weighted count) a tokenizer
    * ships with.
    *
    * Scale shape: the `wordTokens` discipline — every round is one
    * partial-aggregated pair count over the VOCABULARY-sized symbol
    * relation plus a narrow rewrite map; the argmax row is bounded
    * driver metadata (the kmeans-centroid precedent), and the corpus
    * itself is scanned exactly once by `wordCounts`.
    *
    * Training reads an explicitly supplied (word, n_occ) relation
    * (`wordCounts` of a corpus) — the standing-table seam: the one
    * corpus scan BPE training needs is the word-count reduction, which
    * [[wordTokenTable]] already holds. */
  def bpeTrainFromCounts(wc: DataFrame, rounds: Int): DataFrame = {
    import wc.sparkSession.implicits._
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var syms = wc
      .select(col("n_occ"), charSyms(col("word")).as("syms"))
      .localCheckpoint(true)
    val merges = (1 to rounds).map { r =>
      val best = syms
        .filter(size(col("syms")) >= 2)
        .select(col("n_occ"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> named_struct('a', element_at(syms, i),
            |                    'b', element_at(syms, i + 1)))""".stripMargin))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n_occ")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).head()
      val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
      if (r < rounds)
        syms = syms
          .select(col("n_occ"), mergePass(col("syms"), a, b).as("syms"))
          .localCheckpoint(true)
      (r, a, b, c)
    }
    merges.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      .orderBy(col("merge_rank"))
  }

  def bpeTrainSql(rounds: Int): String = {
    // per-round CTE triple: pN = the argmax pair over sN−1, mN = the
    // greedy pos-pointer merge recursion, sN = the rewritten relation
    val roundCtes = (1 to rounds).map { n =>
      val merge =
        if (n == rounds) "" // the last round only ranks, never rewrites
        else s""",
          |m$n AS (
          |  SELECT n_occ, syms, 1 AS pos, CAST([] AS VARCHAR[]) AS out
          |  FROM s${n - 1}
          |  UNION ALL
          |  SELECT n_occ, syms,
          |    pos + CASE WHEN syms[pos] = (SELECT a FROM p$n)
          |                AND pos < len(syms)
          |                AND syms[pos + 1] = (SELECT b FROM p$n)
          |               THEN 2 ELSE 1 END,
          |    list_append(out,
          |      CASE WHEN syms[pos] = (SELECT a FROM p$n)
          |            AND pos < len(syms)
          |            AND syms[pos + 1] = (SELECT b FROM p$n)
          |           THEN syms[pos] || syms[pos + 1] ELSE syms[pos] END)
          |  FROM m$n WHERE pos <= len(syms)),
          |s$n AS (SELECT n_occ, out AS syms FROM m$n WHERE pos > len(syms))""".stripMargin
      s"""p$n AS (
         |  SELECT a, b, c FROM (
         |    SELECT syms[i] AS a, syms[i + 1] AS b, SUM(n_occ) AS c
         |    FROM (SELECT n_occ, syms, unnest(range(1, len(syms))) AS i
         |          FROM s${n - 1} WHERE len(syms) >= 2)
         |    GROUP BY 1, 2)
         |  ORDER BY c DESC, a, b LIMIT 1)$merge""".stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds)
      .map(n => s"SELECT CAST($n AS INT) AS merge_rank, a AS left_sym," +
        s" b AS right_sym, CAST(c AS BIGINT) AS pair_count FROM p$n")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE w AS (
       |  SELECT word, COUNT(*) AS n_occ FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |s0 AS (
       |  SELECT n_occ, list_transform(range(1, length(word) + 1),
       |           i -> substr(word, CAST(i AS INT), 1)) AS syms
       |  FROM w),
       |$roundCtes
       |SELECT * FROM (
       |  $unions)
       |ORDER BY merge_rank""".stripMargin
  }

  // both declared queries serve from the standing relation (the engine
  // memoizes; the oracle recomputes the whole chain from scratch, so
  // the gate still proves the build, not just the readback)
  def queries: Seq[(String, QueryDef)] = Seq(
    "corpus_bpe_train" -> QueryDef(
      (s, d) => bpeTrainFromCounts(
        wordTokenTable(s, d).select(col("word"), col("n_occ")), 3),
      bpeTrainSql(3)),
    "corpus_tokenize" -> QueryDef(
      (s, d) => wordTokenTable(s, d)
        .select(col("word"), col("n_occ"),
          length(col("word")).cast("int").as("word_len"), col("n_sub"))
        .orderBy(col("word")),
      tokenizeSql))
}
