package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Corpus-derived greedy tokenizer: hand-checkable vocab + segmentation
  * on a tiny corpus, the longest-match-wins property, and the
  * distinct-word/per-doc consistency the pack/mixture rewire rests on. */
class TokenizerSpec extends SparkSuite {
  import spark.implicits._

  test("greedy segmentation: longest match wins, fallback is one char") {
    // vocab given directly: "abcd" (4), "abc" (3), "ab","cd" (2)
    val v4 = Seq("abcd"); val v3 = Seq("abc"); val v2 = Seq("ab", "cd")
    val got = Seq("abcdx", "abcx", "abxcd", "zzz", "a")
      .toDF("word")
      .select(col("word"),
        Tokenizer.subtokenCount(col("word"), v2, v3, v4).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("abcdx") === 2) // abcd|x — 4 beats 3/2 at pos 1
    assert(got("abcx") === 2)  // abc|x — 3 beats 2
    assert(got("abxcd") === 3) // ab|x|cd
    assert(got("zzz") === 3)   // char fallback ×3
    assert(got("a") === 1)
  }

  test("vocab derivation: exact counts, deterministic tie-break on gram") {
    // "aa" appears 2×2 (inside 'aaa' twice per occurrence... hand corpus:
    // words: aaa ×2, bbb ×1 → 2-grams: aa count 4, bb count 2
    val docs = Seq((1L, "aaa bbb aaa", "s")).toDF("doc_id", "text", "source")
    val wc = Tokenizer.wordCounts(docs)
    val (v2, v3, _) = Tokenizer.vocabOf(wc)
    assert(v2.take(2) === Seq("aa", "bb"))
    assert(v3.take(2) === Seq("aaa", "bbb"))
  }

  test("per-doc counts are the occurrence-weighted distinct-word counts") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val wt = Tokenizer.wordTokens(docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Σ over docs of per-doc n_tokens == Σ over words of n_occ · n_sub
    val perDocTotal = Tokenizer.docTokenCounts(docs)
      .agg(sum(col("n_tokens"))).head.getLong(0)
    val perWordTotal = wt.values.map { case (occ, sub) => occ * sub }.sum
    assert(perDocTotal === perWordTotal)
    // subwording never inflates past characters or below 1
    wt.foreach { case (w, (_, sub)) =>
      assert(sub >= 1 && sub <= w.length, s"$w → $sub")
    }
  }

  test("pack sequences budget exactly on the subword counts") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val packed = Pipeline.packSequencesWith(docs, Tokenizer.docTokenCounts(docs),
      seqLen = 256, nShards = 4)
    val viaTok = Tokenizer.docTokenCounts(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    packed.select("doc_id", "n_tokens").collect().foreach { r =>
      assert(r.getLong(1) === viaTok(r.getLong(0)))
    }
  }

  test("mergePass: sequential greedy, not string-replace — aaaa → aa aa") {
    def run(syms: Seq[String], a: String, b: String): Seq[String] =
      Seq(Tuple1(syms)).toDF("syms")
        .select(Tokenizer.mergePass(col("syms"), a, b).as("m"))
        .head().getSeq[String](0)
    assert(run(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    assert(run(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(run(Seq("x", "a", "b", "y"), "a", "b") === Seq("x", "ab", "y"))
    assert(run(Seq("a", "b"), "a", "b") === Seq("ab"))
    assert(run(Seq("b", "a"), "a", "b") === Seq("b", "a"))
    assert(run(Seq("z"), "a", "b") === Seq("z"))
  }

  test("bpe training: hand-computed merge table, weights count") {
    // "aab" ×3, "ab" ×1 → pairs: (a,a)=3, (a,b)=4 → rank 1 merges (a,b)
    // round 2 symbols: a,ab ×3 / ab ×1 → pairs: (a,ab)=3 → rank 2
    val docs = Seq((1L, "aab aab ab"), (2L, "aab"))
      .toDF("doc_id", "text")
    val got = Tokenizer.bpeTrainFromCounts(Tokenizer.wordCounts(docs), 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "b", 4L), (2, "a", "ab", 3L)))
  }

  test("bpe training is bit-identical across partitionings") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    def run(parts: Int) =
      Tokenizer.bpeTrainFromCounts(
        Tokenizer.wordCounts(docs.repartition(parts)), 3)
        .collect().map(_.toSeq).toSeq
    assert(run(2) === run(8))
  }
}
