package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Retrieval (ranked + phrase search), sketch contracts (Bloom
  * decontamination, count-min heavy hitters), and incremental
  * batch-vs-corpus dedup. */
class SearchSketchSpec extends SparkSuite {

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  // --------------------------------------------------------------- search

  test("rankedSearch: hand-computed rarity-weighted scores, AND semantics") {
    val d = docs(Seq(
      (0L, "s", "x x y"), // tf(x)=2, tf(y)=1
      (1L, "s", "x z"),   // x only → excluded by conjunctive filter
      (2L, "s", "y x")))  // tf 1 each
    // N=3, df(x)=3, df(y)=2 → d0: 2·0 + 1·1 = 1 ; d2: 0 + 1 = 1 → tie,
    // doc_id ascending breaks it
    val out = Search.rankedSearch(d, Seq("x", "y"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((0L, 1L), (2L, 1L)))
  }

  test("rankedSearch: rarer terms dominate the ranking") {
    val d = docs(Seq(
      (0L, "s", "common rare"),                  // one hit of each
      (1L, "s", "common common common rare"),    // more tf on the common term
      (2L, "s", "common x"), (3L, "s", "common y"), (4L, "s", "common z")))
    // df(common)=5, df(rare)=2, N=5 → score0 = 0·1 + 3·1? no:
    // (N−df(common))=0 so only 'rare' contributes; d1 beats d0 on tf? both
    // have tf(rare)=1 → tie → doc_id order
    val out = Search.rankedSearch(d, Seq("common", "rare"), 10).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 3L),
      "score = tf(rare)·(5−2) when the ubiquitous term's weight is zero")
  }

  test("bm25: tf saturation helps, length normalization hurts, rarity dominates") {
    val filler = (1 to 8).map(i => s"f$i").mkString(" ")
    val longFiller = (1 to 28).map(i => s"f$i").mkString(" ")
    val d = docs(Seq(
      (0L, "s", s"cat $filler x"),         // tf 1, len 10
      (1L, "s", s"cat cat $filler"),       // tf 2, len 10 → beats doc 0
      (2L, "s", s"cat $longFiller x")))    // tf 1, len 30 → loses to doc 0
    val out = Search.bm25Search(d, Seq("cat"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._1).toSeq == Seq(1L, 0L, 2L),
      s"expected tf then length to order the docs, got ${out.toSeq}")
    assert(out.map(_._2).distinct.length == 3, "scores must strictly separate")
  }

  test("bm25: a rare term outweighs a common one at equal tf and length") {
    val d = docs(Seq(
      (0L, "s", "rare a b c"),
      (1L, "s", "common a b c"),
      (2L, "s", "common d e f"),
      (3L, "s", "common g h i")))
    val out = Search.bm25Search(d, Seq("rare", "common"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.head._1 == 0L, s"rare-term doc must rank first: ${out.toSeq}")
  }

  test("phraseSearch: adjacency counting, single-token guard, no overflow") {
    val d = docs(Seq(
      (0L, "s", "hash join hash join"), // matches at positions 1 and 3
      (1L, "s", "hash"),                // 1 token: the sequence(1,0) trap
      (2L, "s", "join hash"),           // reversed → no match
      (3L, "s", "a hash join b"),       // 1 match mid-string
      (4L, "s", "x hash")))             // 'hash' last token: i+1 stays in range
    val out = Search.phraseSearch(d, "hash", "join").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(out.toSeq == Seq((0L, 2), (3L, 1)))
  }

  test("phraseSearchN: 3-term adjacency, overlaps, repeated terms, boundaries") {
    val d = docs(Seq(
      (0L, "s", "a b c"),           // exact single match
      (1L, "s", "a b c a b c a b"), // 2 matches; trailing "a b" is partial
      (2L, "s", "a b"),             // shorter than the phrase → no match
      (3L, "s", "c b a"),           // reversed → no match
      (4L, "s", "x a b c"),         // match not at position 0
      (5L, "s", "a c b a b")))      // all terms present, never adjacent
    val out = Search.phraseSearchN(d, Seq("a", "b", "c")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(out.toSeq == Seq((1L, 2), (0L, 1), (4L, 1)))
  }

  test("phraseSearchN: overlapping occurrences and a repeated phrase term") {
    // phrase "a b a" over "a b a b a": starts 0 and 2 OVERLAP at the
    // middle 'a' — both count (same contract as the in-row scan); the
    // repeated term 'a' must fan to offsets {0, 2} without double-count
    val d = docs(Seq((0L, "s", "a b a b a"), (1L, "s", "a b b a")))
    val out = Search.phraseSearchN(d, Seq("a", "b", "a")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(out.toSeq == Seq((0L, 2)))
  }

  test("phraseSearchN ≡ phraseSearch for n = 2 on the corpus") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val a = Search.phraseSearch(d, "hash", "join").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val b = Search.phraseSearchN(d, Seq("hash", "join")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(a == b, "positional-index formulation must match the in-row scan")
  }

  test("phraseSearch plan: narrow map until the final top-k sort") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val p = Search.phraseSearch(d, "hash", "join")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"phrase scan must not shuffle the corpus:\n$p")
    assert(!p.contains("Generate"), "no explode: in-row array scan only")
  }

  // -------------------------------------------------------------- sketches

  test("hybridRrf: fusion recomputes exactly from the two arms") {
    val terms = Seq("vector", "hash", "join")
    val lex = Search.bm25Search(
        graft.core.Tables.documents(spark, sfDir), terms, 25)
      .collect().zipWithIndex
      .map { case (r, i) => r.getLong(0) -> (i + 1) }.toMap
    val vec = Similarity.bruteForceTopK(spark, sfDir, 0L, 25)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def contrib(rank: Option[Int]) =
      rank.map(r => 1000000000L / (60 + r)).getOrElse(0L)
    val expected = (lex.keySet ++ vec.keySet).toSeq
      .map(d => (d, contrib(lex.get(d)) + contrib(vec.get(d)),
        lex.getOrElse(d, 0), vec.getOrElse(d, 0)))
      .sortBy { case (d, s, _, _) => (-s, d) }
      .take(15)
    val got = Search.hybridRrf(spark, sfDir, terms, 0L, 25, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got === expected)
    // the fixture must actually exercise fusion: at least one doc in
    // both arms, and at least one single-arm doc in the output
    assert(got.exists(r => r._3 > 0 && r._4 > 0), "no doc in both arms")
    assert(got.exists(r => r._3 == 0 || r._4 == 0), "no single-arm doc")
  }

  test("bloomDecontaminate: planted overlap is flagged, contracts hold") {
    val d = docs(Seq(
      (0L, "eval", "one two three four"),       // eval grams incl "one two three"
      (1L, "train", "one two three and more stuff here"), // shares a 3-gram
      (2L, "train", "совершенно разные слова здесь совсем другие")))
    val out = Sketches.bloomDecontaminate(d, "eval").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, true), (2L, false)))
    assert(out.forall(t => t._3), "Bloom may never miss a real overlap")
    assert(out.forall(t => t._4), "observed fpp within bound")
  }

  test("bloomDecontaminate: fixture contracts hold corpus-wide") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val bad = Sketches.bloomDecontaminate(d, "src0")
      .filter(!col("no_false_negative") || !col("fpp_ok")).count()
    assert(bad == 0)
  }

  test("cmsTopTokens: exact counts with one-sided error contracts") {
    val d = docs(Seq(
      (0L, "s", "a a a b b c"),
      (1L, "s", "a b d")))
    val out = Sketches.cmsTopTokens(d, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq(("a", 4L), ("b", 3L), ("c", 1L)))
    assert(out.forall(t => t._3 && t._4))
  }

  // ---------------------------------------------------- incremental dedup

  /** Mirror of the engine's salted batch assignment, so tests can plant
    * documents on a KNOWN side of the split. */
  private def inBatch(docId: Long, frac: Double): Boolean = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s"batch:$docId".getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 < frac
  }

  test("hllShardedDistinct: contracts hold at estimating cardinality " +
      "(20k uniques force dense HLL mode, not sparse-exact)") {
    import spark.implicits._
    // 4 shards × 5000 docs, all texts globally unique → n_exact = 20000,
    // far past lgK=12's sparse region, so the ±3·relErr bound is doing
    // real work, not passing on coupon-exact counts
    val docs = (0 until 20000)
      .map(i => (s"shard${i % 4}", s"unique document number $i"))
      .toDF("source", "text")
    val r = Sketches.hllShardedDistinct(docs).collect()(0)
    assert(r.getLong(0) == 20000L && r.getLong(1) == 4L)
    assert(r.getBoolean(2), "merged vs whole estimate outside bound")
    assert(r.getBoolean(3), "merged estimate vs exact outside bound")
  }

  test("incrementalDedup: planted copies exact_dup, crafted edit near_dup") {
    val frac = 0.5
    val batchId = (0L to 50L).find(inBatch(_, frac)).get
    val corpusIds = (0L to 50L).filterNot(inBatch(_, frac)).take(3)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = docs(Seq(
      (batchId, "s", base + " phi"), // near copy of corpusIds(0)'s text
      (corpusIds(0), "s", base + " chi"),
      (corpusIds(1), "s", "completely unrelated words nothing shared at all today"),
      (corpusIds(2), "s", "another standalone corpus document with its own grams")))
    val out = Dedup.incrementalDedup(d, frac, 0.5).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(batchId) == "near_dup",
      s"one-token edit of a corpus doc must band-match: $out")
    // planted copies: corpus ids divisible by 20 reappear offset by max+1
    val off = d.agg(max(col("doc_id"))).head.getLong(0) + 1
    corpusIds.filter(_ % 20 == 0).foreach { id =>
      assert(out(id + off) == "exact_dup") }
  }

  test("XxHash.forString matches the xxhash64 column bit-for-bit") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    import spark.implicits._
    val words = Seq("vector", "hash", "join", "", "a", "ü§ ünïcode")
    val fromCol = words.toDF("w").select(xxhash64(col("w")))
      .collect().map(_.getLong(0))
    assert(fromCol.toSeq === words.map(graft.functions.XxHash.forString))
  }

  test("indexed search returns exactly what the scan-time ranker returns") {
    val corpus = graft.core.Tables.documents(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("textidx").toString
    Search.buildTextIndex(corpus, tmp)
    for (terms <- Seq(Seq("vector", "hash", "join"), Seq("the"), Seq("hash"))) {
      val scan = Search.rankedSearch(corpus, terms, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val idx = Search.rankedSearchIndexed(spark, tmp, terms, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(idx === scan, s"indexed != scan for $terms")
    }
  }

  test("indexed search probe prunes postings partitions (bucket IN)") {
    val tmp = Search.ensureTextIndexIncremental(spark, sfDir)
    val p = Search.rankedSearchIndexed(spark, tmp, Seq("vector", "hash"), 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [bucket"),
      s"bucket literals must land as PartitionFilters:\n$p")
  }

  /** The incremental-maintenance contract: base build + batch merge
    * must equal a full rebuild RELATION-FOR-RELATION — postings, dict
    * and stats, not just query results — so any probe over the merged
    * index is indistinguishable from one over a fresh index. */
  test("incremental index merge equals a full rebuild exactly") {
    val corpus = graft.core.Tables.documents(spark, sfDir)
    val full = java.nio.file.Files.createTempDirectory("tifull").toString
    val inc = java.nio.file.Files.createTempDirectory("tiinc").toString
    Search.buildTextIndex(corpus, full)
    Search.buildTextIndex(corpus.filter(col("doc_id") % 10 =!= 0), inc)
    Search.mergeIntoTextIndex(spark, inc, corpus.filter(col("doc_id") % 10 === 0))
    for (rel <- Seq("postings", "dict", "stats", "lens")) {
      val a = spark.read.parquet(s"$full/$rel")
      val b = spark.read.parquet(s"$inc/$rel").select(a.columns.map(col): _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$rel differs between full rebuild and incremental merge")
    }
    // and the declared probes over the merged index match the scanners
    val scan = Search.rankedSearch(corpus, Seq("vector", "hash", "join"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val idx = Search.rankedSearchIndexed(spark, inc, Seq("vector", "hash", "join"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(idx === scan)
    val bmScan = Search.bm25Search(corpus, Seq("vector", "hash", "join"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bmIdx = Search.bm25SearchIndexed(spark, inc, Seq("vector", "hash", "join"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bmIdx === bmScan, "BM25 over the merged index must equal the scan ranker")
  }

  /** A merge of a batch touching FEW buckets must leave every
    * untouched bucket's files byte-identical (mtime-stable) — the
    * point of bucket-granular maintenance is precisely that the rest
    * of the index is never rewritten. */
  test("incremental merge rewrites only the touched buckets") {
    import spark.implicits._
    val corpus = graft.core.Tables.documents(spark, sfDir)
    val idx = java.nio.file.Files.createTempDirectory("tipart").toString
    Search.buildTextIndex(corpus, idx)
    def bucketDirs() =
      new java.io.File(s"$idx/postings").listFiles()
        .filter(_.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified)).toSeq.sorted)
        .toMap
    val beforeDirs = bucketDirs()
    // one-token batch → exactly one touched bucket
    val batch = Seq((900001L, "zzzuniquetoken")).toDF("doc_id", "text")
    Search.mergeIntoTextIndex(spark, idx, batch)
    val afterDirs = bucketDirs()
    val changed = afterDirs.keySet.filter(k => beforeDirs.get(k) != afterDirs.get(k))
    assert(changed.size === 1, s"expected 1 rewritten bucket, got $changed")
  }

  test("incrementalDedup: statuses partition the batch; corpus never flagged") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val out = Dedup.incrementalDedup(d, 0.1, 0.5).cache()
    try {
      val n = out.count()
      val expectedPlanted = d.filter(!expr(
        "conv(substring(md5(concat('batch:', cast(doc_id as string))), 1, 8), 16, 10) / 4294967296.0 < 0.1")
        && col("doc_id") % 20 === 0).count()
      val expectedSalted = d.count() - d.filter(!expr(
        "conv(substring(md5(concat('batch:', cast(doc_id as string))), 1, 8), 16, 10) / 4294967296.0 < 0.1")).count()
      assert(n == expectedSalted + expectedPlanted)
      assert(out.filter(col("status") === "exact_dup").count() >= expectedPlanted,
        "every planted copy is an exact dup")
      assert(out.select("status").distinct().collect()
        .map(_.getString(0)).toSet.subsetOf(Set("exact_dup", "near_dup", "new")))
    } finally out.unpersist()
  }

  test("spell suggest: deletion/insertion/substitution corrected, " +
      "transposition (distance 2) rejected, frequency breaks ties") {
    import spark.implicits._
    // 'hello' is 3x more frequent than 'hella'; both are distance 1
    // from 'hellx' — frequency must pick 'hello'
    val docs = Seq((1L, "hello hello hello hella world"))
      .toDF("doc_id", "text")
    val got = Search.spellSuggestFromCounts(spark,
      Tokenizer.wordCounts(docs), Seq("helo", "hellx", "wrold", "world", "hella"))
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.get(2)))).toMap
    assert(got("helo")._1 === Some("hello"), "single deletion corrected")
    assert(got("hellx")._1 === Some("hello"), "frequency wins the tie")
    assert(got("world") === ((Some("world"), Some(0))), "exact match, dist 0")
    assert(got("wrold")._1 === None,
      "transposition is Levenshtein 2 — outside the distance-1 gate")
    // distance ranks BEFORE frequency: 'hella' is in the vocab, and the
    // 3x-more-frequent 'hello' sits at distance 1 — the exact hit wins
    assert(got("hella") === ((Some("hella"), Some(0))),
      "an exact vocabulary hit must never be corrected away")
  }

  test("kmv intersect: sub-k sources make the sketch exact; estimates " +
      "track planted overlap direction") {
    import spark.implicits._
    // three tiny sources: a/b share 'one two three four', c is disjoint;
    // every distinct-shingle set is far below k, so the union sketch IS
    // the union and every estimate must equal the exact value
    val docs = Seq(
      (1L, "one two three four alpha beta gamma", "a"),
      (2L, "one two three four delta epsilon zeta", "b"),
      (3L, "totally different words entirely here now", "c"))
      .toDF("doc_id", "text", "source")
    val rows = Sketches.kmvIntersect(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    rows.foreach { case (pair, (eu, xu, ei, xi, ok)) =>
      assert(eu === xu, s"$pair sub-k union must be exact")
      assert(ei === xi, s"$pair sub-k intersect must be exact")
      assert(ok)
    }
    // a∩b shares the 4-token run → 2 shared 3-gram shingles; c overlaps nothing
    assert(rows(("a", "b"))._4 === 2L)
    assert(rows(("a", "c"))._4 === 0L && rows(("b", "c"))._4 === 0L)
  }

  /** KWIC snippets: hit position is 1-based, the context window clamps
    * at the string start, non-matching docs are absent, and the top-k
    * cut orders by (pos, doc_id). */
  test("search_snippet: positions, clamped windows, ordering") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abc vector xyz tail words"),
      (2L, "vector at the very start"),
      (3L, "no match here at all"))
      .toDF("doc_id", "text")
    val got = Search.kwicSnippets(docs, "vector", width = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq === Seq(
      (2L, 1L, "vector at the ve"),          // clamped at start, 16 chars
      (1L, 5L, "abc vector xyz t")))         // pos−5 = 0 → clamp to 1
  }

  test("facets: conjunctive match set, per-cell counts and shares") {
    import spark.implicits._
    val d = Seq(
      (1L, "en", "web", 10L, "x y"),     // matches both terms
      (2L, "en", "web", 20L, "x y z"),   // matches
      (3L, "fr", "lab", 30L, "y x"),     // matches
      (4L, "en", "web", 40L, "x"),       // x only → out
      (5L, "de", "web", 50L, "z"))       // no terms → out
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val got = Search.facetedSearch(d, Seq("x", "y")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      ("en", "web", 2L, 30L, 6666L),
      ("fr", "lab", 1L, 30L, 3333L)))
  }

  test("autocomplete: per-prefix rank, mass floor drops thin prefixes") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha alpha alphabet beta"))
      .toDF("doc_id", "text")
    val got = Search.autocomplete(d, k = 2, minLen = 4, minMass = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    // "alp": alpha(2) then alphabet(1), mass 3 ≥ 2; "beta": mass 1 → out
    assert(got.toSeq === Seq(
      ("alp", 1L, "alpha", 2L), ("alp", 2L, "alphabet", 1L)))
  }

  test("search eval: OR-ranker vs AND-truth, hand MRR and recall") {
    import spark.implicits._
    // query (x, y): doc 1 = "x x x" (3 x, no y → irrelevant, high score),
    // doc 2 = "x y" (relevant). N=3, df(x)=2, df(y)=1 →
    // score1 = 3·(3−2) = 3; score2 = 1·(3−2) + 1·(3−1) = 3 → TIE,
    // doc_id ascending: irrelevant doc 1 ranks first → MRR = 1/2
    val d = Seq(
      (1L, "x x x"), (2L, "x y"), (3L, "z z"))
      .toDF("doc_id", "text")
    val got = Search.searchEval(d, Seq(Seq("x", "y")), k = 10).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getLong(1) === 2L)          // docs ranked (doc 3 matched none)
    assert(r.getLong(2) === 1L)          // one relevant doc
    assert(r.getLong(3) === 2L)          // first relevant at rank 2
    assert(r.getLong(4) === 500000L)     // 10^6 div 2
    assert(r.getLong(5) === 10000L)      // recall@10 complete
  }
}
