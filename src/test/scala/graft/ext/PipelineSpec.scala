package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Training-prep operators: sequence packing, mixture weighting,
  * deterministic splits (SURVEY §2.11 — packing/mixture/split rows). */
class PipelineSpec extends SparkSuite {

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  test("packSequences: exact bin arithmetic on a hand-computed shard") {
    // one source, nShards = 1 → a single running sum we can do by hand
    val d = docs(Seq(
      (0L, "s", "a b c d"),        // 4 tokens, cum 4  → seq 0..0
      (1L, "s", "e f g"),          // 3 tokens, cum 7  → seq 0..0
      (2L, "s", "h i j k l m"),    // 6 tokens, cum 13 → starts in 0, ends in 1
      (3L, "s", "n o")))           // 2 tokens, cum 15 → seq 1..1
    val out = Pipeline.packSequencesWith(d, Tokenizer.docTokenCounts(d),
      seqLen = 8, nShards = 1)
      .select("doc_id", "first_seq", "last_seq", "straddles").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (0L, 0L, 0L, false), (1L, 0L, 0L, false),
      (2L, 0L, 1L, true), (3L, 1L, 1L, false)))
  }

  test("packSequences: token conservation and contiguity per shard") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val packed = Pipeline.packSequencesWith(d, Tokenizer.docTokenCounts(d),
      seqLen = 64, nShards = 4).cache()
    try {
      // every shard starts at sequence 0 (no leading hole)
      val starts = packed.groupBy("source", "shard")
        .agg(min("first_seq").as("m")).collect()
      assert(starts.nonEmpty && starts.forall(_.getAs[Long]("m") == 0L))
      // a document longer than seqLen MUST straddle; one shorter spans ≤ 2 bins
      val bad = packed.filter(
        (col("n_tokens") > 64 && !col("straddles")) ||
          (col("last_seq") - col("first_seq") > col("n_tokens").cast("long") / 64 + 1))
        .count()
      assert(bad == 0)
      // shard-local packing: last bin index implies total tokens in shard
      val tok = packed.groupBy("source", "shard")
        .agg(sum("n_tokens").as("t"), max("last_seq").as("l")).collect()
      assert(tok.forall(r =>
        r.getAs[Long]("l") == (r.getAs[Long]("t") - 1) / 64))
    } finally packed.unpersist()
  }

  test("packSequences: empty documents are excluded, never bin-shifted") {
    val d = docs(Seq((0L, "s", "a b"), (1L, "s", ""), (2L, "s", "   "),
      (3L, "s", "c d e")))
    val out = Pipeline.packSequencesWith(d, Tokenizer.docTokenCounts(d),
      seqLen = 4, nShards = 1).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 3L),
      "zero-token docs contribute nothing to any sequence")
    // doc 3 starts right after doc 0's two tokens: cum 2 → first_seq 0
    assert(out.last.getAs[Long]("first_seq") == 0L &&
      out.last.getAs[Long]("last_seq") == 1L)
  }

  test("packSequences: invariant under input partitioning (the 100 TB property)") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val a = Pipeline.packSequencesWith(d, Tokenizer.docTokenCounts(d),
      32, 4).collect().toSeq
    val b = Pipeline.packSequencesWith(d.repartition(13),
      Tokenizer.docTokenCounts(d.repartition(13)), 32, 4).collect().toSeq
    assert(a == b)
  }

  test("mixtureWeights: weights normalize, order by sqrt of token mass") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val m = Pipeline.mixtureWeightsWith(d, Tokenizer.docTokenCounts(d),
      budget = 1000L).collect()
    val wsum = m.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-9, s"weights must sum to 1, got $wsum")
    // temperature scaling preserves the token-mass ORDER but compresses it:
    // weight ratio between any two sources is milder than their mass ratio
    val byTok = m.sortBy(_.getAs[Long]("n_tokens"))
    byTok.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Double]("weight") <= hi.getAs[Double]("weight") + 1e-15)
    }
    val (lo, hi) = (byTok.head, byTok.last)
    if (lo.getAs[Long]("n_tokens") > 0 && hi.getAs[Long]("n_tokens") > lo.getAs[Long]("n_tokens")) {
      val massRatio = hi.getAs[Long]("n_tokens").toDouble / lo.getAs[Long]("n_tokens")
      val weightRatio = hi.getAs[Double]("weight") / lo.getAs[Double]("weight")
      assert(weightRatio < massRatio,
        s"sqrt temperature must compress the ratio: $weightRatio vs $massRatio")
    }
    // allocations never exceed the budget
    assert(m.map(_.getAs[Long]("alloc_docs")).sum <= 1000L)
  }

  test("curriculumBins: quartiles are balanced per source and grade on " +
      "the declared quality score") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val bins = Pipeline.curriculumBins(d).collect()
    assert(bins.length == 500)
    bins.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val sizes = rs.groupBy(_.getAs[Int]("quartile")).view.mapValues(_.size)
      assert(sizes.keySet == Set(1, 2, 3, 4), s"$src: ${sizes.toMap}")
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$src: NTILE quartiles must differ by at most one: ${sizes.toMap}")
      // within a source, a strictly better score never lands in a
      // strictly later quartile (ties may split across a boundary)
      val byScore = rs.sortBy(r => (-r.getAs[Double]("score"), r.getLong(1)))
      assert(byScore.map(_.getAs[Int]("quartile")).toSeq ==
        byScore.map(_.getAs[Int]("quartile")).sorted.toSeq)
    }
  }

  test("dataCard: cells cross-check against independent per-source scans") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val card = Pipeline.dataCard(d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(card.size == 20)
    // fixture has no exact dups at this SF → dup branch must read zero
    assert(card.values.forall(_.getAs[Long]("n_dup_docs") == 0L))
    val src0 = d.filter(col("source") === "src0")
    assert(card("src0").getAs[Long]("n_docs") == src0.count())
    val tokCount = src0
      .select(size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
      .collect().map(_.getLong(0))
    assert(card("src0").getAs[Long]("n_tokens") == tokCount.sum)
    assert(card("src0").getAs[Long]("max_tokens") == tokCount.max)
    // the planted declared surface: every 39th doc duplicated ⇒ both the
    // original and the plant count as dup docs, nothing else changes
    val planted = Pipeline.dataCardPlanted(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val totalDups = planted.values.map(_.getAs[Long]("n_dup_docs")).sum
    val expected = 2L * d.filter(col("doc_id") % 39 === 0).count()
    assert(totalDups == expected, s"$totalDups vs $expected")
  }

  test("splitAssign: deterministic, complete, decorrelated from sampling") {
    val d = graft.core.Tables.documents(spark, sfDir)
    val s1 = Pipeline.splitAssign(d, 0.8, 0.1).collect().toSeq
    val s2 = Pipeline.splitAssign(d.repartition(7), 0.8, 0.1).collect().toSeq
    assert(s1 == s2, "assignment must not depend on partitioning")
    val byName = s1.groupBy(_.getAs[String]("split")).view.mapValues(_.size).toMap
    val n = s1.size.toDouble
    assert(byName.keySet == Set("train", "val", "test"))
    // binomial(n, 0.8) at n = 500: ±5σ ≈ ±0.09
    assert(math.abs(byName("train") / n - 0.8) < 0.09, byName.toString)
    // the salt decorrelates the split hash from the sampling hash: the
    // train fraction INSIDE the stratified sample must stay ≈ 0.8 too
    val sample = Corpus.stratifiedSample(d, Map.empty, 0.5)
    val joint = Pipeline.splitAssign(d, 0.8, 0.1)
      .join(sample.select("doc_id"), Seq("doc_id"), "semi")
    val trainIn = joint.filter(col("split") === "train").count().toDouble /
      joint.count()
    assert(math.abs(trainIn - 0.8) < 0.12,
      s"split must be independent of the sampling decision, got $trainIn")
  }

  test("interleave: round-robin across sources, deterministic permutation") {
    import spark.implicits._
    val d = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .map { case (id, s) => (id, s, s"doc $id") }
      .toDF("doc_id", "source", "text")
    def run() = Pipeline.interleave(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val got = run()
    assert(got.map(_._1) == (1L to 5L), "positions are a dense permutation")
    assert(got.map(_._3).take(4) == Seq("A", "B", "A", "B"),
      s"round-robin source spread expected, got ${got.map(_._3)}")
    assert(got.map(_._3).last == "A", "exhausted source finishes the tail")
    assert(got == run(), "pure function of the corpus — no RNG state")
  }

  /** Driver-side md5 emulation of the epoch-shuffle manifest: the
    * engine's per-(epoch, shard) counts and residue checksums must
    * equal a plain-Java recompute, and at least one document must land
    * in different shards across epochs (the re-shuffle property). */
  test("epoch shuffle: manifest equals the md5 recompute, epochs differ") {
    import spark.implicits._
    val ids = (0L until 40L)
    val docs = ids.toDF("doc_id")
    def h(e: Int, id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$e:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val expected = (for (e <- 0 until 3; id <- ids) yield (e, id))
      .map { case (e, id) => (e.toLong, h(e, id) % 8, h(e, id) % 1000000000L) }
      .groupBy { case (e, sh, _) => (e, sh) }
      .map { case ((e, sh), rows) =>
        (e, sh, rows.size.toLong, rows.map(_._3).sum) }
      .toSeq.sorted
    val got = Pipeline.epochShuffle(docs, epochs = 3, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got === expected)
    // re-shuffle property: some doc changes shard between epochs
    assert(ids.exists(id => h(0, id) % 8 != h(1, id) % 8))
  }

  test("fertility: per-lang sums re-derive from the tokenizer relation; " +
      "milli ratio is the floor division") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val got = Pipeline.fertilityWith(docs, Tokenizer.docTokenCounts(docs)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // independent re-derivation: words by split, subtokens by the same
    // docTokenCounts relation aggregated here
    val words = docs.selectExpr("doc_id", "lang",
      "CAST(size(filter(split(text, ' '), t -> t != '')) AS LONG) AS w")
    val toks = Tokenizer.docTokenCounts(docs)
    val expect = words.join(toks, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("w").as("w"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.col("n_tokens"),
            org.apache.spark.sql.functions.lit(0L))).as("t"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (lang, (n, w, t, f)) =>
      assert((n, w, t) === expect(lang), lang)
      assert(f === t * 1000L / w, lang)
    }
  }

  test("split leakage: planted cross-split duplicate leaks fully; " +
      "unique test doc leaks nothing") {
    import spark.implicits._
    // find a train id and two test ids under the declared md5 split
    val probe = (1L to 200L).map(i => (i, "src", s"probe"))
      .toDF("doc_id", "source", "text")
    val assign = Pipeline.splitAssign(probe, 0.8, 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val trainId = assign.collectFirst { case (id, "train") => id }.get
    val testIds = assign.collect { case (id, "test") => id }.take(2).toSeq
    val dupText = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val uniqText = (1 to 10).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (trainId, "src", dupText),
      (testIds(0), "src", dupText),   // exact duplicate across the split
      (testIds(1), "src", uniqText))  // unique to test
      .toDF("doc_id", "source", "text")
    val got = Pipeline.splitLeakage(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(got(testIds(0)) === ((3L, 3L, 10000L))) // 3 distinct 8-grams, all leaked
    assert(got(testIds(1)) === ((3L, 0L, 0L)))
  }
}
