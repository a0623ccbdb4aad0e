package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** L2 near-dup detection: planted duplicates must pair; unrelated
  * documents must not (the hash family is not SQL-reproducible, so this
  * spec is the correctness gate for the rows-only dedup queries).
  *
  * LSH is probabilistic by design: only an EXACT duplicate (jaccard 1)
  * is guaranteed to share every band; near-dups are asserted through the
  * signature overlap directly (deterministic given fixed hashes) rather
  * than through band-collision luck. */
class DedupSpec extends SparkSuite {

  private val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
  private val near = "the quick brown fox jumps over the lazy dog and then runs far away home yesterday"

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, base),
      (2L, near), // last token changed → 1 of 14 shingles differs
      (3L, "spark engines shuffle partitions across executors with hash exchange operators always"),
      (4L, "completely different words describing cooking recipes with garlic onion butter salt pepper"),
      (5L, base)) // exact duplicate of 1
      .toDF("doc_id", "text")
  }

  test("shingling: n-gram count, distinctness, short-doc guard") {
    import spark.implicits._
    def sh(t: String) = Seq((1L, t)).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect()(0).getSeq[String](0)
    assert(sh("a b c d") == Seq("a b c", "b c d"))
    assert(sh("a b").isEmpty)
    assert(sh("").isEmpty)
    assert(sh("x x x x x") == Seq("x x x")) // distinct
  }

  test("native word_shingles ≡ HOF formulation on every fixture document") {
    val docs500 = graft.core.Tables.documents(spark, sfDir)
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = docs500.select(
        graft.functions.WordShingles.word_shingles(col("text"), n).as("native"),
        Dedup.bind(Dedup.tokens(col("text")))(t =>
          Dedup.shinglesFromTokens(t, n)).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(diff == 0, s"n=$n: native and HOF shingles diverge on $diff docs")
    }
    // edge cases: empty / short / repeated / multi-space text
    import spark.implicits._
    val edge = Seq("", "one", "a b", "x x x x", "a  b   c").toDF("text")
    val d = edge.select(
      graft.functions.WordShingles.word_shingles(col("text"), 2).as("native"),
      Dedup.bind(Dedup.tokens(col("text")))(t =>
        Dedup.shinglesFromTokens(t, 2)).as("hof"))
      .collect()
    d.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
  }

  test("minhash signatures: identical docs identical, near-dups mostly equal") {
    val sigs = Dedup.signaturesFromShingles(Dedup.withShingles(docs))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(5L), "equal text ⇒ equal signature")
    val overlap12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(overlap12 >= Dedup.NumHashes / 2,
      s"near-dup signature overlap too low: $overlap12/${Dedup.NumHashes}")
    val overlap13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(overlap13 <= 2, s"unrelated docs should share ~0 slots: $overlap13")
  }

  test("minhash LSH: exact duplicate always pairs; unrelated never do") {
    val pairs = Dedup.minhashPairsUnordered(Dedup.withShingles(docs), 0.5)
      .collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 5L)), s"exact dup must collide in every band, got $ids")
    assert(!ids.contains((3L, 4L)), "unrelated docs must not pair")
    val est = pairs.find(r => (r.getLong(0), r.getLong(1)) == (1L, 5L)).get.getDouble(2)
    assert(est == 1.0)
  }

  test("exact jaccard verification agrees with hand-computed overlap") {
    val out = Dedup.jaccardVerifyMd5(docs, 0.5).collect()
      .map(r => (r.getLong(1), r.getLong(0)) -> r.getDouble(2)).toMap
      .map { case ((a, b), j) => (math.min(a, b), math.max(a, b)) -> j }
    assert(out.get((1L, 5L)).contains(1.0))
    // 16 tokens → 14 shingles; last-token change touches 1 shingle:
    // |∩| = 13, |∪| = 14+14−13 = 15 (if the pair survived banding)
    out.get((1L, 2L)).foreach(j => assert(math.abs(j - 13.0 / 15.0) < 1e-12))
  }

  test("containment: a quoted-whole short doc scores 1.0 on its side") {
    import spark.implicits._
    val short = (1 to 10).map(i => s"t$i").mkString(" ")
    val long = short + " " + (1 to 10).map(i => s"u$i").mkString(" ")
    val d = Seq((1L, short), (2L, long), (3L, "entirely different words here now"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentFromShingles(Dedup.withShingles(d), 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val hit = out.find(p => Set(p._1, p._2) == Set(1L, 2L))
    assert(hit.isDefined, s"planted containment pair missed: ${out.toSeq}")
    hit.foreach { case (a, _, cab, cba) =>
      val (cShort, cLong) = if (a == 1L) (cab, cba) else (cba, cab)
      assert(cShort == 1.0, "short side fully contained")
      assert(cLong < 0.6, "long side only partially covered")
    }
    assert(!out.exists(p => Set(p._1, p._2).contains(3L)), "unrelated doc clean")
  }

  test("containment: shorter-side anchors recall a pair Jaccard banding misses") {
    import spark.implicits._
    // extreme size ratio: 4 shingles quoted whole inside ~154 —
    // Jaccard ≈ 0.026, far below any banding threshold
    val short = (1 to 6).map(i => s"q$i").mkString(" ")
    val long = short + " " + (1 to 150).map(i => s"z$i").mkString(" ")
    val d = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    // the documented bias, pinned: the banded JACCARD chain does NOT
    // produce this candidate (md5 family is deterministic, so this is
    // a fixed fact of these texts, not a flaky probability)
    val banded = Dedup.md5MinhashPairsFromShingles(
        Dedup.withShingles(d), 0.3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!banded.contains((1L, 2L)),
      s"test premise broken: banding caught the extreme-ratio pair ($banded)")
    // the anchor arm guarantees candidacy: every anchor shingle of the
    // contained doc is in the container's set by definition
    val out = Dedup.containmentFromShingles(Dedup.withShingles(d), 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val hit = out.find(p => (p._1, p._2) == (1L, 2L))
    assert(hit.isDefined, s"anchor arm failed to recall the pair: ${out.toSeq}")
    hit.foreach { case (_, _, cab, _) =>
      assert(cab == 1.0, "short side fully contained") }
  }

  test("all-pairs prefix join ≡ brute force on the fixture corpus (complete recall)") {
    // the theorem the operator ships: prefix filtering loses NOTHING.
    // Brute-force every pair of a real doc sample and demand exact
    // set equality with the prefix-filtered join — including pairs
    // minhash banding would only probabilistically catch.
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 7 === 0) // ~1/7 of the corpus: brute force stays cheap
      .select(col("doc_id"), col("text"))
    // plant qualifying pairs: near-copies (one appended token) of a few
    // real docs, at ids disjoint from the corpus range
    val planted = corpus.orderBy(col("doc_id")).limit(3)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" plantedtail")).as("text"))
    val sample = corpus.unionByName(planted)
    val fast = DedupTwins.allPairsJaccard(sample).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.withShingles(sample).filter(size(col("sh")) > 0)
    val brute = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(lit(5L) * col("inter") >=
        lit(3L) * (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === brute,
      s"prefix join diverged from brute force: missing ${brute -- fast}, extra ${fast -- brute}")
    assert(brute.nonEmpty, "test premise: the sample must contain qualifying pairs")
  }

  test("all-pairs: hand corpus — exact dup, near dup above threshold, clean docs") {
    val out = DedupTwins.allPairsJaccard(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out.keySet === Set((1L, 2L), (1L, 5L), (2L, 5L)),
      s"expected exactly the planted trio, got ${out.keySet}")
    val (i15, na15, nb15, j15) = out((1L, 5L))
    assert(i15 == na15 && na15 == nb15 && j15 == 1.0, "exact dup: full overlap")
    // 16 tokens → 14 shingles, last-token change touches 1: 13/15
    assert(out((1L, 2L))._4 === 13.0 / 15.0)
  }

  test("simhash: exact dup distance 0 and guaranteed to block together") {
    import spark.implicits._
    val fp = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
      .select(DedupTwins.simhashFingerprint(col("text")).as("fp")).collect()
    assert(fp(0).getLong(0) == fp(1).getLong(0))

    val pairs = Dedup.simhashPairs(docs, 16).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 5L)).contains(0), "exact dup must block at distance 0")
    assert(!pairs.contains((3L, 4L)), "unrelated docs must not pair")
  }

  test("simhash blocking: pigeonhole recall guarantee across parameterizations") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // (maxDist, numChunks, keyBlocks): defaults small + large maxDist,
    // plus an explicit wide-key config
    for ((md, nc, kb) <- Seq((3, 0, 0), (8, 0, 0), (16, 0, 0), (3, 8, 4))) {
      val pairs = (1 to 300).map { _ =>
        val x = rnd.nextLong()
        // flip up to maxDist DISTINCT bits → hamming exactly d ≤ maxDist
        val bits = rnd.shuffle((0 until 64).toList).take(rnd.nextInt(md + 1))
        (x, bits.foldLeft(x)((acc, b) => acc ^ (1L << b)))
      }.toDF("x", "y")
      val missed = pairs.filter(!arrays_overlap(
        Dedup.simhashBlockingKeys(col("x"), md, nc, kb),
        Dedup.simhashBlockingKeys(col("y"), md, nc, kb))).count()
      assert(missed == 0, s"(maxDist=$md,chunks=$nc,keyBlocks=$kb): $missed pairs missed")
    }
    // and the guard trips when the pigeonhole cannot hold
    intercept[IllegalArgumentException] {
      Dedup.simhashPlan(maxDist = 8, numChunks = 8, keyBlocks = 2)
    }
  }

  test("simhash pipeline ≡ brute force on the fixture corpus (exact recall)") {
    // pigeonhole guarantees candidates ⊇ all hamming ≤ 3 pairs, and the
    // verify filter trims to exactly ≤ 3 — so the distributed pipeline
    // must equal the all-pairs answer computed on the driver
    val docs500 = graft.core.Tables.documents(spark, sfDir)
    val fps = docs500.select(col("doc_id"),
      graft.functions.SimHash64.simhash64(
        graft.functions.WordShingles.word_ngrams(col("text"), 1)).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      i <- fps.indices; j <- (i + 1) until fps.length
      if java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2) <= 3
    } yield {
      val (a, b) = (fps(i)._1, fps(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    val pipeline = Dedup.simhashPairs(docs500, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pipeline == brute,
      s"missed=${(brute -- pipeline).take(5)} extra=${(pipeline -- brute).take(5)}")
  }

  test("embedding near-dup blocks on cell and finds planted duplicate") {
    import spark.implicits._
    val v = Array.tabulate(8)(i => 0.1f * (i + 1))
    val vNear = v.clone(); vNear(0) = v(0) + 0.001f
    val vFar = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val emb = Seq((0, 1L, v), (0, 2L, vNear), (0, 3L, vFar), (1, 4L, v))
      .toDF("label", "vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(emb, 0.999).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids == Set((1L, 2L))) // vFar excluded; 4 in another cell
  }

  test("quantizer-blocked embedding dedup: precision 1, strictly more recall " +
      "than label blocking, cell count scales with corpus") {
    // planesForCorpus: cells track corpus size (the fixture label can't)
    assert(Dedup.planesForCorpus(50L, 64) == 2)            // tiny → floor
    assert(Dedup.planesForCorpus(5000L, 64) == 7)          // 128 cells
    assert(Dedup.planesForCorpus(1L << 30, 1L << 17) == 13) // 10⁹ → 8192 cells
    val minCos = 0.35
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    // ground truth: every pair with exact cosine ≥ minCos (driver-side —
    // the suite fixture is small)
    val vecs = emb.collect().map { r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding"))
        .map(_.toDouble).toArray
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cos(va, vb) >= minCos
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "fixture must contain similar pairs")
    val got = Dedup.embeddingPairsPortable(emb, minCos,
      Dedup.planesForCorpus(vecs.length.toLong, 8)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-cosine verification inside the pipeline ⇒ no false positives
    assert((got -- truth).isEmpty, s"false positives: ${(got -- truth).take(5)}")
    // the fixture's pairs all sit at MODERATE similarity (0.35-0.5 —
    // search territory, not duplicates), where any blocking is partial;
    // the quantizer must still strictly dominate the label blocking it
    // replaces, at a cell count that can scale
    val labelPairs = Dedup.embeddingPairs(emb, minCos).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size > labelPairs.size,
      s"quantized ${got.size} vs label ${labelPairs.size} of ${truth.size}")
  }

  test("quantizer-blocked embedding dedup: planted near-dups are ALL found " +
      "at dedup-grade thresholds") {
    import spark.implicits._
    // true near-duplicates (cos ≈ 1): deterministic one-coordinate nudge
    // of each fixture vector — the regime LSH blocking is FOR
    val base = graft.core.Tables.embeddings(spark, sfDir).collect().map { r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding")).toArray
    }
    val planted = base.map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.01f; (id + 1000000L, w)
    }
    val emb = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val nPlanes = Dedup.planesForCorpus(base.length * 2L, 8)
    val got = Dedup.embeddingPairsPortable(emb, 0.999, nPlanes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every (original, nudged-twin) pair must surface: at cos ≥ 0.999 a
    // missed pair needs ≥3 sign flips across near-identical vectors
    base.foreach { case (id, _) =>
      assert(got.contains((id, id + 1000000L)), s"missed planted twin of $id")
    }
  }

  test("edit-distance pairs: exact dup at dist 0, one-char typo at " +
      "dist 1, unrelated text never pairs") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq(
      (1L, t), (2L, t),
      (3L, t.replace("lambda mu", "lambda nu")), // 1 substitution, tail shingle only
      (4L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) === 0L)
    assert(got((1L, 3L)) === 1L)
    assert(got((2L, 3L)) === 1L)
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not pair")
  }

  test("edit-distance pairs: the relative-distance gate decides — " +
      "num=0 keeps only exact duplicates among the same candidates") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq((1L, t), (2L, t),
      (3L, t.replace("lambda mu", "lambda nu")))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(d, num = 0, den = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)),
      s"dist-1 candidates must be dropped by the zero-tolerance gate: $got")
    // SQL builder splices the same gate: num=0/den=1 must appear verbatim
    assert(Dedup.editDistancePairsSql(num = 0, den = 1)
      .contains("WHERE dist * 1 <= mx * 0"),
      "parameterized SQL gate must mirror the Scala (num, den) gate")
  }

  test("lsh calibration: pair count conserved, distances in range, and " +
      "close distances carry more label agreement than far ones") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val n = emb.filter(org.apache.spark.sql.functions.col("vec_id") <= 500L)
      .count()
    val rows = Dedup.lshCalibration(emb)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.map(_._2).sum === n * (n - 1) / 2, "all sample pairs binned")
    rows.foreach { case (h, np, same, bp) =>
      assert(h >= 0 && h <= 16)
      assert(same <= np && bp === same * 10000 / np)
    }
    // signal check: the label-agreement rate at the closest populated
    // distances must exceed the rate at the farthest ones
    val sorted = rows.sortBy(_._1)
    val nearBp = sorted.take(3).map(_._4).max
    val farBp = sorted.takeRight(3).map(_._4).min
    assert(nearBp > farBp,
      s"hamming distance must predict label agreement: $nearBp vs $farBp")
  }

  test("lsh calibration is bit-identical across partitionings") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    def run(parts: Int) =
      Dedup.lshCalibration(emb.repartition(parts))
        .collect().map(_.toSeq).toSeq
    assert(run(2) === run(8))
  }
}
