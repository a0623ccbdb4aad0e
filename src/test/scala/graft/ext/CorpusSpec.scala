package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** L5 corpus hygiene: contamination, clustering/canonicalization,
  * deterministic sampling, PII redaction, repetition signals. */
class CorpusSpec extends SparkSuite {

  test("connected components: transitivity across chains, singletons excluded") {
    import spark.implicits._
    // chain 1-2-3, clique 10-11, isolated edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val comp = Corpus.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L,
      s"chain must collapse transitively: $comp")
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(comp.size == 7, "only nodes that appear in edges get labels")
  }

  test("connected components: a long path gets the min label") {
    import spark.implicits._
    val path = (1L to 12L).sliding(2).map(w => (w.head, w.last)).toSeq
      .toDF("doc_a", "doc_b")
    val comp = Corpus.connectedComponents(path).collect()
    assert(comp.map(_.getLong(0)).toSeq == (1L to 12L))
    assert(comp.forall(_.getLong(1) == 1L), "all path nodes reach min label")
  }

  test("connected components: a 64-node chain gets one label") {
    import spark.implicits._
    val chain = (0L until 64L).sliding(2).map(w => (w.head, w.last)).toSeq
      .toDF("doc_a", "doc_b")
    val comp = Corpus.connectedComponents(chain).collect()
    assert(comp.length == 64 && comp.forall(_.getLong(1) == 0L),
      "every chain node must get the chain's min label")
  }

  /** The candidate pairs are collected in ONE job and the components
    * finish on the driver into a local relation: no sizing count ahead
    * of the collect. */
  test("connected components: one job for the pairs") {
    val pairs = spark.range(64).select(col("id").as("doc_a"),
      (col("id") + 1).as("doc_b"))
    val (comp, jobs) = jobsOf(Corpus.connectedComponents(pairs))
    assert(jobs == 1, s"connectedComponents took $jobs jobs")
    assert(comp.collect().map(_.getLong(1)).toSeq == Seq.fill(65)(0L))
  }

  test("near-dup clusters + canonical corpus: dups collapse, rest passes") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val docs = Seq(
      (1L, base),
      (2L, base), // exact dup of 1
      (3L, base + " extra"), // near dup of 1/2
      (4L, "completely different words describing cooking recipes with garlic onion butter salt"))
      .toDF("doc_id", "text")
    val clusters = Corpus.nearDupClustersMd5(docs, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.get(1L).contains(1L) && clusters.get(2L).contains(1L))
    assert(!clusters.contains(4L), "unique doc is in no cluster")
    val kept = Corpus.canonicalCorpusMd5Docs(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && kept.contains(4L) && !kept.contains(2L))
  }

  test("stratified sample: deterministic, respects per-source rates") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val rates = Map("src0" -> 1.0, "src1" -> 0.0)
    val s1 = Corpus.stratifiedSample(docs, rates, 0.2).collect()
    val s2 = Corpus.stratifiedSample(docs, rates, 0.2).collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq, "reproducible")
    val bySource = s1.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.getOrElse("src0", 0) == totals("src0").toInt, "rate 1.0 keeps all")
    assert(!bySource.contains("src1"), "rate 0.0 keeps none")
    // u is a pure function of doc_id: every kept row satisfies u < rate
    assert(s1.forall(r => r.getDouble(2) < r.getDouble(3)))
  }

  test("systematic weighted sample: stride crossings keep ∝ weight, " +
      "heavy docs always kept, multi-crossing collapses to one keep") {
    import spark.implicits._
    // one source, weights 10,10,10,10,60 → total 100, k=5 ⇒ stride 20;
    // cum = 10,20,30,40,100 ⇒ crossings at docs 2, 4, 5 (doc 5 crosses
    // strides 3..5 but is kept ONCE)
    val docs = Seq(
      (1L, "s1", 10L), (2L, "s1", 10L), (3L, "s1", 10L),
      (4L, "s1", 10L), (5L, "s1", 60L))
      .toDF("doc_id", "source", "n_chars")
    val got = Corpus.systematicWeightedSample(docs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.map(_._1).toSeq === Seq(2L, 4L, 5L))
    assert(got.toMap === Map(2L -> 20L, 4L -> 40L, 5L -> 100L))
  }

  test("shard assign: greedy fill on the cumulative line, boundary doc " +
      "belongs to the shard its start falls in") {
    import spark.implicits._
    // weights 10,10,10,10,60; target 25: cum=10,20,30,40,100; starts at
    // 0,10,20,30,40 → shards 0,0,0,1,1 (doc 5 straddles 50/75 but its
    // START is 40 → shard 1)
    val docs = Seq(
      (1L, "s1", 10L), (2L, "s1", 10L), (3L, "s1", 10L),
      (4L, "s1", 10L), (5L, "s1", 60L))
      .toDF("doc_id", "source", "n_chars")
    val got = Corpus.shardAssign(docs, 25L)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
    // every shard except the last is filled to >= target by its docs'
    // spans (greedy-fill invariant)
    val spans = Corpus.shardAssign(docs, 25L)
      .collect().map(r => (r.getLong(4), r.getLong(2))).groupBy(_._1)
      .map { case (sh, ws) => sh -> ws.map(_._2).sum }
    val maxShard = spans.keys.max
    spans.filter(_._1 < maxShard).foreach { case (sh, tot) =>
      assert(tot >= 25L, s"shard $sh underfilled: $tot")
    }
  }

  test("property: systematic sample crossings partition the stride " +
      "multiples exactly — Σ crossings over picks = total div stride") {
    import org.scalacheck.Gen
    import spark.implicits._
    val gen = Gen.listOfN(40, for {
      s <- Gen.oneOf("a", "b", "c")
      w <- Gen.chooseNum(1L, 120L)
    } yield (s, w))
    for (trial <- 1 to 3) {
      val rows = gen.sample.get.zipWithIndex
        .map { case ((s, w), i) => (i.toLong, s, w) }
      val docs = rows.toDF("doc_id", "source", "n_chars")
      val k = 7
      val total = rows.map(_._3).sum
      val stride = total / k
      val picked = Corpus.systematicWeightedSample(docs, k)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      // every stride multiple in (0, total] is crossed by exactly one
      // picked doc's span, and non-picked docs cross none — so the
      // crossing counts over picks sum to total div stride
      val crossings = picked.map { case (_, w, cum) =>
        cum / stride - (cum - w) / stride }.sum
      assert(crossings === total / stride,
        s"trial $trial: crossings $crossings != ${total / stride}")
      assert(picked.forall { case (_, w, cum) =>
        cum / stride > (cum - w) / stride }, "every pick crosses")
    }
  }

  test("systematic weighted sample: source offsets make one global " +
      "line — same picks as a single-source equivalent") {
    import spark.implicits._
    // two sources; global line order is (source, doc_id)
    val two = Seq(
      (1L, "a", 30L), (2L, "a", 30L), (3L, "b", 30L), (4L, "b", 30L))
      .toDF("doc_id", "source", "n_chars")
    val one = Seq(
      (1L, "x", 30L), (2L, "x", 30L), (3L, "x", 30L), (4L, "x", 30L))
      .toDF("doc_id", "source", "n_chars")
    val g2 = Corpus.systematicWeightedSample(two, 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val g1 = Corpus.systematicWeightedSample(one, 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(g2 === g1, "offsets must stitch sources into one line")
  }

  test("PII redaction: emails, phones, IPs replaced; clean text untouched") {
    import spark.implicits._
    val rows = Seq(
      "write to jane.doe+x@sub.example.co.uk today",
      "call +971 50 123 4567 or 04-555-1234-99 now",
      "server at 192.168.0.1 responded",
      "nothing sensitive here at all")
      .toDF("text")
      .select(Corpus.redactPii(col("text")).as("r")).collect().map(_.getString(0))
    assert(rows(0) == "write to [EMAIL] today")
    assert(rows(1) == "call [PHONE] or [PHONE] now")
    assert(rows(2) == "server at [IP] responded")
    assert(rows(3) == "nothing sensitive here at all")
    // declared query: every row must end up clean
    val q = Corpus.piiRedactQuery(graft.core.Tables.documents(spark, sfDir))
    assert(q.filter(!col("clean")).count() == 0)
  }

  test("repetition ratio: uniform text low, boilerplate high, tie pinned") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b a b"),       // "a b" 4 of 7 bigrams
      (2L, "w x y z q r s t"),       // all bigrams unique → 1/7
      (3L, "m n m n"))               // tie "m n" (2) vs "n m" (1)
      .toDF("doc_id", "text")
    val out = Corpus.repetitionRatio(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (("a b", 4L, 4.0 / 7)))
    assert(out(2L)._3 == 1.0 / 7)
    assert(out(3L) == (("m n", 2L, 2.0 / 3)))
  }

  test("boilerplate scrub: repeated chunk removed within its source only, " +
      "alignment is window-exact, ratio columns count chunks") {
    import spark.implicits._
    val tpl = "a b c d e"
    val docs = Seq(
      (1L, s"$tpl u1 u2 u3 u4 u5", "s1"), // template + unique tail
      (2L, s"$tpl w1 w2 w3 w4 w5", "s1"), // same template, same source
      (3L, s"$tpl x1 x2", "s2"),          // same bytes, OTHER source: kept
      (4L, s"z $tpl u1 u2 u3", "s1"))     // shifted by 1: not aligned, kept
      .toDF("doc_id", "text", "source")
    val out = TextOps.boilerplateScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) === ((2L, 1L, "u1 u2 u3 u4 u5")),
      "the df-2 template chunk must be scrubbed")
    assert(out(2L) === ((2L, 1L, "w1 w2 w3 w4 w5")))
    assert(out(3L) === ((2L, 0L, s"$tpl x1 x2")),
      "df is per-source: a lone copy elsewhere is not boilerplate")
    assert(out(4L)._2 === 0L,
      "aligned-window semantics: a shifted template does not match")
  }

  test("chunking: windows, stride overlap, short docs, full coverage") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than window
      (3L, "solo"))
      .toDF("doc_id", "text")
    val out = Corpus.chunkDocuments(docs, window = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3))).toMap
    // doc 1: starts 0,3,6,9 → chunks of 4,4,4,1 tokens
    assert(out((1L, 0)) == ((4, "t1 t2 t3 t4")))
    assert(out((1L, 1)) == ((4, "t4 t5 t6 t7"))) // 1-token overlap (4-3)
    assert(out((1L, 2)) == ((4, "t7 t8 t9 t10")))
    assert(out((1L, 3)) == ((1, "t10")))
    assert(out((2L, 0)) == ((3, "a b c")))
    assert(out((3L, 0)) == ((1, "solo")))
    // every token of every doc appears in some chunk (coverage)
    assert(out.keys.count(_._1 == 1L) == 4)
  }

  test("hard negatives: exact dup excluded, rare-vocab sharer ranks first") {
    import spark.implicits._
    val qText = "zephyr quartz basalt common words appear here too"
    val filler = (6L to 9L).map(i =>
      i -> s"common words appear here too filler number $i")
    val d = (Seq(
      (0L, qText),                                          // the query (0 % 50 == 0)
      (1L, qText),                                          // exact dup → excluded
      (2L, "zephyr quartz basalt granite something else"),  // shares 3 rare anchors
      (3L, "zephyr alone plus unrelated padding text now"), // shares 1 rare anchor
      (4L, "common words appear here too in this one"),     // shares only common terms
      (5L, "entirely disjoint vocabulary nothing matches me"))
      ++ filler).toDF("doc_id", "text")
    val out = Corpus.hardNegatives(d, qMod = 50L, nAnchors = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val forQ = out.filter(_._1 == 0L)
    assert(!forQ.exists(_._2 == 1L), s"exact duplicate must be excluded: ${forQ.toSeq}")
    assert(forQ.head._2 == 2L, s"richest rare-vocab sharer must rank 1: ${forQ.toSeq}")
    assert(!forQ.exists(_._2 == 5L), "disjoint doc can never be a candidate")
  }

  test("code detection: planted source code trips the gate, prose does not") {
    import spark.implicits._
    // the fixture corpus is all prose (oracle covers the FALSE path
    // corpus-wide); the TRUE arm is pinned here with real code text
    val d = Seq(
      (1L, "def add(a, b): return a + b; class Foo { public void bar() {} }"),
      (2L, "x = { y[0]; z[1]; }; if (a >= b) { return c * d; } let q = 1;"),
      (3L, "plain english sentence with ordinary words and no symbols at all"),
      (4L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.codeSignals(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(out(1L)._3, s"keyword-dense code must trip the gate: ${out(1L)}")
    assert(out(1L)._1 >= 3, "def/return/class/public/void all count")
    assert(out(2L)._3, s"symbol-dense code must trip the gate: ${out(2L)}")
    assert(!out(3L)._3, "prose stays below both thresholds")
    assert(out(4L) === ((0L, 0L, false)), "empty doc: zero signals, not a crash")
  }

  test("contamination matrix: planted overlap found, disjoint sources absent") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, "train", shared + " one two three"),
      (2L, "eval", shared + " four five six"),
      (3L, "other", "completely unrelated tokens nothing in common here at all"))
      .toDF("doc_id", "source", "text")
    val m = Corpus.contaminationMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.contains(("eval", "train")), s"planted overlap missed: $m")
    assert(m(("eval", "train")) >= 6) // 8 shared tokens → ≥6 shared 3-grams
    assert(!m.keys.exists { case (a, b) => a == "other" || b == "other" })
  }

  test("decontaminate: benchmark 8-gram hit drops the doc; short and clean docs kept") {
    import spark.implicits._
    val run = "b1 b2 b3 b4 b5 b6 b7 b8" // the planted benchmark 8-gram
    val docs = Seq(
      (1L, "bench", "en", "x y " + run + " z"),
      (2L, "web", "en", "lead in tokens " + run + " trailing text here"),
      (3L, "web", "en", "c1 c2 c3 c4 c5 c6 c7 c8 c9 entirely clean content"),
      (4L, "web", "de", "too short to gram")) // < 8 tokens → trivially kept
      .toDF("doc_id", "source", "lang", "text")
    val kept = Corpus.decontaminate(docs, benchSource = "bench", w = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(kept.toSeq == Seq((3L, "web", "en"), (4L, "web", "de")))
  }

  test("semantic contamination: planted near-benchmark vector flagged " +
      "with its hit count, orthogonal corpus vectors pass") {
    import spark.implicits._
    // bench vectors (ids 0, 50 — % 50 = 0): two orthogonal axes.
    // corpus: id 1 is a slightly-perturbed copy of bench 0 (cos ≈ 1 —
    // a paraphrase-style leak), id 2 sits on the third axis (cos 0 to
    // both), id 3 is anti-parallel to bench 50 (cos −1: opposite
    // meaning must NOT flag)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (50L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, -1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Corpus.semanticContaminationOn(emb, thr = 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 0L)),
      s"only the near-copy flags, with bench 0 as evidence: ${got.toSeq}")
    // and the bench side is broadcast — the corpus never shuffles
    // before the per-doc aggregate
    val plan = Corpus.semanticContaminationOn(emb, thr = 0.40)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("blocked semantic contamination: precision 1 (hits ⊆ exact arm) " +
      "and near-copy recall pinned vs the exact arm at sf0.001") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val exact = Corpus.semanticContaminationOn(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val blocked = Corpus.semanticContaminationBlockedOn(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exactIds = exact.map(_._1).toSet
    val blockedIds = blocked.map(_._1).toSet
    // precision 1 by construction: every blocked hit passed the same
    // exact-cosine test, so blocked verdicts are a subset of exact ones
    assert(blockedIds.subsetOf(exactIds),
      s"blocked flagged non-exact ids: ${blockedIds -- exactIds}")
    // per-vec hit counts never exceed the exact arm's (candidate set is
    // a subset of bench for every corpus vector)
    val exactByid = exact.map(t => t._1 -> t._2).toMap
    blocked.foreach { case (id, n, _) =>
      assert(n <= exactByid(id), s"vec $id: blocked $n > exact ${exactByid(id)}")
    }
    // recall pin: the fixture plants leakage pairs at deliberately
    // BORDERLINE cosine (0.40–0.45) — the 8×2 band geometry must still
    // recover them (deterministic given the fixed corpus + md5 planes —
    // a quantizer or band-key regression shows up as a recall drop
    // here; measured: 2/2 at sf0.001, 6/6 at sf0.01, 41/42 at sf0.1)
    assert(exactIds.nonEmpty, "fixture must plant semantic leaks")
    val recall = blockedIds.size.toDouble / exactIds.size
    assert(recall >= 0.9,
      s"blocked recall $recall vs exact arm (${blockedIds.size}/${exactIds.size})")
  }

  test("blocked semantic contamination: empty corpus converges to the " +
      "exact arm's empty verdict; invalid band geometry fails loudly") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Corpus.semanticContaminationBlockedOn(empty).collect().isEmpty)
    assert(Corpus.semanticContaminationOn(empty).collect().isEmpty)
    val e = intercept[IllegalArgumentException] {
      Corpus.semanticContaminationBlockedOn(empty, bands = 4, bits = 8)
    }
    assert(e.getMessage.contains("30"))
  }

  test("blocked semantic contamination: near-copy flags, orthogonal " +
      "candidate dies at the exact verify, bench side broadcasts") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Corpus.semanticContaminationBlockedOn(emb, thr = 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the near-copy flags with bench 0 as evidence; the orthogonal
    // vector may become a banded candidate but the exact cosine verify
    // kills it (precision 1 by construction)
    assert(got.toSeq == Seq((1L, 1L, 0L)), got.toSeq.toString)
    val plan = Corpus.semanticContaminationBlockedOn(emb, thr = 0.40)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("domain cap: over-cap sources pruned to cap, under-cap untouched, deterministic") {
    import spark.implicits._
    val docs = ((1L to 10L).map(i => (i, "big", s"doc $i")) ++
      (11L to 12L).map(i => (i, "small", s"doc $i")))
      .toDF("doc_id", "source", "text")
    val out = Corpus.domainCap(docs, 4).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.count(_._1 == "big") == 4, "over-cap source pruned to cap")
    assert(out.count(_._1 == "small") == 2, "under-cap source passes whole")
    // bit-identical on re-run (hash order, no RNG)
    val again = Corpus.domainCap(docs, 4).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == again.toSeq)
    // kept set is rank-by-hash: recompute expected the straight way
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = md.digest(s"cap:$id".getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val expectBig = (1L to 10L).sortBy(id => (h(id), id)).take(4).toSet
    assert(out.filter(_._1 == "big").map(_._2).toSet == expectBig)
  }

  test("gopher filter: every rule fires both ways on the fixture; " +
      "keep is exactly the conjunction; no-division flags are integer-exact") {
    val r = graft.SparkEntry.queries("corpus_gopher_filter")(spark, sfDir)
      .collect()
    assert(r.length > 0)
    for (i <- 5 to 8) { // the four rule-flag columns
      val vals = r.map(_.getBoolean(i)).toSet
      assert(vals == Set(true, false),
        s"rule column $i must fire both ways on the fixture")
    }
    r.foreach { row =>
      val conj = row.getBoolean(5) && row.getBoolean(6) &&
        row.getBoolean(7) && row.getBoolean(8)
      assert(row.getBoolean(9) === conj, s"keep must be the conjunction: $row")
    }
    // evidence counts recompute from the raw text for a spot row
    val doc = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") === r.head.getLong(0)).head.getAs[String]("text")
    val toks = doc.split(" ").filter(_.nonEmpty)
    assert(r.head.getInt(1) === toks.length)
    assert(r.head.getInt(2) === toks.map(_.length).sum)
  }

  test("balanced sample: every class keeps exactly the minority count, " +
      "the minority class survives whole, selection is hash-stable") {
    import spark.implicits._
    val docs = ((1L to 10L).map(i => (i, "en")) ++
      (11L to 13L).map(i => (i, "fr")) ++
      (14L to 19L).map(i => (i, "de")))
      .toDF("doc_id", "lang")
    val got = Corpus.balancedSample(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byLang = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byLang.keySet === Set("en", "fr", "de"))
    assert(byLang.values.forall(_.size === 3), s"all classes at floor 3: $byLang")
    assert(byLang("fr") === Set(11L, 12L, 13L), "minority class kept whole")
    // determinism: same picks under a different physical layout
    val again = Corpus.balancedSample(docs.repartition(7)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === again.toSeq)
  }

  test("readability: hand-counted words/sentences/syllables and the " +
      "exact milli-score; empty text guards to zero") {
    import spark.implicits._
    // "The cat sat. It ran!" → words 5, sentences 2, vowel groups:
    // The(1) cat(1) sat(1) It(1) ran(1) = 5
    val docs = Seq((1L, "The cat sat. It ran!"), (2L, ""))
      .toDF("doc_id", "text")
    val got = TextOps.readability(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L)._1 === 5L && got(1L)._2 === 2L && got(1L)._3 === 5L)
    // 206835 - (1015*5) div 2 - (84600*5) div 5 = 206835 - 2537 - 84600
    assert(got(1L)._4 === 206835L - 2537L - 84600L)
    assert(got(2L) === ((0L, 1L, 0L, 0L)), "empty text: zero score, no div0")
  }

  test("priority sample: matches a driver-side emulation, estimator is " +
      "max(w, tau) with tau the (k+1)-th priority") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = (1L to 20L).map(id => (id, s"src${id % 3}", 10L + id * 7))
    val docs = rows.toDF("doc_id", "source", "n_chars")
    // emulate: u = first-8-hex + 1, q = (w << 32) div u
    val pri = rows.map { case (id, src, w) =>
      val u = java.lang.Long.parseLong(md5hex(s"prio:$id").substring(0, 8), 16) + 1
      (id, src, w, w * 4294967296L / u)
    }
    val ranked = pri.sortBy { case (id, _, _, q) => (-q, id) }
    val k = 5
    val tau = ranked(k)._4
    val want = ranked.take(k)
      .map { case (id, src, w, q) => (id, src, w, q, math.max(w, tau)) }
      .sortBy(_._1)
    val got = Corpus.prioritySample(docs, k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === want)
  }

  test("priority sample: corpus smaller than k keeps all with est_w = w") {
    import spark.implicits._
    val docs = Seq((1L, "a", 100L), (2L, "b", 50L))
      .toDF("doc_id", "source", "n_chars")
    val got = Corpus.prioritySample(docs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(got.toSeq === Seq((1L, 100L, 100L), (2L, 50L, 50L)))
  }

  test("vocab growth: hand buckets, conservation, monotone cumulative") {
    import spark.implicits._
    // ids 1..10 in 2 buckets (1–5, 6–10); 'a' recurs, 'b'/'c' are new
    // in their buckets
    val docs = Seq((1L, "a b"), (6L, "a c"), (10L, "c c"))
      .toDF("doc_id", "text")
    val got = Corpus.vocabGrowth(docs, nBuckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq((0L, 2L, 2L, 2L, 2L), (1L, 4L, 1L, 6L, 3L)))
    // fixture-level conservation: types_cum at the last bucket equals
    // the corpus' distinct token count, tokens_cum the total count
    val fx = graft.core.Tables.documents(spark, sfDir)
    val rows = Corpus.vocabGrowth(fx).collect()
    val toks = fx.select(explode(Dedup.tokens(col("text"))).as("w"))
    assert(rows.last.getLong(3) === toks.count())
    assert(rows.last.getLong(4) === toks.distinct().count())
  }

  test("cluster histogram: totals conserve the corpus, size-1 row is " +
      "the unclustered complement") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val rows = Corpus.dupClusterHistogram(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = docs.count()
    assert(rows.map(_._3).sum === total, "every doc lands in one bucket")
    rows.foreach { case (sz, nc, nd) =>
      assert(nd === sz * nc, s"size $sz: $nd docs vs $nc clusters")
    }
    assert(rows.count(_._1 == 1L) === 1, "exactly one singleton row")
    // multi-doc rows must agree with the cluster relation itself
    val comp = Corpus.nearDupClustersMd5(docs)
    assert(rows.filter(_._1 > 1).map(_._3).sum === comp.count())
  }

  test("priority sample is bit-identical across partitionings") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    def run(parts: Int) =
      Corpus.prioritySample(docs.repartition(parts), 40)
        .collect().map(_.toSeq).toSeq
    assert(run(2) === run(8))
  }

  /** Lengths [1,1,4,4,4,10]: total 24, budget 12; both length-1 docs
    * fit whole (mass 2), then (12−2) div 4 = 2 of the three length-4
    * docs — a PARTIAL boundary take, the arithmetic the op exists for. */
  test("budget fill: boundary row exact, partial take at the cutoff") {
    import spark.implicits._
    val docs = Seq((1L, 1L), (2L, 1L), (3L, 4L), (4L, 4L), (5L, 4L), (6L, 10L))
      .toDF("doc_id", "n_chars")
    val r = Corpus.budgetFill(docs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) ===
      ((12L, 24L, 4L, 2L, 2L, 2L, 4L, 10L)))
  }

  /** Snapshot diff on hand ids {1,7,11,13,14}: 13 drops, 7 and 14 get
    * the ' v2' rewrite, 11 also spawns a shifted copy — every status
    * arm fires with exact char masses on both sides. */
  test("snapshot diff: all four status arms with exact char masses") {
    import spark.implicits._
    val docs = Seq(1L, 7L, 11L, 13L, 14L)
      .map(i => (i, "a" * i.toInt)).toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("added", 1L, 0L, 11L),
      ("changed", 2L, 21L, 27L),
      ("removed", 1L, 13L, 0L),
      ("same", 2L, 12L, 12L)))
  }

  test("zipf head: rank·freq products, lexical ties, floor shares") {
    import spark.implicits._
    val d = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val got = TextOps.zipfHead(d, topK = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, "a", 3L, 3L, 5000L),
      (2L, "b", 2L, 4L, 3333L),
      (3L, "c", 1L, 3L, 1666L)))
  }

  test("burstiness: cf/df in milli, clumped token outranks spread one") {
    import spark.implicits._
    val d = Seq(
      (1L, "x x x x"), (2L, "x y"), (3L, "y"))
      .toDF("doc_id", "text")
    val got = TextOps.burstiness(d, topK = 10, minDf = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("x", 5L, 2L, 2500L),   // clumped: 4 occurrences in one doc
      ("y", 2L, 2L, 1000L)))  // spread: one per doc
  }

  test("ccnet buckets: per-lang masses conserve; planted clean doc heads") {
    import spark.implicits._
    // lang P: doc 1 repeats one bigram (high LM score), docs 2-10 are
    // all distinct noise → doc 1 alone lands in head (n=10 → decile 0)
    val noise = (2 to 10).map(i =>
      (i.toLong, s"n$i a$i b$i c$i d$i", "P", 10L))
    val docs = ((1L, "x y x y x y x y", "P", 10L) +: noise)
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = Ngrams.ccnetBuckets(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._3).sum === 10L)
    val head = got.find(_._2 == "head").get
    assert(head._3 === 1L) // exactly the clean doc
    // and on the fixture: per-lang bucket counts conserve the corpus
    val fx = graft.core.Tables.documents(spark, sfDir)
    val buckets = Ngrams.ccnetBuckets(fx).collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val langs = fx.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(buckets === langs)
  }
}
