package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables, Width}

/** Corpus-hygiene operators for LLM training-data pipelines (SURVEY.md
  * §2.11 L5): train/test contamination, duplicate clustering +
  * canonicalization, deterministic stratified sampling, PII redaction,
  * and repetition quality signals.
  *
  * Scale shapes:
  *  - contamination joins (source, fingerprint) DISTINCT pairs — the
  *    corpus reduces to its fingerprint set before anything shuffles;
  *    never a doc × doc comparison.
  *  - caching contract (here and in Dedup): multi-consumer intermediates
  *    persist for the returned query's lifetime; a caller issuing many
  *    corpus-scale invocations in one session should
  *    `spark.catalog.clearCache()` between them (the bench harness does).
  *  - clustering is hash-min label propagation over the candidate-pair
  *    edge list (edges come from MinHash LSH, already banded), with a
  *    bounded iteration count — each step is one join + one aggregate.
  *  - sampling/redaction are pure narrow maps: deterministic hashes,
  *    no RNG state, no shuffle.
  */
object Corpus {

  // ---------------------------------------------------------- contamination

  /** Cross-split n-gram fingerprint overlap — the standard train/test
    * contamination check. Each source reduces to its DISTINCT
    * (source, md5(shingle)) set; pairs of sources then join on
    * fingerprint. Overlap coefficient = shared / min(|A|, |B|). */
  def contaminationMatrix(docs: DataFrame, n: Int = 3): DataFrame = {
    // no explicit re-spread here: Tables.documents already hash-spreads
    // the single-row-group fixture scan by doc_id (core.Tables), so the
    // round-robin repartition this chain used to open with had become a
    // SECOND full-text exchange plus round-robin's local sort ahead of
    // it (r17 closing sweeps read contamination_check ×2.7 vs round
    // open; dropping the doubled exchange recovers it)
    val fps = docs
      .select(col("source"),
        graft.functions.WordShingles.word_shingles(col("text"), n).as("sh"))
      .select(col("source"), explode(col("sh")).as("shingle"))
      // 60-bit md5-derived int fingerprint: an 8-byte shuffle key instead
      // of a 32-char hex string, still reproducible in ANSI SQL
      .select(col("source"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("fp"))
    // ONE pass over the heavy text pipeline: group straight to
    // (fp → sorted distinct source set); what persists is the reduced
    // per-fingerprint table, and per-source totals + source PAIRS both
    // derive from it in-row (no self-join re-shuffling the corpus side,
    // pair arrays bounded by the number of sources)
    val bySrc = fps.groupBy(col("fp"))
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
      .persist()
    val totals = bySrc.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
    val srcs = col("srcs")
    val pairCombos = flatten(transform(sequence(lit(1), size(srcs) - 1), i =>
      transform(slice(srcs, i + 1, size(srcs) - i), b =>
        struct(element_at(srcs, i).as("a"), b.as("b")))))
    bySrc.filter(size(srcs) >= 2)
      .select(explode(pairCombos).as("p"))
      .select(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(totals.select(col("source").as("source_a"), col("n_fp").as("n_a")), Seq("source_a"))
      .join(totals.select(col("source").as("source_b"), col("n_fp").as("n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
          .as("overlap"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val contaminationSql: String =
    """WITH t AS (
      |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT source, unnest(CASE WHEN len(toks) < 3 THEN []
      |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
      |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) END) AS shingle
      |  FROM t),
      |fps AS (SELECT DISTINCT source,
      |          ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS fp FROM sh),
      |tot AS (SELECT source, COUNT(*) AS n_fp FROM fps GROUP BY source),
      |shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |  FROM fps a JOIN fps b USING (fp)
      |  WHERE a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, n_shared,
      |  CAST(n_shared AS DOUBLE) / least(ta.n_fp, tb.n_fp) AS overlap
      |FROM shared
      |JOIN tot ta ON ta.source = source_a
      |JOIN tot tb ON tb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Benchmark decontamination — the eval-set hygiene pass every LLM
    * training pipeline runs (the GPT-3/PaLM-style "remove any training
    * document sharing an n-gram with the benchmark"): a document is
    * contaminated iff it shares ANY w-token gram with the benchmark
    * slice (here: source `benchSource` stands in for the eval set).
    * Output is the DEPLOY artifact — the kept corpus membership
    * (benchmark docs and contaminated docs removed), the
    * `corpus_canonical` surface shape.
    *
    * Scale shape: grams are a narrow in-row explode (the Spans
    * positional-gram pattern, md5-portable); the benchmark gram set is
    * BENCHMARK-sized, so the semi-join broadcasts at any corpus scale —
    * the corpus side never shuffles; the contaminated id set (smaller
    * still) drives one anti-join. No corpus×corpus anything. */
  def decontaminate(docs: DataFrame, benchSource: String = "src0",
      w: Int = 8): DataFrame = {
    val grams = docs
      .select(col("doc_id"), col("source"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), col("source"), explode(expr(
        s"""transform(sequence(1, size(toks) - ${w - 1}),
           |  i -> md5(array_join(slice(toks, i, $w), ' ')))""".stripMargin))
        .as("g"))
    val benchGrams = grams.filter(col("source") === benchSource)
      .select(col("g")).distinct()
    val contaminated = grams.filter(col("source") =!= benchSource)
      .join(benchGrams, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.filter(col("source") =!= benchSource)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  def decontaminateSql(benchSource: String = "src0", w: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id, source, lang,
       |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |pg AS (
       |  SELECT doc_id, source,
       |         md5(array_to_string(list_slice(toks, CAST(i AS INT),
       |           CAST(i AS INT) + ${w - 1}), ' ')) AS g
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - ${w - 1} + 1)) AS i) r
       |  WHERE len(toks) >= $w),
       |bench AS (SELECT DISTINCT g FROM pg WHERE source = '$benchSource'),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM pg
       |  WHERE source <> '$benchSource' AND g IN (SELECT g FROM bench))
       |SELECT doc_id, source, lang FROM t
       |WHERE source <> '$benchSource'
       |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |ORDER BY doc_id""".stripMargin

  /** SEMANTIC decontamination — the embedding-space twin of the n-gram
    * pass above: paraphrased, fuzzed or translated benchmark leakage
    * survives exact-gram checks, so production pipelines also flag
    * training vectors whose cosine to ANY eval vector clears a
    * threshold. Benchmark = `vec_id % benchMod = 0` (the knn_join
    * query-set convention standing in for the eval set).
    *
    * Scale shape: the benchmark is BROADCAST — eval sets are bounded
    * by construction (thousands of rows, not corpus-scale), so the
    * corpus scans ONCE computing |bench| codegen'd cosines per row
    * (native CosineSimilarity, no lambda dispatch), zero shuffle
    * before the per-doc aggregate. EXACT by design: unlike the ANN
    * serving probes, a contamination pass must not trade recall for
    * pruning — a missed leak poisons an eval. (A corpus-scale bench
    * would switch to the banded-LSH candidate chain `dedup_embedding
    * _lsh` already ships; this op is the small-bench exact arm.)
    * Output surfaces only integers (hit count, first matching bench
    * id) — no float columns reach the oracle compare. */
  def semanticContaminationOn(emb: DataFrame, thr: Double = 0.40,
      benchMod: Long = 50L): DataFrame = {
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val bench = e.filter(col("vec_id") % benchMod === 0)
      .select(col("vec_id").as("bench_id"), col("v").as("bv"))
    e.filter(col("vec_id") % benchMod =!= 0)
      .crossJoin(broadcast(bench))
      .filter(Similarity.cosine(col("v"), col("bv")) >= lit(thr))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        min(col("bench_id")).as("first_bench"))
      .orderBy(col("vec_id"))
  }

  def semanticContaminationSql(thr: Double = 0.40,
      benchMod: Long = 50L): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id AS bench_id, v AS bv FROM e
       |      WHERE vec_id % $benchMod = 0),
       |hits AS (
       |  SELECT e.vec_id, b.bench_id FROM e, b
       |  WHERE e.vec_id % $benchMod <> 0
       |    AND list_dot_product(e.v, b.bv) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(b.bv, b.bv)))
       |        >= $thr)
       |SELECT vec_id, COUNT(*) AS n_bench_hits,
       |       MIN(bench_id) AS first_bench
       |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** BLOCKED semantic decontamination — the exact arm above for the
    * corpus-scale-bench regime: when the eval set itself has millions
    * of rows, per-corpus-row |bench| cosines stop being free, so both
    * sides route through the SAME portable md5 sign-bit quantizer the
    * `dedup_embedding_lsh` chain ships, BANDED simhash-style: the
    * `bands`·`bits`-plane signature splits into `bands` bands of `bits`
    * bits, a (corpus, bench) pair becomes a candidate iff ANY band
    * agrees exactly, and the exact native-codegen cosine verifies
    * candidates only. Precision 1 by construction (every surfaced hit
    * passed the exact test); recall is the banded S-curve — with the
    * default 8×2 geometry a pair at the decontamination threshold
    * (per-plane flip prob p) is missed with (1−(1−p)²)⁸ ≈ 1% even at
    * borderline cos 0.40, pinned vs the exact arm in CorpusSpec (full
    * recall at sf0.001/sf0.01, 41/42 vecs at sf0.1). The band geometry
    * is the pruning knob: wider bands (e.g. 4×7 over 28 planes —
    * bands·bits is capped at 30, the quantizer's Int cell budget,
    * enforced below) at paraphrase-regime thresholds (cos ≥ 0.9,
    * p ≤ 0.15) cut per-band candidate volume ~2⁷ while keeping the
    * same miss bound — the fixture's 2-bit bands hold recall at its
    * deliberately-borderline threshold.
    * Each side carries exactly `bands` keys per vector (no probe fan —
    * band agreement replaces Hamming-radius probing), candidate pairs
    * dedupe before the ONE broadcast verify, corpus never shuffles.
    * Entire lifecycle — plane derivation, cells, band keys, verify —
    * replayed in the DuckDB oracle below. */
  def semanticContaminationBlockedOn(emb: DataFrame, thr: Double = 0.40,
      benchMod: Long = 50L, bands: Int = 8, bits: Int = 2): DataFrame = {
    val nPlanes = bands * bits
    require(nPlanes >= 1 && nPlanes <= 30,
      s"bands*bits must be in [1, 30] (the quantizer's Int cell budget), " +
        s"got $bands*$bits = $nPlanes")
    val mask = (1 << bits) - 1
    // dim probe: the md5 plane quantizer needs the dimensionality as a
    // literal (it is baked into both engines' plane derivation), so ONE
    // single-row job runs at construction time — reading one parquet
    // row-group, never the corpus. Also the empty-corpus guard:
    // converge to the exact arm's empty verdict relation instead of
    // NoSuchElementException.
    val dimRow = emb.select(size(col("embedding"))).head(1)
    if (dimRow.isEmpty) {
      return emb.sparkSession.range(0).select(
        col("id").as("vec_id"), col("id").as("n_bench_hits"),
        col("id").as("first_bench"))
    }
    val dim = dimRow(0).getInt(0)
    // deliberately NOT persisted: the cast + LSH expression is
    // recomputed once per side (corpus / bench), each a single linear
    // pushed-down scan — cheaper than pinning a cached copy of the
    // embeddings relation in executor storage for the rest of the
    // session (at deployment scale the corpus never fits anyway)
    val e0 = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val sig = e0.withColumn("cell",
      graft.functions.SignBitLsh.sign_bit_lsh_md5(col("v"), dim, nPlanes))
    def keyed(side: DataFrame): DataFrame = side
      .select(col("vec_id"), col("v"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("cell"), bits * b).bitwiseAND(lit(mask)).as("kb")))
        : _*)).as("bk"))
      .select(col("vec_id"), col("v"),
        col("bk.band").as("band"), col("bk.kb").as("kb"))
    val corpus = keyed(sig.filter(col("vec_id") % benchMod =!= 0))
    val bench = keyed(sig.filter(col("vec_id") % benchMod === 0))
      .select(col("band"), col("kb"), col("vec_id").as("bench_id"),
        col("v").as("bv"))
    // verify BEFORE the dedup shuffle (the embeddingPairsBlocked
    // discipline): cosine is identical for every banded copy of a
    // pair, so filtering first is equivalent — and the only exchange
    // after the broadcast join then carries surviving id pairs, never
    // a candidate stream of 64-dim payloads
    corpus.join(broadcast(bench), Seq("band", "kb"))
      .filter(Similarity.cosine(col("v"), col("bv")) >= lit(thr))
      .select(col("vec_id"), col("bench_id"))
      .dropDuplicates("vec_id", "bench_id")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        min(col("bench_id")).as("first_bench"))
      .orderBy(col("vec_id"))
  }

  def semanticContaminationBlockedSql(thr: Double = 0.40,
      benchMod: Long = 50L, bands: Int = 8, bits: Int = 2): String = {
    val nPlanes = bands * bits
    val mask = (1 << bits) - 1
    s"""WITH planes AS (
       |  SELECT p, list(comp ORDER BY i) AS plane FROM (
       |    SELECT t.p, s.i,
       |      ('0x' || substr(md5(CAST(t.p AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 13))::BIGINT
       |        / 4503599627370496.0 * 2.0 - 1.0 AS comp
       |    FROM range(0, $nPlanes) t(p), range(0, 64) s(i))
       |  GROUP BY p),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cellid AS (
       |  SELECT e.vec_id,
       |    SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
       |        THEN (1::BIGINT << pl.p) ELSE 0 END) AS cell
       |  FROM e, planes pl GROUP BY e.vec_id),
       |keyed AS (
       |  SELECT vec_id, band, (cell >> CAST($bits * band AS INT)) & $mask AS kb
       |  FROM (SELECT vec_id, cell, unnest(range(0, $bands)) AS band
       |        FROM cellid)),
       |cand AS (
       |  SELECT DISTINCT c.vec_id, b.vec_id AS bench_id
       |  FROM keyed c JOIN keyed b ON c.band = b.band AND c.kb = b.kb
       |  WHERE c.vec_id % $benchMod <> 0 AND b.vec_id % $benchMod = 0),
       |hits AS (
       |  SELECT ca.vec_id, ca.bench_id
       |  FROM cand ca JOIN e ec ON ec.vec_id = ca.vec_id
       |  JOIN e eb ON eb.vec_id = ca.bench_id
       |  WHERE list_dot_product(ec.v, eb.v) /
       |    (sqrt(list_dot_product(ec.v, ec.v)) * sqrt(list_dot_product(eb.v, eb.v)))
       |    >= $thr)
       |SELECT vec_id, COUNT(*) AS n_bench_hits,
       |       MIN(bench_id) AS first_bench
       |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------------------- clustering

  /** Prefix-fingerprint duplicate clusters: documents sharing the md5 of
    * their first `nTokens` normalized tokens cluster together (the
    * boilerplate/mirror-page dedup key). Canonical doc = min doc_id.
    * Only multi-document clusters are emitted — the keep/drop decision
    * set. One shuffle on the already-tiny fingerprint. */
  def prefixClusters(docs: DataFrame, nTokens: Int = 8): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val fp = md5(concat_ws(" ",
      slice(toks, 1, nTokens))) // docs shorter than n use all their tokens
    val w = Window.partitionBy(col("fp"))
    docs.select(col("doc_id"), fp.as("fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  val prefixClustersSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:8], ' ')) AS fp
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
      |    COUNT(*) OVER (PARTITION BY fp) AS cluster_size
      |  FROM t)
      |SELECT doc_id, canonical_id, CAST(cluster_size AS BIGINT) AS cluster_size
      |FROM c WHERE cluster_size > 1 ORDER BY doc_id""".stripMargin

  /** Connected components over an undirected edge list (columns doc_a,
    * doc_b): every node's component = the minimum doc_id reachable from
    * it.
    *
    * The edge list is a CANDIDATE-PAIR set (LSH output), orders of
    * magnitude smaller than the corpus by construction — so the default
    * path collects it and runs exact union-find on the driver: O(E α(E))
    * with zero shuffles, and no job-per-iteration overhead. Even at
    * 10⁹ documents a 1% dup rate is ~10⁷ edges ≈ 160 MB — driver-sized.
    * Only beyond `driverEdgeLimit` does it fall back to distributed
    * hash-min label propagation (O(diameter) iterations of join + min,
    * localCheckpoint-truncated so iterative lineage can't blow up the
    * plan, superseded checkpoint blocks explicitly freed). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      driverEdgeLimit: Long = 5_000_000L): DataFrame = {
    val spark = pairs.sparkSession
    val edgesRaw = pairs.select(col("doc_a"), col("doc_b")).persist()
    val nEdges = edgesRaw.count()
    val out =
      if (nEdges <= driverEdgeLimit) driverUnionFind(spark, edgesRaw)
      else distributedHashMin(edgesRaw, maxIter)
    edgesRaw.unpersist()
    out.orderBy(col("id"))
  }

  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // min-root union keeps the "component = min reachable id" contract
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.sorted.map(x => (x, find(x)))
      .toDF("id", "component")
  }

  private def distributedHashMin(edgesRaw: DataFrame, maxIter: Int): DataFrame = {
    val sc = edgesRaw.sparkSession.sparkContext
    val edges = edgesRaw.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edgesRaw.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // track the checkpoint blocks we create so superseded label sets are
    // freed eagerly — clearCache() does NOT release localCheckpoint RDDs,
    // and leaking one per iteration builds memory pressure for the rest
    // of the application
    def pids: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def freeIds(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    var before = pids
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    var ownIds = pids -- before
    // labels only ever decrease, so Σcomponent is strictly monotone while
    // anything changes: convergence = unchanged sum
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("component"))).collect()(0).getLong(0)
    var iter = 0
    var prevSum = labelSum(labels)
    var changed = true
    while (changed && iter < maxIter) {
      before = pids
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("component"))
      // checkpoint BEFORE the jump: truncating here both keeps iterative
      // lineage bounded (as before) and gives the self-join below two
      // clean scans of one materialized RDD instead of re-deriving the
      // union+agg per side
      val relaxed = labels.select(col("id"), col("component"))
        .union(viaEdges)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .localCheckpoint()
      // pointer jumping (path halving): component ← component's own
      // component. Every label is itself a node id present in `relaxed`
      // (labels are mins over seen ids), so one more small self-join per
      // iteration makes label paths collapse geometrically — convergence
      // in O(log diameter) rounds instead of O(diameter), which is what
      // rescues the one pathological shape (long chains) hash-min alone
      // cannot finish within any fixed bound. comp(y) ≤ y always, so
      // labels stay monotone and the Σcomponent convergence test holds.
      val next = relaxed
        .join(relaxed.select(col("id").as("cid"), col("component").as("ccomp")),
          col("component") === col("cid"), "left")
        .select(col("id"),
          coalesce(col("ccomp"), col("component")).as("component"))
      val newIds = pids -- before
      val s = labelSum(next)
      changed = s != prevSum
      prevSum = s
      freeIds(ownIds)
      ownIds = newIds
      labels = next
      iter += 1
    }
    edges.unpersist()
    // loud beats silently wrong: an unconverged labeling would split one
    // real cluster into several "canonical" documents. With pointer
    // jumping the bound is logarithmic in the component diameter
    // (CorpusSpec pins a 64-node chain under maxIter = 10), so hitting
    // it signals something structural, not a long chain.
    if (changed) throw new IllegalStateException(
      s"connected components did not converge within $maxIter iterations — " +
        "pathological component structure; raise maxIter")
    labels
  }

  /** Near-duplicate clusters: MinHash LSH candidate pairs → connected
    * components (so A~B, B~C collapse into one cluster even when A and C
    * never collide directly). Rows-only: the murmur3 hash family is not
    * SQL-reproducible; transitivity is property-tested in CorpusSpec. */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    connectedComponents(
      Dedup.minhashPairsUnordered(Dedup.withShingles(docs), threshold)
        .select(col("doc_a"), col("doc_b")))

  /** Oracle-checked clustering twin: the same connected components over
    * the md5-family candidate pairs, so even the GRAPH stage of dedup
    * sits behind the hash gate — the DuckDB oracle states reachability
    * declaratively as a recursive CTE and takes min per node. */
  def nearDupClustersMd5(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    connectedComponents(
      Dedup.md5MinhashPairsUnordered(Dedup.withShingles(docs), threshold)
        .select(col("doc_a"), col("doc_b")))

  lazy val nearDupClustersMd5Sql: String = {
    val cand = Dedup.md5MinhashPairsSql
      .replaceAll("(?s)SELECT doc_a, doc_b, est_jaccard FROM pairs.*$", "").trim
      .replaceFirst("^WITH ", "WITH RECURSIVE ")
    s"""$cand,
       |cand AS (SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM cand
       |      UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach AS (
       |  SELECT a AS id, a AS r FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r)
       |SELECT id, CAST(MIN(r) AS BIGINT) AS component
       |FROM reach GROUP BY id ORDER BY id""".stripMargin
  }

  /** Duplicate-cluster size histogram — the corpus-health dashboard
    * number a dedup pass is judged by: how much of the corpus sits in
    * clusters of which size (size 1 = unique docs, the complement of
    * every clustered id). Rides the portable md5 cluster chain, so the
    * whole candidate → CC → histogram pipeline stays behind the hash
    * gate; the singleton row is two bounded scalar counts folded
    * in-plan (no driver arithmetic). Output (cluster_size, n_clusters,
    * n_docs) is three exact BIGINTs per row, rows ≤ max cluster size. */
  def dupClusterHistogram(docs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val comp = nearDupClustersMd5(docs, threshold).localCheckpoint(true)
    val multi = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
    val singles = docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(comp.agg(count(lit(1)).as("n_clustered")))
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"))
    multi.unionByName(singles).orderBy(col("cluster_size"))
  }

  lazy val dupClusterHistogramSql: String = {
    val cand = Dedup.md5MinhashPairsSql
      .replaceAll("(?s)SELECT doc_a, doc_b, est_jaccard FROM pairs.*$", "").trim
      .replaceFirst("^WITH ", "WITH RECURSIVE ")
    s"""$cand,
       |cand AS (SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.5),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM cand
       |      UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach AS (
       |  SELECT a AS id, a AS r FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
       |sizes AS (SELECT component, COUNT(*) AS sz FROM comp
       |          GROUP BY component)
       |SELECT cluster_size, n_clusters, n_docs FROM (
       |  SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |         CAST(SUM(sz) AS BIGINT) AS n_docs
       |  FROM sizes GROUP BY sz
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT),
       |    (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp),
       |    (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp))
       |ORDER BY cluster_size""".stripMargin
  }

  /** Oracle contract for the murmur3 clustering: its components REFINE
    * the portable md5 components — every murmur3 cluster lives entirely
    * inside one md5 cluster and never touches a node the portable chain
    * doesn't know (a direct corollary of the pair containment pinned by
    * `dedup_minhash`, re-checked here at the graph level). The emitted
    * rows are the portable clustering (which DuckDB restates as a
    * recursive CTE) with the refinement invariant folded in as a column
    * the oracle expects to be TRUE on every row. */
  def clustersRefinementQuery(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // one persisted corpus shingle pass feeds the candidate generators
    // of BOTH graph chains (the CC stages themselves are edge-sized)
    val shingled = Dedup.withShingles(docs).persist()
    val m3 = connectedComponents(
      Dedup.minhashPairsUnordered(shingled, threshold)
        .select(col("doc_a"), col("doc_b")))
      .select(col("id"), col("component").as("c3"))
    val m5 = connectedComponents(
      Dedup.md5MinhashPairsUnordered(shingled, threshold)
        .select(col("doc_a"), col("doc_b")))
      .select(col("id"), col("component").as("c5"))
    val perComp = m3.join(m5, Seq("id"), "left")
      .groupBy(col("c3"))
      .agg((countDistinct(col("c5")) === 1 &&
        max(col("c5").isNull.cast("int")) === 0).as("ok"))
    // empty murmur3 graph refines vacuously
    val refines = perComp.agg(coalesce(min(col("ok")), lit(true)).as("murmur3_refines"))
    m5.crossJoin(broadcast(refines))
      .select(col("id"), col("c5").as("component"), col("murmur3_refines"))
      .orderBy(col("id"))
  }

  lazy val clustersRefinementSql: String =
    nearDupClustersMd5Sql.replace(
      "SELECT id, CAST(MIN(r) AS BIGINT) AS component",
      "SELECT id, CAST(MIN(r) AS BIGINT) AS component, TRUE AS murmur3_refines")

  /** The cleaned corpus: keep one canonical document per near-dup
    * cluster (min doc_id), everything not in any cluster passes
    * through. This is the operator a pipeline actually deploys. */
  def canonicalCorpus(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    keepCanonical(docs, nearDupClusters(docs, threshold))

  /** Oracle-checked deploy twin: same keep-one semantics over the
    * md5-family clusters, so the final corpus membership itself is
    * hash-compared (doc ids + provenance; text stays out of the compare
    * surface only for artifact size, membership is what matters). */
  def canonicalCorpusMd5(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    keepCanonical(docs, nearDupClustersMd5(docs, threshold))
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))

  private def keepCanonical(docs: DataFrame, comp: DataFrame): DataFrame =
    docs.join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .drop("component")

  lazy val canonicalCorpusMd5Sql: String = {
    val clusters = nearDupClustersMd5Sql
      .replaceAll("(?s)SELECT id, CAST\\(MIN\\(r\\) AS BIGINT\\) AS component.*$", "")
      .trim
    s"""$clusters,
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |SELECT d.doc_id, d.source, d.lang
       |FROM documents d
       |LEFT JOIN comp ON comp.id = d.doc_id
       |WHERE comp.id IS NULL OR comp.component = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The C4-style end-to-end cleaning pass a training pipeline actually
    * deploys — three oracle-checked stages composed into ONE corpus
    * filter: near-dup canonicalization (keep one per cluster), language
    * gate (predicted English), quality gate (rule points ≥ 3). Each
    * stage is the SAME logic as its standalone declaration
    * (`corpus_canonical`, `text_langid`, `text_quality` — one source of
    * truth, reused), so the composite's oracle composes their SQL.
    * Plan shape: the cluster semi-join is the only join; both score
    * gates are narrow Columns fused into the scan-side filter. */
  def cleanCorpus(docs: DataFrame): DataFrame =
    canonicalCorpusMd5Docs(docs)
      .withColumn("quality_score", TextOps.qualityScore)
      .withColumn("en_score", TextOps.enScore)
      .filter(col("quality_score") >= 3 && col("en_score") >= 2)
      .select(col("doc_id"), col("source"), col("lang"),
        col("quality_score"), col("en_score"))
      .orderBy(col("doc_id"))

  /** `canonicalCorpusMd5` keeping the full row (text included) for
    * downstream score columns. */
  private[ext] def canonicalCorpusMd5Docs(docs: DataFrame): DataFrame =
    keepCanonical(docs, nearDupClustersMd5(docs, 0.5))

  lazy val cleanCorpusSql: String = {
    val prefix = canonicalCorpusMd5Sql
      .replaceAll("(?s)SELECT d\\.doc_id, d\\.source, d\\.lang.*$", "")
      .trim
    s"""$prefix
       |SELECT doc_id, source, lang, quality_score, en_score FROM (
       |  SELECT d.doc_id, d.source, d.lang,
       |    CAST(${TextOps.qualityScoreSql("d")} AS INT) AS quality_score,
       |    CAST(${TextOps.enScoreSql("d")} AS INT) AS en_score
       |  FROM documents d
       |  LEFT JOIN comp ON comp.id = d.doc_id
       |  WHERE comp.id IS NULL OR comp.component = d.doc_id)
       |WHERE quality_score >= 3 AND en_score >= 2
       |ORDER BY doc_id""".stripMargin
  }

  /** Vocabulary-growth (Heaps-law) audit — the curve that sizes a
    * tokenizer vocabulary and predicts how many NEW types the next
    * corpus drop will add: the corpus is cut into `nBuckets` ingest
    * slices by doc_id range (value-based, from one bounded max scalar
    * — no global row_number), and each slice reports its token
    * occurrences, cumulative tokens, first-seen types (tokens whose
    * MIN bucket is this slice) and cumulative vocabulary. All exact
    * BIGINT counts; the cumulative window runs over ≤ nBuckets rows.
    *
    * Scale shape: one explode → two partial-aggregated reduces (per
    * bucket, and per token for the min-bucket first-occurrence) — the
    * token relation is touched once, the join-back is bucket-keyed
    * bounded metadata. */
  def vocabGrowth(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val toks = docs.select(
        expr(s"((doc_id - 1) * $nBuckets) div $maxId").as("bucket"),
        explode(Dedup.tokens(col("text"))).as("w"))
      .persist()
    val occ = toks.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val fresh = toks.groupBy(col("w")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_types"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    occ.join(fresh, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("n_tokens_cum", sum(col("n_tokens")).over(cum))
      .withColumn("n_types_cum", sum(col("n_new_types")).over(cum))
      .orderBy(col("bucket"))
  }

  def vocabGrowthSql(nBuckets: Int = 10): String =
    s"""WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
       |t AS (
       |  SELECT ((doc_id - 1) * $nBuckets) // (SELECT m FROM mx) AS bucket,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |occ AS (SELECT bucket, COUNT(*) AS n_tokens FROM t GROUP BY bucket),
       |fresh AS (
       |  SELECT bucket, COUNT(*) AS n_new_types FROM (
       |    SELECT w, MIN(bucket) AS bucket FROM t GROUP BY w)
       |  GROUP BY bucket)
       |SELECT o.bucket, o.n_tokens,
       |  CAST(COALESCE(f.n_new_types, 0) AS BIGINT) AS n_new_types,
       |  CAST(SUM(o.n_tokens) OVER (ORDER BY o.bucket) AS BIGINT)
       |    AS n_tokens_cum,
       |  CAST(SUM(COALESCE(f.n_new_types, 0)) OVER (ORDER BY o.bucket)
       |    AS BIGINT) AS n_types_cum
       |FROM occ o LEFT JOIN fresh f ON f.bucket = o.bucket
       |ORDER BY o.bucket""".stripMargin

  // --------------------------------------------------------------- sampling

  /** Deterministic stratified sampling: keep a row iff the uniform
    * [0,1) value derived from md5(doc_id) falls under its source's
    * rate. No RNG state, no shuffle, reproducible across engines and
    * runs — the property that makes a 100 TB sample re-computable.
    * The first 8 hex chars give u = k / 2^32, exact in a double, so the
    * comparison is bit-identical everywhere. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val rate = coalesce(
      element_at(typedlit(rates), col("source")), lit(defaultRate))
    docs.select(col("doc_id"), col("source"), u.as("u"), rate.as("rate"))
      .filter(col("u") < col("rate"))
      .orderBy(col("doc_id"))
  }

  def stratifiedSampleSql(rates: Map[String, Double], defaultRate: Double): String = {
    val cases = rates.toSeq.sorted
      .map { case (s, r) => s"WHEN source = '$s' THEN $r" }.mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      / 4294967296.0 AS u,
       |    -- DOUBLE, not the decimal-literal DECIMAL(3,2): Spark's rate
       |    -- is a double, and the u < rate compare must be IEEE on both
       |    CAST(CASE $cases ELSE $defaultRate END AS DOUBLE) AS rate
       |  FROM documents)
       |SELECT doc_id, source, u, rate FROM t
       |WHERE u < rate ORDER BY doc_id""".stripMargin
  }

  /** Systematic probability-proportional-to-size sampling: walk the
    * corpus' cumulative INTEGER weight line (weight = n_chars — the
    * cost a downstream tokenizer actually pays) and keep every document
    * whose weight span crosses a multiple of the stride T = total/k.
    * P(keep) ≈ w/T — the PPS property — with ZERO randomness: the
    * sample is a pure function of the corpus, reproducible across
    * engines and runs like every sampling op here (a doc spanning
    * several strides is kept once — a keep decision, not a
    * multiplicity draw).
    *
    * The prefix sum is two-level, the `rel/DistributedRank` skeleton:
    * one per-SOURCE window pass (bounded partitions, no global
    * "no-partition" window), per-source totals collected as bounded
    * driver metadata (one row per source) and prefix-folded into
    * offsets — the (source, doc_id) order is the global line. Every
    * quantity is a BIGINT; the crossing test is two integer divisions. */
  /** The global cumulative n_chars line shared by the weight-aware
    * training-prep ops (`sample_weighted`, `corpus_shard_assign`):
    * per-SOURCE window prefix + driver prefix-fold of per-source totals
    * (bounded metadata, the rel/DistributedRank skeleton — no global
    * no-partition window), sources folded in CODE-POINT order to match
    * the oracle's ORDER BY (Scala's UTF-16 default sorts a surrogate
    * pair before U+FFFF). Returns (doc_id, source, w, cum) with cum
    * INCLUSIVE, plus the grand total.
    *
    * CALLER CONTRACT (same as rel/DistributedRank): the returned frame
    * depends lazily on a `.persist()`ed intermediate, so it cannot be
    * unpersisted here. Embedders running `systematicWeightedSample` /
    * `shardAssign` in a long-lived session should
    * `spark.catalog.clearCache()` between unrelated jobs, or the cached
    * cumulative frames accumulate. */
  private def weightedLine(docs: DataFrame): (DataFrame, Long) = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val withCum = docs
      .select(col("doc_id"), col("source"), col("n_chars").as("w"))
      .withColumn("scum", sum(col("w")).over(w))
      .persist()
    val byCodePoint: Ordering[String] = (a: String, b: String) => {
      var i = 0; var j = 0; var r = 0
      while (r == 0 && i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        r = Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      if (r != 0) r else Integer.compare(a.length - i, b.length - j)
    }
    val totals = withCum.groupBy(col("source"))
      .agg(max(col("scum")).as("stotal"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)(byCodePoint)
    var acc = 0L
    val offs = totals.map { case (src, t) => val o = acc; acc += t; (src, o) }.toMap
    val line = withCum
      .withColumn("cum",
        col("scum") + element_at(typedlit(offs), col("source")))
      .select(col("doc_id"), col("source"), col("w"), col("cum"))
    (line, acc)
  }

  /** Priority sampling (Duffield–Lund–Thorup, JACM 2007) — the
    * weighted-sampling gold standard for subset-sum estimation: each
    * doc draws a deterministic md5 uniform u ∈ [1, 2³²] and competes
    * with priority q = (w·2³²) div u (exact BIGINT, ≥ w, in weight
    * units); the sample is the top-k by (q DESC, doc_id), and with
    * τ = the (k+1)-th priority the estimator ŵ = max(w, τ) gives an
    * unbiased subset-sum estimate with provably near-optimal variance.
    * Zero RNG state — the sample and every estimate are pure functions
    * of the corpus, reproducible across engines, runs and partitionings
    * like all sampling ops here.
    *
    * Scale shape: one narrow map derives priorities, the top-(k+1) is
    * a TakeOrderedAndProject (never a global sort), and τ is one
    * bounded scalar off that k+1-row relation. */
  def prioritySample(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = conv(substring(
      md5(concat(lit("prio:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") + 1L
    val pri = docs.select(col("doc_id"), col("source"),
        col("n_chars").as("w"), u.as("u"))
      .select(col("doc_id"), col("source"), col("w"),
        expr("(w * 4294967296) div u").as("priority"))
    val topK1 = pri
      .orderBy(col("priority").desc, col("doc_id")).limit(k + 1)
      .localCheckpoint(true)
    val tau =
      if (topK1.count() > k) topK1.agg(min(col("priority"))).head().getLong(0)
      else 0L
    topK1.orderBy(col("priority").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("source"), col("w"), col("priority"),
        greatest(col("w"), lit(tau)).as("est_w"))
      .orderBy(col("doc_id"))
  }

  def prioritySampleSql(k: Int): String =
    s"""WITH p AS (
       |  SELECT doc_id, source, n_chars AS w,
       |    (n_chars * 4294967296) //
       |      (('0x' || substr(md5('prio:' || CAST(doc_id AS VARCHAR)),
       |                       1, 8))::BIGINT + 1) AS priority
       |  FROM documents),
       |top1 AS (
       |  SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT ${k + 1}),
       |tau AS (
       |  SELECT CASE WHEN (SELECT COUNT(*) FROM top1) > $k
       |              THEN (SELECT MIN(priority) FROM top1)
       |              ELSE 0 END AS t)
       |SELECT doc_id, source, w, CAST(priority AS BIGINT) AS priority,
       |       CAST(GREATEST(w, (SELECT t FROM tau)) AS BIGINT) AS est_w
       |FROM (SELECT * FROM top1 ORDER BY priority DESC, doc_id LIMIT $k)
       |ORDER BY doc_id""".stripMargin

  def systematicWeightedSample(docs: DataFrame, k: Int): DataFrame = {
    val (line, total) = weightedLine(docs)
    val stride = total / k
    require(stride > 0, s"corpus weight $total too small for k=$k")
    line
      .filter(expr(s"cum div $stride > (cum - w) div $stride"))
      .orderBy(col("doc_id"))
  }

  /** Shard planning for training export: walk the SAME cumulative
    * token-cost line and assign each document to the shard its START
    * falls in — `shard = (cum − w) div target` — so every shard except
    * the last carries ≥ target weight before the next begins (greedy
    * fill, the standard corpus-sharding rule) and the assignment is a
    * pure function of the corpus: re-running the export with more
    * executors, another engine, or a month later shards identically.
    * Surfaced per doc with its shard's running fill for audit. */
  def shardAssign(docs: DataFrame, targetChars: Long): DataFrame = {
    val (line, _) = weightedLine(docs)
    line
      .withColumn("shard", expr(s"(cum - w) div $targetChars"))
      .select(col("doc_id"), col("source"), col("w"), col("cum"),
        col("shard"))
      .orderBy(col("doc_id"))
  }

  def shardAssignSql(targetChars: Long): String =
    s"""WITH t AS (
       |  SELECT doc_id, source, n_chars AS w FROM documents),
       |sc AS (
       |  SELECT doc_id, source, w,
       |    SUM(w) OVER (PARTITION BY source ORDER BY doc_id) AS scum
       |  FROM t),
       |st AS (SELECT source, MAX(scum) AS stotal FROM sc GROUP BY source),
       |off AS (
       |  SELECT source, COALESCE(SUM(stotal) OVER (ORDER BY source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
       |  FROM st),
       |c AS (
       |  SELECT sc.doc_id, sc.source, sc.w, sc.scum + off.o AS cum
       |  FROM sc JOIN off USING (source))
       |SELECT doc_id, source, CAST(w AS BIGINT) AS w,
       |       CAST(cum AS BIGINT) AS cum,
       |       CAST((cum - w) // $targetChars AS BIGINT) AS shard
       |FROM c ORDER BY doc_id""".stripMargin

  def systematicWeightedSampleSql(k: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, source, n_chars AS w FROM documents),
       |sc AS (
       |  SELECT doc_id, source, w,
       |    SUM(w) OVER (PARTITION BY source ORDER BY doc_id) AS scum
       |  FROM t),
       |st AS (SELECT source, MAX(scum) AS stotal FROM sc GROUP BY source),
       |off AS (
       |  SELECT source, COALESCE(SUM(stotal) OVER (ORDER BY source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
       |  FROM st),
       |tot AS (SELECT CAST(SUM(stotal) AS BIGINT) // $k AS stride FROM st),
       |c AS (
       |  SELECT sc.doc_id, sc.source, sc.w, sc.scum + off.o AS cum
       |  FROM sc JOIN off USING (source))
       |SELECT doc_id, source, CAST(w AS BIGINT) AS w,
       |       CAST(cum AS BIGINT) AS cum
       |FROM c, tot
       |-- NULLIF mirrors the Scala require(stride > 0): a corpus whose
       |-- total weight is < k surfaces zero rows instead of div-by-zero
       |WHERE cum // NULLIF(stride, 0) > (cum - w) // NULLIF(stride, 0)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- redaction

  /** PII redaction as a pure Column chain — RE2-safe patterns (no
    * lookaround) so the exact same regexes run in any engine. Order
    * matters: emails first (their local parts contain digit runs a
    * phone pattern would shred), then phones, then IPs (dots keep them
    * out of the phone pattern). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?\\d[\\d -]{7,}\\d"
  val IpRe    = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailRe, "[EMAIL]")
    val noPhone = regexp_replace(noEmail, PhoneRe, "[PHONE]")
    regexp_replace(noPhone, IpRe, "[IP]")
  }

  /** The declared query plants deterministic PII per document (the
    * fixture corpus has none), redacts, and emits the redacted tail
    * plus a clean flag — so the oracle hash-compare proves every
    * pattern fired, not that the input was already clean. */
  def piiRedactQuery(docs: DataFrame): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact: user"), col("doc_id"), lit("@mail.example"),
      lit(" tel +971 50 123 "), (col("doc_id") % 1000 + 1000).cast("string"),
      lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
    docs.select(col("doc_id"),
      redactPii(planted).as("redacted"))
      .select(col("doc_id"),
        // same formula both engines (negative-start semantics differ)
        expr("substring(redacted, greatest(1, length(redacted) - 63), 64)")
          .as("redacted_tail"),
        (!col("redacted").rlike("@") && !col("redacted").rlike(IpRe) &&
          !col("redacted").rlike(PhoneRe)).as("clean"))
      .orderBy(col("doc_id"))
  }

  val piiRedactSql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@mail.example'
      |         || ' tel +971 50 123 ' || CAST(doc_id % 1000 + 1000 AS VARCHAR)
      |         || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
      |  FROM documents),
      |red AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |        '\+?\d[\d -]{7,}\d', '[PHONE]', 'g'),
      |      '\b(\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g') AS redacted
      |  FROM planted)
      |SELECT doc_id,
      |  substr(redacted, greatest(1, length(redacted) - 63), 64) AS redacted_tail,
      |  (NOT regexp_matches(redacted, '@')
      |    AND NOT regexp_matches(redacted, '\b(\d{1,3}\.){3}\d{1,3}\b')
      |    AND NOT regexp_matches(redacted, '\+?\d[\d -]{7,}\d')) AS clean
      |FROM red ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- chunking

  /** Fixed-window document chunking with stride overlap — the prep step
    * that turns documents into training samples. Chunk c covers tokens
    * [c·stride, c·stride + window); starts run at stride multiples below
    * the token count, so every document yields ≥ 1 chunk and consecutive
    * chunks overlap by window − stride tokens. Pure narrow map + explode
    * (linear output rows, no shuffle before the caller's sink). */
  def chunkDocuments(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val toks = graft.functions.WordShingles.word_ngrams(col("text"), 1)
    docs
      .select(col("doc_id"), Dedup.bind(toks) { t =>
        struct(t.as("toks"), size(t).as("n"))
      }.as("s"))
      .filter(col("s.n") >= 1)
      .select(col("doc_id"), col("s.toks").as("toks"),
        explode(sequence(lit(0), col("s.n") - 1, lit(stride))).as("start"))
      .select(col("doc_id"), (col("start") / stride).cast("int").as("chunk_id"),
        slice(col("toks"), col("start") + 1, lit(window)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  def chunkSql(window: Int, stride: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |starts AS (
       |  SELECT doc_id, toks, unnest(range(0, len(toks), $stride)) AS start
       |  FROM t WHERE len(toks) >= 1),
       |chunks AS (
       |  SELECT doc_id, CAST(start / $stride AS INT) AS chunk_id,
       |    toks[start + 1 : start + $window] AS chunk
       |  FROM starts)
       |SELECT doc_id, chunk_id,
       |  CAST(len(chunk) AS INT) AS n_chunk_tokens,
       |  array_to_string(chunk, ' ') AS chunk_text
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------------------- repetition

  /** Gopher-style repetition signal: the share of a document's bigrams
    * taken by its single most frequent bigram (tie → lexicographically
    * first). High values flag template/boilerplate text. Explode +
    * partial-aggregated count keyed on (doc_id, gram) — linear rows,
    * high-cardinality shuffle keys. */
  def repetitionRatio(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        graft.functions.WordShingles.word_ngrams(col("text"), 2).as("grams"))
      .filter(size(col("grams")) >= 1)
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        explode(col("grams")).as("gram"))
    // repartition(doc_id) up front: it satisfies the (doc, n_grams,
    // gram) aggregate's clustering AND the top-gram window spec, so the
    // count-then-rank pair costs one shuffle instead of two. Tradeoff,
    // measured on the fixture corpus: 3.6 vs 4.8 MB shuffled and a
    // stage saved. This ships raw exploded gram rows (no map-side
    // combine before the exchange) — on pathologically repetitive docs
    // where occurrences ≫ distinct grams, the partial-agg-first
    // two-shuffle shape wins bytes back; flip the repartition off if
    // the corpus dup factor is ≫ 10
    val counts = grams.repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("n_grams"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("gram"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("gram").as("top_gram"), col("cnt").as("top_count"),
        (col("cnt").cast("double") / col("n_grams")).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, len(toks) - 1 AS n_grams,
      |    unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i+1])) AS gram
      |  FROM t WHERE len(toks) >= 2),
      |c AS (SELECT doc_id, n_grams, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
      |r AS (SELECT doc_id, gram, cnt, n_grams,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
      |      FROM c)
      |SELECT doc_id, gram AS top_gram, CAST(cnt AS BIGINT) AS top_count,
      |  CAST(cnt AS DOUBLE) / n_grams AS rep_ratio
      |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ domain capping

  /** Per-source document cap (the RefinedWeb-style anti-domination
    * guard): keep at most `cap` documents per source, chosen by a
    * deterministic salted-hash order — no RNG state, bit-identical on
    * re-run, decorrelated from `stratifiedSample`'s hash by the salt.
    *
    * Scale shape: per-source counts gate the window — sources at or
    * under the cap bypass ranking entirely, so the skewed
    * row_number-per-source only runs over sources that actually
    * overflow (at 100 TB a handful of giant domains; AQE splits the
    * join, and the over-cap relation the window sorts is the small
    * fraction of the corpus those domains hold). The semantics are
    * EXACTLY plain rank ≤ cap; the split is physical only. */
  def domainCap(docs: DataFrame, cap: Int): DataFrame = {
    val h = substring(md5(concat(lit("cap:"), col("doc_id").cast("string"))), 1, 16)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val tagged = docs.select(col("doc_id"), col("source"))
      .join(counts, Seq("source"))
    val under = tagged.where(col("n") <= cap)
    // bottom-cap per source WITHOUT the fat-key window (the
    // kmvIntersectFromFp discipline): bottom-k by a pure order
    // statistic commutes with cell-union, so the salted pre-stage
    // bounds every sort task at |source|/cells rows and the final
    // ranking sees ≤ cells·cap rows per source — identical output,
    // oracle untouched
    val cells = 64
    val pre = tagged.where(col("n") > cap)
      .withColumn("cell", pmod(hash(col("doc_id")), lit(cells)))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"), col("cell"))
          .orderBy(h, col("doc_id"))))
      .where(col("rk") <= cap).drop("rk", "cell")
    val capped = pre
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(h, col("doc_id"))))
      .where(col("rk") <= cap)
    under.select(col("source"), col("doc_id"))
      .union(capped.select(col("source"), col("doc_id")))
      .orderBy(col("source"), col("doc_id"))
  }

  def domainCapSql(cap: Int): String =
    s"""WITH r AS (
       |  SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 16), doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM documents)
       |SELECT source, doc_id FROM r
       |WHERE n <= $cap OR rk <= $cap
       |ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------- balanced sample

  /** Class-balanced deterministic downsample: every language keeps
    * exactly min-class-count documents (the smallest language is kept
    * whole), chosen by the salted-hash order — the classifier-training
    * counterpart of `domainCap` (cap fixed) and `sample_bottomk_hash`
    * (global k): here the cap IS the minority class size, computed
    * from the data, so the output is perfectly balanced with zero RNG.
    *
    * Scale shape: the floor is one |classes|-row aggregate folded back
    * by broadcast; the per-class ranking is the domainCap window —
    * per-class partitions, salted-hash order, rank ≤ floor. */
  def balancedSample(docs: DataFrame): DataFrame = {
    val h = substring(md5(concat(lit("bal:"),
      col("doc_id").cast("string"))), 1, 16)
    val floorN = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n"))).head().getLong(0)
    docs.select(col("lang"), col("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))))
      .where(col("rk") <= floorN)
      .select(col("lang"), col("doc_id"), col("rk").cast("long").as("rk"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val balancedSampleSql: String =
    """WITH f AS (
      |  SELECT MIN(n) AS floor_n FROM (
      |    SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)),
      |r AS (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY substr(md5('bal:' || CAST(doc_id AS VARCHAR)), 1, 16),
      |        doc_id) AS rk
      |  FROM documents)
      |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
      |FROM r, f WHERE rk <= f.floor_n
      |ORDER BY lang, doc_id""".stripMargin

  // ------------------------------------------------------ declared queries

  private val SampleRates = Map("src0" -> 0.5, "src1" -> 0.25)

  private val q: Seq[(String, QueryDef)] = Seq(
    "contamination_check" -> QueryDef(
      (s, d) => contaminationMatrix(Tables.documents(s, d)), contaminationSql),
    "dedup_canonical" -> QueryDef(
      (s, d) => prefixClusters(Tables.documents(s, d)), prefixClustersSql),
    // murmur3 graph behind its refinement contract (raw assignments =
    // `nearDupClusters`, still the production API and spec-pinned)
    "dedup_clusters" -> QueryDef(
      (s, d) => clustersRefinementQuery(Tables.documents(s, d)),
      Some(clustersRefinementSql)),
    "dedup_clusters_md5" -> QueryDef(
      (s, d) => nearDupClustersMd5(Tables.documents(s, d)),
      Some(nearDupClustersMd5Sql)),
    "dedup_cluster_histogram" -> QueryDef(
      (s, d) => dupClusterHistogram(Tables.documents(s, d)),
      Some(dupClusterHistogramSql)),
    "corpus_canonical" -> QueryDef(
      (s, d) => canonicalCorpusMd5(Tables.documents(s, d)),
      Some(canonicalCorpusMd5Sql)),
    "corpus_clean" -> QueryDef(
      (s, d) => cleanCorpus(Tables.documents(s, d)),
      Some(cleanCorpusSql)),
    // embedding-space twin of corpus_decontaminate: exact broadcast-
    // bench cosine pass, integer-only output surface
    "contamination_semantic" -> QueryDef(
      (s, d) => semanticContaminationOn(Tables.embeddings(s, d)),
      Some(semanticContaminationSql())),
    // corpus-scale-bench arm: banded md5 sign-bit blocking (candidate
    // iff ANY band agrees — no probe fan) + exact-cosine verify on
    // candidates only; full plane/cell/band-key lifecycle replayed in
    // the oracle
    "contamination_semantic_blocked" -> QueryDef(
      (s, d) => semanticContaminationBlockedOn(Tables.embeddings(s, d)),
      Some(semanticContaminationBlockedSql())),
    "corpus_decontaminate" -> QueryDef(
      (s, d) => decontaminate(Tables.documents(s, d)),
      Some(decontaminateSql())),
    "sample_stratified" -> QueryDef(
      (s, d) => stratifiedSample(Tables.documents(s, d), SampleRates, 0.1),
      stratifiedSampleSql(SampleRates, 0.1)),
    "sample_balanced" -> QueryDef(
      (s, d) => balancedSample(Tables.documents(s, d)),
      balancedSampleSql),
    "pii_redact" -> QueryDef(
      (s, d) => piiRedactQuery(Tables.documents(s, d)), piiRedactSql),
    "text_repetition" -> QueryDef(
      (s, d) => repetitionRatio(Tables.documents(s, d)), repetitionSql),
    "corpus_chunks" -> QueryDef(
      (s, d) => chunkDocuments(Tables.documents(s, d), window = 32, stride = 24),
      Some(chunkSql(32, 24))),
    // cap 15 with ~25 docs/source on the fixture → every source prunes
    "corpus_domain_cap" -> QueryDef(
      (s, d) => domainCap(Tables.documents(s, d), 15), domainCapSql(15)),
    // ---- the END-TO-END curation pipeline as ONE declarative plan:
    //      every document routed to its final disposition with a
    //      reason-coded status (the etl_quarantine discipline applied
    //      to corpus curation) — benchmark slice excluded, exact dups
    //      dropped to their canonical, benchmark-contaminated docs cut
    //      (the corpus_decontaminate 8-gram rule), Gopher rejects
    //      marked low_quality, the rest kept. Priority is the CASE
    //      order; each stage reuses the already-declared operator's
    //      exact semantics, so this is the composition proof: the
    //      engine's own operators chain into the full training-data
    //      pipeline without leaving the declarative plan ---------------
    "corpus_curation_pipeline" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val w = 8
        val toks = filter(split(col("text"), " "), t => t =!= "")
        // pairwise near-dup stage: doc is a duplicate iff some
        // smaller-id doc shares a banded-signature pair at est >= 0.5
        // (subsumes exact duplicates: identical text => identical
        // signatures => a pair at est 1.0)
        val nearDup = Dedup
          .md5MinhashPairsUnordered(Dedup.withShingles(docs), 0.5)
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("is_dup", lit(true))
        val grams = docs
          .select(col("doc_id"), col("source"), Dedup.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= w)
          .select(col("doc_id"), col("source"), explode(expr(
            s"""transform(sequence(1, size(toks) - ${w - 1}),
               |  i -> md5(array_join(slice(toks, i, $w), ' ')))""".stripMargin))
            .as("g"))
        val benchGrams = grams.filter(col("source") === "src0")
          .select(col("g")).distinct()
        val contaminated = grams.filter(col("source") =!= "src0")
          .join(benchGrams, Seq("g"), "left_semi")
          .select(col("doc_id")).distinct()
          .withColumn("is_contaminated", lit(true))
        val perDoc = docs.select(col("doc_id"),
          size(toks).as("n_words"),
          aggregate(toks, lit(0), (acc, t) => acc + length(t)).as("sum_word_len"),
          size(filter(toks, t => t.isin(
            "the", "be", "to", "of", "and", "that", "have", "with")))
            .as("stop_hits"))
        val maxWord = docs.select(col("doc_id"), explode(toks).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("max_word_cnt"))
        val keepFlag = perDoc.join(maxWord, Seq("doc_id"))
          .select(col("doc_id"),
            (col("n_words").between(20, 80) &&
              col("sum_word_len") * 10 >= col("n_words") * 30 &&
              col("sum_word_len") * 10 <= col("n_words") * 50 &&
              col("stop_hits") >= 2 &&
              col("max_word_cnt") * 5 <= col("n_words")).as("keep"))
        docs.select(col("doc_id"), col("source"))
          .join(nearDup, Seq("doc_id"), "left")
          .join(contaminated, Seq("doc_id"), "left")
          .join(keepFlag, Seq("doc_id"))
          .select(col("doc_id"), col("source"),
            when(col("source") === "src0", "benchmark")
              .when(col("is_dup"), "near_dup")
              .when(col("is_contaminated"), "contaminated")
              .when(!col("keep"), "low_quality")
              .otherwise("kept").as("status"))
          .orderBy(col("doc_id"))
      },
      s"""WITH t AS (
        |  SELECT doc_id, source, text,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |pg AS (
        |  SELECT doc_id, source,
        |         md5(array_to_string(list_slice(toks, CAST(i AS INT),
        |           CAST(i AS INT) + 7), ' ')) AS g
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 7 + 1)) AS i) r
        |  WHERE len(toks) >= 8),
        |bench AS (SELECT DISTINCT g FROM pg WHERE source = 'src0'),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM pg
        |  WHERE source <> 'src0' AND g IN (SELECT g FROM bench)),
        |s AS (
        |  SELECT doc_id, len(toks) AS n_words,
        |         list_sum(list_transform(toks, x -> length(x))) AS sum_word_len,
        |         len(list_filter(toks, x -> x IN
        |           ('the','be','to','of','and','that','have','with'))) AS stop_hits
        |  FROM t),
        |m AS (
        |  SELECT doc_id, MAX(c) AS max_word_cnt
        |  FROM (SELECT doc_id, w, COUNT(*) AS c
        |        FROM (SELECT doc_id, unnest(toks) AS w FROM t)
        |        GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |q AS (
        |  SELECT s.doc_id,
        |    s.n_words BETWEEN 20 AND 80
        |      AND s.sum_word_len * 10 >= s.n_words * 30
        |      AND s.sum_word_len * 10 <= s.n_words * 50
        |      AND s.stop_hits >= 2
        |      AND m.max_word_cnt * 5 <= s.n_words AS keep
        |  FROM s JOIN m ON m.doc_id = s.doc_id),
        |nd AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM (${Dedup.md5MinhashPairsSql}))
        |SELECT d.doc_id, d.source,
        |  CASE WHEN d.source = 'src0' THEN 'benchmark'
        |       WHEN d.doc_id IN (SELECT doc_id FROM nd) THEN 'near_dup'
        |       WHEN d.doc_id IN (SELECT doc_id FROM contaminated) THEN 'contaminated'
        |       WHEN NOT q.keep THEN 'low_quality'
        |       ELSE 'kept' END AS status
        |FROM documents d
        |JOIN q ON q.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ---- n-gram NOVELTY score: per doc, how many of its distinct
    //      3-grams appear here FIRST (first occurrence = min doc_id
    //      over the corpus order) — the curation signal that separates
    //      fresh content from recombinations of already-seen text, and
    //      the per-document view of what `corpus_decontaminate` checks
    //      against a benchmark. Gram relation is the Spans shape: one
    //      explode, min-per-gram partial agg, one gram-keyed join back;
    //      never doc×doc. All-integer surface; <3-token docs surface
    //      with zero counts (LEFT join backfill), not dropped ----------
    "corpus_novelty" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val g = docs.select(col("doc_id"),
          explode(Dedup.shingles(col("text"), 3)).as("gram"))
        val first = g.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
        val n = g.join(first, Seq("gram"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
        docs.select(col("doc_id")).join(n, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"))
          .orderBy(col("doc_id"))
      },
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |shingled AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
        |    END AS sh
        |  FROM t),
        |g AS (SELECT doc_id, unnest(sh) AS gram FROM shingled),
        |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
        |n AS (
        |  SELECT g.doc_id, COUNT(*) AS n_grams,
        |    SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
        |  FROM g JOIN f USING (gram) GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel
        |FROM documents d LEFT JOIN n ON n.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // ---- fixed-SIZE uniform sample as a bottom-k hash sketch: keep the
    //      k docs with the smallest md5(doc_id) — reproducible (no RNG
    //      state), uniform (hash order is independent of any data
    //      attribute), and MERGEABLE: the bottom-k of a union is the
    //      bottom-k of each side's bottom-k, so every partition ships at
    //      most k candidates (Spark plans TakeOrderedAndProject, never a
    //      global sort) and incremental corpus growth just re-merges —
    //      the size-exact complement of `sample_stratified`'s rate-based
    //      threshold on the same md5 derivation ------------------------
    // ---- systematic PPS sample on the integer weight line: P(keep) ∝
    //      n_chars with zero randomness; two-level prefix sum --------
    // ---- greedy token-budget shard planning on the same line -------
    "corpus_shard_assign" -> QueryDef(
      (s, d) => shardAssign(Tables.documents(s, d), 3000L),
      Some(shardAssignSql(3000L))),
    "sample_weighted" -> QueryDef(
      (s, d) => systematicWeightedSample(Tables.documents(s, d), 50),
      Some(systematicWeightedSampleSql(50))),
    // ---- Duffield priority sampling: top-k by (w·2^32) div u with the
    //      max(w, tau) unbiased subset-sum estimator; TakeOrdered, no
    //      global sort, tau is one bounded scalar ---------------------
    "sample_priority" -> QueryDef(
      (s, d) => prioritySample(Tables.documents(s, d), 60),
      Some(prioritySampleSql(60))),
    "corpus_vocab_growth" -> QueryDef(
      (s, d) => vocabGrowth(Tables.documents(s, d)),
      Some(vocabGrowthSql())),
    "sample_bottomk_hash" -> QueryDef(
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(concat(lit("smp:"), col("doc_id").cast("string"))).as("h"))
        .orderBy(col("h"), col("doc_id"))
        .limit(100)
        .orderBy(col("doc_id")),
      """SELECT doc_id, source, h FROM (
        |  SELECT doc_id, source,
        |         md5('smp:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents
        |  ORDER BY h, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin)
  )

  /** Hard-negative mining for retrieval training (the DPR/contriever
    * prep step): for each query document, the top-k OTHER documents
    * that share its rarest vocabulary — lexically confusable, so they
    * make hard (not random) negatives — with exact duplicates excluded
    * as false negatives.
    *
    * Candidate generation is the prefix-filter economics again: each
    * query contributes only its `nAnchors` globally RAREST distinct
    * tokens (ascending df, token tie-break — the `dedup_containment`
    * anchor ordering), and candidates come from the postings of those
    * tokens alone, so the stream is Σ df(anchor) per query — never
    * query × corpus. Scoring is the `text_search` integer rarity
    * weight tf · (N·1000 div df) summed over shared anchors; the
    * per-query top-k plans as WindowGroupLimit (candidates prune to k
    * during the shuffle). Exact-dup exclusion compares md5(text) —
    * one narrow hash, no pairwise text compare. */
  def hardNegatives(docs: DataFrame, qMod: Long = 50L, nAnchors: Int = 8,
      k: Int = 5): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val dft = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // spread the anchor-rank window (AQE coalesces its small-byte
    // exchange to one task; per-row rank CPU is what dominates — see
    // core.Width.byKeys)
    val anchors = Width.byKeys(
        toks.filter(col("doc_id") % qMod === 0).join(dft, Seq("token")),
        col("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("token"))))
      .filter(col("rn") <= nAnchors)
      .select(col("doc_id").as("query_id"), col("token"), col("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = anchors
      .join(toks, Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(nDocs))
      .withColumn("term_fp", expr("tf * ((n_docs * 1000) div df)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_fp")).as("score_fp"))
    val fp = docs.select(col("doc_id"), md5(col("text")).as("h"))
    scored
      .join(fp.select(col("doc_id").as("query_id"), col("h").as("qh")),
        Seq("query_id"))
      .join(fp.select(col("doc_id"), col("h").as("dh")), Seq("doc_id"))
      .filter(col("qh") =!= col("dh"))
      .transform(Width.byKeys(_, col("query_id")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_fp").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score_fp"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  def hardNegativesSql(qMod: Long = 50L, nAnchors: Int = 8, k: Int = 5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |                                      x -> x <> '')) AS token
       |    FROM documents)
       |  GROUP BY doc_id, token),
       |dft AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY token),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |anch AS (
       |  SELECT doc_id AS query_id, token, df FROM (
       |    SELECT t.doc_id, t.token, f.df,
       |      ROW_NUMBER() OVER (PARTITION BY t.doc_id
       |        ORDER BY f.df, t.token) AS rn
       |    FROM toks t JOIN dft f USING (token)
       |    WHERE t.doc_id % $qMod = 0)
       |  WHERE rn <= $nAnchors),
       |scored AS (
       |  SELECT a.query_id, t.doc_id,
       |    CAST(SUM(t.tf * ((nd.n_docs * 1000) // a.df)) AS BIGINT) AS score_fp
       |  FROM anch a
       |  JOIN toks t USING (token)
       |  CROSS JOIN nd
       |  WHERE t.doc_id <> a.query_id
       |  GROUP BY a.query_id, t.doc_id),
       |fp AS (SELECT doc_id, md5(text) AS h FROM documents),
       |ranked AS (
       |  SELECT s.query_id, s.doc_id, s.score_fp,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
       |      ORDER BY s.score_fp DESC, s.doc_id) AS INT) AS rank
       |  FROM scored s
       |  JOIN fp q ON q.doc_id = s.query_id
       |  JOIN fp d ON d.doc_id = s.doc_id
       |  WHERE q.h <> d.h)
       |SELECT query_id, doc_id, score_fp, rank FROM ranked
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Source-mix diversity per language slice — the monitoring view a
    * mixture pipeline (`corpus_mixture`) watches for source collapse:
    * Gini impurity 1 − Σp² and the inverse-Simpson "effective source
    * count" N²/Σn². Entropy is the textbook choice but needs libm log
    * (not bit-portable); both surfaced measures are exact rationals of
    * BIGINT counts with ONE IEEE division each, so the monitor itself
    * sits behind the hash gate. One two-level partial aggregation —
    * (lang, source) counts, then per-lang moments. */
  def sourceDiversity(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("n") * col("n")).as("sum_sq"))
      .select(col("lang"), col("n_docs"), col("n_sources"), col("sum_sq"),
        ((col("n_docs") * col("n_docs")).cast("double") / col("sum_sq"))
          .as("effective_sources"),
        (lit(1.0) - col("sum_sq").cast("double") /
          (col("n_docs") * col("n_docs"))).as("gini"))
      .orderBy(col("lang"))

  val sourceDiversitySql: String =
    """WITH c AS (
      |  SELECT lang, source, COUNT(*) AS n
      |  FROM documents GROUP BY lang, source),
      |m AS (
      |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
      |         CAST(COUNT(*) AS BIGINT) AS n_sources,
      |         CAST(SUM(n * n) AS BIGINT) AS sum_sq
      |  FROM c GROUP BY lang)
      |SELECT lang, n_docs, n_sources, sum_sq,
      |  CAST(n_docs * n_docs AS DOUBLE) / sum_sq AS effective_sources,
      |  1.0 - CAST(sum_sq AS DOUBLE) / (n_docs * n_docs) AS gini
      |FROM m ORDER BY lang""".stripMargin

  /** Token-budget fill plan: how much of the corpus fits a training
    * budget B (here B = half the corpus' total char mass — data-derived,
    * scale-free), filling SHORTEST-FIRST (maximizes document diversity
    * per token — the curation choice this op encodes; any other integer
    * priority drops in unchanged). The selection cutoff is computed on
    * the DISTINCT-length relation (the `agg_gini` telescoping trick):
    * cumulative mass/count windows run over |distinct lengths| rows,
    * never per doc — no global per-document window at any corpus size.
    * Published artifact is the single boundary row (cutoff length, docs
    * and mass below it, how many boundary-length docs still fit); the
    * per-doc keep flag is then one narrow map against these scalars.
    * All BIGINT: the boundary take is one integer floor-division. */
  def budgetFill(docs: DataFrame): DataFrame = {
    val byLen = docs
      .select(col("n_chars").as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mass", col("w") * col("cnt"))
    val wAsc = Window.orderBy(col("w"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = byLen.agg(sum(col("mass")).as("total"))
    byLen
      .select(col("w"), col("cnt"), col("mass"),
        coalesce(sum(col("mass")).over(wAsc), lit(0L)).as("mass_below"),
        coalesce(sum(col("cnt")).over(wAsc), lit(0L)).as("docs_below"))
      .crossJoin(broadcast(tot))
      .withColumn("budget", expr("total div 2"))
      .filter(col("mass_below") <= col("budget"))
      .orderBy(col("w").desc)
      .limit(1)
      .select(col("budget"), col("total").as("total_mass"),
        col("w").as("cutoff_len"),
        col("docs_below"), col("mass_below"),
        least(col("cnt"), expr("(budget - mass_below) div w"))
          .as("boundary_taken"))
      .select(col("budget"), col("total_mass"), col("cutoff_len"),
        col("docs_below"), col("mass_below"), col("boundary_taken"),
        (col("docs_below") + col("boundary_taken")).as("n_selected"),
        (col("mass_below") + col("boundary_taken") * col("cutoff_len"))
          .as("mass_selected"))
  }

  val budgetFillSql: String =
    """WITH by_len AS (
      |  SELECT n_chars AS w, COUNT(*) AS cnt, n_chars * COUNT(*) AS mass
      |  FROM documents GROUP BY n_chars),
      |cum AS (
      |  SELECT w, cnt, mass,
      |    CAST(COALESCE(SUM(mass) OVER (ORDER BY w
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS mass_below,
      |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY w
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS docs_below
      |  FROM by_len),
      |t AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM by_len),
      |boundary AS (
      |  SELECT c.*, t.total, t.total // 2 AS budget
      |  FROM cum c CROSS JOIN t
      |  WHERE c.mass_below <= t.total // 2
      |  ORDER BY c.w DESC LIMIT 1)
      |SELECT budget, total AS total_mass, w AS cutoff_len,
      |  docs_below, mass_below,
      |  least(cnt, (budget - mass_below) // w) AS boundary_taken,
      |  docs_below + least(cnt, (budget - mass_below) // w) AS n_selected,
      |  mass_below + least(cnt, (budget - mass_below) // w) * w
      |    AS mass_selected
      |FROM boundary""".stripMargin

  /** Corpus snapshot diff — the dataset-versioning readout (what
    * changed between drop v1 and drop v2?): FULL OUTER join on doc_id,
    * rows classify as removed / added / changed (md5(text) differs) /
    * same, and the report aggregates counts plus char mass on both
    * sides — the summary a dataset card's "changes since v1" section
    * carries. The v2 snapshot is synthesized deterministically from v1
    * (drop ≡0 mod 13, rewrite text ≡0 mod 7, add a shifted copy ≡0 mod
    * 11) so the operator is fixture-pure; a real deployment feeds two
    * real snapshot paths. Content compare is md5 (portable), join keyed
    * on doc_id with AQE sizing — never a text×text compare. */
  def snapshotDiff(docs: DataFrame): DataFrame = {
    val v1 = docs.select(col("doc_id"), col("text"))
    val v2base = v1.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    val v2 = v2base.unionByName(
      v1.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    v1.select(col("doc_id"), col("text").as("t1"))
      .join(v2.select(col("doc_id"), col("text").as("t2")),
        Seq("doc_id"), "full_outer")
      .select(
        when(col("t2").isNull, "removed")
          .when(col("t1").isNull, "added")
          .when(md5(col("t1")) =!= md5(col("t2")), "changed")
          .otherwise("same").as("status"),
        col("t1"), col("t2"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(length(col("t1")), lit(0))).cast("long").as("chars_v1"),
        sum(coalesce(length(col("t2")), lit(0))).cast("long").as("chars_v2"))
      .orderBy(col("status"))
  }

  val snapshotDiffSql: String =
    """WITH v1 AS (SELECT doc_id, text FROM documents),
      |v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM v1 WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM v1 WHERE doc_id % 11 = 0),
      |d AS (
      |  SELECT CASE WHEN b.text IS NULL THEN 'removed'
      |              WHEN a.text IS NULL THEN 'added'
      |              WHEN md5(a.text) <> md5(b.text) THEN 'changed'
      |              ELSE 'same' END AS status,
      |    a.text AS t1, b.text AS t2
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
      |SELECT status, COUNT(*) AS n_docs,
      |  CAST(SUM(COALESCE(length(t1), 0)) AS BIGINT) AS chars_v1,
      |  CAST(SUM(COALESCE(length(t2), 0)) AS BIGINT) AS chars_v2
      |FROM d GROUP BY status ORDER BY status""".stripMargin

  private val q2: Seq[(String, QueryDef)] = Seq(
    "corpus_snapshot_diff" -> QueryDef(
      (s, d) => snapshotDiff(Tables.documents(s, d)),
      Some(snapshotDiffSql)),
    "corpus_budget_fill" -> QueryDef(
      (s, d) => budgetFill(Tables.documents(s, d)),
      Some(budgetFillSql)),
    "corpus_hard_negatives" -> QueryDef(
      (s, d) => hardNegatives(Tables.documents(s, d)),
      Some(hardNegativesSql())),
    "corpus_source_diversity" -> QueryDef(
      (s, d) => sourceDiversity(Tables.documents(s, d)),
      Some(sourceDiversitySql)))

  def queries: Seq[(String, QueryDef)] = q ++ q2
}
