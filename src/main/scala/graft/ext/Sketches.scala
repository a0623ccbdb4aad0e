package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{QueryDef, Tables}

/** Probabilistic-sketch operators: Bloom-filter eval-set decontamination
  * and count-min-sketch heavy hitters. Both follow the repo's
  * sketch-behind-a-contract pattern (`agg_approx_distinct`,
  * SURVEY.md §2.4 A7): the sketch itself is engine-specific (murmur3
  * seeds), so the declared query emits oracle-checkable invariants —
  * the exact answer both engines can compute, plus boolean accuracy
  * contracts the oracle pins at literal TRUE.
  *
  * Why these matter at 100 TB:
  *   - `contamination_check` (ext/Corpus) joins train fingerprints
  *     against eval fingerprints — a shuffle of the train side's
  *     distinct grams. The Bloom path replaces that shuffle with a
  *     broadcast bitset probed in a narrow map: eval sets are small by
  *     construction (benchmarks, held-out splits), so the production
  *     decontamination pass over 100 TB of train text is map-only.
  *     The exact join survives here ONLY to prove the contract.
  *   - Count-min answers "what are the hot tokens/URLs/templates"
  *     with O(1/eps) memory per executor and a single merge, where the
  *     exact answer needs a full token shuffle. The exact aggregate is
  *     emitted (it is what the oracle hash-matches); the sketch's
  *     one-sided error bounds ride along as contract booleans.
  */
object Sketches {

  /** Flag each non-eval document whose 3-gram shingles intersect the
    * eval source's shingle set — via a Bloom filter built over the eval
    * grams. Emits per train doc:
    *   exact_contaminated — ground truth (gram semi-join, both engines)
    *   no_false_negative  — bloom_hit ≥ exact_hit (Bloom guarantee)
    *   fpp_ok             — distinct-gram false-positive rate ≤ bound
    *
    * The eval-gram `count()` is a driver action on the SMALL side (it
    * sizes the filter — an index statistic, same class as the IVF
    * centroid count); the train side is never collected. */
  def bloomDecontaminate(docs: DataFrame, evalSource: String,
      fpp: Double = 0.01, fppBound: Double = 0.05): DataFrame = {
    // native one-pass shingler (the interpreted HOF twin re-derives the
    // token array per element — the O(tokens²) blowup Dedup.bind
    // documents; measured 20 s → 1 s at sf0.1 on this very query)
    def grams(side: DataFrame) = side.select(col("doc_id"),
      explode(graft.functions.WordShingles.word_shingles(col("text"), 3))
        .as("gram"))
    // two filtered map passes over the corpus beat persisting the
    // corpus-sized gram explode (the eval side is tiny, the train side
    // streams); only the eval gram SET is persisted
    val evalGrams = grams(docs.filter(col("source") === evalSource))
      .select(col("gram")).distinct().persist()
    val nEval = evalGrams.count()
    // Bloom build + probe through Spark's codegen'd expression pair
    // (the same BloomFilterAggregate/BloomFilterMightContain that
    // runtime row-level filtering injects): items enter as
    // xxhash64(gram) longs and the probe hashes identically, so the
    // filter semantics match build-side insertion by construction.
    // The one-row binary collect sizes/ships the filter — an index
    // statistic on the SMALL eval side, same driver-action class as
    // the nEval count above; the train-side probe stays a narrow
    // whole-stage-codegen map over a filter LITERAL (the expression
    // requires a foldable filter side), no per-row Scala udf.
    val numBits = BloomFilter.optimalNumOfBits(math.max(nEval, 1L), fpp)
    // Over ZERO eval grams the aggregate returns a null binary and the
    // probe would yield null per row; an empty filter contains nothing,
    // so the probe short-circuits to a false literal.
    val bloomBinOpt: Option[Array[Byte]] =
      if (nEval == 0L) None
      else Option(evalGrams.agg(ColumnBridge.column(
          new BloomFilterAggregate(
            new XxHash64(Seq(ColumnBridge.expression(col("gram")))),
            Literal(math.max(nEval, 1L)), Literal(numBits))
            .toAggregateExpression()).as("bf"))
        .head().getAs[Array[Byte]]("bf"))
    def mightContain(g: Column): Column = bloomBinOpt match {
      case Some(bloomBin) => ColumnBridge.column(
        BloomFilterMightContain(Literal(bloomBin, BinaryType),
          new XxHash64(Seq(ColumnBridge.expression(g)))))
      case None => lit(false)
    }
    val train = grams(docs.filter(col("source") =!= evalSource))
    val flags = train
      .join(evalGrams.withColumn("in_eval", lit(1)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(max(coalesce(col("in_eval"), lit(0))).as("exact_i"),
        max(mightContain(col("gram")).cast("int")).as("bloom_i"))
    // gram-granularity FP rate over distinct clean grams: the quantity
    // the fpp parameter actually bounds
    val fpStats = train.select(col("gram")).distinct()
      .join(evalGrams.withColumn("in_eval", lit(1)), Seq("gram"), "left")
      .agg(
        sum(when(col("in_eval").isNull && mightContain(col("gram")), 1)
          .otherwise(0)).as("fp"),
        sum(when(col("in_eval").isNull, 1).otherwise(0)).as("clean"))
    flags.crossJoin(fpStats) // 1-row stats side
      .select(col("doc_id"),
        (col("exact_i") === 1).as("exact_contaminated"),
        (col("bloom_i") >= col("exact_i")).as("no_false_negative"),
        (col("fp") <= col("clean") * fppBound).as("fpp_ok"))
      .orderBy(col("doc_id"))
  }

  def bloomDecontaminateSql(evalSource: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, source,
       |    unnest(CASE WHEN len(toks) < 3 THEN []
       |      ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
       |    END) AS gram
       |  FROM t),
       |e AS (SELECT DISTINCT gram FROM g WHERE source = '$evalSource'),
       |tr AS (SELECT doc_id, gram FROM g WHERE source <> '$evalSource')
       |SELECT tr.doc_id,
       |  MAX(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) = 1
       |    AS exact_contaminated,
       |  TRUE AS no_false_negative,
       |  TRUE AS fpp_ok
       |FROM tr LEFT JOIN e ON tr.gram = e.gram
       |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin

  /** Exact top-k tokens (the hash-matched surface) with count-min-sketch
    * estimates contract-checked against them: CMS never underestimates,
    * and overestimates by at most eps · total-token-count (one-sided
    * error, the standard CM guarantee). Seeded → deterministic. */
  def cmsTopTokens(docs: DataFrame, k: Int,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val toks = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .persist() // feeds sketch build, total count, and exact agg
    val cms = toks.stat.countMinSketch(col("token"), eps, confidence, seed)
    val total = toks.agg(count(lit(1)).as("total")) // 1 row
    val topk = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k).persist()
    // CMS probe runs driver-side over EXACTLY the k result rows
    // (bounded ≤ k — the documented ≤2·k probe-row class) and rejoins
    // as a broadcast literal relation: no per-row Scala udf in the
    // plan, and the sketch object never ships to executors at all
    import toks.sparkSession.implicits._
    val est = broadcast(
      topk.select(col("token")).collect().toSeq
        .map(r => (r.getString(0), cms.estimateCount(r.getString(0))))
        .toDF("token", "est"))
    topk.join(est, Seq("token"))
      .crossJoin(total)
      .select(col("token"), col("n"),
        (col("est") >= col("n")).as("never_underestimates"),
        (col("est") <= col("n") +
          ceil(col("total") * eps).cast("long")).as("within_eps_bound"))
      .orderBy(col("n").desc, col("token"))
  }

  def cmsTopTokensSql(k: Int): String =
    s"""SELECT token, COUNT(*) AS n,
       |  TRUE AS never_underestimates,
       |  TRUE AS within_eps_bound
       |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |WHERE token <> ''
       |GROUP BY token ORDER BY n DESC, token LIMIT $k""".stripMargin

  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * Spark's `hll_sketch_agg`/`hll_union_agg`): each shard (source)
    * builds its own sketch; the global unique-document count comes from
    * MERGING the shard sketches — never from a global distinct shuffle.
    * That mergeability is THE reason sketches exist at 100 TB: per-
    * shard sketches are bytes, the union is associative, and a
    * 1000-executor corpus census becomes a tree-reduce of tiny
    * buffers. Emitted contracts:
    *   n_exact           — exact distinct fingerprints (both engines)
    *   merge_consistent  — estimate(union of shard sketches) agrees
    *                       with estimate(one whole-corpus sketch)
    *                       within the error bound. NOT exact equality:
    *                       DataSketches unions promote sparse-mode
    *                       (coupon-exact) sketches to dense HLL
    *                       registers, so a small corpus's single
    *                       sketch answers exactly while the union
    *                       answers with HLL error — both within bound
    *   est_ok            — |merged estimate − exact| within 3× the
    *                       configured relative-error bound
    */
  def hllShardedDistinct(docs: DataFrame, lgK: Int = 12,
      relErr: Double = 0.05): DataFrame = {
    val fps = docs.select(col("source"), md5(col("text")).as("fp"))
    val perShard = fps.groupBy(col("source"))
      .agg(hll_sketch_agg(col("fp"), lit(lgK)).as("sk"))
    val merged = perShard
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("est_merged"),
        count(lit(1)).as("n_shards"))
    val whole = fps.agg(
      hll_sketch_estimate(hll_sketch_agg(col("fp"), lit(lgK))).as("est_whole"),
      countDistinct(col("fp")).as("n_exact"))
    merged.crossJoin(whole) // two 1-row sides
      .select(col("n_exact"), col("n_shards"),
        (abs(col("est_merged") - col("est_whole")) <=
          lit(3.0 * relErr) * col("n_exact")).as("merge_consistent"),
        (abs(col("est_merged") - col("n_exact")) <=
          lit(3.0 * relErr) * col("n_exact")).as("est_ok"))
  }

  def hllShardedDistinctSql: String =
    """SELECT n_exact, n_shards, merge_consistent, est_ok FROM (
      |  SELECT COUNT(DISTINCT md5(text)) AS n_exact,
      |    COUNT(DISTINCT source) AS n_shards,
      |    TRUE AS merge_consistent,
      |    TRUE AS est_ok
      |  FROM documents)
      |ORDER BY n_exact""".stripMargin

  /** PORTABLE Bloom filter as a relational artifact: the corpus's
    * 3-gram membership filter materialized as 256 BIGINT words
    * (m = 2^14 bits, k = 2 md5-derived positions per gram) whose exact
    * bits both engines compute — so a decontamination filter built
    * here can be SHIPPED to any other system (or merged shard-wise:
    * Bloom union is bit-OR, and bit_or is the aggregate) rather than
    * living inside one engine's opaque sketch object, which is what
    * Spark's native `bloom_filter_agg` (used by `contamination_bloom`)
    * cannot offer. Pipeline: explode grams → 2 positions each →
    * DISTINCT positions (the dedup collapses the shuffle to ≤ m rows
    * at ANY corpus size) → word/bit split → per-word bit-OR; empty
    * words backfill 0 so the artifact is always exactly m/64 rows. */
  def portableBloom(docs: DataFrame, mBits: Int = 16384): DataFrame = {
    val grams = docs.select(
      explode(graft.ext.Dedup.shingles(col("text"), 3)).as("gram"))
    val pos = (0 until 2).map(i =>
      grams.select((conv(substring(md5(concat(lit(s"$i:"), col("gram"))), 1, 8),
        16, 10).cast("long") % mBits).as("pos")))
      .reduce(_.unionByName(_))
      .distinct()
    val words = pos
      .select(expr("pos div 64").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("w"))
      .groupBy(col("word_idx"))
      .agg(bit_or(col("w")).as("bits"))
    docs.sparkSession.range(mBits / 64).select(col("id").as("word_idx"))
      .join(words, Seq("word_idx"), "left")
      .select(col("word_idx"), coalesce(col("bits"), lit(0L)).as("bits"))
      .orderBy(col("word_idx"))
  }

  def portableBloomSql(mBits: Int = 16384): String =
    s"""WITH t AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT DISTINCT unnest(
       |    CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
       |    END) AS gram
       |  FROM t),
       |p AS (
       |  SELECT DISTINCT
       |    ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || gram), 1, 8))::BIGINT
       |      % $mBits AS pos
       |  FROM g, range(0, 2) r(i)),
       |w AS (
       |  -- bit 63 is the BIGINT sign bit: DuckDB's 1<<63 overflows
       |  -- (Spark's shiftleft wraps to Long.MinValue), so state it as
       |  -- the literal minimum
       |  SELECT pos // 64 AS word_idx,
       |         bit_or(CASE WHEN pos % 64 = 63
       |                THEN CAST(-9223372036854775808 AS BIGINT)
       |                ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT) END) AS bits
       |  FROM p GROUP BY pos // 64)
       |SELECT r.range AS word_idx, CAST(COALESCE(w.bits, 0) AS BIGINT) AS bits
       |FROM range(0, ${mBits / 64}) r LEFT JOIN w ON w.word_idx = r.range
       |ORDER BY word_idx""".stripMargin

  /** KMV (k-minimum-values / bottom-k theta) sketch intersection —
    * the set-OVERLAP estimate HLL union cannot give (HLL merges to
    * union only; overlap needs inclusion–exclusion with compounding
    * error, theta sketches intersect directly): per source, the k
    * smallest 60-bit md5 shingle fingerprints form the sketch; for a
    * source pair the union sketch is the k smallest of the merged
    * sets, |A∪B| ≈ (k−1)·2⁶⁰ div v_k (exact when the union carries
    * < k values — the sketch IS the set), and |A∩B| ≈ m·est_union div
    * \|sketch\| where m counts union-sketch members present in BOTH
    * input sketches. Deterministic md5 ⇒ every estimate is a pure
    * integer function of the corpus; the 2⁶⁰-scaled numerator runs in
    * DECIMAL(38,0)/HUGEINT (the weighted-PageRank overflow rule).
    * Declared behind the sketch-contract pattern: exact distinct
    * union/intersection surfaced next to the estimates with a ±20%
    * agreement boolean on the union arm (k = 512 puts the KMV standard
    * error near 4.4%, so the 20% bound sits past 4 sigma).
    *
    * Scale shape: sketches are k rows per source (mergeable bounded
    * state — THE theta-sketch property); only the exact contract arms
    * touch the distinct fingerprint relation, and they exist for the
    * gate, not the deployment path. */
  def kmvIntersect(docs: DataFrame, k: Int = 512): DataFrame =
    kmvIntersectFromFp(docs.select(col("source"),
        explode(graft.functions.WordShingles.word_shingles(col("text"), 3))
          .as("gram"))
      .select(col("source"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long")
          .as("fp"))
      .distinct(), k)

  /** [[kmvIntersect]] over the standing shingle table's pre-hashed
    * fingerprints (`Dedup.shingleTable`) — the declared serving path:
    * per-doc fph arrays explode to the per-source distinct fingerprint
    * relation without re-tokenizing or re-hashing the corpus. */
  def kmvIntersectStanding(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 512): DataFrame =
    kmvIntersectFromFp(Dedup.shingleTable(spark, dir)
      .select(col("source"), explode(col("fph")).as("fp"))
      .distinct(), k)

  private def kmvIntersectFromFp(shFp: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shFp.persist()
    // Per-source bottom-k WITHOUT the fat-key window: `source` is a
    // low-cardinality key, so a direct partitionBy(source) sorts each
    // source's whole distinct-fingerprint relation in ONE task — the
    // shape that dies at 100 TB. Bottom-k commutes with cell-union
    // (min-k of per-cell min-ks = global min-k, exactly), so a salted
    // pre-stage bounds every sort task at |source|/cells rows and the
    // final window ranks ≤ cells·k rows per source — bounded state,
    // identical output, oracle untouched.
    val cells = 64
    val w = Window.partitionBy(col("source")).orderBy(col("fp"))
    val pre = sh
      .withColumn("cell", pmod(hash(col("fp")), lit(cells)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"), col("cell")).orderBy(col("fp"))))
      .filter(col("rn") <= k).select(col("source"), col("fp"))
    val sk = pre.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select(col("source"), col("fp"))
      .persist()
    val srcs = sk.select(col("source")).distinct()
    val pairSrc = srcs.select(col("source").as("src_a"))
      .crossJoin(srcs.select(col("source").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    val pa = sk.select(col("source").as("src_a"), col("fp"))
    val pb = sk.select(col("source").as("src_b"), col("fp"))
    val u = pairSrc.join(pa, Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("fp"))
      .unionByName(pairSrc.join(pb, Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("fp")))
      .distinct()
    val wp = Window.partitionBy(col("src_a"), col("src_b"))
      .orderBy(col("fp"))
    val uk = u.withColumn("rn", row_number().over(wp)).filter(col("rn") <= k)
    val est = uk
      .join(pa.withColumn("ina", lit(1)), Seq("src_a", "fp"), "left")
      .join(pb.withColumn("inb", lit(1)), Seq("src_b", "fp"), "left")
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_sk"), max(col("fp")).as("vk"),
        sum(when(col("ina") === 1 && col("inb") === 1, 1L).otherwise(0L))
          .as("m"))
      .select(col("src_a"), col("src_b"), col("m"), col("n_sk"),
        when(col("n_sk") < k, col("n_sk")).otherwise(expr(
          s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)" +
            " div CAST(vk AS DECIMAL(38,0)) AS BIGINT)")).as("est_union"))
      .select(col("src_a"), col("src_b"), col("est_union"),
        expr("(m * est_union) div n_sk").as("est_intersect"))
    val cnt = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // exact intersections via source BITMASKS — fully codegen'd
    // declarative aggregates (the r17 collect_set + interpreted
    // transform/slice/flatten pair expansion was an ObjectHashAggregate
    // over the full distinct-fingerprint relation and read ×3.3 slower
    // on both closing sweeps; the guide §4 anti-pattern). Each source
    // gets a deterministic bit (row_number over the handful of distinct
    // sources); (source, fp) is DISTINCT by construction, so
    // sum(1 << sidx) per fp is exactly the membership mask. Masks then
    // reduce to a ≤ 2^|sources|-row count table (partial aggregation
    // collapses it map-side), and a pair (a, b) intersects exactly the
    // fps whose mask contains both bits — a broadcast join of two tiny
    // relations. Same exact counts, one full-relation exchange, zero
    // non-codegen expressions.
    val srcIdx = sh.select(col("source")).distinct()
      .withColumn("sidx", row_number().over(
        Window.orderBy(col("source"))) - 1)
      // the bitmask lives in one BIGINT; source is a declared
      // low-cardinality key (a handful of corpora), so > 63 distinct
      // values means the corpus broke that contract — fail loudly
      // rather than alias bits
      .select(col("source"), when(col("sidx") <= 62,
          expr("shiftleft(CAST(1 AS BIGINT), sidx)"))
        .otherwise(raise_error(lit(
          "kmvIntersect: > 63 distinct sources; bitmask path invalid")))
        .as("bit"))
    val maskCnt = sh.join(broadcast(srcIdx), Seq("source"))
      .groupBy(col("fp")).agg(sum(col("bit")).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    val pairBits = srcIdx.select(col("source").as("src_a"), col("bit").as("bit_a"))
      .crossJoin(srcIdx.select(col("source").as("src_b"), col("bit").as("bit_b")))
      .filter(col("src_a") < col("src_b"))
    val ex = pairBits.join(maskCnt,
        (col("mask").bitwiseAND(col("bit_a")) =!= 0) &&
          (col("mask").bitwiseAND(col("bit_b")) =!= 0))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("cnt")).as("exact_intersect"))
    pairSrc
      .join(cnt.select(col("source").as("src_a"), col("n").as("na")),
        Seq("src_a"))
      .join(cnt.select(col("source").as("src_b"), col("n").as("nb")),
        Seq("src_b"))
      .join(ex, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"),
        (col("na") + col("nb") - coalesce(col("exact_intersect"), lit(0L)))
          .as("exact_union"))
      .join(est, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("est_union"),
        col("exact_union"), col("est_intersect"), col("exact_intersect"),
        (col("est_union") * 100 >= col("exact_union") * 80 &&
          col("est_union") * 100 <= col("exact_union") * 120)
          .as("union_in_bound"))
      .orderBy(col("src_a"), col("src_b"))
  }

  def kmvIntersectSql(k: Int = 512): String =
    s"""WITH t AS (
       |  SELECT source,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5(gram), 1, 15))::BIGINT AS fp FROM (
       |    SELECT source,
       |      unnest(CASE WHEN len(toks) < 3 THEN []
       |        ELSE list_transform(range(1, len(toks) - 1),
       |               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
       |      END) AS gram
       |    FROM t)),
       |sk AS (
       |  SELECT source, fp FROM (
       |    SELECT source, fp,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY fp) AS rn
       |    FROM sh)
       |  WHERE rn <= $k),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |u AS (
       |  SELECT DISTINCT src_a, src_b, fp FROM (
       |    SELECT p.src_a, p.src_b, s.fp FROM pairs p
       |    JOIN sk s ON s.source = p.src_a
       |    UNION ALL
       |    SELECT p.src_a, p.src_b, s.fp FROM pairs p
       |    JOIN sk s ON s.source = p.src_b)),
       |uk AS (
       |  SELECT src_a, src_b, fp FROM (
       |    SELECT src_a, src_b, fp, ROW_NUMBER() OVER (
       |      PARTITION BY src_a, src_b ORDER BY fp) AS rn
       |    FROM u)
       |  WHERE rn <= $k),
       |est0 AS (
       |  SELECT uk.src_a, uk.src_b, COUNT(*) AS n_sk, MAX(uk.fp) AS vk,
       |    SUM(CASE WHEN sa.fp IS NOT NULL AND sb.fp IS NOT NULL
       |        THEN 1 ELSE 0 END) AS m
       |  FROM uk
       |  LEFT JOIN sk sa ON sa.source = uk.src_a AND sa.fp = uk.fp
       |  LEFT JOIN sk sb ON sb.source = uk.src_b AND sb.fp = uk.fp
       |  GROUP BY uk.src_a, uk.src_b),
       |est AS (
       |  SELECT src_a, src_b,
       |    CASE WHEN n_sk < $k THEN n_sk
       |         ELSE CAST((${k - 1}::HUGEINT * 1152921504606846976) // vk
       |              AS BIGINT) END AS est_union,
       |    m, n_sk
       |  FROM est0),
       |cnt AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
       |ex AS (
       |  SELECT x.source AS src_a, y.source AS src_b,
       |    COUNT(*) AS exact_intersect
       |  FROM sh x JOIN sh y ON x.fp = y.fp AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b,
       |  CAST(e.est_union AS BIGINT) AS est_union,
       |  CAST(ca.n + cb.n - COALESCE(ex.exact_intersect, 0) AS BIGINT)
       |    AS exact_union,
       |  CAST((e.m * e.est_union) // e.n_sk AS BIGINT) AS est_intersect,
       |  CAST(COALESCE(ex.exact_intersect, 0) AS BIGINT) AS exact_intersect,
       |  e.est_union * 100 >= (ca.n + cb.n - COALESCE(ex.exact_intersect, 0)) * 80
       |    AND e.est_union * 100 <=
       |      (ca.n + cb.n - COALESCE(ex.exact_intersect, 0)) * 120
       |    AS union_in_bound
       |FROM pairs p
       |JOIN cnt ca ON ca.source = p.src_a
       |JOIN cnt cb ON cb.source = p.src_b
       |LEFT JOIN ex ON ex.src_a = p.src_a AND ex.src_b = p.src_b
       |JOIN est e ON e.src_a = p.src_a AND e.src_b = p.src_b
       |ORDER BY p.src_a, p.src_b""".stripMargin

  private val q: Seq[(String, QueryDef)] = Seq(
    "distinct_kmv_intersect" -> QueryDef(
      (s, d) => kmvIntersectStanding(s, d),
      Some(kmvIntersectSql())),
    "sketch_bloom_portable" -> QueryDef(
      (s, d) => portableBloom(Tables.documents(s, d)),
      Some(portableBloomSql())),
    "contamination_bloom" -> QueryDef(
      (s, d) => bloomDecontaminate(Tables.documents(s, d), "src0"),
      bloomDecontaminateSql("src0")),

    "freq_topk_cms" -> QueryDef(
      (s, d) => cmsTopTokens(Tables.documents(s, d), 20),
      cmsTopTokensSql(20)),

    "distinct_hll_union" -> QueryDef(
      (s, d) => hllShardedDistinct(Tables.documents(s, d)),
      hllShardedDistinctSql)
  )

  def queries: Seq[(String, QueryDef)] = q
}
