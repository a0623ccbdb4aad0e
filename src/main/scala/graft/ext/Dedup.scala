package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables, Width}

/** Near-duplicate detection at corpus scale (SURVEY.md §2.11 L2):
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine blocking.
  *
  * Design for 100 TB:
  *  - Signatures are computed per document with array higher-order
  *    functions over the token array — a single narrow map stage, no
  *    explode of (doc × shingle) rows, no UDFs. K minhash slots fold
  *    over the shingle array with `aggregate`.
  *  - Candidate generation is banded LSH: explode only the B band keys
  *    per doc (B=4 rows/doc, not |shingles| rows), shuffle on
  *    (band, band_hash), and pair up inside buckets. Quadratic work is
  *    confined to hash buckets, never the corpus.
  *  - Verification (exact signature overlap / cosine) runs only on
  *    candidate pairs.
  *
  * xxhash64 seeds the K hash family (`xxhash64(k, shingle)`); these are
  * not reproducible in ANSI SQL, so these queries are declared without a
  * DuckDB oracle (rows-only driver check) and verified by property-based
  * ScalaTest instead (DedupSpec): planted near-duplicates must pair,
  * random documents must not.
  */
object Dedup {

  val NumHashes = 16
  val NumBands  = 4          // 4 bands × 4 rows: catches jaccard ≳ 0.5
  private val RowsPerBand = NumHashes / NumBands

  /** Let-binding for Column expressions: evaluates `value` ONCE and
    * binds it as a lambda variable for `body`. Interpreted HOFs re-eval
    * their argument subtree on every reference, and Catalyst freely
    * re-inlines staged `withColumn`s through filter pushdown / project
    * collapse — so without this, a minhash signature re-derived
    * tokens+shingles per hash slot and per array element, turning the
    * pipeline O(tokens² × slots) (observed: minutes instead of seconds
    * at sf0.1). A lambda variable holds the evaluated VALUE, immune to
    * any plan rewrite. */
  def bind(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), v => body(v)), 1)

  /** Shingles from a bound token-array column. Guarded for docs shorter
    * than n tokens (sequence(1,0) would count DOWN and element_at would
    * throw under ANSI). */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    val grams = transform(sequence(lit(1), size(toks) - (n - 1)), i =>
      concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(grams))
  }

  def tokens(text: Column): Column = filter(split(text, " "), t => t =!= "")

  /** Word-level shingles (n-gram tokens joined by space), distinct. Use
    * only on small inputs/tests; production paths materialize tokens
    * first (see `withShingles`). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** doc_id + shingle array via the native one-pass `WordShingles`
    * expression (the HOF formulation is its differential twin), with the
    * single-file documents scan spread across the cluster first (at
    * 100 TB the input is already many splits; locally one parquet file =
    * one partition). */
  def withShingles(docs: DataFrame): DataFrame =
    // no explicit re-spread: Tables.documents already hash-spreads the
    // single-row-group fixture scan by doc_id (core.Tables); the
    // round-robin repartition this opened with was a second full-text
    // exchange + local sort on every declared path
    docs
      .select(col("doc_id"),
        graft.functions.WordShingles.word_shingles(col("text"), 3).as("sh"))

  /** STANDING shingle/fingerprint relation over the documents corpus —
    * the standing-index discipline (`videoFpTable`, `ensureKnnGraph`)
    * applied to the corpus' hottest derived relation: (doc_id, source,
    * sh = distinct 3-word shingles, fph = distinct 60-bit md5 gram
    * fingerprints), ParquetMemo'd once per corpus snapshot. At 100 TB
    * nobody re-tokenizes and re-hashes the corpus for every similarity
    * query; the shingle pass is paid once and every chain that starts
    * "shingle the corpus" (containment, all-pairs, KMV sketches, …)
    * becomes a columnar scan of this table. Both representations ride
    * along because the chains split on hash family: the md5-MinHash arm
    * needs the raw gram STRINGS, the prefix-filter / KMV arms the
    * integer fingerprints. */
  def shingleTable(spark: SparkSession, dir: String): DataFrame =
    graft.core.ParquetMemo.ensureRead(spark, s"$dir/documents.parquet",
      "shingles3", "v1-words3-md560")(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"),
          graft.functions.WordShingles.word_shingles(col("text"), 3).as("sh"))
        .withColumn("fph", array_distinct(transform(col("sh"), s =>
          conv(substring(md5(s), 1, 15), 16, 10).cast("long")))))

  /** MinHash signature from a materialized shingle-array column — the
    * native codegen'd expression (graft.functions.MinHashSig): one loop,
    * K slots per pass, unboxed murmur3 over unsafe bytes. */
  def minhashSignature(sh: Column): Column =
    graft.functions.MinHashSig.minhash_sig(sh, NumHashes)

  /** Signature pipeline over an ALREADY-shingled (doc_id, sh) frame —
    * the seam that lets one corpus scan + shingle pass feed several
    * consumers (murmur3 and md5 chains shingle identically, so e.g. the
    * containment contracts run both families off a single persisted
    * pass instead of re-reading the corpus per chain). */
  def signaturesFromShingles(shingled: DataFrame): DataFrame = {
    shingled
      .select(col("doc_id"),
        bind(minhashSignature(col("sh"))) { sig =>
          struct(sig.as("sig"),
            transform(sequence(lit(0), lit(NumBands - 1)), b =>
              struct(b.as("band"),
                xxhash64(slice(sig, b * RowsPerBand + 1, lit(RowsPerBand))).as("bkey")))
              .as("bands"))
        }.as("s"))
      .select(col("doc_id"), col("s.sig").as("sig"), col("s.bands").as("bands"))
  }

  /** Spread a candidate-pair relation (`Width.byKeys`) before its
    * verify stage. AQE coalesces the candidate exchange by BYTES (a few
    * MB of id pairs → 1 post-shuffle partition) and is blind to the
    * per-row verify CPU behind it — exact `array_intersect` over full
    * shingle sets, measured 1.4 s on ONE task of a 32-core session in
    * dedup_containment's steady profile. The re-shuffled rows are two
    * ids each, noise next to the verify-join payloads. */
  private def spreadForVerify(cands: DataFrame): DataFrame =
    Width.byKeys(cands, col("doc_a"), col("doc_b"))

  /** The two exact-equivalent gram-df shapes; callers choose with
    * `Width.windowFits(inv)` (r17 verdict item #7). Gram frequency is
    * Zipfian, so the two shapes trade off by scale:
    *   - `window`: `count over (partition by g)` — ONE derivation of the
    *     inventory, one exchange; the hottest gram's occurrence list
    *     sorts comfortably inside one task (measured: the aggregate
    *     shape costs +20-27% on dedup_allpairs/containment at sf0.1,
    *     cold 3-sweep medians).
    *   - otherwise, a partial-aggregating groupBy + SHUFFLED-HASH
    *     join-back: the aggregate reduces map-side to (g, count) and the
    *     join BUILDS on that unique-key side and STREAMS the occurrences
    *     — no sort, no per-key buffering, bounded memory at any
    *     document frequency.
    * Both attach identical gdf values to identical rows — the oracle
    * result is shape-independent, exactly like Spark's own size-based
    * broadcast-vs-SMJ choice (pinned in GramShapeSpec). */
  private[ext] def gramDfAttached(inv: DataFrame,
      window: Boolean): DataFrame =
    if (window)
      inv.withColumn("gdf", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
    else {
      val gdf = inv.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
      inv.join(gdf.hint("shuffle_hash"), Seq("g"))
    }

  /** Candidate pairs from shared LSH buckets over an ALREADY-shingled
    * (doc_id, sh) frame, verified by estimated jaccard = fraction of
    * matching minhash slots. No trailing total order: every consumer
    * (verify joins, connected components, containment) re-keys
    * immediately, and a global Sort + range Exchange survived the
    * optimizer inside those chains as pure waste (visible in
    * plans/r17/dedup_containment_before.txt, nodes 26–27). */
  private[graft] def minhashPairsUnordered(shingled: DataFrame,
      threshold: Double): DataFrame = {
    val sigs = signaturesFromShingles(shingled)
    // both sides of the bucket self-join read this; persist so the
    // signature pipeline runs once, not once per side (stays cached for
    // the query's lifetime — size is O(docs × K × 8 bytes))
    val exploded = sigs.select(col("doc_id"), col("sig"),
      explode(col("bands")).as("b"))
      .select(col("doc_id"), col("sig"), col("b.band"), col("b.bkey"))
      .persist()
    val a = exploded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = exploded.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      // estimate BEFORE the pair dedup, in the bucket-join stage that
      // already holds both signatures: est_jaccard is a pure function
      // of the pair, so dropDuplicates keeps the same value whichever
      // duplicate survives — and the dedup exchange then carries
      // (doc_a, doc_b, est) instead of two full signature arrays
      // (guide §2.3: project before the exchange)
      .select(col("doc_a"), col("doc_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / NumHashes).as("est_jaccard"))
      // explicit-width spread BEFORE the dedup: it is elided into the
      // dedup's own exchange by EnsureRequirements (same keys, same
      // width) but flips its origin to REPARTITION_BY_NUM, which AQE
      // cannot coalesce — so the dedup + downstream verify CPU keeps
      // the session width instead of collapsing to one byte-sized task
      .transform(Width.byKeys(_, col("doc_a"), col("doc_b")))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /** The verification stage behind the oracle gate: exact n-gram Jaccard
    * over md5-family LSH candidates — with `md5MinhashPairs` this puts
    * the ENTIRE dedup chain (signatures → banding → candidates → exact
    * verify → threshold) under the DuckDB hash compare. */
  def jaccardVerifyMd5(docs: DataFrame, threshold: Double): DataFrame =
    jaccardVerifyMd5FromShingles(md5Shingled(docs).persist(), threshold)

  /** As `jaccardVerifyMd5` over a pre-shingled (persisted) frame. */
  def jaccardVerifyMd5FromShingles(withSh: DataFrame, threshold: Double): DataFrame = {
    // one shingle pass feeds signatures/candidates AND both verify joins
    val cands = md5MinhashPairsUnordered(withSh, threshold * 0.5, 4)
      .select(col("doc_a"), col("doc_b"))
    cands
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Anchor count for the containment candidate arm: each document
    * contributes its `ContainmentAnchors` globally RAREST shingles
    * (ascending document frequency, shingle text as tie-break). The
    * prefix-filter guarantee needs only that the anchor choice is a
    * deterministic function of the shingle set — a short doc quoted
    * whole has all its shingles (anchors included) inside the long
    * doc's set, so the anchor↔inventory join cannot miss it. Rarest-
    * first is the idf ordering of classic prefix filtering: candidate
    * volume is Σ df(anchor) ≈ k·D when anchors are rare, versus
    * k·D·avg-df for an arbitrary (e.g. lexical) choice — the
    * difference between a candidate stream that tracks true
    * containments and one that tracks the corpus' hottest trigrams. */
  val ContainmentAnchors = 4

  /** Asymmetric CONTAINMENT over the md5 candidate chain — the measure
    * Jaccard systematically misses: a short document quoted whole
    * inside a long one has tiny Jaccard (union is large) but
    * containment ≈ 1 on the short side. Both directions surface
    * (inter/|A|, inter/|B|), the pair is kept when EITHER clears the
    * threshold; each division is one IEEE op on exact integer counts —
    * bit-identical cross-engine.
    *
    * Candidates are the UNION of two arms:
    *  - the shared banded-LSH chain (recall on comparable-size pairs);
    *  - the SHORTER-SIDE anchor arm that closes the documented bias
    *    (MinHash bands estimate JACCARD, so an extreme size-ratio pair
    *    can evade banding entirely): each doc's first
    *    `ContainmentAnchors` shingles (lexical order — a deterministic
    *    sample of the doc's own set) join the corpus shingle inventory;
    *    a contained doc's anchors are BY DEFINITION present in its
    *    container's set, so candidacy is guaranteed, not probabilistic.
    *    This is the prefix-filter of set-containment joins
    *    (PPJoin-family) — the `dedup_incremental` asymmetry applied to
    *    candidate generation: the anchor side carries k rows per doc,
    *    the inventory side is the shingle pass this operator already
    *    ran, and the join shuffles candidates only (AQE splits hot
    *    shingle keys).
    *
    * The declared serving path reads the standing [[shingleTable]]: the
    * shingle pass is index build. */
  def containmentVerifyMd5Standing(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    containmentFromShingles(
      shingleTable(spark, dir).select(col("doc_id"), col("sh")), threshold)

  private[ext] def containmentFromShingles(shingled: DataFrame,
      threshold: Double): DataFrame = {
    val withSh = shingled.persist()
    val banded = md5MinhashPairsUnordered(withSh, 0.3, 4)
      .select(col("doc_a"), col("doc_b"))
    val inventory = withSh
      .select(col("doc_id"), explode(col("sh")).as("g"))
    // size-gated gram-df attachment (see gramDfAttached)
    val invG = gramDfAttached(inventory, Width.windowFits(inventory))
    // the anchor window ranks the FULL (doc_id, g, gdf) inventory —
    // ~1 M rows that compress below AQE's byte advisory, so the window
    // exchange coalesced to ONE partition and the rank sort ran 1.5 s
    // on a single core (Probe stages). Width.byKeys pins the
    // window's width by source volume.
    val anchors = Width.byKeys(invG, col("doc_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("gdf"), col("g"))))
      .filter(col("rn") <= ContainmentAnchors)
      .select(col("doc_id"), col("g"))
    val anchored = anchors
      .join(inventory.select(col("doc_id").as("pid"), col("g")), Seq("g"))
      .filter(col("doc_id") =!= col("pid"))
      .select(least(col("doc_id"), col("pid")).as("doc_a"),
        greatest(col("doc_id"), col("pid")).as("doc_b"))
    // spread BEFORE the distinct: elided into the distinct's exchange,
    // flipping it to REPARTITION_BY_NUM so AQE cannot coalesce the
    // verify stage below one task (see minhashPairsUnordered)
    val cands = spreadForVerify(banded.unionByName(anchored)).distinct()
    cands
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("c_a_in_b", col("inter").cast("double") / size(col("sh_a")))
      .withColumn("c_b_in_a", col("inter").cast("double") / size(col("sh_b")))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("c_a_in_b"), col("c_b_in_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val containmentVerifyMd5Sql: String = {
    val base = md5MinhashPairsSql
      .replaceAll("(?s)SELECT doc_a, doc_b, est_jaccard FROM pairs.*$", "")
      .trim
    s"""$base,
       |inv AS (SELECT doc_id, unnest(sh) AS g FROM shingled),
       |gdf AS (SELECT g, COUNT(*) AS gdf FROM inv GROUP BY g),
       |anch AS (
       |  SELECT doc_id, g FROM (
       |    SELECT i.doc_id, i.g,
       |      ROW_NUMBER() OVER (PARTITION BY i.doc_id
       |        ORDER BY d.gdf, i.g) AS rn
       |    FROM inv i JOIN gdf d USING (g))
       |  WHERE rn <= $ContainmentAnchors),
       |cand AS (
       |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.3
       |  UNION
       |  SELECT least(a.doc_id, p.doc_id) AS doc_a,
       |         greatest(a.doc_id, p.doc_id) AS doc_b
       |  FROM anch a JOIN inv p USING (g)
       |  WHERE a.doc_id <> p.doc_id),
       |verified AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(sa.sh, sb.sh)) AS inter,
       |    len(sa.sh) AS na, len(sb.sh) AS nb
       |  FROM cand c
       |  JOIN shingled sa ON sa.doc_id = c.doc_a
       |  JOIN shingled sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / na AS c_a_in_b,
       |  CAST(inter AS DOUBLE) / nb AS c_b_in_a
       |FROM verified
       |WHERE greatest(CAST(inter AS DOUBLE) / na,
       |               CAST(inter AS DOUBLE) / nb) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // lazy: splices md5MinhashPairsSql, which initializes later in this object
  lazy val jaccardVerifyMd5Sql: String = {
    // md5MinhashPairsSql's CTE chain, extended with the exact-verify tail
    val base = md5MinhashPairsSql
      .replaceAll("(?s)SELECT doc_a, doc_b, est_jaccard FROM pairs.*$", "")
      .trim
    s"""$base,
       |cand AS (
       |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.3),
       |verified AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(sa.sh, sb.sh)) AS inter,
       |    len(sa.sh) AS na, len(sb.sh) AS nb
       |  FROM cand c
       |  JOIN shingled sa ON sa.doc_id = c.doc_a
       |  JOIN shingled sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM verified
       |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** EXACT all-pairs similarity join with prefix filtering (Chaudhuri
    * et al. 2006 SSJoin / Bayardo et al. 2007 All-Pairs — the PPJoin
    * family's candidate rule, without the probabilistic layer): every
    * document pair with shingle Jaccard ≥ num/den, COMPLETE by
    * construction. MinHash banding (dedup_jaccard) trades recall for
    * candidate volume — a pair can evade every band. Here recall is a
    * theorem: order each doc's shingles by ascending global document
    * frequency (rarest first — the idf ordering the containment anchors
    * use); a doc's PREFIX is its first n − ⌈t·n⌉ + 1 grams. If two docs
    * have Jaccard ≥ t their intersection exceeds what either could
    * supply after its prefix, so the prefixes must share a gram — the
    * prefix self-join provably generates every qualifying pair.
    *
    * All-integer gates: prefix length via `(num·n + den − 1) div den`
    * (exact ceil), the size filter `den·min(na,nb) ≥ num·max(na,nb)`
    * and the verify `den·inter ≥ num·(na+nb−inter)` are cross-
    * multiplications — no float anywhere in a decision; the surfaced
    * jaccard is one IEEE division over exact counts.
    *
    * Scale shape: candidate volume is Σ_g df_prefix(g)² over PREFIX
    * grams only — rarest-first ordering makes prefix grams the corpus'
    * least frequent, so candidates track true near-duplicate density,
    * not hot trigrams (same economics as the containment anchor arm).
    * The per-doc ranking window partitions on doc_id — key width
    * bounded by document length, never a fat key. Verify joins move
    * candidates only.
    *
    * The declared serving path reads the standing [[shingleTable]]'s
    * pre-hashed fingerprint arrays. */
  def allPairsJaccardStanding(spark: SparkSession, dir: String,
      num: Long = 3L, den: Long = 5L): DataFrame =
    allPairsFromHashed(shingleTable(spark, dir)
      .filter(size(col("fph")) > 0)
      .select(col("doc_id"), col("fph").as("sh")), num, den)

  private[ext] def allPairsFromHashed(hashed: DataFrame, num: Long,
      den: Long): DataFrame = {
    val sized = hashed
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n"))
      .persist()
    val inv = sized.select(col("doc_id"), col("n"), explode(col("sh")).as("g"))
    // size-gated gram-df attachment (see gramDfAttached)
    val invG = gramDfAttached(inv, Width.windowFits(inv))
    // prefix-rank window over the full inventory: same AQE byte-blind
    // single-task shape as the containment anchor window — spread it
    val prefix = Width.byKeys(invG, col("doc_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("gdf"), col("g"))))
      .filter(col("rn") <= col("n") - expr(s"($num * n + ${den - 1}) div $den") + 1)
      .select(col("doc_id"), col("n"), col("g"))
    val cands = prefix.select(col("g"), col("doc_id").as("doc_a"), col("n").as("na"))
      .join(prefix.select(col("g"), col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("g"))
      .filter(col("doc_a") < col("doc_b") &&
        lit(den) * least(col("na"), col("nb")) >=
          lit(num) * greatest(col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b"))
      // spread before the distinct (non-coalescable verify width, see
      // minhashPairsUnordered)
      .transform(spreadForVerify)
      .distinct()
    cands
      .join(sized.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n").as("na")), Seq("doc_a"))
      .join(sized.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(lit(den) * col("inter") >= lit(num) * (col("na") + col("nb") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def allPairsJaccardSql(num: Long = 3L, den: Long = 5L): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |shingled AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
       |    END AS sh
       |  FROM t),
       |hashed AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(sh,
       |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
       |  FROM shingled WHERE len(sh) > 0),
       |sized AS (
       |  SELECT doc_id, sh, len(sh)::BIGINT AS n FROM hashed),
       |inv AS (SELECT doc_id, n, unnest(sh) AS g FROM sized),
       |gdf AS (SELECT g, COUNT(*) AS gdf FROM inv GROUP BY g),
       |pref AS (
       |  SELECT doc_id, n, g FROM (
       |    SELECT i.doc_id, i.n, i.g,
       |      ROW_NUMBER() OVER (PARTITION BY i.doc_id
       |        ORDER BY d.gdf, i.g) AS rn
       |    FROM inv i JOIN gdf d USING (g))
       |  WHERE rn <= n - (($num * n + ${den - 1}) // $den) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b USING (g)
       |  WHERE a.doc_id < b.doc_id
       |    AND $den * least(a.n, b.n) >= $num * greatest(a.n, b.n)),
       |verified AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(sa.sh, sb.sh))::BIGINT AS inter,
       |    sa.n AS na, sb.n AS nb
       |  FROM cand c
       |  JOIN sized sa ON sa.doc_id = c.doc_a
       |  JOIN sized sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, inter, na, nb,
       |  CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM verified
       |WHERE $den * inter >= $num * (na + nb - inter)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash blocking plan: split the 64-bit fingerprint into `numChunks`
    * near-equal bit ranges and key each LSH table on the concatenation of
    * a `keyBlocks`-subset of chunks (Manku/Jain/Sarma, WWW'07 "Detecting
    * Near-Duplicates for Web Crawling" §3 — the permuted-table scheme,
    * expressed as chunk subsets). Pigeonhole: hamming ≤ maxDist flips at
    * most maxDist chunks, so ≥ numChunks − maxDist chunks are clean; any
    * `keyBlocks ≤ numChunks − maxDist` guarantees SOME table's key is
    * built entirely from clean chunks ⇒ the pair collides there. Recall
    * is exact, not probabilistic.
    *
    * The scale dial: key entropy ≈ 64 × keyBlocks / numChunks bits and
    * table count = C(numChunks, keyBlocks). The defaults pick
    * keyBlocks = 2 (wide ~2×64/numChunks-bit keys, quadratic work stays
    * confined as the corpus grows) for the usual small maxDist, and fall
    * back to single-chunk keys when maxDist is so large that pair-keys
    * would explode the table count. At ~10⁹ docs with maxDist = 3 the
    * default is 10 tables of ~26-bit keys — ~10³ docs/bucket, vs ~10⁴
    * per 16-bit bucket in the fixed 4×16 scheme this replaces. */
  private[ext] def simhashPlan(maxDist: Int, numChunks: Int, keyBlocks: Int)
      : (Array[Int], Array[Int], Seq[Seq[Int]]) = {
    val kb = if (keyBlocks > 0) keyBlocks else if (maxDist <= 10) 2 else 1
    val c  = if (numChunks > 0) numChunks else maxDist + kb
    require(c > 0 && c <= 64, s"numChunks $c out of range")
    require(kb >= 1 && kb <= c - maxDist,
      s"pigeonhole violated: keyBlocks $kb > numChunks $c - maxDist $maxDist")
    val baseW = 64 / c
    val extra = 64 % c
    val widths  = Array.tabulate(c)(i => if (i < extra) baseW + 1 else baseW)
    val offsets = widths.scanLeft(0)(_ + _).take(c)
    val combos  = (0 until c).combinations(kb).map(_.toSeq).toSeq
    (widths, offsets, combos)
  }

  /** The LSH keys for one fingerprint column: one 64-bit hash per table,
    * table id folded in so a single equi-join column suffices. */
  def simhashBlockingKeys(fp: Column, maxDist: Int,
      numChunks: Int = 0, keyBlocks: Int = 0): Column = {
    val (widths, offsets, combos) = simhashPlan(maxDist, numChunks, keyBlocks)
    def chunk(i: Int): Column =
      shiftright(fp, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    array(combos.zipWithIndex.map { case (combo, t) =>
      xxhash64((lit(t) +: combo.map(chunk)): _*)
    }: _*)
  }

  /** Near-dup pairs by SimHash: Manku-style multi-table blocking (above),
    * exact-recall for hamming ≤ maxDist, verified by bit_count on the
    * fingerprint XOR. The keyed projection is persisted so the
    * scan→tokenize→simhash pipeline runs once, not once per side of the
    * bucket self-join (mirrors `minhashPairsUnordered`). */
  def simhashPairs(docs: DataFrame, maxDist: Int,
      numChunks: Int = 0, keyBlocks: Int = 0): DataFrame = {
    // no explicit re-spread (see withShingles)
    val fp = docs
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(
          graft.functions.WordShingles.word_ngrams(col("text"), 1)).as("fp"))
    val keyed = fp.select(col("doc_id"), col("fp"),
      explode(simhashBlockingKeys(col("fp"), maxDist, numChunks, keyBlocks))
        .as("bkey"))
      .persist()
    val a = keyed.select(col("bkey"), col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val b = keyed.select(col("bkey"), col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    a.join(b, Seq("bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Embedding-cosine near-dup, blocked on the coarse `label` cell
    * (IVF-style: quadratic work only inside cells). */
  def embeddingPairs(emb: DataFrame, minCos: Double): DataFrame = {
    // the quadratic stage runs the native codegen'd CosineSimilarity —
    // per-pair cost is a primitive loop, so cell-size skew across the
    // label-hash buckets no longer turns into multi-second stragglers
    val e = emb.select(col("label"), col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("v_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        graft.functions.GraftFunctions.cosine_similarity(col("v_a"), col("v_b")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Number of sign-bit hyperplanes so that expected cell size stays
    * near `targetCellSize` as the corpus grows: the smallest p ≥ 2 with
    * target·2^p ≥ n (⇔ ceil(log₂(n/target)), but in pure integer
    * arithmetic — the ln-based form can land one off when n/target is
    * an exact power of two, and the SQL oracle must derive the same p).
    * The label-blocked `embeddingPairs` above inherits the FIXTURE's 10
    * cells — fine at test scale, a skew bomb at 10⁹ docs; this is the
    * knob that scales instead. */
  def planesForCorpus(n: Long, targetCellSize: Long = 1L << 17): Int = {
    // cap 30 = SignBitLsh's plane budget (cell ids are Int bit masks);
    // 2^30 cells exceeds any practical blocking need — with the default
    // target that cap is only reached beyond 10^14 documents
    var p = 2
    while (p < 30 && (targetCellSize << p) < n) p += 1
    p
  }

  /** The declared `dedup_embedding_lsh`: embedding near-dup with cells
    * from a sign-bit LSH quantizer, so cell count scales with the
    * corpus instead of the fixture's label cardinality. Multi-probe
    * blocking: every vector is keyed under its own cell plus each
    * 1-bit-flip neighbor, so a candidate pair survives whenever the two
    * signatures differ in ≤ 2 hyperplanes. Every candidate is verified
    * with the exact native-codegen cosine, so precision is 1 by
    * construction; recall is probabilistic in the pair's angle —
    * near-certain at dedup thresholds (cos ≥ 0.9 ⇒ per-plane flip prob
    * ≈ 0.08, so ≥3 flips are rare), partial at moderate similarity
    * (that regime is similarity SEARCH — brute/IVF — not dedup
    * blocking; no LSH family fixes it). The quantizer is the
    * md5-derived portable hyperplane family (`SignBitLsh.md5PlaneMatrix`),
    * so the ENTIRE pipeline — plane derivation → sign-bit cells →
    * radius-1 multi-probe → bucket join → exact-cosine verify — is
    * reproducible in DuckDB and sits behind the hash gate. */
  def embeddingPairsPortable(emb: DataFrame, minCos: Double,
      nPlanes: Int): DataFrame =
    embeddingPairsBlocked(emb, minCos, nPlanes,
      (v, dim) => graft.functions.SignBitLsh.sign_bit_lsh_md5(v, dim, nPlanes))

  private def embeddingPairsBlocked(emb: DataFrame, minCos: Double,
      nPlanes: Int, cellOf: (Column, Int) => Column): DataFrame = {
    // persist the projected vectors: the cached relation both feeds the
    // bucket self-join twice and keeps the interpreted cast-transform
    // from being re-inlined under the quantizer (HOF re-evaluation trap)
    val e0 = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v")).persist()
    val dim = e0.select(size(col("v"))).head().getInt(0)
    val e = e0.withColumn("cell", cellOf(col("v"), dim))
    // ball of radius 1 around the cell id: the cell + every 1-bit flip
    val probes = array((col("cell") +:
      (0 until nPlanes).map(p => col("cell").bitwiseXOR(lit(1 << p)))): _*)
    val keyed = e.select(col("vec_id"), col("v"),
      explode(probes).as("bkey")).persist()
    val a = keyed.select(col("bkey"), col("vec_id").as("id_a"), col("v").as("v_a"))
    val b = keyed.select(col("bkey"), col("vec_id").as("id_b"), col("v").as("v_b"))
    // verify cosine BEFORE any shuffle of candidates: the only exchange
    // carrying vectors is the bkey co-partitioning of `keyed` (linear in
    // docs × probes); candidate pairs are scored and filtered map-side
    // after the join, so the dedup shuffle sees only the tiny id-pair
    // survivor set, never a quadratic stream of 64-dim payloads
    a.join(b, Seq("bkey"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        graft.functions.GraftFunctions.cosine_similarity(col("v_a"), col("v_b")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of the portable embedding-LSH dedup: the recursive CTE
    * reproduces `planesForCorpus`' integer plane budget, the plane CTE
    * the md5 hyperplane derivation, then cells → radius-1 probes →
    * bucket join → exact cosine ≥ threshold, mirroring
    * `embeddingPairsPortable` stage for stage. */
  val embeddingLshSql: String =
    """WITH RECURSIVE np(p) AS (
      |  SELECT 2
      |  UNION ALL
      |  SELECT p + 1 FROM np
      |  WHERE p < 30 AND (64::BIGINT << p) < (SELECT COUNT(*) FROM embeddings)),
      |nplanes AS (SELECT MAX(p) AS np FROM np),
      |planes AS (
      |  SELECT p, list(comp ORDER BY i) AS plane FROM (
      |    SELECT t.p, s.i,
      |      ('0x' || substr(md5(CAST(t.p AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 13))::BIGINT
      |        / 4503599627370496.0 * 2.0 - 1.0 AS comp
      |    FROM range(0, 30) t(p), range(0, 64) s(i)
      |    WHERE t.p < (SELECT np FROM nplanes))
      |  GROUP BY p),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cellid AS (
      |  SELECT e.vec_id,
      |    SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
      |        THEN (1::BIGINT << pl.p) ELSE 0 END) AS cell
      |  FROM e, planes pl GROUP BY e.vec_id),
      |keyed AS (
      |  SELECT vec_id,
      |    unnest(list_prepend(cell,
      |      list_transform(range(0, (SELECT np FROM nplanes)),
      |        pp -> xor(cell, 1::BIGINT << pp)))) AS bkey
      |  FROM cellid),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.vec_id < b.vec_id)
      |SELECT c.id_a, c.id_b
      |FROM cand c
      |JOIN e ea ON ea.vec_id = c.id_a
      |JOIN e eb ON eb.vec_id = c.id_b
      |WHERE list_dot_product(ea.v, eb.v) /
      |  (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** LSH calibration: sign-bit Hamming distance vs label agreement —
    * the table you read BEFORE picking the multi-probe radius or band
    * count: for every pair of a deterministic calibration sample
    * (vec_id ≤ sampleMax — calibration runs on a bounded sample BY
    * DESIGN; the quadratic stage never touches the corpus), the
    * Hamming distance between full `nPlanes`-bit md5-plane signatures
    * and whether the pair shares a label, aggregated per distance as
    * (n_pairs, n_same_label, same_label_bp). All-integer comparison
    * surface: signatures are sign bits (exact comparisons against 0,
    * the proven-portable kernel), distances are bit_count of XOR, the
    * rate is one integer `div` to basis points — no cosine banding, so
    * no IEEE boundary ties near bucket edges. */
  def lshCalibration(emb: DataFrame, nPlanes: Int = 16,
      sampleMax: Long = 500L): DataFrame = {
    val e = emb.filter(col("vec_id") <= sampleMax)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .persist()
    val dim = e.select(size(col("v"))).head().getInt(0)
    val sig = e.select(col("vec_id"), col("label"),
      graft.functions.SignBitLsh.sign_bit_lsh_md5(col("v"), dim, nPlanes)
        .as("sig"))
    val a = sig.select(col("vec_id").as("id_a"), col("label").as("la"),
      col("sig").as("sa"))
    val b = sig.select(col("vec_id").as("id_b"), col("label").as("lb"),
      col("sig").as("sb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int")
        .as("hamming"),
        when(col("la") === col("lb"), 1L).otherwise(0L).as("same"))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("same")).as("n_same_label"))
      .select(col("hamming"), col("n_pairs"), col("n_same_label"),
        expr("(n_same_label * 10000) div n_pairs").as("same_label_bp"))
      .orderBy(col("hamming"))
  }

  def lshCalibrationSql(nPlanes: Int = 16, sampleMax: Long = 500L): String =
    s"""WITH planes AS (
       |  SELECT p, list(comp ORDER BY i) AS plane FROM (
       |    SELECT t.p, s.i,
       |      ('0x' || substr(md5(CAST(t.p AS VARCHAR) || ':' ||
       |         CAST(s.i AS VARCHAR)), 1, 13))::BIGINT
       |        / 4503599627370496.0 * 2.0 - 1.0 AS comp
       |    FROM range(0, $nPlanes) t(p), range(0, 64) s(i))
       |  GROUP BY p),
       |e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id <= $sampleMax),
       |sig AS (
       |  SELECT e.vec_id, e.label,
       |    SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
       |        THEN (1::BIGINT << pl.p) ELSE 0 END) AS sig
       |  FROM e, planes pl GROUP BY e.vec_id, e.label)
       |SELECT CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_same_label,
       |  CAST((SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END) * 10000)
       |    // COUNT(*) AS BIGINT) AS same_label_bp
       |FROM sig a JOIN sig b ON a.vec_id < b.vec_id
       |GROUP BY 1 ORDER BY hamming""".stripMargin

  /** Oracle-checkable MinHash signature: the hash family is md5-derived
    * (first 15 hex chars → 60-bit positive long), reproducible in ANSI
    * SQL — so even the sketch computation itself sits behind the DuckDB
    * hash-compare gate. The production pipeline uses the native
    * murmur3 MinHashSig (faster); this query pins the algorithm's
    * semantics cross-engine. */
  /** (doc_id, sh) with the scan spread over the cluster — the shared
    * front of every md5-family pipeline. Identical to `withShingles`
    * (the hash families diverge AFTER shingling, which is exactly why
    * the containment contracts can run both families off one pass). */
  private def md5Shingled(docs: DataFrame): DataFrame = withShingles(docs)

  private def md5SigsFromShingles(shingled: DataFrame, k: Int): DataFrame =
    shingled
      .select(col("doc_id"),
        graft.functions.Md5MinHashSig.md5_minhash_sig(col("sh"), k).as("sig"))
      .select(Seq(col("doc_id")) ++
        (0 until k).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)

  private def md5Sigs(docs: DataFrame, k: Int): DataFrame =
    md5SigsFromShingles(md5Shingled(docs), k)

  def md5MinhashSignatures(docs: DataFrame, k: Int): DataFrame =
    md5Sigs(docs, k).orderBy(col("doc_id"))

  /** The ENTIRE banded-LSH candidate pipeline behind the oracle gate:
    * md5-family signatures (k slots, 1-slot bands), bucket self-join,
    * distinct pairs, slot-overlap estimate, threshold — every stage of
    * the production MinHash dedup expressed with the SQL-reproducible
    * hash family, so the algorithm (not just its sketch) is
    * cross-engine-pinned. Same shape as `minhashPairs`: explode k band
    * keys per doc, persist, quadratic work confined to buckets. */
  def md5MinhashPairs(docs: DataFrame, threshold: Double, k: Int = 4): DataFrame =
    md5MinhashPairsFromShingles(md5Shingled(docs), threshold, k)

  def md5MinhashPairsFromShingles(shingled: DataFrame,
      threshold: Double, k: Int = 4): DataFrame =
    md5MinhashPairsUnordered(shingled, threshold, k)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Order-free core (see [[minhashPairsUnordered]] for why internal
    * consumers skip the declared surface's total sort). */
  private[graft] def md5MinhashPairsUnordered(shingled: DataFrame,
      threshold: Double, k: Int = 4): DataFrame = {
    val sigs = md5SigsFromShingles(shingled, k)
    val slots = (0 until k).map(i => col(s"m$i"))
    val keyed = sigs
      .select(col("doc_id") +: slots :+
        explode(array((0 until k).map(i =>
          struct(lit(i).as("band"), col(s"m$i").as("bkey"))): _*)).as("b"): _*)
      .filter(col("b.bkey").isNotNull) // empty-shingle docs have no keys
      .select(Seq(col("doc_id"), col("b.band").as("band"),
        col("b.bkey").as("bkey")) ++ slots: _*)
      .persist()
    def side(tag: String) = keyed.select(
      Seq(col("band"), col("bkey"), col("doc_id").as(s"doc_$tag")) ++
        (0 until k).map(i => col(s"m$i").as(s"${tag}$i")): _*)
    val overlap = (0 until k).map(i =>
      (col(s"a$i") === col(s"b$i")).cast("int")).reduce(_ + _)
    side("a").join(side("b"), Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      // slot-overlap estimate computed in the bucket-join stage (it is
      // a pure function of the pair, so the dedup keeps the same value
      // whichever duplicate survives) — the dedup exchange then ships
      // three columns, not 2k signature slots
      .select(col("doc_a"), col("doc_b"),
        (overlap / lit(k.toDouble)).as("est_jaccard"))
      // non-coalescable width for the dedup + downstream verify CPU
      // (see minhashPairsUnordered)
      .transform(Width.byKeys(_, col("doc_a"), col("doc_b")))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  val md5MinhashPairsSql: String = {
    val slotDefs = (0 until 4).map(i =>
      s"""    CASE WHEN len(sh) = 0 THEN NULL ELSE
         |      list_min(list_transform(sh, s -> ('0x' || substr(md5('$i:' || s), 1, 15))::BIGINT))
         |    END AS m$i""".stripMargin).mkString(",\n")
    val keyArms = (0 until 4).map(i =>
      s"  SELECT doc_id, $i AS band, m$i AS bkey, m0, m1, m2, m3 FROM sig WHERE m$i IS NOT NULL")
      .mkString("\n  UNION ALL\n")
    val overlap = (0 until 4).map(i => s"(a.m$i = b.n$i)::INT").mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |shingled AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
       |    END AS sh
       |  FROM t),
       |sig AS (
       |  SELECT doc_id,
       |$slotDefs
       |  FROM shingled),
       |keys AS (
       |$keyArms),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    ($overlap) / 4.0 AS est_jaccard
       |  FROM keys a
       |  JOIN (SELECT doc_id, band, bkey, m0 AS n0, m1 AS n1, m2 AS n2, m3 AS n3
       |        FROM keys) b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, est_jaccard FROM pairs
       |WHERE est_jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Edit-distance near-dup verify over the banded md5 candidate
    * chain: candidate pairs (est Jaccard ≥ 0.3) are confirmed by
    * RELATIVE Levenshtein distance — dist ≤ num/den of the longer
    * text, decided as the exact cross-multiplication
    * `den·dist ≤ num·max(len_a, len_b)` on integers. Character-level
    * edit distance is the dedup measure shingle Jaccard is blind to:
    * in-word typo/OCR noise perturbs most k-shingles (tanking
    * Jaccard) while moving dist only by the number of edits.
    *
    * Scale shape: Levenshtein is O(|a|·|b|) per pair, so it NEVER runs
    * doc×doc — only on the LSH-banded candidate stream (bounded by the
    * band-bucket sizes), joined back to the two text sides by doc key.
    * Both engines implement classic unit-cost Levenshtein
    * (Spark `levenshtein`, DuckDB `levenshtein`) — integer-identical. */
  def editDistancePairs(docs: DataFrame, num: Int = 1, den: Int = 4): DataFrame = {
    val cands = md5MinhashPairsUnordered(md5Shingled(docs), 0.3, 4)
      .select(col("doc_a"), col("doc_b"))
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("text_a")),
        Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("text_b")),
        Seq("doc_b"))
      // banded O(n·k) form: the 3-arg levenshtein abandons a pair the
      // moment its running distance exceeds the per-row bound (returns
      // −1), so the verify pays for the answer only when the answer
      // can pass; the bound IS the keep-gate, so −1 rows are exactly
      // the rows the gate would drop (DuckDB has no banded variant —
      // the oracle filters the full distance, same result)
      .withColumn("bound",
        expr(s"(greatest(length(text_a), length(text_b)) * $num) div $den"))
      .withColumn("dist",
        expr("levenshtein(text_a, text_b, CAST(bound AS INT))").cast("long"))
      .filter(col("dist") >= 0 && col("dist") * den <=
        greatest(length(col("text_a")), length(col("text_b"))).cast("long") * num)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def editDistancePairsSql(num: Int = 1, den: Int = 4): String = {
    val base = md5MinhashPairsSql
      .replaceAll("(?s)SELECT doc_a, doc_b, est_jaccard FROM pairs.*$", "")
      .trim
    s"""$base,
       |cand AS (
       |  SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.3),
       |v AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
       |    GREATEST(length(da.text), length(db.text)) AS mx
       |  FROM cand c
       |  JOIN documents da ON da.doc_id = c.doc_a
       |  JOIN documents db ON db.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, dist FROM v
       |WHERE dist * $den <= mx * $num
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Sketch-quality evaluation for the MinHash chain — the dedup twin
    * of `simsearch_recall`: for every banded candidate pair, the slot
    * overlap the sketch SAW (sig_matches of n_slots) next to the exact
    * truth (shingle intersection and union sizes). Every surfaced
    * column is an exact integer, so the calibration table a deployment
    * uses to pick k / bands / threshold sits fully behind the hash
    * gate; the exact arm reuses the one shingle pass feeding the
    * candidate chain (cost class of `dedup_jaccard_md5`). */
  def minhashAccuracy(docs: DataFrame, k: Int = 4): DataFrame = {
    val withSh = md5Shingled(docs).persist()
    md5MinhashPairsUnordered(withSh, threshold = 0.0, k)
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"),
        (col("est_jaccard") * k).cast("int").as("sig_matches"),
        lit(k).as("n_slots"), col("inter"),
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).as("union_sz"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val minhashAccuracySql: String = {
    val slotDefs = (0 until 4).map(i =>
      s"""    CASE WHEN len(sh) = 0 THEN NULL ELSE
         |      list_min(list_transform(sh, s -> ('0x' || substr(md5('$i:' || s), 1, 15))::BIGINT))
         |    END AS m$i""".stripMargin).mkString(",\n")
    val keyArms = (0 until 4).map(i =>
      s"  SELECT doc_id, $i AS band, m$i AS bkey, m0, m1, m2, m3 FROM sig WHERE m$i IS NOT NULL")
      .mkString("\n  UNION ALL\n")
    val overlap = (0 until 4).map(i => s"(a.m$i = b.n$i)::INT").mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |shingled AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
       |    END AS sh
       |  FROM t),
       |sig AS (
       |  SELECT doc_id,
       |$slotDefs
       |  FROM shingled),
       |keys AS (
       |$keyArms),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    ($overlap) AS sig_matches
       |  FROM keys a
       |  JOIN (SELECT doc_id, band, bkey, m0 AS n0, m1 AS n1, m2 AS n2, m3 AS n3
       |        FROM keys) b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT p.doc_a, p.doc_b, CAST(p.sig_matches AS INT) AS sig_matches,
       |  4 AS n_slots,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS INT) AS inter,
       |  CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS INT)
       |    AS union_sz
       |FROM pairs p
       |JOIN shingled sa ON sa.doc_id = p.doc_a
       |JOIN shingled sb ON sb.doc_id = p.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val md5MinhashSql: String = {
    val slots = (0 until 4).map(i =>
      s"""  CASE WHEN len(sh) = 0 THEN NULL ELSE
         |    list_min(list_transform(sh, s -> ('0x' || substr(md5('$i:' || s), 1, 15))::BIGINT))
         |  END AS m$i""".stripMargin).mkString(",\n")
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |shingled AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
       |    END AS sh
       |  FROM t)
       |SELECT doc_id,
       |$slots
       |FROM shingled ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- oracle contracts (murmur3)

  /** Oracle contract for the murmur3 candidate generator: every pair
    * the production 16-slot chain emits at `threshold` is also flagged
    * by the portable md5 4-slot chain at the same threshold — i.e. the
    * tighter estimator never "invents" a pair the portable family
    * cannot see (verified empirically at sf0.001/0.01/0.1 before being
    * declared; the reverse containment is false by design, the 4-slot
    * estimator is coarser). The emitted surface is what DuckDB can
    * recompute: the portable pair count plus the murmur3-only residue,
    * which the oracle pins at zero — the `agg_approx_distinct` pattern
    * (engine-specific sketch behind an oracle-checkable invariant). */
  def minhashContainmentQuery(docs: DataFrame, threshold: Double): DataFrame = {
    // both hash families branch off ONE persisted corpus-scan + shingle
    // pass — the corpus is never read twice
    val shingled = withShingles(docs).persist()
    // ONE full-outer pass with membership flags (the
    // jaccardContainmentQuery shape): the old anti-join + separate
    // count derived the md5 band-join chain TWICE (once as the
    // anti-join's right side, once for portable_pairs)
    val m3 = minhashPairsUnordered(shingled, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_m3"))
    val m5 = md5MinhashPairsUnordered(shingled, threshold, 4)
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_m5"))
    m3.join(m5, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(when(col("in_m3") === 1 && col("in_m5").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("murmur3_only_pairs"),
        coalesce(sum(col("in_m5").cast("long")), lit(0L)).as("portable_pairs"))
  }

  lazy val minhashContainmentSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS murmur3_only_pairs,
       |  COUNT(*) AS portable_pairs
       |FROM ($md5MinhashPairsSql) t""".stripMargin

  /** Same contract one stage later: exact-Jaccard-verified pairs from
    * murmur3 candidates ⊆ exact-Jaccard-verified pairs from md5
    * candidates. Both sides verify with the SAME exact set overlap, so
    * the only degree of freedom is candidate recall — and the murmur3
    * bands never surface a verified pair the portable bands miss
    * (empirical at all three fixture SFs; at sf0.1 the portable chain
    * sees one pair more, which is why equality is NOT the contract). */
  def jaccardContainmentQuery(docs: DataFrame, threshold: Double): DataFrame = {
    // one persisted shingle pass serves candidate generation and the
    // exact-verify joins of BOTH hash families
    val shingled = withShingles(docs).persist()
    // exact-verify ONCE, over the UNION of the two families' candidate
    // sets, and attribute family membership by flag — running the
    // verify per family repeated the two shingle-set joins (the heavy
    // stage) for the large shared candidate overlap, ~8× the contract's
    // shuffle for zero extra information
    val c3 = minhashPairsUnordered(shingled, threshold * 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_m3"))
    val c5 = md5MinhashPairsUnordered(shingled, threshold * 0.5, 4)
      .select(col("doc_a"), col("doc_b"), lit(1).as("in_m5"))
    val cands = c3.join(c5, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("in_m3"), lit(0)).as("in_m3"),
        coalesce(col("in_m5"), lit(0)).as("in_m5"))
    val verified = cands
      .join(shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
    verified.agg(
      coalesce(sum(when(col("in_m3") === 1 && col("in_m5") === 0, 1L)
        .otherwise(0L)), lit(0L)).as("murmur3_only_pairs"),
      coalesce(sum(col("in_m5").cast("long")), lit(0L)).as("portable_pairs"))
  }

  lazy val jaccardContainmentSql: String =
    s"""SELECT CAST(0 AS BIGINT) AS murmur3_only_pairs,
       |  COUNT(*) AS portable_pairs
       |FROM ($jaccardVerifyMd5Sql) t""".stripMargin

  /** Oracle contract for SimHash blocking: plant an exact duplicate of
    * every 20th document (new ids offset by 10⁶ — the pii_redact
    * pattern: the invariant is forced to fire at every SF instead of
    * depending on what the fixture happens to contain), then assert the
    * blocking finds each planted pair with hamming 0. This is the part
    * of SimHash that is GUARANTEED, not probabilistic: identical text →
    * identical fingerprint → identical keys in every table. Near-dup
    * (hamming ≤ maxDist) behavior stays property-pinned in DedupSpec —
    * no portable hash family can express xxhash64 token votes in SQL. */
  def simhashPlantedQuery(docs: DataFrame, maxDist: Int): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    // collision-free planted ids for ANY corpus: offset = max(id) + 1,
    // a broadcast scalar join (not a literal — a fixed 10⁶ would alias
    // real documents the moment ids reach it); the oracle derives the
    // same offset with a scalar subquery
    val off = base.agg((max(col("doc_id")) + 1).as("off"))
    val planted = base.filter(col("doc_id") % 20 === 0)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("off")).as("doc_id"), col("text"))
    val pairs = simhashPairs(base.union(planted), maxDist)
    base.filter(col("doc_id") % 20 === 0)
      .crossJoin(broadcast(off))
      .select(col("doc_id").as("doc_a"), (col("doc_id") + col("off")).as("doc_b"))
      .join(pairs, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        col("hamming").isNotNull.as("found"),
        coalesce(col("hamming") === 0, lit(false)).as("hamming_zero"))
      .orderBy(col("doc_a"))
  }

  val simhashPlantedSql: String =
    """SELECT doc_id AS doc_a,
      |  doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_b,
      |  TRUE AS found, TRUE AS hamming_zero
      |FROM documents WHERE doc_id % 20 = 0
      |ORDER BY doc_a""".stripMargin

  // ------------------------------------------ incremental ingest dedup

  /** Incremental batch-vs-corpus dedup — the shape production ingestion
    * actually runs: a small incoming batch is checked against the
    * standing corpus, never corpus×corpus. A salted-md5 subset of the
    * documents plays the incoming batch (plus planted exact copies of
    * every 20th corpus doc, ids offset past max(doc_id) — the
    * simhashPlantedQuery pattern — so the exact-dup arm provably fires
    * at every SF), the rest is the corpus. Each batch doc gets a status:
    *   exact_dup — md5(text) matches a corpus document
    *   near_dup  — shares an md5-minhash band key with a corpus doc at
    *               slot-overlap ≥ threshold
    *   new       — neither
    *
    * Scale shape: the corpus side of the band join is exactly the
    * signature index a deployment builds once and reuses every batch
    * (standing state, the `ParquetMemo.ensureWith` lifecycle); per-batch
    * work is O(batch × bands) probe rows against bucket-partitioned
    * corpus keys. The exact arm is a fingerprint semi-join whose batch
    * side is broadcast-sized by construction. Nothing here is quadratic
    * in the corpus. */
  def incrementalDedup(docs: DataFrame, batchFrac: Double,
      threshold: Double, k: Int = 4): DataFrame = {
    val u = conv(substring(md5(concat(lit("batch:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val tagged = docs.select(col("doc_id"), col("text"),
      (u < batchFrac).as("is_batch"))
    val off = docs.agg((max(col("doc_id")) + 1).as("off"))
    val corpus = tagged.filter(!col("is_batch")).select("doc_id", "text")
    val planted = corpus.filter(col("doc_id") % 20 === 0)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("off")).as("doc_id"), col("text"))
    val batch = tagged.filter(col("is_batch")).select("doc_id", "text")
      .unionByName(planted)
    val exact = batch.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(corpus.select(md5(col("text")).as("fp")).distinct(),
        Seq("fp"), "left_semi")
      .select(col("doc_id"))
    def keyed(side: DataFrame, tag: String) = {
      val sigs = md5SigsFromShingles(withShingles(side), k)
      sigs.select(col("doc_id") +: (0 until k).map(i => col(s"m$i")) :+
        explode(array((0 until k).map(i =>
          struct(lit(i).as("band"), col(s"m$i").as("bkey"))): _*)).as("b"): _*)
        .filter(col("b.bkey").isNotNull)
        .select(Seq(col("b.band").as("band"), col("b.bkey").as("bkey"),
          col("doc_id").as(s"doc_$tag")) ++
          (0 until k).map(i => col(s"m$i").as(s"$tag$i")): _*)
    }
    val overlap = (0 until k).map(i =>
      (col(s"a$i") === col(s"b$i")).cast("int")).reduce(_ + _)
    val near = keyed(batch, "a").join(keyed(corpus, "b"), Seq("band", "bkey"))
      .filter(overlap / lit(k.toDouble) >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(exact.withColumn("e", lit(1)), Seq("doc_id"), "left")
      .join(near.withColumn("n", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("e") === 1, "exact_dup")
          .when(col("n") === 1, "near_dup")
          .otherwise("new").as("status"))
      .orderBy(col("doc_id"))
  }

  def incrementalDedupSql(batchFrac: Double, threshold: Double): String = {
    def slots(from: String) = (0 until 4).map(i =>
      s"""    CASE WHEN len(sh) = 0 THEN NULL ELSE
         |      list_min(list_transform(sh, s -> ('0x' || substr(md5('$i:' || s), 1, 15))::BIGINT))
         |    END AS m$i""".stripMargin).mkString(",\n") + s"\n  FROM $from"
    def arms(from: String) = (0 until 4).map(i =>
      s"  SELECT doc_id, $i AS band, m$i AS bkey, m0, m1, m2, m3 FROM $from WHERE m$i IS NOT NULL")
      .mkString("\n  UNION ALL\n")
    val overlap = (0 until 4).map(i => s"(a.m$i = b.n$i)::INT").mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    ('0x' || substr(md5('batch:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      / 4294967296.0 < $batchFrac AS is_batch
       |  FROM documents),
       |corpus AS (SELECT doc_id, text FROM base WHERE NOT is_batch),
       |batch AS (
       |  SELECT doc_id, text FROM base WHERE is_batch
       |  UNION ALL
       |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id, text
       |  FROM corpus WHERE doc_id % 20 = 0),
       |bsh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
       |    END AS sh
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM batch)),
       |csh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN []
       |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
       |    END AS sh
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM corpus)),
       |bsig AS (
       |  SELECT doc_id,
       |${slots("bsh")}),
       |csig AS (
       |  SELECT doc_id,
       |${slots("csh")}),
       |bkeys AS (
       |${arms("bsig")}),
       |ckeys AS (
       |  SELECT doc_id, band, bkey, m0 AS n0, m1 AS n1, m2 AS n2, m3 AS n3
       |  FROM (
       |${arms("csig")})),
       |near AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM bkeys a JOIN ckeys b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE ($overlap) / 4.0 >= $threshold),
       |exact AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM batch b JOIN corpus c ON md5(b.text) = md5(c.text))
       |SELECT batch.doc_id,
       |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS status
       |FROM batch
       |LEFT JOIN exact e ON batch.doc_id = e.doc_id
       |LEFT JOIN near n ON batch.doc_id = n.doc_id
       |ORDER BY batch.doc_id""".stripMargin
  }

  // ---- declared queries (rows-only: hash seeds not SQL-reproducible) ----
  private val q: Seq[(String, QueryDef)] = Seq(
    // murmur3 candidate generator behind its containment contract (the
    // declared surface is what DuckDB can recompute)
    "dedup_minhash" -> QueryDef(
      (s: SparkSession, d: String) => minhashContainmentQuery(Tables.documents(s, d), 0.5),
      Some(minhashContainmentSql)),
    "dedup_minhash_md5" -> QueryDef(
      (s: SparkSession, d: String) => md5MinhashSignatures(Tables.documents(s, d), 4),
      Some(md5MinhashSql)),
    "dedup_pairs_md5" -> QueryDef(
      (s: SparkSession, d: String) => md5MinhashPairs(Tables.documents(s, d), 0.5),
      Some(md5MinhashPairsSql)),
    "dedup_jaccard" -> QueryDef(
      (s: SparkSession, d: String) => jaccardContainmentQuery(Tables.documents(s, d), 0.6),
      Some(jaccardContainmentSql)),
    "dedup_jaccard_md5" -> QueryDef(
      (s: SparkSession, d: String) => jaccardVerifyMd5(Tables.documents(s, d), 0.6),
      Some(jaccardVerifyMd5Sql)),
    // character-level edit-distance verify on the banded candidates:
    // the typo/OCR-noise measure shingle Jaccard is blind to
    "dedup_edit_distance" -> QueryDef(
      (s: SparkSession, d: String) => editDistancePairs(Tables.documents(s, d)),
      Some(editDistancePairsSql())),
    // COMPLETE exact all-pairs Jaccard join via df-ordered prefix
    // filtering — the deterministic-recall twin of the banded chain
    "dedup_allpairs" -> QueryDef(
      (s: SparkSession, d: String) => allPairsJaccardStanding(s, d),
      Some(allPairsJaccardSql())),
    // sketch-vs-truth calibration table: slot overlap next to exact
    // intersection/union for every banded candidate, all-integer surface
    "dedup_minhash_accuracy" -> QueryDef(
      (s: SparkSession, d: String) => minhashAccuracy(Tables.documents(s, d)),
      Some(minhashAccuracySql)),
    // asymmetric containment over the same chain: the quote/subset
    // detector Jaccard misses when set sizes diverge
    "dedup_containment" -> QueryDef(
      (s: SparkSession, d: String) => containmentVerifyMd5Standing(s, d, 0.6),
      Some(containmentVerifyMd5Sql)),
    // maxDist 3 = the published near-dup radius (Manku WWW'07) and the
    // genuinely scalable default blocking config: 10 tables of ~26-bit
    // pair keys (see simhashPlan scaladoc). Declared behind the
    // planted-duplicate recall contract; raw pairs = `simhashPairs`
    "dedup_simhash" -> QueryDef(
      (s: SparkSession, d: String) => simhashPlantedQuery(Tables.documents(s, d), 3),
      Some(simhashPlantedSql)),
    // fixture embeddings are near-orthogonal (max within-cell cosine
    // ≈ 0.47), so the declared threshold is tuned to surface the top
    // percentile of pairs; a real corpus would use ≥ 0.9. Output is the
    // id pairs only: the strict left-to-right double accumulation of the
    // native CosineSimilarity matches DuckDB's list_dot_product order,
    // and no fixture pair sits within float-drift distance of the
    // threshold, so the selection itself is oracle-checkable even though
    // the raw cosine's last bits are not a portable surface
    // full oracle: md5-derived portable hyperplanes make every stage of
    // the blocked dedup ANSI-reproducible (embeddingLshSql); the
    // xxhash64 native quantizer twin keeps its recall/scaling pins in
    // DedupSpec
    "dedup_embedding_lsh" -> QueryDef(
      (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        // quantizer sizing = index-build-time metadata: one count
        // (parquet row-count stats, no data read) picks the plane
        // budget, exactly like an IVF trainer picking its cell count
        embeddingPairsPortable(emb, 0.35, planesForCorpus(emb.count(), 64))
      }, Some(embeddingLshSql)),
    // batch-vs-corpus: the md5 family end to end, so the whole
    // incremental path (split → plant → fingerprint arm → banded-LSH
    // arm → status precedence) is ANSI-reproducible
    "dedup_incremental" -> QueryDef(
      (s: SparkSession, d: String) =>
        incrementalDedup(Tables.documents(s, d), 0.1, 0.5),
      Some(incrementalDedupSql(0.1, 0.5))),
    "dedup_lsh_calibration" -> QueryDef(
      (s: SparkSession, d: String) => lshCalibration(Tables.embeddings(s, d)),
      Some(lshCalibrationSql())),
    "dedup_embedding" -> QueryDef(
      (s: SparkSession, d: String) => embeddingPairs(Tables.embeddings(s, d), 0.35)
        .select(col("id_a"), col("id_b")),
      Some("""WITH e AS (
        |  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b FROM p WHERE cos >= 0.35
        |ORDER BY id_a, id_b""".stripMargin))
  )

  def queries: Seq[(String, QueryDef)] = q
}
