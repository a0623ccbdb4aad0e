package graft

/** The engine's central determinism claim, asserted systematically: a
  * declared query's RESULT BYTES do not depend on the parallelism that
  * produced them. Per-op pins exist for the fixed-point family
  * (GraphSpec/ClusteringSpec/ClassifierSpec); this sweep covers one
  * representative of every aggregation discipline — DECIMAL money,
  * integer fixed-point, portable hashes, discrete percentiles, carried
  * floats, single-IEEE-op ratios — at 2 vs 16 shuffle partitions. A
  * failure here means an operator snuck in order-dependent float
  * accumulation and would flap under the driver's oracle at cluster
  * parallelism. */
class RepartitionInvarianceSpec extends SparkSuite {

  private val representatives = Seq(
    "vat_summary",          // DECIMAL conditional agg + unpivot
    "agg_corr_exact",       // decimal second moments + IEEE finish
    "graph_pagerank",       // integer fixed-point iteration
    "graph_hits",           // integer max-normalized bipartite rounds
    "graph_ppr",            // sparse-frontier fixed-point iteration
    "embedding_kmeans",     // integer fixed-point clustering
    "dedup_minhash_md5",    // portable hash family
    "agg_median_disc",      // discrete percentile
    "ts_fill_forward",      // carried (never re-accumulated) floats
    "assoc_rules",          // integer-count ratios
    "window_range_frame",   // value-based frame, decimal sum
    "text_search",          // integer rarity scoring
    "text_search_bm25",     // fixed-point rational ranking
    "events_rfm",           // DECIMAL monetary + ntile in a pinned order
    "ts_autocorr",          // integer moments + IEEE finish
    "graph_kcore",          // iterative peel fixpoint
    "agg_weighted_median",  // DECIMAL cumweight over a RANGE frame
    "ts_ewma",              // integer-weight truncated smoothing
    "dedup_audio_fp",       // real-decode fingerprint + banded pairs
    "agg_quantile_cont",    // explicit Type-7 interpolation
    "window_ignore_nulls",  // IGNORE NULLS navigation, carried floats
    "skyline_pareto",       // strict-dominance sweep on exact comparisons
    "agg_weighted_median_scalable", // two-pass prefix-sum, integer cents
    "embedding_pca",        // integer power iteration, sign-split rescale
    "ts_cusum",             // DECIMAL drawdown + rank-picked first alarm
    "graph_modularity",     // integer quality fold over LPA labels
    "sketch_bloom_portable", // bit-OR idempotent filter words
    "corpus_curation_pipeline", // composed multi-stage dispositions
    "graph_betweenness",    // two-phase σ/δ fixed-point accumulation
    "sample_weighted",      // two-level prefix sum + driver offset fold
    "simsearch_mmr",        // driver greedy over a collected candidate set
    "text_boilerplate",     // in-row array_sort reassembly of kept chunks
    "events_streaks",       // gaps-and-islands windows + tie-ruled agg
    "ts_hampel",            // sorted-window scaled medians (med2/mad4)
    "ts_decompose",         // scaled trend/seasonal integer identities
    "dq_referential",       // distinct-key probe + flag-counting agg
    "embedding_coreset",    // driver argmax rounds over integer d2
    "simsearch_graph",      // sequential pruned-probe greedy walk
    "sample_balanced",      // data-derived floor + salted-hash ranking
    "classify_auc",         // score-frequency rank kernel + integer div
    "ts_holt",              // aggregate-HOF sequential fold per series
    "graph_sssp",           // bounded min-cost relaxation rounds
    "corpus_bpe_train",     // argmax-driven merge rounds, driver pick
    "sample_priority",      // TakeOrdered top-k + bounded tau scalar
    "join_bloom",           // collected bit words + map-side prefilter
    "dedup_cluster_histogram", // CC chain + in-plan complement row
    "graph_walks_biased",   // md5 interval pick on cumulative weights
    "distinct_kmv_intersect", // bottom-k sketches + window rank
    "dq_ks",                // binned CDF gap, cross-multiplied exact
    "join_pit_features",    // dual-frame feature vector, one sort
    "ts_changepoint",       // cross-multiplied CUSUM argmax
    "graph_conductance",    // per-community cut fold over LPA labels
    "etl_retro_correction", // covering-interval three-arm split
    "agg_gini",             // distinct-value rank telescoping, integer bp
    "events_survival",      // micro-bucketed K-M descending cumulative
    "graph_link_predict",   // per-wedge integer RA terms, order-free sum
    "ts_paa",               // integer segment grid + exact cent means
    "graph_bfs",            // one-task BFS from the min id
    "graph_landmark_closeness", // one-task landmark BFS, integer harmonic sum
    "graph_eccentricity",   // one-task landmark BFS, max distance
    "graph_cc",             // driver union-find over the collected backbone
    "dedup_clusters_md5")   // LSH pairs → driver union-find components

  test("representative queries are bit-identical at 2 vs 16 shuffle partitions") {
    val conf = spark.conf
    val original = conf.get("spark.sql.shuffle.partitions")
    def runAll(parts: String): Map[String, Seq[String]] = {
      conf.set("spark.sql.shuffle.partitions", parts)
      try representatives.map { name =>
        val rows = SparkEntry.queries(name)(spark, sfDir)
          .collect().map(_.toString).toSeq
        spark.catalog.clearCache()
        name -> rows
      }.toMap
      finally conf.set("spark.sql.shuffle.partitions", original)
    }
    val at2 = runAll("2")
    val at16 = runAll("16")
    representatives.foreach { name =>
      assert(at2(name) === at16(name),
        s"$name varies with shuffle parallelism")
    }
  }
}
