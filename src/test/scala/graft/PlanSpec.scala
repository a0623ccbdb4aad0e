package graft

import graft.vat.Summary

/** Physical-plan shape assertions (SURVEY.md §4) — the 100 TB contract:
  * pushdown reaches the scan, small sides broadcast, aggregations are
  * partial+final, top-k never global-sorts. These are the properties
  * that keep the same plans viable at 1000 executors; regressions here
  * are perf bugs even when results stay correct. */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("filter + projection pushdown reach the parquet scan (q1)") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown in:\n$p")
    // column pruning: only the 7 referenced columns are read
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"), "schema not pruned")
  }

  test("dimension joins broadcast; no shuffle on the fact side build (q5)") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("aggregation is partial+final hash aggregate (vat_summary)") {
    val p = Summary.lineitemVatSummary(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (q3)") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("ranked-filter windows push WindowGroupLimit (bounded per-key sort)") {
    // rn <= k over a window must not sort whole partitions: Spark's
    // WindowGroupLimit keeps a k-row group limit on both the partial
    // (pre-shuffle) and final sides — the property that makes top-k-per-
    // group survive fat keys at scale
    for (name <- Seq("window_rank", "topk_per_group", "topk_movers")) {
      val p = plan(name)
      assert(p.contains("WindowGroupLimit"),
        s"$name: expected WindowGroupLimit pushdown in:\n$p")
    }
  }

  test("whole-stage codegen covers the scan→project pipeline (scalar_math)") {
    // AQE hides codegen spans until the final plan materializes; note
    // array higher-order functions (text_stats) are CodegenFallback by
    // design, so the assertion targets a scalar-expression query
    val df = SparkEntry.queries("scalar_math")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // compact plan marks WholeStageCodegen stages as "*(n)"
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, s"no codegen span:\n$p")
  }

  test("q6: range predicate pushed to the scan, 4-column ReadSchema, no join") {
    // scan metadata (PushedFilters/ReadSchema) is truncated at 100 chars
    // by default — widen it for the assertion
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val p = plan("q6_forecast_revenue")
      assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
        p.contains("LessThanOrEqual(l_shipdate"), s"range not pushed:\n$p")
      assert(!p.contains("Join"), s"Q6 must be join-free:\n$p")
      assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
        "l_discount:double,l_shipdate"), s"schema not pruned to 4 columns:\n$p")
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("q20: aggregation and part-total window share ONE lineitem shuffle") {
    val df = SparkEntry.queries("q20_dominant_supplier")(spark, sfDir)
    df.collect()
    // AQE prints final AND initial plans; assert on the final one only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the explicit repartition(l_partkey) must satisfy both the
    // (partkey, suppkey) aggregate and the partkey window — exactly one
    // hash exchange of lineitem data, none between agg and window
    val liExchanges = "hashpartitioning\\(l_partkey".r.findAllIn(p).length
    assert(liExchanges == 1, s"expected 1 lineitem exchange, got $liExchanges:\n$p")
    assert(p.contains("Window"), p)
  }

  test("runtime bloom filter prunes the probe side of a shuffle join") {
    import org.apache.spark.sql.functions._
    // with broadcast off (both sides shuffle), a selective filter on the
    // build side should inject a bloom filter onto the fact scan —
    // Catalyst's runtime row-level pruning for exactly the 100 TB case
    // where the dim is too big to broadcast. Thresholds are tuned down
    // to make the tiny fixture eligible.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.core.Tables.lineitem(spark, sfDir)
      val ords = graft.core.Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("BloomFilterMightContain")
        || p.toLowerCase.contains("mightcontain"),
        s"expected an injected runtime bloom filter:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("driver smoke: entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes and matches its declared columns") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty, name)
      df.count() // must not throw
    }
  }

  test("no accidental cartesian products anywhere in the inventory") {
    // join_cross is the declared cartesian; broadcast-nested-loop for
    // range joins / single-row broadcast probes is fine
    SparkEntry.queries.foreach { case (name, fn) =>
      if (name != "join_cross") {
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct"),
          s"$name plans a CartesianProduct:\n$p")
      }
    }
  }

  test("kmeans assignment is a literal-matrix narrow map: no join, one exchange") {
    val p = plan("embedding_kmeans")
    assert(!p.contains("Join"), s"assignment must fold centroids as literals:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"expected only the report aggregate's exchange(s):\n$p")
  }

  test("pagerank iterations use shuffle-hash joins, never per-iteration sorts") {
    val p = plan("graph_pagerank")
    assert(p.contains("ShuffledHashJoin"), s"rank joins must hash, not SMJ:\n$p")
    // the adjacency is a build-once bucketed table, checkpointed once
    // per query (the parquet array decode would otherwise re-run every
    // iteration); the LogicalRDD reports hash(src) partitioning so the
    // rank joins plan no exchange on either side (GraphSpec pins the
    // exchange census)
    assert(p.contains("Scan ExistingRDD"), s"adjacency not checkpointed:\n$p")
  }

  test("perceptron epoch reduces in one pass: no join, no window in the report") {
    val p = plan("train_perceptron")
    // the declared surface is a local relation of collected epoch rows —
    // the per-epoch aggregates run as separate bounded jobs
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("no duplicate query names across modules (Map would drop one silently)") {
    val names = SparkEntry.declaredNames
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"shadowed queries: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("decontaminate: benchmark gram semi-join and contaminated-id anti-join broadcast") {
    val p = plan("corpus_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark gram set must broadcast through the semi-join:\n$p")
    assert(p.contains("LeftAnti"), s"expected the contaminated anti-join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("n-gram scoring: vocabulary-bounded count tables broadcast (dsir, lm)") {
    Seq("corpus_dsir", "text_lm_score").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q count tables should broadcast at this scale:\n$p")
      assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: unexpected cartesian:\n$p")
    }
  }

  test("jaccard: top-k never global-sorts; wedge join is an equi-join") {
    val p = plan("graph_jaccard")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(!p.contains("CartesianProduct"), s"wedge join must stay equi:\n$p")
  }

  test("embedding drift: partial+final hash aggregates throughout") {
    val p = plan("dq_embedding_drift")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"expected partial+final aggregates on both sum layers:\n$p")
  }

  test("radius join: grid blocking keeps the join equi (hash/merge, " +
      "never nested-loop over points)") {
    val p = plan("geo_join_radius")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blocked radius join must key on cells:\n$p")
  }

  test("matryoshka: both funnel cuts are top-k operators, not global sorts") {
    val p = plan("simsearch_matryoshka")
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate/rerank cuts must plan as top-k:\n$p")
  }

  test("gopher filter: word-count aggregation is partial+final; " +
      "the report join keys on doc_id") {
    val p = plan("corpus_gopher_filter")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"top-word counts must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quarantine: single narrow scan — no join, no aggregate before the sort") {
    val p = plan("etl_quarantine")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"row routing must stay scan-side:\n$p")
  }

  test("OHLC downsample: one partial+final aggregate, no window") {
    val p = plan("ts_downsample")
    assert(!p.contains("Window"), s"candles must not need a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"candle agg must combine map-side:\n$p")
  }

  test("every multi-row oracle query pins a total order") {
    // single-row aggregates are order-free by construction
    val exempt = Set("agg_stats_global", "q14_promo_share",
      "q19_discounted_revenue", "q17_small_quantity", "q6_forecast_revenue",
      // round-10 single-row aggregates (global rectangle census, one-row
      // budget-fill boundary artifact, one-row DiD / power readouts)
      "graph_rectangles", "corpus_budget_fill", "events_did",
      "events_power_check")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      if (!exempt(name))
        assert(sql.toUpperCase.contains("ORDER BY"),
          s"$name oracle lacks ORDER BY — hash compare would be order-lucky")
    }
  }

  test("no oracle-checked query surfaces ARRAY/MAP/DECIMAL columns (harness compat)") {
    // the driver's pandas-based compare crashes sorting array-valued
    // cells (numpy arrays are unhashable), and DECIMAL parquet reads
    // back as Decimal objects while the DuckDB fetch yields float64 —
    // value-equal but hash-different (round-7 vat_summary_decimal).
    // Oracle-checked output must be plain scalars: BIGINT cents for
    // exact money, DOUBLE elsewhere.
    import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType}
    SparkEntry.oracleSql.keys.foreach { name =>
      val bad = SparkEntry.queries(name)(spark, sfDir).schema.fields
        .filter(f => f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[DecimalType])
      assert(bad.isEmpty,
        s"$name outputs nested/decimal columns ${bad.map(_.name).mkString(",")} — " +
          "the driver compare cannot hash these; flatten to plain scalars")
    }
  }

  test("join_bloom: the bit-word prefilter runs below the join's " +
      "exchange (map-side), and the join stays on the shuffle path") {
    val p = plan("join_bloom")
    // the probe-side branch must carry a Filter mentioning the literal
    // word array test BEFORE any Exchange above the lineitem scan
    val lines = p.split("\n")
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("shiftright"))
    assert(filterIdx >= 0, s"expected the bit-test Filter in:\n$p")
    val exchangeAbove = lines.take(filterIdx).exists(_.contains("Exchange"))
    val scanBelow = lines.drop(filterIdx)
      .exists(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scanBelow, s"bit-test Filter must sit on the lineitem scan:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"the demo must stay on the shuffle join path:\n$p")
    // and the filter feeds the shuffle, not the other way around: some
    // Exchange must appear between the filter and the join operator
    val joinIdx = lines.indexWhere(l =>
      l.contains("ShuffledHashJoin") || l.contains("SortMergeJoin"))
    assert(joinIdx < filterIdx,
      s"probe filter must be below the join in the plan tree:\n$p")
    assert(!exchangeAbove || joinIdx < filterIdx, "filter is map-side")
  }

  test("sample_priority: top-(k+1) is TakeOrderedAndProject, never a " +
      "global sort") {
    val p = plan("sample_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered for the priority top-k:\n$p")
  }

  test("distribution-shape ops: ONE window, over the aggregated relation " +
      "(agg_gini / agg_pareto_share / agg_histogram_eqdepth / corpus_budget_fill)") {
    // the telescoping trick's whole point: the ranking window runs over
    // the distinct-value AGGREGATE, never per input row — exactly one
    // Window node, with a HashAggregate strictly below it
    for (name <- Seq("agg_gini", "agg_pareto_share", "agg_histogram_eqdepth",
        "corpus_budget_fill")) {
      val p = plan(name)
      val lines = p.split("\n")
      val winIdx = lines.indexWhere(_.contains("Window"))
      assert(winIdx >= 0, s"$name: expected a Window node in:\n$p")
      assert("(?<!GroupLimit)Window".r.findAllIn(p).length == 1,
        s"$name: expected exactly one Window in:\n$p")
      assert(lines.drop(winIdx + 1).exists(_.contains("HashAggregate")),
        s"$name: the Window must consume an aggregate, not raw rows:\n$p")
    }
  }

  test("search_snippet: embarrassingly parallel — top-k cut, no hash exchange") {
    val p = plan("search_snippet")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k cut:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"snippet extraction must not shuffle:\n$p")
  }

  test("simsearch_mips: query vector broadcasts; the scan side never shuffles " +
      "before the top-k") {
    val p = plan("simsearch_mips")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the 1-row query side broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k cut:\n$p")
  }

  test("round-10 experiment/monitor ops: scalar broadcasts, top-k cuts, " +
      "partial+final aggregates") {
    // CUPED / stickiness / neyman / hoover / facets: every global scalar
    // (midpoint, pooled moments, weight totals) rides a broadcast —
    // never a shuffled cross join
    for (name <- Seq("events_cuped", "sample_neyman", "agg_hoover",
        "search_facets")) {
      val p = plan(name)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$name: expected broadcast scalar join in:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian in:\n$p")
    }
    // burstiness / zipf: the head cut is TakeOrdered, not a global sort
    val pb = plan("text_burstiness")
    assert(pb.contains("TakeOrderedAndProject"), s"expected top-k cut:\n$pb")
    // volume monitor: the heavy lifting is one partial+final aggregate
    // over raw events; the window runs on the daily relation
    val pv = plan("dq_volume_anomaly")
    assert("HashAggregate".r.findAllIn(pv).length >= 2,
      s"expected partial+final daily aggregate:\n$pv")
  }

  test("autocomplete: per-prefix rank pushes WindowGroupLimit") {
    val p = plan("search_autocomplete")
    assert(p.contains("WindowGroupLimit"),
      s"expected per-prefix group limit in:\n$p")
  }

  test("PlanDump.normalize: two builds of one query dump byte-equal") {
    // a lambda object's name and the absolute warehouse dir differ
    // between two runs of one commit and between checkouts; each build
    // appends its own spelling of both
    def dump(lambda: String, warehouse: String): (String, String) = {
      val raw = SparkEntry.queries("dedup_spans")(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) +
        s"\n$lambda\nLocation: InMemoryFileIndex [file:$warehouse/graft_bb_t]\n"
      (raw, Probe.normalize(raw))
    }
    val (rawA, a) = dump(
      "obj#5: graft.rel.Graph$$$Lambda$6629/0x00007ff78d72fa68@1f537655",
      "/home/a/repo/spark-warehouse")
    val (rawB, b) = dump(
      "obj#9: graft.rel.Graph$$$Lambda$7341/0x00007f1c2d0b1c40@2b7f3f8c",
      "/srv/b/spark-warehouse")
    assert(rawA != rawB, "expression ids should differ between builds")
    assert(a === b)
    assert(("#\\d|plan_id=\\d|lambda x_\\d|Lambda\\$\\d|/0x|" +
      "spark-warehouse").r.findFirstIn(a).isEmpty)
  }
}
