package graft
package perfbench

import org.apache.spark.sql.SparkSession

import graft.core.QueryDef

/** What each workload runs, which standing state it reads, and which
  * engine module owns each query. */
object Workloads {

  /** The modules `SparkEntry` assembles its inventory from, by the name
    * the per-layer metrics use. The two `vat_*` entries it declares
    * inline count as `vat`. */
  lazy val modules: Seq[(String, Seq[(String, QueryDef)])] = Seq(
    "rel.RelQueries" -> rel.RelQueries.queries,
    "rel.Distribution" -> rel.Distribution.queries,
    "rel.Experiments" -> rel.Experiments.queries,
    "rel.Windows" -> rel.Windows.queries,
    "rel.Scalars" -> rel.Scalars.queries,
    "rel.AdvancedJoins" -> rel.AdvancedJoins.queries,
    "rel.SubqueryShapes" -> rel.SubqueryShapes.queries,
    "rel.TpchExtra" -> rel.TpchExtra.queries,
    "rel.EventAnalytics" -> rel.EventAnalytics.queries,
    "rel.Etl" -> rel.Etl.queries,
    "rel.Graph" -> rel.Graph.queries,
    "rel.TimeSeries" -> rel.TimeSeries.queries,
    "rel.Baskets" -> rel.Baskets.queries,
    "rel.Quality" -> rel.Quality.queries,
    "core.ZOrder" -> core.ZOrder.queries,
    "ext.TextOps" -> ext.TextOps.queries,
    "ext.Ngrams" -> ext.Ngrams.queries,
    "ext.Dedup" -> ext.Dedup.queries,
    "ext.Corpus" -> ext.Corpus.queries,
    "ext.Pipeline" -> ext.Pipeline.queries,
    "ext.Tokenizer" -> ext.Tokenizer.queries,
    "ext.Similarity" -> ext.Similarity.queries,
    "ext.Multimodal" -> ext.Multimodal.queries,
    "ext.Search" -> ext.Search.queries,
    "ext.Sketches" -> ext.Sketches.queries,
    "ext.Spans" -> ext.Spans.queries,
    "ext.Entities" -> ext.Entities.queries,
    "ext.Geo" -> ext.Geo.queries,
    "ext.Clustering" -> ext.Clustering.queries,
    "ext.Quantization" -> ext.Quantization.queries,
    "ext.Classifier" -> ext.Classifier.queries)

  def moduleOf(query: String): String =
    if (query.startsWith("vat_")) "vat"
    else modules.collectFirst { case (m, qs) if qs.exists(_._1 == query) => m }
      .getOrElse(throw new IllegalArgumentException(s"undeclared query $query"))

  /** A standing build, by the name `setup.<name>_s` reports. */
  type Build = (String, (SparkSession, String) => Any)

  sealed trait Workload {
    def name: String
    /** Every standing build the workload reads, each called on its own so
      * that a failure fails set-up. */
    def builds: Seq[Build]
  }
  final case class QueryWorkload(name: String, queries: Seq[String],
      builds: Seq[Build]) extends Workload
  case object VatFiling extends Workload {
    val name = "vat_filing"
    val builds: Seq[Build] = Nil
  }

  /** Batch queries (scans, shuffles, CPU; few eager jobs) and
    * iterative-serving queries (driver round-trips; most jobs run inside
    * the query function) in one pass; the per-module layers tell the two
    * tiers apart. */
  val analytics: QueryWorkload = QueryWorkload("analytics",
    Seq("vat_summary", "q5_region_revenue", "events_funnel", "ts_cusum",
      "dedup_minhash", "corpus_clean", "text_collocations", "layout_bucketed",
      "graph_scc", "graph_pagerank", "simsearch_ivfpq", "simsearch_mips_indexed"),
    Seq("bucketed_facts" -> ((s, d) => core.ZOrder.ensureBucketedFacts(s, d)),
      "pr_adjacency" -> ((s, d) => rel.Graph.ensureAdjacency(s, d)),
      "mips_index" -> ((s, d) => ext.Similarity.ensureMipsIndex(s, d))))

  val all: Seq[Workload] = Seq(VatFiling, analytics)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))
}
