package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.QueryDef
import graft.vat.Summary

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * The declared inventory is assembled from the per-family modules; each
  * entry carries its Spark implementation and (when ANSI-SQL-expressible)
  * the DuckDB oracle for the driver's hash-compare gate. Queries without
  * an oracle get the driver's weaker rows-only check and are covered by
  * ScalaTest instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Summary.lineitemVatSummary(spark, "/root/testdata/sf0.001")

  private lazy val all: Seq[(String, QueryDef)] =
    Seq(
      "vat_summary" -> QueryDef(
        (s: SparkSession, d: String) => Summary.lineitemVatSummary(s, d),
        Summary.lineitemVatSummarySql),
      // the exact-cents output mode: money stays DECIMAL(18,2) end to
      // end instead of surfacing as DOUBLE (golden-replay twin of the
      // Conform.Projection decimalMoney flag, here behind the oracle gate)
      "vat_summary_decimal" -> QueryDef(
        (s: SparkSession, d: String) =>
          Summary.lineitemVatSummary(s, d, decimalMoney = true),
        Summary.lineitemVatSummarySqlDecimal)) ++
      rel.RelQueries.queries ++
      rel.Distribution.queries ++
      rel.Experiments.queries ++
      rel.Windows.queries ++
      rel.Scalars.queries ++
      rel.AdvancedJoins.queries ++
      rel.SubqueryShapes.queries ++
      rel.TpchExtra.queries ++
      rel.EventAnalytics.queries ++
      rel.Etl.queries ++
      rel.Graph.queries ++
      rel.TimeSeries.queries ++
      rel.Baskets.queries ++
      rel.Quality.queries ++
      core.ZOrder.queries ++
      ext.TextOps.queries ++
      ext.Ngrams.queries ++
      ext.Dedup.queries ++
      ext.Corpus.queries ++
      ext.Pipeline.queries ++
      ext.Tokenizer.queries ++
      ext.Similarity.queries ++
      ext.Multimodal.queries ++
      ext.Search.queries ++
      ext.Sketches.queries ++
      ext.Spans.queries ++
      ext.Entities.queries ++
      ext.Geo.queries ++
      ext.Clustering.queries ++
      ext.Quantization.queries ++
      ext.Classifier.queries

  /** Declared names in declaration order — lets tests prove no module
    * accidentally shadows another's query (the Map below would keep only
    * the last duplicate, silently shrinking the correctness gate). */
  def declaredNames: Seq[String] = all.map(_._1)

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, qd) => n -> qd.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries → rows-only check. */
  def oracleSql: Map[String, String] =
    all.collect { case (n, QueryDef(_, Some(sql))) => n -> sql }.toMap
}
