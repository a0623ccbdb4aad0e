package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Large-N recall probe for the NSW serving walks (SURVEY §6.2c — the
  * round-15 verdict's "measure greedy/beam recall@10 at 10×/30×"): the
  * fixed 6-plane entry cell (`Similarity.EntryPlanes`) exists precisely
  * for corpora where the adaptive band geometry (3·b up to 30 planes)
  * would make every cell a singleton, but the committed recall pins run
  * only at small N where 3·b = 6 anyway — this probe measures the warm
  * start + walk at the scales the entry-cell design actually targets.
  *
  * Per query (deterministically sampled by md5(vec_id) so replicas and
  * rotation phases are mixed): recall@10 of [[Similarity.graphGreedySearch]]
  * and [[Similarity.graphBeamSearch]] against [[Similarity.bruteForceTopK]].
  * Prints per-query recalls plus the mean/min summary line §6.2c records.
  *
  * Usage: runMain graft.ext.KnnRecallProbe <sfDir> [nQueries] [label]
  * Session geometry is Bench's ([[graft.Harness.session]]).
  */
object KnnRecallProbe {

  /** One query's quality + serving cost. */
  final case class QueryResult(qId: Long, greedy: Int, beam: Int,
      greedyWall: Double, beamWall: Double)

  /** The probe's measurement core, shared with the committed
    * SimilaritySpec 10× pin (r16 verdict task 6: a probe-backed spec so
    * a constant change that re-collapses beam recall fails a TEST, not
    * a future judge). Builds/loads the standing graph, samples nQ
    * queries by md5(vec_id), and returns per-query recall@10 for both
    * serving arms plus per-call wall — recall without wall would hide
    * an entry probe that re-grew into a corpus scan. */
  def measure(spark: SparkSession, dir: String, nQ: Int,
      verbose: Boolean = true): Seq[QueryResult] = {
    val emb = graft.core.Tables.embeddings(spark, dir)
    // standing graph built once (memoized); the probe times only the
    // serving calls — it measures ANSWER QUALITY plus the per-call
    // cost, the two §6.2c columns sweep walls can't give
    Similarity.ensureKnnGraph(spark, dir)
    val qIds = emb.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nQ).collect().map(_.getLong(0)).sorted
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    qIds.toSeq.map { q =>
      val exact = Similarity.bruteForceTopK(spark, dir, q, 10)
        .collect().map(_.getLong(0)).toSet
      val (gRows, gWall) = timed(
        Similarity.graphGreedySearch(spark, dir, q, 10).collect())
      val greedy = gRows.map(_.getLong(1)).count(exact.contains)
      val (bRows, bWall) = timed(
        Similarity.graphBeamSearch(spark, dir, q, 10).collect())
      val beam = bRows.map(_.getLong(1)).count(exact.contains)
      if (verbose)
        println(f"query $q%9d: greedy=$greedy%2d/10 (${gWall}%.2f s) " +
          f"beam=$beam%2d/10 (${bWall}%.2f s)")
      QueryResult(q, greedy, beam, gWall, bWall)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: KnnRecallProbe <sfDir> [nQueries] [label]")
    val dir = args(0)
    val nQ = if (args.length > 1) args(1).toInt else 20
    val label = if (args.length > 2) args(2) else dir
    val spark = graft.Harness.session()
    val n = graft.core.Tables.embeddings(spark, dir).count()
    val bits = Similarity.knnBandBits(n)
    val results = measure(spark, dir, nQ)
    val (gs, bs) = (results.map(_.greedy), results.map(_.beam))
    val (gw, bw) = (results.map(_.greedyWall), results.map(_.beamWall))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    println(f"knn_recall $label: n=$n b=$bits (entry planes " +
      f"${Similarity.EntryPlanes}) queries=$nQ " +
      f"greedy mean=${gs.sum / 10.0 / nQ}%.3f min=${gs.min}/10 " +
      f"beam mean=${bs.sum / 10.0 / nQ}%.3f min=${bs.min}/10 " +
      f"serve_wall greedy med=${median(gw)}%.2f s " +
      f"beam med=${median(bw)}%.2f s")
    spark.stop()
  }
}
