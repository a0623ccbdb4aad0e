package graft.ext


/** Cold-build wall probe for the banded kNN-graph index (SURVEY §6.2c —
  * the round-14 verdict's "measure the post-fix `ensureKnnGraph` build
  * at 30×"): plants a FRESH memo root so [[Similarity.ensureKnnGraph]]
  * actually builds (the standing-index memo would otherwise serve a
  * cached graph), times the build, then reports the band geometry the
  * build ran under — corpus size N, adaptive band width b, candidate
  * ordered-pair volume Σc·(c−1) over band buckets, and mean/max bucket
  * occupancy. The adaptive-width contract (`knnBandBits`, target 250)
  * predicts candidates ≈ 3·N·250 and mean occupancy ≤ 250; the r13
  * FIXED geometry at 30× measured ~2.7e9 candidates here.
  *
  * Usage: runMain graft.ext.KnnBuildProbe <sfDir> [label]
  * Session geometry is Bench's ([[graft.Harness.session]]).
  */
object KnnBuildProbe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: KnnBuildProbe <sfDir> [label]")
    val dir = args(0)
    val label = if (args.length > 1) args(1) else dir
    val spark = graft.Harness.session()
    if (args.length > 2 && args(2) == "stages")
      spark.sparkContext.addSparkListener(new graft.StageProbe)
    if (args.length > 2 && args(2) == "explain") {
      val n = graft.core.Tables.embeddings(spark, dir).count()
      Similarity.knnGraphBuildPlan(spark, dir, 8,
        Similarity.knnBandBits(n)).explain("formatted")
      spark.stop(); return
    }
    // fresh memo root: the probe must time a COLD index build
    val root = java.nio.file.Files
      .createTempDirectory("knn_build_probe_").toString
    val priorRoot = sys.props.get("graft.memo.root") // restore, don't clobber
    sys.props("graft.memo.root") = root
    try {
      val t0 = System.nanoTime()
      Similarity.ensureKnnGraph(spark, dir)
      val wall = (System.nanoTime() - t0) / 1e9
      val edges = spark.read.parquet(
        Similarity.ensureKnnGraph(spark, dir)).count()
      val (n, bits, cand, meanOcc, maxOcc) =
        Similarity.knnBuildGeometry(spark, dir)
      println(f"knn_build $label: n=$n b=$bits build_wall=$wall%.2f s " +
        f"candidates=$cand (3N·250=${3L * n * 250}) " +
        f"mean_occ=$meanOcc%.1f max_occ=$maxOcc edges=$edges")
    } finally {
      priorRoot match {
        case Some(v) => sys.props("graft.memo.root") = v
        case None => sys.props.remove("graft.memo.root")
      }
      spark.stop()
      // remove the cold-build parquet litter the probe created
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      // Files.walk holds a directory handle until closed
      val walk = java.nio.file.Files.walk(p)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
