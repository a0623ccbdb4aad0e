package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, md5}

import graft.core.SparkEvents
import graft.ext.Similarity

/** The adjudication probes, one main: `runMain graft.Probe <mode> …`
  * (`usage` lists the modes). Every mode runs under Bench's session
  * geometry ([[Harness.session]]), reads the corpus dir as its last
  * positional argument (default [[Harness.defaultSfDir]]) and takes a
  * final `stages`, which prints a line per completed stage under each
  * run, build or query: task-time sum vs wall exposes serialization
  * (taskSum ≈ wall on a 32-core session ran single-threaded), the SURVEY
  * §6.2c stage-probe discipline. */
object Probe {

  sealed trait Mode
  final case class Walls(query: String, n: Int) extends Mode
  final case class Plans(outDir: String, suffix: String, names: Seq[String])
      extends Mode
  case object Rehearse extends Mode
  case object KnnBuild extends Mode
  final case class KnnRecall(nQueries: Int) extends Mode

  final case class Invocation(mode: Mode, sfDir: String, stages: Boolean)

  private val usage = "usage: Probe walls <query> [n] [sfDir] | " +
    "plans <outDir> <suffix> <q1,q2,...> [sfDir] | rehearse [sfDir] | " +
    "knn-build [sfDir] | knn-recall [nQueries] [sfDir], each optionally " +
    "followed by `stages`"

  private[graft] def parse(args: Seq[String]): Invocation = {
    val stages = args.lastOption.contains("stages")
    val a = (if (stages) args.init else args).toIndexedSeq
    def opt(i: Int): Option[String] = a.lift(i)
    // the mode, and the position of its corpus dir: always the last
    val (mode, sfAt) = a.headOption match {
      case Some("walls") if a.length >= 2 =>
        (Walls(a(1), opt(2).fold(8)(_.toInt)), 3)
      case Some("plans") if a.length >= 4 =>
        (Plans(a(1), a(2), a(3).split(",").map(_.trim).filter(_.nonEmpty)
          .toSeq), 4)
      case Some("rehearse") => (Rehearse, 1)
      case Some("knn-build") => (KnnBuild, 1)
      case Some("knn-recall") => (KnnRecall(opt(1).fold(20)(_.toInt)), 2)
      case _ => throw new IllegalArgumentException(usage)
    }
    require(a.length <= sfAt + 1, usage)
    Invocation(mode, opt(sfAt).getOrElse(Harness.defaultSfDir), stages)
  }

  def main(args: Array[String]): Unit = {
    val inv = parse(args.toSeq)
    val spark = Harness.session()
    try run(spark, inv) finally spark.stop()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** What [[main]] runs, on a session it does not stop. */
  private[graft] def run(spark: SparkSession, inv: Invocation): Unit = {
    val r = new Run(spark, inv.sfDir, inv.stages)
    inv.mode match {
      case Walls(query, n) => r.walls(query, n)
      case Plans(outDir, suffix, names) => r.plans(outDir, suffix, names)
      case Rehearse => r.rehearse()
      case KnnBuild => r.knnBuild()
      case KnnRecall(nQ) => r.knnRecall(nQ)
    }
  }

  private def declared(name: String) = SparkEntry.queries.getOrElse(name,
    sys.error(s"unknown query '$name' — see SparkEntry.declaredNames"))

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The dump with every session-history value — expression, lambda
    * variable, plan and RDD ids, call sites, lambda object names
    * (`Graph$$$Lambda$7341/0x…@2b7f3f8c`), the warehouse dir — masked,
    * so two dumps of one plan are byte-equal across sessions, code
    * moves and checkouts. */
  private[graft] def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#N")
      .replaceAll("(lambda [A-Za-z]+_)\\d+\\b", "$1N")
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=N]")
      .replaceAll("(\\w*RDD)\\[\\d+\\]", "$1[N]")
      .replaceAll(" at [\\w$]+\\.scala:\\d+", " at <callsite>")
      .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x[0-9a-f]+@[0-9a-f]+",
        "\\$\\$Lambda")
      .replaceAll("file:[^\\s,\\]]*/spark-warehouse/", "file:<warehouse>/")

  /** Bytes of this corpus's standing state: every memo dir under
    * `ParquetMemo.memoRoot` whose name carries the corpus dir (in the
    * store's own spelling), plus the warehouse. */
  private[graft] def stateBytes(sfDir: String, warehouse: String): Long = {
    val mangled = core.ParquetMemo.sanitize(sfDir)
    def sizeOf(root: java.io.File): Long =
      if (!root.exists()) 0L
      else if (root.isFile) root.length()
      else {
        val kids = root.listFiles()
        if (kids == null) 0L else kids.map(sizeOf).sum
      }
    val memos = Option(new java.io.File(core.ParquetMemo.memoRoot).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(mangled))
    memos.map(sizeOf).sum + sizeOf(new java.io.File(warehouse))
  }

  /** One query's recall@10 and serving wall per walk. */
  final case class Recall(greedy: Int, beam: Int, greedyWall: Double,
      beamWall: Double)

  /** Greedy and beam walk recall@10 against brute force, with per-call
    * wall (recall alone would hide an entry probe grown into a scan), for
    * nQ queries sampled by md5(vec_id). Shared with SimilaritySpec's 10×
    * pin, so a change that re-collapses beam recall fails a test. */
  private[graft] def measureRecall(spark: SparkSession, dir: String, nQ: Int,
      verbose: Boolean = true): Seq[Recall] = {
    Similarity.ensureKnnGraph(spark, dir)
    val qIds = core.Tables.embeddings(spark, dir).select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nQ).collect().map(_.getLong(0)).sorted
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
      Recall(greedy, beam, gWall, bWall)
    }
  }

  /** The modes, on one session and corpus dir. */
  private final class Run(spark: SparkSession, sfDir: String,
      stages: Boolean) {

    /** One unit of a mode's work and its seconds; with `stages` on, each
      * stage the unit completed is printed after it. */
    private def step[T](body: => T): (T, Double) =
      if (!stages) timed(body)
      else {
        val (out, seen) = SparkEvents.during(spark.sparkContext)(timed(body))
        seen.stages.foreach { s =>
          println(f"stage ${s.stageId}%3d tasks=${s.tasks}%3d " +
            f"wall=${s.wallS}%7.2f s taskSum=${s.taskS}%8.2f s " +
            f"shufW=${s.shuffleWriteBytes / 1e6}%8.1f MB " +
            f"shufR=${s.shuffleReadBytes / 1e6}%8.1f MB " +
            f"spill=${s.spillBytes / 1e6}%6.1f MB" +
            (if (s.attempt > 0) s" attempt=${s.attempt}" else "") +
            s"  ${s.name.take(60)}")
        }
        out
      }

    /** ONE query n times back-to-back in one JVM, each wall with its GC
      * time: a code regression shifts the whole warm-up curve, a
      * sweep-sampling artifact leaves steady state unchanged. Warm-up and
      * the timed `.count()` are Bench's, so `tools/adjudicate_bench.py
      * --probe` can set these walls against sweep medians. */
    def walls(query: String, n: Int): Unit = {
      val fn = declared(query)
      Bench.warmStandingState(spark, sfDir)
      val ws = (1 to n).map { i =>
        val (gc, dt) = step {
          val g0 = gcMs
          fn(spark, sfDir).count()
          gcMs - g0
        }
        println(f"run $i%2d: $dt%7.3f s  gc=$gc%5d ms")
        dt
      }
      // the probe's own floor, from the same JVM: walls are floor + work,
      // and the floor drifts with machine load between rounds, so
      // adjudicate_bench judges work against work
      val floor = Bench.floorMedian(spark, sfDir, 5)(_ => ())
      println(f"probe floor: $floor%.3f s (median of 5)")
      println(f"$query: cold=${ws.head}%.3f s, steady(min of last 3)=" +
        f"${ws.takeRight(3).min}%.3f s over $n runs")
    }

    /** `.explain("formatted")` of each query, [[normalize]]d, to
      * `<outDir>/<query>_<suffix>.txt`: the evidence behind plan claims
      * and behind refactors that must not move plans. Standing state is
      * warmed first so memoized scans plan against the built tables. */
    def plans(outDir: String, suffix: String, names: Seq[String]): Unit = {
      val fns = names.map(name => name -> declared(name))
      Bench.warmStandingState(spark, sfDir)
      Files.createDirectories(Paths.get(outDir))
      fns.foreach { case (name, fn) =>
        // Bench clears the cache after every timed query, so a query
        // never plans against a relation an earlier one persisted
        spark.catalog.clearCache()
        val (txt, _) = step(normalize(fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)))
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"dumped $name -> $outDir/${name}_$suffix.txt " +
          s"(${txt.linesIterator.count(_.contains("Exchange"))} Exchange lines)")
      }
    }

    /** Every standing build ([[Bench.standingBuilds]]) timed, with its
      * on-disk growth: the day-one cost of a snapshot. Memos are
      * content-keyed, so only a FRESH corpus dir measures cold builds. */
    def rehearse(): Unit = {
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      var disk0 = stateBytes(sfDir, warehouse)
      val (_, total) = timed(Bench.standingBuilds(spark, sfDir).foreach {
        case (name, build) =>
          val (ok, wall) = step {
            try { build(); true }
            catch { case e: Throwable =>
              println(s"rehearsal $name FAILED: ${e.getMessage}"); false }
          }
          val disk1 = stateBytes(sfDir, warehouse)
          println(f"rehearsal $name%-24s wall=$wall%8.1f s  " +
            f"disk+=${(disk1 - disk0) / 1e6}%9.1f MB  ok=$ok")
          disk0 = disk1
      })
      println(f"rehearsal TOTAL wall=$total%.1f s  " +
        f"standing state=${disk0 / 1e6}%.1f MB  sf=$sfDir")
    }

    /** A COLD [[Similarity.ensureKnnGraph]] under a fresh memo root, then
      * its band geometry, which the adaptive width (`knnBandBits`, target
      * 250) predicts at candidates ≈ 3·N·250, mean occupancy ≤ 250. */
    def knnBuild(): Unit = {
      val root = Files.createTempDirectory("knn_build_probe_").toFile
      val priorRoot = sys.props.get("graft.memo.root") // restore it after
      sys.props("graft.memo.root") = root.toString
      try {
        val (graph, wall) = step(Similarity.ensureKnnGraph(spark, sfDir))
        val edges = spark.read.parquet(graph).count()
        val (n, bits, cand, meanOcc, maxOcc) =
          Similarity.knnBuildGeometry(spark, sfDir)
        println(f"knn_build $sfDir: n=$n b=$bits build_wall=$wall%.2f s " +
          f"candidates=$cand (3N·250=${3L * n * 250}) " +
          f"mean_occ=$meanOcc%.1f max_occ=$maxOcc edges=$edges")
      } finally {
        priorRoot match {
          case Some(v) => sys.props("graft.memo.root") = v
          case None => sys.props.remove("graft.memo.root")
        }
        core.ParquetMemo.deleteRecursively(root)
      }
    }

    /** [[measureRecall]] at the scales the fixed 6-plane entry cell
      * targets, with the mean/min summary line SURVEY §6.2c records. */
    def knnRecall(nQ: Int): Unit = {
      val n = core.Tables.embeddings(spark, sfDir).count()
      val (results, _) = step(measureRecall(spark, sfDir, nQ))
      val (gs, bs) = (results.map(_.greedy), results.map(_.beam))
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      println(f"knn_recall $sfDir: n=$n b=${Similarity.knnBandBits(n)} " +
        f"(entry planes ${Similarity.EntryPlanes}) queries=$nQ " +
        f"greedy mean=${gs.sum / 10.0 / nQ}%.3f min=${gs.min}/10 " +
        f"beam mean=${bs.sum / 10.0 / nQ}%.3f min=${bs.min}/10 " +
        f"serve_wall greedy med=${median(results.map(_.greedyWall))}%.2f " +
        f"s beam med=${median(results.map(_.beamWall))}%.2f s")
    }
  }
}
