package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Exercises tools/adjudicate_bench.py — the uniform-load bench
  * adjudication the r13 builder ran BY HAND (a 335.9 s run with
  * internally-consistent floors read "clean" to every floor-based
  * judgment; only comparing common-query walls against the committed
  * 289.3 s map exposed the median 1.19 ratio). The planted fixtures
  * replay exactly that shape: a baseline map, a uniformly-1.19×
  * candidate (must refuse), a parity candidate (must accept), a
  * contaminated-flag candidate (must refuse outright), a plan-change
  * candidate whose slow queries have DIFFERENT shuffle bytes (must
  * accept — wall deltas on changed plans are code, not load), and a
  * wobble-class candidate whose slow queries are all non-steady (must
  * accept — decode/iterative walls are environment-bistable and
  * exempt). */
class AdjudicateBenchSpec extends AnyFunSuite {

  private def write(dir: Path, name: String, body: String): Path = {
    val p = dir.resolve(name)
    Files.write(p, body.getBytes("UTF-8"))
    p
  }

  private def run(candidate: Path, baseline: Path, minN: Int = 3,
      extra: Seq[String] = Seq.empty): Int = run2(candidate, baseline,
    minN, extra)._1

  private def run2(candidate: Path, baseline: Path, minN: Int,
      extra: Seq[String]): (Int, String) = {
    // default the drift artifact next to the candidate fixture — a bare
    // run would otherwise drop DRIFT_VERDICT.json into the repo root
    val drift =
      if (extra.contains("--drift-out")) Seq.empty
      else Seq("--drift-out",
        candidate.resolveSibling("DRIFT_VERDICT.json").toString)
    val pb = new ProcessBuilder(
      (Seq("python3", "tools/adjudicate_bench.py", candidate.toString,
        "--baseline", baseline.toString, "--min-n", minN.toString) ++
        extra ++ drift): _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    info(out.trim)
    (rc, out)
  }

  private def mapJson(walls: Map[String, Double],
      shuffle: Map[String, Double], contaminated: Boolean,
      wallClass: Map[String, String] = Map.empty,
      floorSec: Option[Double] = None,
      spillMb: Option[Double] = None): String = {
    def obj[T](m: Map[String, T], fmt: T => String): String =
      m.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val wc =
      if (wallClass.isEmpty) ""
      else s""""wall_class":${obj[String](wallClass, v => s""""$v"""")},"""
    val fl = floorSec.map(f => s""""floor_sec":$f,""").getOrElse("")
    val sp = spillMb.map(s => s""""spill_mb_total":$s,""").getOrElse("")
    s"""{"queries":${obj[Double](walls, _.toString)},
       |"shuffle_write_mb":${obj[Double](shuffle, _.toString)},$wc$fl$sp
       |"contaminated":$contaminated,
       |"total":${walls.values.sum}}""".stripMargin.replace("\n", "")
  }

  private val baseWalls =
    Map("a" -> 1.0, "b" -> 2.0, "c" -> 0.8, "d" -> 1.5, "e" -> 3.0)
  private val baseShuffle =
    Map("a" -> 10.0, "b" -> 5.0, "c" -> 0.5, "d" -> 20.0, "e" -> 8.0)

  private def fixture(dir: Path): Path =
    write(dir, "baseline.json", mapJson(baseWalls, baseShuffle, false))

  test("uniformly-1.19x candidate is refused (the r13 hand-caught shape)") {
    val dir = Files.createTempDirectory("adjbench")
    val base = fixture(dir)
    val cand = write(dir, "cand.json",
      mapJson(baseWalls.view.mapValues(_ * 1.19).toMap, baseShuffle, false))
    assert(run(cand, base) !== 0)
  }

  test("parity candidate is accepted") {
    val dir = Files.createTempDirectory("adjbench")
    val base = fixture(dir)
    val cand = write(dir, "cand.json",
      mapJson(baseWalls.view.mapValues(_ * 1.02).toMap, baseShuffle, false))
    assert(run(cand, base) === 0)
  }

  test("candidate self-reporting contaminated=true is refused outright") {
    val dir = Files.createTempDirectory("adjbench")
    val base = fixture(dir)
    val cand = write(dir, "cand.json",
      mapJson(baseWalls, baseShuffle, contaminated = true))
    assert(run(cand, base) !== 0)
  }

  test("slow-but-plan-changed queries (different shuffle bytes) are " +
      "exempt: wall deltas on changed plans are code, not load") {
    val dir = Files.createTempDirectory("adjbench")
    val base = fixture(dir)
    // a,b,e got slower AND their shuffle changed (new plan); c,d steady
    val cand = write(dir, "cand.json", mapJson(
      Map("a" -> 2.0, "b" -> 4.0, "c" -> 0.82, "d" -> 1.51, "e" -> 6.0),
      Map("a" -> 25.0, "b" -> 12.0, "c" -> 0.5, "d" -> 20.0, "e" -> 30.0),
      contaminated = false))
    assert(run(cand, base, minN = 2) === 0)
  }

  test("non-steady wall classes are exempt from the load median") {
    val dir = Files.createTempDirectory("adjbench")
    val base = fixture(dir)
    // a,b,e bistable-class and slow; steady c,d at parity
    val cand = write(dir, "cand.json", mapJson(
      Map("a" -> 2.0, "b" -> 4.0, "c" -> 0.82, "d" -> 1.51, "e" -> 6.0),
      baseShuffle, contaminated = false,
      wallClass = Map("a" -> "decode", "b" -> "iterative", "c" -> "steady",
        "d" -> "steady", "e" -> "serving")))
    assert(run(cand, base, minN = 2) === 0)
  }

  test("too-small comparison set accepts with a warning rather than " +
      "judging load from noise") {
    val dir = Files.createTempDirectory("adjbench")
    val base = fixture(dir)
    val cand = write(dir, "cand.json",
      mapJson(baseWalls.view.mapValues(_ * 1.19).toMap, baseShuffle, false))
    assert(run(cand, base, minN = 50) === 0)
  }

  test("a shuffle change is a plan change for every query, graph_scc " +
      "included: its wall leaves the load judgment") {
    val dir = Files.createTempDirectory("adjbench")
    // graph_scc's one-task Tarjan shuffles the same bytes every run; a
    // different shuffle is a different plan, so a 1.30x wall on the ONLY
    // query leaves no comparison set and accepts with a warning
    val base = write(dir, "baseline.json", mapJson(
      Map("graph_scc" -> 6.0), Map("graph_scc" -> 8.58), false))
    val cand = write(dir, "cand.json", mapJson(
      Map("graph_scc" -> 7.8), Map("graph_scc" -> 10.26), false))
    assert(run(cand, base, minN = 1) === 0)
    // with the same bytes the 1.30x wall is judged, and refused
    val cand2 = write(dir, "cand2.json", mapJson(
      Map("graph_scc" -> 7.8), Map("graph_scc" -> 8.58), false))
    assert(run(cand2, base, minN = 1) !== 0)
  }

  test("uniform-drift verdict: floor-corroborated drift reads " +
      "uniform_drift, uncorroborated reads unexplained_drift, parity " +
      "reads clean, past-threshold reads uniformly_loaded — the r15 " +
      "close's hand adjudication as a typed tool output") {
    val dir = Files.createTempDirectory("adjbench")
    val base = write(dir, "baseline.json", mapJson(baseWalls, baseShuffle,
      contaminated = false, floorSec = Some(0.100), spillMb = Some(0.0)))
    // every invocation routes the artifact into the temp dir — a bare
    // run would drop DRIFT_VERDICT.json into the repo root
    def runD(cand: Path, tag: String): Int =
      run(cand, base, extra = Seq("--drift-out",
        dir.resolve(s"drift_$tag.json").toString))
    def verdictOf(cand: Path, tag: String): String = {
      runD(cand, tag)
      new String(Files.readAllBytes(dir.resolve(s"drift_$tag.json")),
        "UTF-8")
    }
    // 1.08x walls, floor 0.110 (moved the full drift), zero spill:
    // exactly the r15 machine-slowdown signature
    val drift = write(dir, "drift.json", mapJson(
      baseWalls.view.mapValues(_ * 1.08).toMap, baseShuffle, false,
      floorSec = Some(0.110), spillMb = Some(0.0)))
    assert(runD(drift, "a0") === 0)
    assert(verdictOf(drift, "a").contains("\"verdict\": \"uniform_drift\""))
    // same walls but the floor did NOT move: something slowed the
    // queries that is not machine-wide — flagged for a manual look
    val odd = write(dir, "odd.json", mapJson(
      baseWalls.view.mapValues(_ * 1.08).toMap, baseShuffle, false,
      floorSec = Some(0.100), spillMb = Some(0.0)))
    assert(runD(odd, "b0") === 0)
    assert(verdictOf(odd, "b").contains("\"verdict\": \"unexplained_drift\""))
    // spill growth is a code signature, never ambient load: the same
    // floor-corroborated drift with new spill must NOT read uniform
    val spilly = write(dir, "spilly.json", mapJson(
      baseWalls.view.mapValues(_ * 1.08).toMap, baseShuffle, false,
      floorSec = Some(0.110), spillMb = Some(500.0)))
    assert(verdictOf(spilly, "c").contains(
      "\"verdict\": \"unexplained_drift\""))
    // parity is clean; past the refuse threshold is uniformly_loaded
    val par = write(dir, "par.json", mapJson(
      baseWalls.view.mapValues(_ * 1.01).toMap, baseShuffle, false,
      floorSec = Some(0.101), spillMb = Some(0.0)))
    assert(verdictOf(par, "d").contains("\"verdict\": \"clean\""))
    val loaded = write(dir, "loaded.json", mapJson(
      baseWalls.view.mapValues(_ * 1.19).toMap, baseShuffle, false,
      floorSec = Some(0.119), spillMb = Some(0.0)))
    assert(runD(loaded, "e0") !== 0)
    assert(verdictOf(loaded, "e").contains(
      "\"verdict\": \"uniformly_loaded\""))
  }

  test("--probe auto-runs ScopedProbe on flagged unchanged-plan wall " +
      "increases and writes the cold/steady/GC verdict artifact") {
    val dir = Files.createTempDirectory("adjbench")
    // b's wall went 2.0 -> 3.0 (1.5x) with identical shuffle: flagged.
    // Others at parity so the load median accepts the run.
    val base = fixture(dir)
    val cand = write(dir, "cand.json", mapJson(
      baseWalls + ("b" -> 3.0), baseShuffle, false))
    // fake probe: a canned tiered-JIT warm-up curve whose steady state
    // (1.9 s) sits below the baseline wall -> environment_or_jit
    val probeOut = dir.resolve("probe.json")
    val fake = "printf 'run  1:  23.000 s  gc= 1200 ms\\n" +
      "run  2:   4.000 s  gc=  300 ms\\nrun  3:   1.900 s  gc=   50 ms\\n" +
      "run  4:   1.950 s  gc=   40 ms\\n'"
    val (rc, out) = run2(cand, base, minN = 3, extra = Seq(
      "--probe", "--probe-cmd", fake,
      "--probe-out", probeOut.toString))
    assert(rc === 0, out)
    val art = new String(Files.readAllBytes(probeOut), "UTF-8")
    assert(art.contains("\"query\": \"b\""), art)
    assert(art.contains("\"cold\": 23.0"), art)
    assert(art.contains("\"steady\": 1.9"), art)
    assert(art.contains("\"gc_max_ms\": 1200"), art)
    assert(art.contains("\"verdict\": \"environment_or_jit\""), art)
    // a curve whose steady state stays at the slow wall -> regression
    val fakeSlow = "printf 'run  1:   3.100 s  gc=  100 ms\\n" +
      "run  2:   3.000 s  gc=   50 ms\\nrun  3:   2.980 s  gc=   40 ms\\n'"
    val probeOut2 = dir.resolve("probe2.json")
    val (rc2, out2) = run2(cand, base, minN = 3, extra = Seq(
      "--probe", "--probe-cmd", fakeSlow,
      "--probe-out", probeOut2.toString))
    assert(rc2 === 0, out2)
    val art2 = new String(Files.readAllBytes(probeOut2), "UTF-8")
    assert(art2.contains("\"verdict\": \"code_regression\""), art2)
  }

  test("probe verdict judges WORK against work when floors are known: " +
      "a floor drift that pushes a flat wall past 10% is environment, " +
      "not code (the r16 entity_matches false positive)") {
    val dir = Files.createTempDirectory("adjbench")
    // the r16 shape, numerically: baseline wall 0.419 at floor 0.115;
    // sweep wall 0.608 (1.45x, flagged); probe steady 0.471 at probe
    // floor 0.149 — raw rule reads 0.471 > 0.419*1.10 = regression,
    // but work 0.322 vs 0.304*1.10 = 0.334 is parity.
    val base = write(dir, "baseline.json", mapJson(
      baseWalls + ("em" -> 0.419), baseShuffle + ("em" -> 3.0),
      contaminated = false, floorSec = Some(0.115)))
    val cand = write(dir, "cand.json", mapJson(
      baseWalls + ("em" -> 0.608), baseShuffle + ("em" -> 3.0),
      contaminated = false, floorSec = Some(0.149)))
    val fake = "printf 'run  1:   1.843 s  gc=   39 ms\\n" +
      "run  2:   0.482 s  gc=    0 ms\\nrun  3:   0.472 s  gc=    0 ms\\n" +
      "run  4:   0.471 s  gc=    0 ms\\nprobe floor: 0.149 s\\n'"
    val probeOut = dir.resolve("probe.json")
    val (rc, out) = run2(cand, base, minN = 3, extra = Seq(
      "--probe", "--probe-cmd", fake, "--probe-out", probeOut.toString))
    assert(rc === 0, out)
    val art = new String(Files.readAllBytes(probeOut), "UTF-8")
    assert(art.contains("\"probe_floor\": 0.149"), art)
    assert(art.contains("\"steady_work\": 0.322"), art)
    assert(art.contains("\"verdict\": \"environment_or_jit\""), art)
    // a REAL regression does not hide behind the floor: steady 0.60 at
    // the same probe floor is work 0.451 > 0.334 -> code_regression
    val fakeSlow = "printf 'run  1:   1.843 s  gc=   39 ms\\n" +
      "run  2:   0.610 s  gc=    0 ms\\nrun  3:   0.605 s  gc=    0 ms\\n" +
      "run  4:   0.600 s  gc=    0 ms\\nprobe floor: 0.149 s\\n'"
    val probeOut2 = dir.resolve("probe2.json")
    val (rc2, out2) = run2(cand, base, minN = 3, extra = Seq(
      "--probe", "--probe-cmd", fakeSlow, "--probe-out", probeOut2.toString))
    assert(rc2 === 0, out2)
    val art2 = new String(Files.readAllBytes(probeOut2), "UTF-8")
    assert(art2.contains("\"verdict\": \"code_regression\""), art2)
    // slow in BOTH windows: the automatic retry is not a pardon
    assert(art2.contains("\"retried\": true"), art2)
  }

  test("a code_regression verdict earns one retry in a fresh window: " +
      "an ambient-inflated first curve is replaced by the quieter " +
      "second (min-statistic), and the swap is recorded") {
    val dir = Files.createTempDirectory("adjbench")
    val base = write(dir, "baseline.json", mapJson(
      baseWalls + ("em" -> 0.419), baseShuffle + ("em" -> 3.0),
      contaminated = false, floorSec = Some(0.115)))
    val cand = write(dir, "cand.json", mapJson(
      baseWalls + ("em" -> 0.608), baseShuffle + ("em" -> 3.0),
      contaminated = false, floorSec = Some(0.149)))
    // stateful fake: the first window reads slow (work 0.451 ->
    // regression), the second — after the marker lands — reads the
    // quiet curve (work 0.322 -> environment)
    val marker = dir.resolve("window2.marker")
    val slow = "run  1:   1.843 s  gc=  781 ms\\n" +
      "run  2:   0.610 s  gc=    0 ms\\nrun  3:   0.605 s  gc=    0 ms\\n" +
      "run  4:   0.600 s  gc=    0 ms\\nprobe floor: 0.149 s\\n"
    val fast = "run  1:   0.900 s  gc=    0 ms\\n" +
      "run  2:   0.482 s  gc=    0 ms\\nrun  3:   0.472 s  gc=    0 ms\\n" +
      "run  4:   0.471 s  gc=    0 ms\\nprobe floor: 0.149 s\\n"
    val fake = s"if [ -f $marker ]; then printf '$fast'; " +
      s"else touch $marker; printf '$slow'; fi"
    val probeOut = dir.resolve("probe.json")
    val (rc, out) = run2(cand, base, minN = 3, extra = Seq(
      "--probe", "--probe-cmd", fake, "--probe-out", probeOut.toString))
    assert(rc === 0, out)
    val art = new String(Files.readAllBytes(probeOut), "UTF-8")
    assert(art.contains("\"verdict\": \"environment_or_jit\""), art)
    assert(art.contains("\"retried\": true"), art)
    assert(art.contains("\"first_attempt_steady\": 0.6"), art)
  }
}
