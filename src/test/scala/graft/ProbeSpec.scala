package graft

/** `graft.Probe`'s argument grammar, and the `walls` lines that
  * `tools/adjudicate_bench.py --probe` parses. The spec calls what
  * `main` calls (`parse`, then `run`), never `main`, which stops the
  * session. */
class ProbeSpec extends SparkSuite {

  import Probe._

  test("parse: each mode's arguments, the corpus dir last, one stages flag") {
    val d = Harness.defaultSfDir
    Seq(
      Seq("walls", "q1") -> Invocation(Walls("q1", 8), d, false),
      Seq("walls", "q1", "3", "/c", "stages") ->
        Invocation(Walls("q1", 3), "/c", true),
      Seq("plans", "out", "x", "a, b,", "/c") ->
        Invocation(Plans("out", "x", Seq("a", "b")), "/c", false),
      Seq("rehearse") -> Invocation(Rehearse, d, false),
      Seq("knn-build", "/c", "stages") -> Invocation(KnnBuild, "/c", true),
      Seq("knn-recall") -> Invocation(KnnRecall(20), d, false),
      Seq("knn-recall", "5", "/c") -> Invocation(KnnRecall(5), "/c", false)
    ).foreach { case (args, want) => assert(parse(args) === want, args) }
  }

  test("parse: a missing, unknown or extra argument is refused") {
    Seq(Seq(), Seq("stages"), Seq("walls"), Seq("plans", "out", "x"),
      Seq("scoped", "q1"), Seq("walls", "q1", "3", "/c", "label"),
      Seq("knn-build", "/c", "label"), Seq("knn-build", "/c", "explain"),
      Seq("knn-recall", "/c")).foreach { args =>
      intercept[IllegalArgumentException](parse(args))
    }
  }

  test("walls prints run and floor lines adjudicate_bench.py parses") {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf) {
      Probe.run(spark, parse(Seq("walls", "q1_pricing_summary", "2", sfDir)))
    }
    // the tool's own PROBE_RUN_RE and PROBE_FLOOR_RE, not a copy
    val proc = new ProcessBuilder("python3", "-c", "import sys; " +
      "sys.path.insert(0, 'tools'); import adjudicate_bench as a; " +
      "t = sys.stdin.read(); print(len(a.PROBE_RUN_RE.findall(t)), " +
      "a.PROBE_FLOOR_RE.search(t) is not None)")
      .redirectErrorStream(true).start()
    proc.getOutputStream.write(buf.toByteArray)
    proc.getOutputStream.close()
    val parsed = new String(proc.getInputStream.readAllBytes(), "UTF-8").trim
    assert(proc.waitFor() === 0, parsed)
    assert(parsed === "2 True", buf.toString("UTF-8"))
  }
}
