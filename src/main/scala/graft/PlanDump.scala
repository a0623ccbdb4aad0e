package graft

import java.nio.file.{Files, Paths}


/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence trail (plans/r{N}/<query>_{before,after}.txt).
  * The judge cannot run Spark; these files are how plan claims
  * ("2 Exchange → 1", "SortMergeJoin → BroadcastHashJoin") are checked
  * against the code.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query1,query2,...>
  * e.g.   runMain graft.PlanDump plans/r17 before graph_scc,assoc_rules
  *
  * Session geometry is Bench's ([[Harness.session]]) so the dumped plans
  * are the ones the bench actually executes; standing state is warmed
  * first so memoized scans plan against the built tables, not the
  * cold-build path. Dumps are normalized (see [[normalize]]), so a
  * before/after pair of an unchanged plan is byte-identical.
  */
object PlanDump {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <query1,query2,...> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Harness.session()
    Bench.warmStandingState(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name' — see SparkEntry.declaredNames"))
      // Bench clears the cache after every timed query, so a query never
      // plans against a relation an earlier one persisted
      spark.catalog.clearCache()
      val df = fn(spark, sfDir)
      // queryExecution.explainString is exactly what explain("formatted")
      // prints, captured instead of written to stdout
      val txt = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"dumped $name -> $outDir/${name}_$suffix.txt " +
        s"(${txt.linesIterator.count(_.contains("Exchange"))} Exchange lines)")
    }
    spark.stop()
  }

  /** The dump with every session-history value replaced by a stable
    * placeholder — expression ids (`src#2032L`), lambda variable ids
    * (`lambda x_38`), exchange plan ids, RDD ids and source call sites —
    * so two dumps of the same plan are byte-equal even when code moved
    * or a different set of queries ran first in the session. */
  private[graft] def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#N")
      .replaceAll("(lambda [A-Za-z]+_)\\d+\\b", "$1N")
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=N]")
      .replaceAll("(\\w*RDD)\\[\\d+\\]", "$1[N]")
      .replaceAll(" at [\\w$]+\\.scala:\\d+", " at <callsite>")
}
