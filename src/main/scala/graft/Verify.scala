package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // optional subset for local iteration (mirrors Bench):
    // SPARK_GRAFT_ONLY=q1,q2
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val picked = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None        => SparkEntry.queries
    }
    val failed = writeResults(spark, sfDir, outDir, picked.toSeq)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(only))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `<outDir>/<name>`; returns the names
    * of those that threw. A query's earlier output is deleted first: a
    * query that throws while it is built never starts its write, and an
    * earlier run's bytes would otherwise pass the oracle. */
  private[graft] def writeResults(spark: SparkSession, sfDir: String,
      outDir: String, queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[String] =
    queries.filterNot { case (name, fn) =>
      core.ParquetMemo.deleteRecursively(new java.io.File(outDir, name))
      try { fn(spark, sfDir).coalesce(1).write.parquet(s"$outDir/$name"); true }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}"); false
      }
      finally spark.catalog.clearCache()
    }.map(_._1)

  /** The oracle_sql.json payload (shared with OracleLintSpec, which
    * feeds the full declared set through tools/lint_oracle_dtypes.py).
    * JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def oracleJson(only: Option[Set[String]]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
