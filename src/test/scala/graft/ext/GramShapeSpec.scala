package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.{Tables, Width}

/** Both sides of each `Width.windowFits` gate on the fixture corpus. The
  * aggregate + join-back shapes only run past 256 MB of source in
  * production, so this spec is what keeps them row-identical to the
  * window shapes. */
class GramShapeSpec extends SparkSuite {

  /** Rows with columns in name order: the join-back shape puts its join
    * key first, and every consumer addresses these columns by name. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*)
      .collect().toSeq.map(_.toString).sorted

  private def bothShapes(grams: DataFrame)(
      shape: (DataFrame, Boolean) => DataFrame): Unit = {
    assert(Width.windowFits(grams), "fixture must take the window shape")
    val window = rows(shape(grams, true))
    assert(window.nonEmpty)
    assert(rows(shape(grams, false)) === window)
  }

  test("Dedup.gramDfAttached: window and aggregate shapes agree") {
    bothShapes(Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("g")))(
      Dedup.gramDfAttached)
  }

  test("Spans.duplicatedOccurrences: window and aggregate shapes agree") {
    bothShapes(Spans.positionalGrams(Tables.documents(spark, sfDir)))(
      Spans.duplicatedOccurrences)
  }

  test("Spans.scrubbableOccurrences: window and aggregate shapes agree") {
    bothShapes(Spans.positionalGrams(Tables.documents(spark, sfDir)))(
      Spans.scrubbableOccurrences)
  }
}
