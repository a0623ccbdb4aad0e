package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale-rehearsal corpus synthesizer (SURVEY §6.1's sweep,
  * extended past the read-only sf0.1 cap). Each table is replicated
  * `reps`× with DISJOINT key spaces — referential integrity holds
  * within a replica, so joins, co-purchase graphs and session streams
  * grow like a catalog/corpus that actually got 10× bigger — and
  * content is perturbed so cross-replica rows are neither exact nor
  * NEAR duplicates:
  *
  *  - documents: every word carries a replica suffix, so every shingle
  *    differs across replicas — dedup candidate streams grow like new
  *    content (linear), not like copies (each bucket 10× deeper ⇒
  *    quadratic pair blowup, which would measure a different workload)
  *  - embeddings: components cyclically ROTATED per replica — same
  *    value distribution and norms, different angles, so ANN
  *    structures gain 10× genuinely distinct vectors
  *  - relational tables: key shifts only (values untouched)
  *
  * Deterministic: pure column ops on the source fixture, no RNG.
  * Usage: runMain graft.SynthScale [srcDir dstDir reps]; then run the
  * normal Bench with SPARK_GRAFT_SF_DIR=<dstDir>.
  */
object SynthScale {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else Harness.defaultSfDir
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1_synth"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session()
    val done = new java.io.File(s"$dst/_SYNTH_OK")
    if (done.exists()) {
      println(s"synth corpus already present at $dst"); spark.stop(); return
    }

    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      (0 until reps).map(r => f(base, r)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"wrote $t x$reps")
    }

    // shared dimension catalogs: copied once, not replicated
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    replicate("customer")((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * 1000000L)))
    replicate("supplier")((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * 1000000L)))
    replicate("part")((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * 1000000L)))
    replicate("orders")((d, r) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * 10000000L))
      .withColumn("o_custkey", col("o_custkey") + lit(r * 1000000L)))
    replicate("lineitem")((d, r) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * 10000000L))
      .withColumn("l_partkey", col("l_partkey") + lit(r * 1000000L))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * 1000000L)))
    replicate("events")((d, r) => d
      .withColumn("event_id", col("event_id") + lit(r * 10000000L))
      .withColumn("user_id", col("user_id") + lit(r * 10000000L)))
    replicate("documents") { (d, r) =>
      if (r == 0) d
      else {
        val newText = array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"~$r"))),
          " ")
        d.withColumn("doc_id", col("doc_id") + lit(r * 1000000L))
          .withColumn("text", newText)
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }
    val dim = spark.read.parquet(s"$src/embeddings.parquet")
      .selectExpr("size(embedding)").head().getInt(0)
    replicate("embeddings") { (d, r) =>
      val rot = r % dim
      val rotated =
        if (rot == 0) col("embedding")
        else concat(
          expr(s"slice(embedding, ${rot + 1}, ${dim - rot})"),
          expr(s"slice(embedding, 1, $rot)"))
      d.withColumn("vec_id", col("vec_id") + lit(r * 1000000L))
        .withColumn("embedding", rotated)
    }
    done.createNewFile(): Unit
    println(s"synth corpus ready at $dst (reps=$reps from $src)")
    spark.stop()
  }
}
