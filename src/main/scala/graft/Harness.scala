package graft

import org.apache.spark.sql.SparkSession

/** The one session geometry every main runs under: master
  * `local[cpus]`, shuffle width = cpus, UI off, and the UTC session time
  * zone that `Tables.events` assumes. `cpus` is `SPARK_GRAFT_CPUS`,
  * defaulting to the machine's core count, so with the variable unset a
  * probe reproduces the bench's parallelism. */
private[graft] object Harness {

  /** The corpus every main reads when not given one. */
  val defaultSfDir = "/root/testdata/sf0.1"

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // back-stop for Bench's explicit between-query GC: the
      // ContextCleaner's own timer defaults to 30 min — longer than an
      // entire bench run, i.e. never
      .config("spark.cleaner.periodicGC.interval", "3min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
