package graft

/** Day-one standing-state rehearsal (SURVEY §6.2 — the r16 verdict's
  * "one 100×-scale composition rehearsal of the full warm-up"): build
  * EVERY standing relation for a corpus snapshot in one cold session —
  * the cost a real deployment pays when a new snapshot lands — timing
  * each build individually and gauging on-disk state growth after each,
  * so the aggregate story (total wall, peak disk) has a per-build
  * breakdown to StageProbe when something surprises.
  *
  * The build list IS [[Bench.standingBuilds]]: a rehearsal that
  * diverged from the bench's warm-up would measure a different
  * deployment. Run against a FRESH corpus dir (e.g. a new SynthScale output) so every build is
  * cold — memoized state is content-keyed, so a re-run measures the
  * memo hit instead.
  *
  * Usage: runMain graft.WarmupRehearsal <sfDir> [stages]
  */
object WarmupRehearsal {

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

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: WarmupRehearsal <sfDir> [stages]")
    val sfDir = args(0)
    val spark = Harness.session()
    if (args.length > 1 && args(1) == "stages")
      spark.sparkContext.addSparkListener(new StageProbe)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")

    var disk0 = stateBytes(sfDir, warehouse)
    val t0 = System.nanoTime()
    Bench.standingBuilds(spark, sfDir).foreach { case (name, build) =>
      val b0 = System.nanoTime()
      val ok = try { build(); true }
        catch { case e: Throwable =>
          println(s"rehearsal $name FAILED: ${e.getMessage}"); false }
      val wall = (System.nanoTime() - b0) / 1e9
      val disk1 = stateBytes(sfDir, warehouse)
      println(f"rehearsal $name%-24s wall=$wall%8.1f s  " +
        f"disk+=${(disk1 - disk0) / 1e6}%9.1f MB  ok=$ok")
      disk0 = disk1
    }
    val total = (System.nanoTime() - t0) / 1e9
    println(f"rehearsal TOTAL wall=$total%.1f s  " +
      f"standing state=${disk0 / 1e6}%.1f MB  sf=$sfDir")
    spark.stop()
  }
}
