package graft
package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.api.VatPipeline
import graft.perfbench.Workloads._

/** Command line of one benchmark run (see perfbench/README.md). */
final case class Options(workload: String, seed: Long, seconds: Double,
    trace: Boolean, corpus: String, work: String, cores: Int, setups: Int)

object Options {
  def parse(argv: Array[String]): Options = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("corpus"), need("work"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      kv.get("setups").map(_.toInt).getOrElse(3))
  }
}

/** Order-independent digest of a full result: row count plus the
  * wrapping sum and the xor of a 64-bit hash of every row, all columns. */
final case class Fingerprint(rows: Long, sum: Long, xor: Long)

object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case a: Array[_] => a.map(canon).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted
        .mkString("{", "\u0001", "}")
    case s: Iterable[_] => s.map(canon).mkString("[", "\u0001", "]")
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }

  def of(rows: Array[Row]): Fingerprint = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val s = canon(r)
      val h = (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x0b5e).toLong & 0xffffffffL)
      sum += h
      xor ^= h
    }
    Fingerprint(rows.length.toLong, sum, xor)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind: leave with an explicit code
    val code =
      try {
        val o = Options.parse(argv)
        new File(o.work).mkdirs()
        val out = new Run(o).run()
        Files.writeString(Paths.get(o.work, "result.json"), out)
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }
}

/** One benchmark run: set-up, the workload's verified ops, metrics. */
final class Run(o: Options) {
  private val wl = Workloads.byName(o.workload)
  private val tracer = new Tracer(false)
  private var spark: SparkSession = _
  private var listener: OpListener = new OpListener
  private var listening = false
  private var opSeq = 0
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer[String]()
  private val e2e = mutable.LinkedHashMap[String, Double]()
  private val layers = mutable.LinkedHashMap[String, Double]()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def dir(parts: String*): File = new File(o.work, parts.mkString("/"))

  private def fail(what: String, detail: String): Unit = {
    failed += 1
    errors += s"$what: $detail"
    System.err.println(s"[perfbench] FAIL $what: $detail")
  }

  /** Tracing on or off for what follows: spans and the listener. */
  private def trace(on: Boolean): Unit = {
    tracer.enabled = on
    if (on && !listening) spark.sparkContext.addSparkListener(listener)
    if (!on && listening) spark.sparkContext.removeSparkListener(listener)
    listening = on
  }

  /** How many timed passes (or filing rounds) a run makes: `--seconds`
    * over the nominal length of one, so that every commit measures the
    * same work and a faster program simply finishes sooner. A traced run
    * makes at least four, for the ABBA order below. */
  private def repetitions(nominalSeconds: Double): Int =
    math.max(if (o.trace) 4 else 1, math.round(o.seconds / nominalSeconds).toInt)

  /** Traced or not, for the i-th repetition of a traced run: untraced,
    * traced, traced, untraced, so warm-up drift cancels in the overhead. */
  private def abba(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  /** Untimed, after every op: drop what it cached, so that no op pays
    * for the one before it. */
  private def settle(): Unit = {
    spark.sparkContext.clearJobGroup()
    spark.catalog.clearCache()
  }

  private def newGroup(label: String): String = {
    opSeq += 1
    val g = s"op-$opSeq"
    spark.sparkContext.setJobGroup(g, label, interruptOnCancel = false)
    g
  }

  def run(): String = {
    setup()
    wl match {
      case w: QueryWorkload => queries(w)
      case VatFiling => vat()
    }
    e2e("peak_rss_mb") = peakRssMb()
    if (listening) org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.stop()
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    s"""{"attempted": $attempted, "failed": $failed, "errors": ${errors.map(str).mkString("[", ", ", "]")}, """ +
      s""""e2e": ${obj(e2e)}, "layers": ${obj(layers)}}"""
  }

  // ------------------------------------------------------------ set-up

  private def newSession(warehouse: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.local.dir", dir("spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up is SparkSession start plus every standing build the workload
    * reads, on an empty memo root and warehouse; done `setups` times, a
    * fresh session each time, and reported as the median. In a traced
    * run every other set-up is traced. A build that throws fails the
    * run. */
  private def setup(): Unit = {
    val plain = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    // a traced run adds one set-up, so that it has warm set-ups of both kinds
    for (i <- 0 until (if (o.trace) o.setups + 1 else o.setups)) {
      val tracedRep = o.trace && i % 2 == 1
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        deleteTree(dir("state", (i - 1).toString))
      }
      val state = dir("state", i.toString)
      val memo = new File(state, "memo")
      val warehouse = new File(state, "warehouse")
      memo.mkdirs()
      sys.props("graft.memo.root") = memo.getAbsolutePath
      listening = false
      listener = new OpListener
      val t0 = System.nanoTime()
      spark = newSession(warehouse)
      val session = secs(t0)
      trace(tracedRep)
      val group = newGroup("setup")
      val buildSecs = wl.builds.map { case (b, fn) =>
        val tb = System.nanoTime()
        tracer.span(s"setup.$b")(fn(spark, o.corpus))
        b -> secs(tb)
      }
      spark.sparkContext.clearJobGroup()
      val wall = secs(t0)
      System.err.println(f"[perfbench] set-up $i: $wall%.3f s (session $session%.3f s, " +
        buildSecs.map { case (b, t) => f"$b $t%.3f s" }.mkString(", ") + ")")
      (if (tracedRep) traced else plain) += wall
      if (tracedRep) {
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        layers("setup.session_s") = session
        buildSecs.foreach { case (b, s) => layers(s"setup.${b}_s") = s }
        layers("setup.build_jobs") = listener.group(group).jobs.toDouble
        layers("setup.standing_mb") = (treeBytes(memo) + treeBytes(warehouse)) / 1e6
      }
      trace(false)
    }
    e2e("setup_s") = Stats.median(plain.toSeq)
    // the first set-up runs in a cold JVM; compare traced with warm ones
    if (o.trace)
      layers("overhead.setup_s") = Stats.median(traced.toSeq) - Stats.median(plain.drop(1).toSeq)
  }

  // ------------------------------------------------- query workloads

  /** Nominal wall of one pass over the analytics queries. */
  private val NominalPassSeconds = 10.0

  private final case class QueryOp(query: String, module: String, pass: Int,
      traced: Boolean, group: String, wall: Double, construct: Double,
      plan: Double, exec: Double, constructEndMs: Long)

  private def queries(w: QueryWorkload): Unit = {
    val rnd = new Random(o.seed)
    val fns = SparkEntry.queries
    val verified = mutable.Map[String, Fingerprint]()

    // untimed pass: warm-up, full result kept for the oracle compare
    val oracleDir = dir("verify")
    rnd.shuffle(w.queries).foreach { q =>
      attempted += 1
      val before = standingEntries()
      try {
        spark.sparkContext.setJobGroup("verify", q, interruptOnCancel = false)
        val df = fns(q)(spark, o.corpus)
        val rows = df.collect()
        val built = standingEntries() -- before
        if (built.nonEmpty) System.err.println(
          s"[perfbench] $q built standing state outside set-up: ${built.mkString(", ")}")
        verified(q) = Fingerprint.of(rows)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(new File(oracleDir, q).getAbsolutePath)
      } catch { case e: Throwable => fail(s"$q (verify pass)", e.toString) }
      finally settle()
    }
    Files.writeString(Paths.get(oracleDir.getPath, "oracle_sql.json"),
      Verify.oracleJson(Some(w.queries.toSet)))
    w.queries.filterNot(SparkEntry.oracleSql.contains).foreach(q =>
      fail(q, "declares no oracle SQL"))

    // timed passes: closed loop, one client thread, seeded order per pass
    val ops = mutable.ArrayBuffer[QueryOp]()
    val passWalls = mutable.ArrayBuffer[(Boolean, Double)]()
    for (pass <- 0 until repetitions(NominalPassSeconds)) {
      val tracedPass = o.trace && abba(pass)
      trace(tracedPass)
      val tp = System.nanoTime()
      rnd.shuffle(w.queries).foreach { q =>
        attempted += 1
        val module = Workloads.moduleOf(q)
        val group = newGroup(q)
        try {
          val ta = System.nanoTime()
          tracer.span(module) {
            val df = tracer.span("spark.construct")(fns(q)(spark, o.corpus))
            val tb = System.nanoTime()
            val constructEnd = System.currentTimeMillis()
            tracer.span("spark.plan")(df.queryExecution.executedPlan)
            val tc = System.nanoTime()
            val rows = tracer.span("spark.exec")(df.collect())
            val fp = tracer.span("fingerprint")(Fingerprint.of(rows))
            val td = System.nanoTime()
            ops += QueryOp(q, module, pass, tracedPass, group, (td - ta) / 1e9,
              (tb - ta) / 1e9, (tc - tb) / 1e9, (td - tc) / 1e9, constructEnd)
            if (!verified.get(q).contains(fp))
              fail(q, s"result fingerprint $fp differs from the verified ${verified.get(q)}")
          }
        } catch { case e: Throwable => fail(q, e.toString) }
        finally settle()
      }
      passWalls += tracedPass -> secs(tp)
    }
    trace(false)

    def endToEnd(sel: Boolean) = {
      val walls = ops.filter(_.traced == sel).map(_.wall).toSeq
      Map("op_p50_s" -> Stats.median(walls),
        "op_tail_s" -> Stats.percentile(walls, Stats.TailPercentile),
        "pass_s" -> Stats.median(passWalls.filter(_._1 == sel).map(_._2).toSeq))
    }
    val plain = endToEnd(false)
    e2e ++= plain
    System.err.println(s"[perfbench] ${ops.count(!_.traced)} untraced executions over " +
      s"${passWalls.count(!_._1)} passes")
    if (o.trace) {
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      endToEnd(true).foreach { case (k, v) => layers(s"overhead.$k") = v - plain(k) }
      queryLayers(w, ops.filter(_.traced).toSeq)
    }
  }

  /** Per-module and Spark-substrate layers of the traced passes: each
    * figure is summed over one pass and reported as the median pass. */
  private def queryLayers(w: QueryWorkload, ops: Seq[QueryOp]): Unit = {
    val stats = ops.map(op => op -> listener.group(op.group, op.constructEndMs)).toMap
    val passes = ops.groupBy(_.pass).values.toSeq
    def perPass(f: Seq[QueryOp] => Double): Double = Stats.median(passes.map(f))
    w.queries.map(Workloads.moduleOf).distinct.foreach { m =>
      def mine(p: Seq[QueryOp]) = p.filter(_.module == m)
      layers(s"$m.wall_s") = perPass(p => mine(p).map(_.wall).sum)
      layers(s"$m.jobs") = perPass(p => mine(p).map(stats(_).jobs).sum.toDouble)
      layers(s"$m.driver_gap_s") = perPass(p => mine(p).map(op =>
        math.max(0.0, op.wall - stats(op).stageUnionSeconds)).sum)
    }
    sparkLayers(passes.map(p => p.map(op => (op.wall, op.construct, op.plan, op.exec,
      stats(op)))))
    // job, stage and task counts should repeat exactly from pass to pass
    val unsteady = ops.groupBy(_.query).collect {
      case (q, xs) if xs.map(stats(_)).map(s => (s.jobs, s.stages, s.tasks)).distinct.size > 1 =>
        q -> xs.map(stats(_)).map(s => s"${s.jobs}/${s.stages}/${s.tasks}").mkString(" ")
    }
    unsteady.toSeq.sorted.foreach { case (q, counts) =>
      System.err.println(s"[perfbench] counts vary across passes (jobs/stages/tasks): $q: $counts")
    }
    layers("spark.unsteady_count_queries") = unsteady.size.toDouble
  }

  /** `units`: one entry per pass (or per op), each a list of
    * (wall, construct, plan, exec, listener stats) over its ops. */
  private def sparkLayers(units: Seq[Seq[(Double, Double, Double, Double, OpListener.GroupStats)]]): Unit = {
    def med(f: Seq[(Double, Double, Double, Double, OpListener.GroupStats)] => Double) =
      Stats.median(units.map(f))
    layers("spark.construct_s") = med(_.map(_._2).sum)
    layers("spark.eager_jobs") = med(_.map(_._5.eagerJobs).sum.toDouble)
    layers("spark.plan_s") = med(_.map(_._3).sum)
    layers("spark.exec_s") = med(_.map(_._4).sum)
    layers("spark.stages") = med(_.map(_._5.stages).sum.toDouble)
    layers("spark.tasks") = med(_.map(_._5.tasks).sum.toDouble)
    layers("spark.task_s") = med(_.map(_._5.taskSeconds).sum)
    layers("spark.parallelism") =
      med(u => u.map(_._5.taskSeconds).sum / (u.map(_._1).sum * o.cores))
    layers("spark.shuffle_write_mb") = med(_.map(_._5.shuffleWriteBytes).sum / 1e6)
    layers("spark.shuffle_read_mb") = med(_.map(_._5.shuffleReadBytes).sum / 1e6)
    layers("spark.spill_mb") = med(_.map(_._5.spillBytes).sum / 1e6)
    layers("spark.gc_s") = med(_.map(_._5.gcSeconds).sum)
  }

  // -------------------------------------------------------- vat_filing

  /** Sheets per workbook and data rows per sheet of the filing workload:
    * fixed shapes, so that every seed files the same amount of work. */
  private val SheetsPerBook = Seq(1, 1, 1, 2)
  private val MinRows = 200
  private val MaxRows = 600
  private val Backfills = 2
  /** Nominal wall of one round of filings (one per workbook). */
  private val NominalRoundSeconds = 5.0

  private def vat(): Unit = {
    val rnd = new Random(o.seed)
    val books = VatGen.workbooks(o.seed, SheetsPerBook, MinRows, MaxRows)
    val bookDir = dir("books")
    bookDir.mkdirs()
    val paths = books.map { b =>
      val p = new File(bookDir, b.name + ".xlsx").getAbsolutePath
      graft.sources.Xlsx.write(p, b.sheets.map(s => s.name -> s.rows.map(_.toSeq).toSeq))
      b -> p
    }
    val expected = books.map(b => b.name -> VatGen.expected(b.sheets)).toMap
    val pipeline = new VatPipeline(spark)

    final case class Filing(traced: Boolean, group: String, wall: Double,
        sheets: Int, cells: Long)
    val filings = mutable.ArrayBuffer[Filing]()
    val got = mutable.Map[String, VatGen.Summary]()

    def file(b: VatGen.Workbook, path: String, timed: Boolean): Unit = {
      attempted += 1
      val group = newGroup(s"filing ${b.name}")
      val out = dir("out", s"filing-$opSeq")
      out.mkdirs()
      try {
        val ta = System.nanoTime()
        val rows = tracer.span("filing") {
          val sheets = tracer.span("sources.Xlsx.decode")(
            graft.sources.Xlsx.toCsv(path, new File(out, "csv").getAbsolutePath))
          val res = tracer.span("api.VatPipeline.process_sheets")(pipeline.processSheets(sheets))
          if (res.failures.nonEmpty) fail(s"filing ${b.name}", s"sheet failures ${res.failures}")
          val rows = tracer.span("vat.Summary.summary")(res.summary.collect())
          tracer.span("api.VatPipeline.write_xlsx")(
            res.writeXlsx(new File(out, "summary.xlsx").getAbsolutePath))
          rows
        }
        val wall = secs(ta)
        if (timed) filings += Filing(tracer.enabled, group, wall, b.sheets.size,
          b.sheets.map(_.cells).sum)
        val summary = summaryOf(rows)
        got(b.name) = summary
        compare(s"filing ${b.name}", summary, expected(b.name))
      } catch { case e: Throwable => fail(s"filing ${b.name}", e.toString) }
      finally { settle(); deleteTree(out) }
    }

    // untimed warm-up: one filing of the largest workbook. A traced run
    // compares traced with untraced rounds, so it warms up a whole round.
    (if (o.trace) paths else Seq(paths.maxBy(_._1.sheets.size)))
      .foreach { case (b, p) => file(b, p, timed = false) }

    for (round <- 0 until repetitions(NominalRoundSeconds)) {
      rnd.shuffle(paths).foreach { case (b, p) =>
        trace(o.trace && abba(round))
        file(b, p, timed = true)
      }
    }
    trace(false)

    // backfill: every workbook at once, decoded on the executors
    val dataRows = books.map(_.dataRows).sum
    val allExpected = VatGen.expected(books.flatMap(_.sheets))
    val mergedFilings = got.values.flatten.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    }
    final case class Backfill(traced: Boolean, group: String, wall: Double,
        process: Double, write: Double, cacheMb: Double)
    val backfills = mutable.ArrayBuffer[Backfill]()
    // a traced run first makes one untimed backfill, for the same reason
    val warmBackfills = if (o.trace) 1 else 0
    for (i <- 0 until warmBackfills + (if (o.trace) 4 else Backfills)) {
      val timed = i >= warmBackfills
      trace(o.trace && timed && abba(i - warmBackfills))
      attempted += 1
      val group = newGroup("backfill")
      val out = dir("out", s"backfill-$opSeq")
      try {
        val ta = System.nanoTime()
        val res = tracer.span("api.VatPipeline.process_workbooks")(
          pipeline.processWorkbooks(bookDir.getAbsolutePath))
        val tb = System.nanoTime()
        val rows = tracer.span("backfill.summary")(res.summary.collect())
        val cacheMb = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum / 1e6
        val tc = System.nanoTime()
        tracer.span("api.VatPipeline.write_parquet")(res.writeParquet(out.getAbsolutePath))
        val wall = secs(ta)
        if (timed) backfills += Backfill(tracer.enabled, group, wall,
          (tb - ta) / 1e9, secs(tc), cacheMb)
        if (res.failures.nonEmpty) fail("backfill", s"sheet failures ${res.failures}")
        val summary = summaryOf(rows)
        compare("backfill", summary, allExpected)
        compare("backfill against the filings", summary, mergedFilings)
      } catch { case e: Throwable => fail("backfill", e.toString) }
      finally { settle(); deleteTree(out) }
    }
    trace(false)

    val plainWalls = filings.filter(!_.traced).map(_.wall).toSeq
    e2e("op_p50_s") = Stats.median(plainWalls)
    e2e("op_tail_s") = Stats.percentile(plainWalls, Stats.TailPercentile)
    e2e("pass_s") = Stats.median(backfills.filter(!_.traced).map(_.wall).toSeq)
    System.err.println(s"[perfbench] ${plainWalls.size} untraced filings; backfill of $dataRows rows")

    if (o.trace) {
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      val tf = filings.filter(_.traced).toSeq
      val tw = tf.map(_.wall)
      layers("overhead.op_p50_s") = Stats.median(tw) - e2e("op_p50_s")
      layers("overhead.op_tail_s") =
        Stats.percentile(tw, Stats.TailPercentile) - e2e("op_tail_s")
      val tb = backfills.filter(_.traced).toSeq
      layers("overhead.pass_s") = Stats.median(tb.map(_.wall)) - e2e("pass_s")

      // filing layers: self time of the spans directly under each traced filing
      val top = tracer.spans.filter(_.name == "filing")
      def child(name: String) = top.map(f => tracer.spans
        .filter(s => s.parent == f.id && s.name == name).map(s => tracer.selfSeconds(s.id)).sum)
      val decode = child("sources.Xlsx.decode")
      layers("sources.Xlsx.decode_s") = Stats.median(decode)
      layers("sources.Xlsx.cells_per_s") = Stats.median(
        tf.zip(decode).map { case (f, d) => f.cells / d })
      layers("api.VatPipeline.process_sheets_s") = Stats.median(child("api.VatPipeline.process_sheets"))
      layers("vat.Summary.summary_s") = Stats.median(child("vat.Summary.summary"))
      layers("api.VatPipeline.write_xlsx_s") = Stats.median(child("api.VatPipeline.write_xlsx"))
      layers("api.VatPipeline.jobs_per_sheet") = Stats.median(
        tf.map(f => listener.group(f.group).jobs.toDouble / f.sheets))
      sparkLayers(tf.map(f => Seq((f.wall, 0.0, 0.0, f.wall, listener.group(f.group)))))
      layers("spark.unsteady_count_queries") = 0.0

      layers("api.VatPipeline.process_workbooks_s") = Stats.median(tb.map(_.process))
      layers("api.VatPipeline.write_parquet_s") = Stats.median(tb.map(_.write))
      layers("backfill.jobs") = Stats.median(tb.map(b => listener.group(b.group).jobs.toDouble))
      layers("backfill.cache_mb") = Stats.median(tb.map(_.cacheMb))
    }
  }

  private def summaryOf(rows: Array[Row]): VatGen.Summary = rows.map { r =>
    def money(c: String) = BigDecimal(r.getAs[Double](c))
    (r.getAs[String]("period"), r.getAs[String]("fta_box")) ->
      ((money("net_value"), money("vat_value"), money("net_vat_payable")))
  }.toMap

  /** Same periods and boxes, every amount within half a cent. */
  private def compare(what: String, got: VatGen.Summary, want: VatGen.Summary): Unit = {
    val keys = got.keySet ++ want.keySet
    val bad = keys.toSeq.sorted.filter { k =>
      (got.get(k), want.get(k)) match {
        case (Some(a), Some(b)) =>
          Seq(a._1 - b._1, a._2 - b._2, a._3 - b._3).exists(_.abs >= BigDecimal("0.005"))
        case _ => true
      }
    }
    if (bad.nonEmpty) fail(what, bad.take(3).map(k =>
      s"$k got ${got.get(k)} want ${want.get(k)}").mkString("; "))
  }

  // ----------------------------------------------------------- helpers

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Top-level entries of the current memo root and warehouse. */
  private def standingEntries(): Set[String] = {
    val roots = Seq(new File(sys.props("graft.memo.root")),
      new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))
    roots.flatMap(r => Option(r.list()).getOrElse(Array.empty[String])).toSet
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum
    else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(): Unit
  }
}
