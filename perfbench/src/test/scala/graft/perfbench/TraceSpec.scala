package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("a span's self time is its wall minus its direct children") {
    val t = new Tracer(true)
    t.span("op") {
      Thread.sleep(20)
      t.span("child")(t.span("grandchild")(Thread.sleep(30)))
      t.span("child")(Thread.sleep(10))
    }
    val op = t.spans.find(_.name == "op").get
    val children = t.spans.filter(_.parent == op.id)
    assert(children.map(_.name) == Seq("child", "child"))
    assert(math.abs(t.selfSeconds(op.id) - (op.seconds - children.map(_.seconds).sum)) < 1e-12)
    assert(t.selfSeconds(op.id) >= 0.02 && t.selfSeconds(op.id) < op.seconds - 0.04)
    val grand = t.spans.find(_.name == "grandchild").get
    assert(t.selfSeconds(grand.parent) < 0.01)
  }

  test("a disabled tracer records nothing and still returns the value") {
    val t = new Tracer(false)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }

  test("listener events land on the job group set before the op") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val l = new OpListener
      sc.addSparkListener(l)
      // RDD actions: exactly one job each, one task per partition
      sc.setJobGroup("one", "one job", interruptOnCancel = false)
      sc.parallelize(1 to 1000, 4).count()
      val between = System.currentTimeMillis()
      sc.setJobGroup("two", "two jobs", interruptOnCancel = false)
      sc.parallelize(1 to 1000, 3).count()
      sc.parallelize(1 to 10, 2).collect()
      sc.clearJobGroup()
      sc.parallelize(1 to 10, 5).count()
      org.apache.spark.perfbench.ListenerDrain(sc)
      val one = l.group("one")
      val two = l.group("two", eagerBeforeMs = between)
      assert(one.jobs == 1)
      assert(two.jobs == 2 && two.eagerJobs == 0)
      assert(l.group("one", eagerBeforeMs = Long.MaxValue).eagerJobs == 1)
      assert(one.stages == 1 && one.tasks == 4)
      assert(two.stages == 2 && two.tasks == 5)
      assert(one.stageUnionSeconds > 0)
      assert(l.group("three").jobs == 0)
    } finally spark.stop()
  }
}
