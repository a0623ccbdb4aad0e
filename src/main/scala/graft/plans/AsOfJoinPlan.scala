package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge

/** As-of join as a first-class operator (SURVEY.md §2.3 J6, the custom
  * Catalyst route): for every left row, attach the LATEST right row of
  * the same key with right.ts <= left.ts, or nulls (left outer as-of —
  * pandas merge_asof / QuestDB ASOF JOIN semantics).
  *
  * Why a custom operator instead of the composed union+window
  * formulation (`rel/AdvancedJoins.join_asof`, kept as the semantic
  * twin): the composition pays a union of both inputs, a full window
  * sort over the combined stream, and a post-filter; this plan is the
  * minimal physical shape — co-partition both sides on the key, sort
  * each by (key, ts), then ONE forward merge pass per partition with
  * O(1) state (the current candidate row). Nothing is buffered, nothing
  * quadratic, and at 100 TB the cost is exactly two shuffles + two
  * sorts, same as any sort-merge join of the inputs.
  *
  * Wiring: `AsOfJoin(logical)` → `AsOfJoinStrategy` (installed by
  * `AsOfJoin.ensurePlanned`) → `AsOfJoinExec`. The exec
  * declares ClusteredDistribution on the key for BOTH children with a
  * pinned partition count (co-partitioning must survive AQE) and
  * per-child (key, ts) ordering, so EnsureRequirements plans the
  * exchanges and sorts — the operator itself is just the merge. */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression) extends BinaryNode {

  // right side is nullable: left rows with no as-of match emit nulls
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** Idempotently register the planner strategy on the session: the
    * one place the engine installs a strategy, run by every [[asof]]. */
  private def ensurePlanned(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
  }

  /** User API: for every left row, the latest right row with
    * `rightTs <= leftTs` on the same key (left outer). Alias right-side
    * columns beforehand if names collide, as with any join. */
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    ensurePlanned(spark)
    val l = PlanBridge.analyzed(left)
    val r = PlanBridge.analyzed(right)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not in [${p.output.map(_.name).mkString(", ")}]"))
    val (lk, rk) = (attr(l, leftKey), attr(r, rightKey))
    val (lt, rt) = (attr(l, leftTs), attr(r, rightTs))
    // fail at plan time, not with a ClassCastException inside executors:
    // the interpreted orderings and the hash co-partitioning both assume
    // identical types on the two sides
    require(lk.dataType == rk.dataType,
      s"as-of key types differ: ${lk.dataType.sql} vs ${rk.dataType.sql}")
    require(lt.dataType == rt.dataType,
      s"as-of ts types differ: ${lt.dataType.sql} vs ${rt.dataType.sql}")
    PlanBridge.ofRows(spark, AsOfJoin(l, r, lk, rk, lt, rt))
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTs: Expression,
    rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition on the key; pin the partition count so AQE cannot
  // coalesce the two sides differently and break co-location
  override def requiredChildDistribution
      : Seq[org.apache.spark.sql.catalyst.plans.physical.Distribution] = {
    val n = conf.numShufflePartitions
    Seq(
      org.apache.spark.sql.catalyst.plans.physical
        .ClusteredDistribution(Seq(leftKey), requiredNumPartitions = Some(n)),
      org.apache.spark.sql.catalyst.plans.physical
        .ClusteredDistribution(Seq(rightKey), requiredNumPartitions = Some(n)))
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTs, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTs, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTsB  = BindReferences.bindReference(leftTs, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTsB  = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd  = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val rightWidth = right.output.length

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight: InternalRow = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      // downstream operators (and SparkPlan.execute's contract) expect
      // UnsafeRow output
      val toUnsafe = UnsafeProjection.create(output, output)
      val rBuf = rIter.buffered
      // O(1) merge state: the latest right row (copied) + its key
      var candidate: InternalRow = null
      var candidateKey: Any = null
      lIter.map { lRow =>
        val lk = lKeyB.eval(lRow)
        val lt = lTsB.eval(lRow)
        if (lk == null || lt == null) {
          // SQL comparison with null never holds — no match, and since
          // ascending sort puts null rows FIRST, not advancing the right
          // pointer keeps the merge aligned for later non-null left rows
          toUnsafe(joined(lRow, nullRight))
        } else {
          // advance right while (rkey, rts) <= (lk, lt) lexicographically;
          // null-keyed/null-ts right rows also sort first and can never
          // match anything — consume and discard them
          var advance = true
          while (advance && rBuf.hasNext) {
            val head = rBuf.head
            val rk = rKeyB.eval(head)
            val rt = if (rk == null) null else rTsB.eval(head)
            if (rk == null || rt == null) {
              rBuf.next()
            } else {
              val cmpKey = keyOrd.compare(rk, lk)
              if (cmpKey < 0 || (cmpKey == 0 && tsOrd.compare(rt, lt) <= 0)) {
                candidate = rBuf.next().copy()
                candidateKey = rk
              } else advance = false
            }
          }
          val matched = candidate != null && candidateKey != null &&
            keyOrd.compare(candidateKey, lk) == 0
          toUnsafe(joined(lRow, if (matched) candidate else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
