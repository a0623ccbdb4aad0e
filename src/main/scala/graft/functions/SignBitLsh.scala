package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: sign-bit LSH cell id of a DOUBLE array
  * over `nPlanes` deterministic hyperplanes — the coarse quantizer
  * compiled to a primitive loop.
  *
  * The HOF formulation pays nPlanes interpreted `aggregate(zip_with(…))`
  * passes per row. But the hyperplane matrix depends only on (plane
  * index, dimension) — it is a CONSTANT. This expression builds it once
  * driver-side ([[SignBitLsh.md5PlaneMatrix]], the portable md5 family
  * the DuckDB oracle re-derives in SQL), ships it as a reference object,
  * and evaluates nPlanes dot products per row inside whole-stage
  * codegen. Bit-identical to the HOF over the same matrix (same
  * component values, same left-to-right accumulation) — asserted in
  * SignBitLshSpec.
  *
  * Used by the quantizer-blocked embedding dedup and the LSH ANN probe;
  * the HOF twin (`SimilarityTwins.lshCellFromPlanes`) stays as the
  * differential-testing reference.
  */
case class SignBitLsh(child: Expression, dim: Int, nPlanes: Int)
    extends UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 30, s"nPlanes out of range: $nPlanes")
  require(dim >= 1, s"dim out of range: $dim")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE>, got ${t.sql}")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sign_bit_lsh"

  /** nPlanes × dim hyperplane components. */
  @transient private lazy val planes: Array[Array[Double]] =
    SignBitLsh.md5PlaneMatrix(dim, nPlanes)

  /** Dirty-input contract: any null element or length != dim ⇒ cell 0.
    * This matches the HOF twin exactly: zip_with against the literal
    * plane array null-pads the shorter side, which poisons the
    * aggregate to null, so every `proj >= 0` is false
    * (SignBitLshSpec). */
  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return 0
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return 0; i += 1 }
    val m = planes
    var cell = 0
    var p = 0
    while (p < nPlanes) {
      val row = m(p)
      var proj = 0.0
      var j = 0
      while (j < dim) { proj += v.getDouble(j) * row(j); j += 1 }
      if (proj >= 0) cell |= 1 << p
      p += 1
    }
    cell
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val m = ctx.addReferenceObj("planes", planes, "double[][]")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val proj = ctx.freshName("proj")
      val row = ctx.freshName("row")
      val cell = ctx.freshName("cell")
      val clean = ctx.freshName("clean")
      s"""
         |int $cell = 0;
         |boolean $clean = $v.numElements() == $dim;
         |if ($clean) {
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($v.isNullAt($i)) { $clean = false; break; }
         |  }
         |}
         |if ($clean) {
         |  for (int $p = 0; $p < $nPlanes; $p++) {
         |    double[] $row = $m[$p];
         |    double $proj = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      $proj += $v.getDouble($j) * $row[$j];
         |    }
         |    if ($proj >= 0) $cell |= 1 << $p;
         |  }
         |}
         |${ev.value} = $cell;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignBitLsh =
    copy(child = newChild)
}

object SignBitLsh {
  /** The PORTABLE hyperplane matrix: first 13 md5 hex chars of "p:i" -> 52-bit
    * int -> [-1, 1), every step exact in doubles and replayable as
    * ANSI SQL. */
  def md5PlaneMatrix(dim: Int, nPlanes: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, i) =>
      val hex = md.digest(s"$p:$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0 * 2.0 - 1.0
    }
  }

  /** The cell id over the md5 matrix — bit-equal to the interpreted
    * per-plane `aggregate(zip_with(…))` formulation on clean AND dirty
    * inputs (SignBitLshSpec). */
  def sign_bit_lsh_md5(v: Column, dim: Int, nPlanes: Int): Column =
    ColumnBridge.column(SignBitLsh(ColumnBridge.expression(v), dim, nPlanes))
}
