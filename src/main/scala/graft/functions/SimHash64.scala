package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash over a token array: two murmur3 hashes per
  * token form the 64 bit-votes; fingerprint bit b is the sign of the
  * vote sum. One codegen'd pass — the HOF formulation walks the token
  * array 64 times through interpreted lambdas (a structural twin over
  * xxhash64 token hashes lives test-side, in `DedupTwins`). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${t.sql}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val lo = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 0)
        val hi = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 1)
        val h = (hi.toLong << 32) | (lo.toLong & 0xFFFFFFFFL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      val utf8 = classOf[UTF8String].getName
      val murmur = classOf[Murmur3_x86_32].getName
      s"""
         |int[] $votes = new int[64];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $utf8 $s = $a.getUTF8String($i);
         |    int $lo = $murmur.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 0);
         |    int $hi = $murmur.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 1);
         |    long $h = (((long) $hi) << 32) | (((long) $lo) & 0xFFFFFFFFL);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |    }
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))
}
