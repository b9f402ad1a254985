package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 64-bit SimHash — same pattern as
  * [[MinHashSig]]: the kernel lives once in the companion, the interpreted
  * `eval` calls it, and `doGenCode` keeps the hot scan inside whole-stage
  * codegen with a primitive long result (no boxing at all on this one).
  * NULL text yields 0L.
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_simhash_sig expects a string column, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash_sig"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else SimHashSig.compute(v.asInstanceOf[UTF8String].toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val self = SimHashSig.getClass.getName.stripSuffix("$")
    val resultCode =
      code"""
         |${childGen.code}
         |long ${ev.value} = 0L;
         |if (!${childGen.isNull}) {
         |  ${ev.value} = $self.compute(${childGen.value}.toString());
         |}
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {


  /** Per-word sign-vote SimHash — THE single kernel for eval and codegen. */
  def compute(text: String): Long = {
    val counts = new Array[Int](64)
    for (w <- text.toLowerCase(java.util.Locale.ROOT).split("\\s+") if w.nonEmpty) {
      val h = SplitMix64.mix(w.hashCode.toLong)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) { if (counts(bit) > 0) sig |= (1L << bit); bit += 1 }
    sig
  }

  /** Column-API entry: `SimHashSig.sig(col("text"))`. */
  def sig(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SimHashSig(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}
