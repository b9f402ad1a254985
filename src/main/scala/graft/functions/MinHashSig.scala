package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the 32-hash MinHash signature — the
  * engine's only MinHash surface. The kernel lives once in the companion
  * ([[MinHashSig.compute]]); the interpreted `eval` and the generated code
  * both call it, so the two paths cannot diverge and committed signature
  * fixtures stay valid.
  *
  * Why an `Expression` and not a UDF (the preference order the build
  * follows: builtin > native expression > UDF): a Scala UDF pays
  * catalyst→Scala conversion on the input, an encoder round-trip on the
  * `Array[Long]` result, and a closure-call boundary that blocks
  * whole-stage codegen. This expression stays inside codegen
  * (`doGenCode` emits a static call on the already-materialized
  * `UTF8String`) and writes its result directly as `GenericArrayData` —
  * on the 100-TB dedup path the signature scan is the dominant CPU
  * stage, so the per-row overhead is the throughput (PlanQualitySuite
  * pins the UDF-free plan; Round4Suite pins value-equality vs the
  * driver-side kernel).
  *
  * Null contract: a NULL document yields the all-MaxValue sentinel
  * signature ([[MinHashSig.nullSig]]), never NULL (downstream banding
  * expressions index `sig` unconditionally).
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  // ExpectsInputTypes is sql-private; validate post-resolution instead
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_sig expects a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_sig"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val sig =
      if (v == null) MinHashSig.nullSig()
      else MinHashSig.compute(v.asInstanceOf[UTF8String].toString)
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val arrCls = classOf[GenericArrayData].getName
    val self = MinHashSig.getClass.getName.stripSuffix("$") // graft.functions.MinHashSig
    val resultCode =
      code"""
         |${childGen.code}
         |$arrCls ${ev.value} = null;
         |if (${childGen.isNull}) {
         |  ${ev.value} = new $arrCls($self.nullSig());
         |} else {
         |  ${ev.value} = new $arrCls($self.compute(${childGen.value}.toString()));
         |}
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val NumHashes = 32


  /** The signature of a NULL/absent document: all MaxValue (matches no
    * non-degenerate band except other sentinels').
    */
  def nullSig(): Array[Long] = Array.fill(NumHashes)(Long.MaxValue)

  /** Word 3-shingles → 32 minhashes. THE single kernel: the interpreted
    * and the codegen path both call this, byte-for-byte.
    */
  def compute(text: String): Array[Long] = {
    val words = text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val sigs = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i + 2 < words.length) {
      val shingle = (words(i) + " " + words(i + 1) + " " + words(i + 2)).hashCode.toLong
      var k = 0
      while (k < NumHashes) {
        val h = SplitMix64.mix(shingle ^ SplitMix64.mix(k.toLong))
        if (h < sigs(k)) sigs(k) = h
        k += 1
      }
      i += 1
    }
    sigs
  }

  /** Column-API entry: `MinHashSig.sig(col("text"))`. */
  def sig(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      MinHashSig(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}
