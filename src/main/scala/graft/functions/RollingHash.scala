package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Karp-Rabin polynomial rolling hash over a string's UTF-8 bytes:
  * `h_i = (31·h_{i-1} + byte_i) mod 1e9+7` — a document-fingerprinting
  * primitive implemented as a native Catalyst expression with whole-stage
  * codegen (preference order (b) of the builder guide: native Expression
  * beats a Scala UDF; the reference defines zero functions of its own,
  * SURVEY.md §2.2, so this is part of the added pipeline surface).
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType ||
        child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash requires a string argument, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  protected override def nullSafeEval(v: Any): Any =
    RollingHash.hash(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long ${ev.value}_h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  ${ev.value}_h = (${ev.value}_h * 31L + ($bytes[$i] & 0xffL)) % 1000000007L;
         |}
         |${ev.value} = ${ev.value}_h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val Mod = 1000000007L

  def hash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * 31L + (bytes(i) & 0xffL)) % Mod; i += 1 }
    h
  }
}
