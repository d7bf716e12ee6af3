package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The md5-derived 60-bit hash of a string column, as `bigint`:
  *
  *   conv(substring(md5(s), 1, 15), 16, 10).cast("long")
  *
  * bit-for-bit (the first 15 hex nibbles of the digest are its top 60
  * bits), but from the digest bytes with a reused `MessageDigest`
  * instead of a hex string, a substring, a base conversion to a decimal
  * string and a cast back per row. NULL in gives NULL out. The SQL oracle
  * and the streaming twins compute the same value from the recipe above.
  */
case class Md5Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_hash60 requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash60"

  protected override def nullSafeEval(input: Any): Any =
    Md5Hash60.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Hash60.hash($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)
}

object Md5Hash60 {

  private val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** The top 60 bits of md5(bytes): its first 8 bytes big-endian, >>> 4. */
  def hash(bytes: Array[Byte]): Long = {
    val d = digests.get().digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = h << 8 | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }
}
