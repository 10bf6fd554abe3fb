package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `try_cast(s AS BIGINT)` in one pass over the bytes: the value as
  * `UTF8String.toLongExact` reads it, or null where that throws. The TRY
  * cast reaches the same parser but throws and catches an exception for
  * every value that is not an integer; this kernel returns null instead,
  * and it generates code, so the parse compiles into the chain's stage.
  */
private[pipeline] case class ParseLong(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"need a string to parse, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val out = new UTF8String.LongWrapper
    if (ParseLong.parse(input.asInstanceOf[UTF8String], out)) out.value else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wrapper = "org.apache.spark.unsafe.types.UTF8String.LongWrapper"
    val out = ctx.addMutableState(wrapper, "parsedLong", v => s"$v = new $wrapper();")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.isNull} = !graft.pipeline.ParseLong$$.MODULE$$.parse($s, $out);\n" +
        s"${ev.value} = $out.value;")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

private[pipeline] object ParseLong {

  def apply(s: Column): Column = Bridge.column(ParseLong(Bridge.expression(s)))

  /** Spark's exact parse (`UTF8String.toLong` without a decimal part):
    * trims ASCII whitespace and control bytes at both ends, takes one
    * optional sign, then only ASCII digits, within the range of a long.
    * Writes the value to `out` and returns true when `s` is one.
    */
  def parse(s: UTF8String, out: UTF8String.LongWrapper): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    def at(i: Int): Int = Platform.getByte(base, off + i)
    // Character.isWhitespace || isISOControl of a byte read signed
    def trimmed(b: Int): Boolean = (b >= 0 && b <= ' ') || b == 0x7F
    var i = 0
    var end = s.numBytes - 1
    while (i <= end && trimmed(at(i))) i += 1
    while (end > i && trimmed(at(end))) end -= 1
    if (i > end) return false
    val negative = at(i) == '-'
    if (negative || at(i) == '+') {
      if (i == end) return false
      i += 1
    }
    // accumulated as a negative number: Long.MinValue has no positive twin
    var result = 0L
    while (i <= end) {
      val digit = at(i) - '0'
      if (digit < 0 || digit > 9 || result < Long.MinValue / 10) return false
      result = result * 10 - digit
      if (result > 0) return false
      i += 1
    }
    if (!negative) {
      result = -result
      if (result < 0) return false
    }
    out.value = result
    true
  }
}
