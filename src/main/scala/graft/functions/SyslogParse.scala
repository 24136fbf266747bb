package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The MikroTik topics parse behind [[graft.model.parseSyslog]] as one
  * native expression: raw line → struct<severity, categories, message>
  * in one linear pass over the UTF-8 bytes, the shape of the reference's
  * lib/lopParse.go:29-81.
  *
  * The Column formulation it replaces (an 11-level severity CASE plus
  * `split(split(raw))` chains, copied into every field access once the
  * optimizer inlined the struct) generated ~91 000 chars of Java for the
  * ingest projection, and every streaming micro-batch re-optimized and
  * re-generated it. This node generates one static call (PERF.md).
  *
  * Semantics are the Column tree's, field for field (ParserSpec pins
  * them, compiled and interpreted):
  *   - split at the first ' '; the head splits on ',' keeping empty
  *     fields; fewer than 2 fields → (6, ["unknown"], raw);
  *   - otherwise severity = code of field 2 (unknown → 6), categories =
  *     field 1 ++ fields 3.. ++ field 2 when unknown, message = the text
  *     after the first space ("" when there is none);
  *   - a null line → (6, null, ""), what the tree returned under ANSI.
  * Field types and nullability are the tree's too (categories nullable
  * with nullable elements, message nullable iff the input is), so the
  * JDBC sink's derived DDL is unchanged. Splitting on bytes equals the
  * tree's String split on valid UTF-8, since ' ' and ',' never occur
  * inside a multi-byte sequence. */
case class SyslogParse(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"syslog_parse expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("severity", ByteType, nullable = false),
    StructField("categories", ArrayType(StringType, containsNull = true)),
    StructField("message", StringType, nullable = child.nullable)))
  override def nullable: Boolean = false
  override def prettyName: String = "syslog_parse"

  override def eval(input: InternalRow): Any =
    SyslogParse.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.SyslogParse.compute(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SyslogParse {
  private val Info: Byte = 6
  private val Unknown = UTF8String.fromString("unknown")

  /** severity token → code, from [[graft.model.severityTokens]] */
  private val Codes: java.util.HashMap[UTF8String, java.lang.Byte] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Byte]()
    graft.model.severityTokens.foreach { case (t, c) =>
      m.put(UTF8String.fromString(t), java.lang.Byte.valueOf(c.toByte))
    }
    m
  }

  private def row(sev: Any, cats: Any, msg: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](sev, cats, msg))

  /** one pass per row; called from both eval and generated code */
  def compute(raw: UTF8String): InternalRow = {
    if (raw == null) return row(Info, null, UTF8String.EMPTY_UTF8)
    val b = raw.getBytes
    val n = b.length
    var sp = 0
    while (sp < n && b(sp) != ' ') sp += 1
    var commas = 0
    var i = 0
    while (i < sp) { if (b(i) == ',') commas += 1; i += 1 }
    if (commas == 0) return row(Info, new GenericArrayData(Array[Any](Unknown)), raw)

    val fields = new Array[UTF8String](commas + 1)
    var start = 0
    var k = 0
    i = 0
    while (i <= sp) {
      if (i == sp || b(i) == ',') {
        fields(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
        start = i + 1
      }
      i += 1
    }
    val tok = fields(1)
    val code = Codes.get(tok)
    val cats = new Array[Any](if (code == null) commas + 1 else commas)
    cats(0) = fields(0)
    System.arraycopy(fields, 2, cats, 1, commas - 1)
    if (code == null) cats(commas) = tok
    val msg = if (sp < n) UTF8String.fromBytes(b, sp + 1, n - sp - 1) else UTF8String.EMPTY_UTF8
    row(if (code == null) Info else code, new GenericArrayData(cats), msg)
  }
}
