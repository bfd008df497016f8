package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8

/** The payload decoder behind every lift: JSON payload bytes → one row of
  * `schema`, value for value what `from_json(cast(data as string), schema)`
  * returns. It is built from the same parts as Spark's `JsonToStructs`:
  * PERMISSIVE `JSONOptions` in `timeZoneId` (no options set), a
  * `JacksonParser` with `allowArrayAsStructs = false`, a
  * `FailureSafeParser` that keeps partial results (a type-mismatched field
  * is null, its siblings keep their values) and the nullable schema. The
  * one difference is how Jackson gets the record: `from_json` wraps each
  * one in a new `InputStreamReader` (an 8 KB decode buffer per record);
  * here it is `new String(bytes, UTF_8)` handed to Jackson's String
  * parser, which reuses its recycled buffers. The JDK decodes malformed
  * UTF-8 in both to the same U+FFFD replacements and keeps a BOM as
  * U+FEFF, so bad bytes land on the same rows. Jackson's byte parser would
  * not: it parses a BOM-prefixed record, rejects `C3 28` outright and
  * accepts overlong `C0 80`.
  *
  * `decode` returns null for a null or blank record and the all-null row
  * for a malformed one, as `from_json` does. Not thread-safe: each task
  * deserializes its own copy and builds the parser lazily.
  */
final class PayloadJsonDecoder(schema: StructType, timeZoneId: String)
    extends Serializable {

  private val nullableSchema = bridge.asNullable(schema)
  private val corruptColumn = SQLConf.get.columnNameOfCorruptRecord

  @transient private lazy val parser: FailureSafeParser[Array[Byte]] = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId, corruptColumn)
    ExprUtils.verifyColumnNameOfCorruptRecord(nullableSchema, options.columnNameOfCorruptRecord)
    val raw = new JacksonParser(
      StructType(nullableSchema.filterNot(_.name == options.columnNameOfCorruptRecord)),
      options, allowArrayAsStructs = false)
    new FailureSafeParser[Array[Byte]](
      bytes => raw.parse[Array[Byte]](bytes,
        (f, b) => CreateJacksonParser.string(f, new String(b, UTF_8)),
        b => UTF8String.fromBytes(b)),
      PermissiveMode, nullableSchema, options.columnNameOfCorruptRecord)
  }

  def decode(data: Array[Byte]): InternalRow =
    if (data == null) null
    else {
      val rows = parser.parse(data)
      if (rows.hasNext) rows.next() else null
    }
}

/** `payload_json(data, schema)`: [[PayloadJsonDecoder]] as a Catalyst
  * expression over a BINARY payload column, in the session time zone the
  * analyzer assigns (`TimeZoneAwareExpression`), as `JsonToStructs` is.
  */
case class PayloadJson(child: Expression, schema: StructType,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override lazy val dataType: DataType = bridge.asNullable(schema)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"payload_json decodes BINARY payloads, not ${child.dataType.simpleString}")

  override def withTimeZone(tz: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(tz))

  @transient private lazy val decoder = new PayloadJsonDecoder(schema, timeZoneId.get)

  override def nullSafeEval(input: Any): Any =
    decoder.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val d = ctx.addReferenceObj("payloadJson", decoder, classOf[PayloadJsonDecoder].getName)
    nullSafeCodeGen(ctx, ev, data =>
      s"""
         |${ev.value} = $d.decode($data);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): PayloadJson = copy(child = c)
  override def prettyName: String = "payload_json"
}

object payload {
  def payload_json(data: Column, schema: StructType): Column =
    bridge.column(PayloadJson(bridge.expression(data), schema))
}
