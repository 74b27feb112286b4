package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExprUtils, Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}

/** `from_json(json, schema, PERMISSIVE, columnNameOfCorruptRecord =
  * _corrupt_record)` as one native expression that hands Jackson the
  * record's UTF-8 bytes.
  *
  * The parse is Spark's own: one `JacksonParser` wrapped in a
  * `FailureSafeParser`, built from the same `JSONOptions` and in the
  * same place as `from_json` builds them (lazily, in the task), so
  * type conversion, the session time zone and PERMISSIVE's corrupt-
  * record and partial-result rules are Spark's. Only the parser
  * construction differs. `from_json` wraps every record in a new
  * `InputStreamReader` (a charset decoder with its own 8 KB buffer)
  * and parses the decoded chars; here Jackson's UTF-8 byte parser
  * reads the record's bytes through a `ByteArrayInputStream` over the
  * row's own buffer.
  *
  * The byte path is taken only where Jackson's byte parser decodes
  * exactly as the UTF-8 reader does: the record is valid UTF-8 (the
  * reader substitutes U+FFFD where the byte parser fails) and starts
  * with `{` with no NUL in its first four bytes (Jackson sniffs a BOM
  * or UTF-16/32 from those bytes; the reader keeps a BOM as a
  * character). Every other record takes
  * `CreateJacksonParser.utf8String`, the reader path itself.
  *
  * Not `createParser(bytes, off, len)`: that exposes the array as the
  * parser's raw content, and Spark's conversion of a non-string token
  * in a string field (`"DeviceId": 123`) then copies source bytes at
  * offsets relative to `off` out of the whole array — wrong bytes for
  * a record inside a row buffer — where the reader path re-serializes
  * the token. A stream source has no raw content, as a reader has
  * none, so both paths convert such tokens alike.
  *
  * The schema is a `StructType` value, not a DDL string: `from_json`
  * with a `StructType` passes `lit(schema.sql)` and the analyzer runs
  * the SQL parser on it, whose ANTLR caches then stay on the heap. */
case class FromJsonUtf8(child: Expression, schema: StructType,
                        timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = schema
  override def nullable: Boolean = true
  override def prettyName: String = "from_json_utf8"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string, got ${t.simpleString}")
  }

  /** Declared non-deterministic only so the optimizer never copies it,
    * the way `udf(...).asNondeterministic()` is used for an expensive
    * UDF. A Filter over a deterministic Project is pushed below it
    * with the Project's aliases inlined, so `where(p.a ... p.b)` over
    * `select(parse(value) as p)` would parse each record once per
    * predicate and again in the projection (three times per row in
    * `StreamSource.compatPoints`). Not inlined, it parses once. The
    * value is a pure function of the record and the session zone. */
  override lazy val deterministic: Boolean = false

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val opts = new JSONOptions(FromJsonUtf8.options, timeZoneId.get, FromJsonUtf8.Corrupt)
    ExprUtils.verifyColumnNameOfCorruptRecord(schema, opts.columnNameOfCorruptRecord)
    val raw = new JacksonParser(
      StructType(schema.filterNot(_.name == opts.columnNameOfCorruptRecord)),
      opts, allowArrayAsStructs = false)
    new FailureSafeParser[UTF8String](
      r => raw.parse(r, FromJsonUtf8.createParser, identity[UTF8String]),
      opts.parseMode, schema, opts.columnNameOfCorruptRecord)
  }

  /** The parsed struct of one record; null where `from_json` gives
    * null (a record with no JSON token, such as the empty string). */
  def parse(json: UTF8String): InternalRow = {
    val rows = parser.parse(json)
    if (rows.hasNext) rows.next() else null
  }

  override protected def nullSafeEval(json: Any): Any =
    parse(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fromJsonUtf8", this)
    nullSafeCodeGen(ctx, ev, json =>
      s"""${ev.value} = $self.parse($json);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FromJsonUtf8 {
  private val Corrupt = "_corrupt_record"

  private val options = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt)

  /** True when Jackson's encoding sniffing reads `bytes[off, off +
    * len)` as UTF-8 without a BOM: a leading `{` and no NUL in the
    * first four bytes. */
  private[functions] def sniffsAsUtf8(bytes: Array[Byte], off: Int, len: Int): Boolean =
    len > 0 && bytes(off) == '{' && (len < 2 || bytes(off + 1) != 0) &&
      (len < 3 || bytes(off + 2) != 0) && (len < 4 || bytes(off + 3) != 0)

  private[functions] def createParser(factory: JsonFactory, record: UTF8String): JsonParser = {
    val bb = record.getByteBuffer
    val off = bb.arrayOffset + bb.position
    if (sniffsAsUtf8(bb.array, off, bb.remaining) && record.isValid)
      factory.createParser(new ByteArrayInputStream(bb.array, off, bb.remaining))
    else CreateJacksonParser.utf8String(factory, record)
  }
}
