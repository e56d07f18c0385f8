package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.{ControlThrowable, NonFatal}

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonToken._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Cast, Coalesce, EvalMode, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.{GenericArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.SessionSchemas

/** The ETL's whole per-record transform as one native Catalyst expression:
  * the UTF-8 bytes of a `user_session` payload to a struct of
  *
  *  - the six session fields,
  *  - `error`: null on a valid record, else its dead-letter class
  *    (`corrupt_json`, `missing_session_id`, `missing_country`,
  *    `missing_browse_history`, `bad_quantity`),
  *  - P2–P4 (`overall_product_quantity`, `overall_in_shopping_cart`,
  *    `total_different_products`) and `data`, the output record, on a
  *    valid record only.
  *
  * One Jackson token pass over the row's bytes ([[SessionDecoder]]), with
  * the semantics of the `from_json` + `aggregate`/`filter`/`forall` plan it
  * replaces (see [[SessionDecoder]]); `isoTimestamp` is the batch's
  * formatted processing time, a string literal that generated code takes
  * by reference, so a later micro-batch reuses the compiled projection.
  * `ansi` fixes the overflow rule of the P2/P3 sums when the expression is
  * built, as `Add` does.
  */
case class SessionDecode(data: Expression, isoTimestamp: Expression,
    ansi: Boolean) extends BinaryExpression
    with ExpectsInputTypes {

  override def left: Expression = data
  override def right: Expression = isoTimestamp
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = SessionDecode.schema
  override def nullable: Boolean = false

  @transient private lazy val decoder = new SessionDecoder(ansi)

  override def eval(input: InternalRow): Any =
    decoder.decode(data.eval(input).asInstanceOf[UTF8String],
      isoTimestamp.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[SessionDecoder].getName
    val decoder = ctx.addMutableState(cls, "sessionDecoder",
      v => s"$v = new $cls($ansi);")
    val d = data.genCode(ctx)
    val ts = isoTimestamp.genCode(ctx)
    ev.copy(code = code"""
      ${d.code}
      ${ts.code}
      final boolean ${ev.isNull} = false;
      final ${CodeGenerator.javaType(dataType)} ${ev.value} = $decoder.decode(
        ${d.isNull} ? null : ${d.value}, ${ts.isNull} ? null : ${ts.value});""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(data = newLeft, isoTimestamp = newRight)
}

object SessionDecode {

  /** The struct [[SessionDecode]] returns. */
  val schema: StructType = StructType(SessionSchemas.session.fields ++ Seq(
      StructField("error", StringType),
      StructField("overall_product_quantity", LongType),
      StructField("overall_in_shopping_cart", LongType),
      StructField("total_different_products", LongType),
      StructField("data", StringType)))

  /** Registers `session_decode(data, iso_timestamp)` (idempotent); the
    * session's `spark.sql.ansi.enabled` at analysis sets the sums'
    * overflow rule.
    */
  def register(spark: SparkSession): Unit =
    FunctionRegistration.tempFunctionOnce(spark, "session_decode", exprs =>
      SessionDecode(exprs(0), exprs(1), SQLConf.get.ansiEnabled))
}

/** `regexp_replace(rtrim(json), "\\}$", "")` as a native expression over
  * [[SessionDecoder.appendWithoutClosingBrace]], the cut [[SessionDecode]]
  * makes before appending the derived fields.
  */
case class WithoutClosingBrace(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    SessionDecoder.withoutClosingBrace(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.SessionDecoder.withoutClosingBrace($s)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object WithoutClosingBrace {
  /** Registers `without_closing_brace` (idempotent). */
  def register(spark: SparkSession): Unit =
    FunctionRegistration.tempFunctionOnce(spark,
      "without_closing_brace", exprs => WithoutClosingBrace(exprs(0)))
}

/** The per-record kernel of [[SessionDecode]]; one instance per task (it
  * keeps scratch buffers), called from generated and interpreted code.
  *
  * It reproduces `from_json(data, session schema, PERMISSIVE with a
  * corrupt-record column)` followed by the derived-attribute and validity
  * expressions it replaces, without building the intermediate row:
  *
  *  - The converter mirrors Spark 4.1's `JacksonParser` for this schema,
  *    call for call: `parseJsonToken` (a `FIELD_NAME` steps to its value,
  *    `null` converts to null), `failedConversion` (finishes a string
  *    token, then fails), last-wins duplicate keys, unknown keys skipped,
  *    and partial results: a field that fails to convert keeps its
  *    previous value and flags the record as corrupt, a failed item field
  *    leaves a partial item in the array, a non-object element fails the
  *    whole `browse_history`. A record whose top level is not an object,
  *    or whose token stream breaks outside a field, converts to all-null
  *    fields; empty or blank input to a null struct.
  *  - A string field that holds a non-string value reads as that value
  *    re-serialized by a Jackson generator (`2.50` → `2.5`, `{"a": 1}` →
  *    `{"a":1}`), as the reader-based parser did.
  *  - `quantity` is `coalesce(try_cast(q AS long),
  *    try_cast(try_cast(q AS double) AS long))` of that string, evaluated
  *    by Spark's own `Cast`; an int or long token is its value directly.
  *  - Validity: a record is dead-lettered iff processing it would raise in
  *    the reference consumer — unparseable JSON (`json.loads`,
  *    consumer.py:118), missing `session_id` (PutRecord partition key,
  *    :170), `country` (routing, :161) or `browse_history` (iteration,
  *    :135), or an item whose quantity is not numeric (`int(...)`, :137).
  *    A null `in_shopping_cart` is valid and not counted (`None is True`
  *    is False, :142). The corrupt flag alone does not dead-letter: a
  *    field-level type mismatch (a string cart flag) flags it, but
  *    `json.loads` accepts such a record, so it counts as `corrupt_json`
  *    only when no required field converted.
  *  - P2 and P3 are summed in item order with `+`'s overflow rule
  *    (`MathUtils.addExact` under ANSI), on valid records only.
  *  - `data` is the payload up to the closing-brace cut
  *    ([[appendWithoutClosingBrace]]) plus the four appended fields, byte
  *    for byte what the reference re-serializes (consumer.py:167-169):
  *    every unmodelled field passes through.
  *
  * The token pass runs over the input bytes (`createParser(byte[], off,
  * len)`). Two inputs take the reader-based parser the old plan used
  * (`InputStreamReader` over the bytes): bytes that are not strict UTF-8,
  * a BOM or a NUL (the reader substitutes U+FFFD, and the byte parser's
  * encoding detection reads zero bytes and BOMs differently), and any
  * record on which Jackson itself reports an error, so that malformed
  * JSON recovers exactly as it did.
  */
final class SessionDecoder(ansi: Boolean) {
  import SessionDecoder._

  // -------- the converted record, as Spark's row would hold it
  private var outcome = NoToken
  private var bad = false // a field failed: the corrupt-record column is set
  private var sessionId: UTF8String = _
  private var customerNumber: java.lang.Long = _
  private var city: UTF8String = _
  private var country: UTF8String = _
  private var creditLimit: java.lang.Long = _
  private var hasItems = false // browse_history is not null
  private var items = new Items
  private var building = new Items

  // the reader pass: Jackson's errors are the record's own
  private var readerPass = false

  // -------- the last quantity converted
  private var qText: UTF8String = _
  private var qNull = true
  private var qValue = 0L

  private val castRow = new GenericInternalRow(1)
  private val quantityCast: Expression = {
    val q = BoundReference(0, StringType, nullable = true)
    Coalesce(Seq(Cast(q, LongType, None, EvalMode.TRY),
      Cast(Cast(q, DoubleType, None, EvalMode.TRY), LongType, None, EvalMode.TRY)))
  }
  private val out = new ByteBuf(256)
  private val width = SessionDecode.schema.length

  def decode(input: UTF8String, iso: UTF8String): InternalRow = {
    val r = new GenericInternalRow(width)
    if (input == null) {
      r.update(width - 5, CorruptJson)
      return r
    }
    val base = input.getBaseObject
    val bytes = base match {
      case b: Array[Byte] => b
      case _ => input.getBytes
    }
    val off =
      if (bytes eq base) (input.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt else 0
    val len = input.numBytes
    parse(bytes, off, len)
    val valid = outcome == Parsed && sessionId != null && country != null &&
      hasItems && items.allQuantities
    r.update(width - 5,
      if (valid) null
      else if (outcome != Parsed ||
        (bad && sessionId == null && country == null && !hasItems)) CorruptJson
      else if (sessionId == null) MissingSessionId
      else if (country == null) MissingCountry
      else if (!hasItems) MissingBrowseHistory
      else BadQuantity)
    if (outcome != Parsed) return r
    r.update(0, sessionId)
    r.update(1, customerNumber)
    r.update(2, city)
    r.update(3, country)
    r.update(4, creditLimit)
    if (hasItems) r.update(5, items.toArrayData)
    if (valid) {
      // aggregate(bh, 0L, (acc, x) -> acc + qty(x)), then the same over
      // filter(bh, x -> x.in_shopping_cart = true)
      var p2 = 0L
      var i = 0
      while (i < items.n) { p2 = add(p2, items.qty(i)); i += 1 }
      var p3 = 0L
      i = 0
      while (i < items.n) {
        if (items.cart(i) == CartTrue) p3 = add(p3, items.qty(i))
        i += 1
      }
      val p4 = items.n.toLong
      r.update(width - 4, p2)
      r.update(width - 3, p3)
      r.update(width - 2, p4)
      if (iso != null) {
        out.reset()
        appendWithoutClosingBrace(bytes, off, len, out)
        out.put(TimestampKey).put(iso).put(Quote)
          .put(QuantityKey).putLong(p2)
          .put(InCartKey).putLong(p3)
          .put(ProductsKey).putLong(p4)
          .put(CloseBrace)
        r.update(width - 1, UTF8String.fromBytes(out.toArray))
      }
    }
    r
  }

  /** One token pass over the bytes, or over the reader when the bytes are
    * not plain UTF-8 or Jackson reports an error on them.
    */
  private def parse(bytes: Array[Byte], off: Int, len: Int): Unit = {
    if (isPlainUtf8(bytes, off, len)) {
      readerPass = false
      val p = Factory.createParser(bytes, off, len)
      try { parseRecord(p); return }
      catch { case Replay => }
      finally p.close()
    }
    readerPass = true
    val p = Factory.createParser(new InputStreamReader(
      new ByteArrayInputStream(bytes, off, len), UTF_8))
    try parseRecord(p) finally p.close()
  }

  private def add(a: Long, b: Long): Long =
    if (ansi) MathUtils.addExact(a, b, null) else a + b

  // ------------------------------------------------ the converter

  /** A Jackson-level error during the byte pass: the record is re-read by
    * the reader-based parser, whose recovery the old plan had.
    */
  private def noteFailure(e: Throwable): Unit =
    if (!readerPass && (e ne ConversionFailed)) throw Replay

  /** `JacksonParser.parse` + `FailureSafeParser` (PERMISSIVE) over the
    * struct root converter.
    */
  private def parseRecord(p: JsonParser): Unit = {
    bad = false
    clearFields()
    try {
      if (p.nextToken() == null) { outcome = NoToken; return }
      val t = valueToken(p)
      if (t == START_OBJECT) {
        convertRoot(p)
        outcome = Parsed
      } else {
        // null → rootConverterReturnNullError, an array →
        // JsonArraysAsStructsException, a scalar → failedConversion
        if (t != null && t != START_ARRAY) failedConversion(p, t)
        throw ConversionFailed
      }
    } catch {
      case NonFatal(e) =>
        noteFailure(e)
        outcome = Corrupt
        clearFields()
    }
  }

  private def clearFields(): Unit = {
    sessionId = null; customerNumber = null; city = null; country = null
    creditLimit = null; hasItems = false
  }

  private def convertRoot(p: JsonParser): Unit =
    while (nextUntil(p, END_OBJECT)) {
      val field = rootField(p.currentName())
      if (field < 0) p.skipChildren()
      else try {
        field match {
          case 0 => sessionId = convertString(p)
          case 1 => customerNumber = convertLong(p)
          case 2 => city = convertString(p)
          case 3 => country = convertString(p)
          case 4 => creditLimit = convertLong(p)
          case _ => convertHistory(p)
        }
      } catch {
        case NonFatal(e) =>
          noteFailure(e)
          bad = true
          p.skipChildren()
      }
    }

  /** `browse_history`: the array converter, committed on return; a
    * partial array (an item field failed) is committed and flags the
    * record.
    */
  private def convertHistory(p: JsonParser): Unit = {
    val t = valueToken(p)
    if (t == null) hasItems = false
    else if (t == START_ARRAY) {
      val partial = convertArray(p, building)
      val committed = building
      building = items
      items = committed
      hasItems = true
      if (partial) bad = true
    } else failedConversion(p, t)
  }

  /** Returns true when an item converted partially. A non-object,
    * non-null element fails the whole array.
    */
  private def convertArray(p: JsonParser, into: Items): Boolean = {
    into.clear()
    var partial = false
    while (nextUntil(p, END_ARRAY)) {
      val t = valueToken(p)
      if (t == null) into.addNull()
      else if (t == START_OBJECT) { if (convertItem(p, into)) partial = true }
      else failedConversion(p, t)
    }
    partial
  }

  /** One `browse_history` struct; returns true when a field failed. */
  private def convertItem(p: JsonParser, into: Items): Boolean = {
    var code: UTF8String = null
    var text: UTF8String = null
    var qtyNull = true
    var qty = 0L
    var cart = CartNull
    var failed = false
    while (nextUntil(p, END_OBJECT)) {
      val field = itemField(p.currentName())
      if (field < 0) p.skipChildren()
      else try {
        field match {
          case 0 => code = convertString(p)
          case 1 =>
            convertQuantity(p)
            text = qText; qtyNull = qNull; qty = qValue
          case _ => cart = convertBoolean(p)
        }
      } catch {
        case NonFatal(e) =>
          noteFailure(e)
          failed = true
          p.skipChildren()
      }
    }
    into.add(code, text, qtyNull, qty, cart)
    failed
  }

  /** The string converter, then the quantity cast. */
  private def convertQuantity(p: JsonParser): Unit = {
    val t = valueToken(p)
    if (t == null) { qText = null; qNull = true }
    else if (t == VALUE_NUMBER_INT && {
        val nt = p.getNumberType
        nt == JsonParser.NumberType.INT || nt == JsonParser.NumberType.LONG }) {
      // what the generator writes for an int or long token, cast back
      qValue = p.getLongValue
      qNull = false
      qText = UTF8String.fromString(java.lang.Long.toString(qValue))
    } else {
      val s =
        if (t == VALUE_STRING) UTF8String.fromString(p.getText) else reserialize(p)
      qText = s
      castRow.update(0, s)
      quantityCast.eval(castRow) match {
        case null => qNull = true
        case v: java.lang.Long => qNull = false; qValue = v
      }
    }
  }

  private def convertString(p: JsonParser): UTF8String = {
    val t = valueToken(p)
    if (t == null) null
    else if (t == VALUE_STRING) UTF8String.fromString(p.getText)
    else reserialize(p)
  }

  private def convertLong(p: JsonParser): java.lang.Long = {
    val t = valueToken(p)
    if (t == null) null
    else if (t == VALUE_NUMBER_INT) java.lang.Long.valueOf(p.getLongValue)
    else failedConversion(p, t)
  }

  private def convertBoolean(p: JsonParser): Int = {
    val t = valueToken(p)
    if (t == null) CartNull
    else if (t == VALUE_TRUE) CartTrue
    else if (t == VALUE_FALSE) CartFalse
    else failedConversion(p, t)
  }

  /** The generator copy Spark's string converter makes of a non-string
    * token (the reader-based parser exposes no raw bytes to copy).
    */
  private def reserialize(p: JsonParser): UTF8String = {
    val bytes = new ByteArrayOutputStream()
    val g = Factory.createGenerator(bytes, JsonEncoding.UTF8)
    try g.copyCurrentStructure(p) finally g.close()
    UTF8String.fromBytes(bytes.toByteArray)
  }
}

object SessionDecoder {
  private final val NoToken = 0
  private final val Corrupt = 1
  private final val Parsed = 2

  private final val CartNull = 0
  private final val CartTrue = 1
  private final val CartFalse = 2

  private val CorruptJson = UTF8String.fromString("corrupt_json")
  private val MissingSessionId = UTF8String.fromString("missing_session_id")
  private val MissingCountry = UTF8String.fromString("missing_country")
  private val MissingBrowseHistory = UTF8String.fromString("missing_browse_history")
  private val BadQuantity = UTF8String.fromString("bad_quantity")

  private def ascii(s: String): Array[Byte] = s.getBytes(UTF_8)
  private val TimestampKey = ascii(", \"processing_timestamp\": \"")
  private val Quote = ascii("\"")
  private val QuantityKey = ascii(", \"overall_product_quantity\": ")
  private val InCartKey = ascii(", \"overall_in_shopping_cart\": ")
  private val ProductsKey = ascii(", \"total_different_products\": ")
  private val CloseBrace = ascii("}")

  /** The factory `from_json` builds from its default options (single
    * quotes and NaN/Infinity allowed, Spark's nesting and length limits).
    */
  private val Factory: JsonFactory = new JSONOptions(Map(
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"),
    "UTC", "").buildJsonFactory()

  /** A conversion that Spark's converter fails (a type mismatch). */
  private object ConversionFailed extends RuntimeException(null, null, false, false)

  /** Leaves the byte pass for the reader-based one. */
  private object Replay extends ControlThrowable

  private def rootField(name: String): Int = name match {
    case "session_id" => 0
    case "customer_number" => 1
    case "city" => 2
    case "country" => 3
    case "credit_limit" => 4
    case "browse_history" => 5
    case _ => -1
  }

  private def itemField(name: String): Int = name match {
    case "product_code" => 0
    case "quantity" => 1
    case "in_shopping_cart" => 2
    case _ => -1
  }

  /** `parseJsonToken`'s prelude: steps over a field name; null for JSON
    * null (and at the end of input).
    */
  private def valueToken(p: JsonParser): JsonToken = {
    var t = p.currentToken()
    while (t == FIELD_NAME) { p.nextToken(); t = p.currentToken() }
    if (t == VALUE_NULL) null else t
  }

  /** `failedConversion`: its guard reads the length of a string token,
    * which finishes (and may fail) the token, then the conversion fails.
    */
  private def failedConversion(p: JsonParser, t: JsonToken): Nothing = {
    if (t == VALUE_STRING) p.getTextLength
    throw ConversionFailed
  }

  private def nextUntil(p: JsonParser, stop: JsonToken): Boolean = {
    val t = p.nextToken()
    t != null && t != stop
  }

  /** True when the byte parser reads `b` exactly as the old reader did:
    * strict UTF-8 (what `InputStreamReader` decodes without U+FFFD: no
    * overlong forms, surrogates or code points past U+10FFFF), no NUL and
    * no leading BOM (both steer Jackson's byte-source encoding detection).
    */
  private[functions] def isPlainUtf8(b: Array[Byte], off: Int, len: Int): Boolean = {
    val end = off + len
    if (len >= 3 && b(off) == 0xEF.toByte && b(off + 1) == 0xBB.toByte &&
      b(off + 2) == 0xBF.toByte) return false
    def cont(i: Int, lo: Int = 0x80, hi: Int = 0xBF): Boolean =
      i < end && (b(i) & 0xFF) >= lo && (b(i) & 0xFF) <= hi
    var i = off
    while (i < end) {
      val c = b(i)
      if (c > 0) i += 1
      else if (c == 0) return false
      else {
        val u = c & 0xFF
        if (u >= 0xC2 && u <= 0xDF) {
          if (!cont(i + 1)) return false
          i += 2
        } else if (u >= 0xE0 && u <= 0xEF) {
          val ok2 = if (u == 0xE0) cont(i + 1, 0xA0) else if (u == 0xED) cont(i + 1, hi = 0x9F)
            else cont(i + 1)
          if (!ok2 || !cont(i + 2)) return false
          i += 3
        } else if (u >= 0xF0 && u <= 0xF4) {
          val ok2 = if (u == 0xF0) cont(i + 1, 0x90) else if (u == 0xF4) cont(i + 1, hi = 0x8F)
            else cont(i + 1)
          if (!ok2 || !cont(i + 2) || !cont(i + 3)) return false
          i += 4
        } else return false
      }
    }
    true
  }

  /** UTF-8 of the line terminators before which Java's `$` also matches at
    * the end of the input: `\n`, `\r\n`, `\r`, U+0085, U+2028, U+2029.
    */
  private val FinalTerminators: Array[Array[Byte]] =
    Array("\n", "\r\n", "\r", "\u0085", "\u2028", "\u2029").map(ascii)

  /** Appends `regexp_replace(rtrim(json), "\\}$", "")` of `b[off, off +
    * len)`: trailing spaces go, then a `}` that ends the rest, or precedes
    * one final line terminator (which stays), is cut.
    */
  def appendWithoutClosingBrace(b: Array[Byte], off: Int, len: Int, out: ByteBuf): Unit = {
    var end = off + len
    while (end > off && b(end - 1) == ' ') end -= 1
    var brace = -1
    if (end > off && b(end - 1) == '}') brace = end - 1
    else {
      var k = 0
      while (brace < 0 && k < FinalTerminators.length) {
        val t = FinalTerminators(k)
        val at = end - t.length - 1
        if (at >= off && b(at) == '}' && {
            var j = 0
            while (j < t.length && b(at + 1 + j) == t(j)) j += 1
            j == t.length
          }) brace = at
        k += 1
      }
    }
    if (brace < 0) out.put(b, off, end - off)
    else out.put(b, off, brace - off).put(b, brace + 1, end - brace - 1)
  }

  def withoutClosingBrace(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val out = new ByteBuf(bytes.length)
    appendWithoutClosingBrace(bytes, 0, bytes.length, out)
    UTF8String.fromBytes(out.toArray)
  }

  /** A growable byte buffer, reused across records. */
  final class ByteBuf(initial: Int) {
    private var buf = new Array[Byte](math.max(initial, 16))
    private var size = 0

    def reset(): Unit = size = 0
    private def ensure(extra: Int): Unit =
      if (size + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, size + extra))
    def put(b: Array[Byte], off: Int, len: Int): ByteBuf = {
      ensure(len)
      System.arraycopy(b, off, buf, size, len)
      size += len
      this
    }
    def put(b: Array[Byte]): ByteBuf = put(b, 0, b.length)
    def put(s: UTF8String): ByteBuf = {
      val n = s.numBytes
      ensure(n)
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + size)
      size += n
      this
    }
    /** `CAST(v AS STRING)` of a long. */
    def putLong(v: Long): ByteBuf = put(ascii(java.lang.Long.toString(v)))
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, size)
  }

  /** The elements of one `browse_history` array, reused across records. */
  private final class Items {
    var n = 0
    var allQuantities = true // no null element, no null quantity
    var qty = new Array[Long](8)
    var cart = new Array[Int](8)
    var elems = new Array[AnyRef](8) // the item rows

    def clear(): Unit = {
      java.util.Arrays.fill(elems, 0, n, null)
      n = 0
      allQuantities = true
    }
    private def grow(): Unit = if (n == qty.length) {
      qty = java.util.Arrays.copyOf(qty, n * 2)
      cart = java.util.Arrays.copyOf(cart, n * 2)
      elems = java.util.Arrays.copyOf(elems, n * 2)
    }
    def addNull(): Unit = {
      grow()
      allQuantities = false
      elems(n) = null
      n += 1
    }
    def add(code: UTF8String, text: UTF8String, qtyNull: Boolean, q: Long,
        c: Int): Unit = {
      grow()
      if (qtyNull) allQuantities = false
      qty(n) = q
      cart(n) = c
      elems(n) = new GenericInternalRow(Array[Any](code, text,
        if (c == CartNull) null else java.lang.Boolean.valueOf(c == CartTrue)))
      n += 1
    }
    def toArrayData: GenericArrayData =
      new GenericArrayData(java.util.Arrays.copyOf(elems, n).asInstanceOf[Array[Any]])
  }
}
