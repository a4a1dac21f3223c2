package graft.sources

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.lang.{StringBuilder => JStringBuilder}
import java.time.{DateTimeException, Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Base64

/** Document value model for the docstore source.
  *
  * The reference reads BSON documents from MongoDB
  * (reference: src/mongo_table_function.cpp:1); this environment has no
  * Mongo server, so collections are JSONL files in MongoDB *extended
  * JSON* — the public canonical text encoding of BSON. `DocValue` is the
  * parsed form sampling, inference and both Mongo compilers consume,
  * mirroring the reference's BSON value walk
  * (reference: src/mongo_schema_inference.cpp:1). [[ExtJson]] owns the
  * BSON↔Spark mapping (the reference's README "BSON Type Mapping"):
  * the scan decodes wrapper payloads with its `decode`, the sink writes
  * leaves with its encoders, and the compilers take their literals and
  * `$type` names from it.
  *
  * Extended-JSON wrappers recognized (public Mongo spec), each a
  * single-key object: `$oid $date $numberInt $numberLong $numberDouble
  * $numberDecimal $binary $regularExpression $code $timestamp $minKey
  * $maxKey $undefined`. `$binary` takes the canonical
  * `{"base64": …, "subType": …}` payload or the relaxed base64 string;
  * the legacy two-key `{"$binary": …, "$type": "00"}` form is not a
  * wrapper and reads as a plain document.
  */
sealed trait DocValue
object DocValue {
  case object DNull extends DocValue
  final case class DBool(v: Boolean) extends DocValue
  final case class DLong(v: Long) extends DocValue // Int32 + Int64 → BIGINT
  final case class DDouble(v: Double) extends DocValue // Double + Decimal128 → DOUBLE
  final case class DString(v: String) extends DocValue
  /** micros since epoch (BSON Date). */
  final case class DTimestamp(micros: Long) extends DocValue
  final case class DObjectId(hex: String) extends DocValue
  final case class DBinary(bytes: Array[Byte]) extends DocValue
  final case class DArray(items: Seq[DocValue]) extends DocValue
  final case class DDoc(fields: Seq[(String, DocValue)]) extends DocValue {
    lazy val map: Map[String, DocValue] = fields.toMap
  }
}

object ExtJson {
  import DocValue._

  /** The one document parser of sampling and the scan: content after the
    * document makes a line malformed (`{"n":1}{"n":2}` is not one row). */
  private[graft] val mapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val isoFmt = DateTimeFormatter.ISO_OFFSET_DATE_TIME
  private final val MicrosPerDay = 86400000000L

  /** Parse one JSONL line into a document. Throws on malformed input —
    * schema-mode handling (permissive / dropmalformed / failfast,
    * reference: src/mongo_schema_inference.cpp schema_mode) is the
    * caller's job.
    */
  def parse(line: String): DDoc = fromNode(mapper.readTree(line)) match {
    case d: DDoc => d
    case other   => throw new IllegalArgumentException(s"not a document: $other")
  }

  def fromNode(n: JsonNode): DocValue = n match {
    case _: NullNode | _: MissingNode => DNull
    case b: BooleanNode               => DBool(b.booleanValue())
    case num: NumericNode =>
      if (num.isIntegralNumber) DLong(num.longValue()) else DDouble(num.doubleValue())
    case t: TextNode => DString(t.textValue())
    case a: ArrayNode =>
      val b = Seq.newBuilder[DocValue]
      a.forEach(e => b += fromNode(e))
      DArray(b.result())
    case o: ObjectNode =>
      val tag = wrapperTag(o)
      val w = if (tag == null) null else decode(tag, o)
      if (w != null) w
      else {
        val b = Seq.newBuilder[(String, DocValue)]
        o.fields().forEachRemaining(e => b += e.getKey -> fromNode(e.getValue))
        DDoc(b.result())
      }
    case other => DString(other.toString)
  }

  /** The tag of an extended-JSON wrapper (a single-key object whose key
    * starts with '$'), else null. */
  def wrapperTag(o: ObjectNode): String =
    if (o.size() != 1) null
    else {
      val k = o.fieldNames().next()
      if (k.startsWith("$")) k else null
    }

  /** The value of wrapper `o`, whose tag is `tag`; null for a tag outside
    * the table, which makes `o` a plain document. Throws
    * `IllegalArgumentException` when the payload does not decode. */
  def decode(tag: String, o: ObjectNode): DocValue = {
    val v = o.get(tag)
    try tag match {
      case "$oid"                             => DObjectId(v.asText())
      case "$date"                            => DTimestamp(dateMicros(v))
      case "$numberInt" | "$numberLong"       => DLong(v.asText().toLong)
      case "$numberDouble" | "$numberDecimal" => DDouble(v.asText().toDouble)
      case "$binary" => v match {
        case t: TextNode => DBinary(Base64.getDecoder.decode(t.textValue()))
        case p: ObjectNode if p.has("base64") =>
          DBinary(Base64.getDecoder.decode(p.get("base64").asText()))
        case _ => throw new IllegalArgumentException("no base64 payload")
      }
      case "$regularExpression" | "$code" | "$timestamp" | "$minKey" |
          "$maxKey" => // reference maps these all to VARCHAR
        DString(o.toString)
      case "$undefined" => DNull
      case _ => null
    } catch {
      case e @ (_: ArithmeticException | _: DateTimeException) =>
        throw new IllegalArgumentException(s"$tag: ${e.getMessage}", e)
    }
  }

  /** A `$date` payload (ISO-8601 text, or epoch millis as a number or a
    * `$numberLong`) as micros since epoch; out of Long range throws. */
  private def dateMicros(v: JsonNode): Long = v match {
    case t: TextNode =>
      val i = Instant.from(isoFmt.parse(t.textValue()))
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    case n: NumericNode if n.canConvertToLong => Math.multiplyExact(n.longValue(), 1000L)
    case o: ObjectNode if o.has("$numberLong") =>
      Math.multiplyExact(o.get("$numberLong").asText().toLong, 1000L)
    case _ => throw new IllegalArgumentException(s"not a date payload: $v")
  }

  /** A scalar as the Catalyst literal both Mongo compilers compare with:
    * an ObjectId as its 24-hex text, a date as a TIMESTAMP. */
  def literal(v: DocValue): Literal = v match {
    case DNull          => Literal(null)
    case DBool(b)       => Literal(b)
    case DLong(l)       => Literal(l)
    case DDouble(d)     => Literal(d)
    case DString(s)     => Literal(s)
    case DObjectId(hex) => Literal(hex)
    case DTimestamp(us) => Literal(us, TimestampType)
    case DBinary(b)     => Literal(b)
    case other => throw new IllegalArgumentException(s"unsupported literal $other")
  }

  /** Mongo's `$type` name of a Spark type: the BSON table read backwards. */
  def typeName(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType      => "int"
    case LongType                                => "long"
    case FloatType | DoubleType                  => "double"
    case _: DecimalType                          => "decimal"
    case _: StringType                           => "string"
    case BooleanType                             => "bool"
    case TimestampType | TimestampNTZType | DateType => "date"
    case _: ArrayType                            => "array"
    case _: StructType | _: MapType              => "object"
    case BinaryType                              => "binData"
    case other                                   => other.catalogString
  }

  /** The `$type` of a value: "null" for a null, else its column's name. */
  def typeOf(c: Expression): Expression = If(IsNull(c), Literal("null"), MongoTypeName(c))

  /** Whether a `$type` name is numeric: the `number` alias. */
  def isNumber(typeName: Expression): Expression =
    In(typeName, Seq("int", "long", "double", "decimal").map(Literal(_)))

  /** Serialize a DocValue back to extended JSON. */
  def render(v: DocValue): String = {
    val sb = new JStringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: JStringBuilder, v: DocValue): Unit = v match {
    case DNull          => sb.append("null")
    case DBool(b)       => sb.append(b)
    case DLong(l)       => sb.append(l)
    case DDouble(d)     => writeDouble(sb, d)
    case DString(s)     => quote(sb, s)
    case DObjectId(hex) => quote(sb.append("{\"$oid\":"), hex).append('}')
    case DTimestamp(us) => writeDate(sb, us)
    case DBinary(b)     => writeBinary(sb, b)
    case DArray(items) =>
      sb.append('[')
      items.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case DDoc(fields) =>
      sb.append('{')
      fields.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(sb, k).append(':')
        write(sb, x)
      }
      sb.append('}')
  }

  /** A double; NaN and ±Infinity as canonical `{"$numberDouble": …}`. */
  def writeDouble(sb: JStringBuilder, d: Double): JStringBuilder =
    if (d.isNaN || d.isInfinite) sb.append("{\"$numberDouble\":\"").append(d).append("\"}")
    else sb.append(d)

  /** Micros since epoch as `{"$date": ISO-8601 text}`. */
  def writeDate(sb: JStringBuilder, micros: Long): JStringBuilder = {
    val i = Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L)
    sb.append("{\"$date\":\"").append(isoFmt.format(i.atOffset(ZoneOffset.UTC))).append("\"}")
  }

  /** A DATE (days since epoch) as its midnight-UTC `$date`. */
  def writeDay(sb: JStringBuilder, days: Int): JStringBuilder =
    writeDate(sb, days * MicrosPerDay)

  def writeBinary(sb: JStringBuilder, b: Array[Byte]): JStringBuilder =
    sb.append("{\"$binary\":{\"base64\":\"").append(Base64.getEncoder.encodeToString(b))
      .append("\",\"subType\":\"00\"}}")

  /** `s` as a JSON string literal. */
  def quote(s: String): String = quote(new JStringBuilder, s).toString

  def quote(sb: JStringBuilder, s: String): JStringBuilder = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** True if the timestamp is exactly midnight UTC — the reference's
    * Date-vs-Timestamp rule (README "BSON Type Mapping": Date → DATE if
    * the time component is 00:00:00 UTC, else TIMESTAMP). */
  def isMidnightUtc(micros: Long): Boolean = micros % MicrosPerDay == 0

  def epochDay(micros: Long): Int =
    LocalDate.ofInstant(Instant.ofEpochSecond(micros / 1000000L), ZoneOffset.UTC)
      .toEpochDay.toInt
}

/** [[ExtJson.typeName]] of the child's type as a non-null string constant.
  *
  * Spark's own `TypeOf` splices its type name into the generated Java
  * UNQUOTED, so any plan compiled before ConstantFolding has collapsed it
  * (eager expression-evaluation paths, spec harnesses) fails codegen and
  * falls back to the interpreter. The name is fixed once the child
  * resolves, so this expression emits a bound constant reference instead
  * — and, being foldable, still collapses to a plain Literal in optimized
  * plans. The child is never evaluated.
  */
case class MongoTypeName(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  private def name = UTF8String.fromString(ExtJson.typeName(child.dataType))
  override def eval(input: InternalRow): Any = name
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("typeName", name)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(ref, dataType))
  }
  override protected def withNewChildInternal(c: Expression): MongoTypeName =
    copy(child = c)
  override def prettyName: String = "mongo_type_name"
}
