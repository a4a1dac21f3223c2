package graft.sources

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node._

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Base64

/** Document value model for the docstore source.
  *
  * The reference reads BSON documents from MongoDB
  * (reference: src/mongo_table_function.cpp:1); this environment has no
  * Mongo server, so collections are JSONL files in MongoDB *extended
  * JSON* — the public canonical text encoding of BSON. `DocValue` is the
  * parsed form every other layer (inference, row conversion, filter
  * evaluation) consumes, mirroring the reference's BSON value walk
  * (reference: src/mongo_schema_inference.cpp:1).
  *
  * Extended-JSON wrappers recognized (public Mongo spec):
  * `$oid $date $numberInt $numberLong $numberDouble $numberDecimal
  * $binary $regularExpression $code $timestamp $minKey $maxKey
  * $undefined` — each mapped per the reference's README "BSON Type
  * Mapping" table.
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
  private[sources] val mapper =
    new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val isoFmt = DateTimeFormatter.ISO_OFFSET_DATE_TIME

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
    case o: ObjectNode => fromObject(o)
    case other => DString(other.toString)
  }

  private def fromObject(o: ObjectNode): DocValue = {
    val names = {
      val b = Seq.newBuilder[String]
      o.fieldNames().forEachRemaining(b += _)
      b.result()
    }
    // Extended-JSON type wrappers are single-key objects whose key starts
    // with '$' (plus $binary's two-key payload form).
    if (names.size == 1 && names.head.startsWith("$")) {
      val key = names.head
      val v = o.get(key)
      key match {
        case "$oid" => DObjectId(v.asText())
        case "$date" =>
          v match {
            case t: TextNode =>
              DTimestamp(Instant.from(isoFmt.parse(t.textValue())).toEpochMilli * 1000L +
                Instant.from(isoFmt.parse(t.textValue())).getNano / 1000 % 1000)
            case obj: ObjectNode if obj.has("$numberLong") =>
              DTimestamp(obj.get("$numberLong").asText().toLong * 1000L) // millis → micros
            case num: NumericNode => DTimestamp(num.longValue() * 1000L)
            case other => DString(other.toString)
          }
        case "$numberInt" | "$numberLong" => DLong(v.asText().toLong)
        case "$numberDouble" | "$numberDecimal" => DDouble(v.asText().toDouble)
        case "$binary" =>
          v match {
            case obj: ObjectNode if obj.has("base64") =>
              DBinary(Base64.getDecoder.decode(obj.get("base64").asText()))
            case t: TextNode => DBinary(Base64.getDecoder.decode(t.textValue()))
            case other => DString(other.toString)
          }
        case "$regularExpression" | "$code" | "$timestamp" | "$minKey" |
            "$maxKey" => // reference maps these all to VARCHAR
          DString(o.toString)
        case "$undefined" => DNull
        case _ => // unknown $-key: treat as a plain nested doc
          DDoc(names.map(f => f -> fromNode(o.get(f))))
      }
    } else {
      DDoc(names.map(f => f -> fromNode(o.get(f))))
    }
  }

  /** Serialize a DocValue back to extended JSON (used by tests and the
    * parquet→docstore doc generator). */
  def render(v: DocValue): String = v match {
    case DNull          => "null"
    case DBool(b)       => b.toString
    case DLong(l)       => l.toString
    case DDouble(d)     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case DString(s)     => quote(s)
    case DObjectId(hex) => s"""{"$$oid":${quote(hex)}}"""
    case DTimestamp(us) =>
      val i = Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
      s"""{"$$date":${quote(i.atOffset(ZoneOffset.UTC).format(isoFmt))}}"""
    case DBinary(b) =>
      s"""{"$$binary":{"base64":${quote(Base64.getEncoder.encodeToString(b))},"subType":"00"}}"""
    case DArray(items) => items.map(render).mkString("[", ",", "]")
    case DDoc(fields) =>
      fields.map { case (k, fv) => s"${quote(k)}:${render(fv)}" }.mkString("{", ",", "}")
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** True if the timestamp is exactly midnight UTC — the reference's
    * Date-vs-Timestamp rule (README "BSON Type Mapping": Date → DATE if
    * the time component is 00:00:00 UTC, else TIMESTAMP). */
  def isMidnightUtc(micros: Long): Boolean = micros % 86400000000L == 0

  def epochDay(micros: Long): Int =
    LocalDate.ofInstant(Instant.ofEpochSecond(micros / 1000000L), ZoneOffset.UTC)
      .toEpochDay.toInt
}
