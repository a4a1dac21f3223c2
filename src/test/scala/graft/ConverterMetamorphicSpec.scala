package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import scala.jdk.CollectionConverters._

/** Metamorphic check of the streaming docstore converter: a document's
  * rows may not depend on how its JSON is laid out. Random conflicting
  * documents (InferenceFuzzSpec's grammar with the whole wrapper table,
  * plus strings that need escapes) are written twice — as generated, and re-serialised with
  * random whitespace, shuffled key order and some string characters
  * spelled as `\\uXXXX` escapes. Under one schema, both collections must
  * scan to the same rows in every schema mode, for the whole schema, for
  * each column alone, and under a pushed string equality (which the byte
  * prefilter serves on the plain form only). A value read as JSON text
  * keeps its document's key order, so rows compare with sorted keys.
  */
class ConverterMetamorphicSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20261019L)
  private val names = Seq("a", "b", "c", "d", "e", "nest", "tag", "nest_a")
  private val mapper = new ObjectMapper()

  private def hex24(): String =
    (0 until 24).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString

  private def str(): String = mapper.writeValueAsString(
    Seq("s" + rnd.nextInt(20), "é" + rnd.nextInt(3), "q\"" + rnd.nextInt(3),
      "tab\t", "k3", "")(rnd.nextInt(6)))

  /** The rest of the wrapper table, and one payload that does not decode. */
  private def wrapper(): String = rnd.nextInt(13) match {
    case 0 => s"""{"$$numberInt":"${rnd.nextInt()}"}"""
    case 1 => s"""{"$$numberLong":"${rnd.nextLong()}"}"""
    case 2 => s"""{"$$numberDouble":"${rnd.nextDouble() * 100}"}"""
    case 3 => """{"$numberDouble":"NaN"}"""
    case 4 => s"""{"$$numberDecimal":"${rnd.nextInt(1000)}.25"}"""
    case 5 => s"""{"$$date":{"$$numberLong":"${86400000L * rnd.nextInt(20000)}"}}"""
    case 6 => s"""{"$$date":${rnd.between(0L, 1900000000000L)}}"""
    case 7 => """{"$binary":{"base64":"AQI=","subType":"00"}}"""
    case 8 => """{"$binary":"AQID"}"""
    case 9 => """{"$undefined":true}"""
    case 10 => """{"$regularExpression":{"pattern":"^a","options":"i"}}"""
    case 11 => s"""{"$$timestamp":{"t":${rnd.nextInt(1000)},"i":1}}"""
    case 12 => """{"$numberLong":"x"}"""
  }

  private def value(depth: Int): String = rnd.nextInt(if (depth > 0) 11 else 9) match {
    case 0 => rnd.nextLong().toString
    case 1 => (rnd.nextDouble() * 1000 - 500).toString
    case 2 => str()
    case 3 => rnd.nextBoolean().toString
    case 4 => "null"
    case 5 => s"""{"$$oid":"${hex24()}"}"""
    case 6 =>
      val d = java.time.Instant.ofEpochMilli(rnd.between(0L, 1900000000000L))
      s"""{"$$date":"$d"}"""
    case 7 => str()
    case 8 => wrapper()
    case 9 => (0 until rnd.nextInt(4)).map(_ => value(depth - 1)).mkString("[", ",", "]")
    case 10 => doc(depth - 1)
  }

  private def doc(depth: Int): String =
    rnd.shuffle(names).take(rnd.nextInt(names.size))
      .map(k => s""""$k":${value(depth)}""").mkString("{", ",", "}")

  private def ws(): String = Seq("", "", " ", "  ", "\t", " \t ")(rnd.nextInt(6))

  private def quoted(s: String): String = {
    val plain = mapper.writeValueAsString(s)
    if (rnd.nextBoolean()) plain
    else "\"" + s.map(ch => if (rnd.nextInt(3) == 0) f"\\u${ch.toInt}%04x"
      else mapper.writeValueAsString(ch.toString).drop(1).dropRight(1)).mkString + "\""
  }

  /** `n` written again: same values, different bytes. */
  private def reserialise(n: JsonNode): String =
    if (n.isObject) {
      val fields = rnd.shuffle(n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq)
      fields.map { case (k, v) => s"${ws()}${quoted(k)}${ws()}:${ws()}${reserialise(v)}${ws()}" }
        .mkString("{", ",", "}")
    } else if (n.isArray)
      n.elements().asScala.map(v => ws() + reserialise(v) + ws()).mkString("[", ",", "]")
    else if (n.isTextual) quoted(n.textValue())
    else n.toString

  private def write(name: String, lines: Seq[String]): String = {
    val dir = s"/tmp/graft_docstore_spec/metamorphic/$name"
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/docs.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    dir
  }

  /** `n` with every object's keys sorted. */
  private def canonical(n: JsonNode): String =
    if (n.isObject) n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq.sortBy(_._1)
      .map { case (k, v) => mapper.writeValueAsString(k) + ":" + canonical(v) }
      .mkString("{", ",", "}")
    else if (n.isArray) n.elements().asScala.map(canonical).mkString("[", ",", "]")
    else n.toString

  /** The rows as text. A document read as JSON text (the VARCHAR
    * fallback) keeps its key order, so its keys are sorted here. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case s: String if s.startsWith("{") || s.startsWith("[") => canonical(mapper.readTree(s))
      case v => v
    }.toString).toSeq.sorted

  test("whitespace, key order and escapes do not change the rows of any scan") {
    val docs = (0 until 200).map(_ => doc(2))
    val plainDir = write("plain", docs)
    val otherDir = write("reserialised", docs.map(d => reserialise(mapper.readTree(d))))
    val schema = spark.read.format("docstore").option("path", plainDir)
      .option("samplesize", "1000").load().schema
    assert(schema.nonEmpty)
    def read(dir: String, mode: String) = spark.read.format("docstore").schema(schema)
      .option("path", dir).option("schemamode", mode).load()
    // nesting flattens to over a hundred columns: project a sample of them
    val columns = rnd.shuffle(schema.fieldNames.toSeq).take(12)
    val strings = rnd.shuffle(schema.fields.filter(_.dataType == StringType).map(_.name).toSeq).take(4)
    assert(strings.nonEmpty)

    for (mode <- Seq("permissive", "dropmalformed", "failfast")) {
      val queries: Seq[(String, DataFrame => DataFrame)] =
        ("all" -> ((d: DataFrame) => d)) +:
          (columns.map(c => s"col $c" -> ((d: DataFrame) => d.select(c))) ++
            strings.flatMap(c => Seq("s0", "é1", "k3", "q\"2", "tab\t").map(v =>
              s"$c = '$v'" -> ((d: DataFrame) => d.filter(col(c) === v)))))
      for ((what, q) <- queries) {
        def run(dir: String): Either[String, Seq[String]] =
          try Right(rows(q(read(dir, mode))))
          catch { case e: Exception if mode == "failfast" =>
            Left(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .exists(t => String.valueOf(t.getMessage).contains("docstore failfast")).toString)
          }
        assert(run(plainDir) == run(otherDir), s"$mode / $what")
      }
    }
  }
}
