package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocValue, ExtJson, SchemaInference}

class SchemaInferenceSpec extends AnyFunSuite {
  import DocValue._

  private def infer(lines: String*): StructType =
    SchemaInference.infer(lines.map(ExtJson.parse))

  private def tpe(s: StructType, name: String): DataType =
    s(s.fieldIndex(name)).dataType

  test("basic scalar mapping (BSON rules)") {
    val s = infer(
      """{"s":"x","i":{"$numberInt":"1"},"l":{"$numberLong":"5"},"d":1.5,
        |"dec":{"$numberDecimal":"2.5"},"b":true,
        |"oid":{"$oid":"64de1f00c0ffee0000000001"},
        |"bin":{"$binary":{"base64":"AQID","subType":"00"}}}""".stripMargin
        .replaceAll("\n", ""))
    assert(tpe(s, "s") == StringType)
    assert(tpe(s, "i") == LongType)   // Int32 → BIGINT
    assert(tpe(s, "l") == LongType)
    assert(tpe(s, "d") == DoubleType)
    assert(tpe(s, "dec") == DoubleType) // Decimal128 → DOUBLE
    assert(tpe(s, "b") == BooleanType)
    assert(tpe(s, "oid") == StringType) // ObjectId → VARCHAR
    assert(tpe(s, "bin") == BinaryType)
  }

  test("numeric widening Long ⊔ Double = Double") {
    val s = infer("""{"x":1}""", """{"x":1.5}""")
    assert(tpe(s, "x") == DoubleType)
  }

  test("null refined by later concrete type") {
    val s = infer("""{"x":null}""", """{"x":"later"}""")
    assert(tpe(s, "x") == StringType)
    val onlyNull = infer("""{"x":null}""")
    assert(tpe(onlyNull, "x") == StringType) // never-typed → VARCHAR
  }

  test("irreconcilable types fall back to String") {
    val s = infer("""{"x":true}""", """{"x":7}""")
    assert(tpe(s, "x") == StringType)
  }

  test("all-midnight dates become DateType, else TimestampType") {
    val d = infer("""{"t":{"$date":"2024-03-01T00:00:00.000Z"}}""",
      """{"t":{"$date":"2024-04-01T00:00:00.000Z"}}""")
    assert(tpe(d, "t") == DateType)
    val ts = infer("""{"t":{"$date":"2024-03-01T00:00:00.000Z"}}""",
      """{"t":{"$date":"2024-04-01T08:30:00.000Z"}}""")
    assert(tpe(ts, "t") == TimestampType)
  }

  test("nested document flattens to parent_child columns") {
    val s = infer("""{"user":{"id":1,"geo":{"cc":"US"}},"v":2}""")
    assert(s.fieldNames.toSet == Set("user_id", "user_geo_cc", "v"))
  }

  test("flatten=false maps Document to JSON VARCHAR") {
    val s = SchemaInference.infer(
      Seq(ExtJson.parse("""{"user":{"id":1},"v":2}""")), flatten = false)
    assert(tpe(s, "user") == StringType)
    assert(tpe(s, "v") == LongType)
  }

  test("arrays: primitive, struct, unify across docs") {
    val s = infer("""{"a":[1,2],"ad":[{"x":1}]}""", """{"a":[2.5],"ad":[{"x":2,"y":"s"}]}""")
    assert(tpe(s, "a") == ArrayType(DoubleType, containsNull = true))
    tpe(s, "ad") match {
      case ArrayType(st: StructType, _) =>
        assert(st.fieldNames.toSet == Set("x", "y"))
        assert(st("x").dataType == LongType)
        assert(st("y").dataType == StringType)
      case other => fail(s"expected array<struct>, got $other")
    }
  }

  test("case-variant fields dedupe case-insensitively (reference issue #35)") {
    // Doc fields are case-sensitive; Spark columns are not. Two variants
    // must yield ONE column (first variant kept), not an ambiguous pair.
    val s = infer("""{"case_data":{"clientFullname":"a"}}""",
      """{"case_data":{"ClientFullname":"b"}}""")
    assert(s.fieldNames.toSeq == Seq("case_data_clientFullname"))
    // flatten collision: literal `a_b` field vs nested `a.b` path
    val s2 = infer("""{"a_b":1}""", """{"a":{"b":2}}""")
    assert(s2.fieldNames.toSeq == Seq("a_b"))
  }

  test("empty sample yields empty schema (empty-collection edge case)") {
    assert(SchemaInference.infer(Seq.empty).isEmpty)
  }

  test("extended-json render round-trips") {
    val doc = """{"_id":{"$oid":"64de1f00c0ffee0000000001"},"n":7,"s":"x","b":true,"arr":[1,{"k":"v"}]}"""
    assert(ExtJson.render(ExtJson.parse(doc)) == doc)
  }
}
