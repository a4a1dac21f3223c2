package graft

import java.nio.file.{Files, Paths}

/** Fuzz the document layer end to end: random extended-JSON collections
  * with deliberately conflicting field types, nesting, arrays and every
  * wrapper of the BSON table (plus one payload that does not decode)
  * must always infer a schema, scan fully under permissive
  * mode, and produce a STABLE schema (re-inference agrees with itself).
  * This is the surface the reference hardens case by case (the
  * test/sql/schema suite); the fuzz covers the combinations those
  * examples miss.
  */
class InferenceFuzzSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260812L)
  private val names = Seq("a", "b", "c", "d", "e", "nest", "tag")

  private def hex24(): String =
    (0 until 24).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString

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

  private def value(depth: Int): String = rnd.nextInt(if (depth > 0) 10 else 8) match {
    case 0 => rnd.nextLong().toString
    case 1 => (rnd.nextDouble() * 1000 - 500).toString
    case 2 => "\"s" + rnd.nextInt(100) + "\""
    case 3 => rnd.nextBoolean().toString
    case 4 => "null"
    case 5 => s"""{"$$oid":"${hex24()}"}"""
    case 6 =>
      val d = java.time.Instant.ofEpochMilli(rnd.between(0L, 1900000000000L))
      s"""{"$$date":"$d"}"""
    case 7 => wrapper()
    case 8 => // array of same-depth values (possibly empty / mixed)
      (0 until rnd.nextInt(4)).map(_ => value(depth - 1))
        .mkString("[", ",", "]")
    case 9 => doc(depth - 1) // nested document
  }

  private def doc(depth: Int): String = {
    val n = rnd.nextInt(names.size)
    rnd.shuffle(names).take(n)
      .map(k => s""""$k":${value(depth)}""").mkString("{", ",", "}")
  }

  test("120 random conflicting docs: inference succeeds, permissive scan" +
      " reads every doc, schema is stable across re-inference") {
    val dir = "/tmp/graft_docstore_spec/fuzz"
    Files.createDirectories(Paths.get(dir))
    val docs = (0 until 120).map(_ => doc(2))
    Files.write(Paths.get(s"$dir/docs.jsonl"),
      docs.mkString("", "\n", "\n").getBytes("UTF-8"))

    val df = spark.read.format("docstore").option("path", dir).load()
    assert(df.count() == 120)
    df.collect() // every value must convert (permissive: mismatch → null)
    val again = spark.read.format("docstore").option("path", dir).load()
    assert(again.schema == df.schema, "re-inference disagreed with itself")

    // dropmalformed never yields MORE rows than permissive, failfast
    // either reads all 120 or raises the documented error class
    val dropped = spark.read.format("docstore").option("path", dir)
      .option("schemamode", "dropmalformed").load().count()
    assert(dropped <= 120)
    try {
      spark.read.format("docstore").option("path", dir)
        .option("schemamode", "failfast").load().count()
    } catch {
      case e: Throwable =>
        def chain(t: Throwable): Seq[String] =
          if (t == null) Nil else t.toString +: chain(t.getCause)
        assert(chain(e).exists(_.contains("failfast")),
          s"unexpected failfast error: $e")
    }
  }
}
