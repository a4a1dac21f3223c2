package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Property-based parity: for random collections and random predicates,
  * the docstore scan WITH pushdown must return exactly the rows a native
  * in-memory DataFrame filter returns. Spark trusts a source's accepted
  * pushFilters, which the docstore reader runs as a Catalyst predicate
  * translated from each `sources.Filter` (`DocstoreFilters`); a wrong
  * translation would silently drop or leak rows, which no example-based
  * test reliably catches. The aggregate and TopN properties check the
  * reader's in-split `$group` and bounded heap the same way.
  */
class FilterParitySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/tmp/graft_docstore_spec/filter_parity"

  // ~200 docs with nulls, missing fields, negatives, ties, and strings
  // with shared prefixes — the regions where comparison bugs live
  private lazy val rows: Seq[(java.lang.Long, java.lang.Double, String)] = {
    val seed0 = rng.Seed(42L)
    (0 until 200).map { i =>
      val a: java.lang.Long =
        if (i % 7 == 0) null else java.lang.Long.valueOf((i % 11) - 5L)
      val b: java.lang.Double =
        if (i % 13 == 0) null else java.lang.Double.valueOf((i % 17) * 0.5 - 3.0)
      val s = if (i % 5 == 0) null else s"pre${i % 4}_${i % 3}"
      (a, b, s)
    }
  }

  private lazy val (docDf, scanDf): (DataFrame, DataFrame) = {
    Files.createDirectories(Paths.get(dir))
    val lines = rows.map { case (a, b, s) =>
      val fs = Seq(
        Option(a).map(v => s""""a":$v"""),
        Option(b).map(v => s""""b":$v"""),
        Option(s).map(v => s""""s":"$v"""")).flatten
      fs.mkString("{", ",", "}")
    }
    Files.write(Paths.get(s"$dir/docs.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val mem = rows.toDF("a", "b", "s")
    val scan = spark.read.format("docstore").option("path", dir).load()
      .select(col("a"), col("b"), col("s")) // align column order
    (mem, scan)
  }

  private def leafGen: Gen[Column] = Gen.oneOf(
    Gen.choose(-6L, 6L).map(v => col("a") === v),
    Gen.choose(-6L, 6L).map(v => col("a") > v),
    Gen.choose(-6L, 6L).map(v => col("a") <= v),
    Gen.choose(-4.0, 6.0).map(v => col("b") >= v),
    Gen.choose(-4.0, 6.0).map(v => col("b") < v),
    Gen.oneOf("pre0_0", "pre1_2", "pre3_1", "zzz").map(v => col("s") === v),
    Gen.oneOf("pre0", "pre1", "q").map(v => col("s").startsWith(v)),
    Gen.oneOf("0", "2", "_1").map(v => col("s").endsWith(v)),
    Gen.oneOf("e1", "xx").map(v => col("s").contains(v)),
    Gen.listOfN(3, Gen.choose(-6L, 6L)).map(vs => col("a").isin(vs: _*)),
    Gen.const(col("a").isNull),
    Gen.const(col("s").isNotNull))

  private def predGen(depth: Int): Gen[Column] =
    if (depth == 0) leafGen
    else Gen.frequency(
      3 -> leafGen,
      2 -> Gen.zip(predGen(depth - 1), predGen(depth - 1)).map(t => t._1 && t._2),
      2 -> Gen.zip(predGen(depth - 1), predGen(depth - 1)).map(t => t._1 || t._2),
      1 -> predGen(depth - 1).map(p => !p))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("pushed docstore filtering == native DataFrame filtering " +
      "(60 random predicates, depth ≤ 2)") {
    val seed = rng.Seed(20260812L)
    var s = seed
    var checked = 0
    while (checked < 60) {
      val p = predGen(2).pureApply(Gen.Parameters.default, s)
      s = s.next
      val expected = canon(docDf.filter(p))
      val got = canon(scanDf.filter(p))
      assert(got == expected,
        s"divergence on predicate ${p.toString}\n got=$got\n exp=$expected")
      checked += 1
    }
  }

  test("pushed docstore aggregation == native aggregation " +
      "(filtered group-aggs; b is exact in binary so sums are order-free)") {
    val aggSets: Seq[Seq[Column]] = Seq(
      Seq(count(lit(1)).as("n")),
      Seq(sum(col("a")).as("sa"), count(lit(1)).as("n")),
      Seq(min(col("a")).as("mna"), max(col("a")).as("mxa")),
      Seq(sum(col("b")).as("sb"), min(col("b")).as("mnb")),
      Seq(max(col("s")).as("mxs"), count(lit(1)).as("n")))
    val seed = rng.Seed(77L)
    var s = seed
    for (aggs <- aggSets; useFilter <- Seq(false, true)) {
      val p = leafGen.pureApply(Gen.Parameters.default, s)
      s = s.next
      def run(df: DataFrame): Seq[String] = {
        val base = if (useFilter) df.filter(p) else df
        canon(base.groupBy(col("s")).agg(aggs.head, aggs.tail: _*))
      }
      val expected = run(docDf)
      val got = run(scanDf)
      assert(got == expected,
        s"agg divergence (aggs=$aggs filter=${if (useFilter) p else "none"})" +
          s"\n got=$got\n exp=$expected")
    }
    // global (ungrouped) aggregates over the null-bearing columns
    for (aggs <- aggSets) {
      val expected = canon(docDf.agg(aggs.head, aggs.tail: _*))
      val got = canon(scanDf.agg(aggs.head, aggs.tail: _*))
      assert(got == expected, s"global agg divergence ($aggs)")
    }
  }

  test("pushed TopN == native TopN across directions/null orderings " +
      "(per-split heaps must never discard a global top-k row)") {
    // many tiny splits so the per-split bounded heap + merge actually runs
    val multiSplit = spark.read.format("docstore").option("path", dir)
      .option("splitsize", "512").load()
      .select(col("a"), col("b"), col("s"))
    val orders: Seq[(String, Column)] = Seq(
      "a" -> col("a").asc_nulls_first,
      "a" -> col("a").asc_nulls_last,
      "a" -> col("a").desc_nulls_first,
      "a" -> col("a").desc_nulls_last,
      "b" -> col("b").asc_nulls_last,
      "b" -> col("b").desc_nulls_first,
      "s" -> col("s").asc_nulls_first,
      "s" -> col("s").desc_nulls_last)
    for ((key, o) <- orders; n <- Seq(1, 7, 50)) {
      // ties cut arbitrarily at the limit, but the multiset of SORT KEY
      // values in any valid top-n is uniquely determined — compare that
      def keys(df: DataFrame): Seq[String] =
        df.orderBy(o).limit(n).select(col(key))
          .collect().map(r => String.valueOf(r.get(0))).sorted.toSeq
      assert(keys(multiSplit) == keys(docDf),
        s"TopN divergence (${o.toString} limit $n)")
    }
  }

  test("docstore write → read round-trips random typed rows exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outDir = "/tmp/graft_docstore_spec/roundtrip_prop"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("l", LongType),
      StructField("d", DoubleType),
      StructField("s", StringType),
      StructField("bo", BooleanType),
      StructField("ts", TimestampType),
      StructField("dt", DateType),
      StructField("bin", BinaryType),
      StructField("arr", ArrayType(LongType, containsNull = true)),
      StructField("st", StructType(Seq(StructField("x", LongType),
        StructField("y", StringType))))))
    val rnd = new scala.util.Random(20260812L)
    val tricky = Seq("plain", "q\"uote", "back\\slash", "nl\nnl", "tab\there",
      "héllo🙂", "ctrl", "")
    def maybe[A](v: => A): Any = if (rnd.nextInt(5) == 0) null else v
    val rows = (0 until 150).map { i =>
      Row(i.toLong,
        maybe(rnd.nextLong() % 1000000L),
        maybe(Seq(1.5, -0.25, 1e300, 1e-300, 123.0625)(rnd.nextInt(5))),
        maybe(tricky(rnd.nextInt(tricky.size)) + i),
        maybe(rnd.nextBoolean()),
        maybe(new java.sql.Timestamp(rnd.between(0L, 2000000000000L))),
        maybe(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          rnd.between(0L, 20000L)))),
        maybe(Array.fill(rnd.nextInt(8))(rnd.nextInt(256).toByte)),
        maybe(Seq.fill(rnd.nextInt(4))(maybe(rnd.nextLong() % 100L))
          .map(v => if (v == null) null else v.asInstanceOf[Long])),
        maybe(Row(maybe(rnd.nextLong() % 50L), maybe("v" + i))))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    df.write.format("docstore").option("path", outDir)
      .mode("overwrite").save()
    // explicit schema read: tests the converter, not sampling inference
    // (an all-null-in-sample column would legitimately infer differently)
    val back = spark.read.format("docstore").schema(schema)
      .option("path", outDir).load()
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.orderBy("id").collect().map { r =>
        (0 until r.length).map { i =>
          r.get(i) match {
            case null => "null"
            case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
            case other => String.valueOf(other)
          }
        }.mkString("|")
      }.toSeq
    assert(canon(back) == canon(df))
  }
}
