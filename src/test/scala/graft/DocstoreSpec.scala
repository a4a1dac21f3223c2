package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.DocstoreOps

class DocstoreSpec extends SparkSpec {

  private def writeDocs(name: String, lines: Seq[String]): String = {
    val dir = s"/tmp/graft_docstore_spec/$name"
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/docs.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    dir
  }

  lazy val smallDir: String = writeDocs("small", (0 until 50).map(i =>
    s"""{"id":$i,"name":"row$i","grp":"g${i % 3}","score":${i * 1.5}}"""))

  test("gzip collections: inference + parity + whole-file partitions") {
    val dir = "/tmp/graft_docstore_spec/gz"
    Files.createDirectories(Paths.get(dir))
    def gzWrite(f: String, lines: Seq[String]): Unit = {
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dir/$f"))
      out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      out.close()
    }
    val a = (0 until 40).map(i => s"""{"id":$i,"grp":"g${i % 3}"}""")
    val b = (40 until 60).map(i => s"""{"id":$i,"grp":"g${i % 3}"}""")
    gzWrite("a.jsonl.gz", a)
    gzWrite("b.jsonl.gz", b)
    // a tiny splitsize must NOT split compressed files: one partition per
    // .gz, decompressed transparently (schema inference reads them too)
    val df = spark.read.format("docstore").option("path", dir)
      .option("splitsize", "64").load()
    assert(df.columns.toSet == Set("id", "grp"))
    assert(df.count() == 60)
    assert(df.rdd.getNumPartitions == 2, df.rdd.getNumPartitions)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == (0 until 60).sum.toLong)
    // pushdown still applies inside the decompressed stream
    assert(df.filter(col("grp") === "g1").count() == 20)
    // a plain file at the same splitsize DOES split (the contract differs)
    val plainDir = writeDocs("gz_plain", a ++ b)
    val plain = spark.read.format("docstore").option("path", plainDir)
      .option("splitsize", "64").load()
    assert(plain.count() == 60)
    assert(plain.rdd.getNumPartitions > 2)
  }

  test("batch scans pin their file snapshot for the query's lifetime") {
    import graft.sources.{DocstoreOptions, DocstoreScanBuilder, DocstoreTable}
    // the analog of the reference's per-query transaction snapshot
    // (reference src/mongo_transaction.cpp:1): once a batch Scan exists,
    // a concurrent append or $merge commit must NOT change its input set
    // — AQE re-planning and task retries re-list through the pinned
    // snapshot (file names AND byte lengths)
    val dir = s"/tmp/graft_docstore_spec/snapshot_${System.nanoTime()}"
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/a.jsonl"),
      (0 until 5).map(i => s"""{"id":$i}""").mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    val opts = DocstoreOptions(Map("path" -> dir))
    val schema = DocstoreTable.inferSchema(opts)
    val batch = new DocstoreScanBuilder(schema, opts).build().toBatch
    val p1 = batch.planInputPartitions().toSeq
    // concurrent commits mid-query: a new collection file appears AND the
    // existing file grows in place
    Files.write(Paths.get(s"$dir/b.jsonl"),
      """{"id":100}""".concat("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/a.jsonl"),
      """{"id":101}""".concat("\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val p2 = batch.planInputPartitions().toSeq
    assert(p2 == p1, "a running query's input set changed under it")
    // a NEW query (new Scan) sees the committed state
    val fresh = new DocstoreScanBuilder(schema, opts).build().toBatch
      .planInputPartitions().toSeq
    assert(fresh != p1 && fresh.size >= p1.size)
  }

  test("unsupported patterns fall back to Spark above the scan (ref pushdown_negative.test)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("docstore").option("path", smallDir).load()
    // COUNT(DISTINCT col): distinct aggregation is never pushed — Spark
    // aggregates above the scan, result stays exact
    val cd = df.select(countDistinct(col("grp")))
    assert(!explainText(cd).contains("PushedAggregates"), explainText(cd))
    assert(cd.head.getLong(0) == 3)
    // TopN on a computed sort key: no NamedReference → no TopN push;
    // Spark's TakeOrderedAndProject handles it above a full scan
    val topn = df.orderBy(length(col("name")), col("id")).limit(3)
    assert(!explainText(topn).contains("PushedTopN"), explainText(topn))
    assert(topn.collect().map(_.getAs[Long]("id")).toSeq == Seq(0L, 1L, 2L))
    // arithmetic predicate: not translatable to a source Filter — only
    // the inferred IsNotNull pushes; Spark evaluates the equality above
    // the scan and rows stay exact
    val f = df.filter(col("id") * 2 === 10)
    val fp = explainText(f)
    assert(!fp.contains("EqualTo"), fp) // the arithmetic never reaches the scan
    assert(fp.contains("Filter"), fp)   // Spark-side filter handles it
    assert(f.head.getAs[Long]("id") == 5L)
  }

  test("SQL DDL surface: CREATE TEMPORARY VIEW ... USING docstore") {
    // the reference's users live in SQL — the source must mount without
    // any Scala-side reader calls
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ddl_docs
      USING docstore OPTIONS (path '$smallDir', samplesize '50')""")
    assert(spark.sql("SELECT COUNT(*) FROM ddl_docs").head.getLong(0) == 50)
    val plan = explainText(
      spark.sql("SELECT id, name FROM ddl_docs WHERE grp = 'g1' AND id > 10"))
    assert(plan.contains("docstore") && plan.contains("grp"), plan)
    assert(spark.sql(
      "SELECT COUNT(*) FROM ddl_docs WHERE grp = 'g1' AND id > 10")
      .head.getLong(0) == 13)
  }

  test("reads jsonl docs with inferred schema") {
    val df = spark.read.format("docstore").option("path", smallDir).load()
    assert(df.count() == 50)
    assert(df.schema("id").dataType == LongType)
    assert(df.schema("score").dataType == DoubleType)
  }

  test("byte-range splits cover every line exactly once") {
    // tiny splits force many partitions with straddling lines
    val df = spark.read.format("docstore").option("path", smallDir)
      .option("splitsize", "64").load()
    assert(df.rdd.getNumPartitions > 5)
    assert(df.count() == 50)
    assert(df.agg(sum("id")).head.getLong(0) == (0 until 50).sum)
  }

  test("filter, projection, and limit push into the docstore scan") {
    val df = spark.read.format("docstore").option("path", smallDir).load()
      .filter(col("grp") === "g1" && col("id") > 10)
      .select("id", "name")
    val plan = explainText(df)
    assert(plan.contains("docstore"), plan)
    assert(plan.contains("grp"), plan)          // pushed filter visible
    assert(!plan.toLowerCase.contains("score")) // pruned column gone
    assert(df.count() == 13)

    val limited = spark.read.format("docstore").option("path", smallDir).load().limit(3)
    assert(limited.collect().length == 3)
  }

  test("unsupported patterns stay residual and still compute correctly " +
      "(ref pushdown_negative.test)") {
    // mirrors test/sql/query/pushdown_negative.test: what the source
    // can't evaluate must run ABOVE the scan, never silently push
    val df = spark.read.format("docstore").option("path", smallDir).load()
    // expression filter (length(name) > 4) — not a DSv2 source filter at
    // all; Spark keeps a Filter node and results are exact
    val exprFilter = df.filter(length(col("name")) > 4)
    assert(explainText(exprFilter).contains("Filter"),
      explainText(exprFilter))
    assert(exprFilter.count() == 40) // row10..row49
    // COUNT(DISTINCT col) — distinct aggregation is never pushed; a
    // HashAggregate must sit above the scan and the value is exact
    val cd = df.agg(countDistinct(col("grp")))
    assert(explainText(cd).contains("HashAggregate"), explainText(cd))
    assert(cd.head.getLong(0) == 3)
    // GROUP BY on an expression (id % 10) — grouped agg pushdown only
    // accepts plain columns; the grouped HashAggregate stays in Spark
    val ge = df.groupBy((col("id") % 10).as("dec")).count()
    assert(explainText(ge).contains("HashAggregate"), explainText(ge))
    assert(ge.count() == 10)
    // ORDER BY + LIMIT on a non-pushable sort stays a Spark TopN
    val tn = df.orderBy(col("score").desc).limit(2)
    assert(explainText(tn).contains("TakeOrderedAndProject"), explainText(tn))
    assert(tn.select("id").collect().map(_.getLong(0)).toSeq == Seq(49L, 48L))
  }

  test("ObjectId _id filters: equality, IN, range push down (ref objectid_filter.test)") {
    // reference: test/sql/query/objectid_filter.test — ObjectId equality,
    // IN lists, and range comparisons on _id (mapped to 24-hex VARCHAR),
    // plus plain-string _id collections treated identically
    val dir = writeDocs("oid_filter", Seq(
      """{"_id":{"$oid":"507f1f77bcf86cd799439011"},"name":"Alice","email":"alice@example.com"}""",
      """{"_id":{"$oid":"507f1f77bcf86cd799439012"},"name":"Bob","email":"bob@example.com"}""",
      """{"_id":{"$oid":"507f1f77bcf86cd799439013"},"name":"Charlie","email":"charlie@example.com"}"""))
    val df = spark.read.format("docstore").option("path", dir).load()
    val eq = df.filter(col("_id") === "507f1f77bcf86cd799439011")
    assert(explainText(eq).contains("_id"), "equality on _id not pushed")
    assert(eq.select("name").collect().map(_.getString(0)).toSeq == Seq("Alice"))
    assert(df.filter(col("_id").isin(
        "507f1f77bcf86cd799439011", "507f1f77bcf86cd799439013"))
      .orderBy("name").select("name").collect().map(_.getString(0)).toSeq
      == Seq("Alice", "Charlie"))
    assert(df.filter(col("_id") > "507f1f77bcf86cd799439011" &&
        col("_id") <= "507f1f77bcf86cd799439013")
      .orderBy("_id").select("name").collect().map(_.getString(0)).toSeq
      == Seq("Bob", "Charlie"))
    // plain-string _id (NOT ObjectId) — same behavior, no special-casing
    val sdir = writeDocs("string_id", Seq(
      """{"_id":"aaaaaaaaaaaaaaaaaaaaaaaa","name":"Doc1","value":100}""",
      """{"_id":"bbbbbbbbbbbbbbbbbbbbbbbb","name":"Doc2","value":200}"""))
    val sdf = spark.read.format("docstore").option("path", sdir).load()
    assert(sdf.filter(col("_id") === "aaaaaaaaaaaaaaaaaaaaaaaa")
      .select("value").head.getLong(0) == 100L)
  }

  test("array-of-struct items: element access, missing fields, empty arrays (ref array_items.test)") {
    // reference: test/sql/schema/array_items.test — LIST(STRUCT) mapping,
    // 1-based element access, missing struct fields → NULL, empty arrays
    // stay [] (not NULL), UNNEST expands rows
    val dir = writeDocs("array_items", Seq(
      """{"order_id":"ORD-001","items":[{"product":"Laptop","quantity":1,"price":999.99},{"product":"Mouse","quantity":2,"price":29.99}]}""",
      """{"order_id":"ORD-003","items":[]}""",
      """{"order_id":"ORD-004","items":[{"product":"Keyboard","quantity":1}],"notes":["urgent","gift"]}"""))
    val df = spark.read.format("docstore").option("path", dir).load()
    // element_at is Spark's 1-based list_extract analog
    val first = df.filter(col("order_id") === "ORD-001")
      .select(element_at(col("items"), 1).getField("product"),
        element_at(col("items"), 2).getField("quantity")).head
    assert(first.getString(0) == "Laptop" && first.getLong(1) == 2L)
    // missing struct field inside an array element → NULL, row survives
    val ord4 = df.filter(col("order_id") === "ORD-004")
      .select(element_at(col("items"), 1).getField("price")).head
    assert(ord4.isNullAt(0))
    // empty array is [], not NULL
    assert(df.filter(col("order_id") === "ORD-003" && size(col("items")) === 0)
      .count() == 1)
    // UNNEST (explode) expands array elements into rows
    val exploded = df.filter(col("order_id") === "ORD-001")
      .select(explode(col("items")).as("it"))
      .select(col("it.product")).orderBy("product")
      .collect().map(_.getString(0)).toSeq
    assert(exploded == Seq("Laptop", "Mouse"))
  }

  test("filter on non-projected column still works") {
    val df = spark.read.format("docstore").option("path", smallDir).load()
      .filter(col("id") === 7).select("name")
    assert(df.as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq == Seq("row7"))
  }

  test("schema modes: permissive nulls, dropmalformed drops, failfast throws") {
    val res = DocstoreOps.d07SchemaModes(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(res("permissive_rows") == "4")     // unparseable line dropped
    assert(res("permissive_null_a") == "1")   // mismatch → null
    assert(res("dropmalformed_rows") == "3")  // mismatch row dropped too
    assert(res("failfast") == "failfast-error")
  }

  test("type zoo maps every BSON type per the reference table") {
    DocstoreOps.typeZooDocs()
    val df = spark.read.format("docstore")
      .option("path", "/tmp/graft_docstore/type_zoo").load()
    val t = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(t("_id") == StringType)
    assert(t("i32") == LongType && t("i64") == LongType)
    assert(t("dbl") == DoubleType && t("dec") == DoubleType)
    assert(t("b") == BooleanType)
    assert(t("ts") == TimestampType)
    assert(t("day") == DateType) // midnight-UTC rule
    assert(t("bin") == BinaryType)
    assert(t("arr") == ArrayType(LongType, containsNull = true))
    assert(t("arrdoc").isInstanceOf[ArrayType])
    assert(t("re") == StringType && t("nul") == StringType)
    // Int64 beyond double precision survives exactly
    assert(df.filter(col("s") === "alpha").select("i64").head.getLong(0)
      == 9007199254740993L)
  }

  test("catalog lists namespaces and tables, scans collections") {
    val root = DocstoreOps.catalogRoot()
    spark.conf.set("spark.sql.catalog.graftmongo", "graft.sources.DocstoreCatalog")
    spark.conf.set("spark.sql.catalog.graftmongo.root", root)
    val ns = spark.sql("SHOW NAMESPACES IN graftmongo")
      .collect().map(_.getString(0)).toSet
    assert(ns == Set("salesdb", "webdb"))
    val tables = spark.sql("SHOW TABLES IN graftmongo.salesdb")
      .collect().map(_.getString(1)).toSet
    assert(tables == Set("orders_east", "orders_west"))
    val row = spark.sql("SELECT coll, n FROM graftmongo.webdb.clicks").head
    assert(row.getString(0) == "clicks" && row.getLong(1) == 1L)
  }

  test("doc scan matches source parquet row-for-row (round trip)") {
    val docs = DocstoreOps.ensureEventDocs(spark, sfDir)
    val viaDocs = spark.read.format("docstore").option("path", docs).load()
      .select("event_id", "user_id", "event_type", "value")
    val viaParquet = Tables(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
    assert(viaDocs.exceptAll(viaParquet).isEmpty && viaParquet.exceptAll(viaDocs).isEmpty)
  }

  test("aggregate pushdown: COUNT/SUM/MIN/MAX with GROUP BY reach the reader") {
    import org.apache.spark.sql.functions._
    val docs = DocstoreOps.ensureEventDocs(spark, sfDir)
    val agg = spark.read.format("docstore").option("path", docs).load()
      .filter(col("value") > 10.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"),
        min(col("value")).as("mn"), max(col("user_id")).as("mx"))
    val plan = explainText(agg)
    assert(plan.contains("PushedAggregates"), plan)
    assert(plan.contains("PushedGroupBy: [event_type]"), plan)
    // ROUND on the double sums: the chunked doc layout accumulates partial
    // sums in a different order than the parquet scan — low-bit ulps are
    // expected, equality is on the rounded value (same rule as the oracle)
    val viaParquet = Tables(spark, sfDir, "events")
      .filter(col("value") > 10.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"),
        min(col("value")).as("mn"), max(col("user_id")).as("mx"))
    val a = agg.orderBy("event_type").collect().map(_.toSeq).toSeq
    val b = viaParquet.orderBy("event_type").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("aggregate pushdown: global aggregate counts zero on empty match") {
    import org.apache.spark.sql.functions._
    val docs = DocstoreOps.ensureEventDocs(spark, sfDir)
    val df = spark.read.format("docstore").option("path", docs).load()
      .filter(col("value") > 1e18) // matches nothing
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    val r = df.head
    assert(r.getLong(0) == 0L && r.isNullAt(1))
    val all = spark.read.format("docstore").option("path", docs).load()
      .agg(count(lit(1)).as("n")).head.getLong(0)
    assert(all == Tables(spark, sfDir, "events").count())
  }

  test("aggregate pushdown declines unsupported shapes (avg, distinct)") {
    import org.apache.spark.sql.functions._
    val docs = DocstoreOps.ensureEventDocs(spark, sfDir)
    val df = spark.read.format("docstore").option("path", docs).load()
      .groupBy(col("event_type"))
      .agg(round(avg(col("value")), 4).as("a"),
        countDistinct(col("user_id")).as("d"))
    assert(!explainText(df).contains("PushedAggregates"))
    // still correct through the ordinary scan (rounded: summation order
    // differs between the chunked doc layout and the parquet scan)
    val viaParquet = Tables(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(round(avg(col("value")), 4).as("a"),
        countDistinct(col("user_id")).as("d"))
    assert(df.orderBy("event_type").collect().map(_.toSeq).toSeq
      == viaParquet.orderBy("event_type").collect().map(_.toSeq).toSeq)
  }

  test("TopN pushdown: ORDER BY ... LIMIT runs as bounded heap per split") {
    val df = spark.read.format("docstore").option("path", smallDir)
      .option("splitsize", "256").load()
      .orderBy(col("score").desc, col("id"))
      .limit(4)
    val plan = explainText(df)
    assert(plan.contains("PushedTopN"), plan)
    assert(df.select("id").collect().map(_.getLong(0)).toSeq
      == Seq(49L, 48L, 47L, 46L))
    // ascending + tie-break & nulls: name asc then id
    val asc = spark.read.format("docstore").option("path", smallDir).load()
      .orderBy(col("grp").asc, col("id").desc).limit(3)
    assert(asc.select("id").collect().map(_.getLong(0)).toSeq
      == Seq(48L, 45L, 42L)) // g0 ids descending
  }

  test("__schema document overrides inference with types and path mapping") {
    val dir = writeDocs("schema_doc", Seq(
      """{"__schema":{"id":"BIGINT","label":{"path":"meta.name","type":"VARCHAR"},"score":{"path":"metrics.s","type":"DOUBLE"},"tags":"VARCHAR[]"}}""",
      """{"id":1,"meta":{"name":"a"},"metrics":{"s":1.5},"tags":["x"]}""",
      """{"id":2,"meta":{"name":"b"},"metrics":{"s":2.5},"tags":["y","z"]}"""))
    val df = spark.read.format("docstore").option("path", dir).load()
    assert(df.schema.fieldNames.toSeq == Seq("id", "label", "score", "tags"))
    assert(df.schema("label").dataType == StringType)
    assert(df.schema("tags").dataType == ArrayType(StringType, containsNull = true))
    // the __schema row is metadata, not data
    assert(df.count() == 2)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getString(1) == "a" && rows(0).getDouble(2) == 1.5)
    assert(rows(1).getString(1) == "b" && rows(1).getSeq[String](3) == Seq("y", "z"))
  }

  test("multi-byte UTF-8 lines survive byte-range splitting exactly") {
    // 3-byte CJK chars + emoji straddle the 64-byte split boundaries
    val lines = (0 until 40).map(i =>
      s"""{"id":$i,"s":"\u6587\u6863\u5904\u7406 \ud83d\ude00 line$i \u00e9\u00fc"}""")
    val dir = writeDocs("unicode", lines)
    val df = spark.read.format("docstore").option("path", dir)
      .option("splitsize", "64").load()
    assert(df.count() == 40)
    val s7 = df.where(col("id") === 7).select("s").head.getString(0)
    assert(s7 == "\u6587\u6863\u5904\u7406 \ud83d\ude00 line7 \u00e9\u00fc")
  }

  test("empty files and CRLF line endings are handled") {
    val dir = s"/tmp/graft_docstore_spec/mixed"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/empty.jsonl"),
      Array.empty[Byte])
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/crlf.jsonl"),
      "{\"a\":1}\r\n{\"a\":2}\r\n".getBytes("UTF-8"))
    val df = spark.read.format("docstore").option("path", dir).load()
    assert(df.count() == 2)
    assert(df.agg(sum("a")).head.getLong(0) == 3L)
  }

  test("docstore write: collections round-trip through the sink") {
    val outDir = "/tmp/graft_docstore_spec/write_out"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    val src = spark.read.format("docstore").option("path", smallDir).load()
      .filter(col("id") < 20)
    src.write.format("docstore").option("path", outDir).mode("append").save()
    val back = spark.read.format("docstore").option("path", outDir).load()
    assert(back.count() == 20)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // overwrite truncates previous content
    src.filter(col("id") < 5).write.format("docstore")
      .option("path", outDir).mode("overwrite").save()
    assert(spark.read.format("docstore").option("path", outDir).load().count() == 5)
  }

  test("docstore write: in-progress temp files are invisible to readers") {
    val outDir = "/tmp/graft_docstore_spec/atomic_out"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    spark.read.format("docstore").option("path", smallDir).load()
      .filter(col("id") < 10)
      .write.format("docstore").option("path", outDir).mode("append").save()
    // a crashed task's orphan temp file must never surface as rows
    Files.write(Paths.get(s"$outDir/.part-99999-0.jsonl.inprogress"),
      """{"id":999,"name":"ghost","grp":"gx","score":0.0}""".getBytes("UTF-8"))
    val back = spark.read.format("docstore").option("path", outDir).load()
    assert(back.count() == 10)
    assert(back.filter(col("name") === "ghost").count() == 0)
    // all committed files carry final (non-dot) names
    val names = new java.io.File(outDir).listFiles.map(_.getName)
    assert(names.count(_.startsWith("part-")) > 0)
    // no committed task may leave its temp behind (local-FS .crc
    // checksum sidecars are dot-prefixed and reader-invisible — fine)
    assert(!names.exists(n => n.endsWith(".inprogress") &&
      n != ".part-99999-0.jsonl.inprogress"))
  }

  test("binary order comparisons use unsigned lexicographic bytes") {
    // 0x80 > 0x7f unsigned, though negative as signed byte; a prefix
    // compares less than its extension
    val dir = writeDocs("binorder", Seq(
      """{"id":1,"bin":{"$binary":{"base64":"fw==","subType":"00"}}}""", // [0x7f]
      """{"id":2,"bin":{"$binary":{"base64":"gA==","subType":"00"}}}""", // [0x80]
      """{"id":3,"bin":{"$binary":{"base64":"gAE=","subType":"00"}}}""")) // [0x80,0x01]
    val df = spark.read.format("docstore").option("path", dir).load()
    val gt = df.filter(col("bin") > lit(Array[Byte](0x7f.toByte)))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(gt.toSeq == Seq(2L, 3L))
    val lt = df.filter(col("bin") < lit(Array[Byte](0x80.toByte, 0x01)))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(lt.toSeq == Seq(1L, 2L))
  }

  test("case-variant fields scan without ambiguity (reference issue #35)") {
    // mirrors test/sql/schema/case_variant_fields.test: two docs whose
    // nested field differs only by case — one column, one non-NULL row
    val dir = writeDocs("case_variant",
      Seq("""{"id":1,"case_data":{"clientFullname":"Alice"}}""",
          """{"id":2,"case_data":{"ClientFullname":"Bob"}}"""))
    val df = spark.read.format("docstore").option("path", dir).load()
    assert(df.count() == 2)
    assert(df.columns.count(_.equalsIgnoreCase("case_data_clientfullname")) == 1)
    assert(df.filter(col("case_data_clientFullname").isNotNull).count() == 1)
  }

  test("a filter on a struct sub-field stays above the scan and still matches") {
    val dir = writeDocs("struct_filter", Seq(
      """{"id":1,"st":{"x":1,"y":"a"}}""",
      """{"id":2,"st":{"x":2,"y":"b"}}"""))
    val df = spark.read.format("docstore")
      .schema(StructType.fromDDL("id BIGINT, st STRUCT<x: BIGINT, y: STRING>"))
      .option("path", dir).load()
      .filter(col("st.x") === 2)
    assert(df.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("BSON undefined reads as NULL in every type and schema mode") {
    val dir = writeDocs("undefined", Seq(
      """{"id":1,"s":"a","n":5}""",
      """{"id":2,"s":{"$undefined":true},"n":{"$undefined":true}}"""))
    for (mode <- Seq("permissive", "dropmalformed", "failfast")) {
      val df = spark.read.format("docstore").option("path", dir)
        .option("schemamode", mode).load()
      assert(df.schema("s").dataType == StringType &&
        df.schema("n").dataType == LongType, mode)
      val got = df.orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("s"), r.getAs[Any]("n")))
      assert(got.toSeq == Seq((1L, "a", 5L), (2L, null, null)), mode)
    }
  }

  test("a wrapper whose payload does not decode is a malformed value in every schema mode") {
    val dir = writeDocs("bad_wrappers", Seq(
      """{"id":1,"n":{"$numberLong":"x"}}""",
      """{"id":2,"d":{"$numberDouble":"abc"}}""",
      """{"id":3,"t":{"$date":"2024-03-01"}}""",
      """{"id":4,"b":{"$binary":{"base64":"***","subType":"00"}}}""",
      """{"id":5,"n":7,"d":1.5}"""))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("n", LongType), StructField("d", DoubleType),
      StructField("t", TimestampType), StructField("b", BinaryType)))
    def read(mode: String) = spark.read.format("docstore").schema(schema)
      .option("path", dir).option("schemamode", mode).load()
    // permissive: the bad value reads as NULL, the row stays
    val got = read("permissive").orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[Any]("n"), r.getAs[Any]("d"),
        r.getAs[Any]("t"), r.getAs[Any]("b")))
    assert(got.toSeq == Seq((1L, null, null, null, null),
      (2L, null, null, null, null), (3L, null, null, null, null),
      (4L, null, null, null, null), (5L, 7L, 1.5, null, null)))
    // dropmalformed: the row goes
    assert(read("dropmalformed").collect().map(_.getAs[Long]("id")).toSeq ==
      Seq(5L))
    // failfast: the usual error, naming the column
    val e = intercept[Exception](read("failfast").collect())
    assert(e.toString.contains("column 'n'") ||
      Option(e.getCause).exists(_.toString.contains("column 'n'")), e.toString)
  }

  test("a $binary without base64 and a $date past Long micros do not decode, " +
      "in sampling and in every schema mode") {
    val dir = writeDocs("undecodable_wrappers", Seq(
      """{"id":1,"b":{"$binary":{"base64":"AQI=","subType":"00"}},"t":{"$date":"2024-03-01T12:00:00Z"}}""",
      """{"id":2,"b":{"$binary":{"subType":"00"}}}""",
      """{"id":3,"t":{"$date":{"$numberLong":"9223372036854775807"}}}"""))
    def read(mode: String) = spark.read.format("docstore").option("path", dir)
      .option("schemamode", mode).load()
    // the sampler skips both documents, so b infers BINARY and t TIMESTAMP
    val schema = read("permissive").schema
    assert(schema("b").dataType == BinaryType && schema("t").dataType == TimestampType, schema)
    val got = read("permissive").orderBy("id").collect().map(r =>
      (r.getAs[Long]("id"), Option(r.getAs[Array[Byte]]("b")).map(_.toSeq), r.isNullAt(r.fieldIndex("t"))))
    assert(got.toSeq == Seq((1L, Some(Seq[Byte](1, 2)), false), (2L, None, true), (3L, None, true)))
    assert(read("dropmalformed").collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
    val e = intercept[Exception](read("failfast").collect())
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("docstore failfast: column 'b'")), e.toString)
  }

  test("content after a document makes the line malformed") {
    val dir = writeDocs("trailing_tokens", Seq(
      """{"n":1}{"n":2}""",
      """{"n":3} trailing""",
      """{"n":4}"""))
    // the sampler skips both lines, so inference sees only {"n":4}
    val df = spark.read.format("docstore").option("path", dir).load()
    assert(df.schema.fieldNames.toSeq == Seq("n"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(4L))
    assert(spark.read.format("docstore").option("path", dir)
      .option("schemamode", "dropmalformed").load().count() == 1)
    val e = intercept[Exception](spark.read.format("docstore")
      .option("path", dir).option("schemamode", "failfast").load().collect())
    assert(e.toString.contains("unparseable document") ||
      Option(e.getCause).exists(_.toString.contains("unparseable document")),
      e.toString)
  }

  test("empty collection scans as zero rows (edge_cases analog)") {
    // mirrors test/sql/edge_cases/empty_collections.test
    val dir = writeDocs("empty_coll", Seq.empty)
    val df = spark.read.format("docstore").option("path", dir).load()
    assert(df.count() == 0)
    assert(df.schema.isEmpty)
  }

  test("AVG pre-pushes as sum+count (the reference's group-avg analog)") {
    // Spark rewrites AVG to SUM/COUNT for partial DSv2 aggregate pushdown
    // (reference pushes avg directly: src/mongo_optimizer.cpp $group)
    val df = spark.read.format("docstore").option("path", smallDir).load()
      .groupBy(col("grp")).agg(avg(col("score")).as("avg_score"))
    val plan = explainText(df)
    assert(plan.contains("PushedAggregates") &&
      plan.toLowerCase.contains("sum(score)") &&
      plan.toLowerCase.contains("count(score)"), plan)
    val got = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = (0 until 50).groupBy(i => s"g${i % 3}")
      .map { case (g, is) => g -> is.map(_ * 1.5).sum / is.size }
    assert(got == exp)
  }

  test("reported statistics let Catalyst auto-broadcast a small collection") {
    // without SupportsReportStatistics a DSv2 source sizes as "unknown =
    // huge" and this join sort-merges; with it, the ~2 KB collection
    // broadcasts with no explicit hint
    val docs = spark.read.format("docstore").option("path", smallDir).load()
    val big = spark.range(200000).withColumnRenamed("id", "rid")
    val joined = big.join(docs, col("rid") === col("id"))
    val plan = explainText(joined)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(joined.count() == 50)
  }

  test("runtime filters (DPP hook) reach the readers and drop rows at scan") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.In
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources._
    val opts = DocstoreOptions(Map("path" -> smallDir))
    val schema = DocstoreTable.inferSchema(opts)
    val scan = new DocstoreScanBuilder(schema, opts).build()
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.describe()).toSet.contains("id"))
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      In("id", Array(3L, 7L, 11L))))
    assert(scan.description().contains("RuntimeFilters"), scan.description())
    val factory = scan.toBatch.createReaderFactory()
    val rows = scan.toBatch.planInputPartitions().flatMap { p =>
      val r = factory.createReader(p)
      val buf = Seq.newBuilder[Long]
      while (r.next()) buf += r.get().getLong(schema.fieldIndex("id"))
      r.close()
      buf.result()
    }
    assert(rows.sorted.toSeq == Seq(3L, 7L, 11L))
  }

  test("docstore write: extended-JSON types round-trip (ts, date, binary, struct)") {
    import spark.implicits._
    val outDir = "/tmp/graft_docstore_spec/write_types"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 12:30:00"),
        java.sql.Date.valueOf("2024-03-05"), Array[Byte](1, 2, 3), Seq(1L, 2L)),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 01:02:03"),
        java.sql.Date.valueOf("2024-05-01"), Array[Byte](4, 5), Seq(3L))
    ).toDF("id", "ts", "day", "bin", "arr")
    df.write.format("docstore").option("path", outDir).mode("append").save()
    val back = spark.read.format("docstore").option("path", outDir).load()
    assert(back.schema("ts").dataType == TimestampType)
    assert(back.schema("day").dataType == DateType)
    assert(back.schema("bin").dataType == BinaryType)
    val r = back.orderBy("id").collect()
    assert(r(0).getTimestamp(1) == java.sql.Timestamp.valueOf("2024-03-01 12:30:00"))
    assert(r(0).getDate(2) == java.sql.Date.valueOf("2024-03-05"))
    assert(r(0).getAs[Array[Byte]](3).toSeq == Seq[Byte](1, 2, 3))
    assert(r(1).getSeq[Long](4) == Seq(3L))
  }

  test("docstore write: NaN and ±Infinity round-trip as $numberDouble") {
    import spark.implicits._
    val outDir = "/tmp/graft_docstore_spec/write_nonfinite"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    Seq((1L, Double.NaN), (2L, Double.PositiveInfinity), (3L, Double.NegativeInfinity),
      (4L, 1.5)).toDF("id", "x")
      .write.format("docstore").option("path", outDir).mode("append").save()
    val back = spark.read.format("docstore").option("path", outDir).load()
    assert(back.schema("x").dataType == DoubleType)
    val xs = back.orderBy("id").collect().map(r => r.getAs[Any]("x"))
    assert(xs.head.asInstanceOf[Double].isNaN, xs.toSeq)
    assert(xs.tail.toSeq == Seq(Double.PositiveInfinity, Double.NegativeInfinity, 1.5))
  }

  test("ensureEventDocs invalidates its cache when the source parquet changes") {
    import spark.implicits._
    val sf = Files.createTempDirectory("graft_evdocs_fp").toString
    def writeEvents(n: Int): Unit =
      Tables(spark, sfDir, "events").limit(n)
        .coalesce(1).write.mode("overwrite").parquet(s"$sf/events.parquet")

    writeEvents(10)
    val dir1 = DocstoreOps.ensureEventDocs(spark, sf)
    assert(Files.exists(Paths.get(s"$dir1/_SUCCESS")))
    val count1 = spark.read.text(dir1).count()
    assert(count1 == 10)
    // same source → same dir, no regeneration (marker short-circuit)
    assert(DocstoreOps.ensureEventDocs(spark, sf) == dir1)

    // regenerated source (different size) → new fingerprint, fresh docs
    writeEvents(25)
    val dir2 = DocstoreOps.ensureEventDocs(spark, sf)
    assert(dir2 != dir1,
      "regenerated events.parquet must produce a new docs dir")
    assert(spark.read.text(dir2).count() == 25)
  }

  /** A docstore scan metric of an executed query, summed over its scans. */
  private def scanMetric(df: org.apache.spark.sql.DataFrame, name: String): Long =
    graft.tools.PlanSweep.allNodes(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Scan")).flatMap(_.metrics.get(name)).map(_.value).sum

  private def errorChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.toString).mkString(" | ")

  /** The sorted `id`s of `df`, run as it is so that its metrics count. */
  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(r => r.getLong(r.fieldIndex("id"))).toSeq.sorted

  private val kindSchema = StructType(Seq(StructField("id", LongType),
    StructField("kind", StringType)))

  test("scan metrics: a planted-bad collection reports its exact drop count") {
    val good = (0 until 10).map(i => s"""{"id":$i,"s":"v$i"}""")
    val bad = Seq("""{"id":"x""", "[1,2]", """{"id":99} {"id":98}""")
    val dir = writeDocs("metrics_bad", good.take(5) ++ bad ++ Seq("") ++ good.drop(5))
    val df = spark.read.format("docstore").option("path", dir).load().select("id")
    assert(df.count() == 10)
    val rows = df.filter(col("id") >= 0L)
    assert(rows.collect().length == 10)
    assert(scanMetric(rows, "docsMalformed") == 3)
    assert(scanMetric(rows, "linesRead") == 13) // the empty line is no document
    assert(scanMetric(rows, "docsParsed") == 13)
    assert(scanMetric(rows, "linesSkipped") == 0)
    assert(scanMetric(rows, "bytesRead") == Files.size(Paths.get(s"$dir/docs.jsonl")))
    assert(scanMetric(rows, "numOutputRows") == 10)
  }

  test("scan metrics: an _id lookup over many splits parses only the lines holding the id") {
    val hex = (i: Int) => f"65f0a1b2c3d4e5f6$i%08x"
    val dir = writeDocs("metrics_lookup", (0 until 2000).map(i =>
      s"""{"_id":{"$$oid":"${hex(i)}"},"n":$i,"kind":"k${i % 8}"}"""))
    val df = spark.read.format("docstore").option("path", dir)
      .option("splitsize", "8192").load()
      .filter(col("_id") === hex(777)).select("n")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(777L))
    assert(df.rdd.getNumPartitions > 8)
    assert(scanMetric(df, "linesRead") == 2000)
    assert(scanMetric(df, "docsParsed") == 1)
    assert(scanMetric(df, "linesSkipped") == 1999)
    // an IN over two kinds keeps a quarter of the lines; the parsed ones all match
    val kinds = spark.read.format("docstore").option("path", dir).load()
      .filter(col("kind").isin("k1", "k5")).select("n")
    assert(kinds.count() == 500)
    val k = kinds.filter(col("n") >= 0L)
    assert(k.collect().length == 500 && scanMetric(k, "docsParsed") == 500)
  }

  test("prefilter: an escaped literal still matches a pushed string equality") {
    val dir = writeDocs("prefilter_escape", Seq(
      """{"id":1,"kind":"k3"}""",
      """{"id":2,"kind":"k""" + "\\" + """u0033"}""",
      """{"id":3,"kind":"k4"}""",
      """{"id":4,"kind":"k33"}"""))
    val df = spark.read.format("docstore").schema(kindSchema).option("path", dir).load()
      .filter(col("kind") === "k3")
    assert(ids(df) == Seq(1L, 2L))
    // the escaped line holds a backslash, so it is parsed; k4 and k33 are not
    assert(scanMetric(df, "linesSkipped") == 2)
  }

  test("prefilter: a non-string value matches through the JSON-VARCHAR fallback") {
    val dir = writeDocs("prefilter_fallback", Seq(
      """{"id":1,"kind":5}""",
      """{"id":2,"kind":1e2}""",
      """{"id":3,"kind":true}""",
      """{"id":4,"kind":{"$oid":7}}""",
      """{"id":5,"kind":[1, 2]}""",
      """{"id":6,"kind":{"$oid":null}}""",
      """{"id":7,"kind":"x"}"""))
    def read(v: String) = spark.read.format("docstore").schema(kindSchema)
      .option("path", dir).load().filter(col("kind") === v)
    for ((v, want) <- Seq("5" -> Seq(1L), "100.0" -> Seq(2L), "true" -> Seq(3L),
        "7" -> Seq(4L), "[1,2]" -> Seq(5L), "null" -> Seq(6L))) {
      val df = read(v)
      assert(ids(df) == want, v)
      assert(scanMetric(df, "linesSkipped") == 0, v) // never prefiltered
    }
    assert(scanMetric({ val d = read("x"); d.collect(); d }, "linesSkipped") == 6)
  }

  test("trailing tokens make a line malformed whatever the query reads") {
    val dir = writeDocs("trailing_any_read", Seq(
      """{"id":1,"kind":"a"} {"id":2}""",
      """{"id":3,"kind":"a"}]""",
      """{"id":4,"kind":"a"}"""))
    val df = spark.read.format("docstore").schema(kindSchema).option("path", dir).load()
    assert(df.count() == 1)
    val a = df.filter(col("kind") === "a")
    assert(ids(a) == Seq(4L))
    assert(scanMetric(a, "docsMalformed") == 2)
  }

  test("a syntax error inside a field the query skips is malformed in every mode") {
    val dir = writeDocs("skipped_syntax", Seq(
      """{"id":1,"junk":[1,2,}""",
      """{"id":2,"junk":{"a":tru},"x":1}""",
      """{"id":3,"junk":"bad \q escape"}""",
      """{"id":4,"junk":01}""",
      """{"id":5,"junk":{"ok":[{}]}}"""))
    val schema = StructType(Seq(StructField("id", LongType)))
    def read(mode: String) = spark.read.format("docstore").schema(schema)
      .option("path", dir).option("schemamode", mode).load()
    assert(ids(read("permissive")) == Seq(5L))
    assert(ids(read("dropmalformed")) == Seq(5L))
    val e = intercept[Exception](read("failfast").collect())
    assert(errorChain(e).contains("unparseable document"), errorChain(e))
  }

  test("failfast names the column and echoes a bounded head of the document") {
    val line = s"""{"id":1,"n":"x","big":"${"a" * 100000}"}"""
    val dir = writeDocs("failfast_bounded", Seq(line))
    val schema = StructType(Seq(StructField("id", LongType), StructField("n", LongType)))
    val e = intercept[Exception](spark.read.format("docstore").schema(schema)
      .option("path", dir).option("schemamode", "failfast").load().collect())
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).find(m => m != null && m.startsWith("docstore failfast")).get
    assert(msg.contains("column 'n'"), msg)
    assert(msg.contains(s"in document of ${line.length} bytes"), msg)
    assert(msg.length < 600, msg.length)
  }

  test("failfast raises on a malformed line even when it lacks the pushed literal") {
    val dir = writeDocs("failfast_prefilter", Seq(
      """{"id":1,"kind":"k3"}""",
      """{"id":2,"kind": broken"""))
    def read(mode: String) = spark.read.format("docstore").schema(kindSchema)
      .option("path", dir).option("schemamode", mode).load().filter(col("kind") === "k3")
    val e = intercept[Exception](read("failfast").collect())
    assert(errorChain(e).contains("unparseable document"), errorChain(e))
    assert(ids(read("dropmalformed")) == Seq(1L))
    assert(ids(read("permissive")) == Seq(1L))
  }

  test("flattened candidates: the first wins even when null, a later one only when non-null") {
    val dir = writeDocs("candidates", Seq(
      """{"id":1,"user_id":null,"user":{"id":5}}""",
      """{"id":2,"user":{"id":6}}""",
      """{"id":3,"user":{"id":8},"user_id":7}""",
      """{"id":4,"a":{"b_c":null,"b":{"c":9}}}""",
      """{"id":5,"a":{"b_c":2,"b":{"c":9}}}""",
      """{"id":6,"a":{"b":{"c":null}},"a_b":{"c":3}}"""))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("user_id", LongType), StructField("a_b_c", LongType)))
    for (mode <- Seq("permissive", "dropmalformed", "failfast")) {
      val got = spark.read.format("docstore").schema(schema).option("path", dir)
        .option("schemamode", mode).load().orderBy("id").collect()
        .map(r => (r.get(1), r.get(2))).toSeq
      assert(got == Seq((null, null), (6L, null), (7L, null), (null, 9L),
        (null, 2L), (null, 3L)), mode)
    }
  }

  test("a repeated key reads as its last value, as the parsed tree's") {
    val dir = writeDocs("dup_keys", Seq(
      """{"id":1,"n":1,"n":2,"user":{"id":1,"segment":"a"}}""",
      """{"id":2,"n":3,"user":{"id":1},"user":{"segment":"x"}}""",
      """{"id":3,"user":{"id":1,"segment":"b"},"user":5,"n":"bad","n":4}"""))
    val schema = StructType(Seq(StructField("id", LongType), StructField("n", LongType),
      StructField("user_id", LongType), StructField("user_segment", StringType)))
    val got = spark.read.format("docstore").schema(schema).option("path", dir)
      .option("schemamode", "failfast").load().orderBy("id").collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq(1L, 2L, 1L, "a"), Seq(2L, 3L, null, "x"), Seq(3L, 4L, null, null)))
  }

  test("a __schema key anywhere in a document, last included, skips it in every mode") {
    val dir = writeDocs("schema_last", Seq(
      """{"id":1}""",
      """{"id":2,"kind":"k"}""",
      """{"id":3,"kind":"k","__schema":{"id":"BIGINT","kind":"VARCHAR"}}"""))
    for (mode <- Seq("permissive", "dropmalformed", "failfast")) {
      val df = spark.read.format("docstore").option("path", dir)
        .option("schemamode", mode).load()
      assert(df.schema.fieldNames.toSeq == Seq("id", "kind"), mode)
      assert(ids(df) == Seq(1L, 2L), mode)
      assert(ids(df.filter(col("kind") === "k")) == Seq(2L), mode)
    }
  }

  test("an integer beyond BIGINT converts as the parsed tree did") {
    val big = BigInt("123456789012345678901234567890")
    val dir = writeDocs("big_int", Seq(s"""{"id":1,"l":$big,"d":$big,"s":$big}"""))
    val schema = StructType(Seq(StructField("id", LongType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("s", StringType)))
    val r = spark.read.format("docstore").schema(schema).option("path", dir).load().head
    assert(r.getLong(1) == big.longValue)
    assert(r.getDouble(2) == big.doubleValue)
    assert(r.getString(3) == big.toString)
  }

  test("the JSON-VARCHAR fallback prints Jackson's text, not the line's bytes") {
    val dir = writeDocs("fallback_text", Seq(
      """{"id":1,"s":{ "a" : 1 ,  "b":[ 1, 2 ] }}""",
      """{"id":2,"s":1e2}""",
      """{"id":3,"s":{"x":"éA"}}""",
      """{"id":4,"s":-0.5E-3}"""))
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val got = spark.read.format("docstore").schema(schema).option("path", dir).load()
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("""{"a":1,"b":[1,2]}""", "100.0", """{"x":"éA"}""", "-5.0E-4"))
  }

  test("a pushed BIGINT SUM overflows as Spark's own SUM does, ANSI on and off") {
    val dir = writeDocs("sum_overflow", Seq(
      """{"g":1,"v":9223372036854775807}""",
      """{"g":1,"v":1}"""))
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    def docstore = spark.read.format("docstore").option("path", dir).load()
      .groupBy("g").agg(sum("v"))
    def json = spark.read.json(s"$dir/docs.jsonl").groupBy("g").agg(sum("v"))
    try {
      spark.conf.set(key, "false")
      assert(explainText(docstore).contains("PushedAggregates: [sum(v)]"))
      assert(docstore.collect().toSeq == json.collect().toSeq)
      assert(docstore.head.getLong(1) == Long.MinValue)
      spark.conf.set(key, "true")
      assert(explainText(docstore).contains("PushedAggregates: [sum(v)]"))
      for (df <- Seq(json, docstore)) {
        val e = intercept[Exception](df.collect())
        assert(errorChain(e).contains("ARITHMETIC_OVERFLOW"), errorChain(e))
      }
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a line whose leading bytes would pass for UTF-16 or UTF-32 is malformed in every mode") {
    val dir = "/tmp/graft_docstore_spec/encoding_guess"
    Files.createDirectories(Paths.get(dir))
    val lines: Seq[Array[Byte]] = Seq(
      "\u0000\u0000\u0000{\"id\":1}".getBytes("UTF-8"), // reads as UTF-32BE
      "\u0000{\u0000\u0000".getBytes("UTF-8"),           // unsupported UCS-4 order
      Array[Byte]('{', 0, '}', 0),                         // `{}` in UTF-16LE
      Array[Byte](0xFF.toByte, 0xFE.toByte, '{', 0, '}', 0), // UTF-16LE byte-order mark
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ "{\"id\":3}".getBytes("UTF-8"),
      "{\"id\":2}".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/docs.jsonl"), lines.flatMap(_ :+ '\n'.toByte).toArray)
    val schema = StructType(Seq(StructField("id", LongType)))
    def read(mode: String) = spark.read.format("docstore").schema(schema)
      .option("path", dir).option("schemamode", mode).load()
    for (mode <- Seq("permissive", "dropmalformed")) {
      val df = read(mode).filter(col("id").isNull || col("id") >= 0L)
      assert(df.collect().map(_.get(0)).toSeq == Seq(2L), mode)
      assert(scanMetric(df, "docsMalformed") == 5, mode)
    }
    val e = intercept[Exception](read("failfast").collect())
    assert(errorChain(e).contains("docstore failfast: unparseable document"), errorChain(e))
  }

  test("splits pack by Spark's file rule: small files share partitions, splitsize still caps one") {
    val dir = "/tmp/graft_docstore_spec/packing"
    Files.createDirectories(Paths.get(dir))
    val files = 24
    (0 until files).foreach { f =>
      Files.write(Paths.get(f"$dir/part-$f%02d.jsonl"), (0 until 10).map(i =>
        s"""{"id":${f * 10 + i},"pad":"${"x" * 50}"}""").mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val packed = spark.read.format("docstore").option("path", dir).load().select("id")
    val n = packed.rdd.getNumPartitions
    assert(n >= 1 && n <= spark.sparkContext.defaultParallelism, n)
    // ranges keep listing order within and across partitions
    assert(packed.collect().map(_.getLong(0)).toSeq == (0L until files * 10L))
    val fileLen = Files.size(Paths.get(s"$dir/part-00.jsonl"))
    val split = 256L
    val small = spark.read.format("docstore").option("path", dir)
      .option("splitsize", split.toString).load().select("id")
    assert(small.rdd.getNumPartitions == files * ((fileLen + split - 1) / split), fileLen)
    assert(small.collect().map(_.getLong(0)).sorted.toSeq == (0L until files * 10L))
  }

  test("a user schema reads as nullable: a missing field or a bad value is NULL, as spark.read.json reads it") {
    val dir = writeDocs("user_schema_nullable", Seq("""{"a":1}""", """{"b":2}""", """{"a":"x"}"""))
    val s = StructType(Seq(StructField("a", LongType, nullable = false)))
    val df = spark.read.schema(s).format("docstore").option("path", dir).load()
    assert(df.schema("a").nullable)
    val got = df.collect().map(r => Option(r.get(0))).toSeq
    assert(got == Seq(Some(1L), None, None), got)
    val json = spark.read.schema(s).json(dir).collect().map(r => Option(r.get(0))).toSeq
    assert(got == json, json)
  }

  test("a user schema with a type the scan does not convert fails when the read is planned, naming the column") {
    import spark.implicits._
    val dir = "/tmp/graft_docstore_spec/user_schema_int"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val ints = Seq((0L, 0), (1L, 1)).toDF("id", "n")
    ints.write.format("docstore").option("path", dir).mode("append").save()
    for (t <- Seq(IntegerType, FloatType, DecimalType(10, 2),
        ArrayType(IntegerType), MapType(StringType, LongType))) {
      val s = StructType(Seq(StructField("id", LongType), StructField("n", t)))
      val e = errorChain(intercept[Exception](
        spark.read.schema(s).format("docstore").option("path", dir).load().collect()))
      assert(e.contains(s"column n has type ${t.simpleString}") &&
        e.contains("bigint, double"), e)
    }
    // read with inference, the INT column is the BIGINT it was written as
    val back = spark.read.format("docstore").option("path", dir).load()
    assert(back.schema("n").dataType == LongType)
    assert(back.orderBy("id").collect().map(_.getAs[Long]("n")).toSeq == Seq(0L, 1L))
  }

  test("docstore write: TINYINT, SMALLINT, INT and FLOAT round-trip as BIGINT and DOUBLE") {
    val outDir = "/tmp/graft_docstore_spec/write_small_types"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    spark.range(3).select(col("id"), col("id").cast(ByteType).as("b"),
        (col("id") - 1).cast(ShortType).as("sh"), (col("id") * 7).cast(IntegerType).as("i"),
        (col("id") + 0.5).cast(FloatType).as("f"),
        array(col("id").cast(IntegerType)).as("ai"))
      .write.format("docstore").option("path", outDir).mode("append").save()
    val back = spark.read.format("docstore").option("path", outDir).load()
    assert(Seq("b", "sh", "i").forall(c => back.schema(c).dataType == LongType), back.schema)
    assert(back.schema("f").dataType == DoubleType && back.schema("ai").dataType == ArrayType(LongType))
    val r = back.orderBy("id").collect()
    assert(r.map(_.getAs[Long]("sh")).toSeq == Seq(-1L, 0L, 1L))
    assert(r.map(_.getAs[Long]("i")).toSeq == Seq(0L, 7L, 14L))
    assert(r.map(_.getAs[Double]("f")).toSeq == Seq(0.5, 1.5, 2.5))
    assert(r.map(_.getSeq[Long](r(0).fieldIndex("ai"))).toSeq == Seq(Seq(0L), Seq(1L), Seq(2L)))
    // the streaming sink asks for its table the way a reader does
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val streamDir = s"${outDir}_stream"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(streamDir))
    val in = MemoryStream[(Long, Int)]
    val q = in.toDF().toDF("id", "i").writeStream.format("docstore")
      .option("path", s"$streamDir/data").option("checkpointLocation", s"$streamDir/ckpt")
      .start()
    try { in.addData((1L, 7), (2L, 14)); q.processAllAvailable() } finally q.stop()
    val streamed = spark.read.format("docstore").option("path", s"$streamDir/data").load()
    assert(streamed.orderBy("id").collect().map(_.getAs[Long]("i")).toSeq == Seq(7L, 14L))
  }

  test("docstore write: a type the sink does not write fails on the driver, naming the column") {
    val outDir = "/tmp/graft_docstore_spec/write_refused"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    def write(c: org.apache.spark.sql.Column) =
      spark.range(2).select(col("id"), c.as("x"))
        .write.format("docstore").option("path", outDir).mode("append").save()
    // thrown by the write builder: a task's failure would arrive wrapped
    // in a SparkException
    val dec = intercept[UnsupportedOperationException](write(col("id").cast(DecimalType(10, 2))))
    assert(dec.getMessage.contains("column x has type decimal(10,2)") &&
      dec.getMessage.contains("cast it to DOUBLE"), dec.getMessage)
    val m = intercept[UnsupportedOperationException](write(map(lit("k"), col("id"))))
    assert(m.getMessage.contains("column x has type map<string,bigint>"), m.getMessage)
    assert(!Files.exists(Paths.get(outDir)) ||
      Files.list(Paths.get(outDir)).count() == 0)
  }

  test("d15 and st20 read back a per-JVM scratch collection that cleanup " +
      "deletes") {
    val d15 = DocstoreOps.d15MergeUpsert(spark, sfDir)
    val st20 = graft.streaming.Streaming.st20ViewSink(spark, sfDir)
    val paths = Seq(DocstoreOps.scratchCollection("merge_d15", sfDir),
      DocstoreOps.scratchCollection("st20_view", sfDir))
    // the keys' lazy frames read the collections while they stand
    assert(d15.count() > 0 && st20.count() > 0)
    paths.foreach(p => assert(new java.io.File(p).isDirectory, p))
    DocstoreOps.dropScratchCollections()
    paths.foreach(p => assert(!new java.io.File(p).exists, p))
  }
}
