package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft

object Ops {
  /** Write through the docstore sink as a traced span; returns its
    * latency in ns. Traced, it also records the files the write added. */
  def sinkWrite(t: Tracer, path: String)(write: => Unit): Long = {
    val before = if (t.enabled) Layers.fileCount(path) else 0
    val s = System.nanoTime()
    t.span("docstore.write")(write)
    val ns = System.nanoTime() - s
    if (t.enabled) t.writeFiles.add(Layers.fileCount(path) - before)
    ns
  }

  /** Append rows through the docstore sink; returns the latency in ns. */
  def append(spark: SparkSession, t: Tracer, rows: Seq[Row], schema: StructType,
      path: String): Long =
    sinkWrite(t, path) {
      spark.createDataFrame(rows.asJava, schema)
        .write.format("docstore").mode("append").save(path)
    }

  val Summary: StructType = StructType(Seq(
    StructField("op", LongType), StructField("name", StringType),
    StructField("rows", LongType), StructField("ms", DoubleType)))

  def collect(t: Tracer, df: => DataFrame): Array[Row] = {
    val d = df
    t.span("collect")(d.collect())
  }
}

/** docscan: one large collection; each op is one analytic query from a
  * fixed cycle, followed by an append of its answer summary to a results
  * collection. */
final class Docscan(ctx: Ctx) extends Workload {
  private val coll = s"${ctx.in}/events"
  private val warm = s"${ctx.in}/warm"
  private val results = s"${ctx.work}/results"
  private val docs = ctx.long("docs")
  private val lookupIds = ctx.strs("lookup_ids")
  private val kinds = ctx.strs("filter_kinds")
  private val qtys = ctx.strs("filter_qty").map(_.toInt)
  private val segments = ctx.strs("segments")
  val types = Vector("full", "filter", "group", "topn", "pipeline", "lookup")
  /** three rounds of the six queries, with different parameters: fewer
    * are too few samples for a steady median on a noisy host */
  override def cycle: Int = 3 * types.size

  def filterDoc(v: Int): String = s"""{"kind":"${kinds(v)}","qty":{"$$gte":${qtys(v)}}}"""
  def lookupDoc(v: Int): String = s"""{"_id":{"$$oid":"${lookupIds(v)}"}}"""
  def pipeline(v: Int): String =
    s"""[{"$$match":{"user_segment":"${segments(v)}"}},""" +
      """{"$group":{"_id":"$kind","n":{"$sum":1},"q":{"$sum":"$qty"}}},""" +
      """{"$sort":{"_id":1}}]"""

  /** The answer of query `ty` with variant `v` over collection `path`. */
  def query(spark: SparkSession, t: Tracer, path: String, ty: String, v: Int): Array[Row] = {
    def scan(filter: String = null) =
      t.span("Graft.mongoScan")(Graft.mongoScan(spark, path, filter = filter))
    ty match {
      case "full" => Ops.collect(t, scan().agg(count(lit(1)), sum("qty"),
        sum("amount"), sum(length(col("text"))), sum(size(col("tags"))),
        count("note"), max("user_id"), min("_id"), max("_id")))
      case "filter" => Ops.collect(t, scan(filterDoc(v))
        .select("seq", "amount", "user_id"))
      case "group" =>
        val key = if (v % 2 == 0) "kind" else "user_segment"
        Ops.collect(t, scan().groupBy(key).agg(count(lit(1)).as("n"),
          sum("qty").as("q"), min("amount").as("lo"), max("amount").as("hi")))
      case "topn" =>
        val by = if (v % 2 == 0) "amount" else "user_score"
        Ops.collect(t, scan().orderBy(desc(by), asc("seq")).limit(20)
          .select("seq", by))
      case "pipeline" =>
        val df = scan()
        Ops.collect(t, t.span("Graft.aggregate")(Graft.aggregate(df, pipeline(v))))
      case "lookup" => Ops.collect(t, scan(lookupDoc(v))
        .select("seq", "kind", "qty", "amount"))
    }
  }

  def setup(spark: SparkSession, round: Int): Unit = {
    val t = new Tracer(spark, listen = false)
    types.foreach(ty => query(spark, t, warm, ty, 0))
    Ops.append(spark, t, Seq(Row(0L, "warm", 0L, 0.0)), Ops.Summary, s"${ctx.work}/warm_results")
  }

  /** One untimed round of the six queries, with parameters the pass does
    * not use, over a quarter of the large collection's files (hard links):
    * in a fresh JVM the first round over it runs up to a third slower
    * than the next, which set-up's small input does not warm away. */
  override def prepare(spark: SparkSession): Unit = {
    val dir = Paths.get(s"${ctx.work}/warmup")
    Files.createDirectories(dir)
    val s = Files.list(Paths.get(coll))
    val files = try s.iterator().asScala.toVector.sortBy(_.toString) finally s.close()
    files.take(files.size / 4).foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
    val t = new Tracer(spark, listen = false)
    types.foreach(ty => query(spark, t, dir.toString, ty, kinds.size - 1))
  }

  def restore(): Unit = Main.deleteTree(Paths.get(results))

  def op(spark: SparkSession, t: Tracer, i: Int, opId: Long): OpResult = {
    val ty = types(i % types.size)
    val v = (i / types.size) % kinds.size
    t.span(s"op.$ty", opId) {
      val s = System.nanoTime()
      val rows = query(spark, t, coll, ty, v)
      val ms = (System.nanoTime() - s) / 1e6
      val a = Ops.append(spark, t, Seq(Row(opId, ty, rows.length.toLong, ms)),
        Ops.Summary, results)
      OpResult("query", docs, Seq(a), Map("type" -> ty, "v" -> v, "rows" -> rows.toSeq))
    }
  }

  def probeInputs(spark: SparkSession): Probes.Inputs = Probes.Inputs(
    collections = Seq(coll),
    filters = kinds.indices.map(filterDoc) ++ lookupIds.indices.map(lookupDoc),
    pipelines = segments.indices.map(pipeline),
    frame = () => Graft.mongoScan(spark, coll),
    text = () => Graft.mongoScan(spark, coll).select("text").limit(Probes.KernelDocs))
}

/** curate: one op is a full corpus build from a cold artifact root: the
  * documents-only curation keys, each written out, p01 through the
  * docstore sink, then a summary append. */
final class Curate(ctx: Ctx) extends Workload {
  val Keys = Vector("dd02_dedup_minhash", "dd03_dedup_simhash",
    "t18_repetition_filter", "t22_bpe_fertility", "p16_curation_dag",
    "p01_clean_pipeline")
  private val corpus = s"${ctx.in}/corpus/documents.parquet"
  private val warmCorpus = s"${ctx.in}/warmcorpus/documents.parquet"
  private val results = s"${ctx.work}/results"
  private val docs = ctx.long("docs")
  @volatile private var lastOut: String = null
  private val artifactRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A fresh input directory per build: graft keys its artifact root on
    * the input directory's name. */
  private def inputDir(name: String, source: String): String = {
    val dir = Paths.get(s"${ctx.work}/in/$name")
    Files.createDirectories(dir)
    Files.createLink(dir.resolve("documents.parquet"), Paths.get(source))
    artifactRoots.add(graft.operators.DocstoreOps.docsRoot(dir.toString))
    dir.toString
  }

  def sinkPath(out: String): String = s"$out/sink/curated/p01"

  /** Build every key into `out`, appending each key's summary row to the
    * results collection; returns the append latencies. */
  def build(spark: SparkSession, t: Tracer, opId: Long, dir: String, out: String): Seq[Long] =
    Keys.map { key =>
      t.span(s"key.$key") {
        val s = System.nanoTime()
        val df = t.span("SparkEntry.queries")(graft.SparkEntry.queries(key)(spark, dir))
        if (key == "p01_clean_pipeline")
          Ops.sinkWrite(t, sinkPath(out))(
            df.write.format("docstore").mode("overwrite").save(sinkPath(out)))
        else t.span("write.parquet")(df.write.mode("overwrite").parquet(s"$out/$key"))
        Ops.append(spark, t, Seq(Row(opId, key, 0L, (System.nanoTime() - s) / 1e6)),
          Ops.Summary, results)
      }
    }

  private def dropArtifacts(dir: String): Unit = {
    val root = graft.operators.DocstoreOps.docsRoot(dir)
    Main.deleteTree(Paths.get(root))
    artifactRoots.remove(root)
    Main.deleteTree(Paths.get(dir))
  }

  /** Set-up warms up with p01 only: a full build costs seconds even on a
    * tiny corpus, and every set-up round would pay it. */
  def setup(spark: SparkSession, round: Int): Unit = {
    val t = new Tracer(spark, listen = false)
    val dir = inputDir(s"${ctx.tag}_w$round", warmCorpus)
    val out = s"${ctx.work}/out/warm$round"
    val df = graft.SparkEntry.queries("p01_clean_pipeline")(spark, dir)
    Ops.sinkWrite(t, sinkPath(out))(df.write.format("docstore").mode("overwrite").save(sinkPath(out)))
    Ops.append(spark, t, Seq(Row(0L, "warm", 0L, 0.0)), Ops.Summary, s"${ctx.work}/warm_results")
    dropArtifacts(dir)
    Main.deleteTree(Paths.get(out))
  }

  /** One untimed full build of the small corpus, so the timed builds run
    * JIT-compiled code: a first build in a fresh JVM takes about twice
    * as long as the next and varies far more. */
  override def prepare(spark: SparkSession): Unit = {
    val dir = inputDir(s"${ctx.tag}_warm", warmCorpus)
    val out = s"${ctx.work}/out/warm"
    build(spark, new Tracer(spark, listen = false), 0L, dir, out)
    dropArtifacts(dir)
    Main.deleteTree(Paths.get(out))
  }

  def restore(): Unit = Main.deleteTree(Paths.get(results))

  def op(spark: SparkSession, t: Tracer, i: Int, opId: Long): OpResult = {
    val dir = inputDir(s"${ctx.tag}_$opId", corpus)
    val out = s"${ctx.work}/out/op$opId"
    t.span("op.build", opId) {
      val appends = build(spark, t, opId, dir, out)
      OpResult("build", docs, appends, Map("out" -> out, "dir" -> dir))
    }
  }

  /** Untimed: record what the build left in its artifact root, then drop
    * it; keep the first build's outputs (checked) and the latest (probed). */
  override def afterOp(t: Tracer, opId: Long, record: Map[String, Any]): Unit = {
    val dir = record("dir").toString
    if (t.enabled) {
      t.resolveScans() // size up the scanned artifacts before they go
      Layers.noteArtifacts(opId, graft.operators.DocstoreOps.docsRoot(dir))
    }
    dropArtifacts(dir)
    val out = record("out").toString
    if (lastOut != null && !lastOut.endsWith("/op1")) Main.deleteTree(Paths.get(lastOut))
    lastOut = out
  }

  override def extra: Map[String, Any] =
    Map("oracle" -> Keys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap)

  override def cleanup(): Unit =
    artifactRoots.asScala.toSeq.foreach(r => Main.deleteTree(Paths.get(r)))

  def probeInputs(spark: SparkSession): Probes.Inputs = Probes.Inputs(
    collections = Seq(sinkPath(lastOut)),
    filters = Seq("""{"lang":"en","n_chars":{"$gte":100}}""",
      """{"source":{"$in":["src1","src2"]},"doc_id":{"$lt":999999}}"""),
    pipelines = Seq("""[{"$match":{"lang":"en"}},""" +
      """{"$group":{"_id":"$source","n":{"$sum":1},"c":{"$sum":"$n_chars"}}}]"""),
    frame = () => spark.read.parquet(corpus),
    // the corpus repeated up to the probe size, so per-doc kernel cost is
    // not swamped by per-task overhead
    text = () => spark.read.parquet(corpus).crossJoin(
      spark.range((Probes.KernelDocs + docs - 1) / docs)).select("text"))
}
