package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.sources.{DocstoreOptions, DocstoreTable}

/** Per-layer numbers derived from the spans and counts of a traced pass. */
object Layers {
  /** Spans that build a DataFrame (graft's construction work, including
    * any eager jobs it runs) rather than execute one. */
  val ConstructSpans = Set("Graft.mongoScan", "Graft.aggregate", "spark.sql",
    "SparkEntry.queries")

  private val artifacts = new ConcurrentHashMap[Long, (Long, Long)]()
  private val collStats = new ConcurrentHashMap[String, (Long, Long, Long)]()

  private def files(path: String): Seq[Path] = {
    val p = Paths.get(path.stripPrefix("file:"))
    if (!Files.exists(p)) Nil
    else if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toVector.sortBy(_.toString) finally s.close()
    } else Seq(p)
  }

  /** (documents, bytes) of a collection: its non-empty lines and size. */
  def collection(path: String): (Long, Long) = {
    val fs = files(path)
    val sig = fs.map(f => f.toString.hashCode.toLong * 31 + Files.size(f)).sum
    val hit = collStats.get(path)
    if (hit != null && hit._1 == sig) return (hit._2, hit._3)
    var docs, bytes = 0L
    fs.foreach { f =>
      bytes += Files.size(f)
      val in = new java.io.BufferedInputStream(Files.newInputStream(f), 1 << 16)
      try {
        var prev = '\n'.toInt
        var b = in.read()
        while (b >= 0) {
          if (b == '\n' && prev != '\n') docs += 1
          prev = b
          b = in.read()
        }
        if (prev != '\n') docs += 1
      } finally in.close()
    }
    collStats.put(path, (sig, docs, bytes))
    (docs, bytes)
  }

  def fileCount(path: String): Int = files(path).size

  /** Record the artifact directories a build left under `root`. */
  def noteArtifacts(opId: Long, root: String): Unit = {
    val p = Paths.get(root)
    val dirs = if (!Files.isDirectory(p)) Nil else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(d => Files.isDirectory(d) &&
        !d.getFileName.toString.startsWith(".")).toVector finally s.close()
    }
    val bytes = dirs.flatMap(d => files(d.toString)).map(Files.size).sum
    artifacts.put(opId, (dirs.size.toLong, bytes))
  }

  def fromSpans(t: Tracer, pass: Main.Pass, cores: Int): Map[String, Double] = {
    val ops = math.max(1, pass.results.size).toDouble
    val opIds = pass.results.map(_._1).toSet
    val spans = t.allSpans
    val children = spans.groupBy(_.parent)
    val cs = (spans.map(_.id) :+ 0L).flatMap(id => t.countsFor(id).map(id -> _)).toMap
    def sum(f: SpanCounts => Double): Double = cs.values.map(f).sum
    def selfNs(s: Span): Long =
      (s.end - s.start) - Tracer.covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    val construct = spans.filter(s => ConstructSpans(s.name))
    val writes = spans.filter(_.name == "docstore.write")
    def jobsOf(s: Span) = cs.get(s.id).map(_.jobIntervals.toSeq).getOrElse(Nil)
    val execMs = spans.groupBy(_.op).filter(g => opIds(g._1)).values.map { ss =>
      Tracer.covered(ss.flatMap(jobsOf))
    }.sum / 1e6
    val tasks = math.max(1.0, sum(_.tasks.toDouble))
    val phases = t.phases.asScala.toSeq
    val scans = t.scans.asScala.toSeq
    val scanDocs = scans.map(_._3).sum.toDouble
    val arts = opIds.toSeq.flatMap(id => Option(artifacts.get(id)))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "exec.ms" -> execMs / ops,
      "exec.jobs" -> sum(_.jobs.toDouble) / ops,
      "exec.stages" -> sum(_.stages.toDouble) / ops,
      "exec.tasks" -> sum(_.tasks.toDouble) / ops,
      "exec.task_wait_ms" -> sum(_.waitMs.toDouble) / tasks,
      "exec.core_busy_frac" -> sum(_.taskMs.toDouble) / (cores * pass.wallNs / 1e6),
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite.toDouble) / 1e6 / ops,
      "exec.spill_mb" -> sum(_.spill.toDouble) / 1e6 / ops,
      "exec.gc_ms" -> sum(_.gcMs.toDouble) / ops,
      "exec.task_retries" -> sum(_.retries.toDouble) / ops,
      "plan.analysis_ms" -> phases.map(_._1.toDouble).sum / ops,
      "plan.optimization_ms" -> phases.map(_._2.toDouble).sum / ops,
      "plan.planning_ms" -> phases.map(_._3.toDouble).sum / ops,
      "operators.construct_ms" -> construct.map(selfNs).sum / 1e6 / ops,
      "operators.construct_jobs" -> construct.flatMap(s => cs.get(s.id)).map(_.jobs).sum / ops,
      "docstore_write.job_ms" -> mean(writes.map(s => Tracer.covered(jobsOf(s)) / 1e6)),
      "docstore_write.commit_ms" -> mean(writes.flatMap { s =>
        jobsOf(s).map(_._2).maxOption.map(last => (s.end - last) / 1e6) }),
      "docstore_write.files" -> mean(t.writeFiles.asScala.toSeq.map(_.toDouble)),
      "artifact.builds_per_op" -> arts.map(_._1).sum / ops,
      "artifact.mb_per_op" -> arts.map(_._2).sum / 1e6 / ops,
      "docstore.scan_rows_per_doc" ->
        (if (scanDocs == 0) 0.0 else scans.map(_._1).sum / scanDocs),
      "docstore.input_mb_per_op" -> scans.map(_._4).sum / 1e6 / ops,
      "docstore.splits_per_op" -> scans.map(_._2).sum / ops)
  }
}

/** Direct timings of graft's layer entry points on the workload's own
  * inputs, taken after the traced pass. */
object Probes {
  val KernelDocs = 50000

  final case class Inputs(collections: Seq[String], filters: Seq[String],
      pipelines: Seq[String], frame: () => DataFrame, text: () => DataFrame)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeNs(f: => Any): Long = { val s = System.nanoTime(); f; System.nanoTime() - s }

  /** Executor CPU ns of `f`, from the tracer's task-end counter. */
  private def cpuNs(t: Tracer)(f: => Any): Long = {
    t.drain(); val c0 = t.cpuNs.get(); f; t.drain(); t.cpuNs.get() - c0
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, t: Tracer, in: Inputs, ctx: Ctx): Map[String, Double] = {
    t.enabled = false
    val opts = in.collections.map(c => DocstoreOptions(Map("path" -> c)))
    def perCall(f: DocstoreOptions => Any) =
      median(for (o <- opts; _ <- 1 to 5) yield timeNs(f(o)) / 1e6)

    // catalog: one data file of each collection mounted as <root>/p/c<i>.jsonl
    val root = Paths.get(s"${ctx.work}/probe_catalog")
    Files.createDirectories(root.resolve("p"))
    opts.zipWithIndex.foreach { case (o, i) =>
      val first = Paths.get(DocstoreTable.listFiles(o).head._1.stripPrefix("file:"))
      Files.createLink(root.resolve(s"p/c$i.jsonl"), first)
    }
    val loads = (1 to 3).flatMap { r =>
      val name = s"probe$r"
      Graft.attach(spark, name, root.toString)
      val cat = spark.sessionState.catalogManager.catalog(name).asInstanceOf[TableCatalog]
      opts.indices.map { i =>
        val id = Identifier.of(Array("p"), s"c$i")
        (timeNs(cat.loadTable(id)) / 1e6, timeNs(cat.loadTable(id)) / 1e6)
      }
    }

    val frame = in.frame()
    val scanCpu = for (c <- in.collections; _ <- 1 to 2) yield
      cpuNs(t)(noop(Graft.mongoScan(spark, c))).toDouble / Layers.collection(c)._1

    val text = in.text().cache()
    val n = text.count().toDouble
    val words = split(col("text"), " ")
    def kernel(k: org.apache.spark.sql.Column, base: org.apache.spark.sql.Column) =
      median((1 to 3).map { _ =>
        (cpuNs(t)(noop(text.select(k))) - cpuNs(t)(noop(text.select(base)))) / n
      })
    val T = graft.functions.text
    val kernels = Map(
      "kernel.minhash_sig_ns_per_doc" -> kernel(T.minhash_sig(col("text"), 64, 3), length(col("text"))),
      "kernel.simhash64_ns_per_doc" -> kernel(T.simhash64(col("text")), length(col("text"))),
      "kernel.gram_stats_ns_per_doc" -> kernel(T.gram_stats(words, 2), size(words)),
      "kernel.bpe_token_ids_ns_per_doc" -> kernel(T.bpe_token_ids(col("text")), length(col("text"))))
    text.unpersist(blocking = true)

    Map(
      "docstore.list_ms" -> perCall(DocstoreTable.listFiles),
      "docstore.stats_ms" -> perCall(DocstoreTable.estimateStats),
      "schema_inference.infer_ms" -> perCall(DocstoreTable.inferSchema),
      "mongo_filter.compile_us" -> median(for (f <- in.filters; _ <- 1 to 200)
        yield timeNs(Graft.mongoFilter(f)) / 1e3),
      "mongo_pipeline.build_ms" -> median(for (p <- in.pipelines; _ <- 1 to 5)
        yield timeNs(Graft.aggregate(frame, p)) / 1e6),
      "docstore_catalog.load_ms" -> median(loads.map(_._1)),
      "docstore_catalog.repeat_load_ms" -> median(loads.map(_._2)),
      "docstore.scan_cpu_ns_per_doc" -> median(scanCpu)) ++ kernels
  }
}
