package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one op reports back to the loop. `appendNs` holds the latency of
  * each docstore-sink append the op made; `record` is what the Python side
  * checks against its DuckDB reference. */
final case class OpResult(kind: String, docs: Long, appendNs: Seq[Long],
    record: Map[String, Any])

/** Inputs and scratch space of one run. */
final case class Ctx(in: String, work: String, params: Map[String, Any],
    tag: String) {
  def strs(k: String): Vector[String] = params(k).asInstanceOf[Vector[Any]].map(_.toString)
  def long(k: String): Long = params(k).asInstanceOf[Long]
}

trait Workload {
  /** Ops come in cycles of this many; a pass always ends on a whole
    * cycle, so every run measures the same mix. */
  def cycle: Int = 1
  /** Attach and warm up a fresh session (timed as set-up). */
  def setup(spark: SparkSession, round: Int): Unit
  /** Untimed warm-up after the last set-up, before the measured pass. */
  def prepare(spark: SparkSession): Unit = ()
  /** Bring every input the ops touch back to its generated state. */
  def restore(): Unit
  /** Run the pass's `i`-th op; `opId` is unique in the run. */
  def op(spark: SparkSession, t: Tracer, i: Int, opId: Long): OpResult
  /** Clean-up after an op, outside its latency (curate drops its
    * artifacts here). */
  def afterOp(t: Tracer, opId: Long, record: Map[String, Any]): Unit = ()
  /** Inputs the layer probes run on. */
  def probeInputs(spark: SparkSession): Probes.Inputs
  def cleanup(): Unit = ()
  /** Anything else the checker needs, written to the result file. */
  def extra: Map[String, Any] = Map.empty
}

/** Benchmark driver: `perfbench.Main <workload> <inputDir> <workDir>
  * <seconds> <trace 0|1> <cores> <out.json>`. It sets up a Spark session
  * three times and keeps the last, runs the workload's ops back to back for
  * `seconds`, and writes every measurement and op answer to `out.json`.
  * With trace=1 it then runs the loop once more untraced and once traced,
  * runs the layer probes, and reports per-layer numbers. */
object Main {
  val SetupRounds = 3

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteTree) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** One pass: ops run back to back until `seconds` have passed and the
    * current cycle is whole. */
  final class Pass(val wallNs: Long, val results: Seq[(Long, Long, OpResult)],
      val errors: Seq[String], val cpuNs: Long) {
    def ops: Int = results.size + errors.size
  }

  private var lastId = 0L

  def runPass(spark: SparkSession, w: Workload, t: Tracer, seconds: Int): Pass = {
    w.restore()
    t.drain()
    val cpu0 = t.cpuNs.get()
    val results = mutable.ArrayBuffer.empty[(Long, Long, OpResult)]
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || i % w.cycle != 0) {
      lastId += 1
      val s = System.nanoTime()
      try {
        val r = w.op(spark, t, i, lastId)
        results += ((lastId, System.nanoTime() - s, r))
        w.afterOp(t, lastId, r.record)
      } catch { case e: Throwable =>
        errors += s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        e.printStackTrace()
      }
      i += 1
    }
    val wall = System.nanoTime() - t0
    log(f"pass of ${results.size + errors.size} ops took ${wall / 1e9}%.2f s")
    t.drain()
    new Pass(wall, results.toSeq, errors.toSeq, t.cpuNs.get() - cpu0)
  }

  def passJson(p: Pass): Map[String, Any] = {
    val byKind = p.results.groupBy(_._3.kind)
    Map(
      "wall_s" -> p.wallNs / 1e9,
      "ops" -> p.ops,
      "errors" -> p.errors,
      "cpu_s" -> p.cpuNs / 1e9,
      "docs" -> p.results.map(_._3.docs).sum,
      "op_ms" -> p.results.filter(_._3.kind != "append").map(_._2 / 1e6),
      "append_ms" -> p.results.flatMap(_._3.appendNs).map(_ / 1e6),
      "kinds" -> byKind.map { case (k, v) => k -> v.size },
      "records" -> p.results.map { case (id, lat, r) =>
        r.record ++ Map("id" -> id, "kind" -> r.kind, "ms" -> lat / 1e6) })
  }

  def main(args: Array[String]): Unit = {
    val bootMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, in, work, secS, traceS, coresS, out) = args
    val seconds = secS.toInt
    val traced = traceS == "1"
    val cores = coresS.toInt
    val params = Json.readParams(s"$in/params.json")
    val ctx = Ctx(in, work, params,
      s"pb${ProcessHandle.current().pid()}_${params("seed")}")
    Files.createDirectories(Paths.get(work))
    val w: Workload = workload match {
      case "docscan" => new Docscan(ctx)
      case "curate" => new Curate(ctx)
    }
    val out0 = mutable.LinkedHashMap[String, Any]("boot_s" -> bootMs / 1e3)
    var spark: SparkSession = null
    try {
      val setups = (1 to SetupRounds).map { round =>
        if (spark != null) stop(spark)
        val s0 = System.nanoTime()
        spark = session(cores, work)
        spark.sparkContext.setLogLevel("ERROR")
        w.setup(spark, round)
        val took = (System.nanoTime() - s0) / 1e9
        log(f"set-up $round took $took%.2f s")
        took
      }
      out0("setup_s") = setups
      val p0 = System.nanoTime()
      w.prepare(spark)
      log(f"preparation took ${(System.nanoTime() - p0) / 1e9}%.2f s")
      val tracer = new Tracer(spark)
      val first = runPass(spark, w, tracer, seconds)
      out0("pass") = passJson(first)
      out0 ++= w.extra
      out0("peak_rss_mb") = peakRssMb()
      if (traced) {
        // a second untraced pass, as warm as the traced one, is the base
        // that trace.overhead_frac compares against
        val base = runPass(spark, w, tracer, seconds)
        tracer.enabled = true
        val traced = runPass(spark, w, tracer, seconds)
        tracer.resolveScans()
        out0("traced_pass") = passJson(traced) - "records"
        val layers = Layers.fromSpans(tracer, traced, cores)
        val p0 = System.nanoTime()
        val probes = Probes.run(spark, tracer, w.probeInputs(spark), ctx)
        log(f"probes took ${(System.nanoTime() - p0) / 1e9}%.2f s")
        def perOpMs(p: Pass) = p.wallNs / 1e6 / math.max(1, p.ops)
        out0("per_layer") = layers ++ probes ++ Map(
          "trace.overhead_frac" -> (perOpMs(traced) / perOpMs(base) - 1.0))
        Option(tracer.lastError.get()).foreach(e => out0("trace_error") = e.toString)
        out0("spans") = tracer.allSpans.map(s =>
          Seq(s.id, s.name, s.parent, s.op, s.start, s.end))
      }
    } finally {
      try w.cleanup() finally if (spark != null) stop(spark)
    }
    Files.writeString(Paths.get(out), Json.render(out0.toMap))
  }
}
