package graft

import java.util.concurrent.atomic.AtomicLong

/** The timing harness: `runMain graft.Bench [out.json] [key1,key2,...]`.
  * Defaults: `BENCH_FULL.json` and every registry key. A subset run
  * times the named keys plus the canary key of `tools/bench_canary.json`,
  * so it is window-gated like a full run. */
object Bench {
  /** Spark local property naming the phase a job was submitted in:
    * `construct` inside `fn(spark, sfDir)`, `exec` in the noop write. */
  private val PhaseProp = "graft.bench.phase"

  /** The keys one run times, sorted: every key when `subset` is None,
    * else the named keys; `canary` joins either way. An unknown key
    * throws, naming every bad key. */
  def selectKeys(all: Iterable[String], subset: Option[String],
      canary: Option[String]): Seq[String] = {
    val known = all.toSet
    val named = subset.fold(all.toSeq)(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq)
    val unknown = (named ++ canary).filterNot(known).distinct
    require(unknown.isEmpty,
      s"unknown bench key(s): ${unknown.mkString(", ")}")
    (named ++ canary).distinct.sorted
  }

  private def jnum(src: String, field: String): Option[Double] =
    ("\"" + field + "\"\\s*:\\s*([0-9.eE+-]+)").r
      .findFirstMatchIn(src).map(_.group(1).toDouble)
  private def jstr(src: String, field: String): Option[String] =
    ("\"" + field + "\"\\s*:\\s*\"([^\"]*)\"").r
      .findFirstMatchIn(src).map(_.group(1))

  /** One successful round of one key: wall split at the `t1` mark
    * between construction and the noop write, executor CPU, and the
    * jobs/stages each phase submitted. */
  private final case class Sample(wall: Double, construct: Double,
      exec: Double, cpu: Double, constructJobs: Long, execJobs: Long,
      constructStages: Long, execStages: Long)

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("BENCH_FULL.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val canarySrc =
      try Some(java.nio.file.Files.readString(
        java.nio.file.Paths.get("tools/bench_canary.json")))
      catch { case _: Throwable => None }
    // key selection first: an unknown key fails before any Spark work
    val registry = SparkEntry.queries
    val keys = selectKeys(registry.keys, args.lift(1),
      canarySrc.flatMap(jstr(_, "key")))
    val spark = LocalSession()
    val sc = spark.sparkContext
    // ERROR: keep stdout clean for the driver's one-line JSON parse (the
    // benign single-partition WindowExec WARN from q21's ~25-row
    // post-aggregate frame would otherwise interleave with it)
    sc.setLogLevel("ERROR")
    // benign AQE late-accumulator ERRORs out of the captured tail; real
    // stage-failure narrative keeps flowing (graft.tools.LogFilters,
    // spec-pinned through a real log call)
    tools.LogFilters.installAccumulatorFilter()
    // Execution is a noop-format WRITE — full materialization of every
    // output column (VERDICT r10 #1). count()'s Aggregate wrapper lets
    // Catalyst prune columns and ELIMINATE unique-key joins whose
    // output isn't projected: the round-10b A/B measured 1.28× of the
    // suite's work (including t14's entire final join) invisible under
    // count.
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    // Warmup (untimed): JVM/JIT/codegen spin-up, parquet footer reads, and
    // the one-time docstore test-collection generation — data prep, not
    // query time. A pass over the timed keys at the smallest SF warms
    // their kernels' JIT and codegen caches (steady-state benchmarking);
    // queries then run in sorted key order so per-query timings are
    // stable run-to-run.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(n => Tables(spark, sfDir, n).count())
    operators.DocstoreOps.ensureEventDocs(spark, sfDir)
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      operators.DocstoreOps.ensureEventDocs(spark, warmDir)
      keys.foreach { k =>
        try noop(registry(k)(spark, warmDir))
        catch { case _: Throwable => () }
      }
    }
    // Executor CPU-time per query (VERDICT r9 #7): task-metrics CPU sums
    // are stable under the host's co-tenant wall-clock band, so
    // round-over-round regressions stay attributable when wall swings.
    // Queries run sequentially, so a before/after counter delta
    // attributes cleanly — PROVIDED the async listener bus is drained
    // between reads: without the drain, a query's task-end tail posts
    // after the write returns and double-attributes to the next key, and
    // min-of-5 then systematically picks the most-undercounted sample
    // (review r10). waitUntilEmpty is private[spark], which compiles to
    // a public JVM method — reflected, with a no-drain fallback that
    // only costs smear, never correctness.
    // Jobs and stages are counted per phase from the phase property each
    // job carries, so no drain is needed between the two phases; Par's
    // fresh pool threads inherit the property from the constructing
    // thread.
    val cpuNs = new AtomicLong
    val phaseJobs = Map("construct" -> new AtomicLong, "exec" -> new AtomicLong)
    val phaseStages = Map("construct" -> new AtomicLong, "exec" -> new AtomicLong)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
          .foreach { ph =>
            phaseJobs.get(ph).foreach(_.incrementAndGet())
            phaseStages.get(ph).foreach(_.addAndGet(j.stageInfos.size))
          }
    })
    val bus =
      try Some(sc.getClass.getMethod("listenerBus").invoke(sc))
      catch { case _: Throwable => None }
    def drainListeners(): Unit = bus.foreach { b =>
      try b.getClass.getMethod("waitUntilEmpty").invoke(b)
      catch { case _: Throwable =>
        try b.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(b, java.lang.Long.valueOf(5000L))
        catch { case _: Throwable => () }
      }
    }
    def counters(): Seq[Long] = Seq(phaseJobs("construct").get,
      phaseJobs("exec").get, phaseStages("construct").get,
      phaseStages("exec").get)
    // min AND p50 over 5 INTERLEAVED rounds per query: steady-state
    // throughput, not GC / page-cache / co-tenant luck. Observed noise
    // spikes last seconds and hit whole windows, so back-to-back repeats
    // share the spike — full-list rounds put a query's samples minutes
    // apart. The minimum is the honest repeatable-latency estimator; the
    // median is published alongside so round-over-round deltas are not
    // hostage to one lucky/unlucky window.
    val samples = scala.collection.mutable.LinkedHashMap[String, List[Sample]]()
    def measurePass(): (String, String) = {
      samples.clear()
      val lb = loadavg()
      for (r <- 1 to 5; name <- keys) {
        drainListeners()
        val t0 = System.nanoTime()
        val c0 = cpuNs.get()
        val n0 = counters()
        // a failed round is VISIBLE (stderr — stdout stays the JSON line)
        // and contributes NO sample: its near-zero elapsed time would
        // otherwise publish as a bogus fast min
        try {
          sc.setLocalProperty(PhaseProp, "construct")
          val df = registry(name)(spark, sfDir)
          val t1 = System.nanoTime()
          sc.setLocalProperty(PhaseProp, "exec")
          noop(df)
          val t2 = System.nanoTime()
          drainListeners()
          val Seq(cj, ej, cs, es) = counters().zip(n0).map(d => d._1 - d._2)
          samples(name) = Sample((t2 - t0) / 1e9, (t1 - t0) / 1e9,
            (t2 - t1) / 1e9, (cpuNs.get() - c0) / 1e9, cj, ej, cs, es) ::
            samples.getOrElse(name, Nil)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name round $r FAILED: " +
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
              .take(300))
          samples.getOrElseUpdate(name, Nil)
        } finally sc.setLocalProperty(PhaseProp, null)
      }
      (lb, loadavg())
    }
    // WINDOW GATE (VERDICT r14 #1): two rounds running, the official
    // artifact was recorded under co-tenant load that swamped every
    // per-key ratio (r13/r14 — canary 1.5×, load 3.5→9.8). The frozen
    // s01 canary (untouched codegen kernel since round 8) has a
    // committed clean-window reference (tools/bench_canary.json); when
    // the measured canary lands > max_ratio off it, or the pass STARTS
    // under load > max_load_before, the window is junk — RETRY the
    // measurement pass, and if it never clears, refuse to publish
    // (value −1.0, no output file) rather than stamp plausible noise as
    // an official number. Gate is armed only at the SF the reference
    // was recorded at; SPARK_GRAFT_BENCH_GATE=off disarms.
    case class CanaryGate(key: String, ref: Double, maxRatio: Double,
        maxLoad: Double)
    val gate: Option[CanaryGate] =
      if (sys.env.get("SPARK_GRAFT_BENCH_GATE").contains("off")) None
      else for {
        src <- canarySrc
        sfx <- jstr(src, "sf_suffix")
        if sfDir.stripSuffix("/").endsWith(sfx)
        key <- jstr(src, "key")
        ref <- jnum(src, "ref_sec")
        mr <- jnum(src, "max_ratio")
        ml <- jnum(src, "max_load_before")
      } yield CanaryGate(key, ref, mr, ml)
    def load1m(s: String): Double =
      s.split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    var (loadBefore, loadAfter) = measurePass()
    def canaryRatio: Double = gate.map { g =>
      samples.get(g.key).flatMap(_.map(_.wall).minOption)
        .getOrElse(-1.0) / g.ref
    }.getOrElse(-1.0)
    var gateStatus = if (gate.isEmpty) "off" else "ok"
    val maxRetries = sys.env.get("SPARK_GRAFT_BENCH_RETRIES")
      .flatMap(_.toIntOption).getOrElse(2)
    gate.foreach { g =>
      var attempts = 0
      def tripped: Boolean =
        canaryRatio > g.maxRatio || canaryRatio <= 0 ||
          load1m(loadBefore) > g.maxLoad
      while (tripped && attempts < maxRetries) {
        attempts += 1
        System.err.println(f"[bench] window gate TRIPPED (canary " +
          f"$canaryRatio%.2fx vs ref ${g.ref}%.3fs, load_before " +
          s"$loadBefore) — retrying measurement pass $attempts/$maxRetries")
        val p = measurePass(); loadBefore = p._1; loadAfter = p._2
        gateStatus = "retried"
      }
      if (tripped) gateStatus = "FAILED"
    }
    // per key, one column: a key with zero successful rounds publishes
    // -1 — an impossible value, unmistakably a failure flag rather than
    // a fast min. The construct/exec split and job counts come from the
    // round that set the min wall, so construct + exec = queries.
    def column(f: List[Sample] => Double): Seq[(String, Double)] =
      keys.map { k =>
        val ss = samples(k)
        k -> (if (ss.isEmpty) -1.0 else f(ss))
      }
    def atMin(f: Sample => Double): Seq[(String, Double)] =
      column(ss => f(ss.minBy(_.wall)))
    val results = column(_.map(_.wall).min)
    val medians = column { ss => val w = ss.map(_.wall).sorted; w(w.size / 2) }
    val cpuMins = column(_.map(_.cpu).min)
    // a fully-failed key must never IMPROVE the headline number by
    // summing its -1.0 sentinel (ADVICE r9): any failure poisons the
    // totals to -1.0 so a bad run is unmistakable at the aggregate
    val anyFailed = results.exists(_._2 < 0)
    def total(col: Seq[(String, Double)]): Double =
      if (anyFailed || col.isEmpty) -1.0 else col.map(_._2).sum
    val (totalWall, totalP50, totalCpu) =
      (total(results), total(medians), total(cpuMins))
    // Host-load stamp (VERDICT r10 #3/#7): a loud co-tenant window is
    // machine-detectable from the loadavg bracket and the p50/min
    // spread instead of inferred from an implausible delta.
    val spread = if (totalWall > 0) totalP50 / totalWall else -1.0
    // Full per-query timings → file: the driver's stdout tail capture is
    // ~2000 chars, so a 90+-query JSON line gets front-truncated and fails
    // its parse. The file holds everything; stdout gets a line that FITS.
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def cjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v.toLong }
        .mkString("{", ",", "}")
    // Testdata fingerprint: ties this measurement to the exact bytes it
    // ran against. Cross-round per-query deltas are only meaningful when
    // the fingerprints match (the driver regenerates testdata between
    // rounds; a "regression" against different data is noise, not code).
    val dataFp = Tables.testdataFingerprint(sfDir)
    val fullJson =
      s"""{"metric":"total","value":$totalWall,"unit":"sec","rounds":5,""" +
        s""""queries":${qjson(results)},"total_p50":$totalP50,""" +
        s""""queries_p50":${qjson(medians)},"total_cpu":$totalCpu,""" +
        s""""queries_cpu":${qjson(cpuMins)},""" +
        s""""queries_construct":${qjson(atMin(_.construct))},""" +
        s""""queries_exec":${qjson(atMin(_.exec))},""" +
        s""""queries_construct_jobs":${cjson(atMin(_.constructJobs))},""" +
        s""""queries_exec_jobs":${cjson(atMin(_.execJobs))},""" +
        s""""queries_construct_stages":${cjson(atMin(_.constructStages))},""" +
        s""""queries_exec_stages":${cjson(atMin(_.execStages))},""" +
        s""""loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
        s""""spread_p50_min":$spread,"sf":"$sfDir",""" +
        s""""window_gate":"$gateStatus","canary_ratio":$canaryRatio,""" +
        s""""canary_ref":${gate.map(_.ref).getOrElse(-1.0)},""" +
        s""""testdata_fingerprint":"$dataFp"}"""
    // On write failure, advertise null instead of the path — otherwise a
    // consumer silently reads a STALE file from a previous run.
    // A FAILED window gate REFUSES to publish: no output file, and the
    // stdout line carries value -1.0 — an unmistakable refusal, not a
    // plausible-but-junk table (VERDICT r14 #1).
    val fullRef =
      if (gateStatus == "FAILED") {
        System.err.println("[bench] window gate FAILED after retries — " +
          s"refusing to publish $out")
        "null"
      } else try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out), fullJson + "\n")
        "\"" + out + "\""
      } catch { case _: Throwable => "null" }
    // stdout line: total + a headline subset (one per operator family),
    // 3-decimal rounding, well under the tail window even as queries grow
    def r3(v: Double): String = f"$v%.3f"
    val headline = Seq(
      "q01_pricing_summary", "q05_multi_join", "q18_large_orders",
      "q21_cte", "q33_multi_exists", "h08_market_share", "h09_profit",
      "h13_cust_distribution", "d04_mongo_filter", "d08_docstore_scan",
      "dd02_dedup_minhash", "dd06_dedup_clusters", "s01_ann_bruteforce",
      "t07_tfidf", "m02_media_features", "p01_clean_pipeline",
      "st02_sessionize", "st06_asof_join")
    val hqs = results.filter(r => headline.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val dataFpShort = graft.Tables.shortFp(dataFp)
    val pubTotal = if (gateStatus == "FAILED") -1.0 else totalWall
    println(s"""{"metric":"total","value":${r3(pubTotal)},"unit":"sec","n_queries":${results.size},"total_p50":${r3(totalP50)},"total_cpu":${r3(totalCpu)},"load_before":"$loadBefore","load_after":"$loadAfter","window_gate":"$gateStatus","canary_ratio":${r3(canaryRatio)},"queries":$hqs,"full_per_query":$fullRef,"data_fp":"$dataFpShort","sf":"$sfDir"}""")
    spark.stop()
  }
}
