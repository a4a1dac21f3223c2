package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the driver testdata layout (`<sfDir>/<name>.parquet`).
  *
  * Mirrors the reference's collection→table mapping
  * (reference: src/mongo_catalog.cpp:1 — MongoDB collection → table) but
  * over parquet; the docstore DSv2 source in `graft.sources` covers the
  * document-shaped path.
  *
  * Scale note: plain `spark.read.parquet` keeps Catalyst free to push
  * filters/projections into the scan and to split files by
  * `spark.sql.files.maxPartitionBytes` — correct at 100 TB as long as the
  * query declares its filters/columns (never `.cache()` a full fact table
  * here).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") normalizeEventTs(spark, s"$sfDir/$name.parquet")
    else if (name == "embeddings")
      normalizeEmbedding(spark.read.parquet(s"$sfDir/$name.parquet"))
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize `embedding` to array<float> — the vector kernels
    * (graft.functions.VectorMath) read elements with `getFloat`, which
    * on a silently-regenerated array<double> file would produce GARBAGE
    * values, not an error (the same physical-layout-drift class as the
    * round-6 events.ts outage, but worse: wrong answers instead of a
    * crash). A float64 layout downcasts map-side; anything else fails
    * loudly with the culprit named.
    */
  def normalizeEmbedding(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    raw.schema.find(_.name == "embedding").map(_.dataType) match {
      case Some(ArrayType(FloatType, _)) => raw
      case Some(ArrayType(DoubleType, _)) =>
        raw.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case other => throw new IllegalStateException(
        s"graft.Tables: embeddings.embedding resolved as " +
          s"${other.map(_.sql).getOrElse("<missing>")}; expected " +
          "ARRAY<FLOAT> (or ARRAY<DOUBLE>, downcast here). Did the " +
          "testdata layout change? Extend Tables.normalizeEmbedding.")
    }
  }

  /** Read an events-shaped parquet and normalize `ts` to session-zoned
    * TIMESTAMP regardless of the file's physical layout. The reference's
    * schema inference adapts to whatever BSON arrives (reference:
    * src/mongo_schema.cpp:1 — BSON Date always maps to one logical
    * timestamp type); pinning one parquet physical type here is the kind
    * of brittleness a document engine must not have, so branch on the
    * RESOLVED type instead:
    *
    *  - TIMESTAMP(NANOS): Spark has no nanos type; with
    *    `legacy.parquet.nanosAsLong` the column resolves LongType. Use
    *    integer `DIV 1000` to micros — a double division would silently
    *    lose precision (2024 epoch-nanos exceed 2^53).
    *  - TIMESTAMP_NTZ (micros, isAdjustedToUTC=false): cast to
    *    TimestampType. The session zone is UTC, so the cast preserves
    *    the wall-clock the oracles assume.
    *  - TIMESTAMP (micros/millis, UTC-adjusted): already right.
    */
  def normalizeEventTs(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Conf is a no-op unless the file actually annotates TIMESTAMP(NANOS).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    raw.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(TimestampNTZType) =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case Some(TimestampType) => raw
      case other => throw new IllegalStateException(
        s"graft.Tables: events parquet at $path has unsupported ts type " +
          s"${other.map(_.sql).getOrElse("<missing>")}; expected int64 " +
          "nanos, TIMESTAMP_NTZ, or TIMESTAMP. Did the testdata layout " +
          "change again? Extend Tables.normalizeEventTs.")
    }
  }

  /** Fingerprint of one table's parquet files (names + sizes + mtimes) —
    * cheap metadata walk, no data read. Shared by the docstore's derived
    * cache key and the bench stamp below.
    */
  def tableFingerprint(sfDir: String, name: String): String = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(s"$sfDir/$name.parquet")
    val parts: Seq[String] =
      if (Files.isDirectory(p)) {
        val stream = Files.list(p)
        try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .toSeq.sortBy(_.toString)
          .map(f => s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}")
        finally stream.close() // Files.list leaks a directory fd otherwise
      } else if (Files.exists(p))
        Seq(s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
      else Seq("absent")
    shortFp(parts.mkString("|"))
  }

  /** The ONE fingerprint format (32-bit Murmur hex) — Bench and the
    * per-table fingerprints must stay comparable, so every stamp goes
    * through here. */
  def shortFp(s: String): String =
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL)

  /** Fingerprint of the WHOLE testdata set a measurement ran against.
    * Stamped into BENCH_FULL.json so cross-round per-query deltas are
    * attributable: same fingerprint ⇒ same bytes were measured and a
    * delta is code or environment; different ⇒ the driver regenerated
    * testdata between runs and per-query comparisons are void (the
    * round-7 dedup-family "regressions" were exactly this ambiguity).
    */
  def testdataFingerprint(sfDir: String): String =
    all.map(n => s"$n=${tableFingerprint(sfDir, n)}").mkString(",")

  /** Rebalance a DataFrame that is about to feed a CPU-heavy map-side
    * kernel (minhash/simhash/shingling), but ONLY when the upstream scan
    * has fewer partitions than the cluster has slots. On a 1000-executor
    * cluster the input is already thousands of splits and this is the
    * identity — no gratuitous full-row shuffle; on a skewed or
    * single-chunk input (small collection dumps, local row-group-bound
    * parquet) it spreads the kernel across every core for the price of
    * shuffling the raw rows once.
    */
  def spread(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles walks the analyzed plan only — cheap; df.rdd would
    // compile the whole physical plan just to read a partition count
    val files = try df.inputFiles.length catch { case _: Throwable => slots }
    if (files > 0 && files < slots) df.repartition(slots) else df
  }

  /** Checkpoint a QUERY-/batch-sized frame at ONE partition.
    *
    * For frames whose row count is bounded by construction (Q×beam
    * probe states, Q×k ranked lists, per-tier recall tables — never
    * data-sized), one partition is the size-proportional partitioning
    * at ANY scale factor. The payoff is quadratic (optimization guide
    * §2.2): a checkpointed frame feeds k downstream shuffles, and each
    * pays M×R shuffle blocks — M=1 instead of M=defaultParallelism
    * turns every consumer exchange into a single map task with R tiny
    * segments. Measured on this host a 32×32-block exchange of
    * near-empty partitions costs ~6 s of executor CPU in per-block
    * file/stream overhead; the same exchange from one map partition is
    * milliseconds. Do NOT use on data-sized frames — their partition
    * count must keep scaling with bytes.
    */
  def ckptTiny(df: DataFrame): DataFrame =
    df.coalesce(1).localCheckpoint(false)

  /** Checkpoint a NARROW corpus-derived frame (signatures, scores,
    * flags — tens of bytes per doc versus KBs of text), then merge the
    * checkpointed partitions by `shrink`.
    *
    * The coalesce comes AFTER the checkpoint so the kernel below it
    * still materializes at the spread parallelism; only the consumers
    * read the merged layout. Partition count stays proportional to the
    * input split count (scale-adaptive — thousands of splits at
    * production size still yield hundreds of partitions), while
    * per-partition bytes move back toward what a text-bearing split
    * held, instead of inheriting one near-empty partition per kernel
    * slot and paying M×R shuffle-block overhead in every downstream
    * exchange (guide §2.2).
    */
  def ckptNarrow(df: DataFrame, shrink: Int = 16): DataFrame = {
    val ck = df.localCheckpoint(false)
    val parts =
      try ck.rdd.getNumPartitions catch { case _: Throwable => return ck }
    if (parts <= 1) ck else ck.coalesce(math.max(1, parts / shrink))
  }
}
