package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Composed end-to-end shapes: the individual operators of §2.2/§2.3
  * chained the way a production corpus pipeline would use them.
  */
object Pipeline {

  // ---------------------------------------------------------------- p01
  /** Corpus-cleaning pipeline: language filter → length/quality gates →
    * exact dedup (keep lowest id per text hash) → per-doc token stats.
    * One pass + one SHRINKING hash-agg shuffle on the text hash: keep-min
    * is `min(struct(doc_id, …))` per hash, so map-side combine collapses
    * every partition's copies before the exchange — a window over the
    * hash would colocate all copies of a pathological duplicate on one
    * task (the t07/t12 lesson). Every stage before the agg is map-side
    * (filters push to the scan).
    */
  def p01CleanPipeline(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(col("lang") === "en" && col("n_chars") >= 100)
      .withColumn("tokens", size(split(col("text"), " ")).cast(LongType))
      .filter(col("tokens") >= 30)
      .groupBy(md5(col("text")).as("h"))
      // struct min orders by doc_id first (unique) — exact keep-min row
      .agg(min(struct(col("doc_id"), col("source"), col("tokens"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.source").as("source"),
        col("f.tokens").as("tokens"))
      .orderBy(col("doc_id"))

  val p01Sql: String =
    """SELECT doc_id, source,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
      |FROM documents
      |WHERE lang = 'en' AND n_chars >= 100
      |  AND len(string_split(text, ' ')) >= 30
      |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d11
  /** Document access through Spark 4's native VARIANT type: parse the
    * JSON sub-document once into a binary variant, extract typed fields
    * with `variant_get` — the engine-native successor to the reference's
    * Document→JSON-VARCHAR + json_extract path (README "BSON Type
    * Mapping"). Variant keeps extraction codegen'd and avoids re-parsing
    * the JSON per field at 100 TB.
    */
  def d11Variant(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .withColumn("v", parse_json(col("props")))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("event_type"))

  val d11Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  ROUND(SUM(value), 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- p02
  /** Deterministic hash sampling — THE scalable sampling idiom: a pure
    * map-only filter on a content-derived hash, so the sample is (a)
    * reproducible across runs/engines/cluster sizes, (b) zero-shuffle at
    * any scale (contrast: per-group windows shuffle by stratum and skew
    * on big strata), and (c) composable — downstream stages see a plain
    * filtered scan with pushdown intact.
    */
  def p02HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      // md5 hex is identical everywhere; prefix <= '3f' keeps ~25%
      .filter(substring(md5(concat(col("doc_id").cast(StringType),
        lit(":"), col("source"))), 1, 2) <= "3f")
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))

  val p02Sql: String =
    """SELECT doc_id, source, lang FROM documents
      |WHERE substr(md5(doc_id || ':' || source), 1, 2) <= '3f'
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p03
  /** Training-mix builder: per-source sampling rates (the "mixing
    * ratios" step of a corpus pipeline) + per-source doc/token budgets.
    * Rates are hash thresholds, so the mix stays map-only and
    * deterministic; the only shuffle is the final tiny per-source agg
    * (map-side combined).
    */
  def p03TrainingMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // even-numbered sources keep ~75% ('bf'), odd keep ~25% ('3f')
    val threshold = when(
      substring(col("source"), 4, 10).cast(LongType) % 2 === 0, "bf")
      .otherwise("3f")
    docs
      .filter(substring(md5(col("doc_id").cast(StringType)), 1, 2)
        <= threshold)
      .withColumn("tokens",
        size(TextAnalysis.toks(col("text")))
          .cast(LongType))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("tokens")).as("token_budget"))
      .orderBy(col("source"))
  }

  val p03Sql: String =
    s"""SELECT source, COUNT(*) AS docs_kept,
      |  CAST(SUM(len(${TextAnalysis.toksSql("text")})) AS BIGINT) AS token_budget
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <=
      |  CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
      |       THEN 'bf' ELSE '3f' END
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- p07
  /** Mixture sampling WITH UPSAMPLING: per-source repeat factors
    * (w = 0.25 + (srcnum mod 4)·0.75 → 0.25, 1.0, 1.75, 2.5), the
    * Dolma/Pile "source mixing" step where high-quality sources repeat
    * across an epoch and low-quality ones subsample. Deterministic
    * randomized rounding: every doc emits floor(w) copies plus one more
    * when its hash-uniform falls below frac(w) — E[copies] = w exactly,
    * and the decision is a pure function of (doc_id, source), so every
    * engine, run, and cluster size deals the same mixture (p02's
    * hex-threshold idiom: frac .25/.75/.5 → prefix ≤ '3f'/'bf'/'7f').
    *
    * Scale: map-only (hash + bounded explode, max 3 copies); no
    * shuffle before the presentation sort. Repeat copies carry `rep`
    * (1-based copy index) so downstream epoch assembly can interleave.
    */
  def p07MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val m = substring(col("source"), 4, 10).cast(LongType) % 4
    val base = when(m === 0, 0L).when(m === 1, 1L).when(m === 2, 1L)
      .otherwise(2L)
    val h2 = substring(md5(concat(col("doc_id").cast(StringType),
      lit("#mix"), col("source"))), 1, 2)
    val extra = when((m === 0 && h2 <= "3f") || (m === 2 && h2 <= "bf") ||
      (m === 3 && h2 <= "7f"), 1L).otherwise(0L)
    docs.select(col("doc_id"), col("source"), (base + extra).as("r"))
      .filter(col("r") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("r"))).as("rep"))
      .orderBy(col("doc_id"), col("rep"))
  }

  val p07Sql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(substr(source, 4) AS BIGINT) % 4 AS m,
      |    substr(md5(CAST(doc_id AS VARCHAR) || '#mix' || source), 1, 2) AS h2
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |    (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 2 END) +
      |    (CASE WHEN (m = 0 AND h2 <= '3f') OR (m = 2 AND h2 <= 'bf')
      |               OR (m = 3 AND h2 <= '7f') THEN 1 ELSE 0 END) AS reps
      |  FROM d)
      |SELECT doc_id, source, unnest(generate_series(1, reps)) AS rep
      |FROM r WHERE reps >= 1 ORDER BY doc_id, rep""".stripMargin

  // ---------------------------------------------------------------- p08
  /** Leak-safe train/eval split: assignment is per NEAR-DUP CLUSTER, not
    * per document — a per-doc split lets a near-duplicate of a training
    * doc land in eval, the classic contamination path a per-doc hash
    * split cannot prevent. Clusters come from dd06's connected
    * components over the verified Jaccard pair graph; the ~10 % eval
    * tag is a hash of the CLUSTER id, so every member of a cluster —
    * and therefore every near-dup pair — lands on the same side, and
    * the assignment is reproducible across engines and runs.
    *
    * Scale: the cluster assignment is READ, not recomputed — dd06's CC
    * chain materializes once per corpus generation into an artifact
    * ([[Dedup.ensureClusterArtifact]]) and this split — like any other
    * cluster consumer — is an artifact scan plus a map-only tag. The
    * plan shows a parquet FileScan of the cluster artifact where the
    * iterative CC loop used to sit.
    */
  def p08LeakSafeSplit(spark: SparkSession, dir: String): DataFrame =
    Dedup.ensureClusterArtifact(spark, dir)
      .withColumn("split",
        when(evalSplit(col("cluster_id")), "eval").otherwise("train"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))

  /** p08's rule: a cluster goes to eval when the first md5 byte of its
    * salted id is at most 0x19 (about 10 % of clusters). */
  private def evalSplit(cluster: Column): Column =
    substring(md5(concat(cluster.cast(StringType), lit("#split"))), 1, 2) <=
      "19"

  /** The oracle side of [[evalSplit]]. */
  private[operators] def evalSplitSql(cluster: String): String =
    s"""substr(md5(CAST($cluster AS VARCHAR) || '#split'),
       |            1, 2) <= '19'""".stripMargin

  /** Oracle: dd06's cluster labels ([[Dedup.clusterCtes]]), then the
    * split tag is a hash of the CLUSTER id, so the whole cluster lands
    * on one side. */
  val p08Sql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes}
       |SELECT doc_id, cluster_id,
       |  CASE WHEN ${evalSplitSql("cluster_id")}
       |       THEN 'eval' ELSE 'train' END AS split
       |FROM labels ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p13
  /** Temperature-scaled source rebalancing (the XLM-R / mT5 α-sampling
    * step, Conneau 2020 §3.1, with α = 0.5): per-source sampling
    * weights w_s ∝ n_s^α flatten the source-size distribution so head
    * sources stop drowning the tail. Sources are folded into a skewed
    * head/mid/tail grouping first (the corpus's own sources are
    * uniform — the fold is what makes the flattening observable and
    * specced); the total budget B = ⌊N/3⌋ docs is apportioned across
    * groups by Hamilton largest-remainder, and each group's quota is
    * filled in deterministic md5-rank order (p04's ladder machinery).
    *
    * Cross-engine (§5): α = 0.5 makes the weight a SQRT — the one
    * power IEEE-754 requires correctly rounded in every engine — so
    * w_s = CAST(ROUND(sqrt(n_s)·1e6) AS BIGINT) is bit-identical
    * (sqrt of a non-square integer is irrational, so the ·1e6 product
    * never sits on the round half-way; a perfect square is integral).
    * From there the apportionment is EXACT integer algebra:
    * base_s = (B·w_s) DIV W, rem_s = (B·w_s) MOD W, the B − Σbase
    * largest remainders (ties by group name) get +1, and alloc is
    * capped at n_s (one-pass capped Hamilton; the residue is not
    * redistributed — the oracle replicates the cap). No float ever
    * meets a comparison.
    *
    * Scale: two corpus scans — a source-column-only scan into the
    * shrinking group count (tiny output), and the ranked-selection
    * scan through [[Ladders.globalRank]] (bucketed, no group-sized
    * window partition). The apportionment windows run on the
    * group-count frame, bounded by the number of sources (the t15
    * bounded-frame discipline). B·w_s fits a BIGINT up to ~1e9 docs
    * (N^1.5·1e6 < 2^63); past that drop the weight scaling to 1e3
    * (bound ~9e10 docs) — documented, not coded.
    */
  def p13TemperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables(spark, dir, "documents")
        .withColumn("grp", mixGroup(col("source"))))
      .select(col("doc_id"), col("grp"), col("rn"), col("alloc"))
      .orderBy(col("doc_id"))

  /** p13's fold of the sources into head (0-9), mid (10-15) and one tail
    * group per remaining source. */
  private def mixGroup(source: Column): Column = {
    val srcNum = substring(source, 4, 10).cast(LongType)
    when(srcNum < 10, "head").when(srcNum < 16, "mid")
      .otherwise(concat(lit("tail"), substring(source, 4, 10)))
  }

  /** p13's mix over `docs(doc_id, grp, …)`: the capped Hamilton
    * allocation of ⌊N/3⌋ by √n_s, each group's quota filled in md5-rank
    * order. Returns the picked rows of `docs` with `rn` and `alloc`. */
  private def temperatureMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("grp")).agg(count(lit(1)).as("n_s"))
      .withColumn("w", round(sqrt(col("n_s")) * 1e6).cast(LongType))
    val tot = counts.agg(sum(col("n_s")).as("__N"), sum(col("w")).as("__W"))
    // one ordered window over the group-count frame: rank by remainder
    // and the base total ride the same (full-frame) spec
    val wTiny = Window.orderBy(col("rem").desc, col("grp"))
    val alloc = counts.crossJoin(broadcast(tot))
      .withColumn("b", expr("__N DIV 3"))
      .withColumn("base", expr("(b * w) DIV __W"))
      .withColumn("rem", expr("(b * w) % __W"))
      .withColumn("rr", row_number().over(wTiny))
      .withColumn("base_sum", sum(col("base")).over(wTiny.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("alloc", least(
        col("base") + when(col("rr") <= col("b") - col("base_sum"), 1L)
          .otherwise(0L), col("n_s")))
      .select(col("grp"), col("alloc"))
    Ladders.globalRank(
        docs.withColumn("__h",
            md5(concat(col("doc_id").cast(StringType), lit("#temp"))))
          .withColumn("__b", substring(col("__h"), 1, 2)),
        Seq("grp"), "__b", Seq(col("__h"), col("doc_id")), "rn", None)
      .join(broadcast(alloc), "grp")
      .filter(col("rn") <= col("alloc"))
  }

  /** The oracle side of [[mixGroup]]. */
  private[operators] def mixGroupSql(source: String): String =
    s"""CASE WHEN CAST(substr($source, 4) AS BIGINT) < 10 THEN 'head'
       |         WHEN CAST(substr($source, 4) AS BIGINT) < 16 THEN 'mid'
       |         ELSE 'tail' || substr($source, 4) END""".stripMargin

  /** The oracle side of [[temperatureMix]]: CTEs ending in
    * `tm_pick(<src's columns>, rn, alloc)` over `src(doc_id, grp, …)`. */
  private[operators] def temperatureMixCtesSql(src: String): String =
    s"""tm_n AS (SELECT grp, COUNT(*) AS n_s FROM $src GROUP BY grp),
       |tm_w AS (SELECT grp, n_s,
       |    CAST(ROUND(SQRT(n_s) * 1000000) AS BIGINT) AS w FROM tm_n),
       |tm_tot AS (SELECT CAST(SUM(n_s) AS BIGINT) // 3 AS b,
       |    CAST(SUM(w) AS BIGINT) AS wsum FROM tm_w),
       |tm_a0 AS (SELECT grp, n_s, w, b, wsum,
       |    (b * w) // wsum AS base, (b * w) % wsum AS rem FROM tm_w, tm_tot),
       |tm_a1 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, grp) AS rr,
       |    SUM(base) OVER () AS base_sum FROM tm_a0),
       |tm_alloc AS (SELECT grp, CAST(LEAST(base +
       |      CASE WHEN rr <= b - base_sum THEN 1 ELSE 0 END, n_s) AS BIGINT)
       |    AS alloc FROM tm_a1),
       |tm_sel AS (SELECT *, row_number() OVER (PARTITION BY grp
       |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '#temp'), doc_id) AS rn
       |  FROM $src),
       |tm_pick AS MATERIALIZED (SELECT s.*, a.alloc
       |  FROM tm_sel s JOIN tm_alloc a USING (grp) WHERE s.rn <= a.alloc)""".stripMargin

  val p13Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ${mixGroupSql("source")} AS grp
       |  FROM documents),
       |${temperatureMixCtesSql("d")}
       |SELECT doc_id, grp, rn, alloc FROM tm_pick ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p04
  /** Stratified sampling: a fixed FRACTION of every (source) stratum,
    * picked by hash rank — the "equal representation" counterpart to
    * p02's global hash sample. Hash rank, not random(): reproducible
    * across runs, engines, and cluster sizes.
    *
    * Scale: a window partitioned by `source` alone would sort a whole
    * stratum (tens of TB at corpus scale) in ONE task. Instead the rank
    * is a two-level [[Ladders.globalRank]] ladder: the md5 rank key is
    * its own uniform bucketer, so a 2-hex-char prefix (256 cells/stratum;
    * the prefix length is the scale knob — 3 chars = 4096 cells) bounds
    * every sorted partition at stratum/256, and the exact global rank
    * comes from offsetting local ranks by the tiny broadcast per-cell
    * count prefix-sum. Output is bit-identical to the single-window form.
    */
  def p04Stratified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("__h",
        md5(concat(col("doc_id").cast(StringType), lit("#strat"))))
      .withColumn("__b", substring(col("__h"), 1, 2))
    Ladders.globalRank(docs, Seq("source"), "__b",
        Seq(col("__h"), col("doc_id")), "rn", Some("n_src"))
      .filter(col("rn") <= ceil(col("n_src") * 0.2))
      .select(col("doc_id"), col("source"), col("lang"), col("rn"))
      .orderBy(col("doc_id"))
  }

  val p04Sql: String =
    """SELECT doc_id, source, lang, rn FROM (
      |  SELECT doc_id, source, lang,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '#strat'), doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n_src
      |  FROM documents)
      |WHERE rn <= ceil(n_src * 0.2) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p05
  /** The contiguous-shard machinery shared by p05 (whitespace budget)
    * and p17 (BPE budget): exclusive prefix sum of `tokens` in doc
    * order per source through the bucketed ladder, shard = INTEGRAL
    * div by `budget` (a Double round-trip of a cumsum past 2^53 could
    * land the truncated quotient one shard off the oracle's exact
    * floor — review r11; the bucket expression keeps `div` for the
    * same reason, exact at any id magnitude). */
  private def tokenShards(toks0: DataFrame, budget: Long): DataFrame = {
    // ONE kernel pass: the bounds aggregate is a second consumer of the
    // token frame — without the barrier it re-runs the tokenizer against
    // its own parquet scan (the m14 audit class; for p17 that doubles
    // the BPE kernel cost)
    val toks = Tables.ckptNarrow(toks0)
    val bounds = toks.agg(min(col("doc_id")).as("__lo"),
      max(col("doc_id")).as("__hi"))
    val bucketed = toks.crossJoin(broadcast(bounds))
      .withColumn("__b",
        expr("(doc_id - __lo) div (((__hi - __lo) div 256) + 1)"))
      .drop("__lo", "__hi")
    Ladders.globalCumsum(bucketed, Seq("source"), "__b",
        Seq(col("doc_id")), col("tokens"), "cum_tokens")
      .withColumn("shard", expr(s"(cum_tokens - tokens) div $budget"))
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("shard"))
  }

  /** Token-budget shard packing: assign docs to fixed-budget shards
    * (the sequence-packing prelude of a training run) by a running token
    * cumsum per source — shard k holds the docs whose cumulative count
    * crosses [k·B, (k+1)·B). Deterministic doc order (doc_id) makes the
    * packing reproducible across engines and runs.
    *
    * Scale: the running sum is a two-level [[Ladders.globalCumsum]]
    * ladder, not a window over `source` (which would stream a whole
    * stratum through ONE task). The order key (doc_id) is a natural key,
    * so the monotone bucketer is a RANGE bucket: doc_id bounds come from
    * a one-row agg that enters the plan by broadcast (no driver action),
    * and 256 equal-width id ranges bound every local cumsum cell
    * (bucket count is the scale knob). Local running sums are offset by
    * the tiny broadcast per-cell token-total prefix-sum — exact, same
    * output as the single-window form ([[tokenShards]]).
    */
  def p05TokenShards(spark: SparkSession, dir: String): DataFrame =
    tokenShards(Tables(spark, dir, "documents")
      .withColumn("tokens",
        size(TextAnalysis.toks(col("text")))
          .cast(LongType))
      .select(col("doc_id"), col("source"), col("tokens")), 20000L)

  val p05Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source,
      |    CAST(len(${TextAnalysis.toksSql("text")}) AS BIGINT) AS tokens
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, source, tokens,
      |    SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM toks)
      |SELECT source, CAST((cum_tokens - tokens) // 20000 AS BIGINT) AS shard,
      |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM packed GROUP BY 1, 2 ORDER BY source, shard""".stripMargin

  // ---------------------------------------------------------------- p06
  /** Deterministic global shuffle — the training-order step: every
    * epoch's data order is a pure function of (doc_id, seed), so a
    * re-run, a different cluster size, or a different engine deals the
    * same rows to the same shard at the same position. Shard = first md5
    * hex char (16 shards), position = hash rank within the shard.
    *
    * Scale: the hash is map-only; the one shuffle is the shard exchange,
    * uniform by construction (crypto-hash prefix), and the per-shard
    * sort is a within-partition sort — at petabyte scale the same shape
    * with more shards (hex prefix length k → 16^k shards, shard count
    * chosen so a shard fits an output file).
    */
  /** The deal with the shard-prefix length as a real parameter: 16^k
    * shards. Because the shard key is a PREFIX of the rank hash, the
    * concatenated deal order (shard asc, pos asc) is the same sequence
    * (h, doc_id) for every k — growing a cluster re-cuts the same deal
    * into more files, it never reorders it (specced at k=1 vs k=2). */
  def globalShuffle(spark: SparkSession, dir: String,
      prefixLen: Int): DataFrame = {
    require(prefixLen >= 1 && prefixLen <= 8,
      s"shard prefix length must be in [1, 8], got $prefixLen")
    val seeded = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        md5(concat(col("doc_id").cast(StringType), lit(":epoch7"))).as("h"))
      .withColumn("shard", substring(col("h"), 1, prefixLen))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    seeded
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"), col("h"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Shard-prefix length sized from the input: smallest k with
    * 16^k shards of ≤ rowsPerShard rows (so a shard fits one output
    * file / one task's sort). */
  def shardPrefixLen(estimatedRows: Long,
      rowsPerShard: Long = 4000000L): Int = {
    require(rowsPerShard > 0)
    val need = math.max(1L, (estimatedRows + rowsPerShard - 1) / rowsPerShard)
    val k = (math.log(need.toDouble) / math.log(16.0)).ceil.toInt
    math.min(8, math.max(1, k))
  }

  def p06GlobalShuffle(spark: SparkSession, dir: String): DataFrame =
    globalShuffle(spark, dir, prefixLen = 1)

  val p06Sql: String =
    """SELECT doc_id, substr(h, 1, 1) AS shard,
      |  CAST(row_number() OVER (PARTITION BY substr(h, 1, 1)
      |    ORDER BY h, doc_id) AS BIGINT) AS pos, h
      |FROM (SELECT doc_id, md5(doc_id || ':epoch7') AS h FROM documents)
      |ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------- p09
  /** Quality-filter FUNNEL with per-rule attrition — the C4/Gopher-style
    * cascade every curation run fronts, with the reporting that makes it
    * operable: each rule applies to the previous rule's survivors and
    * publishes (n_in, n_dropped, n_out), so a mis-tuned threshold shows
    * up as the stage that guts the corpus — the number-one data-bug
    * class in pretraining pipelines, and invisible when filters are
    * fused into one WHERE. Rules are Gopher-adjacent, thresholds sized
    * to the corpus distributions (documented in each rule name):
    * minimum length → stopword presence → mean-word-length band →
    * lexical diversity → t16's blocklist. Features are t02's, over
    * [[TextAnalysis.toks]] with t02's stopword list, so both engines
    * compute identical IEEE ratios and the comparisons agree bitwise;
    * the last stage is t16's [[TextAnalysis.blockHits]]. The count row
    * ([[cnt]]) and its unpivot ([[funnelReport]]) are the funnel p16
    * reports through.
    *
    * Scale: ONE scan — every per-doc feature is a map-side expression,
    * the funnel collapses to a single partially-aggregated count row,
    * and the stage rows are a constant-width unpivot of that row. No
    * shuffle of document data at all; cost = scan bandwidth.
    */
  def p09QualityFunnel(spark: SparkSession, dir: String): DataFrame = {
    val t = TextAnalysis.toks(col("text"))
    val nTok = size(t).cast(LongType)
    val nStop = TextAnalysis.markerHits(t, TextAnalysis.t02StopWords)
    val wordChars = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    val nUniq = size(array_distinct(t)).cast(LongType)
    val stopR = nStop.cast(DoubleType) / nTok
    val awl = wordChars.cast(DoubleType) / nTok
    val uniqR = nUniq.cast(DoubleType) / nTok
    val b1 = nTok >= 25
    val b2 = stopR >= 0.02
    val b3 = awl >= 3.0 && awl <= 4.7
    val b4 = uniqR >= 0.35
    // stage 5 = t16's C4 blocklist gate (the same literal list), so
    // the funnel reports the attrition of EVERY shipping filter
    val b5 = TextAnalysis.blockHits(t) === 0
    val one = Tables(spark, dir, "documents").agg(
      count(lit(1)).as("n0"), cnt(b1).as("s1"), cnt(b1 && b2).as("s2"),
      cnt(b1 && b2 && b3).as("s3"), cnt(b1 && b2 && b3 && b4).as("s4"),
      cnt(b1 && b2 && b3 && b4 && b5).as("s5"))
    funnelReport(one, p09Rules)
  }

  private val p09Rules = Seq(
    ("min_tokens_25", "n0", "s1"),
    ("stopword_ratio_ge_0.02", "s1", "s2"),
    ("avg_word_len_3.0_4.7", "s2", "s3"),
    ("uniq_token_ratio_ge_0.35", "s3", "s4"),
    ("blocklist_c4", "s4", "s5"))

  /** A funnel's count of the rows where `c` holds. */
  private def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))

  /** A funnel's report, unpivoted from its one count row `one`: stage i
    * (from 1) applies `rules(i - 1) = (rule, n_in, n_out)`, which name
    * the columns of `one` holding the stage's input and output counts.
    * `tail` appends stages built by hand, whose n_dropped is not
    * n_in - n_out. */
  private def funnelReport(one: DataFrame, rules: Seq[(String, String, String)],
      tail: Column*): DataFrame = {
    val stages = rules.zipWithIndex.map { case ((rule, in, out), i) =>
      struct(lit(i + 1L).as("stage"), lit(rule).as("rule"),
        col(in).as("n_in"), (col(in) - col(out)).as("n_dropped"),
        col(out).as("n_out")) }
    one.select(explode(array(stages ++ tail: _*)).as("r"))
      .select(Seq("stage", "rule", "n_in", "n_dropped", "n_out")
        .map(c => col(s"r.$c").as(c)): _*)
      .orderBy(col("stage"))
  }

  /** The oracle side of [[cnt]]. */
  private[operators] def cntSql(c: String): String =
    s"CAST(SUM(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT)"

  /** The oracle side of [[funnelReport]], reading every count from the
    * one-row relation `from`; each of `tail` is a hand-built stage row. */
  private[operators] def funnelReportSql(rules: Seq[(String, String, String)],
      from: String, tail: String*): String = {
    val rows = rules.zipWithIndex.map { case ((rule, in, out), i) =>
      if (i == 0) s"SELECT 1::BIGINT AS stage, '$rule' AS rule, $in AS n_in, " +
        s"$in - $out AS n_dropped, $out AS n_out FROM $from"
      else s"UNION ALL SELECT ${i + 1}, '$rule', $in, $in - $out, $out FROM $from"
    } ++ tail.map(r => s"UNION ALL $r FROM $from")
    s"""SELECT stage, rule, n_in, n_dropped, n_out FROM (
       |  ${rows.mkString("\n  ")})
       |ORDER BY stage""".stripMargin
  }

  val p09Sql: String =
    s"""WITH base AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |    ${TextAnalysis.markerHitsSql("ts", TextAnalysis.t02StopWords)} AS n_stop,
      |    CAST(list_sum(list_transform(ts, x -> length(x))) AS BIGINT) AS word_chars,
      |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_uniq,
      |    ${TextAnalysis.markerHitsSql("ts", TextAnalysis.blocklist)} AS n_bad
      |  FROM (SELECT doc_id, ${TextAnalysis.toksSql("text")} AS ts FROM documents)),
      |flags AS (
      |  SELECT
      |    n_tokens >= 25 AS b1,
      |    CAST(n_stop AS DOUBLE) / n_tokens >= 0.02 AS b2,
      |    CAST(word_chars AS DOUBLE) / n_tokens >= 3.0
      |      AND CAST(word_chars AS DOUBLE) / n_tokens <= 4.7 AS b3,
      |    CAST(n_uniq AS DOUBLE) / n_tokens >= 0.35 AS b4,
      |    n_bad = 0 AS b5
      |  FROM base),
      |c AS (
      |  SELECT COUNT(*) AS n0,
      |    ${cntSql("b1")} AS s1,
      |    ${cntSql("b1 AND b2")} AS s2,
      |    ${cntSql("b1 AND b2 AND b3")} AS s3,
      |    ${cntSql("b1 AND b2 AND b3 AND b4")} AS s4,
      |    ${cntSql("b1 AND b2 AND b3 AND b4 AND b5")} AS s5
      |  FROM flags)
      |${funnelReportSql(p09Rules, "c")}""".stripMargin

  // ---------------------------------------------------------------- p10
  /** Concat-and-chunk sequence packing — the step that turns a curated
    * corpus into fixed-length training sequences (GPT-style pretraining
    * packing; p05 stops at shard token budgets): per source, the token
    * stream in deterministic doc_id order is concatenated and chopped
    * into 512-token sequences, and each document is mapped to the
    * span(s) it occupies — (seq_id, seq_off, doc_off, seg_tok) — exactly
    * the index a training data loader needs to materialize packed,
    * attention-masked batches. Documents straddle sequence boundaries by
    * design (that IS concat-and-chunk); every sequence except each
    * source's last is exactly full, which the spec asserts.
    *
    * Scale: p05's two-level [[Ladders.globalCumsum]] ladder (range-
    * bucketed doc_id order — no data-sized window task), then a MAP-ONLY
    * bounded explode: a doc emits at most tokens/512 + 1 span rows, so
    * output ∝ corpus tokens / 512 + corpus docs regardless of skew.
    * Zero-token docs are filtered explicitly: they occupy no span, and
    * the cross-engine hazard is sharp — Spark's sequence(a, a-1) infers
    * step −1 and emits TWO rows where DuckDB's generate_series(a, a-1)
    * is empty. The filter runs AFTER the cumsum, not before it: a
    * zero-token doc contributes 0 to every later cend, so the spans are
    * identical either way, but filtering pre-ladder poisons the plan —
    * the predicate needs `text`, so the ladder's pruned side branches
    * (doc_id bounds, the offsets key frame) each re-read AND re-tokenize
    * the full text column (measured: 4 text-bearing scans in the final
    * plan vs p05's 1). Post-window it is a cheap Long predicate on the
    * already-computed column and the ladder input stays canonical with
    * p05's, keeping the single text-bearing scan + ReusedExchange shape.
    */
  def p10PackSequences(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .withColumn("tokens",
        size(TextAnalysis.toks(col("text")))
          .cast(LongType))
      .select(col("doc_id"), col("source"), col("tokens"))
    packSpans(toks, 512L)
  }

  /** The packing core over a `(doc_id, source, tokens)` frame — factored
    * so unit specs can feed adversarial shapes (a doc larger than many
    * sequences, zero/one-token docs) through the exact algebra. */
  private[graft] def packSpans(toks0: DataFrame, seqLen: Long,
      carry: Seq[String] = Nil): DataFrame = {
    val toks = Tables.ckptNarrow(toks0) // same one-pass barrier
    val bounds = toks.agg(min(col("doc_id")).as("__lo"),
      max(col("doc_id")).as("__hi"))
    val bucketed = toks.crossJoin(broadcast(bounds))
      .withColumn("__b",
        expr("(doc_id - __lo) div (((__hi - __lo) div 256) + 1)"))
      .drop("__lo", "__hi")
    Ladders.globalCumsum(bucketed, Seq("source"), "__b",
        Seq(col("doc_id")), col("tokens"), "cend")
      .filter(col("tokens") > 0L)
      .withColumn("cstart", col("cend") - col("tokens"))
      .withColumn("seq_id", explode(sequence(
        expr(s"cstart div $seqLen"), expr(s"(cend - 1) div $seqLen"))))
      .withColumn("gstart", greatest(col("cstart"), col("seq_id") * seqLen))
      .withColumn("gend",
        least(col("cend"), (col("seq_id") + lit(1L)) * seqLen))
      .select(Seq(col("source"), col("seq_id"), col("doc_id"),
        (col("gstart") - col("cstart")).as("doc_off"),
        (col("gstart") - col("seq_id") * seqLen).as("seq_off"),
        (col("gend") - col("gstart")).as("seg_tok")) ++
        carry.map(col): _*)
      .orderBy(col("source"), col("seq_id"), col("seq_off"))
  }

  val p10Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source,
      |    CAST(len(${TextAnalysis.toksSql("text")}) AS BIGINT) AS tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, tokens,
      |    SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cend
      |  FROM toks),
      |spans AS (
      |  SELECT source, doc_id,
      |    CAST(cend - tokens AS BIGINT) AS cstart, CAST(cend AS BIGINT) AS cend
      |  FROM c WHERE tokens > 0),
      |segs AS (
      |  SELECT source, doc_id, cstart, cend,
      |    unnest(generate_series(cstart // 512, (cend - 1) // 512)) AS seq_id
      |  FROM spans)
      |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
      |  CAST(greatest(cstart, seq_id * 512) - cstart AS BIGINT) AS doc_off,
      |  CAST(greatest(cstart, seq_id * 512) - seq_id * 512 AS BIGINT) AS seq_off,
      |  CAST(least(cend, (seq_id + 1) * 512)
      |    - greatest(cstart, seq_id * 512) AS BIGINT) AS seg_tok
      |FROM segs ORDER BY source, seq_id, seq_off""".stripMargin

  // ---------------------------------------------------------------- p11
  /** Model-based quality classifier (the DCLM / FineWeb-Edu curation
    * step the heuristic gates p09/t02 stop short of): a hashed-unigram
    * LINEAR scorer — each lowercased token hashes through the shingle
    * kernel (k = 1) into one of 64 weight buckets, the document's score
    * is the exact-integer sum of its tokens' bucket weights in
    * MILLI-units, and the keep flag is `score > 0` (threshold 0 is the
    * declared knob). The weights are a seeded driver-side literal (the
    * s04 codebook pattern: training happens offline; what ships to the
    * cluster is the fitted parameters inlined into the plan) derived
    * from splitmix64, so both engines — and any rerun — score with the
    * identical model.
    *
    * Cross-engine determinism (§5): features are integer hash buckets,
    * weights integer milli-units, the score an exact BIGINT sum, the
    * flag an integer comparison — no float ever enters the decision
    * (the st12 discipline). A rounded score/(1000·n) quotient is
    * deliberately NOT emitted: rational quotients land exactly on
    * .xxxx5 half-way boundaries (score 2, n = 8 → 0.00025) where Spark
    * and DuckDB round apart.
    *
    * Scale: map-only — one scan; the score folds per row over the token
    * hash array against the 64-literal weight array; zero shuffles
    * besides the output sort. PlanAuditSpec pins the shape.
    */
  private[graft] val p11Weights: IndexedSeq[Long] =
    (0 until 64).map(i =>
      Math.floorMod(graft.functions.TextHashes.mix64(0x9011L + i), 2001L)
        - 1000L)

  /** The p11 model's scoring fold over a token-hash array column —
    * shared by the p11 key and p12's data card. */
  private def p11Score(hs: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val w = array(p11Weights.map(lit(_)): _*)
    aggregate(hs, lit(0L), (acc, h) =>
      acc + element_at(w, (pmod(h, lit(64L)) + 1).cast(IntegerType)))
  }

  def p11QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.text.shingle_hashes(col("text"), 1).as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast(LongType).as("n_tokens"),
        p11Score(col("hs")).as("score_milli"))
      .withColumn("keep", col("score_milli") > 0L)
      .orderBy(col("doc_id"))
  }

  val p11Sql: String =
    graft.functions.KernelOracleSql.p11Sql(p11Weights)

  // ---------------------------------------------------------------- p12
  /** Per-source dataset card — the release "datasheet" every corpus
    * drop ships (Datasheets for Datasets, Gebru 2018; the summary table
    * on a HF dataset page): document/token volumes, exact-duplicate
    * mass, language mix, and the p11 classifier's keep rate, PER
    * SOURCE, in one pass. Every statistic is an exact integer (counts
    * and integer-milli score sums — consumers derive rates themselves;
    * §5's rational-quotient rule), so the card is bit-stable across
    * engines, runs, and cluster sizes.
    *
    * Scale: one scan (tokenization + hash + classifier fold all
    * map-side), one groupBy(source) with map-side partial aggregation;
    * the distinct-text count is the standard two-phase
    * count-distinct — at 100 TB the documented swap is
    * approx_count_distinct when the card tolerates ±1 %.
    */
  def p12DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables(spark, dir, "documents")
      .select(col("source"), col("lang"), md5(col("text")).as("h"),
        graft.functions.text.shingle_hashes(col("text"), 1).as("hs"))
      .select(col("source"), col("lang"), col("h"),
        size(col("hs")).cast(LongType).as("n_tokens"),
        p11Score(col("hs")).as("score_milli"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("h")).as("n_unique_texts"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(col("score_milli")).as("sum_score_milli"),
        sum(when(col("score_milli") > 0L, 1L).otherwise(0L)).as("n_keep"))
      .orderBy(col("source"))
  }

  /** Oracle: the p11 replica as a subquery (same hash buckets, same
    * weight literal) joined back to the documents attributes. */
  val p12Sql: String =
    s"""WITH p11 AS (SELECT doc_id, n_tokens, score_milli FROM ($p11Sql))
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(DISTINCT md5(d.text)) AS BIGINT) AS n_unique_texts,
       |  CAST(SUM(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_en,
       |  CAST(SUM(p.score_milli) AS BIGINT) AS sum_score_milli,
       |  CAST(SUM(CASE WHEN p.score_milli > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep
       |FROM documents d JOIN p11 p ON p.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------- p14
  /** Two-stage curriculum assignment — the pretrain/anneal split modern
    * recipes run (Llama-3's annealing data, FineWeb-Edu's decay-stage
    * upsample, MiniCPM's two-phase schedule): the final learning-rate
    * decay phase re-feeds only the HIGHEST-quality slice, so every doc
    * gets a stage, not just a keep bit:
    *   dropped   — fails the t16 blocklist OR the p11 model gate
    *               (score ≤ 0): never trains
    *   anneal    — mean milli-weight ≥ 50 (`score·20 ≥ n·1000`, the
    *               integer cross-multiplication §5 demands — a
    *               score/n quotient sits on half-way boundaries)
    *   pretrain  — everything else that survives the gates
    * Composes the SHIPPED components (t16's literal list, p11's literal
    * model) rather than new heuristics — the split is policy over
    * existing signals, which is exactly what the production step is.
    *
    * Scale: map-only (the t20/m10 class) — both token pipelines fold
    * per row; zero shuffle beyond the presentation sort. PlanAuditSpec
    * pins one scan, no join/window/aggregate.
    */
  def p14AnnealSplit(spark: SparkSession, dir: String): DataFrame = {
    // KERNEL-exact tokenizer (the dd14 form, = the oracle's toksExpr and
    // the shingle kernel feeding n_tokens/score): Java \s+ would also
    // split on \f/\x0B and could disagree with both on degenerate
    // whitespace (review r10c) — n_bad and n_tokens must count over ONE
    // token stream. t16 keeps Java \s+; the spec's doc-for-doc equality
    // with t16 holds on this corpus (space/\t/\n only), not on \f.
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.text.shingle_hashes(col("text"), 1).as("hs"),
        TextAnalysis.blockHits(TextAnalysis.toks(col("text"))).as("n_bad"))
      .select(col("doc_id"), col("source"),
        size(col("hs")).cast(LongType).as("n_tokens"), col("n_bad"),
        p11Score(col("hs")).as("score_milli"))
      .withColumn("stage",
        when(col("n_bad") > 0L || col("score_milli") <= 0L, "dropped")
          .when(col("score_milli") * 20 >= col("n_tokens") * 1000,
            "anneal")
          .otherwise("pretrain"))
      .orderBy(col("doc_id"))
  }

  val p14Sql: String =
    graft.functions.KernelOracleSql.p14Sql(p11Weights,
      TextAnalysis.blocklist)

  // ---------------------------------------------------------------- p15
  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling") — the hashed-n-gram importance
    * scorer behind DoReMi-era corpus targeting: score every document by
    * how much more likely its tokens are under a TARGET domain's
    * hashed-unigram LM than under the raw-corpus LM,
    * Σ_tokens [ln p_target(b) − ln p_raw(b)], add-one smoothed over the
    * 64 hash buckets (p11's feature space). Target here = the curated
    * sources src0–src3; keep = score > 0 (the doc reads more
    * target-like than corpus-average). Both LMs derive from the SAME
    * one kernel pass — DSIR's defining trait is that no model forward
    * pass is needed, only n-gram counts.
    *
    * Cross-engine (§5): the t14 discipline verbatim — every ln is of an
    * INTEGER (irrational ⇒ no half-way case), rounded 6dp and cast to
    * exact decimal; the per-doc score is a decimal Σ k·w (exact in any
    * summation order); keep compares the EXACT decimal to 0; the double
    * cast is presentation-only.
    *
    * Scale (round-10b lesson 7): bucket space is BOUNDED (64), so
    * occurrences never shuffle on a data-sized key — per-doc bucket
    * counts aggregate map-side on ≤ 64 keys/doc, the two 64-row LM
    * count frames + totals derive from that checkpointed frame, the
    * weight table broadcasts back, and the per-doc score is one
    * map-side-combined sum. Nothing occurrence-sized ever shuffles.
    */
  def p15DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val targets = Seq("src0", "src1", "src2", "src3")
    def ln6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(log(c.cast(DoubleType)), 6).cast("decimal(18,6)")
    val db = Tables.spread(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        graft.functions.text.shingle_hashes(col("text"), 1).as("hs"))
      .select(col("doc_id"), col("source"), explode(col("hs")).as("h"))
      .groupBy(col("doc_id"), col("source"), pmod(col("h"), lit(64L)).as("b"))
      .agg(count(lit(1)).as("k"))
      .transform(Tables.ckptNarrow(_, 8)) // one kernel pass: both LMs + the scoring
    // BOTH bucket LMs in one conditional aggregation over the pinned
    // frame; totals derive from the 64-row LM frame, not a third pass
    val lm = db.groupBy(col("b")).agg(sum(col("k")).as("cr"),
      sum(when(col("source").isin(targets.map(lit): _*), col("k"))
        .otherwise(0L)).as("ct"))
    val tot = lm.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val weights = lm.crossJoin(broadcast(tot))
      .select(col("b"),
        (ln6(col("ct") + 1) - ln6(col("nt") + 64) -
          ln6(col("cr") + 1) + ln6(col("nr") + 64)).as("w"))
    db.join(broadcast(weights), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k").cast("decimal(18,0)") * col("w")).as("s"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("s").cast(DoubleType).as("score"),
        (col("s") > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  val p15Sql: String = graft.functions.KernelOracleSql.p15Sql(
    Seq("src0", "src1", "src2", "src3"))

  // ---------------------------------------------------------------- p16
  /** The END-TO-END composed corpus build (VERDICT r10 #4) — every
    * shipped curation stage chained the way a production pretraining
    * pipeline runs them, with p09's per-stage attrition funnel as the
    * output and stage counts reconciling EXACTLY to the input. Each
    * stage calls the rule its stage key owns, applied to the cleaned
    * token frame `ts`:
    *
    *   1 markup strip, nonempty: t11's [[TextAnalysis.stripMarkup]]
    *   2 lang-id = en: t01's [[TextAnalysis.langArgmax]]
    *   3 C4 blocklist: t16's [[TextAnalysis.blockHits]]
    *   4 Gopher repetition: t18's [[TextAnalysis.repetitionStats]] and
    *     [[TextAnalysis.repetitionKeep]]
    *   5 Gopher structural: t20's [[TextAnalysis.gopherWordStats]],
    *     [[TextAnalysis.gopherLineStats]] and [[TextAnalysis.gopherRules]]
    *   6 exact dedup (md5 token key)
    *   7 fuzzy dedup (dd06 cluster ARTIFACT — min surviving doc per
    *     cluster)
    *   8 8-gram decontamination: t10's [[TextAnalysis.gramSet8]]
    *   9 leak-safe split: p08's [[evalSplit]], same artifact
    *  10 temperature mix: p13's [[mixGroup]] and [[temperatureMix]]
    *  11 pack to 512-BPE-token sequences (p10's budget on t21's REAL
    *     tokenizer — n_out is SEQUENCES, the one unit change, with
    *     n_dropped pinned 0)
    *
    * The report is p09's [[funnelReport]]; [[p16Sql]] calls the oracle
    * side of each of these definitions.
    *
    * Input = the dedup family's canonical crawl (base + recrawled
    * trims) plus verbatim re-fetches (doc_id%20==7 at +8M) so the
    * exact-dedup stage has real work. Built as ONE scan via a
    * per-row explode (the 3-way union form re-scans the parquet per
    * plant class — measured 3 text-bearing scans vs 1 here).
    *
    * Scale contract (the point of the key): the text column is
    * touched by exactly ONE FileScan — the first projection computes
    * clean text, the single tokenization, the BPE count, and the
    * line stats, then localCheckpoints; every later stage (gram
    * gates, grams-vs-eval join, dedup groupings, cluster join, split,
    * mix ladder, packing) rides the checkpointed token frame or the
    * compact flag frame. Dedup keep-mins are SHRINKING groupBys
    * joined back by shuffle-hash (never a window over a content key —
    * the p01/dd07 rule); the mix selection rides Ladders.globalRank
    * (no group-sized window); the funnel collapses to one aggregate
    * row unpivoted (p09's shape). PlanAudit counts the text scans and
    * pins the artifact consumption.
    */
  /** p16's pre-checkpoint token frame — factored out so PlanAudit can
    * count text-bearing FileScans in its plan (exactly ONE: the input
    * explode, the strip chain, the single tokenization, the BPE count,
    * and the raw-text line stats all ride one projection). */
  private[graft] def p16TokenFrame(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.functions.{text => T}
    // input corpus: ONE scan emits 1–3 rows per base doc (base copy;
    // dd02's trimmed recrawl for doc_id%10==0 — plantedDocs' exact
    // rule, ids +1M, already in the cluster artifact; a verbatim
    // re-fetch for doc_id%20==7 at +8M, NOT in the artifact — it can
    // never reach stage 7 because stage 6 drops it by construction)
    val trimmed = TextAnalysis.dropLastWord(col("text"))
    val input = Tables(spark, dir, "documents")
      .select(explode(array(
        struct(col("doc_id"), col("text"), col("source")),
        when(col("doc_id") % 10 === 0,
          struct((col("doc_id") + Dedup.PlantOffset).as("doc_id"),
            trimmed.as("text"), col("source"))),
        when(col("doc_id") % 20 === 7,
          struct((col("doc_id") + 8000000L).as("doc_id"),
            col("text"), col("source"))))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("r.source").as("source"))

    // THE text-bearing scan: t11's strip chain, the ONE tokenization,
    // the BPE count, and t20's line statistics of the raw text
    Tables.spread(input)
      .withColumn("__clean", TextAnalysis.stripMarkup(col("text")))
      .select(Seq(col("doc_id"), col("source"),
        TextAnalysis.toks(col("__clean")).as("ts"),
        // lower() BEFORE the kernel: the oracle's BPE word frame
        // derives from the lowered token stream, and the merge table
        // has no uppercase pairs — raw-case input would diverge on
        // the first corpus with an A-Z byte (review r11)
        size(T.bpe_token_ids(lower(col("__clean"))))
          .cast(LongType).as("n_bpe")) ++
        TextAnalysis.gopherLineStats(col("text"), split(col("text"), "\n")): _*)
  }

  def p16CurationDag(spark: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.ensureClusterArtifact(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val pd = Tables.ckptNarrow(p16TokenFrame(spark, dir), 4)

    // per-doc map-side stats off the token frame (no text anywhere):
    // t20's word statistics, t01's language, t16's blocklist, the
    // exact-dedup key and t18's gram gates (one kernel pass each)
    val markers = TextAnalysis.langMarkers.toMap
    val stats = pd.select(col("*") +:
      TextAnalysis.gopherWordStats(col("ts")) ++: Seq(
      (TextAnalysis.langArgmax(l => TextAnalysis.markerHits(col("ts"),
        markers(l))) === "en").as("k2x"),
      (TextAnalysis.blockHits(col("ts")) === 0).as("k3x"),
      md5(concat_ws(" ", col("ts"))).as("key")) ++:
      TextAnalysis.repetitionStats(col("ts")): _*)

    // t10's decontamination grams, both sides off the SAME token frame
    val grams = pd.select(col("doc_id"), TextAnalysis.gramSet8("ts").as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("gram"))
    val evalG = grams
      .filter(col("doc_id") % 97 === 0 && col("doc_id") < Dedup.PlantOffset)
      .select(col("gram").as("eg")).distinct()
    val ov = grams.join(broadcast(evalG), col("gram") === col("eg"),
        "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("eg")).as("n_overlap"))

    // compact flag frame: cumulative keeps through stage 5 + the keys
    // later stages group on; cluster labels default to self (the
    // verbatim plants are absent from the artifact by design)
    val fl = stats
      .join(ov, Seq("doc_id"), "left_outer")
      .join(labels.hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("source"), col("key"), col("n_bpe"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (col("n_words") > 0).as("k1"), col("k2x"), col("k3x"),
        TextAnalysis.repetitionKeep(col("n_words")).as("k4x"),
        TextAnalysis.gopherRules.map(_._2).reduce(_ && _).as("k5x"))
      // cumulative flags DERIVED, never re-expanded (review r11: a
      // re-expanded conjunction is a drift surface where a threshold
      // edit in one copy breaks funnel monotonicity) — the oracle's
      // fk CTE shape
      .withColumn("k2", col("k1") && col("k2x"))
      .withColumn("k3", col("k2") && col("k3x"))
      .withColumn("k4", col("k3") && col("k4x"))
      .withColumn("k5", col("k4") && col("k5x"))
      .drop("k2x", "k3x", "k4x", "k5x")
      .transform(Tables.ckptNarrow(_))

    // stages 6/7: SHRINKING keep-min groupBys joined back shuffle-hash
    // (the p01/dd07 rule — a window over a content key colocates a
    // pathological duplicate group on one task)
    val mk = fl.filter(col("k5")).groupBy(col("key"))
      .agg(min(col("doc_id")).as("mk"))
    val f6 = fl.join(mk.hint("shuffle_hash"), Seq("key"), "left_outer")
      .withColumn("k6", col("k5") && col("doc_id") === col("mk"))
    val mc = f6.filter(col("k6")).groupBy(col("cluster"))
      .agg(min(col("doc_id")).as("mc"))
    val f9 = f6.join(mc.hint("shuffle_hash"), Seq("cluster"), "left_outer")
      .withColumn("k7", col("k6") && col("doc_id") === col("mc"))
      .withColumn("k8",
        col("k7") && col("n_overlap") * 5 < col("n_grams"))
      .withColumn("k9", col("k8") && !evalSplit(col("cluster")))
      .withColumn("grp", mixGroup(col("source")))
      .transform(Tables.ckptNarrow(_))

    // stage 10: p13's mix over the k9 survivors
    val picked = temperatureMix(f9.filter(col("k9")))

    // stage 11: per-grp concat-and-chunk budget on the REAL tokenizer
    val n10df = picked.agg(count(lit(1)).as("n10"))
    val seqs = picked.groupBy(col("grp"))
      .agg(sum(col("n_bpe")).as("s"))
      .agg(coalesce(sum(expr("(s + 511) DIV 512")), lit(0L)).as("nseq"))

    // the funnel: ONE aggregate row over the flag frame, unpivoted
    val one = f9.agg(count(lit(1)).as("n0"),
        (1 to 9).map(i => cnt(col(s"k$i")).as(s"n$i")): _*)
      .crossJoin(broadcast(n10df)).crossJoin(broadcast(seqs))
    funnelReport(one, p16Rules,
      struct(lit(11L).as("stage"), lit("pack_512_bpe_seqs").as("rule"),
        col("n10").as("n_in"), lit(0L).as("n_dropped"),
        col("nseq").as("n_out")))
  }

  /** p16's stages 1-10 as (rule, n_in, n_out); stage 11 changes unit. */
  private[operators] val p16Rules: Seq[(String, String, String)] =
    Seq("markup_strip_nonempty", "lang_id_en", "blocklist_c4",
      "gopher_repetition", "gopher_structural", "exact_dedup",
      "fuzzy_dedup_clusters", "decontaminate_8gram", "leak_safe_train_split",
      "temperature_mix_a05").zipWithIndex
      .map { case (r, i) => (r, s"n$i", s"n${i + 1}") }

  /** Oracle: the fuzzy-dedup stage consumes the dd06 cluster artifact,
    * whose derivation is dd06's [[Dedup.clusterCtes]]. Each stage calls the
    * oracle definition its stage key owns: t11's [[TextAnalysis.stripMarkupSql]],
    * t01's [[TextAnalysis.markerHitsSql]] and [[TextAnalysis.langArgmaxSql]],
    * t16's blocklist, t18's [[TextAnalysis.repetitionCtesSql]] and
    * [[TextAnalysis.repetitionKeepSql]], t20's
    * [[TextAnalysis.gopherStatsSql]] and [[TextAnalysis.gopherRulesSql]],
    * t10's [[TextAnalysis.gramSet8Sql]], p08's
    * [[evalSplitSql]], p13's [[mixGroupSql]] and
    * [[temperatureMixCtesSql]], t21's recursive-CTE BPE for the
    * packing budget, and p09's [[cntSql]] and
    * [[funnelReportSql]]; exact dedup is an md5 of the tokens. */
  val p16Sql: String = {
    import TextAnalysis._
    val langCols = langMarkers
      .map { case (l, ws) => s"    ${markerHitsSql("ts", ws)} AS s_$l" }
      .mkString(",\n")
    s"""WITH RECURSIVE ${Dedup.clusterCtes},
       |c16 AS (
       |  SELECT doc_id, text, source FROM corpus
       |  UNION ALL
       |  SELECT doc_id + 8000000, text, source FROM documents
       |  WHERE doc_id % 20 = 7),
       |f16 AS MATERIALIZED (
       |  SELECT doc_id, source, text,
       |    ${toksSql(stripMarkupSql("text"))} AS ts,
       |    string_split(text, chr(10)) AS ls
       |  FROM c16),
       |st16 AS (
       |  SELECT doc_id, source, ts,
       |$gopherStatsSql,
       |$langCols,
       |    ${markerHitsSql("ts", blocklist)} AS n_bad,
       |    md5(array_to_string(ts, ' ')) AS key
       |  FROM f16),
       |${repetitionCtesSql("f16")},
       |cg16 AS MATERIALIZED (
       |  SELECT doc_id, unnest(gs) AS gram
       |  FROM (SELECT doc_id,
       |      ${gramSet8Sql("ts")} AS gs
       |    FROM f16)),
       |eg16 AS (
       |  SELECT DISTINCT gram FROM cg16
       |  WHERE doc_id % 97 = 0 AND doc_id < ${Dedup.PlantOffset}),
       |ov16 AS (
       |  SELECT cg16.doc_id, COUNT(*) AS n_grams, COUNT(e.gram) AS n_overlap
       |  FROM cg16 LEFT JOIN eg16 e ON cg16.gram = e.gram
       |  GROUP BY 1),
       |${graft.functions.KernelOracleSql.bpeDocLenCtes("f16", "x16", "ts")},
       |fl16 AS MATERIALIZED (
       |  SELECT s.doc_id, s.source, s.key,
       |    COALESCE(l.cluster_id, s.doc_id) AS cluster,
       |    COALESCE(b.b, 0) AS n_bpe,
       |    COALESCE(o.n_grams, 0) AS n_grams,
       |    COALESCE(o.n_overlap, 0) AS n_overlap,
       |    s.n_words > 0 AS k1,
       |    ($langArgmaxSql) = 'en' AS k2x,
       |    s.n_bad = 0 AS k3x,
       |    (${repetitionKeepSql("s.n_words")}) AS k4x,
       |    (${gopherRulesSql.map(_._2).mkString(" AND\n     ")}) AS k5x
       |  FROM st16 s
       |  LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
       |  LEFT JOIN ov16 o USING (doc_id) LEFT JOIN labels l USING (doc_id)
       |  LEFT JOIN x16pw b USING (doc_id)),
       |fk AS MATERIALIZED (
       |  SELECT *, k1 AND k2x AS k2, k1 AND k2x AND k3x AS k3,
       |    k1 AND k2x AND k3x AND k4x AS k4,
       |    k1 AND k2x AND k3x AND k4x AND k5x AS k5
       |  FROM fl16),
       |mk16 AS (SELECT key, min(doc_id) AS mk FROM fk WHERE k5 GROUP BY key),
       |f6 AS MATERIALIZED (SELECT fk.*, (k5 AND doc_id = mk) AS k6
       |       FROM fk LEFT JOIN mk16 USING (key)),
       |mc16 AS (SELECT cluster, min(doc_id) AS mc FROM f6 WHERE k6 GROUP BY 1),
       |f7 AS MATERIALIZED (SELECT f6.*, (k6 AND doc_id = mc) AS k7
       |       FROM f6 LEFT JOIN mc16 USING (cluster)),
       |f9 AS MATERIALIZED (
       |  SELECT *, (k7 AND n_overlap * 5 < n_grams) AS k8,
       |    (k7 AND n_overlap * 5 < n_grams AND
       |     NOT (${evalSplitSql("cluster")})) AS k9,
       |    ${mixGroupSql("source")} AS grp
       |  FROM f7),
       |k916 AS (SELECT doc_id, grp, n_bpe FROM f9 WHERE k9),
       |${temperatureMixCtesSql("k916")},
       |n1016 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n10 FROM tm_pick),
       |seq16 AS (SELECT CAST(COALESCE(SUM((s + 511) // 512), 0) AS BIGINT)
       |    AS nseq
       |  FROM (SELECT grp, SUM(n_bpe) AS s FROM tm_pick GROUP BY grp)),
       |cnt16 AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
       |${(1 to 9).map(i => s"    ${cntSql(s"k$i")} AS n$i").mkString(",\n")}
       |  FROM f9)
       |${funnelReportSql(p16Rules, "cnt16, n1016, seq16",
           "SELECT 11, 'pack_512_bpe_seqs', n10, 0, nseq")}""".stripMargin
  }

  // ---------------------------------------------------------------- p17
  /** p05's contiguous token-budget sharding re-based on the REAL
    * tokenizer (VERDICT r10 #2's aspiration made a key): shard
    * boundaries cut where the cumulative t21-BPE token count crosses
    * the budget, so a shard is an actual training-compute quantum, not
    * a whitespace proxy (the two disagree by the fertility factor,
    * which varies per source — t22 measures it). p05 stays the
    * whitespace-budget key; this is the production variant.
    *
    * Scale: identical shape to p05 — one kernel scan, the bucketed
    * [[Ladders.globalCumsum]] ladder (no source-sized window task),
    * shard = integer div of the exclusive prefix sum. The BPE kernel
    * adds map-side CPU only.
    */
  def p17BpeTokenShards(spark: SparkSession, dir: String): DataFrame =
    tokenShards(Tables(spark, dir, "documents")
      .withColumn("tokens",
        size(graft.functions.text.bpe_token_ids(col("text")))
          .cast(LongType))
      .select(col("doc_id"), col("source"), col("tokens")), 25000L)

  val p17Sql: String =
    s"""WITH RECURSIVE
       |docw AS (
       |  SELECT doc_id, source,
       |    ${TextAnalysis.wordsSql("text")} AS ws
       |  FROM documents),
       |${graft.functions.KernelOracleSql.bpeDocLenCtes("docw", "")},
       |toks AS (
       |  SELECT d.doc_id, d.source, COALESCE(pw.b, 0) AS tokens
       |  FROM docw d LEFT JOIN pw ON pw.doc_id = d.doc_id),
       |packed AS (
       |  SELECT doc_id, source, tokens,
       |    SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM toks)
       |SELECT source, CAST((cum_tokens - tokens) // 25000 AS BIGINT) AS shard,
       |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM packed GROUP BY 1, 2 ORDER BY source, shard""".stripMargin

  // ---------------------------------------------------------------- p18
  /** Data-constrained epoch plan (Muennighoff 2023, "Scaling
    * Data-Constrained Language Models"): when the token budget exceeds
    * the unique corpus, schedule REPEATS — but a repeated epoch is worth
    * less than fresh data, so allocation is a greedy knapsack over
    * (source, epoch) candidates by marginal value, here value(s, k) =
    * w_s · ½^(k−1) per token with up to 6 epochs (the paper's regime:
    * value decays per repeat and is ~exhausted after a handful). The
    * per-source weight is INVERSE BPE FERTILITY in milli-words-per-token
    * (t22's frame: text that tokenizes efficiently is cleaner text) —
    * floor-div exact, and the ½-decay makes every candidate value
    * comparable as the scaled BIGINT w_s·2^(6−k), so the whole schedule
    * is integer algebra (§5: no float enters a decision). The budget is
    * ⌊2.5 × unique tokens⌋; the waterline candidate contributes a
    * partial epoch, so scheduled tokens reconcile EXACTLY to the budget
    * (specced).
    *
    * Scale: the only corpus-sized work is [[TextAnalysis.bpeSourceAgg]]'s
    * map-only kernel scan into a per-source partial agg; everything after
    * lives on the bounded sources×6 candidate frame — its global cumsum
    * window is the p13 class (frame ∝ source cardinality, never data).
    */
  def p18EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val src = TextAnalysis.bpeSourceAgg(spark, dir)
      .select(col("source"), col("n_bpe").as("n_unique_tokens"),
        when(col("n_bpe") === 0L, lit(0L))
          .otherwise(expr("n_words * 1000 div n_bpe")).as("weight"))
    val budget = src.agg(
      expr("(5 * sum(n_unique_tokens)) div 2").as("b"))
    val cand = src.crossJoin(broadcast(budget))
      .select(col("source"), col("n_unique_tokens"), col("weight"),
        col("b"), explode(sequence(lit(1L), lit(6L))).as("epoch"))
      .withColumn("value_scaled",
        expr("weight * shiftleft(CAST(1 AS BIGINT), CAST(6 - epoch AS INT))"))
    val w = Window
      .orderBy(col("value_scaled").desc, col("source"), col("epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val alloc = cand
      .withColumn("cum", sum(col("n_unique_tokens")).over(w))
      .withColumn("tok", greatest(lit(0L), least(col("n_unique_tokens"),
        col("b") - col("cum") + col("n_unique_tokens"))))
    alloc.groupBy(col("source"))
      .agg(max(col("n_unique_tokens")).as("n_unique_tokens"),
        max(col("weight")).as("weight"),
        sum(when(col("tok") === col("n_unique_tokens") &&
          col("n_unique_tokens") > 0L, 1L).otherwise(0L))
          .as("n_full_epochs"),
        sum(col("tok")).as("tokens_scheduled"))
      .select(col("source"), col("n_unique_tokens"), col("weight"),
        col("n_full_epochs"), col("tokens_scheduled"),
        (col("tokens_scheduled").cast(DoubleType) /
          nullif(col("n_unique_tokens"), lit(0L)).cast(DoubleType))
          .as("epochs_effective"))
      .orderBy(col("source"))
  }

  /** The t22 per-source frame + the schedule re-derived verbatim. */
  val p18Sql: String =
    s"""WITH RECURSIVE
       |${TextAnalysis.bpeSourcePerCtes},
       |srcagg AS (
       |  SELECT source, CAST(SUM(w) AS BIGINT) AS n_words,
       |    CAST(SUM(b) AS BIGINT) AS n_unique_tokens
       |  FROM per GROUP BY source),
       |wsrc AS (
       |  SELECT source, n_unique_tokens,
       |    CASE WHEN n_unique_tokens = 0 THEN 0
       |         ELSE (n_words * 1000) // n_unique_tokens END AS weight
       |  FROM srcagg),
       |budget AS (SELECT (5 * SUM(n_unique_tokens)) // 2 AS b FROM wsrc),
       |cand AS (
       |  SELECT w.source, w.n_unique_tokens, w.weight,
       |    CAST(k AS BIGINT) AS epoch,
       |    w.weight * (1 << (6 - CAST(k AS INT))) AS value_scaled
       |  FROM wsrc w, (SELECT unnest(range(1, 7)) AS k)),
       |sched AS (
       |  SELECT *, SUM(n_unique_tokens)
       |      OVER (ORDER BY value_scaled DESC, source, epoch
       |            ROWS UNBOUNDED PRECEDING) AS cum,
       |    (SELECT b FROM budget) AS b
       |  FROM cand),
       |alloc AS (
       |  SELECT source, n_unique_tokens, weight, epoch,
       |    GREATEST(0, LEAST(n_unique_tokens, b - cum + n_unique_tokens))
       |      AS tok
       |  FROM sched)
       |SELECT source, MAX(n_unique_tokens) AS n_unique_tokens,
       |  MAX(weight) AS weight,
       |  CAST(COUNT(*) FILTER (tok = n_unique_tokens AND n_unique_tokens > 0)
       |    AS BIGINT) AS n_full_epochs,
       |  CAST(SUM(tok) AS BIGINT) AS tokens_scheduled,
       |  CAST(SUM(tok) AS DOUBLE)
       |    / NULLIF(CAST(MAX(n_unique_tokens) AS DOUBLE), 0)
       |    AS epochs_effective
       |FROM alloc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- p19
  /** UniMax language/source sampling (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining"): allocate a token budget UNIFORMLY
    * across sources, except no source may exceed its epoch cap — here
    * C = 1 epoch (no repeats) with budget B = ⌊0.9 × unique tokens⌋,
    * the regime where UniMax downsamples head sources while tail
    * sources are used in full. This is p13/p18's missing sibling: p13
    * rebalances by a temperature POWER of the natural shares, p18
    * schedules REPEATS by marginal value when the budget exceeds the
    * corpus; UniMax waterfills a SUB-corpus budget toward uniformity.
    *
    * Exact waterfill, no iteration (§5: pure integer algebra): order
    * sources by (n_s asc, source asc) with rank j of k and running sum
    * cum_j. The statistic f(j) = n_j·(k−j) + cum_j is provably
    * non-decreasing (f(j+1) − f(j) = (k−j)(n_{j+1} − n_j) ≥ 0), so
    * "capped" — f(j) ≤ B, i.e. the uniform share over the remaining
    * sources still exceeds n_j — selects a PREFIX in one per-row
    * cross-multiplication. With m capped sources, the k−m uncapped
    * each get share = (B − cum_m) div (k−m) and the first
    * rem = (B − cum_m) mod (k−m) of them (ascending order) one extra
    * token, so Σ alloc = B EXACTLY (specced); share < n_{m+1} follows
    * from f(m+1) > B, so no uncapped source is pushed past its cap.
    *
    * Scale: the corpus-sized work is [[TextAnalysis.bpeSourceAgg]]'s
    * map-only kernel scan into a per-source partial agg; the waterfill
    * lives on the bounded source frame — its global window is the p13
    * class (frame ∝ source cardinality, never data), inventoried in
    * PlanSweep's global_windows review list.
    */
  def p19UnimaxMix(spark: SparkSession, dir: String): DataFrame = {
    val src = TextAnalysis.bpeSourceAgg(spark, dir)
      .select(col("source"), col("n_bpe").as("n_tokens"))
    val ord = Window.orderBy(col("n_tokens"), col("source"))
    val ranked = src
      .withColumn("j", row_number().over(ord).cast(LongType))
      .withColumn("cum", sum(col("n_tokens"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = src.agg(count(lit(1)).as("k"),
      expr("(9 * SUM(n_tokens)) div 10").as("b"))
    val flagged = ranked.crossJoin(broadcast(tot))
      .withColumn("is_capped",
        when(col("n_tokens") * (col("k") - col("j")) + col("cum")
          <= col("b"), 1L).otherwise(0L))
    val water = flagged.agg(
      sum(col("is_capped")).as("m"),
      coalesce(sum(when(col("is_capped") === 1L, col("n_tokens"))),
        lit(0L)).as("cum_m"),
      max(col("b")).as("wb"), max(col("k")).as("wk"))
      // nullif: an all-empty corpus caps every source (u = 0) — share
      // is then unused, but DuckDB's // raises on zero eagerly while
      // Spark's div returns NULL; pin both to the NULL lane (t22 rule)
      .select(col("m"),
        expr("(wb - cum_m) div nullif(wk - m, 0)").as("share"),
        expr("(wb - cum_m) % nullif(wk - m, 0)").as("rem"))
    flagged.crossJoin(broadcast(water))
      .select(col("source"), col("n_tokens"), col("is_capped"),
        when(col("is_capped") === 1L, col("n_tokens"))
          .otherwise(col("share") +
            when(col("j") - col("m") <= col("rem"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .withColumn("epochs_effective",
        col("alloc_tokens").cast(DoubleType) /
          nullif(col("n_tokens"), lit(0L)).cast(DoubleType))
      .orderBy(col("source"))
  }

  /** The t22/p18 per-source frame + the waterfill re-derived verbatim
    * (DuckDB integer SUMs come back HUGEINT — every aggregate is cast
    * to BIGINT before the div/mod algebra). */
  val p19Sql: String =
    s"""WITH RECURSIVE
       |${TextAnalysis.bpeSourcePerCtes},
       |srcagg AS (
       |  SELECT source, CAST(SUM(b) AS BIGINT) AS n_tokens
       |  FROM per GROUP BY source),
       |ranked AS (
       |  SELECT source, n_tokens,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT)
       |      AS j,
       |    CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, source
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM srcagg),
       |tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |    CAST((9 * SUM(n_tokens)) // 10 AS BIGINT) AS b
       |  FROM srcagg),
       |flagged AS (
       |  SELECT r.source, r.n_tokens, r.j, t.k, t.b,
       |    CASE WHEN r.n_tokens * (t.k - r.j) + r.cum <= t.b
       |         THEN 1 ELSE 0 END AS is_capped
       |  FROM ranked r, tot t),
       |water AS (
       |  SELECT CAST(SUM(is_capped) AS BIGINT) AS m,
       |    CAST(COALESCE(SUM(n_tokens) FILTER (is_capped = 1), 0)
       |      AS BIGINT) AS cum_m,
       |    MAX(b) AS b, MAX(k) AS k
       |  FROM flagged)
       |SELECT f.source, f.n_tokens, CAST(f.is_capped AS BIGINT) AS is_capped,
       |  CASE WHEN f.is_capped = 1 THEN f.n_tokens
       |       ELSE (w.b - w.cum_m) // NULLIF(w.k - w.m, 0)
       |         + CASE WHEN f.j - w.m <=
       |                  (w.b - w.cum_m) % NULLIF(w.k - w.m, 0)
       |                THEN 1 ELSE 0 END END AS alloc_tokens,
       |  CAST(CASE WHEN f.is_capped = 1 THEN f.n_tokens
       |       ELSE (w.b - w.cum_m) // NULLIF(w.k - w.m, 0)
       |         + CASE WHEN f.j - w.m <=
       |                  (w.b - w.cum_m) % NULLIF(w.k - w.m, 0)
       |                THEN 1 ELSE 0 END END AS DOUBLE)
       |    / NULLIF(CAST(f.n_tokens AS DOUBLE), 0) AS epochs_effective
       |FROM flagged f, water w ORDER BY f.source""".stripMargin

  // ---------------------------------------------------------------- p20
  /** Data-loader resume — the checkpoint-restart bookkeeping every
    * long training run needs: given the p17 BPE-token shard plan and a
    * consumed-token watermark C (here 60 % of the corpus, the exact
    * integer (3·T) div 5), classify each shard done / partial /
    * pending in the global (source, shard) consumption order and emit
    * the exact token offset inside the partial shard — so a restarted
    * job seeks to a shard + offset instead of re-reading data it
    * already trained on (and never double-trains a token: consumed +
    * remaining reconciles to shard_tokens per shard and to T and C
    * globally, specced).
    *
    * Scale: the cumsum runs on the SHARD frame (corpus_tokens /
    * 25000 rows — still data-sized at 100 TB), so it rides
    * [[Ladders.globalCumsum]] with a constant stratum and a
    * (source, shard div 64) struct bucket — a monotone coarsening of
    * the (source, shard) total order; no task ever sees more than a
    * 64-shard cell or the tiny offsets frame. The one-row total enters
    * by broadcast (no driver action).
    */
  def p20ResumeOffset(spark: SparkSession, dir: String): DataFrame = {
    // NO barrier on the shard frame, deliberately (round 16): a
    // ckptNarrow here was A/B'd and REVERTED — the cum ladder and the
    // grand-total agg are textually identical subtrees, so AQE's stage
    // cache already dedupes the double consumption, and the checkpoint
    // only added a serial materialization (MiniBench 1.67→2.10 s).
    val shards = p17BpeTokenShards(spark, dir)
      .select(col("source"), col("shard"), col("shard_tokens"))
      .withColumn("__all", lit(0))
      .withColumn("__blk", struct(col("source"),
        expr("shard div 64").as("blk")))
    val cum = Ladders.globalCumsum(shards, Seq("__all"), "__blk",
      Seq(col("source"), col("shard")), col("shard_tokens"), "cum_end")
    val tot = shards.agg(sum(col("shard_tokens")).as("__tot"))
    cum.crossJoin(broadcast(tot))
      .withColumn("__c", expr("(3 * __tot) div 5"))
      .withColumn("consumed_tokens",
        greatest(lit(0L), least(col("shard_tokens"),
          col("__c") - (col("cum_end") - col("shard_tokens")))))
      .select(col("source"), col("shard"), col("shard_tokens"),
        when(col("cum_end") <= col("__c"), "done")
          .when(col("cum_end") - col("shard_tokens") >= col("__c"),
            "pending")
          .otherwise("partial").as("status"),
        col("consumed_tokens"),
        (col("shard_tokens") - col("consumed_tokens"))
          .as("remaining_tokens"))
      .orderBy(col("source"), col("shard"))
  }

  /** Oracle: p17's shard CTE chain + a plain window cumsum (the frame
    * is small in DuckDB) + the same exact watermark algebra. */
  val p20Sql: String =
    s"""WITH RECURSIVE
       |docw AS (
       |  SELECT doc_id, source,
       |    ${TextAnalysis.wordsSql("text")} AS ws
       |  FROM documents),
       |${graft.functions.KernelOracleSql.bpeDocLenCtes("docw", "")},
       |toks AS (
       |  SELECT d.doc_id, d.source, COALESCE(pw.b, 0) AS tokens
       |  FROM docw d LEFT JOIN pw ON pw.doc_id = d.doc_id),
       |packed AS (
       |  SELECT doc_id, source, tokens,
       |    SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM toks),
       |shards AS (
       |  SELECT source, CAST((cum_tokens - tokens) // 25000 AS BIGINT)
       |      AS shard,
       |    CAST(SUM(tokens) AS BIGINT) AS shard_tokens
       |  FROM packed GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, shard, shard_tokens,
       |    CAST(SUM(shard_tokens) OVER (ORDER BY source, shard
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end,
       |    CAST((3 * SUM(shard_tokens) OVER ()) // 5 AS BIGINT) AS c
       |  FROM shards)
       |SELECT source, shard, shard_tokens,
       |  CASE WHEN cum_end <= c THEN 'done'
       |       WHEN cum_end - shard_tokens >= c THEN 'pending'
       |       ELSE 'partial' END AS status,
       |  GREATEST(0, LEAST(shard_tokens, c - (cum_end - shard_tokens)))
       |    AS consumed_tokens,
       |  shard_tokens -
       |    GREATEST(0, LEAST(shard_tokens, c - (cum_end - shard_tokens)))
       |    AS remaining_tokens
       |FROM cum ORDER BY source, shard""".stripMargin

  // ---------------------------------------------------------------- p21
  /** DoReMi domain reweighting (Xie 2023) — the excess-loss mixture
    * method behind DoReMi-era corpus targeting, in its one-step closed
    * form: each domain's weight ∝ its clamped per-token EXCESS LOSS —
    * how much worse the weak proxy model does than the strong reference
    * model on that domain — and the token budget B = 10⁶ is apportioned
    * across domains by those weights. High-excess domains are where the
    * reference "knows something the proxy doesn't": DoReMi upsamples
    * them. The two models are the library's own shipped LMs evaluated
    * on the SAME positions (every bigram position's target token):
    * proxy = t12's corpus unigram LM, reference = t14's add-one bigram
    * LM — so the excess is a per-position difference of the two
    * established round6-decimal neglogp kernels.
    *
    * §5 decision algebra, end to end: per-position neglogp terms are
    * round6(ln integer) DECIMAL(18,6) (the t12/t14 discipline; sums
    * order-independent), the clamp is a decimal comparison, and the
    * per-token average NEVER becomes a float — w_d = (E6_d · 10⁶) DIV
    * N_d in the DECIMAL(38,0) lane (DuckDB: HUGEINT — its `//` on
    * DECIMAL is true division, the st17 two-lane rule), an exact floor
    * of the average excess in pico-nats/position. Hamilton
    * apportionment then runs in the same integer lane (B·w DIV W, rem
    * as B·w − base·W — no modulo, pure products), ties on source name;
    * Σalloc = B exactly whenever W > 0 (specced), all-zero weights
    * yield all-zero allocs rather than a phantom spread.
    *
    * Scale: ONE tokenization scan (checkpointed — the t14 shape); all
    * model counts are map-side-combined shrinking aggs off the
    * occurrence stream. The weight table is TIERED (round 13, t14's
    * design): the full frame is never force-broadcast — distinct
    * bigram types on open-vocab web text run O(1e9–1e10) at 100 TB
    * (Heaps' law; Web 1T ships 3.1e9), past Spark's 8 GB broadcast
    * ceiling — instead the top-K=65536 pairs by corpus count
    * (limit-bounded by construction, ~5 MB at any corpus size)
    * broadcast and score occurrences map-side, and only the Zipf-tail
    * residue shuffle-joins the data-sized weight frame. The per-source
    * aggregate is map-side combined to |sources| rows, and every
    * apportionment window runs on that bounded frame (the p13/p18
    * class).
    */
  def p21DoremiMix(spark: SparkSession, dir: String,
      headK: Int = 65536): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val toksDf = Tables.spread(Tables(spark, dir, "documents"))
      .select(col("source"), TextAnalysis.toks(col("text")).as("ts"))
      .transform(Tables.ckptNarrow(_, 4)) // one tokenization: unigram counts + bigrams
    // ONE occurrence pass: the unigram table already carries everything
    // the scalars need — ntot = Σcnt, V = |cu| — exactly how the oracle
    // derives them (review r12: the separate explode+countDistinct and
    // sum(size) jobs were two extra occurrence-sized passes)
    val cu = toksDf.select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .transform(Tables.ckptNarrow(_)) // vocab-bounded; feeds weights + 2 scalars
    val ntot = cu.agg(sum(col("cnt")).as("n"))
    val vocab = cu.agg(count(lit(1)).as("v"))
    // Round-13 TIERED scoring (the t14 shape): the top-K=65536 pairs by
    // corpus count broadcast (K-bounded by construction) and score the
    // occurrence stream map-side with a source-local combine; only the
    // Zipf-tail occurrences aggregate to per-(source, w1, w2) counts
    // and shuffle-join the data-sized weight frame. Both tiers union
    // into ONE per-source decimal sum — the split is invisible to the
    // result (Σ k·w ≡ Σ_occ w in decimals).
    val occ = toksDf.filter(size(col("ts")) >= 2)
      .select(col("source"), explode(expr(
        """transform(sequence(0, size(ts) - 2),
          |  i -> struct(ts[i] AS w1, ts[i + 1] AS w2))""".stripMargin))
        .as("b"))
      .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cb = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cl = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cl"))
    def r6ln(c: Column): Column =
      round(log(c.cast(DoubleType)), 6).cast("decimal(18,6)")
    // one weight frame carries BOTH models' per-position terms; never
    // force-broadcast whole (Heaps-unbounded at 100 TB — Scale note)
    val weights = cb.join(cl, Seq("w1"))
      .join(cu.withColumnRenamed("t", "w2"), Seq("w2"))
      .crossJoin(broadcast(ntot)).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), col("cb"),
        (r6ln(col("n")) - r6ln(col("cnt"))).as("wu"),
        (r6ln(col("cl") + col("v")) - r6ln(col("cb") + 1)).as("wb"))
      .transform(Tables.ckptNarrow(_, 4)) // two consumers: head build + tail join
    val headW = weights
      .orderBy(col("cb").desc, col("w1"), col("w2")).limit(headK)
      .select(col("w1"), col("w2"), col("wu"), col("wb"))
    // ONE occurrence pass scores both tiers (the t14 shape): head rows
    // collapse source-locally, tail rows keep (w1, w2) for the
    // residual join; pre is Θ(sources + tail triples)
    val pre = occ.join(broadcast(headW), Seq("w1", "w2"), "left_outer")
      .groupBy(col("source"),
        when(col("wu").isNull, col("w1")).as("t1"),
        when(col("wu").isNull, col("w2")).as("t2"))
      .agg(count(lit(1)).as("k"),
        sum(col("wu")).as("shu"), sum(col("wb")).as("shb"))
      .transform(Tables.ckptNarrow(_, 4))
    val headPart = pre.filter(col("t1").isNull)
      .select(col("source"), col("k"),
        col("shu").as("swu"), col("shb").as("swb"))
    val tailPart = pre.filter(col("t1").isNotNull)
      .join(weights.select(col("w1").as("t1"), col("w2").as("t2"),
        col("wu"), col("wb")), Seq("t1", "t2"))
      .select(col("source"), col("k"),
        (col("wu") * col("k")).as("swu"), (col("wb") * col("k")).as("swb"))
    val perSrc = headPart.unionByName(tailPart)
      .groupBy(col("source"))
      .agg(sum(col("k")).as("n_pos"),
        sum(col("swu")).cast("decimal(28,6)").as("s_uni"),
        sum(col("swb")).cast("decimal(28,6)").as("s_big"))
    // exact per-token average excess in pico-nats: (E6 · 1e6) DIV n_pos
    val wts = perSrc
      .withColumn("e6", when(col("s_uni") > col("s_big"),
        ((col("s_uni") - col("s_big")) * lit(1000000)).cast(dec38))
        .otherwise(lit(0).cast(dec38)))
      .withColumn("w", expr("(e6 * 1000000) DIV n_pos"))
    val tot = wts.agg(sum(col("w")).cast(dec38).as("__W"))
    val wTiny = Window.orderBy(col("rem").desc, col("source"))
    wts.crossJoin(broadcast(tot))
      .withColumn("base", when(col("__W") > 0,
        expr("(CAST(1000000 AS DECIMAL(38,0)) * w) DIV __W"))
        .otherwise(lit(0).cast(dec38)))
      .withColumn("rem",
        lit(1000000).cast(dec38) * col("w") - col("base") * col("__W"))
      .withColumn("rr", row_number().over(wTiny))
      .withColumn("base_sum", sum(col("base")).over(wTiny.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("source"), col("n_pos"),
        col("s_uni").cast(DoubleType).as("sum_uni"),
        col("s_big").cast(DoubleType).as("sum_big"),
        col("w").cast(LongType).as("excess_pnat"),
        (col("base") + when(col("__W") > 0 &&
            col("rr") <= lit(1000000).cast(dec38) - col("base_sum"), 1L)
          .otherwise(0L)).cast(LongType).as("alloc"))
      .orderBy(col("source"))
  }

  /** Same round6 kernels, same integer lanes (HUGEINT for the DIVs). */
  val p21Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, source,
      |    ${TextAnalysis.toksSql("text")} AS ts
      |  FROM documents),
      |uni AS (SELECT t, COUNT(*) AS cnt
      |  FROM (SELECT unnest(ts) AS t FROM d) GROUP BY 1),
      |ntot AS (SELECT SUM(cnt) AS n FROM uni),
      |vocab AS (SELECT COUNT(*) AS v FROM uni),
      |bg AS (SELECT source, ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS k
      |  FROM (SELECT source, ts, unnest(range(1, len(ts))) AS i
      |        FROM d WHERE len(ts) >= 2)
      |  GROUP BY 1, 2, 3),
      |cb AS (SELECT w1, w2, SUM(k) AS cb FROM bg GROUP BY 1, 2),
      |cl AS (SELECT w1, SUM(cb) AS cl FROM cb GROUP BY 1),
      |per_src AS (
      |  SELECT source, SUM(k) AS n_pos,
      |    SUM((CAST(ROUND(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))
      |       - CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)))
      |      * k) AS s_uni,
      |    SUM((CAST(ROUND(ln(CAST(cl + v AS DOUBLE)), 6) AS DECIMAL(18,6))
      |       - CAST(ROUND(ln(CAST(cb + 1 AS DOUBLE)), 6) AS DECIMAL(18,6)))
      |      * k) AS s_big
      |  FROM bg JOIN cb USING (w1, w2) JOIN cl USING (w1)
      |    JOIN uni ON uni.t = bg.w2, ntot, vocab
      |  GROUP BY source),
      |wts AS (
      |  SELECT source, n_pos, s_uni, s_big,
      |    (CASE WHEN s_uni > s_big
      |      THEN CAST((s_uni - s_big) * 1000000 AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END * 1000000) // n_pos AS w
      |  FROM per_src),
      |tot AS (SELECT CAST(SUM(w) AS HUGEINT) AS wsum FROM wts),
      |a0 AS (SELECT *, CASE WHEN wsum > 0
      |    THEN (CAST(1000000 AS HUGEINT) * w) // wsum
      |    ELSE CAST(0 AS HUGEINT) END AS base
      |  FROM wts, tot),
      |a1 AS (SELECT *,
      |    CAST(1000000 AS HUGEINT) * w - base * wsum AS rem FROM a0),
      |a2 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
      |    SUM(base) OVER () AS base_sum FROM a1)
      |SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
      |  CAST(s_uni AS DOUBLE) AS sum_uni,
      |  CAST(s_big AS DOUBLE) AS sum_big,
      |  CAST(w AS BIGINT) AS excess_pnat,
      |  CAST(base + CASE WHEN wsum > 0 AND rr <= 1000000 - base_sum
      |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM a2 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- p22
  /** Batch-composition padding audit (round 13) — the table every
    * training team derives BEFORE committing to a packing strategy
    * (the motivating measurement of Graphcore's sequence-packing work;
    * LLM batches are 20–60 % padding under naive composition): per
    * source, at L = 512 (p10's sequence length) and naive batch B = 8
    * in doc_id order, the padding cost of the three standard batch
    * compositions over the SAME real BPE token counts —
    *   fixed:  every doc padded to L (over-length docs truncated;
    *           trunc_tokens reports the loss),
    *   batch:  pad to the max doc in each B-doc batch (the dynamic-
    *           padding collator),
    *   packed: p10's concat-and-chunk (no truncation, waste only in
    *           the final partial sequence per source).
    * All decisions integer; the efficiency ratios are single IEEE
    * divisions with NULLIF zero guards (§5, the t22 rule).
    *
    * Scale: ONE kernel scan; the only per-doc order structure is a
    * [[Ladders.globalRank]] ladder (range-bucketed doc_id — never a
    * plain per-source window, which would sort a whole stratum on one
    * task); batch and source aggregates are map-side combined.
    */
  def p22PaddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val L = 512L
    // barrier (round 16 — tokenShards' own rule applied here): bounds
    // and the bucketed ladder are two consumers of the token frame;
    // without it the BPE kernel re-ran against its own parquet scan
    // for each consumer (one full corpus tokenization wasted)
    val toks = Tables.ckptNarrow(
      Tables.spread(Tables(spark, dir, "documents"))
        .select(col("doc_id"), col("source"),
          coalesce(size(graft.functions.text.bpe_token_ids(col("text")))
            .cast(LongType), lit(0L)).as("t")))
    val bounds = toks.agg(min(col("doc_id")).as("__lo"),
      max(col("doc_id")).as("__hi"))
    val bucketed = toks.crossJoin(broadcast(bounds))
      .withColumn("__b",
        expr("(doc_id - __lo) div (((__hi - __lo) div 256) + 1)"))
      .drop("__lo", "__hi")
    val ranked = Ladders.globalRank(bucketed, Seq("source"), "__b",
        Seq(col("doc_id")), "rn", None)
      .withColumn("u", least(col("t"), lit(L)))
      .withColumn("x", greatest(col("t") - L, lit(0L)))
      .transform(Tables.ckptNarrow(_)) // one kernel pass: batch + source aggs
    val bpad = ranked
      .groupBy(col("source"), expr("(rn - 1) div 8").as("bid"))
      .agg(count(lit(1)).as("nb"), max(col("u")).as("mx"),
        sum(col("u")).as("su"))
      .groupBy(col("source"))
      .agg(sum(col("nb") * col("mx") - col("su")).as("batch_pad"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        sum(col("x")).as("trunc_tokens"),
        sum(lit(L) - col("u")).as("fixed_pad"),
        sum(col("u")).as("useful"))
      .join(bpad, Seq("source"))
      .withColumn("packed_pad",
        expr(s"((n_tokens + ${L - 1}) div $L) * $L - n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("trunc_tokens"), col("fixed_pad"), col("batch_pad"),
        col("packed_pad"),
        (col("useful").cast(DoubleType) /
          nullif((col("useful") + col("fixed_pad")).cast(DoubleType),
            lit(0.0d))).as("eff_fixed"),
        (col("useful").cast(DoubleType) /
          nullif((col("useful") + col("batch_pad")).cast(DoubleType),
            lit(0.0d))).as("eff_batch"),
        (col("n_tokens").cast(DoubleType) /
          nullif((col("n_tokens") + col("packed_pad")).cast(DoubleType),
            lit(0.0d))).as("eff_packed"))
      .orderBy(col("source"))
  }

  /** Shared bpeDocLenCtes token counts, same integer padding algebra,
    * same NULLIF-guarded single divisions. */
  val p22Sql: String =
    s"""WITH RECURSIVE
       |docw AS (
       |  SELECT doc_id, source,
       |    ${TextAnalysis.wordsSql("text")} AS ws
       |  FROM documents),
       |${graft.functions.KernelOracleSql.bpeDocLenCtes("docw", "")},
       |tt AS (
       |  SELECT d.doc_id, d.source, COALESCE(pw.b, 0) AS t
       |  FROM docw d LEFT JOIN pw ON pw.doc_id = d.doc_id),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
       |    LEAST(t, 512) AS u, GREATEST(t - 512, 0) AS x
       |  FROM tt),
       |b AS (
       |  SELECT source, (rn - 1) // 8 AS bid, COUNT(*) AS nb,
       |    MAX(u) AS mx, SUM(u) AS su
       |  FROM r GROUP BY 1, 2),
       |bp AS (
       |  SELECT source, SUM(nb * mx - su) AS batch_pad FROM b GROUP BY 1),
       |a AS (
       |  SELECT source, COUNT(*) AS n_docs, SUM(t) AS n_tokens,
       |    SUM(x) AS trunc_tokens, SUM(512 - u) AS fixed_pad,
       |    SUM(u) AS useful
       |  FROM r GROUP BY 1)
       |SELECT a.source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(trunc_tokens AS BIGINT) AS trunc_tokens,
       |  CAST(fixed_pad AS BIGINT) AS fixed_pad,
       |  CAST(bp.batch_pad AS BIGINT) AS batch_pad,
       |  CAST(((n_tokens + 511) // 512) * 512 - n_tokens AS BIGINT)
       |    AS packed_pad,
       |  CAST(useful AS DOUBLE)
       |    / NULLIF(CAST(useful + fixed_pad AS DOUBLE), 0) AS eff_fixed,
       |  CAST(useful AS DOUBLE)
       |    / NULLIF(CAST(useful + bp.batch_pad AS DOUBLE), 0) AS eff_batch,
       |  CAST(n_tokens AS DOUBLE)
       |    / NULLIF(CAST(n_tokens
       |        + (((n_tokens + 511) // 512) * 512 - n_tokens) AS DOUBLE), 0)
       |    AS eff_packed
       |FROM a JOIN bp USING (source) ORDER BY a.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p22_padding_audit" -> (p22PaddingAudit _),
    "p21_doremi_mix" -> ((s: SparkSession, d: String) => p21DoremiMix(s, d)),
    "p20_resume_offset" -> (p20ResumeOffset _),
    "p19_unimax_mix" -> (p19UnimaxMix _),
    "p18_epoch_plan" -> (p18EpochPlan _),
    "p17_bpe_token_shards" -> (p17BpeTokenShards _),
    "p16_curation_dag" -> (p16CurationDag _),
    "p15_dsir_select" -> (p15DsirSelect _),
    "p14_anneal_split" -> (p14AnnealSplit _),
    "p12_dataset_card" -> (p12DatasetCard _),
    "p11_quality_classifier" -> (p11QualityClassifier _),
    "p01_clean_pipeline" -> (p01CleanPipeline _),
    "p10_pack_sequences" -> (p10PackSequences _),
    "p09_quality_funnel" -> (p09QualityFunnel _),
    "p06_global_shuffle" -> (p06GlobalShuffle _),
    "p02_hash_sample" -> (p02HashSample _),
    "p03_training_mix" -> (p03TrainingMix _),
    "p13_temperature_mix" -> (p13TemperatureMix _),
    "p04_stratified" -> (p04Stratified _),
    "p05_token_shards" -> (p05TokenShards _),
    "p07_mixture_sample" -> (p07MixtureSample _),
    "p08_leak_safe_split" -> (p08LeakSafeSplit _),
    "d11_variant" -> (d11Variant _))

  val oracle: Map[String, String] = Map(
    "p22_padding_audit" -> p22Sql,
    "p21_doremi_mix" -> p21Sql,
    "p20_resume_offset" -> p20Sql,
    "p19_unimax_mix" -> p19Sql,
    "p18_epoch_plan" -> p18Sql,
    "p17_bpe_token_shards" -> p17Sql,
    "p16_curation_dag" -> p16Sql,
    "p15_dsir_select" -> p15Sql,
    "p14_anneal_split" -> p14Sql,
    "p12_dataset_card" -> p12Sql,
    "p11_quality_classifier" -> p11Sql,
    "p01_clean_pipeline" -> p01Sql,
    "p10_pack_sequences" -> p10Sql,
    "p09_quality_funnel" -> p09Sql,
    "p06_global_shuffle" -> p06Sql,
    "p02_hash_sample" -> p02Sql,
    "p03_training_mix" -> p03Sql,
    "p13_temperature_mix" -> p13Sql,
    "p04_stratified" -> p04Sql,
    "p05_token_shards" -> p05Sql,
    "p07_mixture_sample" -> p07Sql,
    "p08_leak_safe_split" -> p08Sql,
    "d11_variant" -> d11Sql)
}
