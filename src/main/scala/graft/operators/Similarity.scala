package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{vectors => V}

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY.md §2.3).
  *
  * Scale design: the query set is small and broadcast; the corpus streams
  * once. Brute force is the exactness baseline (O(N·Q) codegen'd cosine,
  * zero shuffle until the per-query top-k); IVF is the scale path — the
  * corpus is bucketed by coarse centroid once (write-time partitioning in
  * a real deployment) and each query probes only `nprobe` cells, cutting
  * the scan by cells/nprobe.
  *
  * The oracle composes like the Spark side: each ANN primitive has one
  * DuckDB definition beside its Spark twin, and the s01–s20 and dd09
  * oracle strings are built from them, never from Spark rules (the two
  * engines stay independent):
  *  - the query set [[queriesSql]] ([[queriesDf]]), the grown corpus and
  *    its queries [[grownSql]]/[[grownQueriesSql]]
  *    ([[grownCorpus]]/[[grownQueries]]);
  *  - the quantizer pick [[centroidsSql]] ([[ivfCentroids]],
  *    [[graphCentroids]]) and the nearest-cell window [[nearestCellsSql]],
  *    which is both the assignment ([[assignCells]]) and the probe
  *    ([[probeCells]], [[probeRanks]]);
  *  - the graph walk [[graphBuildSql]] + [[graphWalkSql]]
  *    ([[buildGraphEdges]], [[beamVisited]]), unsuffixed for s18/s20 and
  *    suffixed per tier for s19, and its top-10 [[walkTopSql]]
  *    ([[walkTop]]);
  *  - the evaluation algebra: the exact baselines [[s01ExactSql]]
  *    ([[s01Exact]]) and [[exactTopSql]] ([[grownExact]]), and recall@k
  *    [[hitsSql]]/[[recallColsSql]] ([[hitCounts]]/[[recallCols]]), with
  *    [[recallVsExact]] (s09, s10) and [[walkRecall]] (s18, s19) on top.
  */
object Similarity {

  private val K = 10

  /** ONE definition of the query-set predicate — s13's labeled variant
    * must stay in lockstep with the family's (review r10c). */
  private val queryPred: Column = col("vec_id") < 5

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings").filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  /** SQL twin of [[queriesDf]]: the query set as (q_id, q_vec) with
    * q_vec = `vec` over `embeddings`, plus any `extra` select items. */
  private def queriesSql(vec: String = "embedding::DOUBLE[]",
      extra: String = ""): String =
    s"""SELECT vec_id AS q_id, $vec AS q_vec$extra
       |  FROM embeddings WHERE vec_id < 5""".stripMargin

  /** recall@k's hit count: `left` joined with broadcast `right` on
    * (q_id, vec_id), counted per `keys`. */
  private def hitCounts(left: DataFrame, right: DataFrame,
      keys: String*): DataFrame =
    left.join(broadcast(right), Seq("q_id", "vec_id"))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("hits"))

  /** recall@k's columns over a frame left-joined with [[hitCounts]]:
    * hits (0 when a query has none) and hits / `n` rounded to 4dp. */
  private def recallCols(n: Column): Seq[Column] = {
    val hits = coalesce(col("hits"), lit(0L))
    Seq(hits.as("hits"), round(hits.cast(DoubleType) / n, 4).as("recall"))
  }

  /** SQL twin of [[hitCounts]]: the rows of `approx` found in `exact`,
    * counted per `keys`. */
  private def hitsSql(approx: String, exact: String,
      keys: Seq[String] = Seq("q_id")): String =
    s"""SELECT ${keys.map("a." + _).mkString(", ")}, COUNT(*) AS hits
       |  FROM $approx a JOIN $exact e
       |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
       |  GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}""".stripMargin

  /** SQL twin of [[recallCols]] over a `hits` expression that is NULL for
    * a query without hits. */
  private def recallColsSql(hits: String, n: String): String =
    s"""CAST(COALESCE($hits, 0) AS BIGINT) AS hits,
       |  round(CAST(COALESCE($hits, 0) AS DOUBLE) / $n, 4) AS recall"""
      .stripMargin

  /** Exact top-10 per query of `qs` (q_id, q_vec) over the rows of `rel`
    * ranked by cosine to `vec` (cos DESC, vec_id), self excluded: the
    * ground-truth window of s10's prefix tier and of the grown corpus. */
  private def exactTopSql(qs: String, rel: String, vec: String): String =
    s"""SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY list_cosine_similarity(q.q_vec, e.$vec) DESC,
       |          e.vec_id) AS rn
       |    FROM $qs q, $rel e WHERE e.vec_id <> q.q_id) WHERE rn <= $K"""
      .stripMargin

  /** Map-only nearest-centroid assignment (shared by s02's IVF build and
    * dd09's SemDeDup quantizer): adds `cell` = the c_id of the nearest
    * centroid by cosine, lowest c_id on ties. The centroids frame
    * (columns `c_id`, `c_vec`) collapses to ONE row holding the
    * c_id-sorted centroid array (array_sort on a struct orders by its
    * first field), is broadcast, and each vector folds over it with
    * `functions.aggregate` — strict `>` keeps the first (lowest-c_id)
    * winner, exactly a `(cos DESC, c_id ASC)` window's pick. ZERO
    * exchange: the k×N candidate frame a window-based argmax would
    * shuffle never materializes. Rows keep all input columns. */
  private[operators] def assignCells(df: DataFrame, centroids: DataFrame,
      vec: Column): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_vec"))))
        .as("cents"))
    val best = aggregate(
      col("cents"),
      struct(lit(Double.MinValue).as("cos"), lit(-1L).as("cell")),
      (acc, c) => {
        // Degenerate embeddings must NOT vanish: a NaN cosine (zero-norm
        // vector) ranks ABOVE every real value in both Spark's and
        // DuckDB's `cos DESC` window order, and a NULL one (null vector)
        // ranks below (NULLS LAST) but the window still emits a row. The
        // fold replicates both picks deterministically: NaN → +Inf
        // (outside cosine's [-1,1], beats all reals; strict `>` then
        // keeps the lowest c_id among NaNs, the window's tie-break) and
        // NULL → -2.0 (below all reals, still beats the -1 init so the
        // row keeps its first-centroid assignment instead of dropping).
        val cos = coalesce(
          nanvl(V.cosine_sim(vec, c.getField("c_vec")),
            lit(Double.PositiveInfinity)),
          lit(-2.0d))
        when(cos > acc.getField("cos"),
          struct(cos.as("cos"), c.getField("c_id").as("cell")))
          .otherwise(acc)
      })
    df.crossJoin(broadcast(centArr))
      .withColumn("cell", best.getField("cell"))
      .filter(col("cell") >= 0) // empty-quantizer guard: no cells, no rows
      .drop("cents")
  }

  /** SQL twin of [[assignCells]] (n = 1) and of the probes
    * ([[probeCells]] and [[probeRanks]], n = nprobe): each row of `rel` with its `n` nearest
    * cells of `cent` (c_id, c_vec) by (cosine of `vec` DESC, c_id), one
    * row per cell with its rank `rn`. Keeps the `cols` of `rel`; `key`
    * identifies a row. */
  private[operators] def nearestCellsSql(rel: String, key: String,
      vec: String, cols: Seq[String], cent: String, n: Int): String =
    s"""SELECT ${cols.mkString(", ")}, cell, rn FROM (
       |    SELECT ${cols.map("r." + _).mkString(", ")}, c.c_id AS cell,
       |      row_number() OVER (PARTITION BY r.$key
       |        ORDER BY list_cosine_similarity(r.$vec, c.c_vec) DESC,
       |          c.c_id) AS rn
       |    FROM $rel r, $cent c) WHERE rn <= $n""".stripMargin

  /** Exact per-query top-k in the shape that survives 100× (s05's
    * TakeOrdered shape generalized to many queries): stage 1 keeps a
    * LOCAL top-k inside each bounded (hash-bucket, query) cell — a window
    * whose partitions hold scored_rows/64, never the corpus — and stage 2
    * ranks only the ≤ 64·k survivors per query with a window-free
    * sort_array/slice agg (bounded collect: 64·k structs per group). No
    * partition anywhere holds a data-sized slice; bucket count is the
    * scale knob. Expects columns (q_id, vec_id, cos, payload…); emits
    * (q_id, vec_id, payload…, cos, rank).
    */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int,
      payload: Seq[String]): DataFrame = {
    // BOTH stages order by the NEGATED score ascending, so their rank
    // orders agree everywhere — including NaN (sorts greatest → last →
    // excluded from the top-k, the right answer for an undefined cosine;
    // ordering stage 1 by cos.desc instead would rank NaN FIRST there
    // and last in stage 2)
    val wLocal = Window.partitionBy(col("__b"), col("q_id"))
      .orderBy((col("cos") * -1).asc, col("vec_id"))
    val candidates = scored
      .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(64L)))
      .withColumn("__r", row_number().over(wLocal))
      .filter(col("__r") <= k)
    // lexicographic struct sort == (cos desc, vec_id asc): negate the score
    val fields = struct(((col("cos") * -1).as("__nc") +: col("vec_id") +:
      payload.map(col)) :+ col("cos"): _*)
    candidates.groupBy(col("q_id"))
      .agg(slice(array_sort(collect_list(fields)), 1, k).as("__top"))
      .select(col("q_id"), posexplode(col("__top")))
      .select((col("q_id") +: col("col.vec_id").as("vec_id") +:
        payload.map(c => col("col." + c).as(c))) ++
        Seq(col("col.cos").as("cos"),
          (col("pos") + 1).cast(LongType).as("rank")): _*)
  }

  // ---------------------------------------------------------------- s01
  /** Exact cosine top-k per query: broadcast queries × corpus, codegen'd
    * cosine kernel, then [[topKPerQuery]] — local top-k per bounded cell
    * plus a tiny window-free merge, never a per-query rank over the whole
    * scored corpus (that window puts all N scored rows of a query in ONE
    * task).
    */
  def s01BruteForce(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val scored = corpus.crossJoin(broadcast(queriesDf(spark, dir)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        V.cosine_sim(col("q_vec"), col("embedding")).as("cos"))
    topKPerQuery(scored, K, Seq("label"))
      .withColumn("cos", round(col("cos"), 4)) // oracle parity (SURVEY §5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Both engines accumulate the dot/norms in double left-to-right, so
    * ROUND(,4) absorbs the remaining formula-level ulps.
    */
  val s01Sql: String =
    s"""WITH q AS (${queriesSql()}),
      |scored AS (
      |  SELECT q.q_id, e.vec_id, e.label,
      |         list_cosine_similarity(q.q_vec, e.embedding::DOUBLE[]) AS c
      |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, label, c,
      |         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id)
      |           AS rank
      |  FROM scored)
      |SELECT q_id, vec_id, label, ROUND(c, 4) AS cos, rank
      |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** s01's exact top-10 as (q_id, vec_id, `extra`…), checkpointed: the
    * ground truth s09, s10, s18 and s20 grade against. Query-sized. */
  private def s01Exact(spark: SparkSession, dir: String,
      extra: Column*): DataFrame =
    Tables.ckptTiny(s01BruteForce(spark, dir)
      .select(col("q_id") +: col("vec_id") +: extra: _*))

  /** SQL twin of [[s01Exact]]. */
  private val s01ExactSql: String = s"SELECT q_id, vec_id FROM ($s01Sql)"

  // ---------------------------------------------------------------- s02
  /** Seeded coarse quantizer shared by the s02/s07 index builds, their
    * probes and dd09: 8 fixed corpus vectors as centroids (ORDER BY before
    * LIMIT so the pick is deterministic cross-engine). */
  private[operators] def ivfCentroids(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") % 61 === 3)
      .orderBy(col("vec_id")).limit(IvfCells)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))

  private val IvfCells = 8

  /** SQL twin of the quantizer pick of [[ivfCentroids]] and
    * [[graphCentroids]]: the first `n` seeded rows of `rel`, vector `vec`
    * as c_vec. */
  private[operators] def centroidsSql(rel: String, vec: String,
      n: String = IvfCells.toString): String =
    s"""SELECT vec_id AS c_id, $vec AS c_vec
       |  FROM $rel WHERE vec_id % 61 = 3 ORDER BY vec_id LIMIT $n"""
      .stripMargin

  /** The IVF quantizer over `embeddings` in SQL, as CTE `cent`. */
  private val ivfCentSql: String =
    s"cent AS (${centroidsSql("embeddings", "embedding::DOUBLE[]")})"

  /** s02's INVERTED FILE — (vec_id, label, cell, vector) — materialized
    * ONCE per embeddings generation (VERDICT r10 #3: production vector
    * stacks build once, probe many; dd16's artifact discipline). The
    * corpus-sized assignCells encode runs only inside the builder;
    * every query consumes the artifact scan. */
  def ensureIvfCellsArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "s02_ivf_cells_v2", "embeddings") {
      val corpus = Tables(spark, dir, "embeddings")
      // spread: the corpus-sized encode pass (dd02's rule — a narrow
      // scan would assign the whole corpus on one core)
      assignCells(Tables.spread(corpus), ivfCentroids(corpus),
          col("embedding"))
        .select(col("vec_id"), col("label"), col("cell"), col("embedding"))
    }

  /** The probe: each query's `nprobe` nearest cells of `cents` by
    * (cosine DESC, c_id), as (q_id, q_vec, cell). Per-query rows are
    * bounded by the centroid count, so a window-free sort/slice agg keeps
    * q_id out of every window partition in the plan. */
  private def probeCells(qs: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    qs.crossJoin(broadcast(cents))
      .select(col("q_id"), col("q_vec"), col("c_id"),
        V.cosine_sim(col("q_vec"), col("c_vec")).as("q_cos"))
      .groupBy(col("q_id"))
      .agg(first(col("q_vec")).as("q_vec"),
        slice(array_sort(collect_list(
          struct((col("q_cos") * -1).as("__n"), col("c_id")))), 1, nprobe)
          .as("__top"))
      .select(col("q_id"), col("q_vec"), explode(col("__top")).as("f"))
      .select(col("q_id"), col("q_vec"), col("f.c_id").as("cell"))

  /** IVF-style ANN: coarse quantizer = 8 seeded centroids, corpus
    * assigned to nearest cell ONCE into the inverted-file artifact
    * ([[ensureIvfCellsArtifact]]); queries probe the 2 nearest cells
    * and brute-force only those from the artifact scan.
    */
  def s02Ivf(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val centroids = ivfCentroids(corpus)

    // the inverted file: an artifact scan, NO encode kernel here — the
    // plan audit pins the consumer plan free of the assign fold
    val assigned = ensureIvfCellsArtifact(spark, dir)

    val probes = probeCells(queriesDf(spark, dir), centroids, 2)

    // search only the probed cells; same bounded local-topk + tiny merge
    // shape as s01 (the probed slice of the corpus is still data-sized)
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"), col("cell"),
        V.cosine_sim(col("q_vec"), col("embedding")).as("cos"))
    topKPerQuery(scored, K, Seq("label", "cell"))
      .withColumn("cos", round(col("cos"), 4)) // oracle parity (SURVEY §5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The full IVF build+probe+search replicated declaratively: same
    * centroid picks, same tie-breaks, so the approximation itself is
    * deterministic and oracle-checkable.
    */
  val s02Sql: String =
    s"""WITH q AS (${queriesSql()}),
       |$ivfCentSql,
       |assigned AS (${nearestCellsSql("embeddings", "vec_id",
         "embedding::DOUBLE[]", Seq("vec_id", "label", "embedding"), "cent",
         1)}),
       |probes AS (${nearestCellsSql("q", "q_id", "q_vec",
         Seq("q_id", "q_vec"), "cent", 2)}),
       |ranked AS (
       |  SELECT p.q_id, a.vec_id, a.label, a.cell,
       |         list_cosine_similarity(p.q_vec, a.embedding::DOUBLE[]) AS c,
       |         row_number() OVER (PARTITION BY p.q_id
       |           ORDER BY list_cosine_similarity(p.q_vec,
       |             a.embedding::DOUBLE[]) DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN probes p USING (cell)
       |  WHERE a.vec_id <> p.q_id)
       |SELECT q_id, vec_id, label, cell, ROUND(c, 4) AS cos, rank
       |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s03
  /** Per-vector int8 scalar quantization — the standard embedding
    * compression step (absmax scaling to [-127, 127]) summarized to
    * exact scalars: quantized checksum, saturation count, and the L1
    * reconstruction error.
    *
    * Scale: entirely map-only higher-order expressions over the vector
    * column — no shuffle except the presentation sort, no UDFs; at
    * 100 TB this runs at scan bandwidth like t01/p02 (SCALING.md's flat
    * family). Oracle: identical arithmetic in DuckDB list functions;
    * both engines fold sums left-to-right over the array, so even the
    * floating error term is bit-deterministic.
    */
  def s03Quantize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("amax", expr(
        "aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
      .filter(col("amax") > 0)
      .withColumn("q", expr(
        "transform(v, x -> CAST(round(x * 127.0 / amax) AS BIGINT))"))
      .select(col("vec_id"), col("label"), round(col("amax"), 4).as("amax"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
          .as("checksum"),
        expr("CAST(size(filter(q, x -> abs(x) = 127)) AS BIGINT)")
          .as("n_saturated"),
        round(expr(
          """aggregate(zip_with(v, q, (x, qi) -> abs(x - qi * amax / 127.0)),
            |CAST(0 AS DOUBLE), (acc, e) -> acc + e)""".stripMargin), 4)
          .as("l1_err"))
      .orderBy(col("vec_id"))

  val s03Sql: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |a AS (
      |  SELECT vec_id, label, v,
      |    list_max(list_transform(v, x -> abs(x))) AS amax
      |  FROM v WHERE list_max(list_transform(v, x -> abs(x))) > 0),
      |q AS (
      |  SELECT vec_id, label, v, amax,
      |    list_transform(v, x -> CAST(round(x * 127.0 / amax) AS BIGINT)) AS q
      |  FROM a)
      |SELECT vec_id, label, ROUND(amax, 4) AS amax,
      |  CAST(list_sum(q) AS BIGINT) AS checksum,
      |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_saturated,
      |  ROUND(list_sum(list_transform(range(1, len(v) + 1),
      |    i -> abs(v[i] - q[i] * amax / 127.0))), 4) AS l1_err
      |FROM q ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- s04
  /** Product quantization — the PQ half of the IVF+PQ recipe every
    * billion-vector ANN index uses: the 64-dim vector splits into 8
    * subspaces of 8 dims, each subvector snaps to the nearest of 4
    * per-subspace centroids (seeded deterministic corpus picks, like
    * s02's coarse quantizer), so a vector compresses to 8 small codes;
    * reconstruction error = √(Σ per-subspace min distances).
    *
    * The fitted centroids are collected to the driver — they are MODEL
    * PARAMETERS (like any trained k-means model), bounded by k·dim, and
    * enter the plan as literals, so the encode pass is map-only codegen
    * over the scan with zero shuffles at any corpus size. Ties break to
    * the lowest centroid id via lexicographic struct-min in BOTH
    * engines.
    */
  def s04PqQuantize(spark: SparkSession, dir: String): DataFrame = {
    val m = 8; val sub = 8; val k = 4
    val centroids: Array[Array[Double]] = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") % 97 === 11).orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val v = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    def dist(c: Int, s: Int): Column =
      (0 until sub).map { i =>
        val d = try_element_at(v, lit(s * sub + i + 1)) -
          lit(centroids(c)(s * sub + i))
        d * d
      }.reduce(_ + _)
    // per subspace: lexicographic struct-min = (min dist, then min id)
    def best(s: Int): Column = array_min(array(
      (0 until k).map(c => struct(dist(c, s).as("d"), lit(c).as("c"))): _*))
    val withBest = (0 until m).foldLeft(
      Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))) {
      (acc, s) => acc.withColumn(s"__b$s", best(s)) }
    withBest.select(col("vec_id"),
        concat_ws(",", (0 until m).map(s => col(s"__b$s").getField("c")): _*)
          .as("codes"),
        round(sqrt((0 until m).map(s => col(s"__b$s").getField("d"))
          .reduce(_ + _)), 4).as("recon_err"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: same fit (seeded picks), same assignment, derived wholly in
    * SQL — cross join vectors × centroids × subspaces, struct-min per
    * (vector, subspace), codes re-assembled in subspace order.
    */
  val s04Sql: String =
    """WITH cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id,
      |    embedding::DOUBLE[] AS c_vec
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 97 = 11
      |        ORDER BY vec_id LIMIT 4)),
      |dists AS (
      |  SELECT e.vec_id, s.s, c.c_id,
      |    list_sum(list_transform(range(1, 9),
      |      i -> pow(e.embedding[s.s * 8 + i]::DOUBLE -
      |               c.c_vec[s.s * 8 + i], 2))) AS d
      |  FROM embeddings e
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS s) s
      |  CROSS JOIN cent c),
      |best AS (
      |  SELECT vec_id, s, MIN(ROW(d, c_id)) AS b
      |  FROM dists GROUP BY vec_id, s)
      |SELECT vec_id,
      |  string_agg(CAST(b[2] AS VARCHAR), ',' ORDER BY s) AS codes,
      |  ROUND(sqrt(SUM(b[1])), 4) AS recon_err
      |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- s05
  /** Atlas `$vectorSearch` run as a Mongo pipeline against the embeddings
    * collection — the stage a vector-workload user ports verbatim: MQL
    * pre-`filter` (pushes into the scan), exact cosine TopN with Atlas's
    * (1+cos)/2 score normalization, score projected via
    * `{$meta: "vectorSearchScore"}`. The query vector is fetched
    * driver-side (ONE bounded row — in real Atlas usage the query vector
    * IS client input), the corpus streams once, zero shuffle before the
    * TopN.
    */
  def s05VectorSearch(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val qv = corpus.filter(col("vec_id") === 3)
      .select(col("embedding")).head.getSeq[Float](0)
    graft.Graft.aggregate(corpus, s"""[
      {"$$vectorSearch": {"path": "embedding",
        "queryVector": [${qv.mkString(",")}],
        "limit": 50, "numCandidates": 200,
        "filter": {"vec_id": {"$$lt": 400}}}},
      {"$$project": {"vec_id": 1,
        "score": {"$$round": [{"$$meta": "vectorSearchScore"}, 4]}}},
      {"$$sort": {"score": -1, "vec_id": 1}}
    ]""")
  }

  /** Oracle picks the same top-50 by the RAW score (ties at the rounded
    * score are broken by vec_id in the final presentation sort only).
    */
  val s05Sql: String =
    """WITH q AS (
      |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
      |scored AS (
      |  SELECT e.vec_id,
      |    list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS c
      |  FROM embeddings e, q WHERE e.vec_id < 400),
      |top AS (SELECT * FROM scored ORDER BY c DESC LIMIT 50)
      |SELECT vec_id, ROUND((1 + c) / 2, 4) AS score
      |FROM top ORDER BY score DESC, vec_id""".stripMargin

  // ---------------------------------------------------------------- s06
  /** Hybrid retrieval — MongoDB 8.1's `$rankFusion` over a lexical
    * `$search` (BM25) pipeline and a semantic `$vectorSearch` pipeline,
    * the retrieval shape an LLM data/RAG stack actually runs: candidates
    * from both modalities, reciprocal-rank-fused (Σ w/(60+rank)).
    *
    * Scale shape: BM25 is two passes over the pruned text column (query
    * terms are literals → map-side tf/dl; ONE tiny global stats row
    * broadcast back) ending in a TakeOrderedAndProject cut; the vector
    * side is the s05 zero-shuffle TopN; fusion unions 2×30 rows — the
    * heavy lifting never leaves the per-partition scans regardless of
    * corpus size. Ranks and cuts are tie-pinned by `_id` so the result
    * is reproducible run-to-run and engine-to-engine.
    */
  def s06HybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val emb = Tables(spark, dir, "embeddings")
    val base = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(docs("doc_id").as("_id"), docs("text"), emb("embedding"))
    val qv = emb.filter(col("vec_id") === 3)
      .select(col("embedding")).head.getSeq[Float](0)
    graft.Graft.aggregate(base, s"""[
      {"$$rankFusion": {"input": {"pipelines": {
        "lexical": [
          {"$$search": {"text": {"query": "spark merge window", "path": "text"}}},
          {"$$limit": 30}],
        "semantic": [
          {"$$vectorSearch": {"path": "embedding",
            "queryVector": [${qv.mkString(",")}],
            "limit": 30, "numCandidates": 120}}]}},
        "combination": {"weights": {"lexical": 1, "semantic": 1}}}},
      {"$$project": {"_id": 1, "fused": {"$$round": [{"$$meta": "score"}, 6]}}},
      {"$$sort": {"fused": -1, "_id": 1}},
      {"$$limit": 20}
    ]""").select(col("_id").as("doc_id"), col("fused"))
  }

  /** Oracle re-derives BM25 (identical formula and operation order), the
    * s05 cosine, both rank lists (same `_id` tie-pins), and the RRF sum.
    */
  val s06Sql: String =
    """WITH base AS (
      |  SELECT d.doc_id AS id, d.text, e.embedding
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      |tk AS (
      |  SELECT id, list_filter(
      |    string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
      |    x -> x <> '') AS toks
      |  FROM base WHERE text IS NOT NULL),
      |tf AS (
      |  SELECT id, len(toks) AS dl,
      |    len(list_filter(toks, x -> x = 'spark'))  AS tf1,
      |    len(list_filter(toks, x -> x = 'merge'))  AS tf2,
      |    len(list_filter(toks, x -> x = 'window')) AS tf3
      |  FROM tk),
      |stats AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
      |    count(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
      |    count(CASE WHEN tf2 > 0 THEN 1 END) AS df2,
      |    count(CASE WHEN tf3 > 0 THEN 1 END) AS df3
      |  FROM tf),
      |lex AS (
      |  SELECT id,
      |    (CASE WHEN tf1 > 0 THEN
      |       ln(1.0 + (CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5)) *
      |       (CAST(tf1 AS DOUBLE) /
      |        (tf1 + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) ELSE 0 END
      |   + CASE WHEN tf2 > 0 THEN
      |       ln(1.0 + (CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5)) *
      |       (CAST(tf2 AS DOUBLE) /
      |        (tf2 + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) ELSE 0 END
      |   + CASE WHEN tf3 > 0 THEN
      |       ln(1.0 + (CAST(n AS DOUBLE) - df3 + 0.5) / (df3 + 0.5)) *
      |       (CAST(tf3 AS DOUBLE) /
      |        (tf3 + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) ELSE 0 END) AS s
      |  FROM tf, stats),
      |lexrank AS (
      |  SELECT id, row_number() OVER (ORDER BY s DESC, id) AS r
      |  FROM lex WHERE s > 0 QUALIFY r <= 30),
      |sem AS (
      |  SELECT b.id, list_cosine_similarity(q.qv, b.embedding::DOUBLE[]) AS c
      |  FROM base b,
      |    (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3) q),
      |semrank AS (
      |  SELECT id, row_number() OVER (ORDER BY c DESC, id) AS r
      |  FROM sem QUALIFY r <= 30),
      |rrf AS (
      |  SELECT coalesce(l.id, m.id) AS id,
      |    coalesce(1.0 / (60 + l.r), 0) + coalesce(1.0 / (60 + m.r), 0) AS f
      |  FROM lexrank l FULL OUTER JOIN semrank m ON l.id = m.id)
      |SELECT id AS doc_id, ROUND(f, 6) AS fused
      |FROM rrf ORDER BY ROUND(f, 6) DESC, id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- s07
  /** IVF-PQ ANN — the full at-scale ANN shape (Jégou et al. 2011, "PQ
    * for nearest neighbor search"; same structure as FAISS IVFPQ):
    * corpus → coarse cell (assignCells, map-only) + 8×8-dim PQ codes
    * (s04's seeded codebooks, map-only encode); each query probes its 2
    * nearest cells and scores candidates by ADC — a per-query 8×4
    * lookup table of subspace distances, so the scan never touches the
    * original vectors, only the 8-byte codes.
    *
    * Scale: the corpus-side state is (cell, 8 codes) per vector — the
    * memory shape that makes billion-vector ANN fit; scoring is a
    * broadcast join on cell + pure CASE/add arithmetic (codegen'd, no
    * kernel call), then the bounded local-topk + tiny merge
    * (topKPerQuery). Ranking uses the 4dp-ROUNDED distance with vec_id
    * ties so both engines rank identically (raw cross-subspace sums
    * differ in low bits by association order).
    */
  /** PQ codebooks: s04's seeded picks — 4 rows of model parameters, the
    * same bounded driver-side collect s04 documents. Shared by the
    * codes-artifact build and the ADC probe. */
  private def pqCodebook(corpus: DataFrame, kCb: Int): Array[Array[Double]] = {
    val cb = corpus.filter(col("vec_id") % 97 === 11)
      .orderBy(col("vec_id")).limit(kCb)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // name the culprit instead of an opaque ArrayIndexOutOfBounds at plan
    // build — the Tables.normalizeEmbedding convention for testdata drift
    require(cb.length == kCb,
      s"s07: expected $kCb PQ codebook vectors (vec_id % 97 == 11), got " +
        s"${cb.length} — did the embeddings testdata shrink?")
    cb
  }

  private def pqDist(cb: Array[Array[Double]], vecCol: Column,
      c: Int, s: Int, sub: Int): Column =
    (0 until sub).map { i =>
      val d = try_element_at(vecCol, lit(s * sub + i + 1)) -
        lit(cb(c)(s * sub + i))
      d * d
    }.reduce(_ + _)

  /** s07's PQ CODES TABLE — (vec_id, cell, code0..code7) — built ONCE
    * per embeddings generation (VERDICT r10 #3). This is the state
    * shape that makes billion-vector ANN fit (8 small codes + a cell id
    * per vector); the corpus-sized assign+encode kernels run only in
    * the builder, and the ADC probe consumes an artifact scan that
    * never touches the original vectors. */
  def ensurePqCodesArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "s07_pq_codes_v2", "embeddings") {
      val m = 8; val sub = 8; val kCb = 4
      val corpus = Tables(spark, dir, "embeddings")
      val cb = pqCodebook(corpus, kCb)
      // hoist the float→double view into ONE projected column so the 32
      // per-(subspace, centroid) distance expressions share it instead
      // of each re-materializing the transform
      def bestCode(s: Int): Column = array_min(array(
        (0 until kCb).map(c => struct(pqDist(cb, col("__v"), c, s, sub)
          .as("d"), lit(c).as("c"))): _*)).getField("c")
      assignCells(
          Tables.spread(corpus.select(col("vec_id"), col("embedding"))),
          ivfCentroids(corpus), col("embedding"))
        .withColumn("__v",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .select(col("vec_id") +: col("cell") +:
          (0 until m).map(s => bestCode(s).as(s"code$s")): _*)
    }

  def s07IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val m = 8; val sub = 8; val kCb = 4; val nprobe = 2
    val corpus = Tables(spark, dir, "embeddings")
    val ivfCent = ivfCentroids(corpus)
    val cb = pqCodebook(corpus, kCb)
    def cdist(vecCol: Column, c: Int, s: Int): Column =
      pqDist(cb, vecCol, c, s, sub)
    // the codes table: an artifact scan — no assign fold, no encode
    // kernel in the consumer plan (plan-audited)
    val encoded = ensurePqCodesArtifact(spark, dir)
    // probes: nprobe nearest cells per query (bounded sort/slice agg,
    // same as s02) + the 8×4 ADC lookup table as 32 plain columns
    // (tiny frame — ≤ queries × nprobe rows — so the repeated q_vec
    // transform inside each lut column is irrelevant)
    val qv = expr("transform(q_vec, x -> CAST(x AS DOUBLE))")
    val probes = probeCells(queriesDf(spark, dir), ivfCent, nprobe)
      .select(col("q_id") +: col("cell") +:
        (for (s <- 0 until m; c <- 0 until kCb)
          yield cdist(qv, c, s).as(s"lut_${s}_$c")): _*)
    def codeLut(s: Int): Column =
      (1 until kCb).foldLeft(
        when(col(s"code$s") === 0, col(s"lut_${s}_0")))(
        (acc, c) => acc.when(col(s"code$s") === c, col(s"lut_${s}_$c")))
    val adc = (0 until m).map(codeLut).reduce(_ + _)
    val scored = encoded.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        (round(adc, 4) * -1).as("cos")) // topKPerQuery ranks cos DESC
    topKPerQuery(scored, K, Seq("cell"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        round(col("cos") * -1, 4).as("adc_dist"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Full IVF-PQ replica in SQL: same seeded centroids/codebooks, same
    * assignment tie-breaks, ADC re-derived by joining codes back to the
    * codebook (subspace distances are bit-identical; the cross-subspace
    * sum is rounded to 4dp before ranking in BOTH engines). */
  val s07Sql: String =
    s"""WITH q AS (${queriesSql()}),
      |$ivfCentSql,
      |cb AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
      |    embedding::DOUBLE[] AS v
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 97 = 11
      |        ORDER BY vec_id LIMIT 4)),
      |assigned AS (${nearestCellsSql("embeddings", "vec_id",
        "embedding::DOUBLE[]", Seq("vec_id", "embedding"), "cent", 1)}),
      |codes AS (
      |  SELECT vec_id, s, MIN(ROW(d, c))[2] AS code FROM (
      |    SELECT a.vec_id, s.s, b.c,
      |      list_sum(list_transform(range(1, 9),
      |        i -> pow(a.embedding[s.s * 8 + i]::DOUBLE - b.v[s.s * 8 + i],
      |                 2))) AS d
      |    FROM assigned a
      |    CROSS JOIN (SELECT unnest(range(0, 8)) AS s) s
      |    CROSS JOIN cb b)
      |  GROUP BY vec_id, s),
      |probes AS (${nearestCellsSql("q", "q_id", "q_vec",
        Seq("q_id", "q_vec"), "cent", 2)}),
      |adc AS (
      |  SELECT p.q_id, a.vec_id, a.cell,
      |    ROUND(SUM(list_sum(list_transform(range(1, 9),
      |      i -> pow(p.q_vec[k.s * 8 + i] - b.v[k.s * 8 + i], 2)))), 4)
      |      AS dist
      |  FROM probes p
      |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id
      |  JOIN codes k ON k.vec_id = a.vec_id
      |  JOIN cb b ON b.c = k.code
      |  GROUP BY p.q_id, a.vec_id, a.cell),
      |ranked AS (
      |  SELECT q_id, vec_id, cell, dist,
      |    row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id)
      |      AS rank
      |  FROM adc)
      |SELECT q_id, vec_id, cell, dist AS adc_dist, rank
      |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s08
  /** MMR diversity re-ranking (Carbonell & Goldstein 1998) — the
    * retrieval step after ANN in a RAG stack: from each query's cosine
    * top-10, pick 5 by Maximal Marginal Relevance,
    * score(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) with λ = 0.7, so
    * near-duplicate candidates (exactly what a dup-heavy corpus's raw
    * top-k is full of) are traded for coverage.
    *
    * Cross-engine determinism: rel and every pairwise sim round to 4dp
    * BEFORE combining (s07's rank-key convention); both engines then
    * run the same IEEE double arithmetic (rel·0.7 − pen·0.3, same
    * operation order) on identical inputs, so every argmax picks the
    * same winner, with vec_id as the tie-break. The output score
    * rounds again for hash parity.
    *
    * Scale: the heavy half is s01's shape — broadcast queries × corpus
    * scan + window-free top-k merge. The selection is PER-QUERY LOCAL
    * (≤10 candidates), so it runs inside ONE aggregation: candidates
    * collect to a bounded per-query array and the 4 MMR steps unroll as
    * higher-order `aggregate` argmax folds over it — one job, zero
    * joins, no iterative lineage. (The first cut iterated tiny
    * dataframe joins instead: 9.1 s at sf0.1 from compounding plan
    * re-optimization, 2.1 s with per-iteration checkpoints, 0.9 s as
    * this single-aggregation form — the selection is not distributed
    * work and must not be scheduled as such.)
    */
  def s08MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    // rank the RAW cosine (exactly s01's top-k order — ranking a rounded
    // copy instead would let the pool diverge from s01's at a .00005
    // boundary, ADVICE r8); rel rounds to 4dp AFTER selection into the
    // pool, which is where the deterministic MMR arithmetic starts
    val scored = corpus.crossJoin(broadcast(queriesDf(spark, dir)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("embedding").as("emb"),
        V.cosine_sim(col("q_vec"), col("embedding")).as("cos"))
    val packed = topKPerQuery(scored, K, Seq("emb"))
      .groupBy(col("q_id"))
      .agg(collect_list(struct(col("vec_id"),
        round(col("cos"), 4).as("rel"), col("emb"))).as("cs"))
    mmrSelect(packed).orderBy(col("q_id"), col("rank"))
  }

  /** The MMR selection core over a packed `(q_id, cs)` candidate frame
    * (cs = array of (vec_id, rel, emb) structs, rel pre-rounded 4dp):
    * 5 unrolled argmax folds, λ = 0.7. Factored so the short-candidate
    * edge (< 5 candidates) is unit-testable without a corpus scan. */
  private[graft] def mmrSelect(packed: DataFrame): DataFrame = {
    def sim(a: Column, b: Column) = round(V.cosine_sim(a, b), 4)
    // argmax of `score` over the candidate array, excluding prior picks,
    // lowest vec_id on ties — an assignCells-style fold (strict > keeps
    // the first winner under the (score desc, vec_id asc) order)
    def pick(prior: Seq[Column]): Column = aggregate(
      filter(col("cs"), x => prior.map(p =>
          x.getField("vec_id") =!= p.getField("vec_id"))
        .reduceOption(_ && _).getOrElse(lit(true))),
      struct(lit(Double.MinValue).as("score"), lit(Long.MaxValue).as("vec_id"),
        lit(0.0d).as("rel"), lit(null).cast("array<float>").as("emb")),
      (acc, x) => {
        val pen = prior.map(p => sim(x.getField("emb"), p.getField("emb")))
          .reduceOption((a, b) => greatest(a, b)).getOrElse(lit(0.0d))
        val sx = x.getField("rel") * 0.7 - pen * 0.3
        when(sx > acc.getField("score") ||
            (sx === acc.getField("score") &&
              x.getField("vec_id") < acc.getField("vec_id")),
          struct(sx.as("score"), x.getField("vec_id").as("vec_id"),
            x.getField("rel").as("rel"), x.getField("emb").as("emb")))
          .otherwise(acc)
      })
    val withPicks = (1 to 5).foldLeft(packed) { (df, i) =>
      df.withColumn(s"w$i", pick((1 until i).map(j => col(s"w$j"))))
    }
    // score = rel4·0.7 − pen4·0.3 is an EXACT 5-decimal-digit value, so
    // round(·, 5) has no half-way cases; rounding to 4dp would sit on a
    // .xxxx5 boundary for half the rows, where Spark (BigDecimal of the
    // shortest string) rounds up and DuckDB (raw binary double) down
    withPicks
      .select(col("q_id"),
        posexplode(array((1 to 5).map(i => col(s"w$i")): _*)))
      // a query with < 5 candidates exhausts the pool before 5 picks and
      // the fold's init struct survives into the explode — drop it by its
      // sentinel id (the oracle's rn = 1 over an empty set emits nothing)
      .filter(col("col.vec_id") =!= Long.MaxValue)
      .select(col("q_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.vec_id").as("vec_id"), col("col.rel").as("rel"),
        round(col("col.score"), 5).as("score"))
  }

  private def mmrStepSql(i: Int): String = {
    val prev = (1 until i).map(j => s"SELECT * FROM w$j").mkString(" UNION ALL ")
    s"""s$i AS ($prev),
       |p$i AS (
       |  SELECT c.q_id, c.vec_id, c.rel,
       |    max(round(list_cosine_similarity(c.emb, s.emb), 4)) AS pen
       |  FROM cands c
       |  JOIN (SELECT cc.q_id, cc.emb FROM cands cc
       |        JOIN s$i ss ON cc.q_id = ss.q_id AND cc.vec_id = ss.vec_id) s
       |    ON c.q_id = s.q_id
       |  WHERE NOT EXISTS (SELECT 1 FROM s$i x
       |    WHERE x.q_id = c.q_id AND x.vec_id = c.vec_id)
       |  GROUP BY 1, 2, 3),
       |w$i AS (
       |  SELECT q_id, vec_id, rel, score, $i AS rank FROM (
       |    SELECT q_id, vec_id, rel, rel * 0.7 - pen * 0.3 AS score,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY rel * 0.7 - pen * 0.3 DESC, vec_id) AS rn
       |    FROM p$i) WHERE rn = 1)""".stripMargin
  }

  val s08Sql: String =
    s"""WITH q AS (${queriesSql()}),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, e.embedding::DOUBLE[] AS emb,
       |    list_cosine_similarity(q.q_vec, e.embedding::DOUBLE[]) AS c
       |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
       |cands AS (
       |  SELECT q_id, vec_id, emb, round(c, 4) AS rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY c DESC, vec_id) AS rn
       |    FROM scored) WHERE rn <= 10),
       |w1 AS (
       |  SELECT q_id, vec_id, rel, score, 1 AS rank FROM (
       |    SELECT q_id, vec_id, rel, rel * 0.7 AS score,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY rel * 0.7 DESC, vec_id) AS rn
       |    FROM cands) WHERE rn = 1),
       |${(2 to 5).map(mmrStepSql).mkString(",\n")}
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, rel,
       |  round(score, 5) AS score
       |FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2
       |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
       |  UNION ALL SELECT * FROM w5)
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s09
  /** ANN recall@10 evaluation — the index-quality gate a production
    * vector deployment runs after every build: per query, the fraction
    * of the EXACT cosine top-10 (s01, ground truth) that the IVF index
    * (s02, 2-probe) actually returned. Recall is THE number that
    * decides nprobe/cell-count retuning; shipping an index without it
    * is flying blind.
    *
    * Scale: ground truth and index search are the audited s01/s02
    * shapes (one corpus scan each); both top-k frames are query-sized
    * (Q × 10 rows) and localCheckpointed, so the recall join/aggs — and
    * every re-reference of either frame — never re-enter a corpus
    * scan. Cost = one exact pass + one probed pass, which is exactly
    * what the evaluation MUST pay (the ground truth is the product
    * being checked).
    */
  def s09AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val (exact, approx) = graft.Par.run2( // independent chains (§2.6)
      () => s01Exact(spark, dir),
      () => Tables.ckptTiny(s02Ivf(spark, dir)
        .select(col("q_id"), col("vec_id"))))
    recallVsExact(exact, approx, "n_approx")
  }

  /** s09's and s10's recall table: per query of `exact`, its count, the
    * count `nApprox` of `approx`, hits and recall@k. Every frame here is
    * Q×10 rows, but a localCheckpointed RDD has no size statistics, so
    * without the hints Spark plans sort-merge joins for 50-row inputs —
    * the hint IS the bound's documentation. */
  private def recallVsExact(exact: DataFrame, approx: DataFrame,
      nApprox: String): DataFrame =
    exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(broadcast(approx.groupBy(col("q_id"))
        .agg(count(lit(1)).as(nApprox))), Seq("q_id"), "left_outer")
      .join(broadcast(hitCounts(exact, approx, "q_id")), Seq("q_id"),
        "left_outer")
      .select(Seq(col("q_id"), col("n_exact"),
        coalesce(col(nApprox), lit(0L)).as(nApprox)) ++
        recallCols(col("n_exact")): _*)
      .orderBy(col("q_id"))

  /** SQL twin of [[recallVsExact]] over CTEs `exact` and `approx`. */
  private def recallVsExactSql(approx: String, nApprox: String): String =
    s"""h AS (${hitsSql(approx, "exact")}),
       |ne AS (SELECT q_id, COUNT(*) AS n_exact FROM exact GROUP BY 1),
       |na AS (SELECT q_id, COUNT(*) AS $nApprox FROM $approx GROUP BY 1)
       |SELECT ne.q_id, ne.n_exact,
       |  CAST(COALESCE(na.$nApprox, 0) AS BIGINT) AS $nApprox,
       |  ${recallColsSql("h.hits", "ne.n_exact")}
       |FROM ne
       |LEFT JOIN na ON na.q_id = ne.q_id
       |LEFT JOIN h ON h.q_id = ne.q_id
       |ORDER BY ne.q_id""".stripMargin

  /** Oracle: the s01 and s02 replicas verbatim as subqueries, then the
    * recall algebra. */
  val s09Sql: String =
    s"""WITH exact AS ($s01ExactSql),
       |approx AS (SELECT q_id, vec_id FROM ($s02Sql)),
       |${recallVsExactSql("approx", "n_approx")}""".stripMargin

  // ---------------------------------------------------------------- s10
  /** Matryoshka (MRL, Kusupati 2022) truncated-dimension retrieval
    * evaluation — the memory/latency knob a production vector stack
    * tunes after adopting nested embeddings: rank by cosine over only
    * the FIRST 16 of 64 dimensions (a 4× cheaper scan — at corpus scale
    * the short prefix is the resident index tier and the full vector
    * stays in cold storage for re-ranking) and report recall@10 against
    * the full-dimension exact top-10. The s09 evaluation shape: both
    * top-k frames are query-sized, localCheckpointed, joined broadcast.
    *
    * Cross-engine: ranks on the RAW cosine with vec_id tie-break (the
    * s01 discipline — both engines accumulate the same float32 inputs
    * left-to-right in double); recall = hits/10 is an exact 1-digit
    * decimal, no rounding hazard.
    */
  def s10MrlRecall(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val scoredT = corpus.crossJoin(broadcast(queriesDf(spark, dir)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        V.cosine_sim(slice(col("q_vec"), 1, 16),
          slice(col("embedding"), 1, 16)).as("cos"))
    val (trunc, exact) = graft.Par.run2( // independent chains (§2.6)
      () => Tables.ckptTiny(topKPerQuery(scoredT, K, Seq.empty)
        .select(col("q_id"), col("vec_id"))),
      () => s01Exact(spark, dir))
    recallVsExact(exact, trunc, "n_trunc")
  }

  /** Oracle: the s01 replica for ground truth + the same brute-force
    * window over the 16-dim prefixes. */
  val s10Sql: String = {
    val prefix = "embedding[1:16]::DOUBLE[]"
    s"""WITH exact AS ($s01ExactSql),
       |tq AS (${queriesSql(prefix)}),
       |trunc AS (${exactTopSql("tq", "embeddings", prefix)}),
       |${recallVsExactSql("trunc", "n_trunc")}""".stripMargin
  }

  // ---------------------------------------------------------------- s11
  /** Matryoshka two-tier retrieval — the OPERATIONAL query path whose
    * quality s10 measures (Kusupati 2022; VERDICT r9 #4): rank the
    * corpus by cosine over the first 16 of 64 dimensions (the 4×
    * cheaper resident tier), shortlist the top-50 per query, re-rank
    * ONLY the shortlist by full-dimension cosine, and answer with the
    * re-ranked top-10. A full-dim top-10 hit that survives the prefix
    * shortlist always survives the re-rank (its full-cos rank within
    * any subset is ≤ its global rank), so this path's recall is
    * lower-bounded by s10's truncated-only recall — specced.
    *
    * Scale: tier 1 is s01's audited shape over 4× cheaper arithmetic —
    * one corpus scan, bounded local top-k cells, window-free merge —
    * carrying the full embedding as payload so tier 2 NEVER re-enters
    * the corpus: the Q×50 shortlist localCheckpoints (s08's
    * checkpoint discipline), query vectors re-attach by broadcast,
    * and the re-rank runs the same bounded top-k over 50-row input.
    * PlanAuditSpec asserts no SortMergeJoin and no second corpus scan.
    *
    * Cross-engine (§5): both tiers rank the RAW cosine with vec_id
    * tie-break (the s01 discipline); the output cosine rounds to 4dp
    * for display only.
    */
  def s11MrlRerank(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val scoredT = corpus.crossJoin(broadcast(queriesDf(spark, dir)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("embedding").as("emb"),
        V.cosine_sim(slice(col("q_vec"), 1, 16),
          slice(col("embedding"), 1, 16)).as("cos"))
    val shortlist = Tables.ckptTiny(topKPerQuery(scoredT, 50, Seq("emb"))
      .select(col("q_id"), col("vec_id"), col("emb")))
    val reranked = shortlist
      .join(broadcast(queriesDf(spark, dir)), "q_id")
      .select(col("q_id"), col("vec_id"),
        V.cosine_sim(col("q_vec"), col("emb")).as("cos"))
    topKPerQuery(reranked, K, Seq.empty)
      .withColumn("cos", round(col("cos"), 4))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Oracle: the s10 prefix chain extended with the emb payload, then
    * the full-dim re-rank over the 50-row shortlist. */
  val s11Sql: String =
    s"""WITH q AS (${queriesSql()}),
      |tscored AS (
      |  SELECT q.q_id, e.vec_id, e.embedding::DOUBLE[] AS emb,
      |    list_cosine_similarity(q.q_vec[1:16], e.embedding[1:16]::DOUBLE[])
      |      AS c
      |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      |short AS (
      |  SELECT q_id, vec_id, emb FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY c DESC, vec_id) AS rn
      |    FROM tscored) WHERE rn <= 50),
      |rer AS (
      |  SELECT s.q_id, s.vec_id,
      |    list_cosine_similarity(q.q_vec, s.emb) AS c
      |  FROM short s JOIN q ON q.q_id = s.q_id)
      |SELECT q_id, vec_id, ROUND(c, 4) AS cos, rank FROM (
      |  SELECT q_id, vec_id, c,
      |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id)
      |      AS rank
      |  FROM rer)
      |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s12
  /** Epsilon-ball range search (FAISS `range_search` / Milvus range
    * query): every corpus vector within cosine ≥ τ of each query —
    * the retrieval mode top-k cannot express (dedup sweeps, radius
    * joins, recall-oriented eval pools want *all* neighbors above a
    * floor, not the best k). Exact brute force IS the operator here
    * (the FAISS IndexFlat baseline): broadcast queries × one map-only
    * corpus scan, the τ filter applied to the RAW cosine (s01's
    * decide-on-raw / present-rounded discipline).
    *
    * Scale: unlike top-k, the match set is unbounded by construction
    * (an ill-chosen τ can match the corpus), so the per-query rank
    * must not be a q_id window — it rides [[Ladders.globalRank]] with
    * a RANGE bucket on the score itself: `⌊(1−cos)·1024⌋` is a
    * monotone coarsening of the `(cos DESC, vec_id)` order, so ladder
    * output equals the single-window rank while no task ever holds
    * more than one (bucket, query) score slice. 1024 cells, not p04's
    * 32/256: range buckets inherit the SCORE skew (most range-search
    * hits cluster just above τ — review r10), unlike p04's uniformly
    * distributed hash prefixes, so the coarsening must be fine enough
    * that one hot ~0.001-wide cosine band stays a bounded cell; the
    * offsets frame is still only |Q|×1024 rows, broadcast-joined.
    */
  def s12RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val matches = corpus.crossJoin(broadcast(queriesDf(spark, dir)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        V.cosine_sim(col("q_vec"), col("embedding")).as("cos"))
      .filter(col("cos") >= 0.2)
      .withColumn("__nc", col("cos") * -1)
      .withColumn("__b",
        floor((lit(1.0d) - col("cos")) * 1024).cast(LongType))
    Ladders.globalRank(matches, Seq("q_id"), "__b",
        Seq(col("__nc"), col("vec_id")), "rank", None)
      .select(col("q_id"), col("vec_id"), col("label"),
        round(col("cos"), 4).as("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Decide on raw cosine, present ROUND(,4) — s01's parity rule. */
  val s12Sql: String =
    s"""WITH q AS (${queriesSql()}),
      |m AS (
      |  SELECT q.q_id, e.vec_id, e.label,
      |         list_cosine_similarity(q.q_vec, e.embedding::DOUBLE[]) AS c
      |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      |f AS (SELECT * FROM m WHERE c >= 0.2)
      |SELECT q_id, vec_id, label, ROUND(c, 4) AS cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id)
      |    AS rank
      |FROM f ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s13
  /** Filtered vector search — the production vector-DB query mode every
    * managed index exposes (Qdrant/Milvus/Vespa "filtered ANN", FAISS
    * IDSelector): top-k restricted to a metadata predicate, here "same
    * label as the query" (retrieve within the query's category). The
    * operator is the PRE-filter form — the predicate prunes the corpus
    * BEFORE ranking, so the result is exact top-10 of the eligible pool
    * regardless of how selective the filter is. Each row also carries
    * `postfilter_hit`: would the naive POST-filter plan (rank globally,
    * filter the global top-50 afterwards — what bolting a WHERE onto
    * s01 does) have found this neighbor? The misses quantify the
    * post-filter recall hole (with a ~10 % selective filter, a global
    * top-50 holds ~5 same-label rows — the classic production incident).
    *
    * Scale: ONE corpus scan + cosine pass — the scored frame is
    * localCheckpoint-pinned (the dd11/m06 multi-consumer discipline)
    * because the two rank paths diverge BEFORE any exchange, so
    * ReuseExchange could not unify them and each would otherwise
    * re-scan and re-score the corpus; both paths then rank through
    * [[topKPerQuery]]'s bounded cells; the comparison join is
    * query-sized (Q×10 vs Q×50) and broadcast.
    *
    * Cross-engine (§5): both ranks on the RAW cosine with vec_id
    * tie-break (s01), rounding at presentation only.
    */
  def s13FilteredSearch(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val q = Tables(spark, dir, "embeddings").filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        V.cosine_sim(col("q_vec"), col("embedding")).as("cos"))
      .localCheckpoint(false) // one scan + score pass feeds BOTH ranks
    val pre = topKPerQuery(
      scored.filter(col("label") === col("q_label")), K, Seq("label"))
    val global50 = topKPerQuery(scored, 50, Seq.empty)
      .select(col("q_id"), col("vec_id"), lit(true).as("postfilter_hit"))
    pre.join(broadcast(global50), Seq("q_id", "vec_id"), "left_outer")
      .select(col("q_id"), col("vec_id"), col("label"),
        round(col("cos"), 4).as("cos"), col("rank"),
        coalesce(col("postfilter_hit"), lit(false)).as("postfilter_hit"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Oracle: one scored CTE feeds both the filtered and the global
    * window rank; postfilter_hit = global rank ≤ 50. */
  val s13Sql: String =
    s"""WITH q AS (${queriesSql(extra = ",\n    label AS q_label")}),
      |scored AS (
      |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
      |         list_cosine_similarity(q.q_vec, e.embedding::DOUBLE[]) AS c
      |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      |fr AS (
      |  SELECT q_id, vec_id, label, c,
      |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id)
      |      AS rank
      |  FROM scored WHERE label = q_label),
      |g AS (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id)
      |      AS grank
      |  FROM scored)
      |SELECT f.q_id, f.vec_id, f.label, ROUND(f.c, 4) AS cos, f.rank,
      |  g.grank <= 50 AS postfilter_hit
      |FROM fr f JOIN g ON f.q_id = g.q_id AND f.vec_id = g.vec_id
      |WHERE f.rank <= 10 ORDER BY f.q_id, f.rank""".stripMargin

  // ---------------------------------------------------------------- s14
  /** Binary (sign-bit) quantization search — the 32×-compression mode
    * every production vector stack ships (FAISS `IndexBinaryFlat`,
    * pgvector `bit(n)`, Qdrant/Weaviate "binary quantization"): each
    * 64-dim float vector compresses to ONE 64-bit word (bit i = sign of
    * dim i), candidate generation is Hamming distance over the words
    * (`bit_count(xor)` — a handful of cycles vs 64 FMAs), and the
    * shortlist reranks with the exact float cosine. Emits per query the
    * top-10 of the R=40 Hamming shortlist with both distances.
    *
    * Scale shape: the code computation is map-only (one fold per row —
    * at 100 TB the codes would persist as an artifact column like
    * s02/s07's index, 8 bytes/vector); the Hamming stage shuffles only
    * NARROW (q_id, vec_id, label, hamming) rows into [[topKPerQuery]]'s
    * bounded cells — the 256-byte embeddings do NOT ride the candidate
    * shuffle; the rerank re-fetches vectors for the ≤ R·|Q| shortlist
    * via a broadcast join against a pruned (vec_id, embedding) scan —
    * point-lookup-by-id, exactly how a deployed BQ index serves rerank.
    * The final rank windows per-query cells of ≤ R rows (bounded by
    * construction, the s08 altitude rule).
    *
    * Cross-engine (§5): the bit rule is a SIGN test (x > 0), with a NaN
    * dimension coding as 0 on BOTH sides — and both sides need an
    * EXPLICIT `NOT isnan` mask, because both engines' total orderings
    * put NaN above all reals (`NaN > 0` is true in Spark too; the fold
    * masking only on the DuckDB side was ADVICE r13's drift — the
    * testdata generator never emits NaN, so parity held, but the
    * invariant is now enforced in the kernel, not assumed). Exact under
    * float→double widening, so the
    * oracle needs no bit algebra:
    * Hamming = count of positions whose sign tests disagree (list_zip),
    * sidestepping DuckDB's BIGINT sign-bit shift hazard entirely. Both
    * ranks integer/exact; rerank ranks on the raw cosine, ordered as
    * `-c ASC` in BOTH engines so a NaN cosine (zero-norm vector) sorts
    * last/excluded on both sides — `c DESC` would rank NaN first in
    * DuckDB, the topKPerQuery NaN rule (review r12).
    */
  def s14BinaryQuantize(spark: SparkSession, dir: String): DataFrame = {
    val R = 40
    def code(vec: String) = expr(
      s"""aggregate(transform($vec, (x, i) ->
         |  IF(x > 0 AND NOT isnan(x), shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (a, b) -> a | b)""".stripMargin)
    val qcodes = queriesDf(spark, dir)
      .select(col("q_id"), code("q_vec").as("q_code"))
    val scored = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), code("embedding").as("code"))
      .crossJoin(broadcast(qcodes))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        expr("CAST(bit_count(code ^ q_code) AS BIGINT)").as("hamming"))
    // Hamming shortlist through the family's bounded-cell top-k (sort
    // key -hamming: integer-exact, vec_id tie-break matches the oracle)
    val short = topKPerQuery(
        scored.withColumn("cos", -col("hamming").cast(DoubleType)),
        R, Seq("label", "hamming"))
      .select(col("q_id"), col("vec_id"), col("label"), col("hamming"))
    val rerank = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(queriesDf(spark, dir)), Seq("q_id"))
      .withColumn("c", V.cosine_sim(col("q_vec"), col("embedding")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy((col("c") * -1).asc, col("vec_id"))
    rerank.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("label"), col("hamming"),
        round(col("c"), 4).as("cos"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Hamming as sign-disagreement count over the zipped pair — no
    * 64-bit shift (DuckDB's `1::BIGINT << 63` hazard); rerank = s01. */
  val s14Sql: String =
    s"""WITH q AS (${queriesSql()}),
      |ham AS (
      |  SELECT q.q_id, e.vec_id, e.label, e.embedding::DOUBLE[] AS v,
      |    q.q_vec,
      |    CAST(len(list_filter(list_zip(q.q_vec, e.embedding::DOUBLE[]),
      |      z -> (z[1] > 0 AND NOT isnan(z[1]))
      |        <> (z[2] > 0 AND NOT isnan(z[2])))) AS BIGINT) AS hamming
      |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      |short AS (
      |  SELECT *, row_number()
      |    OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS hr
      |  FROM ham),
      |rer AS (
      |  SELECT q_id, vec_id, label, hamming,
      |    list_cosine_similarity(q_vec, v) AS c
      |  FROM short WHERE hr <= 40)
      |SELECT q_id, vec_id, label, hamming, ROUND(c, 4) AS cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY -c, vec_id)
      |    AS rank
      |FROM rer QUALIFY rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- s15
  /** nprobe tuning sweep — the recall-vs-probe-budget curve every IVF
    * deployment measures before pinning nprobe (FAISS's standard
    * autotune axis; s09 grades ONE operating point, this grades the
    * knob): recall@10 per query per nprobe ∈ {1,2,4,8} against the
    * exhaustive tier (nprobe = 8 probes all 8 cells = exact search, so
    * its recall is 1.0 by construction — specced closure).
    *
    * Scale: ONE corpus scan, not one per operating point — each scored
    * (query, vector) row computes its 64-dim cosine ONCE, then
    * replicates to only the tiers whose probe budget covers its cell's
    * probe rank (≤ 4 copies of a NARROW scalar row; the wide embedding
    * never survives the explode). Per-(query, tier) top-k rides the
    * audited [[topKPerQuery]] bounded-cell shape on a composite
    * q_id·16+np key, so no window partition ever holds a corpus-sized
    * slice. The inverted file comes from [[ensureIvfCellsArtifact]] —
    * no encode kernel in this plan (dd13/s02 precedent).
    */
  /** s15's pre-checkpoint tier frame, exposed for the plan audit (the
    * p16TokenFrame precedent — localCheckpoint hides everything
    * upstream from the executed plan). */
  private[graft] def s15Tiers(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val centroids = ivfCentroids(corpus)
    val assigned = ensureIvfCellsArtifact(spark, dir)
      .select(col("vec_id"), col("cell"), col("embedding"))
    // probe rank of each (query, cell): bounded 8-cell frame per query,
    // the s02 sort/slice probe shape generalized to ALL ranks 1..8
    // (shared with s16's fraction-matched probes)
    val prank = probeRanks(queriesDf(spark, dir), centroids)
    val scored = assigned.join(broadcast(prank), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("pr"), col("vec_id"),
        V.cosine_sim(col("q_vec"), col("embedding")).as("cos"))
    // tier replication AFTER the cosine: nprobe=np sees exactly the
    // vectors whose cell probe-rank ≤ np
    scored
      .select(col("q_id"), col("vec_id"), col("cos"),
        explode(filter(array(lit(1L), lit(2L), lit(4L), lit(8L)),
          np => np >= col("pr"))).as("np"))
      .select((col("q_id") * 16 + col("np")).as("q_id"),
        col("vec_id"), col("cos"))
  }

  def s15NprobeRecall(spark: SparkSession, dir: String): DataFrame = {
    val top = topKPerQuery(s15Tiers(spark, dir), K, Seq.empty)
      .select(expr("q_id div 16").as("q_id"),
        expr("q_id % 16").as("nprobe"), col("vec_id"))
      .transform(Tables.ckptTiny) // Q×4×10 rows — query-sized (s09 discipline)
    val exact = top.filter(col("nprobe") === 8L)
      .select(col("q_id"), col("vec_id"))
    val ne = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
    top.groupBy(col("q_id"), col("nprobe"))
      .agg(count(lit(1)).as("n_returned"))
      .join(broadcast(ne), Seq("q_id"))
      .join(broadcast(hitCounts(top, exact, "q_id", "nprobe")),
        Seq("q_id", "nprobe"), "left_outer")
      .select(Seq(col("q_id"), col("nprobe"), col("n_returned")) ++
        recallCols(col("n_exact")): _*)
      .orderBy(col("q_id"), col("nprobe"))
  }

  /** Build + probe-rank + tiered search replicated declaratively (the
    * s02/s09 discipline: same centroid picks, same tie-breaks, so the
    * whole tuning curve is deterministic and oracle-checkable). */
  val s15Sql: String =
    s"""WITH q AS (${queriesSql()}),
      |$ivfCentSql,
      |assigned AS (${nearestCellsSql("embeddings", "vec_id",
        "embedding::DOUBLE[]", Seq("vec_id", "embedding"), "cent", 1)}),
      |prank AS (${nearestCellsSql("q", "q_id", "q_vec",
        Seq("q_id", "q_vec"), "cent", IvfCells)}),
      |scored AS (
      |  SELECT p.q_id, p.rn AS pr, a.vec_id,
      |         list_cosine_similarity(p.q_vec, a.embedding::DOUBLE[]) AS c
      |  FROM assigned a JOIN prank p ON p.cell = a.cell
      |  WHERE a.vec_id <> p.q_id),
      |tiers AS (
      |  SELECT s.q_id, t.np, s.vec_id, s.c
      |  FROM scored s
      |  JOIN (SELECT CAST(unnest([1,2,4,8]) AS BIGINT) AS np) t
      |    ON t.np >= s.pr),
      |ranked AS (
      |  SELECT q_id, np, vec_id,
      |         row_number() OVER (PARTITION BY q_id, np
      |           ORDER BY c DESC, vec_id) AS rank
      |  FROM tiers),
      |top AS (SELECT q_id, np, vec_id FROM ranked WHERE rank <= 10),
      |exact AS (SELECT q_id, vec_id FROM top WHERE np = 8),
      |ne AS (SELECT q_id, COUNT(*) AS n_exact FROM exact GROUP BY 1),
      |h AS (${hitsSql("top", "exact", Seq("q_id", "np"))}),
      |nr AS (SELECT q_id, np, COUNT(*) AS n_returned
      |  FROM top GROUP BY 1, 2)
      |SELECT nr.q_id, nr.np AS nprobe,
      |  CAST(nr.n_returned AS BIGINT) AS n_returned,
      |  ${recallColsSql("h.hits", "ne.n_exact")}
      |FROM nr
      |JOIN ne ON ne.q_id = nr.q_id
      |LEFT JOIN h ON h.q_id = nr.q_id AND h.np = nr.np
      |ORDER BY nr.q_id, nprobe""".stripMargin

  /** Probe ranks — every (query, cell) with its 1-based rank by
    * (cosine DESC, c_id): the s02 sort/slice probe shape generalized to
    * all ranks, defined ONCE (s15's tier replication keeps every rank;
    * s16 filters pr ≤ nprobe per tier). Window-free: the per-query
    * frame is bounded by the centroid count. */
  private def probeRanks(queries: DataFrame,
      centroids: DataFrame): DataFrame =
    queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_vec"), col("c_id").as("cell"),
        V.cosine_sim(col("q_vec"), col("c_vec")).as("q_cos"))
      .groupBy(col("q_id"))
      .agg(first(col("q_vec")).as("q_vec"),
        array_sort(collect_list(
          struct((col("q_cos") * -1).as("__n"), col("cell")))).as("__o"))
      .select(col("q_id"), col("q_vec"), posexplode(col("__o")))
      .select(col("q_id"), col("q_vec"), col("col.cell").as("cell"),
        (col("pos") + 1).cast(LongType).as("pr"))

  // ---------------------------------------------------------------- s16
  /** Index-staleness audit — the reindexing-cadence question every
    * production vector stack faces (FAISS retrain guidance, Milvus/
    * Qdrant segment compaction): after the corpus GROWS into a region
    * the quantizer never saw, how much recall does the STALE index
    * (old centroids, new vectors merely filed under them) give up
    * versus a FRESH rebuild, at the same probe FRACTION? Growth must
    * be genuinely out-of-distribution to exercise the phenomenon
    * (review r12: a reversed copy of an isotropic corpus is just as
    * isotropic — the gap it "showed" was a quantizer-size artifact):
    * every vec_id % 9 == 1 vector re-enters with |x| per dimension —
    * the positive orthant, a tight new direction family — and the
    * query set doubles the same way. Growth membership rides an
    * explicit is_new tag, NEVER an id-range test (the +8M display
    * offset sits below ScaleUp's 10M replica stride, so `vec_id >= 8M`
    * would misclassify replica bases at synthesized SFs). Stale = the
    * family quantizer [[ivfCentroids]] (8 cells, probe 2); fresh =
    * those 8 plus 4 seeded growth picks (ORDER BY vec_id % 7, vec_id —
    * ≥ 4 growth rows at every SF, so the 12-cell fresh quantizer never
    * silently shrinks), probe 3/12 — the same ¼ fraction (equal-nprobe
    * would conflate staleness with cell granularity, the s15 axis).
    *
    * Measured, not asserted: fresh wins the aggregate at every SF
    * (75 vs 47 hits at sf0.001, 69 vs 57 at sf0.01), with the gap
    * concentrated in the growth-region queries (45 vs 20, 44 vs 30) —
    * exactly the staleness mechanism. Individual base queries can
    * flip either way, which is why the audit reports per-query rows.
    *
    * Scale: the dd17 audit class — index builds run IN-query on
    * purpose (the stale-vs-fresh comparison IS the deliverable; the
    * production build path stays s02's artifact). The growth union is
    * spread BEFORE its checkpoint (a checkpointed RDD has no
    * inputFiles, so spread() after the fact is a no-op — review r12);
    * assignment is the map-only broadcast-centroid fold, ground truth
    * rides s01's audited local-topk, everything downstream is
    * query-sized.
    */
  private val S16Off = 8000000L // display ids only; membership = is_new

  /** The s16/s19 shared GROWTH MODEL (out-of-distribution by
    * construction, review r12): every vec_id % 9 == 1 vector re-enters
    * as |x| per dimension — the positive orthant, a tight new
    * direction family — displayed at vec_id + 8M with an explicit
    * is_new tag (membership NEVER rides an id-range test; the offset
    * sits below ScaleUp's 10M replica stride). The +8M aliasing guard
    * (ADVICE r12) fails loudly with the culprit id if a corpus ever
    * outgrows the band instead of silently conflating exact/approx
    * hits through the vec_id-keyed joins. Columns:
    * (vec_id, label, embedding, is_new); spread + checkpointed. */
  private[operators] def grownCorpus(spark: SparkSession,
      dir: String): DataFrame = {
    val guardedId = when(col("vec_id") % 10000000L < 2000000L,
        col("vec_id"))
      .otherwise(raise_error(format_string(
        "s16: base vec_id %d has in-band component >= 2M — the +8M " +
          "display offset would alias grown ids; regenerate with a " +
          "larger id stride", col("vec_id"))).cast(LongType))
    val base = Tables(spark, dir, "embeddings")
      .select(guardedId.as("vec_id"), col("label"), col("embedding"))
    Tables.spread(
        base.select(col("vec_id"), col("label"), col("embedding"),
            lit(0L).as("is_new"))
          .unionAll(base.filter(col("vec_id") % 9 === 1)
            .select((col("vec_id") + S16Off).as("vec_id"), col("label"),
              transform(col("embedding"), x => abs(x)).as("embedding"),
              lit(1L).as("is_new"))))
      .localCheckpoint(false)
  }

  /** The growth model's doubled query set: the 5 base queries plus
    * their positive-orthant twins at q_id + 8M. */
  private[operators] def grownQueries(spark: SparkSession,
      dir: String): DataFrame = {
    val qb = queriesDf(spark, dir)
    qb.unionAll(qb.select((col("q_id") + S16Off).as("q_id"),
      transform(col("q_vec"), x => abs(x)).as("q_vec")))
  }

  /** SQL twin of [[grownCorpus]]: (vec_id, label, v, is_new). */
  private val grownSql: String =
    s"""SELECT vec_id, label, embedding::DOUBLE[] AS v, 0 AS is_new
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $S16Off, label,
       |    list_transform(embedding::DOUBLE[], x -> abs(x)), 1
       |  FROM embeddings WHERE vec_id % 9 = 1""".stripMargin

  /** SQL twin of [[grownQueries]]: (q_id, q_vec). */
  private val grownQueriesSql: String =
    s"""${queriesSql()}
       |  UNION ALL
       |  SELECT q_id + $S16Off, list_transform(q_vec, x -> abs(x))
       |  FROM (${queriesSql()})""".stripMargin

  /** The growth model's exact top-10 over the grown corpus: ground truth
    * of s16 and s19. Query-sized, checkpointed. */
  private def grownExact(grown: DataFrame, qs: DataFrame): DataFrame =
    Tables.ckptTiny(topKPerQuery(
        grown.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            V.cosine_sim(col("q_vec"), col("embedding")).as("cos")),
        K, Nil)
      .select(col("q_id"), col("vec_id")))

  def s16IndexStaleness(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "embeddings")
    val grown = grownCorpus(spark, dir)
    val qs = grownQueries(spark, dir)
    val staleC = ivfCentroids(base)
    val freshC = staleC.unionAll(grown.filter(col("is_new") === 1L)
      .orderBy(col("vec_id") % 7, col("vec_id")).limit(4)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec")))
    // exact baseline + the two per-tier approx searches are independent
    // eager chains — overlap them (guide §2.6); each result is
    // query-sized, so the one-partition checkpoint applies
    def tierApprox(cents: DataFrame, np: Int): DataFrame = {
      val probes = probeRanks(qs, cents)
        .filter(col("pr") <= np).drop("pr")
      val assigned = assignCells(grown, cents, col("embedding"))
      Tables.ckptTiny(topKPerQuery(
          assigned.join(broadcast(probes), Seq("cell"))
            .filter(col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id"),
              V.cosine_sim(col("q_vec"), col("embedding")).as("cos")),
          K, Nil)
        .select(col("q_id"), col("vec_id")))
    }
    val chains = graft.Par.run[DataFrame](
      () => grownExact(grown, qs),
      () => tierApprox(freshC, 3),
      () => tierApprox(staleC, 2))
    val exact = chains(0)
    def tierRecall(name: String, approx: DataFrame): DataFrame =
      exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
        .join(broadcast(hitCounts(exact, approx, "q_id")), Seq("q_id"),
          "left_outer")
        .select(Seq(lit(name).as("tier"), col("q_id"), col("n_exact")) ++
          recallCols(col("n_exact")): _*)
    tierRecall("fresh", chains(1)).unionAll(tierRecall("stale", chains(2)))
      .orderBy(col("tier"), col("q_id"))
  }

  /** Oracle: the whole grown-corpus build + both quantizers + both
    * probe/search paths + the exact tier, declaratively (the s02/s09
    * replica discipline — same picks, same tie-breaks). */
  val s16Sql: String = {
    def assign(cent: String) = nearestCellsSql("grown", "vec_id", "v",
      Seq("vec_id", "v"), cent, 1)
    def probe(cent: String, np: Int) = nearestCellsSql("qs", "q_id",
      "q_vec", Seq("q_id", "q_vec"), cent, np)
    s"""WITH grown AS ($grownSql),
      |qs AS ($grownQueriesSql),
      |stale_c AS (${centroidsSql("embeddings", "embedding::DOUBLE[]")}),
      |fresh_new AS (SELECT vec_id AS c_id, v AS c_vec FROM grown
      |  WHERE is_new = 1 ORDER BY vec_id % 7, vec_id LIMIT 4),
      |fresh_c AS (SELECT * FROM stale_c
      |  UNION ALL SELECT * FROM fresh_new),
      |a_stale AS (${assign("stale_c")}),
      |a_fresh AS (${assign("fresh_c")}),
      |p_stale AS (${probe("stale_c", 2)}),
      |p_fresh AS (${probe("fresh_c", 3)}),
      |top_stale AS (SELECT q_id, vec_id FROM (
      |  SELECT p.q_id, a.vec_id,
      |    row_number() OVER (PARTITION BY p.q_id
      |      ORDER BY list_cosine_similarity(p.q_vec, a.v) DESC,
      |        a.vec_id) AS rn
      |  FROM p_stale p JOIN a_stale a
      |    ON a.cell = p.cell AND a.vec_id <> p.q_id) WHERE rn <= 10),
      |top_fresh AS (SELECT q_id, vec_id FROM (
      |  SELECT p.q_id, a.vec_id,
      |    row_number() OVER (PARTITION BY p.q_id
      |      ORDER BY list_cosine_similarity(p.q_vec, a.v) DESC,
      |        a.vec_id) AS rn
      |  FROM p_fresh p JOIN a_fresh a
      |    ON a.cell = p.cell AND a.vec_id <> p.q_id) WHERE rn <= 10),
      |exact AS (${exactTopSql("qs", "grown", "v")}),
      |ne AS (SELECT q_id, COUNT(*) AS n_exact FROM exact GROUP BY 1),
      |hs AS (${hitsSql("top_stale", "exact")}),
      |hf AS (${hitsSql("top_fresh", "exact")}),
      |r AS (
      |  SELECT 'fresh' AS tier, ne.q_id, ne.n_exact, hf.hits
      |  FROM ne LEFT JOIN hf ON hf.q_id = ne.q_id
      |  UNION ALL
      |  SELECT 'stale', ne.q_id, ne.n_exact, hs.hits
      |  FROM ne LEFT JOIN hs ON hs.q_id = ne.q_id)
      |SELECT tier, q_id, CAST(n_exact AS BIGINT) AS n_exact,
      |  ${recallColsSql("hits", "n_exact")}
      |FROM r ORDER BY tier, q_id""".stripMargin
  }

  // ---------------------------------------------------------------- s17
  /** Quantization trade-off audit (round 13) — the "which index do I
    * ship?" table every embedding deployment derives before committing
    * memory: recall@10 of the three standard compression tiers against
    * the fp32 exact search, at their real bytes/vector — int8 absmax
    * (s03's kernel, 64 B: integer dot × stored scales), 8×8 product
    * quantization (s04's codebooks, 8 B: ADC against a per-query
    * 8×4 LUT), and sign-bit binary (s14's code, 8 B: Hamming). The
    * FAISS/SBERT compression-evaluation recipe as one relation.
    *
    * §5 rank keys: int8 = exact-integer dot × one IEEE multiply by the
    * corpus scale (bit-identical cross-engine); PQ = 4dp-rounded ADC
    * distance (s07's discipline); binary = exact integer Hamming; all
    * tie-break on vec_id.
    *
    * Scale: ONE corpus scan — every quantized form (int8 vector +
    * scale, 8 PQ codes, 64-bit sign word) computes map-only in the
    * same projection off broadcast model literals; each scored
    * (query, vector) pair replicates to the four tiers as a NARROW
    * (composite q_id, vec_id, key) row (the s15 shape — the embedding
    * never survives the explode), and ONE [[topKPerQuery]] on the
    * composite key ranks all tiers with no corpus-sized window
    * anywhere. The per-query LUT is 8×4 doubles riding the broadcast
    * query frame.
    */
  def s17QuantTradeoff(spark: SparkSession, dir: String): DataFrame = {
    val m = 8; val sub = 8; val kc = 4
    val centroids: Array[Array[Double]] = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") % 97 === 11).orderBy(col("vec_id")).limit(kc)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // single-select staging (round 16): the old per-column withColumn
    // chains (12 per corpus frame + 32 more for the query LUT)
    // re-analyzed a growing plan once per column — measured ~2.1 s of
    // pure DRIVER planning time on a 0.9 s-CPU key (Dbg15: construct
    // 2.14 s with only 7 jobs; guide §7.3's large-plan hazard). The
    // same expressions now land in three Projects (one per dependency
    // level: __v → __amax → the rest), algebra unchanged.
    def dist(c: Int, s: Int): Column =
      (0 until sub).map { i =>
        val d = try_element_at(col("__v"), lit(s * sub + i + 1)) -
          lit(centroids(c)(s * sub + i))
        d * d
      }.reduce(_ + _)
    def stagedQuant(df: DataFrame, vecCol: String): DataFrame = {
      val v = s"transform($vecCol, x -> CAST(x AS DOUBLE))"
      def best(s: Int): Column = array_min(array(
        (0 until kc).map(c => struct(dist(c, s).as("d"), lit(c).as("c"))): _*))
      df.select(col("*"), expr(v).as("__v"))
        .select(col("*"), expr(
          "aggregate(__v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))")
          .as("__amax"))
        .select(col("*") +: (Seq(
          expr(
            """IF(__amax = 0, transform(__v, x -> CAST(0 AS BIGINT)),
              |  transform(__v, x -> CAST(round(x * 127.0 / __amax)
              |    AS BIGINT)))""".stripMargin).as("__i8"),
          expr(
            """aggregate(transform(__v, (x, i) ->
              |  IF(x > 0 AND NOT isnan(x), shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
              |  CAST(0 AS BIGINT), (a, b) -> a | b)""".stripMargin).as("__bc"))
          ++ (0 until m).map(s => best(s).as(s"__pq$s"))): _*)
    }
    // queries carry their int8 form, sign word, and the 8×4 ADC LUT
    // (d(q_s, cent_c) per subspace/centroid — 32 doubles per query)
    val qs0 = stagedQuant(queriesDf(spark, dir), "q_vec")
    val qlut = qs0.select(Seq(col("q_id"), col("q_vec"),
      col("__i8").as("__qi8"), col("__bc").as("__qbc")) ++
      (0 until m).flatMap(s => (0 until kc).map(c =>
        dist(c, s).as(s"__l${s}_$c"))): _*)
    val corpus = stagedQuant(
      Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding")),
      "embedding")
    val paired = corpus.crossJoin(broadcast(qlut))
      .filter(col("vec_id") =!= col("q_id"))
    // per-subspace ADC terms rounded to 6dp DECIMAL before the sum —
    // order-independent and exact, so the oracle may aggregate the
    // (subspace, code) joins in any order (§5)
    def pqDist: Column = (0 until m).map { s =>
      val term = (1 until kc).foldLeft(
        when(col(s"__pq$s").getField("c") === 0, col(s"__l${s}_0"))) {
        (w, c) =>
          w.when(col(s"__pq$s").getField("c") === c, col(s"__l${s}_$c"))
      }
      round(term, 6).cast("decimal(18,6)")
    }.reduce(_ + _)
    val keys = paired.select(col("q_id"), col("vec_id"),
      V.cosine_sim(col("q_vec"), col("embedding")).as("__kx"),
      (expr(
        """aggregate(zip_with(__i8, __qi8, (a, b) -> a * b),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
        .cast(DoubleType) * col("__amax")).as("__ki"),
      (pqDist.cast(DoubleType) * -1).as("__kp"),
      (expr("CAST(bit_count(__bc ^ __qbc) AS BIGINT)")
        .cast(DoubleType) * -1).as("__kb"))
    val tiers = keys.select(col("q_id"), col("vec_id"), explode(array(
        struct(lit(1L).as("t"), col("__kx").as("key")),
        struct(lit(2L).as("t"), col("__ki").as("key")),
        struct(lit(3L).as("t"), col("__kp").as("key")),
        struct(lit(4L).as("t"), col("__kb").as("key")))).as("tk"))
      .select((col("q_id") * 8 + col("tk.t")).as("q_id"),
        col("vec_id"), col("tk.key").as("cos"))
    val top = topKPerQuery(tiers, K, Seq.empty)
      .select(expr("q_id div 8").as("q_id"), expr("q_id % 8").as("t"),
        col("vec_id"))
      .transform(Tables.ckptTiny) // Q×4×10 rows — query-sized (s09/s15 discipline)
    val exact = top.filter(col("t") === 1L).drop("t")
    val names = map(lit(2L), lit("int8"), lit(3L), lit("pq"),
      lit(4L), lit("binary"))
    val bytes = map(lit(2L), lit(64L), lit(3L), lit(8L), lit(4L), lit(8L))
    top.filter(col("t") =!= 1L)
      .join(exact.withColumn("__hit", lit(1L)), Seq("q_id", "vec_id"),
        "left_outer")
      .groupBy(col("t"), col("q_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .select(element_at(names, col("t")).as("tier"), col("q_id"),
        element_at(bytes, col("t")).as("bytes_per_vec"),
        col("hits"), round(col("hits").cast(DoubleType) / K, 4).as("recall"))
      .orderBy(col("tier"), col("q_id"))
  }

  /** Oracle: same model literals derived in SQL (s04's seeded centroid
    * pick), same int8/sign/code kernels in list algebra, the ADC sum
    * as the order-free 6dp-decimal aggregate, per-tier ranks as plain
    * windows. */
  val s17Sql: String =
    s"""WITH cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id,
      |    embedding::DOUBLE[] AS c_vec
      |  FROM (SELECT * FROM embeddings WHERE vec_id % 97 = 11
      |        ORDER BY vec_id LIMIT 4)),
      |qq AS (
      |  SELECT q_id, q_vec AS qv,
      |    list_max(list_transform(q_vec, x -> abs(x))) AS qamax
      |  FROM (${queriesSql()})),
      |qi AS (
      |  SELECT q_id, qv,
      |    CASE WHEN qamax = 0
      |      THEN list_transform(qv, x -> CAST(0 AS BIGINT))
      |      ELSE list_transform(qv,
      |        x -> CAST(round(x * 127.0 / qamax) AS BIGINT)) END AS qi8
      |  FROM qq),
      |cc AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
      |      AS amax
      |  FROM embeddings),
      |ci AS (
      |  SELECT vec_id, v, amax,
      |    CASE WHEN amax = 0
      |      THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |      ELSE list_transform(v,
      |        x -> CAST(round(x * 127.0 / amax) AS BIGINT)) END AS c8
      |  FROM cc),
      |subs AS (SELECT unnest(range(0, 8)) AS s),
      |cdist AS (
      |  SELECT e.vec_id, s.s, c.c_id,
      |    list_sum(list_transform(range(1, 9),
      |      i -> pow(e.v[s.s * 8 + i] - c.c_vec[s.s * 8 + i], 2))) AS d
      |  FROM cc e CROSS JOIN subs s CROSS JOIN cent c),
      |codes AS (
      |  SELECT vec_id, s, MIN(ROW(d, c_id)) AS b
      |  FROM cdist GROUP BY 1, 2),
      |qlut AS (
      |  SELECT q.q_id, s.s, c.c_id,
      |    list_sum(list_transform(range(1, 9),
      |      i -> pow(q.qv[s.s * 8 + i] - c.c_vec[s.s * 8 + i], 2))) AS d
      |  FROM qq q CROSS JOIN subs s CROSS JOIN cent c),
      |rx AS (
      |  SELECT q.q_id, e.vec_id, row_number() OVER (PARTITION BY q.q_id
      |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id)
      |      AS rk
      |  FROM cc e, qq q WHERE e.vec_id <> q.q_id),
      |ri AS (
      |  SELECT q.q_id, e.vec_id, row_number() OVER (PARTITION BY q.q_id
      |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
      |          i -> e.c8[i] * q.qi8[i])) AS DOUBLE) * e.amax DESC,
      |        e.vec_id) AS rk
      |  FROM ci e, qi q WHERE e.vec_id <> q.q_id),
      |pqd AS (
      |  SELECT l.q_id, k.vec_id,
      |    SUM(CAST(ROUND(l.d, 6) AS DECIMAL(18,6))) AS dist
      |  FROM codes k JOIN qlut l ON l.s = k.s AND l.c_id = k.b[2]
      |  WHERE k.vec_id <> l.q_id
      |  GROUP BY 1, 2),
      |rp AS (
      |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
      |      ORDER BY CAST(dist AS DOUBLE), vec_id) AS rk
      |  FROM pqd),
      |rb AS (
      |  SELECT q.q_id, e.vec_id, row_number() OVER (PARTITION BY q.q_id
      |      ORDER BY len(list_filter(list_zip(q.qv, e.v),
      |        z -> (z[1] > 0 AND NOT isnan(z[1]))
      |          <> (z[2] > 0 AND NOT isnan(z[2])))), e.vec_id) AS rk
      |  FROM cc e, qq q WHERE e.vec_id <> q.q_id),
      |ex AS (SELECT q_id, vec_id FROM rx WHERE rk <= 10),
      |tiers AS (
      |  SELECT 'int8' AS tier, CAST(64 AS BIGINT) AS bytes_per_vec,
      |    q_id, vec_id FROM ri WHERE rk <= 10
      |  UNION ALL
      |  SELECT 'pq', 8, q_id, vec_id FROM rp WHERE rk <= 10
      |  UNION ALL
      |  SELECT 'binary', 8, q_id, vec_id FROM rb WHERE rk <= 10),
      |hits AS (
      |  SELECT t.tier, t.bytes_per_vec, t.q_id,
      |    CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS hits
      |  FROM tiers t LEFT JOIN ex e
      |    ON e.q_id = t.q_id AND e.vec_id = t.vec_id
      |  GROUP BY 1, 2, 3)
      |SELECT tier, q_id, bytes_per_vec, hits,
      |  round(CAST(hits AS DOUBLE) / 10, 4) AS recall
      |FROM hits ORDER BY tier, q_id""".stripMargin

  // ---------------------------------------------------------------- s18
  /** Shared s18 parameters: within-cell out-degree, beam width, hop
    * count — mirrored literally into [[s18Sql]]. */
  private val S18R = 16
  private val S18B = 24
  private val S18T = 6

  /** s18's coarse cells: like s02's quantizer but with a CORPUS-SIZED
    * centroid count (max(8, ⌈N/256⌉) — cells stay ~256 vectors at any
    * SF, so the within-cell kNN build is N·256 cosines, never N²).
    * The count is ONE scalar off the corpus (dd18's model-parameter
    * class). */
  private def graphCentroids(corpus: DataFrame): (DataFrame, Long) = {
    val n = corpus.count()
    val ncent = math.max(8L, (n + 255L) / 256L)
    (corpus.filter(col("vec_id") % 61 === 3)
      .orderBy(col("vec_id")).limit(ncent.toInt)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
      ncent)
  }

  /** s18's NEIGHBOR GRAPH, persisted once per embeddings generation
    * (the s02/s07 artifact discipline): per vector its top-[[S18R]]
    * same-cell neighbors by (cos DESC, vec_id), PLUS a hub layer — every
    * cell's entry node (min vec_id) linked to every other entry — so the
    * beam can leave its probed cells (an HNSW level-1 in miniature; at
    * 100 TB the hub layer itself would recurse into levels, noted, and
    * the within-cell kNN would run NN-descent rounds instead of the
    * exact cell-bounded self-join). Neighbor vectors ride the edge rows
    * DiskANN-style (nbr_emb inline), so each search hop is ONE artifact
    * scan — no second corpus join.
    *
    * The s18 graph-build body, shared with s19's fresh rebuild: given a
    * corpus (vec_id, embedding) and its coarse centroids, emit the
    * artifact frame — in-cell top-[[S18R]] edges + the all-pairs hub
    * layer over cell entry nodes, neighbor vectors inline
    * (DiskANN-style), plus one `entry` row per cell. */
  private def buildGraphEdges(corpus: DataFrame,
      cents: DataFrame): DataFrame = {
    val assigned = assignCells(Tables.spread(corpus), cents,
        col("embedding"))
      .select(col("vec_id"), col("cell"), col("embedding"))
      .localCheckpoint(false)
    // within-cell kNN: the self-join keys on cell (≤ ~256 rows per
    // side by construction), and the per-src top-R is the family's
    // window-free sort/slice agg — no window ever sees a data-sized
    // partition
    val pairs = assigned.as("a")
      .join(assigned.select(col("vec_id").as("nbr"), col("cell"),
        col("embedding").as("nbr_vec")).as("b"), Seq("cell"))
      .filter(col("vec_id") =!= col("nbr"))
      .select(col("vec_id").as("src"), col("nbr"), col("nbr_vec"),
        V.cosine_sim(col("embedding"), col("nbr_vec")).as("cos"))
    val inCell = pairs
      .groupBy(col("src"))
      .agg(slice(array_sort(collect_list(struct(
        (col("cos") * -1).as("__n"), col("nbr"), col("nbr_vec")))),
        1, S18R).as("__top"))
      .select(col("src"), explode(col("__top")).as("f"))
      .select(col("src"), col("f.nbr").as("nbr"),
        col("f.nbr_vec").as("nbr_vec"))
    val entries = assigned.groupBy(col("cell"))
      .agg(min(col("vec_id")).as("entry"))
      .join(assigned.select(col("vec_id").as("entry"),
        col("embedding").as("entry_vec")), Seq("entry"))
      .select(col("cell"), col("entry"), col("entry_vec"))
      .localCheckpoint(false)
    val hub = entries.select(col("entry").as("src"))
      .crossJoin(entries.select(col("entry").as("nbr"),
        col("entry_vec").as("nbr_vec")))
      .filter(col("src") =!= col("nbr"))
    inCell.unionByName(hub)
      .withColumn("kind", lit("edge"))
      .select(col("src"), col("nbr"), col("nbr_vec").as("nbr_emb"),
        col("kind"), lit(-1L).as("cell"))
      .unionByName(entries.select(col("entry").as("src"),
        lit(-1L).as("nbr"), col("entry_vec").as("nbr_emb"),
        lit("entry").as("kind"), col("cell")))
  }

  /** SQL twin of [[graphCentroids]] + [[buildGraphEdges]] over `rel`
    * (vec_id, v): the corpus-sized quantizer, the assignment, the in-cell
    * top-[[S18R]] edges plus the hub layer, and one entry per cell, as
    * CTEs `cnt`, `cent`, `assigned`, `edges_in`, `entries` and `edges`,
    * each name suffixed with `sfx`. */
  private def graphBuildSql(sfx: String, rel: String): String =
    s"""cnt$sfx AS (
       |  SELECT GREATEST(8, CAST(ceil(COUNT(*) / 256.0) AS BIGINT)) AS nc
       |  FROM $rel),
       |cent$sfx AS MATERIALIZED (
       |  ${centroidsSql(rel, "v", s"(SELECT nc FROM cnt$sfx)")}),
       |assigned$sfx AS MATERIALIZED (${nearestCellsSql(rel, "vec_id", "v",
         Seq("vec_id", "v"), s"cent$sfx", 1)}),
       |edges_in$sfx AS (
       |  SELECT src, nbr FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS nbr,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id)
       |        AS rn
       |    FROM assigned$sfx a JOIN assigned$sfx b
       |      ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |  WHERE rn <= $S18R),
       |entries$sfx AS MATERIALIZED (
       |  SELECT cell, MIN(vec_id) AS entry FROM assigned$sfx
       |  GROUP BY cell),
       |edges$sfx AS MATERIALIZED (
       |  SELECT src, nbr FROM edges_in$sfx
       |  UNION ALL
       |  SELECT a.entry, b.entry FROM entries$sfx a JOIN entries$sfx b
       |    ON a.entry <> b.entry)""".stripMargin

  def ensureGraphAnnArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "s18_graph_v2", "embeddings") {
      val corpus = Tables(spark, dir, "embeddings")
      val (cents, _) = graphCentroids(corpus)
      buildGraphEdges(corpus, cents)
    }

  /** Graph-based ANN (the HNSW/DiskANN family — Atlas `$vectorSearch`'s
    * real engine, the one modern index class the s-battery lacked:
    * VERDICT r13 #3): beam search over the persisted bounded-degree
    * neighbor graph. Per query: probe the 2 nearest cells (s02's rule),
    * seed the beam with their entry nodes, then [[S18T]] fixed hops —
    * each hop expands the current top-[[S18B]] beam through the edge
    * list, scores ONLY never-visited candidates, and re-beams. Emits
    * per query the visited count and recall@10 vs the s01 exact set
    * (the s09 evaluation shape).
    *
    * Scale shape: every hop is one artifact scan joined against a
    * broadcast frontier of ≤ |Q|·B ids (the d13/$graphLookup bounded-
    * frontier discipline — at deployment scale the artifact scan
    * becomes point lookups in a vector store, and hop count stays the
    * latency bound); the visited set is ≤ |Q|·(2 + T·B·maxdeg) NARROW
    * rows, beam-bounded by construction — no stage ever holds a
    * corpus-sized candidate set per query, and no window sees more
    * than one query's visited rows. Deterministic end to end (seeded
    * centroids, vec_id tie-breaks), so the full build+probe replicates
    * declaratively in the oracle.
    */
  /** The s18 beam probe, shared with s19's three tiers: over the graph
    * artifact `graph`, seed each query's beam with the entry nodes
    * of its 2 nearest cells (by `cents`), then [[S18T]] fixed hops —
    * each hop expands the current top-[[S18B]] beam through the edge
    * list, scores ONLY never-visited candidates, and re-beams. Returns
    * the final visited frame (q_id, vec_id, cos). */
  private def beamVisited(graph: DataFrame, cents: DataFrame,
      qs: DataFrame): DataFrame = {
    // no checkpoint on the artifact read: each hop re-scans the parquet
    // graph. A lazy localCheckpoint here did not win at both scales (4
    // cores, two alternated min-of-5 pairs, with → without): sf0.1 s18
    // 2.44/2.21 → 2.44/2.39 s, s20 3.94/4.03 → 4.04/4.23 s (both pairs
    // favour it); synthesized sf1 s18 4.02/3.60 → 3.41/3.77 s, s20
    // 6.64/6.48 → 6.01/6.27 s (both pairs favour its removal)
    val art = graph
      .select(col("src"), col("nbr"), col("kind"), col("cell"),
        col("nbr_emb"))
    val edges = art.filter(col("kind") === "edge")
      .select(col("src"), col("nbr"), col("nbr_emb"))
    val entries = art.filter(col("kind") === "entry")
      .select(col("cell"), col("src").as("entry"),
        col("nbr_emb").as("emb"))
    val probes = probeCells(qs, cents, 2) // top-2 cells per query, as s02
    // the query NODE stays in the beam (it is a corpus member here, and
    // its own cell's entry is often itself — filtering it out of the
    // walk would make exactly the best cell unreachable); self is
    // excluded only from the FINAL top-k, like every ANN evaluation
    // every frame in the hop loop is query-sized by construction
    // (visited ≤ |Q|·(2 + T·B·maxdeg) narrow rows), so the one-partition
    // checkpoint (Tables.ckptTiny) is the size-proportional layout at
    // any SF and every hop's consumer exchange is 1×R blocks, not
    // slots×R (guide §2.2)
    // rank-carrying checkpoint (round 16): every hop's checkpointed
    // frame already carries the per-query beam rank (__rk, a q_id
    // window ordered by the array-sort key (cos·−1, vec_id) — NaN and
    // tie behavior identical to the old slice(array_sort(collect…))
    // agg), and candidate dedup is a lag() filter on the SAME window
    // pass. That moves the next hop's beam aggregation and the
    // mid-hop (q_id, vec_id) dedup exchange into the hop's one window
    // exchange: a hop's serial depth drops from
    // [beam-agg → bcast → cand+dedup-agg → final] to
    // [bcast (straight off the checkpoint) → cand → window+ckpt].
    // A 2-hop unroll (checkpoint every second hop) was also A/B'd and
    // REVERTED — AQE's stage cache did NOT dedupe the repeated odd-hop
    // subtree and construct wall tripled (Dbg15: s18 3.15→10.5 s).
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("__n").asc, col("vec_id").asc)
    // Dedup rides the rank window: a candidate reachable from several
    // beam nodes carries IDENTICAL rows (same q_vec, same inline
    // nbr_emb ⇒ same cos), so equal sort keys put the copies adjacent
    // and lag() drops all but one — folding the old mid-hop
    // (q_id, vec_id) dedup aggregate into the window pass. The
    // never-visited anti-join is kept SEPARATE, deliberately: folding
    // it in too (letting re-proposals flow to the window as more
    // identical copies) was A/B'd and REVERTED — at the synthesized
    // sf1 an entry node surviving in the beam re-proposes its
    // Θ(ncells) hub neighbors EVERY hop, and those rows through the
    // union+window cost s19 +33 % at the decade (7.1→9.4 s) for a
    // broadcast job saved.
    def rebeam(df: DataFrame): DataFrame = Tables.ckptTiny(
      df.withColumn("__n", col("cos") * -1)
        .withColumn("__dup", lag(col("vec_id"), 1).over(wq) === col("vec_id"))
        .filter(col("__dup").isNull || !col("__dup"))
        .withColumn("__rk", row_number().over(wq))
        .drop("__n", "__dup"))
    // q_vec rides the visited frame (Q×64 floats per row, bounded), so
    // each hop broadcasts TWO frames — the beam (vectors inline) and
    // the visited keys for the anti-join — where the old loop paid
    // three broadcast jobs per hop (beam + visited keys + a pinned
    // qvecs frame); hop latency here is broadcast-job count, not bytes
    // (round 16, measured via Dbg15 job attribution)
    var visited = rebeam(
      probes.join(broadcast(entries), Seq("cell"))
        .select(col("q_id"), col("q_vec"), col("entry").as("vec_id"),
          V.cosine_sim(col("q_vec"), col("emb")).as("cos")))
    for (_ <- 1 to S18T) {
      val beam = visited.filter(col("__rk") <= S18B)
        .select(col("q_id"), col("q_vec"), col("vec_id").as("src"))
      val cand = edges.join(broadcast(beam), Seq("src"))
        .select(col("q_id"), col("q_vec"), col("nbr").as("vec_id"),
          col("nbr_emb"))
        // broadcast the visited side: beam-bounded by construction, so
        // the anti join stays a map-side hash probe instead of
        // shuffling+sorting both sides (guide §3.1)
        .join(broadcast(visited.select(col("q_id"), col("vec_id"))),
          Seq("q_id", "vec_id"), "left_anti")
        .select(col("q_id"), col("q_vec"), col("vec_id"),
          V.cosine_sim(col("q_vec"), col("nbr_emb")).as("cos"))
      visited = rebeam(visited.drop("__rk").unionByName(cand))
    }
    visited.drop("__rk").drop("q_vec")
  }

  /** SQL twin of [[beamVisited]] over a [[graphBuildSql]] build: the
    * queries `q` (q_id, q_vec) seed the beam with the entry nodes of
    * their 2 nearest cells of `cent`, then [[S18T]] hops each expand the
    * top-[[S18B]] beam through `edges` and score only never-visited
    * candidates against `emb` (vec_id, v). CTEs `probes`, `v0`, then per
    * hop i `f<i>`, `c<i>`, `n<i>` and the visited set `v<i>`, each name
    * suffixed with `sfx`. */
  private def graphWalkSql(sfx: String, cent: String, entries: String,
      edges: String, q: String, emb: String): String =
    graphSeedSql(sfx, cent, entries, q, emb) + ",\n" +
      graphHopsSql(sfx, edges, q, emb)

  private def graphSeedSql(sfx: String, cent: String, entries: String,
      q: String, emb: String): String =
    s"""probes$sfx AS (${nearestCellsSql(q, "q_id", "q_vec",
         Seq("q_id"), cent, 2)}),
       |v0$sfx AS MATERIALIZED (
       |  SELECT p.q_id, en.entry AS vec_id,
       |    list_cosine_similarity(q.q_vec, m.v) AS cos
       |  FROM probes$sfx p
       |  JOIN $entries en ON en.cell = p.cell
       |  JOIN $q q ON q.q_id = p.q_id
       |  JOIN $emb m ON m.vec_id = en.entry)""".stripMargin

  private def graphHopsSql(sfx: String, edges: String, q: String,
      emb: String): String = {
    def hopSql(i: Int): String = {
      val prev = s"v${i - 1}$sfx"
      s"""f$i$sfx AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rn FROM $prev)
         |  WHERE rn <= $S18B),
         |c$i$sfx AS (
         |  SELECT DISTINCT f.q_id, e.nbr AS vec_id
         |  FROM f$i$sfx f JOIN $edges e ON e.src = f.vec_id),
         |n$i$sfx AS (
         |  SELECT c.q_id, c.vec_id,
         |    list_cosine_similarity(q.q_vec, m.v) AS cos
         |  FROM c$i$sfx c
         |  JOIN $q q ON q.q_id = c.q_id
         |  JOIN $emb m ON m.vec_id = c.vec_id
         |  LEFT JOIN $prev p ON p.q_id = c.q_id AND p.vec_id = c.vec_id
         |  WHERE p.vec_id IS NULL),
         |v$i$sfx AS MATERIALIZED (
         |  SELECT * FROM $prev UNION ALL SELECT * FROM n$i$sfx)""".stripMargin
    }
    (1 to S18T).map(hopSql).mkString(",\n")
  }

  /** The walk's ranked top-K (q_id, vec_id, rank) over its visited set,
    * self excluded: the answer list s18, s19 and s20 grade. */
  private def walkTop(visited: DataFrame): DataFrame =
    topKPerQuery(visited.filter(col("vec_id") =!= col("q_id"))
        .withColumn("__x", lit(0)), K, Seq("__x"))
      .select(col("q_id"), col("vec_id"), col("rank"))

  /** SQL twin of [[walkTop]] over the walk suffixed `sfx`. */
  private def walkTopSql(sfx: String): String =
    s"""SELECT q_id, vec_id, rn AS rank FROM (
       |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rn FROM v$S18T$sfx
       |  WHERE vec_id <> q_id) WHERE rn <= $K""".stripMargin

  /** s18's and s19's per-query walk report, `lead` columns first: the
    * visited count, the hits of [[walkTop]] in `exact`, and recall@K. */
  private def walkRecall(visited: DataFrame, exact: DataFrame,
      lead: Column*): DataFrame =
    visited.groupBy(col("q_id")).agg(count(lit(1)).as("n_visited"))
      .join(broadcast(hitCounts(exact,
        walkTop(visited).select(col("q_id"), col("vec_id")), "q_id")),
        Seq("q_id"), "left_outer")
      .select(lead ++ Seq(col("q_id"), col("n_visited")) ++
        recallCols(lit(K)): _*)

  /** SQL twin of [[walkRecall]]: CTEs `top<sfx>` and `h<sfx>` against the
    * CTE `exact`, then (as [[walkRecallSelectSql]]) the report. */
  private def walkRecallSql(sfx: String, exact: String): String =
    s"""top$sfx AS (${walkTopSql(sfx)}),
       |h$sfx AS (${hitsSql(s"top$sfx", exact)})""".stripMargin

  private def walkRecallSelectSql(sfx: String, lead: String): String =
    s"""SELECT $lead v.q_id, CAST(COUNT(*) AS BIGINT) AS n_visited,
       |    ${recallColsSql("ANY_VALUE(h.hits)", K.toString)}
       |  FROM v$S18T$sfx v LEFT JOIN h$sfx h ON h.q_id = v.q_id
       |  GROUP BY v.q_id""".stripMargin

  def s18GraphAnn(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val (cents, _) = graphCentroids(corpus)
    // the beam chain and the s01 exact baseline are independent eager
    // chains — overlap them (guide §2.6)
    val (visited, exact) = graft.Par.run2(
      () => beamVisited(
        ensureGraphAnnArtifact(spark, dir), cents, queriesDf(spark, dir)),
      () => s01Exact(spark, dir))
    walkRecall(visited, exact).orderBy(col("q_id"))
  }

  /** The full graph build + beam probe replicated declaratively —
    * centroid count from the corpus count, within-cell kNN, hub layer,
    * 2-cell entry seeding, and T unrolled hops each scoring only the
    * round's never-visited candidates: the unsuffixed [[graphBuildSql]]
    * and [[graphWalkSql]]. Multi-referenced CTEs are MATERIALIZED (the
    * t23/dd02 rule). The WITH-chain through v{T} is shared with s20's
    * graph tier. The query CTE is `qs`, not `q`: DuckDB 1.0 fails with
    * "Recursive CTE scan found without recursive CTE node" when the
    * nested `q` of [[s01ExactSql]] shadows a MATERIALIZED `q`. */
  private def s18ChainSql: String =
    s"""emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${graphBuildSql("", "emb")},
       |qs AS MATERIALIZED (${queriesSql()}),
       |${graphWalkSql("", "cent", "entries", "edges", "qs", "emb")}"""
      .stripMargin

  val s18Sql: String =
    s"""WITH $s18ChainSql,
       |exact AS ($s01ExactSql),
       |${walkRecallSql("", "exact")}
       |${walkRecallSelectSql("", "")}
       |ORDER BY v.q_id""".stripMargin

  // ---------------------------------------------------------------- s19
  /** s19 insert parameters: out-degree of an inserted node and the
    * reverse-edge cap per existing node — mirrored into [[s19Sql]]. */
  private val S19Back = 4

  /** INCREMENTAL graph maintenance (VERDICT r14 #3) — the MAINTAINED
    * artifact: the s18 graph with the growth batch INSERTED, never
    * rebuilt (DiskANN/HNSW insert in batch form). Per new vector:
    * probe its 2 nearest OLD cells (the stale quantizer — maintenance
    * must not retrain), score the cells' members, connect to the top
    * [[S18R]] as out-edges; each chosen old node gains a capped
    * [[S19Back]] reverse edges (by cos DESC, new id — DiskANN's prune
    * in its simplest deterministic form) so the batch is REACHABLE
    * from the old graph. Batch-insert semantics: new→old and old→new
    * edges only (sequential insertion would also link new→new; the
    * fresh-rebuild tier shows what that costs). Old edges, entries and
    * the hub layer carry over byte-identical.
    *
    * Scale: insert cost is per-BATCH, not per-corpus — new vectors
    * equi-join the ~256-vector members of their 2 probed cells
    * (N_new·512 cosines, map-only after the join), and the artifact
    * rewrite is old-rows-passthrough + batch-sized additions. The
    * cell membership re-derives map-only here; a deployment-grade
    * store would persist it (s02's IVF artifact does). */
  def ensureGraphMaintArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "s19_graph_maint_v2", "embeddings") {
      val old = ensureGraphAnnArtifact(spark, dir)
        .select(col("src"), col("nbr"), col("nbr_emb"), col("kind"),
          col("cell"))
      val base = Tables(spark, dir, "embeddings")
      val (cents, _) = graphCentroids(base)
      val assigned = assignCells(Tables.spread(base), cents,
          col("embedding"))
        .select(col("vec_id"), col("cell"), col("embedding"))
        .localCheckpoint(false)
      val newv = grownCorpus(spark, dir).filter(col("is_new") === 1L)
        .select(col("vec_id"), col("embedding"))
      // top-2 old cells per new vector (the probe shape)
      val nprobes = newv.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("c_id"),
          V.cosine_sim(col("embedding"), col("c_vec")).as("cc"))
        .groupBy(col("vec_id"))
        .agg(first(col("embedding")).as("embedding"),
          slice(array_sort(collect_list(
            struct((col("cc") * -1).as("__n"), col("c_id")))), 1, 2)
            .as("__top"))
        .select(col("vec_id"), col("embedding"),
          explode(col("__top")).as("f"))
        .select(col("vec_id"), col("embedding"), col("f.c_id").as("cell"))
      // candidates = the probed cells' OLD members (disjoint across the
      // 2 cells — each member has one cell), scored map-only
      val scored = nprobes
        .join(assigned.select(col("vec_id").as("nbr"), col("cell"),
          col("embedding").as("nbr_vec")), Seq("cell"))
        .select(col("vec_id").as("src"), col("embedding").as("src_vec"),
          col("nbr"), col("nbr_vec"),
          V.cosine_sim(col("embedding"), col("nbr_vec")).as("cos"))
      val newOut = scored
        .groupBy(col("src"))
        .agg(first(col("src_vec")).as("src_vec"),
          slice(array_sort(collect_list(struct(
            (col("cos") * -1).as("__n"), col("nbr"), col("nbr_vec")))),
            1, S18R).as("__top"))
        .select(col("src"), col("src_vec"), explode(col("__top")).as("f"))
        .select(col("src"), col("src_vec"), col("f.nbr").as("nbr"),
          col("f.nbr_vec").as("nbr_vec"), col("f.__n").as("__n"))
        .localCheckpoint(false)
      // reverse edges, capped per old node by (cos DESC, new id) — the
      // family's window-free sort/slice shape
      val back = newOut
        .select(col("nbr").as("src"), col("src").as("nbr"),
          col("src_vec").as("nbr_vec"), col("__n"))
        .groupBy(col("src"))
        .agg(slice(array_sort(collect_list(struct(
          col("__n"), col("nbr"), col("nbr_vec")))), 1, S19Back)
          .as("__top"))
        .select(col("src"), explode(col("__top")).as("f"))
        .select(col("src"), col("f.nbr").as("nbr"),
          col("f.nbr_vec").as("nbr_vec"))
      val added = newOut.select(col("src"), col("nbr"), col("nbr_vec"))
        .unionByName(back)
        .select(col("src"), col("nbr"), col("nbr_vec").as("nbr_emb"),
          lit("edge").as("kind"), lit(-1L).as("cell"))
      old.unionByName(added)
    }

  /** s19's FRESH tier: the s18 build re-run from scratch on the grown
    * corpus — new centroids (count rescaled to the grown size), new
    * assignment, new in-cell kNN and hub. The reindexing-cadence
    * comparison anchor. */
  def ensureGraphFreshArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "s19_graph_fresh_v2", "embeddings") {
      val grown = grownCorpus(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val (cents, _) = graphCentroids(grown)
      buildGraphEdges(grown, cents)
    }

  /** GRAPH-INDEX MAINTENANCE AUDIT (round 15, VERDICT r14 #3) — the
    * reindexing-cadence answer for the graph family, completing the
    * staleness story s16 told for IVF: after the positive-orthant
    * growth batch (s16's model), compare recall@10 on the grown corpus
    * across three serving strategies at the SAME beam —
    *   `stale`      = the old s18 graph untouched (the batch is not in
    *                  the index at all — what recall do you serve if
    *                  you defer indexing entirely),
    *   `maintained` = the batch INSERTED into the old graph
    *                  ([[ensureGraphMaintArtifact]] — old quantizer,
    *                  old edges, batch-sized insert cost),
    *   `fresh`      = a full rebuild on the grown corpus
    *                  ([[ensureGraphFreshArtifact]] — the expensive
    *                  gold standard).
    * Queries double with the growth (5 base + 5 orthant twins); ground
    * truth is the exact top-10 over the GROWN corpus. Per (tier,
    * query): visited count, hits, recall. The gap maintained↔fresh is
    * REPORTED, not hidden — it is the price of not rebuilding.
    *
    * Scale: all three probes are the s18 bounded-hop beam (hop joins
    * against a broadcast frontier, visited ≤ Q·(2 + T·B·maxdeg));
    * the insert is batch-sized (see [[ensureGraphMaintArtifact]]);
    * the exact tier is one grown-corpus scan against 10 broadcast
    * queries. Deterministic end to end, so the full
    * build+insert+probe×3 replicates declaratively in [[s19Sql]]. */
  def s19GraphInsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "embeddings")
    val grown = grownCorpus(spark, dir)
    val qs = grownQueries(spark, dir)
    // the two centroid picks each pay one corpus count — overlap them,
    // then run the four remaining eager chains (exact baseline + three
    // per-tier beam probes) concurrently: they are independent and each
    // is a serial hop-job chain that leaves most cores idle on its own
    // (guide §2.6). The ensure* builds inside the tier thunks are
    // artifact-cached and file-locked, so concurrent ensure calls of
    // the shared base graph serialize safely.
    val (oldCents, freshCents) = graft.Par.run2(
      () => graphCentroids(base)._1,
      () => graphCentroids(grown.select(col("vec_id"), col("embedding")))._1)
    val chains = graft.Par.run[DataFrame](
      () => grownExact(grown, qs),
      () => beamVisited(ensureGraphFreshArtifact(spark, dir), freshCents, qs),
      () => beamVisited(ensureGraphMaintArtifact(spark, dir), oldCents, qs),
      () => beamVisited(ensureGraphAnnArtifact(spark, dir), oldCents, qs))
    val exact = chains(0)
    def tier(name: String, visited: DataFrame): DataFrame =
      walkRecall(visited, exact, lit(name).as("tier"))
    tier("fresh", chains(1))
      .unionByName(tier("maintained", chains(2)))
      .unionByName(tier("stale", chains(3)))
      .orderBy(col("tier"), col("q_id"))
  }

  /** The full three-tier story replicated declaratively: the base
    * build, the fresh grown-corpus build, the batch insert (2-cell
    * probe → top-R connect → capped reverse edges), and THREE unrolled
    * [[S18T]]-hop beam probes differing only in their edge list /
    * entry set / quantizer. Multi-referenced CTEs are MATERIALIZED
    * (the t23/dd02 rule); scoring joins the shared grown-embedding
    * table `gemb` — numerically identical to the artifact's inline
    * float→double vectors (exact widening, §5). */
  val s19Sql: String =
    s"""WITH grown AS MATERIALIZED ($grownSql),
       |gemb AS MATERIALIZED (SELECT vec_id, v FROM grown),
       |base AS (SELECT vec_id, v FROM grown WHERE is_new = 0),
       |q10 AS MATERIALIZED ($grownQueriesSql),
       |${graphBuildSql("_b", "base")},
       |${graphBuildSql("_g", "grown")},
       |newv AS (SELECT vec_id, v FROM grown WHERE is_new = 1),
       |newp AS (${nearestCellsSql("newv", "vec_id", "v",
         Seq("vec_id", "v"), "cent_b", 2)}),
       |new_sc AS (
       |  SELECT p.vec_id AS src, a.vec_id AS nbr,
       |    list_cosine_similarity(p.v, a.v) AS cos
       |  FROM newp p JOIN assigned_b a ON a.cell = p.cell),
       |new_out AS MATERIALIZED (
       |  SELECT src, nbr, cos FROM (
       |    SELECT src, nbr, cos, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, nbr) AS rn FROM new_sc)
       |  WHERE rn <= $S18R),
       |back AS (
       |  SELECT nbr AS src, src AS nbr FROM (
       |    SELECT src, nbr, row_number() OVER (PARTITION BY nbr
       |      ORDER BY cos DESC, src) AS rn FROM new_out)
       |  WHERE rn <= $S19Back),
       |edges_m AS MATERIALIZED (
       |  SELECT src, nbr FROM edges_b
       |  UNION ALL SELECT src, nbr FROM new_out
       |  UNION ALL SELECT src, nbr FROM back),
       |${graphWalkSql("_s", "cent_b", "entries_b", "edges_b", "q10", "gemb")},
       |v0_m AS (SELECT * FROM v0_s),
       |${graphHopsSql("_m", "edges_m", "q10", "gemb")},
       |${graphWalkSql("_g", "cent_g", "entries_g", "edges_g", "q10", "gemb")},
       |exactg AS MATERIALIZED (${exactTopSql("q10", "gemb", "v")}),
       |${walkRecallSql("_s", "exactg")},
       |${walkRecallSql("_m", "exactg")},
       |${walkRecallSql("_g", "exactg")},
       |res AS (
       |  ${walkRecallSelectSql("_g", "'fresh' AS tier,")}
       |  UNION ALL
       |  ${walkRecallSelectSql("_m", "'maintained' AS tier,")}
       |  UNION ALL
       |  ${walkRecallSelectSql("_s", "'stale' AS tier,")})
       |SELECT tier, q_id, n_visited, hits, recall
       |FROM res ORDER BY tier, q_id""".stripMargin

  // ---------------------------------------------------------------- s20
  /** 6dp decimal literals of 1/log2(rank+1) and 1/rank for ranks 1..10
    * (the dd17 literal-table precedent — both engines sum EXACT
    * decimals, cast once to double at the end). IDCG@10 = the exact
    * decimal sum of the DCG column = 4.543560. */
  private val S20DcgW = Seq(
    "1.000000", "0.630930", "0.500000", "0.430677", "0.386853",
    "0.356207", "0.333333", "0.315465", "0.301030", "0.289065")
  private val S20MrrW = Seq(
    "1.000000", "0.500000", "0.333333", "0.250000", "0.200000",
    "0.166667", "0.142857", "0.125000", "0.111111", "0.100000")

  /** s18's ranked top-10 frame (q_id, vec_id, rank) — the beam probe's
    * deliverable list, shared by s20's graph tier. */
  private def s18TopFrame(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(spark, dir, "embeddings")
    val (cents, _) = graphCentroids(corpus)
    walkTop(beamVisited(
      ensureGraphAnnArtifact(spark, dir), cents, queriesDf(spark, dir)))
  }

  /** RANK-WEIGHTED RETRIEVAL METRICS (round 15, VERDICT r14 #5) — the
    * eval the recall-only family lacked: MRR@10 and nDCG@10 per query
    * for the four shipped index tiers — s02's 2-probe IVF, s07's
    * IVF-PQ, s14's binary-Hamming rerank, s18's graph beam — against
    * the s01 exact top-10 as binary relevance. Production retrieval
    * evals rank-weight their hits: recall@10 = 0.6 can hide whether
    * the 6 hits sit at ranks 1-6 or 5-10; MRR/nDCG expose it.
    *
    * §5 algebra: reciprocal ranks and DCG weights are 6dp DECIMAL
    * literals ([[S20MrrW]]/[[S20DcgW]]); per-query DCG sums run in
    * exact decimal and cast ONCE to double; nDCG divides by the exact
    * IDCG@10 literal in one IEEE division — bit-identical cross-engine.
    *
    * Scale: zero new corpus passes — every tier's ranked frame is the
    * one its own key already materializes (artifact probes + bounded
    * top-k), and the metric algebra is query-sized (4 tiers × Q × 10
    * narrow rows). */
  def s20RankMetrics(spark: SparkSession, dir: String): DataFrame = {
    // five independent eager chains — the exact baseline plus each
    // tier's ranked frame (every one is that key's own artifact-probe
    // chain) — overlap them (guide §2.6) and checkpoint only the three
    // query-sized columns the metric algebra reads
    val chains = graft.Par.run[DataFrame](
      () => s01Exact(spark, dir, lit(1L).as("__hit")),
      () => Tables.ckptTiny(s14BinaryQuantize(spark, dir)
        .select(col("q_id"), col("vec_id"), col("rank"))),
      () => Tables.ckptTiny(s18TopFrame(spark, dir)
        .select(col("q_id"), col("vec_id"), col("rank"))),
      () => Tables.ckptTiny(s02Ivf(spark, dir)
        .select(col("q_id"), col("vec_id"), col("rank"))),
      () => Tables.ckptTiny(s07IvfPq(spark, dir)
        .select(col("q_id"), col("vec_id"), col("rank"))))
    val exact = chains(0)
    val dcgArr = array(S20DcgW.map(w =>
      expr(s"CAST($w AS DECIMAL(8,6))")): _*)
    val mrrArr = array(S20MrrW.map(w =>
      expr(s"CAST($w AS DECIMAL(8,6))")): _*)
    // MRR = the weight of the FIRST hit = max over hit-rank weights
    // (weights strictly decrease with rank) — computed INSIDE the agg
    // so no null array index ever exists: element_at(arr, NULL) after
    // an aggregate miscompiles to the last element in Spark 4.1 (a
    // constant-folding defect reproduced in isolation; see the spec)
    def metrics(name: String, ranked: DataFrame): DataFrame =
      ranked.select(col("q_id"), col("vec_id"), col("rank"))
        .join(broadcast(exact), Seq("q_id", "vec_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(
          sum(coalesce(col("__hit"), lit(0L))).as("hits"),
          sum(when(col("__hit").isNotNull,
              element_at(dcgArr, col("rank").cast(IntegerType)))
            .otherwise(expr("CAST(0 AS DECIMAL(8,6))"))).as("__dcg"),
          max(when(col("__hit").isNotNull,
            element_at(mrrArr, col("rank").cast(IntegerType))))
            .as("__mrr"))
        .select(lit(name).as("tier"), col("q_id"), col("hits"),
          coalesce(col("__mrr").cast(DoubleType), lit(0.0)).as("mrr"),
          col("__dcg").cast(DoubleType).as("dcg"),
          round(col("__dcg").cast(DoubleType) / lit(4.543560d), 4)
            .as("ndcg"))
    metrics("binary", chains(1))
      .unionByName(metrics("graph", chains(2)))
      .unionByName(metrics("ivf2", chains(3)))
      .unionByName(metrics("ivfpq", chains(4)))
      .orderBy(col("tier"), col("q_id"))
  }

  /** Each tier's ranked list re-derives from its own key's oracle
    * (nested WITH per tier — name scopes are subquery-local), the
    * weight table is the shared 6dp literal VALUES, and the metric
    * algebra matches the Spark side decimal-for-decimal. */
  val s20Sql: String = {
    val s18TopSql = s"WITH $s18ChainSql\n${walkTopSql("")}"
    val tiers = Seq("binary" -> s14Sql, "graph" -> s18TopSql,
      "ivf2" -> s02Sql, "ivfpq" -> s07Sql)
    val wRows = (1 to 10).map(i =>
      s"(${i}, CAST(${S20DcgW(i - 1)} AS DECIMAL(8,6)), " +
        s"CAST(${S20MrrW(i - 1)} AS DECIMAL(8,6)))").mkString(", ")
    def m(name: String): String =
      s"""m_$name AS (
         |  SELECT '$name' AS tier, t.q_id,
         |    CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS hits,
         |    SUM(CASE WHEN e.vec_id IS NOT NULL THEN w.dw
         |      ELSE CAST(0 AS DECIMAL(8,6)) END) AS dcg_d,
         |    MAX(CASE WHEN e.vec_id IS NOT NULL THEN w.mw END) AS mrr_d
         |  FROM t_$name t
         |  JOIN w ON w.r = t.rank
         |  LEFT JOIN exact e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
         |  GROUP BY t.q_id)""".stripMargin
    s"""WITH exact AS MATERIALIZED ($s01ExactSql),
       |w AS (SELECT * FROM (VALUES $wRows) AS w(r, dw, mw)),
       |${tiers.map { case (n, sql) =>
           s"t_$n AS (\n$sql)" }.mkString(",\n")},
       |${tiers.map { case (n, _) => m(n) }.mkString(",\n")},
       |res AS (
       |  ${tiers.map { case (n, _) => s"SELECT * FROM m_$n" }
             .mkString("\n  UNION ALL\n  ")})
       |SELECT r.tier, r.q_id, r.hits,
       |  COALESCE(CAST(r.mrr_d AS DOUBLE), 0.0) AS mrr,
       |  CAST(r.dcg_d AS DOUBLE) AS dcg,
       |  round(CAST(r.dcg_d AS DOUBLE) / CAST(4.543560 AS DOUBLE), 4)
       |    AS ndcg
       |FROM res r
       |ORDER BY r.tier, r.q_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s20_rank_metrics" -> (s20RankMetrics _),
    "s19_graph_insert" -> (s19GraphInsert _),
    "s18_graph_ann" -> (s18GraphAnn _),
    "s16_index_staleness" -> (s16IndexStaleness _),
    "s17_quant_tradeoff" -> (s17QuantTradeoff _),
    "s15_nprobe_recall" -> (s15NprobeRecall _),
    "s14_binary_quantize" -> (s14BinaryQuantize _),
    "s13_filtered_search" -> (s13FilteredSearch _),
    "s12_range_search" -> (s12RangeSearch _),
    "s11_mrl_rerank" -> (s11MrlRerank _),
    "s10_mrl_recall" -> (s10MrlRecall _),
    "s07_ivfpq" -> (s07IvfPq _),
    "s09_ann_recall" -> (s09AnnRecall _),
    "s08_mmr_rerank" -> (s08MmrRerank _),
    "s01_ann_bruteforce" -> (s01BruteForce _),
    "s02_ann_ivf" -> (s02Ivf _),
    "s03_vector_quantize" -> (s03Quantize _),
    "s04_pq_quantize" -> (s04PqQuantize _),
    "s05_vector_search" -> (s05VectorSearch _),
    "s06_hybrid_search" -> (s06HybridSearch _))

  val oracle: Map[String, String] = Map(
    "s20_rank_metrics" -> s20Sql,
    "s19_graph_insert" -> s19Sql,
    "s18_graph_ann" -> s18Sql,
    "s16_index_staleness" -> s16Sql,
    "s17_quant_tradeoff" -> s17Sql,
    "s15_nprobe_recall" -> s15Sql,
    "s14_binary_quantize" -> s14Sql,
    "s13_filtered_search" -> s13Sql,
    "s12_range_search" -> s12Sql,
    "s11_mrl_rerank" -> s11Sql,
    "s10_mrl_recall" -> s10Sql,
    "s07_ivfpq" -> s07Sql,
    "s08_mmr_rerank" -> s08Sql,
    "s09_ann_recall" -> s09Sql,
    "s01_ann_bruteforce" -> s01Sql,
    "s02_ann_ivf" -> s02Sql,
    "s03_vector_quantize" -> s03Sql,
    "s04_pq_quantize" -> s04Sql,
    "s05_vector_search" -> s05Sql,
    "s06_hybrid_search" -> s06Sql)
}
