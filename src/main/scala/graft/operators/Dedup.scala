package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{text => T, vectors => V}

/** Deduplication operators for training-data pipelines (SURVEY.md §2.3).
  *
  * The driver corpus has no natural duplicates (500 unique synthetic
  * texts, near-orthogonal embeddings), so each operator deterministically
  * PLANTS near-duplicates from the source table inside the pipeline
  * (`doc_id % k == 0` rows, mutated; planted ids offset by 1,000,000) and
  * must find exactly those. The operator code itself is corpus-agnostic.
  *
  * Scale design (the whole point of these shapes at 100 TB):
  *   - signatures are computed in ONE map-only projection per doc
  *     (codegen'd static kernels, no shuffle);
  *   - candidate generation shuffles only (band_key → doc_id) pairs —
  *     never text — into per-bucket lists that emit pairs in place, so
  *     shuffle volume is O(candidates), not O(N²);
  *   - hot buckets (stopword-like shingles, zero vectors) are capped
  *     before pair emission — the classic LSH skew guard: one
  *     pathological bucket would otherwise quadratically dominate;
  *   - verification (exact Jaccard / cosine) runs only on surviving
  *     candidate pairs.
  */
object Dedup {

  private[operators] val PlantOffset = 1000000L

  /** documents ∪ mutated copies of every 10th doc (last word dropped) —
    * the planted near-dup corpus for text dedup.
    */
  private def plantedDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + PlantOffset).as("doc_id"),
        TextAnalysis.dropLastWord(col("text")).as("text"),
        col("source"))
    docs.unionAll(planted)
  }

  // --------------------------------------------------------------- dd01
  /** Exact dedup: md5 hash-groupBy, keep the minimum id per group.
    * Scale: single shuffle on the 128-bit hash; map-side partial agg
    * collapses intra-partition dup runs first.
    */
  def dd01Exact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // duplicate every 20th doc verbatim so the operator has work to do
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))
    corpus.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  val dd01Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset, text FROM documents WHERE doc_id % 20 = 0)
       |SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
       |  COUNT(*) AS n_copies
       |FROM corpus GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // --------------------------------------------------------------- dd02
  /** MinHash + LSH near-dup pairs: 64-hash signature, 16 bands × 4 rows,
    * bucket self-join, signature-estimated Jaccard ≥ 0.5.
    */
  def dd02MinHash(spark: SparkSession, dir: String): DataFrame = {
    // spread() first: the minhash kernel is the CPU hot spot — on a
    // narrow input (single-chunk collection) it would otherwise run on
    // one core; at cluster scale the input is already wide and spread()
    // is the identity
    val corpus = Tables.spread(plantedDocs(spark, dir))
    // The signature table feeds THREE consumers (banding + both sides of
    // the verify join). localCheckpoint is the materialization barrier:
    // every consumer reads the ONE computed signature frame — 512 B
    // rows — instead of re-hashing KB-scale texts per consumer. (The
    // previous repartition-based barrier relied on ReusedExchange,
    // which the executed plans show no longer fires under AQE here —
    // the kernel ran once PER CONSUMER; caught by PlanSweep
    // multi_text_scans, round-12.)
    val sigs = Tables.ckptNarrow(corpus.select(col("doc_id"),
      T.minhash_sig(col("text"), 64, 3).as("sig")))

    verifiedPairs(minhashCandidates(sigs), sigs, 0.5, "est_jaccard")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Estimated Jaccard from two 64-hash MinHash signature columns:
    * matching positions / 64 — the ONE copy of the estimator every
    * verify site shares (dd02/dd15/dd16/m09/t17). k/64 is an exact
    * binary fraction, so the 0.5/0.4 threshold compares identically in
    * both engines (§5). */
  private[graft] def estJaccard(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), x => x))
      .cast(DoubleType) / 64.0

  /** Candidate pairs joined back to their signature frame and verified
    * at estimated Jaccard ≥ `tau` — the sa/sb rename + [[estJaccard]]
    * chain shared by dd02/dd15/m09 (dd16 verifies in place: its probe
    * rows already carry both signatures; t17 broadcasts the eval
    * side). `sigs` is (doc_id, sig); output (id_a, id_b, `estName`).
    */
  private[graft] def verifiedPairs(cand: DataFrame, sigs: DataFrame,
      tau: Double, estName: String): DataFrame = {
    val sa = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn(estName, estJaccard(col("sig_a"), col("sig_b")))
      .filter(col(estName) >= tau)
      .select(col("id_a"), col("id_b"), col(estName))
  }

  /** Count-gated bucket materialization — the inverted-index cap done
    * in the order that survives a hot key (VERDICT r9 #1): a cheap
    * COUNT per bucket key first (map-side combined, shuffles only
    * (key, n) pairs), keys filtered to [lo, hi], and `collect_list`
    * run ONLY over rows whose key survived. The naive
    * `collect_list → filter(size)` form materializes an over-cap
    * bucket's entire membership in one aggregation buffer BEFORE the
    * size filter can drop it — partial aggregation does not bound it
    * (a hot key's partials still merge into one task), so a degenerate
    * bucket (boilerplate chunk, near-silence audio frame) is an O(N)
    * array on a single task at 100 TB. Here the per-task peak is
    * ≤ hi members per key by construction. The gate joins by
    * SHUFFLE_HASH with the key frame as build side: the surviving-key
    * frame is bucket-count-sized — data-sized at corpus scale — so a
    * broadcast would be a local-SF illusion (the dd14 count-frame
    * rule), while a forced MERGE join measurably doubled dd15/m06 at
    * the synthesized sf1 by sorting the full band-row side; the hash
    * build holds only each partition's distinct surviving keys
    * (≤ the count aggregation's own per-partition hash table, so no
    * new memory class). Null contract (review r10): a NULL bucket key
    * is dropped EXPLICITLY up front — the naive groupBy form keeps a
    * null-key group, but every caller keys on hash outputs (never
    * null), and an inner equi-join would otherwise drop such rows
    * SILENTLY (a null-safe join instead costs two extra exchanges:
    * the join's coalesce-keyed output partitioning cannot serve the
    * downstream groupBy — measured). Null VALUES are exact parity:
    * the gate counts non-null values, which is what collect_list
    * keeps. Both halves of the contract are specced.
    */
  private[graft] def gatedBuckets(rows: DataFrame, keys: Seq[String],
      value: Column, valueName: String, lo: Int, hi: Int): DataFrame = {
    val withVal = rows
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__gv", value)
    val gate = withVal.groupBy(keys.map(col): _*)
      .agg(count(col("__gv")).as("__n"))
      .filter(col("__n").between(lo, hi))
      .select(keys.map(col): _*)
    withVal.join(gate.hint("shuffle_hash"), keys)
      .groupBy(keys.map(col): _*)
      .agg(collect_list(col("__gv")).as(valueName))
  }

  /** The one 16-band × 4-row LSH banding layout every MinHash consumer
    * shares (dd02/dd15/dd16 — previously three hand-kept copies):
    * band rows `(carry…, band, bh)` over a signature frame. `carry`
    * columns ride along unchanged (dd16's probe side carries the
    * signature itself so candidates can verify in place). */
  private[graft] def bandRows(df: DataFrame, sig: String,
      carry: String*): DataFrame = {
    val bandCols = (0 until 16).map(b =>
      struct(lit(b).as("band"), T.band_hash(col(sig), b * 4, (b + 1) * 4)
        .as("bb_bh")))
    df.select(carry.map(col) :+ explode(array(bandCols: _*)).as("bb"): _*)
      .select(carry.map(col) ++
        Seq(col("bb.band").as("band"), col("bb.bb_bh").as("bh")): _*)
  }

  /** LSH candidate generation over a `(doc_id, sig)` minhash-signature
    * table: 16 bands × 4 rows → per-bucket doc lists, pathological
    * buckets (the LSH skew guard — a stopword-like bucket would
    * contribute quadratically) dropped by the [[gatedBuckets]]
    * count-gate BEFORE their membership materializes anywhere, pairs
    * generated in place. Candidate count is bounded by cap²/2 per
    * bucket and per-task memory by cap regardless of corpus skew.
    * Factored so scale audits can feed degenerate corpora. */
  private[graft] def minhashCandidates(sigs: DataFrame): DataFrame = {
    val bands = bandRows(sigs, "sig", "doc_id")
    // count-gate, then per-bucket doc list over survivors only;
    // candidate pairs emitted in-place — no per-bucket self-join, no
    // window. The band explode runs twice (gate + collect), but both
    // consumers hang off the sigs exchange upstream, so the minhash
    // kernel itself still runs once.
    val buckets = gatedBuckets(bands, Seq("band", "bh"), col("doc_id"),
      "ds", 2, 50)
    buckets.select(explode(expr(
      """flatten(transform(ds, (x, i) ->
        |  transform(slice(ds, i + 2, size(ds)), y -> named_struct(
        |    'id_a', least(x, y), 'id_b', greatest(x, y)))))""".stripMargin))
      .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  // --------------------------------------------------------------- dd03
  /** SimHash near-dup pairs: 64-bit signature, 4×16-bit bands (pigeonhole:
    * hamming ≤ 3 ⇒ at least one band identical), exact hamming verify.
    */
  def dd03SimHash(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.spread(plantedDocs(spark, dir)) // parallel kernel
    // barrier for the same reason as dd02's original: both sides of the
    // band self-join reuse one simhash computation (exchange reuse DOES
    // fire here — the sweep showed 2 text scans = the corpus union's two
    // branches, one kernel build; contrast dd02, where it did not)
    val sigs = corpus.select(col("doc_id"), T.simhash64(col("text")).as("sig"))
      .repartition(col("doc_id"))
    simhashBandPairs(sigs).orderBy(col("id_a"), col("id_b"))
  }

  /** Band self-join + exact hamming verify over a `(doc_id, sig)` simhash
    * table. The join key is the 16-bit band value — a degenerate corpus
    * (everyone identical) makes it a hot key; resilience comes from AQE's
    * skew-join split (the shuffle rows are 26-byte (id, sig) pairs, so
    * sub-splits stay cheap). Factored so scale audits can feed degenerate
    * corpora directly.
    */
  private[graft] def simhashBandPairs(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL))
          .as("bh")))
    val bands = sigs
      .select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
    val a = bands.select(col("band"), col("bh"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = bands.select(col("band"), col("bh"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sig_a ^ sig_b)").cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  // --------------------------------------------------------------- dd04
  /** Exact n-gram Jaccard via inverted index — never a block cross-join.
    *
    * J(A,B) = c / (|A|+|B|−c) where c = |A∩B|, so the whole computation
    * reduces to counting common shingles per pair: explode doc→shingle
    * postings, self-join on (source, shingle), count. Shuffle volume is
    * Σ df(shingle)² over tiny (id,id) rows — O(co-occurrences), not
    * O(N²·|doc|) like a block cross-join with per-pair array_intersect.
    * The df cap is the skew guard: a stopword-shingle with df=10⁶ would
    * contribute 10¹² pairs; capped postings lose only shingles that are
    * near-useless for discrimination (at the local SFs the cap is far
    * above every real df, so results stay exact).
    */
  /** (id_a, id_b, source, jaccard) pairs with exact Jaccard ≥ 0.5 — the
    * shared candidate-pair pipeline behind dd04 (scored pairs) and dd06
    * (clusters).
    */
  /** Shared inverted-index pair machinery (dd04/dd06/dd10): corpus
    * `(doc_id, text, source)` → per-pair shingle-overlap stats
    * `(source, id_a, id_b, sz_a, sz_b, common)` for every same-source
    * pair sharing ≥1 shingle (bucket df capped at 10k).
    */
  private def commonCounts(corpus0: DataFrame,
      shrink: Int = 4): DataFrame = {
    val corpus = Tables.spread(corpus0) // parallel shingling
      .select(col("doc_id"), col("source"),
        array_distinct(T.shingle_hashes(col("text"), 3)).as("sh"))
      // ONE shingling pass: gatedBuckets consumes the posting stream
      // twice (df gate + surviving-bucket collect), and without the
      // barrier each consumer re-ran the shingle kernel against its own
      // text scan (4 scans in dd04/dd10's executed plans — PlanSweep
      // multi_text_scans, round-12). The checkpoint stores one shingled
      // row per doc; the explode stays downstream of it.
      .transform(Tables.ckptNarrow(_, shrink))
    // explode_OUTER: sh is never empty (the shingle kernel falls back to
    // the whole text below 3 tokens), so outer ≡ inner — and the inner
    // form lets InferFiltersFromGenerate add size(sh)>0 / isnotnull(sh)
    // checks that predicate pushdown re-expands into full copies of the
    // shingle kernel below the projection, re-hashing every doc 2× extra
    // in an interpreted Filter (same pathology measured 8× on t10).
    val postings = corpus
      .select(col("source"), col("doc_id"), size(col("sh")).as("sz"),
        explode_outer(col("sh")).as("shingle"))
    // count-gated inverted index (the round-10 discipline — the naive
    // collect_list → filter(size) form materializes an over-cap
    // bucket's entire membership in ONE task before the filter can
    // drop it; a df-10⁶ stopword shingle is an OOM there): count per
    // (source, shingle) first, collect only surviving buckets; pairs
    // emitted in-place by a higher-order transform — no per-shingle
    // self-join, no window
    val buckets = gatedBuckets(postings, Seq("source", "shingle"),
      struct(col("doc_id"), col("sz")), "ds", 2, 10000)
    bucketPairs(buckets)
      .groupBy(col("source"), col("id_a"), col("id_b"), col("sz_a"),
        col("sz_b"))
      .agg(count(lit(1)).as("common"))
  }

  /** Audit seam: the raw gated index over an arbitrary corpus, so
    * ScaleAuditSpec can feed degenerate corpora (the minhashCandidates
    * discipline). */
  private[graft] def dd04PairsForAudit(corpus: DataFrame): DataFrame =
    commonCounts(corpus)

  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    commonCounts(plantedDocs(spark, dir))
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= 0.5)

  /** Expand each `(source, ds)` bucket into its unordered element pairs
    * in TWO Generate levels: posexplode the doc list (one row per head
    * element, carrying its tail slice), then explode each head's tail.
    * No intermediate value ever exceeds |bucket| elements — the
    * single-row `flatten(transform(...))` alternative builds the whole
    * ~|bucket|²/2 pair array inside ONE row (gigabytes at the 10k df
    * cap → unsplittable task OOM). Both Generates stream through
    * codegen; only the tiny pair rows reach the next shuffle.
    */
  private[graft] def bucketPairs(buckets: DataFrame): DataFrame = {
    val aLtB = col("x.doc_id") < col("y.doc_id")
    buckets
      .select(col("source"), col("ds"), posexplode(col("ds")))
      // slice is 1-based: head at 0-based `pos` pairs with ds[pos+2 ..]
      .select(col("source"), col("col").as("x"),
        expr("slice(ds, pos + 2, size(ds))").as("tail"))
      .select(col("source"), col("x"), explode(col("tail")).as("y"))
      .select(col("source"),
        least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        when(aLtB, col("x.sz")).otherwise(col("y.sz")).as("sz_a"),
        when(aLtB, col("y.sz")).otherwise(col("x.sz")).as("sz_b"))
  }

  def dd04NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)
      .select(col("id_a"), col("id_b"), col("source"),
        round(col("jaccard"), 4).as("jaccard")) // oracle parity (SURVEY §5)
      .orderBy(col("id_a"), col("id_b"))

  /** The hashed-shingle Jaccard equals string-shingle Jaccard (64-bit FNV
    * collisions are negligible at any realistic df), so the oracle builds
    * the same inverted index over shingle STRINGS: c/(|A|+|B|−c) is then
    * the identical integer-ratio double in both engines.
    */
  /** Shared oracle CTE chain ending in `jp(source, id_a, id_b, jaccard)`:
    * the exact Jaccard ≥ 0.5 pair set over shingle STRINGS (hashed-
    * shingle Jaccard equals string-shingle Jaccard — 64-bit FNV
    * collisions are negligible at any realistic df).
    */
  private val pairCtes: String =
    s"""${graft.functions.KernelOracleSql.corpusCte(PlantOffset, ", source")},
       |toks AS (
       |  SELECT doc_id, source, text,
       |    ${TextAnalysis.toksSql("text")} AS ts
       |  FROM corpus),
       |sets AS (
       |  SELECT doc_id, source,
       |    CASE WHEN len(ts) < 3 THEN [text]
       |         ELSE list_distinct(list_transform(range(1, len(ts) - 1),
       |           i -> ts[i] || chr(31) || ts[i+1] || chr(31) || ts[i+2] ||
       |                chr(31)))
       |    END AS sh
       |  FROM toks),
       |postings AS MATERIALIZED (
       |  SELECT source, doc_id, len(sh) AS sz, unnest(sh) AS shingle
       |  FROM sets),
       |bsz AS (
       |  SELECT source, shingle, count(*) AS df FROM postings GROUP BY 1, 2),
       |postc AS MATERIALIZED (
       |  -- df-cap BEFORE the pair self-join (the Spark side's order):
       |  -- joining raw postings x postings first lets an over-cap
       |  -- boilerplate shingle emit df^2 pairs the cap then discards
       |  -- (round 15, VERDICT r14 #7 — the p08 sf1 straggler class)
       |  SELECT p.source, p.doc_id, p.sz, p.shingle
       |  FROM postings p JOIN bsz s
       |    ON s.source = p.source AND s.shingle = p.shingle
       |    AND s.df <= 10000),
       |cpairs AS (
       |  SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sz AS sz_a, b.sz AS sz_b, count(*) AS common
       |  FROM postc a JOIN postc b
       |    ON a.source = b.source AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4, 5),
       |jp AS MATERIALIZED (
       |  SELECT source, id_a, id_b, common / (sz_a + sz_b - common) AS jaccard
       |  FROM cpairs WHERE common / (sz_a + sz_b - common) >= 0.5)""".stripMargin

  val dd04Sql: String =
    s"""WITH $pairCtes
       |SELECT id_a, id_b, source, ROUND(jaccard, 4) AS jaccard
       |FROM jp ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- dd10
  /** Containment dedup: C(A,B) = |A∩B| / min(|A|, |B|) over word
    * 3-shingle sets — the near-SUBSET detector symmetric Jaccard
    * structurally misses (a doc quoted whole inside a 2× longer doc has
    * J ≈ 0.5 but C = 1.0; the standard quote/boilerplate/prefix case in
    * web corpora). Planted: every 7th doc re-enters as its first-half
    * word prefix — C = 1.0 by construction (every prefix shingle is a
    * source shingle), while J ≈ 0.5 sits below dd04's own threshold.
    *
    * Scale: identical machinery to dd04 — the one capped inverted-index
    * shuffle, bounded two-level pair expansion, per-pair counts; only
    * the final ratio differs. Nothing new to audit.
    */
  def dd10Containment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    // half-prefix plant, built with the kernel's own whitespace class so
    // the oracle's reconstruction is byte-identical
    val ws = TextAnalysis.words(col("text"))
    val planted = docs.filter(col("doc_id") % 7 === 1)
      .select((col("doc_id") + PlantOffset).as("doc_id"),
        array_join(slice(ws, lit(1), greatest(lit(3),
          floor(size(ws) / lit(2)).cast("int"))), " ").as("text"),
        col("source"))
    commonCounts(docs.unionAll(planted))
      .withColumn("containment", col("common").cast(DoubleType) /
        least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= 0.9)
      .select(col("id_a"), col("id_b"), col("source"),
        round(col("containment"), 4).as("containment")) // oracle parity
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Same CTE discipline as dd04: string-shingle sets over the
    * half-prefix-planted corpus, exact C = common/least ratio. */
  val dd10Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset,
       |    array_to_string(${TextAnalysis.wordsSql("text")}[1:greatest(3,
       |      len(${TextAnalysis.wordsSql("text")}) // 2)], ' '),
       |    source FROM documents WHERE doc_id % 7 = 1),
       |toks AS (
       |  SELECT doc_id, source, text,
       |    ${TextAnalysis.toksSql("text")} AS ts
       |  FROM corpus),
       |sets AS (
       |  SELECT doc_id, source,
       |    CASE WHEN len(ts) < 3 THEN [text]
       |         ELSE list_distinct(list_transform(range(1, len(ts) - 1),
       |           i -> ts[i] || chr(31) || ts[i+1] || chr(31) || ts[i+2] ||
       |                chr(31)))
       |    END AS sh
       |  FROM toks),
       |postings AS MATERIALIZED (
       |  SELECT source, doc_id, len(sh) AS sz, unnest(sh) AS shingle
       |  FROM sets),
       |bsz AS (
       |  SELECT source, shingle, count(*) AS df FROM postings GROUP BY 1, 2),
       |postc AS MATERIALIZED (
       |  -- df-cap BEFORE the pair self-join (see dd04's pairCtes note)
       |  SELECT p.source, p.doc_id, p.sz, p.shingle
       |  FROM postings p JOIN bsz s
       |    ON s.source = p.source AND s.shingle = p.shingle
       |    AND s.df <= 10000),
       |cpairs AS (
       |  SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sz AS sz_a, b.sz AS sz_b, count(*) AS common
       |  FROM postc a JOIN postc b
       |    ON a.source = b.source AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT id_a, id_b, source,
       |  ROUND(common / least(sz_a, sz_b), 4) AS containment
       |FROM cpairs WHERE common / least(sz_a, sz_b) >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- dd06
  /** Near-dup CLUSTERS: connected components over the Jaccard pair graph
    * by iterative min-label propagation, cluster id = min doc_id in the
    * component.
    *
    * Scale: the loop runs ONLY over edge-touched nodes — in a near-dup
    * graph that is a small fraction of the corpus (most docs are
    * singletons and can never change label), so iteration cost scales
    * with the dup-pair graph, not the corpus. Each iteration is one
    * shuffle of (node, label) joined against the edge list — the
    * standard large-graph CC loop; iterations ≤ O(log diameter) for the
    * alternating form, and near-dup graphs have tiny diameters (dup sets
    * are quasi-cliques). localCheckpoint after each round cuts the
    * growing lineage (at cluster scale: checkpoint to reliable storage).
    * The loop converges by an explicit changed-count check — no fixed
    * iteration guess. Singletons rejoin at the end as their own
    * size-1 clusters.
    */
  def dd06Clusters(spark: SparkSession, dir: String): DataFrame = {
    val nodes = plantedDocs(spark, dir).select(col("doc_id"))
    // edge list = the materialized dd04 pair artifact (one inverted-index
    // verification per corpus generation; the CC loop is this operator's
    // own work) — an artifact scan where the shingle pipeline used to sit
    val edges = ensureJaccardPairArtifact(spark, dir)
    // no checkpoint on the adjacency: every iteration re-reads the pair
    // artifact (one partition). A checkpoint did not win at both scales
    // (4 cores, alternated min-of-5 runs of the dd06 key alone, with →
    // without): sf0.1 1.30/1.53/1.44/1.49 → 1.42/1.43/1.41/1.63 s (two
    // pairs each way); synthesized sf1 1.52/1.75 → 1.98/2.06 s
    val adj = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    // init = identity FUSED with the first propagation step: each node
    // starts at min(self, min neighbor) — same fixpoint, one fewer loop
    // iteration (each iteration costs a checkpoint + convergence job)
    var labels = Tables.ckptNarrow(adj.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nmin0"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin0")).as("cluster_id")))
    var converged = false
    var iter = 0
    while (!converged && iter < 32) {
      val neighborMin = adj.join(labels, adj("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nmin"))
      // the changed flag rides along in the same pass — convergence is one
      // cheap agg over the checkpointed labels, not an extra self-join
      val next = labels.join(neighborMin, labels("doc_id") === col("src"), "left")
        .select(labels("doc_id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("nmin"), col("cluster_id")) < col("cluster_id"))
            .cast(LongType).as("ch"))
        .transform(Tables.ckptNarrow(_))
      // coalesce: an empty pair set sums to NULL, not 0
      val changed = next.agg(coalesce(sum(col("ch")), lit(0L))).first().getLong(0)
      labels = next.drop("ch")
      converged = changed == 0
      iter += 1
    }
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val clustered = labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    // edge-free docs are their own size-1 clusters — a left anti join on
    // the (small) clustered set, no per-node loop participation
    val singletons = nodes
      .join(clustered, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("cluster_size"))
    clustered.unionByName(singletons).orderBy(col("doc_id"))
  }

  /** dd06's oracle labels, shared with p08's and p16's: exact transitive
    * closure via recursive CTE over the pair graph — min reachable id
    * per node IS the component's min label. Ends in
    * `labels(doc_id, cluster_id)`. */
  private[operators] val clusterCtes: String =
    s"""$pairCtes,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jp
       |  UNION ALL SELECT id_b, id_a FROM jp),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  val dd06Sql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
       |SELECT doc_id, cluster_id, cluster_size
       |FROM labels JOIN sizes USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- dd11
  /** Duplicated-text fraction per document — the exact-substring dedup
    * diagnostic of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), reduced to hashed 8-token grams: for each
    * doc, the fraction of its distinct 8-grams that appear in at least
    * one OTHER document anywhere in the corpus. The index is GLOBAL, not
    * dd04's per-source one — cross-source boilerplate is exactly what
    * this metric exists to expose — and the number is what a curation
    * pipeline thresholds to drop boilerplate-heavy docs and what a
    * memorization audit reports per training document.
    *
    * Scale: the dd04 posting shape MINUS the pair expansion — one
    * shuffle to per-gram df, one co-partitioned join back, one doc agg.
    * No pairs ever materialize, so no df cap is needed: cost is
    * Σ postings, strictly linear in the corpus.
    */
  def dd11DupGramFrac(spark: SparkSession, dir: String): DataFrame = {
    // postings feed BOTH the df aggregation and the join-back; a lazy
    // localCheckpoint pins them so the scan + shingle kernel (the
    // expensive part) runs ONCE, not once per consumer — the dd06/d13
    // discipline (at cluster scale: checkpoint to reliable storage).
    // The agg side shuffles partially-aggregated rows, so plain exchange
    // reuse can never unify the two consumers here.
    val postings = Tables.spread(plantedDocs(spark, dir)) // parallel shingling
      .select(col("doc_id"),
        array_distinct(T.shingle_hashes(col("text"), 8)).as("g"))
      .select(col("doc_id"), explode_outer(col("g")).as("gram"))
      .transform(Tables.ckptNarrow(_, 4))
    val dfs = postings.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    // merge-join ON PURPOSE: broadcasting dfs (what stats would pick at
    // local SFs) is impossible at corpus scale — the per-gram df frame
    // is data-sized. The shuffles carry only (doc_id, gram) pairs.
    postings.join(dfs.hint("merge"), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        round(col("n_dup_grams").cast(DoubleType) / col("n_grams"), 4))
      .orderBy(col("doc_id"))
  }

  /** Oracle over gram STRINGS (the dd04 argument: 64-bit FNV collisions
    * are negligible, so hashed-gram df equals string-gram df). */
  val dd11Sql: String =
    s"""WITH ${graft.functions.KernelOracleSql.corpusCte(PlantOffset)},
       |toks AS (
       |  SELECT doc_id, text,
       |    ${TextAnalysis.toksSql("text")} AS ts
       |  FROM corpus),
       |grams AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ts) < 8 THEN [text]
       |         ELSE list_distinct(list_transform(range(1, len(ts) - 6),
       |           i -> ts[i] || chr(31) || ts[i+1] || chr(31) || ts[i+2] ||
       |                chr(31) || ts[i+3] || chr(31) || ts[i+4] || chr(31) ||
       |                ts[i+5] || chr(31) || ts[i+6] || chr(31) || ts[i+7]))
       |    END AS gs
       |  FROM toks),
       |posts AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
       |dfs AS (SELECT gram, COUNT(*) AS df FROM posts GROUP BY gram)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_grams,
       |  ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 4) AS dup_frac
       |FROM posts JOIN dfs USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Materialize dd06's cluster assignment ONCE per documents generation
    * and return it read back — the production composition for every
    * cluster consumer (split/dedup/audit): the CC chain (shingle →
    * inverted index → pair verify → iterative closure) is an expensive
    * artifact, so it is built once and read back as a plain scan
    * instead of re-running per consumer. Cache-keyed by the documents
    * table's fingerprint, so a regenerated corpus invalidates the
    * artifact instead of silently serving stale clusters; the completion
    * marker is written only after the write's commit, so a crashed
    * build is re-run, never half-read.
    */
  def ensureClusterArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "dd06_clusters_v2", "documents") {
      dd06Clusters(spark, dir)
    }

  /** dd02's VERIFIED near-dup pair set, materialized once per documents
    * generation ([[graft.Graft.ensureArtifact]]) — the corpus-expensive
    * half of the whole MinHash dedup family (shingle → signature → LSH
    * banding → verification). The dd02 key itself stays the definitional
    * live pipeline (its oracle gates the computation); every OTHER
    * consumer (dd13's provenance matrix, future drop/dedup passes) reads
    * this collection instead of re-running the pipeline (VERDICT r8 #1).
    */
  def ensureMinhashPairArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "dd02_pairs_v2", "documents") {
      dd02MinHash(spark, dir)
    }

  /** The BASE corpus's MinHash signature table (doc_id, 64-long sig),
    * materialized once per documents generation — the resident "index"
    * an incremental ingest pipeline (dd16) matches arriving batches
    * against. At 100 TB this is THE point of the artifact API: the
    * corpus is signed once when it is built, and every subsequent
    * crawl batch pays only its own batch-sized signature pass plus a
    * banded probe of this collection. */
  def ensureMinhashSigArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "dd16_sigs_v2", "documents") {
      // spread: the corpus-sized kernel pass (dd02's rule — a narrow
      // scan would sign the whole corpus on one core)
      Tables.spread(Tables(spark, dir, "documents"))
        .select(col("doc_id"), T.minhash_sig(col("text"), 64, 3).as("sig"))
    }

  /** dd04's verified Jaccard ≥ 0.5 pair set (the dd06 cluster graph's
    * edges), materialized once per documents generation. dd04 stays the
    * definitional live pipeline; dd06's CC loop — and therefore the
    * cluster artifact build — consumes this collection, so the
    * inverted-index pair verification runs once per corpus, not once
    * per cluster consumer. */
  def ensureJaccardPairArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.Graft.artifact(spark, dir, "dd04_pairs_v2", "documents") {
      jaccardPairs(spark, dir).select(col("id_a"), col("id_b"))
    }

  // --------------------------------------------------------------- dd05
  /** Embedding near-dup: sign-LSH hyperplane buckets → in-bucket pairwise
    * cosine ≥ 0.99. Planted: verbatim copies of every 25th vector (same
    * bucket by construction).
    */
  def dd05Embedding(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = vecs.unionAll(vecs.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + PlantOffset).as("vec_id"), col("embedding")))
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      V.hyperplane_bucket(col("embedding"), 16).as("bucket"))
      // barrier: both self-join sides reuse one bucket computation
      .repartition(col("vec_id"))
    bucketCosinePairs(bucketed)
      .select(col("id_a"), col("id_b"),
        round(col("cos"), 4).as("cos")) // oracle parity (SURVEY §5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** In-bucket self-join + exact cosine verify over a `(vec_id,
    * embedding, bucket)` table — same hot-key exposure and AQE skew-split
    * resilience as [[simhashBandPairs]] (the shuffle carries vectors, so
    * the split matters more). Factored for the scale audits. */
  private[graft] def bucketCosinePairs(bucketed: DataFrame): DataFrame = {
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("v_a"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", V.cosine_sim(col("v_a"), col("v_b")))
      .filter(col("cos") >= 0.99)
  }

  /** Oracle = the TRUE ≥0.99-cosine pair set (exhaustive O(N²) compare —
    * the oracle's privilege). Matching it proves the LSH recall is exact
    * on this corpus: planted duplicates are verbatim copies, which land
    * in identical sign-LSH buckets by construction.
    */
  val dd05Sql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $PlantOffset, embedding FROM embeddings
       |  WHERE vec_id % 25 = 0),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_cosine_similarity(a.embedding::DOUBLE[],
       |      b.embedding::DOUBLE[]) AS c
       |  FROM corpus a, corpus b WHERE a.vec_id < b.vec_id)
       |SELECT id_a, id_b, ROUND(c, 4) AS cos
       |FROM pairs WHERE c >= 0.99 ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- dd07
  /** Paragraph-level exact dedup (the RefinedWeb/Dolma pass): drop every
    * repeated paragraph corpus-WIDE, keep the first occurrence, reassemble
    * each doc from its surviving paragraphs in order. The corpus has no
    * paragraph breaks, so the unit is a fixed 10-word chunk — the same
    * operator, deterministic segmentation.
    *
    * Scale: the first occurrence per chunk hash is `min(struct(doc, pos,
    * chunk))` through a SHRINKING hash agg — map-side combine collapses a
    * boilerplate chunk (repeated corpus-wide) inside every partition
    * before the shuffle, where a window over md5(chunk) would pin all its
    * copies on one task (the t07/t12 lesson). The chunk frame is
    * checkpointed so one chunking pass feeds both the winners agg and the
    * per-doc totals; all three shuffles move compact keys.
    */
  /** (doc_id, pos, chunk, h): the planted corpus tokenized into 10-word
    * chunks with the chunk's md5 — the shared first pass of the
    * chunk-level passes (dd07 dedup, dd12 boilerplate strip).
    * localCheckpointed: every consumer aggregates it at least twice, and
    * re-chunking 100 TB of text per consumer branch is the expensive
    * half of either operator. The hash rides the checkpoint (round 16)
    * so the dedup/df decisions downstream run on NARROW (h, doc_id,
    * pos) rows and the text itself crosses exactly one exchange — the
    * doc_id reassembly (guide §2.3 "shuffle keys and metadata instead
    * of payloads").
    */
  private def chunked10(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.spread(plantedDocs(spark, dir))
    val toksDf = corpus.select(col("doc_id"),
      TextAnalysis.words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
    toksDf.select(col("doc_id"), explode(expr(
      """transform(sequence(0, int(floor((size(ws)-1)/10))),
        |  i -> named_struct('pos', i,
        |    'chunk', array_join(slice(ws, i*10+1, 10), ' ')))""".stripMargin))
      .as("c"))
      .select(col("doc_id"), col("c.pos").as("pos"), col("c.chunk").as("chunk"),
        md5(col("c.chunk")).as("h"))
      .localCheckpoint()
  }

  def dd07ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunked10(spark, dir)
    // struct min orders by (doc_id, pos) — unique, so this IS the
    // first-occurrence row, chunk text riding along for reassembly.
    // Two round-16 "narrow-decision" alternatives were A/B'd and
    // REVERTED: a per-doc collect_set + array_contains re-attach is
    // O(chunks) per chunk (official bench: CPU UP 10→13 s), and a
    // (doc_id, pos) semi-join re-attach re-reads the whole chunk
    // checkpoint and measured +17 % wall. The shrinking min-struct agg
    // stays the cheapest correct form; the only kept change is the
    // hash riding the shared checkpoint (md5 once, both consumers).
    val winners = chunks
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"), col("chunk"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.pos").as("pos"),
        col("f.chunk").as("chunk"))
    val totals = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val kept = winners.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x("chunk")), " ").as("clean_text"))
    totals.join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val dd07Sql: String =
    s"""WITH ${graft.functions.KernelOracleSql.corpusCte(PlantOffset)},
       |toks AS (
       |  SELECT doc_id,
       |    ${TextAnalysis.wordsSql("text")} AS ws
       |  FROM corpus WHERE len(${TextAnalysis.wordsSql("text")}) > 0),
       |chunks AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0,
       |      CAST(floor((len(ws)-1)/10) AS INT) + 1),
       |      i -> struct_pack(pos := i,
       |        chunk := array_to_string(ws[(i*10+1):(i*10+10)], ' ')))) AS c
       |  FROM toks),
       |ranked AS (
       |  SELECT doc_id, c.pos AS pos, c.chunk AS chunk,
       |    row_number() OVER (PARTITION BY md5(c.chunk)
       |                       ORDER BY doc_id, c.pos) AS rn
       |  FROM chunks)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
       |  COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
       |    ORDER BY pos), '') AS clean_text
       |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- dd12
  /** Boilerplate stripping — the frequency-threshold complement of
    * dd07: a 10-word chunk occurring in ≥ 3 DISTINCT documents is
    * boilerplate (headers, navigation, license blurbs — the C4/
    * RefinedWeb "repeated across many pages" rule), and EVERY
    * occurrence is removed, including the first. dd07 keeps first
    * occurrences — that is dedup; boilerplate has no privileged copy.
    * Docs are reassembled from surviving chunks in position order.
    *
    * Scale: the chunk pass is shared with dd07 ([[chunked10]]); chunk
    * doc-frequency is one (hash, doc) distinct + count shuffle of
    * HASHES, never text; and the boilerplate set (df ≥ 3) is
    * df-tail-sized — orders smaller than the corpus — so the removal is
    * a left_anti join whose build side AQE broadcasts, leaving chunk
    * rows in place. Exact distinct here because the oracle needs exact;
    * at 100 TB the documented swap is approx_count_distinct when df is
    * only thresholded, which drops the distinct's first shuffle stage.
    */
  def dd12Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunked10(spark, dir)
    val boiler = chunks
      .select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3L)
      .select(col("h"))
    val totals = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    // the boilerplate-removal anti-join keeps its ORIGINAL shape: the
    // build side is the df-tail-sized hash SET, which broadcasts at any
    // scale, so the chunk text never crosses an h-exchange here and
    // membership is an O(1) hash probe. (A round-16 experiment moved
    // the decision to a per-doc removed-pos list + array_contains and
    // was REVERTED: the list probe is O(chunks) per chunk — the
    // official bench measured CPU UP 17→23 s.) The h column now rides
    // the shared checkpoint, so the hash is computed once per chunk
    // for both consumers instead of twice.
    val kept = chunks
      .join(boiler, Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x("chunk")), " ").as("clean_text"))
    totals.join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val dd12Sql: String =
    s"""WITH ${graft.functions.KernelOracleSql.corpusCte(PlantOffset)},
       |toks AS (
       |  SELECT doc_id,
       |    ${TextAnalysis.wordsSql("text")} AS ws
       |  FROM corpus WHERE len(${TextAnalysis.wordsSql("text")}) > 0),
       |chunks AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0,
       |      CAST(floor((len(ws)-1)/10) AS INT) + 1),
       |      i -> struct_pack(pos := i,
       |        chunk := array_to_string(ws[(i*10+1):(i*10+10)], ' ')))) AS c
       |  FROM toks),
       |flat AS (SELECT doc_id, c.pos AS pos, c.chunk AS chunk FROM chunks),
       |dfreq AS (
       |  SELECT md5(chunk) AS h, COUNT(DISTINCT doc_id) AS df
       |  FROM flat GROUP BY 1)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  COUNT(CASE WHEN df < 3 THEN 1 END) AS n_kept,
       |  COALESCE(string_agg(CASE WHEN df < 3 THEN chunk END, ' '
       |    ORDER BY pos), '') AS clean_text
       |FROM flat JOIN dfreq ON md5(chunk) = h
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- dd13
  /** Cross-source duplication matrix — the provenance report a curation
    * team reads off the dup graph: for every (source, source) pair, how
    * many verified near-dup pairs straddle it. The diagonal is
    * within-source redundancy (crawl re-fetches, mirrors); the
    * off-diagonal names which sources plagiarize/syndicate each other —
    * the number that decides whether to drop a whole source versus
    * dedup it. Pairs are dd02's global MinHash-verified set; sources
    * are normalized to an unordered (least, greatest) key so the matrix
    * is triangular.
    *
    * Scale: the pair set is READ from the materialized dd02 artifact
    * ([[ensureMinhashPairArtifact]] — shingle/MinHash/LSH verification
    * runs once per corpus generation, not per consumer); the pair frame
    * is candidate-sized (≪ corpus) and joins the corpus-sized
    * (doc_id, source) projection by id — AQE broadcasts the pair side;
    * the matrix itself is |sources|² at most.
    */
  def dd13DupSources(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ensureMinhashPairArtifact(spark, dir)
      .select(col("id_a"), col("id_b"))
    val srcs = plantedDocs(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(srcs.select(col("doc_id").as("id_a"), col("source").as("sa")),
        "id_a")
      .join(srcs.select(col("doc_id").as("id_b"), col("source").as("sb")),
        "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val dd13Sql: String =
    s"""WITH pairs AS (
       |  SELECT id_a, id_b FROM (
       |${graft.functions.KernelOracleSql.dd02Sql(PlantOffset)})),
       |srcs AS (
       |  SELECT doc_id, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset, source FROM documents
       |  WHERE doc_id % 10 = 0)
       |SELECT source_a, source_b, COUNT(*) AS n_pairs,
       |  source_a <> source_b AS cross_source
       |FROM (
       |  SELECT least(a.source, b.source) AS source_a,
       |    greatest(a.source, b.source) AS source_b
       |  FROM pairs p
       |  JOIN srcs a ON a.doc_id = p.id_a
       |  JOIN srcs b ON b.doc_id = p.id_b)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- dd14
  /** Exact-substring dedup (Lee et al. 2022's removal pass — dd11 is
    * its diagnostic): any token span duplicated ANYWHERE in the corpus
    * (≥ 2 positional occurrences, same or different doc) and at least
    * 16 tokens long is removed from EVERY occurrence — unlike document
    * dedup there is no privileged copy, the duplicated TEXT itself is
    * what memorization/contamination rides on. Spans are found as
    * maximal runs of duplicated positional 8-grams: a gram is dup if
    * its global occurrence count ≥ 2; dup grams cover their 8 tokens;
    * maximal contiguous covered runs ≥ 16 tokens are cut and the doc
    * reassembled from the survivors.
    *
    * Scale: the dd11 shape — one tokenize pass (checkpointed), the
    * gram-count shuffle carries (hash, count) pairs, the flag join is
    * forced MERGE (the per-gram count frame is data-sized; broadcast
    * is a local-SF illusion), and the run detection windows over
    * (doc_id) partitions bounded by ONE DOC's token count — never a
    * corpus-sized key. Output ∝ corpus docs.
    *
    * Collision stance (ADVICE r8, closed VERDICT r9 #2): unlike dd11's
    * diagnostic fraction this operator MUTATES output text, so the dup
    * flag rides a PAIR of independent 64-bit hashes of the token slice
    * (xxhash64, and xxhash64 re-seeded by a literal prefix) while the
    * oracle compares gram STRINGS — a span is cut only when BOTH
    * hashes agree the gram repeats, pushing the false-cut probability
    * from ~n²/2⁶⁵ (real at 100 TB gram volume) to ~n²/2¹²⁹ (never).
    * The count shuffle carries 16 B of key instead of 8 — the entire
    * cost of the guard. The key constructors are injectable
    * ([[substringDedupCore]]) so the collision spec can force a total
    * primary-hash collision and prove the second hash keeps every
    * uncorrupted span.
    */
  def dd14SubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    val toksDf = Tables.spread(plantedDocs(spark, dir))
      .select(col("doc_id"),
        TextAnalysis.toks(col("text"))
          .as("ts"))
      .filter(size(col("ts")) > 0)
      .localCheckpoint(false) // reused: grams + final reassembly
    substringDedupCore(toksDf, dd14GramKeys, 16)
  }

  /** The production gram-key pair: xxhash64 of the separator-joined
    * slice, and the same bytes under an independent seed-prefixed
    * xxhash64 (the kernel-seam seeded-variant pattern). */
  private[graft] val dd14GramKeys: Seq[Column => Column] = {
    val sep = 31.toChar.toString // unit separator, built not embedded
    Seq(sl => xxhash64(concat_ws(sep, sl)),
      sl => xxhash64(lit(0x5eedL), concat_ws(sep, sl)))
  }

  /** dd14's span-removal core over a `(doc_id, ts)` token frame with
    * injectable gram-key constructors (each maps the 8-token slice
    * column to one key column; a gram is "duplicated" when the FULL
    * key tuple occurs ≥ 2 times corpus-wide). Factored so the
    * collision spec can degrade one key to a constant and prove the
    * others still decide correctly. */
  private[graft] def substringDedupCore(toksDf: DataFrame,
      keys: Seq[Column => Column], minSpan: Int): DataFrame = {
    val keyNames = keys.indices.map(j => s"g$j")
    val grams = toksDf.select(col("doc_id"), size(col("ts")).as("n"),
        posexplode(transform(
          sequence(lit(0), greatest(size(col("ts")) - 8, lit(0))),
          i => {
            val sl = slice(col("ts"), i + 1, least(lit(8), size(col("ts"))))
            struct(keys.zip(keyNames).map { case (f, nm) => f(sl).as(nm) }: _*)
          })))
      .select(Seq(col("doc_id"), col("n"), col("pos").as("i")) ++
        keyNames.map(nm => col(s"col.$nm")): _*)
      .localCheckpoint(false) // feeds the count agg AND the flag join
    val cnts = grams.groupBy(keyNames.map(col): _*).agg(count(lit(1)).as("c"))
    val covered = grams
      .join(cnts.filter(col("c") >= 2L).hint("merge"), keyNames)
      .select(col("doc_id"),
        explode(sequence(col("i"), least(col("i") + 7, col("n") - 1)))
          .as("t"))
      .distinct()
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("t"))
    // runs collapse to (start, end) SPANS via a shrinking agg (not a
    // second window — the §4 set-window rule), and reassembly tests
    // membership against the spans list: O(tokens × spans) per doc,
    // where a per-token removal list would be O(tokens × removed) — a
    // heavily-duplicated 100k-token doc is exactly the input this
    // operator exists for
    val rem = covered
      .withColumn("grp", col("t") - row_number().over(wRun))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("span"), min(col("t")).as("t0"),
        max(col("t")).as("t1"))
      .filter(col("span") >= minSpan)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("t0"), col("t1"))).as("spans"),
        sum(col("span")).as("n_rm"))
    toksDf.join(rem, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("ts")).cast(LongType).as("n_tokens"),
        coalesce(col("n_rm"), lit(0L)).as("n_removed"),
        array_join(filter(col("ts"), (x, i) => !exists(
          coalesce(col("spans"),
            array().cast("array<struct<t0:int,t1:int>>")),
          sp => i >= sp("t0") && i <= sp("t1"))), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Oracle over gram STRINGS (dd11's collision argument); DuckDB lambda
    * indices are 1-based where Spark's are 0-based — the `i - 1` in the
    * final filter is that conversion. */
  val dd14Sql: String =
    s"""WITH ${graft.functions.KernelOracleSql.corpusCte(PlantOffset)},
       |toks AS (
       |  SELECT doc_id,
       |    ${TextAnalysis.toksSql("text")} AS ts
       |  FROM corpus),
       |nz AS (SELECT * FROM toks WHERE len(ts) > 0),
       |gidx AS (
       |  SELECT doc_id, ts, len(ts) AS n,
       |    unnest(range(0, greatest(len(ts) - 8, 0) + 1)) AS i
       |  FROM nz),
       |grams AS (
       |  SELECT doc_id, n, i,
       |    array_to_string(ts[(i + 1):(i + least(8, n))], chr(31)) AS g
       |  FROM gidx),
       |cnts AS (SELECT g, COUNT(*) AS c FROM grams GROUP BY 1),
       |cov AS (
       |  SELECT DISTINCT doc_id, unnest(range(i, least(i + 8, n))) AS t
       |  FROM grams JOIN cnts USING (g) WHERE c >= 2),
       |runs AS (
       |  SELECT doc_id, t,
       |    t - row_number() OVER (PARTITION BY doc_id ORDER BY t) AS grp
       |  FROM cov),
       |spans AS (
       |  SELECT doc_id, COUNT(*) AS span, MIN(t) AS t0, MAX(t) AS t1
       |  FROM runs GROUP BY doc_id, grp
       |  HAVING COUNT(*) >= 16),
       |ra AS (
       |  SELECT doc_id, list(struct_pack(t0 := t0, t1 := t1)) AS sp,
       |    SUM(span) AS n_rm
       |  FROM spans GROUP BY 1)
       |SELECT nz.doc_id, CAST(len(nz.ts) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(ra.n_rm, 0) AS BIGINT) AS n_removed,
       |  COALESCE(array_to_string(list_filter(nz.ts, (x, i) ->
       |    len(list_filter(COALESCE(ra.sp, []),
       |      s -> i - 1 >= s.t0 AND i - 1 <= s.t1)) = 0), ' '), '')
       |    AS clean_text
       |FROM nz LEFT JOIN ra USING (doc_id) ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- dd15
  /** Paragraph-level FUZZY dedup — the gap between dd07 (exact at chunk
    * level) and dd02 (fuzzy at doc level): near-duplicate PARAGRAPHS
    * (quotes, templated intros, lightly-edited boilerplate) are the
    * remaining duplicated mass in a web corpus. Each 10-word chunk (the
    * shared [[chunked10]] segmentation) becomes a pseudo-doc keyed
    * doc_id·100000 + pos and runs through dd02's exact machinery:
    * 64-hash MinHash signature over its 3-shingles, 16×4 LSH banding
    * with the 2..50 bucket cap, signature-estimated Jaccard ≥ 0.5.
    * The planted corpus supplies the targets for free: a planted doc's
    * final chunk differs from its source's by one word (near-dup, found
    * fuzzy-only), every earlier chunk is an exact dup (est 1.0).
    *
    * Scale: chunk signatures are map-only over the checkpointed chunk
    * pass; the band shuffle carries (band-hash, cid) pairs; the 2..50
    * cap is the collision-entropy rule (§4), count-gated
    * ([[gatedBuckets]]) so an over-cap bucket never materializes.
    * Measured (r10, banding volumes): THIS corpus peaks at bucket size 28 —
    * under the cap at both sf0.1 and the synthesized sf1, every chain
    * volume exactly linear — so the cap bites nothing here; it guards
    * real-corpus boilerplate mass (dd12's df ≥ 3 chunks), which is
    * correct to drop: high-df chunks are boilerplate for dd12 to
    * strip, not pairs to enumerate. The oracle replicates the cap
    * exactly.
    */
  def dd15ParaMinhash(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunked10(spark, dir)
    val sigs = chunks.select(
        (col("doc_id") * 100000 + col("pos")).as("doc_id"),
        T.minhash_sig(col("chunk"), 64, 3).as("sig"))
      .transform(Tables.ckptNarrow(_)) // one kernel pass feeds banding + verify
    verifiedPairs(minhashCandidates(sigs), sigs, 0.5, "est_jaccard")
      .select(expr("id_a DIV 100000").as("doc_a"),
        pmod(col("id_a"), lit(100000L)).as("pos_a"),
        expr("id_b DIV 100000").as("doc_b"),
        pmod(col("id_b"), lit(100000L)).as("pos_b"),
        col("est_jaccard"))
      .orderBy(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))
  }

  // --------------------------------------------------------------- dd16
  /** INCREMENTAL ingest dedup — the production mode every other dedup
    * key abstracts away: a NEW crawl batch arrives and must be deduped
    * AGAINST the existing corpus without re-running dedup over the
    * corpus. The corpus's MinHash signatures are a materialized
    * artifact ([[ensureMinhashSigArtifact]], signed once per corpus
    * generation); the batch pays only its own map-only signature pass,
    * its bands probe the corpus index, and candidates verify by
    * signature-estimated Jaccard ≥ 0.5. Output is the operational
    * per-new-doc verdict: match count, best corpus match, keep flag.
    *
    * Planted batch: every `doc_id % 7 == 3` doc re-enters as a
    * "recrawl" (id +5M, last word trimmed — a near-dup that must be
    * caught) and every `doc_id % 7 == 5` doc as a genuinely new page
    * (id +6M, every token suffixed — textually disjoint, must be
    * kept); both planted classes are fully decided, specced.
    *
    * Scale: the corpus artifact is read twice, both passes map-only
    * into bounded sinks — (1) a hash-only band pass into the
    * map-side-combined bucket count (the cap: corpus buckets with
    * > 50 members are non-discriminative and dropped — dd02's
    * collision-entropy rule, one-sided because singleton corpus
    * buckets still legitimately match a new doc), and (2) a
    * sig-carrying band pass into the broadcast probe. The gate is
    * applied to the BATCH side BEFORE any pairing: surviving keys are
    * semi-joined down to those the batch actually hits (batch-bounded,
    * so broadcastable), then the batch bands are semi-filtered by
    * them — an over-cap or batch-missed corpus bucket never
    * pair-expands at all, and the probe's broadcast hash join drops
    * its rows map-side. Candidates verify IN PLACE off the pair row
    * (both sigs ride the probe), so there is no corpus join-back.
    * Nothing corpus-sized ever shuffles except the (key, n) bucket
    * counts; the only pair-sized shuffle is the candidate distinct,
    * bounded by cap × batch bands.
    *
    * Cross-engine (§5): bucket identity uses Spark's 64-bit band hash
    * vs the oracle's 4 raw signature values (dd15's
    * collision-negligibility argument); est = k/64 exact; the no-match
    * sentinel is (-1, 0.0), not NULL, so the hash compare never meets
    * engine-null encodings.
    */
  /** dd16's corpus probe, factored for the st15 ingestion twin:
    * candidates of a small batch signature frame `(nid, nsig)` against
    * a corpus signature frame `(cid, csig)` through the one-sided
    * capped band index, verified IN PLACE — output `(nid, cid, est)`
    * at est ≥ 0.5. `batchSigs` must be materialized (checkpointed) and
    * batch-sized: every batch-derived frame here broadcasts.
    *
    * Scale (the dd16 analysis): the corpus is read twice, both passes
    * map-only into bounded sinks — (1) hash-only bands into the
    * map-side-combined bucket count (one-sided ≤ 50 cap: over-cap
    * corpus buckets are non-discriminative; singletons still match),
    * (2) sig-carrying bands into the broadcast probe. The gate is
    * applied BEFORE any pairing; nothing corpus-sized shuffles except
    * (key, n) counts; the only pair-sized shuffle is the candidate
    * distinct, bounded by cap × batch bands.
    */
  private[graft] def corpusProbeMatches(corpusSigs: DataFrame,
      batchSigs: DataFrame): DataFrame = {
    // batch bands carry nsig so candidates verify in place (the frame
    // is batch-sized — broadcast payload, never shuffled)
    val batchBands = bandRows(batchSigs, "nsig", "nid", "nsig")
    val okKeys = bandRows(corpusSigs, "csig")
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= 50)
      .join(broadcast(batchBands.select(col("band"), col("bh")).distinct()),
        Seq("band", "bh"), "left_semi")
    val gatedBatchBands = batchBands
      .join(broadcast(okKeys), Seq("band", "bh"), "left_semi")
    // probe: the second corpus band pass carries csig; the broadcast
    // hash join drops non-candidate rows map-side, so only candidate
    // pairs (bounded by cap × batch bands) reach the distinct shuffle.
    // est is computed and thresholded BEFORE that shuffle (round 12):
    // the kernel is 64 int comparisons per band collision (≤ 16 per
    // pair — cheap), while distinct-ing on the signature PAIR shuffles
    // two 64-long arrays per candidate; verifying map-side cuts the
    // exchange to the matching (nid, cid, est) triples only (measured
    // 1.35× on st15's probe at sf0.1, identical output — est is a
    // pure function of the pair, so duplicates collapse identically)
    bandRows(corpusSigs, "csig", "cid", "csig")
      .join(broadcast(gatedBatchBands), Seq("band", "bh"))
      .select(col("nid"), col("cid"),
        estJaccard(col("csig"), col("nsig")).as("est"))
      .filter(col("est") >= 0.5)
      .distinct()
  }

  def dd16IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    // spread BEFORE the kernel (dd02's rule): the batch signature pass
    // below otherwise runs on the raw scan's split count — the
    // repartition barrier after the kernel only spreads its output
    val base = Tables.spread(Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")))
    val ws = TextAnalysis.words(col("text"))
    val batch = base.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          TextAnalysis.dropLastWord(col("text")).as("text"))
      .unionAll(base.filter(col("doc_id") % 7 === 5)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          array_join(transform(ws, w => concat(w, lit("~new"))), " ")
            .as("text")))
    val corpusSigs = ensureMinhashSigArtifact(spark, dir)
      .select(col("doc_id").as("cid"), col("sig").as("csig"))
    // batch signatures: map-only, then a barrier — the sig feeds both
    // the band probe and the verify join (the t17 lesson: without it,
    // projection collapse re-runs the kernel per candidate)
    // localCheckpoint, not a repartition barrier: the sig frame feeds
    // THREE differently-pruned consumers (band keys for the gate,
    // nid+nsig bands for the probe, the nid-only verdict frame) —
    // per-consumer column pruning defeats exchange reuse and re-ran
    // the kernel per consumer (measured: 4 text scans). The batch is
    // small by the operator's own premise (it broadcasts), so
    // materializing its 512 B/doc signatures is the s09 query-sized
    // checkpoint discipline, and the kernel provably runs once.
    // ckptNarrow coalesces AFTER the checkpoint (the kernel materializes
    // at the spread parallelism): the 512 B/doc signature frame feeds
    // its band/verify consumers from a few partitions — near-1×R
    // shuffle blocks (guide §2.2) without serializing the banding at
    // larger SFs (sf1 decade check)
    val batchSigs = Tables.ckptNarrow(batch.select(col("doc_id").as("nid"),
        T.minhash_sig(col("text"), 64, 3).as("nsig")), 8)
    val est = corpusProbeMatches(corpusSigs, batchSigs)
    val verdicts = est.groupBy(col("nid"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("est"), (-col("cid")).as("nc"))).as("b"))
    // the full-batch id frame comes off the signature barrier, not a
    // second text-bearing scan of the batch construction
    batchSigs.select(col("nid").as("new_id"))
      .join(broadcast(verdicts), col("new_id") === col("nid"), "left_outer")
      .select(col("new_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce((-col("b.nc")).cast("long"), lit(-1L)).as("best_match_id"),
        coalesce(col("b.est"), lit(0.0d)).as("best_est"))
      .withColumn("keep", col("n_matches") === 0L)
      .orderBy(col("new_id"))
  }

  // --------------------------------------------------------------- dd17
  /** LSH S-curve calibration — the audit that closes the dedup
    * family's loop: DID the 16×4 MinHash banding catch what exact
    * Jaccard says it should? Ground truth = exact 3-shingle Jaccard
    * over every pair sharing a shingle (dd04's inverted-index
    * machinery run corpus-wide: the same-source key degenerates to a
    * constant), J ≥ 0.1; measured = dd02's capped candidate set on
    * the same corpus and the same shingle definition
    * (apples-to-apples). Output per Jaccard decile: pair count,
    * caught count, and the theoretical detection probability
    * p = 1 − (1 − s⁴)¹⁶ at the bucket midpoint — the S-curve every
    * LSH parameter choice is graded against (Leskovec MMDS §3.4).
    *
    * Cross-engine (§5): counts are exact integers; the bucket floor
    * runs on the identical integer-ratio double in both engines with
    * textually parallel expressions; the THEORY column is 6dp
    * driver-side literals inlined into both engines (the p11
    * parameters-as-literals rule — `pow` is a libm call with no
    * cross-engine bit guarantee).
    *
    * Scale: one capped inverted-index shuffle (the dd04 analysis) +
    * dd02's banding; output is 9 rows. At 100 TB this diagnostic runs
    * on a corpus SAMPLE (p02's hash sample) — calibration is a
    * statistical property, not a per-doc verdict; the full-corpus
    * form here is the oracle-checkable exact build.
    */
  private[graft] val lshTheory: Seq[(Long, Double)] =
    (1L to 9L).map { b =>
      val s = b / 10.0 + 0.05
      val s4 = s * s * s * s
      b -> BigDecimal(1 - math.pow(1 - s4, 16))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

  /** The graded similarity ladder: every m-th token substituted gives
    * true 3-shingle Jaccard ≈ (m−3)/(m+3) (each substitution kills
    * the 3 shingles covering it), so these eight levels land pairs
    * across deciles ~1..8; the %10 trims supply decile 9. Without the
    * ladder this corpus has almost no pairs below J 0.8 (measured:
    * 81 natural pairs total) and the S-curve's falloff — the whole
    * point of the audit — would go unexercised. */
  private[graft] val dd17Levels: Seq[(Int, Int)] =
    Seq(4, 5, 6, 7, 10, 13, 18, 28).zipWithIndex
      .map { case (m, i) => (m, i + 1) }

  private[graft] def dd17Corpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val ws = TextAnalysis.words(col("text"))
    val trims = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 29000000L).as("doc_id"),
        TextAnalysis.dropLastWord(col("text")).as("text"))
    dd17Levels.foldLeft(base.unionAll(trims)) { case (acc, (m, r)) =>
      acc.unionAll(base.filter(col("doc_id") % 31 === r)
        .select((col("doc_id") + (20L + r) * 1000000L).as("doc_id"),
          array_join(transform(ws, (w, i) =>
            when((i + 1) % m === 0, lit("xq")).otherwise(w)), " ")
            .as("text")))
    }
  }

  def dd17LshCalibration(spark: SparkSession, dir: String): DataFrame = {
    // build the planted corpus ONCE: the union has one base branch per
    // dilution level, and both consumers (truth side, signature side)
    // re-expanded every branch against its own parquet scan — 30 text
    // scans in the executed plan (PlanSweep multi_text_scans, round-12).
    // Footprint note (review r12): this caches ~1.6× the corpus TEXT on
    // executor-local storage — accepted for a calibration AUDIT that
    // runs per parameter choice, not per corpus build; the per-corpus
    // production keys cache only narrow frames (sigs/shingle arrays).
    val planted = dd17Corpus(spark, dir).localCheckpoint(false)
    // shrink 1: dd17's truth side is ~10 corpus branches wide and its
    // posting partial-agg is the per-key bottleneck — keep full width
    val truth = commonCounts(planted.withColumn("source", lit("all")), 1)
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= 0.1)
      .select(col("id_a"), col("id_b"),
        least(floor(col("jaccard") * 10), lit(9L)).as("bucket"))
    // no barrier on sigs here: it has ONE consumer (the banding), so a
    // checkpoint would be pure materialization overhead — the planted
    // corpus checkpoint above is what both sides share
    val sigs = Tables.spread(planted)
      .select(col("doc_id"), T.minhash_sig(col("text"), 64, 3).as("sig"))
    val cand = minhashCandidates(sigs).withColumn("caught", lit(1L))
    val theory = lshTheory.foldLeft(lit(0.0d)) { case (acc, (b, p)) =>
      when(col("bucket") === b, lit(p)).otherwise(acc)
    }
    truth.join(cand, Seq("id_a", "id_b"), "left_outer")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("theory_p", theory)
      .orderBy(col("bucket"))
  }

  // --------------------------------------------------------------- dd18
  /** Bloom exact-dup PREFILTER — the cheap gate in front of the
    * signature probe (dd16/st15): a recrawled page that re-enters
    * VERBATIM should never reach MinHash machinery; one fingerprint
    * and four bit tests decide it. This is `spark.util.sketch`'s
    * BloomFilter shape re-expressed in exact oracle-checkable
    * arithmetic: k = 4 positions per doc by Kirsch-Mitzenhauer double
    * hashing off the t04 rolling fingerprint (h1 = low 16 bits,
    * h2 = next 16 | 1, p_i = (h1 + i·h2) mod 2¹⁶), an m = 2¹⁶-bit
    * bitmap built in ONE corpus pass (positions → distinct → driver
    * collect, bounded by m — model-parameter-sized state, the s04
    * precedent), and a map-only wave probe against the bitmap
    * literal. Bloom guarantees: NO false negative (every verbatim
    * re-post hits — structural, specced); false positives at the
    * theoretical (fill)⁴ rate (~9e-7 at this corpus's ~3 % fill, so
    * zero observed — the spec pins the structural direction, not a
    * vacuous rate). Trimmed recrawls and suffixed new pages miss:
    * exact-dup gating is the LIMIT that motivates the signature probe
    * behind it.
    *
    * Cross-engine (§5): the bitmap bit for position p is set iff p is
    * in the corpus's distinct position set, so the oracle replicates
    * membership set-theoretically — no bit-layout dependence; all
    * position algebra is exact integers off the bit-exact t04 chain.
    *
    * Sizing (round 13, VERDICT r12 #4): m is a FUNCTION OF THE CORPUS —
    * 16 bits per document rounded up to a 2¹⁶-bit granule
    * (m = max(2¹⁶, ⌈16n/2¹⁶⌉·2¹⁶), one scalar count() to learn n), so
    * fill stays ≈ 1−e^(−k/16) ≈ 0.22 and fp ≈ fill⁴ ≈ 2.4e-3 at ANY
    * corpus size instead of saturating at 100×. h1/h2 draw from the
    * fingerprint's unsigned 32-bit halves (mod m — m ≤ 2³² required,
    * loudly), which keeps every value reproducible in DuckDB's
    * unsigned lane. The bitmap words are built BY AGGREGATE
    * (per-word bit_or, ≤ m/64 rows) and only then collected — the
    * driver sketch is word-count-bounded, and past
    * `driverBitmapMaxBits` the probe switches to the distributed form:
    * wave positions join the distinct corpus-position frame directly
    * (set-identical to the bitmap test — AQE broadcasts the set while
    * it is small, shuffles when it is not). Saturation degrades to a
    * pass-everything no-op, NEVER a wrong answer (no false negatives
    * by construction at any fill — specced at forceM = 64).
    *
    * Scale: corpus pays one map-only fingerprint pass into a
    * shrinking distinct (≤ m rows shuffle); the wave probe is
    * map-only while the bitmap literal fits the plan, and a
    * data-sized position join beyond; true_dup is a hash-only (md5)
    * broadcast-able join for the audit column.
    */
  def dd18BloomPrefilter(spark: SparkSession, dir: String,
      forceM: Option[Long] = None,
      driverBitmapMaxBits: Long = 1L << 20): DataFrame = {
    val base = Tables.spread(Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")))
    val ws = TextAnalysis.words(col("text"))
    // the wave's three mutation branches ride ONE text scan (round 15,
    // VERDICT r14 #4 — the old 3-way filtered union re-read text per
    // branch): %7 is single-valued so the CASE branches are exactly
    // the old disjoint union, and the presentation sort restores the
    // old order
    val sel = col("doc_id") % 7
    val wave = base.filter(sel.isin(2, 3, 5))
      .select(
        (col("doc_id") + when(sel === 2, 4000000L)
          .when(sel === 3, 5000000L).otherwise(6000000L)).as("doc_id"),
        when(sel === 2, col("text"))
          .when(sel === 3, TextAnalysis.dropLastWord(col("text")))
          .otherwise(array_join(
            transform(ws, w => concat(w, lit("~new"))), " ")).as("text"))
    // n is a scalar model parameter (the s04 precedent): ONE count()
    // action sizes the filter before the plan is built
    val n = base.count()
    val m = forceM.getOrElse(
      math.max(65536L, ((16L * n + 65535L) / 65536L) * 65536L))
    require(m <= (1L << 32),
      s"dd18: bitmap of $m bits for n=$n docs exceeds the 32-bit " +
        "position space — widen the fingerprint-derived hashes first")
    def h1h2(fp: Column): (Column, Column) = (
      pmod(fp.bitwiseAND(lit(4294967295L)), lit(m)),
      pmod(shiftrightunsigned(fp, 32), lit(m)).bitwiseOR(lit(1L)))
    def positions(fp: Column): Seq[Column] = {
      val (h1, h2) = h1h2(fp)
      (0 until 4).map(i => pmod(h1 + lit(i.toLong) * h2, lit(m)))
    }
    // ONE corpus text pass computes BOTH sketch inputs (round 15,
    // VERDICT r14 #4 — positions and md5 each re-scanned text before);
    // the checkpointed frame is 40 B/doc (fp + md5), the t18/dd12
    // corpus-checkpoint discipline
    val corp = base.select(
        T.rolling_fingerprint(col("text")).as("fp"),
        md5(col("text")).as("h"))
      .transform(Tables.ckptNarrow(_))
    val corpusPos = corp
      .select(explode(array(positions(col("fp")): _*)).as("p"))
      .distinct()
    val ctext = corp.select(col("h")).distinct()
      .withColumn("td", lit(true))
    val (h1, h2) = h1h2(T.rolling_fingerprint(col("text")))
    val probe =
      if (m <= driverBitmapMaxBits) {
        // bitmap words by AGGREGATE, then a word-count-bounded collect
        val words = corpusPos
          .groupBy((col("p") / 64).cast(LongType).as("w"))
          .agg(expr("bit_or(shiftleft(1L, cast(p % 64 as int)))").as("bits"))
          .collect()
        val bitmap = new Array[Long]((m / 64).toInt)
        words.foreach(r => bitmap(r.getLong(0).toInt) = r.getLong(1))
        wave.select(col("doc_id").as("new_id"), h1.as("h1"), h2.as("h2"),
            md5(col("text")).as("h"))
          .withColumn("bm", lit(bitmap))
          .withColumn("bloom_hit", expr(
            s"""aggregate(sequence(0, 3), true, (acc, i) ->
               |  acc AND ((shiftright(element_at(bm,
               |      cast(((h1 + i * h2) % $m) DIV 64 as int) + 1),
               |    cast(((h1 + i * h2) % $m) % 64 as int)) & 1) = 1))"""
              .stripMargin))
      } else {
        // distributed probe: the wave's 4 positions against the corpus
        // position frame — the same set-membership test, data-sized
        val wp = wave.select(col("doc_id").as("new_id"),
            md5(col("text")).as("h"),
            posexplode(array(positions(
              T.rolling_fingerprint(col("text"))): _*)))
          .withColumnRenamed("pos", "i").withColumnRenamed("col", "p")
        wp.join(corpusPos.withColumn("in_set", lit(1L)), Seq("p"),
            "left_outer")
          .groupBy(col("new_id"), col("h"))
          .agg((sum(when(col("in_set").isNotNull, 1L).otherwise(0L))
            === 4L).as("bloom_hit"))
      }
    probe
      .join(ctext, Seq("h"), "left_outer")
      .select(col("new_id"), col("bloom_hit"),
        coalesce(col("td"), lit(false)).as("true_dup"))
      .orderBy(col("new_id"))
  }

  // ------------------------------------------------------------ registry
  // --------------------------------------------------------------- dd08
  /** URL-canonicalization dedup — the provenance-level dedup pass every
    * web corpus runs before content dedup: the same page fetched as
    * `HTTPS://WWW.Site.com/p?utm_source=x#frag` and `https://site.com/p/`
    * is ONE document. URLs are PLANTED as three variants per logical
    * page (tracking params / trailing slash / www + fragment + case);
    * canonicalization must collapse exactly those. Map-only string
    * chain + one groupBy(canonical) — shuffle ∝ distinct pages.
    */
  def dd08UrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("HTTPS://Site"), (col("doc_id") % 5).cast("string"),
          lit(".Example.com/page"), (col("doc_id") % 20).cast("string"),
          lit("?utm_source=feed&utm_campaign=x")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("https://site"), (col("doc_id") % 5).cast("string"),
          lit(".example.com/page"), (col("doc_id") % 20).cast("string"),
          lit("/")))
      .otherwise(
        concat(lit("https://www.site"), (col("doc_id") % 5).cast("string"),
          lit(".example.com/page"), (col("doc_id") % 20).cast("string"),
          lit("#section-2")))
    val canon =
      regexp_replace( // trailing slash
        regexp_replace( // strip www.
          regexp_replace( // strip query + fragment
            lower(url), "[?#].*$", ""),
          "://www\\.", "://"),
        "/$", "")
    docs.select(col("doc_id"), canon.as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("canonical_url"))
  }

  val dd08Sql: String =
    """WITH urls AS (
      |  SELECT doc_id, CASE
      |    WHEN doc_id % 3 = 0 THEN
      |      'HTTPS://Site' || (doc_id % 5) || '.Example.com/page' ||
      |      (doc_id % 20) || '?utm_source=feed&utm_campaign=x'
      |    WHEN doc_id % 3 = 1 THEN
      |      'https://site' || (doc_id % 5) || '.example.com/page' ||
      |      (doc_id % 20) || '/'
      |    ELSE
      |      'https://www.site' || (doc_id % 5) || '.example.com/page' ||
      |      (doc_id % 20) || '#section-2'
      |    END AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(lower(url),
      |      '[?#].*$', ''), '://www\.', '://'), '/$', '') AS canonical_url
      |  FROM urls)
      |SELECT canonical_url, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
      |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  // --------------------------------------------------------------- dd09
  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with a coarse quantizer, then drop any
    * vector whose cosine to a LOWER-id member of the SAME cluster crosses
    * the threshold — near-duplicate semantics without an all-pairs
    * compare. The quantizer is s02's: 8 seeded deterministic corpus picks
    * (Similarity.scala s02Ivf), nearest-cell by cosine with c_id
    * tie-break, so build and oracle agree exactly. Planted: dd05's
    * verbatim copies (same cell by construction, cosine 1).
    *
    * Scale: assignment is a map-only fold over the broadcast centroid
    * array (no exchange at all — the k×N candidate expansion never
    * materializes); the dup check is a within-cell self-join fed by ONE
    * cell-keyed shuffle both sides reuse, shuffle ∝ Σ|cell|·avg-members.
    * Cell sizes are
    * the knob: at corpus scale the centroid count grows ∝ N/target-cell
    * (SemDeDup runs k ≈ 11k on LAION), keeping every cell's pair work
    * bounded — same discipline as dd02's LSH band caps. The left-semi
    * join short-circuits on the first lower-id match, so a pathological
    * all-same-cell corpus degrades to AQE-split skew, not O(N²) output.
    */
  def dd09SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "embeddings")
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionAll(base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + PlantOffset).as("vec_id"), col("embedding")))
    val centroids = Similarity.ivfCentroids(base)
    // Nearest-cell assignment: Similarity.assignCells — a map-only fold
    // over the c_id-sorted broadcast centroid array (lowest-c_id wins
    // ties, exactly the oracle's (cos DESC, c_id ASC) window order),
    // zero exchange. Then a barrier ON THE JOIN KEY: both self-join
    // sides reuse this one exchange, and the cell-keyed join needs no
    // further shuffle when the right side is too big to broadcast — one
    // corpus shuffle total at any scale.
    val assigned = Similarity.assignCells(corpus, centroids, col("embedding"))
      .select(col("vec_id"), col("embedding"), col("cell"))
      .repartition(col("cell"))
    val a = assigned.select(col("cell"), col("vec_id"), col("embedding"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_vec"))
    a.join(b,
        a("cell") === b("cell") && b("b_id") < a("vec_id") &&
          V.cosine_sim(a("embedding"), b("b_vec")) >= 0.99,
        "left_semi")
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }

  /** Oracle replicates build + dup test declaratively (same centroid
    * picks, same tie-breaks — the s02 discipline): the planted copies
    * are the exact expected drop set on this corpus. */
  val dd09Sql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $PlantOffset, embedding FROM embeddings
       |  WHERE vec_id % 25 = 0),
       |cent AS (${Similarity.centroidsSql("embeddings",
         "embedding::DOUBLE[]")}),
       |assigned AS (${Similarity.nearestCellsSql("corpus", "vec_id",
         "embedding::DOUBLE[]", Seq("vec_id", "embedding"), "cent", 1)})
       |SELECT a.vec_id, a.cell FROM assigned a
       |WHERE EXISTS (SELECT 1 FROM assigned b
       |  WHERE b.cell = a.cell AND b.vec_id < a.vec_id
       |    AND list_cosine_similarity(a.embedding::DOUBLE[],
       |      b.embedding::DOUBLE[]) >= 0.99)
       |ORDER BY a.vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd18_bloom_prefilter" ->
      ((s: SparkSession, d: String) => dd18BloomPrefilter(s, d)),
    "dd17_lsh_calibration" -> (dd17LshCalibration _),
    "dd16_incremental_dedup" -> (dd16IncrementalDedup _),
    "dd15_para_minhash" -> (dd15ParaMinhash _),
    "dd11_dup_gram_frac" -> (dd11DupGramFrac _),
    "dd12_boilerplate" -> (dd12Boilerplate _),
    "dd13_dup_sources" -> (dd13DupSources _),
    "dd14_substring_dedup" -> (dd14SubstringDedup _),
    "dd10_containment" -> (dd10Containment _),
    "dd09_semantic_dedup" -> (dd09SemanticDedup _),
    "dd08_url_dedup" -> (dd08UrlDedup _),
    "dd07_para_dedup" -> (dd07ChunkDedup _),
    "dd01_dedup_exact" -> (dd01Exact _),
    "dd02_dedup_minhash" -> (dd02MinHash _),
    "dd03_dedup_simhash" -> (dd03SimHash _),
    "dd04_ngram_jaccard" -> (dd04NgramJaccard _),
    "dd05_dedup_embedding" -> (dd05Embedding _),
    "dd06_dedup_clusters" -> (dd06Clusters _))

  /** All five SQL-gated: dd02/dd03's custom 64-bit kernels are replicated
    * bit-exactly in DuckDB via HUGEINT mod-2^64 arithmetic
    * (graft.functions.KernelOracleSql).
    */
  val oracle: Map[String, String] = Map(
    "dd18_bloom_prefilter" -> graft.functions.KernelOracleSql.dd18Sql,
    "dd17_lsh_calibration" ->
      graft.functions.KernelOracleSql.dd17Sql(dd17Levels, lshTheory),
    "dd16_incremental_dedup" -> graft.functions.KernelOracleSql.dd16Sql,
    "dd15_para_minhash" ->
      graft.functions.KernelOracleSql.dd15Sql(PlantOffset),
    "dd11_dup_gram_frac" -> dd11Sql,
    "dd12_boilerplate" -> dd12Sql,
    "dd13_dup_sources" -> dd13Sql,
    "dd14_substring_dedup" -> dd14Sql,
    "dd10_containment" -> dd10Sql,
    "dd09_semantic_dedup" -> dd09Sql,
    "dd08_url_dedup" -> dd08Sql,
    "dd07_para_dedup" -> dd07Sql,
    "dd01_dedup_exact" -> dd01Sql,
    "dd02_dedup_minhash" -> graft.functions.KernelOracleSql.dd02Sql(PlantOffset),
    "dd03_dedup_simhash" -> graft.functions.KernelOracleSql.dd03Sql(PlantOffset),
    "dd04_ngram_jaccard" -> dd04Sql,
    "dd05_dedup_embedding" -> dd05Sql,
    "dd06_dedup_clusters" -> dd06Sql)
}
