package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal column plumbing (SURVEY.md §2.3): image/audio/video as
  * opaque `binary` columns + typed metadata, with decode / feature
  * extraction / resize / frame-sample stages.
  *
  * The decode step is STUBBED (no codec libraries in this container) with
  * a deterministic fake: payload bytes are synthesized from the documents
  * table, "decoding" computes a 16-bin byte histogram as the feature
  * vector, "resize" subsamples the payload, "frame sampling" takes every
  * k-th 256-byte block. Everything Spark-side is real and load-bearing:
  * the schema (binary + struct metadata), the typed Dataset encoders, and
  * the per-partition batch shape.
  *
  * Scale: mapPartitions (not per-row UDF) so a real decoder would amortize
  * its init (model load, JNI context) once per partition — the same
  * contract as Pandas-UDF batches; binary payloads never shuffle (all
  * derived columns are computed map-side before any exchange).
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte],
      width: Int, height: Int)
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int, checksum: Long,
      features: Array[Float])

  /** STUB decoder — deterministic fake standing in for an image/audio
    * codec (`???` boundary). Real plumbing, fake math.
    */
  private def decodeStub(payload: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < payload.length) {
      hist((payload(i) & 0xff) >> 4) += 1f
      i += 1
    }
    if (payload.length > 0) {
      var j = 0
      while (j < 16) { hist(j) /= payload.length; j += 1 }
    }
    hist
  }

  /** STUB resize: subsample every stride-th byte ("pixel"). */
  private def resizeStub(payload: Array[Byte], stride: Int): Array[Byte] = {
    val out = new Array[Byte]((payload.length + stride - 1) / stride)
    var i = 0
    while (i < out.length) { out(i) = payload(i * stride); i += 1 }
    out
  }

  /** STUB frame sampler: every k-th 256-byte block is a "frame". */
  private def sampleFrames(payload: Array[Byte], k: Int): Int = {
    val frames = payload.length / 256
    if (frames == 0) 0 else (frames + k - 1) / k
  }

  /** The decode → feature-extract → resize → frame-sample pipeline over
    * synthesized media rows, shared by m01/m02.
    */
  private def mediaFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    val media: Dataset[MediaRow] = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        // deterministic modality mix + fake payload from the text bytes
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("doc_id") % 64 + 16).cast("int").as("width"),
        (col("doc_id") % 48 + 16).cast("int").as("height"))
      .as[MediaRow]

    media.mapPartitions { rows =>
      // a real decoder would init its codec/model HERE, once per partition
      rows.map { r =>
        val resized = resizeStub(r.payload, 4)
        MediaFeatures(
          doc_id = r.doc_id,
          media_type = r.media_type,
          n_bytes = r.payload.length.toLong,
          width = r.width,
          height = r.height,
          n_frames =
            if (r.media_type == "video") sampleFrames(r.payload, 2) else 1,
          checksum = resized.foldLeft(0L)((h, b) => h * 31 + (b & 0xff)),
          features = decodeStub(r.payload))
      }
    }
  }

  /** m01: the metadata/plumbing half of the pipeline — every column is
    * SQL-expressible, so the DuckDB oracle re-derives modality, byte
    * count, dimensions and frame count from the documents table.
    */
  def m01(spark: SparkSession, dir: String): DataFrame =
    mediaFeatures(spark, dir)
      .toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"))
      .orderBy(col("doc_id"))

  /** Oracle: media_type/n_bytes/width/height re-derived in SQL; n_frames
    * replicates sampleFrames(payload, 2) = ceil((bytes/256)/2) for video.
    * strlen() is DuckDB's BYTE length of a VARCHAR = UTF-8 payload size.
    */
  val m01Sql: String =
    """SELECT doc_id,
      |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  CAST(doc_id % 64 + 16 AS BIGINT) AS width,
      |  CAST(doc_id % 48 + 16 AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 3 + 1 = 3
      |    THEN CASE WHEN strlen(text) // 256 = 0 THEN 0
      |              ELSE (strlen(text) // 256 + 1) // 2 END
      |    ELSE 1 END AS BIGINT) AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  /** m02: the decoded-feature half — stub-codec outputs summarized to
    * scalars. Fully SQL-gated: the corpus is pure ASCII, so DuckDB
    * re-derives the payload bytes as codepoints and replicates the
    * checksum fold (mod-2^64) and the float32 histogram exactly
    * (KernelOracleSql.m02Sql). The only f32 quantization point is the
    * stub histogram itself; the l2 summary accumulates in double on
    * both sides.
    */
  def m02(spark: SparkSession, dir: String): DataFrame = {
    mediaFeatures(spark, dir)
      .toDF()
      .select(col("doc_id"), col("media_type"), col("checksum"),
        round(sqrt(aggregate(col("features"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
          .as("feat_l2"),
        size(filter(col("features"), x => x > 0f)).cast("long")
          .as("feat_nonzero"))
      .orderBy(col("doc_id"))
  }

  /** m03: the frame-EXPLOSION half of frame sampling — m01 counts
    * sampled frames; a real video pipeline emits one ROW per sampled
    * frame for downstream per-frame feature extraction and dedup. Every
    * 2nd 256-byte block of each video payload becomes a frame row with
    * a content key (the per-frame dedup handle).
    *
    * Scale: frames ≫ videos, so the explode must not buffer — it's a
    * Generate over a never-empty sequence (explode_outer per the
    * generator-hygiene rule in SURVEY §4), all derived columns map-side;
    * memory is bounded by one frame, not one video.
    */
  def m03(spark: SparkSession, dir: String): DataFrame = {
    val vids = graft.Tables(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2) // the video third of the mix
      .select(col("doc_id"), col("text"),
        (length(col("text")) / lit(256)).cast("int").as("nf"))
      .filter(col("nf") > 0)
    vids
      .select(col("doc_id"), col("text"),
        explode_outer(sequence(lit(0), col("nf") - 1, lit(2))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(expr("substring(text, frame_idx * 256 + 1, 256)")).as("frame_key"),
        length(expr("substring(text, frame_idx * 256 + 1, 256)"))
          .cast("long").as("frame_bytes"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Oracle: same blocks via substr arithmetic (ASCII corpus: byte ==
    * char), same sampling stride.
    */
  val m03Sql: String =
    """WITH vids AS (
      |  SELECT doc_id, text, CAST(strlen(text) // 256 AS INT) AS nf
      |  FROM documents
      |  WHERE doc_id % 3 = 2 AND strlen(text) // 256 > 0),
      |frames AS (
      |  SELECT doc_id, text, UNNEST(range(0, nf, 2)) AS frame_idx FROM vids)
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  md5(substr(text, CAST(frame_idx * 256 + 1 AS INT), 256)) AS frame_key,
      |  CAST(strlen(substr(text, CAST(frame_idx * 256 + 1 AS INT), 256))
      |    AS BIGINT) AS frame_bytes
      |FROM frames ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- m04
  /** Exact media dedup: identical binary payloads collapse to the
    * lowest-id copy — the asset-level dedup every multimodal corpus runs
    * before feature extraction (same bytes = same image, however many
    * pages embedded it). The p01 keep-min shape on a BINARY column: one
    * shrinking hash agg on md5(payload), map-side partial combine, the
    * payload itself never shuffles (only its digest does).
    */
  def m04(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .groupBy(md5(col("payload")).as("h"))
      .agg(min(struct(col("doc_id"), col("media_type"))).as("f"),
        count(lit(1)).as("n_copies"))
      .select(col("f.doc_id").as("doc_id"),
        col("f.media_type").as("media_type"), col("n_copies"))
      .orderBy(col("doc_id"))

  /** Oracle: payload bytes are the UTF-8 text bytes, so md5(payload) ==
    * md5(text); the kept row's media type re-derives from the kept id.
    */
  val m04Sql: String =
    """SELECT doc_id,
      |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)]
      |    AS media_type,
      |  n_copies
      |FROM (
      |  SELECT doc_id,
      |    COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
      |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Shared oracle CTE chain (m05/m06/m07/m08/m09/m11): `bm` (the same
    * hardcoded ×1000 integer DCT-II basis as TextHashes.DctBasis) +
    * the codepoint histogram as a MAP (`list_aggregate 'histogram'` —
    * one O(len) pass instead of the old per-bin rescan) + the DCT as
    * its SEPARABLE form (g[u][mv] = Σ_v b[mv][v]·h[8u+v], then
    * coef = Σ_u b[mu][u]·g[u][mv] — 8× fewer multiplies) +
    * `outCte`(carry…, ph). All-integer, so the refactor is EXACT:
    * A/B'd bit-identical against the dense form on the sf0.01 corpus,
    * 21× faster (round 15, VERDICT r14 #7 — this chain dominated the
    * sf1 gate's m07 straggler). One definition for every replica
    * (ADVICE-class fix, round 9). */
  private def dctSignCtes(srcCte: String, textCol: String,
      carry: Seq[String], outCte: String): String = {
    val cs = carry.mkString(", ")
    s"""bm(b) AS (
      |  SELECT [[1000, 1000, 1000, 1000, 1000, 1000, 1000, 1000],
      |          [981, 831, 556, 195, -195, -556, -831, -981],
      |          [924, 383, -383, -924, -924, -383, 383, 924],
      |          [831, -195, -981, -556, 556, 981, 195, -831],
      |          [707, -707, -707, 707, 707, -707, -707, 707],
      |          [556, -981, 195, 831, -831, -195, 981, -556],
      |          [383, -924, 924, -383, -383, 924, -924, 383],
      |          [195, -556, 831, -981, 981, -831, 556, -195]]),
      |hist$outCte AS (
      |  SELECT $cs,
      |    list_aggregate(list_transform(range(1, len($textCol) + 1),
      |      i -> ord(($textCol)[i]) // 4), 'histogram') AS hm
      |  FROM $srcCte),
      |gmat$outCte AS (
      |  SELECT $cs,
      |    list_transform(range(0, 8), u ->
      |      list_transform(range(1, 9), mv ->
      |        list_sum(list_transform(range(0, 8), v ->
      |          b[mv][v + 1]
      |            * CAST(COALESCE((hm[u * 8 + v])[1], 0) AS BIGINT)))))
      |      AS g
      |  FROM hist$outCte, bm),
      |$outCte AS MATERIALIZED (
      |  SELECT $cs,
      |    list_sum(list_transform(range(1, 64), m ->
      |      CASE WHEN list_sum(list_transform(range(0, 8), u ->
      |          b[m // 8 + 1][u + 1] * g[u + 1][m % 8 + 1])) > 0
      |      THEN 1::BIGINT << (m - 1) ELSE 0 END)) AS ph
      |  FROM gmat$outCte, bm)""".stripMargin
  }

  /** The planted trim corpus, typed and pHashed — ONE definition shared
    * by m05 (dedup grouping) and m08 (similarity search), with
    * [[mediaCorpusCtes]] as its SQL twin: every 9th doc re-enters with
    * its last word removed. The offset is divisible by 3 so the plant
    * KEEPS its source's derived media_type (id % 3) — with 1000000
    * (≡ 1 mod 3) a plant could never share its source's
    * (media_type, ph) group key and the absorption premise would be
    * vacuous. */
  private def phashedMedia(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 999999L).as("doc_id"),
          TextAnalysis.dropLastWord(col("text")).as("text")))
    corpus.select(col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      graft.functions.text.dct_sign_hash(col("text")).as("ph"))
  }

  /** SQL twin of [[phashedMedia]]'s corpus (`corpus` + `med` CTEs,
    * before the hash chain) — one plant definition across both engines
    * and both consumers. */
  private val mediaCorpusCtes: String =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 999999, ${TextAnalysis.dropLastWordSql("text")}
      |  FROM documents WHERE doc_id % 9 = 0),
      |med AS (
      |  SELECT doc_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)]
      |      AS media_type,
      |    text
      |  FROM corpus)""".stripMargin

  // ---------------------------------------------------------------- m05
  /** Perceptual media dedup: group by the DCT-SIGN perceptual hash
    * (TextHashes.dctSignHash — the stub decoder's 64-bin matrix put
    * through an integer 8×8 DCT-II; the fingerprint packs the signs of
    * the 63 non-DC coefficients, the classic pHash feature), keep-min.
    * Where m04 collapses only BIT-EXACT payloads (md5), m05 collapses
    * payloads whose low-frequency structure agrees — robust to small
    * edits, the re-encoded/trimmed-asset case (and scale-invariant for
    * free: DC exclusion makes the sign vector independent of payload
    * length). Planted: every 9th doc re-enters with its last word
    * removed; most such edits leave every coefficient sign unchanged and
    * collapse with their source, while md5 never would.
    *
    * Scale: m04's audited shape exactly — one shuffle on the (media
    * type, Long fingerprint) key with map-side combine; payload bytes
    * never shuffle (the fingerprint is computed in the scan projection).
    */
  def m05(spark: SparkSession, dir: String): DataFrame =
    phashedMedia(spark, dir)
      .groupBy(col("media_type"), col("ph"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("media_type"), col("n_copies"))
      .orderBy(col("doc_id"), col("media_type"))

  /** Oracle: the DCT-sign hash re-derived in SQL (the m02 nibs pattern).
    * Unit discipline: BOTH engines bin codepoints — the kernel iterates
    * codepoints and drops cp ≥ 256; `ord(text[i]) // 4` over character
    * indices lands such codepoints outside bins 0..63 identically, so
    * parity holds for any input, not just the ASCII corpus (ADVICE r7).
    * The DCT basis is the same hardcoded ×1000 integer literal matrix as
    * TextHashes.DctBasis, keeping every coefficient integer-exact — no
    * cross-engine float sign hazard. */
  val m05Sql: String =
    s"""WITH $mediaCorpusCtes,
      |${dctSignCtes("med", "text", Seq("doc_id", "media_type"), "q")}
      |SELECT MIN(doc_id) AS doc_id, media_type, COUNT(*) AS n_copies
      |FROM q GROUP BY media_type, ph
      |ORDER BY doc_id, media_type""".stripMargin

  // ---------------------------------------------------------------- m06
  /** Video-level near-dup detection by perceptual FRAME voting — the
    * cross-asset pass after m05's whole-asset grouping: two videos are
    * near-duplicates when they share ≥ half of the smaller one's
    * sampled-frame perceptual hashes (frame-set containment — dd10's
    * asymmetric measure, which catches the trimmed/clipped copy whose
    * symmetric overlap is diluted). Frames are m03's sampled blocks,
    * hashed with m05's `dct_sign_hash` kernel; with a real codec the
    * pHash absorbs per-frame re-encodes — on the stub codec frames are
    * byte-stable, so absorption is exact and the kernel seam is what a
    * real decoder would feed. Planted: every `doc_id % 9 == 2` video
    * loses its last 80 bytes (offset 999999 ≡ 0 mod 3 keeps the
    * media-type class, the m05 lesson) — every surviving plant frame
    * lies fully inside the kept prefix, so each plant MUST pair with
    * its source at containment exactly 1.0 (specced). NOTE (ADVICE r8):
    * the exact-1.0 guarantee holds only while no SHARED frame hash
    * lands in an over-cap (df > 50) bucket — a generic frame dropped
    * by the cap lowers `shared` but not `min(n)`. At sf ≤ 0.1 max
    * frame df is single-digit; at larger SFs the invariant degrades
    * to containment ≥ 0.5 and the spec must relax with it.
    *
    * Scale: dd02/dd04's inverted-index shape on frame hashes — per-ph
    * postings (2..50 cap = dd02's LSH skew guard), in-place pair
    * emission, shared-count shuffle ∝ candidate pairs; frame text never
    * shuffles, only 64-bit hashes and ids.
    */
  /** Shared 64-byte stub-codec frame pipeline (m06/m11 — ONE definition
    * of the frame geometry and hash seam, the scd2VersionsOf pattern):
    * the video third of a corpus exploded into per-frame DCT-sign
    * hashes (doc_id, fi, ph). 64-byte frames at stride 1: the geometry
    * is a stub-codec parameter, sized to THIS corpus (median video 267
    * bytes — m03's 256-byte blocks would leave every video a single
    * frame and any frame-level measure vacuous). */
  private def framePhashes(corpus: DataFrame): DataFrame =
    corpus.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("text"),
        (length(col("text")) / lit(64)).cast("int").as("nf"))
      .filter(col("nf") > 0)
      .select(col("doc_id"), col("text"),
        explode_outer(sequence(lit(0), col("nf") - 1)).as("fi"))
      .select(col("doc_id"), col("fi").cast(LongType).as("fi"),
        graft.functions.text
          .dct_sign_hash(expr("substring(text, fi * 64 + 1, 64)"))
          .as("ph"))

  def m06(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 9 === 2)
        .select((col("doc_id") + 999999L).as("doc_id"),
          expr("substring(text, 1, greatest(length(text) - 80, 0))")
            .as("text")))
    // per-video frame-hash SET (containment is over sets); checkpointed
    // because TWO aggregations (per-video counts, per-hash buckets)
    // shuffle it on different keys — exchange reuse can't unify them,
    // and without the pin each consumer re-scans and re-hashes every
    // frame (the dd11 multi-consumer discipline)
    val ph = graft.Tables.ckptNarrow(framePhashes(corpus)
      .select(col("doc_id"), col("ph"))
      .distinct(), 8)
    val counts = ph.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // cap 50 = dd02's LSH skew guard, and it BITES here: a 63-bit
    // histogram pHash over 64-byte frames collides on generic
    // "stopword frames" (measured at the synthesized sf1: buckets
    // near the old 1000 cap drove 5.4M candidate pairs and 6.3 s;
    // capped, 66k pairs and 1.3 s). At oracle scales max df is 7, so
    // the cap drops nothing there — it exists purely to keep pair
    // emission ∝ discriminating collisions at scale. Count-gated
    // (Dedup.gatedBuckets, VERDICT r9 #1) so an over-cap frame hash
    // never materializes its membership in one task; ph is
    // checkpointed, so the gate's second pass re-reads the pinned RDD.
    val buckets = Dedup.gatedBuckets(ph, Seq("ph"), col("doc_id"),
      "ds", 2, 50)
    val pairs = buckets.select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)), y -> named_struct(
          |    'id_a', least(x, y), 'id_b', greatest(x, y)))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("n_a")),
        "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("n_b")),
        "id_b")
      .withColumn("containment", round(
        col("shared").cast("double") / least(col("n_a"), col("n_b")), 4))
      // evidence guard: a single shared frame between single-frame clips
      // is containment 1.0 by arithmetic, not by overlap — require at
      // least 2 frames on both sides before scoring the pair
      .filter(col("containment") >= 0.5 && least(col("n_a"), col("n_b")) >= 2)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"),
        col("n_b"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Oracle: m03's frame arithmetic + m05's integer-DCT replica applied
    * per frame, then the pair/containment algebra verbatim. Unit
    * discipline (the m05 rule): DuckDB `length()`/`substr` are both
    * CHARACTER-based, matching Spark's `length`/`substring`, so frame
    * boundaries agree for any input — `strlen` (bytes) would silently
    * diverge on non-ASCII. */
  val m06Sql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 999999,
      |    substr(text, 1, greatest(length(text) - 80, 0))
      |  FROM documents WHERE doc_id % 9 = 2),
      |vids AS (
      |  SELECT doc_id, text, CAST(length(text) // 64 AS INT) AS nf
      |  FROM corpus WHERE doc_id % 3 = 2 AND length(text) // 64 > 0),
      |frames AS (
      |  SELECT doc_id, text, UNNEST(range(0, nf)) AS fi FROM vids),
      |ftexts AS (
      |  SELECT doc_id,
      |    substr(text, CAST(fi * 64 + 1 AS INT), 64) AS ftext
      |  FROM frames),
      |${dctSignCtes("ftexts", "ftext", Seq("doc_id"), "phx")},
      |ph AS (SELECT DISTINCT doc_id, ph FROM phx),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM ph GROUP BY 1),
      |dfq AS (SELECT ph AS h, COUNT(*) AS df FROM ph GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      |  FROM ph a JOIN ph b ON a.ph = b.ph AND a.doc_id < b.doc_id
      |  JOIN dfq ON dfq.h = a.ph
      |  WHERE dfq.df BETWEEN 2 AND 50
      |  GROUP BY 1, 2)
      |SELECT p.id_a, p.id_b, p.shared, ca.n AS n_a, cb.n AS n_b,
      |  round(CAST(p.shared AS DOUBLE) / least(ca.n, cb.n), 4)
      |    AS containment
      |FROM pairs p
      |JOIN cnt ca ON ca.doc_id = p.id_a
      |JOIN cnt cb ON cb.doc_id = p.id_b
      |WHERE round(CAST(p.shared AS DOUBLE) / least(ca.n, cb.n), 4) >= 0.5
      |  AND least(ca.n, cb.n) >= 2
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- m07
  /** Audio near-dup detection by spectral-peak constellation matching —
    * the Shazam shape (Wang 2003), closing the multimodal triangle
    * (m05 image, m06 video, m07 audio): each audio stream's 64-byte
    * stub-codec frames yield one "spectral peak" (the frame's DCT-sign
    * signature quantized to 64 bands — the stub spectrogram's dominant
    * bin); landmarks pair each anchor peak with the next 3 frames'
    * peaks (fan-out 3) into a (p_t, p_{t+d}, d) hash carrying its
    * anchor time; two clips match when the landmark votes AGREE ON ONE
    * TIME OFFSET — the constellation diagonal that makes the scheme
    * robust to clipping, unlike m06's set containment which ignores
    * time structure. Pure integer algebra end to end (peaks, hashes,
    * offsets, votes): zero cross-engine float hazard (§5).
    *
    * Planted: every `doc_id % 9 == 1` audio clip re-enters with its
    * first 128 bytes (= 2 frames) removed — a TIME-SHIFTED clip, the
    * case whole-asset hashes (m04/m05) and unordered frame sets can
    * mistake but a constellation pins: each plant must pair with its
    * source at offset exactly +2 (specced).
    *
    * Scale: peaks and landmarks are map-only per doc (bounded
    * transform over the frame array — no join against self, no
    * shuffle); the landmark index is the dd02/m06 inverted-index shape
    * with the 2..50 cap sized to the hash's collision entropy (§4: the
    * landmark space is only 64·64·3 = 12k values, far below an exact
    * hash's — generic landmarks go over-cap fast and are
    * non-discriminative by construction); offset votes ride the pair
    * shuffle as one extra int.
    */
  def m07(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.filter(col("doc_id") % 9 === 1) // ⊂ audio third; 999999 ≡ 0 mod 3
        .select((col("doc_id") + 999999L).as("doc_id"),
          expr("substring(text, 129)").as("text")))
    val auds = corpus.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"),
        (length(col("text")) / lit(64)).cast("int").as("nf"))
      .filter(col("nf") >= 2)
    // the stub spectrogram: per-frame DCT-sign signature → 64 peak bands
    // (Column-form kernel call — the SQL name needs GraftExtensions)
    val peaks = auds.select(col("doc_id"),
      transform(sequence(lit(0), col("nf") - 1), i =>
        pmod(graft.functions.text.dct_sign_hash(
          col("text").substr(i * 64 + 1, lit(64))), lit(64L))).as("ps"))
    val lms = peaks.select(col("doc_id"), explode_outer(expr(
        """flatten(transform(ps, (p, t) ->
          |  filter(transform(array(1, 2, 3), d ->
          |    IF(t + d < size(ps),
          |      named_struct(
          |        'lm', p * 256L + element_at(ps, t + d + 1) * 4L + (d - 1),
          |        't', t), null)),
          |    x -> x IS NOT NULL)))""".stripMargin)).as("l"))
      .filter(col("l").isNotNull)
      .select(col("doc_id"), col("l.lm").as("lm"), col("l.t").as("t"))
    // lms feeds the per-doc landmark counts AND the index buckets —
    // checkpoint so the peak/landmark construction runs once (the m06
    // multi-consumer discipline)
    val lmsP = lms.localCheckpoint(false)
    // count-gated capped index (Dedup.gatedBuckets, VERDICT r9 #1):
    // the 12k-value landmark space guarantees over-cap generics at any
    // real corpus, and they must be dropped by a (key, n) count — not
    // after a full collect_list of a near-silence landmark's postings
    val buckets = Dedup.gatedBuckets(lmsP, Seq("lm"),
        struct(col("doc_id"), col("t")), "es", 2, 50)
      .localCheckpoint(false) // feeds pair emission + indexed-landmark counts
    // a clip's INDEXED landmark count — only landmarks surviving the
    // discriminativeness cap count toward the aligned fraction (a vote
    // can only come from an indexed landmark, so the denominator must
    // be the same universe or over-cap generics penalize true copies)
    val nlm = buckets.select(explode(col("es")).as("e"))
      .groupBy(col("e.doc_id").as("doc_id")).agg(count(lit(1)).as("n"))
    // in-place pair emission (bounded ≤ cap²/2 per bucket); same-doc
    // landmark repeats never pair
    val votes = buckets.select(explode_outer(expr(
        """flatten(transform(es, (x, i) ->
          |  filter(transform(slice(es, i + 2, size(es)), y ->
          |    IF(x.doc_id <> y.doc_id, named_struct(
          |      'id_a', least(x.doc_id, y.doc_id),
          |      'id_b', greatest(x.doc_id, y.doc_id),
          |      'delta', IF(x.doc_id < y.doc_id, x.t - y.t, y.t - x.t)),
          |      null)),
          |    z -> z IS NOT NULL)))""".stripMargin)).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.delta").as("delta"))
      .agg(count(lit(1)).as("v"))
    votes.groupBy(col("id_a"), col("id_b"))
      // best offset = max votes, lowest delta on ties (lexicographic
      // struct max with the negated delta — the assignCells pick rule)
      .agg(max(struct(col("v"), (-col("delta")).as("nd"))).as("b"))
      .join(nlm.select(col("doc_id").as("id_a"), col("n").as("n_lm_a")),
        "id_a")
      .join(nlm.select(col("doc_id").as("id_b"), col("n").as("n_lm_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (-col("b.nd")).cast("long").as("offset"), col("b.v").as("votes"),
        col("n_lm_a"), col("n_lm_b"))
      // decision in exact integer algebra (§5, no rounded quotient):
      // ≥ 3 aligned landmarks AND ≥ 80 % of the smaller clip's
      // constellation on ONE diagonal — the 64-band stub peak space is
      // coarse enough that short clips chance-align a few landmarks;
      // the aligned-fraction guard is what separates a time-shifted
      // copy (fraction exactly 1) from coincidence
      .filter(col("votes") >= 3 &&
        col("votes") * 5 >= least(col("n_lm_a"), col("n_lm_b")) * 4)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Oracle: m06's per-frame integer-DCT replica quantized to 64 bands,
    * landmarks via a (doc, t+d) self-join, the capped landmark index,
    * and the offset vote verbatim — all integers. */
  val m07Sql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 999999, substr(text, 129)
      |  FROM documents WHERE doc_id % 9 = 1),
      |auds AS (
      |  SELECT doc_id, text, CAST(length(text) // 64 AS INT) AS nf
      |  FROM corpus WHERE doc_id % 3 = 1 AND length(text) // 64 >= 2),
      |frames AS (
      |  SELECT doc_id, text, UNNEST(range(0, nf)) AS t FROM auds),
      |ftexts AS (
      |  SELECT doc_id, t,
      |    substr(text, CAST(t * 64 + 1 AS INT), 64) AS ftext
      |  FROM frames),
      |${dctSignCtes("ftexts", "ftext", Seq("doc_id", "t"), "phx")},
      |pk AS (SELECT doc_id, t, ph % 64 AS pk FROM phx),
      |lms AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_id, a.pk * 256 + b.pk * 4 + (d.d - 1) AS lm,
      |    a.t AS t
      |  FROM pk a, (SELECT unnest([1, 2, 3]) AS d) d, pk b
      |  WHERE b.doc_id = a.doc_id AND b.t = a.t + d.d),
      |bsz AS (SELECT lm, COUNT(*) AS c FROM lms GROUP BY 1),
      |lmsc AS MATERIALIZED (
      |  -- cap BEFORE the pair self-join (the Spark side's gatedBuckets
      |  -- order): joining raw lms x lms first lets one over-cap
      |  -- near-silence landmark emit df^2 pairs the cap then discards —
      |  -- measured 511 s vs 3 s at sf1 (round 15, VERDICT r14 #7)
      |  SELECT l.doc_id, l.lm, l.t
      |  FROM lms l JOIN bsz s ON s.lm = l.lm AND s.c BETWEEN 2 AND 50),
      |nlm AS (
      |  SELECT doc_id, COUNT(*) AS n FROM lmsc GROUP BY doc_id),
      |votes AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.t - b.t AS delta,
      |    COUNT(*) AS v
      |  FROM lmsc a
      |  JOIN lmsc b ON b.lm = a.lm AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3),
      |best AS (
      |  SELECT id_a, id_b, delta, v,
      |    row_number() OVER (PARTITION BY id_a, id_b
      |      ORDER BY v DESC, delta ASC) AS rn
      |  FROM votes)
      |SELECT id_a, id_b, CAST(delta AS BIGINT) AS offset,
      |  CAST(v AS BIGINT) AS votes,
      |  CAST(na.n AS BIGINT) AS n_lm_a, CAST(nb.n AS BIGINT) AS n_lm_b
      |FROM best
      |JOIN nlm na ON na.doc_id = best.id_a
      |JOIN nlm nb ON nb.doc_id = best.id_b
      |WHERE rn = 1 AND v >= 3 AND v * 5 >= least(na.n, nb.n) * 4
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- m08
  /** Query-by-asset perceptual similarity search ("reverse image
    * search") — the RETRIEVAL face of the multimodal fingerprint
    * family: m05 groups identical-pHash assets, m06/m07 pair near-dups
    * corpus-wide; m08 answers "given THIS asset, which assets look
    * like it", per query, ranked. Similarity = Hamming distance
    * between DCT-sign perceptual hashes (the pHash metric — each bit
    * is one low-frequency coefficient's sign, so distance counts
    * structural disagreements). Corpus = m05's planted media corpus
    * (every 9th asset re-enters trimmed), queries = assets 0–4;
    * per-query top-10 by (hamming asc, doc_id asc).
    *
    * Scale: s01's audited broadcast-queries shape over 8-byte hashes
    * instead of vectors — one corpus scan, codegen'd XOR/POPCNT per
    * (asset, query), bounded local top-k cells + window-free merge
    * ([[Similarity.topKPerQuery]]; ranking rides cos = 64 − hamming,
    * an exact small-integer double, so the shared kernel's
    * (cos desc, id asc) order IS (hamming asc, id asc)).
    *
    * Cross-engine (§5): hashes are the bit-exact integer-DCT replica,
    * hamming an integer, ranks integer-ordered with id tie-break —
    * no float anywhere.
    */
  def m08(spark: SparkSession, dir: String): DataFrame = {
    // m05's planted trim corpus, CHECKPOINTED once (round 15, VERDICT
    // r14 #4): the corpus and query sides of the search each re-ran
    // the DCT chain against raw text before (4 text scans); the
    // checkpointed frame is ~30 B/doc (id, type, 8-byte pHash) and the
    // kernel provably runs once — the t18/dd12 discipline. m05 keeps
    // the un-checkpointed frame: it consumes the chain exactly once.
    val med = graft.Tables.ckptNarrow(phashedMedia(spark, dir))
    val queries = med.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("ph").as("qph"))
    val scored = med.crossJoin(broadcast(queries))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id").as("vec_id"), col("media_type"),
        expr("bit_count(ph ^ qph)").cast("long").as("hamming"))
      .withColumn("cos", (lit(64L) - col("hamming")).cast("double"))
    Similarity.topKPerQuery(scored, 10, Seq("media_type", "hamming"))
      .select(col("q_id"), col("vec_id").as("doc_id"), col("media_type"),
        col("hamming"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Oracle: one DCT-sign chain over the planted media corpus, queries
    * split off by id, exhaustive hamming rank. */
  val m08Sql: String =
    s"""WITH $mediaCorpusCtes,
      |${dctSignCtes("med", "text", Seq("doc_id", "media_type"), "phq")},
      |q AS (SELECT doc_id AS q_id, ph AS qph FROM phq WHERE doc_id < 5),
      |scored AS (
      |  SELECT q.q_id, p.doc_id, p.media_type,
      |    CAST(bit_count(xor(p.ph, q.qph)) AS BIGINT) AS hamming
      |  FROM phq p, q WHERE p.doc_id <> q.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY hamming, doc_id) AS rank
      |  FROM scored)
      |SELECT q_id, doc_id, media_type, hamming, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- m09
  /** Image-text PAIR dedup — the LAION/DataComp curation step for
    * paired multimodal corpora: a pair is a duplicate when an EARLIER
    * pair matches on EITHER modality — the image perceptually (equal
    * DCT-sign pHash, m05's rule: catches re-encoded/trimmed assets
    * under a rewritten caption) or the caption fuzzily (MinHash
    * est-Jaccard ≥ 0.5 through dd02's capped LSH machinery: catches
    * the same caption pasted onto a re-hosted image). Keep-first is
    * per-modality-min, not transitive closure — the operational LAION
    * rule, and both engines compute it identically.
    *
    * Pair corpus: documents as (image = text through the stub codec,
    * caption = first 12 words). Plants: every `% 11 == 1` doc
    * re-enters (+7M) as a re-encoded image (text trimmed — pHash
    * usually holds) under a rewritten caption (all tokens suffixed —
    * shingle-disjoint), dup only the IMAGE branch can see; every
    * `% 11 == 2` doc re-enters (+8M) as a re-hosted image (all tokens
    * suffixed — pHash breaks) under the SAME caption, dup only the
    * CAPTION branch can see.
    *
    * Scale: two kernel branches off the pair construction, each
    * localCheckpointed — a repartition barrier is NOT enough for
    * either: joining ON the hash makes Catalyst infer
    * isnotnull(kernel(..)) and push the KERNEL itself into every
    * branch's scan as a post-scan filter (observed: 7 dct sites), and
    * the verify joins' broadcast stages rebuild the sig subtree
    * without exchange reuse (the dd16 lesson). The checkpointed
    * frames are 16 B/doc (pHash) and 520 B/doc (signatures — the
    * caption index itself, dd12's corpus-checkpoint discipline), and
    * each kernel provably runs once. Image side: one shrinking
    * groupBy(ph) + an AQE-managed equi-join back (dd13's shape,
    * skew-splittable). Caption side: dd02's count-gated candidates +
    * signature verify, everything hash-only. Verdict joins are
    * candidate- and group-min-sized.
    *
    * Cross-engine (§5): pHash equality and min-id algebra are integer;
    * est = k/64 is exact (0.5 = 32/64 sits exactly on the threshold in
    * both engines); the no-caption-match sentinel is -1, never NULL.
    */
  def m09(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val ws = TextAnalysis.words(col("text"))
    val cap12 = array_join(slice(ws, 1, 12), " ")
    val base = docs.select(col("doc_id"), col("text").as("img_txt"),
      cap12.as("caption"))
    val reenc = docs.filter(col("doc_id") % 11 === 1)
      .select((col("doc_id") + 7000000L).as("doc_id"),
        TextAnalysis.dropLastWord(col("text")).as("img_txt"),
        array_join(transform(slice(ws, 1, 12), w => concat(w, lit("~re"))),
          " ").as("caption"))
    val rehost = docs.filter(col("doc_id") % 11 === 2)
      .select((col("doc_id") + 8000000L).as("doc_id"),
        array_join(transform(ws, w => concat(w, lit("~img"))), " ")
          .as("img_txt"),
        cap12.as("caption"))
    val pairs = graft.Tables.spread(base.unionAll(reenc).unionAll(rehost))
    // localCheckpoint: joining ON the hash makes Catalyst infer
    // isnotnull(dct_sign_hash(..)) and push the KERNEL into every
    // branch's scan as a post-scan filter (observed: 7 kernel sites) —
    // a barrier the optimizer can see through is not a barrier here
    val ph = pairs.select(col("doc_id"),
        graft.functions.text.dct_sign_hash(col("img_txt")).as("ph"))
      .transform(graft.Tables.ckptNarrow(_))
    val imgMin = ph.groupBy(col("ph")).agg(min(col("doc_id")).as("img_min"))
    val withImg = ph.join(imgMin, "ph")
    // localCheckpoint, not a repartition barrier: the verify joins'
    // broadcast stages rebuild a plain exchange subtree (no reuse
    // across exchange kinds — the dd16 lesson), re-running the kernel;
    // the checkpointed 520 B/doc signature frame IS the caption index
    // (dd12's corpus-checkpoint discipline), and the kernel provably
    // runs once
    val capSigs = pairs.select(col("doc_id"),
        graft.functions.text.minhash_sig(col("caption"), 64, 3).as("sig"))
      .transform(graft.Tables.ckptNarrow(_))
    val capMin = Dedup.verifiedPairs(Dedup.minhashCandidates(capSigs),
        capSigs, 0.5, "ej")
      .groupBy(col("id_b").as("doc_id")).agg(min(col("id_a")).as("cap_min"))
    withImg.join(capMin, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("img_min"),
        coalesce(col("cap_min"), lit(-1L)).as("cap_min"))
      .withColumn("dup_kind",
        when(col("img_min") < col("doc_id") && col("cap_min") >= 0, "both")
          .when(col("img_min") < col("doc_id"), "image")
          .when(col("cap_min") >= 0, "caption").otherwise("none"))
      .withColumn("keep", col("dup_kind") === "none")
      .orderBy(col("doc_id"))
  }

  /** SQL twin of m09's pair corpus (the [[mediaCorpusCtes]] pattern). */
  private val pairCorpusCtes: String =
    s"""ptoks AS (
      |  SELECT doc_id, text,
      |    ${TextAnalysis.wordsSql("text")} AS ws
      |  FROM documents),
      |pairsrc AS (
      |  SELECT doc_id, text AS img_txt,
      |    array_to_string(ws[1:12], ' ') AS caption FROM ptoks
      |  UNION ALL
      |  SELECT doc_id + 7000000,
      |    ${TextAnalysis.dropLastWordSql("text")},
      |    array_to_string(list_transform(ws[1:12], w -> w || '~re'), ' ')
      |  FROM ptoks WHERE doc_id % 11 = 1
      |  UNION ALL
      |  SELECT doc_id + 8000000,
      |    array_to_string(list_transform(ws, w -> w || '~img'), ' '),
      |    array_to_string(ws[1:12], ' ')
      |  FROM ptoks WHERE doc_id % 11 = 2)""".stripMargin

  val m09Sql: String = graft.functions.KernelOracleSql.m09Sql(
    pairCorpusCtes,
    dctSignCtes("imgsrc", "text", Seq("doc_id"), "phq"))

  // ---------------------------------------------------------------- m10
  /** CLIP-score pair-alignment gate — the DataComp/LAION curation
    * step after m09's dedup: drop image-text pairs whose two-tower
    * embedding alignment is low (mis-scraped alt text, watermark
    * boilerplate, wrong-language captions). The paired corpus models
    * the two towers as the halves of the 64-dim embedding row: image
    * tower = dims 1..32, text tower = dims 33..64; score =
    * cosine(image, text), keep at RAW score ≥ 0.1 (s01's
    * decide-on-raw / present-ROUND(,4) discipline — at this
    * distribution τ = 0.1 keeps ~27 %, the DataComp-like attrition).
    *
    * Scale: the ideal shape — ONE map-only scan, the per-row cosine a
    * codegen'd fold over the row's own halves; no join, no shuffle
    * beyond the presentation sort. At 100 TB this is scan-bandwidth
    * bound by construction; `label` rides along so downstream
    * accounting (p12-style cards) can aggregate keep rates without a
    * second scan.
    */
  def m10(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{vectors => V}
    graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        V.cosine_sim(slice(col("embedding"), 1, 32),
          slice(col("embedding"), 33, 32)).as("cos"))
      .withColumn("keep", col("cos") >= 0.1)
      .select(col("vec_id"), col("label"),
        round(col("cos"), 4).as("cos"), col("keep"))
      .orderBy(col("vec_id"))
  }

  val m10Sql: String =
    """SELECT vec_id, label,
      |  ROUND(list_cosine_similarity(embedding[1:32]::DOUBLE[],
      |    embedding[33:64]::DOUBLE[]), 4) AS cos,
      |  list_cosine_similarity(embedding[1:32]::DOUBLE[],
      |    embedding[33:64]::DOUBLE[]) >= 0.1 AS keep
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- m11
  /** Shot-boundary (scene) detection — the video-understanding
    * primitive every frame-sampling pipeline runs BEFORE per-frame
    * work (PySceneDetect's content detector, TransNet's training
    * target): segment each video into maximal runs of
    * perceptually-equal consecutive frames; a cut opens where the
    * frame signature CHANGES. Frames are m06's 64-byte stub-codec
    * geometry hashed with the m05 DCT-sign kernel; on the stub codec
    * frames are byte-stable so "perceptually equal" is signature
    * equality (the m06 argument — a real decoder would feed the same
    * seam and a Hamming tolerance would absorb re-encode jitter).
    *
    * Planted: every `doc_id % 9 == 5` video (≡ 2 mod 3, so the video
    * class is preserved; +9900000 ≡ 0 mod 3 keeps it) long enough for
    * three blocks re-enters EDITED: its first three 64-byte blocks
    * repeated 4×, 3×, 5× — three held shots with two hard cuts. Where
    * the three block hashes are distinct (the spec computes them
    * through the kernel seam and asserts under that premise — the m09
    * assume() discipline), the plant MUST segment into exactly 3
    * scenes of 4, 3 and 5 frames. Base stub videos segment near
    * frame-per-scene (adjacent random-text histograms rarely collide)
    * — the degenerate-but-correct stub profile; scene STRUCTURE comes
    * from the plants.
    *
    * Scale: one scan → map-side frame explode + hash → lag + running
    * cut-count windows PER VIDEO (partitions bounded by one video's
    * frame count — the duration bound, st02's per-entity-window
    * argument) sharing one doc_id exchange → shrinking per-scene agg.
    * Output ∝ scenes, not frames.
    */
  def m11(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val edited = docs
      .filter(col("doc_id") % 9 === 5 && length(col("text")) >= 192)
      .select((col("doc_id") + 9900000L).as("doc_id"),
        concat(
          expr("repeat(substring(text, 1, 64), 4)"),
          expr("repeat(substring(text, 65, 64), 3)"),
          expr("repeat(substring(text, 129, 64), 5)")).as("text"))
    sceneSegments(docs.unionAll(edited))
      .orderBy(col("doc_id"), col("scene_id"))
  }

  /** The scene-segmentation core over any (doc_id, text) corpus —
    * factored so the degenerate-corpus scale audit (ScaleAuditSpec)
    * can prove the 1-scene / frame-per-scene extremes on synthetic
    * videos through the exact production algebra. */
  private[graft] def sceneSegments(corpus: DataFrame): DataFrame = {
    val byVid = Window.partitionBy(col("doc_id")).orderBy(col("fi"))
    framePhashes(corpus)
      .withColumn("prev", lag(col("ph"), 1).over(byVid))
      .withColumn("cut",
        when(col("prev").isNull || col("prev") =!= col("ph"), 1L)
          .otherwise(0L))
      .withColumn("scene_id", sum(col("cut")).over(
        byVid.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(min(col("fi")).as("start_fi"), max(col("fi")).as("end_fi"),
        count(lit(1)).as("n_frames"), min(col("ph")).as("ph"))
  }

  /** Oracle: the edited-plant arithmetic + m06's frame/DCT chain, then
    * the same lag/running-sum windows. `length`/`substring`/`repeat`
    * are character-based in both engines (the m06 unit rule). */
  val m11Sql: String =
    s"""WITH edited AS (
      |  SELECT doc_id + 9900000 AS doc_id,
      |    repeat(substr(text, 1, 64), 4) ||
      |    repeat(substr(text, 65, 64), 3) ||
      |    repeat(substr(text, 129, 64), 5) AS text
      |  FROM documents WHERE doc_id % 9 = 5 AND length(text) >= 192),
      |corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id, text FROM edited),
      |vids AS (
      |  SELECT doc_id, text, CAST(length(text) // 64 AS INT) AS nf
      |  FROM corpus WHERE doc_id % 3 = 2 AND length(text) // 64 > 0),
      |frames AS (
      |  SELECT doc_id, CAST(fi AS BIGINT) AS fi,
      |    substr(text, CAST(fi * 64 + 1 AS INT), 64) AS ftext
      |  FROM (SELECT doc_id, text, UNNEST(range(0, nf)) AS fi FROM vids)),
      |${dctSignCtes("frames", "ftext", Seq("doc_id", "fi"), "phx")},
      |cuts AS (
      |  SELECT doc_id, fi, ph,
      |    CASE WHEN lag(ph) OVER w IS NULL OR lag(ph) OVER w <> ph
      |      THEN 1 ELSE 0 END AS cut
      |  FROM phx
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY fi)),
      |scened AS (
      |  SELECT doc_id, fi, ph,
      |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY fi
      |      ROWS UNBOUNDED PRECEDING) AS scene_id
      |  FROM cuts)
      |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
      |  MIN(fi) AS start_fi, MAX(fi) AS end_fi,
      |  CAST(COUNT(*) AS BIGINT) AS n_frames, CAST(MIN(ph) AS BIGINT) AS ph
      |FROM scened GROUP BY doc_id, scene_id
      |ORDER BY doc_id, scene_id""".stripMargin

  // ---------------------------------------------------------------- m12
  /** Modality token budgeting — the compute-accounting bridge between
    * the media tables and the p-family token budgets: every multimodal
    * training stack converts each modality into SEQUENCE TOKENS before
    * mixing (ViT-style images: one token per 14×14 patch, ceil on both
    * axes; audio: one token per fixed-stride frame, stride 320 payload
    * bytes ≈ 20 ms at the stub rate; video: sampled frames × per-frame
    * patches, frames per m01's sampler), and the caption text rides the
    * REAL t21 BPE kernel — so image/audio/video and text land in the
    * same unit and the packer can budget 2048-token sequences across
    * modalities.
    *
    * §5: every conversion is a ceil-div in integer algebra
    * ((x + k − 1) div k spelled as SQL div) — no float enters any
    * count; seqs is the exact ceil-div of the per-modality total.
    *
    * Scale: one map-only kernel scan (modality math + BPE encode in the
    * same projection) into a 3-key partial agg — the bpeSourceAgg shape;
    * nothing grows with the corpus but the scan.
    */
  /** m12's modality convention, shared with m14: media type by
    * doc_id mod 3, and the exact integer token conversions (ViT ceil-div
    * patches / 320-byte audio frames / sampled frames × patches). */
  private def mediaTypeCol = element_at(
    array(lit("image"), lit("audio"), lit("video")),
    (col("doc_id") % 3 + 1).cast("int"))
  private def mediaTokensCol: org.apache.spark.sql.Column = {
    val patches = expr(
      "((doc_id % 64 + 16 + 13) div 14) * ((doc_id % 48 + 16 + 13) div 14)")
    val frames = expr("CASE WHEN octet_length(text) div 256 = 0 THEN 0 " +
      "ELSE (octet_length(text) div 256 + 1) div 2 END")
    when(mediaTypeCol === "image", patches)
      .when(mediaTypeCol === "audio",
        expr("(octet_length(text) + 319) div 320"))
      .otherwise(frames * patches)
  }

  def m12(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.spread(graft.Tables(spark, dir, "documents"))
    val mt = mediaTypeCol
    val mediaTokens = mediaTokensCol
    // NULL text = zero text tokens (ADVICE r12): the oracle COALESCEs
    // the BPE length to 0, so the Spark side must not let a NULL tt
    // null-out a group sum — the twins stay aligned on any corpus,
    // not just one with no NULL text
    d.select(mt.as("media_type"),
        when(col("text").isNull, lit(0L))
          .otherwise(size(graft.functions.text.bpe_token_ids(col("text")))
            .cast(LongType)).as("tt"),
        mediaTokens.cast(LongType).as("mt_tok"))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tt")).as("text_tokens"),
        sum(col("mt_tok")).as("media_tokens"))
      .select(col("media_type"), col("n_docs"), col("text_tokens"),
        col("media_tokens"),
        (col("text_tokens") + col("media_tokens")).as("total_tokens"),
        expr("(text_tokens + media_tokens + 2047) div 2048").as("n_seqs"))
      .orderBy(col("media_type"))
  }

  /** Oracle: modality math off doc_id/strlen; text tokens via the
    * shared bpeDocLenCtes merge-loop replica. */
  val m12Sql: String =
    s"""WITH RECURSIVE
      |docw AS (
      |  SELECT doc_id,
      |    ${TextAnalysis.wordsSql("text")} AS ws
      |  FROM documents),
      |${graft.functions.KernelOracleSql.bpeDocLenCtes("docw", "")},
      |med AS (
      |  SELECT
      |    ['image','audio','video'][CAST(d.doc_id % 3 + 1 AS INT)] AS mtp,
      |    COALESCE(pw.b, 0) AS tt,
      |    CASE
      |      WHEN d.doc_id % 3 + 1 = 1 THEN
      |        ((d.doc_id % 64 + 16 + 13) // 14) *
      |          ((d.doc_id % 48 + 16 + 13) // 14)
      |      WHEN d.doc_id % 3 + 1 = 2 THEN (strlen(d.text) + 319) // 320
      |      ELSE (CASE WHEN strlen(d.text) // 256 = 0 THEN 0
      |              ELSE (strlen(d.text) // 256 + 1) // 2 END) *
      |        ((d.doc_id % 64 + 16 + 13) // 14) *
      |          ((d.doc_id % 48 + 16 + 13) // 14)
      |    END AS mt_tok
      |  FROM documents d LEFT JOIN pw ON pw.doc_id = d.doc_id)
      |SELECT mtp AS media_type, COUNT(*) AS n_docs,
      |  CAST(SUM(tt) AS BIGINT) AS text_tokens,
      |  CAST(SUM(mt_tok) AS BIGINT) AS media_tokens,
      |  CAST(SUM(tt) + SUM(mt_tok) AS BIGINT) AS total_tokens,
      |  CAST((SUM(tt) + SUM(mt_tok) + 2047) // 2048 AS BIGINT) AS n_seqs
      |FROM med GROUP BY mtp
      |ORDER BY media_type""".stripMargin

  // ---------------------------------------------------------------- m13
  /** Aspect-ratio bucketing — the SDXL/NovelAI training-batch staple:
    * variable-shape images are grouped into a fixed ladder of target
    * aspect-ratio buckets so each training batch holds one shape (no
    * per-image padding waste, no cross-shape collation). Dims ride the
    * m12 metadata convention (w = doc_id%64+16, h = doc_id%48+16, the
    * image third of the corpus), bucket ladder idx 1..5 =
    * (16,64)/(24,48)/(32,32)/(48,24)/(64,16) — ratios ¼..4, all five
    * live on the natural dim spread at every SF.
    *
    * §5 decision algebra: nearest-ratio assignment never computes a
    * ratio — |w/h − bw_i/bh_i| ordering is the EXACT integer ordering
    * of score_i = |w·bh_i − h·bw_i| · (192 div bh_i) (common
    * denominator h·192 cancels), and the argmin over the 5-bucket
    * ladder is ONE scalar `least` of the encoded keys score_i·8+i
    * (score ≤ 79·64·12 < 2^17, so the ·8 shift is collision-free;
    * +i breaks exact-tie toward the narrower bucket — deterministic).
    * Batch math is exact ceil-div: n_batches = (n+31) div 32.
    *
    * Scale: map-only scan (the m10/t20 plan class — dims and argmin in
    * one codegen'd projection, no explode, no join, no window) into a
    * 5-key partial agg; nothing grows with the corpus but the scan.
    */
  def m13(spark: SparkSession, dir: String): DataFrame = {
    val imgs = graft.Tables.spread(graft.Tables(spark, dir, "documents"))
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        (col("doc_id") % 64 + 16).as("w"), (col("doc_id") % 48 + 16).as("h"))
    val bw = Seq(16L, 24L, 32L, 48L, 64L)
    val bh = Seq(64L, 48L, 32L, 24L, 16L)
    val keys = (0 until 5).map { i =>
      (abs(col("w") * bh(i) - col("h") * bw(i)) * (192L / bh(i))) * 8 +
        (i + 1)
    }
    imgs.withColumn("bidx", least(keys: _*) % 8)
      .groupBy(col("bidx"))
      .agg(count(lit(1)).as("n_images"),
        min(expr("(w * 1000) div h")).as("min_ar_milli"),
        max(expr("(w * 1000) div h")).as("max_ar_milli"))
      .select(col("bidx"),
        element_at(array(bw.map(lit): _*), col("bidx").cast("int"))
          .as("bucket_w"),
        element_at(array(bh.map(lit): _*), col("bidx").cast("int"))
          .as("bucket_h"),
        col("n_images"),
        expr("(n_images + 31) div 32").as("n_batches"),
        col("min_ar_milli"), col("max_ar_milli"))
      .orderBy(col("bidx"))
  }

  /** Same encoded-least argmin, same integer batch math. */
  val m13Sql: String =
    """WITH imgs AS (
      |  SELECT doc_id, doc_id % 64 + 16 AS w, doc_id % 48 + 16 AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |assigned AS (
      |  SELECT doc_id, w, h,
      |    LEAST(abs(w * 64 - h * 16) * 3 * 8 + 1,
      |          abs(w * 48 - h * 24) * 4 * 8 + 2,
      |          abs(w * 32 - h * 32) * 6 * 8 + 3,
      |          abs(w * 24 - h * 48) * 8 * 8 + 4,
      |          abs(w * 16 - h * 64) * 12 * 8 + 5) % 8 AS bidx
      |  FROM imgs)
      |SELECT bidx,
      |  CAST([16, 24, 32, 48, 64][CAST(bidx AS INT)] AS BIGINT) AS bucket_w,
      |  CAST([64, 48, 32, 24, 16][CAST(bidx AS INT)] AS BIGINT) AS bucket_h,
      |  COUNT(*) AS n_images,
      |  CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches,
      |  MIN((w * 1000) // h) AS min_ar_milli,
      |  MAX((w * 1000) // h) AS max_ar_milli
      |FROM assigned GROUP BY bidx ORDER BY bidx""".stripMargin

  // ---------------------------------------------------------------- m14
  /** Interleaved multimodal sequence packing — the MMC4/OBELICS layout
    * step: each (media, caption) document becomes `media tokens first,
    * then caption BPE tokens` (m12's exact conversions + the real t21
    * kernel), and documents pack CONTIGUOUSLY into 2048-token training
    * sequences per source (p10's GPT-style packing, spans split at
    * sequence boundaries). The per-sequence deliverable is the modality
    * BUDGET — how many of each sequence's tokens are media vs text —
    * because a VLM trainer batches by that mix (vision-encoder FLOPs
    * scale with media tokens, LM FLOPs with total).
    *
    * §5: the media/text split inside a span never re-tokenizes — the
    * doc's first `mt` tokens are media by layout, so a span
    * [gstart, gend) holds max(0, min(gend, cstart+mt) − gstart) media
    * tokens. Pure integer interval algebra on exact cumsums.
    *
    * Scale: ONE kernel scan (modality math + BPE in the same
    * projection) into [[Pipeline.packSpans]] — the SAME ladder p05/p10/
    * p17/p20 ride (one shared copy, review r12; the checkpoint barrier
    * and the 256-bucket cumsum live there), with the per-doc media
    * count carried through so the modality split is pure interval
    * algebra on the span offsets; the final aggregate shrinks to
    * sequences (∝ corpus tokens / 2048).
    */
  def m14(spark: SparkSession, dir: String): DataFrame = {
    // NULL text = zero text tokens (ADVICE r12): without the guard a
    // NULL-text image doc gets tokens NULL and silently vanishes at
    // packSpans' tokens>0 filter while the oracle (COALESCE(b, 0) with
    // patches > 0) keeps it — shifting every downstream cumsum
    // boundary. The packing algebra is now corpus-independent.
    val toks = graft.Tables.spread(graft.Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        mediaTokensCol.cast(LongType).as("mt"),
        when(col("text").isNull, lit(0L))
          .otherwise(size(graft.functions.text.bpe_token_ids(col("text")))
            .cast(LongType)).as("tt"))
      .withColumn("tokens", col("mt") + col("tt"))
    Pipeline.packSpans(toks, 2048L, carry = Seq("mt"))
      // the doc's first mt tokens are media ⇒ a span holding doc
      // positions [doc_off, doc_off + seg_tok) carries
      // max(0, min(mt − doc_off, seg_tok)) media tokens
      .withColumn("media_seg", greatest(lit(0L),
        least(col("mt") - col("doc_off"), col("seg_tok"))))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("media_seg")).as("media_tokens"),
        sum(col("seg_tok") - col("media_seg")).as("text_tokens"),
        sum(col("seg_tok")).as("fill_tokens"))
      .withColumn("is_full", (col("fill_tokens") === 2048L).cast(LongType))
      .orderBy(col("source"), col("seq_id"))
  }

  /** Same conversions (bpeDocLenCtes for the caption lengths), same
    * plain per-source cumsum, same interval algebra. */
  val m14Sql: String =
    s"""WITH RECURSIVE
      |docw AS (
      |  SELECT doc_id,
      |    ${TextAnalysis.wordsSql("text")} AS ws
      |  FROM documents),
      |${graft.functions.KernelOracleSql.bpeDocLenCtes("docw", "")},
      |toks AS (
      |  SELECT d.doc_id, d.source,
      |    CASE
      |      WHEN d.doc_id % 3 + 1 = 1 THEN
      |        ((d.doc_id % 64 + 16 + 13) // 14) *
      |          ((d.doc_id % 48 + 16 + 13) // 14)
      |      WHEN d.doc_id % 3 + 1 = 2 THEN (strlen(d.text) + 319) // 320
      |      ELSE (CASE WHEN strlen(d.text) // 256 = 0 THEN 0
      |              ELSE (strlen(d.text) // 256 + 1) // 2 END) *
      |        ((d.doc_id % 64 + 16 + 13) // 14) *
      |          ((d.doc_id % 48 + 16 + 13) // 14)
      |    END AS mt,
      |    COALESCE(pw.b, 0) AS tt
      |  FROM documents d LEFT JOIN pw ON pw.doc_id = d.doc_id),
      |c AS (
      |  SELECT doc_id, source, mt, mt + tt AS tokens,
      |    SUM(mt + tt) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cend
      |  FROM toks WHERE mt + tt > 0),
      |segs AS (
      |  SELECT source, mt, CAST(cend - tokens AS BIGINT) AS cstart,
      |    CAST(cend AS BIGINT) AS cend,
      |    unnest(generate_series(CAST((cend - tokens) // 2048 AS BIGINT),
      |      CAST((cend - 1) // 2048 AS BIGINT))) AS seq_id
      |  FROM c),
      |spans AS (
      |  SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
      |    greatest(cstart, seq_id * 2048) AS gstart,
      |    least(cend, (seq_id + 1) * 2048) AS gend,
      |    greatest(0, least(least(cend, (seq_id + 1) * 2048),
      |      cstart + mt) - greatest(cstart, seq_id * 2048)) AS media_seg
      |  FROM segs)
      |SELECT source, seq_id, COUNT(*) AS n_segs,
      |  CAST(SUM(media_seg) AS BIGINT) AS media_tokens,
      |  CAST(SUM(gend - gstart - media_seg) AS BIGINT) AS text_tokens,
      |  CAST(SUM(gend - gstart) AS BIGINT) AS fill_tokens,
      |  CAST(SUM(gend - gstart) = 2048 AS BIGINT) AS is_full
      |FROM spans GROUP BY source, seq_id
      |ORDER BY source, seq_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m14_interleave_pack" -> (m14 _),
    "m13_ar_bucket" -> (m13 _),
    "m12_token_budget" -> (m12 _),
    "m11_scene_detect" -> (m11 _),
    "m10_clip_filter" -> (m10 _),
    "m09_pair_dedup" -> (m09 _),
    "m08_phash_search" -> (m08 _),
    "m07_audio_neardup" -> (m07 _),
    "m01_multimodal" -> (m01 _),
    "m06_video_neardup" -> (m06 _),
    "m02_media_features" -> (m02 _),
    "m03_frame_explode" -> (m03 _),
    "m04_media_dedup" -> (m04 _),
    "m05_perceptual_dedup" -> (m05 _))
  val oracle: Map[String, String] = Map(
    "m14_interleave_pack" -> m14Sql,
    "m13_ar_bucket" -> m13Sql,
    "m12_token_budget" -> m12Sql,
    "m11_scene_detect" -> m11Sql,
    "m10_clip_filter" -> m10Sql,
    "m09_pair_dedup" -> m09Sql,
    "m08_phash_search" -> m08Sql,
    "m07_audio_neardup" -> m07Sql,
    "m01_multimodal" -> m01Sql,
    "m06_video_neardup" -> m06Sql,
    "m02_media_features" -> graft.functions.KernelOracleSql.m02Sql,
    "m03_frame_explode" -> m03Sql,
    "m04_media_dedup" -> m04Sql,
    "m05_perceptual_dedup" -> m05Sql)
}
