package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Text analysis for training-data pipelines (SURVEY.md §2.3): language
  * ID, quality scoring, token counting — each a narrow, fully
  * declarative column pipeline so Catalyst keeps it inside
  * WholeStageCodegen and the scan reads only `doc_id, text`.
  *
  * Scale: all three are embarrassingly parallel map-only plans — no
  * shuffle except the final presentation sort (dropped at 100 TB where
  * results land partitioned; kept here for oracle determinism).
  *
  * Oracle parity: token splitting, regex counting and the score algebra
  * are expressed with the same semantics in DuckDB SQL (list_filter /
  * regexp_extract_all) — all integer counts, with double math appearing
  * only in fixed-order final expressions.
  */
object TextAnalysis {

  /** Whitespace tokens with empties dropped — Java `split` and DuckDB
    * `string_split_regex` disagree on trailing empties, filtering is the
    * portable form.
    */
  private[operators] def toks(c: Column): Column = words(lower(c))

  /** Raw-case whitespace words, empties dropped: the kernels' own
    * whitespace class, so a plant built from them is byte-identical to
    * the oracle's reconstruction. */
  private[graft] def words(c: Column): Column =
    filter(split(c, "[ \\t\\n\\r]+"), x => x =!= "")

  /** The recrawl plant: `c` with its last word (and the whitespace
    * before it) dropped. */
  private[graft] def dropLastWord(c: Column): Column =
    regexp_replace(c, "[ \\t\\n\\r]+[^ \\t\\n\\r]+\\z", "")

  /** The oracle side of [[toks]]. */
  private[graft] def toksSql(c: String): String = wordsSql(s"lower($c)")

  /** The oracle side of [[words]]. */
  private[graft] def wordsSql(c: String): String =
    s"list_filter(string_split_regex($c, '[ \\t\\n\\r]+'), x -> x <> '')"

  /** The oracle side of [[dropLastWord]]. */
  private[graft] def dropLastWordSql(c: String): String =
    s"regexp_replace($c, '[ \\t\\n\\r]+[^ \\t\\n\\r]+$$', '')"

  private[operators] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  private[operators] def markerHits(t: Column, words: Seq[String]): Column =
    size(filter(t, x => x.isin(words.map(lit): _*)))
      .cast(LongType)

  private[operators] def markerHitsSql(ts: String, words: Seq[String]): String =
    s"CAST(len(list_filter($ts, x -> x IN (${words.map(w => s"'$w'").mkString(", ")}))) AS BIGINT)"

  /** t01's decision over the per-language marker hits `s(lang)`: the
    * argmax, ties to the earlier language of [[langMarkers]]. */
  private[operators] def langArgmax(s: String => Column): Column =
    when(s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("fr") &&
        s("en") >= s("zh"), "en")
      .when(s("es") >= s("de") && s("es") >= s("fr") &&
        s("es") >= s("zh"), "es")
      .when(s("de") >= s("fr") && s("de") >= s("zh"), "de")
      .when(s("fr") >= s("zh"), "fr")
      .otherwise("zh")

  /** The oracle side of [[langArgmax]], over columns `s_<lang>`. */
  private[operators] val langArgmaxSql: String =
    """CASE
      |  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |  WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |  WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |  WHEN s_fr >= s_zh THEN 'fr'
      |  ELSE 'zh' END""".stripMargin

  // ---------------------------------------------------------------- t01
  /** n-gram/stopword language scorer: count marker-word hits per
    * language, argmax with a fixed precedence chain for ties.
    */
  def t01LangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val t = toks(col("text"))
    val scored = docs.select(
      Seq(col("doc_id"), col("lang").as("lang_label")) ++
        langMarkers.map { case (l, ws) => markerHits(t, ws).as(s"s_$l") }: _*)
    scored.withColumn("predicted_lang", langArgmax(l => col(s"s_$l")))
      .orderBy(col("doc_id"))
  }

  val t01Sql: String = {
    val cols = langMarkers.map { case (l, ws) =>
      s"  ${markerHitsSql(toksSql("text"), ws)} AS s_$l" }.mkString(",\n")
    s"""WITH scored AS (
       |SELECT doc_id, lang AS lang_label,
       |$cols
       |FROM documents)
       |SELECT *, $langArgmaxSql AS predicted_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t02
  private[operators] val t02StopWords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "is", "in", "that", "it")

  /** Quality heuristics: token count, punctuation ratio, stopword ratio,
    * mean word length → fixed-order weighted score in [0,1].
    */
  def t02Quality(spark: SparkSession, dir: String): DataFrame = {
    // spread BEFORE the kernel (dd02's rule): map-only regex/token
    // kernels are otherwise parallelism-bound by the parquet SPLIT
    // count — the r14 decade gate measured 5.2x for 10x data on a
    // coalesced-file corpus with 32 idle cores; data-proportional
    // partitions make the decade ratio ~flat again
    val docs = Tables.spread(Tables(spark, dir, "documents"))
    val t = toks(col("text"))
    val nTok = size(t).cast(LongType)
    val nChar = length(col("text")).cast(LongType)
    val nPunct = regexp_count(col("text"), lit("[^a-zA-Z0-9 \\t\\n\\r]"))
      .cast(LongType)
    val stopHits = markerHits(t, t02StopWords)
    val wordChars = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    docs.select(col("doc_id"), nTok.as("n_tokens"), nChar.as("n_chars"),
        nPunct.as("n_punct"), stopHits.as("n_stop"),
        wordChars.as("word_chars"))
      .withColumn("punct_ratio",
        col("n_punct").cast(DoubleType) / col("n_chars"))
      .withColumn("stop_ratio",
        col("n_stop").cast(DoubleType) / col("n_tokens"))
      .withColumn("avg_word_len",
        col("word_chars").cast(DoubleType) / col("n_tokens"))
      .withColumn("quality",
        lit(0.3) * least(lit(1.0), col("n_tokens").cast(DoubleType) / 100.0) +
        lit(0.3) * (lit(1.0) - least(lit(1.0), col("punct_ratio") * 5.0)) +
        lit(0.2) * least(lit(1.0), col("stop_ratio") * 4.0) +
        lit(0.2) * least(lit(1.0), col("avg_word_len") / 8.0))
      .orderBy(col("doc_id"))
  }

  val t02Sql: String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n\\r]')) AS BIGINT) AS n_punct,
      |    CAST(len(list_filter(${toksSql("text")},
      |      x -> x IN ('the','a','of','to','and','is','in','that','it'))) AS BIGINT) AS n_stop,
      |    CAST(list_sum(list_transform(${toksSql("text")},
      |      x -> length(x))) AS BIGINT) AS word_chars
      |  FROM documents),
      |ratios AS (
      |  SELECT *,
      |    CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
      |    CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |    CAST(word_chars AS DOUBLE) / n_tokens AS avg_word_len
      |  FROM base)
      |SELECT *,
      |  0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) +
      |  0.3 * (1.0 - least(1.0, punct_ratio * 5.0)) +
      |  0.2 * least(1.0, stop_ratio * 4.0) +
      |  0.2 * least(1.0, avg_word_len / 8.0) AS quality
      |FROM ratios ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t03
  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single non-alnum marks).
    */
  def t03Tokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables(spark, dir, "documents")) // dd02's rule (r14)
    docs.select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast(LongType).as("ws_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r]"))
          .cast(LongType).as("bpe_tokens"),
        length(col("text")).cast(LongType).as("chars"))
      .withColumn("chars_per_token",
        col("chars").cast(DoubleType) / col("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  val t03Sql: String =
    s"""SELECT doc_id, source,
      |  CAST(len(${toksSql("text")}) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r]')) AS BIGINT) AS bpe_tokens,
      |  CAST(length(text) AS BIGINT) AS chars,
      |  CAST(length(text) AS DOUBLE) /
      |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r]')) AS BIGINT) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t04
  /** Rolling-hash (Rabin-Karp) document fingerprint via the codegen'd
    * native expression — the cheap first-pass identity for incremental
    * dedup. Oracle: bit-exact DuckDB replica of both kernels
    * (KernelOracleSql.t04Sql, HUGEINT mod-2^64 arithmetic).
    */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    docs.select(col("doc_id"),
        graft.functions.text.rolling_fingerprint(col("text"))
          .as("fingerprint"),
        graft.functions.text.simhash64(col("text")).as("simhash"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- t06
  /** Repetition signals (Gopher-style quality filters): duplicate-token
    * fraction and most-frequent-bigram fraction — high values flag
    * boilerplate/spam for removal before training. One spread exchange
    * to parallelize the per-doc bigram fold (the dominant cost — wall
    * equalled CPU on the raw scan's single split), then map-only to the
    * presentation sort; bigram stats stay inside per-row higher-order
    * functions (no explode shuffle).
    */
  def t06Repetition(spark: SparkSession, dir: String): DataFrame = {
    // spread BEFORE the kernel (dd02's rule): the per-doc bigram fold is
    // the dominant cost and the raw scan's split count serialized it —
    // measured wall ≈ CPU (2.8 s ≈ 2.7 s) at sf0.1 before the spread
    val docs = Tables.spread(Tables(spark, dir, "documents"))
    val base = docs.select(col("doc_id"), toks(col("text")).as("ts"))
      .withColumn("n_tokens", size(col("ts")).cast(LongType))
      .withColumn("bigrams", zip_with(
        slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0))),
        slice(col("ts"), lit(2), greatest(size(col("ts")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)))
    base.select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - size(array_distinct(col("ts"))).cast(DoubleType) /
          greatest(col("n_tokens"), lit(1L)), 4).as("dup_token_frac"),
        round(when(size(col("bigrams")) === 0, 0.0).otherwise(
          aggregate(array_distinct(col("bigrams")), lit(0),
            (m, g) => greatest(m, size(filter(col("bigrams"), x => x === g))))
            .cast(DoubleType) / size(col("bigrams"))), 4)
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val t06Sql: String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    ${toksSql("text")} AS ts
      |  FROM documents),
      |big AS (
      |  SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n_tokens,
      |    list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]) AS bigrams
      |  FROM base)
      |SELECT doc_id, n_tokens,
      |  ROUND(1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) /
      |    greatest(n_tokens, 1), 4) AS dup_token_frac,
      |  ROUND(CASE WHEN len(bigrams) = 0 THEN 0.0 ELSE
      |    CAST(list_max(list_transform(list_distinct(bigrams),
      |      g -> len(list_filter(bigrams, x -> x = g)))) AS DOUBLE) /
      |    len(bigrams) END, 4) AS top_bigram_frac
      |FROM big ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t05
  /** PII scrubbing: regex redaction of emails / phone numbers / IPv4
    * addresses with per-doc redaction counts. The corpus is synthetic and
    * PII-free, so PII is PLANTED deterministically (doc_id-derived email
    * on every 3rd doc, phone on every 4th, IP on every 5th) and the
    * operator must find and redact exactly those. Map-only, codegen'd
    * regexes — the per-doc cost a 100 TB scrub pass actually pays.
    */
  def t05PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val docs = Tables(spark, dir, "documents")
      .withColumn("text2", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 1000).cast(StringType), 3, "0"),
            lit("-0199"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast(StringType),
            lit(".7"))).otherwise(lit(""))))
    docs.select(col("doc_id"),
        regexp_count(col("text2"), lit(emailRe)).cast(LongType).as("n_email"),
        regexp_count(col("text2"), lit(phoneRe)).cast(LongType).as("n_phone"),
        regexp_count(col("text2"), lit(ipRe)).cast(LongType).as("n_ip"),
        regexp_replace(regexp_replace(regexp_replace(col("text2"),
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>")
          .as("scrubbed"))
      .withColumn("scrub_hash", md5(col("scrubbed")))
      .drop("scrubbed") // hash keeps the oracle compact; content is checked via it
      .orderBy(col("doc_id"))
  }

  val t05Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END AS text2
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text2, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(text2, '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(text2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
      |  md5(regexp_replace(regexp_replace(regexp_replace(text2,
      |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS scrub_hash
      |FROM planted ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t07
  /** TF-IDF keyword extraction: top-3 terms per document by
    * tf · ln(N/df). The inverted-index shape at scale: one explode +
    * groupBy(doc,term) for tf (shuffle ∝ postings), one groupBy(term)
    * for df (shuffle ∝ vocab), df joined back on term (shuffle join —
    * vocab is data-sized, never broadcast), N broadcast as a 1-row
    * aggregate. df goes through a hash aggregate, NOT a window over the
    * term key: a window partition must colocate in one task, so a
    * stopword's entire posting list (~n_docs rows) lands on a single
    * task with no map-side combine — fatal at corpus scale. The groupBy
    * shrinks every partition before its shuffle; the checkpoint pins
    * the postings so both consumers reuse one tokenization.
    * Ranking ties are only possible at identical (tf, df),
    * where both engines compute the identical double — term breaks them.
    */
  def t07TfIdf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val total = docs.agg(count(lit(1)).as("n_docs"))
    // spread before tokenize+explode: the postings fan-out is the CPU
    // hot spot; identity when the scan is already wide
    val tf = Tables.spread(docs)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(Tables.ckptNarrow(_, 4)) // postings computed once for df agg + scoring join
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("tfidf_raw",
        col("tf") * log(col("n_docs").cast(DoubleType) / col("df")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tfidf_raw"), 4).as("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val t07Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(${toksSql("text")}) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |total AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf_raw
      |  FROM tf JOIN dfreq USING (term), total)
      |SELECT doc_id, term, tf, df, ROUND(tfidf_raw, 4) AS tfidf, rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY tfidf_raw DESC, term) AS rank
      |      FROM scored)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- t08
  /** URL/domain statistics — the provenance roll-up every web-corpus
    * pipeline runs (per-domain doc and URL counts feed quality filters
    * and dedup priors). The corpus is synthetic and URL-free, so URLs are
    * PLANTED deterministically (t05 pattern) and the extractor must find
    * exactly those. Map-side regex extraction → explode → one partial-agg
    * shuffle on domain.
    */
  def t08Domains(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("text2", concat(col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" see https://site"), (col("doc_id") % 7).cast(StringType),
            lit(".example.com/page"), col("doc_id").cast(StringType)))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          concat(lit(" http://cdn"), (col("doc_id") % 3).cast(StringType),
            lit(".example.org/x"))).otherwise(lit(""))))
    docs.select(col("doc_id"),
        explode(expr(
          "regexp_extract_all(text2, 'https?://([a-z0-9.-]+)', 1)"))
          .as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("domain"))
  }

  val t08Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 2 = 0 THEN ' see https://site' || (doc_id % 7) ||
      |      '.example.com/page' || doc_id ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 0 THEN ' http://cdn' || (doc_id % 3) ||
      |      '.example.org/x' ELSE '' END AS text2
      |  FROM documents),
      |urls AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text2, 'https?://([a-z0-9.-]+)', 1)) AS domain
      |  FROM planted)
      |SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
      |FROM urls GROUP BY domain ORDER BY domain""".stripMargin

  // ---------------------------------------------------------------- t09
  /** Text normalization for equality-class keys: lowercase → accent
    * strip (custom codegen'd NFD expression, DuckDB `strip_accents`
    * parity) → whitespace collapse → md5 class key. Accented phrases are
    * PLANTED (doc_id-keyed) so the normalizer provably folds them; the
    * class key is what exact dedup at 100 TB would group on — all
    * map-side, one presentation sort.
    */
  def t09Normalize(spark: SparkSession, dir: String): DataFrame = {
    val accented = array(lit(" Café São Paulo"), lit(" Über Zürich"),
      lit(" niño señor"), lit(" crème brûlée"), lit(" smörgåsbord Åland"))
    val docs = Tables(spark, dir, "documents")
      .withColumn("text2", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          element_at(accented, (col("doc_id") % 5 + 1).cast("int")))
          .otherwise(lit(""))))
    docs.select(col("doc_id"),
        regexp_replace(
          graft.functions.text.strip_accents(lower(col("text2"))),
          "[ \\t\\n\\r]+", " ").as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("norm_key"),
        length(col("norm")).cast(LongType).as("norm_len"))
      .orderBy(col("doc_id"))
  }

  val t09Sql: String =
    """WITH planted AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN
      |      [' Café São Paulo', ' Über Zürich', ' niño señor',
      |       ' crème brûlée', ' smörgåsbord Åland'][CAST(doc_id % 5 + 1 AS INT)]
      |    ELSE '' END AS text2
      |  FROM documents),
      |normed AS (
      |  SELECT doc_id,
      |    regexp_replace(strip_accents(lower(text2)), '[ \t\n\r]+', ' ', 'g') AS norm
      |  FROM planted)
      |SELECT doc_id, md5(norm) AS norm_key,
      |  CAST(length(norm) AS BIGINT) AS norm_len
      |FROM normed ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t10
  /** Benchmark-contamination check: flag corpus docs that share 8-word
    * grams with a held-out eval set (docs with doc_id % 97 == 0). Leaked
    * copies are planted (eval text minus its last word, id + 3,000,000)
    * and must be exactly the flagged docs — the natural corpus shares no
    * 8-gram runs.
    *
    * Scale: eval/benchmark gram sets are small by nature (thousands of
    * docs), so the distinct eval grams BROADCAST to every executor; the
    * corpus side is one map-only gram explode + broadcast join + one
    * groupBy on doc_id. No corpus self-join, and the per-doc totals ride
    * the group keys — a single corpus scan end to end.
    */
  def t10Contamination(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val evalDocs = base.filter(col("doc_id") % 97 === 0)
    // natural docs pass through, eval docs re-enter AS their leaked
    // copy — one CASE projection over ONE full scan (round 15, VERDICT
    // r14 #4: the old base\eval ∪ leaked union read text twice); the
    // id sets are identical to the old union since %97 partitions rows
    val isEval = col("doc_id") % 97 === 0
    val corpus = base.select(
      when(isEval, col("doc_id") + 3000000L).otherwise(col("doc_id"))
        .as("doc_id"),
      when(isEval, dropLastWord(col("text")))
        .otherwise(col("text")).as("text"))

    def gramSets(df: DataFrame): DataFrame = df
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .select(col("doc_id"), gramSet8("ws").as("gs"))

    // explode_OUTER, deliberately: gs is never empty (a short doc yields
    // its whole text as one gram), so outer ≡ inner here — but the inner
    // form lets InferFiltersFromGenerate add `size(gs)>0` filters that
    // projection-collapse then inlines as FULL copies of the gram-array
    // construction, rebuilding every doc's array 3× per row in an
    // interpreted Filter (a measured 8× slowdown of the whole operator).
    // n_grams = COUNT(*) after the explode (gs is distinct per doc), so
    // nothing else references gs and the array is built exactly once.
    val evalGrams = gramSets(evalDocs)
      .select(explode_outer(col("gs")).as("eg")).distinct()
    gramSets(corpus)
      .select(col("doc_id"), explode_outer(col("gs")).as("gram"))
      .join(broadcast(evalGrams), col("gram") === col("eg"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("eg")).as("n_overlap"))
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        round(col("n_overlap").cast(DoubleType) / col("n_grams"), 4)
          .as("overlap_frac"),
        (col("n_overlap").cast(DoubleType) / col("n_grams") >= 0.2)
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** t10's distinct 8-word grams of the token array column `ts`; a doc
    * shorter than 8 tokens yields its whole text as one gram. */
  private[operators] def gramSet8(ts: String): Column = expr(
    s"""CASE WHEN size($ts) < 8 THEN array(array_join($ts, ' '))
       |ELSE array_distinct(transform(sequence(1, size($ts) - 7),
       |  i -> array_join(slice($ts, i, 8), ' '))) END""".stripMargin)

  /** The oracle side of [[gramSet8]]. */
  private[operators] def gramSet8Sql(ts: String): String =
    s"""CASE WHEN len($ts) < 8 THEN [array_to_string($ts, ' ')]
       |      ELSE list_distinct(list_transform(range(1, len($ts) - 6),
       |        i -> array_to_string($ts[i:(i+7)], ' '))) END""".stripMargin

  val t10Sql: String =
    s"""WITH evaldocs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
      |corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, ${dropLastWordSql("text")}
      |  FROM evaldocs),
      |cg AS (
      |  SELECT doc_id, unnest(gs) AS gram
      |  FROM (SELECT doc_id,
      |      ${gramSet8Sql("ws")} AS gs
      |    FROM (SELECT doc_id,
      |        ${toksSql("text")} AS ws FROM corpus))),
      |eg AS (
      |  SELECT DISTINCT unnest(gs) AS eg
      |  FROM (SELECT ${gramSet8Sql("ws")} AS gs
      |    FROM (SELECT ${toksSql("text")} AS ws FROM evaldocs)))
      |SELECT doc_id, COUNT(*) AS n_grams, COUNT(eg.eg) AS n_overlap,
      |  ROUND(CAST(COUNT(eg.eg) AS DOUBLE) / COUNT(*), 4) AS overlap_frac,
      |  CAST(COUNT(eg.eg) AS DOUBLE) / COUNT(*) >= 0.2 AS contaminated
      |FROM cg LEFT JOIN eg ON cg.gram = eg.eg
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t11
  /** HTML/markup stripping — the first pass of every web-corpus
    * pipeline: script/style blocks dropped with their content, remaining
    * tags removed, common entities decoded, whitespace collapsed.
    * Markup is PLANTED deterministically (no HTML in the synthetic
    * corpus) so the cleaner must remove exactly what was planted.
    * Map-only regex/replace chain — scan-bandwidth at any scale.
    */
  def t11MarkupStrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("text2",
        when(col("doc_id") % 4 === 0, concat(
          lit("""<div class="hd"><p>Start &amp; lead</p><script type="text/js">var x = 1 < 2;</script></div> """),
          col("text")))
        .when(col("doc_id") % 4 === 2, concat(
          lit("""<b>bold</b> &lt;tag&gt; &quot;q&quot; &nbsp;"""), col("text"),
          lit("""<style>.c { color: red }</style>""")))
        .otherwise(col("text")))
    docs.select(col("doc_id"),
        size(expr("regexp_extract_all(text2, '<[^>]+>', 0)")).cast(LongType)
          .as("n_tags"),
        stripMarkup(col("text2")).as("clean"))
      .select(col("doc_id"), col("n_tags"), md5(col("clean")).as("clean_key"),
        length(col("clean")).cast(LongType).as("clean_len"))
      .orderBy(col("doc_id"))
  }

  /** t11's cleaner: script/style blocks dropped with their content, the
    * remaining tags removed, five entities decoded, whitespace collapsed
    * and trimmed. */
  private[operators] def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(text,
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&nbsp;" -> " ").foldLeft(noTags) {
      case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }

  /** The oracle side of [[stripMarkup]]. */
  private[operators] def stripMarkupSql(text: String): String =
    s"""trim(regexp_replace(
       |      replace(replace(replace(replace(replace(
       |        regexp_replace(
       |          regexp_replace($text,
       |            '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
       |          '<[^>]+>', ' ', 'g'),
       |        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
       |        '&quot;', '"'), '&nbsp;', ' '),
       |      '[ \\t\\n\\r]+', ' ', 'g'))""".stripMargin

  val t11Sql: String =
    s"""WITH planted AS (
      |  SELECT doc_id, CASE
      |    WHEN doc_id % 4 = 0 THEN
      |      '<div class="hd"><p>Start &amp; lead</p><script type="text/js">var x = 1 < 2;</script></div> ' || text
      |    WHEN doc_id % 4 = 2 THEN
      |      '<b>bold</b> &lt;tag&gt; &quot;q&quot; &nbsp;' || text ||
      |      '<style>.c { color: red }</style>'
      |    ELSE text END AS text2
      |  FROM documents),
      |stripped AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text2, '<[^>]+>')) AS BIGINT) AS n_tags,
      |    ${stripMarkupSql("text2")} AS clean
      |  FROM planted)
      |SELECT doc_id, n_tags, md5(clean) AS clean_key,
      |  CAST(len(clean) AS BIGINT) AS clean_len
      |FROM stripped ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t12
  /** Corpus-unigram log-probability score — the cheap perplexity proxy
    * quality filters use when a KenLM model is unavailable: score(doc) =
    * avg over tokens of −ln p(token), p from the corpus's own unigram
    * frequencies. High scores = rare-token-heavy (gibberish, boilerplate
    * IDs); low = stopword soup. The per-token term is rounded then
    * summed as DECIMAL so the aggregation is order-independent and
    * bit-identical cross-engine (SURVEY §5 discipline for float aggs).
    *
    * Scale: the (doc,term) counts are checkpointed so ONE tokenization
    * pass feeds both the corpus-frequency aggregation and the scoring
    * join; corpus counts go through groupBy(term) (map-side partial
    * combine shrinks each partition to its local vocab before the
    * shuffle) and join back — never a window over the raw term key,
    * which would pin a stopword's full posting list on one task.
    */
  def t12UnigramScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // avg(−ln p) decomposes as ln(n_total) − Σ k·ln(cnt) / n_tokens, so
    // the whole score needs ONE tokenization pass: (doc,term) counts
    // (checkpointed) → vocab-sized frequency agg → join back on term →
    // per-doc aggregation.
    val tfdt = Tables.spread(docs)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("k"))
      .transform(Tables.ckptNarrow(_, 4)) // postings computed once for freq agg + scoring join
    val freq = tfdt.groupBy(col("term")).agg(sum(col("k")).as("cnt"))
    // n_total = Σ cnt over the vocab — a second small agg over freq, not
    // a second corpus pass (freq itself reads the checkpointed postings)
    val total = freq.agg(sum(col("cnt")).as("n_total"))
    val perDoc = tfdt.join(freq, Seq("term"))
      // per-term term rounded then decimal-summed: order-independent agg
      .withColumn("r",
        round(log(col("cnt").cast(DoubleType)), 6).cast("decimal(18,6)") *
          col("k"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("r")).as("s"))
    perDoc.crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_total").cast(DoubleType)) -
          col("s").cast(DoubleType) / col("n_tokens"), 4).as("avg_neglogp"))
      .orderBy(col("doc_id"))
  }

  val t12Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(${toksSql("text")}) AS term
      |  FROM documents),
      |tfdt AS (SELECT doc_id, term, COUNT(*) AS k FROM toks GROUP BY 1, 2),
      |tf AS (SELECT term, SUM(k) AS cnt FROM tfdt GROUP BY 1),
      |per_doc AS (
      |  SELECT doc_id, SUM(k) AS n_tokens,
      |    SUM(CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) * k) AS s
      |  FROM tfdt JOIN tf USING (term) GROUP BY doc_id),
      |tot AS (SELECT SUM(n_tokens) AS n_total FROM per_doc)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  ROUND(ln(CAST(n_total AS DOUBLE)) - CAST(s AS DOUBLE) / n_tokens, 4)
      |    AS avg_neglogp
      |FROM per_doc, tot ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t14
  /** Bigram-LM log-probability score — t12's perplexity proxy upgraded
    * one order: score(doc) = Σ over the doc's bigram positions of
    * −ln P(w_i | w_{i−1}) under the corpus's own add-one-smoothed bigram
    * model, P(w₂|w₁) = (c(w₁w₂) + 1) / (c_left(w₁) + V) with V = exact
    * unigram vocabulary size. −ln P = ln(c_left + V) − ln(c + 1), so the
    * per-position term is a difference of logs of INTEGERS — each log is
    * rounded 6dp and summed as DECIMAL, making the per-doc aggregation
    * order-independent and bit-identical cross-engine (the t12
    * discipline; ln of an integer ≥ 2 is irrational, so the 6dp round
    * has no half-way cases).
    *
    * The deliverable is the exact-decimal SUM cast to double — a
    * rounded avg (sum/n_bigrams) is deliberately NOT emitted: the sum
    * is an exact 6dp decimal, so the quotient is rational and lands
    * exactly on .xxxx5 half-way boundaries (~1 % of docs at n = 1)
    * where Spark and DuckDB round apart (§5; t12's avg is safe only
    * because its ln(n_total) offset is irrational).
    *
    * Scale: ONE tokenization pass — the token-array frame is
    * checkpointed and feeds both the vocab count and the bigram
    * postings; corpus bigram counts and left-context totals both derive
    * from the checkpointed (doc, w₁, w₂, k) frame (shrinking hash aggs,
    * never a window over a term key); V is one exact distinct-count
    * (shuffle ∝ vocab — and V must stay exact: it enters every score).
    * The weight table is TIERED (round 13) — the full frame is never
    * force-broadcast: on open-vocabulary web text the distinct-bigram
    * count follows Heaps' law (Web 1T: 3.1e9 bigram types from 1e12
    * tokens), past Spark's 8 GB broadcast ceiling and any executor
    * heap at the 100 TB target. Instead the top-K=65536 pairs by
    * corpus count (bounded BY CONSTRUCTION via limit, a distributed
    * TakeOrdered — ~5 MB at any corpus size) broadcast onto the
    * occurrence stream and score map-side with a doc-local combine
    * (Zipf: the head covers almost all positions — 100 % of this
    * corpus, ≥90 % of web text); the residual tail is aggregated to
    * per-doc counts and SHUFFLE-joined to the (data-sized, never
    * pinned) weight frame. Both tiers union into ONE per-doc sum, so
    * exactness is untouched: every position is scored by the same
    * weight whichever tier it rides (Σ k·w ≡ Σ_occ w in decimals).
    */
  def t14BigramScore(spark: SparkSession, dir: String): DataFrame =
    t14Scored(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("n_bigrams"),
        col("s").cast(DoubleType).as("sum_neglogp"))
      .orderBy(col("doc_id"))

  /** t14's per-doc frame with the EXACT decimal score `s` (the double
    * cast happens only at t14's own presentation edge): t19's bucket
    * split orders by this decimal in both engines — ordering by the
    * cast double instead could tie two 6dp-distinct scores and let the
    * doc_id tiebreak order them differently per engine (§5). */
  private[graft] def t14Scored(spark: SparkSession, dir: String,
      headK: Int = 65536): DataFrame = {
    val toksDf = Tables.spread(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("source"), toks(col("text")).as("ts"))
      .transform(Tables.ckptNarrow(_, 4)) // one tokenization: vocab + bigram postings
    val vocab = toksDf.select(explode(col("ts")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    // Round-13 TIERED scoring. Round 10b's all-broadcast weight table
    // rested on a false premise ("vocab²-bounded" — Heaps' law breaks
    // it at 100 TB); a plain shuffle-join of per-doc counts measured 3×
    // at the synthesized sf1 (two extra occurrence-scale exchanges).
    // The tier keeps both properties: the HEAD (top-K pairs by corpus
    // count — K-bounded by construction, so the broadcast can never
    // outgrow an executor) scores occurrences map-side with a
    // doc-local combine (Θ(docs) exchange); only tail occurrences —
    // the Zipf residue — aggregate to per-doc counts and shuffle-join
    // the data-sized weight frame. Both tiers union into ONE per-doc
    // decimal sum, so the split is invisible to the result.
    val occ = toksDf.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ts) - 2),
          |  i -> struct(ts[i] AS w1, ts[i + 1] AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cb = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cl = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cl"))
    val weights = cb.join(cl, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), col("cb"),
        (round(log((col("cl") + col("v")).cast(DoubleType)), 6)
            .cast("decimal(18,6)") -
          round(log((col("cb") + 1).cast(DoubleType)), 6)
            .cast("decimal(18,6)")).as("w"))
      .transform(Tables.ckptNarrow(_, 4)) // two consumers: head build + tail join
    // bounded head: distributed TakeOrdered, ties cut deterministically
    val headW = weights
      .orderBy(col("cb").desc, col("w1"), col("w2")).limit(headK)
      .select(col("w1"), col("w2"), col("w"))
    // ONE occurrence pass scores both tiers: left_outer against the
    // broadcast head, then head rows (w hit — w is round(ln int), never
    // null on a match) collapse doc-locally to one partial per doc
    // while tail rows keep their (w1, w2) for the residual join; the
    // pre frame is Θ(docs + tail triples), checkpointed for its two
    // consumers. Tail rows never share a shuffle key with head rows
    // (head keys are nulled), so the residual join sees no skew pile.
    val pre = occ.join(broadcast(headW), Seq("w1", "w2"), "left_outer")
      .groupBy(col("doc_id"),
        when(col("w").isNull, col("w1")).as("t1"),
        when(col("w").isNull, col("w2")).as("t2"))
      .agg(count(lit(1)).as("k"), sum(col("w")).as("sh"))
      .transform(Tables.ckptNarrow(_, 4))
    val headPart = pre.filter(col("t1").isNull)
      .select(col("doc_id"), col("k"), col("sh").as("sw"))
    val tailPart = pre.filter(col("t1").isNotNull)
      .join(weights.select(col("w1").as("t1"), col("w2").as("t2"),
        col("w")), Seq("t1", "t2"))
      .select(col("doc_id"), col("k"), (col("w") * col("k")).as("sw"))
    val scored = headPart.unionByName(tailPart)
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("sw")).cast("decimal(28,6)").as("s"))
    // < 2-token docs have no bigram rows — keep them at sum 0;
    // `source` rides the checkpointed frame so t19 needs no extra
    // corpus join to attribute scores
    toksDf.select(col("doc_id"), col("source"),
        size(col("ts")).cast(LongType).as("n_tokens"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("s"), lit(0).cast("decimal(18,6)")).as("s"))
  }

  val t14Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    ${toksSql("text")} AS ts
      |  FROM documents),
      |vocab AS (
      |  SELECT COUNT(DISTINCT t) AS v
      |  FROM (SELECT unnest(ts) AS t FROM d)),
      |bg AS (
      |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS k
      |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
      |        FROM d WHERE len(ts) >= 2)
      |  GROUP BY 1, 2, 3),
      |cb AS (SELECT w1, w2, SUM(k) AS cb FROM bg GROUP BY 1, 2),
      |cl AS (SELECT w1, SUM(cb) AS cl FROM cb GROUP BY 1),
      |sc AS (
      |  SELECT doc_id, SUM(k) AS n_bigrams,
      |    SUM((CAST(ROUND(ln(CAST(cl + v AS DOUBLE)), 6) AS DECIMAL(18,6))
      |       - CAST(ROUND(ln(CAST(cb + 1 AS DOUBLE)), 6) AS DECIMAL(18,6)))
      |      * k) AS s
      |  FROM bg JOIN cb USING (w1, w2) JOIN cl USING (w1), vocab
      |  GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(COALESCE(sc.s, 0) AS DOUBLE) AS sum_neglogp
      |FROM d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t19
  /** CCNet perplexity bucketing (Wenzek et al. 2020 §4.1) — the
    * head/middle/tail split every CCNet-descended corpus ships with:
    * per source, docs ranked by LM score (t14's bigram −log P, the
    * EXACT decimal — ordering by the presentation double could tie
    * 6dp-distinct scores and diverge across engines, §5) and cut into
    * equal thirds by doc count; `head` is the lowest-perplexity third
    * the high-quality mix oversamples.
    *
    * Cross-engine: the cut is integer algebra (rank·3 vs n, 2n) on an
    * exact rank; order key (s, doc_id) is exact and unique.
    *
    * Scale: bucket LABELS need only the two per-source quantile CUT
    * KEYS, not a per-row global rank — so no corpus-wide window
    * anywhere (even the bucketed-ladder rank form measured ~5x t14's
    * own cost at the synthesized sf1, paying a corpus sort for ranks
    * the CASE never reads). Shape: ONE map-side-combined cell count
    * on (source, score-unit), per-source prefix sums on the tiny
    * cell frame, rank only INSIDE the <= 2 boundary cells each
    * source's k/3-th rows land in (cell-bounded windows), broadcast
    * the two exact cut keys, and label in one map-only pass over the
    * checkpointed 32 B/doc score frame.
    */
  def t19CcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    // micro-unit key: the scale-6 decimal *10^6 is an EXACT integer —
    // a primitive (Long, Long) total order identical to (s, doc_id)
    val scored = t14Scored(spark, dir)
      .select(col("doc_id"), col("source"),
        (col("s") * 1000000).cast(LongType).as("__sm"))
      .withColumn("__b", expr("__sm DIV 1000000"))
      .transform(Tables.ckptNarrow(_))
    val cells = scored.groupBy(col("source"), col("__b"))
      .agg(count(lit(1)).as("c"))
    // tiny frame (sources x score-units): per-source running end
    // positions; windows here are bounded by the unit-bucket count
    val wSrc = Window.partitionBy(col("source")).orderBy(col("__b"))
    val withCum = cells.withColumn("cum", sum(col("c")).over(wSrc))
      .withColumn("prev", col("cum") - col("c"))
    val ks = withCum.groupBy(col("source")).agg(max(col("cum")).as("n"))
      .select(col("source"), expr("n DIV 3").as("k1"),
        expr("2 * n DIV 3").as("k2"))
    // the <= 2 cells per source containing the cut positions
    val bounds = withCum.join(ks, "source")
      .select(col("source"), col("__b"), col("prev"), col("cum"),
        explode(array(col("k1"), col("k2"))).as("k"))
      .filter(col("k") > 0 && col("prev") < col("k") &&
        col("k") <= col("cum"))
      .select(col("source"), col("__b"), col("prev"), col("k"))
      .distinct() // k1 == k2 for tiny sources: one row, not two
    // exact cut keys: rank within ONLY the boundary cells. `k` is a
    // partition key: when both cuts land in ONE cell the bounds join
    // duplicates its rows (one copy per k), and each copy must rank
    // independently
    val wCell = Window.partitionBy(col("source"), col("__b"), col("k"))
      .orderBy(col("__sm"), col("doc_id"))
    val bkeys = scored
      .join(broadcast(bounds), Seq("source", "__b"))
      .withColumn("r", row_number().over(wCell).cast(LongType))
      .filter(col("r") === col("k") - col("prev"))
      .select(col("source"), col("k"), col("__sm").as("bsm"),
        col("doc_id").as("bid"))
    def cut(kCol: String, sm: String, id: String) = bkeys
      .join(ks.select(col("source"), col(kCol).as("k")), Seq("source", "k"))
      .select(col("source"), col("bsm").as(sm), col("bid").as(id))
    val le = (sm: String, id: String) =>
      col("__sm") < col(sm) ||
        (col("__sm") === col(sm) && col("doc_id") <= col(id))
    scored
      .join(broadcast(cut("k1", "sm1", "id1")), Seq("source"), "left_outer")
      .join(broadcast(cut("k2", "sm2", "id2")), Seq("source"), "left_outer")
      .withColumn("ppl_bucket",
        when(col("sm1").isNotNull && le("sm1", "id1"), "head")
          .when(col("sm2").isNotNull && le("sm2", "id2"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("source"), col("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  val t19Sql: String = {
    // t14's chain verbatim up to the per-doc decimal score
    val chain = t14Sql.split("\nSELECT d\\.doc_id").head.stripPrefix("WITH ")
    s"""WITH $chain,
       |scored AS (
       |  SELECT d.doc_id, COALESCE(sc.s, CAST(0 AS DECIMAL(18,6))) AS s
       |  FROM d LEFT JOIN sc USING (doc_id)),
       |j AS (
       |  SELECT s.doc_id, s.s, doc.source
       |  FROM scored s JOIN documents doc USING (doc_id)),
       |r AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY s, doc_id)
       |      AS rank,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM j)
       |SELECT doc_id, source,
       |  CASE WHEN rank * 3 <= n THEN 'head'
       |       WHEN rank * 3 <= n * 2 THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t15
  /** Zipf rank-frequency fit — the distributional quality diagnostic
    * (Gopher/C4-class corpus reporting): natural language's term
    * frequencies follow freq ∝ rank^s with s ≈ −1; templated/synthetic
    * or heavily-boilerplated corpora flatten toward 0 and spam skews
    * below −1, so the fitted slope is a one-number corpus-health check
    * (this corpus measures ≈ −0.18, far above natural text's ≈ −1 —
    * correctly flagging synthetic/templated text).
    * Fit = least-squares over (ln rank, ln freq) of the top-1000 terms.
    *
    * Scale: term frequencies are a shrinking hash agg (map-side
    * combine); the top-1000 cut is a TakeOrdered (bounded heap per
    * partition, never a global sort); the rank window runs over the
    * BOUNDED 1000-row frame (st11's bounded-rank-frame argument); the
    * regression is one aggregation over ≤ 1000 rows.
    *
    * Cross-engine (§5): each ln(integer) rounds to 6dp (irrational ⇒ no
    * half-way case) and enters DECIMAL sums — exact and
    * order-independent; the final slope/intercept are quotients of
    * exact decimals cast to double, emitted UNROUNDED (identical IEEE
    * division of identical doubles — rounding them would re-introduce
    * the rational-quotient hazard).
    */
  def t15ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val topK = 1000
    val freq = Tables.spread(Tables(spark, dir, "documents"))
      .select(explode(toks(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val top = freq.orderBy(col("freq").desc, col("term")).limit(topK)
    val ranked = top.withColumn("rank", row_number().over(
      Window.orderBy(col("freq").desc, col("term"))))
    val x = round(log(col("rank").cast(DoubleType)), 6).cast("decimal(18,6)")
    val y = round(log(col("freq").cast(DoubleType)), 6).cast("decimal(18,6)")
    // the normal-equation combination must stay EXACT: Spark's default
    // decimal widening blows past precision 38 on n·sxy / sx·sy and
    // silently rounds the low digits (caught live: 1e-12 slope drift vs
    // DuckDB). The sums are tiny (|x|,|y| ≤ ln 1000 < 7, 1000 rows), so
    // recast them to tight decimals first — every product then fits
    // exactly, mirrored cast-for-cast in the oracle.
    ranked.select(x.as("x"), y.as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_terms"),
        col("n").cast("decimal(4,0)").as("nd"),
        col("sx").cast("decimal(12,6)").as("sx"),
        col("sy").cast("decimal(12,6)").as("sy"),
        col("sxy").cast("decimal(20,12)").as("sxy"),
        col("sxx").cast("decimal(20,12)").as("sxx"))
      .select(col("n_terms"),
        ((col("nd") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
          (col("nd") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
          .as("zipf_slope"),
        col("sx").cast(DoubleType).as("__sx"),
        col("sy").cast(DoubleType).as("__sy"))
      .select(col("n_terms"), col("zipf_slope"),
        ((col("__sy") - col("zipf_slope") * col("__sx")) / col("n_terms"))
          .as("zipf_intercept"))
  }

  val t15Sql: String =
    s"""WITH toks AS (
      |  SELECT unnest(${toksSql("text")}) AS term
      |  FROM documents),
      |freq AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1),
      |topt AS (SELECT term, freq FROM freq
      |  ORDER BY freq DESC, term LIMIT 1000),
      |ranked AS (
      |  SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
      |  FROM topt),
      |xy AS (
      |  SELECT
      |    CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
      |    CAST(ROUND(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      |  FROM ranked),
      |s0 AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM xy),
      |s AS (
      |  SELECT n, CAST(n AS DECIMAL(4,0)) AS nd,
      |    -- (20,6) not (12,6): at sf1 magnitudes DuckDB's (12,6)×(12,6)
      |    -- takes an int64 multiply path that overflows on the scaled
      |    -- integers (round-13 full-sf1 gate finding); the wider casts
      |    -- are lossless and force the int128 lane
      |    CAST(sx AS DECIMAL(20,6)) AS sx, CAST(sy AS DECIMAL(20,6)) AS sy,
      |    CAST(sxy AS DECIMAL(22,12)) AS sxy,
      |    CAST(sxx AS DECIMAL(22,12)) AS sxx
      |  FROM s0)
      |SELECT CAST(n AS BIGINT) AS n_terms,
      |  CAST(nd * sxy - sx * sy AS DOUBLE)
      |    / CAST(nd * sxx - sx * sx AS DOUBLE) AS zipf_slope,
      |  (CAST(sy AS DOUBLE) -
      |    (CAST(nd * sxy - sx * sy AS DOUBLE)
      |      / CAST(nd * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n
      |    AS zipf_intercept
      |FROM s""".stripMargin

  // ------------------------------------------------------------ registry
  // --------------------------------------------------------------- t13
  /** Sliding-window chunking — the RAG / embedding-prep step: split
    * every document into fixed-size token windows (64 tokens, stride 48
    * → 16-token overlap so no semantic boundary is lost at a cut),
    * emitting (chunk_id, start_tok, n_tok, chunk_text) with exact token
    * offsets for later span mapping. Deterministic pure function of the
    * text, so chunk ids are stable across runs/engines — the property a
    * vector index keyed by (doc_id, chunk_id) needs.
    *
    * Scale: map-only — one tokenization plus a bounded explode (chunks
    * ∝ tokens/stride); no shuffle before the presentation sort.
    */
  def t13ChunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val W = 64; val S = 48
    val docs = Tables(spark, dir, "documents")
      .withColumn("__ws", toks(col("text")))
      .filter(size(col("__ws")) >= 1)
    docs
      .select(col("doc_id"), col("__ws"),
        posexplode(sequence(lit(0), size(col("__ws")) - 1, lit(S))))
      .select(col("doc_id"), col("pos").cast(LongType).as("chunk_id"),
        col("col").cast(LongType).as("start_tok"),
        slice(col("__ws"), col("col") + 1, lit(W)).as("__chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("__chunk")).cast(LongType).as("n_tok"),
        array_join(col("__chunk"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val t13Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    ${toksSql("text")} AS ts
      |  FROM documents),
      |starts AS (
      |  SELECT doc_id, ts,
      |    unnest(range(0, len(ts), 48)) AS start_tok
      |  FROM d WHERE len(ts) >= 1)
      |SELECT doc_id, CAST(start_tok // 48 AS BIGINT) AS chunk_id,
      |  CAST(start_tok AS BIGINT) AS start_tok,
      |  CAST(len(ts[start_tok + 1 : start_tok + 64]) AS BIGINT) AS n_tok,
      |  array_to_string(ts[start_tok + 1 : start_tok + 64], ' ')
      |    AS chunk_text
      |FROM starts ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- t16
  /** Blocklist ("bad words") content gate — C4's list-based filter
    * (Raffel et al. 2020 §2.2: a document containing ANY listed word
    * is dropped), the one standard curation step the heuristic gates
    * (t02/p09) and the model gate (p11) don't cover. The list ships as
    * a seeded literal (the p11 model-parameters-as-literals pattern:
    * curation policy is fitted offline; what runs on the cluster is
    * the inlined list, identical on every engine and rerun). On this
    * corpus only "dup" occurs — bad words are RARE in a mostly-clean
    * crawl, so low single-digit-percent attrition is the realistic
    * profile, and the planted `dup`-marker docs make it deterministic.
    * Emits the per-doc decision; the same rule reports its attrition
    * as p09's funnel stage 5, so drop accounting lives in one place.
    *
    * Cross-engine (§5): counts are exact integers, the keep flag an
    * integer comparison — no float anywhere.
    *
    * Scale: map-only — each doc's token array folds against the
    * bounded literal list; zero shuffle beyond the presentation sort
    * (PlanAuditSpec pins one scan, no join/window/aggregate).
    */
  private[graft] val blocklist: Seq[String] =
    Seq("dup", "nsfw", "unsafe", "badword")

  private[graft] def blocklistInSql: String =
    blocklist.map(w => s"'$w'").mkString(", ")

  /** t16's count: tokens of `ts` on the blocklist. */
  private[graft] def blockHits(ts: Column): Column = markerHits(ts, blocklist)

  def t16BlocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(t).cast(LongType).as("n_tokens"), blockHits(t).as("n_bad"))
      .withColumn("keep", col("n_bad") === 0L)
      .orderBy(col("doc_id"))
  }

  val t16Sql: String =
    s"""SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(ts, x -> x IN ($blocklistInSql))) AS BIGINT)
       |    AS n_bad,
       |  len(list_filter(ts, x -> x IN ($blocklistInSql))) = 0 AS keep
       |FROM (
       |  SELECT doc_id, source,
       |    ${toksSql("text")} AS ts
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t17
  /** FUZZY benchmark-contamination check — the decontamination step
    * t10's exact 8-gram overlap cannot do: a PARAPHRASED leak (word
    * substitutions, light edits) breaks almost every verbatim 8-gram
    * while leaving most 3-shingles intact, so it is invisible to t10
    * and flagrant to a MinHash estimate (the Llama/GPT-style fuzzy
    * decontamination pass). Corpus docs and the held-out eval set
    * (t10's `doc_id % 97` split) get dd02's 64-hash MinHash signature;
    * every (corpus doc, eval doc) pair with estimated Jaccard ≥ 0.4
    * is flagged. Planted: each eval doc re-enters the corpus with
    * every 10th word substituted — true 3-shingle Jaccard ≈ 0.54, a
    * wide margin over the 0.4 threshold, while the verbatim-8-gram
    * survival collapses to ~1−8f ≈ 0.2…0.27 (t10's exact-overlap
    * threshold boundary). Detection is PROBABILISTIC in the estimator
    * (64 hashes ⇒ σ ≈ 0.06): at sf0.01 five of the six plants land
    * 0.55…0.61 and one lands 0.39, just under the gate — the spec
    * asserts ≥ 80 % plant recall and zero false positives, which is
    * the honest contract of a sketch-based gate.
    *
    * Scale (REWORKED round 14 — the decade gate caught the old shape at
    * 12.6× for 10× data): this key's "eval set" derives from the corpus
    * (doc_id % 97), so it GROWS with the data — the old
    * corpus × broadcast(evalSigs) fold was the t14 false-premise class
    * (N·|eval| = 100× work per decade, and an unboundable broadcast at
    * 100 TB). The probe is now LSH-BANDED: both signature frames
    * explode into 32 bands of 2 consecutive positions, candidates come
    * from the (band, v1, v2) hash EQUI-JOIN (data-sized × data-sized —
    * a shuffle join by design, never a broadcast), and only candidates
    * pay the exact 64-position comparison. Both engines compute the
    * identical deterministic candidate set, so the oracle replicates
    * the banding too.
    *
    * DETECTION contract under banding: a pair whose signatures agree on
    * k of 64 positions has ≈ 32·k(k−1)/(64·63) expected matching
    * 2-blocks — ≥ 5 at the est ≥ 0.4 gate (k ≥ 26) and ≥ 9 at the
    * plants' observed 0.55+, so the banded set misses essentially
    * nothing the gate would keep (the spec's ≥ 80 % plant recall /
    * zero-FP contract still holds; FPs can only shrink — the banded
    * set is a subset of the exhaustive one).
    *
    * Cross-engine (§5): the signature chain is the bit-exact dd02
    * kernel replica; est_jaccard = k/64 is an exact dyadic rational
    * (the dd02/dd15 precedent).
    */
  def t17FuzzyContamination(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val evalDocs = base.filter(col("doc_id") % 97 === 0)
    // explicit whitespace class, not \s: Java and RE2 \s disagree on
    // \x0B, and the paraphrase TEXT must be byte-identical cross-engine
    // (the repo's oracle-tokenizer convention)
    val ws = words(col("text"))
    // natural docs pass through, eval docs re-enter AS their paraphrase
    // — one CASE projection over ONE full scan (round 15, VERDICT r14
    // #4: the old base\eval ∪ paraLeaks union read text twice); %97
    // partitions rows so the id sets equal the old union's
    val isEval = col("doc_id") % 97 === 0
    val corpus = base.select(
      when(isEval, col("doc_id") + 3000000L).otherwise(col("doc_id"))
        .as("doc_id"),
      when(isEval, array_join(transform(ws, (w, i) =>
          when((i + 1) % 10 === 0, lit("xq")).otherwise(w)), " "))
        .otherwise(col("text")).as("text"))
    val sigOf = (df: DataFrame) => df.select(col("doc_id"),
      graft.functions.text.minhash_sig(col("text"), 64, 3).as("sig"))
    val evalSigs = sigOf(evalDocs)
      .select(col("doc_id").as("eval_id"), col("sig").as("esig"))
    // materialization barrier (the dd02 discipline): without it,
    // projection collapse pushes the minhash kernel PAST the broadcast
    // join and re-hashes every document once per eval pair (measured:
    // 17.5 s vs 2.5 s at the synthesized sf1 — |eval|× kernel cost).
    // Shuffling 512 B signatures once is the cheap side of that trade.
    val corpusSigs = sigOf(corpus).repartition(col("doc_id"))
      .localCheckpoint(false) // two consumers: band explode + exact rerank
    val evalSigsCk = evalSigs.localCheckpoint(false)
    // 32 bands × 2 consecutive signature positions: narrow band rows,
    // candidates by hash equi-join on the band key — both sides are
    // data-sized, so neither is ever broadcast
    def bandRows(df: DataFrame, idCol: String, sigCol: String) =
      df.select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, 31),
           |  b -> struct($sigCol[b * 2] AS v1, $sigCol[b * 2 + 1] AS v2))"""
          .stripMargin)))
        .select(col(idCol), col("pos").as("bb"),
          col("col.v1").as("v1"), col("col.v2").as("v2"))
    val cand = bandRows(corpusSigs, "doc_id", "sig")
      .join(bandRows(evalSigsCk, "eval_id", "esig"),
        Seq("bb", "v1", "v2"))
      .select(col("doc_id"), col("eval_id")).distinct()
    cand.join(corpusSigs, Seq("doc_id"))
      .join(evalSigsCk, Seq("eval_id"))
      .select(col("doc_id"), col("eval_id"),
        graft.operators.Dedup.estJaccard(col("sig"), col("esig"))
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.4)
      .orderBy(col("doc_id"), col("eval_id"))
  }

  // ---------------------------------------------------------------- t18
  /** Repetition GATE — the Gopher repetition rules as a keep/drop
    * decision (Rae et al. 2021 Table A1). t06 reports two per-doc
    * repetition SIGNALS (rounded-float fractions, per-doc array
    * fold); this is the curation gate built on the rule t06 lacks —
    * duplicate n-GRAM mass, the signature of generation loops and
    * template spam, which needs a per-gram count no single array fold
    * expresses cheaply — with every decision in exact integers. Two
    * rules, as token-mass variants of Gopher's character-fraction
    * forms:
    * top-2-gram mass ≤ 20 % (the most frequent bigram's occurrences
    * cover ≤ 1/5 of the doc: `top2·2·5 ≤ n_tokens`) and duplicate
    * 5-gram mass ≤ 15 % (occurrences of 5-grams seen ≥ 2× in the doc:
    * `dup5·100 ≤ n5·15`). Planted: every `doc_id % 17 == 4` doc
    * re-enters (+9M) with its first five words appended six times — a
    * generation-loop tail whose repeated 5-gram and its four rotations
    * put ≥ 26 duplicate occurrences in the doc, so the dup5 rule must
    * fire on EVERY plant (the bigram rule fires only on the shorter
    * ones — measured top2 = 7, over 20 % only when n_tokens < 70);
    * base docs land mixed (short high-concentration docs fail top2 —
    * the rule working, not an artifact).
    *
    * Cross-engine (§5): every statistic is an exact integer and both
    * keep comparisons are integer cross-multiplications — no rational
    * quotient anywhere (the p11 rule).
    *
    * Scale: one tokenization (checkpointed token arrays — the t14
    * discipline) feeds both gram passes and the id frame; each pass
    * is explode → partial-agg on (doc_id, gram) — per-doc-bounded
    * keys, no window, shrinking joins back on doc_id (AQE-managed).
    */
  def t18RepetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val ws = toks(col("text"))
    val planted = docs.filter(col("doc_id") % 17 === 4)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat_ws(" ", col("text"),
          array_join(flatten(array_repeat(slice(ws, 1, 5), 6)), " "))
          .as("text"))
    // per-doc gram histograms inside ONE kernel pass each (round 16):
    // the old form exploded every 2-gram and 5-gram into its own row
    // (≈ 2·|tokens| rows/doc) and paid two (doc_id, gram) exchanges
    // just to take a per-doc max/sum; gramStats returns exactly those
    // two statistics map-only, so the whole key needs no shuffle but
    // the presentation sort. A doc shorter than n tokens yields (0, 0)
    // — the same zeros the old left_outer + coalesce produced.
    Tables.spread(docs.unionAll(planted))
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .select(col("doc_id") +: size(col("ts")).cast(LongType).as("n_tokens") +:
        repetitionStats(col("ts")): _*)
      .withColumn("keep", repetitionKeep(col("n_tokens")))
      .orderBy(col("doc_id"))
  }

  /** t18's gram statistics of the token array `ts`, named `top2` (the
    * top bigram's count) and `dup5` (occurrences of 5-grams seen twice
    * or more), each one kernel pass. */
  private[operators] def repetitionStats(ts: Column): Seq[Column] = Seq(
    graft.functions.text.gram_stats(ts, 2).getField("maxc").as("top2"),
    graft.functions.text.gram_stats(ts, 5).getField("dupsum").as("dup5"))

  /** t18's keep rule over [[repetitionStats]] of a doc of `n` tokens. */
  private[operators] def repetitionKeep(n: Column): Column =
    col("top2") * 10 <= n &&
      col("dup5") * 100 <= greatest(n - 4, lit(0L)) * 15

  /** The oracle side of [[repetitionStats]]: CTEs `t2(doc_id, top2)` and
    * `d5(doc_id, dup5)` over `src(doc_id, ts)`; a doc without a repeated
    * gram has no row. */
  private[operators] def repetitionCtesSql(src: String): String =
    s"""g2 AS (
       |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
       |        FROM $src WHERE len(ts) >= 2)),
       |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
       |t2 AS (SELECT doc_id, MAX(c) AS top2 FROM c2 GROUP BY 1),
       |g5 AS (
       |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
       |    ts[i+3] || ' ' || ts[i+4] AS g
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS i
       |        FROM $src WHERE len(ts) >= 5)),
       |c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2),
       |d5 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup5
       |       FROM c5 WHERE c >= 2 GROUP BY 1)""".stripMargin

  /** The oracle side of [[repetitionKeep]], joined to `t2` and `d5`. */
  private[operators] def repetitionKeepSql(n: String): String =
    s"""(COALESCE(t2.top2, 0) * 10 <= $n) AND
       |  (COALESCE(d5.dup5, 0) * 100 <= GREATEST($n - 4, 0) * 15)""".stripMargin

  val t18Sql: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents),
      |ptoks AS (
      |  SELECT doc_id, text,
      |    ${toksSql("text")} AS ws
      |  FROM docs),
      |planted AS (
      |  SELECT doc_id + 9000000 AS doc_id,
      |    text || ' ' || array_to_string(
      |      flatten(list_transform(range(6), x -> ws[1:5])), ' ') AS text
      |  FROM ptoks WHERE doc_id % 17 = 4),
      |src AS (
      |  SELECT doc_id, text FROM docs
      |  UNION ALL SELECT doc_id, text FROM planted),
      |tk AS (
      |  SELECT doc_id,
      |    ${toksSql("text")} AS ts
      |  FROM src),
      |${repetitionCtesSql("tk")}
      |SELECT tk.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |  COALESCE(t2.top2, 0) AS top2,
      |  COALESCE(d5.dup5, 0) AS dup5,
      |  ${repetitionKeepSql("len(ts)")}
      |    AS keep
      |FROM tk LEFT JOIN t2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t20
  /** The Gopher STRUCTURAL quality battery (Rae et al. 2021 Table A1) —
    * the heuristic rules t18's repetition gate deliberately left out,
    * completing the pair: t18 decides on gram statistics (needs a
    * per-doc gram agg), t20 decides on per-row shape statistics, so it
    * is a pure map-only gate. Seven rules, every decision an integer
    * comparison (the p11 no-float discipline):
    *   r_wc       50 ≤ n_words ≤ 100000
    *   r_wlen     3 ≤ mean word length ≤ 10   (3·n ≤ Σlen ≤ 10·n)
    *   r_sym      symbol-to-word ratio ≤ 0.1  (10·(#hash + #ellipsis) ≤ n)
    *   r_bullet   ≤ 90 % of lines start with a bullet (10·b ≤ 9·lines)
    *   r_ellipsis ≤ 30 % of lines end with "…" (10·e ≤ 3·lines)
    *   r_alpha    ≥ 80 % of words contain an alphabetic char (5·a ≥ 4·n)
    *   r_stop     ≥ 2 distinct function words present
    * The function-word list is corpus-adapted ({the, a, and, of, to} —
    * Gopher's {the, be, to, of, and, that, have, with} hits only "the"
    * in this vocabulary, which would make the rule a constant; the t01
    * langMarkers precedent: literal lists tuned to the corpus, rule
    * SHAPE verbatim).
    *
    * Plants: four fixed-literal re-entries, each tripping EXACTLY the
    * rule it names (asserted in the spec): a 100 %-bullet list
    * (+9.3M), a 40 %-ellipsis-lines page (+9.4M, its symbol ratio kept
    * ≤ 0.1 by 10-word lines so ONLY the line rule fires), a
    * hash-spam page (+9.5M, 24 '#' chars over 60 words), and a 2-word
    * fragment (+9.6M). The bullet plant's alpha fraction lands exactly
    * ON the 80 % boundary (48·5 = 60·4) — integer algebra keeps the
    * boundary bit-stable cross-engine where a float ratio would not be.
    *
    * Scale: one scan + four filter-reuses of it for the plants, zero
    * joins/windows/aggregates — scan-bandwidth bound at any corpus
    * size; the presentation sort is the only exchange (dropped at
    * 100 TB, kept for oracle determinism).
    */
  // ONE definition of every t20 plant body and the function-word list,
  // interpolated into BOTH engines (the dd17 literal-inlining rule made
  // true — review r10c: the oracle previously re-built private copies)
  private[graft] val t20BulletBody: String =
    Seq.fill(12)("- the alpha and beta").mkString("\n")
  private[graft] val t20EllBody: String = {
    val line = "the alpha beta gamma a delta epsilon zeta eta theta"
    (1 to 10).map(i => if (i % 3 == 0 || i == 10) line + "..." else line)
      .mkString("\n")
  }
  private[graft] val t20SymBody: String =
    (("the" +: "a" +: Seq.fill(50)("alpha")) ++ Seq.fill(8)("###"))
      .mkString(" ")
  private[graft] val t20ShortBody: String = "the a"
  private[graft] val t20StopWords: Seq[String] =
    Seq("the", "a", "and", "of", "to")

  def t20GopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    def plant(m: Int, off: Long, body: String): DataFrame =
      base.filter(col("doc_id") % 29 === m)
        .select((col("doc_id") + off).as("doc_id"), lit(body).as("text"))
    val src = Tables.spread(base
      .unionAll(plant(3, 9300000L, t20BulletBody))
      .unionAll(plant(7, 9400000L, t20EllBody))
      .unionAll(plant(11, 9500000L, t20SymBody))
      .unionAll(plant(15, 9600000L, t20ShortBody)))
    val stats = src.select(col("doc_id"), toks(col("text")).as("ts"),
        split(col("text"), "\n").as("ls"), col("text"))
      .select(col("doc_id") +: (gopherWordStats(col("ts")) ++
        gopherLineStats(col("text"), col("ls"))): _*)
      // t20's report order
      .select(Seq("doc_id", "n_words", "sum_len", "n_lines", "bullet_lines",
        "ellipsis_lines", "alpha_words", "n_symbols", "stop_hits").map(col): _*)
    gopherRules.foldLeft(stats) { case (df, (r, c)) => df.withColumn(r, c) }
      .withColumn("keep", gopherRules.map(r => col(r._1)).reduce(_ && _))
      .orderBy(col("doc_id"))
  }

  /** t20's word statistics of the token array `ts`. */
  private[operators] def gopherWordStats(ts: Column): Seq[Column] = Seq(
    size(ts).cast(LongType).as("n_words"),
    aggregate(transform(ts, x => length(x).cast(LongType)),
      lit(0L), (a, x) => a + x).as("sum_len"),
    size(filter(ts, x => x.rlike("[a-z]"))).cast(LongType).as("alpha_words"),
    t20StopWords.map(w => array_contains(ts, w).cast("int"))
      .reduce(_ + _).cast(LongType).as("stop_hits"))

  /** t20's line and symbol statistics of the raw `text`, split into the
    * lines `ls`. */
  private[operators] def gopherLineStats(text: Column, ls: Column): Seq[Column] = {
    def occurrences(s: String) =
      length(text) - length(replace(text, lit(s), lit("")))
    Seq(
      size(ls).cast(LongType).as("n_lines"),
      size(filter(ls, l => l.startsWith("- "))).cast(LongType)
        .as("bullet_lines"),
      size(filter(ls, l => l.endsWith("..."))).cast(LongType)
        .as("ellipsis_lines"),
      (occurrences("#") + call_function("div", occurrences("..."), lit(3)))
        .cast(LongType).as("n_symbols"))
  }

  /** t20's seven rules over the statistics' names; a doc is kept when
    * all hold. */
  private[operators] val gopherRules: Seq[(String, Column)] = Seq(
    "r_wc" -> (col("n_words") >= 50 && col("n_words") <= 100000L),
    "r_wlen" -> (lit(3) * col("n_words") <= col("sum_len") &&
      col("sum_len") <= lit(10) * col("n_words")),
    "r_sym" -> (col("n_symbols") * 10 <= col("n_words")),
    "r_bullet" -> (col("bullet_lines") * 10 <= col("n_lines") * 9),
    "r_ellipsis" -> (col("ellipsis_lines") * 10 <= col("n_lines") * 3),
    "r_alpha" -> (col("alpha_words") * 5 >= col("n_words") * 4),
    "r_stop" -> (col("stop_hits") >= 2))

  /** The oracle side of [[gopherWordStats]] and [[gopherLineStats]], over
    * columns `ts`, `ls` and `text`. */
  private[operators] val gopherStatsSql: String = {
    val stopSum = t20StopWords
      .map(w => s"list_contains(ts, '$w')::INT").mkString(" + ")
    s"""    CAST(len(ts) AS BIGINT) AS n_words,
       |    CAST(COALESCE(list_sum(list_transform(ts, x -> length(x))), 0)
       |      AS BIGINT) AS sum_len,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(ls, l -> starts_with(l, '- ')))
       |      AS BIGINT) AS bullet_lines,
       |    CAST(len(list_filter(ls, l -> ends_with(l, '...')))
       |      AS BIGINT) AS ellipsis_lines,
       |    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]')))
       |      AS BIGINT) AS alpha_words,
       |    CAST((length(text) - length(replace(text, '#', ''))) +
       |      (length(text) - length(replace(text, '...', ''))) // 3
       |      AS BIGINT) AS n_symbols,
       |    CAST($stopSum AS BIGINT) AS stop_hits""".stripMargin
  }

  /** The oracle side of [[gopherRules]]. */
  private[operators] val gopherRulesSql: Seq[(String, String)] = Seq(
    "r_wc" -> "n_words >= 50 AND n_words <= 100000",
    "r_wlen" -> "3 * n_words <= sum_len AND sum_len <= 10 * n_words",
    "r_sym" -> "n_symbols * 10 <= n_words",
    "r_bullet" -> "bullet_lines * 10 <= n_lines * 9",
    "r_ellipsis" -> "ellipsis_lines * 10 <= n_lines * 3",
    "r_alpha" -> "alpha_words * 5 >= n_words * 4",
    "r_stop" -> "stop_hits >= 2")

  /** Oracle: identical tokenization/line split/replace arithmetic in
    * DuckDB; the plant literals are built by the same Scala expressions
    * (one definition, interpolated — the dd17 literal-inlining rule).
    */
  val t20Sql: String = {
    // the SHARED plant bodies, newline-escaped for the SQL literal
    val bulletBody = t20BulletBody.replace("\n", "\\n")
    val ellBody = t20EllBody.replace("\n", "\\n")
    s"""WITH base AS (SELECT doc_id, text FROM documents),
      |src AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL SELECT doc_id + 9300000,
      |    replace('$bulletBody', '\\n', chr(10)) FROM base WHERE doc_id % 29 = 3
      |  UNION ALL SELECT doc_id + 9400000,
      |    replace('$ellBody', '\\n', chr(10)) FROM base WHERE doc_id % 29 = 7
      |  UNION ALL SELECT doc_id + 9500000, '$t20SymBody'
      |    FROM base WHERE doc_id % 29 = 11
      |  UNION ALL SELECT doc_id + 9600000, '$t20ShortBody'
      |    FROM base WHERE doc_id % 29 = 15),
      |f AS (
      |  SELECT doc_id,
      |    ${toksSql("text")} AS ts,
      |    string_split(text, chr(10)) AS ls, text
      |  FROM src),
      |stats AS (
      |  SELECT doc_id,
      |$gopherStatsSql
      |  FROM f)
      |SELECT *,
      |${gopherRulesSql.map { case (r, c) => s"  $c AS $r," }.mkString("\n")}
      |  ${gopherRulesSql.map(_._1).mkString(" AND ")} AS keep
      |FROM stats ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t21
  /** Subword (BPE) tokenization — the real tokenizer kernel behind
    * token budgets (VERDICT r10 #2; reference ships tokenizer vocabs
    * with the engine the same way — fixed tables, not per-query
    * training). Per doc: total BPE token count and the first 16 token
    * ids (space-joined — the sequence a packing/sharding stage would
    * consume). Merge table, id scheme, and the leftmost-min-rank merge
    * loop live in [[graft.functions.Bpe]]; the oracle replicates the
    * loop EXACTLY as a recursive CTE over the distinct-word frame.
    *
    * Scale: ONE map-side codegen'd kernel call per row — no vocabulary
    * join (a distinct-words join would shuffle the token stream on a
    * data-sized key); per-executor word memoization makes the merge
    * loop run once per distinct word per executor, so 100 TB cost is
    * scan-bandwidth plus O(distinct words) merge loops. The oracle's
    * recursive CTE is the SMALL-side shape instead (distinct words ≪
    * occurrences) — fine for an oracle, wrong for the engine.
    */
  def t21BpeTokenize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.text.bpe_token_ids(col("text")).as("ids"))
      .select(col("doc_id"),
        size(col("ids")).cast(LongType).as("n_tokens"),
        array_join(transform(slice(col("ids"), 1, 16),
          _.cast(StringType)), " ").as("ids16"))
      .orderBy(col("doc_id"))

  val t21Sql: String = {
    // the merge loop as a recursive CTE (the ONE shared replica,
    // KernelOracleSql.bpeCtes): state = (word, symbol list); each step
    // merges the leftmost occurrence of the min-rank pair
    // (list_position finds the FIRST index of the min); terminal rows
    // (no pair in the table) map symbols to ids. LEFT JOIN keeps
    // empty-text docs at n_tokens 0 / ids16 ''.
    s"""WITH RECURSIVE
       |docw AS (
       |  SELECT doc_id,
       |    ${wordsSql("text")} AS ws
       |  FROM documents),
       |w0 AS (SELECT DISTINCT unnest(ws) AS w FROM docw),
       |${graft.functions.KernelOracleSql.bpeCtes("w0", "")},
       |wid AS (
       |  SELECT w, ${graft.functions.KernelOracleSql.bpeIdsExpr("arr")}
       |    AS ids
       |  FROM fin),
       |perword AS (
       |  SELECT u.doc_id, u.ord, wid.ids
       |  FROM (SELECT doc_id, unnest(ws) AS w,
       |          unnest(range(1, len(ws)+1)) AS ord
       |        FROM docw) u
       |  JOIN wid ON wid.w = u.w),
       |perdoc AS (
       |  SELECT doc_id,
       |    CAST(SUM(len(ids)) AS BIGINT) AS n_tokens,
       |    array_to_string(flatten(list(ids ORDER BY ord))[1:16], ' ')
       |      AS ids16
       |  FROM perword GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(p.n_tokens, 0) AS n_tokens,
       |  COALESCE(p.ids16, '') AS ids16
       |FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t22
  /** Tokenizer fertility per source — THE standard tokenizer-quality
    * evaluation (fertility = subword tokens per word; chars per token
    * is its dual): run after any vocab/merge-table change to catch a
    * tokenizer that fragments a domain (high fertility = wasted
    * context window and compute for that source). Counts are exact
    * BIGINT sums; the two ratios are SINGLE IEEE divisions of exact
    * integers — identical in both engines by the §5 unrounded-quotient
    * rule (one correctly-rounded op, no summation-order exposure).
    *
    * Scale: one map-only kernel scan (whitespace split + BPE encode in
    * the same projection) into a per-source partial agg — scan
    * bandwidth at any corpus size, the t01/m10 plan class.
    */
  def t22BpeFertility(spark: SparkSession, dir: String): DataFrame =
    bpeSourceAgg(spark, dir)
      .select(col("source"), col("n_docs"), col("n_words"),
        col("word_chars"), col("n_bpe"),
        // NULLIF-guarded denominators (ADVICE r11): a source whose docs
        // are all empty has SUM(n_words)=0 — Spark's x/0.0 yields IEEE
        // Inf/NaN while DuckDB's depends on ieee_floating_point_ops, a
        // latent cross-engine hash mismatch. NULL is the one value both
        // engines define identically for "no tokens to average over".
        (col("n_bpe").cast(DoubleType) /
          nullif(col("n_words"), lit(0L)).cast(DoubleType)).as("fertility"),
        (col("word_chars").cast(DoubleType) /
          nullif(col("n_bpe"), lit(0L)).cast(DoubleType))
          .as("chars_per_token"))
      .orderBy(col("source"))

  /** The per-source exact-count frame under t22 (and p18's scheduler):
    * one map-only kernel scan (whitespace split + BPE encode in the
    * same projection) into a per-source partial agg — `(source, n_docs,
    * n_words, word_chars, n_bpe)`, all BIGINT. Factored so the two
    * consumers cannot drift apart (the bpeDocLenCtes rule, Scala side). */
  private[operators] def bpeSourceAgg(spark: SparkSession,
      dir: String): DataFrame = {
    val t = toks(col("text"))
    Tables(spark, dir, "documents")
      .select(col("source"),
        size(t).cast(LongType).as("w"),
        aggregate(transform(t, x => length(x).cast(LongType)),
          lit(0L), (a, x) => a + x).as("wc"),
        size(graft.functions.text.bpe_token_ids(col("text")))
          .cast(LongType).as("b"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("wc")).as("word_chars"),
        sum(col("b")).as("n_bpe"))
  }

  /** CTE chain to `per`(source, w, wc, b) — the oracle twin of
    * [[bpeSourceAgg]], shared with p18's scheduler oracle. */
  private[operators] val bpeSourcePerCtes: String =
    s"""docw AS (
       |  SELECT doc_id, source,
       |    ${wordsSql("text")} AS ws
       |  FROM documents),
       |${graft.functions.KernelOracleSql.bpeDocLenCtes("docw", "")},
       |per AS (
       |  SELECT d.source,
       |    CAST(len(d.ws) AS BIGINT) AS w,
       |    CAST(COALESCE(list_sum(list_transform(d.ws, x -> length(x))), 0)
       |      AS BIGINT) AS wc,
       |    COALESCE(pw.b, 0) AS b
       |  FROM docw d LEFT JOIN pw ON pw.doc_id = d.doc_id)""".stripMargin

  val t22Sql: String =
    s"""WITH RECURSIVE
       |$bpeSourcePerCtes
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(w) AS BIGINT) AS n_words,
       |  CAST(SUM(wc) AS BIGINT) AS word_chars,
       |  CAST(SUM(b) AS BIGINT) AS n_bpe,
       |  CAST(SUM(b) AS DOUBLE) / NULLIF(CAST(SUM(w) AS DOUBLE), 0)
       |    AS fertility,
       |  CAST(SUM(wc) AS DOUBLE) / NULLIF(CAST(SUM(b) AS DOUBLE), 0)
       |    AS chars_per_token
       |FROM per GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t23
  /** BPE tokenizer TRAINING — the other half of t21's encoder (HF
    * `BpeTrainer` / SentencePiece `--model_type=bpe`): learn the next
    * 10 merges from the corpus itself. Policy (deterministic, both
    * engines): per round, count adjacent token pairs position-wise over
    * the word-frequency frame (overlaps counted, the HF rule), take the
    * max with (lhs, rhs) lexicographic tie-break, apply it left-to-right
    * non-overlapping, repeat. Applying a merge can never create a new
    * occurrence of itself or of any earlier merge (the merged token is
    * strictly longer than either operand), so left-to-right single-pass
    * application ≡ the oracle's leftmost-repeated recursion — and the
    * sequential training states equal t21's min-rank encode states, the
    * classic GPT-2 equivalence. Trained on raw-case tokens (t21's
    * kernel convention, NOT [[toks]]' lowered form). At sf0.01 the 10
    * learned merges reproduce `Bpe.merges`' first 10 exactly — the
    * shipped encoder table IS this trainer's output (specced via an
    * independent in-memory replica).
    *
    * ROUND BATCHING (round 13, VERDICT r12 #3): one driver round-trip
    * per merge cannot reach a production vocabulary (50k merges =
    * 50k driver latencies). The trainer now runs a TIERED schedule —
    * rounds 1–10 are exact sequential argmax rounds (cap 1, so the
    * first 10 merges ARE canonical GPT-2 BPE and the Bpe.merges
    * closure proof survives untouched), and every later round accepts
    * up to 16 merges from its top-64 snapshot in (count desc, l, r)
    * order, SKIPPING any candidate that interacts with an already-
    * accepted one (shares an edge token or collides with a freshly
    * merged string: r_i = l_j, l_i = r_j, or a token equal to l_i+r_i).
    * Accepted merges apply sequentially in rank order, so within a
    * round the application algebra is unchanged. This is the
    * distributed-trainer variant (the frequency-gap family): it can
    * reorder merges relative to strictly-sequential BPE when a pair
    * born inside a batch would have out-ranked a later batch member —
    * the documented price of 10× fewer driver rounds (a provably
    * sequential-exact batch rule was measured at 55 rounds for this
    * corpus's 89 merges vs 17 tiered; the spec pins the tiered policy
    * against an independent replica AND the sequential prefix).
    * 100 merges (or corpus exhaustion — this corpus fully merges at
    * 89) complete in ≤ 20 driver rounds, spec-asserted.
    *
    * Scale: the classic two-phase trainer shape — ONE corpus pass
    * builds the (word, freq) frame (map-side combined, vocab-sized
    * forever after); each round is a distributed pair-count aggregate
    * on that frame (bounded key space: distinct adjacent pairs), one
    * bounded top-64 driver row-set per round (model-parameter-sized,
    * the s02/s04 class), and a map-only re-tokenize fold (≤ 16 chained
    * projections, one stage). localCheckpoint per round cuts the
    * growing lineage (d13/dd06 discipline). Corpus text is scanned
    * exactly once.
    */
  def t23BpeTrain(spark: SparkSession, dir: String): DataFrame =
    t23BpeTrainRounds(spark, dir, 100, T23OracleRounds)._1

  /** ONE constant drives both the oracle's unrolled round count and the
    * registry trainer's round bound — a corpus needing more rounds than
    * the oracle unrolls now fails LOUDLY in the trainer (ADVICE r13)
    * instead of returning more merges than the oracle and surfacing as
    * an opaque gate mismatch. */
  private[graft] val T23OracleRounds = 20

  /** Round budget for a non-registry merge target: 10 sequential rounds
    * + ceil((M−10)/16) batched rounds when every batch fills, doubled
    * for skip-acceptance rejects (the measured 100-merge corpus uses
    * 17–19 of its 20). */
  private[graft] def t23RoundBudget(nMerges: Int): Int =
    if (nMerges <= 10) nMerges
    else 10 + 2 * ((nMerges - 10 + 15) / 16)

  /** t23 with the driver-round count exposed (the latency envelope the
    * spec asserts: ≤ 20 rounds for the 100-merge target). A caller
    * whose merge target is NOT met inside `maxRounds` (and whose corpus
    * is not exhausted) gets an exception naming the cause — the silent
    * truncation of the old `rounds < 64` backstop returned fewer merges
    * than asked with no error (VERDICT r13 wrong #3). */
  private[graft] def t23BpeTrainRounds(spark: SparkSession, dir: String,
      nMerges: Int, maxRoundsIn: Int = -1): (DataFrame, Int) = {
    val maxRounds =
      if (maxRoundsIn > 0) maxRoundsIn else t23RoundBudget(nMerges)
    val raw = words(col("text"))
    var state = Tables(spark, dir, "documents")
      .select(explode(raw).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      // the per-char seed below splits by codepoint, the oracle by
      // grapheme-aware slice and the spec replica by UTF-16 unit — they
      // agree ONLY on printable ASCII. t21/t22 get this enforcement
      // from Bpe.tokenIdOf's require; the trainer never touches Bpe, so
      // drift fails loudly HERE with the word named (review r12 pass 3)
      .select(when(col("w").rlike("^[\\x21-\\x7e]+$"), col("w"))
        .otherwise(raise_error(concat(
          lit("t23: word outside printable ASCII: "), col("w")))).as("w"),
        col("f"))
      .select(col("w"), col("f"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("arr"))
      .localCheckpoint(false)
    val learned =
      scala.collection.mutable.ListBuffer[(Long, String, String, String, Long)]()
    var exhausted = false
    var rounds = 0
    while (learned.size < nMerges && !exhausted && rounds < maxRounds) {
      rounds += 1
      val cap = math.min(if (rounds <= 10) 1 else 16,
        nMerges - learned.size)
      val top = state.filter(size(col("arr")) > 1)
        .select(col("f"), explode(expr(
          """transform(sequence(1, size(arr) - 1),
            |  j -> struct(element_at(arr, j) AS l,
            |              element_at(arr, j + 1) AS r))""".stripMargin))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(64).collect()
      if (top.isEmpty) exhausted = true
      else {
        // skip-acceptance over the bounded snapshot: rank order, skip
        // candidates that interact with an accepted merge
        val acc =
          scala.collection.mutable.ListBuffer[(String, String, Long)]()
        top.foreach { row =>
          if (acc.size < cap) {
            val (l, r, c) =
              (row.getString(0), row.getString(1), row.getLong(2))
            val ok = acc.forall { case (li, ri, _) =>
              ri != l && li != r && l != li + ri && r != li + ri }
            if (ok) acc += ((l, r, c))
          }
        }
        // apply accepted merges sequentially in rank order — chained
        // map-only folds, ONE stage; left-to-right non-overlapping
        // application: merge when the accumulator's last token is lhs
        // and the next is rhs
        var st = state
        acc.foreach { case (l, r, _) =>
          val applied = aggregate(col("arr"),
            array().cast(ArrayType(StringType)),
            (a, x) => when(size(a) > 0 &&
                element_at(a, -1) === lit(l) && x === lit(r),
              concat(slice(a, lit(1), size(a) - 1),
                array(concat(element_at(a, -1), x))))
              .otherwise(concat(a, array(x))))
          st = st.select(col("w"), col("f"), applied.as("arr"))
        }
        state = st.localCheckpoint(false)
        acc.foreach { case (l, r, c) =>
          learned += ((learned.size + 1L, l, r, l + r, c)) }
      }
    }
    require(learned.size >= nMerges || exhausted,
      s"t23: round budget $maxRounds exhausted at ${learned.size}/$nMerges " +
        "merges with pairs remaining — raise maxRounds (and, on the " +
        "registry path, the oracle's unroll T23OracleRounds with it)")
    import spark.implicits._
    (learned.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("merge_rank")), rounds)
  }

  /** The tiered trainer unrolled to 20 rounds (rounds past exhaustion
    * accept nothing and pass the state through): per round, pair
    * counts → the ranked top-64 `cand` → a RECURSIVE skip-acceptance
    * scan (`accr`: walk the ranks carrying the accepted list, append
    * iff non-interacting and under the round's tier/remaining-budget
    * cap) → a recursive variable-batch leftmost-apply (`ap`: apply
    * accepted merge `mi` repeatedly, advance `mi` when its occurrences
    * are gone). Non-recursive CTEs are MATERIALIZED — DuckDB inlines
    * CTEs per reference and each round references the previous state
    * several times, so un-materialized the chain re-expands
    * exponentially. */
  val t23Sql: String = {
    val nTarget = 100
    val nRounds = T23OracleRounds // the trainer's registry bound, shared
    def capOf(i: Int): Int = if (i <= 10) 1 else 16
    def remExpr(i: Int): String =
      if (i == 1) nTarget.toString
      else s"$nTarget - (${(1 until i)
        .map(j => s"(SELECT len(acc) FROM final$j)").mkString(" + ")})"
    def round(i: Int): String = {
      val prev = s"state${i - 1}"
      s""",
         |pairs$i AS MATERIALIZED (
         |  SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(f) AS BIGINT) AS c
         |  FROM (SELECT f, unnest(list_transform(range(len(arr)-1),
         |      j -> [arr[j+1], arr[j+2]])) AS pr FROM $prev) u
         |  GROUP BY 1, 2),
         |cand$i AS MATERIALIZED (
         |  SELECT l, r, c, rk FROM (
         |    SELECT l, r, c,
         |      row_number() OVER (ORDER BY c DESC, l, r) AS rk
         |    FROM pairs$i) WHERE rk <= 64),
         |accr$i AS (
         |  SELECT 0 AS rk, []::STRUCT(l VARCHAR, r VARCHAR)[] AS acc
         |  UNION ALL
         |  SELECT g.rk + 1,
         |    CASE WHEN len(g.acc) < LEAST(${capOf(i)}, ${remExpr(i)})
         |        AND len(list_filter(g.acc, a -> a.r = c.l OR a.l = c.r
         |          OR c.l = a.l || a.r OR c.r = a.l || a.r)) = 0
         |      THEN list_append(g.acc, {'l': c.l, 'r': c.r})
         |      ELSE g.acc END
         |  FROM accr$i g JOIN cand$i c ON c.rk = g.rk + 1),
         |final$i AS MATERIALIZED (
         |  SELECT acc FROM accr$i ORDER BY rk DESC LIMIT 1),
         |ap$i AS (
         |  SELECT w, f, arr, 1 AS mi FROM $prev
         |  UNION ALL
         |  SELECT s.w, s.f,
         |    CASE WHEN s.pos IS NOT NULL AND s.pos > 0
         |      THEN s.arr[1:s.pos-1] || [s.arr[s.pos] || s.arr[s.pos+1]]
         |        || s.arr[s.pos+2:]
         |      ELSE s.arr END AS arr,
         |    CASE WHEN s.pos IS NOT NULL AND s.pos > 0 THEN s.mi
         |      ELSE s.mi + 1 END AS mi
         |  FROM (
         |    SELECT p.w, p.f, p.arr, p.mi, list_position(
         |      list_transform(range(len(p.arr)-1),
         |        j -> p.arr[j+1] = a.acc[p.mi].l
         |          AND p.arr[j+2] = a.acc[p.mi].r), true) AS pos
         |    FROM ap$i p, final$i a
         |    WHERE p.mi <= len(a.acc)) s),
         |state$i AS MATERIALIZED (
         |  SELECT p.w, p.f, p.arr FROM ap$i p, final$i a
         |  WHERE p.mi = len(a.acc) + 1),
         |sel$i AS (
         |  SELECT $i AS rnd, unnest(range(1, len(acc)+1)) AS idx, acc
         |  FROM final$i),
         |row$i AS (
         |  SELECT s.rnd, s.idx, s.acc[s.idx].l AS l, s.acc[s.idx].r AS r,
         |    c.c
         |  FROM sel$i s JOIN cand$i c
         |    ON c.l = s.acc[s.idx].l AND c.r = s.acc[s.idx].r)"""
        .stripMargin
    }
    s"""WITH RECURSIVE
       |docw AS MATERIALIZED (
       |  SELECT ${wordsSql("text")} AS ws
       |  FROM documents),
       |wf AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(ws) AS w FROM docw) GROUP BY 1),
       |state0 AS MATERIALIZED (
       |  SELECT w, f,
       |    list_transform(range(length(w)), i -> w[i+1:i+1]) AS arr
       |  FROM wf)""".stripMargin +
      (1 to nRounds).map(round).mkString +
      s""",
         |allm AS (
         |  ${(1 to nRounds).map(i => s"SELECT * FROM row$i")
            .mkString("\n  UNION ALL\n  ")})
         |SELECT CAST(row_number() OVER (ORDER BY rnd, idx) AS BIGINT)
         |    AS merge_rank,
         |  l AS lhs, r AS rhs, l || r AS merged, c AS pair_count
         |FROM allm ORDER BY merge_rank""".stripMargin
  }

  // ---------------------------------------------------------------- t24
  /** BPE DECODE — the tokenizer's inverse, every tokenizer's other
    * required half (HF `decode`, tiktoken `decode`): token ids back to
    * text, plus the per-doc lossless-roundtrip audit a pipeline runs
    * before trusting packed sequences (ids are what training consumes;
    * an id the decoder can't invert is silent corpus corruption).
    * Both engines decode through the SAME vocab table — id < 94 is
    * `chr(id + 33)`, id ≥ 94 indexes the merge-result strings — the
    * Spark side as the codegen'd [[graft.functions.Bpe.decodeIds]]
    * kernel, the oracle as an inline SQL literal. NOT through word
    * identity, so a kernel that dropped, reordered, or mis-mapped ids
    * would fail the cross-engine hash even though
    * "decode(encode(w)) = w" is algebraically trivial per word.
    * Roundtrip compares against whitespace-squashed text (word
    * boundaries are not encoded — this toy table has no GPT-2 Ġ space
    * marker), the standard normalization-modulo roundtrip contract.
    *
    * Scale: encode + decode are ONE map-side codegen'd projection per
    * row (the t21 shape) — no join, no shuffle; the oracle re-runs the
    * recursive-CTE encoder on the distinct-word frame and then the
    * same literal-table decode.
    */
  def t24BpeDecode(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        graft.functions.text.bpe_token_ids(col("text")).as("ids"))
      .withColumn("decoded",
        graft.functions.text.bpe_decode(col("ids")))
      .select(col("doc_id"),
        size(col("ids")).cast(LongType).as("n_tokens"),
        length(col("decoded")).cast(LongType).as("decoded_len"),
        // squash = char-DELETE of the kernel whitespace set; translate
        // (not regexp) keeps the comparison inside codegen and is
        // charset-exact by construction on both engines
        when(col("decoded") === translate(col("text"), " \t\n\r", ""), 1L)
          .otherwise(0L).as("roundtrip_ok"),
        substring(col("decoded"), 1, 24).as("decoded_prefix"))
      .orderBy(col("doc_id"))

  /** The t21 recursive encoder + the literal-table decode verbatim. */
  val t24Sql: String = {
    val mergeArr = graft.functions.Bpe.merges
      .map { case (a, b) => s"'${a + b}'" }.mkString("[", ",", "]")
    s"""WITH RECURSIVE
       |docw AS (
       |  SELECT doc_id, text,
       |    ${wordsSql("text")} AS ws
       |  FROM documents),
       |w0 AS (SELECT DISTINCT unnest(ws) AS w FROM docw),
       |${graft.functions.KernelOracleSql.bpeCtes("w0", "")},
       |wid AS (
       |  SELECT w, ${graft.functions.KernelOracleSql.bpeIdsExpr("arr")}
       |    AS ids
       |  FROM fin),
       |perword AS (
       |  SELECT u.doc_id, u.ord, wid.ids
       |  FROM (SELECT doc_id, unnest(ws) AS w,
       |          unnest(range(1, len(ws)+1)) AS ord
       |        FROM docw) u
       |  JOIN wid ON wid.w = u.w),
       |perdoc AS (
       |  SELECT doc_id,
       |    CAST(SUM(len(ids)) AS BIGINT) AS n_tokens,
       |    array_to_string(list_transform(flatten(list(ids ORDER BY ord)),
       |      i -> CASE WHEN i < 94 THEN chr(i + 33)
       |           ELSE $mergeArr[i - 93] END), '') AS decoded
       |  FROM perword GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(p.n_tokens, 0) AS n_tokens,
       |  CAST(length(COALESCE(p.decoded, '')) AS BIGINT) AS decoded_len,
       |  CAST(CASE WHEN COALESCE(p.decoded, '') =
       |    translate(d.text, ' ' || chr(9) || chr(10) || chr(13), '')
       |    THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok,
       |  COALESCE(p.decoded, '')[1:24] AS decoded_prefix
       |FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t25
  /** Character-entropy gate — the low-entropy/"gibberish" filter in the
    * standard curation battery (Dolma's repetition heuristics,
    * RefinedWeb's line-quality pass family): a doc whose squashed-text
    * character distribution is too concentrated (generation loops,
    * padding runs, key-mash) scores H = ln n − Σ cᵢ·ln cᵢ / n below a
    * natural-text floor. Threshold 2.75 nats sits under the corpus's
    * 5th percentile region (measured 2.536..2.989 at sf0.01), so the
    * gate is LIVE on natural data — no plants, sf1-safe.
    *
    * §5 decision algebra: per-char-count logs are round6(ln k) as
    * DECIMAL(18,6) (the t12 pattern — order-independent decimal sums),
    * and the keep decision is the EXACT decimal cross-multiplication
    * n·round6(ln n) − Σ cᵢ·round6(ln cᵢ) ≥ 2.75·n — no float quotient
    * ever enters the comparison; the displayed entropy is a single
    * IEEE expression rounded at the end (unrounded-quotient rule).
    *
    * Scale: the char explode is occurrence-level but the (doc, char)
    * key space is ≤ 94 per doc, so map-side combine collapses each
    * partition's occurrences before the exchange (t12's postings
    * discipline) — the shuffle carries ≤ 94·docs narrow rows, and
    * everything stays whole-stage codegen (log is a builtin; no
    * higher-order functions after the t24 lesson).
    */
  def t25EntropyGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // one-pass char histogram kernel (round 16): the old per-character
    // explode + (doc_id, c) exchange built ~|text| rows per doc just to
    // count them; charCountValues returns the per-distinct-char counts
    // directly (≤ charset-size values per doc), so the only remaining
    // exchange is the per-doc entropy aggregation
    val cnt = Tables.spread(docs)
      .select(col("doc_id"),
        explode(graft.functions.text.char_count_values(col("text")))
          .as("k"))
    val ent = cnt.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n"),
        sum(round(log(col("k").cast(DoubleType)), 6)
          .cast("decimal(18,6)") * col("k")).as("s"))
      .select(col("doc_id"), col("n"),
        round(log(col("n").cast(DoubleType)) -
          col("s").cast(DoubleType) / col("n"), 4).as("h_entropy"),
        when(col("n").cast("decimal(18,6)") *
            round(log(col("n").cast(DoubleType)), 6).cast("decimal(18,6)")
            - col("s") >= lit("2.75").cast("decimal(18,6)") * col("n"), 1L)
          .otherwise(0L).as("keep"))
    docs.select(col("doc_id")).join(ent, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_chars_sq"),
        col("h_entropy"),
        coalesce(col("keep"), lit(0L)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Same counts, same round6 decimal logs, same cross-multiplication. */
  val t25Sql: String =
    """WITH sq AS (
      |  SELECT doc_id,
      |    translate(text, ' ' || chr(9) || chr(10) || chr(13), '') AS t
      |  FROM documents),
      |cnt AS (
      |  SELECT doc_id, t[i+1:i+1] AS c, COUNT(*) AS k
      |  FROM (SELECT doc_id, t, unnest(range(length(t))) AS i FROM sq)
      |  GROUP BY 1, 2),
      |ent AS (
      |  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
      |    SUM(CAST(ROUND(ln(CAST(k AS DOUBLE)), 6) AS DECIMAL(18,6)) * k)
      |      AS s
      |  FROM cnt GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(e.n, 0) AS n_chars_sq,
      |  ROUND(ln(CAST(e.n AS DOUBLE)) - CAST(e.s AS DOUBLE) / e.n, 4)
      |    AS h_entropy,
      |  CAST(COALESCE(
      |    CAST(e.n AS DECIMAL(18,6)) *
      |      CAST(ROUND(ln(CAST(e.n AS DOUBLE)), 6) AS DECIMAL(18,6))
      |      - e.s >= CAST(2.75 AS DECIMAL(18,6)) * e.n, false)
      |    AS BIGINT) AS keep
      |FROM documents d LEFT JOIN ent e ON e.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t26
  /** Flesch reading-ease banding — the classic readability feature of
    * quality-classifier stacks (the FineWeb-Edu/"textbook quality"
    * family scores the same surface signals): per doc, words W (kernel
    * charset), syllables SYL (vowel-group count with the ≥1-per-word
    * floor), sentences S ([.!?]+ runs, floor 1), banded at FRE ≥ 60
    * ("plain English") and ≥ 30.
    *
    * §5 decision algebra: FRE = 206.835 − 1.015·W/S − 84.6·SYL/W never
    * materializes as a float — each band test is the EXACT integer
    * cross-multiplication 206835·S·W − 1015·W² − 84600·SYL·S ≥
    * 1000·T·S·W (BIGINT-safe to ~3e6-char docs; corpus max is 5e2).
    * Syllable trick: vowel runs never cross word boundaries, so
    * Σ per-word groups = groups over the WHOLE text, and the per-word
    * ≥1 floor is just + count(zero-vowel words) — no per-word explode,
    * no exchange until the bounded (source × 3-band) aggregate.
    *
    * Liveness: on this corpus S=1 everywhere (no punctuation — the
    * corpus-contract charset), but the W and SYL terms spread bands
    * 0/1/2 across every source at sf0.01; the sentence term is
    * exercised cross-engine by the punctuated-plant spec.
    *
    * Scale: map-only scan (text, source), partial aggregation to ≤
    * |sources|·3 rows — the t19 quantile-free shape; nothing in the
    * plan grows with corpus size except the scan.
    */
  def t26Readability(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables(spark, dir, "documents"))
      .filter(col("text").isNotNull)
    val wds = toks(col("text"))
    val w = size(wds).cast(LongType)
    val syl = (size(regexp_extract_all(lower(col("text")),
        lit("[aeiouy]+"), lit(0))) +
      size(filter(wds, x => !x.rlike("[aeiouy]")))).cast(LongType)
    val s = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
        .cast(LongType), lit(1L))
    val score = lit(206835L) * s * w - lit(1015L) * w * w -
      lit(84600L) * syl * s
    val band = when(score >= lit(60000L) * s * w, 2L)
      .when(score >= lit(30000L) * s * w, 1L).otherwise(0L)
    docs.select(col("source"), band.as("band"), w.as("w"), syl.as("syl"))
      .groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sum_words"),
        sum(col("syl")).as("sum_syllables"))
      .orderBy(col("source"), col("band"))
  }

  /** Same counts, same cross-multiplied band tests. */
  val t26Sql: String =
    s"""WITH f AS (
      |  SELECT source,
      |    len(${toksSql("text")}) AS w,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |      + len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r]+'),
      |          x -> x <> '' AND NOT regexp_matches(x, '[aeiouy]'))) AS syl,
      |    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT source,
      |  CAST(CASE
      |    WHEN 206835*s*w - 1015*w*w - 84600*syl*s >= 60000*s*w THEN 2
      |    WHEN 206835*s*w - 1015*w*w - 84600*syl*s >= 30000*s*w THEN 1
      |    ELSE 0 END AS BIGINT) AS band,
      |  COUNT(*) AS n,
      |  CAST(SUM(w) AS BIGINT) AS sum_words,
      |  CAST(SUM(syl) AS BIGINT) AS sum_syllables
      |FROM f GROUP BY source, band
      |ORDER BY source, band""".stripMargin

  // ---------------------------------------------------------------- t27
  /** Lexical-diversity banding — the type-token-ratio feature of the
    * quality-classifier stacks (MTLD/vocd's cheap ancestor; Gopher's
    * "fraction of unique words" cousin): repetitive or template text
    * scores low, varied prose scores high. Raw TTR = U/W decays with
    * length, so the banded statistic is Guiraud's length-corrected
    * R = U/√W (Guiraud 1954), banded at R ≥ 3.5 (high) / ≥ 3 (mid) —
    * the corpus spread is 1.9..4.2 with median ≈ 3.28 at every SF, so
    * all three bands are LIVE on natural data, no plants.
    *
    * §5 decision algebra: R ≥ τ never computes a square root —
    * U ≥ 0 and W ≥ 0 make it the EXACT integer test U²·4 ≥ 49·W
    * (τ = 3.5) resp. U² ≥ 9·W (τ = 3); W = 0 (empty/NULL text) is
    * pinned to band 0 explicitly rather than letting 0 ≥ 0 classify
    * an empty doc as maximally diverse.
    *
    * Scale: the token explode is occurrence-level but the (doc, term)
    * key collapses map-side (per-doc vocab-bounded — the t12 postings
    * discipline); per-doc (U, W) is a shrinking agg, and the output
    * aggregate is bounded by sources × 3 bands. No window, no join
    * beyond the per-doc left join that keeps tokenless docs counted.
    */
  def t27TtrDiversity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val pd = Tables.spread(docs)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("k"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("u"), sum(col("k")).as("w"))
    val band = when(col("w") === 0L, 0L)
      .when(col("u") * col("u") * 4 >= lit(49L) * col("w"), 2L)
      .when(col("u") * col("u") >= lit(9L) * col("w"), 1L)
      .otherwise(0L)
    docs.select(col("doc_id"), col("source"))
      .join(pd, Seq("doc_id"), "left_outer")
      .select(col("source"),
        coalesce(col("u"), lit(0L)).as("u"),
        coalesce(col("w"), lit(0L)).as("w"))
      .withColumn("band", band)
      .groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("u")).as("sum_types"),
        sum(col("w")).as("sum_tokens"))
      .orderBy(col("source"), col("band"))
  }

  /** Same per-doc (U, W), same cross-multiplied band tests. */
  val t27Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(${toksSql("text")}) AS t
      |  FROM documents),
      |cnt AS (SELECT doc_id, t, COUNT(*) AS k FROM toks GROUP BY 1, 2),
      |pd AS (SELECT doc_id, COUNT(*) AS u, SUM(k) AS w FROM cnt GROUP BY 1),
      |f AS (
      |  SELECT d.source,
      |    COALESCE(pd.u, 0) AS u, COALESCE(pd.w, 0) AS w
      |  FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id)
      |SELECT source,
      |  CAST(CASE WHEN w = 0 THEN 0
      |    WHEN u*u*4 >= 49*w THEN 2
      |    WHEN u*u >= 9*w THEN 1
      |    ELSE 0 END AS BIGINT) AS band,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(u) AS BIGINT) AS sum_types,
      |  CAST(SUM(w) AS BIGINT) AS sum_tokens
      |FROM f GROUP BY source, band
      |ORDER BY source, band""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t27_ttr_diversity" -> (t27TtrDiversity _),
    "t26_readability" -> (t26Readability _),
    "t25_entropy_gate" -> (t25EntropyGate _),
    "t24_bpe_decode" -> (t24BpeDecode _),
    "t23_bpe_train" -> (t23BpeTrain _),
    "t22_bpe_fertility" -> (t22BpeFertility _),
    "t21_bpe_tokenize" -> (t21BpeTokenize _),
    "t20_gopher_quality" -> (t20GopherQuality _),
    "t19_ccnet_buckets" -> (t19CcnetBuckets _),
    "t18_repetition_filter" -> (t18RepetitionFilter _),
    "t17_fuzzy_contamination" -> (t17FuzzyContamination _),
    "t16_blocklist_filter" -> (t16BlocklistFilter _),
    "t15_zipf_fit" -> (t15ZipfFit _),
    "t14_bigram_logprob" -> (t14BigramScore _),
    "t13_chunk_windows" -> (t13ChunkWindows _),
    "t12_unigram_logprob" -> (t12UnigramScore _),
    "t11_markup_strip" -> (t11MarkupStrip _),
    "t10_contamination" -> (t10Contamination _),
    "t01_lang_id" -> (t01LangId _),
    "t02_quality_score" -> (t02Quality _),
    "t03_token_count" -> (t03Tokens _),
    "t04_fingerprint" -> (t04Fingerprint _),
    "t05_pii_scrub" -> (t05PiiScrub _),
    "t06_repetition" -> (t06Repetition _),
    "t07_tfidf" -> (t07TfIdf _),
    "t08_domain_stats" -> (t08Domains _),
    "t09_normalize" -> (t09Normalize _))

  val oracle: Map[String, String] = Map(
    "t27_ttr_diversity" -> t27Sql,
    "t26_readability" -> t26Sql,
    "t25_entropy_gate" -> t25Sql,
    "t24_bpe_decode" -> t24Sql,
    "t23_bpe_train" -> t23Sql,
    "t22_bpe_fertility" -> t22Sql,
    "t21_bpe_tokenize" -> t21Sql,
    "t20_gopher_quality" -> t20Sql,
    "t19_ccnet_buckets" -> t19Sql,
    "t18_repetition_filter" -> t18Sql,
    "t17_fuzzy_contamination" -> graft.functions.KernelOracleSql.t17Sql,
    "t16_blocklist_filter" -> t16Sql,
    "t15_zipf_fit" -> t15Sql,
    "t14_bigram_logprob" -> t14Sql,
    "t13_chunk_windows" -> t13Sql,
    "t12_unigram_logprob" -> t12Sql,
    "t11_markup_strip" -> t11Sql,
    "t10_contamination" -> t10Sql,
    "t01_lang_id" -> t01Sql,
    "t02_quality_score" -> t02Sql,
    "t03_token_count" -> t03Sql,
    "t04_fingerprint" -> graft.functions.KernelOracleSql.t04Sql,
    "t05_pii_scrub" -> t05Sql,
    "t06_repetition" -> t06Sql,
    "t07_tfidf" -> t07Sql,
    "t08_domain_stats" -> t08Sql,
    "t09_normalize" -> t09Sql)
}
