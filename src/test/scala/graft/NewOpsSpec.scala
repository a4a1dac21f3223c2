package graft

import org.apache.spark.sql.functions._

/** Semantic specs for the round-2 additions: pivot (q27), percentiles
  * (q28), cube (q29), as-of join (st06), tf-idf (t07), stratified
  * sampling (p04). The oracle gate checks cross-engine value parity;
  * these assert the operator-level invariants directly.
  */
class NewOpsSpec extends SparkSpec {

  test("q35: recursive-CTE BFS emits a valid minimum-hop frontier — " +
      "unique origin, every level adjacent to the previous, no shortcut " +
      "missed") {
    val hops = SparkEntry.queries("q35_recursive_cte")(spark, sfDir)
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toMap
    val dim = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toMap
    def adjacent(a: Long, b: Long): Boolean =
      a != b && (dim(a) == dim(b) || math.abs(a - b) == 1)
    assert(hops(0L) == 0L)
    assert(hops.count(_._2 == 0L) == 1)
    hops.foreach { case (n, h) =>
      if (h > 0)
        // reached: some node one level closer is adjacent...
        assert(dim.keys.exists(m =>
          adjacent(m, n) && hops.get(m).contains(h - 1)), s"node $n")
      // ...and minimal: no adjacent node sits MORE than one level closer
      assert(!dim.keys.exists(m =>
        adjacent(m, n) && hops.getOrElse(m, Long.MaxValue) < h - 1),
        s"node $n missed a shortcut")
    }
  }

  test("p15: DSIR scores cover the corpus, keep tracks the exact sign, " +
      "and the selector prefers its own target domain") {
    val df = SparkEntry.queries("p15_dsir_select")(spark, sfDir).cache()
    assert(df.count() == Tables(spark, sfDir, "documents").count())
    // keep ⇔ score > 0 (sign survives the presentation double cast)
    assert(df.filter(col("keep") =!= (col("score") > 0d)).count() == 0)
    // directional sanity: target-domain docs must average HIGHER under
    // their own importance model than the rest of the corpus — the
    // defining property of an importance scorer
    val tgt = col("source").isin("src0", "src1", "src2", "src3")
    val avgs = df.groupBy(tgt.as("t")).agg(avg(col("score")).as("a"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(avgs(true) > avgs(false), avgs.toString)
    df.unpersist()
  }

  test("p14: the curriculum stages partition the corpus, agree with " +
      "p11's model and t16's blocklist, and all three are populated") {
    val df = SparkEntry.queries("p14_anneal_split")(spark, sfDir).cache()
    // stage algebra re-derived from the emitted integer columns
    val expected = when(col("n_bad") > 0L || col("score_milli") <= 0L,
        "dropped")
      .when(col("score_milli") * 20 >= col("n_tokens") * 1000, "anneal")
      .otherwise("pretrain")
    assert(df.filter(col("stage") =!= expected).count() == 0)
    val byStage = df.groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Seq("dropped", "anneal", "pretrain").forall(
      byStage.getOrElse(_, 0L) > 0L), byStage.toString)
    assert(byStage.values.sum ==
      Tables(spark, sfDir, "documents").count())
    // one model: scores equal p11's, bad counts equal t16's
    val p11 = SparkEntry.queries("p11_quality_classifier")(spark, sfDir)
      .select(col("doc_id"), col("score_milli").as("s11"))
    assert(df.join(p11, "doc_id").filter(col("score_milli") =!= col("s11"))
      .count() == 0)
    val t16 = SparkEntry.queries("t16_blocklist_filter")(spark, sfDir)
      .select(col("doc_id"), col("n_bad").as("b16"))
    assert(df.join(t16, "doc_id").filter(col("n_bad") =!= col("b16"))
      .count() == 0)
    df.unpersist()
  }

  test("q34: grouping sets reconcile — each branch totals the table, " +
      "and no cross-branch combination leaks") {
    val df = SparkEntry.queries("q34_grouping_sets")(spark, sfDir).cache()
    val total = Tables(spark, sfDir, "lineitem").count()
    val grand = df.filter(col("rf") === "ALL" && col("ls") === "ALL" &&
      col("ln") === -1L)
    assert(grand.count() == 1)
    assert(grand.head.getAs[Long]("n") == total)
    // branch 1: (rf, ls) rows tile the table
    assert(df.filter(col("rf") =!= "ALL" && col("ln") === -1L)
      .agg(sum("n")).head.getLong(0) == total)
    // branch 2: (linenumber) rows tile the table
    assert(df.filter(col("ln") =!= -1L)
      .agg(sum("n")).head.getLong(0) == total)
    // no row mixes the two dimension branches
    assert(df.filter(col("rf") =!= "ALL" && col("ln") =!= -1L).count() == 0)
    assert(df.filter(col("rf") === "ALL" && col("ls") =!= "ALL").count() == 0)
    df.unpersist()
  }

  test("t20: each Gopher plant trips exactly its rule; the bullet " +
      "plant sits ON the integer 80% alpha boundary; base docs are " +
      "symbol-free single-liners") {
    val df = SparkEntry.queries("t20_gopher_quality")(spark, sfDir).cache()
    val allBut = Map(
      "r_bullet" -> 9300000L, "r_ellipsis" -> 9400000L,
      "r_sym" -> 9500000L, "r_wc" -> 9600000L)
    val rules = Seq("r_wc", "r_wlen", "r_sym", "r_bullet", "r_ellipsis",
      "r_alpha", "r_stop")
    allBut.foreach { case (failing, off) =>
      val p = df.filter(col("doc_id").between(off, off + 99999L))
      assert(p.count() > 0, s"no plants at $off")
      assert(p.filter(col(failing)).count() == 0, s"$failing passed")
      // the word-count plant also legitimately fails r_wlen (2 words,
      // mean length 2) — every other plant fails ONLY its named rule
      val mustPass = rules.filterNot(r => r == failing ||
        (failing == "r_wc" && r == "r_wlen"))
      mustPass.foreach(r =>
        assert(p.filter(!col(r)).count() == 0, s"$r failed at $off"))
    }
    val b = df.filter(col("doc_id").between(9300000L, 9399999L))
    assert(b.filter(col("alpha_words") =!= 48L || col("n_words") =!= 60L)
      .count() == 0) // 48·5 = 60·4 exactly — the boundary is integer
    val base = df.filter(col("doc_id") < 9000000L)
    assert(base.filter(col("n_symbols") =!= 0L || col("n_lines") =!= 1L)
      .count() == 0)
    // keep ≡ conjunction of the seven rules (guards refactors)
    assert(df.filter(col("keep") =!= rules.map(col).reduce(_ && _))
      .count() == 0)
    df.unpersist()
  }

  test("s13: filtered search stays in-category, its ranks are a true " +
      "top-10, and postfilter_hit agrees with an independent global " +
      "top-50 — with real misses") {
    val df = SparkEntry.queries("s13_filtered_search")(spark, sfDir).cache()
    val emb = Tables(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    // category containment + rank shape
    assert(df.join(q.select("q_id", "q_label"), "q_id")
      .filter(col("label") =!= col("q_label")).count() == 0)
    assert(df.groupBy("q_id").agg(count(lit(1)).as("n"),
        max("rank").as("mx")).filter(col("n") =!= 10 || col("mx") =!= 10)
      .count() == 0)
    // the post-filter recall hole is real on this corpus (~10% filter
    // selectivity vs a 50-deep global list)
    assert(df.filter(!col("postfilter_hit")).count() > 0)
    assert(df.filter(col("postfilter_hit")).count() > 0)
    // independent global top-50 (plain window rank — fine at spec scale)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("c").desc, col("vec_id"))
    val g50 = emb.crossJoin(broadcast(q.select("q_id", "q_vec")))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.vectors.cosine_sim(col("q_vec"), col("embedding"))
          .as("c"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 50)
      .select(col("q_id"), col("vec_id"), lit(true).as("in50"))
    val j = df.join(g50, Seq("q_id", "vec_id"), "left_outer")
    assert(j.filter(col("postfilter_hit") =!=
      coalesce(col("in50"), lit(false))).count() == 0)
    df.unpersist()
  }

  test("m11: edited plants segment into exactly the 4/3/5 held shots " +
      "where the three block hashes are distinct; scenes tile every " +
      "video exactly") {
    val df = SparkEntry.queries("m11_scene_detect")(spark, sfDir).cache()
    // premise (m09 assume() discipline): the plant guarantee needs the
    // three source blocks to hash apart pairwise-adjacently
    val plantSrc = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 9 === 5 && length(col("text")) >= 192)
      .select(col("doc_id"),
        graft.functions.text.dct_sign_hash(expr("substring(text, 1, 64)"))
          .as("h1"),
        graft.functions.text.dct_sign_hash(expr("substring(text, 65, 64)"))
          .as("h2"),
        graft.functions.text.dct_sign_hash(expr("substring(text, 129, 64)"))
          .as("h3"))
    val clean = plantSrc
      .filter(col("h1") =!= col("h2") && col("h2") =!= col("h3"))
      .select((col("doc_id") + 9900000L).as("doc_id"))
    assume(clean.count() > 0, "no hash-distinct plant source at this SF")
    val ps = df.join(clean, "doc_id").cache()
    assert(ps.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 3).count() == 0)
    val shape = Map(1L -> (0L, 3L, 4L), 2L -> (4L, 6L, 3L),
      3L -> (7L, 11L, 5L))
    shape.foreach { case (sid, (s, e, n)) =>
      assert(ps.filter(col("scene_id") === sid && (col("start_fi") =!= s ||
        col("end_fi") =!= e || col("n_frames") =!= n)).count() == 0,
        s"scene $sid shape")
    }
    ps.unpersist()
    // structural tiling: scenes of any video partition [0, nf) — first
    // starts at 0, frame counts sum to the last end + 1
    assert(df.groupBy("doc_id")
      .agg(min("start_fi").as("s0"), sum("n_frames").as("nf"),
        max("end_fi").as("e"))
      .filter(col("s0") =!= 0L || col("nf") =!= col("e") + 1L)
      .count() == 0)
    df.unpersist()
  }

  test("q27: pivot cells partition the joined order count") {
    val df = SparkEntry.queries("q27_pivot")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val pivotTotal = rows.map(r =>
      r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5)).sum
    val joined = Tables(spark, sfDir, "orders").join(
      Tables(spark, sfDir, "customer"),
      col("o_custkey") === col("c_custkey")).count()
    assert(pivotTotal == joined, s"pivot cells $pivotTotal != joined $joined")
  }

  test("q28: percentiles are monotone and groups cover all orders") {
    val df = SparkEntry.queries("q28_percentiles")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p25, p50, p90, p99) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(p25 <= p50 && p50 <= p90 && p90 <= p99, r.toString)
    }
    assert(rows.map(_.getLong(1)).sum ==
      Tables(spark, sfDir, "orders").count())
  }

  test("q29: cube levels are mutually consistent") {
    val df = SparkEntry.queries("q29_cube")(spark, sfDir).cache()
    val grand = df.filter(col("rf") === "ALL" && col("ls") === "ALL")
      .head.getLong(2)
    assert(grand == Tables(spark, sfDir, "lineitem").count())
    // each one-dimensional rollup level re-sums to the grand total
    val byRf = df.filter(col("rf") =!= "ALL" && col("ls") === "ALL")
      .agg(sum(col("n"))).head.getLong(0)
    val byLs = df.filter(col("rf") === "ALL" && col("ls") =!= "ALL")
      .agg(sum(col("n"))).head.getLong(0)
    assert(byRf == grand && byLs == grand)
    df.unpersist()
  }

  test("st06: as-of join attaches the latest order at or before each event") {
    val df = SparkEntry.queries("st06_asof_join")(spark, sfDir).cache()
    val events = Tables(spark, sfDir, "events")
    // exactly one output row per event (an as-of join never multiplies)
    assert(df.count() == events.count())
    // the attached order is at or before the event
    val joined = df.join(events.select(col("event_id"), col("ts")),
      Seq("event_id"))
    assert(joined.filter(col("order_date") > col("ts")).count() == 0)
    // and no later qualifying order exists for that user
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderdate"))
    val later = joined.join(orders,
        col("user_id") === col("o_custkey") &&
          col("o_orderdate") <= col("ts") &&
          col("o_orderdate") > col("order_date"))
    assert(later.count() == 0, "found an order later than the as-of pick")
    df.unpersist()
  }

  test("t07: top-3 terms per doc, ranked by descending tf-idf") {
    val df = SparkEntry.queries("t07_tfidf")(spark, sfDir).cache()
    assert(df.count() > 0)
    assert(df.groupBy(col("doc_id")).agg(count(lit(1)).as("k"))
      .filter(col("k") > 3).count() == 0)
    // rank order matches tfidf order within each doc (ties broken by term
    // never produce an inversion beyond the rounding step)
    val bad = df.as("a").join(df.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.rank") < col("b.rank") &&
          col("a.tfidf") < col("b.tfidf") - 0.0001)
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("p05: shards partition each source into contiguous doc ranges") {
    val df = SparkEntry.queries("p05_token_shards")(spark, sfDir).cache()
    assert(df.count() > 0)
    // within a source: shard ids dense from 0, ranges contiguous and
    // non-overlapping in doc order
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(4), r.getLong(5))).groupBy(_._1)
    rows.foreach { case (src, shards) =>
      val sorted = shards.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"$src shards not starting at 0")
      sorted.sliding(2).foreach {
        case Array((_, s1, _, last1), (_, s2, first2, _)) =>
          assert(s2 == s1 + 1, s"$src shard ids not dense")
          assert(first2 > last1, s"$src shard ranges overlap")
        case _ => ()
      }
    }
    // total docs conserved
    assert(df.agg(sum(col("n_docs"))).head.getLong(0) ==
      Tables(spark, sfDir, "documents").count())
    df.unpersist()
  }

  test("p10: sequences tile exactly and every token lands in one span") {
    val df = SparkEntry.queries("p10_pack_sequences")(spark, sfDir).cache()
    assert(df.count() > 0)
    // per (source, seq_id): spans tile the sequence without gap or
    // overlap, starting at 0; every sequence but the source's last is
    // exactly full (512 tokens)
    val perSeq = df.groupBy(col("source"), col("seq_id"))
      .agg(sum(col("seg_tok")).as("fill"), min(col("seq_off")).as("off0"),
        max(col("seq_off") + col("seg_tok")).as("offEnd"),
        count(lit(1)).as("n_spans"))
      .cache()
    assert(perSeq.filter(col("off0") =!= 0L).count() == 0, "gap at start")
    assert(perSeq.filter(col("fill") =!= col("offEnd")).count() == 0,
      "spans overlap or leave a hole")
    val lastSeq = perSeq.groupBy(col("source"))
      .agg(max(col("seq_id")).as("last_id"))
    val notFull = perSeq.join(lastSeq, "source")
      .filter(col("seq_id") =!= col("last_id") && col("fill") =!= 512L)
    assert(notFull.count() == 0, "a non-final sequence is not full")
    // seq ids dense from 0 per source: max_id + 1 == distinct count
    val dense = perSeq.groupBy(col("source"))
      .agg(max(col("seq_id")).as("m"), count(lit(1)).as("c"))
      .filter(col("m") + 1L =!= col("c"))
    assert(dense.count() == 0, "sequence ids not dense")
    // token conservation per doc: spans re-assemble the tokenized doc
    val perDoc = df.groupBy(col("doc_id"))
      .agg(sum(col("seg_tok")).as("got"), min(col("doc_off")).as("d0"),
        max(col("doc_off") + col("seg_tok")).as("dEnd"))
    val want = Tables(spark, sfDir, "documents")
      .withColumn("tokens",
        size(filter(split(lower(col("text")), "[ \\t\\n\\r]+"), x => x =!= ""))
          .cast("long"))
      .filter(col("tokens") > 0L).select(col("doc_id"), col("tokens"))
    val broken = perDoc.join(want, "doc_id")
      .filter(col("got") =!= col("tokens") || col("d0") =!= 0L ||
        col("dEnd") =!= col("tokens"))
    assert(broken.count() == 0, "doc spans don't reassemble the doc")
    assert(perDoc.count() == want.count(), "doc set mismatch")
    perSeq.unpersist(); df.unpersist()
  }

  test("p04: every stratum keeps ceil(20%) docs, reproducibly") {
    val df = SparkEntry.queries("p04_stratified")(spark, sfDir).cache()
    val kept = df.groupBy(col("source")).agg(count(lit(1)).as("kept"))
    val sizes = Tables(spark, sfDir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val off = kept.join(sizes, "source")
      .filter(col("kept") =!= ceil(col("n_src") * 0.2))
    assert(off.count() == 0)
    // deterministic: a second run picks the identical ids
    val again = SparkEntry.queries("p04_stratified")(spark, sfDir)
    assert(df.select("doc_id").exceptAll(again.select("doc_id")).isEmpty)
    df.unpersist()
  }

  test("dd07: kept chunks across the corpus equal the distinct chunk set") {
    val df = SparkEntry.queries("dd07_para_dedup")(spark, sfDir).cache()
    // the dedup invariant: exactly one survivor per distinct chunk text
    val kept = df.agg(sum(col("n_kept"))).head.getLong(0)
    val total = df.agg(sum(col("n_chunks"))).head.getLong(0)
    assert(kept > 0 && kept < total, s"kept=$kept total=$total")
    // a planted near-copy (id >= 1M) with more than one chunk has at
    // least one FULL 10-word chunk, which duplicates its original's and
    // must be dropped (a sub-10-word copy differs in its only chunk —
    // the last word was removed — and legitimately survives)
    assert(df.filter(col("doc_id") >= 1000000L && col("n_chunks") > 1 &&
      col("n_kept") === col("n_chunks")).count() == 0)
    // clean_text of an untouched doc reassembles to its token stream
    val untouched = df.filter(col("doc_id") < 1000000L &&
      col("n_kept") === col("n_chunks"))
    assert(untouched.count() > 0)
    df.unpersist()
  }

  test("p10 core: a giant doc straddles many sequences with exact spans") {
    import spark.implicits._
    // doc 2: 2000 tokens — longer than 3 full 512-token sequences; doc 1
    // and 3 surround it; doc 4 is empty (must vanish); doc 5 is 1 token
    val toks = Seq(
      (1L, "s", 100L), (2L, "s", 2000L), (3L, "s", 50L),
      (4L, "s", 0L), (5L, "s", 1L))
      .toDF("doc_id", "source", "tokens")
    val spans = graft.operators.Pipeline.packSpans(toks, 512L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // cumsum order: doc1 [0,100) doc2 [100,2100) doc3 [2100,2150)
    // doc5 [2150,2151); doc4 contributes nothing
    val giant = spans.filter(_._2 == 2L)
    assert(giant.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      giant.mkString(","))
    // span tiling of the giant doc: offsets advance by the emitted
    // lengths and cover [0, 2000) exactly
    assert(giant.map(s => (s._3, s._5)).toSeq ==
      Seq((0L, 412L), (412L, 512L), (924L, 512L), (1436L, 512L),
        (1948L, 52L)))
    assert(spans.filter(_._2 == 4L).isEmpty, "empty doc leaked a span")
    assert(spans.filter(_._2 == 5L).toSeq ==
      Seq((4L, 5L, 0L, 102L, 1L)), "1-token doc span wrong")
    // global conservation
    assert(spans.map(_._5).sum == 2151L)
  }

  test("dd14: duplicated spans vanish from every occurrence, both copies") {
    val df = SparkEntry.queries("dd14_substring_dedup")(spark, sfDir).cache()
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // conservation: clean word count == n_tokens − n_removed, per doc
    rows.values.foreach { case (n, rm, txt) =>
      val words = if (txt.isEmpty) 0 else txt.split(" ").length
      assert(words == n - rm, s"$n $rm '$txt'")
    }
    // a plant duplicates its source minus the last word, so for every
    // plant with >= 16 tokens: the ENTIRE plant is a duplicated span
    // (removed to empty), and the source keeps AT MOST its last token —
    // removal has no privileged copy
    val plants = rows.keys.filter(_ >= 1000000L)
      .filter(id => rows(id)._1 >= 16L)
    assert(plants.nonEmpty)
    plants.foreach { id =>
      val (pn, prm, ptxt) = rows(id)
      assert(prm == pn && ptxt.isEmpty, s"plant $id kept text '$ptxt'")
      val (sn, srm, _) = rows(id - 1000000L)
      assert(srm >= sn - 1, s"source ${id - 1000000L} kept $srm of $sn")
    }
    // sub-threshold duplication survives: docs exist with zero removal
    assert(rows.values.count(_._2 == 0L) > 0)
    df.unpersist()
  }

  test("s11: two-tier MRL retrieval re-ranks the prefix shortlist and " +
      "its recall lower-bounds s10's truncated-only recall") {
    val df = SparkEntry.queries("s11_mrl_rerank")(spark, sfDir).cache()
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // well-formed: 10 ranks per query, cosine non-increasing in rank
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1L to 10L), s"query $q")
      assert(rs.sortBy(_._4).map(_._3).sliding(2)
        .forall(p => p.head >= p.last - 1e-9), s"query $q not sorted")
    }
    // recall vs s01 ground truth ≥ s10's recall: a full-dim top-10 hit
    // that survives the shortlist always survives the re-rank
    val exact = SparkEntry.queries("s01_ann_bruteforce")(spark, sfDir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s10 = SparkEntry.queries("s10_mrl_recall")(spark, sfDir)
      .select("q_id", "hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val hits = rs.count(r => exact.contains((q, r._2)))
      assert(hits >= s10(q),
        s"query $q: rerank hits $hits < truncated-only hits ${s10(q)}")
    }
    df.unpersist()
  }

  test("p13: sqrt-temperature apportionment flattens the source mix — " +
      "exact budget, head demoted, tail promoted, quotas filled in rank " +
      "order") {
    val rows = SparkEntry.queries("p13_temperature_mix")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val n = Tables(spark, sfDir, "documents").count()
    // the Hamilton apportionment hands out EXACTLY ⌊N/3⌋ docs (no group
    // hit its n_s cap on this corpus, so nothing is truncated)
    assert(rows.length == (n / 3).toInt, s"${rows.length} vs ${n / 3}")
    val byGrp = rows.groupBy(_._2).view.mapValues(_.length).toMap
    // every selected row respects its group quota and quotas are full
    rows.foreach { case (id, g, rn, alloc) =>
      assert(rn <= alloc, s"doc $id rank $rn > alloc $alloc") }
    byGrp.foreach { case (g, got) =>
      assert(got == rows.find(_._2 == g).get._4, s"$g quota not filled") }
    // the α=0.5 flattening: head holds 50% of the corpus but must get
    // LESS than its proportional share of the budget; each tail source
    // holds 5% and must get MORE
    val tot = rows.length.toDouble
    assert(byGrp("head") / tot < 0.45, s"head share ${byGrp("head") / tot}")
    byGrp.filter(_._1.startsWith("tail")).foreach { case (g, c) =>
      assert(c / tot > 0.07, s"$g share ${c / tot} not promoted") }
  }

  test("s12: range search returns the full epsilon-ball — dense ranks, " +
      "monotone scores, floor respected, and match sets top-k cannot " +
      "express") {
    val rows = SparkEntry.queries("s12_range_search")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, ms) =>
      val sorted = ms.sortBy(_._4)
      // ranks dense 1..n, scores non-increasing along them
      assert(sorted.map(_._4).toSeq == (1L to ms.length).toSeq, s"q$q ranks")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3; case _ => true }, s"q$q order")
      ms.foreach { m => assert(m._3 >= 0.2 - 5e-5, s"q$q floor: $m") }
    }
    // the operator's reason to exist: at least one ball holds MORE than
    // s01's top-k could return
    assert(rows.groupBy(_._1).values.map(_.length).max > 10)
  }

  test("dd16: recrawls are caught against the corpus artifact, disjoint " +
      "pages kept, verdicts fully decided") {
    val rows = SparkEntry.queries("dd16_incremental_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    val (recrawls, fresh) = rows.partition(_._1 < 6000000L)
    assert(recrawls.nonEmpty && fresh.nonEmpty)
    // every trimmed recrawl is a near-dup of the existing corpus: at
    // least one match, keep = false, best estimate well over threshold;
    // its best match is its own source unless a genuine corpus
    // near-dup of the source ties at a lower id — then there must be
    // at least the two of them
    recrawls.foreach { case (id, n, best, est, keep) =>
      assert(n >= 1 && !keep && est >= 0.5, s"recrawl $id: ($n, $est, $keep)")
      assert(best == id - 5000000L || n >= 2, s"recrawl $id best $best")
    }
    // every suffixed page is textually disjoint: zero matches, kept,
    // sentinel best (-1, 0.0)
    fresh.foreach { case (id, n, best, est, keep) =>
      assert(n == 0 && keep && best == -1L && est == 0.0, s"fresh $id")
    }
  }

  test("m09: pair dedup — each modality catches the dup the other " +
      "cannot see; verdicts fully decided") {
    val rows = SparkEntry.queries("m09_pair_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getBoolean(4)))
    val a = rows.filter(r => r._1 >= 7000000L && r._1 < 8000000L)
    val b = rows.filter(_._1 >= 8000000L)
    assert(a.nonEmpty && b.nonEmpty)
    // re-encoded images (trim) under a rewritten caption: the caption
    // branch must NEVER fire (shingle-disjoint), and the image branch
    // must absorb the majority (m05's premise: most trims keep all 63
    // signs); whatever it catches must point at the source or earlier
    a.foreach { case (id, _, cm, _, _) =>
      assert(cm == -1L, s"plant A $id caption-matched $cm") }
    // majority of trims keep the hash, landing in a group at least as
    // early as the source (a flipped sign can still collide into some
    // OTHER class — a legitimate 'image' verdict, so the per-row bound
    // is only asserted on the majority count)
    assert(a.count(r => r._4 == "image" && r._2 <= r._1 - 7000000L) * 2
      > a.length, "image branch weak")
    // same caption on a re-hosted image: the caption branch must catch
    // EVERY one (identical caption → identical signature → all 16
    // bands collide), pointing at the source or an earlier near-dup.
    // That full-recall contract holds only while caption band buckets
    // stay under the operator's 2..50 cap (an over-cap boilerplate
    // caption drops its candidates BY DESIGN — the dd15 rule); pin the
    // premise as a named precondition so a regenerated corpus with
    // caption boilerplate fails HERE with the right diagnosis, not in
    // the verdict asserts below (review r10)
    val capWs = filter(split(col("text"), "[ \\t\\n\\r]+"), w => w =!= "")
    val maxCapGroup = Tables(spark, sfDir, "documents")
      .select(array_join(slice(capWs, 1, 12), " ").as("cap"))
      .groupBy("cap").count().agg(max("count")).head().getLong(0)
    assume(maxCapGroup * 2 <= 50, s"caption group of $maxCapGroup docs " +
      "approaches the band cap; the full-recall premise no longer holds")
    b.foreach { case (id, _, cm, kind, keep) =>
      assert(cm >= 0 && cm <= id - 8000000L && !keep,
        s"plant B $id: ($cm, $kind, $keep)")
    }
    // keep is exactly the none-verdict everywhere
    rows.foreach { case (id, _, _, kind, keep) =>
      assert(keep == (kind == "none"), s"$id keep/kind disagree") }
  }

  test("t18: repetition filter — every generation-loop plant fails the " +
      "dup5 rule; keep is exactly the two-rule integer algebra") {
    val rows = SparkEntry.queries("t18_repetition_filter")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    val plants = rows.filter(_._1 >= 9000000L)
    assert(plants.nonEmpty)
    // the appended 6× five-word loop yields the loop 5-gram 6 times
    // plus each of its 4 rotations 5 times → dup5 ≥ 26, always over
    // the 15 % mass bound; the verdict must be drop for every plant
    plants.foreach { case (id, n, _, dup5, keep) =>
      assert(dup5 >= 26 && dup5 * 100 > (n - 4) * 15 && !keep,
        s"plant $id: n=$n dup5=$dup5 keep=$keep")
    }
    // keep is EXACTLY the conjunction of the two integer rules, on
    // every row (no hidden float path)
    rows.foreach { case (id, n, top2, dup5, keep) =>
      val want = top2 * 10 <= n && dup5 * 100 <= math.max(n - 4, 0L) * 15
      assert(keep == want, s"$id keep=$keep want=$want")
    }
    // the base corpus is mostly clean: majority kept
    val base = rows.filter(_._1 < 9000000L)
    assert(base.count(_._5) * 2 > base.length, "base corpus mostly dropped")
  }

  test("t19: per-source thirds are exact and ordered by the t14 score") {
    val rows = SparkEntry.queries("t19_ccnet_buckets")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySrc = rows.groupBy(_._2)
    assert(bySrc.nonEmpty)
    bySrc.foreach { case (src, rs) =>
      val n = rs.length
      val h = rs.count(_._3 == "head"); val m = rs.count(_._3 == "middle")
      assert(h == n / 3, s"$src head $h != ${n / 3} of $n")
      assert(h + m == 2 * n / 3, s"$src head+middle ${h + m} != ${2 * n / 3}")
    }
    // the cut respects the score order: within a source every head doc
    // scores ≤ every tail doc (decimal order is double-monotone)
    val score = SparkEntry.queries("t14_bigram_logprob")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    bySrc.foreach { case (src, rs) =>
      val heads = rs.filter(_._3 == "head").map(r => score(r._1))
      val tails = rs.filter(_._3 == "tail").map(r => score(r._1))
      if (heads.nonEmpty && tails.nonEmpty)
        assert(heads.max <= tails.min, s"$src head/tail out of order")
    }
  }

  test("dd18: bloom prefilter — structural no-false-negative; verdicts " +
      "fully decided by class at this fill ratio") {
    val rows = SparkEntry.queries("dd18_bloom_prefilter")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    // STRUCTURAL: a Bloom filter cannot false-negative — every verbatim
    // dup must hit, including trims that happen to equal another doc
    rows.foreach { case (id, hit, td) =>
      if (td) assert(hit, s"false negative at $id") }
    val reposts = rows.filter(_._1 < 5000000L)
    assert(reposts.nonEmpty && reposts.forall(r => r._2 && r._3))
    // ~3 % bitmap fill → theoretical FPR (fill)⁴ ≈ 1e-6: zero observed
    // (corpus-bound: a larger corpus raises fill and this becomes a
    // rate assertion)
    assert(rows.count(r => r._2 && !r._3) == 0, "false positive")
    // suffixed new pages never collide here
    val news = rows.filter(_._1 >= 6000000L)
    assert(news.nonEmpty && news.forall(r => !r._2))
  }

  test("round-13: dd18's distributed position-join probe is " +
      "set-identical to the bitmap literal, and saturation (forceM=64) " +
      "degrades to pass-everything — never a false negative") {
    val lit = SparkEntry.queries("dd18_bloom_prefilter")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    // driverBitmapMaxBits = 0 forces the scale path (wave positions
    // joined to the distinct corpus-position frame)
    val joined = operators.Dedup
      .dd18BloomPrefilter(spark, sfDir, driverBitmapMaxBits = 0L)
      .collect().map(_.toSeq).toSet
    assert(lit == joined)
    // a 64-bit bitmap at this corpus is ~fully saturated: the filter
    // must degrade to a no-op (nearly everything bloom-hits), and the
    // structural no-FN contract must hold AT fill → 1
    val sat = operators.Dedup
      .dd18BloomPrefilter(spark, sfDir, forceM = Some(64L))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    sat.foreach { case (id, hit, td) =>
      if (td) assert(hit, s"saturated false negative at $id") }
    assert(sat.count(_._2) * 10 >= sat.length * 9,
      s"64-bit bitmap should pass ~everything, passed ${sat.count(_._2)}" +
        s"/${sat.length}")
  }

  test("dd17: LSH S-curve — the banding misses the low-J ladder floor " +
      "and catches the high-J end completely; theory literals exact") {
    val rows = SparkEntry.queries("dd17_lsh_calibration")(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the graded substitution ladder populates every decile
    assert(rows.map(_._1).toSeq == (1L to 9L).toSeq, rows.mkString(","))
    val theory = graft.operators.Dedup.lshTheory.toMap
    rows.foreach { case (b, n, c, p) =>
      assert(n > 0 && c >= 0 && c <= n, s"bucket $b: $c/$n")
      assert(p == theory(b), s"bucket $b theory $p != ${theory(b)}")
    }
    val m = rows.map(r => r._1 -> r).toMap
    // decile 1 (J ≈ 0.1–0.2, theory 0.008): the curve's floor — the
    // banding must NOT catch these (≤ 20 %), or the cap/banding is
    // broken in the permissive direction
    assert(m(1L)._3 * 5 <= m(1L)._2, s"floor leak: ${m(1L)}")
    // deciles 8–9 (theory ≥ 0.99999): complete recall
    Seq(8L, 9L).foreach(b =>
      assert(m(b)._3 == m(b)._2, s"high-J miss at $b: ${m(b)}"))
  }

  test("m10: clip filter — keep decided on the RAW two-tower cosine, " +
      "scalar reference exact") {
    val out = SparkEntry.queries("m10_clip_filter")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getBoolean(3))).toSeq
    // scalar reference replicating VectorMath.cosineF's fold order
    val raw = Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect().map { r =>
        val e = r.getSeq[Float](1)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < 32) {
          val x = e(i).toDouble; val y = e(i + 32).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        r.getLong(0) ->
          (if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb))
      }.toMap
    out.foreach { case (id, cos4, keep) =>
      val rw = raw(id)
      assert(keep == (rw >= 0.1), s"$id raw=$rw keep=$keep")
      assert(math.abs(cos4 - rw) <= 5e-5 + 1e-12, s"$id rounding drift")
    }
    // the gate discriminates at this distribution: both verdicts occur
    assert(out.exists(_._3) && out.exists(r => !r._3))
  }

  test("m08: pHash search equals a scalar brute-force reference exactly, " +
      "ties included") {
    val rows = SparkEntry.queries("m08_phash_search")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    // scalar reference: recompute every hash through the same kernel
    // and rank exhaustively — the distributed two-stage top-k must
    // match exactly, ties included
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val corpus = texts ++ texts.filter(_._1 % 9 == 0).map { case (id, t) =>
      (id + 999999L, t.replaceAll("[ \\t\\n\\r]+[^ \\t\\n\\r]+\\z", "")) }
    val ph = corpus.map { case (id, t) =>
      id -> graft.functions.TextHashes.dctSignHash(UTF8String.fromString(t))
    }.toMap
    val want = (0L until 5L).flatMap { q =>
      ph.toSeq.filter(_._1 != q)
        .map { case (id, h) =>
          (id, java.lang.Long.bitCount(ph(q) ^ h).toLong) }
        .sortBy { case (id, hm) => (hm, id) }.take(10).zipWithIndex
        .map { case ((id, hm), i) => (q, id, hm, i + 1L) }
    }.toSet
    assert(rows.map(r => (r._1, r._2, r._4, r._5)).toSet == want)
    // structural sanity on top of the exact match: full result sets,
    // hamming non-decreasing in rank, self excluded
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length == 10 && rs.map(_._5).sorted.toSeq == (1L to 10L))
      assert(rs.sortBy(_._5).map(_._4).sliding(2).forall(p => p.head <= p.last))
      assert(!rs.exists(_._2 == q))
    }
  }

  test("t17: fuzzy contamination flags plants + genuine near-dups only, " +
      "with >=80% plant recall and a weak verbatim-gram signal") {
    val df = SparkEntry.queries("t17_fuzzy_contamination")(spark, sfDir)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, j) => assert(j >= 0.4 && j <= 1.0) }
    // no HASH-level false positive: every flagged pair is either a
    // planted paraphrase of its own eval source, or a genuine textual
    // near-dup (the corpus generator plants real near-dup pairs, and
    // one straddling the eval split IS contamination — the operator
    // working as designed). Genuine = true 3-shingle Jaccard within
    // estimator tolerance of the flag threshold.
    val allTexts = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[Seq[String]] = {
      val ws = t.toLowerCase.split("[ \\t\\n\\r]+").filter(_.nonEmpty).toSeq
      if (ws.length < 3) Set(ws) else ws.sliding(3).toSet
    }
    rows.foreach { case (d, e, j) =>
      if (d < 3000000L) {
        val (sa, sb) = (shingles(allTexts(d)), shingles(allTexts(e)))
        val trueJ = (sa & sb).size.toDouble / (sa | sb).size
        assert(trueJ >= 0.25,
          s"($d,$e) flagged at $j but true shingle J is $trueJ")
      } else assert(d - 3000000L == e, s"cross-plant false positive ($d,$e)")
    }
    // probabilistic recall contract: >= 80% of the plants flagged (the
    // 64-hash estimator has sigma ~0.06 around true J ~0.54)
    val nEval = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 97 === 0).count()
    val planted = rows.count(_._1 >= 3000000L)
    assert(planted >= (nEval * 4 + 4) / 5,
      s"$planted of $nEval plants flagged")
    // the fuzzy gate's margin vs the verbatim signal, for FLAGGED
    // PLANTS only (a genuine near-dup pair says nothing about the
    // paraphrase's gram overlap) and only where the doc is long enough
    // for gram-survival quantization not to dominate (a ~12-token doc
    // has 5 grams; one substitution kills 3, overlap 0.4 by geometry)
    val texts = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 97 === 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams8(toks: Seq[String]): Set[Seq[String]] =
      if (toks.length < 8) Set(toks) else toks.sliding(8).toSet
    val checked = rows.filter(_._1 >= 3000000L).flatMap { case (_, e, j) =>
      val orig = texts(e).split("[ \\t\\n\\r]+").filter(_.nonEmpty).toSeq
      if (orig.length < 20) None else Some((e, j, orig))
    }
    assert(checked.nonEmpty, "no long-enough flagged plants to check")
    checked.foreach { case (e, j, orig) =>
      val para = orig.zipWithIndex.map { case (w, i) =>
        if ((i + 1) % 10 == 0) "xq" else w }
      val overlap = grams8(para).count(grams8(orig)) /
        grams8(para).size.toDouble
      assert(overlap < j, s"eval $e: verbatim $overlap !< fuzzy $j")
      assert(overlap < 0.35, s"eval $e: verbatim signal too strong")
    }
  }

  test("t16: exactly the docs containing a listed token are dropped, " +
      "and p09's stage 5 reports the same rule") {
    val df = SparkEntry.queries("t16_blocklist_filter")(spark, sfDir).cache()
    val want = Tables(spark, sfDir, "documents")
      .filter(exists(split(lower(col("text")), "[ \\t\\n\\r]+"),
        x => x.isin(graft.operators.TextAnalysis.blocklist.map(lit): _*)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty, "corpus has no blocklisted docs — vacuous gate")
    val dropped = df.filter(!col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dropped == want)
    // the flag is exactly n_bad == 0, and n_bad ≤ n_tokens
    assert(df.filter((col("n_bad") === 0L) =!= col("keep")).count() == 0)
    assert(df.filter(col("n_bad") > col("n_tokens")).count() == 0)
    df.unpersist()
    // funnel wiring: stage 5 carries the blocklist rule and its drop
    // count equals the blocklisted SURVIVORS of stages 1-4 (the funnel
    // is sequential, so it can be < the corpus-wide drop count)
    val s5 = SparkEntry.queries("p09_quality_funnel")(spark, sfDir)
      .filter(col("stage") === 5L).collect()
    assert(s5.length == 1 && s5.head.getString(1) == "blocklist_c4")
    assert(s5.head.getLong(3) > 0, "stage 5 dropped nothing — vacuous")
  }

  test("dd14: a forced primary-hash collision cannot cut a span the " +
      "string form would keep — the second hash guards text mutation") {
    import graft.operators.Dedup
    // two docs share a real 24-token span (a true duplicate, must be
    // cut from both); two docs are entirely unique (must survive
    // intact even when the primary hash claims EVERY gram collides)
    val common = (1 to 24).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      1L -> (common + " alpha beta gamma delta epsilon zeta"),
      2L -> (common + " one two three four five six"),
      3L -> (1 to 30).map(i => s"uniqA$i").mkString(" "),
      4L -> (1 to 30).map(i => s"uniqB$i").mkString(" "))
    val toksDf = spark.createDataFrame(docs).toDF("doc_id", "text")
      .select(col("doc_id"),
        filter(split(lower(col("text")), "[ \\t\\n\\r]+"), x => x =!= "")
          .as("ts"))
    def run(keys: Seq[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column]) =
      Dedup.substringDedupCore(toksDf, keys, 16).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .sortBy(_._1).toSeq
    val real = run(Dedup.dd14GramKeys)
    // ground truth: the shared span vanishes from both copies; unique
    // docs are untouched
    assert(real.filter(_._1 <= 2L).forall(r => r._3 >= 24L), real)
    assert(real.filter(_._1 >= 3L).forall(r => r._3 == 0L), real)
    // force a TOTAL primary-hash collision (g0 constant): the seeded
    // second hash alone must still produce the identical output —
    // this is the guard that makes a real 64-bit collision harmless
    val degraded = run(Seq(_ => lit(0L), Dedup.dd14GramKeys(1)))
    assert(degraded == real,
      "a primary-hash collision changed dd14's output despite the guard")
    // power check: without any independent key the collision DOES cut
    // unique text — proving this spec can fail
    val blind = run(Seq(_ => lit(0L)))
    assert(blind != real)
    assert(blind.filter(_._1 >= 3L).forall(r => r._3 == r._2),
      "expected the blind run to cut everything")
  }

  test("dd13: the source matrix partitions dd02's pair set") {
    val df = SparkEntry.queries("dd13_dup_sources")(spark, sfDir).cache()
    val pairs = SparkEntry.queries("dd02_dedup_minhash")(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // conservation: every dup pair lands in exactly one matrix cell
    assert(df.agg(sum(col("n_pairs"))).head.getLong(0) == pairs.length)
    // a plant keeps its source, so every (doc, doc+1M) pair is diagonal
    val srcOf = Tables(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val diagWant = pairs.count { case (a, b) =>
      srcOf(if (a < 1000000L) a else a - 1000000L) ==
        srcOf(if (b < 1000000L) b else b - 1000000L) }
    assert(df.filter(!col("cross_source")).agg(sum(col("n_pairs")))
      .head.getLong(0) == diagWant)
    // the report is non-degenerate both ways on this corpus
    assert(df.filter(col("cross_source")).count() > 0)
    assert(df.filter(!col("cross_source")).count() > 0)
    // triangular: keys are normalized (source_a <= source_b)
    assert(df.filter(col("source_a") > col("source_b")).count() == 0)
    df.unpersist()
  }

  test("s09: recall rows equal the set intersection of s01 and s02 top-10s") {
    val df = SparkEntry.queries("s09_ann_recall")(spark, sfDir).cache()
    val exact = SparkEntry.queries("s01_ann_bruteforce")(spark, sfDir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = SparkEntry.queries("s02_ann_ivf")(spark, sfDir)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSet == exact.keySet)
    rows.foreach { r =>
      val (q, nE, nA, hits, recall) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nE == exact(q).size)
      assert(nA == approx.getOrElse(q, Set.empty[Long]).size)
      assert(hits ==
        (exact(q) & approx.getOrElse(q, Set.empty[Long])).size.toLong,
        s"q=$q")
      assert(recall == math.round(hits.toDouble / nE * 10000) / 10000.0)
      assert(recall >= 0.0 && recall <= 1.0)
    }
    // the 2-probe IVF index is a real approximation on this corpus:
    // recall must be high but the operator must be able to report < 1
    assert(rows.map(_.getDouble(4)).sum / rows.length > 0.2)
    df.unpersist()
  }

  test("m06: every >=2-frame trimmed plant pairs with its source at 1.0") {
    val df = SparkEntry.queries("m06_video_neardup")(spark, sfDir).cache()
    // plants that survive the evidence guard: videos (id%9==2 are all
    // id%3==2) whose trimmed text still holds >= 2 full 64-byte frames
    val wantPlants = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 9 === 2 &&
        (length(col("text")) - 80) >= 128)
      .count()
    val plantPairs = df.filter(col("id_b") === col("id_a") + 999999L)
    assert(wantPlants > 0, "no plantable videos at this sf")
    assert(plantPairs.count() == wantPlants,
      s"plant pairs ${plantPairs.count()} != $wantPlants")
    // every surviving plant frame lies fully inside the kept prefix, so
    // its frame set is a SUBSET of the source's: containment exactly 1.0
    assert(plantPairs.filter(col("containment") =!= 1.0).count() == 0)
    // the asymmetric measure is doing work: sources are strictly larger
    assert(plantPairs.filter(col("n_a") <= col("n_b")).count() == 0)
    df.unpersist()
  }

  test("s08: the distributed MMR selection equals a scalar reference MMR") {
    val df = SparkEntry.queries("s08_mmr_rerank")(spark, sfDir).cache()
    // shape: exactly 5 picks per query, ranks dense, ids distinct
    val byQ = df.collect().groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to 5L))
      assert(rows.map(_.getLong(2)).distinct.length == 5)
    }
    // candidate pool = s01's top-10 (same kernel, same 4dp rel)
    val cands = SparkEntry.queries("s01_ann_bruteforce")(spark, sfDir)
      .select(col("q_id"), col("vec_id"), col("cos").as("rel"))
    val emb = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val ce = cands.join(emb, "vec_id").cache()
    // pairwise candidate sims through the SAME codegen'd kernel
    val a = ce.select(col("q_id"), col("vec_id").as("ia"),
      col("embedding").as("ea"))
    val b = ce.select(col("q_id"), col("vec_id").as("ib"),
      col("embedding").as("eb"))
    val sims = a.join(b, "q_id").filter(col("ia") =!= col("ib"))
      .select(col("q_id"), col("ia"), col("ib"),
        round(graft.functions.vectors.cosine_sim(col("ea"), col("eb")), 4)
          .as("sim"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getDouble(3))).toMap
    val rels = cands.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // scalar reference MMR, λ = 0.7, lowest-vec_id tie-break
    byQ.foreach { case (q, got) =>
      val pool = rels.keys.filter(_._1 == q).map(_._2).toSeq.sorted
      var sel = Vector.empty[Long]
      for (_ <- 1 to 5) {
        val scoredPool = pool.filterNot(sel.contains).map { d =>
          val pen = if (sel.isEmpty) 0.0
            else sel.map(s => sims((q, d, s))).max
          (d, rels((q, d)) * 0.7 - pen * 0.3)
        }
        sel = sel :+ scoredPool.minBy { case (d, s) => (-s, d) }._1
      }
      val gotSeq = got.sortBy(_.getLong(1)).map(_.getLong(2)).toVector
      assert(gotSeq == sel, s"q=$q got=$gotSeq want=$sel")
    }
    ce.unpersist(); df.unpersist()
  }

  test("s08: mmrSelect emits exactly the pool when a query has < 5 candidates") {
    // 3-candidate query: the selection must emit 3 rows (ranks 1..3) and
    // the fold's Long.MaxValue init sentinel must never reach the output
    // (VERDICT r8 "What's wrong" #2)
    import spark.implicits._
    val cs = Seq(
      MmrCand(10L, 0.9, Array(1.0f, 0.0f)),
      MmrCand(11L, 0.8, Array(0.9f, 0.1f)),
      MmrCand(12L, 0.7, Array(0.0f, 1.0f)))
    val packed = Seq((7L, cs)).toDF("q_id", "cs")
    val got = graft.operators.Similarity.mmrSelect(packed)
      .orderBy(col("rank")).collect()
    assert(got.length == 3, s"want 3 rows, got ${got.toSeq}")
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    // scalar reference: 10 first (max rel); then 12 (11 is near-dup of
    // 10: sim 0.9938 → 0.8·0.7 − 0.9938·0.3 < 0.7·0.7 − 0); then 11
    assert(got.map(_.getLong(2)).toSeq == Seq(10L, 12L, 11L))
    assert(got.forall(_.getLong(2) != Long.MaxValue))
  }

  test("dd12: boilerplate removal is total and conserves non-boiler chunks") {
    val df = SparkEntry.queries("dd12_boilerplate")(spark, sfDir).cache()
    // independently re-derive the chunk frame + per-chunk doc-frequency
    val corpus = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .unionAll(Tables(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "[ \\t\\n\\r]+[^ \\t\\n\\r]+\\z", "").as("text")))
    val chunks = corpus
      .select(col("doc_id"),
        filter(split(col("text"), "[ \\t\\n\\r]+"), t => t =!= "").as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, int(floor((size(ws)-1)/10))),
          |  i -> array_join(slice(ws, i*10+1, 10), ' '))""".stripMargin))
        .as("chunk")).cache()
    val dfreq = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("dfr")).cache()
    val boiler = dfreq.filter(col("dfr") >= 3L)
    assert(boiler.count() > 0, "threshold vacuous at this sf")
    // conservation: kept = occurrences of chunk types with df < 3
    val keptWant = chunks.join(dfreq, "chunk")
      .filter(col("dfr") < 3L).count()
    assert(df.agg(sum(col("n_kept"))).head.getLong(0) == keptWant)
    assert(df.agg(sum(col("n_chunks"))).head.getLong(0) == chunks.count())
    // totality: re-chunking every clean_text (all survivors are intact
    // 10-word chunks, bar each doc's tail) reproduces the survivor
    // list, and NO survivor is a boilerplate chunk — unlike dd07, not
    // even a first occurrence is kept
    val survivors = df.filter(col("n_kept") > 0)
      .select(col("doc_id"),
        filter(split(col("clean_text"), " "), t => t =!= "").as("ws"))
      .select(explode(expr(
        """transform(sequence(0, int(floor((size(ws)-1)/10))),
          |  i -> array_join(slice(ws, i*10+1, 10), ' '))""".stripMargin))
        .as("chunk"))
    assert(survivors.join(boiler, "chunk").count() == 0,
      "a boilerplate chunk survived")
    chunks.unpersist(); dfreq.unpersist(); df.unpersist()
  }

  test("dd10: every planted half-prefix doc is caught at containment 1.0, " +
      "below dd04's Jaccard radar") {
    val df = SparkEntry.queries("dd10_containment")(spark, sfDir).cache()
    val plants = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 7 === 1).count()
    // every plant pairs with ITS OWN source at exactly C = 1.0 (prefix
    // shingles are a subset of the source's shingles by construction);
    // additional plant-to-plant / doc-to-plant pairs are legitimate
    // detections on naturally similar docs, not false positives
    val own = df.filter(col("id_b") === col("id_a") + 1000000L)
    assert(own.count() == plants, s"own-pairs=${own.count()} of $plants")
    assert(own.filter(col("containment") < 1.0).count() == 0)
    // the added coverage is real: a half-prefix's symmetric Jaccard is
    // (p−2)/(n−2) ≈ 0.5 with p = max(3, n/2) — strictly below dd04's
    // 0.5 threshold for every word count, so only containment sees these
    df.unpersist()
  }

  test("p08: no near-dup pair straddles the train/eval split") {
    val df = SparkEntry.queries("p08_leak_safe_split")(spark, sfDir).cache()
    // one side per cluster, by construction AND by observation
    assert(df.select(col("cluster_id"), col("split")).distinct()
      .groupBy(col("cluster_id")).count().filter(col("count") > 1)
      .count() == 0)
    // the contamination barrier: every verified near-dup pair (the dd04
    // pair graph p08's clusters are built from) has both ends same-side
    val sides = df.select(col("doc_id"), col("split"))
    val pairs = SparkEntry.queries("dd04_ngram_jaccard")(spark, sfDir)
      .select(col("id_a"), col("id_b"))
    val straddling = pairs
      .join(sides.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), "id_a")
      .join(sides.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), "id_b")
      .filter(col("sa") =!= col("sb"))
    assert(straddling.count() == 0)
    // both sides exist and eval is minority (~10 % of clusters)
    val bySide = df.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySide.contains("train") && bySide.contains("eval"))
    assert(bySide("eval") < bySide("train"))
    df.unpersist()
  }

  test("p09: the funnel's stages chain and every count reconciles") {
    val df = SparkEntry.queries("p09_quality_funnel")(spark, sfDir)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // per-stage arithmetic: in − dropped = out
    rows.foreach { case (s, rule, in, drop, out) =>
      assert(in - drop == out, s"stage $s ($rule)") }
    // the funnel chains: stage i's survivors are stage i+1's input
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 == b._3, s"stage ${a._1} out != stage ${b._1} in") }
    // stage 1 sees the whole corpus; the cascade is non-degenerate
    // (something is dropped, something survives)
    assert(rows.head._3 == Tables(spark, sfDir, "documents").count())
    assert(rows.map(_._4).sum > 0)
    assert(rows.last._5 > 0)
  }

  test("dd11: trimmed plants are fully-duplicated text; sources nearly so") {
    val df = SparkEntry.queries("dd11_dup_gram_frac")(spark, sfDir).cache()
    val byId = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // every corpus member gets a row
    assert(byId.size == Tables(spark, sfDir, "documents").count() +
      byId.keys.count(_ >= 1000000L))
    // a trimmed plant's token sequence is a PREFIX of its source's, so
    // its 8-gram set is a subset of the source's: every gram has df ≥ 2
    // and dup_frac is exactly 1.0 — whenever the plant took the window
    // path (≥ 8 tokens; below that the whole-text fallback hash is
    // unique and the fraction is legitimately 0)
    val plants = byId.filter { case (id, _) => id >= 1000000L }
    val windowed = plants.filter { case (_, (n, _, _)) => n > 1 }
    assert(windowed.nonEmpty)
    windowed.foreach { case (id, (_, _, f)) =>
      assert(f == 1.0, s"plant $id dup_frac $f") }
    // and the source shares all its windows except the last with the
    // plant: dup_frac ≥ (n−1)/n
    windowed.keys.foreach { pid =>
      val sid = pid - 1000000L
      byId.get(sid).foreach { case (n, _, f) =>
        // f is published at 4dp; allow the half-ulp of that rounding
        assert(f >= (n - 1).toDouble / n - 5e-5, s"source $sid frac $f") }
    }
    df.unpersist()
  }

  test("p08 reads the materialized dd06 cluster artifact, not the CC loop") {
    import graft.operators.Dedup
    // write→read contract: the artifact round-trip returns the cluster
    // assignment dd06 computes, bit-for-bit (ids and sizes as BIGINT)
    val readBack = Dedup.ensureClusterArtifact(spark, sfDir)
    val direct = Dedup.dd06Clusters(spark, sfDir)
    // names + types match; nullability intentionally differs (a parquet
    // read back is always nullable)
    assert(readBack.schema.map(f => (f.name, f.dataType)) ==
      direct.schema.map(f => (f.name, f.dataType)),
      s"${readBack.schema} != ${direct.schema}")
    assert(readBack.exceptAll(direct).isEmpty && direct.exceptAll(readBack).isEmpty)
    // idempotence: a second ensure serves the cache (marker honored) —
    // the artifact's files are untouched
    def files(df: org.apache.spark.sql.DataFrame) = df.inputFiles.map { f =>
      val file = new java.io.File(new java.net.URI(f))
      file.getPath -> file.lastModified() }.toMap
    val before = files(readBack)
    assert(before.nonEmpty)
    assert(files(Dedup.ensureClusterArtifact(spark, sfDir)) == before)
    // and p08's plan is a parquet scan of the cluster artifact where the
    // CC loop used to sit: no iterative-checkpoint frames (LogicalRDD
    // scans) anywhere in it
    val p08 = SparkEntry.queries("p08_leak_safe_split")(spark, sfDir)
    val physical = p08.queryExecution.executedPlan.toString
    assert(physical.linesIterator.exists(l => l.contains("FileScan parquet") &&
      l.contains("/dd06_clusters_v2_")), physical)
    assert(!physical.contains("Scan ExistingRDD"), physical)
  }

  test("s10: truncated-dim recall is a well-formed top-10-vs-top-10 " +
      "measure; t15: zipf slope flags the synthetic corpus") {
    val s10 = SparkEntry.queries("s10_mrl_recall")(spark, sfDir).collect()
    assert(s10.nonEmpty)
    s10.foreach { r =>
      assert(r.getLong(1) == 10 && r.getLong(2) == 10) // both sides top-10
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 10)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // near-uniform 31-term vocab → slope far above natural text's ≈ −1:
    // exactly the templated-text signal the diagnostic exists to raise
    val t15 = SparkEntry.queries("t15_zipf_fit")(spark, sfDir).head
    assert(t15.getLong(0) >= 30)
    assert(t15.getDouble(1) > -0.5 && t15.getDouble(1) <= 0.0,
      s"slope ${t15.getDouble(1)}")
  }

  test("dd15: fuzzy chunk pairs include the one-word-trimmed finals " +
      "exact chunk dedup misses; identical chunks score exactly 1.0") {
    val df = SparkEntry.queries("dd15_para_minhash")(spark, sfDir).cache()
    assert(df.filter(col("est_jaccard") < 0.5).count() == 0)
    // the FUZZY value-add: a planted doc's final chunk differs from its
    // source's by one word — found as a plant/source pair at est < 1.0
    val plantPairs = df.filter(col("doc_b") === col("doc_a") + 1000000L &&
      col("pos_a") === col("pos_b"))
    assert(plantPairs.filter(col("est_jaccard") < 1.0).count() > 0,
      "no fuzzy plant pairs — the near-dup target is vacuous")
    // identical text ⇒ identical signature ⇒ est exactly 1.0: every
    // NON-final same-pos plant/source pair is an exact chunk copy
    val rows = plantPairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    val lastPos = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    rows.filter { case (d, p, _) => p < lastPos(d) }.foreach {
      case (d, p, e) => assert(e == 1.0, s"doc $d pos $p est $e")
    }
    df.unpersist()
  }

  test("dd02 pair artifact round-trips bit-exact and serves dd06/dd13") {
    import graft.operators.Dedup
    // write→read contract for the VERIFIED pair set (ids BIGINT,
    // est_jaccard an exact dyadic k/64 double)
    val readBack = Dedup.ensureMinhashPairArtifact(spark, sfDir)
    val direct = Dedup.dd02MinHash(spark, sfDir)
    assert(readBack.schema.map(f => (f.name, f.dataType)) ==
      direct.schema.map(f => (f.name, f.dataType)),
      s"${readBack.schema} != ${direct.schema}")
    assert(readBack.exceptAll(direct).isEmpty &&
      direct.exceptAll(readBack).isEmpty)
    // the dd04 (Jaccard-edge) artifact exists with a commit marker after
    // any dd06 run — the CC loop consumes the materialized edge list
    Dedup.dd06Clusters(spark, sfDir).collect()
    val jp = new java.io.File(new java.net.URI(
      Dedup.ensureJaccardPairArtifact(spark, sfDir).inputFiles.head)).getParent
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$jp/_GRAFT_COMPLETE")))
  }

  test("m07: time-shifted clips pair with their source at offset exactly 2, " +
      "full constellation alignment") {
    val df = SparkEntry.queries("m07_audio_neardup")(spark, sfDir).cache()
    // every planted clip (source minus its first 2 frames) that has
    // enough indexed landmarks MUST pair with its source on the exact
    // +2 diagonal…
    val plants = df.filter(col("id_b") === col("id_a") + 999999L).collect()
    assert(plants.nonEmpty, "no plant pairs — the shift target is vacuous")
    plants.foreach { r =>
      assert(r.getLong(2) == 2L, s"offset ${r.getLong(2)} for ${r.getLong(0)}")
      // …and with its WHOLE indexed constellation aligned: every indexed
      // plant landmark recurs in the source shifted by 2, so votes equal
      // the smaller clip's indexed landmark count exactly
      assert(r.getLong(3) == math.min(r.getLong(4), r.getLong(5)),
        s"partial alignment for plant pair ${r.getLong(0)}")
    }
    // decision guards hold everywhere (integer algebra: no rounded score)
    assert(df.filter(col("votes") < 3 ||
      col("votes") * 5 < least(col("n_lm_a"), col("n_lm_b")) * 4)
      .count() == 0)
    df.unpersist()
  }

  test("m05: perceptual clusters are coarser than exact ones and absorb edits") {
    val df = SparkEntry.queries("m05_perceptual_dedup")(spark, sfDir).cache()
    val docs = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(docs.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 999999L).as("doc_id"),
        regexp_replace(col("text"), "[ \\t\\n\\r]+[^ \\t\\n\\r]+\\z", "").as("text")))
    val rows = corpus.count()
    // partition property: clusters cover the corpus exactly once
    assert(df.agg(sum(col("n_copies"))).head.getLong(0) == rows)
    // perceptual ⇒ coarser-or-equal than exact text identity: identical
    // payloads always share a fingerprint, so clusters ≤ distinct texts
    val exact = corpus
      .select((col("doc_id") % 3).as("mt"), col("text")).distinct().count()
    assert(df.count() <= exact, s"${df.count()} > $exact")
    // and the point of the op: trimmed-asset plants (id ≥ 999999) whose
    // edit flips no DCT-coefficient sign are ABSORBED into their
    // SOURCE's cluster — the 999999 offset keeps id % 3 (media_type), so
    // absorption means exactly (source, plant) sharing a fingerprint
    val plants = corpus.filter(col("doc_id") >= 999999L).count()
    val plantOwnClusters = df.filter(col("doc_id") >= 999999L).count()
    assert(plantOwnClusters < plants,
      s"no plant was absorbed ($plantOwnClusters of $plants kept as min)")
    df.unpersist()
  }

  test("dct_sign_hash: DC-excluded signs are scale-invariant and content-sensitive") {
    import graft.functions.TextHashes
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String) = TextHashes.dctSignHash(UTF8String.fromString(s))
    // empty payload → all-zero coefficients → zero hash
    assert(h("") == 0L)
    // doubling the payload doubles every histogram bin: every coefficient
    // scales by 2, no sign flips — the resize/normalization step of a
    // real pHash falls out of DC exclusion for free
    val s = "the quick brown fox jumps over the lazy dog"
    assert(h(s) == h(s + s))
    // but a different character mix lands elsewhere
    assert(h(s) != h("zzzyyy 0123456789 ZZZYYY!!!"))
    // codepoints ≥ 256 are dropped from binning (unit parity with the
    // oracle's ord // 4 over 0..63), so adding them never changes the hash
    assert(h(s) == h(s + "€世Ω"))
  }

  test("t13: chunk windows tile every document with exact 48-stride offsets") {
    val df = SparkEntry.queries("t13_chunk_windows")(spark, sfDir).cache()
    val totals = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), size(filter(split(lower(col("text")), "[ \\t\\n\\r]+"),
        x => x =!= "")).cast("long").as("total"))
    val joined = df.join(totals, "doc_id")
    // every chunk is the window the spec says: start = 48·chunk_id,
    // length = min(64, total − start)
    assert(joined.filter(col("start_tok") =!= col("chunk_id") * 48)
      .count() == 0)
    assert(joined.filter(col("n_tok") =!=
      least(lit(64L), col("total") - col("start_tok"))).count() == 0)
    // full coverage: first chunk at 0, last chunk reaches the final token
    val cov = joined.groupBy(col("doc_id"), col("total"))
      .agg(min(col("start_tok")).as("lo"),
        max(col("start_tok") + col("n_tok")).as("hi"),
        count(lit(1)).as("n_chunks"))
    assert(cov.filter(col("lo") =!= 0 || col("hi") =!= col("total"))
      .count() == 0)
    // and docs long enough really do produce overlapping multi-chunks
    assert(cov.filter(col("n_chunks") > 1).count() > 0)
    df.unpersist()
  }

  test("s07: IVF-PQ results are structurally sound and recall the exact top-k") {
    val df = SparkEntry.queries("s07_ivfpq")(spark, sfDir).cache()
    // per query: exactly K ranked rows, contiguous ranks, distance
    // nondecreasing in rank (the ADC ordering invariant)
    val perQ = df.groupBy(col("q_id")).agg(count(lit(1)).as("n"),
      max(col("rank")).as("maxr"))
    assert(perQ.filter(col("n") =!= 10 || col("maxr") =!= 10).count() == 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("rank"))
    assert(df.withColumn("prev", lag(col("adc_dist"), 1).over(w))
      .filter(col("prev").isNotNull && col("adc_dist") < col("prev"))
      .count() == 0)
    // every hit comes from one of the query's 2 probed cells
    assert(df.select(col("q_id"), col("cell")).distinct()
      .groupBy(col("q_id")).count().filter(col("count") > 2).count() == 0)
    // approximation quality: the PQ top-10 shares hits with the exact
    // brute-force top-10 (loose floor — 4-entry codebooks are coarse)
    val exact = SparkEntry.queries("s01_ann_bruteforce")(spark, sfDir)
      .select(col("q_id"), col("vec_id"))
    val overlap = df.select(col("q_id"), col("vec_id"))
      .intersect(exact).count()
    assert(overlap >= 5, s"recall floor: only $overlap of 50 exact hits")
    df.unpersist()
  }

  test("p07: mixture repeats match their per-source weights") {
    val df = SparkEntry.queries("p07_mixture_sample")(spark, sfDir).cache()
    val perDoc = df.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("copies"), max(col("rep")).as("maxrep"))
    // rep is a contiguous 1..copies index
    assert(perDoc.filter(col("maxrep") =!= col("copies")).count() == 0)
    val m = substring(col("source"), 4, 10).cast("long") % 4
    // w = 1.0 sources pass through exactly once; upsampled sources emit
    // floor(w) or floor(w)+1 copies, never outside
    assert(perDoc.filter(m === 1 && col("copies") =!= 1).count() == 0)
    assert(perDoc.filter(m === 2 && !col("copies").isin(1, 2)).count() == 0)
    assert(perDoc.filter(m === 3 && !col("copies").isin(2, 3)).count() == 0)
    // E[copies] = w: empirical means land near 0.25/1/1.75/2.5 (the
    // hex-threshold rounding is exact at 64/256ths, data is ~125 docs
    // per weight class at sf0.001 — allow a generous band)
    val docsBySrc = Tables(spark, sfDir, "documents")
      .groupBy((substring(col("source"), 4, 10).cast("long") % 4).as("m"))
      .agg(count(lit(1)).as("n_docs"))
    val emitted = df.groupBy(m.as("m")).agg(count(lit(1)).as("n_rows"))
    val ratio = docsBySrc.join(emitted, "m")
      .select(col("m"), (col("n_rows").cast("double") / col("n_docs")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ratio(1L) - 1.0) < 1e-9)
    assert(math.abs(ratio(0L) - 0.25) < 0.15, ratio(0L).toString)
    assert(math.abs(ratio(2L) - 1.75) < 0.15, ratio(2L).toString)
    assert(math.abs(ratio(3L) - 2.5) < 0.15, ratio(3L).toString)
    df.unpersist()
  }

  test("t10: exactly the planted leaks are contaminated; eval set broadcast") {
    val df = SparkEntry.queries("t10_contamination")(spark, sfDir).cache()
    // every planted leak (id >= 3M) is caught at full overlap; naturally
    // repetitive corpus docs may ALSO share grams with a repetitive eval
    // doc — correct detections, not false positives
    assert(df.filter(col("doc_id") >= 3000000L).count() > 0)
    assert(df.filter(col("doc_id") >= 3000000L && !col("contaminated"))
      .count() == 0)
    assert(df.filter(col("doc_id") >= 3000000L &&
      col("overlap_frac") < 1.0).count() == 0)
    // scale contract: the eval gram set joins by BROADCAST
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    df.unpersist()
  }

  test("t22/p17: fertility and real-token shards are consistent with " +
      "t21's per-doc counts") {
    import graft.functions.Bpe
    // t22: every word encodes to >= 1 token, so per-source n_bpe >=
    // n_words and fertility >= 1; totals reconcile with t21 exactly
    val fert = SparkEntry.queries("t22_bpe_fertility")(spark, sfDir)
      .collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      val (nw, nb) = (r.getLong(2), r.getLong(4))
      assert(nb >= nw, s"${r.getString(0)}: n_bpe $nb < n_words $nw")
      assert(r.getDouble(5) >= 1.0)
    }
    val t21Total = SparkEntry.queries("t21_bpe_tokenize")(spark, sfDir)
      .agg(sum(col("n_tokens"))).head.getLong(0)
    assert(fert.map(_.getLong(4)).sum == t21Total,
      "t22 per-source BPE totals != t21 per-doc totals")
    // p17: the shard assignment equals the exclusive-cumsum DIV budget
    // replica computed directly from the kernel, per source
    val shards = SparkEntry.queries("p17_bpe_token_shards")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getString(1), r.getLong(0),
        Bpe.tokenizeIds(org.apache.spark.unsafe.types.UTF8String
          .fromString(r.getString(2))).numElements().toLong))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._2).map { case (_, id, n) =>
        val shard = cum / 25000L
        cum += n
        (src, shard, n)
      }.groupBy(_._2).map { case (shard, xs) =>
        (src, shard, xs.size.toLong, xs.map(_._3).sum) }
    }.toSet
    assert(shards.toSet == expected,
      s"p17 shards diverge from the driver replica")
  }

  test("p16: the curation funnel reconciles exactly — every stage's " +
      "n_in is the previous stage's n_out, drops are consistent, and " +
      "the dedup/plant geometry is live") {
    val rows = SparkEntry.queries("p16_curation_dag")(spark, sfDir)
      .collect()
    assert(rows.length == 11)
    val byStage = rows.map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // chain: n_in(i+1) == n_out(i) for every consecutive stage pair
    (1L to 10L).foreach { i =>
      assert(byStage(i + 1)._2 == byStage(i)._4,
        s"stage ${i + 1} n_in != stage $i n_out")
    }
    // drops reconcile within every doc-unit stage (11 changes unit to
    // sequences with n_dropped pinned 0 — packing drops nothing)
    (1L to 10L).foreach { i =>
      val (_, in, dropped, out) = byStage(i)
      assert(in - dropped == out && dropped >= 0, s"stage $i")
    }
    assert(byStage(11L)._3 == 0L)
    // live geometry at this SF: the verbatim re-fetch plants make
    // exact dedup drop (each surviving pair loses its copy), the
    // trimmed recrawls make fuzzy dedup drop, eval members leave at
    // decontamination, and the split/mix stages cut real shares
    assert(byStage(6L)._3 > 0, "exact dedup dropped nothing")
    assert(byStage(7L)._3 > 0, "fuzzy dedup dropped nothing")
    assert(byStage(8L)._3 > 0, "decontamination dropped nothing")
    assert(byStage(9L)._3 > 0, "split dropped nothing")
    assert(byStage(10L)._3 > 0, "mix dropped nothing")
    // packing emits at least one sequence (n_out is SEQUENCES — no
    // doc-count bound: a corpus of >512-token docs legitimately packs
    // more sequences than docs, review r11)
    assert(byStage(11L)._4 > 0)
  }

  test("charset migration (r11): vertical-tab/form-feed are TOKEN " +
      "characters in every tokenizer — Spark split, hash kernel, and " +
      "the SQL charset agree by construction") {
    import spark.implicits._
    // the r10c hazard retired: Java \s ⊇ {\x0B,\f} but RE2 \s ∋ \f ∌ \x0B
    // and the kernel splits on neither — one adversarial regeneration
    // of testdata would have flipped integer decisions cross-engine.
    // All tokenizers now share the ONE literal class [ \t\n\r]+, so the
    // three answers below must agree on a \x0B/\f-bearing text.
    val adversarial = "alpha\u000bbeta gamma\fdelta the\ta of\nto"
    // 1. Spark-side t-family split (the migrated toks charset)
    val sparkToks = Seq(adversarial).toDF("text")
      .select(org.apache.spark.sql.functions.filter(
        split(lower(col("text")), "[ \\t\\n\\r]+"), x => x =!= ""))
      .head.getSeq[String](0)
    assert(sparkToks ==
      Seq("alpha\u000bbeta", "gamma\fdelta", "the", "a", "of", "to"),
      sparkToks)
    // 2. the hash kernel's tokens() (always was the explicit charset)
    val kernelToks = graft.functions.TextHashes.tokens(
      org.apache.spark.unsafe.types.UTF8String.fromString(adversarial))
      .map(b => new String(b, "UTF-8")).toSeq
    assert(kernelToks == sparkToks, kernelToks)
    // 3. an integer decision riding the tokens (t20's stop_hits ≥ 2
    //    keep input): identical token stream → identical decision; the
    //    pre-migration Java \s split would have returned 8 tokens here
    //    and flipped word-count rules at the boundary
    assert(sparkToks.count(Set("the", "a", "and", "of", "to")) == 4)
    // the SQL side shares the same literal class by construction: every
    // oracle now interpolates '[ \t\n\r]+' (grep-pinned — no '\s+'
    // tokenizer remains in any operator oracle, in EITHER source
    // spelling: raw triple-quoted '\s+' or s-interpolated '\\s+')
    val root = new java.io.File("src/main/scala/graft")
    assume(root.isDirectory,
      "charset grep-pin needs the repo root as cwd — cancel, not fail")
    val srcs = Seq("operators/TextAnalysis.scala", "operators/Pipeline.scala",
      "operators/Dedup.scala", "operators/Multimodal.scala",
      "functions/KernelOracleSql.scala")
    srcs.foreach { f =>
      val body = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/main/scala/graft/$f")), "UTF-8")
      // both lowered AND raw-text splits (t21/t22/p17's docw form),
      // in both source spellings
      for (spelling <- Seq("'\\s+'", "'\\\\s+'");
           input <- Seq("lower(text)", "text")) {
        assert(!body.contains(s"string_split_regex($input, $spelling)"),
          s"$f regressed to the \\s tokenizer ($input, $spelling)")
      }
    }
  }

  test("t21: multi-merge words tokenize through the full cascade — " +
      "expected sequences verified against the DuckDB replica") {
    import graft.functions.Bpe
    // DuckDB-verified fixtures (the oracle's recursive CTE produced
    // EXACTLY these id sequences for these words, 2026-08-15):
    // 'customer' runs a 3-level cascade (cu+st, cust+o, custo+mer,
    // where mer itself = m+er), 'merge' a 2-level one.
    assert(Bpe.encodeWord("customer").toSeq == Seq(123))
    assert(Bpe.encodeWord("merge").toSeq == Seq(99, 132))
    assert(Bpe.encodeWord("data").toSeq == Seq(67, 100, 64))
    assert(Bpe.encodeWord("window").toSeq == Seq(86, 95, 67, 96))
    // OOV generalization: suffixes fall back to chars, learned stems
    // still merge ('fastest' → f a st e st; ScaleUp's '~i' salt words
    // tokenize — ids for '~' (93) and digits)
    assert(Bpe.encodeWord("fastest").toSeq == Seq(69, 64, 98, 68, 98))
    assert(Bpe.encodeWord("table~3").toSeq ==
      Seq(83, 64, 65, 75, 68, 93, 18))
    assert(Bpe.encodeWord("zzz").toSeq == Seq(89, 89, 89))
    // leftmost-min-rank: every single-char id is codepoint−33 and ids
    // reconstruct the word (merge results concatenate losslessly)
    val toks = Seq("customer", "merge", "sparkly", "fastest")
    toks.foreach { w =>
      val ids = Bpe.encodeWord(w)
      assert(ids.forall(i => i >= 0 && i < 94 + Bpe.merges.length), w)
    }
    // memo determinism: cached call equals fresh compute
    assert(Bpe.encodeWordCached("customer").toSeq ==
      Bpe.encodeWord("customer").toSeq)
    // whole-doc encode: doc-order flattening across whitespace runs
    val ids = Bpe.tokenizeIds(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        "merge\t\tcustomer\n data")).toIntArray().toSeq
    assert(ids == Seq(99, 132, 123, 67, 100, 64))
    // t21 operator: n_tokens consistent with ids16 prefix, map-only
    // plan (no join, no window — the scale contract: ONE kernel scan)
    val df = SparkEntry.queries("t21_bpe_tokenize")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("windowspecdefinition"),
      plan)
    val r = df.filter(col("n_tokens") > 16).limit(5).collect()
    r.foreach { row =>
      assert(row.getString(2).split(" ").length == 16)
    }
  }

  test("s14: binary-quantize search — 10 rows per query ranked by exact " +
      "cosine, hamming consistent with the sign codes, and the " +
      "candidate shuffle never carries embeddings") {
    val df = SparkEntry.queries("s14_binary_quantize")(spark, sfDir)
    val rows = df.collect()
    val byQ = rows.groupBy(_.getAs[Number]("q_id").longValue)
    assert(byQ.size == 5 && byQ.values.forall(_.length == 10))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Number]("rank").longValue)
      // rank order == cos desc (rounded display can tie; raw rank came
      // from the raw cosine, so rounded values must be non-increasing)
      assert(sorted.map(_.getAs[Double]("cos")).sliding(2)
        .forall(p => p.head >= p.last - 1e-9))
    }
    // hamming re-derived from the raw embeddings for every output pair
    val emb = Tables(spark, sfDir, "embeddings").collect()
      .map(r => r.getAs[Number]("vec_id").longValue ->
        r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    rows.foreach { r =>
      val q = emb(r.getAs[Number]("q_id").longValue)
      val v = emb(r.getAs[Number]("vec_id").longValue)
      val h = q.zip(v).count { case (a, b) => (a > 0) != (b > 0) }
      assert(r.getAs[Number]("hamming").longValue == h, r.toString)
    }
    // scale contract: the top-k candidate stages shuffle narrow rows —
    // no exchange OUTPUT carries an embedding-typed column (plan-line
    // matching is vacuous here: Exchange lines print partitioning
    // expressions, never payload columns — review r12)
    val exchanges = graft.tools.PlanSweep
      .allNodes(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Exchange"))
    assert(exchanges.nonEmpty)
    // corpus vectors ride NO exchange; the bounded 5-row query set may
    // broadcast its q_vec (the family design) but never shuffle it
    val carrying = exchanges.filter(e =>
      e.output.exists(_.name == "embedding") ||
        (e.nodeName.contains("ShuffleExchange") &&
          e.output.exists(_.name == "q_vec")))
    assert(carrying.isEmpty,
      carrying.map(e => e.nodeName + ":" + e.output.map(_.name).mkString(","))
        .mkString("; "))
  }

  test("p18: the epoch plan reconciles exactly to the budget, is " +
      "monotone in weight, and has at most one partial epoch") {
    val df = SparkEntry.queries("p18_epoch_plan")(spark, sfDir).cache()
    val rows = df.collect()
    val u = rows.map(_.getAs[Long]("n_unique_tokens")).sum
    val budget = 5L * u / 2L
    assert(rows.map(_.getAs[Long]("tokens_scheduled")).sum == budget)
    // greedy waterline: a strictly higher-weight source never gets
    // fewer full epochs
    for (a <- rows; b <- rows
         if a.getAs[Long]("weight") > b.getAs[Long]("weight"))
      assert(a.getAs[Long]("n_full_epochs") >= b.getAs[Long]("n_full_epochs"),
        s"$a vs $b")
    val partials = rows.count(r =>
      r.getAs[Long]("tokens_scheduled") %
        math.max(r.getAs[Long]("n_unique_tokens"), 1L) != 0L)
    assert(partials <= 1, s"$partials partial epochs")
    rows.foreach { r =>
      val eff = r.getAs[Double]("epochs_effective")
      assert(eff >= 0.0 && eff <= 6.0, r.toString)
    }
    df.unpersist()
  }

  test("q36: the lateral top-2-per-nation matches a direct replica " +
      "and decorrelates without a nested loop") {
    val df = SparkEntry.queries("q36_lateral")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), "lateral did not decorrelate")
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val cust = Tables(spark, sfDir, "customer")
      .join(Tables(spark, sfDir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_name"),
        col("c_acctbal").cast("double").as("a")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val expected = cust.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(2)
    }.sortBy(r => (r._1, -r._3, r._2))
    assert(got.toSeq == expected)
  }

  test("t25: the entropy gate matches an exact in-memory decimal " +
      "replica on every doc, and both keeps and drops are nonempty") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def l6(k: Long): JBD =
      JBD.valueOf(math.log(k.toDouble)).setScale(6, RoundingMode.HALF_UP)
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val got = SparkEntry.queries("t25_entropy_gate")(spark, dir)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_chars_sq"), r.getAs[Long]("keep"))).toMap
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(docs.length == got.size)
      var keeps = 0; var drops = 0
      docs.foreach { case (id, text) =>
        val sq = text.filterNot(" \t\n\r".contains(_))
        val counts = sq.groupBy(identity).map(_._2.length.toLong)
        val n = counts.sum
        // exact decision algebra: n·round6(ln n) − Σ k·round6(ln k)
        // >= 2.75·n, all in BigDecimal — no float comparison
        val keep =
          if (n == 0L) 0L
          else {
            val s = counts.map(k => l6(k).multiply(JBD.valueOf(k)))
              .reduce(_.add(_))
            val lhs = l6(n).multiply(JBD.valueOf(n)).subtract(s)
            val rhs = new JBD("2.75").multiply(JBD.valueOf(n))
            if (lhs.compareTo(rhs) >= 0) 1L else 0L
          }
        assert(got(id) == ((n, keep)), s"doc $id at $dir")
        if (keep == 1L) keeps += 1 else drops += 1
      }
      assert(keeps > 0 && drops > 0, s"degenerate gate at $dir")
    }
  }

  test("s15: the nprobe curve is monotone per query, exhaustive at " +
      "nprobe=8, and agrees EXACTLY with s09 at the shared operating " +
      "point") {
    val rows = SparkEntry.queries("s15_nprobe_recall")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("nprobe")) ->
        (r.getAs[Long]("hits"), r.getAs[Double]("recall"))).toMap
    val qs = rows.keys.map(_._1).toSeq.distinct
    assert(qs.nonEmpty && rows.size == qs.size * 4)
    for (q <- qs) {
      // more probes never lose a true neighbor the smaller budget found
      // (tiers are nested supersets and top-k is deterministic... of the
      // HIT COUNT this holds because exact members found at np stay
      // found: a superset candidate pool can only push IN more of the
      // exact set or keep it)
      val h = Seq(1L, 2L, 4L, 8L).map(np => rows((q, np))._1)
      assert(h == h.sorted, s"non-monotone hits for q=$q: $h")
      assert(rows((q, 8L))._2 == 1.0, s"nprobe=8 not exhaustive, q=$q")
    }
    // cross-operator closure: s09 IS the nprobe=2 point of this curve
    val s09 = SparkEntry.queries("s09_ann_recall")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("hits"), r.getAs[Double]("recall"))).toMap
    for (q <- qs)
      assert(rows((q, 2L)) == s09(q), s"s15@2 != s09 for q=$q")
  }

  test("t24: the decoder's vocab is a bijection, every corpus doc " +
      "roundtrips losslessly, and a mutated id sequence is DETECTED") {
    import graft.functions.Bpe
    // bijection: all 134 token strings pairwise distinct (a collision
    // would make two ids decode identically — an undetectable swap)
    val vocab = (0 until 94 + Bpe.merges.length).map(Bpe.tokenStringOf)
    assert(vocab.distinct.size == vocab.size)
    // multi-merge cascade words decode back exactly
    for (w <- Seq("customer", "column", "filter", "smallrow", "batch!"))
      assert(Bpe.encodeWord(w).map(Bpe.tokenStringOf).mkString == w)
    // corpus audit: every doc roundtrips at both SFs
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val rows = SparkEntry.queries("t24_bpe_decode")(spark, dir).collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getAs[Long]("roundtrip_ok") == 1L), dir)
    }
    // sensitivity: the roundtrip flag is live — dropping, swapping, or
    // substituting one id in a real encoding no longer decodes to the
    // word (so a kernel bug of that class cannot roundtrip-pass)
    val ids = Bpe.encodeWord("customers")
    assert(ids.length >= 2)
    def dec(a: Array[Int]) = a.map(Bpe.tokenStringOf).mkString
    assert(dec(ids.drop(1)) != "customers")
    assert(dec(ids.reverse) != "customers")
    assert(dec(ids.updated(0, (ids(0) + 1) % 134)) != "customers")
  }

  test("p19: the UniMax waterfill reconciles exactly to the budget, " +
      "caps a prefix, and allocates the uncapped uniformly within one " +
      "token") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val rows = SparkEntry.queries("p19_unimax_mix")(spark, dir).collect()
      val n = rows.map(_.getAs[Long]("n_tokens"))
      val budget = 9L * n.sum / 10L
      assert(rows.map(_.getAs[Long]("alloc_tokens")).sum == budget,
        s"budget not reconciled at $dir")
      val (capped, uncapped) =
        rows.partition(_.getAs[Long]("is_capped") == 1L)
      assert(capped.nonEmpty && uncapped.nonEmpty,
        s"degenerate waterfill at $dir")
      // C = 1 epoch cap: nobody exceeds its corpus; capped = used fully
      rows.foreach { r =>
        assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("n_tokens"))
      }
      capped.foreach { r =>
        assert(r.getAs[Long]("alloc_tokens") == r.getAs[Long]("n_tokens"))
      }
      // uniformity: uncapped allocations differ by at most one token,
      // and sit at/above the waterline (every capped source's corpus)
      val allocs = uncapped.map(_.getAs[Long]("alloc_tokens"))
      assert(allocs.max - allocs.min <= 1L, s"non-uniform at $dir")
      val line = capped.map(_.getAs[Long]("n_tokens")).max
      assert(allocs.min >= line, s"waterline violated at $dir")
    }
  }

  test("t23: the tiered distributed BPE trainer matches an independent " +
      "in-memory replica for all 100 merges, finishes in <= 20 driver " +
      "rounds, and at sf0.01 reproduces Bpe.merges' prefix") {
    // pure-Scala replica of the round-13 tiered policy: rounds 1-10
    // sequential argmax (cap 1), later rounds accept <= 16 of the
    // top-64 in (count desc, l, r) order skipping interacting pairs
    def replica(dir: String, n: Int): Seq[(String, String, Long)] = {
      val freqs = Tables(spark, dir, "documents").select(col("text"))
        .collect().iterator
        .flatMap(r => Option(r.getString(0)).iterator
          .flatMap(_.split("[ \t\n\r]+")))
        .filter(_.nonEmpty)
        .toSeq.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      var state: Map[Vector[String], Long] = freqs
        .groupBy { case (w, _) => w.map(_.toString).toVector }
        .map { case (arr, m) => arr -> m.values.sum }
      val merges = scala.collection.mutable.ListBuffer[(String, String, Long)]()
      var rounds = 0
      var exhausted = false
      while (merges.size < n && !exhausted && rounds < 64) {
        rounds += 1
        val cap = math.min(if (rounds <= 10) 1 else 16, n - merges.size)
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        state.foreach { case (arr, f) =>
          arr.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f }
        }
        if (counts.isEmpty) exhausted = true
        else {
          val ranked = counts.toSeq
            .sortBy { case ((l, r), c) => (-c, l, r) }.take(64)
          val acc = scala.collection.mutable.ListBuffer[(String, String, Long)]()
          ranked.foreach { case ((l, r), c) =>
            if (acc.size < cap && acc.forall { case (li, ri, _) =>
                ri != l && li != r && l != li + ri && r != li + ri })
              acc += ((l, r, c))
          }
          acc.foreach { case (l, r, c) =>
            merges += ((l, r, c))
            state = state.groupBy { case (arr, _) =>
              arr.foldLeft(Vector.empty[String]) { (a, x) =>
                if (a.nonEmpty && a.last == l && x == r)
                  a.init :+ (a.last + x)
                else a :+ x
              }
            }.map { case (arr, m) => arr -> m.values.sum }
          }
        }
      }
      merges.toSeq
    }
    var at01: Seq[(String, String)] = Nil
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val (df, rounds) = graft.operators.TextAnalysis
        .t23BpeTrainRounds(spark, dir, 100)
      val got = df.collect().map(r => (r.getString(1), r.getString(2),
        r.getAs[Long]("pair_count")))
      assert(got.toSeq == replica(dir, 100), s"mismatch at $dir")
      assert(got.length >= 80, s"only ${got.length} merges at $dir " +
        "(corpus exhausts at 89 — anything less means a dead round)")
      assert(rounds <= 20, s"$rounds driver rounds at $dir — the " +
        "latency envelope is <= 20 for the 100-merge target")
      if (dir.endsWith("sf0.01"))
        at01 = got.map(g => (g._1, g._2)).toSeq
    }
    // closure: rounds 1-10 are cap-1 sequential argmax, so the shipped
    // encoder table still IS this trainer's output prefix on sf0.01
    assert(at01.take(10) == graft.functions.Bpe.merges.take(10).toSeq)
  }

  test("t23 round budget: a merge target that cannot fit its round " +
      "budget fails LOUDLY naming the budget (ADVICE r13 — the old " +
      "rounds<64 backstop silently returned fewer merges), and the " +
      "rounds-vs-merges envelope is the documented formula") {
    // envelope formula: 10 sequential rounds + 2x ceil((M-10)/16)
    // batched rounds of skip-acceptance slack; registry bound = oracle
    // unroll, pinned >= the measured 17-19 rounds for 100 merges
    val T = graft.operators.TextAnalysis
    assert(T.t23RoundBudget(10) == 10 && T.t23RoundBudget(100) == 22 &&
      T.t23RoundBudget(1000) == 134)
    assert((11 to 200).forall(m =>
      T.t23RoundBudget(m) <= T.t23RoundBudget(m + 1)), "budget not monotone")
    assert(T.T23OracleRounds == 20)
    val e = intercept[IllegalArgumentException] {
      T.t23BpeTrainRounds(spark, sfDir, 100, 3)
    }
    assert(e.getMessage.contains("round budget 3 exhausted"),
      s"wrong failure: ${e.getMessage}")
  }

  test("t22: an all-empty-text source yields NULL fertility and " +
      "chars_per_token, never IEEE Inf/NaN (ADVICE r11 zero guard)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t22zero").toString
    Seq(
      (1L, "", "en", "empty", 0L),
      (2L, "", "en", "empty", 0L),
      (3L, "row filter batch", "en", "real", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t22_bpe_fertility")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val e = rows("empty")
    assert(e.getAs[Long]("n_words") == 0L && e.getAs[Long]("n_bpe") == 0L)
    assert(e.isNullAt(e.fieldIndex("fertility")), e.toString)
    assert(e.isNullAt(e.fieldIndex("chars_per_token")), e.toString)
    val real = rows("real")
    assert(!real.isNullAt(real.fieldIndex("fertility")) &&
      !java.lang.Double.isNaN(real.getAs[Double]("fertility")))
  }

  test("q37: QUALIFY desugaring picks exactly one latest order per " +
      "customer, date ties broken on the unique orderkey") {
    val got = SparkEntry.queries("q37_qualify")(spark, sfDir).collect()
      .map(r => r.getAs[Number]("o_custkey").longValue ->
        r.getAs[Number]("o_orderkey").longValue)
    val best = Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")))
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Long](2)))
      .groupBy(_._1)
      .map { case (c, os) => c -> os.maxBy(o => (o._3, -o._2))._2 }
    assert(got.length == best.size)
    assert(got.count(_._2 >= 0) == got.map(_._1).distinct.length,
      "one row per customer")
    got.foreach { case (c, k) => assert(best(c) == k, s"cust $c") }
  }

  test("q38: as-of semantics — every click matches the LATEST view " +
      "at-or-before it and unmatched clicks are absent (brute-force " +
      "inequality-join replica)") {
    val got = SparkEntry.queries("q38_asof_join")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("lag_us"))).sortBy(_._1).toSeq
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getAs[Long](0), r.getAs[Long](1), r.getString(2),
        r.getAs[Long](3)))
    val viewsByUser = ev.filter(_._3 == "view").groupBy(_._2)
    val expected = ev.filter(_._3 == "click").flatMap { c =>
      val prior = viewsByUser.getOrElse(c._2, Array.empty)
        .filter(_._4 <= c._4)
      if (prior.isEmpty) None
      else {
        // latest ts; same-ts collision resolved to max event_id (the
        // pre-aggregate both engines share)
        val m = prior.maxBy(v => (v._4, v._1))
        Some((c._1, m._1, c._4 - m._4))
      }
    }.sortBy(_._1).toSeq
    assert(got == expected, s"got ${got.size} expected ${expected.size}")
    assert(got.forall(_._3 >= 0L), "inclusive lower bound")
  }

  test("q39: unpivot is the exact inverse of the wide aggregate and " +
      "plans as a map-side Expand (no extra exchange)") {
    val df = SparkEntry.queries("q39_unpivot")(spark, sfDir)
    assert(explainText(df).contains("Expand"), "unpivot plans as Expand")
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val rfs = got.keys.map(_._1).toSeq.distinct
    assert(got.size == rfs.size * 3, "three measures per returnflag")
    // independent wide aggregate, same exact-decimal algebra
    val wide = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_base"),
        sum(col("l_discount").cast("decimal(18,2)")).cast("double")
          .as("sum_disc"))
      .collect()
    wide.foreach { r =>
      val rf = r.getString(0)
      assert(got((rf, "sum_qty")) == r.getDouble(1), s"$rf qty")
      assert(got((rf, "sum_base")) == r.getDouble(2), s"$rf base")
      assert(got((rf, "sum_disc")) == r.getDouble(3), s"$rf disc")
    }
  }

  /** Independent character-level reference for t26's per-doc algebra. */
  private def t26Ref(text: String): (Long, Long, Long) = {
    val words = text.toLowerCase.split("[ \t\n\r]+").filter(_.nonEmpty)
    val vg = java.util.regex.Pattern.compile("[aeiouy]+")
    def groups(w: String): Int = {
      val m = vg.matcher(w); var n = 0; while (m.find()) n += 1; n
    }
    val w = words.length.toLong
    val syl = words.map(x => math.max(groups(x), 1)).sum.toLong
    val sm = java.util.regex.Pattern.compile("[.!?]+").matcher(text)
    var s = 0L; while (sm.find()) s += 1
    (w, syl, math.max(s, 1L))
  }

  private def t26Band(w: Long, syl: Long, s: Long): Long = {
    val score = BigInt(206835) * s * w - BigInt(1015) * w * w -
      BigInt(84600) * syl * s
    if (score >= BigInt(60000) * s * w) 2L
    else if (score >= BigInt(30000) * s * w) 1L else 0L
  }

  test("t26: band counts replicate an independent per-doc reference on " +
      "EVERY corpus doc, and all three bands are live") {
    val got = SparkEntry.queries("t26_readability")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("band")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_words"),
          r.getAs[Long]("sum_syllables"))).toMap
    val exp = Tables(spark, sfDir, "documents")
      .select(col("source"), col("text")).collect()
      .filter(!_.isNullAt(1))
      .map { r =>
        val (w, syl, s) = t26Ref(r.getString(1))
        ((r.getString(0), t26Band(w, syl, s)), (w, syl))
      }
      .groupBy(_._1)
      .map { case (k, vs) =>
        k -> ((vs.length.toLong, vs.map(_._2._1).sum, vs.map(_._2._2).sum))
      }
    assert(got == exp)
    assert(got.keys.map(_._2).toSet == Set(0L, 1L, 2L),
      "all three bands live on natural data")
  }

  test("t26: the sentence term and the zero-vowel syllable floor are " +
      "live cross-checked on punctuated / vowel-less plants") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t26plant").toString
    val docs = Seq(
      // multi-sentence: S=4 lifts FRE vs the same text unpunctuated
      (1L, "the fox runs. it jumps! does it stop? no it does not.",
        "en", "punct", 0L),
      (2L, "the fox runs it jumps does it stop no it does not",
        "en", "plain", 0L),
      // zero-vowel words: syllable floor 1 per word must apply
      (3L, "zzz xx qqq grr", "en", "novowel", 0L),
      // kernel charset: tab/newline are separators, runs collapse
      (4L, "a\t\tb\n\nc  d", "en", "charset", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t26_readability")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("band"),
        r.getAs[Long]("n"), r.getAs[Long]("sum_words"),
        r.getAs[Long]("sum_syllables")))).toMap
    docs.foreach { case (_, text, _, src, _) =>
      val (w, syl, s) = t26Ref(text)
      assert(got(src) == ((t26Band(w, syl, s), 1L, w, syl)), s"src $src")
    }
    // the sentence term itself: same words, 4 sentences vs 1 → punct
    // doc scores strictly higher (shorter sentences read easier)
    val (wp, sp, ssp) = t26Ref(docs(0)._2)
    val (wn, sn, ssn) = t26Ref(docs(1)._2)
    assert(wp == wn && sp == sn && ssp == 4L && ssn == 1L)
    assert(t26Band(wp, sp, ssp) >= t26Band(wn, sn, ssn))
    // vowel-less floor: 4 words, zero vowel groups → exactly 4 syllables
    assert(got("novowel")._4 == 4L)
    // charset: 4 words despite tab/newline/double-space separators
    assert(got("charset")._3 == 4L)
  }

  test("m12: modality token conversions replicate an independent " +
      "per-doc reference (patches / audio frames / sampled frames × " +
      "patches + BPE captions), and seqs is the exact ceil-div") {
    val got = SparkEntry.queries("m12_token_budget")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_docs"),
        r.getAs[Long]("text_tokens"), r.getAs[Long]("media_tokens"),
        r.getAs[Long]("total_tokens"), r.getAs[Long]("n_seqs")))).toMap
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long](0), r.getString(1)))
    def ceilDiv(a: Long, k: Long): Long = (a + k - 1) / k
    val exp = docs.map { case (id, text) =>
      val mt = Seq("image", "audio", "video")((id % 3).toInt)
      val bytes = text.getBytes("UTF-8").length.toLong
      val patches = ceilDiv(id % 64 + 16, 14) * ceilDiv(id % 48 + 16, 14)
      val frames = { val b = bytes / 256; if (b == 0) 0L else (b + 1) / 2 }
      val media = mt match {
        case "image" => patches
        case "audio" => ceilDiv(bytes, 320)
        case _       => frames * patches
      }
      val textTok = text.toLowerCase.split("[ \t\n\r]+").filter(_.nonEmpty)
        .map(w => graft.functions.Bpe.encodeWord(w).length.toLong).sum
      (mt, textTok, media)
    }.groupBy(_._1).map { case (mt, xs) =>
      val tt = xs.map(_._2).sum; val mtk = xs.map(_._3).sum
      mt -> ((xs.length.toLong, tt, mtk, tt + mtk, ceilDiv(tt + mtk, 2048L)))
    }
    assert(got == exp)
    assert(got.values.map(_._1).sum == docs.length.toLong,
      "every doc lands in exactly one modality")
  }

  test("p20: resume bookkeeping reconciles exactly — consumed sums to " +
      "the watermark, at most one partial shard, statuses monotone in " +
      "the global consumption order, and the frame matches p17") {
    val rows = SparkEntry.queries("p20_resume_offset")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("shard"),
        r.getAs[Long]("shard_tokens"), r.getString(3),
        r.getAs[Long]("consumed_tokens"), r.getAs[Long]("remaining_tokens")))
      .sortBy(t => (t._1, t._2))
    val total = rows.map(_._3).sum
    val c = 3 * total / 5
    assert(rows.map(_._5).sum == c, "sum(consumed) == (3T) div 5")
    assert(rows.map(_._6).sum == total - c)
    rows.foreach { r =>
      assert(r._5 + r._6 == r._3, s"per-shard reconciliation ${r}")
      r._4 match {
        case "done"    => assert(r._5 == r._3 && r._6 == 0L)
        case "pending" => assert(r._5 == 0L)
        case "partial" => assert(r._5 > 0L && r._5 < r._3)
      }
    }
    assert(rows.count(_._4 == "partial") <= 1)
    // statuses partition the order: done* partial? pending*
    val sig = rows.map(_._4).foldLeft("") { (acc, s) =>
      if (acc.endsWith(s)) acc else acc + s }
    assert(Seq("donepartialpending", "donepending", "done", "")
      .contains(sig), sig)
    // same shard frame as p17 (shared builder — but assert anyway)
    val p17 = SparkEntry.queries("p17_bpe_token_shards")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("shard")) ->
        r.getAs[Long]("shard_tokens")).toMap
    rows.foreach(r => assert(p17((r._1, r._2)) == r._3))
  }

  // p21 in-memory replica: round6-decimal LM kernels, exact BigInt
  // average-excess weights, Hamilton apportionment
  private def p21Ref(docs: Seq[(String, String)])
      : Map[String, (Long, BigDecimal, BigDecimal, BigInt, BigInt)] = {
    def r6ln(x: Long): BigDecimal =
      BigDecimal(math.log(x.toDouble)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)
    val ts = docs.map { case (s, t) =>
      s -> t.toLowerCase.split("[ \t\n\r]+").filter(_.nonEmpty).toSeq }
    val all = ts.flatMap(_._2)
    val n = all.size.toLong
    val cnt = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = cnt.size.toLong
    val bgs = ts.flatMap { case (s, w) =>
      w.sliding(2).filter(_.size == 2).map(p => (s, p(0), p(1))) }
    val cb = bgs.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong)
      .toMap
    val cl = bgs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val perSrc = bgs.groupBy(_._1).map { case (s, ps) =>
      val sUni = ps.map(p => r6ln(n) - r6ln(cnt(p._3))).sum
      val sBig = ps.map(p =>
        r6ln(cl(p._2) + v) - r6ln(cb((p._2, p._3)) + 1)).sum
      val nPos = ps.size.toLong
      val w =
        if (sUni > sBig)
          ((sUni - sBig) * 1000000).toBigIntExact.get * 1000000 / nPos
        else BigInt(0)
      s -> ((nPos, sUni, sBig, w))
    }
    val bigW = perSrc.values.map(_._4).sum
    val b = BigInt(1000000)
    val bases = perSrc.view.mapValues { case (_, _, _, w) =>
      if (bigW > 0) b * w / bigW else BigInt(0) }.toMap
    val rems = perSrc.map { case (s, (_, _, _, w)) =>
      s -> (b * w - bases(s) * bigW) }
    val plusOnes =
      if (bigW > 0)
        rems.toSeq.sortBy { case (s, r) => (-r, s) }
          .take((b - bases.values.sum).toInt).map(_._1).toSet
      else Set.empty[String]
    perSrc.map { case (s, (nPos, sUni, sBig, w)) =>
      s -> ((nPos, sUni, sBig, w,
        bases(s) + (if (plusOnes(s)) BigInt(1) else BigInt(0))))
    }
  }

  test("p21: DoReMi weights and the Hamilton token apportionment " +
      "replicate an exact in-memory reference on the whole corpus, " +
      "and the allocs sum to the budget exactly") {
    val got = SparkEntry.queries("p21_doremi_mix")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("n_pos"),
        r.getAs[Double]("sum_uni"), r.getAs[Double]("sum_big"),
        r.getAs[Long]("excess_pnat"), r.getAs[Long]("alloc")))).toMap
    val docs = Tables(spark, sfDir, "documents")
      .select(col("source"), col("text")).collect()
      .filter(!_.isNullAt(1)).map(r => (r.getString(0), r.getString(1)))
      .toSeq
    val want = p21Ref(docs)
    assert(got.keySet == want.keySet)
    want.foreach { case (s, (nPos, sUni, sBig, w, alloc)) =>
      val g = got(s)
      assert(g._1 == nPos && g._4 == w.toLong && g._5 == alloc.toLong,
        s"source $s: $g vs ($nPos, $w, $alloc)")
      assert(g._2 == sUni.toDouble && g._3 == sBig.toDouble, s"source $s")
    }
    assert(got.values.map(_._5).sum == 1000000L, "budget exact")
    assert(got.values.map(_._4).min > 0,
      "corpus excess is positive everywhere (measured property)")
    assert(got.values.map(_._4).max > 2 * got.values.map(_._4).min,
      "weights spread — the mix is not uniform")
  }

  test("p21: the excess clamp is live — a bigram-unpredictable plant " +
      "source gets weight 0 and alloc 0, the budget goes to the rest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("p21plant").toString
    // rep: bigram-predictable (the reference LM crushes the unigram);
    // rnd: bigrams UNSEEN elsewhere built from otherwise-frequent
    // tokens — the unigram model prices the targets cheaply (they are
    // common) while the add-one bigram model pays ln(cl+V) − ln 2 for
    // the novel pair → negative excess, clamped to weight 0
    val docs =
      (1 to 20).map(i =>
        (i.toLong, ("t0 t1 " * 10).trim, "en", "rep", 0L)) ++
      Seq((100L, "t0 t0", "en", "rnd", 0L),
        (101L, "t1 t1", "en", "rnd", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("p21_doremi_mix")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("excess_pnat"), r.getAs[Long]("alloc")))).toMap
    val want = p21Ref(docs.map(d => (d._4, d._2)))
    assert(got == want.view.mapValues(t =>
      (t._4.toLong, t._5.toLong)).toMap)
    assert(got("rnd")._1 == 0L && got("rnd")._2 == 0L, s"clamp: $got")
    assert(got("rep")._1 > 0L && got("rep")._2 == 1000000L, s"rep: $got")
  }

  test("q43: the EXCLUDE CURRENT ROW desugaring equals a brute-force " +
      "leave-one-out ±3 neighborhood per user") {
    val got = SparkEntry.queries("q43_frame_exclude")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_peers"), r.getAs[Double]("peer_sum")))).toMap
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)))
    ev.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      sorted.zipWithIndex.foreach { case (r, i) =>
        val frame = sorted.slice(math.max(0, i - 3),
          math.min(sorted.length, i + 4)).filter(_._1 != r._1)
        val exp = (frame.length.toLong, frame.map(_._4).sum.toDouble)
        assert(got(r._1) == exp, s"event ${r._1}")
      }
    }
    assert(got.values.exists(_._1 == 6L), "full ±3 frames live")
  }

  test("q43: the EXCLUDE edge semantics — empty exclusion frame is " +
      "NULL (lone event), NULL values neither poison nor count " +
      "(expectations confirmed against DuckDB's literal EXCLUDE)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q43plant").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) =
      new java.sql.Timestamp(t0.getTime + min * 60000L)
    // user 1: lone event; user 2: a NULL value among peers; user 3:
    // every value NULL (peers exist but their sum is empty)
    Seq(
      (1L, at(0), 1L, "click", Some(5.0), "{}"),
      (10L, at(0), 2L, "click", Some(1.0), "{}"),
      (11L, at(1), 2L, "view", None: Option[Double], "{}"),
      (12L, at(2), 2L, "click", Some(2.0), "{}"),
      (20L, at(0), 3L, "view", None: Option[Double], "{}"),
      (21L, at(1), 3L, "view", None: Option[Double], "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q43_frame_exclude")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_peers"),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // DuckDB (v1.0, literal EXCLUDE CURRENT ROW) on this exact frame:
    assert(got == Map(
      1L -> ((0L, None)),
      10L -> ((2L, Some(2.0))), 11L -> ((2L, Some(3.0))),
      12L -> ((2L, Some(1.0))),
      20L -> ((1L, None)), 21L -> ((1L, None))), got)
  }

  test("q44: ntile/percent_rank/cume_dist replicate their standard " +
      "definitions bit-exactly (single IEEE division of identical " +
      "integers)") {
    val got = SparkEntry.queries("q44_window_dist")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("quartile"),
        r.getAs[Double]("pr"), r.getAs[Double]("cd")))).toMap
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    ev.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val n = sorted.length
      sorted.zipWithIndex.foreach { case (r, i) =>
        // ntile: first n%4 buckets hold ceil(n/4) rows
        val (big, sz) = (n % 4, n / 4)
        val q =
          if (i < big * (sz + 1)) i / (sz + 1) + 1
          else big + (i - big * (sz + 1)) / sz + 1
        val pr = if (n == 1) 0.0 else i.toDouble / (n - 1).toDouble
        // the order key (value, event_id) is total, so every row is its
        // own only peer: cume_dist = position / n
        val cd = (i + 1).toDouble / n.toDouble
        assert(got(r._1) == ((q.toLong, pr, cd)), s"event ${r._1}")
      }
    }
  }

  test("s16: staleness audit invariants — both tiers cover the same " +
      "query set, recall is exactly hits/10, and the FRESH rebuild " +
      "wins the aggregate at the same probe fraction") {
    val rows = SparkEntry.queries("s16_index_staleness")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("hits"),
          r.getAs[Double]("recall")))).toMap
    val tiers = rows.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(tiers.keySet == Set("fresh", "stale"))
    assert(tiers("fresh") == tiers("stale"), "same query set per tier")
    assert(tiers("fresh").size == 10, "5 base + 5 growth-region queries")
    assert(tiers("fresh").count(_ >= 8000000L) == 5)
    rows.foreach { case (k, (n, h, r)) =>
      assert(n == 10L && h >= 0L && h <= 10L, s"$k")
      assert(r == h.toDouble / 10.0, s"$k recall algebra")
    }
    val fresh = rows.collect { case ((t, _), v) if t == "fresh" => v._2 }
    val stale = rows.collect { case ((t, _), v) if t == "stale" => v._2 }
    assert(fresh.sum > stale.sum,
      s"fresh rebuild must win the aggregate: ${fresh.sum} vs ${stale.sum}")
    // the gap is the STALENESS mechanism, not noise: it concentrates in
    // the growth-region queries the old quantizer never saw
    val freshNew = rows.collect {
      case ((t, q), v) if t == "fresh" && q >= 8000000L => v._2 }
    val staleNew = rows.collect {
      case ((t, q), v) if t == "stale" && q >= 8000000L => v._2 }
    assert(freshNew.sum > staleNew.sum + 5,
      s"growth-query gap: ${freshNew.sum} vs ${staleNew.sum}")
    // the stale index is genuinely lossy (not a vacuous comparison):
    // some query misses at least one true neighbor under it
    assert(stale.exists(_ < 10L), "staleness cost live")
  }

  test("q42: DISTINCT ON picks exactly the (value DESC, event_id DESC) " +
      "top row per (user, type) — map-side argmax replica") {
    val got = SparkEntry.queries("q42_distinct_on")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getAs[Long]("best_event_id"), r.getAs[Double]("best_value"))))
      .toMap
    val exp = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
      .groupBy(t => (t._1, t._2))
      .map { case (k, vs) =>
        val best = vs.maxBy(v => (v._4, v._3))
        k -> ((best._3, best._4))
      }
    assert(got == exp)
  }

  test("m14: interleaved packing replicates an in-memory per-source " +
      "cumsum + interval-split reference; sequences are full except " +
      "per-source tails, and media+text reconcile to fill exactly") {
    val got = SparkEntry.queries("m14_interleave_pack")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("seq_id")) ->
        ((r.getAs[Long]("n_segs"), r.getAs[Long]("media_tokens"),
          r.getAs[Long]("text_tokens"), r.getAs[Long]("fill_tokens"),
          r.getAs[Long]("is_full")))).toMap
    // per-doc (mt, tt) through the SAME kernels (t21's BPE is itself
    // specced; this spec owns the packing algebra)
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        expr("""((doc_id % 64 + 16 + 13) div 14) *
                ((doc_id % 48 + 16 + 13) div 14)""").as("patches"),
        expr("octet_length(text)").cast("long").as("len"),
        size(graft.functions.text.bpe_token_ids(col("text"))).cast("long")
          .as("tt"))
      .collect()
      .map { r =>
        val (id, p, len) = (r.getLong(0), r.getLong(2), r.getLong(3))
        val mt = (id % 3) match {
          case 0 => p
          case 1 => (len + 319) / 320
          case _ =>
            val f = if (len / 256 == 0) 0L else (len / 256 + 1) / 2
            f * p
        }
        (r.getString(1), id, mt, r.getLong(4))
      }
    val exp = scala.collection.mutable.Map[(String, Long),
      (Long, Long, Long, Long)]()
    docs.groupBy(_._1).foreach { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).foreach { case (_, _, mt, tt) =>
        val (cs, ce) = (cum, cum + mt + tt)
        cum = ce
        if (ce > cs) (cs / 2048 to (ce - 1) / 2048).foreach { q =>
          val (gs, ge) = (math.max(cs, q * 2048),
            math.min(ce, (q + 1) * 2048))
          val m = math.max(0L, math.min(ge, cs + mt) - gs)
          val prev = exp.getOrElse((src, q), (0L, 0L, 0L, 0L))
          exp((src, q)) = (prev._1 + 1, prev._2 + m,
            prev._3 + (ge - gs - m), prev._4 + (ge - gs))
        }
      }
    }
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, (n, m, t, f, full)) =>
      val e = exp(k)
      assert((n, m, t, f) == e, s"seq $k")
      assert(m + t == f, s"seq $k modality reconcile")
      assert(full == (if (f == 2048L) 1L else 0L), s"seq $k full flag")
    }
    // contiguous packing: within each source every sequence except the
    // last is exactly full
    got.keys.groupBy(_._1).foreach { case (src, ks) =>
      val last = ks.map(_._2).max
      ks.filter(_._2 != last).foreach(k =>
        assert(got(k)._5 == 1L, s"non-tail seq $k not full"))
    }
    // the split is live: some sequence holds a PARTIAL doc (media
    // interval cut mid-doc → a sequence whose media_tokens is not a
    // sum of whole-doc media counts is guaranteed when any doc spans
    // a boundary; assert the cheaper structural fact directly)
    assert(got.values.exists(_._1 > 1L), "no multi-segment sequence")
    assert(docs.exists { case (_, _, mt, tt) => mt + tt > 2048 } ||
      got.values.exists(v => v._2 > 0L && v._3 > 0L),
      "mixed media/text sequences live")
  }

  test("q40: the trailing-1h RANGE frame replicates a brute-force " +
      "per-user interval count/sum, ties included as peers") {
    val got = SparkEntry.queries("q40_range_frame")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("c_1h"), r.getAs[Double]("v_1h")))).toMap
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("value"))
      .collect()
      .map(r => (r.getAs[Long](0), r.getAs[Long](1), r.getAs[Long](2),
        BigDecimal(r.getAs[Double](3)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)))
    val byUser = ev.groupBy(_._2)
    assert(got.size == ev.length)
    ev.foreach { e =>
      val frame = byUser(e._2)
        .filter(o => o._3 >= e._3 - 3600000000L && o._3 <= e._3)
      val exp = (frame.length.toLong, frame.map(_._4).sum.toDouble)
      assert(got(e._1) == exp, s"event ${e._1}")
    }
    // the frame is RANGE (key-based), not ROWS: at least one event has
    // more than itself in frame, so the interval bound is live
    assert(got.values.exists(_._1 > 1L), "trailing window live")
  }

  test("q41: GROUP BY ALL groups by exactly the non-aggregate select " +
      "expressions (yr, status) with exact-decimal totals") {
    val got = SparkEntry.queries("q41_group_by_all")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("yr"), r.getString(1)) ->
        ((r.getAs[Long]("n_orders"), r.getAs[Double]("total"))))
    val exp = Tables(spark, sfDir, "orders")
      .select(year(col("o_orderdate")).cast("long"), col("o_orderstatus"),
        col("o_totalprice"))
      .collect()
      .map(r => (r.getAs[Long](0), r.getString(1),
        BigDecimal(r.getAs[Double](2)).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(t => (t._1, t._2))
      .map { case (k, vs) =>
        k -> ((vs.length.toLong, vs.map(_._3).sum.toDouble))
      }
    assert(got.toMap == exp)
    assert(got.length == exp.size, "one row per (yr, status)")
    // ORDER BY ALL: rows sorted by all columns left-to-right
    assert(got.map(_._1).sameElements(got.map(_._1).sorted))
  }

  test("m13: every image lands in the ratio-nearest bucket (exact " +
      "integer replica), all five buckets live, batch math is ceil-div") {
    val got = SparkEntry.queries("m13_ar_bucket")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("bidx") ->
        ((r.getAs[Long]("bucket_w"), r.getAs[Long]("bucket_h"),
          r.getAs[Long]("n_images"), r.getAs[Long]("n_batches"),
          r.getAs[Long]("min_ar_milli"), r.getAs[Long]("max_ar_milli"))))
      .toMap
    val bw = Seq(16L, 24L, 32L, 48L, 64L)
    val bh = Seq(64L, 48L, 32L, 24L, 16L)
    val imgs = Tables(spark, sfDir, "documents").select(col("doc_id"))
      .collect().map(_.getAs[Long](0)).filter(_ % 3 == 0)
      .map(id => (id % 64 + 16, id % 48 + 16))
    val exp = imgs.groupBy { case (w, h) =>
      (0 until 5).minBy(i =>
        (math.abs(w * bh(i) - h * bw(i)) * (192 / bh(i)), i)) + 1
    }
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), "all five buckets live")
    got.foreach { case (b, (gw, gh, n, nb, lo, hi)) =>
      val members = exp(b.toInt - 1 + 1)
      assert((gw, gh) == ((bw(b.toInt - 1), bh(b.toInt - 1))))
      assert(n == members.length.toLong, s"bucket $b count")
      assert(nb == (n + 31) / 32, s"bucket $b batches")
      val ars = members.map { case (w, h) => w * 1000 / h }
      assert(lo == ars.min && hi == ars.max, s"bucket $b AR range")
    }
    // the argmin really minimizes the RATIO distance: cross-check one
    // member of each bucket against the float |log-free| criterion
    exp.foreach { case (b, members) =>
      val (w, h) = members.head
      val dists = (0 until 5).map(i =>
        math.abs(w.toDouble / h - bw(i).toDouble / bh(i)))
      assert(dists(b - 1) == dists.min, s"bucket $b not nearest")
    }
  }

  test("t27: per-source band counts replicate an exact per-doc (U, W) " +
      "replica on every doc, and all three bands are live") {
    val got = SparkEntry.queries("t27_ttr_diversity")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("band")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_types"),
          r.getAs[Long]("sum_tokens")))).toMap
    val exp = Tables(spark, sfDir, "documents")
      .select(col("source"), col("text")).collect()
      .map { r =>
        val ws =
          if (r.isNullAt(1)) Array.empty[String]
          else r.getString(1).toLowerCase.split("[ \t\n\r]+")
            .filter(_.nonEmpty)
        val (u, w) = (ws.distinct.length.toLong, ws.length.toLong)
        val band =
          if (w == 0) 0L
          else if (u * u * 4 >= 49 * w) 2L
          else if (u * u >= 9 * w) 1L
          else 0L
        ((r.getString(0), band), (u, w))
      }
      .groupBy(_._1)
      .map { case (k, vs) =>
        k -> ((vs.length.toLong, vs.map(_._2._1).sum, vs.map(_._2._2).sum))
      }
    assert(got == exp)
    assert(got.keys.map(_._2).toSet == Set(0L, 1L, 2L),
      "all three bands live on natural data")
  }

  test("round-13: t14/p21's head/tail weight tier is invisible — a " +
      "headK that forces most bigram types onto the shuffle-joined " +
      "tail path reproduces the all-head result bit-for-bit") {
    // at this SF every bigram type fits the K=65536 head, so the
    // default run never exercises the tail join; headK=3 pushes all
    // but the 3 most frequent pairs through the residual path on the
    // SAME natural data, proving Σ k·w ≡ Σ_occ w across the split
    val allHead = operators.TextAnalysis.t14Scored(spark, sfDir)
      .select("doc_id", "n_tokens", "n_bigrams", "s").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDecimal(3).stripTrailingZeros))).toMap
    val tiered = operators.TextAnalysis.t14Scored(spark, sfDir, headK = 3)
      .select("doc_id", "n_tokens", "n_bigrams", "s").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDecimal(3).stripTrailingZeros))).toMap
    assert(allHead == tiered)
    assert(allHead.values.exists(_._2 > 0), "bigrams exist at this SF")
    val p21All = SparkEntry.queries("p21_doremi_mix")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val p21Tier = operators.Pipeline.p21DoremiMix(spark, sfDir, headK = 3)
      .collect().map(_.toSeq).toSet
    assert(p21All == p21Tier)
  }

  test("round-13: q45's GROUPS-frame desugaring equals a brute-force " +
      "peer-group replica") {
    val got = SparkEntry.queries("q45_groups_frame")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getLong(4)))).toMap
    val ev = Tables(spark, sfDir, "events")
      .selectExpr("event_id", "user_id",
        "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        "CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = ev.groupBy(_._2).iterator.flatMap { case (_, rows) =>
      val secs = rows.map(_._3).distinct.sorted
      val idx = secs.zipWithIndex.toMap
      rows.iterator.map { case (eid, _, sec, _) =>
        val g = idx(sec)
        val frame = rows.filter(r => math.abs(idx(r._3) - g) <= 1)
        // decimal(12,2) doubles sum exactly at these magnitudes
        eid -> ((frame.map(r => BigDecimal(r._4)).sum.toDouble,
          frame.length.toLong))
      }
    }.toMap
    assert(got == want)
    // GROUPS ≠ ROWS must be exercised: this corpus has no tied seconds
    // (every peer group is a singleton), so plant ties — two events in
    // one second make their NEIGHBOR's ±1-group frame span 4 EVENTS
    // across 3 groups, which a ROWS ±1 frame can never produce
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q45plant").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    Seq(
      (1L, at(0), 7L, "click", 1.0, "{}"),
      (2L, at(10), 7L, "click", 2.0, "{}"),   // tied second
      (3L, at(10), 7L, "view", 3.0, "{}"),    // tied second
      (4L, at(20), 7L, "click", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = SparkEntry.queries("q45_groups_frame")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getLong(4)))).toMap
    assert(planted == Map(
      1L -> ((6.0, 3L)),   // own group + the tied pair
      2L -> ((10.0, 4L)),  // all three groups = all four events
      3L -> ((10.0, 4L)),
      4L -> ((9.0, 3L))), planted.toString)
  }

  test("round-13: s17's quantization trade-off is structurally sound — " +
      "3 tiers x |queries| rows, hits consistent, and the 64-byte tier " +
      "is never beaten by an 8-byte tier on average") {
    val rows = SparkEntry.queries("s17_quant_tradeoff")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val byTier = rows.groupBy(_._1)
    assert(byTier.keySet == Set("int8", "pq", "binary"))
    assert(byTier.values.forall(_.length == 5), "5 queries per tier")
    rows.foreach { case (tier, _, b, hits, recall) =>
      assert(hits >= 0 && hits <= 10 && recall == hits / 10.0,
        s"$tier hits/recall incoherent")
      assert(if (tier == "int8") b == 64L else b == 8L)
    }
    def avg(t: String): Double = byTier(t).map(_._5).sum / 5
    assert(avg("int8") >= avg("pq") && avg("int8") >= avg("binary"),
      s"int8 ${avg("int8")} pq ${avg("pq")} binary ${avg("binary")}")
  }

  test("round-13: p22's padding algebra is internally exact and the " +
      "strategy dominance holds (dynamic batching never beats packing " +
      "here, never loses to fixed padding anywhere)") {
    val rows = SparkEntry.queries("p22_padding_audit")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nd, nt, tr, fp, bp, pp) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("trunc_tokens"),
        r.getAs[Long]("fixed_pad"), r.getAs[Long]("batch_pad"),
        r.getAs[Long]("packed_pad"))
      val useful = nt - tr
      // identities: fixed cost is exactly n_docs sequences; packed
      // waste is sub-sequence-sized; batch never pads more than fixed
      // (per batch the pad-to target is <= L) — a THEOREM, not data
      assert(fp == 512L * nd - useful, r.toString)
      assert(pp >= 0L && pp < 512L, r.toString)
      assert(bp <= fp, r.toString)
      assert(r.getAs[Double]("eff_fixed") ==
        useful.toDouble / (useful + fp), r.toString)
      assert(r.getAs[Double]("eff_batch") ==
        useful.toDouble / (useful + bp), r.toString)
      assert(r.getAs[Double]("eff_packed") ==
        nt.toDouble / (nt + pp), r.toString)
      // measured on this corpus: the published waste ladder
      assert(r.getAs[Double]("eff_packed") > r.getAs[Double]("eff_batch") &&
        r.getAs[Double]("eff_batch") > r.getAs[Double]("eff_fixed"),
        r.toString)
    }
  }

  test("round-13 (ADVICE r12): a NULL-text image doc survives m14's " +
      "packing with zero text tokens instead of silently vanishing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("m14null").toString
    // doc_id % 3 == 0 → image; patches = ((3%64+16+13) div 14) *
    // ((3%48+16+13) div 14) = 2*2 = 4; text NULL so tt must coalesce
    // to 0, giving one 4-token media-only span — the pre-fix plan
    // dropped the doc at the tokens>0 filter (tokens = 4 + NULL)
    Seq((3L, Option.empty[String], "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("m14_interleave_pack")(spark, dir)
      .collect()
    assert(rows.length == 1, rows.mkString("; "))
    val r = rows.head
    assert(r.getAs[Long]("media_tokens") == 4L &&
      r.getAs[Long]("text_tokens") == 0L &&
      r.getAs[Long]("fill_tokens") == 4L &&
      r.getAs[Long]("is_full") == 0L, r.toString)
  }

  test("round-14: s18's graph-ANN beam search — recall@10 >= the s02 " +
      "2-probe IVF tier PER QUERY on the same corpus, visited set " +
      "beam-bounded, and the hop joins broadcast the frontier (never " +
      "the edge list)") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val g = SparkEntry.queries("s18_graph_ann")(spark, dir)
      val ivf = SparkEntry.queries("s09_ann_recall")(spark, dir)
        .collect().map(r => r.getAs[Long]("q_id") ->
          r.getAs[Double]("recall")).toMap
      val rows = g.collect()
      assert(rows.length == 5, s"$dir: expected 5 query rows")
      rows.foreach { r =>
        val (q, nv, hits, rec) = (r.getAs[Long]("q_id"),
          r.getAs[Long]("n_visited"), r.getAs[Long]("hits"),
          r.getAs[Double]("recall"))
        assert(rec == hits / 10.0, s"$dir q$q recall algebra")
        // beam-bounded visited: entries(<=2) + T hops x B beam x max
        // out-degree (R in-cell + ncent-1 hub) — the structural bound
        // that makes the operator a GRAPH search, not a scan. Hub
        // degree is DERIVED from this dir's corpus size (ncent =
        // max(8, ceil(n/256)), Similarity.scala s18 build), not the
        // literal 255, so the spec stays correct at larger SFs
        // (ADVICE r14).
        val nEmb = spark.read
          .parquet(s"$dir/embeddings.parquet").count()
        val ncent = math.max(8L, (nEmb + 255L) / 256L)
        assert(nv <= 2 + 6 * 24 * (16 + (ncent - 1)),
          s"$dir q$q visited $nv above the beam bound (ncent=$ncent)")
        assert(rec >= ivf(q),
          s"$dir q$q: graph recall $rec < IVF 2-probe ${ivf(q)} — the " +
            "graph index must not lose to the coarse-only tier")
      }
      // the hop join must broadcast the bounded frontier, never build a
      // cartesian or shuffle the corpus-sized edge list per hop
      val plan = g.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        "cartesian in the s18 plan")
    }
  }

  test("round-15: s19 graph-insert — maintained beats stale on every " +
      "growth query and in aggregate, the fresh-rebuild gap is " +
      "reported not hidden, and every tier's visited set stays inside " +
      "its structural beam bound") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val rows = SparkEntry.queries("s19_graph_insert")(spark, dir)
      val plan = rows.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        "cartesian in the s19 plan")
      val got = rows.collect()
      assert(got.length == 30, s"$dir: expected 3 tiers x 10 queries")
      case class R(nv: Long, hits: Long, rec: Double)
      val byTier = got.groupBy(_.getAs[String]("tier")).view.mapValues(
        _.map(r => r.getAs[Long]("q_id") -> R(r.getAs[Long]("n_visited"),
          r.getAs[Long]("hits"), r.getAs[Double]("recall"))).toMap).toMap
      assert(byTier.keySet == Set("fresh", "maintained", "stale"))
      got.foreach { r =>
        assert(r.getAs[Double]("recall") ==
          r.getAs[Long]("hits") / 10.0, s"$dir recall algebra: $r")
      }
      // the maintenance claim: an inserted batch is SERVED — every
      // growth query's maintained recall >= stale (whose graph cannot
      // reach the batch at all), and the aggregate strictly improves
      val (m, s, f) =
        (byTier("maintained"), byTier("stale"), byTier("fresh"))
      m.keys.filter(_ >= 8000000L).foreach { q =>
        assert(m(q).hits >= s(q).hits,
          s"$dir growth q$q: maintained ${m(q).hits} < stale ${s(q).hits}")
      }
      assert(m.values.map(_.hits).sum > s.values.map(_.hits).sum,
        s"$dir: maintained aggregate does not beat stale")
      // the rebuild gap is REPORTED: fresh rows exist per query and the
      // fresh aggregate is at least the maintained one (the price of
      // not rebuilding is visible in the key's own output)
      assert(f.keySet == m.keySet)
      assert(f.values.map(_.hits).sum >= m.values.map(_.hits).sum,
        s"$dir: fresh aggregate below maintained — growth model broken")
      // structural beam bounds per tier (hub degree derived from each
      // tier's actual quantizer size; maintained adds the reverse-edge
      // cap 4 to an old node's max out-degree)
      val nb = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val ng = nb + spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 9 === 1).count()
      val ncOld = math.max(8L, (nb + 255L) / 256L)
      val ncFresh = math.max(8L, (ng + 255L) / 256L)
      def bound(maxdeg: Long) = 2 + 6L * 24L * maxdeg
      s.foreach { case (q, r) => assert(r.nv <= bound(16 + ncOld - 1),
        s"$dir stale q$q visited ${r.nv}") }
      m.foreach { case (q, r) => assert(r.nv <= bound(16 + 4 + ncOld - 1),
        s"$dir maintained q$q visited ${r.nv}") }
      f.foreach { case (q, r) => assert(r.nv <= bound(16 + ncFresh - 1),
        s"$dir fresh q$q visited ${r.nv}") }
    }
  }

  test("round-15: s20 rank metrics — MRR/nDCG algebra closed over the " +
      "6dp literal weights, zero-hit queries score exactly zero, and " +
      "the graph tier's hits agree with s18's own recall rows") {
    val dcgW = Seq(1.000000, 0.630930, 0.500000, 0.430677, 0.386853,
      0.356207, 0.333333, 0.315465, 0.301030, 0.289065)
    val mrrW = Seq(1.000000, 0.500000, 0.333333, 0.250000, 0.200000,
      0.166667, 0.142857, 0.125000, 0.111111, 0.100000)
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val got = SparkEntry.queries("s20_rank_metrics")(spark, dir)
        .collect()
      assert(got.length == 20, s"$dir: expected 4 tiers x 5 queries")
      got.foreach { r =>
        val (hits, mrr, dcg, ndcg) = (r.getAs[Long]("hits"),
          r.getAs[Double]("mrr"), r.getAs[Double]("dcg"),
          r.getAs[Double]("ndcg"))
        assert(hits >= 0 && hits <= 10, r.toString)
        // zero hits must score EXACTLY zero (the element_at-NULL
        // miscompile this key works around would have scored the
        // rank-10 weight 0.1 here — pin the absence of that defect)
        if (hits == 0) assert(mrr == 0.0 && dcg == 0.0 && ndcg == 0.0,
          s"$dir zero-hit row scores nonzero: $r")
        else {
          assert(mrrW.contains(mrr), s"$dir mrr not a weight: $r")
          assert(ndcg > 0.0 && ndcg <= 1.0, r.toString)
        }
        if (hits == 10)
          assert(ndcg == 1.0 && mrr == 1.0,
            s"$dir perfect row not 1.0: $r")
        // dcg is a sum of `hits` distinct weights: bounded by the
        // top-`hits` and bottom-`hits` partial sums
        val h = hits.toInt
        val lo = dcgW.takeRight(h).sum - 1e-9
        val hi = dcgW.take(h).sum + 1e-9
        assert(dcg >= lo && dcg <= hi, s"$dir dcg outside [$lo,$hi]: $r")
        assert(ndcg ==
          BigDecimal(dcg / 4.543560)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble ||
          math.abs(ndcg - dcg / 4.543560) < 5e-5, s"$dir ndcg algebra: $r")
      }
      // cross-key consistency: the graph tier's hit counts are s18's
      val s18 = SparkEntry.queries("s18_graph_ann")(spark, dir)
        .collect().map(r => r.getAs[Long]("q_id") ->
          r.getAs[Long]("hits")).toMap
      got.filter(_.getAs[String]("tier") == "graph").foreach { r =>
        assert(r.getAs[Long]("hits") == s18(r.getAs[Long]("q_id")),
          s"$dir graph tier hits disagree with s18: $r")
      }
    }
  }
}

/** Row shape for the s08 short-candidate spec (top-level for the
  * encoder). */
final case class MmrCand(vec_id: Long, rel: Double, emb: Array[Float])
