package graft

/** Scale audits (SURVEY.md §4): these assert plan *shape*, not results —
  * the properties that keep queries viable at 100 TB / 1000 executors. */
class PlanAuditSpec extends SparkSpec {

  /** Final (post-AQE) physical plan text; `*(n)` prefixes mark
    * whole-stage-codegen stages. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Parquet scans of the artifact `name` in a rendered plan. */
  private def artifactScans(plan: String, name: String): Int =
    plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains(s"/${name}_"))

  test("q02: filter and projection push into the parquet scan") {
    val p = finalPlan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("p_size") || p.contains("p_type"), p)
  }

  test("q05: dimension joins broadcast (no shuffle of small sides)") {
    assert(finalPlan("q05_multi_join").contains("BroadcastHashJoin"))
  }

  test("q01/q06: aggregation is partial (map-side combine) before exchange") {
    val p1 = finalPlan("q01_pricing_summary")
    assert(p1.contains("partial_sum") || p1.contains("partial_count"), p1)
    val p6 = finalPlan("q06_filter_agg")
    assert(p6.contains("partial_sum"), p6)
  }

  test("whole-stage codegen covers the relational hot paths") {
    // executedPlan renders codegen stages as `*(id)` node prefixes
    assert(finalPlan("q01_pricing_summary").contains("*(1)"))
    assert(finalPlan("q06_filter_agg").contains("*(1)"))
  }

  test("dedup/similarity plans never degenerate to cartesian products") {
    for (k <- Seq("dd02_dedup_minhash", "dd03_dedup_simhash",
        "dd04_ngram_jaccard", "dd05_dedup_embedding", "s02_ann_ivf")) {
      val p = finalPlan(k)
      assert(!p.contains("CartesianProduct"), s"$k has a cartesian product:\n$p")
    }
  }

  test("multi-consumer subplans reuse one exchange (no recompute)") {
    // q15: the max branch must reuse the per-suppkey agg shuffle (one
    // lineitem scan); dd03/dd05: every consumer of the signature
    // table must reuse the one kernel computation behind its barrier
    for (k <- Seq("q15_max_subquery", "dd03_dedup_simhash",
        "dd05_dedup_embedding")) {
      val p = finalPlan(k)
      assert(p.contains("ReusedExchange"), s"$k lost exchange reuse:\n$p")
    }
    // dd02's exchange reuse silently BROKE (round-12 sweep: the minhash
    // kernel built twice, 4 text scans); its barrier is now a
    // localCheckpoint — every consumer reads the one computed signature
    // frame, and raw text never reaches the candidate/verify stages
    val p = finalPlan("dd02_dedup_minhash")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("text")) == 0, p)
  }

  test("dd06: planted dups land in one cluster labeled by the original id") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("dd06_dedup_clusters")(spark, sfDir).cache()
    // every planted copy (id ≥ 1M) is clustered (size ≥ 2) under an
    // original id (components may merge if two originals are near-dups,
    // so the label is ≤ the copy's own original)
    val planted = df.filter(col("doc_id") >= 1000000L)
    assert(planted.count() > 0)
    assert(planted.filter(col("cluster_size") < 2 ||
      col("cluster_id") > col("doc_id") - 1000000L).count() == 0)
    // untouched docs stay singletons labeled by themselves
    val singles = df.filter(col("cluster_size") === 1)
    assert(singles.filter(col("cluster_id") =!= col("doc_id")).count() == 0)
    df.unpersist()
  }

  test("t06: repetition fractions stay in [0,1] and cover all docs") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("t06_repetition")(spark, sfDir).cache()
    assert(df.count() > 0)
    assert(df.filter(col("dup_token_frac") < 0 || col("dup_token_frac") > 1 ||
      col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1).count() == 0)
    df.unpersist()
  }

  test("st06: the as-of join plans with NO join operator (union+window)") {
    // the whole point of the single-shuffle form: each row moves once,
    // there is no join node to multiply events × orders
    val p = finalPlan("st06_asof_join")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("q30: all four navigation functions evaluate in ONE window pass") {
    // AQE renders Final + Initial sections — audit the final one only
    val p = finalPlan("q30_window_nav").split("== Initial Plan ==").head
    assert("Window \\[".r.findAllIn(p).size == 1, p)
  }

  test("q27/t07: new aggregation shapes stay partial and non-cartesian") {
    val p27 = finalPlan("q27_pivot")
    assert(p27.contains("partial_count") && !p27.contains("CartesianProduct"), p27)
    val p07 = finalPlan("t07_tfidf")
    assert(!p07.contains("CartesianProduct"), p07)
  }

  test("scalar-function queries are map-only (no hash exchange, sort only)") {
    // q31/q32/t03/t05/t09 must stay embarrassingly parallel: the only
    // exchange allowed is the presentation sort's range partitioning
    for (k <- Seq("q31_string_zoo", "q32_date_zoo", "t03_token_count",
        "t05_pii_scrub", "t09_normalize")) {
      val p = finalPlan(k).split("== Initial Plan ==").head
      assert(!p.contains("Exchange hashpartitioning"),
        s"$k shuffles where it should be map-only:\n$p")
    }
  }

  test("round-4 map-only operators shuffle nothing but the presentation sort") {
    // t11 (markup strip), s04 (PQ encode: model params are literals),
    // m03 (frame explode) must stay embarrassingly parallel
    for (k <- Seq("t11_markup_strip", "s04_pq_quantize", "m03_frame_explode")) {
      val p = finalPlan(k).split("== Initial Plan ==").head
      assert(!p.contains("Exchange hashpartitioning"),
        s"$k shuffles where it should be map-only:\n$p")
    }
  }

  test("p06/dd08: exactly one hash exchange (shard window / canonical group)") {
    for (k <- Seq("p06_global_shuffle", "dd08_url_dedup")) {
      val p = finalPlan(k).split("== Initial Plan ==").head
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"$k:\n$p")
    }
  }

  test("t12: corpus tokenized once, scalar total from the checkpointed postings") {
    // the (doc,term) postings are materialized (localCheckpoint) before
    // their two consumers (frequency agg + scoring join), so the final
    // plan reads the checkpoint — no Generate (tokenization) downstream,
    // and the scalar total arrives by broadcast
    val p = finalPlan("t12_unigram_logprob")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("p01/dd07: content-hash dedup is a shrinking hash agg, never a window") {
    // keep-first per md5(text/chunk) must run as min(struct(...)) through
    // partial HashAggregates — a window over the content hash pins every
    // copy of a pathological duplicate on ONE task (the t07/t12 lesson)
    for (k <- Seq("p01_clean_pipeline", "dd07_para_dedup")) {
      val p = finalPlan(k)
      assert(!p.contains("Window"), s"$k windows over a content hash:\n$p")
      assert(p.contains("partial_min"), s"$k lost the partial keep-min agg:\n$p")
    }
  }

  test("t07/t12: per-term totals are hash aggs, never a window over term") {
    // Window.partitionBy(term) colocates a stopword's whole posting list
    // (~n_docs rows) on ONE task with no map-side combine — fatal at
    // corpus scale. Both queries must compute per-term totals through a
    // partial HashAggregate ladder and join them back.
    for (k <- Seq("t07_tfidf", "t12_unigram_logprob")) {
      val p = finalPlan(k)
      assert(!p.contains("windowspecdefinition(term#"),
        s"$k windows over the raw term key:\n$p")
      assert(p.contains("HashAggregate"), s"$k:\n$p")
    }
  }

  test("p06: the shard-prefix knob re-cuts the same deal order, never reorders") {
    import org.apache.spark.sql.functions._
    // shard = PREFIX of the rank hash ⇒ (shard, pos) order ≡ (h, doc_id)
    // order for every k: scaling the shard count must not change what a
    // training run reads, only where the file boundaries fall
    val k1 = graft.operators.Pipeline.globalShuffle(spark, sfDir, 1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val k2df = graft.operators.Pipeline.globalShuffle(spark, sfDir, 2)
    val k2 = k2df.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(k1 == k2, "deal order changed with shard-prefix length")
    assert(k2df.select("shard").distinct().count() > 16) // 16^2 shard space
    assert(graft.operators.Pipeline.shardPrefixLen(500) == 1)
    assert(graft.operators.Pipeline.shardPrefixLen(100000000L, 1000000L) == 2)
    assert(graft.operators.Pipeline.shardPrefixLen(Long.MaxValue, 1) == 8)
  }

  test("p04/p05: stratum rank/cumsum are two-level ladders, never a source window") {
    // Window.partitionBy(source) lands a whole stratum (tens of TB at
    // corpus scale) on ONE task. Both must bucket first: windows may only
    // partition on (bucket, source) cells; the offsets frame is window-free.
    val plans = Seq("p04_stratified", "p05_token_shards",
      "p10_pack_sequences").map(k => k -> finalPlan(k)).toMap
    plans.foreach { case (k, p) =>
      assert(!p.contains("windowspecdefinition(source#"),
        s"$k windows over the raw stratum key:\n$p")
      assert(p.contains("HashAggregate"), s"$k:\n$p")
    }
    // p10's explode is a bounded Generate ABOVE the ladder — per input
    // row it emits ≤ tokens/512 + 1 spans — and its tokens>0 filter runs
    // post-window, so it must not add any text-bearing scan beyond the
    // p05 ladder shape it extends (a pre-ladder filter measurably forced
    // 4 text scans in the final plan: bounds + offsets frames all had to
    // re-tokenize to evaluate it)
    def textScans(p: String) = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("text"))
    val p10 = plans("p10_pack_sequences")
    assert(p10.contains("Generate"), p10)
    assert(textScans(p10) == textScans(plans("p05_token_shards")),
      s"p10 has more text-bearing scans than the p05 ladder shape:\n$p10")
  }

  test("round-10: p13 ranks through the bucketed ladder (no raw-group " +
      "window), apportions on the tiny count frame, broadcasts alloc") {
    val p = finalPlan("p13_temperature_mix")
    // selection windows may only partition on (bucket, grp) cells — a
    // grp-partitioned window would stream half the corpus (the 'head'
    // fold) through one task; the only unpartitioned windows are the
    // apportionment pair on the group-count frame (rows = n_sources)
    assert(!p.contains("windowspecdefinition(grp#"),
      s"p13 windows over the raw group key:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)   // alloc joins broadcast
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("round-10: s12 ranks the unbounded match set through the " +
      "score-bucketed ladder, never a raw per-query window") {
    // a range search's match set is unbounded by construction (τ is a
    // user knob) — a q_id-partitioned window would stream a whole ball
    // through one task exactly when the ball is big
    val p = finalPlan("s12_range_search")
    assert(!p.contains("windowspecdefinition(q_id#"),
      s"s12 windows over the raw query key:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("round-10: m09 runs each kernel once behind its own barrier — " +
      "no window over the pHash group, no cartesian") {
    val p = finalPlan("m09_pair_dedup")
    // the image-group min is a shrinking groupBy + equi-join back
    // (dd13's shape), never a window over the perceptual hash: a
    // degenerate pHash (all-black assets) would put its whole class in
    // one window partition, while the join is AQE skew-splittable
    assert(!p.contains("windowspecdefinition(ph#"), p)
    assert(!p.contains("CartesianProduct"), p)
    // each kernel (dct + minhash) computes once: both live behind
    // localCheckpoint barriers, so the EXECUTED plan scans the
    // checkpointed RDDs and the kernel expressions appear at most once
    // (in practice zero times — exchange-reuse is NOT the observable
    // here, because at spec scale AQE broadcast-converts every
    // consumer join and leaves no shuffle to reuse)
    val fin = p.split("== Initial Plan ==").head
    assert(fin.linesIterator.count(l =>
      l.contains("minhash_sig")) <= 1, s"minhash kernel re-ran:\n$fin")
    assert(fin.linesIterator.count(l =>
      l.contains("dct_sign_hash")) <= 1, s"dct kernel re-ran:\n$fin")
  }

  test("round-10b keys: t18 map-only gram kernel, m10 map-only, " +
      "st15/dd17 window- and cartesian-free") {
    // t18 (round 16): the gram histograms live inside the gram_stats
    // kernel — the whole key is one map-only projection over the
    // corpus union plus the presentation sort: no per-gram explode, no
    // (doc, gram) exchange, no window, no checkpoint
    val t18 = finalPlan("t18_repetition_filter")
    val t18fin = t18.split("== Initial Plan ==").head
    assert(t18fin.contains("gram_stats"), t18fin)
    assert(!t18.contains("windowspecdefinition"), t18)
    assert(!t18fin.contains("hashpartitioning"), t18fin)
    assert(t18fin.linesIterator.count(_.contains("FileScan parquet")) <= 2,
      t18fin) // base + plant branches of the corpus union, nothing more
    // m10: the ideal shape — one scan, no join/window/aggregate; the
    // two-tower cosine is per-row column algebra
    val m10 = finalPlan("m10_clip_filter")
    assert(m10.linesIterator.count(_.contains("FileScan parquet")) <= 2,
      m10) // final + initial AQE sections print the same single scan
    assert(!m10.contains("Join") && !m10.contains("windowspecdefinition") &&
      !m10.contains("HashAggregate"), m10)
    // st15: the wave probes corpus + itself — everything wave-sized
    // broadcasts, nothing corpus-sized sorts
    val st15 = finalPlan("st15_ingest_dedup")
    val st15fin = st15.split("== Initial Plan ==").head
    assert(!st15fin.contains("SortMergeJoin") &&
      !st15fin.contains("CartesianProduct"), st15fin)
    // dd17: two stacked bounded-pair indexes, no cartesian, no window,
    // and the gate's count agg is partial
    val dd17 = finalPlan("dd17_lsh_calibration")
    assert(!dd17.contains("CartesianProduct") &&
      !dd17.contains("windowspecdefinition"), dd17)
    assert(dd17.contains("partial_count"), dd17)
  }

  test("round-8 keys: dd12 anti-join broadcasts, st12 windows the count " +
      "frame off one scan, s08/s09 joins stay broadcast") {
    // dd12: the boilerplate-removal anti-join's build side is the
    // df-tail-sized hash SET — it broadcasts (an O(1) probe per chunk;
    // the round-16 per-doc-list alternative measured quadratic), and
    // the chunk TEXT crosses only the doc_id reassembly exchange,
    // collapsed into partial collect_list buffers map-side
    val dd12 = finalPlan("dd12_boilerplate")
    assert(dd12.contains("LeftAnti"), dd12)
    assert(dd12.contains("BroadcastHashJoin"), dd12)
    assert(dd12.contains("partial_collect_list"), dd12)
    // st12: ONE events scan; the trailing window runs over the
    // AGGREGATED count frame (partial_count before the exchange proves
    // the windowed count collapsed map-side first)
    val st12 = finalPlan("st12_anomaly_windows")
    assert(st12.linesIterator.count(_.contains("FileScan parquet")) <= 2,
      st12) // final + initial AQE sections print the same single scan
    assert(st12.contains("partial_count"), st12)
    // s08/s09: every join in the selection/eval half is broadcast-small
    // (query-sized frames) — a SortMergeJoin would mean a data-sized
    // frame leaked into the per-query algebra
    for (k <- Seq("s08_mmr_rerank", "s09_ann_recall", "s10_mrl_recall")) {
      val p = finalPlan(k)
      assert(!p.contains("SortMergeJoin"), s"$k:\n$p")
    }
    // dd14: the dup-flag join keeps its FORCED merge (the per-gram count
    // frame is data-sized; a broadcast here is a local-SF illusion), and
    // run-detection windows partition by doc_id (bounded by one doc's
    // tokens) — never by a gram key
    val dd14 = finalPlan("dd14_substring_dedup")
    assert(dd14.contains("SortMergeJoin"), dd14)
    assert(!dd14.contains("windowspecdefinition(g0#") &&
      !dd14.contains("windowspecdefinition(g1#"), dd14)
    assert(dd14.contains("windowspecdefinition(doc_id#"), dd14)
  }

  test("round-9: dd13 reads the pair artifact — docstore scan, no " +
      "shingle/LSH pipeline in the consumer plan") {
    graft.operators.Dedup.ensureMinhashPairArtifact(spark, sfDir)
    val p = finalPlan("dd13_dup_sources")
    assert(artifactScans(p, "dd02_pairs_v2") > 0, p)
    // the shingle → MinHash → band-explode pipeline ran once into the
    // artifact; the consumer plan must carry none of it
    assert(!p.contains("Generate"), p)
    assert(!p.contains("minhash_sig"), p)
  }

  test("round-9: t14 tokenizes once (checkpointed token arrays feed " +
      "vocab + postings), per-bigram totals are hash aggs") {
    // final plan reads the checkpointed frames — the TEXT column never
    // appears in a parquet scan (tokenization ran exactly once into the
    // checkpoint; the vocab branch explodes checkpointed token arrays,
    // not text), no window over a bigram key, the vocab scalar arrives
    // by broadcast (t12's discipline)
    val df = SparkEntry.queries("t14_bigram_logprob")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("text")) == 0, p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // round-13: no plan-forced broadcast of the Heaps-unbounded bigram
    // weight frame — every broadcast hint's child must be STATICALLY
    // row-bounded (Catalyst maxRows: a grouping-free aggregate is 1, a
    // limit is K; a data-sized frame has none)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.forall(_.child.maxRows.nonEmpty),
      hints.map(h => h.child.output.map(_.name).mkString(",") +
        " maxRows=" + h.child.maxRows).mkString("; "))
  }

  test("round-9: p11 classifier scoring is map-only — one scan, no " +
      "join/window/aggregate") {
    val p = finalPlan("p11_quality_classifier")
    // final + initial AQE sections print the same single scan
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 2, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("round-9: p12 data card is one scan + per-source partial aggs, " +
      "no join/window") {
    val p = finalPlan("p12_dataset_card")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 2, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("round-10: t16 blocklist gate is map-only — one scan, no " +
      "join/window/aggregate; p09 keeps its one-scan funnel with stage 5") {
    val p = finalPlan("t16_blocklist_filter")
    // final + initial AQE sections print the same single scan
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 2, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("HashAggregate"), p)
    val p9 = finalPlan("p09_quality_funnel").split("== Initial Plan ==").head
    assert("FileScan|BatchScan".r.findAllIn(p9).length == 1, p9)
    assert(p9.contains("partial_count") || p9.contains("partial_sum"), p9)
  }

  test("round-14: t17's banded probe — NO broadcast anywhere (the eval " +
      "side is corpus-derived, so broadcasting it was the t14 " +
      "false-premise class), candidates from a hash equi-join, and no " +
      "minhash kernel past the checkpoint barriers") {
    // round 10 asserted the OPPOSITE (eval sigs broadcast): that shape
    // measured 12.6x per decade because |eval| = 1% OF THE CORPUS —
    // the r14 decade gate caught it, and the probe is now a 32x2 LSH
    // band equi-join, data-sized x data-sized by design
    val p = finalPlan("t17_fuzzy_contamination").split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // no broadcast HINT anywhere: every join side grows with the
    // corpus, so any broadcast must be AQE/statistics-CHOSEN (those
    // re-decide by bytes at runtime and degrade to shuffle joins at
    // scale — the PlanSweep doctrine); a hint would pin it forever
    val analyzed = graft.SparkEntry.queries("t17_fuzzy_contamination")(
      spark, sfDir).queryExecution.analyzed.toString
    assert(!analyzed.toLowerCase.contains("resolvedhint"),
      "a corpus-growing frame carries a pinned broadcast hint:\n" + analyzed)
    // the minhash kernel runs only UPSTREAM of the checkpoint barriers
    // (corpusSigs/evalSigs are localCheckpointed): the final plan must
    // not re-run it past a join
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, p)
    assert(!p.substring(0, joinIdx).contains("minhash_sig"),
      "minhash kernel leaked above a join (tree prints parents first):\n" + p)
  }

  test("round-10: dd16 probes the corpus SIGNATURE ARTIFACT — docstore " +
      "scan, batch side broadcast, gate applied before any pairing") {
    graft.operators.Dedup.ensureMinhashSigArtifact(spark, sfDir)
    val p = finalPlan("dd16_incremental_dedup")
    assert(artifactScans(p, "dd16_sigs_v2") > 0, p) // corpus sigs from the artifact
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // every join touching corpus-sized rows is a BROADCAST probe (the
    // bucket gate is semi-joined into the broadcast batch side before
    // any pairing — review r10: a shuffle-hash gate AFTER the pair
    // join would shuffle an over-cap bucket's full pair expansion
    // before dropping it); no shuffled join anywhere in the plan
    assert(!p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the batch kernel runs ONCE: every consumer reads the batch-sized
    // signature checkpoint, so NO text-bearing parquet scan appears in
    // the final plan at all (per-consumer column pruning defeated
    // exchange reuse under a plain repartition barrier — measured 4
    // text scans; §4's checkpoint-hides-upstream lesson means the
    // once-property is guaranteed by the checkpoint, not plan-asserted)
    val fin = p.split("== Initial Plan ==").head
    assert(!fin.linesIterator.exists(l =>
      l.contains("FileScan parquet") && l.contains("text")), fin)
    // and the corpus artifact is read exactly twice: the gate-count
    // pass (column-pruned to [sig] — hash-only) and the sig-carrying
    // probe pass ([doc_id, sig])
    assert(artifactScans(fin, "dd16_sigs_v2") == 2, fin)
  }

  test("round-10: m08 hamming search broadcasts queries and never ranks " +
      "a query's whole corpus in one partition") {
    val p = finalPlan("m08_phash_search")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the s01 top-k discipline: windows only on bounded (__b, q_id) cells
    assert(!p.contains("windowspecdefinition(q_id#"), p)
  }

  test("round-10: s11 re-rank touches only the checkpointed shortlist — " +
      "one corpus scan on the prefix tier, broadcast joins only") {
    // the shortlist materializes eagerly at localCheckpoint; the final
    // plan may scan embeddings only for the 5 broadcast query vectors
    // (vec_id < 5 pushed down) — a second full-corpus scan or a
    // SortMergeJoin means a data-sized frame leaked into the re-rank
    val p = finalPlan("s11_mrl_rerank")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size <= 2, p) // final + initial AQE print the same scan
    assert(scans.forall(_.contains("vec_id")), p)
  }

  test("ladders: NULL stratum/bucket keys rank exactly like the window form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // rows with a NULL stratum or NULL order key (→ NULL bucket) form
    // their own groups under Window.partitionBy — the ladder's joins
    // must be null-safe or those rows silently vanish
    val df = spark.createDataFrame(Seq(
      (1L, "a"), (2L, "a"), (3L, null), (4L, null), (5L, "b"))
      .map { case (id, s) => (id, Option(s)) }).toDF("id", "src")
      .withColumn("__b", when(col("id") === 5L, lit(null))
        .otherwise((col("id") % 2).cast("string")))
    val ladder = graft.operators.Ladders.globalRank(df, Seq("src"), "__b",
      Seq(col("__b"), col("id")), "rn", Some("n"))
      .select(col("id"), col("rn"), col("n"))
    val w = Window.partitionBy(col("src")).orderBy(col("__b"), col("id"))
    val windowed = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("src"))))
      .select(col("id"), col("rn"), col("n"))
    assert(ladder.orderBy("id").collect().toSeq ==
      windowed.orderBy("id").collect().toSeq)
  }

  test("s01/s02: per-query top-k is local-topk + tiny merge, never a corpus window") {
    // Window.partitionBy(q_id) over the scored frame sorts all N scored
    // rows of a query in ONE task. Windows may only partition on the
    // bounded (bucket, q_id) cells; the final merge is window-free.
    for (k <- Seq("s01_ann_bruteforce", "s02_ann_ivf")) {
      val p = finalPlan(k)
      assert(!p.contains("windowspecdefinition(q_id#"),
        s"$k ranks a query's whole scored corpus in one partition:\n$p")
    }
  }

  test("q33: double correlation runs as shrinking hash aggs, no fact self-join") {
    val p = finalPlan("q33_multi_exists").split("== Initial Plan ==").head
    // the EXISTS/NOT EXISTS pair must NOT plan as semi/anti self-joins of
    // lineitem, nor as a per-order collect_set window (sorts every row,
    // JVM sets outside codegen) — two levels of partial HashAggregate
    // compute both per-order facts
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortMergeJoin"), p) // supplier joins by broadcast
  }

  test("dd04: bucket pair expansion is two-level (no single-row pair array)") {
    import org.apache.spark.sql.functions._
    // a degenerate bucket at the df=10,000 cap boundary. The single-row
    // flatten(transform(...)) alternative builds all ~5·10⁷ pair structs
    // inside ONE array value (gigabytes, unsplittable task); the
    // two-level form streams them through two Generates, each row
    // bounded by the bucket size.
    val n = 10000
    val buckets = spark.range(1).select(lit("web").as("source"),
      expr(s"transform(sequence(1, $n), i -> " +
        "named_struct('doc_id', cast(i as bigint), 'sz', 50))").as("ds"))
    val pairs = graft.operators.Dedup.bucketPairs(buckets)
    val plan = pairs.queryExecution.executedPlan.toString
    assert("Generate".r.findAllIn(plan).size == 2, plan)
    assert(!plan.contains("flatten("), plan)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    // pair semantics (ordering + size assignment) on a tiny bucket
    val small = spark.range(1).select(lit("s").as("source"),
      expr("array(named_struct('doc_id', 7L, 'sz', 3), " +
        "named_struct('doc_id', 2L, 'sz', 9), " +
        "named_struct('doc_id', 5L, 'sz', 4))").as("ds"))
    val rows = graft.operators.Dedup.bucketPairs(small)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    assert(rows.toSeq == Seq((2L, 5L, 9, 4), (2L, 7L, 9, 3), (5L, 7L, 4, 3)))
  }

  test("dd03/dd05: AQE skew-join splits a degenerate all-duplicates bucket") {
    import org.apache.spark.sql.functions._
    // an all-identical corpus collapses every band/bucket key to ONE hot
    // shuffle partition; the band joins must survive via AQE's skew split
    // (verified by the skew marker in the final plan), not by luck
    val keys = Seq("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // scale the skew machinery down to spec-sized data; forbid broadcast
      // so the join actually shuffles like it would at corpus scale, and
      // disable small-partition coalescing (it wins the rule interplay at
      // these toy sizes and masks the skew split)
      spark.conf.set(keys(0), "8192")
      spark.conf.set(keys(1), "8192")
      spark.conf.set(keys(2), "1")
      spark.conf.set(keys(3), "-1")
      spark.conf.set(keys(4), "false")
      // ONE degenerate band bucket: band 0 (low 16 bits) is zero for every
      // hot doc while bands 1-3 stay distinct, so a single (band,bh) key
      // holds all 4000 docs — the all-duplicates hot spot. The thin
      // random tail gives the skew detector a meaningful median.
      val hot = spark.range(4000).select(col("id").as("doc_id"),
        expr("shiftleft(id, 16) | shiftleft(id, 32) | shiftleft(id, 48)")
          .as("sig"))
      val uniq = spark.range(10000, 10500).select(col("id").as("doc_id"),
        xxhash64(col("id")).as("sig"))
      val pairs = graft.operators.Dedup.simhashBandPairs(hot.unionAll(uniq))
      // execute THIS QueryExecution (count() would plan a separate one
      // and the AQE skew info would not land on pairs' plan).
      // ids differing in exactly one bit give hamming 3 ≤ 3: 4096-range
      // ids × 12 bits / 2 ≈ thousands of verified pairs must survive.
      assert(pairs.queryExecution.toRdd.count() >= 1000)
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"), s"no skew split engaged:\n$plan")
      // same shape for the embedding bucket join: 95% of vectors share one
      // bucket (a literal bucket would constant-fold the equi-join away;
      // smaller corpora leave mapper chunks too small to sub-split)
      val vecs = spark.range(4000).select(col("id").as("vec_id"),
        expr("transform(array(1.0, 0.0), x -> cast(x as float))").as("embedding"),
        when(col("id") % 20 === 0, 1L).otherwise(0L).as("bucket"))
      // project + presentation sort above the join match dd05's real tail
      val cos = graft.operators.Dedup.bucketCosinePairs(vecs)
        .select(col("id_a"), col("id_b")).orderBy(col("id_a"), col("id_b"))
      assert(cos.queryExecution.toRdd.count() ==
        3800L * 3799 / 2 + 200L * 199 / 2)
      val cplan = cos.queryExecution.executedPlan.toString
      assert(cplan.toLowerCase.contains("skew"), s"no skew split engaged:\n$cplan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("dd02: the LSH cap drops a degenerate bucket before pair expansion") {
    import org.apache.spark.sql.functions._
    // 300 identical docs → every band bucket holds 300 > cap(50) → the
    // guard must yield ZERO candidates (bounded work), never 300²/2 pairs
    val sigs = spark.range(300).select(col("id").as("doc_id"),
      graft.functions.text.minhash_sig(lit("same text everywhere"), 64, 3)
        .as("sig"))
    assert(graft.operators.Dedup.minhashCandidates(sigs).count() == 0)
  }

  test("round-6 keys keep their claimed plan shapes") {
    // d19 ($regexFindAll spans), d20 ($geoNear trig), and d21 ($redact
    // CaseWhen trees) are map-only: nothing but the presentation sort may
    // shuffle
    for (k <- Seq("d19_regex_findall", "d20_geo_near", "d21_redact")) {
      val p = finalPlan(k).split("== Initial Plan ==").head
      assert(!p.contains("Exchange hashpartitioning"),
        s"$k shuffles where it should be map-only:\n$p")
    }
    // m04 (binary asset dedup) is the p01 keep-min shape: a shrinking
    // partial agg on the payload digest, never a window
    val m4 = finalPlan("m04_media_dedup")
    assert(!m4.contains("Window"), m4)
    assert(m4.contains("partial_min"), m4)
    // d18 (attribute profiling) aggregates partially before its exchange
    // (Mongo's {$sum: 1} count idiom plans as partial_sum(1))
    val d18 = finalPlan("d18_object_entries")
    assert(d18.contains("partial_sum") || d18.contains("partial_count"), d18)
    // st08 (left-outer interval join) must stay an equi-key join — a
    // dropped key would cartesian every click against every purchase
    val st8 = finalPlan("st08_abandoned_clicks")
    assert(!st8.contains("CartesianProduct") &&
      !st8.contains("BroadcastNestedLoopJoin"), st8)
  }

  test("round-7 keys keep their claimed plan shapes") {
    // st10: the quantile agg combines map-side before its exchange
    // (percentile buffers are partial-mergeable like any agg)
    val st10 = finalPlan("st10_window_quantiles")
    assert(st10.contains("partial_percentile") ||
      st10.contains("partial_count"), st10)
    assert(!st10.contains("Window"), st10)
    // p07: the mixture deal is map-only — hash + bounded explode; the
    // only exchange is the presentation sort's range partitioning
    val p7 = finalPlan("p07_mixture_sample").split("== Initial Plan ==").head
    assert(!p7.contains("Exchange hashpartitioning"), p7)
    assert(!p7.contains("Window"), p7)
    // dd10 rides dd04's audited inverted-index machinery: no cartesian,
    // no window, bounded two-level pair expansion (two Generates)
    val d10 = finalPlan("dd10_containment")
    assert(!d10.contains("CartesianProduct") && !d10.contains("Window"), d10)
    assert("Generate ".r.findAllIn(d10).length >= 2, d10)
  }

  test("round-8 keys keep their claimed plan shapes") {
    // p09: ONE document scan feeds the whole funnel (all four rule
    // flags are columns of one partial-aggregated count row); the
    // constant unpivot adds no exchange of document data
    val p9 = finalPlan("p09_quality_funnel").split("== Initial Plan ==").head
    assert("FileScan|BatchScan".r.findAllIn(p9).length == 1, p9)
    assert(p9.contains("partial_count") || p9.contains("partial_sum"), p9)
    assert(!p9.contains("Window"), p9)
    // dd11: pair-free — no cartesian, no window; the checkpointed
    // postings mean the corpus is scanned and shingled ONCE (both join
    // sides read the pinned RDD, no parquet scan or Generate remains),
    // and the forced merge join keeps the data-sized df frame off the
    // broadcast path
    val d11 = finalPlan("dd11_dup_gram_frac").split("== Initial Plan ==").head
    assert(!d11.contains("CartesianProduct") && !d11.contains("Window"), d11)
    assert(d11.contains("SortMergeJoin"), d11)
    assert(!d11.contains("FileScan") && !d11.contains("Generate"), d11)
    assert("Scan ExistingRDD".r.findAllIn(d11).length == 2, d11) // one per consumer of the pinned postings
    // p08: an artifact read, not the CC loop (audited in NewOpsSpec too)
    val p8 = finalPlan("p08_leak_safe_split")
    assert(artifactScans(p8, "dd06_clusters_v2") > 0, p8)
  }

  test("dd09: centroid assignment is a map-only fold, never a window") {
    // the nearest-cell pick must fold over the broadcast centroid array;
    // a window partitioned by vec_id would shuffle the k×N expanded
    // candidate frame just to take an argmax
    val p = finalPlan("dd09_semantic_dedup")
    assert(!p.contains("Window"), p)
    assert(!p.contains("windowspecdefinition(vec_id#"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s06: hybrid search cuts are TopN heaps; windows only on tiny frames") {
    val p = finalPlan("s06_hybrid_search")
    // both retrieval arms must cut with per-partition heaps + driver
    // merge, never a global sort of the scored corpus
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only windows are the rank assignments over the ≤limit-row
    // fused candidates (empty partition spec over a LIMITED frame);
    // nothing may window-partition a corpus-sized key
    assert(!p.contains("windowspecdefinition(doc_id#") &&
      !p.contains("windowspecdefinition(_id#"), p)
  }

  test("docstore scan shows its pushdown in the plan") {
    val p = finalPlan("d08_docstore_scan")
    assert(p.contains("docstore"), p)
  }

  test("mongo-filter query pushes into parquet (d04)") {
    val p = finalPlan("d04_mongo_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("o_totalprice"), p)
  }

  test("round-10c keys: t20 map-only, s13 broadcast-joined, m11 one " +
      "scan + per-video windows, st16 range-join-free") {
    // t20: the ideal gate shape (m10's class) — scans + union + project,
    // no join/window/aggregate anywhere; the presentation sort is the
    // only exchange
    val t20 = finalPlan("t20_gopher_quality")
    assert(!t20.contains("Join") && !t20.contains("windowspecdefinition") &&
      !t20.contains("HashAggregate"), t20)
    // s13: both rank paths ride topKPerQuery's bounded cells; the
    // global-50 comparison join is query-sized and must broadcast
    val s13 = finalPlan("s13_filtered_search")
    val s13fin = s13.split("== Initial Plan ==").head
    assert(!s13fin.contains("SortMergeJoin") &&
      !s13fin.contains("CartesianProduct"), s13fin)
    // m11: ONE documents scan feeds base + edited plants (union of two
    // reads of the same file is still ≤ 2 scan prints incl. the AQE
    // initial section); no join; the two windows share the per-video
    // partition; the per-scene agg is partial (map-side combined)
    val m11 = finalPlan("m11_scene_detect")
    assert(!m11.contains("Join"), m11)
    assert(m11.contains("partial_count") || m11.contains("partial_min"),
      m11)
    // st16: the AS-OF shape — NO range join anywhere (an interval theta
    // join would explode row counts; the timeline union resolves through
    // per-user windows only). The permitted BroadcastNestedLoops are the
    // plant offset's 1-row max(event_id) scalar attach — bounded by
    // construction, not a join of data-sized sides — which appears once
    // per planted-union consumer (markers chain + facts = 2; re-scanning
    // events twice beats checkpointing a fact-table-sized frame).
    val st16 = finalPlan("st16_pit_join")
    assert(st16.split("== Initial Plan ==").head.linesIterator
      .count(_.contains("BroadcastNestedLoop")) <= 2, st16)
    assert(!st16.contains("CartesianProduct") &&
      !st16.contains("SortMergeJoin"), st16)
    assert(st16.contains("windowspecdefinition"), st16)
    // p14: map-only policy over shipped literals (the m10/t20 class)
    val p14 = finalPlan("p14_anneal_split")
    assert(!p14.contains("Join") && !p14.contains("windowspecdefinition") &&
      !p14.contains("HashAggregate"), p14)
    // q34: grouping sets expand map-side into ONE aggregation pass —
    // an Expand + partial agg, no join, no second shuffle
    val q34 = finalPlan("q34_grouping_sets")
    assert(q34.contains("Expand"), q34)
    assert(!q34.contains("Join"), q34)
    assert(q34.contains("partial_count"), q34)
    // p15: the bounded-key DSIR shape — occurrences never shuffle on a
    // data-sized key (per-doc bucket counts live behind the checkpoint,
    // the 64-row weight frame broadcasts back); no window, no sort-merge,
    // the only BroadcastNestedLoop is the 1-row totals attach, and the
    // per-doc score agg is partial (map-side combined)
    val p15 = finalPlan("p15_dsir_select")
    val p15fin = p15.split("== Initial Plan ==").head
    assert(!p15fin.contains("SortMergeJoin") &&
      !p15.contains("windowspecdefinition") &&
      !p15.contains("CartesianProduct"), p15fin)
    assert(p15fin.linesIterator
      .count(_.contains("BroadcastNestedLoop")) <= 1, p15fin)
    assert(p15.contains("partial_sum"), p15)
  }

  test("round-11: s02/s07 consume the PERSISTED ANN index — docstore " +
      "scan, no assign/encode kernel in the consumer plan (dd13 precedent)") {
    graft.operators.Similarity.ensureIvfCellsArtifact(spark, sfDir)
    graft.operators.Similarity.ensurePqCodesArtifact(spark, sfDir)
    // s02: the inverted file is an artifact scan; the corpus-sized
    // assignCells fold (its collected `cents` array) ran once into the
    // artifact and must not appear in any query plan
    val s02 = finalPlan("s02_ann_ivf")
    assert(artifactScans(s02, "s02_ivf_cells_v2") > 0, s02)
    assert(!s02.contains("cents"), s02)
    // s07: codes come from the artifact — no assign fold, no hoisted
    // `__v` encode view; the probe's LUT arithmetic (q_vec-sized) is
    // the only distance computation left
    val s07 = finalPlan("s07_ivfpq")
    assert(artifactScans(s07, "s07_pq_codes_v2") > 0, s07)
    assert(!s07.contains("cents") && !s07.contains("__v"), s07)
    // s09 rides s01+s02 and is artifact-backed through s02 — but its
    // top-k frames are localCheckpointed, which HIDES everything
    // upstream from the executed plan (the m07 sweep-blindness lesson),
    // so the s02 assertions above are the authoritative audit; here we
    // only pin that nothing corpus-shaped leaked past the checkpoints
    val s09 = finalPlan("s09_ann_recall")
    assert(!s09.contains("cents") && !s09.contains("FileScan"), s09)
  }

  test("round-11: p16's curation DAG touches text in exactly ONE " +
      "FileScan; the composed stages ride checkpoints + the cluster " +
      "artifact") {
    // the pre-checkpoint token frame: input explode + strip + the one
    // tokenization + BPE + line stats = one text-bearing parquet scan
    val tf = graft.operators.Pipeline.p16TokenFrame(spark, sfDir)
    val tfPlan = tf.queryExecution.executedPlan.toString
    val nScans = tfPlan.linesIterator.count(_.contains("FileScan"))
    assert(nScans == 1, s"$nScans text scans:\n$tfPlan")
    assert(tfPlan.contains("bpe_token_ids"), tfPlan)
    // the full key: every post-tokenization stage consumes the
    // checkpointed frames or the cluster artifact — NO parquet scan
    // (and so no re-tokenization) anywhere in the final plan; the
    // artifact's own scan sits upstream of a checkpoint; dedup
    // keep-mins are aggregates, never content-key windows
    val df = SparkEntry.queries("p16_curation_dag")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("FileScan"), plan)
    assert(!plan.contains("bpe_token_ids"), plan)
    val winKeys = graft.tools.PlanSweep.windowPartitionSpecs(plan).distinct
    assert(winKeys.forall(ks => ks.isEmpty || ks == Seq("grp") ||
      ks.exists(_.startsWith("__b"))),
      s"unexpected window partition keys: $winKeys")
  }

  test("round-11: PlanSweep's ungated-collect gate — parser extracts " +
      "(keys, input) pairs and classifies gatedBuckets as the allowed path") {
    import graft.tools.PlanSweep
    // parser unit: keys + first-arg extraction, ids stripped, merge
    // phase carried through
    val node = "ObjectHashAggregate(keys=[band#12, bh#34L], " +
      "functions=[collect_list(__gv#56L, 0, 0)])"
    assert(PlanSweep.collectAggs(node) ==
      Seq((Seq("band", "bh"), "__gv")))
    val ungated = "ObjectHashAggregate(keys=[gram_hash#7L], " +
      "functions=[collect_list(doc_id#9L, 0, 0), " +
      "collect_set(user#3, 0, 0)])"
    assert(PlanSweep.collectAggs(ungated).map(_._2).sorted ==
      Seq("doc_id", "user"))
    assert(PlanSweep.collectAggs(
      "HashAggregate(keys=[], functions=[sum(x#1)])").isEmpty)
    // truncated renders fail LOUDLY instead of mis-classifying
    // (ADVICE r11): an unterminated keys list or collect argument
    // means the node string was clipped mid-expression
    intercept[IllegalStateException] {
      PlanSweep.collectAggs(
        "ObjectHashAggregate(keys=[band#12, bh#3, functions=[collect_list(")
    }
    intercept[IllegalStateException] {
      PlanSweep.collectAggs(
        "ObjectHashAggregate(keys=[band#12], " +
        "functions=[collect_list(struct(a#1, __gv#2")
    }
    // live gated key: dd02's executed plan contains collect aggregates,
    // and every one rides the __gv gated path or a bounded entity key —
    // the invariant PLANSWEEP_r11's empty ungated_collects column gates
    val df = SparkEntry.queries("dd02_dedup_minhash")(spark, sfDir)
    df.queryExecution.toRdd.count()
    val aggs = PlanSweep.allNodes(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Aggregate"))
      .flatMap(PlanSweep.collectAggsOf)
    assert(aggs.nonEmpty, "dd02 lost its collect aggregate?")
    aggs.foreach { case (ks, input) =>
      assert(input.contains("__gv") || input == "buf" ||
        input == "merge buf" ||
        (ks.nonEmpty && ks.forall(PlanSweep.boundedCollectKeys.contains)),
        s"ungated collect in dd02: keys=$ks input=$input")
    }
  }

  test("round-12: p19 waterfills off ONE kernel scan (AQE stage reuse), " +
      "s15's tier explode never carries a vector, t24/t25 keep their " +
      "kernels inside whole-stage codegen") {
    // p19: src feeds the window rank AND the budget scalar, flagged
    // feeds the waterline agg AND the final select — four logical
    // references that MUST collapse to one corpus kernel scan
    val p19 = finalPlan("p19_unimax_mix").split("== Initial Plan ==").head
    assert(p19.linesIterator.count(_.contains("bpe_token_ids")) == 1, p19)
    assert(p19.linesIterator.count(_.contains("FileScan")) == 1, p19)
    // s15: cosines are computed BEFORE tier replication, so no Generate
    // (explode) row ever carries a 64-float vector — the replicated row
    // is the narrow (q_id, vec_id, cos) scalar triple. (The bounded
    // prank explode carries q_vec deliberately: ≤ queries×8 rows.)
    graft.operators.Similarity.ensureIvfCellsArtifact(spark, sfDir)
    val tiers = graft.operators.Similarity.s15Tiers(spark, sfDir)
    tiers.queryExecution.toRdd.count()
    // per-NODE strings (toString renders the whole subtree)
    val gens = graft.tools.PlanSweep.allNodes(
        tiers.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Generate"))
      .map(_.simpleString(10000))
    assert(gens.nonEmpty, "s15 lost its tier explode?")
    val tierGens = gens.filterNot(_.contains("q_vec"))
    assert(tierGens.nonEmpty, s"only the prank explode found: $gens")
    tierGens.foreach(g =>
      assert(!g.contains("embedding") && !g.contains("emb"), g))
    // t24/t25: the kernel projections stay starred (one codegen span —
    // the interpreted-transform regression t24 already paid once)
    val t24 = finalPlan("t24_bpe_decode").split("== Initial Plan ==").head
    assert(t24.linesIterator.exists(l =>
      l.contains("bpe_decode") && l.trim.startsWith("+- *(")), t24)
    val t25 = finalPlan("t25_entropy_gate").split("== Initial Plan ==").head
    assert(t25.contains("partial_count") || t25.contains("partial_sum"),
      t25) // char occurrences collapse map-side before the exchange
  }

  test("round-12/13: p21 inherits t14's discipline — text scanned only " +
      "into the checkpoint, weights SHUFFLE-joined (no forced broadcast " +
      "of the unbounded bigram-type frame), no window over any model key") {
    val df = SparkEntry.queries("p21_doremi_mix")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed tokenization
    assert(p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("text")) == 0, p)
    // round-13: the (w1,w2) weights frame must NOT be force-broadcast
    // whole — bigram types are Heaps-unbounded at the 100 TB target.
    // Every broadcast hint's child must be STATICALLY row-bounded
    // (Catalyst maxRows: the ntot/vocab/apportionment scalars are 1,
    // the tiered head is limit-K; the full weight frame has none).
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.forall(_.child.maxRows.nonEmpty),
      hints.map(h => h.child.output.map(_.name).mkString(",") +
        " maxRows=" + h.child.maxRows).mkString("; "))
    // the only window is the tiny apportionment frame (post-aggregate);
    // no windowspec mentions a token/bigram column
    assert(!p.linesIterator.exists(l =>
      l.contains("windowspecdefinition") &&
        (l.contains("w1") || l.contains("w2"))), p)
  }

  test("round-12: m14 packs off ONE kernel scan (modality math + BPE " +
      "in the same projection), windows only on the ladder cells") {
    val p = finalPlan("m14_interleave_pack")
    assert(p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("text")) <= 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p)
    // every window partitions by the bucket column (never source alone —
    // a source-sized window would sort a whole stratum in one task)
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("__b"), l))
  }

  test("round-12: q42's DISTINCT ON is a partial-agg argmax — no " +
      "window, no sort before the exchange") {
    val p = finalPlan("q42_distinct_on")
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      p.contains("max_by"), p)
  }

  test("round-13/16: st19's log windows run ONCE over ONE user_id " +
      "exchange, and the view agg is partial") {
    val p = finalPlan("st19_oplog_view").split("== Initial Plan ==").head
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        !l.contains("ReusedExchange")) == 1, p)
    // round 16: the at-least-once duplication is an exploded
    // multiplier riding the single window pass — the old union's
    // second branch (which re-ran the Window + struct projection above
    // a ReusedExchange) is gone entirely
    assert(!p.contains("ReusedExchange"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("Generate explode")), p)
    assert(p.contains("partial_max_by") || p.contains("max_by"), p)
  }

  test("round-13: q45's GROUPS desugaring — group partials and frame " +
      "ride user_id exchanges (≤2), the row join never re-sorts a " +
      "corpus window") {
    val p = finalPlan("q45_groups_frame").split("== Initial Plan ==").head
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        !l.contains("ReusedExchange")) <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // every window partitions by user_id — no global window anywhere
    p.linesIterator.filter(_.contains("windowspecdefinition"))
      .foreach(l => assert(l.contains("user_id"), l))
  }
}
