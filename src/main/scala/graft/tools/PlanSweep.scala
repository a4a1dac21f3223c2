package graft.tools

/** Suite-wide physical-plan sweep — the per-round gate (VERDICT r9 #6):
  * run EVERY registry key and audit its EXECUTED (post-AQE) plan for
  * the anti-pattern classes no key may ship silently:
  *
  *  - `cartesian`: unbroadcast CartesianProduct — quadratic at any
  *    scale; hard failure (exit 1).
  *  - `sortmerge`: SortMergeJoin inventory — each must be a documented
  *    data-sized join (SCALING.md), not an accident.
  *  - `global_windows`: windowspecdefinition with an EMPTY partition
  *    spec (the round-5 killer class: one task sorts the whole frame).
  *    Legitimate only over provably bounded frames (post-limit ranks,
  *    scalar posteriors) — each listed key must have a documented
  *    bound.
  *  - `window_partitions`: the full window-partition-key inventory per
  *    key, so a window over a data-sized key (band value, content
  *    hash) is visible in review — plan text cannot reveal key
  *    cardinality, the reviewer's table does.
  *  - `big_broadcasts`: the query carries an explicit broadcast HINT
  *    (ResolvedHint in the analyzed plan) AND some broadcast exchange
  *    observed > 10k rows at the swept SF. AQE/statistics-chosen
  *    broadcasts alone are deliberately NOT flagged — they re-decide
  *    by bytes at runtime and degrade to shuffle joins at scale (the
  *    designed behavior); a HINT pins the broadcast regardless of
  *    size, so a hinted data-sized side is a local-SF illusion that
  *    OOMs at scale. This is a REVIEW CUE, not a verdict: the two
  *    conditions are not matched to the same join, so a key whose
  *    innocent small hint coexists with a stats-chosen big broadcast
  *    can land here — each entry is `key:maxObservedBroadcastRows` so
  *    the reviewer can attribute it.
  *
  * Plans execute via `toRdd.count()` — no driver-side row
  * materialization (ADVICE r9), and no `--add-opens` need since
  * external Date decoding never happens. One JSON line out; exit 1 on
  * any cartesian or error. `runMain graft.tools.PlanSweep <sfDir>`.
  */
object PlanSweep {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Every node of a FINAL adaptive plan, descending through AQE
    * wrappers — shared with ScaleAuditSpec so the production gate and
    * the test audit can never disagree about what a plan contains. */
  private[graft] def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  /** Split a bracketed list body on depth-0 commas. */
  private def splitArgs(body: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    val sb = new StringBuilder
    var depth = 0
    body.foreach {
      case c @ ('(' | '[') => depth += 1; sb += c
      case c @ (')' | ']') => depth -= 1; sb += c
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    if (sb.nonEmpty) out += sb.toString
    out.toSeq.map(_.trim)
  }

  /** Collect-aggregate inventory of one aggregate node's simpleString:
    * (groupKeyNames, collectInputName) per collect_list/collect_set,
    * attribute ids stripped. Parsed from `keys=[...]` and the first
    * argument of each collect call — final plans pre-project grouping
    * expressions, so keys are plain attributes. */
  private[graft] def collectAggs(nodeStr: String): Seq[(Seq[String], String)] = {
    if (!nodeStr.contains("collect_list(") && !nodeStr.contains("collect_set("))
      return Nil
    val keys = {
      val i = nodeStr.indexOf("keys=[")
      if (i < 0) Nil
      else {
        var depth = 0; var j = i + 6; var end = -1
        while (end < 0 && j < nodeStr.length) {
          nodeStr.charAt(j) match {
            case '[' | '(' => depth += 1
            case ')' => depth -= 1
            case ']' if depth == 0 => end = j
            case ']' => depth -= 1
            case _ => ()
          }
          j += 1
        }
        if (end < 0)
          // `keys=[` present but never closed: the render truncated
          // mid-list. Returning Nil would silently classify this
          // collect as KEYLESS (review column) instead of gating it —
          // fail the parse loudly so the caller re-renders (ADVICE r11)
          throw new IllegalStateException(
            "truncated aggregate render: unterminated keys=[ list")
        else splitArgs(nodeStr.substring(i + 6, end))
          .filter(_.nonEmpty).map(_.replaceAll("#\\d+L?", ""))
      }
    }
    Seq("collect_list(", "collect_set(").flatMap { marker =>
      Iterator.iterate(nodeStr.indexOf(marker))(i =>
          nodeStr.indexOf(marker, i + 1)).takeWhile(_ >= 0).toSeq.map { s =>
        val from = s + marker.length
        // depth-tracked first argument: a nested-expression input
        // (struct(a, __gv), if(c, x, y)) must survive to the gated
        // `__gv` containment check intact — a flat cut at the first
        // ',' truncates it before the marker is visible (review r11)
        var depth = 0; var i = from; var cut = -1
        while (cut < 0 && i < nodeStr.length) {
          nodeStr.charAt(i) match {
            case '(' | '[' => depth += 1
            case ')' | ']' if depth > 0 => depth -= 1
            case ')' => cut = i
            case ',' if depth == 0 => cut = i
            case _ => ()
          }
          i += 1
        }
        if (cut < 0)
          // the first argument ran off the end of the render: a very
          // wide aggregate truncated mid-expression, which could clip
          // a gated input's `__gv` marker out of sight (ADVICE r11)
          throw new IllegalStateException(
            "truncated aggregate render: unterminated collect argument")
        val arg = nodeStr.substring(from, cut)
        keys -> arg.trim.replaceAll("#\\d+L?", "")
      }
    }
  }

  /** Render an aggregate node for `collectAggs`, truncation-proof
    * (ADVICE r11): `simpleString(maxFields)` elides whole FIELDS past
    * the cap (`... N more fields`), which can hide a collect call or
    * its keys list entirely, and a single very wide expression can
    * still leave an unbalanced tail that `collectAggs` now rejects.
    * Start at 10k fields; on the truncation marker or a parse failure,
    * re-render effectively untruncated. A failure AFTER that
    * propagates to the sweep's per-key catch → errs → exit 1, loudly
    * named, never a silently missed collect. */
  private[graft] def collectAggsOf(n: SparkPlan): Seq[(Seq[String], String)] = {
    val first = n.simpleString(10000)
    if (first.contains("more fields")) collectAggs(n.simpleString(Int.MaxValue))
    else try collectAggs(first) catch {
      case _: IllegalStateException => collectAggs(n.simpleString(Int.MaxValue))
    }
  }

  /** Bounded collect group keys: per-entity ids whose membership is
    * bounded by that entity's own row count (a doc's chunks, a query's
    * post-gate candidates), never by corpus cardinality. A collect
    * keyed on a HASH-VALUE key (band, bh, gram…) is only allowed
    * through the gatedBuckets `__gv` path — its per-key membership is
    * corpus-skew-sized (the round-9/10 OOM class). */
  private[graft] val boundedCollectKeys: Set[String] = Set(
    "doc_id", "q_id", "vec_id", "user_id", "video_id", "o_orderkey",
    "l_orderkey", "event_id", "id_a", "id_b", "cid", "nid", "new_id",
    "session_id", "session_seq", "pair_id", "img_id",
    // $lookup/$graphLookup per-result-row ids: the collected array IS
    // the operator's defined output for that row (Mongo materializes
    // the same array per doc) — its size is the row's own match/
    // traversal set, not corpus cardinality
    "__graft_lkp_rid", "__graft_gl_rid")

  /** Fact tables: data-sized at any deployment (dims nation/region are
    * the only fixed-size tables). */
  private[graft] val factTables = Seq("lineitem", "orders", "customer",
    "part", "supplier", "events", "documents", "embeddings")

  /** Round-13 broadcast-premise gate (VERDICT r12 #6): every FORCED
    * broadcast hint whose child has no static Catalyst row bound
    * (`maxRows.isEmpty` — grouping-free aggregates are 1, limits are K)
    * must carry a reviewed bound here, keyed by query, or the sweep
    * hard-fails. The documented bound is the human claim the plan text
    * cannot prove — exactly the collect-exemption pattern (ADVICE r11).
    * t14/p21's weight broadcast is NOT here: round 13 removed it (the
    * tiered head is limit-bounded, so its hint HAS maxRows). Checkpoint
    * caveat: hints inside localCheckpoint subtrees are invisible to the
    * outer analyzed plan — those two carry dedicated maxRows plan-audit
    * specs instead (PlanAuditSpec round-13 gates). */
  private[graft] val reviewedBroadcastBounds: Map[String, String] = {
    val dims = "fixed dimension tables (nation 25 / region 5 rows at any SF)"
    val queryFrame = "query-workload frame: |queries| is a " +
      "corpus-independent eval set (s-family contract); per-query " +
      "aggregates are <= |queries| * k rows"
    val evalSet = "held-out eval benchmark: a fixed artifact, never " +
      "corpus-derived (t10/t17 contract)"
    val batchFrame = "batch-derived probe frames: bounded by the incoming " +
      "micro-batch by the operator's own contract (dd16/st15 scaladoc); " +
      "the corpus side is never broadcast"
    val ladderCells = "Ladders bucketed-cumsum cell frames: <= 256 " +
      "buckets x |groups| boundary rows (p05 family), plus per-source " +
      "allocation frames (|sources| is a dataset-count, not a row count)"
    Map(
      "q05_multi_join" -> dims, "q21_cte" -> dims,
      "st07_stream_enrich" -> dims,
      "s01_ann_bruteforce" -> queryFrame, "s02_ann_ivf" -> queryFrame,
      "s07_ivfpq" -> queryFrame, "s08_mmr_rerank" -> queryFrame,
      "s09_ann_recall" -> queryFrame, "s10_mrl_recall" -> queryFrame,
      "s11_mrl_rerank" -> queryFrame, "s12_range_search" ->
        (queryFrame + "; plus the ladder cell frame on q_id groups"),
      "s13_filtered_search" -> queryFrame,
      "s14_binary_quantize" -> queryFrame, "s15_nprobe_recall" -> queryFrame,
      "s16_index_staleness" -> queryFrame, "m08_phash_search" -> queryFrame,
      "s18_graph_ann" -> (queryFrame + "; the beam/top/hits frames are " +
        "<= |queries| * beam-width rows by the s18 beam bound " +
        "(spec-pinned), and the broadcast frontier is the operator's " +
        "whole scale contract"),
      "s19_graph_insert" -> (queryFrame + "; the per-tier beam/top/hits " +
        "frames inherit the s18 beam bound (spec-pinned per tier), the " +
        "exact ground truth is |queries| * 10 rows, and the insert " +
        "batch's probe frames never broadcast the corpus side"),
      "s20_rank_metrics" -> (queryFrame + "; every broadcast is a " +
        "tier's |queries| * 10 ranked frame or the exact hit set — the " +
        "metric algebra is query-sized by construction"),
      "t10_contamination" -> evalSet, "t17_fuzzy_contamination" -> evalSet,
      "dd16_incremental_dedup" -> batchFrame, "st15_ingest_dedup" -> batchFrame,
      "m14_interleave_pack" -> ladderCells, "p04_stratified" -> ladderCells,
      "p05_token_shards" -> ladderCells, "p10_pack_sequences" -> ladderCells,
      "p13_temperature_mix" -> ladderCells, "p16_curation_dag" -> ladderCells,
      "p17_bpe_token_shards" -> ladderCells, "p20_resume_offset" -> ladderCells,
      "t19_ccnet_buckets" -> ("per-source quantile CUT-KEY frames: <= 2 " +
        "boundary cells per source plus the (source, score-unit) cell " +
        "counts (t19 scaladoc)"),
      "p15_dsir_select" -> ("DSIR hashed-bucket weight frame: 2^B bucket " +
        "space bounded BY CONSTRUCTION — hashing n-grams into a fixed " +
        "bucket count is DSIR's own discipline"))
  }

  /** Fact tables scanned inside a recursion loop's anchor or recursion
    * term (VERDICT r10 #8). UnionLoopExec is a LEAF physical node
    * holding the two LOGICAL plans it re-plans per iteration — plan
    * text shows neither, so the sweep descends into them explicitly.
    * A fact-table scan there means a corpus-sized subplan re-executes
    * every iteration with NO per-iteration checkpoint control — the
    * reason d13/dd06 keep their explicit driver loops (each hop
    * localCheckpoints); recursive CTEs are for bounded dimension
    * graphs only (q35's contract, SCALING.md round 11). */
  private[graft] def recursionFactAnchors(nodes: Seq[SparkPlan]): Seq[String] =
    nodes.flatMap {
      case u: org.apache.spark.sql.execution.UnionLoopExec =>
        Seq(u.anchor, u.recursion).flatMap { lp =>
          val paths = lp.collect {
            case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              lr.relation match {
                case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  fs.location.rootPaths.map(_.toString)
                case _ => Nil
              }
            // DSv2 (docstore) scans: the table's own name carries the
            // backing path
            case dv: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
              Seq(dv.table.name)
          }.flatten
          // word-boundary match: bare `part` must not catch shard
          // file names (`part-00000`) or unrelated dirs
          factTables.filter(t => paths.exists(p =>
            p.contains(s"$t.parquet") || p.contains(s"${t}_docs")))
        }
      case _ => Nil
    }.distinct

  /** Partition-key name lists of every windowspecdefinition in a plan
    * string: the leading depth-0 arguments before the first ordering
    * spec (` ASC`/` DESC`), attribute ids stripped. An empty list is a
    * GLOBAL window. */
  private[graft] def windowPartitionSpecs(plan: String): Seq[Seq[String]] = {
    val marker = "windowspecdefinition("
    Iterator.iterate(plan.indexOf(marker))(i =>
        plan.indexOf(marker, i + 1)).takeWhile(_ >= 0).toSeq.map { start =>
      val args = scala.collection.mutable.ListBuffer[String]()
      val sb = new StringBuilder
      var depth = 0
      var i = start + marker.length
      var done = false
      while (!done && i < plan.length) {
        plan.charAt(i) match {
          case '(' => depth += 1; sb += '('
          case ')' if depth == 0 => args += sb.toString; done = true
          case ')' => depth -= 1; sb += ')'
          case ',' if depth == 0 => args += sb.toString; sb.clear()
          case c => sb += c
        }
        i += 1
      }
      args.toSeq.map(_.trim)
        .takeWhile(a => !a.contains(" ASC") && !a.contains(" DESC") &&
          !a.startsWith("specifiedwindowframe"))
        .map(_.replaceAll("#\\d+L?", ""))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val carts = scala.collection.mutable.ListBuffer[String]()
    val smjs = scala.collection.mutable.ListBuffer[String]()
    val globalWins = scala.collection.mutable.ListBuffer[String]()
    val bigBcasts = scala.collection.mutable.ListBuffer[String]()
    val winParts = scala.collection.mutable.LinkedHashMap[String, Seq[Seq[String]]]()
    val ungatedCollects = scala.collection.mutable.ListBuffer[String]()
    val unboundedBcastHints = scala.collection.mutable.ListBuffer[String]()
    val reviewedBcasts = scala.collection.mutable.ListBuffer[String]()
    val globalCollects = scala.collection.mutable.ListBuffer[String]()
    val boundedCollects = scala.collection.mutable.ListBuffer[String]()
    val recursiveBig = scala.collection.mutable.ListBuffer[String]()
    val multiTextScans = scala.collection.mutable.ListBuffer[String]()
    val errs = scala.collection.mutable.ListBuffer[String]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.count() // executes; rows stay distributed
        val exec = df.queryExecution.executedPlan
        // audit the FINAL adaptive plan only: allNodes descends
        // a.executedPlan, and the string checks drop the `== Initial
        // Plan ==` section — raw toString would flag joins AQE already
        // replanned away at runtime (observed: m09's pre-AQE
        // SortMergeJoin, broadcast-converted in every final stage)
        val names = allNodes(exec).map(_.nodeName)
        if (names.exists(_.contains("CartesianProduct"))) carts += k
        if (names.exists(_.contains("SortMergeJoin"))) smjs += k
        val p = exec.toString.split("== Initial Plan ==").head
        val specs = windowPartitionSpecs(p).distinct
        if (specs.nonEmpty) winParts(k) = specs
        if (specs.exists(_.isEmpty)) globalWins += k
        val hintedBcast = df.queryExecution.analyzed.toString.linesIterator
          .exists(l => l.contains("ResolvedHint") &&
            l.toLowerCase.contains("broadcast"))
        val maxBcast = allNodes(exec)
          .filter(_.nodeName.contains("BroadcastExchange"))
          .flatMap(_.metrics.get("numOutputRows").map(_.value))
        if (hintedBcast && maxBcast.exists(_ > 10000L))
          bigBcasts += s"$k:${maxBcast.max}"
        // round-13 (VERDICT r12 #6): a FORCED broadcast hint whose
        // child Catalyst cannot statically row-bound (maxRows empty —
        // scalar aggregates are Some(1), limits Some(K)) is the
        // t14/p21 premise class: invisible to the measured gate above
        // at bench SF, fatal at 100×. Each needs a reviewed bound or
        // the sweep fails. (Hints inside localCheckpoint subtrees are
        // invisible here — t14/p21 carry dedicated plan-audit specs.)
        df.queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
              if h.hints.strategy.contains(
                org.apache.spark.sql.catalyst.plans.logical.BROADCAST) &&
                h.child.maxRows.isEmpty => h
        }.foreach { h =>
          val cols = h.child.output.map(_.name).take(4).mkString("+")
          if (reviewedBroadcastBounds.contains(k))
            reviewedBcasts += s"$k:$cols"
          else unboundedBcastHints += s"$k:$cols"
        }
        // ungated collect gate (VERDICT r10 #6): a collect_list/set
        // keyed on anything but a per-entity bounded key must ride
        // gatedBuckets (input `__gv` — count-gated to 2..cap BEFORE
        // membership materializes). Hard failure like cartesians: the
        // class OOMs a single task on a degenerate corpus at scale.
        // Keyless collects are a REVIEW inventory (global_collects) —
        // each must have a documented driver-sized bound (centroid/
        // codebook pulls), which plan text cannot prove.
        allNodes(exec).filter(_.nodeName.contains("Aggregate"))
          .flatMap(collectAggsOf)
          .distinct.foreach { case (ks, input) =>
            // gated path matched by CONTAINS: a cast/struct-wrapped
            // gated input (`cast(__gv as …)`) must not trip the gate
            // (review r11). Merge-phase rows print exactly
            // `collect_list(merge buf#…)` — match them EXACTLY, so a
            // real column named `buf`/`buffer_id` is never silently
            // exempted; the real input name rides the partial phase
            // of the same agg.
            if (input.contains("__gv") || input == "merge buf") ()
            else if (ks.isEmpty) globalCollects += s"$k:$input"
            else if (!ks.forall(boundedCollectKeys.contains))
              ungatedCollects += s"$k:[${ks.mkString(" ")}]:$input"
            else
              // NAME-based exemption made reviewable (ADVICE r11): the
              // bounded-key allowlist is per COLUMN NAME, so a future
              // query collecting on a corpus-cardinality column that
              // reuses one of these names would slip the gate — every
              // exempted (query, keys, input) triple rides the sweep
              // JSON for human review instead of vanishing
              boundedCollects += s"$k:[${ks.mkString(" ")}]:$input"
          }
        // recursion guard (VERDICT r10 #8): see recursionFactAnchors
        recursionFactAnchors(allNodes(exec))
          .foreach(t => recursiveBig += s"$k:$t")
        // bounds-rescan cue (round-12 perf pass): more than one
        // text-bearing parquet scan in one executed plan means a
        // tokenizer/kernel ran more than once against raw text — the
        // class the tokenShards/packSpans localCheckpoint barrier
        // closed (m14 first cut: NINE scans). Review cue, not a
        // verdict, in BOTH directions: a second scan can be a
        // deliberate subset read (pushdown-filtered query sides,
        // union branches — dd01/dd18/m08/t10), and AQE stage reuse can
        // print a scan that never re-executes (p18 measured flat) —
        // confirm with a timing A/B before patching.
        val textScans = allNodes(exec).count(n =>
          n.nodeName.contains("Scan") &&
            n.toString.linesIterator.next().contains("parquet") &&
            n.output.exists(_.name == "text"))
        if (textScans > 1) multiTextScans += s"$k:$textScans"
      } catch { case e: Throwable => errs += s"$k:${e.getClass.getSimpleName}" }
    }
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val wp = winParts.map { case (k, specs) =>
      "\"" + k + "\":" + specs.map(s =>
        s.map("\"" + _ + "\"").mkString("[", ",", "]"))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    println(s"""{"n_keys":${graft.SparkEntry.queries.size},""" +
      s""""cartesian":${arr(carts.toSeq)},"sortmerge":${arr(smjs.toSeq)},""" +
      s""""global_windows":${arr(globalWins.toSeq)},""" +
      s""""big_broadcasts":${arr(bigBcasts.toSeq)},""" +
      s""""window_partitions":$wp,""" +
      s""""ungated_collects":${arr(ungatedCollects.distinct.toSeq)},""" +
      s""""unbounded_broadcast_hints":${arr(unboundedBcastHints.distinct.toSeq)},""" +
      s""""reviewed_broadcast_uses":${arr(reviewedBcasts.distinct.toSeq)},""" +
      s""""global_collects":${arr(globalCollects.distinct.toSeq)},""" +
      s""""bounded_collect_uses":${arr(boundedCollects.distinct.toSeq)},""" +
      s""""recursive_big_anchor":${arr(recursiveBig.distinct.toSeq)},""" +
      s""""multi_text_scans":${arr(multiTextScans.distinct.toSeq)},""" +
      s""""errors":${arr(errs.toSeq)},"sf":"$sfDir"}""")
    spark.stop()
    if (carts.nonEmpty || errs.nonEmpty || ungatedCollects.nonEmpty ||
      recursiveBig.nonEmpty || unboundedBcastHints.nonEmpty) sys.exit(1)
  }
}
