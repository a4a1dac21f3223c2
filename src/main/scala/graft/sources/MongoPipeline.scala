package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

/** MongoDB aggregation-pipeline → DataFrame compiler.
  *
  * The reference's SQL layer internally *generates* `$match`/`$group`
  * pipelines for pushdown (reference: src/mongo_optimizer.cpp:1,
  * test/sql/query/groupby_pushdown.test:1). Spark-first, the useful
  * surface is the inverse: let a user who already has Mongo aggregation
  * pipelines run them unchanged against any DataFrame — each stage
  * becomes declarative DataFrame algebra, so Catalyst optimizes the
  * whole pipeline exactly like hand-written Spark code ($match filters
  * push into scans, $group gets partial aggregation, $sort+$limit plans
  * as TopN, $lookup joins participate in broadcast planning).
  *
  * Supported stages: `$match` (full [[MongoFilter]] grammar), `$project`
  * (inclusion / exclusion / computed), `$addFields`/`$set`, `$unset`,
  * `$group`
  * (`$sum $avg $min $max $count $push $addToSet $stdDevPop $stdDevSamp
  * $median $percentile $first $last $top $bottom $topN $bottomN $minN
  * $maxN`), `$sort`, `$limit`, `$skip`, `$unwind` (string and document
  * forms incl. `preserveNullAndEmptyArrays` + `includeArrayIndex`),
  * `$count`, `$sortByCount`,
  * `$bucket`, `$lookup` (equality form, via a collection resolver),
  * `$replaceRoot`/`$replaceWith`, `$redact` (per-level
  * $$KEEP/$$PRUNE/$$DESCEND access control, compiled over the schema),
  * `$unionWith` (with sub-pipeline),
  * `$facet` (input pinned once, facets cross-joined to the one-row doc),
  * `$sample` (rand-keyed TopN → per-partition heaps, optional `seed`),
  * `$setWindowFields` (`$documentNumber $rank $denseRank $shift` +
  * framed accumulators), `$graphLookup` (BFS via iterative join hops,
  * cycle-safe visited dedup, `maxDepth`/`depthField`), `$densify`
  * (numeric or calendar-unit grids; partition / full / explicit bounds),
  * `$fill` (`locf`, `linear` interpolation, constant `value`),
  * `$bucketAuto` (exact equal-count buckets via ntile, contiguous
  * boundaries), `$out` (terminal docstore write), `$merge` (docstore
  * upsert: whenMatched replace / keepExisting / merge / fail,
  * whenNotMatched insert / discard / fail), `$lookup` pipeline/`let`
  * form (correlated subqueries; `$expr` equalities become join keys),
  * `$vectorSearch` (Atlas ANN → exact cosine TopN, `filter` pre-filter,
  * score via `{$meta: "vectorSearchScore"}`).
  *
  * Expression operators (the aggregation expression language):
  * `"$field"` paths, `$$variables` (`$let`, lambda vars, `$$ROOT` /
  * `$$CURRENT` as the whole-document struct), `$mergeObjects` (document
  * literals merged via withField), `$literal`,
  * arithmetic (`$add $subtract $multiply $divide $mod $abs $round
  * $floor $ceil $trunc $pow $sqrt $exp $ln $log $log10`), bitwise
  * (`$bitAnd $bitOr $bitXor $bitNot`), trigonometry
  * (`$sin $cos $tan $asin $acos $atan $atan2 $sinh $cosh $tanh
  * $asinh $acosh $atanh $degreesToRadians $radiansToDegrees`), string
  * (`$concat $toUpper
  * $toLower $trim $ltrim $rtrim $strcasecmp $strLenCP $strLenBytes
  * $substrCP $substrBytes $binarySize $split
  * $indexOfCP $replaceAll $regexMatch`), date (`$year $month
  * $dayOfMonth $hour $minute $second $millisecond $dayOfWeek
  * $dayOfYear $week $isoWeek $isoDayOfWeek $isoWeekYear $dateToString
  * $dateFromString $dateFromParts $dateToParts $dateDiff $dateAdd
  * $dateSubtract $dateTrunc`), regex (`$regexMatch $regexFind`),
  * `$meta`, conversion (`$toInt $toLong $toDouble $toString
  * $toBool $toDate $convert` with try-cast `onError`), BSON-timestamp
  * accessors (`$tsSecond $tsIncrement` over the VARCHAR envelope), type
  * introspection (`$type $isNumber`), comparison (`$eq $ne $gt $gte
  * $lt $lte $cmp`), boolean (`$and $or $not`), conditional (`$cond
  * $ifNull $switch`), array (`$size $arrayElemAt $first $last
  * $concatArrays $reverseArray $slice $in $indexOfArray $sortArray
  * $range $zip $filter $map $reduce`), set (`$setUnion
  * $setIntersection $setDifference $setIsSubset $setEquals
  * $allElementsTrue
  * $anyElementTrue`), `$getField`, `$let`, `$rand`, document-literal →
  * struct. Higher-order operators compile to Spark lambda functions
  * (`transform`/`filter`/`aggregate`) — still pure column algebra, no
  * UDFs.
  *
  * Scale: output is pure declarative DataFrame algebra — no UDFs, no
  * driver loops; a pipeline is exactly as fast as the equivalent
  * hand-written query.
  */
object MongoPipeline {
  import DocValue._

  /** Mongo `$project` value classification, centralized (ADVICE r11):
    * Mongo treats ANY numeric zero (`0`, `0.0`, `NumberLong(0)`) or
    * `false` as an exclusion marker and any non-zero number or `true`
    * as inclusion. One predicate feeds both the `$size`-of-`$addToSet`
    * peephole's inclusion-mode check and `applyStage`'s `$project`
    * handling, so the two can never drift apart. */
  private[sources] def isExclusionValue(v: DocValue): Boolean = v match {
    case DLong(x)   => x == 0L
    case DDouble(x) => x == 0.0
    case DBool(b)   => !b
    case _          => false
  }

  /** `{"f": <truthy number|true>}` — include field `f` by key. */
  private[sources] def isInclusionFlag(v: DocValue): Boolean = v match {
    case DLong(x)   => x != 0L
    case DDouble(x) => x != 0.0
    case DBool(b)   => b
    case _          => false
  }

  /** Run a pipeline (extended-JSON array of stage documents) against a
    * DataFrame. `resolver` maps `$lookup.from` collection names to
    * DataFrames (pass the catalog/Tables accessor of your deployment).
    */
  def aggregate(df: DataFrame, pipelineJson: String,
      resolver: String => DataFrame = null): DataFrame = {
    val parsed = ExtJson.parse(s"""{"p": $pipelineJson}""")
    val stages = parsed.fields.toMap.get("p") match {
      case Some(DArray(items)) if items.forall(_.isInstanceOf[DDoc]) =>
        items.map(_.asInstanceOf[DDoc])
      case other => throw bad(s"pipeline must be an array of stages, got $other")
    }
    // $vectorSearch's score rides a hidden column so later stages can
    // project it via {$meta: "vectorSearchScore"}; strip it when the
    // pipeline never did (Mongo drops the score unless projected)
    stripVs(rewriteSizeOfAddToSet(stages)
      .foldLeft(df)((acc, st) => applyStage(acc, st, resolver)))
  }

  /** Peephole (round 11, found by PlanSweep's ungated-collect gate): a
    * `$group` `$addToSet` field consumed by the NEXT `$project` ONLY as
    * `{"$size": "$f"}` compiles to `count_distinct` instead of
    * materializing the set. The literal compile is the scale bug the
    * repo bans everywhere else — collect_set keyed on a LOW-cardinality
    * group key holds every distinct member of a data-sized domain (all
    * user_ids of an event_type) in ONE aggregation buffer, the exact
    * single-task-OOM class gatedBuckets closes for the LSH indexes —
    * while the user-visible semantics need only the cardinality.
    * count_distinct is Spark's partial-aggregated distinct count: the
    * same answer, map-side combined, no membership array anywhere.
    * (Cast to INT: Mongo's `$size` returns Int32.) Conservative: fires
    * only when the projection mentions the field exactly once, as that
    * `$size` call, with no other reference anywhere in the stage. */
  private[sources] def rewriteSizeOfAddToSet(stages: Seq[DDoc]): Seq[DDoc] = {
    def mentions(v: DocValue, f: String): Int = v match {
      case DString(s) => if (s == s"$$$f" || s.startsWith(s"$$$f.")) 1 else 0
      case DArray(items) => items.map(mentions(_, f)).sum
      case d: DDoc => d.fields.map { case (_, fv) => mentions(fv, f) }.sum
      case _ => 0
    }
    stages match {
      case g +: p +: rest =>
        (g.fields, p.fields) match {
          case (Seq(("$group", gspec: DDoc)), Seq(("$project", pspec: DDoc))) =>
            val setFields = gspec.fields.collect {
              case (f, DDoc(Seq(("$addToSet", _)))) if f != "_id" => f }
            // inclusion-mode only: an exclusion-mode $project (all
            // non-_id entries 0/false) passes unmentioned fields
            // THROUGH, so the set field survives without appearing
            val inclusionMode = pspec.fields.exists { case (k, v) =>
              k != "_id" && !isExclusionValue(v) }
            val rewritable = if (!inclusionMode) Set.empty[String]
              else setFields.filter { f =>
                pspec.fields.map { case (_, v) => mentions(v, f) }.sum == 1 &&
                  pspec.fields.exists {
                    case (_, DDoc(Seq(("$size", DString(s))))) => s == s"$$$f"
                    case _ => false
                  } &&
                  // `"f": 1` / `"f.x": 1` inclusion references the
                  // field by KEY, not by `$f` — a pass-through keeps
                  // the array
                  !pspec.fields.exists { case (k, _) =>
                    k == f || k.startsWith(s"$f.") }
              }.toSet
            if (rewritable.isEmpty)
              g +: rewriteSizeOfAddToSet(p +: rest)
            else {
              val g2 = DDoc(gspec.fields.map {
                case (f, DDoc(Seq(("$addToSet", operand))))
                    if rewritable(f) =>
                  f -> DDoc(Seq("$__countDistinct" -> operand))
                case kv => kv
              })
              val p2 = DDoc(pspec.fields.map {
                case (a, DDoc(Seq(("$size", DString(s)))))
                    if s.startsWith("$") && rewritable(s.drop(1)) =>
                  a -> DString(s)
                case kv => kv
              })
              DDoc(Seq("$group" -> g2)) +: DDoc(Seq("$project" -> p2)) +:
                rewriteSizeOfAddToSet(rest)
            }
          case _ => g +: rewriteSizeOfAddToSet(p +: rest)
        }
      case s => s
    }
  }

  /** Hidden column carrying `$vectorSearch`'s similarity score between
    * the stage and a `{$meta: "vectorSearchScore"}` projection. */
  private[sources] val VsScoreCol = "__graft_vs_score"
  /** Same for `$search`'s BM25 relevance → `{$meta: "searchScore"}`. */
  private[sources] val SearchScoreCol = "__graft_search_score"
  /** Same for `$rankFusion`'s fused score → `{$meta: "score"}`. */
  private[sources] val FusionScoreCol = "__graft_fusion_score"

  private val HiddenCols = Seq(VsScoreCol, SearchScoreCol, FusionScoreCol)

  /** Drop unprojected search/fusion scores — applied wherever a
    * sub-pipeline's frame becomes user-visible (top-level result,
    * `$unionWith`/`$facet`/`$lookup` sub-pipelines, `$out`/`$merge`). */
  private def stripVs(df: DataFrame): DataFrame = {
    val present = HiddenCols.filter(df.columns.contains)
    if (present.nonEmpty) df.drop(present: _*) else df
  }

  private def applyStage(df: DataFrame, stage: DDoc,
      resolver: String => DataFrame): DataFrame = {
    // $$ROOT / $$CURRENT = the whole current document as a struct (the
    // canonical {$push: "$$ROOT"} / $replaceRoot / $mergeObjects input);
    // internal bookkeeping columns stay invisible to it
    lazy val rootEnv: Map[String, Column] = {
      val rootCol = struct(df.columns.filterNot(_.startsWith("__graft"))
        .map(col).toIndexedSeq: _*)
      Map("ROOT" -> rootCol, "CURRENT" -> rootCol)
    }
    stage.fields.toList match {
    case (op, spec) :: Nil => op match {
      case "$match" => spec match {
        case d: DDoc => df.filter(toColumn(MongoFilter.compileDoc(d)))
        case other   => throw bad(s"$$match needs a document, got $other")
      }

      case "$project" => spec match {
        case d: DDoc =>
          val (excl, rest) = d.fields.partition { case (_, v) =>
            isExclusionValue(v) }
          if (excl.nonEmpty && rest.isEmpty)
            df.drop(excl.map(_._1): _*) // pure exclusion form
          else if (excl.exists(_._1 != "_id"))
            throw bad("$project cannot mix inclusion and exclusion")
          else {
            val picked = rest.map {
              case (f, v) if isInclusionFlag(v) => col(f)
              case (f, v) => valueExpr(v, rootEnv).as(f) // rename / computed
            }
            // Mongo includes _id by default in inclusion projections
            // unless the spec says "_id": 0 (the only exclusion allowed
            // here) or lists it explicitly.
            val withId =
              if (excl.isEmpty && !rest.exists(_._1 == "_id") &&
                  df.columns.contains("_id")) col("_id") +: picked
              else picked
            df.select(withId: _*)
          }
        case other => throw bad(s"$$project needs a document, got $other")
      }

      case "$addFields" | "$set" => spec match {
        case d: DDoc => d.fields.foldLeft(df) { case (acc, (f, v)) =>
          setPath(acc, f, valueExpr(v, rootEnv)) }
        case other => throw bad(s"$op needs a document, got $other")
      }

      case "$unset" => spec match { // exclusion-$project shorthand
        case DString(f)    => df.drop(f)
        case DArray(items) => df.drop(items.map {
          case DString(f) => f
          case x          => throw bad(s"$$unset field: $x")
        }: _*)
        case other => throw bad(s"$$unset needs a field or array, got $other")
      }

      case "$group" => spec match {
        case d: DDoc =>
          val fs = d.fields.toMap
          val idSpec = fs.getOrElse("_id", throw bad("$group needs _id"))
          val aggs = d.fields.filter(_._1 != "_id").map { case (alias, aspec) =>
            groupAccumulator(aspec, rootEnv).as(alias) }
          val grouped = idSpec match {
            case DNull => df.groupBy() // global aggregate
            case v     => df.groupBy(valueExpr(v, rootEnv).as("_id"))
          }
          if (aggs.isEmpty) grouped.agg(count(lit(1)).as("__n")).drop("__n")
          else grouped.agg(aggs.head, aggs.tail: _*)
        case other => throw bad(s"$$group needs a document, got $other")
      }

      case "$sort" => spec match {
        case d: DDoc => df.orderBy(d.fields.map {
          case (f, DLong(1))  => col(f).asc
          case (f, DLong(-1)) => col(f).desc
          // {"score": {"$meta": "..."}} sorts by relevance metadata —
          // DESCENDING, like Mongo's textScore sort convention
          case (_, md @ DDoc(Seq(("$meta", _)))) => valueExpr(md).desc
          case (f, v) => throw bad(s"$$sort $f needs 1, -1, or {$$meta}, got $v")
        }: _*)
        case other => throw bad(s"$$sort needs a document, got $other")
      }

      case "$limit" => spec match {
        case DLong(n) => df.limit(n.toInt)
        case other    => throw bad(s"$$limit needs an integer, got $other")
      }
      case "$skip" => spec match {
        case DLong(n) => df.offset(n.toInt)
        case other    => throw bad(s"$$skip needs an integer, got $other")
      }

      case "$unwind" => unwindStage(df, spec)

      case "$count" => spec match {
        case DString(name) => df.agg(count(lit(1)).as(name))
        case other => throw bad(s"$$count needs a string, got $other")
      }

      case "$sortByCount" =>
        df.groupBy(valueExpr(spec, rootEnv).as("_id"))
          .agg(count(lit(1)).as("count"))
          .orderBy(col("count").desc, col("_id"))

      case "$bucket" => spec match {
        case d: DDoc =>
          val m = d.fields.toMap
          val gb = valueExpr(m.getOrElse("groupBy",
            throw bad("$bucket needs groupBy")), rootEnv)
          val bounds = m.get("boundaries") match {
            case Some(DArray(bs)) if bs.size >= 2 => bs.map(valueExpr)
            case other => throw bad(s"$$bucket needs >=2 boundaries, got $other")
          }
          // bucket label = its inclusive lower bound; out-of-range rows
          // need `default` (Mongo errors without one — here they error at
          // analysis time only if no default and a row misses, which we
          // can't check statically, so require default like Mongo's
          // strict mode would)
          val inBuckets = bounds.sliding(2).toSeq.foldLeft(
            lit(null).cast("string").as("x")) { case (acc, Seq(lo, hi)) =>
            when(gb >= lo && gb < hi, lo.cast("string")).otherwise(acc)
          }
          val bucketed = m.get("default") match {
            case Some(dflt) => coalesce(inBuckets, valueExpr(dflt).cast("string"))
            case None       => inBuckets
          }
          val outs = m.get("output") match {
            case Some(o: DDoc) => o.fields.map { case (alias, aspec) =>
              groupAccumulator(aspec, rootEnv).as(alias) }
            case None    => Seq(count(lit(1)).as("count"))
            case Some(x) => throw bad(s"$$bucket.output needs a document, got $x")
          }
          df.groupBy(bucketed.as("_id")).agg(outs.head, outs.tail: _*)
            .orderBy(col("_id"))
        case other => throw bad(s"$$bucket needs a document, got $other")
      }

      case "$lookup" => spec match {
        case d: DDoc =>
          if (resolver == null) throw bad("$lookup needs a collection resolver")
          val m = d.fields.toMap
          if (m.contains("pipeline") || m.contains("let"))
            return lookupPipeline(df, m, resolver)
          def str(k: String): String = m.get(k) match {
            case Some(DString(s)) => s
            case other => throw bad(s"$$lookup.$k needs a string, got $other")
          }
          val (from, local, foreign, as) =
            (str("from"), str("localField"), str("foreignField"), str("as"))
          val fdf = resolver(from)
          // Mongo semantics: `as` becomes the ARRAY of matching foreign
          // docs (empty array when none). Group the foreign side first so
          // the join is 1:1 — no row multiplication, broadcast-eligible.
          // A pre-existing `as` column is REPLACED (Mongo overwrite
          // semantics): capture the join key into a fresh temp first (in
          // case as == localField), drop the old `as`, and qualify both
          // join keys by frame so nothing is ambiguous.
          val tmpLocal = freshName(df.columns ++ fdf.columns, "__graft_lookup_l")
          val key = freshName(df.columns ++ fdf.columns, "__graft_lookup_k")
          val left0 = df.withColumn(tmpLocal, col(local))
          val left = if (df.columns.contains(as)) left0.drop(as) else left0
          val matched = fdf
            .groupBy(col(foreign).as(key))
            .agg(collect_list(struct(fdf.columns.map(col): _*)).as(as))
          left.join(matched, left(tmpLocal) === matched(key), "left_outer")
            .drop(tmpLocal).drop(key)
            .withColumn(as, coalesce(col(as), array()))
        case other => throw bad(s"$$lookup needs a document, got $other")
      }

      case "$graphLookup" => spec match {
        case d: DDoc =>
          if (resolver == null) throw bad("$graphLookup needs a collection resolver")
          val m = d.fields.toMap
          def str(k: String): String = m.get(k) match {
            case Some(DString(s)) => s
            case other => throw bad(s"$$graphLookup.$k needs a string, got $other")
          }
          val (from, as) = (str("from"), str("as"))
          val (connectFrom, connectTo) = (str("connectFromField"), str("connectToField"))
          val startWith = m.getOrElse("startWith",
            throw bad("$graphLookup needs startWith"))
          val maxDepth = m.get("maxDepth") match {
            case Some(DLong(n)) => n.toInt
            case None           => Int.MaxValue // visited-set convergence bounds it
            case Some(x) => throw bad(s"$$graphLookup.maxDepth needs an integer, got $x")
          }
          val depthField = m.get("depthField") match {
            case Some(DString(f)) => Some(f)
            case None             => None
            case Some(x) => throw bad(s"$$graphLookup.depthField needs a string, got $x")
          }
          val fdf0 = resolver(from)
          // restrictSearchWithMatch: extra filter on traversal candidates
          val fdf = m.get("restrictSearchWithMatch") match {
            case Some(rd: DDoc) =>
              fdf0.filter(toColumn(MongoFilter.compileDoc(rd)))
            case None    => fdf0
            case Some(x) =>
              throw bad(s"$$graphLookup.restrictSearchWithMatch needs a document, got $x")
          }
          val taken = df.columns ++ fdf.columns
          val rid = freshName(taken, "__graft_gl_rid")
          val kCol = freshName(taken, "__graft_gl_k")
          val keyCol = freshName(taken, "__graft_gl_key")
          val nextCol = freshName(taken, "__graft_gl_next")
          val docCol = freshName(taken, "__graft_gl_doc")
          val dCol = freshName(taken, "__graft_gl_d")
          val hCol = freshName(taken, "__graft_gl_h")
          // row identity survives the loop; the LAZY checkpoint pins the
          // ids without a driver-blocking job — the RDD materializes once
          // inside the first consuming job and every later consumer
          // (frontier seed, final join) reads the same pinned rows.
          // Mongo overwrite semantics for `as`.
          val left0 = df.withColumn(rid, monotonically_increasing_id())
            .localCheckpoint(false)
          val left = if (df.columns.contains(as)) left0.drop(as) else left0
          // foreign side once: (match key, next-hop key, whole doc, doc
          // hash). The 64-bit hash is the doc's identity for visited-set
          // bookkeeping: anti-joining on (rid, hash) shuffles 16-byte
          // keys instead of whole documents and compares in O(1), where
          // a whole-struct <=> join re-shuffles every wide row each hop.
          // Accepted tradeoff: an xxhash64 collision between two DISTINCT
          // reachable docs (p ≈ n²/2⁶⁵ per input row) would drop one from
          // the result — the standard birthday bound every hash-keyed
          // dedup in this engine shares.
          // finite small maxDepth (the common $graphLookup shape: org
          // charts, category trees) UNROLLS the hops into one lazy plan:
          // zero driver actions in the loop, and the one plan reuses the
          // foreign side's exchange across hops. Deep/unbounded
          // traversals instead probe emptiness per hop so termination is
          // the graph diameter — one count() per hop, each hop
          // materialized once.
          val unrolled = maxDepth <= 8
          // localCheckpoint, never persist: a persist() registers the
          // plan in the session CacheManager, where a LATER query whose
          // plan matches (e.g. the same $graphLookup re-run after $out
          // rewrote the collection) silently gets the stale cached data.
          // Checkpoint RDDs are scoped to this pipeline's plan and
          // GC-released. Eager for the probed path (materialize once
          // before the per-hop counts), lazy for the unrolled path (no
          // driver action; materializes inside the final job).
          val foreign = fdf.select(col(connectTo).as(keyCol),
            col(connectFrom).as(nextCol),
            struct(fdf.columns.map(col): _*).as(docCol))
            .withColumn(hCol, xxhash64(to_json(col(docCol))))
            .localCheckpoint(!unrolled)
          def hop(frontier: DataFrame, depth: Int): DataFrame =
            frontier.join(foreign, frontier(kCol) === foreign(keyCol))
              .select(col(rid), col(docCol), col(hCol), col(nextCol),
                lit(depth).cast("long").as(dCol))
          // BFS: each hop is one join shuffle; visited dedup (per input row,
          // per foreign DOC) both handles cycles and gives min-depth
          // semantics like Mongo. Iterations ≤ maxDepth (unrolled) or the
          // graph diameter (probed). Hop 0 needs no anti-join (nothing
          // visited yet). Every hop frame is LAZILY localCheckpoint'ed:
          // the flat LogicalRDD node keeps hop k's plan from embedding
          // every previous hop's (the analyzed tree otherwise grows
          // 2^depth), adds no driver action, computes each hop once
          // inside the final job — and avoids persist()'s CacheManager
          // registration (stale-plan-match hazard above). The probed
          // path's per-hop count materializes it eagerly anyway.
          def pin(d: DataFrame): DataFrame = d.localCheckpoint(false)
          var frontier = left.select(col(rid), valueExpr(startWith).as(kCol))
          var fresh = pin(hop(frontier, 0).dropDuplicates(Seq(rid, hCol)))
          var freshN = if (unrolled) 1L else fresh.count()
          var visited = fresh
          var depth = 0
          while (depth < maxDepth && freshN > 0) {
            depth += 1
            frontier = fresh.select(col(rid), col(nextCol).as(kCol)).distinct()
            val hits = hop(frontier, depth)
            fresh = pin(hits
              .join(visited.select(col(rid).as("__vr"), col(hCol).as("__vh")),
                hits(rid) === col("__vr") && hits(hCol) === col("__vh"),
                "left_anti")
              .dropDuplicates(Seq(rid, hCol)))
            if (!unrolled) freshN = fresh.count()
            visited = visited.unionByName(fresh) // empty tail union is free
          }
          val withDepth = depthField match {
            case Some(f) => col(docCol).withField(f, col(dCol))
            case None    => col(docCol)
          }
          // array_sort for a deterministic array (Mongo leaves order
          // unspecified); struct sort is lexicographic on field order
          val collected = visited.select(col(rid), withDepth.as(docCol))
            .groupBy(col(rid))
            .agg(array_sort(collect_list(col(docCol))).as(as))
          val emptyArr = toColumn(
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Any]),
              collected.schema(as).dataType))
          left.join(collected, Seq(rid), "left_outer")
            .withColumn(as, coalesce(col(as), emptyArr))
            .drop(rid)
        case other => throw bad(s"$$graphLookup needs a document, got $other")
      }

      case "$densify" => spec match {
        case d: DDoc =>
          val m = d.fields.toMap
          val field = m.get("field") match {
            case Some(DString(f)) => f
            case other => throw bad(s"$$densify.field needs a string, got $other")
          }
          val parts: Seq[String] = m.get("partitionByFields") match {
            case Some(DArray(items)) => items.map {
              case DString(s) => s
              case x => throw bad(s"$$densify.partitionByFields: $x")
            }
            case None    => Seq.empty
            case Some(x) => throw bad(s"$$densify.partitionByFields needs an array, got $x")
          }
          val range = m.get("range") match {
            case Some(r: DDoc) => r.fields.toMap
            case other => throw bad(s"$$densify.range needs a document, got $other")
          }
          val stepExpr: Column = (range.get("step"), range.get("unit")) match {
            case (Some(DLong(n)), None)   => lit(n)
            case (Some(DDouble(x)), None) => lit(x)
            case (Some(DLong(n)), Some(DString(u)))
              if Set("year", "month", "week", "day", "hour", "minute",
                "second")(u) =>
              if (u == "week") expr(s"INTERVAL '${n * 7}' DAY")
              else expr(s"INTERVAL '$n' ${u.toUpperCase}")
            case other => throw bad(s"$$densify.range.step/unit: $other")
          }
          // Spark sequence() only supports integral/temporal elements; a
          // double step would fail analysis. Build fractional grids from
          // an integral index sequence scaled back: lo + i·step for
          // i ∈ [0, ⌊(hi−lo)/step⌋].
          val fracStep: Option[Double] = range.get("step") match {
            case Some(DDouble(x)) => Some(x)
            case _                => None
          }
          def gridOf(lo: Column, hi: Column): Column = fracStep match {
            // the epsilon keeps an inclusive upper bound that lands ON the
            // grid from being floored away when (hi−lo)/step is a hair
            // under an integer (e.g. 0.3/0.1 → 2.9999…): repeated-addition
            // semantics would reach it
            case Some(x) => explode(transform(
              sequence(lit(0L),
                floor((hi.cast("double") - lo.cast("double")) / lit(x)
                  + lit(1e-9)).cast("bigint"), lit(1L)),
              i => lo + i * lit(x)))
            case None => explode(sequence(lo, hi, stepExpr))
          }
          // bounds: per-partition [min,max], global [min,max] applied to
          // every partition ("full"), or an explicit half-open [lo, hi)
          val bounds = range.getOrElse("bounds", throw bad("$densify needs bounds"))
          val partCols = parts.map(col)
          val distinctParts =
            if (parts.isEmpty) df.select(lit(1).as("__one")).limit(1)
            else df.select(partCols: _*).distinct()
          val grid = bounds match {
            case DString("partition") =>
              if (parts.isEmpty) throw bad("$densify bounds 'partition' needs partitionByFields")
              df.groupBy(partCols: _*)
                .agg(min(col(field)).as("__lo"), max(col(field)).as("__hi"))
                .select(parts.map(col) :+
                  gridOf(col("__lo"), col("__hi")).as(field): _*)
            case DString("full") =>
              val mm = df.agg(min(col(field)).as("__lo"), max(col(field)).as("__hi"))
              distinctParts.crossJoin(broadcast(mm))
                .select((if (parts.isEmpty) Seq.empty[Column] else parts.map(col)) :+
                  gridOf(col("__lo"), col("__hi")).as(field): _*)
            case DArray(Seq(lo, hi)) => // half-open like Mongo
              distinctParts
                .select((if (parts.isEmpty) Seq.empty[Column] else parts.map(col)) :+
                  gridOf(valueExpr(lo), valueExpr(hi)).as(field): _*)
                .filter(col(field) < valueExpr(hi))
            case x => throw bad(s"$$densify.range.bounds: $x")
          }
          val gridCols = (parts :+ field).map(col)
          // only grid points MISSING from their partition become new docs
          // (anti join on partition+field); existing off-grid docs survive
          val missing = grid.join(
            df.select(gridCols: _*), parts :+ field, "left_anti")
          df.unionByName(missing, allowMissingColumns = true)
        case other => throw bad(s"$$densify needs a document, got $other")
      }

      case "$fill" => spec match {
        case d: DDoc =>
          import org.apache.spark.sql.expressions.Window
          val m = d.fields.toMap
          val partition: Seq[Column] = m.get("partitionBy") match {
            case Some(DString(p)) => Seq(col(fieldPath(p)))
            case Some(p: DDoc)    => p.fields.map { case (_, e) => valueExpr(e) }
            case None             => Seq.empty
            case Some(x) => throw bad(s"$$fill.partitionBy: $x")
          }
          val sortCols = m.get("sortBy") match {
            case Some(s: DDoc) => s.fields.map {
              case (f, DLong(1))  => col(f).asc
              case (f, DLong(-1)) => col(f).desc
              case (f, x) => throw bad(s"$$fill.sortBy.$f needs 1 or -1, got $x")
            }
            case None    => Seq.empty
            case Some(x) => throw bad(s"$$fill.sortBy needs a document, got $x")
          }
          val sortKey = m.get("sortBy") match { // numeric x for linear interp
            case Some(s: DDoc) if s.fields.size == 1 => Some(col(s.fields.head._1))
            case _                                   => None
          }
          val base = Window.partitionBy(partition: _*)
          val ordered = if (sortCols.nonEmpty) base.orderBy(sortCols: _*) else base
          val wPrev = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val wNext = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
          val outputs = m.getOrElse("output", throw bad("$fill needs output")) match {
            case o: DDoc => o.fields
            case x       => throw bad(s"$$fill.output needs a document, got $x")
          }
          outputs.foldLeft(df) { case (acc, (f, ospec)) =>
            val y = col(f)
            val filled = ospec match {
              case DDoc(Seq(("value", v))) => coalesce(y, valueExpr(v))
              case DDoc(Seq(("method", DString("locf")))) =>
                if (sortCols.isEmpty) throw bad("$fill locf requires sortBy")
                last(y, ignoreNulls = true).over(wPrev)
              case DDoc(Seq(("method", DString("linear")))) =>
                val x = sortKey.getOrElse(
                  throw bad("$fill linear requires a single-field sortBy"))
                val px = last(when(y.isNotNull, x), ignoreNulls = true).over(wPrev)
                val py = last(y, ignoreNulls = true).over(wPrev)
                val nx = first(when(y.isNotNull, x), ignoreNulls = true).over(wNext)
                val ny = first(y, ignoreNulls = true).over(wNext)
                // interpolate strictly BETWEEN known points; nulls before
                // the first / after the last known value stay null (Mongo)
                when(y.isNotNull, y).otherwise(
                  py + (ny - py) * (x - px) / (nx - px))
              case x => throw bad(s"$$fill.output.$f: unsupported spec $x")
            }
            acc.withColumn(f, filled)
          }
        case other => throw bad(s"$$fill needs a document, got $other")
      }

      case "$replaceRoot" | "$replaceWith" =>
        val rootExpr = (op, spec) match {
          case ("$replaceRoot", d: DDoc) => docField(op, d, "newRoot")
          case ("$replaceWith", e)       => e
          case (_, other) => throw bad(s"$$replaceRoot needs {newRoot: ...}, got $other")
        }
        // promote the (struct-typed) expression to the document root
        df.select(valueExpr(rootExpr, rootEnv).as("__graft_root"))
          .select(col("__graft_root.*"))

      // $redact: field-level access control — the decision expression is
      // re-evaluated at EVERY document level (the row, each embedded doc,
      // docs inside arrays) and must resolve to $$KEEP (keep the subtree
      // as-is), $$PRUNE (remove the subtree — the row itself at the top
      // level, a null field below it, removal from arrays), or $$DESCEND
      // (keep this level's scalars, recurse into embedded docs). Field
      // paths in the expression resolve against the CURRENT level (Mongo
      // binds bare paths to $$CURRENT there); a field missing at some
      // level reads as null, so `{$ifNull: [..., default]}` guards are
      // honored. Compiled entirely at plan time by recursing over the
      // frame's struct schema — per-row work is pure column algebra.
      // Divergence note: a null element of an array of documents is
      // dropped alongside pruned elements (Spark cannot distinguish the
      // two after elementwise redaction).
      case "$redact" =>
        import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
        val Prune = "__graft_redact_prune"
        val Descend = "__graft_redact_descend"
        val Keep = "__graft_redact_keep"
        // Rewrite bare "$field" refs to fresh $$variables so the one
        // decision AST evaluates at any level: each level binds the
        // variables to its own (schema-checked) field columns. $literal
        // sub-trees are opaque, like everywhere else in the language.
        val refs = scala.collection.mutable.LinkedHashMap.empty[String, String]
        def rewrite(v: DocValue): DocValue = v match {
          case lit0 @ DDoc(Seq(("$literal", _)))   => lit0
          case DString(s) if s.startsWith("$$")    => DString(s)
          case DString(s) if s.startsWith("$")     =>
            DString("$$" + refs.getOrElseUpdate(s.drop(1), s"__rf${refs.size}"))
          case DArray(items) => DArray(items.map(rewrite))
          case d: DDoc => DDoc(d.fields.map { case (k, x) => (k, rewrite(x)) })
          case other => other
        }
        val decisionAst = rewrite(spec)
        def resolve(base: Column, tpe: DataType, path: List[String]): Column =
          (tpe, path) match {
            case (_, Nil) => base
            case (st: StructType, h :: t) if st.fieldNames.contains(h) =>
              resolve(base.getField(h), st(h).dataType, t)
            case _ => lit(null) // missing at this level = Mongo's missing
          }
        val rootC = struct(df.columns.map(col): _*)
        def decision(base: Column, tpe: StructType): Column = {
          val d = valueExpr(decisionAst, Map(
            "ROOT" -> rootC, "CURRENT" -> base,
            "PRUNE" -> lit(Prune), "DESCEND" -> lit(Descend),
            "KEEP" -> lit(Keep)) ++
            refs.map { case (p, n) =>
              n -> resolve(base, tpe, p.split('.').toList) })
          when(d.isin(Prune, Descend, Keep), d).otherwise(raise_error(concat(
            lit("$redact must resolve to $$PRUNE/$$DESCEND/$$KEEP, got "),
            coalesce(d.cast("string"), lit("null")))))
        }
        def redactValue(v: Column, dt: DataType): Column = dt match {
          case st: StructType =>
            val d = decision(v, st)
            when(v.isNull, v)
              .when(d === Keep, v)
              .when(d === Prune, lit(null))
              .otherwise(struct(st.fields.map(f =>
                redactValue(v.getField(f.name), f.dataType).as(f.name)): _*))
          case at: ArrayType => at.elementType match {
            case st: StructType =>
              filter(transform(v, x => redactValue(x, st)), _.isNotNull)
            case inner: ArrayType =>
              transform(v, x => redactValue(x, inner))
            case _ => v
          }
          case _ => v
        }
        val topDec = decision(rootC, df.schema)
        df.filter(topDec =!= Prune)
          .select(df.schema.fields.map { f =>
            when(topDec === Keep, col(f.name))
              .otherwise(redactValue(col(f.name), f.dataType)).as(f.name)
          }: _*)

      // Atlas's ANN stage compiled to the exact cosine top-k the engine
      // already owns (operators/Similarity.scala s01): score every doc
      // with the codegen'd cosine kernel, normalize to Atlas's
      // (1+cos)/2 ∈ [0,1], TopN on the score. `numCandidates`/`index`
      // are accepted for API parity and ignored — they size an ANN
      // index's candidate pool, and an exact scan supersedes both
      // (`exact: true` semantics); `filter` pre-filters with the full
      // MongoFilter grammar BEFORE scoring, so it pushes into the scan.
      case "$vectorSearch" => spec match {
        case d: DDoc =>
          val m = d.fields.toMap
          val path = m.get("path") match {
            case Some(DString(s)) => s
            case other => throw bad(s"$$vectorSearch.path needs a string, got $other")
          }
          val qv: Seq[Float] = m.get("queryVector") match {
            case Some(DArray(items)) => items.map {
              case DDouble(x) => x.toFloat
              case DLong(l)   => l.toFloat
              case x => throw bad(s"$$vectorSearch.queryVector: $x")
            }
            case other => throw bad(s"$$vectorSearch needs queryVector, got $other")
          }
          val limitN = m.get("limit") match {
            case Some(DLong(n)) if n >= 1 => n.toInt
            case other =>
              throw bad(s"$$vectorSearch.limit needs a positive integer, got $other")
          }
          val base = m.get("filter") match {
            case Some(fd: DDoc) => df.filter(toColumn(MongoFilter.compileDoc(fd)))
            case None           => df
            case Some(x) => throw bad(s"$$vectorSearch.filter needs a document, got $x")
          }
          base.withColumn(VsScoreCol,
            (graft.functions.vectors.cosine_sim(col(path),
              array(qv.map(lit(_)): _*)) + 1.0) / 2.0)
            .orderBy(col(VsScoreCol).desc)
            .limit(limitN)
        case other => throw bad(s"$$vectorSearch needs a document, got $other")
      }

      // Atlas Search's `text` operator, scored with Lucene's BM25
      // (k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + 0.5)/(df + 0.5)),
      // tf_norm = tf/(tf + k1·(1 − b + b·dl/avgdl)); reference test
      // surface has no $search — this mirrors the published operator so
      // an Atlas user's hybrid pipelines run unchanged). Analyzer subset:
      // lowercase + split on non-alphanumeric (Lucene's standard analyzer
      // minus stemming); `index` is accepted and ignored — the frame IS
      // the index. Only matching documents (any term, matchCriteria
      // "any") flow on, ordered by relevance; the score rides the hidden
      // column until `{$meta: "searchScore"}` projects it. Ties are
      // pinned by `_id` when present (Atlas leaves them arbitrary;
      // deterministic cuts are what make a $limit reproducible at scale).
      //
      // Plan: query terms are literals, so tf/dl are map-side array ops;
      // corpus stats (N, Σdl, per-term df) are ONE tiny global aggregate
      // cross-joined back as a broadcast — two passes over the pruned
      // text column, no explode, no per-term shuffle.
      case "$search" =>
        val matched = bm25Scored(df, op, spec)
        if (df.columns.contains("_id"))
          matched.orderBy(col(SearchScoreCol).desc, col("_id").asc)
        else matched.orderBy(col(SearchScoreCol).desc)

      // $searchMeta's count form: the match-set size WITHOUT returning
      // documents — one doc {count: {total: N}}, a lazy aggregate over
      // the same BM25 match predicate $search uses.
      case "$searchMeta" =>
        val matched = bm25Scored(df, op, spec match {
          case d: DDoc => DDoc(d.fields.filter(_._1 != "count"))
          case x => x
        })
        spec match {
          case d: DDoc => d.fields.toMap.get("count") match {
            case None | Some(DDoc(Seq())) => ()
            case Some(cd: DDoc) if cd.fields.toMap.get("type")
              .forall(_ == DString("total")) => ()
            case Some(x) => throw bad(s"$$searchMeta.count: unsupported $x")
          }
          case _ => ()
        }
        matched.agg(struct(count(lit(1)).as("total")).as("count"))

      // MongoDB 8.1's hybrid-search combiner: run N "ranked" selection
      // sub-pipelines over the in-flow frame, then reciprocal-rank-fuse
      // (score = Σ weight/(60 + rank)). Sub-pipelines must be bounded
      // ($limit or $vectorSearch's internal limit) and ranked ($sort,
      // $search, or $vectorSearch) — so each per-pipeline rank window
      // runs over at most limit rows, and the fusion itself is a tiny
      // union + hash-agg. Ties (and document identity) are pinned by
      // `_id` when present, else by a whole-document hash.
      // MongoDB 8.2's $score: assign a custom relevance score from any
      // expression over the document; surfaces via {$meta: "score"},
      // sortable with {"$sort": {"x": {"$meta": "score"}}}, and marks
      // the pipeline "scored" for $scoreFusion. minMaxScaler needs the
      // global min/max — ONE tiny aggregate broadcast back, never a
      // global window (this stage runs pre-limit on the full frame).
      case "$score" => spec match {
        case d: DDoc =>
          val sm = d.fields.toMap
          val sc = valueExpr(docField(op, d, "score")).cast("double")
          sm.get("normalization") match {
            case None | Some(DString("none")) => df.withColumn(FusionScoreCol, sc)
            case Some(DString("sigmoid")) =>
              df.withColumn(FusionScoreCol, lit(1.0) / (lit(1.0) + exp(-sc)))
            case Some(DString("minMaxScaler")) =>
              val staged = df.withColumn(FusionScoreCol, sc)
              val ext = staged.agg(min(col(FusionScoreCol)).as("__score_lo"),
                max(col(FusionScoreCol)).as("__score_hi"))
              staged.crossJoin(broadcast(ext))
                .withColumn(FusionScoreCol,
                  when(col("__score_hi") === col("__score_lo"), lit(1.0))
                    .otherwise((col(FusionScoreCol) - col("__score_lo")) /
                      (col("__score_hi") - col("__score_lo"))))
                .drop("__score_lo", "__score_hi")
            case Some(x) => throw bad(s"$$score.normalization: $x")
          }
        case other => throw bad(s"$$score needs {score, normalization?}, got $other")
      }

      // $scoreFusion (MongoDB 8.2) shares the whole harness; it combines
      // NORMALIZED SCORES (none | sigmoid | minMaxScaler over each
      // pipeline's ≤limit candidates) as Σw·s/Σw with absent pipelines
      // contributing 0, where $rankFusion combines reciprocal RANKS.
      case "$rankFusion" | "$scoreFusion" => spec match {
        case d: DDoc =>
          import org.apache.spark.sql.expressions.Window
          val m = d.fields.toMap
          m.get("scoreDetails") match {
            case Some(DBool(true)) => throw bad(s"$op: scoreDetails not supported")
            case _ => ()
          }
          val unknown = m.keySet -- Set("input", "combination", "scoreDetails")
          if (unknown.nonEmpty) throw bad(
            s"$op: unsupported options ${unknown.mkString(", ")}")
          val pipelines: Seq[(String, Seq[DDoc])] = m.get("input") match {
            case Some(in: DDoc) => in.fields.toMap.get("pipelines") match {
              case Some(ps: DDoc) if ps.fields.nonEmpty => ps.fields.map {
                case (nm, DArray(sts)) if sts.forall(_.isInstanceOf[DDoc]) =>
                  nm -> sts.map(_.asInstanceOf[DDoc])
                case (nm, x) => throw bad(s"$$rankFusion pipeline $nm: needs stages, got $x")
              }
              case _ => throw bad("$rankFusion needs {input: {pipelines: {...}}}")
            }
            case _ => throw bad("$rankFusion needs {input: {pipelines: {...}}}")
          }
          val weights: Map[String, Double] = m.get("combination") match {
            case Some(c: DDoc) => c.fields.toMap.get("weights") match {
              case Some(w: DDoc) => w.fields.map {
                case (nm, DLong(x))   => nm -> x.toDouble
                case (nm, DDouble(x)) => nm -> x
                case (nm, x) => throw bad(s"$$rankFusion weight $nm: $x")
              }.toMap
              case None    => Map.empty
              case Some(x) => throw bad(s"$$rankFusion.combination.weights: $x")
            }
            case None    => Map.empty
            case Some(x) => throw bad(s"$$rankFusion.combination needs a document, got $x")
          }
          val normalization: String =
            if (op == "$rankFusion") "none"
            else m.get("input") match {
              case Some(in: DDoc) => in.fields.toMap.get("normalization") match {
                case Some(DString(n))
                  if Set("none", "sigmoid", "minMaxScaler")(n) => n
                case None    => "none"
                case Some(x) => throw bad(s"$$scoreFusion.input.normalization: $x")
              }
              case _ => "none"
            }
          val visible = df.columns.filterNot(HiddenCols.contains).toSeq
          def identity(f: DataFrame): Column =
            if (f.columns.contains("_id")) col("_id")
            else xxhash64(to_json(struct(visible.map(col): _*)))
          val contributions = pipelines.map { case (name, stages) =>
            val ops = stages.map(_.fields.head._1)
            if (!ops.exists(o => o == "$limit" || o == "$vectorSearch"))
              throw bad(s"$op pipeline $name must be bounded " +
                "by $limit (or $vectorSearch)")
            val out = stages.foldLeft(df)((acc, st) => applyStage(acc, st, resolver))
            val wgt = lit(weights.getOrElse(name, 1.0))
            // the LATEST score-producing stage wins ($score can rescore
            // a $search/$vectorSearch arm)
            val scoreCol: Option[Column] = Seq(
              "$vectorSearch" -> VsScoreCol, "$search" -> SearchScoreCol,
              "$score" -> FusionScoreCol)
              .map { case (o, c) => ops.lastIndexOf(o) -> c }
              .filter(_._1 >= 0).sortBy(-_._1).headOption.map(p => col(p._2))
            if (op == "$scoreFusion") {
              // scored pipelines only; normalize over the ≤limit
              // candidates, then weight — absent docs contribute 0
              val s = scoreCol.getOrElse(throw bad(s"$$scoreFusion pipeline " +
                s"$name is not scored: needs $$search or $$vectorSearch"))
              val norm = normalization match {
                case "sigmoid" => lit(1.0) / (lit(1.0) + exp(-s))
                case "minMaxScaler" =>
                  val whole = Window.partitionBy()
                    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                  val (lo, hi) = (min(s).over(whole), max(s).over(whole))
                  when(hi === lo, lit(1.0)).otherwise((s - lo) / (hi - lo))
                case _ => s
              }
              out.select((visible.map(col) :+
                identity(out).as("__rf_id") :+
                (wgt * norm).as("__rf_s")): _*)
            } else {
              val orderCols: Seq[Column] = scoreCol match {
                case Some(s) => Seq(s.desc)
                case None => stages.reverse.collectFirst {
                  case s if s.fields.head._1 == "$sort" => s.fields.head._2
                } match {
                  case Some(sd: DDoc) => sd.fields.map {
                    case (f, DLong(1))  => col(f).asc
                    case (f, DLong(-1)) => col(f).desc
                    case (f, x) => throw bad(s"$$rankFusion $name sort.$f: $x")
                  }
                  case _ => throw bad(s"$$rankFusion pipeline $name is not " +
                    "ranked: needs $sort, $search, or $vectorSearch")
                }
              }
              // a global rank window — bounded by the pipeline's own $limit
              val w = Window.orderBy((orderCols :+ identity(out).asc): _*)
              out.select((visible.map(col) :+
                identity(out).as("__rf_id") :+
                (wgt / (lit(60L) + row_number().over(w).cast("long")))
                  .as("__rf_s")): _*)
            }
          }
          val totalW =
            if (op == "$scoreFusion")
              pipelines.map { case (n, _) => weights.getOrElse(n, 1.0) }.sum
            else 1.0
          val aggs = visible.map(c => first(col(c)).as(c)) :+
            (sum(col("__rf_s")) / lit(totalW)).as(FusionScoreCol)
          contributions.reduce(_.unionByName(_))
            .groupBy(col("__rf_id"))
            .agg(aggs.head, aggs.tail: _*)
            .orderBy(col(FusionScoreCol).desc, col("__rf_id").asc)
            .select((visible.map(col) :+ col(FusionScoreCol)): _*)
        case other => throw bad(s"$op needs a document, got $other")
      }

      case "$unionWith" =>
        if (resolver == null) throw bad("$unionWith needs a collection resolver")
        val other = spec match {
          case DString(coll) => resolver(coll)
          case d: DDoc =>
            val coll = docField(op, d, "coll") match {
              case DString(s) => s
              case x => throw bad(s"$$unionWith.coll needs a string, got $x")
            }
            d.fields.toMap.get("pipeline") match {
              case Some(DArray(stages)) =>
                stripVs(stages.foldLeft(resolver(coll)) { (acc, st) =>
                  applyStage(acc, st.asInstanceOf[DDoc], resolver) })
              case None  => resolver(coll)
              case Some(x) => throw bad(s"$$unionWith.pipeline needs an array, got $x")
            }
          case x => throw bad(s"$$unionWith needs a string or document, got $x")
        }
        // Mongo semantics: absent fields = missing → null on the other side
        df.unionByName(other, allowMissingColumns = true)

      // $collStats count form: one document {count: N} for the in-flow
      // collection, compiled LAZILY as an aggregate (no driver action at
      // stage-build time). storageStats/latencyStats describe server
      // internals with no docstore analog → refused, not faked.
      case "$collStats" => spec match {
        case d: DDoc =>
          val unknown = d.fields.toMap.keySet - "count"
          if (unknown.nonEmpty) throw bad(
            s"$$collStats: unsupported sections ${unknown.mkString(", ")} (count only)")
          if (!d.fields.toMap.contains("count"))
            throw bad("$collStats needs {count: {}}")
          df.agg(count(lit(1)).as("count"))
        case other => throw bad(s"$$collStats needs a document, got $other")
      }

      case "$sample" => spec match {
        case d: DDoc =>
          val n = docField(op, d, "size") match {
            case DLong(i) => i.toInt
            case x        => throw bad(s"$$sample.size needs an integer, got $x")
          }
          // graft extension: explicit seed for reproducible samples
          val seed = d.fields.toMap.get("seed") match {
            case Some(DLong(s)) => s
            case _              => scala.util.Random.nextLong()
          }
          // rand-keyed TopN: plans as TakeOrderedAndProject — every
          // partition keeps an n-row heap, the driver merges heads. No
          // global sort, no single-partition collapse, exact n rows.
          df.orderBy(rand(seed)).limit(n)
        case x => throw bad(s"$$sample needs {size: n}, got $x")
      }

      // $documents: inline literal documents as the pipeline SOURCE —
      // Mongo's db-level testing/lookup idiom. Replaces the input frame
      // (documents must share one shape; fields union via struct type
      // coercion is NOT applied — same-schema docs only).
      case "$documents" => spec match {
        case DArray(docs) if docs.nonEmpty && docs.forall(_.isInstanceOf[DDoc]) =>
          df.sparkSession.range(1)
            .select(explode(array(docs.map(d =>
              valueExpr(d, rootEnv)): _*)).as("__doc"))
            .select(col("__doc.*"))
        case x => throw bad(s"$$documents needs a non-empty array of documents, got $x")
      }

      // $geoNear: spherical proximity search — every doc gains its
      // haversine distance (meters, IUGG mean Earth radius 6371008.8 m;
      // Mongo computes on the WGS84 sphere, so small-distance values
      // agree to ~0.3%) from `near`, filtered by the optional MQL
      // `query` and min/maxDistance, sorted nearest-first. `key` is
      // REQUIRED (no 2dsphere index to infer from) and names a field
      // holding [lng, lat] (array) or a GeoJSON {coordinates: [lng,
      // lat]} doc. Scale: pure map-side codegen'd trigonometry + the
      // presentation sort; combine with $limit for a TakeOrdered TopN.
      case "$geoNear" => spec match {
        case d: DDoc =>
          val m = d.fields.toMap
          def lngLat(v: DocValue): (Column, Column) = v match {
            case DArray(Seq(lng, lat)) =>
              (valueExpr(lng, rootEnv), valueExpr(lat, rootEnv))
            case g: DDoc => g.fields.toMap.get("coordinates") match {
              case Some(DArray(Seq(lng, lat))) =>
                (valueExpr(lng, rootEnv), valueExpr(lat, rootEnv))
              case _ => throw bad(s"$$geoNear.near GeoJSON needs coordinates [lng, lat]")
            }
            case x => throw bad(s"$$geoNear.near needs [lng, lat] or GeoJSON, got $x")
          }
          val (nearLng, nearLat) = lngLat(m.getOrElse("near",
            throw bad("$geoNear needs near")))
          val keyField = m.get("key") match {
            case Some(DString(k)) => k
            case _ => throw bad("$geoNear needs key (no index to infer the location field from)")
          }
          val distField = m.get("distanceField") match {
            case Some(DString(f)) => f
            case _                => throw bad("$geoNear needs distanceField")
          }
          val loc = col(fieldPath("$" + keyField))
          val (lng, lat) = MongoFilter.lngLat(toExpression(loc))
          val mult = m.get("distanceMultiplier") match {
            case Some(DDouble(x)) => x
            case Some(DLong(x))   => x.toDouble
            case None             => 1.0
            case Some(x) => throw bad(s"$$geoNear.distanceMultiplier: $x")
          }
          // spherical: false means FLAT (legacy 2d) geometry — refusing
          // beats silently returning spherical distances for it
          m.get("spherical") match {
            case None | Some(DBool(true)) => ()
            case Some(x) => throw bad("$geoNear.spherical: only spherical " +
              s"(2dsphere) geometry is supported, got $x")
          }
          val dist = lit(6371008.8) * MongoFilter.centralAngle(lng, lat, nearLng, nearLat)
          val filtered = m.get("query") match {
            case Some(q: DDoc) => df.filter(toColumn(MongoFilter.compileDoc(q)))
            case None          => df
            case Some(x)       => throw bad(s"$$geoNear.query needs a document, got $x")
          }
          def bound(k: String): Option[Double] = m.get(k).map {
            case DDouble(x) => x
            case DLong(x)   => x.toDouble
            case x          => throw bad(s"$$geoNear.$k: $x")
          }
          // docs without a location are NOT returned (Mongo serves
          // $geoNear from the 2dsphere index, which such docs are absent
          // from) — without this, a null distance would sort FIRST under
          // Spark's asc nulls-first default
          val withDist0 = filtered.withColumn(distField, dist * mult)
            .filter(col(distField).isNotNull)
          val withDist = m.get("includeLocs") match {
            case Some(DString(f)) => withDist0.withColumn(f, loc)
            case None             => withDist0
            case Some(x) => throw bad(s"$$geoNear.includeLocs needs a field name, got $x")
          }
          val ranged = (bound("minDistance"), bound("maxDistance")) match {
            case (lo, hi) =>
              val base = dist // bounds compare the UNmultiplied meters
              val loC = lo.map(base >= lit(_))
              val hiC = hi.map(base <= lit(_))
              (loC ++ hiC).reduceOption(_ && _)
                .map(withDist.filter).getOrElse(withDist)
          }
          ranged.orderBy(col(distField).asc)
        case x => throw bad(s"$$geoNear needs a document, got $x")
      }

      case "$facet" => spec match {
        case d: DDoc =>
          if (d.fields.isEmpty) throw bad("$facet needs at least one facet")
          // each facet = its sub-pipeline over the SAME input, collapsed
          // to one array-of-docs column; facets then cross-join into a
          // single one-row document, exactly Mongo's output shape. The
          // input is pinned with localCheckpoint so N facets don't re-run
          // the upstream pipeline N times.
          val pinned = if (d.fields.size > 1) df.localCheckpoint() else df
          val facets = d.fields.map { case (name, stages) =>
            val sub = stages match {
              case DArray(items) => stripVs(items.foldLeft(pinned) { (acc, st) =>
                applyStage(acc, st.asInstanceOf[DDoc], resolver) })
              case x => throw bad(s"$$facet.$name needs a pipeline array, got $x")
            }
            sub.agg(collect_list(struct(sub.columns.map(col): _*)).as(name))
          }
          // every facet frame is a GLOBAL aggregate — exactly one row by
          // construction — so the cross is a 1×1 document assembly, not a
          // data-sized cartesian. broadcast() the right side to pin the
          // physical plan to BroadcastNestedLoopJoin over that one row
          // (PlanAuditSpec asserts no unbroadcast CartesianProduct).
          facets.reduce((acc, f) => acc.crossJoin(broadcast(f)))
        case x => throw bad(s"$$facet needs a document of pipelines, got $x")
      }

      case "$setWindowFields" => spec match {
        case d: DDoc =>
          val m = d.fields.toMap
          val partition = m.get("partitionBy").map(valueExpr).toSeq
          val sortCols = m.get("sortBy") match {
            case Some(s: DDoc) => s.fields.map {
              case (f, DLong(1))  => col(f).asc
              case (f, DLong(-1)) => col(f).desc
              case (f, x) => throw bad(s"sortBy.$f needs 1 or -1, got $x")
            }
            case None    => Seq.empty
            case Some(x) => throw bad(s"sortBy needs a document, got $x")
          }
          val sortKey = m.get("sortBy") match { // x axis for fill/calculus ops
            case Some(s: DDoc) if s.fields.size == 1 => Some(col(s.fields.head._1))
            case _                                   => None
          }
          val sortAsc = m.get("sortBy") match { // range windows require asc
            case Some(s: DDoc) if s.fields.size == 1 =>
              s.fields.head._2 == DLong(1)
            case _ => true
          }
          val outputs = m.getOrElse("output",
            throw bad("$setWindowFields needs output")) match {
            case o: DDoc => o.fields
            case x       => throw bad(s"output needs a document, got $x")
          }
          outputs.foldLeft(df) { case (acc, (alias, ospec)) =>
            ospec match {
              // $expMovingAvg is a sequential recurrence, not a frame
              // aggregate — it compiles to the whole-frame blocked-scan
              // ladder, so it rewrites the DataFrame instead of adding a
              // window Column (graft.operators.Ladders.expMovingAvg)
              case dd: DDoc if dd.fields.exists(_._1 == "$expMovingAvg") =>
                if (sortCols.isEmpty) throw bad("$expMovingAvg requires sortBy")
                val sd = dd.fields.toMap.apply("$expMovingAvg") match {
                  case d: DDoc => d.fields.toMap
                  case x => throw bad(s"$$expMovingAvg needs {input, N|alpha}, got $x")
                }
                val in = valueExpr(sd.getOrElse("input",
                  throw bad("$expMovingAvg needs input")))
                val alpha = (sd.get("N"), sd.get("alpha")) match {
                  case (Some(DLong(n)), None) if n >= 1 => 2.0 / (n + 1)
                  case (None, Some(DDouble(a))) => a
                  case (None, Some(DLong(a)))   => a.toDouble
                  case _ => throw bad(
                    "$expMovingAvg needs exactly one of N (>= 1) or alpha")
                }
                graft.operators.Ladders.expMovingAvg(
                  acc, partition, sortCols, in, alpha, alias)
              case _ => acc.withColumn(alias,
                windowFunction(ospec, partition, sortCols, sortKey, sortAsc))
            }
          }
        case x => throw bad(s"$$setWindowFields needs a document, got $x")
      }

      // graft extension: terminal write — the operand is a docstore PATH
      // (the cluster analog of Mongo's collection name). Eager like
      // Mongo's $out; returns the written frame for further chaining.
      case "$out" => spec match {
        case DString(path) =>
          // a user-visible frame boundary: never persist the hidden
          // $vectorSearch score bookkeeping column into the target
          val clean = stripVs(df)
          clean.write.format("docstore").mode("overwrite").save(path)
          clean
        case x => throw bad(s"$$out needs a path string, got $x")
      }

      // $merge: upsert the pipeline output into a target docstore path.
      // whenMatched: replace | keepExisting | merge | fail;
      // whenNotMatched: insert | discard | fail. With fixed relational
      // schemas "merge" keeps target-only columns and takes every source
      // column from the source (Mongo's field-wise overwrite).
      // Scale: one semi/anti-join pass per side on the `on` keys, then a
      // single failure-atomic overwrite commit — no driver row loops.
      case "$merge" =>
        // same frame boundary as $out: strip the hidden $vectorSearch
        // score column before it can reach the persisted target
        val src = stripVs(df)
        val m = spec match {
          case DString(path) => Map[String, DocValue]("into" -> DString(path))
          case d: DDoc       => d.fields.toMap
          case x => throw bad(s"$$merge needs a path or document, got $x")
        }
        val into = m.get("into") match {
          case Some(DString(p)) => p
          case other => throw bad(s"$$merge.into needs a path string, got $other")
        }
        val on: Seq[String] = m.get("on") match {
          case Some(DString(f))    => Seq(f)
          case Some(DArray(items)) => items.map {
            case DString(s) => s
            case x          => throw bad(s"$$merge.on: $x")
          }
          case None    => Seq("_id")
          case Some(x) => throw bad(s"$$merge.on needs a string or array, got $x")
        }
        def mode(k: String, dflt: String, allowed: Set[String]): String =
          m.get(k) match {
            case Some(DString(s)) if allowed(s) => s
            case None                           => dflt
            case Some(x) => throw bad(s"$$merge.$k: unsupported $x")
          }
        // whenMatched also takes a PIPELINE ($set/$addFields/$unset/
        // $replaceRoot/$replaceWith over the TARGET doc, with the source
        // doc bound as $$new) — Mongo's incremental-aggregation form
        val wmPipeline: Option[Seq[DDoc]] = m.get("whenMatched") match {
          case Some(DArray(sts)) if sts.forall(_.isInstanceOf[DDoc]) =>
            Some(sts.map(_.asInstanceOf[DDoc]))
          case Some(DArray(x)) => throw bad(s"$$merge.whenMatched pipeline: $x")
          case _ => None
        }
        val whenMatched = if (wmPipeline.isDefined) "pipeline"
          else mode("whenMatched", "merge",
            Set("replace", "keepExisting", "merge", "fail"))
        val whenNotMatched = mode("whenNotMatched", "insert",
          Set("insert", "discard", "fail"))
        val targetDir = new java.io.File(into)
        val result =
          if (!targetDir.isDirectory || targetDir.listFiles() == null ||
              targetDir.listFiles().forall(f => f.getName.startsWith("."))) {
            if (whenNotMatched == "fail" && !src.isEmpty)
              throw bad("$merge whenNotMatched: fail — target is empty")
            if (whenNotMatched == "insert") src else src.limit(0)
          } else {
            val spark = src.sparkSession
            val tgt = spark.read.format("docstore").option("path", into).load()
            val matchedSrc = src.join(tgt.select(on.map(col): _*), on, "left_semi")
            if (whenMatched == "fail" && !matchedSrc.isEmpty)
              throw bad("$merge whenMatched: fail — matching documents exist")
            val unmatchedSrc = src.join(tgt.select(on.map(col): _*), on, "left_anti")
            if (whenNotMatched == "fail" && !unmatchedSrc.isEmpty)
              throw bad("$merge whenNotMatched: fail — unmatched documents exist")
            val unmatchedTgt = tgt.join(src.select(on.map(col): _*), on, "left_anti")
            val matched = whenMatched match {
              case "keepExisting" => tgt.join(src.select(on.map(col): _*), on, "left_semi")
              case "replace"      => matchedSrc
              case "pipeline" =>
                // matched TARGET docs flow through the update pipeline;
                // the joined source doc is visible only as $$new
                val srcKeyed = src.select((on.map(col) :+
                  struct(src.columns.map(col).toIndexedSeq: _*)
                    .as("__merge_new")): _*)
                val pairs = tgt
                  .join(src.select(on.map(col): _*), on, "left_semi")
                  .join(srcKeyed, on)
                wmPipeline.get.foldLeft(pairs)(mergeUpdateStage)
                  .drop("__merge_new")
              case "merge" => // source columns win; target-only columns survive
                val tgtOnly = tgt.columns.filterNot(c =>
                  src.columns.contains(c) || on.contains(c))
                if (tgtOnly.isEmpty) matchedSrc
                else matchedSrc.join(
                  tgt.select((on ++ tgtOnly).map(col): _*), on, "left_outer")
              case _ => matchedSrc // "fail" already threw when non-empty
            }
            val inserted = if (whenNotMatched == "insert") unmatchedSrc
                           else unmatchedSrc.limit(0)
            unmatchedTgt
              .unionByName(matched, allowMissingColumns = true)
              .unionByName(inserted, allowMissingColumns = true)
          }
        result.write.format("docstore").mode("overwrite").save(into)
        src

      // $bucketAuto: N equal-count buckets, _id = {min, max} per bucket.
      // ntile over the groupBy key is the exact-equal-counts semantics;
      // the single global sort is inherent to exact auto-bucketing (the
      // scale path would precompute approx quantile boundaries and use
      // $bucket). Mongo's `granularity` rounding is not supported.
      case "$bucketAuto" => spec match {
        case d: DDoc =>
          val m = d.fields.toMap
          val gb = valueExpr(m.getOrElse("groupBy",
            throw bad("$bucketAuto needs groupBy")), rootEnv)
          val n = m.get("buckets") match {
            case Some(DLong(b)) if b >= 1 => b.toInt
            case other => throw bad(s"$$bucketAuto.buckets needs a positive integer, got $other")
          }
          // refuse rather than silently ignore: granularity SNAPS the
          // boundaries to a preferred-number series, changing every bucket
          if (m.contains("granularity"))
            throw bad("$bucketAuto.granularity is not supported " +
              "(boundaries here are exact equal-count splits)")
          val outPairs: Seq[(String, Column)] = m.get("output") match {
            case Some(o: DDoc) => o.fields.map { case (alias, aspec) =>
              alias -> groupAccumulator(aspec, rootEnv).as(alias) }.toSeq
            case None    => Seq("count" -> count(lit(1)).as("count"))
            case Some(x) => throw bad(s"$$bucketAuto.output needs a document, got $x")
          }
          val taken = df.columns ++ outPairs.map(_._1)
          val bCol = freshName(taken, "__graft_bucket")
          val gCol = freshName(taken, "__graft_gb")
          val loCol = freshName(taken, "__graft_lo")
          val hiCol = freshName(taken, "__graft_hi")
          import org.apache.spark.sql.expressions.Window
          // Mongo's buckets are CONTIGUOUS: bucket N's max is bucket N+1's
          // min (exclusive), and only the last bucket's max is the value
          // actually present. lead(min) over the bucket order supplies the
          // boundary; the N-bucket frame is tiny, so the second window is free.
          df.withColumn(gCol, gb)
            .withColumn(bCol, ntile(n).over(Window.orderBy(col(gCol))))
            .groupBy(col(bCol))
            .agg(min(col(gCol)).as(loCol),
              max(col(gCol)).as(hiCol) +: outPairs.map(_._2): _*)
            .withColumn("_id", struct(col(loCol).as("min"),
              coalesce(lead(col(loCol), 1).over(Window.orderBy(col(bCol))),
                col(hiCol)).as("max")))
            .select(col("_id") +: outPairs.map(p => col(p._1)): _*)
            .orderBy(col("_id.min"))
        case x => throw bad(s"$$bucketAuto needs a document, got $x")
      }

      case other => throw bad(s"unsupported stage $other")
    }
    case other => throw bad(s"each stage must have exactly one operator, got $other")
    }
  }

  /** One `$setWindowFields` output → a Spark window Column. */
  private def windowFunction(spec: DocValue,
      partition: Seq[Column],
      sortCols: Seq[Column],
      sortKey: Option[Column],
      sortAscending: Boolean = true): Column = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    val base = if (partition.nonEmpty) Window.partitionBy(partition: _*)
               else Window.partitionBy()
    val ordered = if (sortCols.nonEmpty) base.orderBy(sortCols: _*) else base
    def needSort(op: String): Unit = if (sortCols.isEmpty)
      throw bad(s"$op requires sortBy")
    def xAxis(op: String): Column = sortKey.getOrElse(
      throw bad(s"$op requires a single-field sortBy"))
    spec match {
      case DDoc(fields) =>
        val m = fields.toMap
        val (op, operand) = fields.find(_._1.startsWith("$")).getOrElse(
          throw bad(s"window output needs an operator, got $spec"))
        // explicit {window: {documents: [lo, hi]}} bounds → a row frame;
        // None when the output has no window doc (operator picks default)
        lazy val explicitFrame: Option[WindowSpec] = m.get("window") match {
          case Some(w: DDoc) =>
            val wm = w.fields.toMap
            def bound(b: DocValue, isLo: Boolean, scale: Long): Long = b match {
              case DString("unbounded") =>
                if (isLo) Window.unboundedPreceding else Window.unboundedFollowing
              case DString("current") => Window.currentRow
              case DLong(k)           => k * scale
              case x => throw bad(s"window bound: $x")
            }
            (wm.get("documents"), wm.get("range")) match {
              case (Some(DArray(Seq(lo, hi))), None) =>
                needSort(op)
                Some(ordered.rowsBetween(
                  bound(lo, isLo = true, 1L), bound(hi, isLo = false, 1L)))
              // range frame: bounds are offsets of the sortBy VALUE
              // (Mongo 5.0) — with `unit`, time offsets over a date key.
              // Spark's rangeBetween takes long bounds, so the time form
              // orders by epoch micros and scales the bounds to micros;
              // fractional bounds are not supported (integer per unit).
              case (None, Some(DArray(Seq(lo, hi)))) =>
                needSort(op)
                if (!sortAscending) throw bad(
                  "range window requires an ascending single-field sortBy")
                val key = sortKey.getOrElse(throw bad(
                  "range window requires a single-field sortBy"))
                val scale: Long = wm.get("unit") match {
                  // micros per unit — exact for every supported unit
                  // (millisecond = 1000 micros)
                  case Some(DString(u)) => (1e6 * secondsPerUnit(u)).toLong
                  case None             => 1L
                  case Some(x) => throw bad(s"window.unit needs a string, got $x")
                }
                val orderKey =
                  if (scale == 1L) key else unix_micros(key.cast("timestamp"))
                val basep = if (partition.nonEmpty)
                  Window.partitionBy(partition: _*) else Window.partitionBy()
                Some(basep.orderBy(orderKey.asc).rangeBetween(
                  bound(lo, isLo = true, scale), bound(hi, isLo = false, scale)))
              case _ => throw bad(
                "window needs {documents: [lo, hi]} or {range: [lo, hi], unit?}")
            }
          case None    => None
          case Some(x) => throw bad(s"window needs a document, got $x")
        }
        op match {
          case "$documentNumber" => needSort(op); row_number().over(ordered)
          case "$rank"           => needSort(op); rank().over(ordered)
          case "$denseRank"      => needSort(op); dense_rank().over(ordered)
          case "$shift" => operand match {
            case sd: DDoc =>
              needSort(op)
              val out = valueExpr(docField(op, sd, "output"))
              val by = docField(op, sd, "by") match {
                case DLong(b) => b.toInt
                case x        => throw bad(s"$$shift.by needs an integer, got $x")
              }
              val shifted = // positive by = value from a LATER document
                if (by >= 0) lead(out, by).over(ordered)
                else lag(out, -by).over(ordered)
              sd.fields.toMap.get("default") match {
                case Some(dv) => coalesce(shifted, valueExpr(dv))
                case None     => shifted
              }
            case x => throw bad(s"$$shift needs {output, by}, got $x")
          }
          // gap-filling window operators (Mongo 5.2)
          case "$locf" =>
            needSort(op)
            last(valueExpr(operand), ignoreNulls = true)
              .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          case "$linearFill" =>
            needSort(op)
            val x = xAxis(op)
            val y = valueExpr(operand)
            val wp = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val wn = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            val px = last(when(y.isNotNull, x), ignoreNulls = true).over(wp)
            val py = last(y, ignoreNulls = true).over(wp)
            val nx = first(when(y.isNotNull, x), ignoreNulls = true).over(wn)
            val ny = first(y, ignoreNulls = true).over(wn)
            when(y.isNotNull, y).otherwise(py + (ny - py) * (x - px) / (nx - px))
          // window calculus (Mongo 5.0): both need the window's first/last
          // points on the sortBy axis
          case "$derivative" | "$integral" => operand match {
            case sd: DDoc =>
              needSort(op)
              val y = valueExpr(docField(op, sd, "input"))
              val x0 = xAxis(op)
              val x = sd.fields.toMap.get("unit") match {
                case Some(DString(u)) => // sortBy is a timestamp; x in `unit`s
                  unix_micros(x0.cast("timestamp")).cast("double") /
                    lit(1e6 * secondsPerUnit(u))
                case None    => x0
                case Some(z) => throw bad(s"$op.unit needs a string, got $z")
              }
              val w = explicitFrame.getOrElse(
                ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
              if (op == "$derivative")
                (last(y).over(w) - first(y).over(w)) /
                  (last(x).over(w) - first(x).over(w))
              else {
                // trapezoid integral: per-row segment area (prev → this
                // row), summed over the frame. Exact when the frame's
                // lower bound is unbounded (every in-frame segment lies
                // inside the frame) — Mongo's running/total-integral uses.
                val okFrame = m.get("window").forall {
                  case wd: DDoc => wd.fields.toMap.get("documents") match {
                    case Some(DArray(Seq(DString("unbounded"), _))) => true
                    case _ => false
                  }
                  case _ => false
                }
                if (!okFrame) throw bad(
                  "$integral supports only windows with an unbounded lower bound")
                val area = (x - lag(x, 1).over(ordered)) *
                  (y + lag(y, 1).over(ordered)) / 2
                sum(area).over(w)
              }
            case x => throw bad(s"$op needs {input, unit?}, got $x")
          }
          case acc => // any group accumulator works as a window function
            val fn = groupAccumulator(DDoc(Seq(acc ->
              (if (acc == "$count") DDoc(Seq.empty) else operand))))
            val dflt = acc match {
              // order-dependent accumulators need the sort baked into an
              // explicit full frame (orderBy alone implies a running frame)
              case "$first" | "$last" =>
                needSort(acc)
                ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
              // no window doc: whole partition (Mongo's default), which
              // in Spark must NOT inherit orderBy (that implies a frame)
              case _ => base
            }
            fn.over(explicitFrame.getOrElse(dflt))
        }
      case other => throw bad(s"window output needs a document, got $other")
    }
  }

  private def secondsPerUnit(u: String): Double = u match {
    case "week"        => 604800.0
    case "day"         => 86400.0
    case "hour"        => 3600.0
    case "minute"      => 60.0
    case "second"      => 1.0
    case "millisecond" => 0.001
    case other => throw bad(s"unsupported time unit $other")
  }

  private def groupAccumulator(spec: DocValue,
      env: Map[String, Column] = Map.empty): Column = {
    // shadow the object-level resolver so every operand below sees the
    // stage's variable bindings ($$ROOT / $$CURRENT)
    def valueExpr(v: DocValue): Column = MongoPipeline.valueExpr(v, env)
    spec match {
    case DDoc(Seq((op, operand))) => op match {
      case "$sum" => operand match {
        case DLong(n)   => sum(lit(n))   // $sum: 1 is Mongo's COUNT idiom
        case DDouble(x) => sum(lit(x))
        case v          => sum(valueExpr(v))
      }
      case "$avg"      => avg(valueExpr(operand))
      case "$min"      => min(valueExpr(operand))
      case "$max"      => max(valueExpr(operand))
      case "$push"     => collect_list(valueExpr(operand))
      // sorted for determinism — Mongo leaves set order undefined
      case "$addToSet" => array_sort(collect_set(valueExpr(operand)))
      // internal rewrite product (rewriteSizeOfAddToSet) — never in
      // user pipelines; Int32 because it replaces a $size
      case "$__countDistinct" =>
        count_distinct(valueExpr(operand)).cast("int")
      case "$count"    => operand match {
        case DDoc(Seq()) => count(lit(1))
        case other       => throw bad(s"$$count takes {}, got $other")
      }
      case "$stdDevPop"  => stddev_pop(valueExpr(operand))
      case "$stdDevSamp" => stddev_samp(valueExpr(operand))
      case "$covariancePop" | "$covarianceSamp" => operand match {
        case DArray(Seq(x, y)) =>
          if (op == "$covariancePop") covar_pop(valueExpr(x), valueExpr(y))
          else covar_samp(valueExpr(x), valueExpr(y))
        case other => throw bad(s"$op needs [x, y], got $other")
      }
      case "$median" => operand match { // Mongo 7.0 form {input, method}
        case d: DDoc => median(valueExpr(docField(op, d, "input")))
        case v       => median(valueExpr(v))
      }
      case "$percentile" => operand match {
        case d: DDoc =>
          val ps = docField(op, d, "p") match {
            case DArray(items) => array(items.map(valueExpr): _*)
            case other => throw bad(s"$$percentile.p needs an array, got $other")
          }
          percentile_approx(valueExpr(docField(op, d, "input")), ps,
            lit(Int.MaxValue)) // max accuracy = exact on any realistic group
        case other => throw bad(s"$$percentile needs {input, p}, got $other")
      }
      // Mongo $first/$last depend on document order: only well-defined
      // after $sort — same contract as Mongo, where unsorted groups give
      // an arbitrary element
      case "$first" => first(valueExpr(operand))
      case "$last"  => last(valueExpr(operand))
      case "$top" | "$bottom" => operand match {
        case d: DDoc =>
          val out = valueExpr(docField(op, d, "output"))
          val (key, asc) = accumulatorSortBy(op, d)
          // $top = output at the FIRST position of the sortBy order
          if ((op == "$top") == asc) min_by(out, key) else max_by(out, key)
        case other => throw bad(s"$op needs {output, sortBy}, got $other")
      }
      case "$topN" | "$bottomN" => operand match {
        case d: DDoc =>
          val n = docField(op, d, "n") match {
            case DLong(i) => i.toInt
            case other    => throw bad(s"$op.n needs an integer, got $other")
          }
          val out = valueExpr(docField(op, d, "output"))
          val (key, asc) = accumulatorSortBy(op, d)
          sortedHeadN(key, out, ascending = asc, n = n,
            fromEnd = op == "$bottomN")
        case other => throw bad(s"$op needs {n, output, sortBy}, got $other")
      }
      case "$minN" | "$maxN" => operand match {
        case d: DDoc =>
          val n = docField(op, d, "n") match {
            case DLong(i) => i.toInt
            case other    => throw bad(s"$op.n needs an integer, got $other")
          }
          val in = valueExpr(docField(op, d, "input"))
          sortedHeadN(in, in, ascending = op == "$minN", n = n, fromEnd = false)
        case other => throw bad(s"$op needs {n, input}, got $other")
      }
      // document-order heads/tails: same well-defined-after-$sort
      // contract as $first/$last
      case "$firstN" | "$lastN" => operand match {
        case d: DDoc =>
          val n = docField(op, d, "n") match {
            case DLong(i) => i.toInt
            case other    => throw bad(s"$op.n needs an integer, got $other")
          }
          val l = collect_list(valueExpr(docField(op, d, "input")))
          if (op == "$firstN") slice(l, 1, n)
          else reverse(slice(reverse(l), 1, n))
        case other => throw bad(s"$op needs {n, input}, got $other")
      }
      case other => throw bad(s"unsupported accumulator $other")
    }
    case other => throw bad(s"accumulator must be {op: operand}, got $other")
    }
  }

  /** First/last `n` outputs of the group ordered by `key`: collect
    * (key, output) structs, `array_sort` (lexicographic on the leading
    * field = the sort key), slice off `n`. Group-local arrays, so memory
    * is bounded by group size like any Mongo accumulator — not by
    * relation size.
    */
  private def sortedHeadN(key: Column, out: Column, ascending: Boolean,
      n: Int, fromEnd: Boolean): Column = {
    val sorted0 = array_sort(collect_list(struct(key.as("k"), out.as("o"))))
    val sorted = if (ascending) sorted0 else reverse(sorted0)
    val picked = if (fromEnd) reverse(slice(reverse(sorted), 1, n))
                 else slice(sorted, 1, n)
    transform(picked, x => x.getField("o"))
  }

  /** `$unwind`: Mongo replaces the array field with each element in
    * place. Dotted paths ("$a.b"): explode into a temp column first —
    * withColumn on "a.b" would CREATE a top-level column literally named
    * "a.b" — then write the element back into the parent struct so the
    * nested field is replaced like Mongo does. Shared by the top-level
    * stage and the correlated `$lookup.pipeline` suffix. */
  private def unwindStage(df: DataFrame, spec: DocValue): DataFrame = {
    val (path, preserve, idxField) = spec match {
      case DString(p) => (fieldPath(p), false, None)
      case d: DDoc =>
        val m = d.fields.toMap
        val p = m.get("path") match {
          case Some(DString(s)) => fieldPath(s)
          case other => throw bad(s"$$unwind.path needs a string, got $other")
        }
        val idx = m.get("includeArrayIndex") match {
          case Some(DString(f)) => Some(f)
          case None             => None
          case Some(x) =>
            throw bad(s"$$unwind.includeArrayIndex needs a field name, got $x")
        }
        (p, m.get("preserveNullAndEmptyArrays") == Some(DBool(true)), idx)
      case other => throw bad(s"$$unwind needs a path, got $other")
    }
    idxField match {
      case None =>
        if (!path.contains('.'))
          df.withColumn(path,
            if (preserve) explode_outer(col(path)) else explode(col(path)))
        else {
          val tmp = freshName(df.columns, "__graft_unwind")
          setPath(df.withColumn(tmp,
              if (preserve) explode_outer(col(path)) else explode(col(path))),
            path, col(tmp)).drop(tmp)
        }
      case Some(f) =>
        // posexplode emits (pos, value); the 0-based index lands in `f`
        // as a LONG (Mongo's type), null on rows preserve kept for a
        // null/empty array
        val tmp = freshName(df.columns, "__graft_unwind")
        val idxTmp = freshName(df.columns :+ tmp, "__graft_unwind_idx")
        val gen = if (preserve) posexplode_outer(col(path))
                  else posexplode(col(path))
        val exploded = df.select(col("*"), gen.as(Seq(idxTmp, tmp)))
        val replaced =
          if (!path.contains('.')) exploded.withColumn(path, col(tmp))
          else setPath(exploded, path, col(tmp))
        replaced.withColumn(f, col(idxTmp).cast("long")).drop(tmp, idxTmp)
    }
  }

  private def accumulatorSortBy(op: String, d: DDoc): (Column, Boolean) =
    docField(op, d, "sortBy") match {
      case DDoc(Seq((f, DLong(dir)))) if dir == 1 || dir == -1 =>
        (col(f), dir == 1)
      case other => throw bad(s"$op.sortBy needs {field: 1|-1}, got $other")
    }

  /** Does the expression tree reference any of `vars` via `$$name`? */
  private def usesVars(v: DocValue, vars: Set[String]): Boolean = v match {
    case DString(s) if s.startsWith("$$") =>
      vars.contains(s.drop(2).split('.').head)
    case DDoc(fields)  => fields.exists { case (_, x) => usesVars(x, vars) }
    case DArray(items) => items.exists(usesVars(_, vars))
    case _             => false
  }

  /** `$lookup` pipeline/`let` form (and Mongo 5.0+'s concise correlated
    * form when `localField`/`foreignField` ride along). Compilation:
    *
    *   - `let` expressions evaluate on the LEFT row and travel as compact
    *     physical key columns — never the whole left document;
    *   - the var-free PREFIX of the sub-pipeline runs on the foreign
    *     collection as an ordinary pipeline (filters push into the scan);
    *   - the first var-using stage must be a `$match` — its `$expr`
    *     compiles into the JOIN CONDITION, so equality predicates become
    *     hash-join keys (Catalyst extracts them; pure inequalities fall
    *     back to a broadcast-loop theta join, inherent to the semantics);
    *   - later stages apply per joined row: `$match`/`$addFields`/`$set`/
    *     `$project`/`$unset`, plus the `$sort`+`$limit` top-k idiom as a
    *     per-left-row `row_number` window (a bare trailing `$sort` is
    *     rejected — collected-array order, sort after `$unwind` instead);
    *   - matches group back to one array per left row id (checkpointed,
    *     like `$graphLookup`), empty array when none.
    */
  private def lookupPipeline(df: DataFrame, m: Map[String, DocValue],
      resolver: String => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (resolver == null) throw bad("$lookup needs a collection resolver")
    def str(k: String): String = m.get(k) match {
      case Some(DString(s)) => s
      case other => throw bad(s"$$lookup.$k needs a string, got $other")
    }
    val (from, as) = (str("from"), str("as"))
    val pstages: Seq[DDoc] = m.get("pipeline") match {
      case Some(DArray(items)) if items.forall(_.isInstanceOf[DDoc]) =>
        items.map(_.asInstanceOf[DDoc])
      case None    => Seq.empty
      case Some(x) => throw bad(s"$$lookup.pipeline needs an array of stages, got $x")
    }
    val letSpecs: Seq[(String, DocValue)] = m.get("let") match {
      case Some(ld: DDoc) => ld.fields.toSeq
      case None           => Seq.empty
      case Some(x)        => throw bad(s"$$lookup.let needs a document, got $x")
    }
    val eqFields: Option[(String, String)] =
      (m.get("localField"), m.get("foreignField")) match {
        case (Some(DString(lf)), Some(DString(ff))) => Some((lf, ff))
        case (None, None) => None
        case _ => throw bad("$lookup needs localField and foreignField together")
      }
    val varNames = letSpecs.map(_._1).toSet
    val (prefix, rest) = pstages.span(st => !usesVars(st, varNames))
    // a prefix $vectorSearch's unprojected score is internal — never let
    // it leak into the collected docs
    val fdf = stripVs(prefix.foldLeft(resolver(from))((acc, st) =>
      applyStage(acc, st, resolver)))

    val taken = df.columns ++ fdf.columns
    val letCols: Seq[String] =
      letSpecs.indices.map(i => freshName(taken, s"__graft_lkp_v$i"))
    val lfCol = eqFields.map(_ => freshName(taken, "__graft_lkp_lf"))
    // let expressions see the LEFT document's variables, so the common
    // let: {doc: "$$ROOT"} idiom binds the whole left row
    val leftRoot = struct(df.columns.filterNot(_.startsWith("__graft"))
      .map(col).toIndexedSeq: _*)
    val leftEnv = Map("ROOT" -> leftRoot, "CURRENT" -> leftRoot)
    val keyExprs =
      letSpecs.map(_._2).zip(letCols).map { case (v, n) =>
        valueExpr(v, leftEnv).as(n) } ++
      eqFields.zip(lfCol).map { case ((lf, _), n) => col(fieldPath("$" + lf)).as(n) }
    val env: Map[String, Column] =
      letSpecs.map(_._1).zip(letCols.map(col)).toMap

    def matchConds(ms: DDoc): Column = {
      val (exprParts, plain) = ms.fields.partition(_._1 == "$expr")
      val conds =
        (if (plain.isEmpty) Nil
         else Seq(toColumn(MongoFilter.compileDoc(DDoc(plain))))) ++
        exprParts.map { case (_, e) => valueExpr(e, env) }
      if (conds.isEmpty) lit(true) else conds.reduce(_ && _)
    }
    val (corrCond, suffix) = rest match {
      case Seq() => (None, Seq.empty[DDoc])
      case head +: tail => head.fields.toList match {
        case ("$match", ms: DDoc) :: Nil => (Some(matchConds(ms)), tail)
        case (op, _) :: _ => throw bad(s"$$lookup.pipeline: the first stage " +
          s"referencing a let variable must be $$match, got $op")
      }
    }
    val fullCond = (eqFields.map { case (_, ff) =>
      col(lfCol.get) === col(fieldPath("$" + ff)) } ++ corrCond)
      .reduceOption(_ && _)

    fullCond match {
      case None =>
        // uncorrelated sub-pipeline: every left row gets the SAME array —
        // build it once, broadcast the 1-row frame; no row ids or
        // checkpoint needed on this path
        val arr = fdf.agg(
          collect_list(struct(fdf.columns.map(col): _*)).as(as))
        val plainLeft = if (df.columns.contains(as)) df.drop(as) else df
        return plainLeft.crossJoin(broadcast(arr))
      case Some(_) => ()
    }
    val rid = freshName(taken, "__graft_lkp_rid")
    val left0 = df.withColumn(rid, monotonically_increasing_id())
      .localCheckpoint() // pin row ids against recompute renumbering
    val left = if (df.columns.contains(as)) left0.drop(as) else left0
    val leftKeys = left.select(col(rid) +: keyExprs: _*)
    var cur = leftKeys.join(fdf, fullCond.get, "inner")
    var orderCol: Option[String] = None
    val protect = Set(rid) ++ letCols ++ lfCol
    var i = 0
    while (i < suffix.length) {
      suffix(i).fields.toList match {
        case ("$match", ms: DDoc) :: Nil => cur = cur.filter(matchConds(ms))
        case ("$addFields" | "$set", ad: DDoc) :: Nil =>
          // setPath, not withColumn: a dotted name must rebuild the
          // nested struct, not create a top-level "a.b" column
          cur = ad.fields.foldLeft(cur) { case (acc, (f, v)) =>
            setPath(acc, f, valueExpr(v, env)) }
        case ("$unset", u) :: Nil => u match {
          case DString(f)     => cur = cur.drop(f)
          case DArray(fields) => cur = cur.drop(fields.map {
            case DString(f) => f
            case x          => throw bad(s"$$unset: $x") }: _*)
          case x => throw bad(s"$$unset needs a string or array, got $x")
        }
        case ("$project", pd: DDoc) :: Nil =>
          val (excl, incl) = pd.fields.partition { case (_, v) =>
            isExclusionValue(v) }
          if (incl.isEmpty) cur = cur.drop(excl.map(_._1): _*)
          else if (excl.exists(_._1 != "_id"))
            throw bad("$project cannot mix inclusion and exclusion")
          else {
            val picked = incl.map {
              case (f, v) if isInclusionFlag(v) => col(f)
              case (f, v) => valueExpr(v, env).as(f)
            }
            val withId =
              if (excl.isEmpty && !incl.exists(_._1 == "_id") &&
                  cur.columns.contains("_id")) col("_id") +: picked
              else picked
            cur = cur.select(
              (protect ++ orderCol).toSeq.sorted.map(col) ++ withId: _*)
          }
        case ("$sort", sd: DDoc) :: Nil =>
          val limitN = suffix.lift(i + 1).map(_.fields.toList) match {
            case Some(("$limit", DLong(n)) :: Nil) => n
            case _ => throw bad("$lookup.pipeline: $sort is only supported " +
              "directly before $limit (top-k); collected-array order is " +
              "otherwise undefined — $sort after $unwind instead")
          }
          val sortCols = sd.fields.map {
            case (f, DLong(1))  => col(f).asc
            case (f, DLong(-1)) => col(f).desc
            case (f, x) => throw bad(s"$$sort.$f needs 1 or -1, got $x")
          }
          // a second $sort+$limit supersedes the first ordering — drop
          // the stale row-number column so it can't leak into the docs
          orderCol.foreach(old => cur = cur.drop(old))
          val rn = freshName(cur.columns, "__graft_lkp_rn")
          cur = cur.withColumn(rn, row_number().over(
            Window.partitionBy(col(rid)).orderBy(sortCols: _*)))
            .filter(col(rn) <= limitN)
          orderCol = Some(rn)
          i += 1 // consumed the $limit too
        case ("$limit", _) :: Nil =>
          throw bad("$lookup.pipeline: $limit without a preceding $sort " +
            "is nondeterministic per row — add a $sort")
        case ("$unwind", u) :: Nil => cur = unwindStage(cur, u)
        case ("$group", gd: DDoc) :: Nil =>
          // correlated $group groups WITHIN each left row's match set
          // (one shuffle keyed by (row, _id) — bounded by matches, like
          // the operator's semantics demand). The protected key columns
          // are constant per row id, so they ride along as first();
          // a preceding $sort's row-number is meaningless post-group.
          val fs = gd.fields.toMap
          val idSpec = fs.getOrElse("_id", throw bad("$group needs _id"))
          val aggs = gd.fields.filter(_._1 != "_id").map { case (alias, aspec) =>
            groupAccumulator(aspec, env).as(alias) }
          orderCol.foreach(o => cur = cur.drop(o)); orderCol = None
          val carried = (protect - rid).toSeq.sorted.map(c => first(col(c)).as(c))
          val grouped = idSpec match {
            // per-row global aggregate; like the top-level $group, the
            // engine OMITS the _id field for _id: null (Mongo emits
            // _id: null — an untyped null has no parquet-writable type)
            case DNull => cur.groupBy(col(rid))
            case v     => cur.groupBy(col(rid), valueExpr(v, env).as("_id"))
          }
          val allAggs = carried ++ aggs
          cur = if (allAggs.isEmpty) grouped.agg(count(lit(1)).as("__n")).drop("__n")
                else grouped.agg(allAggs.head, allAggs.tail: _*)
        case (op, _) :: _ =>
          throw bad(s"$$lookup.pipeline: unsupported correlated stage $op")
        case Nil => throw bad("empty stage")
      }
      i += 1
    }
    val docFields = cur.columns.filterNot(c =>
      protect.contains(c) || orderCol.contains(c))
    val collected = orderCol match {
      case Some(rn) =>
        // keep the $sort order in the array: sort (row_number, doc)
        // structs lexicographically, then strip the number
        cur.groupBy(col(rid)).agg(transform(
          array_sort(collect_list(struct(col(rn).as("__o"),
            struct(docFields.map(col): _*).as("__d")))),
          x => x.getField("__d")).as(as))
      case None =>
        cur.groupBy(col(rid))
          .agg(collect_list(struct(docFields.map(col): _*)).as(as))
    }
    val emptyArr = toColumn(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Any]),
        collected.schema(as).dataType))
    left.join(collected, Seq(rid), "left_outer")
      .withColumn(as, coalesce(col(as), emptyArr))
      .drop(rid)
  }

  /** Aggregation expression language → Column. `env` binds pipeline
    * variables (`$$this`, `$$value`, `$let` vars) to the lambda/let
    * Columns they stand for — Spark's higher-order functions
    * (`transform`/`filter`/`aggregate`) carry the actual variable
    * binding, so compiled lambdas stay codegen'd column algebra.
    */
  def valueExpr(v: DocValue): Column = valueExpr(v, Map.empty)

  private def valueExpr(v: DocValue, env: Map[String, Column]): Column = v match {
    case DString(s) if s.startsWith("$$") =>
      val path = s.drop(2).split('.')
      env.get(path.head) match {
        case Some(c) => path.tail.foldLeft(c)(_.getField(_))
        case None    => throw bad(s"unbound pipeline variable $s " +
          s"(in scope: ${env.keys.toSeq.sorted.mkString(", ")})")
      }
    case DString(s) if s.startsWith("$")  => col(fieldPath(s))
    case DArray(items)  => array(items.map(valueExpr(_, env)): _*)
    case DDoc(Seq((op, operand))) if op.startsWith("$") => opExpr(op, operand, env)
    case d: DDoc => struct(d.fields.map { case (k, fv) =>
      valueExpr(fv, env).as(k) }: _*) // document literal → struct
    case scalar => toColumn(ExtJson.literal(scalar))
  }

  private def args(operand: DocValue, env: Map[String, Column]): Seq[Column] =
    operand match {
      case DArray(items) => items.map(valueExpr(_, env))
      case single        => Seq(valueExpr(single, env))
    }
  private def arg2(op: String, operand: DocValue,
      env: Map[String, Column]): (Column, Column) =
    args(operand, env) match {
      case Seq(a, b) => (a, b)
      case other     => throw bad(s"$op needs exactly 2 arguments, got ${other.size}")
    }
  private def docField(op: String, d: DDoc, k: String): DocValue =
    d.fields.toMap.getOrElse(k, throw bad(s"$op needs $k"))

  private def opExpr(op: String, operand: DocValue,
      env: Map[String, Column]): Column = op match {
    case "$literal"  => operand match {
      case DString(s) => lit(s)
      case v          => valueExpr(v, env) // non-string literals carry no $-meaning
    }
    // arithmetic
    case "$add"      => args(operand, env).reduce(_ + _)
    case "$multiply" => args(operand, env).reduce(_ * _)
    case "$subtract" => { val (a, b) = arg2(op, operand, env); a - b }
    case "$divide"   => { val (a, b) = arg2(op, operand, env); a / b }
    case "$mod"      => { val (a, b) = arg2(op, operand, env); a % b }
    case "$abs"      => abs(valueExpr(operand, env))
    case "$floor"    => floor(valueExpr(operand, env))
    case "$ceil"     => ceil(valueExpr(operand, env))
    case "$round"    => operand match {
      case DArray(Seq(e, DLong(d))) => round(valueExpr(e, env), d.toInt)
      case DArray(Seq(e))           => round(valueExpr(e, env), 0)
      case other => throw bad(s"$$round needs [expr, digits], got $other")
    }
    case "$trunc" => operand match {
      // truncate toward ZERO (floor/ceil by sign) — floor alone is wrong
      // for negatives: Mongo trunc(-1.27, 1) = -1.2, floor gives -1.3
      case DArray(Seq(e, DLong(d))) =>
        val x = valueExpr(e, env)
        when(x >= 0, floor(x, lit(d.toInt))).otherwise(ceil(x, lit(d.toInt)))
      case DArray(Seq(e)) =>
        val x = valueExpr(e, env)
        when(x >= 0, floor(x)).otherwise(ceil(x))
      case e =>
        val x = valueExpr(e, env)
        when(x >= 0, floor(x)).otherwise(ceil(x))
    }
    // bitwise (Mongo 6.3 operator set) — n-ary over integer types
    case "$bitAnd" => args(operand, env).reduce(_ bitwiseAND _)
    case "$bitOr"  => args(operand, env).reduce(_ bitwiseOR _)
    case "$bitXor" => args(operand, env).reduce(_ bitwiseXOR _)
    case "$bitNot" => bitwise_not(valueExpr(operand, env))
    case "$pow"   => { val (a, b) = arg2(op, operand, env); pow(a, b) }
    case "$sqrt"  => sqrt(valueExpr(operand, env))
    case "$exp"   => exp(valueExpr(operand, env))
    case "$ln"    => log(valueExpr(operand, env))
    case "$log10" => log10(valueExpr(operand, env))
    case "$log"   => // log_base(x); Mongo arg order is [number, base]
      { val (x, base) = arg2(op, operand, env); log(x) / log(base) }
    // trigonometry (Mongo 4.2 operator set; radians like Spark)
    case "$sin"   => sin(valueExpr(operand, env))
    case "$cos"   => cos(valueExpr(operand, env))
    case "$tan"   => tan(valueExpr(operand, env))
    case "$asin"  => asin(valueExpr(operand, env))
    case "$acos"  => acos(valueExpr(operand, env))
    case "$atan"  => atan(valueExpr(operand, env))
    case "$atan2" => { val (y, x) = arg2(op, operand, env); atan2(y, x) }
    case "$sinh"  => sinh(valueExpr(operand, env))
    case "$cosh"  => cosh(valueExpr(operand, env))
    case "$tanh"  => tanh(valueExpr(operand, env))
    case "$asinh" => asinh(valueExpr(operand, env))
    case "$acosh" => acosh(valueExpr(operand, env))
    case "$atanh" => atanh(valueExpr(operand, env))
    case "$degreesToRadians" => radians(valueExpr(operand, env))
    case "$radiansToDegrees" => degrees(valueExpr(operand, env))
    // string
    case "$concat"   => concat(args(operand, env): _*)
    case "$toUpper"  => upper(valueExpr(operand, env))
    case "$toLower"  => lower(valueExpr(operand, env))
    case "$trim"     => operand match {
      case d: DDoc => d.fields.toMap.get("input") match {
        case Some(in) => trim(valueExpr(in, env))
        case None     => throw bad("$trim needs {input: ...}")
      }
      case v => trim(valueExpr(v, env))
    }
    case "$strLenCP" => length(valueExpr(operand, env))
    case "$strLenBytes" => octet_length(valueExpr(operand, env))
    // UTF-8 byte length of a string, or size of a binary value — Mongo's
    // $binarySize accepts both (BSON binary ↔ Spark BinaryType)
    case "$binarySize"  => octet_length(valueExpr(operand, env))
    case "$ltrim" => operand match {
      case d: DDoc => d.fields.toMap.get("chars") match {
        case Some(DString(cs)) => ltrim(valueExpr(docField(op, d, "input"), env), cs)
        case None => ltrim(valueExpr(docField(op, d, "input"), env))
        case Some(x) => throw bad(s"$$ltrim.chars needs a string, got $x")
      }
      case other => throw bad(s"$$ltrim needs {input, chars?}, got $other")
    }
    case "$rtrim" => operand match {
      case d: DDoc => d.fields.toMap.get("chars") match {
        case Some(DString(cs)) => rtrim(valueExpr(docField(op, d, "input"), env), cs)
        case None => rtrim(valueExpr(docField(op, d, "input"), env))
        case Some(x) => throw bad(s"$$rtrim.chars needs a string, got $x")
      }
      case other => throw bad(s"$$rtrim needs {input, chars?}, got $other")
    }
    case "$strcasecmp" => // case-insensitive -1/0/1
      { val (a, b) = arg2(op, operand, env)
        val (la, lb) = (lower(a), lower(b))
        when(la < lb, -1).when(la > lb, 1).otherwise(0) }
    case "$substrCP" => operand match {
      // Mongo is 0-based, Spark substring is 1-based
      case DArray(Seq(s, start, len)) =>
        substring(valueExpr(s, env), lit(1) + valueExpr(start, env),
          valueExpr(len, env))
      case other => throw bad(s"$$substrCP needs [str, start, len], got $other")
    }
    case "$substrBytes" | "$substr" => operand match {
      // byte-addressed slice: substring over BINARY is byte-wise in Spark.
      // $substr is the deprecated pre-3.4 alias with the same byte
      // semantics (reference expression surface). Divergence note: a
      // slice that splits a multi-byte UTF-8 sequence is an error in
      // Mongo; here the torn bytes decode to U+FFFD.
      case DArray(Seq(s, start, len)) =>
        substring(valueExpr(s, env).cast("binary"),
          lit(1) + valueExpr(start, env), valueExpr(len, env)).cast("string")
      case other => throw bad(s"$op needs [str, start, len], got $other")
    }
    case "$split"    => operand match {
      // Mongo's delimiter is a LITERAL string; Spark's split() takes a
      // regex — quote it. Non-literal delimiters would need per-row
      // regex-quoting, which Mongo itself doesn't allow either.
      case DArray(Seq(s, DString(delim))) if !delim.startsWith("$") =>
        split(valueExpr(s, env), java.util.regex.Pattern.quote(delim))
      case DArray(Seq(_, d)) =>
        throw bad(s"$$split delimiter must be a literal string, got $d")
      case other => throw bad(s"$$split needs [string, delimiter], got $other")
    }
    case "$indexOfCP" | "$indexOfBytes" =>
      // 0-based; -1 when absent (instr is 1-based, 0-absent); optional
      // [start, end) restricts the search range — in code points for CP,
      // in bytes for Bytes (whose index also counts bytes; the byte
      // variant shares $substrBytes' torn-multibyte divergence note)
      val (s, sub, range) = operand match {
        case DArray(Seq(a, b))       => (valueExpr(a, env), valueExpr(b, env), None)
        case DArray(Seq(a, b, st))   => (valueExpr(a, env), valueExpr(b, env),
          Some((valueExpr(st, env), None)))
        case DArray(Seq(a, b, st, en)) => (valueExpr(a, env), valueExpr(b, env),
          Some((valueExpr(st, env), Some(valueExpr(en, env)))))
        case other => throw bad(s"$op needs [str, sub, start?, end?], got $other")
      }
      val byBytes = op == "$indexOfBytes"
      def idxIn(hay: Column, offset: Column): Column = {
        val cp = instr(hay, sub)
        if (byBytes)
          when(cp === 0, -1)
            .otherwise(offset + octet_length(substring(hay, lit(1), cp - 1)))
        else when(cp === 0, -1).otherwise(offset + cp - 1)
      }
      (range match {
        case None => idxIn(s, lit(0))
        case Some((start, endOpt)) =>
          val whole = if (byBytes) s.cast("binary") else s
          val totalLen = if (byBytes) octet_length(s) else length(s)
          val end = endOpt.getOrElse(totalLen)
          val window = substring(whole, start + 1, end - start)
          val hay = if (byBytes) window.cast("string") else window
          when(start > totalLen, -1).otherwise(idxIn(hay, start))
      }).cast("int")
    case "$replaceAll" => operand match { // literal (non-regex) find/replace
      case d: DDoc =>
        replace(valueExpr(docField(op, d, "input"), env),
          valueExpr(docField(op, d, "find"), env),
          valueExpr(docField(op, d, "replacement"), env))
      case other => throw bad(s"$$replaceAll needs {input,find,replacement}, got $other")
    }
    case "$replaceOne" => operand match { // first occurrence only
      case d: DDoc =>
        val in = valueExpr(docField(op, d, "input"), env)
        val find = valueExpr(docField(op, d, "find"), env)
        val repl = valueExpr(docField(op, d, "replacement"), env)
        val pos = call_function("locate", find, in)
        // overlay splices the replacement over the found span; pos = 0
        // (not found) keeps the input unchanged, like Mongo
        when(pos === 0, in)
          .otherwise(overlay(in, repl, pos, length(find)))
      case other => throw bad(s"$$replaceOne needs {input,find,replacement}, got $other")
    }
    case "$regexMatch" => operand match {
      case d: DDoc =>
        val rx = docField(op, d, "regex") match {
          case DString(r) => r
          case other      => throw bad(s"$$regexMatch.regex needs a string, got $other")
        }
        valueExpr(docField(op, d, "input"), env).rlike(rx)
      case other => throw bad(s"$$regexMatch needs {input, regex}, got $other")
    }
    // First match as Mongo's {match, idx, captures} document, null when
    // none. Literal patterns only (Spark's regexp functions require
    // foldable patterns); `options` flags map to an inline (?…) prefix.
    // Divergence note: a capture group that did not participate in the
    // match yields "" where Mongo yields null (regexp_extract cannot
    // distinguish the two).
    case "$regexFind" => operand match {
      case d: DDoc =>
        val (input, rx, groups) = regexOperand(op, d, env)
        val captures =
          if (groups == 0) array().cast("array<string>")
          else array((1 to groups).map(g => regexp_extract(input, rx, g)): _*)
        when(input.rlike(rx), struct(
          regexp_extract(input, rx, 0).as("match"),
          (regexp_instr(input, lit(rx)) - 1).cast("int").as("idx"),
          captures.as("captures")))
          .otherwise(lit(null))
      case other => throw bad(s"$$regexFind needs {input, regex}, got $other")
    }
    case "$regexFindAll" => operand match {
      // every match as {match, idx, captures} — all codegen'd array ops:
      // regexp_extract_all per group index gives match-aligned arrays;
      // idx comes from a left-to-right aggregate() scan locating each
      // matched text from the previous match's end (exact for the
      // engine's sequential non-overlapping matching; an anchored
      // pattern whose matched TEXT also appears unanchored earlier may
      // report the earlier position). Null input → [] like Mongo.
      // Divergence: a NON-PARTICIPATING optional group captures "" here
      // (Spark's regexp_extract_all), where Mongo captures null.
      case d: DDoc =>
        val (input, rx, groups) = regexOperand(op, d, env)
        val matches = regexp_extract_all(input, lit(rx), lit(0))
        val idxs = org.apache.spark.sql.functions.aggregate(matches,
          struct(lit(1).as("p"), array().cast("array<int>").as("r")),
          (acc, m) => {
            val pos = call_function("locate", m, input, acc.getField("p"))
            struct((pos + length(m)).as("p"),
              concat(acc.getField("r"), array((pos - 1).cast("int"))).as("r"))
          },
          acc => acc.getField("r"))
        val groupArrs =
          (1 to groups).map(g => regexp_extract_all(input, lit(rx), lit(g)))
        val assembled = transform(matches, (m, i) => struct(
          m.as("match"),
          element_at(idxs, i + 1).as("idx"),
          (if (groups == 0) array().cast("array<string>")
           else array(groupArrs.map(ga => element_at(ga, i + 1)): _*))
            .as("captures")))
        coalesce(assembled, array().cast(
          "array<struct<match:string,idx:int,captures:array<string>>>"))
      case other => throw bad(s"$$regexFindAll needs {input, regex}, got $other")
    }
    // date
    case "$year"       => year(valueExpr(operand, env))
    case "$month"      => month(valueExpr(operand, env))
    case "$dayOfMonth" => dayofmonth(valueExpr(operand, env))
    case "$hour"       => hour(valueExpr(operand, env))
    case "$minute"     => minute(valueExpr(operand, env))
    case "$second"     => second(valueExpr(operand, env))
    case "$dayOfWeek"  => dayofweek(valueExpr(operand, env))
    case "$dayOfYear"  => dayofyear(valueExpr(operand, env))
    case "$week"       => weekofyear(valueExpr(operand, env))
    case "$dateToString" => operand match {
      case d: DDoc =>
        val fmt = d.fields.toMap.get("format") match {
          case Some(DString(f)) => f
          case None             => "%Y-%m-%dT%H:%M:%S.%LZ" // Mongo default
          case other => throw bad(s"$$dateToString.format needs a string, got $other")
        }
        date_format(valueExpr(docField(op, d, "date"), env), strftimeToJava(fmt))
      case other => throw bad(s"$$dateToString needs {date, format}, got $other")
    }
    case "$dateDiff" => operand match {
      case d: DDoc =>
        val unit = dateUnit(op, d)
        toColumn(org.apache.spark.sql.catalyst.expressions.TimestampDiff(unit,
          toExpression(valueExpr(docField(op, d, "startDate"), env).cast("timestamp")),
          toExpression(valueExpr(docField(op, d, "endDate"), env).cast("timestamp"))))
      case other => throw bad(s"$$dateDiff needs {startDate,endDate,unit}, got $other")
    }
    case "$dateAdd" | "$dateSubtract" => operand match {
      case d: DDoc =>
        val amt = valueExpr(docField(op, d, "amount"), env)
        toColumn(org.apache.spark.sql.catalyst.expressions.TimestampAdd(
          dateUnit(op, d),
          toExpression((if (op == "$dateAdd") amt else -amt).cast("long")),
          toExpression(valueExpr(docField(op, d, "startDate"), env).cast("timestamp"))))
      case other => throw bad(s"$op needs {startDate,unit,amount}, got $other")
    }
    case "$dateTrunc" => operand match {
      case d: DDoc =>
        val date = valueExpr(docField(op, d, "date"), env).cast("timestamp")
        val unit = docField(op, d, "unit") match {
          case DString(u) => u.toLowerCase
          case other => throw bad(s"$$dateTrunc.unit needs a string, got $other")
        }
        val m = d.fields.toMap
        m.get("binSize") match {
          case None | Some(DLong(1)) => ()
          case Some(x) => throw bad(s"$$dateTrunc.binSize: only 1 supported, got $x")
        }
        unit match {
          case "year" | "quarter" | "month" | "day" | "hour" | "minute" |
              "second" => date_trunc(unit, date)
          case "week" =>
            // Mongo's week boundary defaults to SUNDAY (configurable via
            // startOfWeek); Spark's date_trunc("week") is ISO Monday, so
            // compute day-trunc minus the offset to the start day.
            // Spark dayofweek: 1=Sunday … 7=Saturday.
            val startDow = m.get("startOfWeek") match {
              case Some(DString(s)) =>
                val names = Seq("sunday", "monday", "tuesday", "wednesday",
                  "thursday", "friday", "saturday")
                val i = names.indexOf(s.toLowerCase)
                if (i < 0) throw bad(s"$$dateTrunc.startOfWeek: '$s'")
                i + 1
              case None    => 1 // Mongo default: Sunday
              case Some(x) => throw bad(s"$$dateTrunc.startOfWeek: $x")
            }
            val dayT = date_trunc("day", date)
            to_timestamp(date_sub(dayT.cast("date"),
              pmod(dayofweek(date) - lit(startDow), lit(7))))
          case other => throw bad(s"$$dateTrunc.unit: unsupported '$other'")
        }
      case other => throw bad(s"$$dateTrunc needs {date, unit}, got $other")
    }
    // type conversion
    case "$toInt" | "$toLong" => valueExpr(operand, env).cast("bigint")
    case "$toDecimal" => valueExpr(operand, env).cast("decimal(38,9)")
    case "$toDouble"  => valueExpr(operand, env).cast("double")
    case "$toString"  => valueExpr(operand, env).cast("string")
    case "$toBool"    => valueExpr(operand, env).cast("boolean")
    case "$toDate"    => valueExpr(operand, env).cast("timestamp")
    // ObjectId/UUID are modeled as their canonical hex strings (the
    // docstore maps $oid to string — SURVEY §3): conversion validates the
    // shape and canonicalizes case; a malformed value errors like Mongo's
    // ConversionFailure. Null passes through.
    case "$toObjectId" =>
      val s = valueExpr(operand, env).cast("string")
      when(s.isNull, lit(null).cast("string"))
        .when(s.rlike("^[0-9a-fA-F]{24}$"), lower(s))
        .otherwise(raise_error(concat(
          lit("$toObjectId: not a 24-hex-character string: "), s)))
    case "$toUUID" => // Mongo 8.0: string → UUID (canonical lowercase)
      val s = valueExpr(operand, env).cast("string")
      val rx = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
      when(s.isNull, lit(null).cast("string"))
        .when(s.rlike(rx), lower(s))
        .otherwise(raise_error(concat(lit("$toUUID: not a UUID string: "), s)))
    case "$bsonSize" => // exact BSON-encoded byte size, from the schema
      toColumn(graft.functions.BsonSizeExpr(toExpression(valueExpr(operand, env))))
    // BSON Timestamp accessors. The type maps to VARCHAR carrying its
    // raw extended-JSON form `{"$timestamp":{"t":…,"i":…}}` (reference
    // README "BSON Type Mapping"; ExtJson keeps the source text), so the
    // accessors parse that envelope with an explicit schema. Divergence:
    // a non-timestamp string yields NULL, not Mongo's type error — the
    // 100-TB posture (one malformed doc must not kill the job), matching
    // $convert's try_cast stance.
    case "$tsSecond" | "$tsIncrement" =>
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("$timestamp", StructType(Seq(
        StructField("t", LongType), StructField("i", LongType))))))
      val part = if (op == "$tsSecond") "t" else "i"
      from_json(valueExpr(operand, env).cast("string"), schema)
        .getField("$timestamp").getField(part)
    case "$convert"   => operand match {
      case d: DDoc =>
        val to = docField(op, d, "to") match {
          case DString("int") | DString("long") => "bigint"
          case DString("double")  => "double"
          case DString("string")  => "string"
          case DString("bool")    => "boolean"
          case DString("date")    => "timestamp"
          case DString("decimal") => "decimal(38,9)"
          case other => throw bad(s"$$convert.to: unsupported target $other")
        }
        val in = valueExpr(docField(op, d, "input"), env)
        d.fields.toMap.get("onError") match {
          // try_cast semantics: a failed conversion yields onError, not a
          // task failure — at 100 TB one malformed doc must not kill the job
          case Some(oe) => coalesce(try_cast_col(in, to), valueExpr(oe, env))
          case None     => in.cast(to)
        }
      case other => throw bad(s"$$convert needs {input, to}, got $other")
    }
    // comparison (expression context: always 2-arg). Mongo's aggregation
    // $eq/$ne compare in the BSON total order, where null EQUALS null and
    // the result is always a boolean — Spark's ===/=!= would return NULL
    // instead (dropping null-keyed rows from $match filters and $lookup
    // join conditions), so both compile null-safe.
    case "$eq"  => { val (a, b) = arg2(op, operand, env); a <=> b }
    case "$ne"  => { val (a, b) = arg2(op, operand, env); !(a <=> b) }
    case "$gt"  => { val (a, b) = arg2(op, operand, env); a > b }
    case "$gte" => { val (a, b) = arg2(op, operand, env); a >= b }
    case "$lt"  => { val (a, b) = arg2(op, operand, env); a < b }
    case "$lte" => { val (a, b) = arg2(op, operand, env); a <= b }
    case "$cmp" => { val (a, b) = arg2(op, operand, env)
      when(a < b, -1).when(a > b, 1).otherwise(0) }
    // boolean
    case "$and" => args(operand, env).reduce(_ && _)
    case "$or"  => args(operand, env).reduce(_ || _)
    case "$not" => !valueExpr(operand match {
      case DArray(Seq(x)) => x
      case x              => x
    }, env)
    // conditional
    case "$cond" => operand match {
      case DArray(Seq(i, t, e)) => when(valueExpr(i, env), valueExpr(t, env))
        .otherwise(valueExpr(e, env))
      case d: DDoc =>
        val m = d.fields.toMap
        (m.get("if"), m.get("then"), m.get("else")) match {
          case (Some(i), Some(t), Some(e)) =>
            when(valueExpr(i, env), valueExpr(t, env)).otherwise(valueExpr(e, env))
          case _ => throw bad("$cond needs if/then/else")
        }
      case other => throw bad(s"$$cond needs [if,then,else], got $other")
    }
    case "$ifNull" => coalesce(args(operand, env): _*)
    case "$switch" => operand match {
      case d: DDoc =>
        val branches = docField(op, d, "branches") match {
          case DArray(bs) => bs.map {
            case b: DDoc => (valueExpr(docField("$switch branch", b, "case"), env),
              valueExpr(docField("$switch branch", b, "then"), env))
            case other => throw bad(s"$$switch branch must be a document, got $other")
          }
          case other => throw bad(s"$$switch.branches needs an array, got $other")
        }
        if (branches.isEmpty) throw bad("$switch needs at least one branch")
        val chained = branches.foldLeft(Option.empty[Column]) {
          case (None, (c, t))      => Some(when(c, t))
          case (Some(acc), (c, t)) => Some(acc.when(c, t))
        }.get
        d.fields.toMap.get("default") match {
          case Some(dflt) => chained.otherwise(valueExpr(dflt, env))
          case None       => chained
        }
      case other => throw bad(s"$$switch needs {branches, default}, got $other")
    }
    // variables
    case "$let" => operand match {
      case d: DDoc =>
        val vars = docField(op, d, "vars") match {
          case v: DDoc => v.fields.map { case (n, e) => n -> valueExpr(e, env) }
          case other   => throw bad(s"$$let.vars needs a document, got $other")
        }
        valueExpr(docField(op, d, "in"), env ++ vars)
      case other => throw bad(s"$$let needs {vars, in}, got $other")
    }
    // array
    case "$size"        => size(valueExpr(operand, env))
    // try_element_at: Mongo returns "missing" (null) out of bounds, but
    // ANSI-mode element_at throws
    case "$arrayElemAt" => operand match {
      // Mongo is 0-based (negative = from the end); Spark is 1-based
      case DArray(Seq(a, DLong(i))) =>
        val arr = valueExpr(a, env)
        if (i >= 0) try_element_at(arr, lit(i.toInt + 1))
        else try_element_at(arr, lit(i.toInt))
      case other => throw bad(s"$$arrayElemAt needs [array, idx], got $other")
    }
    case "$first" => try_element_at(valueExpr(operand, env), lit(1))
    case "$last"  => try_element_at(valueExpr(operand, env), lit(-1))
    case "$firstN" | "$lastN" => operand match { // array heads/tails
      case d: DDoc =>
        val n = docField(op, d, "n") match {
          case DLong(i) => i.toInt
          case other    => throw bad(s"$op.n needs an integer, got $other")
        }
        val arr = valueExpr(docField(op, d, "input"), env)
        if (op == "$firstN") slice(arr, 1, n)
        else reverse(slice(reverse(arr), 1, n))
      case other => throw bad(s"$op needs {n, input}, got $other")
    }
    case "$concatArrays" => concat(args(operand, env): _*)
    case "$reverseArray" => reverse(valueExpr(operand, env))
    case "$slice" => operand match {
      // [arr, n]: first n (n>=0) or last n (n<0); [arr, pos, n]: n from
      // 0-based pos (Spark slice is 1-based; its negative start already
      // counts from the end like Mongo's negative position)
      case DArray(Seq(a, DLong(n))) =>
        val arr = valueExpr(a, env)
        if (n >= 0) slice(arr, 1, n.toInt) else slice(arr, n.toInt, -n.toInt)
      case DArray(Seq(a, DLong(p), DLong(n))) =>
        slice(valueExpr(a, env), if (p >= 0) p.toInt + 1 else p.toInt, n.toInt)
      case other => throw bad(s"$$slice needs [array, n] or [array, pos, n], got $other")
    }
    case "$in" => // expression form: [elem, array]
      { val (e, arr) = arg2(op, operand, env); array_contains(arr, e) }
    case "$indexOfArray" => // 0-based; -1 when absent (array_position: 1-based, 0)
      { val (arr, e) = arg2(op, operand, env); array_position(arr, e) - 1 }
    case "$sortArray" => operand match {
      case d: DDoc => docField(op, d, "sortBy") match {
        case DLong(1)  => array_sort(valueExpr(docField(op, d, "input"), env))
        case DLong(-1) => reverse(array_sort(valueExpr(docField(op, d, "input"), env)))
        case other => throw bad(s"$$sortArray.sortBy needs 1 or -1 (scalar sort), got $other")
      }
      case other => throw bad(s"$$sortArray needs {input, sortBy}, got $other")
    }
    case "$filter" => operand match {
      case d: DDoc =>
        val as = varName(d, "this")
        val body = docField(op, d, "cond")
        val base = filter(valueExpr(docField(op, d, "input"), env),
          x => valueExpr(body, env + (as -> x)))
        d.fields.toMap.get("limit") match {
          case Some(DLong(n)) => slice(base, 1, n.toInt)
          case None           => base
          case other => throw bad(s"$$filter.limit needs an integer, got $other")
        }
      case other => throw bad(s"$$filter needs {input, as, cond}, got $other")
    }
    case "$map" => operand match {
      case d: DDoc =>
        val as = varName(d, "this")
        val body = docField(op, d, "in")
        transform(valueExpr(docField(op, d, "input"), env),
          x => valueExpr(body, env + (as -> x)))
      case other => throw bad(s"$$map needs {input, as, in}, got $other")
    }
    case "$reduce" => operand match {
      case d: DDoc =>
        val body = docField(op, d, "in")
        // qualified: this object's aggregate(df, json) shadows functions.aggregate
        org.apache.spark.sql.functions.aggregate(
          valueExpr(docField(op, d, "input"), env),
          valueExpr(docField(op, d, "initialValue"), env),
          (acc, x) => valueExpr(body, env + ("value" -> acc, "this" -> x)))
      case other => throw bad(s"$$reduce needs {input, initialValue, in}, got $other")
    }
    // set operators: Mongo leaves output order unspecified; sorted here so
    // results are deterministic and cross-engine comparable
    case "$setUnion"        => array_sort(args(operand, env).reduce(array_union))
    case "$setIntersection" => array_sort(args(operand, env).reduce(array_intersect))
    case "$setDifference"   =>
      { val (a, b) = arg2(op, operand, env); array_sort(array_except(a, b)) }
    case "$setIsSubset"     =>
      { val (a, b) = arg2(op, operand, env); size(array_except(a, b)) === 0 }
    case "$setEquals"       => // n-ary: all arguments equal AS SETS
      args(operand, env).map(a => array_sort(array_distinct(a)))
        .sliding(2).collect { case Seq(a, b) => a === b }
        .reduceOption(_ && _).getOrElse(lit(true))
    case "$allElementsTrue" => forall(oneArrayArg(op, operand, env), x => x)
    case "$anyElementTrue"  => exists(oneArrayArg(op, operand, env), x => x)
    // Shallow document merge, later arguments win. Spark structs need
    // field names at compile time, so arguments after the first must be
    // DOCUMENT LITERALS (each key rebuilt via withField — the common
    // "base doc + overrides" shape, e.g. {$mergeObjects: ["$$ROOT",
    // {"flag": true}]}); an arbitrary struct expression there has no
    // statically known fields and is rejected with a clear error.
    case "$mergeObjects" => operand match {
      case DArray(items) if items.nonEmpty =>
        items.tail.foldLeft(valueExpr(items.head, env)) {
          case (acc, dd: DDoc) => dd.fields.foldLeft(acc) {
            case (a, (k, v)) => a.withField(k, valueExpr(v, env)) }
          case (_, x) => throw bad("$mergeObjects: arguments after the " +
            s"first must be document literals, got $x")
        }
      case d: DDoc => valueExpr(d, env) // single-doc form: the doc itself
      case other => throw bad(s"$$mergeObjects needs an array, got $other")
    }
    // field names must be literals (Spark structs are compile-time
    // shaped); $$REMOVE as value = Mongo's field-removal idiom. Mongo
    // defines the name as LITERAL — its whole point is addressing names
    // the dotted syntax can't — so dotted names are backtick-quoted for
    // withField/dropFields (which would otherwise treat '.' as nesting).
    case "$setField" => operand match {
      case d: DDoc =>
        val f = literalFieldName(op, docField(op, d, "field"))
        val input = valueExpr(docField(op, d, "input"), env)
        docField(op, d, "value") match {
          case DString("$$REMOVE") => input.dropFields(f)
          case v                   => input.withField(f, valueExpr(v, env))
        }
      case other => throw bad(s"$$setField needs {field, input, value}, got $other")
    }
    case "$unsetField" => operand match {
      case d: DDoc =>
        valueExpr(docField(op, d, "input"), env)
          .dropFields(literalFieldName(op, docField(op, d, "field")))
      case other => throw bad(s"$$unsetField needs {field, input}, got $other")
    }
    case "$isArray" =>
      val v = valueExpr(operand match {
        // Mongo wraps the single argument in an array: {$isArray: ["$f"]}
        case DArray(Seq(one)) => one
        case x                => x
      }, env)
      // a NULL value is not an array in Mongo even when the COLUMN is
      // array-typed: its $type is "null"
      toColumn(ExtJson.typeOf(toExpression(v))) === "array"
    // document ↔ entry-list conversions. $objectToArray resolves against
    // the input's Spark type (struct fields in order, or map entries);
    // $arrayToObject produces a MAP — the fixed-schema analog of building
    // a document whose keys are data — so the pair round-trips.
    case "$objectToArray" =>
      toColumn(graft.functions.ObjectToArrayExpr(toExpression(valueExpr(
        operand match {
          case DArray(Seq(one)) => one
          case x                => x
        }, env))))
    case "$arrayToObject" =>
      // {k, v} entry-doc form only (the shape $objectToArray emits; the
      // [[k, v]] pair-array form is not supported). Mongo keeps the LAST
      // value for a duplicated key — map_from_entries would throw — so
      // entries with a later same-k entry are filtered out first
      // (O(n²) per row over a bounded entry list).
      val a = valueExpr(operand match {
        case DArray(Seq(one)) => one
        case x                => x
      }, env)
      val lastWins = filter(a, (e, i) =>
        size(filter(slice(a, i + 2, greatest(size(a) - i - 1, lit(0))),
          later => later.getField("k") === e.getField("k"))) === 0)
      map_from_entries(transform(lastWins,
        e => struct(e.getField("k"), e.getField("v"))))
    case "$getField" => operand match {
      case DString(f) => col(f)
      case d: DDoc =>
        val f = docField(op, d, "field") match {
          case DString(s) => s
          case other      => throw bad(s"$$getField.field needs a string, got $other")
        }
        valueExpr(docField(op, d, "input"), env).getField(f)
      case other => throw bad(s"$$getField needs {field, input}, got $other")
    }
    case "$range" => operand match {
      // Mongo's range is half-open [start, end); sequence() is inclusive,
      // so pull the stop back one step-sign — and guard the empty case
      // first: sequence() throws 'Illegal sequence boundaries' whenever
      // the step can't reach the stop, where Mongo returns []. Literal
      // steps only — a per-row step would need a per-row sign.
      case DArray(Seq(s, e)) =>
        val (sc, ec) = (valueExpr(s, env), valueExpr(e, env))
        when(ec <= sc, array()).otherwise(sequence(sc, ec - 1, lit(1L)))
      case DArray(Seq(s, e, DLong(st))) if st != 0 =>
        val (sc, ec) = (valueExpr(s, env), valueExpr(e, env))
        val empty = if (st > 0) ec <= sc else ec >= sc
        when(empty, array())
          .otherwise(sequence(sc, ec - (if (st > 0) 1 else -1), lit(st)))
      case other => throw bad(s"$$range needs [start, end, step?], got $other")
    }
    case "$zip" => operand match {
      case d: DDoc =>
        val inputs = docField(op, d, "inputs") match {
          case DArray(items) if items.size >= 2 => items.map(valueExpr(_, env))
          case other => throw bad(s"$$zip.inputs needs >=2 arrays, got $other")
        }
        val longest = d.fields.toMap.get("useLongestLength") == Some(DBool(true))
        // element i of the result = array of the i-th elements; zip_with
        // pads to the LONGEST input with nulls, so Mongo's default
        // (shortest) truncates to the minimum size afterwards. When an
        // EARLIER input is the short one, the accumulated tuple xs is
        // null past its end — pad it to the running arity (i+1 inputs
        // folded so far) with nulls, as Mongo does, so tuples keep the
        // right width instead of collapsing to [y].
        val zipped = inputs.tail.zipWithIndex.foldLeft(
          transform(inputs.head, x => array(x))) { case (acc, (nxt, i)) =>
          val pad = array_repeat(lit(null), i + 1)
          zip_with(acc, nxt, (xs, y) => concat(coalesce(xs, pad), array(y)))
        }
        if (longest) zipped
        else slice(zipped, lit(1), inputs.map(size).reduce(least(_, _)))
      case other => throw bad(s"$$zip needs {inputs, useLongestLength?}, got $other")
    }
    // $vectorSearch's score, exposed exactly like Atlas: projected via
    // {$meta: "vectorSearchScore"} from the stage's hidden column
    case "$meta" => operand match {
      case DString("vectorSearchScore") => col(VsScoreCol)
      case DString("searchScore")       => col(SearchScoreCol)
      case DString("score")             => col(FusionScoreCol)
      case other => throw bad(s"$$meta: unsupported metadata $other " +
        "(vectorSearchScore, searchScore, score)")
    }
    // type introspection: Spark types by Mongo's $type names
    case "$type" => toColumn(ExtJson.typeOf(toExpression(valueExpr(operand, env))))
    case "$isNumber" =>
      toColumn(ExtJson.isNumber(ExtJson.typeOf(toExpression(valueExpr(operand, env)))))
    // date constructors / destructors
    case "$dateFromString" => operand match {
      case d: DDoc =>
        val in = valueExpr(docField(op, d, "dateString"), env)
        d.fields.toMap.get("format") match {
          case Some(DString(f)) => to_timestamp(in, strftimeToJava(f))
          case None             => in.cast("timestamp")
          case Some(x) => throw bad(s"$$dateFromString.format needs a string, got $x")
        }
      case other => throw bad(s"$$dateFromString needs {dateString, format?}, got $other")
    }
    case "$dateFromParts" => operand match {
      case d: DDoc =>
        val m = d.fields.toMap
        def part(k: String, dflt: Int): Column =
          m.get(k).map(valueExpr(_, env)).getOrElse(lit(dflt))
        make_timestamp(valueExpr(docField(op, d, "year"), env),
          part("month", 1), part("day", 1), part("hour", 0),
          part("minute", 0), part("second", 0))
      case other => throw bad(s"$$dateFromParts needs {year, ...}, got $other")
    }
    case "$dateToParts" => operand match {
      case d: DDoc =>
        val ts = valueExpr(docField(op, d, "date"), env)
        struct(year(ts).as("year"), month(ts).as("month"),
          dayofmonth(ts).as("day"), hour(ts).as("hour"),
          minute(ts).as("minute"), second(ts).as("second"),
          (floor(unix_micros(ts) / 1000) % 1000).cast("int").as("millisecond"))
      case other => throw bad(s"$$dateToParts needs {date}, got $other")
    }
    case "$isoWeek"      => weekofyear(valueExpr(operand, env)) // Spark week IS ISO
    case "$isoDayOfWeek" => weekday(valueExpr(operand, env)) + 1 // 1=Mon..7=Sun
    case "$isoWeekYear"  => toColumn(
      org.apache.spark.sql.catalyst.expressions.YearOfWeek(
        toExpression(valueExpr(operand, env).cast("date"))))
    case "$millisecond"  =>
      (floor(unix_micros(valueExpr(operand, env)) / 1000) % 1000).cast("int")
    case "$rand" => operand match {
      case DDoc(Seq()) => rand()
      case other       => throw bad(s"$$rand takes {}, got $other")
    }
    case other => throw bad(s"unsupported expression operator $other")
  }

  /** Mongo wraps single set-op args one deeper: `{$allElementsTrue: [ "$a" ]}`. */
  private def oneArrayArg(op: String, operand: DocValue,
      env: Map[String, Column]): Column = operand match {
    case DArray(Seq(one)) => valueExpr(one, env)
    case one              => valueExpr(one, env)
  }

  private def varName(d: DDoc, dflt: String): String =
    d.fields.toMap.get("as") match {
      case Some(DString(n)) => n
      case None             => dflt
      case other            => throw bad(s"'as' needs a string, got $other")
    }

  private def dateUnit(op: String, d: DDoc): String = docField(op, d, "unit") match {
    case DString(u) if Set("year", "quarter", "month", "week", "day",
      "hour", "minute", "second")(u) => u.toUpperCase
    case other => throw bad(s"$op.unit: unsupported unit $other")
  }

  /** Mongo `$dateToString` uses strftime-style `%` specifiers; Spark's
    * `date_format` is java.time patterns — translate the common ones.
    */
  private def strftimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'L' => sb.append("SSS")
          case 'j' => sb.append("DDD")
          case '%' => sb.append('%')
          case x   => throw bad(s"$$dateToString: unsupported specifier %$x")
        }
        i += 2
      } else {
        // literal run → quoted so java.time doesn't interpret letters
        if (c.isLetter) sb.append('\'').append(c).append('\'') else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def try_cast_col(c: Column, to: String): Column =
    toColumn(org.apache.spark.sql.catalyst.expressions.Cast(toExpression(c),
      org.apache.spark.sql.types.DataType.fromDDL(to), None,
      org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))

  /** `"$a.b"` → `a.b` column path (Spark resolves dots as nested access). */
  /** `$setField`/`$unsetField` field name: literal per Mongo — dotted
    * names are backtick-quoted so withField/dropFields treat them as ONE
    * field instead of a nested path. */
  private def literalFieldName(op: String, v: DocValue): String = v match {
    case DString(s) if s.contains('`') =>
      throw bad(s"$op.field: backticks unsupported in field names: '$s'")
    case DString(s) => if (s.contains('.')) s"`$s`" else s
    case other => throw bad(s"$op.field needs a literal string, got $other")
  }

  /** Count capturing groups in a regex literal: `(` that is not escaped,
    * not inside a character class, and not a `(?...)` construct — except
    * named groups `(?<name>...)`, which capture (lookbehinds `(?<=` /
    * `(?<!` do not). */
  /** Shared `{input, regex, options}` parsing for $regexFind/$regexFindAll/
    * $regexMatch-style operators: returns (input column, flag-prefixed
    * pattern, capture-group count). */
  private def regexOperand(op: String, d: DDoc,
      env: Map[String, Column]): (Column, String, Int) = {
    val input = valueExpr(docField(op, d, "input"), env)
    val raw = docField(op, d, "regex") match {
      case DString(r) => r
      case other => throw bad(s"$op.regex needs a literal string, got $other")
    }
    val rx = d.fields.toMap.get("options") match {
      case Some(DString(o)) if o.nonEmpty =>
        if (!o.forall("imsx".contains(_)))
          throw bad(s"$op.options: unsupported flags '$o'")
        s"(?$o)$raw"
      case None | Some(DString("")) => raw
      case Some(x) => throw bad(s"$op.options: $x")
    }
    (input, rx, countCaptureGroups(raw))
  }

  private def countCaptureGroups(p: String): Int = {
    var n = 0
    var i = 0
    while (i < p.length) {
      p(i) match {
        case '\\' => i += 1 // skip the escaped char
        case '[' => // character class: '(' inside is literal
          i += 1
          while (i < p.length && p(i) != ']') {
            if (p(i) == '\\') i += 1
            i += 1
          }
        case '(' =>
          if (i + 1 >= p.length || p(i + 1) != '?') n += 1
          else if (i + 2 < p.length && p(i + 1) == '?' && p(i + 2) == '<' &&
              i + 3 < p.length && p(i + 3) != '=' && p(i + 3) != '!') n += 1
        case _ => ()
      }
      i += 1
    }
    n
  }

  private def fieldPath(ref: String): String =
    if (ref.startsWith("$")) ref.drop(1) else ref

  /** A column name not present in `taken` (collision-proof temps). */
  private def freshName(taken: Seq[String], base: String): String =
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
      .find(n => !taken.contains(n)).get

  /** Set `path` (possibly dotted) to `value` with Mongo field semantics:
    * a top-level name is a plain withColumn; a dotted path replaces the
    * nested field INSIDE the parent struct (`withField`), creating the
    * nested struct chain when the top-level column doesn't exist yet —
    * withColumn("a.b", ...) would instead create a literal "a.b" column.
    */
  private def setPath(df: DataFrame, path: String, value: Column): DataFrame =
    if (!path.contains('.')) df.withColumn(path, value)
    else {
      val head = path.substring(0, path.indexOf('.'))
      val rest = path.substring(path.indexOf('.') + 1)
      if (df.columns.contains(head))
        df.withColumn(head, col(head).withField(rest, value))
      else // absent parent: Mongo creates the nested documents
        df.withColumn(head, rest.split('.').foldRight(value) {
          (f, acc) => struct(acc.as(f)) })
    }

  /** The shared `$search`/`$searchMeta` engine: Lucene-BM25 score the
    * in-flow frame for a literal text query and keep only matching docs
    * (matchCriteria "any" = at least one term, "all" = every term), the
    * score riding [[SearchScoreCol]]. Query terms are literals → tf/dl
    * are map-side array ops; corpus stats (per-path docCount, Σdl,
    * per-term df) are ONE tiny aggregate broadcast back. */
  private def bm25Scored(df: DataFrame, op: String, spec: DocValue): DataFrame = {
    val m = spec match {
      case d: DDoc => d.fields.toMap
      case other   => throw bad(s"$op needs a document, got $other")
    }
    val unknown = m.keySet -- Set("text", "index")
    if (unknown.nonEmpty) throw bad(
      s"$op: unsupported operators ${unknown.mkString(", ")} (text only)")
    val td = m.get("text") match {
      case Some(t: DDoc) => t.fields.toMap
      case _ => throw bad(s"$op needs {text: {query, path}}")
    }
    val query = td.get("query") match {
      case Some(DString(q)) => q
      case other => throw bad(s"$op.text.query needs a string, got $other")
    }
    val paths: Seq[String] = td.get("path") match {
      case Some(DString(p)) => Seq(p)
      case Some(DArray(ps)) if ps.forall(_.isInstanceOf[DString]) =>
        ps.map { case DString(p) => p case _ => "" }
      case other => throw bad(s"$op.text.path needs a string or strings, got $other")
    }
    val requireAll = td.get("matchCriteria") match {
      case Some(DString("all")) => true
      case None | Some(DString("any")) => false
      case Some(x) => throw bad(s"$op.text.matchCriteria: $x (any | all)")
    }
    val extra = td.keySet -- Set("query", "path", "matchCriteria")
    if (extra.nonEmpty) throw bad(
      s"$op.text: unsupported options ${extra.mkString(", ")}")
    val tokRx = "[^\\p{L}\\p{N}]+"
    val terms = query.toLowerCase.split(tokRx).filter(_.nonEmpty).distinct.toSeq
    if (terms.isEmpty) throw bad(s"$op.text.query has no terms")
    val (k1, b) = (1.2, 0.75)

    def toks(p: String) =
      filter(split(lower(col(p)), tokRx), x => x =!= lit(""))
    // one token-array column per path; tf/dl derive from it map-side
    val staged = paths.zipWithIndex.foldLeft(df) { case (acc, (p, i)) =>
      val withTk = acc.withColumn(s"__srch_tk_$i", toks(p))
        .withColumn(s"__srch_dl_$i",
          when(col(p).isNotNull, size(col(s"__srch_tk_$i"))))
      terms.zipWithIndex.foldLeft(withTk) { case (a, (t, j)) =>
        a.withColumn(s"__srch_tf_${i}_$j", when(col(p).isNotNull,
          size(filter(col(s"__srch_tk_$i"), x => x === lit(t))))
          .otherwise(lit(0)))
      }
    }
    val statAggs = paths.indices.flatMap { i =>
      Seq(count(col(s"__srch_dl_$i")).as(s"__srch_n_$i"),
        sum(col(s"__srch_dl_$i")).as(s"__srch_sl_$i")) ++
        terms.indices.map(j =>
          count(when(col(s"__srch_tf_${i}_$j") > 0, 1))
            .as(s"__srch_df_${i}_$j"))
    }
    val stats = staged.agg(statAggs.head, statAggs.tail: _*)
    val scored = staged.crossJoin(broadcast(stats))
    val score = paths.indices.flatMap { i =>
      val n = col(s"__srch_n_$i").cast("double")
      val avgdl = col(s"__srch_sl_$i").cast("double") / n
      terms.indices.map { j =>
        val tf = col(s"__srch_tf_${i}_$j").cast("double")
        val dfreq = col(s"__srch_df_${i}_$j").cast("double")
        val idf = log(lit(1.0) + (n - dfreq + 0.5) / (dfreq + 0.5))
        when(tf > 0, idf *
          (tf / (tf + lit(k1) * (lit(1 - b) + lit(b) * (col(s"__srch_dl_$i") / avgdl)))))
          .otherwise(lit(0.0))
      }
    }.reduce(_ + _)
    // "all": every term must appear in at least one path
    val allMatch = terms.indices.map { j =>
      paths.indices.map(i => col(s"__srch_tf_${i}_$j") > 0)
        .reduce(_ || _)
    }.reduce(_ && _)
    val temps = scored.columns.filter(_.startsWith("__srch_"))
    val withScore = scored.withColumn(SearchScoreCol, score)
    val filtered =
      if (requireAll) withScore.filter(allMatch && col(SearchScoreCol) > 0)
      else withScore.filter(col(SearchScoreCol) > 0)
    filtered.drop(temps: _*)
  }

  /** One stage of a `$merge` whenMatched UPDATE pipeline. Mongo limits
    * these to $addFields/$set/$project/$unset/$replaceRoot/$replaceWith;
    * field refs read the TARGET document, `$$new` is the source doc
    * (bound to the hidden join struct). $project is not supported —
    * the target's fixed schema makes inclusion-projection ambiguous
    * with the unmatched rows it must union back with. */
  private def mergeUpdateStage(df: DataFrame, stage: DDoc): DataFrame = {
    val env: Map[String, Column] = {
      val rootCol = struct(df.columns
        .filterNot(c => c.startsWith("__graft") || c == "__merge_new")
        .map(col).toIndexedSeq: _*)
      Map("new" -> col("__merge_new"), "ROOT" -> rootCol, "CURRENT" -> rootCol)
    }
    stage.fields.toList match {
      case (op, spec) :: Nil => op match {
        case "$set" | "$addFields" => spec match {
          case d: DDoc => d.fields.foldLeft(df) { case (acc, (f, v)) =>
            setPath(acc, f, valueExpr(v, env)) }
          case other => throw bad(s"$$merge whenMatched $op: needs a document, got $other")
        }
        case "$unset" => spec match {
          case DString(f)    => df.drop(f)
          case DArray(items) => df.drop(items.map {
            case DString(f) => f
            case x          => throw bad(s"$$merge whenMatched $$unset: $x")
          }: _*)
          case other => throw bad(s"$$merge whenMatched $$unset: $other")
        }
        case "$replaceRoot" | "$replaceWith" =>
          val rootSpec = (op, spec) match {
            case ("$replaceRoot", d: DDoc) => d.fields.toMap.getOrElse("newRoot",
              throw bad("$merge whenMatched $replaceRoot needs newRoot"))
            case ("$replaceWith", s)       => s
            case (_, x) => throw bad(s"$$merge whenMatched $op: $x")
          }
          df.select(valueExpr(rootSpec, env).as("__merge_root"),
              col("__merge_new"))
            .select(col("__merge_root.*"), col("__merge_new"))
        case other => throw bad(s"$$merge whenMatched pipeline: unsupported " +
          s"stage $other ($$set/$$addFields/$$unset/$$replaceRoot/$$replaceWith)")
      }
      case other => throw bad(
        s"$$merge whenMatched stage must have exactly one operator, got $other")
    }
  }

  private def bad(msg: String) =
    new IllegalArgumentException(s"mongo pipeline: $msg")
}
