package graft

import org.apache.spark.sql.functions._

/** Mongo aggregation-pipeline compiler: every stage type against small
  * in-memory frames with hand-checked expectations (the d12 oracle gate
  * covers cross-engine value parity on the real tables). */
class MongoPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sales = Seq(
    (1L, "a", 10.0, Seq(1L, 2L)),
    (2L, "a", 20.0, Seq(3L)),
    (3L, "b", 5.0, Seq.empty[Long]),
    (4L, "b", 15.0, Seq(4L, 5L, 6L)),
    (5L, "c", 7.5, Seq(7L))
  ).toDF("id", "grp", "amount", "items")

  test("$match + $project computed fields + $sort + $limit/$skip") {
    val out = Graft.aggregate(sales, """[
      {"$match": {"amount": {"$gt": 6}}},
      {"$project": {"id": 1, "grp": 1,
                    "double_amt": {"$multiply": ["$amount", 2]},
                    "label": {"$concat": ["$grp", "-", {"$toUpper": "$grp"}]}}},
      {"$sort": {"double_amt": -1}},
      {"$skip": 1},
      {"$limit": 2}
    ]""")
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(4L, 1L)) // 40 skipped, then 30, 20
    assert(rows.head.getString(3) == "b-B")
  }

  test("$group accumulators incl. $sum:1, $push, $addToSet; _id null = global") {
    val g = Graft.aggregate(sales, """[
      {"$group": {"_id": "$grp", "n": {"$sum": 1}, "total": {"$sum": "$amount"},
                  "lo": {"$min": "$amount"}, "ids": {"$push": "$id"}}},
      {"$sort": {"_id": 1}}
    ]""").collect()
    assert(g.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(g.map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L))
    assert(g.map(_.getDouble(2)).toSeq == Seq(30.0, 20.0, 7.5))
    val glob = Graft.aggregate(sales,
      """[{"$group": {"_id": null, "n": {"$sum": 1}}}]""").head
    assert(glob.getLong(0) == 5L)
  }

  test("$size of an $addToSet consumed only by the next $project " +
      "compiles to count_distinct — no membership array anywhere") {
    // the d12 shape PlanSweep's ungated-collect gate flagged (r11): a
    // collect_set keyed on a low-cardinality group key holds every
    // distinct member of a data-sized domain in ONE aggregation buffer
    val out = Graft.aggregate(sales, """[
      {"$group": {"_id": "$grp", "n": {"$sum": 1},
                  "users": {"$addToSet": "$id"}}},
      {"$project": {"_id": 1, "n": 1, "n_users": {"$size": "$users"}}},
      {"$sort": {"_id": 1}}
    ]""")
    val rows = out.collect()
    assert(rows.map(r => (r.getString(0), r.getInt(2))).toSeq ==
      Seq(("a", 2), ("b", 2), ("c", 1)))
    // Int32 like Mongo's $size, and the plan carries NO collect
    assert(out.schema("n_users").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_set") && !plan.contains("collect_list"),
      "rewrite did not fire — the membership array materializes")
  }

  test("the $size-of-$addToSet rewrite is conservative: a projected-" +
      "through set keeps the array and both outputs stay correct") {
    val out = Graft.aggregate(sales, """[
      {"$group": {"_id": "$grp", "users": {"$addToSet": "$id"}}},
      {"$project": {"_id": 1, "users": 1, "n_users": {"$size": "$users"}}},
      {"$sort": {"_id": 1}}
    ]""")
    val rows = out.collect()
    assert(rows.map(_.getSeq[Long](1)).toSeq ==
      Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)))
    assert(rows.map(_.getInt(2)).toSeq == Seq(2, 2, 1))
    // and a $group NOT followed by $project is untouched
    val direct = Graft.aggregate(sales, """[
      {"$group": {"_id": "$grp", "users": {"$addToSet": "$id"}}},
      {"$sort": {"_id": 1}}
    ]""").collect()
    assert(direct.map(_.getSeq[Long](1)).toSeq ==
      Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)))
  }

  test("$unwind replaces the array field; preserveNullAndEmptyArrays") {
    val inner = Graft.aggregate(sales,
      """[{"$unwind": "$items"}]""")
    assert(inner.count() == 7) // id 3's empty array drops
    val outer = Graft.aggregate(sales,
      """[{"$unwind": {"path": "$items", "preserveNullAndEmptyArrays": true}}]""")
    assert(outer.count() == 8) // id 3 kept with NULL item
    assert(outer.filter(col("id") === 3L).head.isNullAt(3))
    // includeArrayIndex: 0-based LONG position; null on the preserved row
    val idx = Graft.aggregate(sales, """[
      {"$unwind": {"path": "$items", "includeArrayIndex": "pos",
                   "preserveNullAndEmptyArrays": true}},
      {"$sort": {"id": 1, "pos": 1}}
    ]""")
    assert(idx.schema("pos").dataType ==
      org.apache.spark.sql.types.LongType)
    val byId = idx.select("id", "pos").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        if (r.isNullAt(1)) -1L else r.getLong(1)).sorted.toSeq).toMap
    assert(byId(1L) == Seq(0L, 1L)) // two items → indexes 0, 1
    assert(byId(3L) == Seq(-1L))    // preserved empty array → null index
  }

  test("$lookup attaches the matching foreign docs as an array") {
    val dims = Seq(("a", "alpha"), ("b", "beta")).toDF("key", "name")
    val out = Graft.aggregate(sales, """[
      {"$lookup": {"from": "dims", "localField": "grp",
                   "foreignField": "key", "as": "dim"}},
      {"$addFields": {"n_dim": {"$size": "$dim"},
                      "dim_name": {"$arrayElemAt": ["$dim.name", 0]}}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("dims" -> dims))
    val rows = out.select("id", "n_dim", "dim_name").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(1, 1, 1, 1, 0)) // c unmatched → []
    assert(rows.take(2).map(_.getString(2)).toSeq == Seq("alpha", "alpha"))
    assert(rows.last.isNullAt(2))
  }

  test("$sortByCount, $count, and $cond/$ifNull expressions") {
    val sbc = Graft.aggregate(sales, """[{"$sortByCount": "$grp"}]""").collect()
    assert(sbc.take(2).map(_.getLong(1)).toSeq == Seq(2L, 2L))
    assert(sbc.last.getString(0) == "c")
    assert(Graft.aggregate(sales, """[{"$count": "rows"}]""").head.getLong(0) == 5L)
    val cond = Graft.aggregate(sales, """[
      {"$addFields": {"tier": {"$cond": {"if": {"$gte": ["$amount", 10]},
                                         "then": "big", "else": "small"}}}},
      {"$group": {"_id": "$tier", "n": {"$sum": 1}}},
      {"$sort": {"_id": 1}}
    ]""").collect()
    assert(cond.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("big" -> 3L, "small" -> 2L))
  }

  test("$bucket: boundary histogram with default overflow bucket") {
    val out = Graft.aggregate(sales, """[
      {"$bucket": {"groupBy": "$amount", "boundaries": [0, 10, 20],
                   "default": "other",
                   "output": {"n": {"$sum": 1}, "total": {"$sum": "$amount"}}}}
    ]""").collect()
    val byId = out.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byId("0") == ((2L, 12.5)))   // 5.0, 7.5
    assert(byId("10") == ((2L, 25.0)))  // 10, 15
    assert(byId("other") == ((1L, 20.0)))
  }

  test("$split treats the delimiter as a literal, not a regex") {
    val docs = Seq(("x", "a.b|c.d")).toDF("id", "s")
    val out = Graft.aggregate(docs, """[
      {"$addFields": {"by_dot": {"$split": ["$s", "."]},
                      "by_pipe": {"$split": ["$s", "|"]}}}
    ]""").head
    assert(out.getSeq[String](2) == Seq("a", "b|c", "d"))
    assert(out.getSeq[String](3) == Seq("a.b", "c.d"))
    val err = intercept[IllegalArgumentException] {
      Graft.aggregate(docs, """[{"$addFields": {"x": {"$split": ["$s", "$id"]}}}]""")
    }
    assert(err.getMessage.contains("literal"))
  }

  test("$set/$addFields on a dotted path replaces the nested field in place") {
    val docs = Seq((1L, ("u1", 10L)), (2L, ("u2", 20L)))
      .toDF("id", "meta").withColumn("meta",
        struct(col("meta._1").as("name"), col("meta._2").as("score")))
    val out = Graft.aggregate(docs, """[
      {"$set": {"meta.score": {"$multiply": ["$meta.score", 10]}}}
    ]""")
    assert(out.columns.toSeq == Seq("id", "meta")) // no literal "meta.score" column
    assert(out.orderBy("id").collect().map(_.getStruct(1).getLong(1)).toSeq ==
      Seq(100L, 200L))
    // absent parent → nested documents are created
    val created = Graft.aggregate(docs.select("id"),
      """[{"$set": {"a.b.c": 7}}]""").head
    assert(created.getStruct(1).getStruct(0).getLong(0) == 7L)
  }

  test("$unwind on a dotted path explodes inside the parent struct") {
    val docs = Seq((1L, (Seq(1L, 2L, 3L), "k"))).toDF("id", "doc")
      .withColumn("doc", struct(col("doc._1").as("xs"), col("doc._2").as("k")))
    val out = Graft.aggregate(docs, """[{"$unwind": "$doc.xs"}]""")
    assert(out.columns.toSeq == Seq("id", "doc"))
    val rows = out.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getStruct(1).getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.forall(_.getStruct(1).getString(1) == "k"))
  }

  test("$unset drops fields (string and array forms)") {
    val one = Graft.aggregate(sales, """[{"$unset": "items"}]""")
    assert(one.columns.toSeq == Seq("id", "grp", "amount"))
    val many = Graft.aggregate(sales, """[{"$unset": ["items", "grp"]}]""")
    assert(many.columns.toSeq == Seq("id", "amount"))
  }

  test("$project inclusion keeps _id by default; _id:0 excludes it") {
    val docs = Seq(("oid1", 1L, "x")).toDF("_id", "n", "s")
    val dflt = Graft.aggregate(docs, """[{"$project": {"n": 1}}]""")
    assert(dflt.columns.toSeq == Seq("_id", "n"))
    val excl = Graft.aggregate(docs, """[{"$project": {"_id": 0, "n": 1}}]""")
    assert(excl.columns.toSeq == Seq("n"))
    val expl = Graft.aggregate(docs, """[{"$project": {"n": 1, "_id": 1}}]""")
    assert(expl.columns.toSeq == Seq("n", "_id"))
  }

  test("$lookup overwrites a pre-existing `as` column (Mongo replace semantics)") {
    val dims = Seq(("a", "alpha"), ("b", "beta")).toDF("key", "name")
    // `as` collides with an existing column AND with the local field
    val out = Graft.aggregate(sales.withColumn("dim", lit("old")), """[
      {"$lookup": {"from": "dims", "localField": "grp",
                   "foreignField": "key", "as": "dim"}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("dims" -> dims))
    assert(out.columns.count(_ == "dim") == 1)
    assert(out.select(size(col("dim"))).collect().map(_.getInt(0)).toSeq ==
      Seq(1, 1, 1, 1, 0))
    val self = Graft.aggregate(sales, """[
      {"$lookup": {"from": "dims", "localField": "grp",
                   "foreignField": "key", "as": "grp"}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("dims" -> dims))
    assert(self.select(size(col("grp"))).collect().map(_.getInt(0)).toSeq ==
      Seq(1, 1, 1, 1, 0))
  }

  test("$graphLookup walks the graph BFS with cycle-safe min-depth dedup") {
    // parent tree: i → i/2; node 0 is its own parent (cycle at the root)
    val tree = Seq.tabulate(8)(i => (i.toLong, i.toLong / 2))
      .toDF("id", "parent")
    val out = Graft.aggregate(tree, """[
      {"$graphLookup": {"from": "tree", "startWith": "$parent",
        "connectFromField": "parent", "connectToField": "id",
        "as": "anc", "depthField": "d"}},
      {"$unwind": "$anc"},
      {"$project": {"id": 1, "a": "$anc.id", "d": "$anc.d"}},
      {"$sort": {"id": 1, "d": 1}}
    ]""", resolver = Map("tree" -> tree))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // node 7: 3 (d0) → 1 (d1) → 0 (d2); node 0: itself once (cycle stops)
    assert(got.filter(_._1 == 7L).toSeq == Seq((7L, 3L, 0L), (7L, 1L, 1L), (7L, 0L, 2L)))
    assert(got.filter(_._1 == 0L).toSeq == Seq((0L, 0L, 0L)))
    // maxDepth 0 = initial hop only
    val shallow = Graft.aggregate(tree, """[
      {"$graphLookup": {"from": "tree", "startWith": "$parent",
        "connectFromField": "parent", "connectToField": "id",
        "as": "anc", "maxDepth": 0}}
    ]""", resolver = Map("tree" -> tree))
    assert(shallow.select(max(size(col("anc")))).head.getInt(0) == 1)
    // unmatched startWith → empty array, not null
    val none = Graft.aggregate(Seq((99L, 404L)).toDF("id", "parent"), """[
      {"$graphLookup": {"from": "tree", "startWith": "$parent",
        "connectFromField": "parent", "connectToField": "id", "as": "anc"}}
    ]""", resolver = Map("tree" -> tree))
    assert(none.head.getSeq[Any](2) == Seq.empty)
    // restrictSearchWithMatch filters traversal candidates: node 7's
    // chain 3 → 1 → 0 stops at 3 when ids < 2 are excluded from search
    val restricted = Graft.aggregate(tree, """[
      {"$graphLookup": {"from": "tree", "startWith": "$parent",
        "connectFromField": "parent", "connectToField": "id", "as": "anc",
        "restrictSearchWithMatch": {"id": {"$gte": 2}}}},
      {"$match": {"id": 7}}
    ]""", resolver = Map("tree" -> tree))
    assert(restricted.head.getSeq[org.apache.spark.sql.Row](2)
      .map(_.getLong(0)).toList == List(3L))
  }

  test("$densify fills numeric and date gaps; $fill locf/linear/value") {
    val sparse = Seq((1L, 0L, 10.0), (1L, 3L, 40.0), (2L, 5L, 1.0), (2L, 7L, 3.0))
      .toDF("grp", "x", "y")
    val dense = Graft.aggregate(sparse, """[
      {"$densify": {"field": "x", "partitionByFields": ["grp"],
                    "range": {"step": 1, "bounds": "partition"}}},
      {"$fill": {"partitionBy": {"grp": "$grp"}, "sortBy": {"x": 1},
                 "output": {"y": {"method": "linear"}}}},
      {"$sort": {"grp": 1, "x": 1}}
    ]""")
    val rows = dense.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 0L, 10.0), (1L, 1L, 20.0), (1L, 2L, 30.0),
      (1L, 3L, 40.0), (2L, 5L, 1.0), (2L, 6L, 2.0), (2L, 7L, 3.0)))
    // locf + constant value fill; explicit half-open bounds, no partitions
    val locf = Graft.aggregate(Seq((0L, "a"), (2L, "b")).toDF("x", "s"), """[
      {"$densify": {"field": "x", "range": {"step": 1, "bounds": [0, 4]}}},
      {"$fill": {"sortBy": {"x": 1},
                 "output": {"s": {"method": "locf"}}}},
      {"$sort": {"x": 1}}
    ]""")
    assert(locf.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "b"))) // hi=4 excluded
    val const = Graft.aggregate(Seq((1L, Some(5.0)), (2L, None)).toDF("x", "v"),
      """[{"$fill": {"output": {"v": {"value": 0}}}}]""")
    assert(const.orderBy("x").collect().map(_.getDouble(1)).toSeq == Seq(5.0, 0.0))
    // fractional step: integral index grid scaled back (sequence() can't
    // take a double step); grid is half-open, existing off-grid docs survive
    val frac = Graft.aggregate(Seq(0.0, 1.0).toDF("x"), """[
      {"$densify": {"field": "x", "range": {"step": 0.25, "bounds": [0.0, 1.0]}}},
      {"$sort": {"x": 1}}
    ]""")
    assert(frac.collect().map(_.getDouble(0)).toSeq ==
      Seq(0.0, 0.25, 0.5, 0.75, 1.0))
    // calendar-unit densify over timestamps
    val days = Seq("2024-01-01", "2024-01-04").toDF("d")
      .select(col("d").cast("timestamp").as("day"))
    val dd = Graft.aggregate(days, """[
      {"$densify": {"field": "day", "range": {"step": 1, "unit": "day", "bounds": "full"}}},
      {"$sort": {"day": 1}}
    ]""")
    assert(dd.count() == 4)
  }

  test("$expr brings the expression language into $match filters") {
    val out = Graft.aggregate(sales, """[
      {"$match": {"$expr": {"$gt": ["$amount", {"$multiply": ["$id", 3]}]}}}
    ]""")
    // amount > id*3: (1,10), (2,20), (4,15 > 12)? 15>12 yes, (3,5>9) no, (5,7.5>15) no
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 4L))
    // pushdown still works for sargable $expr
    val ev = Tables(spark, sfDir, "events")
    val plan = explainText(ev.filter(
      Graft.mongoFilter("""{"$expr": {"$gte": ["$value", 100]}}""")))
    assert(plan.contains("PushedFilters: ["), plan)
  }

  test("$bucketAuto: equal-count buckets with {min,max} ids") {
    val out = Graft.aggregate(sales, """[
      {"$bucketAuto": {"groupBy": "$amount", "buckets": 2,
                       "output": {"n": {"$sum": 1}, "hi": {"$max": "$amount"}}}}
    ]""").collect()
    assert(out.length == 2)
    // sorted amounts 5, 7.5, 10, 15, 20 → buckets {5,7.5,10} and {15,20}
    assert(out(0).getLong(1) == 3L && out(1).getLong(1) == 2L)
    assert(out(0).getStruct(0).getDouble(0) == 5.0)   // _id.min
    // Mongo buckets are contiguous: bucket 0's max = bucket 1's min
    // (exclusive boundary), only the last bucket's max is a present value
    assert(out(0).getStruct(0).getDouble(1) == 15.0)
    assert(out(1).getStruct(0).getDouble(0) == 15.0)
    assert(out(1).getStruct(0).getDouble(1) == 20.0)
  }

  test("$lookup pipeline/let: correlated subquery, top-k, union, errors") {
    val items = Seq((1L, "a", 5.0), (1L, "b", 9.0), (1L, "c", 1.0),
      (2L, "x", 7.0)).toDF("oid", "sku", "price")
    val left = Seq((1L, 10.0), (2L, 3.0), (3L, 99.0)).toDF("id", "cut")
    // correlated $expr (eq → hash key, lt → residual) + $sort+$limit top-k
    val out = Graft.aggregate(left, """[
      {"$lookup": {"from": "items", "let": {"oid": "$id", "cut": "$cut"},
        "pipeline": [
          {"$match": {"$expr": {"$and": [{"$eq": ["$oid", "$$oid"]},
                                         {"$lt": ["$price", "$$cut"]}]}}},
          {"$sort": {"price": -1}}, {"$limit": 2}],
        "as": "best"}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("items" -> items)).collect()
    def skus(r: org.apache.spark.sql.Row): Seq[String] =
      r.getSeq[org.apache.spark.sql.Row](2).map(_.getString(1))
    assert(skus(out(0)) == Seq("b", "a")) // ordered by the $sort, not arrival
    assert(skus(out(1)).isEmpty && skus(out(2)).isEmpty) // empty array, not null
    // concise correlated form: localField/foreignField riding with a
    // var-free prefix (pushes into the foreign scan)
    val concise = Graft.aggregate(left, """[
      {"$lookup": {"from": "items", "localField": "id", "foreignField": "oid",
        "pipeline": [{"$match": {"price": {"$gte": 5}}}], "as": "big"}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("items" -> items)).collect()
    assert(concise(0).getSeq[org.apache.spark.sql.Row](2).size == 2) // a, b
    assert(concise(1).getSeq[org.apache.spark.sql.Row](2).size == 1) // x
    // uncorrelated pipeline: same array for every row, built once
    val uncorr = Graft.aggregate(left, """[
      {"$lookup": {"from": "items",
        "pipeline": [{"$match": {"price": {"$gte": 7}}}], "as": "all"}}
    ]""", resolver = Map("items" -> items)).collect()
    assert(uncorr.forall(_.getSeq[org.apache.spark.sql.Row](2).size == 2))
    // a bare trailing $sort is rejected (collected-array order undefined)
    val err = intercept[IllegalArgumentException] {
      Graft.aggregate(left, """[
        {"$lookup": {"from": "items", "let": {"oid": "$id"},
          "pipeline": [{"$match": {"$expr": {"$eq": ["$oid", "$$oid"]}}},
                       {"$sort": {"price": -1}}], "as": "best"}}
      ]""", resolver = Map("items" -> items)).collect()
    }
    assert(err.getMessage.contains("$sort"))
    // let: {doc: "$$ROOT"} binds the whole LEFT row; sub-pipeline
    // $addFields with a dotted path rebuilds nested structs (setPath)
    val rootLet = Graft.aggregate(left, """[
      {"$lookup": {"from": "items", "let": {"doc": "$$ROOT"},
        "pipeline": [
          {"$match": {"$expr": {"$eq": ["$oid", "$$doc.id"]}}},
          {"$sort": {"price": -1}}, {"$limit": 1}],
        "as": "best"}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("items" -> items)).collect()
    assert(skus(rootLet(0)) == Seq("b"))
    // suffix docs stay clean: no internal columns leak into the array
    val fields = rootLet(0).getSeq[org.apache.spark.sql.Row](2)
      .head.schema.fieldNames.toSeq
    assert(fields == Seq("oid", "sku", "price"), fields)
  }

  test("$lookup pipeline: correlated $group and $unwind in the suffix") {
    val left = Seq((1L, 6.0), (2L, 99.0), (3L, 1.0)).toDF("id", "cut")
    val items = Seq((1L, "a", 5.0, Seq("p", "q")), (1L, "b", 9.0, Seq("r")),
      (2L, "x", 7.0, Seq.empty[String])).toDF("oid", "sku", "price", "tags")
    // $group after the correlated $match: per-left-row aggregation over
    // the match set; docs in `as` are the grouped results
    val grouped = Graft.aggregate(left, """[
      {"$lookup": {"from": "items", "let": {"oid": "$id"},
        "pipeline": [
          {"$match": {"$expr": {"$eq": ["$oid", "$$oid"]}}},
          {"$group": {"_id": null, "n": {"$sum": 1},
                      "total": {"$sum": "$price"}}}],
        "as": "stats"}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("items" -> items)).collect()
    def stat(r: org.apache.spark.sql.Row): Seq[org.apache.spark.sql.Row] =
      r.getSeq[org.apache.spark.sql.Row](2)
    assert(stat(grouped(0)).map(s => (s.getLong(s.fieldIndex("n")),
      s.getDouble(s.fieldIndex("total")))) == Seq((2L, 14.0)))
    assert(stat(grouped(1)).map(_.getLong(0)) == Seq(1L))
    assert(stat(grouped(2)).isEmpty) // no matches → empty array, not null
    // grouping by an expression keys the per-row groups
    val byKey = Graft.aggregate(left, """[
      {"$lookup": {"from": "items", "let": {"oid": "$id"},
        "pipeline": [
          {"$match": {"$expr": {"$eq": ["$oid", "$$oid"]}}},
          {"$group": {"_id": {"$cond": [{"$gte": ["$price", 6]},
                                        "big", "small"]},
                      "n": {"$sum": 1}}}],
        "as": "sizes"}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("items" -> items)).collect()
    val sizes = stat(byKey(0)).map(s =>
      (s.getString(s.fieldIndex("_id")), s.getLong(s.fieldIndex("n")))).sorted
    assert(sizes == Seq(("big", 1L), ("small", 1L)), sizes)
    // $unwind inside the suffix: one doc per array element, empty arrays
    // dropped (Mongo default); combines with a later $match
    val unwound = Graft.aggregate(left, """[
      {"$lookup": {"from": "items", "let": {"oid": "$id"},
        "pipeline": [
          {"$match": {"$expr": {"$eq": ["$oid", "$$oid"]}}},
          {"$unwind": "$tags"},
          {"$match": {"tags": {"$ne": "r"}}}],
        "as": "tagged"}},
      {"$sort": {"id": 1}}
    ]""", resolver = Map("items" -> items)).collect()
    assert(stat(unwound(0)).map(r => r.getString(r.fieldIndex("tags"))).sorted
      == Seq("p", "q"))
    assert(stat(unwound(1)).isEmpty) // x had no tags
  }

  test("$documents inline source and $geoNear proximity search") {
    // $documents replaces the input frame with literal docs
    val inline = Graft.aggregate(Seq(99).toDF("ignored"), """[
      {"$documents": [{"a": 1, "b": "x"}, {"a": 2, "b": "y"},
                      {"a": 3, "b": "x"}]},
      {"$match": {"b": "x"}},
      {"$sort": {"a": 1}}
    ]""").collect()
    assert(inline.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(inline.head.schema.fieldNames.toSeq == Seq("a", "b"))
    // $geoNear: distances in meters, nearest first, bounds + query honored
    val places = Seq(
      (1L, "cafe", Array(0.0, 0.0)),    // at the origin
      (2L, "cafe", Array(1.0, 0.0)),    // 1° east on the equator
      (3L, "bank", Array(0.5, 0.0)),    // filtered out by query
      (4L, "cafe", Array(10.0, 0.0))    // beyond maxDistance
    ).toDF("id", "kind", "loc")
    val near = Graft.aggregate(places, """[
      {"$geoNear": {"near": [0, 0], "key": "loc", "distanceField": "d",
        "query": {"kind": "cafe"}, "maxDistance": 300000}}
    ]""").collect()
    assert(near.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(near(0).getDouble(near(0).fieldIndex("d")) == 0.0)
    // 1° of longitude on the equator = π·R/180 ≈ 111.195 km
    assert(math.abs(near(1).getDouble(near(1).fieldIndex("d")) - 111194.93) < 1.0)
    // GeoJSON near form + distanceMultiplier (km), no bounds
    val km = Graft.aggregate(places, """[
      {"$geoNear": {"near": {"type": "Point", "coordinates": [0, 0]},
        "key": "loc", "distanceField": "km",
        "distanceMultiplier": 0.001}},
      {"$limit": 2}
    ]""").collect()
    assert(km.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(math.abs(km(1).getDouble(km(1).fieldIndex("km")) - 55.597) < 0.01)
  }

  test("$expr and $addFields take $oid and $binary literals") {
    val oid = "64de1f00c0ffee0000000001"
    val docs = Seq((oid, Array[Byte](1, 2)), ("64de1f00c0ffee0000000002", Array[Byte](3)))
      .toDF("_id", "b")
    def ids(f: String) = docs.filter(Graft.mongoFilter(f)).select("_id").as[String].collect().toSeq
    assert(ids(s"""{"$$expr": {"$$eq": ["$$_id", {"$$oid": "$oid"}]}}""") == Seq(oid))
    assert(ids(s"""{"_id": {"$$oid": "$oid"}}""") == Seq(oid))
    assert(ids("""{"$expr": {"$eq": ["$b", {"$binary": {"base64": "AQI=", "subType": "00"}}]}}""") ==
      Seq(oid))
    val added = Graft.aggregate(docs.limit(1), s"""[{"$$addFields": {"o": {"$$oid": "$oid"},
      "bin": {"$$binary": {"base64": "AQI=", "subType": "00"}}}}]""").head
    assert(added.getAs[String]("o") == oid)
    assert(added.getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2))
  }

  test("$merge upserts into a docstore collection") {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    // seed the target with ids 1-3
    Graft.aggregate(sales.filter(col("id") <= 3).select("id", "grp", "amount"),
      s"""[{"$$out": "$dir"}]""")
    // merge ids 2-5 with doubled amounts: 2,3 replaced; 4,5 inserted
    Graft.aggregate(
      sales.filter(col("id") >= 2).select(col("id"), col("grp"),
        (col("amount") * 2).as("amount")),
      s"""[{"$$merge": {"into": "$dir", "on": "id",
            "whenMatched": "replace", "whenNotMatched": "insert"}}]""")
    val merged = spark.read.format("docstore").option("path", dir).load()
    val byId = merged.collect().map(r =>
      r.getLong(r.fieldIndex("id")) -> r.getDouble(r.fieldIndex("amount"))).toMap
    assert(byId == Map(1L -> 10.0, 2L -> 40.0, 3L -> 10.0, 4L -> 30.0, 5L -> 15.0))
    // keepExisting leaves matched rows alone; discard drops unmatched
    Graft.aggregate(
      sales.select(col("id"), col("grp"), (col("amount") * 100).as("amount")),
      s"""[{"$$merge": {"into": "$dir", "on": "id",
            "whenMatched": "keepExisting", "whenNotMatched": "discard"}}]""")
    val after = spark.read.format("docstore").option("path", dir).load()
    val byId2 = after.collect().map(r =>
      r.getLong(r.fieldIndex("id")) -> r.getDouble(r.fieldIndex("amount"))).toMap
    assert(byId2 == byId)
    // whenMatched: fail throws on overlap
    val err = intercept[IllegalArgumentException] {
      Graft.aggregate(sales.select("id", "grp", "amount"),
        s"""[{"$$merge": {"into": "$dir", "on": "id", "whenMatched": "fail"}}]""")
    }
    assert(err.getMessage.contains("whenMatched"))
  }

  test("$merge whenMatched pipeline updates target docs with $$new") {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_pipe").toString
    Graft.aggregate(sales.filter(col("id") <= 3)
        .select(col("id"), col("grp"), col("amount"), lit(1L).as("seen")),
      s"""[{"$$out": "$dir"}]""")
    // incremental aggregation: matched rows accumulate the incoming
    // amount and bump a counter; unmatched insert as-is
    Graft.aggregate(
      sales.filter(col("id") >= 2)
        .select(col("id"), col("grp"), col("amount"), lit(1L).as("seen")),
      s"""[{"$$merge": {"into": "$dir", "on": "id",
            "whenMatched": [{"$$set": {
              "amount": {"$$add": ["$$amount", "$$$$new.amount"]},
              "seen":   {"$$add": ["$$seen", 1]}}}],
            "whenNotMatched": "insert"}}]""")
    val out = spark.read.format("docstore").option("path", dir).load()
      .collect().map(r => r.getLong(r.fieldIndex("id")) ->
        ((r.getDouble(r.fieldIndex("amount")), r.getLong(r.fieldIndex("seen"))))).toMap
    assert(out == Map(
      1L -> ((10.0, 1L)),            // untouched target-only row
      2L -> ((40.0, 2L)),            // 20 + 20, counter bumped
      3L -> ((10.0, 2L)),            // 5 + 5
      4L -> ((15.0, 1L)), 5L -> ((7.5, 1L)))) // inserted
    // $replaceWith form: replace the matched doc wholesale from $$new
    Graft.aggregate(
      sales.filter(col("id") === 2)
        .select(col("id"), col("grp"), lit(99.0).as("amount"), lit(7L).as("seen")),
      s"""[{"$$merge": {"into": "$dir", "on": "id",
            "whenMatched": [{"$$replaceWith": "$$$$new"}],
            "whenNotMatched": "discard"}}]""")
    val out2 = spark.read.format("docstore").option("path", dir).load()
      .filter(col("id") === 2).collect()
    assert(out2.head.getDouble(out2.head.fieldIndex("amount")) == 99.0)
    assert(out2.head.getLong(out2.head.fieldIndex("seen")) == 7L)
  }

  test("expression zoo: $range/$zip/$type/$isNumber/trig/date ops") {
    val one = Seq((1L, "2024-03-15 10:30:45", 2.5))
      .toDF("id", "ds", "x")
    val out = Graft.aggregate(one, """[
      {"$addFields": {
        "r": {"$range": [0, 10, 3]},
        "r_neg": {"$range": [10, 0, -2]},
        "r_empty": {"$range": [0, 0]},
        "r_wrongway": {"$range": [5, 0, 2]},
        "z_short": {"$zip": {"inputs": [[1, 2, 3], [10, 20]]}},
        "z_long": {"$zip": {"inputs": [[1, 2, 3], [10, 20]],
                            "useLongestLength": true}},
        "z_pad": {"$zip": {"inputs": [[1], [10, 20], [100, 200, 300]],
                           "useLongestLength": true}},
        "t_str": {"$type": "hello"},
        "t_num": {"$type": "$id"},
        "t_dbl": {"$type": "$x"},
        "is_n": {"$isNumber": "$x"},
        "is_not": {"$isNumber": "abc"},
        "ts": {"$dateFromString": {"dateString": "$ds"}},
        "parts": {"$dateToParts": {"date": {"$dateFromString": {"dateString": "$ds"}}}},
        "made": {"$dateFromParts": {"year": 2024, "month": 3, "day": 15}},
        "iso_dow": {"$isoDayOfWeek": {"$dateFromString": {"dateString": "$ds"}}},
        "iso_wy": {"$isoWeekYear": {"$dateFromString": {"dateString": "$ds"}}},
        "deg": {"$radiansToDegrees": 3.141592653589793},
        "cosv": {"$round": [{"$cos": 0}, 4]},
        "lt": {"$ltrim": {"input": "  pad  "}},
        "cmp": {"$strcasecmp": ["ABC", "abc"]}
      }}
    ]""").head
    def g[T](n: String): T = out.getAs[T](n)
    assert(out.getAs[scala.collection.Seq[Long]]("r").toList ==
      List(0L, 3L, 6L, 9L))
    assert(out.getAs[scala.collection.Seq[Long]]("r_neg").toList ==
      List(10L, 8L, 6L, 4L, 2L))
    // empty ranges return [], not a sequence() boundary error (Mongo parity)
    assert(out.getAs[scala.collection.Seq[Long]]("r_empty").isEmpty)
    assert(out.getAs[scala.collection.Seq[Long]]("r_wrongway").isEmpty)
    val zs = out.getAs[scala.collection.Seq[scala.collection.Seq[Long]]]("z_short")
    assert(zs.map(_.toList).toList == List(List(1L, 10L), List(2L, 20L)))
    val zl = out.getAs[scala.collection.Seq[scala.collection.Seq[Any]]]("z_long")
    assert(zl.size == 3 && zl.last.toList == List(3L, null))
    // an EARLIER short input must null-pad, keeping tuple arity (was [300])
    val zp = out.getAs[scala.collection.Seq[scala.collection.Seq[Any]]]("z_pad")
    assert(zp.map(_.toList).toList == List(List(1L, 10L, 100L),
      List(null, 20L, 200L), List(null, null, 300L)))
    assert(g[String]("t_str") == "string" && g[String]("t_num") == "long" &&
      g[String]("t_dbl") == "double")
    assert(g[Boolean]("is_n") && !g[Boolean]("is_not"))
    assert(g[org.apache.spark.sql.Row]("parts").getInt(0) == 2024)
    assert(g[org.apache.spark.sql.Row]("parts").getInt(5) == 45)
    assert(g[java.sql.Timestamp]("made").toString.startsWith("2024-03-15"))
    assert(g[Int]("iso_dow") == 5) // 2024-03-15 is a Friday
    assert(g[Int]("iso_wy") == 2024)
    assert(math.abs(g[Double]("deg") - 180.0) < 1e-9)
    assert(g[Double]("cosv") == 1.0)
    assert(g[String]("lt") == "pad  ")
    assert(g[Int]("cmp") == 0)
    // $setField/$unsetField rebuild nested docs; $isArray introspects
    val sf = Graft.aggregate(
      Seq((1L, 2L)).toDF("a", "b").select(struct(col("a"), col("b")).as("doc"),
        array(col("a")).as("xs"), col("a")),
      """[{"$addFields": {
           "doc2": {"$setField": {"field": "c", "input": "$doc", "value": 9}},
           "doc3": {"$setField": {"field": "b", "input": "$doc",
                                  "value": "$$REMOVE"}},
           "doc4": {"$unsetField": {"field": "a", "input": "$doc"}},
           "arr_yes": {"$isArray": ["$xs"]}, "arr_no": {"$isArray": "$a"}}}]"""
    ).head
    assert(sf.getStruct(sf.fieldIndex("doc2")).getLong(2) == 9L)
    assert(sf.getStruct(sf.fieldIndex("doc3")).schema.fieldNames.toSeq == Seq("a"))
    assert(sf.getStruct(sf.fieldIndex("doc4")).schema.fieldNames.toSeq == Seq("b"))
    assert(sf.getAs[Boolean]("arr_yes") && !sf.getAs[Boolean]("arr_no"))
    // a NULL value in an array-typed column is NOT an array (Mongo
    // introspects the value, not the static column type)
    val nullArr = Graft.aggregate(
      Seq(1L).toDF("a").select(when(col("a") < 0, array(col("a"))).as("xs")),
      """[{"$addFields": {"na": {"$isArray": ["$xs"]}}}]""").head
    assert(!nullArr.getAs[Boolean]("na"))
    // dotted names are LITERAL (Mongo's whole point for $setField/$unsetField)
    val dotted = Graft.aggregate(
      Seq(1L).toDF("a").select(struct(col("a")).as("doc")),
      """[{"$addFields": {"d2": {"$setField":
           {"field": "x.y", "input": "$doc", "value": 5}}}}]""").head
    val d2 = dotted.getStruct(dotted.fieldIndex("d2"))
    assert(d2.schema.fieldNames.toSeq == Seq("a", "x.y"))
    assert(d2.getLong(d2.fieldIndex("x.y")) == 5L)
    // $type reports decimals as "decimal" (Decimal128 parity, and
    // agreement with MongoFilter's $type on the same value)
    val dec = Graft.aggregate(
      Seq(1).toDF("i").select(expr("cast(1.5 as decimal(10,2))").as("d")),
      """[{"$addFields": {"td": {"$type": "$d"}}}]""").head
    assert(dec.getAs[String]("td") == "decimal")
    // $regexFindAll: every match with its position and captures
    val rfa = Graft.aggregate(
      Seq("a1 bb a2 a3", "none", null).toDF("s"),
      """[{"$project": {"s": 1,
           "ms": {"$regexFindAll": {"input": "$s", "regex": "a(\\d)"}}}}]""")
      .orderBy(col("s").asc_nulls_first).collect()
    assert(rfa(0).getSeq[org.apache.spark.sql.Row](1).isEmpty) // null → []
    assert(rfa(2).getSeq[org.apache.spark.sql.Row](1).isEmpty) // "none"
    val ms = rfa(1).getSeq[org.apache.spark.sql.Row](1)
    assert(ms.map(_.getString(0)) == Seq("a1", "a2", "a3"))
    assert(ms.map(_.getInt(1)) == Seq(0, 6, 9)) // 0-based positions
    assert(ms.map(_.getSeq[String](2)) == Seq(Seq("1"), Seq("2"), Seq("3")))
    // case-insensitive flag + repeated identical matches keep distinct idx
    val dup = Graft.aggregate(Seq("xAxax").toDF("s"),
      """[{"$project": {"ms": {"$regexFindAll":
           {"input": "$s", "regex": "a", "options": "i"}}}}]""").head
    assert(dup.getSeq[org.apache.spark.sql.Row](0).map(_.getInt(1)) == Seq(1, 3))
    // $objectToArray on a struct (field order, widened values) and its
    // round-trip through $arrayToObject (a MAP — data-keyed documents)
    val o2a = Graft.aggregate(
      Seq((1L, 2.5)).toDF("a", "b").select(struct(col("a"), col("b")).as("doc")),
      """[{"$project": {
           "kv": {"$objectToArray": "$doc"},
           "back": {"$arrayToObject": {"$objectToArray": "$doc"}}}}]""").head
    val kv = o2a.getSeq[org.apache.spark.sql.Row](0)
    assert(kv.map(r => (r.getString(0), r.getDouble(1))) ==
      Seq(("a", 1.0), ("b", 2.5))) // long+double widen to double
    assert(o2a.getMap[String, Double](1).toMap == Map("a" -> 1.0, "b" -> 2.5))
    // $objectToArray on a MAP column is exact (entry order preserved)
    val m2a = Graft.aggregate(
      Seq(1).toDF("i").select(
        map(lit("x"), lit(7L), lit("y"), lit(8L)).as("doc")),
      """[{"$project": {"kv": {"$objectToArray": "$doc"}}}]""").head
    assert(m2a.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1))) == Seq(("x", 7L), ("y", 8L)))
    // a NULL document → NULL, never a list of null-valued entries
    val nullDoc = Graft.aggregate(
      Seq(1L).toDF("a")
        .select(when(col("a") < 0, struct(col("a"))).as("doc")),
      """[{"$project": {"kv": {"$objectToArray": "$doc"}}}]""").head
    assert(nullDoc.isNullAt(0))
    // $arrayToObject keeps the LAST value of a duplicated key (Mongo
    // semantics; a plain map_from_entries would throw)
    val lastWins = Graft.aggregate(Seq(1).toDF("i"),
      """[{"$project": {"m": {"$arrayToObject": [
           {"k": "a", "v": 1}, {"k": "b", "v": 2}, {"k": "a", "v": 3}]}}}]""").head
    assert(lastWins.getMap[String, Long](0).toMap == Map("a" -> 3L, "b" -> 2L))
    // $replaceOne replaces only the FIRST occurrence; not-found and
    // $toDecimal exactness
    val rep = Graft.aggregate(Seq(("aXbXc", "1.10")).toDF("s", "d"),
      """[{"$project": {
           "one": {"$replaceOne": {"input": "$s", "find": "X",
                                   "replacement": "-"}},
           "none": {"$replaceOne": {"input": "$s", "find": "Z",
                                    "replacement": "-"}},
           "dec": {"$toDecimal": "$d"}}}]""").head
    assert(rep.getString(0) == "a-bXc")
    assert(rep.getString(1) == "aXbXc")
    assert(rep.getDecimal(2).compareTo(new java.math.BigDecimal("1.10")) == 0)
    // $covariancePop/$covarianceSamp as group accumulators
    val cov = Graft.aggregate(
      Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y"),
      """[{"$group": {"_id": null,
           "cp": {"$covariancePop": ["$x", "$y"]},
           "cs": {"$covarianceSamp": ["$x", "$y"]}}}]""").head
    assert(math.abs(cov.getDouble(cov.fieldIndex("cp")) - 4.0 / 3) < 1e-9)
    assert(math.abs(cov.getDouble(cov.fieldIndex("cs")) - 2.0) < 1e-9)
    // $sampleRate: boundary rates are exact; a middle rate stays within
    // a loose band (seeded, so the draw is stable across runs)
    val base = spark.range(2000).toDF("id")
    assert(base.filter(Graft.mongoFilter("""{"$sampleRate": 1}""")).count() == 2000)
    assert(base.filter(Graft.mongoFilter("""{"$sampleRate": 0}""")).count() == 0)
    val third = base.filter(Graft.mongoFilter("""{"$sampleRate": 0.33}""")).count()
    assert(third > 400 && third < 950, s"sampleRate 0.33 kept $third of 2000")
  }

  test("bitwise, byte-string, inverse-hyperbolic, $setEquals operators") {
    val r = Graft.aggregate(Seq((12L, 10L, "héllo")).toDF("a", "b", "s"),
      """[{"$project": {
           "and": {"$bitAnd": ["$a", "$b"]},
           "or":  {"$bitOr":  ["$a", "$b", 1]},
           "xor": {"$bitXor": ["$a", "$b"]},
           "not": {"$bitNot": "$a"},
           "lb":  {"$strLenBytes": "$s"},
           "lc":  {"$strLenCP": "$s"},
           "bs":  {"$binarySize": "$s"},
           "sb":  {"$substrBytes": ["$s", 0, 3]},
           "ash": {"$asinh": 1.0}, "ach": {"$acosh": 1.0},
           "ath": {"$atanh": 0.5},
           "eqs":  {"$setEquals": [[1, 2, 2], [2, 1], [1, 1, 2]]},
           "neqs": {"$setEquals": [[1, 2], [1, 3]]}}}]""").head
    assert(r.getLong(r.fieldIndex("and")) == (12L & 10L))
    assert(r.getLong(r.fieldIndex("or")) == (12L | 10L | 1L))
    assert(r.getLong(r.fieldIndex("xor")) == (12L ^ 10L))
    assert(r.getLong(r.fieldIndex("not")) == ~12L)
    assert(r.getInt(r.fieldIndex("lb")) == 6)  // é is 2 UTF-8 bytes
    assert(r.getInt(r.fieldIndex("lc")) == 5)  // but 1 code point
    assert(r.getInt(r.fieldIndex("bs")) == 6)
    assert(r.getString(r.fieldIndex("sb")) == "hé") // 3 bytes = h + é
    assert(math.abs(r.getDouble(r.fieldIndex("ash")) - 0.8813735870195430) < 1e-12)
    assert(r.getDouble(r.fieldIndex("ach")) == 0.0)
    assert(math.abs(r.getDouble(r.fieldIndex("ath")) - 0.5493061443340549) < 1e-12)
    assert(r.getBoolean(r.fieldIndex("eqs")))
    assert(!r.getBoolean(r.fieldIndex("neqs")))
  }

  test("$tsSecond/$tsIncrement read the BSON-timestamp VARCHAR envelope") {
    // the docstore maps BSON Timestamp to its raw extended-JSON text
    val df = Seq(
      (1L, """{"$timestamp":{"t":1565545664,"i":3}}"""),
      (2L, "not a timestamp"),
      (3L, null.asInstanceOf[String])
    ).toDF("id", "ts")
    val r = Graft.aggregate(df, """[
      {"$project": {"id": 1, "sec": {"$tsSecond": "$ts"},
                    "inc": {"$tsIncrement": "$ts"}}},
      {"$sort": {"id": 1}}]""").collect()
    assert(r(0).getLong(r(0).fieldIndex("sec")) == 1565545664L)
    assert(r(0).getLong(r(0).fieldIndex("inc")) == 3L)
    // malformed / null → NULL (documented divergence from Mongo's error)
    assert(r(1).isNullAt(r(1).fieldIndex("sec")))
    assert(r(2).isNullAt(r(2).fieldIndex("inc")))
  }

  test("$substr/$indexOfBytes/$bsonSize/$toObjectId/$toUUID") {
    val df = Seq((12L, "héllo", Seq(1, 2), (true), Option.empty[String]))
      .toDF("a", "s", "arr", "x", "nul")
      .select(col("a"), col("s"), col("arr"),
        struct(col("x")).as("sub"), col("nul"))
    val r = Graft.aggregate(df,
      """[{"$project": {
           "sb":  {"$substr": ["$s", 0, 3]},
           "ib":  {"$indexOfBytes": ["$s", "llo"]},
           "ibm": {"$indexOfBytes": ["$s", "zzz"]},
           "bs":  {"$bsonSize": "$$ROOT"},
           "oid": {"$toObjectId": "507F1F77BCF86CD799439011"},
           "uid": {"$toUUID": "123E4567-E89B-12D3-A456-426614174000"}}}]""").head
    assert(r.getString(r.fieldIndex("sb")) == "hé")   // deprecated byte alias
    assert(r.getInt(r.fieldIndex("ib")) == 3)         // "hé" is 3 UTF-8 bytes
    assert(r.getInt(r.fieldIndex("ibm")) == -1)
    // ranged search: [start, end) in code points / bytes, index in the
    // ORIGINAL string's units
    val rr = Graft.aggregate(df, """[{"$project": {
        "c1": {"$indexOfCP":    ["$s", "l", 3]},
        "c2": {"$indexOfCP":    ["$s", "l", 0, 2]},
        "b1": {"$indexOfBytes": ["$s", "l", 4]},
        "b2": {"$indexOfBytes": ["$s", "o", 0, 5]}}}]""").head
    assert(rr.getInt(rr.fieldIndex("c1")) == 3)  // h é l [l] o
    assert(rr.getInt(rr.fieldIndex("c2")) == -1) // window "hé"
    assert(rr.getInt(rr.fieldIndex("b1")) == 4)  // h é é l [l] o bytes
    assert(rr.getInt(rr.fieldIndex("b2")) == -1) // 'o' is byte 5, excluded
    // BSON by hand: 4 + [a int64 11] + [s string 14] +
    //   [arr 1+3+1 + (4+7+7+1)] + [sub 1+3+1 + (4+4+1)] + [nul null 5] + 1
    assert(r.getInt(r.fieldIndex("bs")) == 73)
    assert(r.getString(r.fieldIndex("oid")) == "507f1f77bcf86cd799439011")
    assert(r.getString(r.fieldIndex("uid")) == "123e4567-e89b-12d3-a456-426614174000")
    // malformed conversions error like Mongo's ConversionFailure
    intercept[Exception] {
      Graft.aggregate(df,
        """[{"$project": {"o": {"$toObjectId": "$s"}}}]""").collect()
    }
  }

  test("$redact: per-level KEEP/PRUNE/DESCEND over nested docs and arrays") {
    // level-gated access control: every (sub)document carries a `level`;
    // levels above the viewer's clearance (2) are pruned at THAT level
    val docs = Seq(
      (1L, 1L, Some((1L, "a-inner")), Seq((1L, "e1"), (3L, "e2"))),
      (2L, 3L, Some((1L, "b-inner")), Seq.empty[(Long, String)]), // row pruned
      (3L, 2L, Some((3L, "c-inner")), Seq((2L, "e3"))) // inner doc pruned
    ).toDF("id", "level", "sub", "items")
      .select(col("id"), col("level"),
        col("sub").cast("struct<level:bigint,note:string>").as("sub"),
        col("items").cast("array<struct<level:bigint,note:string>>").as("items"))
    val out = Graft.aggregate(docs, """[
      {"$redact": {"$cond": [{"$lte": [{"$ifNull": ["$level", 0]}, 2]},
                             "$$DESCEND", "$$PRUNE"]}},
      {"$sort": {"id": 1}}
    ]""").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L)) // id=2: top-level prune
    val r1 = out(0)
    assert(r1.getStruct(r1.fieldIndex("sub")).getString(1) == "a-inner")
    // array element with level 3 removed, level 1 kept
    assert(r1.getSeq[org.apache.spark.sql.Row](r1.fieldIndex("items"))
      .map(_.getString(1)) == Seq("e1"))
    val r3 = out(1)
    assert(r3.isNullAt(r3.fieldIndex("sub"))) // embedded doc pruned → null
    assert(r3.getSeq[org.apache.spark.sql.Row](r3.fieldIndex("items"))
      .map(_.getString(1)) == Seq("e3"))
    // $$KEEP stops descent: the high-level inner docs survive verbatim
    val kept = Graft.aggregate(docs, """[
      {"$redact": {"$cond": [{"$eq": [{"$ifNull": ["$note", ""]}, ""]},
                             "$$KEEP", "$$DESCEND"]}},
      {"$sort": {"id": 1}}
    ]""").collect()
    assert(kept.length == 3) // KEEP at the top: nothing pruned anywhere
    val k3 = kept(2)
    assert(k3.getStruct(k3.fieldIndex("sub")).getString(1) == "c-inner")
    // an expression resolving to none of the three sentinels is an error
    val err = intercept[Exception] {
      Graft.aggregate(docs, """[{"$redact": {"$literal": "nope"}}]""").collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("PRUNE"), s"unexpected error chain: $msgs")
  }

  test("$geoNear omits documents without a location (index semantics)") {
    val docs = Seq(
      (1L, Some(Array(0.001, 0.0))),
      (2L, None), // no location: absent from a 2dsphere index → not returned
      (3L, Some(Array(0.002, 0.0)))
    ).toDF("id", "loc")
    val out = Graft.aggregate(docs, """[
      {"$geoNear": {"near": [0, 0], "key": "loc", "distanceField": "d"}}
    ]""").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L)) // nearest first, no id=2
    assert(out.forall(!_.isNullAt(out.head.fieldIndex("d"))))
    // includeLocs carries the matched location; spherical: true accepted
    val locs = Graft.aggregate(docs, """[
      {"$geoNear": {"near": [0, 0], "key": "loc", "distanceField": "d",
                    "spherical": true, "includeLocs": "where"}}
    ]""").collect()
    assert(locs.head.getSeq[Double](locs.head.fieldIndex("where")) ==
      Seq(0.001, 0.0))
    // result-changing options REFUSE instead of silently diverging:
    // spherical: false = flat legacy-2d geometry
    val flat = intercept[IllegalArgumentException] {
      Graft.aggregate(docs, """[
        {"$geoNear": {"near": [0, 0], "key": "loc", "distanceField": "d",
                      "spherical": false}}]""")
    }
    assert(flat.getMessage.contains("spherical"))
    // $bucketAuto granularity snaps boundaries to a preferred series
    val gran = intercept[IllegalArgumentException] {
      Graft.aggregate(docs, """[
        {"$bucketAuto": {"groupBy": "$id", "buckets": 2,
                         "granularity": "R5"}}]""")
    }
    assert(gran.getMessage.contains("granularity"))
  }

  test("$$ROOT/$$CURRENT and $mergeObjects: whole-document expressions") {
    // {$push: "$$ROOT"} — the canonical collect-whole-docs idiom
    val pushed = Graft.aggregate(sales, """[
      {"$group": {"_id": "$grp", "docs": {"$push": "$$ROOT"},
                  "n": {"$sum": 1}}},
      {"$sort": {"_id": 1}}
    ]""").collect()
    val g0 = pushed(0)
    assert(g0.getSeq[org.apache.spark.sql.Row](g0.fieldIndex("docs")).size ==
      g0.getLong(g0.fieldIndex("n")))
    // $$ROOT in $addFields carries the full doc; $$CURRENT is an alias
    val tagged = Graft.aggregate(sales, """[
      {"$addFields": {"snapshot": "$$ROOT", "cur_amt": "$$CURRENT.amount"}},
      {"$sort": {"id": 1}}
    ]""").collect()
    assert(tagged(0).getStruct(tagged(0).fieldIndex("snapshot"))
      .getAs[Double]("amount") == tagged(0).getAs[Double]("cur_amt"))
    // $mergeObjects: base doc + literal overrides, later args win;
    // $replaceRoot promotes the merged doc
    val merged = Graft.aggregate(sales, """[
      {"$replaceRoot": {"newRoot": {"$mergeObjects": ["$$ROOT",
        {"flag": true, "amount": {"$multiply": ["$amount", 10]}}]}}},
      {"$sort": {"id": 1}}
    ]""")
    assert(merged.columns.contains("flag"))
    assert(merged.head.getAs[Double]("amount") == 100.0) // 10.0 × 10 override
    // non-literal later arg → clear error, not a wrong schema
    val err = intercept[IllegalArgumentException] {
      Graft.aggregate(sales,
        """[{"$addFields": {"m": {"$mergeObjects": ["$$ROOT", "$$ROOT"]}}}]""")
    }
    assert(err.getMessage.contains("document literals"))
  }

  test("$vectorSearch: filter + cosine top-k + $meta score projection") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), "a"), (2L, Seq(0.9f, 0.1f), "a"),
      (3L, Seq(0.0f, 1.0f), "b"), (4L, Seq(-1.0f, 0.0f), "b"),
      (5L, Seq(0.8f, 0.2f), "a")).toDF("vec_id", "embedding", "label")
    val out = Graft.aggregate(vecs, """[
      {"$vectorSearch": {"path": "embedding", "queryVector": [1.0, 0.0],
        "limit": 2, "numCandidates": 10,
        "filter": {"label": "a"}}},
      {"$project": {"vec_id": 1,
        "score": {"$round": [{"$meta": "vectorSearchScore"}, 4]}}},
      {"$sort": {"score": -1, "vec_id": 1}}
    ]""").collect()
    // label filter drops 3/4; top-2 by cosine = exact match then 0.9/0.1
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out(0).getDouble(1) == 1.0) // (1+1)/2: Atlas normalization
    assert(out(1).getDouble(1) > 0.99 && out(1).getDouble(1) < 1.0)
    // unprojected score never leaks into the output schema
    val plain = Graft.aggregate(vecs, """[
      {"$vectorSearch": {"path": "embedding", "queryVector": [0.0, 1.0],
        "limit": 1}}
    ]""")
    assert(plain.columns.toSeq == Seq("vec_id", "embedding", "label"))
    assert(plain.head.getLong(0) == 3L)
  }

  test("$dateTrunc truncates to calendar units incl. Mongo's Sunday weeks") {
    val one = Seq("2024-03-15 10:30:45").toDF("ds") // a Friday
      .select(col("ds").cast("timestamp").as("t"))
    val out = Graft.aggregate(one, """[
      {"$addFields": {
        "mo": {"$dateTrunc": {"date": "$t", "unit": "month"}},
        "hr": {"$dateTrunc": {"date": "$t", "unit": "hour"}},
        "wk_sun": {"$dateTrunc": {"date": "$t", "unit": "week"}},
        "wk_mon": {"$dateTrunc": {"date": "$t", "unit": "week",
                                  "startOfWeek": "monday"}}
      }}
    ]""").head
    def s(n: String) = out.getAs[java.sql.Timestamp](n).toString
    assert(s("mo").startsWith("2024-03-01 00:00"))
    assert(s("hr").startsWith("2024-03-15 10:00"))
    assert(s("wk_sun").startsWith("2024-03-10 00:00")) // Mongo default Sunday
    assert(s("wk_mon").startsWith("2024-03-11 00:00")) // ISO Monday
  }

  test("$regexFind returns {match, idx, captures} or null") {
    val rows = Seq("order #42 then #7", "no numbers here").toDF("s")
    val out = Graft.aggregate(rows, """[
      {"$addFields": {
        "f": {"$regexFind": {"input": "$s", "regex": "#(\\d+)"}},
        "ci": {"$regexFind": {"input": "$s", "regex": "ORDER", "options": "i"}}
      }},
      {"$sort": {"s": 1}}
    ]""").collect()
    val hit = out(1) // "order #42 then #7"
    val f = hit.getStruct(hit.fieldIndex("f"))
    assert(f.getString(0) == "#42")            // first match, not #7
    assert(f.getInt(1) == 6)                   // 0-based index of '#'
    assert(f.getSeq[String](2) == Seq("42"))   // capture group
    assert(hit.getStruct(hit.fieldIndex("ci")).getString(0) == "order")
    assert(out(0).isNullAt(out(0).fieldIndex("f"))) // no match → null doc
  }

  test("$setWindowFields: $locf/$linearFill/$derivative/$integral + accumulators") {
    val series = Seq(
      (1L, 0.0, Some(0.0)), (1L, 1.0, None), (1L, 2.0, Some(20.0)),
      (1L, 3.0, None), (1L, 4.0, Some(40.0))
    ).toDF("grp", "x", "y")
    val out = Graft.aggregate(series, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"x": 1},
        "output": {
          "carried": {"$locf": "$y"},
          "interp": {"$linearFill": "$y"},
          "slope": {"$derivative": {"input": "$interp"}},
          "area": {"$integral": {"input": "$interp"},
                   "window": {"documents": ["unbounded", "current"]}},
          "lo": {"$first": "$x"},
          "hi": {"$last": "$x"},
          "sd": {"$stdDevPop": "$x"}
        }}},
      {"$sort": {"x": 1}}
    ]""")
    val rows = out.collect()
    assert(rows.map(_.getAs[Double]("interp")).toSeq ==
      Seq(0.0, 10.0, 20.0, 30.0, 40.0))
    assert(rows(1).getAs[Double]("carried") == 0.0) // locf carries 0.0 forward
    assert(rows(3).getAs[Double]("carried") == 20.0)
    assert(rows.forall(_.getAs[Double]("slope") == 10.0)) // (40-0)/(4-0)
    // running trapezoid integral of the straight line y=10x is 5x²;
    // the first row has no prior segment → null
    val areas = rows.map(r =>
      if (r.isNullAt(r.fieldIndex("area"))) None
      else Some(r.getAs[Double]("area"))).toSeq
    assert(areas == Seq(None, Some(5.0), Some(20.0), Some(45.0), Some(80.0)))
    assert(rows.forall(r => r.getAs[Double]("lo") == 0.0 &&
      r.getAs[Double]("hi") == 4.0))
    assert(math.abs(rows.head.getAs[Double]("sd") - math.sqrt(2.0)) < 1e-9)
  }

  test("$search: BM25 text relevance; $rankFusion: reciprocal rank fusion") {
    val docs = Seq(
      (1L, Some("apple banana apple")),
      (2L, Some("banana cherry")),
      (3L, Some("cherry cherry cherry")),
      (4L, None)
    ).toDF("_id", "text")
    // BM25 by hand (k1=1.2, b=0.75, N=3, avgdl=8/3):
    //   idf(apple)=ln(8/3), df=1; idf(cherry)=ln(1.6), df=2
    val out = Graft.aggregate(docs, """[
      {"$search": {"index": "default",
                   "text": {"query": "apple cherry", "path": "text"}}},
      {"$set": {"s": {"$meta": "searchScore"}}}
    ]""").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 2L)) // by relevance
    val byId = out.map(r => r.getLong(0) -> r.getAs[Double]("s")).toMap
    def tfn(tf: Double, dl: Double) =
      tf / (tf + 1.2 * (0.25 + 0.75 * (dl / (8.0 / 3.0))))
    assert(math.abs(byId(1L) - math.log(8.0 / 3.0) * tfn(2, 3)) < 1e-12)
    assert(math.abs(byId(2L) - math.log(1.6) * tfn(1, 2)) < 1e-12)
    assert(math.abs(byId(3L) - math.log(1.6) * tfn(3, 3)) < 1e-12)
    // the hidden score column never leaks without a $meta projection
    val bare = Graft.aggregate(docs, """[
      {"$search": {"text": {"query": "apple", "path": "text"}}}]""")
    assert(!bare.columns.exists(_.startsWith("__graft")))
    // matchCriteria "all": every term must appear (only doc 1 lacks
    // cherry, docs 2/3 lack apple → nobody has both except none)
    val all = Graft.aggregate(docs, """[
      {"$search": {"text": {"query": "banana cherry", "path": "text",
                            "matchCriteria": "all"}}}]""").collect()
    assert(all.map(_.getLong(0)).toSeq == Seq(2L)) // only doc 2 has both
    // $searchMeta count form: match-set size without the documents
    val meta = Graft.aggregate(docs, """[
      {"$searchMeta": {"text": {"query": "apple cherry", "path": "text"},
                       "count": {"type": "total"}}}]""").collect()
    assert(meta.length == 1 &&
      meta.head.getStruct(0).getLong(0) == 3L) // docs 1, 2, 3 match

    // RRF: lexical [1,3] (ranks 1,2; w=1) ⊕ by-id-desc [4,3] (ranks 1,2;
    // w=2) → doc3 = 1/62+2/62, doc4 = 2/61, doc1 = 1/61
    val fused = Graft.aggregate(docs, """[
      {"$rankFusion": {
        "input": {"pipelines": {
          "lex":  [{"$search": {"text": {"query": "apple cherry", "path": "text"}}},
                   {"$limit": 2}],
          "newest": [{"$sort": {"_id": -1}}, {"$limit": 2}]}},
        "combination": {"weights": {"lex": 1, "newest": 2}}}},
      {"$project": {"_id": 1, "f": {"$meta": "score"}}}
    ]""").collect()
    assert(fused.map(_.getLong(0)).toSeq == Seq(3L, 4L, 1L))
    val f = fused.map(r => r.getLong(0) -> r.getAs[Double]("f")).toMap
    assert(math.abs(f(3L) - 3.0 / 62) < 1e-12)
    assert(math.abs(f(4L) - 2.0 / 61) < 1e-12)
    assert(math.abs(f(1L) - 1.0 / 61) < 1e-12)
    // an arm that matches nothing contributes nothing (no crash, no
    // phantom rows); the other arm's ranking flows through
    val oneArm = Graft.aggregate(docs, """[
      {"$rankFusion": {"input": {"pipelines": {
        "none": [{"$search": {"text": {"query": "zzz", "path": "text"}}},
                 {"$limit": 2}],
        "newest": [{"$sort": {"_id": -1}}, {"$limit": 2}]}}}},
      {"$project": {"_id": 1, "f": {"$meta": "score"}}}]""").collect()
    assert(oneArm.map(_.getLong(0)).toSeq == Seq(4L, 3L))
    // unranked or unbounded input pipelines are refused
    intercept[IllegalArgumentException] {
      Graft.aggregate(docs,
        """[{"$rankFusion": {"input": {"pipelines": {
             "p": [{"$match": {"_id": 1}}, {"$limit": 1}]}}}}]""")
    }
    intercept[IllegalArgumentException] {
      Graft.aggregate(docs,
        """[{"$rankFusion": {"input": {"pipelines": {
             "p": [{"$sort": {"_id": 1}}]}}}}]""")
    }
  }

  test("$score custom relevance + $sort by $meta + $scoreFusion arm") {
    val docs = Seq((1L, 5.0), (2L, 9.0), (3L, 2.0)).toDF("_id", "v")
    val out = Graft.aggregate(docs, """[
      {"$score": {"score": {"$multiply": ["$v", 2]}}},
      {"$sort": {"r": {"$meta": "score"}}},
      {"$limit": 2},
      {"$project": {"_id": 1, "sc": {"$meta": "score"}}}]""").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 1L)) // desc by 2v
    assert(out.map(_.getAs[Double]("sc")).toSeq == Seq(18.0, 10.0))
    // minMaxScaler normalizes over the whole frame pre-limit
    val mm = Graft.aggregate(docs, """[
      {"$score": {"score": "$v", "normalization": "minMaxScaler"}},
      {"$project": {"_id": 1, "sc": {"$meta": "score"}}}]""").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("sc")).toMap
    assert(mm == Map(1L -> 3.0 / 7.0, 2L -> 1.0, 3L -> 0.0))
    // a $score arm makes a pipeline "scored" for $scoreFusion
    val fused = Graft.aggregate(docs, """[
      {"$scoreFusion": {"input": {"pipelines": {
          "a": [{"$score": {"score": "$v"}},
                {"$sort": {"r": {"$meta": "score"}}}, {"$limit": 2}]}}}},
      {"$project": {"_id": 1, "f": {"$meta": "score"}}}]""").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("f")).toMap
    assert(fused == Map(2L -> 9.0, 1L -> 5.0))
  }

  test("$scoreFusion combines normalized scores (sigmoid / minMaxScaler)") {
    val docs = Seq(
      (1L, Some("apple banana apple"), Seq(1.0f, 0.0f)),
      (2L, Some("banana cherry"), Seq(0.0f, 1.0f)),
      (3L, Some("cherry cherry cherry"), Seq(0.6f, 0.8f)),
      (4L, None: Option[String], Seq(-1.0f, 0.0f))
    ).toDF("_id", "text", "embedding")
    def arm(pipeline: String, metaKey: String): Map[Long, Double] =
      Graft.aggregate(docs, pipeline.replace("META", metaKey)).collect()
        .map(r => r.getLong(0) -> r.getAs[Double]("s")).toMap
    val lex = arm("""[
      {"$search": {"text": {"query": "apple cherry", "path": "text"}}},
      {"$limit": 3},
      {"$project": {"_id": 1, "s": {"$meta": "META"}}}]""", "searchScore")
    val sem = arm("""[
      {"$vectorSearch": {"path": "embedding", "queryVector": [1, 0],
        "limit": 3}},
      {"$project": {"_id": 1, "s": {"$meta": "META"}}}]""", "vectorSearchScore")
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    val fused = Graft.aggregate(docs, """[
      {"$scoreFusion": {"input": {"normalization": "sigmoid", "pipelines": {
          "lex": [{"$search": {"text": {"query": "apple cherry", "path": "text"}}},
                  {"$limit": 3}],
          "sem": [{"$vectorSearch": {"path": "embedding",
                    "queryVector": [1, 0], "limit": 3}}]}},
        "combination": {"weights": {"lex": 1, "sem": 3}}}},
      {"$project": {"_id": 1, "f": {"$meta": "score"}}}
    ]""").collect().map(r => r.getLong(0) -> r.getAs[Double]("f")).toMap
    for ((id, f) <- fused) {
      val want = (lex.get(id).map(s => 1.0 * sig(s)).getOrElse(0.0) +
        sem.get(id).map(s => 3.0 * sig(s)).getOrElse(0.0)) / 4.0
      assert(math.abs(f - want) < 1e-12, s"doc $id: got $f want $want")
    }
    assert(fused.keySet == (lex.keySet ++ sem.keySet))
    // minMaxScaler: each arm's best doc normalizes to 1, worst to 0
    val mm = Graft.aggregate(docs, """[
      {"$scoreFusion": {"input": {"normalization": "minMaxScaler", "pipelines": {
          "sem": [{"$vectorSearch": {"path": "embedding",
                    "queryVector": [1, 0], "limit": 3}}]}}}},
      {"$project": {"_id": 1, "f": {"$meta": "score"}}}
    ]""").collect().map(r => r.getLong(0) -> r.getAs[Double]("f")).toMap
    assert(mm(1L) == 1.0 && mm.values.min == 0.0)
    // an unscored pipeline is refused
    intercept[IllegalArgumentException] {
      Graft.aggregate(docs, """[{"$scoreFusion": {"input": {"pipelines": {
        "p": [{"$sort": {"_id": 1}}, {"$limit": 2}]}}}}]""")
    }
  }

  test("$expMovingAvg matches the sequential recurrence across blocks") {
    // 2 partitions × 200 rows with nulls sprinkled in: alpha = 0.5 gives
    // block size B = 49, so each partition spans several ladder blocks
    val rng = new scala.util.Random(7)
    val data = for (g <- Seq("a", "b"); i <- 0 until 200) yield
      (g, i.toLong, if (rng.nextInt(10) == 0) None
                    else Some(rng.nextDouble() * 200 - 100))
    val df = data.toDF("grp", "t", "v")
    val out = Graft.aggregate(df, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"t": 1},
        "output": {"ema":  {"$expMovingAvg": {"input": "$v", "alpha": 0.5}},
                   "emaN": {"$expMovingAvg": {"input": "$v", "N": 19}}}}},
      {"$sort": {"grp": 1, "t": 1}}
    ]""").collect()
    // reference: the textbook recurrence, nulls carry the value forward
    def ref(alpha: Double, g: String): Seq[Option[Double]] = {
      var acc = Option.empty[Double]
      data.filter(_._1 == g).sortBy(_._2).map { case (_, _, v) =>
        acc = v match {
          case Some(x) => Some(acc.fold(x)(p => alpha * x + (1 - alpha) * p))
          case None    => acc
        }
        acc
      }
    }
    for ((g, alpha, fld) <- Seq(("a", 0.5, "ema"), ("b", 0.5, "ema"),
                                ("a", 0.1, "emaN"), ("b", 0.1, "emaN"))) {
      val got = out.filter(_.getString(0) == g).map(r =>
        if (r.isNullAt(r.fieldIndex(fld))) None
        else Some(r.getAs[Double](fld))).toSeq
      val want = ref(alpha, g)
      assert(got.size == want.size)
      got.zip(want).zipWithIndex.foreach {
        case ((Some(x), Some(y)), i) =>
          assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
            s"$fld $g row $i: got $x want $y")
        case ((a, b), i) => assert(a == b, s"$fld $g row $i: got $a want $b")
      }
    }
  }

  test("$collStats count form; other sections refused") {
    val one = Graft.aggregate(sales, """[{"$collStats": {"count": {}}}]""").collect()
    assert(one.length == 1 && one.head.getLong(0) == 5L)
    // composes lazily: a $match upstream narrows the counted frame
    val two = Graft.aggregate(sales, """[
      {"$match": {"grp": "a"}}, {"$collStats": {"count": {}}}]""").head
    assert(two.getLong(0) == 2L)
    intercept[IllegalArgumentException] {
      Graft.aggregate(sales, """[{"$collStats": {"storageStats": {}}}]""")
    }
  }

  test("$setWindowFields range windows: value offsets and time units") {
    val series = Seq(
      (1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 5L, 50.0), (1L, 6L, 60.0),
      (2L, 1L, 1.0)
    ).toDF("grp", "x", "v")
    val out = Graft.aggregate(series, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"x": 1},
        "output": {
          "near": {"$sum": "$v", "window": {"range": [-1, 1]}},
          "back": {"$sum": "$v", "window": {"range": ["unbounded", "current"]}}
        }}},
      {"$sort": {"grp": 1, "x": 1}}]""").collect()
    // value-range [-1, 1] around x: x=1 → {1,2}; x=2 → {1,2}; x=5 →
    // {5,6}; x=6 → {5,6} (x=2 and x=5 are 3 apart — rows frames would
    // have linked them, range frames must not)
    assert(out.map(_.getAs[Double]("near")).toSeq ==
      Seq(30.0, 30.0, 110.0, 110.0, 1.0))
    assert(out.map(_.getAs[Double]("back")).toSeq ==
      Seq(10.0, 30.0, 80.0, 140.0, 1.0))
    // time-unit range over a timestamp sort key
    val times = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 4.0)
    ).toDF("grp", "ts", "v")
    val t = Graft.aggregate(times, """[
      {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"ts": 1},
        "output": {"hourly": {"$sum": "$v",
          "window": {"range": [-1, 0], "unit": "hour"}}}}},
      {"$sort": {"ts": 1}}]""").collect()
    // one-hour trailing windows: 00:00 → 1; 00:30 → 1+2; 03:00 → 4
    assert(t.map(_.getAs[Double]("hourly")).toSeq == Seq(1.0, 3.0, 4.0))
    // a descending sortBy refuses the range form, like Mongo
    intercept[IllegalArgumentException] {
      Graft.aggregate(series, """[
        {"$setWindowFields": {"partitionBy": "$grp", "sortBy": {"x": -1},
          "output": {"bad": {"$sum": "$v", "window": {"range": [-1, 1]}}}}}]""")
        .collect()
    }
  }

  test("$firstN/$lastN as accumulators and as array operators") {
    val g = Graft.aggregate(sales, """[
      {"$sort": {"id": 1}},
      {"$group": {"_id": "$grp",
                  "first2": {"$firstN": {"input": "$id", "n": 2}},
                  "last1": {"$lastN": {"input": "$id", "n": 1}}}},
      {"$sort": {"_id": 1}}
    ]""").collect()
    assert(g.map(r => r.getAs[scala.collection.Seq[Long]]("first2").toList).toList ==
      List(List(1L, 2L), List(3L, 4L), List(5L)))
    assert(g.map(r => r.getAs[scala.collection.Seq[Long]]("last1").toList).toList ==
      List(List(2L), List(4L), List(5L)))
    val e = Graft.aggregate(sales.filter(col("id") === 4), """[
      {"$project": {"h": {"$firstN": {"input": "$items", "n": 2}},
                    "t": {"$lastN": {"input": "$items", "n": 2}}}}
    ]""").head
    assert(e.getAs[scala.collection.Seq[Long]]("h").toList == List(4L, 5L))
    assert(e.getAs[scala.collection.Seq[Long]]("t").toList == List(5L, 6L))
  }

  test("$facet: sub-pipelines over one input, one-row doc out, broadcast cross") {
    val out = Graft.aggregate(sales, """[
      {"$facet": {
        "byGrp": [{"$group": {"_id": "$grp", "n": {"$sum": 1}}},
                  {"$sort": {"_id": 1}},
                  {"$group": {"_id": null, "groups": {"$push": "$_id"}}}],
        "big":   [{"$match": {"amount": {"$gte": 10}}},
                  {"$count": "n"}],
        "stats": [{"$group": {"_id": null, "total": {"$sum": "$amount"}}}]
      }}
    ]""")
    val rows = out.collect()
    assert(rows.length == 1, "a $facet stage must emit exactly one document")
    val r = rows.head
    assert(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("big")
      .head.getAs[Long]("n") == 3L)
    assert(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("stats")
      .head.getAs[Double]("total") == 57.5)
    // scale audit: the facet cross must be a broadcast of one-row frames,
    // never an unbroadcast cartesian (which at 100 TB would be a
    // data-sized NLJ if a facet ever stopped being a global aggregate)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("a $match stage pushes into the parquet scan like native SQL") {
    val ev = Tables(spark, sfDir, "events")
    val out = Graft.aggregate(ev,
      """[{"$match": {"event_type": "click", "value": {"$gte": 100}}},
         |{"$project": {"event_id": 1, "value": 1}}]""".stripMargin)
    val plan = explainText(out)
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("event_type"), plan)
  }
}
