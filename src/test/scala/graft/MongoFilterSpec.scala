package graft

import org.apache.spark.sql.functions._
import graft.sources.MongoFilter

class MongoFilterSpec extends SparkSpec {
  import spark.implicits._

  lazy val df = Seq(
    (1L, "alice", 10.0, Some("x")),
    (2L, "bob", 20.0, None),
    (3L, "carol", 30.0, Some("y")),
    (4L, "dave", 40.0, Some("x"))
  ).toDF("id", "name", "score", "tag")

  private def ids(filterJson: String): Seq[Long] =
    df.filter(MongoFilter.compile(filterJson))
      .select("id").as[Long].collect().toSeq.sorted

  test("implicit equality") { assert(ids("""{"name":"bob"}""") == Seq(2L)) }

  test("comparison operators") {
    assert(ids("""{"score":{"$gt":20.0}}""") == Seq(3L, 4L))
    assert(ids("""{"score":{"$gte":20.0}}""") == Seq(2L, 3L, 4L))
    assert(ids("""{"score":{"$lt":20.0}}""") == Seq(1L))
    assert(ids("""{"score":{"$lte":20.0}}""") == Seq(1L, 2L))
    assert(ids("""{"id":{"$gt":1,"$lt":4}}""") == Seq(2L, 3L))
  }

  test("$ne matches nulls too (mongo semantics)") {
    assert(ids("""{"tag":{"$ne":"x"}}""") == Seq(2L, 3L))
  }

  test("$in / $nin") {
    assert(ids("""{"name":{"$in":["alice","dave"]}}""") == Seq(1L, 4L))
    // $nin matches missing values in Mongo
    assert(ids("""{"tag":{"$nin":["x"]}}""") == Seq(2L, 3L))
  }

  test("$exists") {
    assert(ids("""{"tag":{"$exists":true}}""") == Seq(1L, 3L, 4L))
    assert(ids("""{"tag":{"$exists":false}}""") == Seq(2L))
  }

  test("$regex") { assert(ids("""{"name":{"$regex":"^[ab]"}}""") == Seq(1L, 2L)) }

  test("$mod") {
    assert(ids("""{"id":{"$mod":[2,0]}}""") == Seq(2L, 4L))
    assert(ids("""{"id":{"$mod":[3,1]}}""") == Seq(1L, 4L))
  }

  test("$regex anchored prefix becomes a pushable StartsWith conjunct") {
    // semantics stay exact across the tricky shapes...
    assert(ids("""{"name":{"$regex":"^ali.*"}}""") == Seq(1L))
    assert(ids("""{"name":{"$regex":"^dav?e"}}""") == Seq(4L))   // 'v' optional
    assert(ids("""{"name":{"$regex":"^bob|^carol"}}""") == Seq(2L, 3L)) // alternation: no prefix
    // ...and the prefix reaches parquet PushedFilters
    val dir = "/tmp/graft_mongofilter_prefix"
    df.write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
      .filter(MongoFilter.compile("""{"name":{"$regex":"^ali.*ce$"}}"""))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(name,ali)"), plan)
    assert(scan.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("$and / $or / $nor / $not") {
    assert(ids("""{"$and":[{"score":{"$gte":20.0}},{"tag":"x"}]}""") == Seq(4L))
    assert(ids("""{"$or":[{"id":1},{"id":3}]}""") == Seq(1L, 3L))
    assert(ids("""{"$nor":[{"id":1},{"id":3}]}""") == Seq(2L, 4L))
    assert(ids("""{"score":{"$not":{"$gt":20.0}}}""") == Seq(1L, 2L))
  }

  test("dotted path reaches struct fields") {
    val nested = df.select(struct(col("id").as("i"), col("name").as("n")).as("u"))
    val got = nested.filter(MongoFilter.compile("""{"u.n":"carol"}"""))
      .select("u.i").as[Long].collect().toSeq
    assert(got == Seq(3L))
  }

  test("array operators: $size / $all / $elemMatch") {
    val arrDf = Seq(
      (1L, Seq(80, 85, 95), Seq(("laptop", 1), ("mouse", 3))),
      (2L, Seq(60, 70), Seq(("desk", 1))),
      (3L, Seq(85, 88), Seq(("mouse", 5), ("keyboard", 2)))
    ).toDF("id", "scores", "raw")
      .withColumn("items", expr(
        "transform(raw, r -> named_struct('product', r._1, 'qty', r._2))"))
    def aids(f: String): Seq[Long] =
      arrDf.filter(MongoFilter.compile(f)).select("id").as[Long].collect().toSeq.sorted
    assert(aids("""{"scores":{"$size":2}}""") == Seq(2L, 3L))
    assert(aids("""{"scores":{"$all":[85, 95]}}""") == Seq(1L))
    assert(aids("""{"scores":{"$all":[]}}""") == Seq())
    // scalar form: element in (80, 90)
    assert(aids("""{"scores":{"$elemMatch":{"$gt":80,"$lt":90}}}""") == Seq(1L, 3L))
    // document form over array-of-struct
    assert(aids("""{"items":{"$elemMatch":{"product":"mouse","qty":{"$gte":4}}}}""")
      == Seq(3L))
  }

  test("null equality matches null-or-missing (mongo semantics)") {
    // {"field": null} and {"$eq": null} match docs where the field is
    // null OR missing — both are Spark NULL here
    assert(ids("""{"tag":null}""") == Seq(2L))
    assert(ids("""{"tag":{"$eq":null}}""") == Seq(2L))
    // $ne null matches docs where the field IS present (non-null)
    assert(ids("""{"tag":{"$ne":null}}""") == Seq(1L, 3L, 4L))
  }

  test("$in / $nin with null elements") {
    // a null element in $in means "or the field is null/missing"
    assert(ids("""{"tag":{"$in":["x", null]}}""") == Seq(1L, 2L, 4L))
    // null listed in $nin → nulls excluded as well
    assert(ids("""{"tag":{"$nin":["x", null]}}""") == Seq(3L))
    // empty $in matches nothing (mongo semantics)
    assert(ids("""{"tag":{"$in":[]}}""") == Seq())
  }

  test("$type maps Spark column types to Mongo type names") {
    assert(ids("""{"name":{"$type":"string"}}""") == Seq(1L, 2L, 3L, 4L))
    assert(ids("""{"id":{"$type":"long"}}""") == Seq(1L, 2L, 3L, 4L))
    assert(ids("""{"score":{"$type":"double"}}""") == Seq(1L, 2L, 3L, 4L))
    assert(ids("""{"score":{"$type":"number"}}""") == Seq(1L, 2L, 3L, 4L))
    assert(ids("""{"id":{"$type":"string"}}""") == Seq())
    // a null VALUE has type "null" regardless of column type
    assert(ids("""{"tag":{"$type":"null"}}""") == Seq(2L))
    assert(ids("""{"tag":{"$type":"string"}}""") == Seq(1L, 3L, 4L))
  }

  test("$type names a map column \"object\" and a timestamp_ntz column \"date\", " +
      "in the filter and the pipeline alike") {
    val typed = df.select(col("id"),
      when(col("tag").isNotNull, map(lit("k"), col("id"))).as("m"),
      expr("timestamp_ntz'2024-03-01 12:00:00'").as("t"))
    def tids(f: String) = typed.filter(MongoFilter.compile(f))
      .select("id").as[Long].collect().toSeq.sorted
    assert(tids("""{"m":{"$type":"object"}}""") == Seq(1L, 3L, 4L))
    assert(tids("""{"t":{"$type":"date"}}""") == Seq(1L, 2L, 3L, 4L))
    val names = Graft.aggregate(typed,
      """[{"$project": {"id": 1, "tm": {"$type": "$m"}, "tt": {"$type": "$t"}}}]""")
      .orderBy("id").collect().map(r => (r.getAs[String]("tm"), r.getAs[String]("tt")))
    assert(names.toSeq == Seq(("object", "date"), ("null", "date"),
      ("object", "date"), ("object", "date")))
  }

  test("bitwise operators: mask and bit-position forms") {
    // ids 1..4 = binary 01, 10, 11, 100
    assert(ids("""{"id":{"$bitsAllSet":3}}""") == Seq(3L))          // 11
    assert(ids("""{"id":{"$bitsAnySet":[0]}}""") == Seq(1L, 3L))    // odd
    assert(ids("""{"id":{"$bitsAllClear":[0,1]}}""") == Seq(4L))    // 100
    assert(ids("""{"id":{"$bitsAnyClear":3}}""") == Seq(1L, 2L, 4L))
  }

  test("$text: tokenized term search with negation over named paths") {
    val docs = Seq(
      (1L, "Spark joins the shuffle"),
      (2L, "mongo pipelines and stages"),
      (3L, "spark AND mongo together"),
      (4L, "nothing relevant here")
    ).toDF("id", "body")
    def tids(f: String): Seq[Long] =
      docs.filter(MongoFilter.compile(f)).select("id").as[Long].collect().toSeq.sorted
    // OR-terms, case-insensitive by default
    assert(tids("""{"$text": {"$search": "spark mongo", "$path": "body"}}""")
      == Seq(1L, 2L, 3L))
    // -negation excludes
    assert(tids("""{"$text": {"$search": "spark -mongo", "$path": "body"}}""")
      == Seq(1L))
    // case-sensitive form
    assert(tids("""{"$text": {"$search": "Spark", "$path": "body",
                              "$caseSensitive": true}}""") == Seq(1L))
    // no $path → clear refusal (no server-side text index to consult)
    val err = intercept[IllegalArgumentException] {
      MongoFilter.compile("""{"$text": {"$search": "spark"}}""")
    }
    assert(err.getMessage.contains("$path"))
    intercept[IllegalArgumentException] {
      MongoFilter.compile("""{"$text": {"$search": "\"a phrase\"", "$path": "body"}}""")
    }
  }

  // -------------------------------------------------------- $jsonSchema
  test("$jsonSchema: type/enum/bounds/length/pattern with validation applicability") {
    // required + numeric bounds + string keywords together
    assert(ids("""{"$jsonSchema":{
        "required":["id","name"],
        "properties":{
          "score":{"bsonType":"double","minimum":15,"maximum":35},
          "name":{"type":"string","minLength":3,"maxLength":5,"pattern":"^[a-d]"}
        }}}""") == Seq(2L, 3L))
    // exclusive bounds (draft-4 boolean form)
    assert(ids("""{"$jsonSchema":{"properties":{
        "score":{"minimum":10,"exclusiveMinimum":true,
                 "maximum":40,"exclusiveMaximum":true}}}}""") == Seq(2L, 3L))
    // a missing (null) field passes per-field keywords — only `required`
    // rejects it
    assert(ids("""{"$jsonSchema":{"properties":{"tag":{"enum":["x"]}}}}""")
      == Seq(1L, 2L, 4L))
    assert(ids("""{"$jsonSchema":{"required":["tag"],
        "properties":{"tag":{"enum":["x"]}}}}""") == Seq(1L, 4L))
    // enum with null matches the missing value too
    assert(ids("""{"$jsonSchema":{"properties":{"tag":{"enum":["y",null]}}}}""")
      == Seq(2L, 3L))
    // multipleOf
    assert(ids("""{"$jsonSchema":{"properties":{"score":{"multipleOf":20}}}}""")
      == Seq(2L, 4L))
    // type array = any-of
    assert(ids("""{"$jsonSchema":{"properties":{"id":{"bsonType":["long","double"]}}}}""")
      == Seq(1L, 2L, 3L, 4L))
    // statically inapplicable keyword passes: numeric bound on a string
    // column (the type guard constant-folds per column)
    assert(ids("""{"$jsonSchema":{"properties":{"name":{"minimum":99}}}}""")
      == Seq(1L, 2L, 3L, 4L))
  }

  test("$jsonSchema: nested properties, array items, refusals") {
    val nested = Seq(
      (1L, ("u1", 25L), Seq(1.0, 2.0)),
      (2L, ("u2", 16L), Seq(1.0)),
      (3L, ("x", 40L), Seq(1.0, 2.0, 3.0))
    ).toDF("id", "user", "vals")
      .select(col("id"),
        struct(col("user._1").as("name"), col("user._2").as("age")).as("user"),
        col("vals"))
    def nids(f: String): Seq[Long] =
      nested.filter(MongoFilter.compile(f)).select("id").as[Long].collect().toSeq.sorted
    // nested object schema via properties recursion
    assert(nids("""{"$jsonSchema":{"properties":{
        "user":{"bsonType":"object","required":["name"],
                "properties":{"age":{"minimum":18},
                              "name":{"minLength":2}}}}}}""") == Seq(1L))
    // minItems/maxItems on a real array column
    assert(nids("""{"$jsonSchema":{"properties":{"vals":{"minItems":2}}}}""")
      == Seq(1L, 3L))
    assert(nids("""{"$jsonSchema":{"properties":{"vals":{"minItems":1,"maxItems":2}}}}""")
      == Seq(1L, 2L))
    // unknown keywords are refused, not ignored
    val err = intercept[IllegalArgumentException] {
      MongoFilter.compile("""{"$jsonSchema":{"properties":{"id":{"uniqueItems":true}}}}""")
    }
    assert(err.getMessage.contains("unsupported"))
    intercept[IllegalArgumentException] {
      MongoFilter.compile("""{"$jsonSchema":{"additionalProperties":false}}""")
    }
    intercept[IllegalArgumentException] {
      MongoFilter.compile("""{"$jsonSchema":{"properties":{"id":{"type":"integer"}}}}""")
    }
  }

  // ------------------------------------------------------------ geo ops
  // deterministic point grid: 49 points spanning [-3,3]² plus a null row
  lazy val geo = {
    val pts = for (i <- -3 to 3; j <- -3 to 3)
      yield ((i + 3) * 7L + (j + 3) + 1, Some(Seq(i.toDouble, j.toDouble)))
    (pts :+ (0L, Option.empty[Seq[Double]]))
      .toDF("id", "loc")
  }
  private def gids(f: String): Seq[Long] =
    geo.filter(MongoFilter.compile(f)).select("id").as[Long].collect().toSeq.sorted
  private def expectIds(p: (Double, Double) => Boolean): Seq[Long] =
    (for (i <- -3 to 3; j <- -3 to 3 if p(i.toDouble, j.toDouble))
      yield (i + 3) * 7L + (j + 3) + 1).sorted

  test("$geoWithin $box / $center include the boundary, skip null locations") {
    assert(gids("""{"loc":{"$geoWithin":{"$box":[[-1,-2],[2,1]]}}}""") ==
      expectIds((x, y) => x >= -1 && x <= 2 && y >= -2 && y <= 1))
    // corners in the "wrong" order normalize
    assert(gids("""{"loc":{"$geoWithin":{"$box":[[2,1],[-1,-2]]}}}""") ==
      expectIds((x, y) => x >= -1 && x <= 2 && y >= -2 && y <= 1))
    assert(gids("""{"loc":{"$geoWithin":{"$center":[[0,0],2]}}}""") ==
      expectIds((x, y) => x * x + y * y <= 4.0))
  }

  test("$geoWithin $polygon: ray-cast parity matches a reference implementation") {
    def inRing(x: Double, y: Double, ring: Seq[(Double, Double)]): Boolean = {
      val es = ring.zip(ring.tail :+ ring.head)
      es.foldLeft(false) { case (acc, ((x1, y1), (x2, y2))) =>
        if ((y1 > y) != (y2 > y) && x < (x2 - x1) * (y - y1) / (y2 - y1) + x1)
          !acc else acc
      }
    }
    // non-convex (arrow-head) polygon
    val ring = Seq((-2.5, -2.5), (2.5, -2.5), (0.0, 0.5), (2.5, 2.5), (-2.5, 2.5))
    assert(gids("""{"loc":{"$geoWithin":{"$polygon":
        [[-2.5,-2.5],[2.5,-2.5],[0,0.5],[2.5,2.5],[-2.5,2.5]]}}}""") ==
      expectIds((x, y) => inRing(x, y, ring)))
  }

  test("$geoWithin $geometry: polygon with a hole; antimeridian refused") {
    val outer = Seq((-3.5, -3.5), (3.5, -3.5), (3.5, 3.5), (-3.5, 3.5), (-3.5, -3.5))
    val hole = Seq((-1.5, -1.5), (1.5, -1.5), (1.5, 1.5), (-1.5, 1.5), (-1.5, -1.5))
    assert(gids("""{"loc":{"$geoWithin":{"$geometry":{"type":"Polygon",
        "coordinates":[[[-3.5,-3.5],[3.5,-3.5],[3.5,3.5],[-3.5,3.5],[-3.5,-3.5]],
                       [[-1.5,-1.5],[1.5,-1.5],[1.5,1.5],[-1.5,1.5],[-1.5,-1.5]]]}}}}""") ==
      expectIds((x, y) =>
        (x.abs <= 3.5 && y.abs <= 3.5) && !(x.abs <= 1.5 && y.abs <= 1.5)))
    val err = intercept[IllegalArgumentException] {
      MongoFilter.compile("""{"loc":{"$geoWithin":{"$geometry":{"type":"Polygon",
          "coordinates":[[[179,0],[-179,0],[-179,1],[179,0]]]}}}}""")
    }
    assert(err.getMessage.contains("antimeridian"))
    // $geoIntersects point-vs-polygon = membership
    assert(gids("""{"loc":{"$geoIntersects":{"$geometry":{"type":"Polygon",
        "coordinates":[[[-0.5,-0.5],[1.5,-0.5],[1.5,1.5],[-0.5,1.5],[-0.5,-0.5]]]}}}}""") ==
      expectIds((x, y) => x >= -0.5 && x <= 1.5 && y >= -0.5 && y <= 1.5))
  }

  test("$near family: units per grammar; unbounded form refused") {
    // legacy $near: flat euclidean in coordinate units
    assert(gids("""{"loc":{"$near":[0,0],"$maxDistance":2}}""") ==
      expectIds((x, y) => math.sqrt(x * x + y * y) <= 2.0))
    // $minDistance ring
    assert(gids("""{"loc":{"$near":[0,0],"$maxDistance":2,"$minDistance":1}}""") ==
      expectIds((x, y) =>
        { val d = math.sqrt(x * x + y * y); d >= 1.0 && d <= 2.0 }))
    // legacy $nearSphere: central-angle radians (3° of arc ≈ 0.05236 rad)
    def ca(lng: Double, lat: Double): Double = {
      val h = math.pow(math.sin(math.toRadians(lat) / 2), 2) +
        math.cos(0.0) * math.cos(math.toRadians(lat)) *
          math.pow(math.sin(math.toRadians(lng) / 2), 2)
      2 * math.asin(math.sqrt(h))
    }
    assert(gids("""{"loc":{"$nearSphere":[0,0],"$maxDistance":0.03}}""") ==
      expectIds((x, y) => ca(x, y) <= 0.03))
    // GeoJSON form: meters on the IUGG sphere, bounds nested inside
    assert(gids("""{"loc":{"$nearSphere":{"$geometry":{"type":"Point",
        "coordinates":[0,0]},"$maxDistance":200000}}}""") ==
      expectIds((x, y) => 6371008.8 * ca(x, y) <= 200000.0))
    val err = intercept[IllegalArgumentException] {
      MongoFilter.compile("""{"loc":{"$near":[0,0]}}""")
    }
    assert(err.getMessage.contains("$geoNear"))
  }

  test("geo fuzz: random shapes match a reference implementation on random points") {
    val rnd = new scala.util.Random(4242L)
    val pts = (1L to 300L).map(i =>
      (i, rnd.nextDouble() * 8 - 4, rnd.nextDouble() * 8 - 4))
    val pdf = pts.map { case (i, x, y) => (i, Seq(x, y)) }.toDF("id", "loc")
    def inRing(x: Double, y: Double, ring: Seq[(Double, Double)]): Boolean = {
      val es = ring.zip(ring.tail :+ ring.head)
      es.foldLeft(false) { case (acc, ((x1, y1), (x2, y2))) =>
        if (y1 != y2 && (y1 > y) != (y2 > y) &&
          x < (x2 - x1) * (y - y1) / (y2 - y1) + x1) !acc else acc
      }
    }
    for (_ <- 1 to 12) {
      val n = 3 + rnd.nextInt(6)
      // star-shaped random polygon: sorted random angles around a random
      // center (guarantees a simple, possibly non-convex ring)
      val (cx, cy) = (rnd.nextDouble() * 4 - 2, rnd.nextDouble() * 4 - 2)
      val ring = (1 to n).map(_ =>
        (rnd.nextDouble() * 2 * math.Pi, 0.5 + rnd.nextDouble() * 3))
        .sortBy(_._1)
        .map { case (th, r) => (cx + r * math.cos(th), cy + r * math.sin(th)) }
      val json = ring.map { case (x, y) => s"[$x,$y]" }.mkString(",")
      val got = pdf.filter(MongoFilter.compile(
        s"""{"loc":{"$$geoWithin":{"$$polygon":[$json]}}}"""))
        .select("id").as[Long].collect().toSeq.sorted
      val want = pts.filter { case (_, x, y) => inRing(x, y, ring) }
        .map(_._1).sorted
      assert(got == want, s"polygon $json")
    }
    for (_ <- 1 to 8) {
      val (qx, qy) = (rnd.nextDouble() * 4 - 2, rnd.nextDouble() * 4 - 2)
      val r = 0.5 + rnd.nextDouble() * 2
      val got = pdf.filter(MongoFilter.compile(
        s"""{"loc":{"$$geoWithin":{"$$center":[[$qx,$qy],$r]}}}"""))
        .select("id").as[Long].collect().toSeq.sorted
      val want = pts.filter { case (_, x, y) =>
        (x - qx) * (x - qx) + (y - qy) * (y - qy) <= r * r }.map(_._1).sorted
      assert(got == want)
    }
  }

  test("a GeoJSON Point column answers $near, $geoWithin and $geoNear as its pair array does") {
    val both = geo.select(col("id"), col("loc"),
      when(col("loc").isNotNull, struct(lit("Point").as("type"), col("loc").as("coordinates")))
        .as("pt"))
    def on(field: String, f: String) = both.filter(MongoFilter.compile(f.replace("F", field)))
      .select("id").as[Long].collect().toSeq.sorted
    for (f <- Seq(
        """{"F":{"$near":{"$geometry":{"type":"Point","coordinates":[0,0]},"$maxDistance":250000}}}""",
        """{"F":{"$nearSphere":[1,1],"$maxDistance":0.03}}""",
        """{"F":{"$near":[0,0],"$maxDistance":2}}""",
        """{"F":{"$geoWithin":{"$box":[[-1,-2],[2,1]]}}}""",
        """{"F":{"$geoWithin":{"$centerSphere":[[0,0],0.03]}}}""")) {
      val want = on("loc", f)
      assert(want.nonEmpty && want.size < 49, f)
      assert(on("pt", f) == want, f)
    }
    def geoNear(key: String) = Graft.aggregate(both, s"""[{"$$geoNear": {"near": [0.5, 0.5],
      "key": "$key", "distanceField": "d", "maxDistance": 250000}}]""")
      .select("id", "d").as[(Long, Double)].collect().toSeq.sorted
    assert(geoNear("loc").nonEmpty && geoNear("pt") == geoNear("loc"))
  }

  test("geo predicates stay codegen'd boolean filters (no UDF, no shuffle)") {
    val f = geo.filter(MongoFilter.compile(
      """{"loc":{"$geoWithin":{"$centerSphere":[[0,0],0.05]}}}"""))
    val plan = f.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("mongo filter lands in parquet PushedFilters") {
    val orders = Tables(spark, sfDir, "orders")
      .filter(MongoFilter.compile("""{"o_orderstatus":"O","o_totalprice":{"$gt":1000.0}}"""))
    val plan = explainText(orders)
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("o_orderstatus"), plan)
    assert(plan.contains("o_totalprice"))
  }
}
