package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructType}
import org.apache.spark.sql.graftshim.{toColumn, toExpression}

/** MongoDB filter-document → Catalyst expression compiler.
  *
  * The reference accepts a Mongo filter JSON as the `filter` argument of
  * `mongo_scan` and also *generates* such documents from SQL predicates
  * for `$match` pushdown (reference: src/mongo_filter_pushdown.cpp:1,
  * src/mongo_expr_pushdown.cpp:1). Spark-first, the direction flips:
  * Catalyst already pushes SQL predicates into scans, so the useful
  * surface is letting users apply a *Mongo-syntax* filter to any
  * DataFrame or SQL query — this compiler turns the filter doc into a
  * boolean expression tree that Catalyst then optimizes/pushes like any
  * other predicate (a mongo filter on a parquet scan lands in
  * `PushedFilters` — free pushdown, no bespoke translator).
  *
  * Supported (the reference's pushdown grammar, README "Filter
  * Pushdown", plus Mongo's array operators): implicit equality,
  * `$eq $ne $gt $gte $lt $lte $in $nin $exists $regex $mod $not $and
  * $or $nor $type` (Spark→Mongo type-name mapping incl. the `number`
  * alias), `$sampleRate` (seeded), bitwise `$bitsAllSet $bitsAnySet $bitsAllClear
  * $bitsAnyClear` (mask or bit-position-array forms), `$expr` (the full
  * aggregation expression language), array `$size $all $elemMatch`
  * (scalar-ops and document forms — compiled to Catalyst higher-order
  * `exists`, still codegen'd), dotted paths (`a.b` → nested field /
  * struct access, resolved by the analyzer), and the find()-API geo
  * grammar over `[x, y]` pair or GeoJSON Point columns: `$geoWithin` (`$box $center
  * $centerSphere $polygon $geometry`), `$geoIntersects` (point-field
  * form), `$near $nearSphere` (distance-range form; see the geo section
  * below for unit and ordering semantics), and `$jsonSchema` (the
  * draft-4 validation subset as a match predicate — see its section).
  *
  * Scale: output is a pure Catalyst boolean expression — codegen'd,
  * pushdown-eligible, no UDFs.
  */
object MongoFilter {
  import DocValue._

  /** Compile a Mongo filter JSON string to a `Column` (DataFrame API). */
  def compile(filterJson: String): Column = toColumn(compileExpr(filterJson))

  /** Compile to a raw Catalyst expression (SQL-function / extension path:
    * attributes stay unresolved until analysis). */
  def compileExpr(filterJson: String): Expression =
    compileDoc(ExtJson.parse(filterJson))

  def compileDoc(doc: DDoc): Expression =
    doc.fields.map { case (k, v) => compileField(k, v) }
      .reduceOption(And).getOrElse(Literal.TrueLiteral)

  private def compileField(key: String, v: DocValue): Expression = key match {
    // $expr: full aggregation-expression language inside a filter (field-
    // to-field comparisons etc.) — delegates to the pipeline compiler, so
    // the result is still a pure Catalyst boolean (pushdown-eligible when
    // the expression is sargable)
    case "$expr" =>
      org.apache.spark.sql.graftshim.toExpression(MongoPipeline.valueExpr(v))
    // {$match: {$sampleRate: x}} — probabilistic row sampling. SEEDED
    // (deterministic per partition/position, unlike Mongo's true random)
    // so re-runs reproduce; for content-stable sampling across engines
    // use the hash-threshold idiom (p02) instead.
    case "$sampleRate" => v match {
      case DDouble(x) if x >= 0.0 && x <= 1.0 =>
        LessThan(Rand(Literal(42L)), Literal(x))
      case DLong(0) => Literal.FalseLiteral
      case DLong(1) => Literal.TrueLiteral
      case other => throw bad(s"$$sampleRate needs a number in [0,1], got $other")
    }
    // Legacy find()-API $text. Mongo resolves the searched field from a
    // server-side text INDEX; there is no index here, so the graft form
    // names the field(s) explicitly with `$path` (refused with a clear
    // message otherwise). Term semantics follow Mongo: whitespace-split
    // OR-terms, `-term` negations exclude; quoted phrases are refused.
    // Compiles to pure tokenized array-membership — codegen'd, no stats.
    case "$text" => v match {
      case d: DDoc =>
        val m = d.fields.toMap
        val unknown = m.keySet -- Set("$search", "$path", "$caseSensitive")
        if (unknown.nonEmpty) throw bad(
          s"$$text: unsupported options ${unknown.mkString(", ")}")
        val raw = m.get("$search") match {
          case Some(DString(s)) => s
          case other => throw bad(s"$$text.$$search needs a string, got $other")
        }
        if (raw.contains("\"")) throw bad(
          "$text: quoted phrases are not supported (terms only)")
        val caseSensitive = m.get("$caseSensitive") match {
          case Some(DBool(b)) => b
          case None           => false
          case Some(x) => throw bad(s"$$text.$$caseSensitive: $x")
        }
        val paths: Seq[String] = m.get("$path") match {
          case Some(DString(p)) => Seq(p)
          case Some(DArray(ps)) if ps.forall(_.isInstanceOf[DString]) =>
            ps.map { case DString(p) => p case _ => "" }
          case _ => throw bad("$text needs $path naming the searched " +
            "field(s) — there is no server-side text index to resolve it from")
        }
        val (neg, pos) = raw.split("\\s+").filter(_.nonEmpty).distinct
          .partition(_.startsWith("-"))
        if (pos.isEmpty) throw bad("$text.$search has no positive terms")
        import org.apache.spark.sql.functions.{col, filter, lit, lower, split, array_contains}
        val tokRx = "[^\\p{L}\\p{N}]+"
        def toks(p: String): Column = {
          val base = if (caseSensitive) col(p) else lower(col(p))
          filter(split(base, tokRx), x => x =!= lit(""))
        }
        def norm(t: String) = if (caseSensitive) t else t.toLowerCase
        val hit = (field: Column, t: String) => array_contains(field, norm(t))
        val anyPos = paths.map(toks).map(f =>
          pos.map(t => hit(f, t)).reduce(_ || _)).reduce(_ || _)
        val negTerms = neg.map(_.drop(1)).filter(_.nonEmpty).toSeq
        val anyNeg =
          if (negTerms.isEmpty) lit(false)
          else paths.map(toks).map(f =>
            negTerms.map(t => hit(f, t)).reduce(_ || _)).reduce(_ || _)
        org.apache.spark.sql.graftshim.toExpression(anyPos && !anyNeg)
      case other => throw bad(s"$$text needs a document, got $other")
    }
    // $jsonSchema: the draft-4 validation subset Mongo supports, as a
    // MATCH predicate (the query form, not collMod validation). Mongo's
    // validation semantics — a keyword constrains only values it
    // APPLIES to: a missing field passes everything except `required`,
    // and a type-mismatched keyword (e.g. `minimum` on a string column)
    // passes. Relational columns are statically typed, so applicability
    // resolves at compile time per column. Unknown/JS-only keywords are
    // refused, not ignored (silently accepting `uniqueItems` would
    // claim semantics we don't check).
    case "$jsonSchema" => v match {
      case d: DDoc => compileSchema(None, d)
      case other   => throw bad(s"$$jsonSchema needs a document, got $other")
    }
    case "$and" => subDocs(key, v).map(compileDoc).reduce(And)
    case "$or"  => subDocs(key, v).map(compileDoc).reduce(Or)
    case "$nor" => Not(subDocs(key, v).map(compileDoc).reduce(Or))
    case "$not" => v match {
      case d: DDoc => Not(compileDoc(d))
      case other   => throw bad(s"$$not needs a document, got $other")
    }
    case field => v match {
      case ops: DDoc if ops.fields.nonEmpty && ops.fields.forall(_._1.startsWith("$")) =>
        // $near/$nearSphere own their $maxDistance/$minDistance SIBLINGS
        // (the legacy find() grammar), so the whole ops doc compiles as one
        if (ops.fields.exists(f => f._1 == "$near" || f._1 == "$nearSphere"))
          compileNear(field, ops.fields)
        else ops.fields.map {
          case ("$geoWithin", operand)     => compileGeoWithin(field, operand)
          case ("$geoIntersects", operand) => compileGeoIntersects(field, operand)
          case (op, operand)               => compileOp(attr(field), op, operand)
        }.reduce(And)
      // Mongo: {field: null} matches docs where the field is null OR
      // missing — both map to Spark NULL, so implicit/explicit equality
      // with null must compile to IsNull, not EqualTo(_, null) (which
      // evaluates to NULL and matches nothing).
      case DNull        => IsNull(attr(field))
      case literalValue => EqualTo(attr(field), ExtJson.literal(literalValue)) // implicit $eq
    }
  }

  private def compileOp(c: Expression, op: String, operand: DocValue): Expression = {
    op match {
      case "$eq"  => operand match {
        case DNull => IsNull(c) // Mongo null equality matches null AND missing
        case o     => EqualTo(c, ExtJson.literal(o))
      }
      case "$ne"  => Not(EqualNullSafe(c, ExtJson.literal(operand))) // $ne matches missing too
      case "$gt"  => GreaterThan(c, ExtJson.literal(operand))
      case "$gte" => GreaterThanOrEqual(c, ExtJson.literal(operand))
      case "$lt"  => LessThan(c, ExtJson.literal(operand))
      case "$lte" => LessThanOrEqual(c, ExtJson.literal(operand))
      case "$in" => operand match {
        case DArray(items) =>
          // a null element means "match null/missing" in Mongo — In() with a
          // null literal would yield NULL instead, so split it out as IsNull
          val (nulls, vals) = items.partition(_ == DNull)
          val inPart = if (vals.nonEmpty) Some(In(c, vals.map(ExtJson.literal))) else None
          val nullPart = if (nulls.nonEmpty) Some(IsNull(c)) else None
          (inPart ++ nullPart).reduceOption[Expression](Or)
            .getOrElse(Literal.FalseLiteral) // Mongo: $in [] matches nothing
        case other => throw bad(s"$$in needs an array, got $other")
      }
      case "$nin" => operand match {
        case DArray(items) =>
          val (nulls, vals) = items.partition(_ == DNull)
          val notIn: Expression =
            if (vals.nonEmpty) Not(In(c, vals.map(ExtJson.literal))) else Literal.TrueLiteral
          if (nulls.nonEmpty) And(notIn, IsNotNull(c)) // null listed → nulls excluded
          else Or(notIn, IsNull(c))                    // else missing/null matches
        case other => throw bad(s"$$nin needs an array, got $other")
      }
      case "$mod" => operand match {
        // {field: {$mod: [divisor, remainder]}} — Mongo applies it to the
        // integer value; Remainder is codegen'd and null-safe like any
        // arithmetic comparison
        case DArray(Seq(d, r)) =>
          EqualTo(Remainder(c, ExtJson.literal(d)), ExtJson.literal(r))
        case other => throw bad(s"$$mod needs [divisor, remainder], got $other")
      }
      case "$exists" => operand match {
        case DBool(true)  => IsNotNull(c)
        case DBool(false) => IsNull(c)
        case other        => throw bad(s"$$exists needs a boolean, got $other")
      }
      case "$type" => operand match {
        // relational schemas are fixed-typed, so $type is a per-COLUMN
        // predicate: compare the column's Spark type mapped to Mongo's
        // name (plus the value's null-ness for "null")
        case DString(want) =>
          val mapped = ExtJson.typeOf(c)
          // Mongo aliases: "number" matches any numeric type
          if (want == "number") ExtJson.isNumber(mapped)
          else EqualTo(mapped, Literal(want))
        case other => throw bad(s"$$type needs a type-name string, got $other")
      }
      // bitwise query operators: positions are bit indexes OR a numeric mask
      case "$bitsAllSet" | "$bitsAnySet" | "$bitsAllClear" | "$bitsAnyClear" =>
        val mask: Expression = operand match {
          case DLong(m)      => Literal(m)
          case DArray(items) => Literal(items.map {
            case DLong(pos) if pos >= 0 && pos < 64 => 1L << pos
            case x => throw bad(s"$op bit position: $x")
          }.foldLeft(0L)(_ | _))
          case other => throw bad(s"$op needs a mask or bit-position array, got $other")
        }
        val masked = BitwiseAnd(Cast(c, org.apache.spark.sql.types.LongType), mask)
        op match {
          case "$bitsAllSet"   => EqualTo(masked, mask)
          case "$bitsAnySet"   => Not(EqualTo(masked, Literal(0L)))
          case "$bitsAllClear" => EqualTo(masked, Literal(0L))
          case _               => Not(EqualTo(masked, mask)) // $bitsAnyClear
        }
      case "$regex" => operand match {
        case DString(re) =>
          // anchored literal prefix → add a pushdown-eligible StartsWith
          // conjunct (the reference turns ^-anchored regex into an index
          // range the same way); RLike keeps the full semantics
          val rl = RLike(c, Literal(re))
          literalPrefix(re) match {
            case Some(p) => And(StartsWith(c, Literal(p)), rl)
            case None    => rl
          }
        case other => throw bad(s"$$regex needs a string, got $other")
      }
      case "$not" => operand match {
        case ops: DDoc =>
          Not(ops.fields.map { case (o, od) => compileOp(c, o, od) }.reduce(And))
        case other => throw bad(s"$$not needs a document, got $other")
      }
      // -------- array operators (Mongo query language over LIST columns)
      case "$size" => operand match {
        case DLong(n) => EqualTo(Size(c), Literal(n))
        case other    => throw bad(s"$$size needs an integer, got $other")
      }
      case "$all" => operand match {
        case DArray(items) if items.nonEmpty =>
          items.map(i => ArrayContains(c, ExtJson.literal(i)): Expression).reduce(And)
        case DArray(_) => Literal.FalseLiteral // Mongo: $all [] matches nothing
        case other     => throw bad(s"$$all needs an array, got $other")
      }
      case "$elemMatch" => operand match {
        case ops: DDoc if ops.fields.nonEmpty =>
          val x = UnresolvedNamedLambdaVariable(Seq("x"))
          val cond =
            if (ops.fields.forall(_._1.startsWith("$")))
              // scalar form: {scores: {$elemMatch: {$gt: 80, $lt: 90}}}
              ops.fields.map { case (o, od) => compileOp(x, o, od) }.reduce(And)
            else
              // document form: {items: {$elemMatch: {qty: {$gt: 2}}}}
              ops.fields.map { case (f, fv) =>
                val member = UnresolvedExtractValue(x, Literal(f))
                fv match {
                  case sub: DDoc if sub.fields.nonEmpty &&
                      sub.fields.forall(_._1.startsWith("$")) =>
                    sub.fields.map { case (o, od) => compileOp(member, o, od) }
                      .reduce(And)
                  case lit => EqualTo(member, ExtJson.literal(lit))
                }
              }.reduce(And)
          ArrayExists(c, LambdaFunction(cond, Seq(x)))
        case other => throw bad(s"$$elemMatch needs a document, got $other")
      }
      case other => throw bad(s"unsupported operator $other")
    }
  }

  // -------- $jsonSchema (draft-4 validation subset, as a MATCH) --------
  //
  // Semantics follow Mongo validation-as-query: a keyword constrains
  // only values it applies to — a missing (null) field passes every
  // keyword except `required`, and a type-guarded keyword (numeric
  // bounds, string lengths, pattern) passes on values of other types.
  // The guards are runtime type-name comparisons that CONSTANT-FOLD per
  // column (relational schemas are statically typed), so the residual
  // predicate is the plain comparison. `minItems`/`maxItems` have no
  // type-agnostic form (`size` only analyzes on arrays) — on a
  // non-array column they fail analysis loudly instead of passing.
  // Unknown / unenforceable keywords (JS `$where`-class, uniqueItems,
  // additionalProperties: false over a fixed column set) are refused,
  // not ignored. `description`/`title` are annotations and pass.

  private def compileSchema(path: Option[String], schema: DDoc): Expression = {
    val m = schema.fields.toMap
    path match {
      case None =>
        val allowed = Set("properties", "required", "type", "bsonType",
          "additionalProperties", "description", "title")
        val unknown = m.keySet -- allowed
        if (unknown.nonEmpty) throw bad(
          s"$$jsonSchema: unsupported root keywords ${unknown.mkString(", ")}")
        m.get("type").orElse(m.get("bsonType")).foreach {
          case DString("object") => ()
          case x => throw bad(s"$$jsonSchema root type must be object, got $x")
        }
        m.get("additionalProperties").foreach {
          case DBool(true) => () // the default — a no-op over fixed columns
          case x => throw bad("$jsonSchema additionalProperties must be " +
            s"true (a relational column set is fixed by the schema), got $x")
        }
        (requiredOf(m, prefix = "") ++ propertiesOf(m, prefix = ""))
          .reduceOption(And).getOrElse(Literal.TrueLiteral)
      case Some(p) => fieldSchema(p, m)
    }
  }

  private def requiredOf(m: Map[String, DocValue],
      prefix: String): Seq[Expression] = m.get("required").toSeq.flatMap {
    case DArray(names) if names.nonEmpty => names.map {
      case DString(f) => IsNotNull(attr(prefix + f))
      case x          => throw bad(s"$$jsonSchema required needs field names, got $x")
    }
    case x => throw bad(s"$$jsonSchema required needs a non-empty array, got $x")
  }

  private def propertiesOf(m: Map[String, DocValue],
      prefix: String): Seq[Expression] = m.get("properties").toSeq.flatMap {
    case props: DDoc => props.fields.map {
      case (f, sub: DDoc) => fieldSchema(prefix + f, sub.fields.toMap)
      case (f, x) => throw bad(s"$$jsonSchema properties.$f needs a schema, got $x")
    }
    case x => throw bad(s"$$jsonSchema properties needs a document, got $x")
  }

  private def fieldSchema(p: String, m: Map[String, DocValue]): Expression = {
    val allowed = Set("bsonType", "type", "enum", "minimum", "maximum",
      "exclusiveMinimum", "exclusiveMaximum", "multipleOf", "minLength",
      "maxLength", "pattern", "minItems", "maxItems", "properties",
      "required", "description", "title")
    val unknown = m.keySet -- allowed
    if (unknown.nonEmpty) throw bad(
      s"$$jsonSchema.$p: unsupported keywords ${unknown.mkString(", ")}")
    val c = attr(p)
    val typeName = ExtJson.typeOf(c)
    val isNumeric = ExtJson.isNumber(typeName)
    val isString = EqualTo(typeName, Literal("string"))
    def guarded(guard: Expression, cons: Expression): Expression =
      Or(Not(guard), cons)
    def numOperand(k: String): Expression = m(k) match {
      case DLong(l)   => Literal(l.toDouble)
      case DDouble(d) => Literal(d)
      case x          => throw bad(s"$$jsonSchema.$p.$k needs a number, got $x")
    }
    def longOperand(k: String): Long = m(k) match {
      case DLong(l) => l
      case x        => throw bad(s"$$jsonSchema.$p.$k needs an integer, got $x")
    }
    def boolFlag(k: String): Boolean = m.get(k) match {
      case Some(DBool(b)) => b
      case None           => false
      case Some(x) => throw bad(s"$$jsonSchema.$p.$k needs a boolean (draft 4), got $x")
    }
    val asDouble = Cast(c, org.apache.spark.sql.types.DoubleType)
    val asString = Cast(c, org.apache.spark.sql.types.StringType)
    val constraints = Seq.newBuilder[Expression]
    m.get("bsonType").orElse(m.get("type")).foreach { tv =>
      val fromType = m.contains("type") && !m.contains("bsonType")
      def one(name: String): Expression = {
        // JSON-schema `type` names differ from bsonType's: boolean/null
        // spell out; "number" is any numeric in BOTH vocabularies
        val mapped = if (fromType) name match {
          case "boolean" => "bool"
          case "integer" => throw bad(
            s"$$jsonSchema.$p: type 'integer' is not supported by Mongo (use bsonType)")
          case other => other
        } else name
        if (mapped == "number") isNumeric else EqualTo(typeName, Literal(mapped))
      }
      val names = tv match {
        case DString(t)  => Seq(t)
        case DArray(ts)  => ts.map {
          case DString(t) => t
          case x => throw bad(s"$$jsonSchema.$p type entry: $x")
        }
        case x => throw bad(s"$$jsonSchema.$p type needs a name or array, got $x")
      }
      constraints += names.map(one).reduce(Or)
    }
    m.get("enum").foreach {
      case DArray(items) if items.nonEmpty =>
        val (nulls, vals) = items.partition(_ == DNull)
        val inPart = if (vals.nonEmpty) Some(In(c, vals.map(ExtJson.literal))) else None
        val nullPart = if (nulls.nonEmpty) Some(IsNull(c)) else None
        constraints += (inPart ++ nullPart).reduceOption[Expression](Or)
          .getOrElse(Literal.FalseLiteral)
      case x => throw bad(s"$$jsonSchema.$p enum needs a non-empty array, got $x")
    }
    if (m.contains("minimum")) constraints += guarded(isNumeric,
      if (boolFlag("exclusiveMinimum")) GreaterThan(asDouble, numOperand("minimum"))
      else GreaterThanOrEqual(asDouble, numOperand("minimum")))
    if (m.contains("maximum")) constraints += guarded(isNumeric,
      if (boolFlag("exclusiveMaximum")) LessThan(asDouble, numOperand("maximum"))
      else LessThanOrEqual(asDouble, numOperand("maximum")))
    if (m.contains("exclusiveMinimum") && !m.contains("minimum"))
      throw bad(s"$$jsonSchema.$p: exclusiveMinimum needs minimum (draft 4)")
    if (m.contains("exclusiveMaximum") && !m.contains("maximum"))
      throw bad(s"$$jsonSchema.$p: exclusiveMaximum needs maximum (draft 4)")
    m.get("multipleOf").foreach { _ =>
      val d = numOperand("multipleOf")
      constraints += guarded(isNumeric,
        EqualTo(Remainder(asDouble, d), Literal(0.0)))
    }
    if (m.contains("minLength")) constraints += guarded(isString,
      GreaterThanOrEqual(Length(asString), Literal(longOperand("minLength").toInt)))
    if (m.contains("maxLength")) constraints += guarded(isString,
      LessThanOrEqual(Length(asString), Literal(longOperand("maxLength").toInt)))
    m.get("pattern").foreach {
      case DString(re) => constraints += guarded(isString, RLike(asString, Literal(re)))
      case x => throw bad(s"$$jsonSchema.$p pattern needs a string, got $x")
    }
    if (m.contains("minItems"))
      constraints += GreaterThanOrEqual(Size(c), Literal(longOperand("minItems").toInt))
    if (m.contains("maxItems"))
      constraints += LessThanOrEqual(Size(c), Literal(longOperand("maxItems").toInt))
    // nested object schema: properties/required recurse on dotted paths
    constraints ++= requiredOf(m, prefix = p + ".")
    constraints ++= propertiesOf(m, prefix = p + ".")
    val built = constraints.result()
    if (built.isEmpty) Literal.TrueLiteral
    // a missing field passes every per-field keyword (required is the
    // root's job) — Mongo validation applicability
    else Or(IsNull(c), built.reduce(And))
  }

  // -------- geo query operators (find()-API geospatial grammar) --------
  //
  // Reference scope note: the reference's pushdown grammar
  // (src/mongo_filter_pushdown.cpp:1) stops at scalar predicates; geo
  // queries are part of the find()/$match surface a porting user brings
  // along, so they compile here to pure closed-form Catalyst math —
  // codegen'd, partition-prunable when the coordinates are sargable.
  //
  // The queried field holds a numeric `[lng, lat]` (or flat `[x, y]`)
  // pair array — the legacy coordinate form — or a GeoJSON Point
  // document, read by its `coordinates` (see `lngLat`).
  //
  // Geometry semantics: $box/$center/$polygon are flat (2d) per Mongo;
  // $centerSphere is a spherical cap over central angle (radians);
  // $geometry polygons are evaluated by PLANAR ray-cast on the lng/lat
  // grid — exact for Mongo's small-region polygons away from the
  // antimeridian (edges spanning >180° of longitude are refused rather
  // than silently misclassified); boundary points follow ray-cast
  // parity, matching Mongo's own edge-inclusion looseness for flat
  // shapes. Distances: haversine central angle on the IUGG mean sphere
  // (R = 6371008.8 m), the same kernel as the $geoNear stage.

  private def numD(v: DocValue, what: String): Double = v match {
    case DDouble(d) => d
    case DLong(l)   => l.toDouble
    case other      => throw bad(s"$what needs a number, got $other")
  }

  /** `[x, y]` pair or GeoJSON `{coordinates: [x, y]}` → doubles. */
  private def pairOf(v: DocValue, what: String): (Double, Double) = v match {
    case DArray(Seq(a, b)) => (numD(a, what), numD(b, what))
    case d: DDoc => d.fields.toMap.get("coordinates") match {
      case Some(DArray(Seq(a, b))) => (numD(a, what), numD(b, what))
      case _ => throw bad(s"$what GeoJSON point needs coordinates [lng, lat]")
    }
    case other => throw bad(s"$what needs an [x, y] pair, got $other")
  }

  /** A location's (x, y) as double columns: a `[lng, lat]` pair array or
    * a GeoJSON Point document's `coordinates`, whichever the column's type
    * is — the one location reader of the geo operators and `$geoNear`. */
  private[sources] def lngLat(loc: Expression): (Column, Column) =
    (toColumn(GeoCoord(loc, 1)), toColumn(GeoCoord(loc, 2)))

  private def geoXY(field: String): (Column, Column) = lngLat(attr(field))

  /** Haversine central angle (radians) from (x, y) to (lng, lat). */
  private[sources] def centralAngle(x: Column, y: Column,
      lng: Column, lat: Column): Column = {
    import org.apache.spark.sql.functions.{asin, cos, lit, pow, radians, sin, sqrt}
    val h = pow(sin(radians(y - lat) / 2), 2) +
      cos(radians(lat)) * cos(radians(y)) * pow(sin(radians(x - lng) / 2), 2)
    lit(2.0) * asin(sqrt(h))
  }

  /** Ray-cast point-in-ring parity with LITERAL vertices: per-edge
    * straddle-and-left-of-intersection tests XOR-folded (`=!=` chain),
    * slopes precomputed in Scala — the whole test is branch-free
    * codegen'd arithmetic, no loops at runtime. Horizontal edges never
    * flip parity and are dropped at compile time. */
  private def pointInRing(x: Column, y: Column,
      ring: Seq[(Double, Double)]): Column = {
    import org.apache.spark.sql.functions.lit
    val vs = if (ring.size > 1 && ring.head == ring.last) ring.dropRight(1)
      else ring
    if (vs.size < 3) throw bad("polygon ring needs at least 3 distinct points")
    val edges = vs.zip(vs.tail :+ vs.head)
    edges.filter { case ((_, y1), (_, y2)) => y1 != y2 }
      .map { case ((x1, y1), (x2, y2)) =>
        val straddles = (lit(y1) > y) =!= (lit(y2) > y)
        val slope = (x2 - x1) / (y2 - y1)
        straddles && (x < lit(slope) * (y - lit(y1)) + lit(x1))
      }.foldLeft(lit(false))((acc, e) => acc =!= e)
  }

  /** GeoJSON Polygon membership: inside the outer ring, outside every
    * hole. Single Polygon only; antimeridian-crossing edges refused. */
  private def geometryContains(x: Column, y: Column, g: DDoc): Column = {
    val m = g.fields.toMap
    m.get("type") match {
      case Some(DString("Polygon")) => ()
      case Some(DString(t)) =>
        throw bad(s"$$geometry type $t is not supported (Polygon only)")
      case _ => throw bad("$geometry needs a type")
    }
    val rings: Seq[Seq[(Double, Double)]] = m.get("coordinates") match {
      case Some(DArray(rs)) if rs.nonEmpty => rs.map {
        case DArray(pts) if pts.size >= 4 => pts.map(pairOf(_, "$geometry ring"))
        case other => throw bad(
          s"$$geometry ring needs >= 4 [lng, lat] points (closed), got $other")
      }
      case other => throw bad(s"$$geometry Polygon needs coordinates rings, got $other")
    }
    for (ring <- rings; ((x1, _), (x2, _)) <- ring.zip(ring.tail))
      if (math.abs(x2 - x1) > 180.0) throw bad(
        "$geometry polygons crossing the antimeridian are not supported " +
          "(planar ray-cast evaluation)")
    val inOuter = pointInRing(x, y, rings.head)
    rings.tail.foldLeft(inOuter)((acc, hole) => acc && !pointInRing(x, y, hole))
  }

  private def compileGeoWithin(field: String, shape: DocValue): Expression = {
    import org.apache.spark.sql.functions.lit
    val (x, y) = geoXY(field)
    val pred: Column = shape match {
      case d: DDoc => d.fields match {
        case Seq(("$box", DArray(Seq(p1, p2)))) =>
          // opposite corners in either order; boundary included
          val (x1, y1) = pairOf(p1, "$box"); val (x2, y2) = pairOf(p2, "$box")
          x >= lit(math.min(x1, x2)) && x <= lit(math.max(x1, x2)) &&
            y >= lit(math.min(y1, y2)) && y <= lit(math.max(y1, y2))
        case Seq(("$center", DArray(Seq(c, r)))) =>
          val (cx, cy) = pairOf(c, "$center")
          val rr = numD(r, "$center radius")
          // squared-distance form: no sqrt in the hot path
          (x - lit(cx)) * (x - lit(cx)) + (y - lit(cy)) * (y - lit(cy)) <=
            lit(rr * rr)
        case Seq(("$centerSphere", DArray(Seq(c, r)))) =>
          val (cx, cy) = pairOf(c, "$centerSphere")
          centralAngle(x, y, lit(cx), lit(cy)) <= lit(numD(r, "$centerSphere radius"))
        case Seq(("$polygon", DArray(pts))) if pts.size >= 3 =>
          pointInRing(x, y, pts.map(pairOf(_, "$polygon")))
        case Seq(("$geometry", g: DDoc)) => geometryContains(x, y, g)
        case other => throw bad("$geoWithin needs one of $box $center " +
          s"$$centerSphere $$polygon $$geometry, got ${other.map(_._1).mkString(", ")}")
      }
      case other => throw bad(s"$$geoWithin needs a shape document, got $other")
    }
    // docs without a (complete) location never match a geo predicate
    toExpression(pred && x.isNotNull && y.isNotNull)
  }

  /** `$geoIntersects` over a point FIELD degenerates to polygon
    * membership (a point intersects a polygon iff it lies within it) —
    * the analytic case; non-point field geometries have no relational
    * column form here. */
  private def compileGeoIntersects(field: String, operand: DocValue): Expression =
    operand match {
      case d: DDoc => d.fields match {
        case Seq(("$geometry", g: DDoc)) =>
          val (x, y) = geoXY(field)
          toExpression(geometryContains(x, y, g) && x.isNotNull && y.isNotNull)
        case other => throw bad(
          s"$$geoIntersects needs $$geometry, got ${other.map(_._1).mkString(", ")}")
      }
      case other => throw bad(s"$$geoIntersects needs a document, got $other")
    }

  /** `$near`/`$nearSphere` as a DISTANCE-RANGE predicate. Mongo's near
    * operators also ORDER results nearest-first — an ordering is not
    * expressible in a boolean filter, so the unbounded form is refused
    * (use the `$geoNear` stage, which owns the sort); with
    * `$maxDistance`/`$minDistance` the membership set is exactly Mongo's
    * and only the row order differs (documented divergence; SQL engines
    * treat WHERE output as unordered anyway).
    *
    * Units per Mongo: legacy `$near [x, y]` = flat euclidean in
    * coordinate units; legacy `$nearSphere [lng, lat]` = central angle
    * RADIANS; GeoJSON form (both ops) = spherical METERS. */
  private def compileNear(field: String,
      ops: Seq[(String, DocValue)]): Expression = {
    import org.apache.spark.sql.functions.{lit, pow, sqrt}
    val m = ops.toMap
    val opName = if (m.contains("$near")) "$near" else "$nearSphere"
    if (m.contains("$near") && m.contains("$nearSphere"))
      throw bad("$near and $nearSphere cannot be combined")
    val extra = m.keySet -- Set(opName, "$maxDistance", "$minDistance")
    if (extra.nonEmpty) throw bad(
      s"$opName: unsupported sibling operators ${extra.mkString(", ")}")
    // GeoJSON form nests the bounds INSIDE the operator document;
    // legacy form puts them as siblings — accept both positions
    val (center, geoJson, innerMax, innerMin) = m(opName) match {
      case d: DDoc if d.fields.toMap.contains("$geometry") =>
        val dm = d.fields.toMap
        val unknown = dm.keySet -- Set("$geometry", "$maxDistance", "$minDistance")
        if (unknown.nonEmpty) throw bad(
          s"$opName: unsupported options ${unknown.mkString(", ")}")
        (pairOf(dm("$geometry"), s"$opName.$$geometry"), true,
          dm.get("$maxDistance"), dm.get("$minDistance"))
      case v => (pairOf(v, opName), false, None, None)
    }
    val maxD = innerMax.orElse(m.get("$maxDistance")).map(numD(_, "$maxDistance"))
    val minD = innerMin.orElse(m.get("$minDistance")).map(numD(_, "$minDistance"))
    if (maxD.isEmpty && minD.isEmpty) throw bad(
      s"$opName without $$maxDistance/$$minDistance is a pure ordering — " +
        "use the $geoNear aggregation stage for sorted proximity results")
    val (cx, cy) = center
    val (x, y) = geoXY(field)
    val dist: Column =
      if (!geoJson && opName == "$near") // flat 2d, legacy units
        sqrt(pow(x - lit(cx), 2) + pow(y - lit(cy), 2))
      else {
        val ca = centralAngle(x, y, lit(cx), lit(cy))
        if (geoJson) lit(6371008.8) * ca else ca // meters vs radians
      }
    val bounds = (minD.map(dist >= lit(_)) ++ maxD.map(dist <= lit(_)))
      .reduce(_ && _)
    toExpression(bounds && x.isNotNull && y.isNotNull)
  }

  /** Literal prefix of a ^-anchored regex (chars before the first
    * metacharacter), usable as a sargable StartsWith bound. Conservative:
    * any alternation bails (|cd branches need not share the prefix), and
    * a char followed by a quantifier is dropped (`^ab?` only pins "a").
    */
  private def literalPrefix(re: String): Option[String] =
    if (!re.startsWith("^") || re.contains("|")) None
    else {
      val meta = ".*+?()[]{}\\$"
      val raw = re.drop(1).takeWhile(ch => !meta.contains(ch))
      val rest = re.drop(1 + raw.length)
      val p = if (rest.nonEmpty && "?*+{".contains(rest.head)) raw.dropRight(1)
        else raw
      if (p.isEmpty) None else Some(p)
    }

  /** Dotted Mongo path → (possibly nested) attribute reference. */
  private def attr(field: String): Expression =
    UnresolvedAttribute(field.split('.').toImmutableArraySeq)

  private def subDocs(op: String, v: DocValue): Seq[DDoc] = v match {
    case DArray(items) if items.nonEmpty && items.forall(_.isInstanceOf[DDoc]) =>
      items.map(_.asInstanceOf[DDoc])
    case other => throw bad(s"$op needs a non-empty array of documents, got $other")
  }

  private def bad(msg: String) = new IllegalArgumentException(s"mongo filter: $msg")

  private implicit class ArrOps[A](private val a: Array[A]) {
    def toImmutableArraySeq: Seq[A] = a.toIndexedSeq
  }
}

/** Coordinate `i` (1 = x/lng, 2 = y/lat) of a location as a DOUBLE: element
  * `i` of a pair array, or of a GeoJSON Point struct's `coordinates`. The
  * shape is the column's type, known only once the analyzer resolves it. */
private[sources] case class GeoCoord(child: Expression, i: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  private def pair: Expression = child.dataType match {
    case st: StructType if st.fieldNames.contains("coordinates") =>
      GetStructField(child, st.fieldIndex("coordinates"))
    case _ => child
  }
  override lazy val replacement: Expression =
    Cast(ElementAt(pair, Literal(i)), DoubleType)
  override def checkInputDataTypes(): TypeCheckResult = pair.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure("a location must be a " +
      s"[x, y] array or a GeoJSON Point, got ${other.simpleString}")
  }
  override protected def withNewChildInternal(c: Expression): GeoCoord = copy(child = c)
}
