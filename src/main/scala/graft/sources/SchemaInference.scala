package graft.sources

import org.apache.spark.sql.types._

/** Sampling schema inference for document collections.
  *
  * Re-expresses the reference's inferencer
  * (reference: src/mongo_schema_inference.cpp:1): sample the first N docs
  * (default 100), unify per-field types across the sample, refine
  * Null/Undefined when a later doc supplies a concrete type, flatten
  * nested documents to `parent_child` columns, keep arrays as LIST
  * (of STRUCT for array-of-document).
  *
  * Type lattice (reference README "BSON Type Mapping"):
  *   Int32/Int64 → LongType;  Double/Decimal128 → DoubleType;
  *   Long ⊔ Double → DoubleType;  Date → DateType if every sampled value
  *   is midnight UTC else TimestampType;  ObjectId → StringType;
  *   Binary → BinaryType;  irreconcilable scalars → StringType (the
  *   value is re-rendered as JSON text, the reference's VARCHAR
  *   fallback).
  *
  * Scale: inference reads only `sampleSize` docs from the head of the
  * collection on the driver — O(sample), never O(data). At 100 TB the
  * scan itself stays schema-fixed; per-row divergence is handled by
  * schema_mode, not re-inference.
  */
object SchemaInference {
  import DocValue._

  /** Internal inferred type: Spark DataType + "all dates midnight so far"
    * + "only nulls seen so far" markers. */
  final case class Inferred(dt: DataType, allMidnight: Boolean = false,
      nullOnly: Boolean = false)

  def inferType(v: DocValue): Inferred = v match {
    case DNull          => Inferred(NullType, nullOnly = true)
    case DBool(_)       => Inferred(BooleanType)
    case DLong(_)       => Inferred(LongType)
    case DDouble(_)     => Inferred(DoubleType)
    case DString(_)     => Inferred(StringType)
    case DObjectId(_)   => Inferred(StringType)
    case DBinary(_)     => Inferred(BinaryType)
    case DTimestamp(us) => Inferred(TimestampType, allMidnight = ExtJson.isMidnightUtc(us))
    case DArray(items) =>
      val elem = items.map(inferType).reduceOption(unify)
        .getOrElse(Inferred(NullType, nullOnly = true))
      // keep NullType as the "no element seen yet" marker: an empty array
      // in one doc must not pin the element type — a later doc's elements
      // refine it (reference: empty arrays stay LIST(actual elem type),
      // test/sql/schema/array_items.test)
      Inferred(ArrayType(elem.dt, containsNull = true),
        allMidnight = elem.allMidnight)
    case DDoc(fields) =>
      Inferred(StructType(fields.map { case (k, fv) =>
        StructField(k, finalize0(inferType(fv)), nullable = true)
      }))
  }

  def unify(a: Inferred, b: Inferred): Inferred = {
    if (a.nullOnly) return b // Null refined by later concrete type
    if (b.nullOnly) return a
    (a.dt, b.dt) match {
      case (x, y) if x == y =>
        Inferred(x, allMidnight = a.allMidnight && b.allMidnight)
      case (LongType, DoubleType) | (DoubleType, LongType) => Inferred(DoubleType)
      case (ArrayType(_, _), ArrayType(_, _)) =>
        val ea = elemInferred(a); val eb = elemInferred(b)
        val e = unify(ea, eb)
        Inferred(ArrayType(e.dt, containsNull = true), allMidnight = e.allMidnight)
      case (sa: StructType, sb: StructType) =>
        // field-wise unification; fields absent on one side stay nullable
        val names = (sa.fieldNames ++ sb.fieldNames).distinct
        Inferred(StructType(names.map { n =>
          (sa.find(_.name == n), sb.find(_.name == n)) match {
            case (Some(fa), Some(fb)) =>
              StructField(n, finalize0(unify(Inferred(fa.dataType), Inferred(fb.dataType))),
                nullable = true)
            case (Some(fa), None) => fa.copy(nullable = true)
            case (None, Some(fb)) => fb.copy(nullable = true)
            case (None, None) => throw new IllegalStateException(n)
          }
        }))
      case _ => Inferred(StringType) // irreconcilable → VARCHAR fallback
    }
  }

  private def elemInferred(arr: Inferred): Inferred = arr.dt match {
    case ArrayType(e, _) =>
      // NullType element = the empty-array marker → refinable (nullOnly)
      Inferred(e, allMidnight = arr.allMidnight, nullOnly = e == NullType)
    case other => Inferred(other)
  }

  /** Resolve markers: never-seen-non-null → StringType (reference keeps
    * the column, typed as VARCHAR); timestamps stay TimestampType here —
    * the midnight→Date demotion happens at top level where the whole
    * sample is known. */
  private def finalize0(i: Inferred): DataType = i.dt match {
    case NullType => StringType
    case dt       => dt
  }

  /** Infer a flat relational schema from a doc sample.
    *
    * @param flatten nested documents become `parent_child` columns
    *                (reference flattening); when false a nested document
    *                becomes a JSON-text column (Document→VARCHAR rule).
    */
  def infer(sample: Seq[DDoc], flatten: Boolean = true): StructType = {
    // path → unified Inferred
    val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Inferred]
    def visit(prefix: Seq[String], v: DocValue): Unit = v match {
      case DDoc(fields) if flatten && (prefix.nonEmpty || true) =>
        fields.foreach { case (k, fv) =>
          fv match {
            case d: DDoc => visit(prefix :+ k, d)
            case other =>
              val p = prefix :+ k
              val t = inferType(other)
              acc(p) = acc.get(p).map(unify(_, t)).getOrElse(t)
          }
        }
      case other =>
        val t = inferType(other)
        acc(prefix) = acc.get(prefix).map(unify(_, t)).getOrElse(t)
    }
    def visitNoFlatten(d: DDoc): Unit = d.fields.foreach { case (k, fv) =>
      val t = fv match {
        case _: DDoc => Inferred(StringType) // Document → JSON VARCHAR
        case other   => inferType(other)
      }
      acc(Seq(k)) = acc.get(Seq(k)).map(unify(_, t)).getOrElse(t)
    }
    sample.foreach(d => if (flatten) visit(Nil, d) else visitNoFlatten(d))

    // resolve residual NullType markers (never-seen-non-null scalars,
    // always-empty arrays) to the VARCHAR fallback, recursively
    def clean(dt: DataType): DataType = dt match {
      case NullType => StringType
      case ArrayType(e, n) => ArrayType(clean(e), n)
      case StructType(fs) =>
        StructType(fs.map(f => f.copy(dataType = clean(f.dataType))))
      case other => other
    }
    val fields = acc.toSeq.map { case (path, inf) =>
      val dt = inf.dt match {
        case TimestampType if inf.allMidnight => DateType // midnight-UTC rule
        case other => clean(other)
      }
      StructField(path.mkString("_"), dt, nullable = true)
    }
    // Doc fields are case-sensitive but Spark resolves columns
    // case-insensitively by default, so case-variant fields (or a flatten
    // collision like `a_b` vs `a.b`) would make every column reference
    // ambiguous. Keep the first variant, as the reference does
    // (reference: test/sql/schema/case_variant_fields.test:1, issue #35).
    StructType(fields.distinctBy(_.name.toLowerCase))
  }
}
