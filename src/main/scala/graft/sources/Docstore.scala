package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.io.{BufferedInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** "docstore" DataSource V2 — the Spark-first re-expression of the
  * reference's collection scan (reference: src/mongo_table_function.cpp:1
  * `mongo_scan`). Collections are extended-JSON JSONL files (no Mongo
  * server in this environment); everything above the byte-reader — schema
  * inference, type mapping, flattening, schema modes, filter/projection/
  * limit pushdown — mirrors the reference's semantics.
  *
  * Options:
  *   path        file or directory of *.jsonl (or *.jsonl.gz — gzip
  *               collections decompress transparently; unsplittable, so
  *               each is one partition: ship many gz shards, not one)
  *   samplesize  schema-inference sample (default 100, like the reference)
  *   schemamode  permissive | dropmalformed | failfast
  *   flatten     true (default): nested docs → parent_child columns
  *   splitsize   target split bytes (default 128 MiB)
  *
  * Scale design: files are split into newline-aligned byte ranges (the
  * standard Hadoop text-input contract), so one 1 TB collection file
  * becomes ~8000 parallel partitions instead of one task; filters are
  * evaluated during the scan *before* row materialization downstream,
  * projection prunes unread doc paths, and LIMIT caps each reader. All
  * three pushdowns are visible in `explain()` like the reference's
  * `$match`/projection/`$limit` pipeline stages.
  */
class DocstoreSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "docstore"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocstoreTable.inferSchema(DocstoreOptions(options.asScala.toMap))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new DocstoreTable(schema, DocstoreOptions(properties.asScala.toMap))
}

/** Validated option bag for docstore scans/writes.
  *
  * Connection/secret option schema for a WIRE adapter (the surface a
  * [[DocstoreClient]] implementation backed by a real MongoDB driver
  * accepts — mirroring the reference's secret fields, reference
  * src/mongo_secrets.cpp:1 `BuildMongoConnectionString`):
  *
  *   host (default localhost), port (default 27017), user, password,
  *   database, authsource (→ `?authSource=`), srv (true → `mongodb+srv://`,
  *   port omitted, DNS decides), tls / ssl (→ `?tls=`), tlscafile
  *   (→ `?tlsCAFile=`), tlsallowinvalidcertificates.
  *
  * Validation, URI assembly (userinfo percent-encoding exactly as the
  * reference's `BuildMongoConnectionString`), and the redaction contract
  * — secret values (password, tlscafile) NEVER appear in `Table.name()`,
  * plan `description()`, error messages, or logs — are implemented and
  * specced in [[DocstoreSecrets]]; adapters must print only its
  * `describe`/`redactedConnectionString` forms. The JSONL file client
  * ignores this group (no server in this environment) and rejects
  * unknown options at attach time.
  */
final case class DocstoreOptions(raw: Map[String, String]) {
  private val m = raw.map { case (k, v) => k.toLowerCase -> v }
  def path: String = m.getOrElse("path", throw new IllegalArgumentException(
    "docstore: 'path' option required"))
  def sampleSize: Int = m.getOrElse("samplesize", "100").toInt
  def schemaMode: String = m.getOrElse("schemamode", "permissive").toLowerCase
  def flatten: Boolean = m.getOrElse("flatten", "true").toBoolean
  def splitSize: Long = m.getOrElse("splitsize", (128L * 1024 * 1024).toString).toLong
  require(Seq("permissive", "dropmalformed", "failfast").contains(schemaMode),
    s"docstore: bad schemamode '$schemaMode'")
}

object DocstoreTable {
  /** List data files for a path (file or directory of .jsonl). */
  def listFiles(opts: DocstoreOptions): Seq[(String, Long)] = {
    val conf = new Configuration()
    val p = new HPath(opts.path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory) fs.listStatus(p).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
      else Seq(st)
    files.map(s => (s.getPath.toString, s.getLen))
  }

  /** Byte-range splits for a file list. Compressed (`.gz`) collections
    * are unsplittable — one whole-file partition each, decompressed
    * transparently in [[LineRangeReader]]; plain files split on the
    * Hadoop text contract. */
  def planSplits(files: Seq[(String, Long)], split: Long): Seq[DocstorePartition] =
    files.flatMap { case (file, len) =>
      if (len == 0) Seq.empty
      else if (file.endsWith(".gz")) Seq(DocstorePartition(file, 0, len))
      else (0L until len by split).map { start =>
        DocstorePartition(file, start, math.min(split, len - start))
      }
    }

  def inferSchema(opts: DocstoreOptions): StructType =
    schemaAndPaths(opts)._1

  /** Schema + explicit per-column doc paths. A `__schema` document in the
    * sample (reference: src/mongo_schema_inference.cpp user-provided
    * `__schema` support) overrides inference: each field is either a type
    * string (`"BIGINT"`) or `{"path": "a.b", "type": "BIGINT"}` mapping a
    * column to a nested doc path. Without one, schema is inferred and
    * paths stay implicit (flattened `parent_child` resolution). */
  def schemaAndPaths(opts: DocstoreOptions): (StructType, Map[String, Array[String]]) = {
    val sample = sampleDocs(opts)
    sample.iterator.flatMap(_.map.get("__schema")).collectFirst {
      case d: DocValue.DDoc => d
    } match {
      case Some(schemaDoc) =>
        val fields = schemaDoc.fields.map {
          case (name, DocValue.DString(tpe)) =>
            (StructField(name, parseTypeName(name, tpe), nullable = true),
              name -> Array(name))
          case (name, spec: DocValue.DDoc) =>
            val tpe = spec.map.get("type") match {
              case Some(DocValue.DString(t)) => parseTypeName(name, t)
              case _ => throw new IllegalArgumentException(
                s"docstore __schema: column '$name' needs a string 'type'")
            }
            val path = spec.map.get("path") match {
              case Some(DocValue.DString(p)) => p.split('.')
              case None                      => Array(name)
              case Some(other) => throw new IllegalArgumentException(
                s"docstore __schema: column '$name' path must be a string, got $other")
            }
            (StructField(name, tpe, nullable = true), name -> path)
          case (name, other) => throw new IllegalArgumentException(
            s"docstore __schema: column '$name' must be a type string or " +
              s"{path, type} document, got $other")
        }
        (StructType(fields.map(_._1)), fields.map(_._2).toMap)
      case None =>
        (SchemaInference.infer(
          sample.filterNot(_.map.contains("__schema")), opts.flatten)._1,
          Map.empty)
    }
  }

  /** DuckDB-style type names (the reference's `columns` argument types)
    * → Spark types. */
  private def parseTypeName(col: String, t: String): DataType =
    t.trim.toUpperCase match {
      case "VARCHAR" | "STRING" | "TEXT" | "JSON" => StringType
      case "BIGINT" | "LONG" | "INTEGER" | "INT"  => LongType
      case "DOUBLE" | "FLOAT" | "DECIMAL"         => DoubleType
      case "BOOLEAN" | "BOOL"                     => BooleanType
      case "TIMESTAMP"                            => TimestampType
      case "DATE"                                 => DateType
      case "BLOB" | "BINARY"                      => BinaryType
      case other if other.endsWith("[]") =>
        ArrayType(parseTypeName(col, other.dropRight(2)), containsNull = true)
      case other => throw new IllegalArgumentException(
        s"docstore __schema: column '$col' has unsupported type '$other'")
    }

  /** Driver-side size estimate for `SupportsReportStatistics`: total data
    * bytes plus a row count extrapolated from the average UTF-8 byte size
    * of the first `samplesize` lines. At 100 TB this is one file listing
    * + one tiny read — the same cost the reference pays to sample for
    * schema inference — and it is what lets Catalyst pick a broadcast
    * join for small collections instead of defaulting DSv2 sources to
    * "unknown = huge". */
  /** Memo for sampled row-size stats, keyed by the collection's file-set
    * fingerprint. Catalyst may ask for statistics several times per
    * planning pass (and once per query on a reused table); the listing
    * stays fresh — one RPC — but the sample read is paid once per
    * distinct dataset state, not per call.
    */
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, (Long, Option[Long]))]()

  private def fileSig(files: Seq[(String, Long)]): Long = {
    var h = 0xcbf29ce484222325L
    files.foreach { case (name, len) =>
      h = (h ^ name.hashCode.toLong) * 0x100000001b3L
      h = (h ^ len) * 0x100000001b3L
    }
    h
  }

  def estimateStats(opts: DocstoreOptions): (Long, Option[Long]) = {
    val files = listFiles(opts)
    val sig = fileSig(files)
    val cached = statsCache.get(opts.path)
    if (cached != null && cached._1 == sig) return cached._2
    val totalBytes = files.map(_._2).sum
    val conf = new Configuration()
    var sampled = 0L
    var sampledBytes = 0L
    val it = files.iterator
    while (sampled < opts.sampleSize && it.hasNext) {
      val (file, len) = it.next()
      val reader = new LineRangeReader(file, 0, len, conf)
      try {
        var line = reader.next()
        while (sampled < opts.sampleSize && line != null) {
          if (line.nonEmpty) {
            sampled += 1
            sampledBytes += line.getBytes(StandardCharsets.UTF_8).length + 1L
          }
          line = if (sampled < opts.sampleSize) reader.next() else null
        }
      } finally reader.close()
    }
    val rows =
      if (sampled == 0 || sampledBytes == 0) None
      else Some(math.max(1L, math.round(
        totalBytes.toDouble * sampled / sampledBytes)))
    val result = (totalBytes, rows)
    statsCache.put(opts.path, (sig, result))
    result
  }

  def sampleDocs(opts: DocstoreOptions): Seq[DocValue.DDoc] = {
    val conf = new Configuration()
    val docs = Seq.newBuilder[DocValue.DDoc]
    var remaining = opts.sampleSize
    val it = listFiles(opts).iterator
    while (remaining > 0 && it.hasNext) {
      val (file, len) = it.next()
      val reader = new LineRangeReader(file, 0, len, conf)
      try {
        var line = reader.next()
        while (remaining > 0 && line != null) {
          if (line.nonEmpty) {
            try { docs += ExtJson.parse(line); remaining -= 1 }
            catch { case _: Exception => () } // malformed line: skip in sampling
          }
          line = if (remaining > 0) reader.next() else null
        }
      } finally reader.close()
    }
    docs.result()
  }
}

class DocstoreTable(schema0: StructType, opts: DocstoreOptions)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"docstore(${opts.path})"
  override def schema(): StructType = schema0
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocstoreScanBuilder(schema0, opts)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new DocstoreWriteBuilder(info.schema(), opts)
}

/** Pushdown surface — the reference's pipeline stages:
  * filters → `$match` (reference: src/mongo_filter_pushdown.cpp:1),
  * required columns → projection doc, limit → `$limit`
  * (reference: src/mongo_optimizer.cpp:1 LIMIT pushdown), and
  * COUNT/SUM/MIN/MAX with GROUP BY → `$group`
  * (reference: test/sql/query/groupby_pushdown.test,
  * count_pushdown.test). Aggregation push is PARTIAL: each partition
  * emits pre-aggregated rows (map-side combine inside the scan — no row
  * materialization for non-grouped columns), Spark merges. */
class DocstoreScanBuilder(fullSchema: StructType, opts: DocstoreOptions)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.{Expression => CExpr, NamedReference, SortOrder => CSortOrder, SortDirection, NullOrdering}
  import org.apache.spark.sql.connector.expressions.aggregate._

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limit: Int = -1
  private var topN: Option[TopNSpec] = None
  private var aggSpec: Option[AggSpec] = None

  /** TopN (`ORDER BY … LIMIT n`) — the reference pushes this to Mongo
    * (reference: src/mongo_optimizer.cpp:1 `ORDER BY _id LIMIT n`). Here
    * each split's reader keeps a bounded heap instead of emitting every
    * row; partial push, Spark merges the per-split top-n. */
  override def pushTopN(orders: Array[CSortOrder], n: Int): Boolean = {
    val keys = orders.toSeq.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          fullSchema.fields.find(_.name == nr.fieldNames()(0)).flatMap {
            f => f.dataType match {
              case LongType | DoubleType | StringType | TimestampType |
                  DateType | BooleanType =>
                Some(SortKey(f,
                  so.direction() == SortDirection.ASCENDING,
                  so.nullOrdering() == NullOrdering.NULLS_FIRST))
              case _ => None
            }
          }
        case _ => None
      }
    }
    if (keys.exists(_.isEmpty) || n <= 0) return false
    topN = Some(TopNSpec(keys.map(_.get), n))
    true
  }
  // isPartiallyPushed (shared by Limit + TopN): defined once below

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) = filters.partition(FilterEval.supports)
    pushed = supported
    residual // Spark re-evaluates these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep full-schema field order for deterministic output
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
  }

  override def pushLimit(l: Int): Boolean = { limit = l; true /* partial: per-partition */ }
  override def isPartiallyPushed: Boolean = true

  /** Partial push only: partitions return per-partition groups; Spark
    * does the final merge (complete push would be wrong with >1 split). */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    def fieldOf(e: CExpr): Option[StructField] = e match {
      case fr: NamedReference if fr.fieldNames().length == 1 =>
        fullSchema.fields.find(_.name == fr.fieldNames()(0))
      case _ => None
    }
    val groups = aggregation.groupByExpressions().toSeq.map(fieldOf)
    if (groups.exists(_.isEmpty)) return false
    val aggs = aggregation.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(AggOp("count_star", null))
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).map(f => AggOp("count", f))
      case m: Min => fieldOf(m.column).flatMap(f => f.dataType match {
        case LongType | DoubleType | StringType | TimestampType | DateType |
            BooleanType => Some(AggOp("min", f))
        case _ => None
      })
      case m: Max => fieldOf(m.column).flatMap(f => f.dataType match {
        case LongType | DoubleType | StringType | TimestampType | DateType |
            BooleanType => Some(AggOp("max", f))
        case _ => None
      })
      case s: Sum if !s.isDistinct => fieldOf(s.column).flatMap(f => f.dataType match {
        case LongType | DoubleType => Some(AggOp("sum", f))
        case _ => None
      })
      case _ => None
    }
    if (aggs.exists(_.isEmpty)) return false
    aggSpec = Some(AggSpec(groups.map(_.get), aggs.map(_.get)))
    true
  }

  // explicit per-column doc paths from a __schema document (if any);
  // resolved once on the driver, shipped to executors with the factory
  private lazy val explicitPaths: Map[String, Array[String]] =
    DocstoreTable.schemaAndPaths(opts)._2

  override def build(): Scan = aggSpec match {
    case Some(spec) =>
      new DocstoreAggScan(fullSchema, spec, pushed, opts, explicitPaths)
    case None =>
      new DocstoreScan(fullSchema, required, pushed, limit, opts, topN,
        explicitPaths)
  }
}

final case class SortKey(field: StructField, ascending: Boolean,
    nullsFirst: Boolean)
final case class TopNSpec(keys: Seq[SortKey], n: Int)

/** One pushed aggregate: op ∈ count_star|count|min|max|sum, field null
  * for count_star. */
final case class AggOp(op: String, field: StructField) {
  def resultType: DataType = op match {
    case "count_star" | "count" => LongType
    case _                      => field.dataType
  }
}
final case class AggSpec(groupBy: Seq[StructField], aggs: Seq[AggOp]) {
  /** Scan output: groupBy columns then aggregate columns (the DSv2
    * aggregate-pushdown contract). */
  def outputSchema: StructType = StructType(
    groupBy.map(f => StructField(f.name, f.dataType, nullable = true)) ++
      aggs.zipWithIndex.map { case (a, i) =>
        StructField(s"agg_$i(${a.op})", a.resultType, nullable = true) })
}

/** What both batch scans share: the pinned file snapshot, its splits,
  * and the size statistics Catalyst plans joins with. `reportsRows`:
  * whether the collection's row estimate describes the scan's output. */
abstract class DocstoreBatchScan(fullSchema: StructType,
    opts: DocstoreOptions, reportsRows: Boolean)
    extends Scan with Batch with SupportsReportStatistics {
  override def toBatch: Batch = this

  /** Collection size for Catalyst's join planning: data bytes scaled by
    * the projected-column fraction (the same heuristic Spark's own
    * FileScan uses), plus an extrapolated row count where it applies.
    * Without this a DSv2 source defaults to "unknown = never
    * broadcast". */
  override def estimateStatistics(): Statistics = {
    val (totalBytes, rows) = DocstoreTable.estimateStats(opts)
    val frac =
      if (fullSchema.isEmpty) 1.0
      else math.max(1, readSchema().length).toDouble / fullSchema.length
    val size = math.max(1L, (totalBytes * frac).toLong)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        rows.filter(_ => reportsRows).map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  /** Snapshot isolation (the analog of the reference's per-query
    * transaction snapshot, reference src/mongo_transaction.cpp:1): the
    * file listing — name AND length — is pinned on first use for this
    * Scan's lifetime, so AQE re-planning, task retries, and speculative
    * re-execution inside one query all read the same input set even if a
    * concurrent append or `$merge` commits mid-query. A new query (new
    * Scan) sees the new state. */
  private lazy val snapshotFiles: Seq[(String, Long)] =
    DocstoreTable.listFiles(opts)

  override def planInputPartitions(): Array[InputPartition] =
    DocstoreTable.planSplits(snapshotFiles, opts.splitSize).toArray
}

class DocstoreAggScan(fullSchema: StructType, spec: AggSpec,
    filters: Array[Filter], opts: DocstoreOptions,
    explicitPaths: Map[String, Array[String]] = Map.empty)
    extends DocstoreBatchScan(fullSchema, opts, reportsRows = false) {
  // size stats are a conservative upper bound: pre-aggregated output
  // can't exceed the input bytes of the columns it reads
  override def readSchema(): StructType = spec.outputSchema
  override def description(): String =
    s"docstore ${opts.path} PushedFilters: [${filters.mkString(", ")}], " +
      s"PushedAggregates: [${spec.aggs.map(a => s"${a.op}(${Option(a.field).map(_.name).getOrElse("*")})").mkString(", ")}], " +
      s"PushedGroupBy: [${spec.groupBy.map(_.name).mkString(", ")}]"

  override def createReaderFactory(): PartitionReaderFactory =
    new DocstoreAggReaderFactory(fullSchema, spec, filters, opts.schemaMode,
      opts.flatten, explicitPaths)
}

class DocstoreAggReaderFactory(fullSchema: StructType, spec: AggSpec,
    filters: Array[Filter], schemaMode: String, flatten: Boolean,
    explicitPaths: Map[String, Array[String]] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new DocstoreAggReader(p.asInstanceOf[DocstorePartition], fullSchema, spec,
      filters, schemaMode, flatten, explicitPaths)
}

/** Per-partition hash aggregation inside the reader — the `$group`
  * analog. State ∝ distinct groups in this split (bounded like any
  * map-side combine); docs stream through without materializing
  * non-aggregated columns. */
class DocstoreAggReader(p: DocstorePartition, fullSchema: StructType,
    spec: AggSpec, filters: Array[Filter], schemaMode: String, flatten: Boolean,
    explicitPaths: Map[String, Array[String]] = Map.empty)
    extends PartitionReader[InternalRow] {

  // read only the columns aggregation + filters touch
  private val filterCols = filters.flatMap(FilterEval.references).distinct
  private val neededNames = (spec.groupBy.map(_.name) ++
    spec.aggs.flatMap(a => Option(a.field).map(_.name)) ++ filterCols).distinct
  private val evalSchema =
    if (schemaMode == "permissive")
      StructType(fullSchema.fields.filter(f => neededNames.contains(f.name)))
    else fullSchema
  private val groupOrds = spec.groupBy.map(f => evalSchema.fieldIndex(f.name)).toArray
  private val aggOrds = spec.aggs.map(a =>
    if (a.field == null) -1 else evalSchema.fieldIndex(a.field.name)).toArray
  private val conv = new DocRowConverter(evalSchema, schemaMode, flatten,
    explicitPaths)
  private val eval = new FilterEval(evalSchema, filters)

  private var iter: Iterator[InternalRow] = _
  private var current: InternalRow = _

  private def accumulate(): Iterator[InternalRow] = {
    val lines = new LineRangeReader(p.file, p.start, p.length, new Configuration())
    val groups = new java.util.HashMap[Seq[Any], Array[Any]]()
    try {
      var line = lines.next()
      while (line != null) {
        if (line.nonEmpty) {
          conv.convert(line) match {
            case Some(row) if eval.matches(row) =>
              val key: Seq[Any] = groupOrds.map(o =>
                if (row.isNullAt(o)) null else row.get(o, evalSchema(o).dataType)).toSeq
              var accs = groups.get(key)
              if (accs == null) {
                accs = new Array[Any](spec.aggs.length)
                var i = 0
                while (i < accs.length) {
                  accs(i) = if (spec.aggs(i).op.startsWith("count")) 0L else null
                  i += 1
                }
                groups.put(key, accs)
              }
              var i = 0
              while (i < spec.aggs.length) {
                val a = spec.aggs(i)
                val ord = aggOrds(i)
                a.op match {
                  case "count_star" => accs(i) = accs(i).asInstanceOf[Long] + 1L
                  case "count" =>
                    if (!row.isNullAt(ord)) accs(i) = accs(i).asInstanceOf[Long] + 1L
                  case "sum" =>
                    if (!row.isNullAt(ord)) {
                      val v = row.get(ord, a.field.dataType)
                      accs(i) = (accs(i), v) match {
                        case (null, x)              => x
                        case (s: Long, x: Long)     => s + x
                        case (s: Double, x: Double) => s + x
                        case (s, _)                 => s
                      }
                    }
                  case "min" | "max" =>
                    if (!row.isNullAt(ord)) {
                      val v = row.get(ord, a.field.dataType)
                      accs(i) =
                        if (accs(i) == null) v
                        else if (RowOrdering.compareValues(v, accs(i)) < 0 ==
                          (a.op == "min")) v
                        else accs(i)
                    }
                }
                i += 1
              }
            case _ => ()
          }
        }
        line = lines.next()
      }
    } finally lines.close()
    // global aggregation: always emit one row so COUNT over an empty
    // split still contributes its zero
    if (groups.isEmpty && spec.groupBy.isEmpty) {
      val zero = new Array[Any](spec.aggs.length)
      var i = 0
      while (i < zero.length) {
        zero(i) = if (spec.aggs(i).op.startsWith("count")) 0L else null
        i += 1
      }
      groups.put(Seq.empty, zero)
    }
    import scala.jdk.CollectionConverters._
    groups.entrySet().iterator().asScala.map { e =>
      val out = new GenericInternalRow(spec.groupBy.length + spec.aggs.length)
      var i = 0
      while (i < spec.groupBy.length) { out.update(i, e.getKey.apply(i)); i += 1 }
      var j = 0
      while (j < spec.aggs.length) {
        out.update(spec.groupBy.length + j, e.getValue()(j)); j += 1
      }
      out
    }
  }

  override def next(): Boolean = {
    if (iter == null) iter = accumulate()
    if (iter.hasNext) { current = iter.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

class DocstoreScan(fullSchema: StructType, required: StructType,
    filters: Array[Filter], limit: Int, opts: DocstoreOptions,
    topN: Option[TopNSpec] = None,
    explicitPaths: Map[String, Array[String]] = Map.empty)
    extends DocstoreBatchScan(fullSchema, opts, reportsRows = true)
    with SupportsRuntimeFiltering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  // Runtime filters Spark injects after planning (the DSv2 dynamic-
  // partition-pruning hook): a selective join side becomes an IN filter
  // evaluated inside every reader, so a 100 TB scan joined to a pruned
  // dimension reads-and-drops instead of shuffling the full fact side.
  private var runtimeFilters: Array[Filter] = Array.empty

  // Spark resolves these against the scan's OUTPUT, so only columns that
  // survived projection pruning may be listed.
  override def filterAttributes(): Array[NamedReference] =
    required.fieldNames.map(Expressions.column)

  override def filter(dynamic: Array[Filter]): Unit =
    runtimeFilters = dynamic.filter(FilterEval.supports)

  override def readSchema(): StructType = required
  override def description(): String =
    s"docstore ${opts.path} PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}" +
      (if (limit >= 0) s", PushedLimit: $limit" else "") +
      topN.map(t => s", PushedTopN: ORDER BY [${t.keys.map(k =>
        s"${k.field.name} ${if (k.ascending) "ASC" else "DESC"}").mkString(", ")}] LIMIT ${t.n}")
        .getOrElse("") +
      (if (runtimeFilters.nonEmpty)
        s", RuntimeFilters: [${runtimeFilters.mkString(", ")}]" else "")

  override def createReaderFactory(): PartitionReaderFactory =
    new DocstoreReaderFactory(fullSchema, required, filters ++ runtimeFilters,
      limit, opts.schemaMode, opts.flatten, topN, explicitPaths)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new DocstoreMicroBatchStream(fullSchema, required, filters, opts,
      explicitPaths)
}

/** Streaming reads over a document collection directory — the
  * change-stream analog the reference cannot offer (DuckDB scans a
  * snapshot): new collection files appearing under `path` become the next
  * micro-batch. Files must be immutable once visible and named so the
  * sort order only grows at the tail (the standard Spark file-source
  * contract — `part-00001…`, timestamped dumps, etc.). The offset is just
  * "first N files of the sorted listing", so checkpoints are O(1), not a
  * seen-file log. Filter/projection pushdown applies to streaming scans
  * exactly as to batch ones.
  */
class DocstoreMicroBatchStream(fullSchema: StructType, required: StructType,
    filters: Array[Filter], opts: DocstoreOptions,
    explicitPaths: Map[String, Array[String]] = Map.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def sortedFiles(): Seq[(String, Long)] =
    DocstoreTable.listFiles(opts).sortBy(_._1)

  override def initialOffset(): Offset = FileCountOffset(0)
  override def latestOffset(): Offset = {
    val files = sortedFiles()
    FileCountOffset(files.size, files.lastOption.map(_._1).getOrElse(""))
  }
  override def deserializeOffset(json: String): Offset =
    FileCountOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset]
    val e = end.asInstanceOf[FileCountOffset]
    val files = sortedFiles()
    // The tail-only-growth contract is VALIDATED, not assumed: the offset
    // remembers the filename at its boundary; if a file was deleted,
    // renamed, or a new file sorted before the tail, indices shifted and
    // continuing would silently skip or re-read data — fail instead.
    def boundaryOk(o: FileCountOffset): Boolean =
      o.n == 0 || o.last.isEmpty ||
        (files.size >= o.n && files(o.n - 1)._1 == o.last)
    if (!boundaryOk(s) || !boundaryOk(e))
      throw new IllegalStateException(
        "docstore stream: the collection listing changed beneath the " +
        s"checkpoint (offset ${s.json()} -> ${e.json()}, now " +
        s"${files.size} files). Collection files must be immutable and " +
        "only append in sort order; restart the stream from a fresh " +
        "checkpoint to re-read.")
    val split = opts.splitSize
    DocstoreTable.planSplits(files.slice(s.n, e.n), split).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DocstoreReaderFactory(fullSchema, required, filters, -1,
      opts.schemaMode, opts.flatten, None, explicitPaths)
}

/** Micro-batch offset: first `n` files of the sorted listing, plus the
  * name of file n−1 so a shifted listing is DETECTED at planning time
  * instead of silently mis-slicing. Parses the legacy bare-int form for
  * checkpoints written before the filename was added.
  */
final case class FileCountOffset(n: Int, last: String = "")
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val esc = last.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }
    s"""{"n":$n,"last":"$esc"}"""
  }
}

object FileCountOffset {
  def parse(s: String): FileCountOffset = {
    val t = s.trim
    if (t.startsWith("{")) {
      val n = """"n"\s*:\s*(\d+)""".r.findFirstMatchIn(t)
        .map(_.group(1).toInt).getOrElse(0)
      val last = """"last"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(t)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
        .getOrElse("")
      FileCountOffset(n, last)
    } else FileCountOffset(t.toInt)
  }
}

final case class DocstorePartition(file: String, start: Long, length: Long)
  extends InputPartition

class DocstoreReaderFactory(fullSchema: StructType, required: StructType,
    filters: Array[Filter], limit: Int, schemaMode: String, flatten: Boolean,
    topN: Option[TopNSpec] = None,
    explicitPaths: Map[String, Array[String]] = Map.empty)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val dp = p.asInstanceOf[DocstorePartition]
    new DocstoreReader(dp, fullSchema, required, filters, limit, schemaMode,
      flatten, topN, explicitPaths)
  }
}

class DocstoreReader(p: DocstorePartition, fullSchema: StructType,
    required: StructType, filters: Array[Filter], limit: Int,
    schemaMode: String, flatten: Boolean, topN: Option[TopNSpec] = None,
    explicitPaths: Map[String, Array[String]] = Map.empty)
    extends PartitionReader[InternalRow] {

  // Filters may reference columns outside the projection (SELECT a WHERE
  // b>0): evaluate on an eval-schema = required ∪ filter columns (∪ sort
  // columns for TopN), then project down to `required` ordinals.
  // dropmalformed/failfast must validate EVERY column regardless of
  // pruning — row-level semantics (a pruned-away mismatch still poisons
  // the row, like the reference's schema_mode) — so they convert the
  // full schema.
  private val filterCols = filters.flatMap(FilterEval.references).distinct
  private val sortCols = topN.toSeq.flatMap(_.keys.map(_.field.name))
  private val evalSchema =
    if (schemaMode == "permissive")
      StructType(fullSchema.fields.filter(f =>
        required.fieldNames.contains(f.name) || filterCols.contains(f.name) ||
          sortCols.contains(f.name)))
    else fullSchema
  private val outOrdinals = required.fieldNames.map(evalSchema.fieldIndex)
  private val conv = new DocRowConverter(evalSchema, schemaMode, flatten,
    explicitPaths)
  private val eval = new FilterEval(evalSchema, filters)

  private val lines = new LineRangeReader(p.file, p.start, p.length, new Configuration())
  private var current: InternalRow = _
  private var emitted = 0
  private var topNIter: Iterator[InternalRow] = _

  private def project(row: InternalRow): InternalRow =
    if (outOrdinals.length == evalSchema.length &&
      outOrdinals.zipWithIndex.forall(t => t._1 == t._2)) row
    else {
      val out = new GenericInternalRow(outOrdinals.length)
      var i = 0
      while (i < outOrdinals.length) {
        out.update(i, row.get(outOrdinals(i), evalSchema(outOrdinals(i)).dataType))
        i += 1
      }
      out
    }

  override def next(): Boolean = topN match {
    case Some(spec) => nextTopN(spec)
    case None       => nextStreaming()
  }

  private def nextStreaming(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    var line = lines.next()
    while (line != null) {
      if (line.nonEmpty) {
        conv.convert(line) match {
          case Some(row) if eval.matches(row) =>
            current = project(row)
            emitted += 1
            return true
          case _ => () // filtered out, or dropped malformed
        }
      }
      line = lines.next()
    }
    false
  }

  /** Bounded heap of the split's best n rows — the per-split half of the
    * pushed `ORDER BY … LIMIT n` (memory O(n), not O(split rows)). */
  private def nextTopN(spec: TopNSpec): Boolean = {
    if (topNIter == null) {
      val cmp = new RowOrdering(spec.keys, evalSchema)
      // JDK PriorityQueue as a max-heap of the current worst-of-best
      val heap = new java.util.PriorityQueue[InternalRow](spec.n + 1, cmp.reversed())
      var line = lines.next()
      while (line != null) {
        if (line.nonEmpty) {
          conv.convert(line) match {
            case Some(row) if eval.matches(row) =>
              heap.add(row.copy())
              if (heap.size() > spec.n) heap.poll()
            case _ => ()
          }
        }
        line = lines.next()
      }
      val buf = new Array[InternalRow](heap.size())
      var i = buf.length - 1
      while (i >= 0) { buf(i) = heap.poll(); i -= 1 }
      topNIter = buf.iterator.map(project)
    }
    if (topNIter.hasNext) { current = topNIter.next(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}

/** Total ordering over eval-schema rows for pushed TopN (direction +
  * null ordering per key; ties stay — Spark's final TakeOrdered breaks
  * them exactly as an un-pushed plan would). */
class RowOrdering(keys: Seq[SortKey], schema: StructType)
    extends java.util.Comparator[InternalRow] {
  private val ords = keys.map(k => schema.fieldIndex(k.field.name)).toArray
  override def compare(a: InternalRow, b: InternalRow): Int = {
    var i = 0
    while (i < ords.length) {
      val k = keys(i); val o = ords(i)
      val an = a.isNullAt(o); val bn = b.isNullAt(o)
      val c =
        if (an && bn) 0
        else if (an) { if (k.nullsFirst) -1 else 1 }
        else if (bn) { if (k.nullsFirst) 1 else -1 }
        else {
          val raw = RowOrdering.compareValues(
            a.get(o, k.field.dataType), b.get(o, k.field.dataType))
          if (k.ascending) raw else -raw
        }
      if (c != 0) return c
      i += 1
    }
    0
  }
}

object RowOrdering {
  /** Non-null value order shared by pushed TopN and the pushed MIN/MAX
    * aggregates; unsupported type pairs compare equal. */
  def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long)             => java.lang.Long.compare(x, y)
    case (x: Double, y: Double)         => java.lang.Double.compare(x, y)
    case (x: Int, y: Int)               => Integer.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
    case (x: Boolean, y: Boolean)       => java.lang.Boolean.compare(x, y)
    case _                              => 0
  }
}

/** Extended-JSON line → InternalRow under a flat schema, honoring the
  * reference's schema modes (reference: src/mongo_schema_inference.cpp
  * schema_mode): permissive → mismatched value becomes NULL;
  * dropmalformed → row skipped; failfast → throw.
  *
  * Hot path: works directly on Jackson's parsed tree (no intermediate
  * value model — that costs ~40% of scan throughput at 100k docs/s), and
  * flattened-column path candidates (`user_id` → `user_id` | `user`.`id`)
  * are precomputed once, not re-derived per row.
  */
class DocRowConverter(schema: StructType, schemaMode: String, flatten: Boolean,
    explicitPaths: Map[String, Array[String]] = Map.empty) {
  import com.fasterxml.jackson.databind.JsonNode
  import com.fasterxml.jackson.databind.node.ObjectNode

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** All ways to read column `name`: the literal field first, then each
    * '_' split as a nested-doc path, left-to-right, recursively. The split
    * space is 2^k for k underscores, so enumeration is lazy and capped —
    * a pathological 30-underscore name costs 256 candidates, not 2^30.
    * Collections needing deeper disambiguation carry a `__schema` path
    * mapping, which bypasses this entirely. */
  private def candidatePaths(name: String): List[List[String]] = {
    def go(s: String): LazyList[List[String]] =
      List(s) #:: (for {
        idx <- (1 until math.max(s.length - 1, 1)).to(LazyList)
          if s.charAt(idx) == '_'
        rest <- go(s.substring(idx + 1))
      } yield s.substring(0, idx) :: rest)
    go(name).take(256).toList
  }

  private val paths: Array[Array[Array[String]]] =
    schema.fieldNames.map { n =>
      explicitPaths.get(n) match {
        case Some(p) => Array(p) // __schema path mapping wins
        case None =>
          val cands = if (flatten) candidatePaths(n) else List(List(n))
          cands.map(_.toArray).toArray
      }
    }

  private def resolve(doc: ObjectNode, col: Int): JsonNode = {
    val cands = paths(col)
    // literal field name wins, even if explicitly null (single-segment
    // first candidate only — an explicit __schema path walks below)
    if (cands(0).length == 1) {
      val direct = doc.get(cands(0)(0))
      if (direct != null) return direct
    } else {
      var node: JsonNode = doc
      var i = 0
      while (node != null && i < cands(0).length) {
        node = if (node.isObject) node.get(cands(0)(i)) else null
        i += 1
      }
      if (node != null) return node
    }
    var c = 1
    while (c < cands.length) {
      val path = cands(c)
      var node: JsonNode = doc
      var i = 0
      while (node != null && i < path.length) {
        node = if (node.isObject) node.get(path(i)) else null
        i += 1
      }
      if (node != null && !node.isNull) return node
      c += 1
    }
    null
  }

  def convert(line: String): Option[InternalRow] = {
    val node =
      try mapper.readTree(line)
      catch {
        case e: Exception => return malformed(s"unparseable document: ${e.getMessage}")
      }
    node match {
      case doc: ObjectNode if doc.has("__schema") =>
        None // schema-definition document, not data
      case doc: ObjectNode =>
        val row = new GenericInternalRow(schema.length)
        var i = 0
        while (i < schema.length) {
          toInternal(resolve(doc, i), schema(i).dataType) match {
            case Right(x) => row.update(i, x)
            case Left(msg) =>
              schemaMode match {
                case "permissive"    => row.update(i, null)
                case "dropmalformed" => return None
                case "failfast" =>
                  throw new IllegalStateException(
                    s"docstore failfast: column '${schema(i).name}': $msg in: $line")
              }
          }
          i += 1
        }
        Some(row)
      case _ => malformed(s"not a document: $line")
    }
  }

  private def malformed(msg: String): Option[InternalRow] = schemaMode match {
    case "failfast" => throw new IllegalStateException(s"docstore failfast: $msg")
    case _          => None // permissive + dropmalformed both drop unparseable lines
  }

  /** Single-key `$wrapper` object → its extended-JSON tag, else null. */
  private def extTag(o: ObjectNode): String =
    if (o.size() == 1) {
      val k = o.fieldNames().next()
      if (k.charAt(0) == '$') k else null
    } else null

  /** JsonNode → Catalyst internal value for the target type; Left = type
    * mismatch. Numeric widening Long→Double allowed (Int32/Int64/Double
    * unify in the reference's lattice); StringType accepts anything via
    * the JSON-text VARCHAR fallback. */
  def toInternal(n: JsonNode, dt: DataType): Either[String, Any] = {
    if (n == null || n.isNull) return Right(null)
    dt match {
      case StringType =>
        if (n.isTextual) return Right(UTF8String.fromString(n.textValue()))
        if (n.isObject) {
          val o = n.asInstanceOf[ObjectNode]
          extTag(o) match {
            case "$oid" => return Right(UTF8String.fromString(o.get("$oid").asText()))
            case _      => () // wrapper or plain doc → JSON VARCHAR fallback
          }
        }
        Right(UTF8String.fromString(n.toString))
      case LongType =>
        if (n.isIntegralNumber) Right(n.longValue())
        else wrapped(n) match {
          case ("$numberInt" | "$numberLong", v) => Right(v.asText().toLong)
          case _ => Left(s"cannot convert $n to bigint")
        }
      case DoubleType =>
        if (n.isNumber) Right(n.doubleValue())
        else wrapped(n) match {
          case ("$numberDouble" | "$numberDecimal", v) => Right(v.asText().toDouble)
          case ("$numberInt" | "$numberLong", v)       => Right(v.asText().toDouble)
          case _ => Left(s"cannot convert $n to double")
        }
      case BooleanType =>
        if (n.isBoolean) Right(n.booleanValue()) else Left(s"cannot convert $n to boolean")
      case TimestampType =>
        dateMicros(n) match {
          case Some(us) => Right(us)
          case None     => Left(s"cannot convert $n to timestamp")
        }
      case DateType =>
        dateMicros(n) match {
          case Some(us) if ExtJson.isMidnightUtc(us) => Right(ExtJson.epochDay(us))
          case _ => Left(s"cannot convert $n to date")
        }
      case BinaryType =>
        wrapped(n) match {
          case ("$binary", v) =>
            val b64 = if (v.isObject && v.has("base64")) v.get("base64").asText()
                      else v.asText()
            Right(java.util.Base64.getDecoder.decode(b64))
          case _ => Left(s"cannot convert $n to binary")
        }
      case ArrayType(et, _) =>
        if (!n.isArray) return Left(s"cannot convert $n to array")
        val out = new Array[Any](n.size())
        var i = 0
        while (i < out.length) {
          toInternal(n.get(i), et) match {
            case Right(x) => out(i) = x
            case left     => return left
          }
          i += 1
        }
        Right(new GenericArrayData(out))
      case st: StructType =>
        if (!n.isObject) return Left(s"cannot convert $n to struct")
        val o = n.asInstanceOf[ObjectNode]
        val out = new GenericInternalRow(st.length)
        var i = 0
        while (i < st.length) {
          toInternal(o.get(st(i).name), st(i).dataType) match {
            case Right(x) => out.update(i, x)
            case left     => return left
          }
          i += 1
        }
        Right(out)
      case other => Left(s"unsupported read type ${other.simpleString}")
    }
  }

  private def wrapped(n: JsonNode): (String, JsonNode) = n match {
    case o: ObjectNode =>
      val tag = extTag(o)
      if (tag != null) (tag, o.get(tag)) else (null, null)
    case _ => (null, null)
  }

  private val isoFmt = java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME

  /** `{"$date": ...}` → micros since epoch. */
  private def dateMicros(n: JsonNode): Option[Long] = wrapped(n) match {
    case ("$date", v) =>
      if (v.isTextual) {
        val i = java.time.Instant.from(isoFmt.parse(v.textValue()))
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      } else if (v.isObject && v.has("$numberLong"))
        Some(v.get("$numberLong").asText().toLong * 1000L)
      else if (v.isNumber) Some(v.longValue() * 1000L)
      else None
    case _ => None
  }
}

/** Byte-range JSONL reader with the standard Hadoop text-split contract:
  * a split starting mid-file skips to the first full line; the line that
  * straddles the split end belongs to the split it started in. Byte-level
  * (UTF-8 decoded per line), so multi-byte chars never break offsets. */
class LineRangeReader(file: String, start: Long, length: Long, conf: Configuration) {
  private val fs: FileSystem = new HPath(file).getFileSystem(conf)
  // .gz collections decompress transparently; they are unsplittable, so
  // the whole file is one range and `end` bounds DECOMPRESSED bytes
  private val gzipped = file.endsWith(".gz")
  private val in: InputStream = {
    val s = fs.open(new HPath(file))
    if (gzipped) {
      require(start == 0, s"compressed collection is unsplittable: $file")
      new java.util.zip.GZIPInputStream(s, 1 << 16)
    } else {
      if (start > 0) s.seek(start)
      s
    }
  }
  private var pos: Long = start // position of chunk(lo) in the file
  private val end: Long = if (gzipped) Long.MaxValue else start + length
  private var eof = false

  // chunked scan: refill `chunk`, memchr-style '\n' search — a per-byte
  // InputStream.read() loop costs more than the JSON parse at scan speed
  private val chunk = new Array[Byte](1 << 16)
  private var lo = 0 // next unconsumed byte in chunk
  private var hi = 0 // valid bytes in chunk
  private val pending = new java.io.ByteArrayOutputStream(1 << 10)

  if (start > 0) skipPartialLine() // first (partial) line belongs to prev split

  private def refill(): Boolean = {
    pos += lo
    lo = 0
    hi = in.read(chunk)
    if (hi < 0) { hi = 0; eof = true; false } else true
  }

  private def skipPartialLine(): Unit = {
    while (true) {
      if (lo >= hi && !refill()) return
      var i = lo
      while (i < hi && chunk(i) != '\n') i += 1
      if (i < hi) { lo = i + 1; return }
      lo = hi
    }
  }

  /** Next full line (without newline), or null when the range is done. */
  def next(): String = {
    // a line belongs to this split iff it STARTS at or before `end`
    if (eof && lo >= hi) return null
    if (pos + lo > end) return null
    pending.reset()
    while (true) {
      if (lo >= hi && !refill()) {
        if (pending.size() == 0) return null
        return finish()
      }
      var i = lo
      while (i < hi && chunk(i) != '\n') i += 1
      if (i < hi) {
        pending.write(chunk, lo, i - lo)
        lo = i + 1
        return finish()
      } else {
        pending.write(chunk, lo, hi - lo)
        lo = hi
      }
    }
    null // unreachable
  }

  private def finish(): String = {
    val bytes = pending.toByteArray
    // strip trailing \r for CRLF files
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
            else bytes.length
    new String(bytes, 0, n, StandardCharsets.UTF_8)
  }

  def close(): Unit = in.close()
}
