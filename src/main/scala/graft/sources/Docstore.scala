package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.io.InputStream
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
  * becomes ~8000 parallel partitions instead of one task; projection
  * prunes unread doc paths, and LIMIT caps each reader. All pushdowns are
  * visible in `explain()` like the reference's `$match`/projection/
  * `$limit` pipeline stages.
  *
  * One reader serves every scan, batch and streaming: each split's lines
  * convert to rows and pass the pushed filters, which run as Catalyst's
  * own generated predicate (see [[DocstoreFilters]]), before a row is
  * emitted. The rows then leave as they are (with the LIMIT), through a
  * bounded TopN heap ordered by Catalyst's `RowOrdering`, or into the
  * in-reader `$group` hash aggregate, whose MIN/MAX compare with
  * Catalyst's interpreted ordering of the column type.
  *
  * Hadoop configuration: the active session's (`DocstoreTable.hadoopConf`)
  * for every listing, sample, commit and catalog call; each scan and
  * write broadcasts it once to its tasks.
  */
class DocstoreSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "docstore"
  override def supportsExternalMetadata(): Boolean = true

  // one provider instance serves a load's inferSchema and getTable
  private var inferred: (StructType, DocstoreSample) = _

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    inferred = DocstoreTable.inferred(DocstoreOptions(options.asScala.toMap))
    inferred._1
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = DocstoreOptions(properties.asScala.toMap)
    new DocstoreTable(schema, opts, // a user-supplied schema samples for the paths alone
      if (inferred != null && (inferred._1 eq schema)) inferred._2 else DocstoreTable.sample(opts))
  }
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

  // The one value validator of every entry point (reader, writer, ATTACH):
  // a bad value fails here, naming the option — zero and overflow
  // included (splitsize 0 would step-by-0 in the planner)
  private def positive(k: String, max: Long): Unit = m.get(k).foreach { v =>
    val ok = try { val n = v.toLong; n > 0 && n <= max }
             catch { case _: NumberFormatException => false }
    require(ok, s"docstore: $k must be a positive integer, got '$v'")
  }
  positive("samplesize", Int.MaxValue) // parsed as Int downstream
  positive("splitsize", Long.MaxValue)
  m.get("flatten").foreach(v => require(
    Seq("true", "false").contains(v.toLowerCase),
    s"docstore: flatten must be true or false, got '$v'"))
  require(Seq("permissive", "dropmalformed", "failfast").contains(schemaMode),
    s"docstore: bad schemamode '${m("schemamode")}' " +
      "(permissive | dropmalformed | failfast)")
}

object DocstoreTable {
  /** The Hadoop conf of docstore I/O: the active session's, as Spark's own
    * file sources read it; outside any session (a catalog client driven
    * directly), the one Spark builds for this JVM's SparkConf. */
  def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(org.apache.spark.sql.graftshim.defaultHadoopConf())

  def fileSystem(path: String): FileSystem =
    new HPath(path).getFileSystem(hadoopConf())

  /** [[hadoopConf]] shipped to the tasks of one scan or write. */
  def broadcastConf(): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf()))

  /** A collection data file: neither hidden (`.`, e.g. the sink's
    * in-progress temps) nor bookkeeping (`_`). */
  def isDataFile(s: FileStatus): Boolean = {
    val name = s.getPath.getName
    s.isFile && !name.startsWith(".") && !name.startsWith("_")
  }

  /** List data files for a path (file or directory of .jsonl). */
  def listFiles(opts: DocstoreOptions): Seq[(String, Long)] = {
    val p = new HPath(opts.path)
    val fs = fileSystem(opts.path)
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory) fs.listStatus(p).toSeq.filter(isDataFile)
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

  def inferSchema(opts: DocstoreOptions): StructType = inferred(opts)._1

  /** A `__schema` document's columns and their doc paths (reference:
    * src/mongo_schema_inference.cpp user-provided `__schema` support):
    * each field is either a type string (`"BIGINT"`) or
    * `{"path": "a.b", "type": "BIGINT"}` mapping a column to a nested
    * doc path. */
  private def declaredSchema(schemaDoc: DocValue.DDoc)
      : (StructType, Map[String, Array[String]]) = {
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

  /** Total data bytes and extrapolated rows, as a scan reports them from
    * its snapshot and its load's sample ([[DocstoreBatchScan]]). */
  def estimateStats(opts: DocstoreOptions): (Long, Option[Long]) = {
    val files = listFiles(opts)
    val totalBytes = files.map(_._2).sum
    (totalBytes, read(opts, files)._2.rows(totalBytes))
  }

  /** The sample of a load that brings its own schema: nothing inferred. */
  def sample(opts: DocstoreOptions): DocstoreSample = read(opts, listFiles(opts))._2

  /** A load's sample and its schema: the `__schema` document's, else
    * inferred from the sampled documents, which are then let go. */
  def inferred(opts: DocstoreOptions): (StructType, DocstoreSample) = {
    val (docs, s) = read(opts, listFiles(opts))
    (s.declared.fold(SchemaInference.infer(
      docs.filterNot(_.map.contains("__schema")), opts.flatten)._1)(_._1), s)
  }

  /** Reads the non-empty lines, in file order, until `samplesize` of them
    * parse; malformed lines are skipped but count toward bytes per line. */
  private def read(opts: DocstoreOptions, files: Seq[(String, Long)])
      : (Seq[DocValue.DDoc], DocstoreSample) = {
    val conf = hadoopConf()
    val docs = Seq.newBuilder[DocValue.DDoc]
    var lines, bytes = 0L
    var remaining = opts.sampleSize
    val it = files.iterator
    while (remaining > 0 && it.hasNext) {
      val (file, len) = it.next()
      val reader = new LineRangeReader(file, 0, len, conf)
      try {
        var line = reader.next()
        while (remaining > 0 && line != null) {
          if (line.nonEmpty) {
            lines += 1
            bytes += line.getBytes(StandardCharsets.UTF_8).length + 1L
            try { docs += ExtJson.parse(line); remaining -= 1 }
            catch { case _: Exception => () } // malformed line: skip in sampling
          }
          line = if (remaining > 0) reader.next() else null
        }
      } finally reader.close()
    }
    val sampled = docs.result()
    val declared = sampled.iterator.flatMap(_.map.get("__schema"))
      .collectFirst { case d: DocValue.DDoc => declaredSchema(d) }
    (sampled, new DocstoreSample(declared, lines, bytes))
  }
}

/** What a load keeps of a collection's first `samplesize` parseable
  * documents: the schema and explicit doc paths of a `__schema` document
  * (else none: columns resolve by flattened names), and the bytes per
  * line that scale a listing's size to a row count. */
final class DocstoreSample(
    val declared: Option[(StructType, Map[String, Array[String]])],
    lines: Long, bytes: Long) {
  val paths: Map[String, Array[String]] = declared.fold(Map.empty[String, Array[String]])(_._2)

  def rows(totalBytes: Long): Option[Long] =
    if (lines == 0 || bytes == 0) None
    else Some(math.max(1L, math.round(totalBytes.toDouble * lines / bytes)))
}

/** `sample0` is read on the first scan, so a write never samples. */
class DocstoreTable(schema0: StructType, opts: DocstoreOptions,
    sample0: => DocstoreSample)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private lazy val sample = sample0
  override def name(): String = s"docstore(${opts.path})"
  override def schema(): StructType = schema0
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocstoreScanBuilder(schema0, opts, sample)
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
class DocstoreScanBuilder(fullSchema: StructType, opts: DocstoreOptions,
    sample: DocstoreSample)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.{Expression => CExpr, NamedReference, SortOrder => CSortOrder, SortDirection, NullOrdering}
  import org.apache.spark.sql.connector.expressions.aggregate._

  /** A builder over `fullSchema` outside a table: samples for the paths. */
  def this(fullSchema: StructType, opts: DocstoreOptions) =
    this(fullSchema, opts, DocstoreTable.sample(opts))

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
    val (supported, residual) =
      filters.partition(DocstoreFilters.toCatalyst(_, fullSchema).isDefined)
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

  override def build(): Scan = aggSpec match {
    case Some(spec) =>
      new DocstoreAggScan(fullSchema, spec, pushed, opts, sample)
    case None =>
      new DocstoreScan(fullSchema, required, pushed, limit, opts, topN, sample)
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
    opts: DocstoreOptions, sample: DocstoreSample, reportsRows: Boolean)
    extends Scan with Batch with SupportsReportStatistics {
  override def toBatch: Batch = this

  /** Collection size for Catalyst's join planning, computed once from
    * the pinned snapshot: data bytes scaled by the projected-column
    * fraction (the same heuristic Spark's own FileScan uses), plus the
    * row count the load's sample extrapolates, where it applies.
    * Without this a DSv2 source defaults to "unknown = never
    * broadcast". */
  private lazy val stats: Statistics = {
    val totalBytes = snapshotFiles.map(_._2).sum
    val rows = if (reportsRows) sample.rows(totalBytes) else None
    val frac =
      if (fullSchema.isEmpty) 1.0
      else math.max(1, readSchema().length).toDouble / fullSchema.length
    val size = math.max(1L, (totalBytes * frac).toLong)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }
  override def estimateStatistics(): Statistics = stats

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
    filters: Array[Filter], opts: DocstoreOptions, sample: DocstoreSample)
    extends DocstoreBatchScan(fullSchema, opts, sample, reportsRows = false) {
  // size stats are a conservative upper bound: pre-aggregated output
  // can't exceed the input bytes of the columns it reads
  override def readSchema(): StructType = spec.outputSchema
  override def description(): String =
    s"docstore ${opts.path} PushedFilters: [${filters.mkString(", ")}], " +
      s"PushedAggregates: [${spec.aggs.map(a => s"${a.op}(${Option(a.field).map(_.name).getOrElse("*")})").mkString(", ")}], " +
      s"PushedGroupBy: [${spec.groupBy.map(_.name).mkString(", ")}]"

  override def createReaderFactory(): PartitionReaderFactory =
    new DocstoreReaderFactory(fullSchema, new StructType(), filters,
      opts.schemaMode, opts.flatten, sample.paths, DocstoreTable.broadcastConf(),
      agg = Some(spec))
}

class DocstoreScan(fullSchema: StructType, required: StructType,
    filters: Array[Filter], limit: Int, opts: DocstoreOptions,
    topN: Option[TopNSpec], sample: DocstoreSample)
    extends DocstoreBatchScan(fullSchema, opts, sample, reportsRows = true)
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
    runtimeFilters = dynamic.filter(DocstoreFilters.toCatalyst(_, fullSchema).isDefined)

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
      opts.schemaMode, opts.flatten, sample.paths, DocstoreTable.broadcastConf(),
      limit, topN)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new DocstoreMicroBatchStream(fullSchema, required, filters, opts,
      sample.paths)
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

  override def initialOffset(): Offset = FileCountOffset(0)
  override def latestOffset(): Offset = {
    val files = DocstoreTable.listFiles(opts)
    FileCountOffset(files.size, files.lastOption.map(_._1).getOrElse(""))
  }
  override def deserializeOffset(json: String): Offset =
    FileCountOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset]
    val e = end.asInstanceOf[FileCountOffset]
    val files = DocstoreTable.listFiles(opts) // sorted by name
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
    new DocstoreReaderFactory(fullSchema, required, filters,
      opts.schemaMode, opts.flatten, explicitPaths, DocstoreTable.broadcastConf())
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

/** Pushed `sources.Filter` → Catalyst predicate — the reader's `$match`
  * (reference: src/mongo_filter_pushdown.cpp:1), over the same grammar
  * the reference pushes: comparisons, IS [NOT] NULL, IN, AND/OR/NOT, and
  * string prefix/suffix/contains (reference: src/mongo_expr_pushdown.cpp:1).
  * The one translation behind `pushFilters`, runtime filtering and the
  * reader, so a filter is pushed exactly when the reader can run it, and
  * it runs with Spark's own SQL semantics (three-valued logic, value
  * order) — Spark never re-checks a filter a source accepted.
  */
object DocstoreFilters {
  import org.apache.spark.sql.catalyst.{expressions => E}
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute

  /** `f` over `schema`'s row layout, or None when Spark must evaluate it
    * above the scan: every reference must be a top-level column and every
    * literal of that column's own type (a null literal takes the column's
    * type). */
  def toCatalyst(f: Filter, schema: StructType): Option[E.Expression] = {
    def col(name: String): Option[E.BoundReference] =
      (UnresolvedAttribute.parseAttributeName(name) match {
        case Seq(top) => Some(schema.fieldNames.indexOf(top)).filter(_ >= 0)
        case _        => None // a struct sub-field
      }).map(i => E.BoundReference(i, schema(i).dataType, nullable = true))
    def lit(c: E.BoundReference, v: Any): Option[E.Literal] =
      if (v == null) Some(E.Literal.create(null, c.dataType))
      else scala.util.Try(E.Literal(v)).toOption.filter(_.dataType == c.dataType)
    def cmp(a: String, v: Any)(mk: (E.Expression, E.Expression) => E.Expression) =
      for (c <- col(a); l <- lit(c, v)) yield mk(c, l)
    def both(l: Filter, r: Filter)(mk: (E.Expression, E.Expression) => E.Expression) =
      for (x <- toCatalyst(l, schema); y <- toCatalyst(r, schema)) yield mk(x, y)
    f match {
      case EqualTo(a, v)            => cmp(a, v)(E.EqualTo(_, _))
      case EqualNullSafe(a, v)      => cmp(a, v)(E.EqualNullSafe(_, _))
      case GreaterThan(a, v)        => cmp(a, v)(E.GreaterThan(_, _))
      case GreaterThanOrEqual(a, v) => cmp(a, v)(E.GreaterThanOrEqual(_, _))
      case LessThan(a, v)           => cmp(a, v)(E.LessThan(_, _))
      case LessThanOrEqual(a, v)    => cmp(a, v)(E.LessThanOrEqual(_, _))
      case StringStartsWith(a, p)   => cmp(a, p)(E.StartsWith(_, _))
      case StringEndsWith(a, p)     => cmp(a, p)(E.EndsWith(_, _))
      case StringContains(a, p)     => cmp(a, p)(E.Contains(_, _))
      case In(a, vs) => col(a).flatMap { c =>
        val ls = vs.toSeq.map(lit(c, _))
        if (ls.forall(_.isDefined)) Some(E.In(c, ls.flatten)) else None
      }
      case IsNull(a)    => col(a).map(E.IsNull(_))
      case IsNotNull(a) => col(a).map(E.IsNotNull(_))
      case And(l, r)    => both(l, r)(E.And(_, _))
      case Or(l, r)     => both(l, r)(E.Or(_, _))
      case Not(c)       => toCatalyst(c, schema).map(E.Not(_))
      case _            => None
    }
  }

  /** The conjunction of already-pushed filters over `schema`. */
  def conjunction(filters: Seq[Filter], schema: StructType): Option[E.Expression] =
    filters.map(f => toCatalyst(f, schema).getOrElse(throw new IllegalStateException(
      s"docstore: pushed filter $f does not translate"))).reduceOption(E.And(_, _))
}

/** The one reader factory of every docstore scan, batch and streaming.
  * Each split's reader yields the converted docs that pass the pushed
  * filters, consumed one of three ways: as rows of `required` (at most
  * `limit`, -1 = no cap), as the split's top `topN.n` rows, or as the
  * split's partial aggregates under `agg`. `conf`: the scan's broadcast
  * of the session's Hadoop conf. */
class DocstoreReaderFactory(fullSchema: StructType, val required: StructType,
    filters: Array[Filter], val schemaMode: String, val flatten: Boolean,
    val explicitPaths: Map[String, Array[String]],
    val conf: Broadcast[SerializableConfiguration], val limit: Int = -1,
    val topN: Option[TopNSpec] = None, val agg: Option[AggSpec] = None)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}

  // Filters may reference columns outside the projection (SELECT a WHERE
  // b>0): evaluate on an eval schema = required ∪ filter ∪ sort ∪
  // aggregate columns, then project down to `required` ordinals.
  // dropmalformed/failfast must validate EVERY column regardless of
  // pruning — row-level semantics (a pruned-away mismatch still poisons
  // the row, like the reference's schema_mode) — so they convert the
  // full schema.
  val evalSchema: StructType =
    if (schemaMode != "permissive") fullSchema
    else {
      val filterCols = DocstoreFilters.conjunction(filters.toSeq, fullSchema).toSeq
        .flatMap(_.collect { case b: BoundReference => fullSchema(b.ordinal).name })
      val needed = (required.fieldNames ++ filterCols ++
        topN.toSeq.flatMap(_.keys.map(_.field.name)) ++
        agg.toSeq.flatMap(a => a.groupBy ++ a.aggs.flatMap(x => Option(x.field)))
          .map(_.name)).toSet
      StructType(fullSchema.fields.filter(f => needed(f.name)))
    }
  /** Pushed filters over the eval schema, compiled in each reader. */
  val predicate: Option[Expression] =
    DocstoreFilters.conjunction(filters.toSeq, evalSchema)
  val outOrdinals: Array[Int] = required.fieldNames.map(evalSchema.fieldIndex)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new DocstoreReader(p.asInstanceOf[DocstorePartition], this)
}

class DocstoreReader(p: DocstorePartition, f: DocstoreReaderFactory)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.{expressions => E}
  import f.{evalSchema, outOrdinals}

  private val conv = new DocRowConverter(evalSchema, f.schemaMode, f.flatten,
    f.explicitPaths)
  // one compile per distinct predicate: Spark's codegen cache serves
  // every later split of the scan
  private val pred: E.BasePredicate = f.predicate.map { e =>
    val compiled = E.Predicate.create(e); compiled.initialize(0); compiled
  }.orNull
  private val lines = new LineRangeReader(p.file, p.start, p.length, f.conf.value.value)

  /** The split's docs that convert (malformed ones dropped per schema
    * mode) and pass the pushed filters. */
  private val docs: Iterator[InternalRow] = new Iterator[InternalRow] {
    private var pending: InternalRow = _
    override def hasNext: Boolean = {
      while (pending == null) {
        val line = lines.next()
        if (line == null) return false
        if (line.nonEmpty) conv.convert(line) match {
          case Some(row) if pred == null || pred.eval(row) => pending = row
          case _ => ()
        }
      }
      true
    }
    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of docstore split")
      val row = pending
      pending = null
      row
    }
  }

  private lazy val out: Iterator[InternalRow] = (f.agg, f.topN) match {
    case (Some(spec), _) => aggregate(spec)
    case (_, Some(spec)) => top(spec).iterator.map(project)
    case _ =>
      val rows = docs.map(project)
      if (f.limit >= 0) rows.take(f.limit) else rows
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (out.hasNext) { current = out.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = lines.close()

  private val projects = !outOrdinals.sameElements(evalSchema.indices)
  private def project(row: InternalRow): InternalRow =
    if (!projects) row
    else {
      val out = new GenericInternalRow(outOrdinals.length)
      var i = 0
      while (i < outOrdinals.length) {
        out.update(i, row.get(outOrdinals(i), evalSchema(outOrdinals(i)).dataType))
        i += 1
      }
      out
    }

  /** The split's best n rows, best first: the per-split half of the
    * pushed `ORDER BY … LIMIT n`, a bounded heap (memory O(n), not
    * O(split rows)). Ties at the cut stay arbitrary; Spark's final
    * TakeOrdered breaks them exactly as an un-pushed plan would. */
  private def top(spec: TopNSpec): Array[InternalRow] = {
    val ord = E.RowOrdering.create(spec.keys.map { k =>
      E.SortOrder(
        E.BoundReference(evalSchema.fieldIndex(k.field.name), k.field.dataType,
          nullable = true),
        if (k.ascending) E.Ascending else E.Descending,
        if (k.nullsFirst) E.NullsFirst else E.NullsLast, Seq.empty)
    }, Seq.empty)
    // max-heap: its head is the worst row kept so far
    val heap = new java.util.PriorityQueue[InternalRow](spec.n + 1, ord.reverse)
    docs.foreach { row =>
      if (heap.size < spec.n) heap.add(row)
      else if (ord.lt(row, heap.peek)) { heap.poll(); heap.add(row) }
    }
    val best = new Array[InternalRow](heap.size)
    var i = best.length - 1
    while (i >= 0) { best(i) = heap.poll(); i -= 1 }
    best
  }

  /** Per-split hash aggregation — the `$group` analog. State ∝ distinct
    * groups in this split (bounded like any map-side combine); Spark
    * merges the splits. A global aggregate emits its row even for an
    * empty split, so COUNT there still contributes its zero. */
  private def aggregate(spec: AggSpec): Iterator[InternalRow] = {
    val groupOrds = spec.groupBy.map(g => evalSchema.fieldIndex(g.name))
    val ops = spec.aggs.map(_.op).toArray
    val aggOrds = spec.aggs.map(a =>
      if (a.field == null) -1 else evalSchema.fieldIndex(a.field.name)).toArray
    val types = spec.aggs.map(a => Option(a.field).map(_.dataType).orNull).toArray
    val orderings = types.map(t =>
      if (t == null) null else TypeUtils.getInterpretedOrdering(t))
    def zero(): Array[Any] = ops.map(op => if (op.startsWith("count")) 0L else null)
    val groups = new java.util.HashMap[Seq[Any], Array[Any]]()
    docs.foreach { row =>
      val key: Seq[Any] = groupOrds.map(o =>
        if (row.isNullAt(o)) null else row.get(o, evalSchema(o).dataType))
      val accs = groups.computeIfAbsent(key, _ => zero())
      var i = 0
      while (i < accs.length) {
        val o = aggOrds(i)
        if (o < 0) accs(i) = accs(i).asInstanceOf[Long] + 1L // count(*)
        else if (!row.isNullAt(o)) {
          val v = row.get(o, types(i))
          val acc = accs(i)
          accs(i) = ops(i) match {
            case "count" => acc.asInstanceOf[Long] + 1L
            case "sum" => (acc, v) match {
              case (s: Long, x: Long)     => s + x
              case (s: Double, x: Double) => s + x
              case _                      => v // first value
            }
            case "min" => if (acc == null || orderings(i).lt(v, acc)) v else acc
            case "max" => if (acc == null || orderings(i).gt(v, acc)) v else acc
          }
        }
        i += 1
      }
    }
    if (groups.isEmpty && spec.groupBy.isEmpty) groups.put(Seq.empty, zero())
    groups.asScala.iterator.map { case (k, accs) =>
      new GenericInternalRow((k ++ accs).toArray[Any]) }
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
      try ExtJson.mapper.readTree(line)
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
          val v = try toInternal(resolve(doc, i), schema(i).dataType) catch {
            case e @ (_: IllegalArgumentException | _: java.time.DateTimeException) =>
              Left(s"cannot decode ${resolve(doc, i)}: ${e.getMessage}")
          }
          v match {
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
    * the JSON-text VARCHAR fallback. BSON undefined (`{"$undefined":true}`)
    * is NULL in every type, as schema inference already treats it. Throws
    * on a wrapper whose payload does not decode (`{"$numberLong":"x"}`). */
  def toInternal(n: JsonNode, dt: DataType): Either[String, Any] = {
    if (n == null || n.isNull || (n.isObject && n.size() == 1 && n.has("$undefined")))
      return Right(null)
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
  // .gz collections decompress transparently; they are unsplittable, so
  // the whole file is one range and `end` bounds DECOMPRESSED bytes
  private val gzipped = file.endsWith(".gz")
  private val in: InputStream = {
    val s = new HPath(file).getFileSystem(conf).open(new HPath(file))
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

  private def refill(): Boolean = {
    pos += lo
    lo = 0
    hi = in.read(chunk)
    if (hi < 0) { hi = 0; eof = true; false } else true
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

  if (start > 0) next() // the first (partial) line belongs to the previous split
}
