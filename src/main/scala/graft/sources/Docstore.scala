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
  * becomes ~8000 parallel partitions instead of one task, while many
  * small files share a partition as they do in Spark's file sources; projection
  * prunes unread doc paths, and LIMIT caps each reader. All pushdowns are
  * visible in `explain()` like the reference's `$match`/projection/
  * `$limit` pipeline stages.
  *
  * One reader serves every scan, batch and streaming. Each split's lines
  * stay bytes: a line that cannot satisfy a pushed string equality is
  * skipped before it is parsed ([[DocstorePrefilter]]), and the rest
  * stream through one Jackson parser that fills the row with the columns
  * the query reads and skips every other field ([[DocRowConverter]]).
  * Rows pass the pushed filters, which run as Catalyst's own generated
  * predicate (see [[DocstoreFilters]]), before a row is emitted. The rows
  * then leave as they are (with the LIMIT), through a bounded TopN heap
  * ordered by Catalyst's `RowOrdering`, or into the in-reader `$group`
  * hash aggregate, whose MIN/MAX compare with Catalyst's interpreted
  * ordering of the column type. Each reader reports its line, skip,
  * parse, malformed and byte counts as the scan's SQL metrics
  * ([[DocstoreMetrics]]).
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

  /** A file list's byte ranges, packed into partitions by Spark's own
    * file-source rule (`FilePartition.maxSplitBytes` and
    * `getFilePartitions`): ranges go in listing order into a partition
    * until it holds `min(split, maxSplitBytes)` bytes, each range also
    * charged `spark.sql.files.openCostInBytes`. A collection of many small
    * files then pays a task launch and a task result per few files, not
    * per file. Compressed (`.gz`) files are unsplittable — one whole-file
    * range each, decompressed transparently in [[LineRangeReader]]; plain
    * files split on the Hadoop text contract. */
  def planSplits(files: Seq[(String, Long)], split: Long): Seq[DocstorePartition] = {
    import org.apache.spark.paths.SparkPath
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    val spark = SparkSession.active
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val ranges = files.flatMap { case (file, len) =>
      val path = SparkPath.fromPathString(file)
      def range(start: Long, n: Long) =
        PartitionedFile(InternalRow.empty, path, start, n, fileSize = len)
      if (len == 0) Seq.empty
      else if (file.endsWith(".gz")) Seq(range(0, len))
      else (0L until len by split).map(start => range(start, math.min(split, len - start)))
    }
    val maxBytes = math.min(split,
      FilePartition.maxSplitBytes(spark, files.map(_._2 + openCost).sum))
    FilePartition.getFilePartitions(spark, ranges, maxBytes).map { fp =>
      DocstorePartition(fp.files.toSeq.map(f =>
        DocstoreRange(f.toPath.toString, f.start, f.length)))
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
      docs.filterNot(_.map.contains("__schema")), opts.flatten))(_._1), s)
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
        while (remaining > 0 && reader.next()) {
          if (reader.len > 0) {
            lines += 1
            bytes += reader.len + 1L
            val line = new String(reader.buf, reader.off, reader.len, StandardCharsets.UTF_8)
            try { docs += ExtJson.parse(line); remaining -= 1 }
            catch { case _: Exception => () } // malformed line: skip in sampling
          }
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

/** `sample0` is read on the first scan, so a write never samples. Every
  * column reads as nullable, as in Spark's file sources: a document may
  * lack any field, or hold a value that does not convert. */
class DocstoreTable(schema0: StructType, opts: DocstoreOptions,
    sample0: => DocstoreSample)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private lazy val sample = sample0
  private val schema1 = DocRowConverter.nullable(schema0).asInstanceOf[StructType]
  override def name(): String = s"docstore(${opts.path})"
  override def schema(): StructType = schema1
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DocstoreScanBuilder(schema1, opts, sample)
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

  // every read, batch or streaming, plans through here; a write's table
  // may hold types only the sink handles
  DocRowConverter.requireReadable(fullSchema)

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
    aggSpec = Some(AggSpec(groups.map(_.get), aggs.map(_.get),
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))
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
/** `ansi`: the session's `spark.sql.ansi.enabled` when the aggregate was
  * pushed; a BIGINT SUM then raises on overflow, as Spark's `Sum` does,
  * instead of wrapping. */
final case class AggSpec(groupBy: Seq[StructField], aggs: Seq[AggOp],
    ansi: Boolean) {
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

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] = DocstoreMetrics.all
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
  override def json(): String = s"""{"n":$n,"last":${ExtJson.quote(last)}}"""
}

object FileCountOffset {
  def parse(s: String): FileCountOffset = {
    val t = s.trim
    if (t.startsWith("{")) {
      val o = ExtJson.mapper.readTree(t)
      FileCountOffset(o.path("n").asInt(0), o.path("last").asText(""))
    } else FileCountOffset(t.toInt)
  }
}

final case class DocstoreRange(file: String, start: Long, length: Long)

/** One task's share of a scan: byte ranges read in order. */
final case class DocstorePartition(ranges: Seq[DocstoreRange]) extends InputPartition

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
    filters: Array[Filter], val schemaMode: String, flatten: Boolean,
    explicitPaths: Map[String, Array[String]],
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
  /** The eval schema's document paths, built once for every split. */
  val paths = new DocPaths(evalSchema, flatten, explicitPaths)
  /** A permissive scan's byte prefilter for its pushed string equalities;
    * null when there is none. */
  val prefilter: DocstorePrefilter =
    if (schemaMode == "permissive") DocstorePrefilter(filters.toSeq).orNull else null

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new DocstoreReader(p.asInstanceOf[DocstorePartition], this)
}

class DocstoreReader(p: DocstorePartition, f: DocstoreReaderFactory)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.{expressions => E}
  import f.{evalSchema, outOrdinals}

  private val conv = new DocRowConverter(evalSchema, f.paths, f.schemaMode)
  // one compile per distinct predicate: Spark's codegen cache serves
  // every later split of the scan
  private val pred: E.BasePredicate = f.predicate.map { e =>
    val compiled = E.Predicate.create(e); compiled.initialize(0); compiled
  }.orNull
  private val ranges = p.ranges.iterator
  private var lines: LineRangeReader = _
  private var linesRead, linesSkipped, rangeBytes = 0L

  /** Advances `lines` to the partition's next line, across its ranges. */
  private def nextLine(): Boolean = {
    while (lines == null || !lines.next()) {
      if (lines != null) { rangeBytes += lines.bytesRead; lines.close(); lines = null }
      if (!ranges.hasNext) return false
      val r = ranges.next()
      lines = new LineRangeReader(r.file, r.start, r.length, f.conf.value.value)
    }
    true
  }

  /** The split's docs that the prefilter keeps, that convert (malformed
    * ones dropped per schema mode) and that pass the pushed filters. */
  private val docs: Iterator[InternalRow] = new Iterator[InternalRow] {
    private var pending: InternalRow = _
    override def hasNext: Boolean = {
      while (pending == null) {
        if (!nextLine()) return false
        if (lines.len > 0) {
          linesRead += 1
          if (f.prefilter != null && !f.prefilter.mayMatch(lines.buf, lines.off, lines.len))
            linesSkipped += 1
          else {
            val row = conv.convert(lines.buf, lines.off, lines.len)
            if (row != null && (pred == null || pred.eval(row))) pending = row
          }
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
  override def close(): Unit = if (lines != null) lines.close()

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    import DocstoreMetrics._
    Array(task(LinesRead, linesRead), task(LinesSkipped, linesSkipped),
      task(DocsParsed, linesRead - linesSkipped), task(DocsMalformed, conv.malformed),
      task(BytesRead, rangeBytes + (if (lines == null) 0L else lines.bytesRead)))
  }

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
              case (s: Long, x: Long)     =>
                if (spec.ansi) org.apache.spark.sql.catalyst.util.MathUtils.addExact(s, x)
                else s + x
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

/** The document paths an eval schema reads, as a trie over field names.
  * Each column has its candidate paths — the `__schema` mapping, else the
  * flattened-name candidates (`user_id` → `user_id` | `user`.`id`) — and
  * each candidate ends in a slot that [[DocRowConverter]] fills. Built
  * once per reader factory and shipped with it. */
final class DocPaths(schema: StructType, flatten: Boolean,
    explicitPaths: Map[String, Array[String]]) extends Serializable {
  import DocPaths.Node

  val root = new Node
  private val types = scala.collection.mutable.ArrayBuffer.empty[DataType]
  /** Per column, its slots in candidate order. */
  val colSlots: Array[Array[Int]] = schema.fields.map { f =>
    val cands = explicitPaths.get(f.name) match {
      case Some(p) => List(p.toList) // __schema path mapping wins
      case None    => if (flatten) DocPaths.candidatePaths(f.name) else List(List(f.name))
    }
    cands.map { path =>
      val node = path.foldLeft(root)((n, k) => n.children.computeIfAbsent(k, _ => new Node))
      node.slots :+= types.length
      types += f.dataType
      types.length - 1
    }.toArray
  }
  val slotType: Array[DataType] = types.toArray
  root.seal()
}

object DocPaths {
  final class Node extends Serializable {
    val children = new java.util.HashMap[String, Node]()
    /** Slots whose path ends here. */
    var slots: Array[Int] = Array.emptyIntArray
    /** Every slot at or below this node: what a repeated key resets. */
    var under: Array[Int] = Array.emptyIntArray
    private[DocPaths] def seal(): Unit = {
      children.values.forEach(_.seal())
      under = slots ++ children.values.asScala.flatMap(_.under)
    }
  }

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
}

/** Extended-JSON line → InternalRow under a flat schema, honoring the
  * reference's schema modes (reference: src/mongo_schema_inference.cpp
  * schema_mode): permissive → mismatched value becomes NULL;
  * dropmalformed → row skipped; failfast → throw.
  *
  * Hot path: one streaming Jackson parse over the line's UTF-8 bytes. It
  * descends only into objects on a [[DocPaths]] path and skips every
  * other field, so a query reading 2 of 10 fields builds no tree for the
  * other 8. A scalar token converts straight into its slot; a needed
  * object or array (an extended-JSON wrapper, a struct, an array, or the
  * JSON-VARCHAR fallback) is read as that value's subtree and converted
  * by [[toInternal]], the one set of conversion rules. The whole line is
  * still tokenized, so a syntax error anywhere, in a skipped field too,
  * makes the line malformed, as does content after the document.
  *
  * The answer is the tree walk's: the first candidate path wins even when
  * its value is null, a later one only when non-null; a repeated key
  * replaces the earlier value (the tree's last-wins); a document holding
  * a top-level `__schema` key, wherever it sits, is skipped; a line that
  * is not valid UTF-8 and does not parse, or that starts with bytes from
  * which Jackson would guess another encoding, is read as its
  * replacement-decoded text, as a decoded line was.
  */
class DocRowConverter(schema: StructType, paths: DocPaths, schemaMode: String) {
  import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException, JsonToken}
  import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
  import com.fasterxml.jackson.databind.node.ObjectNode
  import DocRowConverter._

  private val factory = ExtJson.mapper.getFactory
  // one value's subtree mid-line: the trailing-token check is the line's
  private val subtree = ExtJson.mapper.readerFor(classOf[JsonNode])
    .without(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private val colSlots = paths.colSlots
  private val kind: Array[Int] = paths.slotType.map {
    case StringType  => KString
    case LongType    => KLong
    case DoubleType  => KDouble
    case BooleanType => KBoolean
    case _           => KTree
  }
  // per slot, this line's outcome: Missing | Null | Value (value) | Bad (error)
  private val state = new Array[Byte](kind.length)
  private val value = new Array[Any](kind.length)
  private val error = new Array[String](kind.length)
  private var schemaDoc = false

  /** Lines dropped as malformed: unparseable, not a document, or (under
    * dropmalformed) holding a value that does not convert. */
  var malformed = 0L

  /** The row of the line `buf(off until off + len)`, or null when the line
    * is dropped or is a `__schema` document. */
  def convert(buf: Array[Byte], off: Int, len: Int): InternalRow =
    parse(buf, off, len, asBytes = utf8Bootstrap(buf, off, len))

  /** Parses the line's bytes, or (`asBytes` false) its decoded text, which
    * is what the line is read as when its bytes would not parse as UTF-8. */
  private def parse(buf: Array[Byte], off: Int, len: Int, asBytes: Boolean): InternalRow = {
    java.util.Arrays.fill(state, Missing)
    schemaDoc = false
    var p: JsonParser = null
    try {
      p = if (asBytes) factory.createParser(buf, off, len)
          else factory.createParser(new String(buf, off, len, StandardCharsets.UTF_8))
      if (p.nextToken() != JsonToken.START_OBJECT)
        return drop("not a document", buf, off, len)
      fill(p, paths.root, top = true)
      if (p.nextToken() != null)
        return drop("unparseable document: content after the document", buf, off, len)
    } catch {
      // a syntax error, or a decoding error (`CharConversionException`)
      case e: java.io.IOException =>
        if (asBytes && !validUtf8(buf, off, len)) return parse(buf, off, len, asBytes = false)
        val msg = e match {
          case j: JsonProcessingException => j.getOriginalMessage
          case _ => e.getMessage
        }
        return drop(s"unparseable document: $msg", buf, off, len)
    } finally if (p != null) p.close()
    if (schemaDoc) null else row(buf, off, len)
  }

  /** Fills the slots below `node` from the object whose START_OBJECT `p`
    * has just read, leaving `p` on its END_OBJECT. */
  private def fill(p: JsonParser, node: DocPaths.Node, top: Boolean): Unit = {
    var name = p.nextFieldName()
    while (name != null) {
      val t = p.nextToken()
      if (top && name == "__schema") schemaDoc = true
      val child = node.children.get(name)
      if (child == null) p.skipChildren()
      else {
        clear(child.under)
        if (child.slots.isEmpty) {
          if (t == JsonToken.START_OBJECT) fill(p, child, top = false) else p.skipChildren()
        } else if (t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY) {
          val tree: JsonNode = subtree.readTree(p)
          child.slots.foreach(setTree(_, tree))
          if (t == JsonToken.START_OBJECT && !child.children.isEmpty) {
            val tp = tree.traverse()
            tp.nextToken()
            fill(tp, child, top = false)
          }
        } else setScalar(child.slots, p, t)
      }
      name = p.nextFieldName()
    }
  }

  private def clear(slots: Array[Int]): Unit = {
    var i = 0
    while (i < slots.length) { state(slots(i)) = Missing; i += 1 }
  }

  /** A scalar token into each slot: the common (token, type) pairs
    * directly, the rest through the token's node. */
  private def setScalar(slots: Array[Int], p: JsonParser, t: JsonToken): Unit = {
    var viaTree = false
    var i = 0
    while (i < slots.length) {
      val s = slots(i)
      if (t == JsonToken.VALUE_NULL) state(s) = Null
      else if (!direct(s, p, t)) viaTree = true
      i += 1
    }
    if (viaTree) { // reading the node consumes the token: direct slots go first
      val tree: JsonNode = subtree.readTree(p)
      slots.foreach(s => if (state(s) == Missing) setTree(s, tree))
    }
  }

  private def direct(s: Int, p: JsonParser, t: JsonToken): Boolean = {
    import JsonToken._
    // BIG_INTEGER converts through its node, as the tree did
    def integral = t == VALUE_NUMBER_INT && p.getNumberType != JsonParser.NumberType.BIG_INTEGER
    val v: Any = kind(s) match {
      case KString if t == VALUE_STRING => UTF8String.fromString(p.getText)
      case KLong if integral => p.getLongValue
      case KDouble if t == VALUE_NUMBER_FLOAT || integral => p.getDoubleValue
      case KBoolean if t == VALUE_TRUE || t == VALUE_FALSE => t == VALUE_TRUE
      case _ => return false
    }
    value(s) = v
    state(s) = Value
    true
  }

  private def setTree(s: Int, n: JsonNode): Unit =
    if (n.isNull) state(s) = Null
    else {
      val v = try toInternal(n, paths.slotType(s)) catch {
        case e: IllegalArgumentException => Left(s"cannot decode $n: ${e.getMessage}")
      }
      v match {
        case Right(x) => value(s) = x; state(s) = Value
        case Left(msg) => error(s) = msg; state(s) = Bad
      }
    }

  /** The row from the filled slots: per column, its first candidate when
    * present (even as null), else the first later one that is non-null. */
  private def row(buf: Array[Byte], off: Int, len: Int): InternalRow = {
    val row = new GenericInternalRow(colSlots.length)
    var c = 0
    while (c < colSlots.length) {
      val cands = colSlots(c)
      var s = cands(0)
      if (state(s) == Missing) {
        s = -1
        var k = 1
        while (s < 0 && k < cands.length) {
          if (state(cands(k)) >= Value) s = cands(k)
          k += 1
        }
      }
      if (s >= 0) {
        if (state(s) == Value) row.update(c, value(s))
        else if (state(s) == Bad) schemaMode match {
          case "permissive"    => ()
          case "dropmalformed" => malformed += 1; return null
          case "failfast" =>
            throw new IllegalStateException(s"docstore failfast: column " +
              s"'${schema(c).name}': ${clip(error(s))}${excerpt(buf, off, len)}")
        }
      }
      c += 1
    }
    row
  }

  private def drop(msg: String, buf: Array[Byte], off: Int, len: Int): InternalRow = {
    if (schemaMode == "failfast")
      throw new IllegalStateException(s"docstore failfast: ${clip(msg)}${excerpt(buf, off, len)}")
    malformed += 1 // permissive + dropmalformed both drop unparseable lines
    null
  }

  /** JsonNode → Catalyst internal value for the target type; Left = type
    * mismatch. A wrapper decodes through [[ExtJson.decode]], so the scan
    * reads what sampling inferred from; a VARCHAR reads every wrapper but
    * `$oid` as its JSON text, undecoded. Numeric widening Long→Double
    * allowed (Int32/Int64/Double unify in the reference's lattice);
    * StringType accepts anything via the JSON-text VARCHAR fallback. BSON
    * undefined is NULL in every type. Throws on a wrapper whose payload
    * does not decode (`{"$numberLong":"x"}`). */
  def toInternal(n: JsonNode, dt: DataType): Either[String, Any] = {
    if (n == null || n.isNull) return Right(null)
    val tag = n match {
      case o: ObjectNode => ExtJson.wrapperTag(o)
      case _             => null
    }
    val w = if (tag == null || (dt == StringType && tag != "$oid" && tag != "$undefined")) null
      else ExtJson.decode(tag, n.asInstanceOf[ObjectNode])
    if (w != null) return fromWrapper(w, n, dt)
    dt match {
      case StringType =>
        Right(UTF8String.fromString(if (n.isTextual) n.textValue() else n.toString))
      case LongType if n.isIntegralNumber => Right(n.longValue())
      case DoubleType if n.isNumber       => Right(n.doubleValue())
      case BooleanType if n.isBoolean     => Right(n.booleanValue())
      case ArrayType(et, _) if n.isArray =>
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
      case st: StructType if n.isObject =>
        val out = new GenericInternalRow(st.length)
        var i = 0
        while (i < st.length) {
          toInternal(n.get(st(i).name), st(i).dataType) match {
            case Right(x) => out.update(i, x)
            case left     => return left
          }
          i += 1
        }
        Right(out)
      case _ => mismatch(n, dt)
    }
  }

  /** A decoded wrapper `w` (the node `n`) as a value of `dt`. */
  private def fromWrapper(w: DocValue, n: JsonNode, dt: DataType): Either[String, Any] = {
    import DocValue._
    (w, dt) match {
      case (DNull, _)                      => Right(null)
      case (DObjectId(hex), StringType)    => Right(UTF8String.fromString(hex))
      case (DLong(l), LongType)            => Right(l)
      case (DLong(l), DoubleType)          => Right(l.toDouble)
      case (DDouble(d), DoubleType)        => Right(d)
      case (DTimestamp(us), TimestampType) => Right(us)
      case (DTimestamp(us), DateType) if ExtJson.isMidnightUtc(us) => Right(ExtJson.epochDay(us))
      case (DBinary(b), BinaryType)        => Right(b)
      case _                               => mismatch(n, dt)
    }
  }

  private def mismatch(n: JsonNode, dt: DataType) =
    Left(s"cannot convert $n to ${dt.simpleString}")
}

object DocRowConverter {
  /** The types [[DocRowConverter.toInternal]] converts a value to. */
  def readable(dt: DataType): Boolean = dt match {
    case StringType | LongType | DoubleType | BooleanType | TimestampType |
         DateType | BinaryType => true
    case ArrayType(et, _) => readable(et)
    case st: StructType   => st.forall(f => readable(f.dataType))
    case _                => false
  }

  /** `dt` with every field and array element nullable. */
  def nullable(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(nullable(et), containsNull = true)
    case st: StructType   =>
      StructType(st.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case other            => other
  }

  /** Fails on the first column of `schema` whose type is not [[readable]]. */
  def requireReadable(schema: StructType): Unit =
    schema.find(f => !readable(f.dataType)).foreach { f =>
      throw new IllegalArgumentException(
        s"docstore read: column ${f.name} has type ${f.dataType.simpleString}, " +
          "which the scan does not convert; readable types are string, " +
          "bigint, double, boolean, timestamp, date, binary, and arrays " +
          "and structs of these")
    }

  private final val Missing: Byte = 0
  private final val Null: Byte = 1
  private final val Value: Byte = 2
  private final val Bad: Byte = 3
  private final val KTree = 0
  private final val KString = 1
  private final val KLong = 2
  private final val KDouble = 3
  private final val KBoolean = 4

  /** How much of a document or a value a failfast error echoes: the
    * driver receives the message, and a document may be megabytes. */
  final val EchoChars = 200

  private def clip(s: String): String =
    if (s.length <= EchoChars) s else s.substring(0, EchoChars) + "…"

  private def excerpt(buf: Array[Byte], off: Int, len: Int): String = {
    val head = new String(buf, off, math.min(len, EchoChars), StandardCharsets.UTF_8)
    s" in document of $len bytes: $head${if (len > EchoChars) "…" else ""}"
  }

  /** Whether Jackson's byte parser reads the line as UTF-8. It guesses the
    * encoding from the first four bytes: a zero byte among them selects
    * UTF-16 or UTF-32, and a leading byte-order mark (`EF BB BF`, `FE FF`,
    * `FF FE`) is consumed. Such a line is read as its decoded text
    * instead, where it fails or parses exactly as text. */
  private def utf8Bootstrap(buf: Array[Byte], off: Int, len: Int): Boolean = {
    if (len > 0) {
      val b0 = buf(off) & 0xFF
      if (b0 == 0xEF || b0 == 0xFE || b0 == 0xFF) return false
    }
    var i = off
    while (i < off + math.min(len, 4)) {
      if (buf(i) == 0) return false
      i += 1
    }
    true
  }

  private def validUtf8(buf: Array[Byte], off: Int, len: Int): Boolean =
    try { StandardCharsets.UTF_8.newDecoder().decode(java.nio.ByteBuffer.wrap(buf, off, len)); true }
    catch { case _: java.nio.charset.CharacterCodingException => false }
}

/** Skips a line before it is parsed when it cannot satisfy the pushed
  * string equalities — Sparser's "filter before you parse". Each group is
  * one pushed conjunct (`EqualTo`, `EqualNullSafe`, `In` on a string
  * column, or an `Or` of them); a line may match only if, for every group,
  * it holds the JSON-quoted UTF-8 bytes of one of the group's literals
  * (`"k3"`). Safe, so always on where it applies:
  *   - a string value equal to the literal is written in the line as those
  *     bytes, unless it uses an escape; a line holding any backslash is
  *     therefore always parsed (found in the same pass as the search);
  *   - a non-string value reads as a string through the JSON-VARCHAR
  *     fallback or a `$oid` payload's text, so a literal such a value
  *     could render to is never searched for: object or array text, a
  *     number as Jackson prints it (`Infinity` and `NaN` too), `true`,
  *     `false`, `null` and the empty string;
  *   - neither is a literal holding U+FFFD or an unpaired surrogate: a line
  *     that is not valid UTF-8 reads as its replacement-decoded text;
  *   - only a permissive scan skips lines ([[DocstoreReaderFactory]]): a
  *     skipped line yields no row there whatever it holds, while failfast
  *     must still raise on a malformed one and dropmalformed counts it.
  * A conjunct with more than `MaxNeedles` literals (a large runtime IN) is
  * not searched. */
final class DocstorePrefilter private (groups: Array[Array[Array[Byte]]])
    extends Serializable {
  private val all = (1L << groups.length) - 1

  def mayMatch(b: Array[Byte], off: Int, len: Int): Boolean = {
    var found = 0L
    var i = off
    val end = off + len
    while (i < end) {
      val c = b(i)
      if (c == '\\') return true
      if (c == '"') {
        var g = 0
        while (g < groups.length) {
          if ((found & (1L << g)) == 0 && DocstorePrefilter.anyAt(groups(g), b, i, end)) {
            found |= 1L << g
            if (found == all) return true
          }
          g += 1
        }
      }
      i += 1
    }
    false
  }
}

object DocstorePrefilter {
  final val MaxNeedles = 32
  private final val MaxGroups = 63

  /** The prefilter of a conjunction of pushed filters, if any conjunct
    * can be searched for. */
  def apply(filters: Seq[Filter]): Option[DocstorePrefilter] = {
    val groups = filters.flatMap(conjuncts).flatMap(needles)
      .filter(g => g.nonEmpty && g.size <= MaxNeedles && g.forall(searchable))
      .take(MaxGroups)
    if (groups.isEmpty) None
    else Some(new DocstorePrefilter(groups.map(_.distinct.map(v =>
      ("\"" + v + "\"").getBytes(StandardCharsets.UTF_8)).toArray).toArray))
  }

  private def conjuncts(f: Filter): Seq[Filter] = f match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** The literals one of which a matching line holds. A pushed filter's
    * string literal is on a string column ([[DocstoreFilters.toCatalyst]]). */
  private def needles(f: Filter): Option[Seq[String]] = f match {
    case EqualTo(_, v: String)       => Some(Seq(v))
    case EqualNullSafe(_, v: String) => Some(Seq(v))
    case In(_, vs) if vs.forall(v => v == null || v.isInstanceOf[String]) =>
      Some(vs.toSeq.collect { case s: String => s }) // NULL never equals
    case Or(l, r) => for (a <- needles(l); b <- needles(r)) yield a ++ b
    case _ => None
  }

  private def searchable(v: String): Boolean =
    v.nonEmpty && v.head != '{' && v.head != '[' &&
      !Set("true", "false", "null")(v) &&
      scala.util.Try(java.lang.Double.parseDouble(v)).isFailure && // 5, 1.0E10, NaN, -Infinity
      !v.contains('\uFFFD') &&
      new String(v.getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8) == v

  private def anyAt(ns: Array[Array[Byte]], b: Array[Byte], i: Int, end: Int): Boolean = {
    var k = 0
    while (k < ns.length) {
      val n = ns(k)
      if (n.length <= end - i) {
        var j = 1 // n(0) is the quote at b(i)
        while (j < n.length && n(j) == b(i + j)) j += 1
        if (j == n.length) return true
      }
      k += 1
    }
    false
  }
}

/** The docstore scan's SQL metrics: per-reader sums, counted on the
  * lines' own path, so they cost no job and no pass. */
object DocstoreMetrics {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}

  val LinesRead = "linesRead"
  val LinesSkipped = "linesSkipped"
  val DocsParsed = "docsParsed"
  val DocsMalformed = "docsMalformed"
  val BytesRead = "bytesRead"

  def all: Array[CustomMetric] = Array(new LinesReadMetric, new LinesSkippedMetric,
    new DocsParsedMetric, new DocsMalformedMetric, new BytesReadMetric)

  def task(metric: String, n: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = n
  }

  // Spark re-creates a metric by its class's no-argument constructor
  abstract class Sum(metric: String, desc: String)
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = metric
    override def description(): String = desc
  }
  class LinesReadMetric extends Sum(LinesRead, "docstore lines read")
  class LinesSkippedMetric extends Sum(LinesSkipped, "docstore lines skipped by the prefilter")
  class DocsParsedMetric extends Sum(DocsParsed, "docstore documents parsed")
  class DocsMalformedMetric extends Sum(DocsMalformed, "docstore malformed documents dropped")
  class BytesReadMetric extends Sum(BytesRead, "docstore bytes read")
}

/** Byte-range JSONL reader with the standard Hadoop text-split contract:
  * a split starting mid-file skips to the first full line; the line that
  * straddles the split end belongs to the split it started in. Lines stay
  * bytes (split on '\n', so multi-byte chars never break offsets), handed
  * out in place: no copy unless a line straddles a chunk refill. */
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
  private var carry = new Array[Byte](1 << 10) // a line across refills

  /** After [[next]] returned true: the line, without its newline or a
    * trailing '\r', is `buf(off until off + len)` — valid until the next
    * call. */
  var buf: Array[Byte] = chunk
  var off = 0
  var len = 0
  /** Bytes of the lines handed out so far, newlines included. */
  var bytesRead = 0L

  private def refill(): Boolean = {
    pos += lo
    lo = 0
    hi = in.read(chunk)
    if (hi < 0) { hi = 0; eof = true; false } else true
  }

  /** Advances to the next full line; false when the range is done. */
  def next(): Boolean = {
    // a line belongs to this split iff it STARTS at or before `end`
    if (eof && lo >= hi) return false
    if (pos + lo > end) return false
    var carried = 0
    while (true) {
      if (lo >= hi && !refill())
        return carried > 0 && line(carry, 0, carried, newline = 0)
      var i = lo
      while (i < hi && chunk(i) != '\n') i += 1
      if (i < hi) {
        val from = lo
        lo = i + 1
        if (carried == 0) return line(chunk, from, i - from, newline = 1)
        carried = append(carried, from, i)
        return line(carry, 0, carried, newline = 1)
      }
      carried = append(carried, lo, hi)
      lo = hi
    }
    false // unreachable
  }

  private def append(n: Int, from: Int, until: Int): Int = {
    val m = n + until - from
    if (m > carry.length) carry = java.util.Arrays.copyOf(carry, math.max(m, 2 * carry.length))
    System.arraycopy(chunk, from, carry, n, until - from)
    m
  }

  private def line(b: Array[Byte], o: Int, n: Int, newline: Int): Boolean = {
    bytesRead += n + newline
    buf = b
    off = o
    len = if (n > 0 && b(o + n - 1) == '\r') n - 1 else n // CRLF files
    true
  }

  def close(): Unit = in.close()

  if (start > 0) next() // the first (partial) line belongs to the previous split
}
