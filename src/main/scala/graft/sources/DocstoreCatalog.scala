package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** The connection seam between the catalog and a document store — the
  * interface a real MongoDB wire adapter implements (the analog of the
  * reference's client layer, reference src/mongo_instance.cpp:1,
  * src/mongo_storage_extension.cpp:1) while everything above it —
  * catalog, SQL resolution, pushdown plumbing — stays unchanged.
  *
  * Implementations: [[FileDocstoreClient]] (JSONL directories; this
  * environment has no Mongo server). A wire adapter validates its
  * option schema and assembles its connection URI with
  * [[DocstoreSecrets]] — and must honor its redaction contract: only
  * `describe`/`redactedConnectionString` forms may reach errors or
  * logs. A wire adapter would:
  *   - `ping()` → driver handshake (fail ATTACH fast on a bad URI);
  *   - `listNamespaces` → `listDatabases`;
  *   - `listCollections` → `listCollections`;
  *   - `loadCollection` → a [[org.apache.spark.sql.connector.catalog.Table]]
  *     whose scan issues `find`/aggregate commands with the same pushdown
  *     surface as [[DocstoreScanBuilder]].
  *
  * Select an adapter with the catalog option `client` = fully-qualified
  * class name with a `(root: String, options: Map[String, String])`
  * constructor.
  */
trait DocstoreClient {
  /** Validate the endpoint and options eagerly — called at ATTACH time so
    * a bad root/URI or a typo'd option fails the attach with a clear
    * message, not the first query with a stack trace (reference
    * test/sql/attach/attach_errors.test:1 behavior). */
  def ping(): Unit
  def listNamespaces(): Seq[String]
  def namespaceExists(namespace: String): Boolean
  def listCollections(namespace: String): Seq[String]
  def collectionExists(namespace: String, coll: String): Boolean
  def loadCollection(namespace: String, coll: String): Table
  /** Drop one cached collection schema (next access re-infers). */
  def invalidate(namespace: String, coll: String): Unit
  /** Drop every cached schema — the `mongo_clear_cache()` analog. */
  def clearCache(): Unit
}

object DocstoreClient {
  /** Build the client for a catalog option map: the `client` option names
    * an adapter class; default is the JSONL file client. */
  def create(options: Map[String, String]): DocstoreClient = {
    val m = options.map { case (k, v) => k.toLowerCase -> v }
    val root = m.getOrElse("root", throw new IllegalArgumentException(
      "docstore: 'root' option required"))
    m.get("client") match {
      case Some(cls) =>
        Class.forName(cls)
          .getConstructor(classOf[String], classOf[Map[String, String]])
          .newInstance(root, options)
          .asInstanceOf[DocstoreClient]
      case None => new FileDocstoreClient(root, options)
    }
  }
}

/** JSONL-directory implementation of [[DocstoreClient]]: root directory →
  * instance, subdirectory → database, `<name>.jsonl` → collection. Each
  * collection is sampled once per client instance and its sample (schema,
  * `__schema` paths, row size) cached (the reference caches collection
  * schemas the same way). File access uses the session's Hadoop conf.
  */
class FileDocstoreClient(root: String, options: Map[String, String])
    extends DocstoreClient {
  private val m = options.map { case (k, v) => k.toLowerCase -> v }
  private val samples =
    new java.util.concurrent.ConcurrentHashMap[String, (StructType, DocstoreSample)]()

  private def fs: FileSystem = DocstoreTable.fileSystem(root)
  private def collPath(ns: String, coll: String): String =
    s"$root/$ns/$coll.jsonl"

  override def ping(): Unit = {
    val unknown = m.keySet -- FileDocstoreClient.KnownOptions
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"docstore: unknown option(s): ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(supported: ${FileDocstoreClient.KnownOptions.toSeq.sorted.mkString(", ")})")
    // value-format validation: fail ATTACH, not the first query
    DocstoreOptions(m)
    val ok =
      try { val st = fs.getFileStatus(new HPath(root)); st.isDirectory }
      catch { case _: Exception => false }
    if (!ok) throw new IllegalArgumentException(
      s"docstore: cannot open root '$root': no such directory")
  }

  /** In-flight/orphaned ensureArtifact build temps and hidden
    * bookkeeping dirs (.graft_locks) are not namespaces. The guard
    * applies to EVERY namespace-resolving method, not just the
    * listing — otherwise a client resolving a temp by name could read
    * a half-written directory the listing deliberately hides. */
  private def isInternalName(n: String): Boolean =
    n.contains(".build-") || n.startsWith(".")

  override def listNamespaces(): Seq[String] =
    fs.listStatus(new HPath(root)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(isInternalName).sorted

  override def namespaceExists(namespace: String): Boolean =
    !isInternalName(namespace) && fs.exists(new HPath(s"$root/$namespace"))

  override def listCollections(namespace: String): Seq[String] =
    if (isInternalName(namespace)) Seq.empty
    else fs.listStatus(new HPath(s"$root/$namespace")).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".jsonl"))
      .map(_.getPath.getName.stripSuffix(".jsonl")).sorted

  override def collectionExists(namespace: String, coll: String): Boolean =
    fs.exists(new HPath(collPath(namespace, coll)))

  override def loadCollection(namespace: String, coll: String): Table = {
    val path = collPath(namespace, coll)
    val opts = DocstoreOptions(m - "root" - "client" + ("path" -> path))
    val (schema, sample) = samples.computeIfAbsent(path, _ => DocstoreTable.inferred(opts))
    new DocstoreTable(schema, opts, sample)
  }

  override def invalidate(namespace: String, coll: String): Unit =
    samples.remove(collPath(namespace, coll))

  override def clearCache(): Unit = samples.clear()
}

object FileDocstoreClient {
  /** Options the file client accepts. A wire adapter adds the connection/
    * secret surface documented on [[DocstoreOptions]]. */
  val KnownOptions: Set[String] =
    Set("root", "client", "samplesize", "schemamode", "flatten", "splitsize")
}

/** Spark `TableCatalog` over a document store — the Spark-first
  * re-expression of the reference's storage extension
  * (reference: src/mongo_storage_extension.cpp:1, src/mongo_catalog.cpp:1):
  * ATTACH instance→catalog, database→schema/namespace,
  * collection→table. All storage access goes through the
  * [[DocstoreClient]] seam; the default client maps root dir → catalog,
  * subdirectory → namespace, `<name>.jsonl` → table.
  *
  * Register:
  *   spark.sql.catalog.mongo      = graft.sources.DocstoreCatalog
  *   spark.sql.catalog.mongo.root = /path/to/root
  * then `SELECT * FROM mongo.mydb.mycoll`, `SHOW NAMESPACES IN mongo`,
  * `SHOW TABLES IN mongo.mydb` — the SHOW DATABASES / information_schema
  * integration of the reference. (Or use `Graft.attach`, which also
  * validates the endpoint eagerly.)
  */
class DocstoreCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var client: DocstoreClient = _

  override def initialize(name: String, opts: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    client = DocstoreClient.create(opts.asScala.toMap)
  }
  override def name(): String = catalogName

  private def ns1(ident: Identifier): String = {
    require(ident.namespace().length == 1,
      s"docstore catalog expects <db>.<collection>, got $ident")
    ident.namespace()(0)
  }

  override def listNamespaces(): Array[Array[String]] =
    client.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else Array.empty // single-level: databases have no sub-schemas

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && client.namespaceExists(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    Map("client" -> client.getClass.getName).asJava
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    client.listCollections(namespace(0))
      .map(Identifier.of(namespace, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    client.collectionExists(ns1(ident), ident.name())

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    client.loadCollection(ns1(ident), ident.name())
  }

  /** `mongo_clear_cache()` analog. */
  override def invalidateTable(ident: Identifier): Unit =
    client.invalidate(ns1(ident), ident.name())

  /** Drop every cached collection schema (`mongo_clear_cache()`). */
  def clearCache(): Unit = client.clearCache()

  // Read-only catalog: writes map to "not supported" like the reference's
  // scan-only extension.
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table =
    throw new UnsupportedOperationException("docstore catalog is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("docstore catalog is read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("docstore catalog is read-only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("docstore catalog is read-only")
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    throw new UnsupportedOperationException("docstore catalog is read-only")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("docstore catalog is read-only")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("docstore catalog is read-only")
}
