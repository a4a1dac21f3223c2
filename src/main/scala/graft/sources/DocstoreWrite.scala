package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets

/** Batch WRITE for the docstore source: rows → extended-JSON JSONL part
  * files, the inverse of the scan's type mapping (Timestamp→`$date`,
  * Date→midnight `$date`, Binary→`$binary`, struct→nested doc,
  * array→JSON array). The reference is scan-only; a pipeline engine
  * needs the sink so cleaned/filtered collections round-trip:
  * `Graft.mongoScan(...).filter(...).write.format("docstore")`.
  *
  * Scale: one part file per task (standard distributed-sink contract),
  * no driver involvement in the data path. Failure-atomic: tasks write
  * to dot-prefixed temp names (invisible to the scan's listing filter);
  * `BatchWrite.commit()` renames exactly the files named in the task
  * commit messages to their final visible names — and performs the
  * truncate deletion of pre-existing files at that point, so a failed
  * overwrite never destroys the old collection, an overwrite of a path
  * being read never deletes input mid-scan, and a dead executor's
  * orphan temp file is never visible to readers.
  */
class DocstoreWriteBuilder(schema: StructType, opts: DocstoreOptions)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val t = doTruncate
    new Write {
      override def toBatch: BatchWrite = new DocstoreBatchWrite(schema, opts, t)
      override def toStreaming: streaming.StreamingWrite =
        new DocstoreStreamingWrite(schema, opts)
    }
  }
}

/** Streaming sink: each micro-batch's rows land as one committed file per
  * epoch+partition, named so the collection's lexicographic listing only
  * grows at the tail (`part-s<epoch>` sorts after every earlier epoch AND
  * after batch `part-<n>` files) — a stream-written collection is
  * immediately re-readable by the docstore MicroBatchStream under its
  * tail-only-growth offset contract. Epoch replay is idempotent: the
  * final name is deterministic per (epoch, partition) and commit
  * overwrites it; task-attempt temp names stay unique per attempt.
  */
class DocstoreStreamingWrite(schema: StructType, opts: DocstoreOptions)
    extends streaming.StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    new DocstoreStreamingWriterFactory(schema, opts.path)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = // replace = idempotent replay
    DocstoreCommit.publish(DocstoreCommit.fileSystem(opts.path), messages)

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    DocstoreCommit.discard(DocstoreCommit.fileSystem(opts.path), messages)
}

class DocstoreBatchWrite(schema: StructType, opts: DocstoreOptions,
    truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DocstoreWriterFactory(schema, opts.path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new HPath(opts.path)
    val fs = DocstoreCommit.fileSystem(opts.path)
    if (truncate && fs.exists(root) && fs.getFileStatus(root).isDirectory) {
      // overwrite: old (visible, non-dot) files are removed only once every
      // task has successfully written its replacement temp file
      fs.listStatus(root)
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
        .foreach(s => fs.delete(s.getPath, false))
    }
    DocstoreCommit.publish(fs, messages) // replace = idempotent re-commit
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    DocstoreCommit.discard(DocstoreCommit.fileSystem(opts.path), messages)
}

final case class DocstoreCommit(tempFile: String, finalFile: String)
  extends WriterCommitMessage

/** The commit and abort halves shared by the batch and streaming sinks. */
object DocstoreCommit {
  def fileSystem(dir: String): FileSystem =
    new HPath(dir).getFileSystem(new Configuration())
  private def commits(messages: Array[WriterCommitMessage]) =
    messages.collect { case m: DocstoreCommit => m }

  /** Rename every task's temp file to its final name, replacing a file
    * already there; a failed rename fails the commit. */
  def publish(fs: FileSystem, messages: Array[WriterCommitMessage]): Unit =
    commits(messages).foreach { m =>
      val tmp = new HPath(m.tempFile)
      val fin = new HPath(m.finalFile)
      fs.delete(fin, false)
      if (!fs.rename(tmp, fin))
        throw new java.io.IOException(s"docstore commit: rename $tmp -> $fin failed")
    }

  /** Delete every task's temp file. */
  def discard(fs: FileSystem, messages: Array[WriterCommitMessage]): Unit =
    commits(messages).foreach(m => fs.delete(new HPath(m.tempFile), false))
}

/** Named (serializable) factory — ships only (schema, dir) to executors. */
class DocstoreStreamingWriterFactory(schema: StructType, dir: String)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val fin = f"$dir/part-s$epochId%012d-$partitionId%05d.jsonl"
    val tmp = f"$dir/.part-s$epochId%012d-$partitionId%05d-$taskId.inprogress"
    new DocstoreDataWriter(schema, dir, tmp, fin)
  }
}

class DocstoreWriterFactory(schema: StructType, dir: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DocstoreDataWriter(schema, dir,
      // dot prefix = excluded by the scan's listing filter until commit
      f"$dir/.part-$partitionId%05d-$taskId.jsonl.inprogress",
      f"$dir/part-$partitionId%05d-$taskId.jsonl")
}

class DocstoreDataWriter(schema: StructType, dir: String, file: String,
    finalFile: String) extends DataWriter[InternalRow] {
  private val fs = new HPath(dir).getFileSystem(new Configuration())
  private val out: OutputStream = {
    fs.mkdirs(new HPath(dir))
    new BufferedOutputStream(fs.create(new HPath(file), true), 1 << 16)
  }
  private val sb = new java.lang.StringBuilder(1 << 10)

  override def write(row: InternalRow): Unit = {
    sb.setLength(0)
    renderRow(row, schema)
    sb.append('\n')
    out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def renderRow(row: InternalRow, st: StructType): Unit = {
    sb.append('{')
    var first = true
    var i = 0
    while (i < st.length) {
      if (!row.isNullAt(i)) { // absent field = BSON missing, like Mongo
        if (!first) sb.append(',')
        first = false
        sb.append(ExtJson.quote(st(i).name)).append(':')
        renderValue(row.get(i, st(i).dataType), st(i).dataType)
      }
      i += 1
    }
    sb.append('}')
  }

  private def renderValue(v: Any, dt: DataType): Unit = dt match {
    case LongType    => sb.append(v.asInstanceOf[Long])
    case DoubleType  =>
      val d = v.asInstanceOf[Double]
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case IntegerType => sb.append(v.asInstanceOf[Int])
    case BooleanType => sb.append(v.asInstanceOf[Boolean])
    case StringType  => sb.append(ExtJson.quote(v.asInstanceOf[UTF8String].toString))
    case TimestampType =>
      sb.append(ExtJson.render(DocValue.DTimestamp(v.asInstanceOf[Long])))
    case DateType =>
      sb.append(ExtJson.render(
        DocValue.DTimestamp(v.asInstanceOf[Int].toLong * 86400000000L)))
    case BinaryType =>
      sb.append(ExtJson.render(DocValue.DBinary(v.asInstanceOf[Array[Byte]])))
    case ArrayType(et, _) =>
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      sb.append('[')
      var i = 0
      while (i < arr.numElements()) {
        if (i > 0) sb.append(',')
        if (arr.isNullAt(i)) sb.append("null")
        else renderValue(arr.get(i, et), et)
        i += 1
      }
      sb.append(']')
    case st: StructType =>
      renderRow(v.asInstanceOf[InternalRow], st)
    case other =>
      throw new UnsupportedOperationException(
        s"docstore write: unsupported type ${other.simpleString}")
  }

  override def commit(): WriterCommitMessage =
    { out.close(); DocstoreCommit(file, finalFile) }
  override def abort(): Unit = {
    try out.close() catch { case _: Exception => () }
    fs.delete(new HPath(file), false)
  }
  override def close(): Unit = ()
}
