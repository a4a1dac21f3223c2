package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets

/** Batch and streaming WRITE for the docstore source: rows → extended-JSON JSONL part
  * files, the inverse of the scan's type mapping (Timestamp→`$date`,
  * Date→midnight `$date`, Binary→`$binary`, NaN and ±Infinity→
  * `$numberDouble`, struct→nested doc, array→JSON array), written by
  * [[ExtJson]]'s leaf encoders. The reference is scan-only; a pipeline engine
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
  *
  * Streaming: each micro-batch's rows land as one committed file per
  * epoch+partition, named so the collection's lexicographic listing only
  * grows at the tail (`part-s<epoch>` sorts after every earlier epoch AND
  * after batch `part-<n>` files) — a stream-written collection is
  * immediately re-readable by the docstore MicroBatchStream under its
  * tail-only-growth offset contract. Epoch replay is idempotent: the
  * final name is deterministic per (epoch, partition) and commit
  * overwrites it; task-attempt temp names stay unique per attempt.
  */
class DocstoreWriteBuilder(schema: StructType, opts: DocstoreOptions)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    schema.find(f => !DocstoreWriteBuilder.writable(f.dataType)).foreach { f =>
      throw new UnsupportedOperationException(
        s"docstore write: column ${f.name} has type ${f.dataType.simpleString}, " +
          "which the sink does not write" +
          (if (f.dataType.isInstanceOf[DecimalType]) "; cast it to DOUBLE"
           else ""))
    }
    new DocstoreWrite(schema, opts, doTruncate)
  }
}

object DocstoreWriteBuilder {
  /** The types `DocstoreDataWriter` renders: integers as JSON integers
    * (read back as BIGINT), FLOAT as a double (read back as DOUBLE), the
    * rest as the scan reads them. */
  def writable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | FloatType => true
    case ArrayType(et, _) => writable(et)
    case st: StructType   => st.forall(f => writable(f.dataType))
    case other            => DocRowConverter.readable(other)
  }
}

/** One write, batch or streaming; `truncate` applies to the batch commit. */
class DocstoreWrite(schema: StructType, opts: DocstoreOptions, truncate: Boolean)
    extends Write with BatchWrite with streaming.StreamingWrite {
  override def toBatch: BatchWrite = this
  override def toStreaming: streaming.StreamingWrite = this
  override def useCommitCoordinator(): Boolean = true

  private def factory =
    new DocstoreWriterFactory(schema, opts.path, DocstoreTable.broadcastConf())
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def createStreamingWriterFactory(info: PhysicalWriteInfo) = factory

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new HPath(opts.path)
    val fs = DocstoreTable.fileSystem(opts.path)
    if (truncate && fs.exists(root) && fs.getFileStatus(root).isDirectory) {
      // overwrite: the old data files are removed only once every task
      // has successfully written its replacement temp file
      fs.listStatus(root).filter(DocstoreTable.isDataFile)
        .foreach(s => fs.delete(s.getPath, false))
    }
    publish(fs, messages) // replace = idempotent re-commit
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    publish(DocstoreTable.fileSystem(opts.path), messages) // idempotent replay

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = DocstoreTable.fileSystem(opts.path)
    commits(messages).foreach(m => fs.delete(new HPath(m.tempFile), false))
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    abort(messages)

  private def commits(messages: Array[WriterCommitMessage]) =
    messages.collect { case m: DocstoreCommit => m }

  /** Rename every task's temp file to its final name, replacing a file
    * already there; a failed rename fails the commit. */
  private def publish(fs: FileSystem, messages: Array[WriterCommitMessage]): Unit =
    commits(messages).foreach { m =>
      val tmp = new HPath(m.tempFile)
      val fin = new HPath(m.finalFile)
      fs.delete(fin, false)
      if (!fs.rename(tmp, fin))
        throw new java.io.IOException(s"docstore commit: rename $tmp -> $fin failed")
    }
}

final case class DocstoreCommit(tempFile: String, finalFile: String)
  extends WriterCommitMessage

/** The writer factory of both sinks — ships only (schema, dir, the
  * write's Hadoop conf broadcast) to executors. Temp names carry a dot
  * prefix, excluded by the scan's listing filter until commit. */
class DocstoreWriterFactory(schema: StructType, dir: String,
    conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory with streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DocstoreDataWriter(schema, conf.value.value, dir,
      f"$dir/.part-$partitionId%05d-$taskId.jsonl.inprogress",
      f"$dir/part-$partitionId%05d-$taskId.jsonl")

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new DocstoreDataWriter(schema, conf.value.value, dir,
      f"$dir/.part-s$epochId%012d-$partitionId%05d-$taskId.inprogress",
      f"$dir/part-s$epochId%012d-$partitionId%05d.jsonl")
}

class DocstoreDataWriter(schema: StructType, conf: Configuration, dir: String,
    file: String, finalFile: String) extends DataWriter[InternalRow] {
  private val fs = new HPath(dir).getFileSystem(conf)
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
        ExtJson.quote(sb, st(i).name).append(':')
        renderValue(row.get(i, st(i).dataType), st(i).dataType)
      }
      i += 1
    }
    sb.append('}')
  }

  private def renderValue(v: Any, dt: DataType): Unit = dt match {
    case LongType      => sb.append(v.asInstanceOf[Long])
    case DoubleType    => ExtJson.writeDouble(sb, v.asInstanceOf[Double])
    case IntegerType   => sb.append(v.asInstanceOf[Int])
    case ShortType     => sb.append(v.asInstanceOf[Short])
    case ByteType      => sb.append(v.asInstanceOf[Byte])
    case FloatType     => ExtJson.writeDouble(sb, v.asInstanceOf[Float].toDouble)
    case BooleanType   => sb.append(v.asInstanceOf[Boolean])
    case StringType    => ExtJson.quote(sb, v.asInstanceOf[UTF8String].toString)
    case TimestampType => ExtJson.writeDate(sb, v.asInstanceOf[Long])
    case DateType      => ExtJson.writeDay(sb, v.asInstanceOf[Int])
    case BinaryType    => ExtJson.writeBinary(sb, v.asInstanceOf[Array[Byte]])
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
