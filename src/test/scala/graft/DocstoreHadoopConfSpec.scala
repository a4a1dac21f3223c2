package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.TaskContext
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The local file system under the scheme `cnt`, counting the listings
  * and the driver-side opens (those outside any task) it serves. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = CountingFileSystem.Uri
  override def getScheme: String = "cnt"
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.listings.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (TaskContext.get() == null) CountingFileSystem.driverOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val Uri: URI = URI.create("cnt:///")
  val listings = new AtomicInteger()
  val driverOpens = new AtomicInteger()
  def reset(): Unit = { listings.set(0); driverOpens.set(0) }
}

/** Docstore I/O runs on the session's Hadoop configuration: a scheme
  * registered only there (and kept out of Hadoop's FileSystem cache, so
  * no call can ride an instance another call created) serves every
  * docstore path — batch and streaming reads, the sink and its commit,
  * and the catalog. */
class DocstoreHadoopConfSpec extends SparkSpec {
  // Hadoop keys in the session's SQL conf reach its Hadoop conf
  private val confKeys = Seq(
    "fs.cnt.impl" -> classOf[CountingFileSystem].getName,
    "fs.cnt.impl.disable.cache" -> "true")

  private def withCntScheme[T](body: => T): T = {
    confKeys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confKeys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def collection(name: String, files: Int, docsPerFile: Int): String = {
    val dir = s"/tmp/graft_docstore_conf_spec/$name"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    Files.createDirectories(Paths.get(dir))
    for (f <- 0 until files)
      Files.write(Paths.get(f"$dir/part-$f%02d.jsonl"), (0 until docsPerFile)
        .map { i => val id = f * docsPerFile + i
          s"""{"id":$id,"grp":"g${id % 3}"}""" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    dir
  }

  test("a scheme set only in the session's Hadoop conf serves every docstore path") {
    val dir = collection("session_scheme", files = 2, docsPerFile = 10)
    withCntScheme {
      // Spark's own file source reads the scheme through the same conf
      assert(spark.read.json(s"cnt://$dir").count() == 20)

      // batch read
      val df = Graft.mongoScan(spark, s"cnt://$dir")
      assert(df.count() == 20)

      // sink write and its commit, then an overwrite's truncate
      val out = "cnt:///tmp/graft_docstore_conf_spec/session_sink"
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File("/tmp/graft_docstore_conf_spec/session_sink"))
      df.write.format("docstore").option("path", out).mode("append").save()
      df.filter("id < 5").write.format("docstore").option("path", out)
        .mode("overwrite").save()
      assert(spark.read.format("docstore").option("path", out).load()
        .count() == 5)

      // streaming read into the streaming sink
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("grp", StringType)))
      val streamOut = "/tmp/graft_docstore_conf_spec/session_stream"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(streamOut))
      val q = spark.readStream.format("docstore").schema(schema)
        .option("path", s"cnt://$dir").load()
        .writeStream.format("docstore").option("path", s"cnt://$streamOut/data")
        .option("checkpointLocation", s"$streamOut/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      assert(spark.read.format("docstore").option("path", s"$streamOut/data")
        .load().count() == 20)

      // ATTACH plus SELECT
      val root = "/tmp/graft_docstore_conf_spec/session_catalog"
      Files.createDirectories(Paths.get(s"$root/db"))
      Files.copy(Paths.get(s"$dir/part-00.jsonl"), Paths.get(s"$root/db/c.jsonl"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Graft.attach(spark, "cntcat", s"cnt://$root")
      try {
        assert(spark.sql("SHOW TABLES IN cntcat.db").count() == 1)
        assert(spark.sql("SELECT count(*) FROM cntcat.db.c").head.getLong(0) == 10)
      } finally Graft.detach(spark, "cntcat")
    }
  }

  test("one filtered mongoScan query lists at most twice and reads its sample once") {
    // the 100-doc sample lies inside the first file
    val dir = collection("counted", files = 4, docsPerFile = 150)
    withCntScheme {
      CountingFileSystem.reset()
      val df = Graft.mongoScan(spark, s"cnt://$dir", filter = """{"grp":"g1"}""")
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > 0)
      assert(df.collect().length == (0 until 600).count(_ % 3 == 1))
      assert(CountingFileSystem.listings.get() <= 2,
        s"listings: ${CountingFileSystem.listings.get()}")
      assert(CountingFileSystem.driverOpens.get() == 1,
        s"driver-side opens: ${CountingFileSystem.driverOpens.get()}")
    }
  }
}
