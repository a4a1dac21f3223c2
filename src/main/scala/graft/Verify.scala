package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated key subset for fast local checks
    val keep: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else _ => true
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A key that throws before producing a frame must leave an explicit
    // artifact, not an absence — round 6 lost 19 keys invisibly because
    // failures left no row to turn red.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          errors(name) = msg.take(500)
          System.err.println(s"[verify] $name failed: $msg")
        }
    }
    // every control char escaped: a tab or CR in an oracle string would
    // otherwise make a reader's json.load fail
    val q = graft.sources.ExtJson.quote(_: String)
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Explicit per-key failure artifact ({} when everything ran): a key
    // listed here threw before writing its parquet, so its missing
    // CORRECTNESS row is a recorded error, not a silent omission.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    // rc stays 0: the driver's compare must still see the keys that DID
    // produce parquet; errors.json + stderr carry the failure signal.
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} key(s) FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
