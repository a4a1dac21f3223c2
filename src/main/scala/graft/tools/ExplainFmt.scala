package graft.tools

/** Plan dumper: writes `.explain("formatted")` output for the listed
  * keys to `<outDir>/<key>_<tag>.txt`, with expression ids and fresh
  * lambda-variable suffixes normalised ([[normalise]]) so the dumps of
  * two builds diff line for line. `runMain graft.tools.ExplainFmt <sfDir>
  * <outDir> <tag> <key1,key2,...>`. */
object ExplainFmt {
  /** Masks what differs between two runs of the same plan:
    *  - `x_45#123` → `x_#` (a fresh lambda variable), `#123` → `#` and
    *    `plan_id=67` → `plan_id=`: the counters are JVM-global, so they
    *    differ between any two runs that build plans in another order;
    *  - a checkpoint scan's RDD id and call site,
    *    `MapPartitionsRDD[967] at localCheckpoint at Dedup.scala:1055` →
    *    `MapPartitionsRDD[] at localCheckpoint at <site>`: the id is a
    *    context-global counter and the line moves with any edit;
    *  - object hashes (`UnsafeArrayData@c39e56ca` → `UnsafeArrayData@`)
    *    and JVM lambda class names (`Foo$$Lambda$1712/0x0000000801a3c000`
    *    → `Foo$$Lambda`);
    *  - the per-JVM nonce of a key's scratch collection
    *    (`/tmp/graft_docstore/st20_view_<sf>_<pid>_<random>` →
    *    `/tmp/graft_docstore/st20_view_<sf>`), see
    *    `DocstoreOps.scratchCollection`. */
  def normalise(plan: String): String =
    plan.replaceAll("\\b([a-z]+)_\\d+#\\d+", "$1_#").replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\] at (\\w+) at [\\w$.]+\\.scala:\\d+",
        "RDD[] at $1 at <site>")
      .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{1,8}\\b", "@")
      .replaceAll("(graft_docstore/\\w+?)_[0-9a-f]+_[0-9a-f]{8,16}\\b", "$1")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val keys = args(3).split(",").toSeq
    val spark = graft.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.DocstoreOps.ensureEventDocs(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (k <- keys) {
      try {
        val df = graft.SparkEntry.queries(k)(spark, sfDir)
        val txt = normalise(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${k}_$tag.txt"), txt)
        println(s"WROTE $outDir/${k}_$tag.txt")
      } catch { case e: Throwable =>
        println(s"FAIL $k: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
