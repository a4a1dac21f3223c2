package graft.tools

/** Plan dumper: writes `.explain("formatted")` output for the listed
  * keys to `<outDir>/<key>_<tag>.txt`, with expression ids and fresh
  * lambda-variable suffixes normalised ([[normalise]]) so the dumps of
  * two builds diff line for line. `runMain graft.tools.ExplainFmt <sfDir>
  * <outDir> <tag> <key1,key2,...>`. */
object ExplainFmt {
  /** `x_45#123` → `x_#` (a fresh lambda variable), `#123` → `#` and
    * `plan_id=67` → `plan_id=`: the counters are JVM-global, so they
    * differ between any two runs that build plans in another order. */
  def normalise(plan: String): String =
    plan.replaceAll("\\b([a-z]+)_\\d+#\\d+", "$1_#").replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")

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
