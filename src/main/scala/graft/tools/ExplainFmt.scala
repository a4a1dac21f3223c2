package graft.tools

/** Round-15 plan-artifact dumper: writes `.explain("formatted")` output
  * for the listed keys to `<outDir>/<key>_<tag>.txt` — the
  * before/after evidence files the optimization round commits under
  * plans/r15/. `runMain graft.tools.ExplainFmt <sfDir> <outDir> <tag>
  * <key1,key2,...>`. */
object ExplainFmt {
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
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
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
