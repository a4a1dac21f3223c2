package graft

import org.apache.spark.sql.SparkSession

/** The one session every graft main runs on: `local[SPARK_GRAFT_CPUS]`
  * (default 4), shuffle partitions equal to the core count, UTC session
  * time zone, no UI. Each caller sets its own log level; every caller
  * gets the benign-accumulator-ERROR log filter
  * ([[graft.tools.LogFilters]]), installed once per JVM. */
object LocalSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  private lazy val logFilter: Unit = tools.LogFilters.installAccumulatorFilter()

  // the filter goes on after the session exists: Spark's first logging
  // initialization may replace the log4j configuration it attaches to
  def apply(): SparkSession = { val s = builder(); logFilter; s }

  private def builder(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    // NOTE: measured A/B (2026-08-12): forcing post-shuffle coalescing
    // (adaptive.coalescePartitions.parallelismFirst=false) costs ~8%
    // here — with 32 idle cores the extra tiny tasks are free and
    // coalescing only serializes. On a saturated cluster the tradeoff
    // flips; leave the Spark default and tune per deployment.
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
