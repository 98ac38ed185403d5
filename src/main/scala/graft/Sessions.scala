package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of [[Cli]] and the mains. */
object Sessions {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time,
    * the engine's [[graft.plans.GraftExtensions]], no UI and WARN logs.
    * Adaptive execution is on by Spark 4's default. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
