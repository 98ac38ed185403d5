package graft

/** Optimization-round helper (guide §1.4): times each declared query
  * against a noop sink — every column of every row computed, nothing
  * written — and optionally dumps `explain("formatted")` to
  * `plans/r06/<query>_<suffix>.txt` so plan claims are checkable
  * without running Spark. Separate main so the frozen [[Bench]]
  * methodology is untouched.
  *
  * Usage: `runMain graft.BenchExtra [time|plans] [suffix] [q1,q2,...]`
  * (defaults: time, before, all queries in sorted order — the same
  * order Bench runs them, so shared-view warm/cold behavior matches).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mode = if (args.nonEmpty) args(0) else "time"
    val suffix = if (args.length > 1) args(1) else "before"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(',').toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(cpus.toInt)
    val qs = SparkEntry.queries
    names.foreach { n =>
      val fn = qs(n)
      spark.sparkContext.setJobDescription(n)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[extra] $n%-36s $sec%8.3f s")
      if (mode == "plans") {
        val p = java.nio.file.Paths.get(s"plans/r06/${n}_$suffix.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p,
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
