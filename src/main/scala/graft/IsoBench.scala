package graft

import graft.core.SourceFile
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession

/** Decode-kernel scaling isolation: times ONLY the shuffle-free
  * mention-detection stage (segment→featurize→Viterbi→spans fused
  * mapPartitions) at two parallelism levels, complementing
  * [[ScalingBench]] which times the whole pipeline (the north-rule
  * metric). The kernel is embarrassingly parallel, so its efficiency
  * bounds what the end-to-end number can reach.
  *
  * Usage: `runMain graft.IsoBench [replication] [samples]`
  * (defaults 2048, 2). Fresh session + cold cache per timed run;
  * prints one summary line.
  */
object IsoBench {
  def main(args: Array[String]): Unit = {
    val rep = if (args.length > 0) args(0).toInt else 2048
    val samples = if (args.length > 1) args(1).toInt else 2

    def once(cpus: Int, r: Int): Double = {
      val spark = Sessions.local(cpus)
      try {
        spark.sparkContext.setLogLevel("ERROR")
        import spark.implicits._
        val files = Bench.corpus(spark, "/root/testdata/sf0.1", r)
          .as[SourceFile]
        val t0 = System.nanoTime()
        Pipeline.mentions(files).count()
        (System.nanoTime() - t0) / 1e9
      } finally {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    once(8, 64); once(32, 64) // JIT + codegen warm-up at toy size
    val runs = (1 to samples)
      .flatMap(_ => Seq(8 -> once(8, rep), 32 -> once(32, rep)))
    val lo = runs.filter(_._1 == 8).map(_._2).min
    val hi = runs.filter(_._1 == 32).map(_._2).min
    println(f"""{"decode_rep":$rep,"files":${5000L * rep},""" +
      f""""local8_sec":$lo%.1f,"local32_sec":$hi%.1f,""" +
      f""""scaling_efficiency":${(lo / hi) / 4}%.3f,""" +
      f""""samples":"${runs.map(s => f"${s._1}:${s._2}%.1f").mkString(",")}"}""")
  }
}
