package graft

import graft.core.SourceFile
import org.apache.spark.sql.SparkSession

/** Two-parallelism-level scaling evidence (BASELINE.json north_rule:
  * N vs 4N executors; sandbox stand-in per the driver instruction =
  * the same job at local[N] and local[4N] on identical input).
  *
  * Measurement discipline (single shared box → noisy):
  *  - fresh SparkSession + cold cache per run (cache() entries match
  *    by canonicalized plan — a reused session measures only
  *    post-cache stages);
  *  - lo/hi runs INTERLEAVED over `rounds` rounds so machine drift
  *    hits both levels equally; best (min) per level reported, all
  *    samples included in the JSON;
  *  - a decode-stage-only figure rides along: the narrow kernel is
  *    the stage that dominates at real scale, where per-job fixed
  *    latency (constant here, amortized over 1000× the data there)
  *    vanishes.
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val lo = sys.env.getOrElse("SPARK_GRAFT_SCALE_LO", "8").toInt
    val hi = sys.env.getOrElse("SPARK_GRAFT_SCALE_HI", "32").toInt
    val rep = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICATION", "256").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROUNDS", "3").toInt

    def once(cpus: Int): (Double, Double, Long) = {
      val spark = Sessions.local(cpus)
      try {
        import spark.implicits._
        val files = Bench.corpus(spark, sfDir, rep).as[SourceFile]
        val t0 = System.nanoTime()
        graft.pipeline.Pipeline.mentions(files).count()
        val decodeSec = (System.nanoTime() - t0) / 1e9
        val (fullSec, triples) = Bench.runPipeline(spark, sfDir, rep)
        (fullSec, decodeSec, triples)
      } finally {
        spark.catalog.clearCache()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    once(lo); once(hi) // warm-up both levels (JIT/codegen caches)
    val samples = (1 to rounds).flatMap { _ =>
      Seq(lo -> once(lo), hi -> once(hi)) // interleaved
    }
    def best(cpus: Int, f: ((Double, Double, Long)) => Double): Double =
      samples.filter(_._1 == cpus).map(s => f(s._2)).min
    val triples = samples.head._2._3
    val loSec = best(lo, _._1); val hiSec = best(hi, _._1)
    val loDec = best(lo, _._2); val hiDec = best(hi, _._2)
    val loTps = triples / loSec
    val hiTps = triples / hiSec
    val eff = hiTps / ((hi.toDouble / lo) * loTps)
    val decEff = (loDec / hiDec) / (hi.toDouble / lo)
    val allRuns = samples.map { case (c, (f, d, _)) =>
      s"""{"cpus":$c,"full_sec":$f,"decode_sec":$d}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"scaling","sf":"$sfDir","triples":$triples,""" +
      s""""replication":$rep,"rounds":$rounds,""" +
      s""""lo_cpus":$lo,"lo_sec":$loSec,"lo_triples_per_sec":$loTps,""" +
      s""""hi_cpus":$hi,"hi_sec":$hiSec,"hi_triples_per_sec":$hiTps,""" +
      s""""scaling_efficiency":$eff,""" +
      s""""decode_lo_sec":$loDec,"decode_hi_sec":$hiDec,""" +
      s""""decode_scaling_efficiency":$decEff,""" +
      s""""runs":$allRuns}""")
  }
}
