package graft

import graft.core.SourceFile
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): one JSON line on stdout.
  *
  * Headline metric = end-to-end KG pipeline throughput in triples/sec
  * (BASELINE.json metric) over the documents-derived corpus, replicated
  * [[Bench.replication]]× so compute dominates fixed job overhead at
  * small SF; per-query wall times ride along in `queries`, and a query
  * that throws is listed in `failed` (name, exception class and
  * message) with no time.
  */
object Bench {

  /** Corpus for throughput runs: the sfDir documents replicated with
    * distinct paths (same text → same decode work per copy). */
  def corpus(spark: SparkSession, sfDir: String, replication: Int)
      : DataFrame = {
    val base = graft.core.Corpus.fromDocuments(spark, sfDir)
    spark.range(replication).toDF("copy")
      .crossJoin(base)
      .select(col("repo"),
        concat(col("copy").cast("string"), lit("/"), col("path"))
          .as("path"),
        col("commit"), col("lang"), col("content"))
  }

  def replication: Int =
    sys.env.getOrElse("SPARK_GRAFT_REPLICATION", "8").toInt

  /** Headline samples per run (r4 verdict #2: one sample on a shared
    * box reads as a fake regression under neighbor load — the r4
    * driver artifact recorded 13.2k t/s for code measuring 20.5k
    * quiet). Min-of-3 with all samples disclosed makes the artifact
    * self-interpreting. */
  def samplesPerRun: Int =
    sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "3").toInt

  /** The tail-safe driver-contract line: ≤ 250 bytes so ANY tail
    * window captures one complete JSON object (BENCH_r01/r02 recorded
    * parsed:null because the full per-query line truncated mid-line).
    * Printed LAST by [[main]]; format pinned by DriverContractSpec. */
  def shortJson(tps: Double, pipeSec: Double, triples: Long,
      cpus: String, sfDir: String): String =
    s"""{"metric":"pipeline_triples_per_sec","value":$tps,""" +
    s""""unit":"triples/sec","pipeline_sec":$pipeSec,""" +
    s""""triples":$triples,"cpus":$cpus,"sf":"$sfDir"}"""

  /** One pipeline run → (seconds, triples). */
  def runPipeline(spark: SparkSession, sfDir: String,
      rep: Int = replication): (Double, Long) = {
    import spark.implicits._
    val files = corpus(spark, sfDir, rep).as[SourceFile]
    val t0 = System.nanoTime()
    val n = Pipeline.triples(files).count()
    ((System.nanoTime() - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    // JIT + codegen + parquet-footer warm-up at the smallest SF so the
    // first timed queries don't carry one-time JVM costs; skipped if
    // the warm-up dir is absent (or IS the bench dir).
    val warmDir = "/root/testdata/sf0.001"
    if (warmDir != sfDir && new java.io.File(warmDir).exists()) {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    }
    // a query that throws is reported under `failed` and gets no time:
    // a time would read as a fast query
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Right(name -> (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(name -> e) }
    }
    val results = runs.collect { case Right(r) => r }
    val failed = runs.collect { case Left((name, e)) =>
      s"""{"query":${Verify.jsonString(name)},"error":""" +
        Verify.jsonString(s"${e.getClass.getName}: ${e.getMessage}") + "}"
    }
    // the per-query loop materialized session-lifetime shared views
    // (localCheckpoint blocks, new in round 3) — drop and unpersist
    // them so the headline pipeline run measures the engine with a
    // clean block store, not the gate's litter
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    // min-of-N headline samples, block store scrubbed before EACH so a
    // sample never times against the previous run's checkpoint litter
    // (each sample still derives everything cold — nothing in the
    // pipeline plan is cached across runs)
    val samples = (1 to samplesPerRun).map { _ =>
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      runPipeline(spark, sfDir)
    }
    val (pipeSec, triples) = samples.minBy(_._1)
    val tps = if (pipeSec > 0) triples / pipeSec else 0.0
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val samplesJson = samples.map(_._1).mkString("[", ",", "]")
    val json = s"""{"metric":"pipeline_triples_per_sec","value":$tps,""" +
      s""""unit":"triples/sec","pipeline_sec":$pipeSec,""" +
      s""""samples":$samplesJson,""" +
      s""""triples":$triples,"replication":$replication,""" +
      s""""cpus":$cpus,"queries":$qs,""" +
      s""""failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(json)
    // Driver contract: the full line above is ~3.7 KB and the driver's
    // tail window has truncated it mid-line two rounds running
    // (BENCH_r01/r02 parsed:null). Print the SHORT metric-only line
    // LAST so any tail capture ends with one complete JSON object;
    // per-query detail stays in the full line + BENCH_LOCAL.json.
    val short = shortJson(tps, pipeSec, triples, cpus, sfDir)
    println(short)
    // Belt-and-braces for the driver contract: sbt may decorate stdout
    // (round-1 BENCH parsed:null), so the metric lines also land in
    // known files next to the build — the full line alone in
    // BENCH_LOCAL.json (one JSON object, json.load-able) and the
    // tail-safe short line alone in BENCH_SHORT.json.
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), json + "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_SHORT.json"), short + "\n")
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
