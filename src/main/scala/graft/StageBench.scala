package graft

import graft.core.{Mention, Sentence, SourceFile}
import org.apache.spark.sql.SparkSession

/** Per-stage scaling diagnosis: times each pipeline stage behind an
  * eager materialization barrier at each parallelism level, so the
  * non-scaling stage(s) can be named instead of guessed. Env:
  * SPARK_GRAFT_STAGE_CPUS="2,8", SPARK_GRAFT_SCALE_REPLICATION. */
object StageBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpusList = sys.env.getOrElse("SPARK_GRAFT_STAGE_CPUS", "2,8")
      .split(',').map(_.trim.toInt).toSeq
    val rep = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICATION", "256").toInt

    def once(cpus: Int): Seq[(String, Double)] = {
      val spark = Sessions.local(cpus)
      try {
        import spark.implicits._
        val out = Seq.newBuilder[(String, Double)]
        def time[T](label: String)(f: => T): T = {
          val t0 = System.nanoTime()
          val r = f
          out += (label -> (System.nanoTime() - t0) / 1e9)
          r
        }
        val files = Bench.corpus(spark, sfDir, rep).as[SourceFile]
        val ments = time("decode") {
          graft.pipeline.Pipeline.mentions(files)
            .localCheckpoint(true).as[Mention]
        }
        val sents = time("segment") {
          graft.segment.Segmenter.sentences(files)
            .localCheckpoint(true).as[Sentence]
        }
        val post = time("postprocess") {
          graft.postprocess.PostProcess(sents, ments)
            .localCheckpoint(true).as[Mention]
        }
        val linked = time("link") {
          graft.link.Linker.link(post).localCheckpoint(true)
            .as[graft.link.Linker.LinkedMention]
        }
        time("triples") {
          graft.triples.Triples.materialize(linked).count()
        }
        out.result()
      } finally {
        spark.catalog.clearCache()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    cpusList.foreach(once) // warm-up
    val results = cpusList.map(c => c -> once(c))
    results.foreach { case (c, stages) =>
      val total = stages.map(_._2).sum
      println(f"cpus=$c total=$total%.1f " +
        stages.map { case (l, s) => f"$l=$s%.1f" }.mkString(" "))
    }
    if (results.size == 2) {
      val lo = results.head; val hi = results.last
      val ratio = hi._1.toDouble / lo._1
      lo._2.zip(hi._2).foreach { case ((l, ls), (_, hs)) =>
        println(f"stage $l%-12s lo=$ls%7.1f hi=$hs%7.1f " +
          f"eff=${ls / hs / ratio}%.3f")
      }
    }
  }
}
