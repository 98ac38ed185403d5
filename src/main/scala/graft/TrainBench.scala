package graft

import graft.core.SourceFile
import graft.crf.{Crf, CrfTrainer}
import graft.segment.Segmenter

/** CRF-training throughput: sentences/sec/epoch of the treeAggregate
  * gradient pass at `SPARK_GRAFT_CPUS` over the sfDir corpus
  * (replicated like Bench). One JSON line. */
object TrainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rep = sys.env.getOrElse("SPARK_GRAFT_REPLICATION", "8").toInt
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val sentences = Segmenter.sentences(
      Bench.corpus(spark, sfDir, rep).as[SourceFile])
    val gold = Crf.tag(sentences)
    val data = CrfTrainer.labeled(gold)
    val n = data.count() // also materializes upstream once
    CrfTrainer.train(data, epochs = 1) // warm-up epoch (JIT)
    val epochs = 5
    val t0 = System.nanoTime()
    val (_, _, hist) = CrfTrainer.train(data, epochs = epochs)
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"crf_train_sentences_per_sec_per_epoch",""" +
      s""""value":${n * epochs / sec},"sentences":$n,"epochs":$epochs,""" +
      s""""wall_sec":$sec,"nll_first":${hist.head},""" +
      s""""nll_last":${hist.last},"cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }
}
