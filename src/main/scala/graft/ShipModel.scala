package graft

import graft.io.ModelIO

/** Regenerate the SHIPPED English model artifact (VERDICT r2 ask 3):
  * the 300-epoch discriminative `trainWords` fit with OOV-gated
  * Brown-cluster features, saved via [[ModelIO.saveFitted]] to
  * `models/eng.fitted` (or argv(0)) and committed in-repo, so
  * `Cli tag/eval` serve the best model without retraining and
  * EngModelSpec gates the ARTIFACT's F1, not a fresh train.
  *
  * Run: sbt "runMain graft.ShipModel [outDir] [epochs] [numClusters]"
  * (~4 min at 300 epochs on local[16]); prints the eng.test micro
  * P/R/F1 to paste into the artifact gate when re-shipping.
  */
object ShipModel {

  val defaultPath = "models/eng.fitted"

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(defaultPath)
    val epochs = args.lift(1).map(_.toInt).getOrElse(300)
    val numC = args.lift(2).map(_.toInt).getOrElse(256)
    val spark = Sessions.local(16)
    import spark.implicits._
    val t0 = System.nanoTime()
    val cmap = FitEval.engClusters(spark, numC)
    val model = FitEval.trainFullModel(spark, epochs, clusters = cmap)
    println(f"trained $epochs epochs (C=$numC) in " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s")
    ModelIO.saveFitted(spark, model, out)
    println(s"artifact -> $out (vocab ${model.wordW.size}, " +
      s"clusters ${model.clusterW.size})")
    // measure the artifact as loaded (round-trip included)
    val loaded = ModelIO.loadFitted(spark, out)
    val testSents = graft.conll.ConllOps
      .conllFileSentences(spark, graft.core.RefData.engTest.existing)
      .map(x => (x.sentId, x.words, x.tags.map(FitEval.tagIdOf)))
    val gold = FitEval.spansOf(testSents.map { case (id, words, tags) =>
      graft.core.TaggedSentence("eng", "test", id.toInt, words,
        Array.tabulate(words.length)(i => i),
        Array.tabulate(words.length)(i => i + 1),
        tags.map(graft.core.Dict.tags))
    })
    val sents = FitEval.toSentences(testSents)
    val (p, r, f1) = FitEval.microF1(loaded, sents, gold)
    println(f"artifact eng.test micro P=$p%.4f R=$r%.4f F1=$f1%.4f")
    spark.stop()
  }
}
