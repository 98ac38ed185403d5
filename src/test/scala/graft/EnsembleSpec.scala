package graft

import graft.core.{Corpus, Dict, Sentence, SourceFile}
import graft.crf.{Crf, DecodeKernel, Ensemble, Model, TokenFeatures}
import graft.pipeline.LangPack
import graft.segment.Segmenter
import org.apache.spark.sql.Dataset

class EnsembleSpec extends SparkTestBase {

  private def base = Model.weights(Crf.emissionWeights, Crf.transitions)

  /** The eng pack's decode: the default weights-only model. */
  private def engTag(sents: Dataset[Sentence]) =
    DecodeKernel.tag(sents, LangPack("eng").decoder)

  test("ensemble of K identical models decodes exactly like one " +
      "(decoders.py:210-213 mean)") {
    val s = spark
    import s.implicits._
    val sents = Segmenter.sentences(Corpus.synthesize(spark, 30))
    val single = engTag(sents)
      .map(t => (t.repo, t.path, t.sentIdx, t.tags.mkString(",")))
      .collect().toSet
    val ens = Ensemble.ensembleTag(sents, Seq(base, base, base))
      .map(t => (t.repo, t.path, t.sentIdx, t.tags.mkString(",")))
      .collect().toSet
    assert(ens == single)
    assert(ens.nonEmpty)
  }

  test("full ensemble workflow: split -> train K -> average -> decode") {
    val s = spark
    import s.implicits._
    val sentences = Segmenter.sentences(
      Corpus.synthesize(spark, 30).as[SourceFile])
    val gold = engTag(sentences)
    val labeled = graft.crf.CrfTrainer.labeled(gold)
    val splits = graft.conll.Scans.ensembleSplit(labeled.toDF(), 3)
    val models = splits.toSeq.map { df =>
      val (w, _, tr, _) = graft.crf.CrfTrainer.train(
        df.as[graft.crf.CrfTrainer.WordSentence], vocabSize = 0,
        epochs = 15)
      Model.weights(w, tr)
    }
    val avg = Ensemble.average(models)
    val served = DecodeKernel.tag(sentences,
        DecodeKernel.decoder(TokenFeatures.eng, avg))
      .collect().sortBy(ts => (ts.path, ts.sentIdx))
    val teacher = gold.collect().sortBy(ts => (ts.path, ts.sentIdx))
    val (ok, tot) = served.zip(teacher).foldLeft((0L, 0L)) {
      case ((o, t), (a, b)) =>
        (o + a.tags.zip(b.tags).count(p => p._1 == p._2), t + a.tags.length)
    }
    assert(tot > 0 && ok.toDouble / tot > 0.95,
      s"ensemble-of-trained decode acc ${ok.toDouble / tot}")
  }

  test("average is the element-wise mean") {
    val half = Model.weights(
      Crf.emissionWeights.map(_.map(_ * 0f)),
      Crf.transitions.map(_.clone()))
    val avg = Ensemble.average(Seq(base, half))
    val t = Dict.tagId("B-GPE")
    assert(avg.featW(t)(graft.features.Features.B_GAZ) ==
      Crf.emissionWeights(t)(graft.features.Features.B_GAZ) / 2)
  }

  test("routed decode picks a model per sentence (main.py test_2)") {
    val s = spark
    import s.implicits._
    val sents = Segmenter.sentences(Corpus.synthesize(spark, 20))
    // model B suppresses all gazetteer evidence → tags everything O
    val blind = Model.weights(
      Crf.emissionWeights.map(_.map(_ => 0f)), Crf.transitions)
    val routed = Ensemble.routedTag(sents, IndexedSeq(base, blind),
      sel => if (sel.path.hashCode % 2 == 0) 0 else 1)
    val tagged = routed.collect()
    val blindSide = tagged.filter(_.path.hashCode % 2 != 0)
    assert(blindSide.forall(_.tags.forall(_ == "O")))
    val baseSide = tagged.filter(_.path.hashCode % 2 == 0)
    assert(baseSide.exists(_.tags.exists(_ != "O")))
  }

  test("average rejects a model that is not weights-only, naming what " +
      "the mean would drop") {
    val fitted = graft.crf.DefaultModel.fitted
    val e = intercept[IllegalArgumentException](
      Ensemble.average(Seq(base, fitted)))
    assert(e.getMessage.contains(
      s"model 1 would lose ${fitted.wordW.size} word rows"), e.getMessage)
    val shaped = intercept[IllegalArgumentException](Ensemble.average(Seq(
      base.copy(shapeW = Map(3 -> Array.fill(Dict.K)(0.5f))), base)))
    assert(shaped.getMessage.contains("model 0 would lose 1 shape rows"),
      shaped.getMessage)
    val scaled = intercept[IllegalArgumentException](
      Ensemble.average(Seq(base.copy(lambda = 0.5f))))
    assert(scaled.getMessage.contains("lambda = 0.5"), scaled.getMessage)
  }
}
