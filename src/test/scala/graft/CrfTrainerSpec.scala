package graft

import graft.core.{Corpus, Dict}
import graft.crf.{Crf, CrfTrainer}
import graft.crf.CrfTrainer.LabeledSentence
import graft.features.Features
import graft.segment.Segmenter

class CrfTrainerSpec extends SparkTestBase {

  private val K = Crf.K
  private val N = K + 2
  private val F = Features.numFeatures

  private def randWeights(seed: Int): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(K, F)((rng.nextDouble() * 0.8 - 0.4).toFloat)
  }

  private def randTrans(seed: Int): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Array.tabulate(N, N) { (i, j) =>
      if (Crf.transitions(i)(j) == Crf.WALL) Crf.WALL
      else (rng.nextDouble() * 0.6 - 0.3).toFloat
    }
  }

  test("analytic gradient matches central finite differences") {
    val s = LabeledSentence(
      masks = Array(0x5, 0x1800, 0x22, 0x0),
      tags = Array(Dict.tagId("B-GPE"), Dict.tagId("I-GPE"), Dict.O,
        Dict.O))
    val w = randWeights(3)
    val tr = randTrans(4)
    val (_, gW, gT) = CrfTrainer.sentenceGrad(s, w, tr)
    def nllW(wp: Array[Array[Float]]): Double =
      Crf.nll(s.masks.map(Crf.emit(_, wp)), tr, s.tags)
    def nllT(tp: Array[Array[Float]]): Double =
      Crf.nll(s.masks.map(Crf.emit(_, w)), tp, s.tags)
    val eps = 1e-3f
    // every (tag, feature) that appears in the sentence's masks
    for (k <- 0 until K; f <- Seq(0, 1, 2, 5, 11, 12)) {
      val up = w.map(_.clone); up(k)(f) += eps
      val dn = w.map(_.clone); dn(k)(f) -= eps
      val num = (nllW(up) - nllW(dn)) / (2 * eps)
      assert(math.abs(num - gW(k * F + f)) < 2e-3,
        s"dW($k)($f): numeric $num vs analytic ${gW(k * F + f)}")
    }
    // a spread of legal transition entries incl. START row / END col
    val probes = Seq(
      (Crf.START, Dict.O), (Dict.O, Dict.O),
      (Dict.tagId("B-GPE"), Dict.tagId("I-GPE")),
      (Dict.O, Crf.END), (Dict.tagId("I-GPE"), Dict.O))
    for ((i, j) <- probes) {
      val up = tr.map(_.clone); up(i)(j) += eps
      val dn = tr.map(_.clone); dn(i)(j) -= eps
      val num = (nllT(up) - nllT(dn)) / (2 * eps)
      assert(math.abs(num - gT(i * N + j)) < 2e-3,
        s"dT($i)($j): numeric $num vs analytic ${gT(i * N + j)}")
    }
  }

  test("training from zero recovers the teacher's decode (NLL drops, token acc > 0.97)") {
    val s = spark
    import s.implicits._
    val sentences = Segmenter.sentences(
      Corpus.synthesize(spark, 40).as[graft.core.SourceFile])
    val gold = Crf.tag(sentences) // teacher = the hand-derived model
    val data = CrfTrainer.labeled(gold)
    val (w, tr, hist) = CrfTrainer.train(data, epochs = 25)

    assert(hist.last < hist.head * 0.25,
      s"NLL should collapse: ${hist.head} -> ${hist.last}")
    // student decode vs teacher tags
    val goldLocal = gold.collect()
    val gaz = Dict.gazIndex
    var ok = 0L; var tot = 0L
    goldLocal.foreach { ts =>
      val masks = Features.sentenceBits(ts.tokens, gaz)
      val path = Crf.viterbi(masks.map(Crf.emit(_, w)), tr)
      path.zip(ts.tags).foreach { case (p, g) =>
        if (Dict.tags(p) == g) ok += 1
        tot += 1
      }
    }
    val acc = ok.toDouble / tot
    assert(acc > 0.97, s"token accuracy $acc (n=$tot)")

    // train -> save -> load -> serve: the full model lifecycle
    val dir = graft.core.TempDirs.create("graft-trained") + "/model"
    graft.io.ModelIO.save(spark, graft.crf.Ensemble.Model(w, tr), dir)
    val loaded = graft.io.ModelIO.load(spark, dir)
    val served = Crf.tag(sentences, loaded.emissions, loaded.transitions)
      .collect().sortBy(ts => (ts.path, ts.sentIdx))
      .map(_.tags.mkString(" ")).toSeq
    val direct = goldLocal.sortBy(ts => (ts.path, ts.sentIdx)).map { ts =>
      val masks = Features.sentenceBits(ts.tokens, gaz)
      Crf.viterbi(masks.map(Crf.emit(_, w)), tr)
        .map(Dict.tags).mkString(" ")
    }.toSeq
    assert(served == direct, "loaded model must serve the same decode")
  }
}
