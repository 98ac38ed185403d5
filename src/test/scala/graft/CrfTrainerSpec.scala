package graft

import graft.core.{Corpus, Dict}
import graft.crf.{Crf, CrfTrainer, DecodeKernel, Model, TokenFeatures}
import graft.crf.CrfTrainer.WordSentence
import graft.features.Features
import graft.pipeline.LangPack
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

  /** Emissions of `s`: featW `w` over its masks plus its identity rows
    * in `wv`. */
  private def emissions(s: WordSentence, w: Array[Array[Float]],
      wv: Array[Array[Float]]): Array[Array[Float]] =
    s.masks.indices.map { t =>
      val e = Crf.emit(s.masks(t), w)
      for (ids <- Seq(s.wordIds, s.clusterIds) if ids.nonEmpty;
           id = ids(t) if id >= 0; k <- 0 until K) e(k) += wv(id)(k)
      e
    }.toArray

  /** Central finite differences of the NLL against the one gradient
    * on every block: feature weights `w`, identity rows `wv` and the
    * legal transition entries `tr`. */
  private def checkGradient(s: WordSentence, w: Array[Array[Float]],
      wv: Array[Array[Float]], tr: Array[Array[Float]],
      features: Seq[Int], tol: Double): Unit = {
    val gW = new Array[Double](K * F)
    val gT = new Array[Double](N * N)
    val gV = new Array[Double](wv.length * K)
    CrfTrainer.addSentenceGrad(s, w, wv, tr, gW, gT, gV)
    def nll(wp: Array[Array[Float]], wvp: Array[Array[Float]],
        tp: Array[Array[Float]]): Double =
      Crf.nll(emissions(s, wp, wvp), tp, s.tags)
    val eps = 1e-3f
    def numeric(block: Array[Array[Float]], i: Int, j: Int)(
        at: Array[Array[Float]] => Double): Double = {
      val up = block.map(_.clone); up(i)(j) += eps
      val dn = block.map(_.clone); dn(i)(j) -= eps
      (at(up) - at(dn)) / (2 * eps)
    }
    // every (tag, feature) that appears in the sentence's masks
    for (k <- 0 until K; f <- features) {
      val num = numeric(w, k, f)(nll(_, wv, tr))
      assert(math.abs(num - gW(k * F + f)) < tol,
        s"dW($k)($f): numeric $num vs analytic ${gW(k * F + f)}")
    }
    for (v <- wv.indices; k <- 0 until K) {
      val num = numeric(wv, v, k)(nll(w, _, tr))
      assert(math.abs(num - gV(v * K + k)) < tol,
        s"dV($v)($k): numeric $num vs analytic ${gV(v * K + k)}")
    }
    // a spread of legal transition entries incl. START row / END col
    val probes = Seq(
      (Crf.START, Dict.O), (Dict.O, Dict.O),
      (Dict.tagId("B-GPE"), Dict.tagId("I-GPE")),
      (Dict.O, Crf.END), (Dict.tagId("I-GPE"), Dict.O),
      (Crf.START, s.tags(0)), (s.tags.last, Crf.END))
    for ((i, j) <- probes) {
      val num = numeric(tr, i, j)(nll(w, wv, _))
      assert(math.abs(num - gT(i * N + j)) < tol,
        s"dT($i)($j): numeric $num vs analytic ${gT(i * N + j)}")
    }
  }

  test("analytic gradient matches central finite differences") {
    // features only: no identity rows
    checkGradient(
      WordSentence(masks = Array(0x5, 0x1800, 0x22, 0x0),
        tags = Array(Dict.tagId("B-GPE"), Dict.tagId("I-GPE"), Dict.O,
          Dict.O)),
      randWeights(3), Array.empty, randTrans(4),
      features = Seq(0, 1, 2, 5, 11, 12), tol = 2e-3)
    // word + cluster identity rows: rows 0-1 are words, rows 2-3 Brown
    // clusters; token 0 fires a word and a cluster row, token 1 a word
    // only, token 2 a cluster only
    checkGradient(
      WordSentence(Array(1 << Features.CAPITALIZED, 0, 1 << 2),
        Array(0, K - 1, 2), wordIds = Array(0, 1, -1),
        clusterIds = Array(2, -1, 3)),
      Array.tabulate(K, F)((t, f) => ((t * 7 + f) % 5 - 2) * 0.1f),
      Array.tabulate(4, K)((v, t) => ((v + t) % 3 - 1) * 0.2f),
      Array.tabulate(N, N) { (i, j) =>
        if (Crf.walls(i)(j)) Crf.WALL else ((i + j) % 4 - 1) * 0.1f
      },
      features = Seq(2, Features.CAPITALIZED), tol = 1e-2)
  }

  test("training from zero recovers the teacher's decode (NLL drops, token acc > 0.97)") {
    val s = spark
    import s.implicits._
    val sentences = Segmenter.sentences(
      Corpus.synthesize(spark, 40).as[graft.core.SourceFile])
    // teacher = the eng pack's default model
    val gold = DecodeKernel.tag(sentences, LangPack("eng").decoder)
    val goldLocal = gold.collect()
    val gaz = Dict.gazIndex
    // features only, then with one word identity row per distinct token
    // of the synthesized corpus
    val vocab = goldLocal.flatMap(_.tokens).distinct.sorted.zipWithIndex.toMap
    val withWords = goldLocal.toSeq.map(ts => WordSentence(
      Features.sentenceBits(ts.tokens, gaz), ts.tags.map(Dict.tagId),
      wordIds = ts.tokens.map(vocab)))
    val models = Seq((CrfTrainer.labeled(gold), 0),
        (withWords.toDS(), vocab.size)).map { case (data, vocabSize) =>
      val (w, wv, tr, hist) = CrfTrainer.train(data, vocabSize,
        epochs = 25)
      assert(hist.last < hist.head * 0.25,
        s"vocabSize $vocabSize: NLL should collapse: " +
          s"${hist.head} -> ${hist.last}")
      if (vocabSize > 0)
        assert(wv.flatten.exists(_ != 0f), "identity rows must train")
      // student decode vs teacher tags
      var ok = 0L; var tot = 0L
      data.collect().foreach { r =>
        Crf.viterbi(emissions(r, w, wv), tr).zip(r.tags).foreach {
          case (p, g) =>
            if (p == g) ok += 1
            tot += 1
        }
      }
      val acc = ok.toDouble / tot
      assert(acc > 0.97, s"vocabSize $vocabSize: token accuracy $acc " +
        s"(n=$tot)")
      (w, tr)
    }

    // train -> save -> load -> serve: the full model lifecycle
    val (w, tr) = models.head
    val dir = graft.core.TempDirs.create("graft-trained") + "/model"
    graft.io.ModelIO.save(spark, Model.weights(w, tr), dir)
    val loaded = graft.io.ModelIO.load(spark, dir)
    val served = DecodeKernel.tag(sentences,
        DecodeKernel.decoder(TokenFeatures.eng, loaded))
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
