package graft

import graft.core.Dict
import graft.crf.Crf
import org.scalatest.funsuite.AnyFunSuite

/** Viterbi vs brute-force path enumeration (SURVEY.md §5 property
  * tests): exact path equality incl. first-max tie-break, on random
  * emissions and on the real BIO-constrained transition matrix.
  * Seeded generation — byte-identical inputs every run (FIXTURES.md §C).
  */
class ViterbiSpec extends AnyFunSuite {

  val K = Crf.K
  private def rng(seed: Long) = new java.util.Random(seed)

  // quantized scores make exact ties common → exercises the
  // first-max-wins rule (decoders.py:180,186 np.argmax semantics)
  private def randEmissions(r: java.util.Random): Array[Array[Float]] = {
    val t = 1 + r.nextInt(5)
    Array.fill(t)(Array.fill(K)((r.nextInt(7) - 3).toFloat))
  }
  private def randTrans(r: java.util.Random): Array[Array[Float]] =
    Array.fill(K + 2)(Array.fill(K + 2)((r.nextInt(5) - 2).toFloat))

  test("viterbi == brute force on 300 random matrices (path + tie-break)") {
    val r = rng(42)
    (1 to 300).foreach { i =>
      val em = randEmissions(r)
      val tr = randTrans(r)
      val got = Crf.viterbi(em, tr)
      val (want, _) = Crf.bruteForce(em, tr)
      assert(got.toSeq == want.toSeq, s"case $i")
    }
  }

  test("viterbi == brute force on the real constrained transitions") {
    val r = rng(7)
    (1 to 300).foreach { i =>
      val em = randEmissions(r)
      val got = Crf.viterbi(em, Crf.transitions)
      val (want, _) = Crf.bruteForce(em, Crf.transitions)
      assert(got.toSeq == want.toSeq, s"case $i")
    }
  }

  test("a long sentence scoring below the pinned -2000 of START decodes " +
      "to real tag ids only") {
    // 500 tokens of emission -5: from about token 380 on every real
    // path scores below START's pinned -2000, which a DP over virtual
    // sources then picked, naming tag id START (not a tag)
    val em = Array.fill(500)(Array.fill(K)(-5f))
    val path = Crf.viterbi(em, Crf.transitions)
    assert(path.length == 500)
    assert(path.forall(t => t >= 0 && t < K),
      s"virtual tag ids at ${path.indices.filter(path(_) >= K).take(5)}")
    path.map(Dict.tags)
    // the best real path scores at least as high as all-O
    val allO = Array.fill(500)(Dict.tags.indexOf("O"))
    assert(Crf.goldScore(em, Crf.transitions, path) >=
      Crf.goldScore(em, Crf.transitions, allO) - 1e-2)
  }

  test("BIO constraints: decoded paths are structurally valid") {
    val r = rng(13)
    (1 to 300).foreach { _ =>
      val tags = Crf.viterbi(randEmissions(r), Crf.transitions)
        .map(Dict.tags)
      tags.zip("O" +: tags.dropRight(1).toSeq).foreach { case (cur, prev) =>
        if (cur.startsWith("I-")) {
          val t = cur.substring(2)
          assert(prev == s"B-$t" || prev == s"I-$t",
            s"illegal $prev -> $cur in ${tags.mkString(",")}")
        }
      }
    }
  }

  test("classifier decode: per-token argmax, np.argmax first-max " +
      "tie-break (decoders.py:241-269)") {
    val em = Array(
      Array(1f, 3f, 3f, 0f, 0f, 0f, 0f, 0f, 0f), // tie 1 vs 2 → 1
      Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f, 5f),
      Array(-1f, -1f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)) // all tie → 0
    assert(Crf.classify(em).toSeq == Seq(1, 8, 0))
  }

  test("classifier NLL is the mean per-token -log softmax(gold)") {
    val em = Array(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
    val z = math.log(math.exp(1.0) + 8 * math.exp(0.0))
    val expected = z - 1.0
    assert(math.abs(Crf.classifierNll(em, Array(0)) - expected) < 1e-9)
    // wrong gold costs more
    assert(Crf.classifierNll(em, Array(1)) >
      Crf.classifierNll(em, Array(0)))
  }

  test("classifier equals Viterbi when transitions cannot compete " +
      "(gaz-dominant fitted emissions, non-overlapping sentences)") {
    for (i <- 0L until 50L) {
      val gen = graft.core.Corpus.genFile(i, 17L, 50L)
      graft.segment.Segmenter.segment(gen.file.content).foreach {
        case (_, toks, _, _) =>
          val masks = graft.features.Features
            .sentenceBits(toks, Dict.gazIndex)
          val overlap = masks.exists(m => java.lang.Integer.bitCount(
            (m >>> graft.features.Features.B_GAZ) & 0xFF) > 1)
          if (!overlap) {
            val em = masks.map(Crf.emit(_, Crf.emissionWeights))
            assert(Crf.classify(em).toSeq ==
              Crf.viterbi(em, Crf.transitions).toSeq,
              toks.mkString(" "))
          }
      }
    }
  }

  test("transition matrix has the reference wall structure") {
    val tr = Crf.transitions
    (0 until K + 2).foreach { f => assert(tr(f)(Crf.START) == Crf.WALL) }
    (0 until K + 2).foreach { t => assert(tr(Crf.END)(t) == Crf.WALL) }
    Dict.entityTypes.foreach { x =>
      assert(tr(Dict.O)(Dict.tagId(s"I-$x")) == Crf.WALL)
      assert(tr(Crf.START)(Dict.tagId(s"I-$x")) == Crf.WALL)
      Dict.entityTypes.filter(_ != x).foreach { y =>
        assert(tr(Dict.tagId(s"B-$y"))(Dict.tagId(s"I-$x")) == Crf.WALL)
        assert(tr(Dict.tagId(s"I-$y"))(Dict.tagId(s"I-$x")) == Crf.WALL)
      }
    }
  }
}
