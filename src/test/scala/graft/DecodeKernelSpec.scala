package graft

import graft.conll.ConllFixture
import graft.core.{Corpus, Dict, LangDict, Memo, Sentence}
import graft.crf.{Crf, DecodeKernel, FitCrf, Model, TokenFeatures}
import graft.features.{Features, LangFeatures}
import graft.io.ModelIO

/** The memoized decode kernel ([[graft.crf.DecodeKernel]]) against the
  * per-sentence definitions: [[Crf.emit]] (weights-only models) or
  * [[FitCrf.emit]] (models with a token term) on the full 24-bit mask,
  * then [[Crf.bruteForce]] (short sentences) or [[Crf.viterbi]] (long
  * ones, past the kernel's initial buffer, and across a memo that
  * clears mid-task). Seeded generation — byte-identical inputs every
  * run. */
class DecodeKernelSpec extends SparkTestBase {

  private val K = Crf.K
  private val F = Features.numFeatures

  /** Tokens that fire type bits (titles, heads, caps, digits, periods,
    * scripts) and pieces of gazetteer entries of both strata in mixed
    * case; [[phrases]] are whole multi-token entries. */
  private val vocab = Array("the", "of", "in", "From", "Mr.", "River",
    "Republic", "Ministry", "U.N", "R2D2", "NATO", "McCarthy",
    "Vereinigten", "ኢትዮጵያ", "Ada", "Lovelace", "ada", "LOVELACE",
    "Addis", "Ababa", "addis", "Apache", "Software", "Foundation",
    "Free", "hash", "Join", "merge", "sort", "Sort", "Merge", "big",
    "data", "Table", "row", "group", "Ethiopia", "kenya", "Red", "Sea")

  /** Whole multi-token entries; the overlapping ones ("merge sort" /
    * "sort merge", "big data" / "data table") give a token two
    * gazetteer bits. */
  private val phrases = Array("Ada Lovelace", "addis ababa",
    "Apache Software Foundation", "hash join", "Merge Sort", "big data",
    "ROW GROUP", "merge sort merge", "Sort Merge Sort", "big data table",
    "Big Data Table").map(_.split(' '))

  /** Plants phrases of `ps` where they fit: for each 16 tokens, one
    * with probability 1/2. */
  private def plant(r: java.util.Random, toks: Array[String],
      ps: Array[Array[String]]): Array[String] = {
    (0 to toks.length / 16).foreach { _ =>
      val p = ps(r.nextInt(ps.length))
      if (r.nextBoolean() && p.length <= toks.length)
        p.copyToArray(toks, r.nextInt(toks.length - p.length + 1))
    }
    toks
  }

  private def sentence(r: java.util.Random, n: Int): Array[String] =
    plant(r, Array.fill(n)(vocab(r.nextInt(vocab.length))), phrases)

  /** Quantized weights: every sum is exact in float, so the brute force's
    * path scores and the DP's agree without rounding ties. */
  private def exactWeights(r: java.util.Random): Array[Array[Float]] =
    Array.fill(K)(Array.fill(F)((r.nextInt(13) - 6) * 0.5f))
  private def exactTrans(r: java.util.Random): Array[Array[Float]] =
    Array.fill(K + 2)(Array.fill(K + 2)((r.nextInt(5) - 2).toFloat))

  /** Weights whose float sums depend on the order of addition: half
    * the features carry a large magnitude shared by every tag (so the
    * tags still compete on the small parts), which absorbs and cancels
    * the small ones differently in a different order. Adding the
    * gazetteer weights before the type weights changes the tags. */
  private def orderedWeights(r: java.util.Random): Array[Array[Float]] = {
    val big = Array.fill(F)((r.nextInt(5) - 2) * (1 << 24).toFloat)
    Array.fill(K)(Array.tabulate(F)(f =>
      big(f) + (r.nextInt(2001) - 1000) / 97f))
  }

  private def reference(toks: Array[String], w: Array[Array[Float]],
      tr: Array[Array[Float]]): Array[Int] =
    Crf.viterbi(Features.sentenceBits(toks, Dict.gazIndex)
      .map(Crf.emit(_, w)), tr)

  test("kernel tags == brute force on random weights, T <= 5, " +
      "multi-token and overlapping gazetteer hits included") {
    val r = new java.util.Random(20261019L)
    var gazHits = 0
    (1 to 40).foreach { model =>
      val w = exactWeights(r)
      val tr = exactTrans(r)
      // one memo across sentences
      val k = new DecodeKernel(TokenFeatures.eng, Model.weights(w, tr))
      (1 to 25).foreach { i =>
        val toks = sentence(r, 1 + r.nextInt(5))
        val masks = Features.sentenceBits(toks, Dict.gazIndex)
        if (masks.exists(m => Integer.bitCount(m >>> Features.B_GAZ) > 1))
          gazHits += 1
        val (want, _) = Crf.bruteForce(masks.map(Crf.emit(_, w)), tr)
        assert(k.tags(toks).toSeq == want.toSeq,
          s"model $model case $i: ${toks.mkString(" ")}")
      }
    }
    assert(gazHits > 50, s"only $gazHits sentences with overlapping hits")
  }

  test("long sentences past the initial buffer: kernel == emit + DP, " +
      "bit-identical under order-sensitive weights") {
    val r = new java.util.Random(611L)
    (1 to 8).foreach { model =>
      val w = orderedWeights(r)
      val tr = if (model % 2 == 0) Crf.transitions else exactTrans(r)
      val k = new DecodeKernel(TokenFeatures.eng, Model.weights(w, tr))
      // short, long, short again: the grown buffers must not leak rows
      Seq(7, 300, 1200, 5, 513).foreach { n =>
        val toks = sentence(r, n)
        assert(k.tags(toks).toSeq == reference(toks, w, tr).toSeq,
          s"model $model, T = $n")
      }
    }
  }

  test("a memo that clears mid-task keeps the kernel == emit + DP") {
    val r = new java.util.Random(612L)
    val w = orderedWeights(r)
    val tr = Crf.transitions
    val k = new DecodeKernel(TokenFeatures.eng, Model.weights(w, tr))
    val distinct = Memo.Cap + Memo.Cap / 2
    // the same early sentences before the clear, between and after it
    val early = Array.fill(40)(sentence(r, 6 + r.nextInt(20)))
    def check(toks: Array[String]): Unit =
      assert(k.tags(toks).toSeq == reference(toks, w, tr).toSeq,
        toks.mkString(" "))
    early.foreach(check)
    var next = 0
    while (next < distinct) {
      // fresh tokens in mixed case, mixed with repeating gazetteer words
      val toks = Array.fill(24) {
        if (r.nextInt(3) == 0) vocab(r.nextInt(vocab.length))
        else {
          next += 1
          val t = s"tok$next"
          if (next % 5 == 0) t.capitalize else t
        }
      }
      check(toks)
      if (next % (Memo.Cap / 3) < 16) early.foreach(check)
    }
    early.foreach(check)
  }

  test("non-eng kernel == typeTokenBits | gazBits, emit + DP " +
      "(case-sensitive gazetteer, overlapping entries)") {
    val gaz: LangDict.Gaz = Map(
      "GPE" -> Vector(Vector("Addis", "Ababa"), Vector("Tigray")),
      "LOC" -> Vector(Vector("Ababa")),
      "ORG" -> Vector(Vector("Red", "Sea", "Bank")),
      "PER" -> Vector(Vector("Ada", "Lovelace")))
    val r = new java.util.Random(613L)
    val words = vocab ++ Array("Tigray", "Bank", "ካብ", "ኣብ", "irraa")
    val nonEngPhrases = Array("Addis Ababa", "Red Sea Bank",
      "Ada Lovelace", "addis Ababa").map(_.split(' '))
    Seq("tir", "orm", "amh").foreach { lang =>
      val m = Model.weights(orderedWeights(r), exactTrans(r))
      val k = new DecodeKernel(TokenFeatures.lang(lang, gaz), m)
      (1 to 60).foreach { i =>
        val toks = plant(r, Array.fill(
          1 + r.nextInt(if (i % 10 == 0) 400 else 12))(
          words(r.nextInt(words.length))), nonEngPhrases)
        val g = LangFeatures.gazBits(toks, gaz)
        val want = Crf.viterbi(toks.indices.toArray.map(j =>
          Crf.emit(LangFeatures.typeTokenBits(lang, toks(j)) | g(j),
            m.featW)), m.trans)
        assert(k.tags(toks).toSeq == want.toSeq,
          s"$lang case $i: ${toks.mkString(" ")}")
      }
    }
  }

  /** A model's decode as a per-sentence definition: the full masks,
    * [[FitCrf.emit]] per token, then [[Crf.viterbi]]. */
  private def fittedReference(toks: Array[String], m: Model)
      : Array[Int] = {
    val masks = Features.sentenceBits(toks, Dict.gazIndex)
    Crf.viterbi(Array.tabulate(toks.length)(i =>
      FitCrf.emit(toks(i), masks(i), m)), m.trans)
  }

  test("shipped models/eng.fitted: the fitted decoder == FitCrf.emit + " +
      "DP over synthesized files and the CoNLL fixture") {
    val s = spark
    import s.implicits._
    val m = ModelIO.load(spark, ModelIO.defaultFittedPath)
    assert(m.clusters.nonEmpty && m.lambda != 0f)
    val conll = ConllFixture.lines.mkString("\n").split("\n\n").toSeq
      .zipWithIndex.map { case (block, i) =>
        val toks = block.split('\n').map(_.split(' ')(0))
        Sentence("conll", "fixture", i, toks, toks.indices.toArray,
          toks.indices.map(_ + 1).toArray)
      }
    val sents = graft.segment.Segmenter.sentences(
      Corpus.synthesize(spark, 200)).union(conll.toDS())
    val got = DecodeKernel.tag(sents,
      DecodeKernel.decoder(TokenFeatures.eng, m)).collect()
    assert(got.length > 500 && got.exists(_.path == "fixture"))
    got.foreach { ts =>
      assert(ts.tags.toSeq ==
        fittedReference(ts.tokens, m).map(Dict.tags).toSeq,
        ts.tokens.mkString(" "))
    }
  }

  test("random cluster-bearing fitted model, lambda = 0 and != 0: " +
      "kernel == FitCrf.emit + DP (exact and lowercase vocab, OOV " +
      "shapes, cluster hits, long sentences, a memo clear)") {
    val r = new java.util.Random(614L)
    def row(): Array[Float] =
      Array.fill(K)((r.nextInt(2001) - 1000) / 37f)
    // exact-case vocab, and words the vocab holds only in lowercase
    val exact = Array("the", "of", "River", "Ada", "NATO", "Addis")
    val lowerOnly = Array("lovelace", "ababa", "sort", "merge")
    val oov = Array("Zorblax", "x9", "QQQ", "Mc-Fly", "ቀዳማይ", "a.b.c")
    // clustered words: OOV ones (exact and lowercase-keyed) and one
    // whose cluster has no weight row
    val clustered = Map("Zorblax" -> 0, "qqq" -> 1, "apache" -> 2,
      "Foundation" -> 1, "Kenya" -> 3)
    val shapes = (exact ++ oov ++ vocab).map(Features.tokenBits).distinct
    val base = Model(orderedWeights(r),
      (exact ++ lowerOnly).map(_ -> row()).toMap,
      shapes.filter(_ => r.nextBoolean()).map(_ -> row()).toMap, row(),
      exactTrans(r), 0f, clustered, (0 to 2).map(_ -> row()).toMap)
    val words = vocab ++ exact ++ lowerOnly.map(_.capitalize) ++
      lowerOnly.map(_.toUpperCase) ++ oov ++ clustered.keys ++
      Array("QQQ", "Apache", "KENYA")
    def toks(n: Int): Array[String] =
      plant(r, Array.fill(n)(words(r.nextInt(words.length))), phrases)
    Seq(0f, 0.37f, 1f).foreach { lambda =>
      val m = base.copy(lambda = lambda)
      val k = new DecodeKernel(TokenFeatures.eng, m)
      def check(t: Array[String]): Unit =
        assert(k.tags(t).toSeq == fittedReference(t, m).toSeq,
          s"lambda $lambda: ${t.mkString(" ")}")
      val early = Seq(3, 12, 300, 1, 700, 9).map(toks)
      early.foreach(check)
      // fresh tokens until the memo clears, mixed with the vocab above
      var next = 0
      while (next < Memo.Cap + Memo.Cap / 4) {
        val t = Array.fill(32) {
          if (r.nextInt(3) == 0) words(r.nextInt(words.length))
          else {
            next += 1
            if (next % 3 == 0) s"Oov$next" else s"oov$next"
          }
        }
        check(t)
      }
      early.foreach(check)
    }
  }
}
