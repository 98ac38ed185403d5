package graft

import graft.conll.ConllOps
import graft.core.{Dict, RefData, Sentence, TaggedSentence}
import graft.crf.{FitCrf, Model}
import graft.spans.Spans
import graft.eval.SpanPRF1
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The English model on the reference's in-tree CoNLL data: the
  * closed-form fit (SURVEY.md §7.3) and the discriminative trainer on
  * eng.train, and span P/R/F1 of a tagger on a gold CoNLL file
  * ([[evalConll]]). The CoNLL-2003 MISC type occupies the engine's 4th
  * type slot (GPE) through an explicit bijection — span F1 is invariant
  * under the renaming.
  */
object FitEval {

  /** Fit/eval corpora ([[RefData.engTrain]]/[[RefData.engTest]]),
    * unchecked: callers probe them; readers use `RefData.*.existing`. */
  val trainPath: String = RefData.engTrain.path.toString
  val testPath: String = RefData.engTest.path.toString

  /** The pinned English model: best configuration of the closed-form
    * sweep recorded in COVERAGE.md (measured span F1 = 0.7269 on
    * eng.test's 5648 gold spans, P=0.731 R=0.723 — the classic
    * closed-form HMM-with-shape-backoff operating point; the
    * reference's BiLSTM-CRF sits near 0.90 and is replaced by design,
    * SURVEY.md §7.3). Gated at F1 ≥ 0.70 by EngModelSpec.
    * The discriminative [[trainFullModel]] edges past it (0.7483 at
    * 300 epochs, 0.7528 at 600) at iterative-training cost; the
    * closed-form fit stays the default (seconds, no iteration). */
  def engModel(spark: SparkSession): Model =
    FitCrf.fit(labeled(spark, RefData.engTrain.existing), k = 0.1,
      minCount = 2, rareMax = 2, lambda = 0f)

  /** Discriminatively trained full English model: φ = §2.3 features ∪
    * word identity ∪ LEARNED shape-backoff rows (singleton training
    * words share per-shape-class ids, so the trainer fits the OOV
    * emission rows the way the closed-form fit estimates them from
    * rare words) ∪ optional Brown-cluster rows (`clusters`, see
    * [[engClusters]]). Serves through the same [[Model]] path.
    * Measured on eng.test: F1 0.7230 @20 epochs, 0.7483 @300
    * (lr=1, l2=3e-5), 0.7528 @600 — vs the closed form's 0.7269; with
    * 256 clusters, 0.7561 @300 (the shipped artifact). */
  def trainFullModel(spark: SparkSession, epochs: Int = 300,
      lr: Double = 1.0, l2: Double = 3e-5,
      clusters: Map[String, Int] = Map.empty): Model = {
    import spark.implicits._
    val train = labeled(spark, RefData.engTrain.existing)
    val wordFreq = train.flatMap(_.words).groupBy("value").count()
    val vocab = wordFreq.filter(col("count") >= 2)
      .select("value").as[String].collect().sorted
    val rareShapes = wordFreq.filter(col("count") < 2)
      .select("value").as[String].collect()
      .map(w => FitCrf.shapeOf(graft.features.Features.tokenBits(w)))
      .distinct.sorted
    val V = vocab.length; val S = rareShapes.length
    val C = if (clusters.isEmpty) 0 else clusters.values.max + 1
    val bV = spark.sparkContext.broadcast(vocab.zipWithIndex.toMap)
    val bS = spark.sparkContext.broadcast(rareShapes.zipWithIndex.toMap)
    val bC = spark.sparkContext.broadcast(clusters)
    val data = train.map { t =>
      val vmap = bV.value; val smap = bS.value; val cmap = bC.value
      val masks =
        graft.features.Features.sentenceBits(t.words, Dict.gazIndex)
      val ids = Array.tabulate(t.words.length) { i =>
        vmap.getOrElse(t.words(i),
          smap.get(FitCrf.shapeOf(masks(i)))
            .map(_ + V).getOrElse(V + S))
      }
      // Brown-cluster rows live after the word/shape/default block in
      // the same weight matrix (exact-then-lowercase lookup, matching
      // FitCrf.emit's serving policy). They are OOV-GATED: cluster
      // features fire only for tokens WITHOUT a vocab row, so the
      // cluster rows train on exactly the backoff population they
      // serve (additive-everywhere measured 0.7414 vs 0.7483 baseline
      // at 300 epochs — in-vocab updates drown the OOV signal).
      // The OOV gate matches emit's exact-then-lowercase word
      // resolution: a case-variant of an in-vocab word serves the
      // lowercase word row, so its cluster row must not also train.
      def gated(w2: String): Boolean =
        vmap.contains(w2) ||
          vmap.contains(w2.toLowerCase(java.util.Locale.ROOT))
      val cids =
        if (cmap.isEmpty) Array.empty[Int]
        else Array.tabulate(t.words.length) { i =>
          if (gated(t.words(i))) -1
          else cmap.get(t.words(i))
            .orElse(cmap.get(t.words(i).toLowerCase(java.util.Locale.ROOT)))
            .map(V + S + 1 + _).getOrElse(-1)
        }
      graft.crf.CrfTrainer.WordSentence(masks, t.tags, ids, cids)
    }
    val (w, wv, tr, _) =
      graft.crf.CrfTrainer.train(data, V + S + 1 + C, epochs, lr, l2)
    // The catch-all OOV row V+S is never assigned to a training token
    // (every training word is in vocab or has a rare shape), so its
    // trained row only ever sees the l2 gradient of a zero init and
    // stays zero. Serve the closed-form rare-population log-odds as
    // shapeDefault instead, matching FitCrf.weights' estimate for
    // unseen-shape tokens.
    val closedForm =
      FitCrf.weights(FitCrf.countStats(train, minCount = 2, rareMax = 1))
    val vocabSet = vocab.toSet
    // mirror fitWithClusters' double-form gate (FitCrf emit resolves
    // exact-then-lowercase, so both forms must be absent for the
    // cluster row to serve)
    val servedClusters = clusters.filter { case (w2, _) =>
      !vocabSet.contains(w2) &&
        !vocabSet.contains(w2.toLowerCase(java.util.Locale.ROOT))
    }
    Model(w,
      vocab.zipWithIndex.map { case (word, i) => word -> wv(i) }.toMap,
      rareShapes.zipWithIndex.map { case (sh, i) =>
        sh -> wv(V + i)
      }.toMap,
      closedForm.shapeDefault, tr, 1f,
      clusters = servedClusters,
      clusterW = (0 until C).map(j => j -> wv(V + S + 1 + j)).toMap)
  }

  /** CoNLL-2003 tag string → engine tag id. MISC ↔ GPE bijection. */
  def tagIdOf(tag: String): Int = Dict.tagId(tag.replace("MISC", "GPE"))

  def labeled(spark: SparkSession, path: String)
      : org.apache.spark.sql.Dataset[FitCrf.TaggedTokens] = {
    import spark.implicits._
    ConllOps.conllFileSentences(spark, path)
      .map(s => FitCrf.TaggedTokens(s.words, s.tags.map(tagIdOf)))
  }

  /** Per-type span counts of `tagger` on a gold CoNLL file, in the
    * frame of [[SpanPRF1.evaluate]]: the file's sentences are decoded
    * by `tagger` and scored against the file's own tags (exact spans
    * through the shared BIO FSM, conlleval semantics). */
  def perTypeConll(spark: SparkSession, path: String,
      tagger: Dataset[Sentence] => Dataset[TaggedSentence]): DataFrame = {
    import spark.implicits._
    val test = ConllOps.conllFileSentences(spark, path)
    def spans(ts: Dataset[TaggedSentence]): DataFrame =
      ts.flatMap(t => Spans.extract(t))
        .select(col("path").as("doc"), col("sentIdx").as("sent"),
          col("start"), col("end"), col("tag"))
    val gold = test.map(s => TaggedSentence("eng", "test", s.sentId.toInt,
      s.words, s.words.indices.toArray, s.words.indices.map(_ + 1).toArray,
      s.tags.map(t => Dict.tags(tagIdOf(t)))))
    val pred = tagger(test.map(s => Sentence("eng", "test", s.sentId.toInt,
      s.words, s.words.indices.toArray, s.words.indices.map(_ + 1).toArray)))
    SpanPRF1.evaluate(spans(pred), spans(gold))
  }

  /** Micro span P/R/F1 of `tagger` on a gold CoNLL file
    * ([[perTypeConll]] summed over types). */
  def evalConll(spark: SparkSession, path: String,
      tagger: Dataset[Sentence] => Dataset[TaggedSentence])
      : SpanPRF1.Counts =
    SpanPRF1.micro(perTypeConll(spark, path, tagger))

  /** Brown clusters of eng.train (trained in-session, ~12 s — the
    * reference's external `--brown_cluster_path` input, built by
    * [[graft.features.Brown]]). Densified by BITSTRING
    * ([[graft.features.Brown.clusterMapByBits]]): for graft's own
    * cluster features, distinct tree leaves must stay distinct even
    * when int(bits, 2) coincides — the int-conversion densify is the
    * reference reader's quirk and stays on the q33 parity path. */
  def engClusters(spark: SparkSession, numClusters: Int = 128)
      : Map[String, Int] = {
    import spark.implicits._
    graft.features.Brown.clusterMapByBits(graft.features.Brown.cluster(
      ConllOps.conllFileSentences(spark, RefData.engTrain.existing)
        .map(_.words),
      numClusters = numClusters))
  }
}
