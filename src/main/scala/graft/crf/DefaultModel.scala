package graft.crf

import graft.core.{Corpus, Dict}
import graft.segment.Segmenter

/** The pipeline's default decode weights — fitted from data, replacing
  * round 1's hand-set constants (SURVEY.md §7.3 delivered).
  *
  * Training data: the deterministic synthetic corpus at seed 7
  * (DISJOINT from the seed-42 corpora the P/R gates evaluate on, so
  * every golden comparison is held-out), labeled by the generator's
  * planted golden spans — i.e. the reference's dictionary semantics,
  * which is exactly what the north-star pipeline must reproduce. The
  * fit is [[FitCrf]]'s closed-form count-based log-odds + log-bigram
  * transitions, run driver-side (the corpus generator is a pure
  * function; the fit costs well under a second and is identical to the
  * distributed [[FitCrf.fit]] by construction — shared
  * counts→weights arithmetic, spec-checked).
  *
  * The English model over the reference's real CoNLL data
  * (eng.train.bio.conll) is fitted by the same code path and gated on
  * eng.test span F1 — see [[graft.FitEval]] and EngModelSpec. */
object DefaultModel {

  val seed = 7L
  val nFiles = 500L

  /** Labeled sentences: tokens + BIO tag ids derived by aligning the
    * generator's golden char spans onto the segmenter's token offsets
    * (both absolute into `content`, so the join is exact). */
  lazy val trainingData: Seq[FitCrf.TaggedTokens] =
    (0L until nFiles).flatMap { i =>
      val gen = Corpus.genFile(i, seed, nFiles)
      val bySent = gen.golden.groupBy(_.sentIdx)
      Segmenter.segment(gen.file.content).map { case (sIdx, toks, ss, es) =>
        val golds = bySent.getOrElse(sIdx, Seq.empty)
        val tags = Array.tabulate(toks.length) { j =>
          golds.find(g => ss(j) >= g.start && es(j) <= g.end) match {
            case Some(g) =>
              Dict.tagId((if (ss(j) == g.start) "B-" else "I-") + g.tag)
            case None => Dict.O
          }
        }
        FitCrf.TaggedTokens(toks, tags)
      }
    }

  /** The fitted default model (featW feeds [[Crf.emissionWeights]],
    * trans feeds [[Crf.transitions]]). Deterministic: pure function of
    * (seed, nFiles, fit hyperparameters). */
  lazy val fitted: Model =
    FitCrf.weights(FitCrf.countLocal(trainingData, TokenFeatures.eng,
      minCount = 2, rareMax = 1), k = 0.5, lambda = 1f)
}
