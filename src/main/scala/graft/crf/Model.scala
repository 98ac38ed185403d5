package graft.crf

import graft.core.Dict

/** The one CRF model value, for every model kind: the synthetic default,
  * a closed-form fit ([[FitCrf]]), a discriminative fit
  * ([[graft.FitEval.trainFullModel]]), a language fit ([[LangModel]]),
  * an ensemble average and a [[graft.io.ModelIO]] artifact.
  * `featW`/`trans` have the exact shapes [[Crf.emissionWeights]]/
  * [[Crf.transitions]] have; [[DecodeKernel]] serves it with
  * [[FitCrf.tokenTerm]] as the memoized per-token term.
  *
  * A weights-only model ([[Model.weights]]) has empty word, shape and
  * cluster maps, an all-zero `shapeDefault` and λ = 1: its token term is
  * zero and its emission is exactly [[Crf.emit]] over `featW`. */
final case class Model(
    featW: Array[Array[Float]],           // K × F log-odds
    wordW: Map[String, Array[Float]],     // word → per-tag log-odds
    shapeW: Map[Int, Array[Float]],       // OOV backoff by shape class
    shapeDefault: Array[Float],           // unseen shape class
    trans: Array[Array[Float]],           // (K+2)² log bigram + walls
    lambda: Float,                        // feature-term mixing weight
    // Brown-cluster features (features.py:16-29 consumed them as a
    // model input; here they are extra φ dims): word → dense cluster
    // id, and cluster id → per-tag weights, ADDITIVE on top of the
    // word/shape backoff chain whenever the word's cluster is known.
    // Both empty = the pre-cluster model, byte-identical behavior.
    clusters: Map[String, Int] = Map.empty,
    clusterW: Map[Int, Array[Float]] = Map.empty) {

  /** The parts a weights-only model does not have, one phrase each;
    * empty for a weights-only model. */
  def beyondWeights: Seq[String] =
    Seq(wordW.size -> "word", shapeW.size -> "shape",
      clusters.size -> "clusterOf", clusterW.size -> "cluster weight")
      .collect { case (n, what) if n > 0 => s"$n $what rows" } ++
      (if (shapeDefault.exists(_ != 0f)) Seq("a nonzero shapeDefault")
       else Nil) ++
      (if (lambda != 1f) Seq(s"lambda = $lambda") else Nil)
}

object Model {

  /** A weights-only model: emission weights `featW` (K × F) and
    * transitions `trans` ((K+2)²), no token term, λ = 1. */
  def weights(featW: Array[Array[Float]], trans: Array[Array[Float]])
      : Model =
    Model(featW, Map.empty, Map.empty, new Array[Float](Dict.K), trans, 1f)
}
