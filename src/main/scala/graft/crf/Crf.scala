package graft.crf

import graft.core.{Dict, Sentence, TaggedSentence}
import graft.features.Features
import org.apache.spark.sql.Dataset

/** Linear-CRF scoring + BIO-constrained Viterbi decoding.
  *
  * Serving decodes every [[Model]] through [[DecodeKernel]] (per-task
  * token memo, flat Viterbi); [[emit]] and [[viterbi]] are the
  * per-sentence definitions it is bit-identical to for a weights-only
  * model, kept for training and specs. [[emit]]'s one serve-time caller
  * is the classifier rule ([[classifyTag]]), which has no Viterbi. The
  * pipeline's eng model is `Model.weights(emissionWeights,
  * transitions)`.
  *
  * Re-derivation of the reference's CRF decode path (SURVEY.md §2.8,
  * §7.3): emission scores are a linear model over the discrete feature
  * templates (replacing the BiLSTM — models/decoders.py:121-154), the
  * transition matrix carries the reference's exact virtual-tag and BIO
  * constraint structure (models/decoders.py:17-25, 48-58;
  * models/model_builder.py:13-22), and decoding replicates
  * models/decoders.py:156-196 including the START-init values, the
  * virtual-tag exclusion ([:-2] slices) and numpy's first-max argmax
  * tie-break (lowest tag id wins).
  */
object Crf {

  val K: Int = Dict.K          // 9 real tags, lexicographic ids
  val START: Int = K           // virtual (decoders.py:48-58)
  val END: Int = K + 1
  val WALL = -1000f            // constraint value (decoders.py:17-25)
  val NEG = -2000f             // non-START init (decoders.py:168-170)

  /** BIO/virtual-tag wall STRUCTURE — the constraint set of
    * decoders.py:17-25 / model_builder.py:13-22 plus the START-column /
    * END-row walls of decoders.py:48-58. A pure structural constant
    * (no weights), shared by the fitted default, [[CrfTrainer.train]] and
    * [[FitCrf]]. Lives in [[Dict]] (a forwarding def, no monitor) so
    * the DefaultModel → FitCrf.weights path never re-enters Crf —
    * concurrent first access of Crf.emissionWeights and
    * DefaultModel.fitted would otherwise deadlock on opposite-order
    * lazy-val monitors. */
  def walls: Array[Array[Boolean]] = Dict.walls

  /** Default emission weights W(tag)(feature), K × 24 — FITTED, not
    * hand-set: closed-form log-odds (SURVEY.md §7.3) over the labeled
    * synthetic training corpus, derived once per JVM by
    * [[DefaultModel]]. The eng model over the reference's real CoNLL
    * data is fitted by the same code path ([[FitCrf]]; gated by
    * EngModelSpec). */
  lazy val emissionWeights: Array[Array[Float]] = DefaultModel.fitted.featW

  /** Default (K+2)² transition matrix T(from)(to): log bigram
    * frequencies fitted from the labeled synthetic training corpus
    * ([[DefaultModel]]), with [[walls]] pinned at −1000 exactly where
    * constrained_transition_init puts them. */
  lazy val transitions: Array[Array[Float]] = DefaultModel.fitted.trans

  /** Emission score of one token from its feature bitmask. */
  def emit(mask: Int, w: Array[Array[Float]]): Array[Float] = {
    val out = new Array[Float](K)
    var t = 0
    while (t < K) {
      var s = 0f
      var m = mask
      while (m != 0) {
        val f = java.lang.Integer.numberOfTrailingZeros(m)
        s += w(t)(f)
        m &= m - 1
      }
      out(t) = s
      t += 1
    }
    out
  }

  /** Viterbi decode over per-token emission vectors (length K each):
    * the rows flattened into [[DecodeKernel.viterbi]], the one DP (exact
    * semantics of decoders.py:156-196). Returns tag ids. */
  def viterbi(emissions: Array[Array[Float]],
      trans: Array[Array[Float]]): Array[Int] = {
    val T = emissions.length
    val em = new Array[Float](T * K)
    var t = 0
    while (t < T) { System.arraycopy(emissions(t), 0, em, t * K, K); t += 1 }
    DecodeKernel.viterbi(em, T, DecodeKernel.realTransitions(trans),
      DecodeKernel.endTransitions(trans), new Array[Int](T * K))
  }

  /** Log-sum-exp of a K-vector, max-shifted; −∞ when every entry is. */
  private[crf] def logSumExp(xs: Array[Double]): Double = {
    var mx = xs(0); var i = 1
    while (i < xs.length) { if (xs(i) > mx) mx = xs(i); i += 1 }
    if (mx == Double.NegativeInfinity) return mx
    var s = 0.0; i = 0
    while (i < xs.length) { s += math.exp(xs(i) - mx); i += 1 }
    mx + math.log(s)
  }

  /** Forward algorithm — the CRF log-partition (decoders.py:66-93,
    * log_sum_exp_dim_0 util.py:130-143). Train-only in the reference
    * (the denominator of the NLL loss); provided for completeness so a
    * max-likelihood fit has its kernels. One delta, documented: the
    * reference lets the sum range over virtual START/END mid-path and
    * relies on −1000 walls to suppress them (their e^-1000 mass
    * underflows to zero in float anyway); this sums over real-tag
    * paths exactly — same value, cleaner math, and the brute-force
    * twin in CrfLossSpec enumerates the identical path space. */
  def forward(emissions: Array[Array[Float]],
      trans: Array[Array[Float]]): Double =
    forward(emissions, trans, Array.ofDim[Double](emissions.length, K))

  /** The one alpha recursion, shared with [[CrfTrainer]]'s gradient:
    * fills `alpha` (T × K; alpha(t)(k) is the log mass of the real-tag
    * paths that end in tag k at t, emissions up to t included) and
    * returns log Z. */
  def forward(emissions: Array[Array[Float]], trans: Array[Array[Float]],
      alpha: Array[Array[Double]]): Double = {
    val T = emissions.length
    require(T > 0, "forward of an empty sentence is undefined")
    var k = 0
    while (k < K) {
      alpha(0)(k) = (trans(START)(k) + emissions(0)(k)).toDouble; k += 1
    }
    val buf = new Array[Double](K)
    var t = 1
    while (t < T) {
      var to = 0
      while (to < K) {
        var from = 0
        while (from < K) {
          buf(from) = alpha(t - 1)(from) + trans(from)(to)
          from += 1
        }
        alpha(t)(to) = logSumExp(buf) + emissions(t)(to)
        to += 1
      }
      t += 1
    }
    k = 0
    while (k < K) { buf(k) = alpha(T - 1)(k) + trans(k)(END); k += 1 }
    logSumExp(buf)
  }

  /** Gold-path score (decoders.py:95-108): START-prefixed transition
    * chain + emissions + terminal T(last, END). */
  def goldScore(emissions: Array[Array[Float]],
      trans: Array[Array[Float]], tags: Array[Int]): Double = {
    require(tags.length == emissions.length && tags.nonEmpty)
    var s = (trans(START)(tags(0)) + emissions(0)(tags(0))).toDouble
    var t = 1
    while (t < tags.length) {
      s += trans(tags(t - 1))(tags(t)) + emissions(t)(tags(t))
      t += 1
    }
    s + trans(tags.last)(END)
  }

  /** Per-sentence CRF negative log-likelihood
    * (decoders.py:110-140: forward − gold; the reference's unused
    * `interp_crf_score` branch is dead code and not implemented). */
  def nll(emissions: Array[Array[Float]],
      trans: Array[Array[Float]], tags: Array[Int]): Double =
    forward(emissions, trans) - goldScore(emissions, trans, tags)

  /** Per-token softmax-classifier decode (decoders.py:241-269): argmax
    * over the emission scores token by token — NO transition
    * structure, np.argmax first-max tie-break. The reference's
    * independent-classification alternative to the chain CRF. */
  def classify(emissions: Array[Array[Float]]): Array[Int] =
    emissions.map { em =>
      var best = 0
      var i = 1
      while (i < em.length) {
        if (em(i) > em(best)) best = i // first max wins
        i += 1
      }
      best
    }

  /** The classifier's mean per-token NLL (decoders.py:246-261:
    * pickneglogsoftmax averaged over tokens). */
  def classifierNll(emissions: Array[Array[Float]],
      tags: Array[Int]): Double = {
    require(tags.length == emissions.length && tags.nonEmpty)
    var s = 0.0
    var t = 0
    while (t < tags.length) {
      val em = emissions(t).map(_.toDouble)
      s += logSumExp(em) - em(tags(t))
      t += 1
    }
    s / tags.length
  }

  /** Classifier decode over a sentence stream: one narrow map over the
    * broadcast weights and eng gazetteer index, transitions unused. */
  def classifyTag(sentences: Dataset[Sentence],
      w: Array[Array[Float]]): Dataset[TaggedSentence] = {
    import sentences.sparkSession.implicits._
    val b = sentences.sparkSession.sparkContext.broadcast((w, Dict.gazIndex))
    sentences.map { s =>
      val (w, gaz) = b.value
      val path = classify(Features.sentenceBits(s.tokens, gaz)
        .map(emit(_, w)))
      TaggedSentence(s.repo, s.path, s.sentIdx, s.tokens, s.starts,
        s.ends, path.map(Dict.tags))
    }
  }

  /** Brute-force exact decode for property tests (enumerates all K^T
    * paths). Tie-break matches the DP's first-max backtrace exactly:
    * among max-score paths, the one whose REVERSED tag sequence is
    * lexicographically smallest — the final argmax picks the lowest
    * final tag first (decoders.py:186), then each backpointer picks the
    * lowest source tag (decoders.py:180). */
  def bruteForce(emissions: Array[Array[Float]],
      trans: Array[Array[Float]]): (Array[Int], Float) = {
    val T = emissions.length
    var bestPath: Array[Int] = null
    var bestScore = Float.NegativeInfinity
    def revLess(a: List[Int], b: Array[Int]): Boolean = {
      // a is already reversed (head = last tag); compare vs b reversed
      var i = 0
      var cur = a
      while (cur.nonEmpty) {
        val x = cur.head
        val y = b(b.length - 1 - i)
        if (x != y) return x < y
        cur = cur.tail; i += 1
      }
      false
    }
    def rec(t: Int, prevTag: Int, score: Float, path: List[Int]): Unit = {
      if (t == T) {
        val s = score + trans(prevTag)(END)
        if (s > bestScore ||
            (s == bestScore && revLess(path, bestPath))) {
          bestScore = s; bestPath = path.reverse.toArray
        }
      } else {
        var tag = 0
        while (tag < K) {
          rec(t + 1, tag,
            score + trans(prevTag)(tag) + emissions(t)(tag), tag :: path)
          tag += 1
        }
      }
    }
    rec(0, START, 0f, Nil)
    (bestPath, bestScore)
  }
}
