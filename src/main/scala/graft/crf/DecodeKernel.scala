package graft.crf

import graft.core.{Dict, Memo, Sentence, TaggedSentence}
import graft.features.Features
import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset

/** The one serve-time decode, for every model kind: features →
  * emissions → Viterbi for one sentence at a time, with the per-token
  * work memoized across the sentences of a task. It reads the text
  * through a language's [[TokenFeatures]] and scores it with one
  * [[Model]]. [[DecodeKernel.decoder]] is its one shell and
  * [[DecodeKernel.tag]] the one map of a sentence stream through it.
  *
  * Per token string a [[Memo]] keeps its lowercase form and its partial
  * emission: the model's [[FitCrf.tokenTerm]] (zero for a weights-only
  * model) plus λ·featW over its type bits (0–14) in ascending order.
  * Per sentence, λ·featW of the gazetteer bits (15–23, over the tokens
  * and their lowercase forms) is added in ascending order; λ = 0 adds
  * no feature weight, and λ = 1 adds featW exactly. Every type bit is
  * below every gazetteer bit, so each emission is the float additions
  * of [[FitCrf.emit]] over the full mask in the same order ([[Crf.emit]]
  * for a weights-only model): paths are bit-identical to those followed
  * by [[Crf.viterbi]].
  *
  * The emission rows and back-pointers live in flat buffers reused
  * across sentences (grown for a longer one). Make one per task: the
  * memo and the buffers are not thread-safe.
  */
final class DecodeKernel(features: TokenFeatures, model: Model) {
  import DecodeKernel._

  private val wT =
    if (model.lambda == 0f) null
    else Array.tabulate(Features.numFeatures * K)(i =>
      model.lambda * model.featW(i % K)(i / K))
  private val trans = realTransitions(model.trans)
  private val toEnd = endTransitions(model.trans)
  private val memo = new Memo[String, Tok]
  private var em = new Array[Float](InitTokens * K)
  private var back = new Array[Int](InitTokens * K)

  /** Adds λ·w(t)(f) for each set bit f of `mask`, lowest bit first, to
    * `out(off + t)` for every tag t. */
  private def addBits(out: Array[Float], off: Int, mask: Int): Unit = {
    var m = if (wT == null) 0 else mask
    while (m != 0) {
      val f = java.lang.Integer.numberOfTrailingZeros(m) * K
      var t = 0
      while (t < K) { out(off + t) += wT(f + t); t += 1 }
      m &= m - 1
    }
  }

  private def tok(s: String): Tok = memo.getOrElseUpdate(s, {
    val bits = features.typeBits(s)
    require(bits >>> Features.B_GAZ == 0, s"type bits of '$s' reach " +
      s"the gazetteer range: ${bits.toBinaryString}")
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val partial = FitCrf.tokenTerm(s, lower, bits, model)
    addBits(partial, 0, bits)
    new Tok(lower, partial)
  })
  /** Tag ids of one sentence. */
  def tags(tokens: Array[String]): Array[Int] = {
    val n = tokens.length
    if (n == 0) return Array.emptyIntArray
    if (n * K > em.length) {
      val cap = Integer.highestOneBit(n - 1) * 2 * K
      em = new Array[Float](cap); back = new Array[Int](cap)
    }
    val toks = tokens.map(tok)
    val gaz = features.gazBits(tokens, toks.map(_.lower))
    var i = 0
    while (i < n) {
      System.arraycopy(toks(i).partial, 0, em, i * K, K)
      addBits(em, i * K, gaz(i))
      i += 1
    }
    viterbi(em, n, trans, toEnd, back)
  }

  def decode(s: Sentence): TaggedSentence =
    TaggedSentence(s.repo, s.path, s.sentIdx, s.tokens, s.starts, s.ends,
      tags(s.tokens).map(Dict.tags))
}

object DecodeKernel {

  private val K = Crf.K
  private val InitTokens = 256

  /** A served model: on the driver it broadcasts the model's parts; the
    * task-side factory it returns reads the broadcast once per partition
    * and yields the per-sentence decode of a fresh kernel (its token memo
    * lives for the task). Only broadcast handles are captured, never the
    * model itself. */
  type Decoder = SparkContext => () => Sentence => TaggedSentence

  /** The decoder of `model` over `features`. */
  def decoder(features: TokenFeatures, model: Model): Decoder = sc => {
    val b = sc.broadcast((features, model))
    () => { val (f, m) = b.value; new DecodeKernel(f, m).decode }
  }

  /** The one map of a sentence stream through a decoder: one narrow
    * mapPartitions stage, no shuffle. */
  def tag(sentences: Dataset[Sentence], d: Decoder)
      : Dataset[TaggedSentence] = {
    import sentences.sparkSession.implicits._
    val open = d(sentences.sparkSession.sparkContext)
    sentences.mapPartitions { it => val decode = open(); it.map(decode) }
  }

  /** A token's lowercase form and its partial emission. */
  private final class Tok(val lower: String, val partial: Array[Float])

  /** T(from)(to) for every source (real and virtual) into the K real
    * tags, flat as `from * K + to`. */
  private[crf] def realTransitions(tr: Array[Array[Float]]): Array[Float] =
    Array.tabulate((K + 2) * K)(i => tr(i / K)(i % K))

  /** T(tag)(END) for the K real tags. */
  private[crf] def endTransitions(tr: Array[Array[Float]]): Array[Float] =
    Array.tabulate(K)(t => tr(t)(Crf.END))

  /** The one Viterbi DP, over `T` emission rows of `em` (flat,
    * `t * K + tag`), with [[realTransitions]] `trans` and
    * [[endTransitions]] `toEnd`; `back` holds at least T * K.
    * Semantics of decoders.py:156-196: init START=0 / else −2000; real
    * tags only as targets; first-max argmax; terminal step adds
    * T(·, END). Returns real tag ids. The first step sweeps all K+2
    * source tags; later steps sweep only the K real ones. From the
    * second step on START and END hold the pinned −2000, and a virtual
    * source can win a cell only where every real path scores lower; a
    * decoded path through such a cell names a virtual tag, which is no
    * tag (the reference's id → tag map throws on it). Leaving them out
    * gives every path that names real tags only unchanged and makes a
    * long sentence of low scores decode to real tags.
    *
    * Each step sweeps the sources in ascending order and keeps a running
    * best per target, replaced only on a strictly greater score: the
    * first max wins, exactly as a per-target scan over the sources, but
    * the inner loop runs over contiguous targets and its compare is a
    * select rather than an unpredictable branch. */
  private[crf] def viterbi(em: Array[Float], T: Int, trans: Array[Float],
      toEnd: Array[Float], back: Array[Int]): Array[Int] = {
    if (T == 0) return Array.emptyIntArray
    val prev = new Array[Float](K + 2)
    java.util.Arrays.fill(prev, Crf.NEG)
    prev(Crf.START) = 0f
    val best = new Array[Float](K)
    val arg = new Array[Int](K)
    var t = 0
    while (t < T) {
      val row = t * K
      var to = 0
      while (to < K) { best(to) = prev(0) + trans(to); arg(to) = 0; to += 1 }
      val sources = if (t == 0) K + 2 else K
      var from = 1
      while (from < sources) {
        val p = prev(from)
        val off = from * K
        to = 0
        while (to < K) {
          val s = p + trans(off + to)
          val gt = s > best(to) // first max wins
          best(to) = if (gt) s else best(to)
          arg(to) = if (gt) from else arg(to)
          to += 1
        }
        from += 1
      }
      to = 0
      while (to < K) {
        prev(to) = best(to) + em(row + to)
        back(row + to) = arg(to)
        to += 1
      }
      t += 1
    }
    // terminal transition to END (decoders.py:184-187)
    var bestTag = 0
    var bestEnd = prev(0) + toEnd(0)
    var tag = 1
    while (tag < K) {
      val s = prev(tag) + toEnd(tag)
      if (s > bestEnd) { bestEnd = s; bestTag = tag }
      tag += 1
    }
    val path = new Array[Int](T)
    path(T - 1) = bestTag
    var i = T - 1
    while (i > 0) {
      path(i - 1) = back(i * K + path(i))
      i -= 1
    }
    path
  }
}
