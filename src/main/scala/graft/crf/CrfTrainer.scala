package graft.crf

import graft.core.Dict
import graft.features.Features
import org.apache.spark.sql.Dataset

/** Distributed maximum-likelihood CRF training — the reference's
  * `--mode train` (main.py:256-360: SGD over per-sentence NLL with
  * DyNet autograd) re-expressed for Spark's execution model:
  *
  *  - the NLL gradient has the closed form E_model[features] −
  *    features(gold), computed per sentence by forward–backward
  *    (no autograd needed for a linear CRF);
  *  - each epoch is ONE distributed pass: `treeAggregate` sums
  *    per-sentence (nll, ∇W, ∇T) partials per partition, then up a
  *    tree to the driver (the MLlib pattern — gradient size is
  *    model-sized, corpus-size-independent, so 1000 executors ship
  *    1000 small arrays, not data);
  *  - the driver applies an AdaGrad step and broadcasts fresh weights
  *    for the next epoch. Transition STRUCTURE is frozen: −1000 walls
  *    (BIO constraints, model_builder.py:13-22) never train.
  *
  * The L2 term keeps weights bounded like the reference's implicit
  * early-stopping-by-patience (main.py:309-343) would.
  */
object CrfTrainer {

  import Crf.{K, START, END, WALL}
  private val F = Features.numFeatures
  private val N = K + 2

  /** Feature bitmasks + gold tag ids for one sentence. */
  final case class LabeledSentence(masks: Array[Int], tags: Array[Int])

  /** Sentence gradient by forward–backward in log space over real-tag
    * paths (same path space as [[Crf.forward]]).
    * @return (nll, ∇W flat K×F, ∇T flat N×N — wall entries zero) */
  def sentenceGrad(s: LabeledSentence, w: Array[Array[Float]],
      tr: Array[Array[Float]]): (Double, Array[Double], Array[Double]) = {
    val T = s.masks.length
    val em = s.masks.map(Crf.emit(_, w))
    // forward: alpha(t)(k) includes em up to t
    val alpha = Array.ofDim[Double](T, K)
    var k = 0
    while (k < K) { alpha(0)(k) = tr(START)(k) + em(0)(k); k += 1 }
    val buf = new Array[Double](K)
    var t = 1
    while (t < T) {
      var to = 0
      while (to < K) {
        var from = 0
        while (from < K) {
          buf(from) = alpha(t - 1)(from) + tr(from)(to); from += 1
        }
        alpha(t)(to) = lse(buf) + em(t)(to)
        to += 1
      }
      t += 1
    }
    // backward: beta(t)(k) = log mass from t (exclusive of em_t) to END
    val beta = Array.ofDim[Double](T, K)
    k = 0
    while (k < K) { beta(T - 1)(k) = tr(k)(END); k += 1 }
    t = T - 2
    while (t >= 0) {
      var from = 0
      while (from < K) {
        var to = 0
        while (to < K) {
          buf(to) = tr(from)(to) + em(t + 1)(to) + beta(t + 1)(to); to += 1
        }
        beta(t)(from) = lse(buf)
        from += 1
      }
      t -= 1
    }
    k = 0
    while (k < K) { buf(k) = alpha(T - 1)(k) + tr(k)(END); k += 1 }
    val logZ = lse(buf)
    val nll = logZ - Crf.goldScore(em, tr, s.tags)

    val gW = new Array[Double](K * F)
    val gT = new Array[Double](N * N)
    // emission gradient via posteriors γ_t(k); feature x is the bitmask
    t = 0
    while (t < T) {
      var m = s.masks(t)
      k = 0
      while (k < K) {
        val gamma = math.exp(alpha(t)(k) + beta(t)(k) - logZ)
        val diff = gamma - (if (s.tags(t) == k) 1.0 else 0.0)
        if (diff != 0.0) {
          var mm = m
          while (mm != 0) {
            val f = java.lang.Integer.numberOfTrailingZeros(mm)
            gW(k * F + f) += diff
            mm &= mm - 1
          }
        }
        k += 1
      }
      t += 1
    }
    // transition gradient: boundary rows + pairwise ξ
    k = 0
    while (k < K) {
      gT(START * N + k) += math.exp(tr(START)(k) + em(0)(k) + beta(0)(k) - logZ)
      gT(k * N + END) += math.exp(alpha(T - 1)(k) + tr(k)(END) - logZ)
      k += 1
    }
    gT(START * N + s.tags(0)) -= 1.0
    gT(s.tags(T - 1) * N + END) -= 1.0
    t = 0
    while (t < T - 1) {
      var i = 0
      while (i < K) {
        var j = 0
        while (j < K) {
          gT(i * N + j) += math.exp(
            alpha(t)(i) + tr(i)(j) + em(t + 1)(j) + beta(t + 1)(j) - logZ)
          j += 1
        }
        i += 1
      }
      gT(s.tags(t) * N + s.tags(t + 1)) -= 1.0
      t += 1
    }
    (nll, gW, gT)
  }

  private def lse(xs: Array[Double]): Double = {
    var mx = xs(0); var i = 1
    while (i < xs.length) { if (xs(i) > mx) mx = xs(i); i += 1 }
    if (mx == Double.NegativeInfinity) return mx
    var s = 0.0; i = 0
    while (i < xs.length) { s += math.exp(xs(i) - mx); i += 1 }
    mx + math.log(s)
  }

  /** Train from zero weights. One `treeAggregate` pass per epoch;
    * returns (W, T, mean-NLL per epoch). */
  def train(data: Dataset[LabeledSentence], epochs: Int = 25,
      lr: Double = 0.5, l2: Double = 1e-4)
      : (Array[Array[Float]], Array[Array[Float]], Seq[Double]) = {
    val spark = data.sparkSession
    val w = Array.fill(K, F)(0f)
    val tr = Array.tabulate(N, N) { (i, j) =>
      if (Crf.walls(i)(j)) WALL else 0f
    }
    val trainableT = Array.tabulate(N, N)((i, j) => !Crf.walls(i)(j))
    val accW = new Array[Double](K * F)
    val accT = new Array[Double](N * N)
    val history = scala.collection.mutable.ArrayBuffer[Double]()
    val rdd = data.rdd.cache() // numeric aggregation: the one RDD use
    val n = rdd.count().toDouble
    for (_ <- 1 to epochs) {
      val bW = spark.sparkContext.broadcast(w.map(_.clone()))
      val bT = spark.sparkContext.broadcast(tr.map(_.clone()))
      val zero = (0.0, new Array[Double](K * F), new Array[Double](N * N))
      val (nllSum, gW, gT) = rdd.treeAggregate(zero)(
        seqOp = { case ((l, aw, at), s) =>
          val (nl, sw, st) = sentenceGrad(s, bW.value, bT.value)
          var i = 0; while (i < aw.length) { aw(i) += sw(i); i += 1 }
          i = 0; while (i < at.length) { at(i) += st(i); i += 1 }
          (l + nl, aw, at)
        },
        combOp = { case ((l1, w1, t1), (l2, w2, t2)) =>
          var i = 0; while (i < w1.length) { w1(i) += w2(i); i += 1 }
          i = 0; while (i < t1.length) { t1(i) += t2(i); i += 1 }
          (l1 + l2, w1, t1)
        })
      bW.destroy(); bT.destroy()
      history += nllSum / n
      // AdaGrad on the driver (model-sized state)
      var k = 0
      while (k < K) {
        var f = 0
        while (f < F) {
          val g = gW(k * F + f) / n + l2 * w(k)(f)
          val a = { accW(k * F + f) += g * g; accW(k * F + f) }
          w(k)(f) = (w(k)(f) - lr * g / math.sqrt(a + 1e-8)).toFloat
          f += 1
        }
        k += 1
      }
      var i = 0
      while (i < N) {
        var j = 0
        while (j < N) {
          if (trainableT(i)(j)) {
            val g = gT(i * N + j) / n + l2 * tr(i)(j)
            val a = { accT(i * N + j) += g * g; accT(i * N + j) }
            tr(i)(j) = (tr(i)(j) - lr * g / math.sqrt(a + 1e-8)).toFloat
          }
          j += 1
        }
        i += 1
      }
    }
    rdd.unpersist()
    (w, tr, history.toSeq)
  }

  /** Labeled sentence with word-identity ids (−1 = out of vocab) —
    * the φ of SURVEY §7.3 (discrete features ∪ word identity) for the
    * DISCRIMINATIVE trainer. `clusterIds` (optional, empty = none) are
    * Brown-cluster rows in the SAME weight matrix — each token then
    * fires two identity rows, word and cluster, both additive (the
    * discriminative fit handles the correlation that the closed form
    * must gate away). −1 = no cluster. */
  final case class WordSentence(masks: Array[Int], wordIds: Array[Int],
      tags: Array[Int], clusterIds: Array[Int] = Array.empty)

  /** Forward–backward NLL + gradients for one sentence under
    * emission(t, tag) = featW·mask(t) + wordW(wordId(t))(tag),
    * ACCUMULATED IN PLACE into (aw, at, av): the word-gradient array
    * is vocab-sized, so per-sentence allocation (the [[sentenceGrad]]
    * pattern) would dominate the epoch in GC. Same math as
    * [[sentenceGrad]] otherwise. */
  def sentenceGradWords(s: WordSentence, w: Array[Array[Float]],
      wv: Array[Array[Float]], tr: Array[Array[Float]],
      aw: Array[Double], at: Array[Double], av: Array[Double]): Double = {
    val T = s.masks.length
    val hasClusters = s.clusterIds.length == T
    val em = Array.tabulate(T) { t =>
      val e = Crf.emit(s.masks(t), w)
      val wid = s.wordIds(t)
      if (wid >= 0) {
        var k = 0
        while (k < K) { e(k) += wv(wid)(k); k += 1 }
      }
      val cid = if (hasClusters) s.clusterIds(t) else -1
      if (cid >= 0) {
        var k = 0
        while (k < K) { e(k) += wv(cid)(k); k += 1 }
      }
      e
    }
    val alpha = Array.ofDim[Double](T, K)
    var k = 0
    while (k < K) { alpha(0)(k) = tr(START)(k) + em(0)(k); k += 1 }
    val buf = new Array[Double](K)
    var t = 1
    while (t < T) {
      var to = 0
      while (to < K) {
        var from = 0
        while (from < K) {
          buf(from) = alpha(t - 1)(from) + tr(from)(to); from += 1
        }
        alpha(t)(to) = lse(buf) + em(t)(to)
        to += 1
      }
      t += 1
    }
    val beta = Array.ofDim[Double](T, K)
    k = 0
    while (k < K) { beta(T - 1)(k) = tr(k)(END); k += 1 }
    t = T - 2
    while (t >= 0) {
      var from = 0
      while (from < K) {
        var to = 0
        while (to < K) {
          buf(to) = tr(from)(to) + em(t + 1)(to) + beta(t + 1)(to); to += 1
        }
        beta(t)(from) = lse(buf)
        from += 1
      }
      t -= 1
    }
    k = 0
    while (k < K) { buf(k) = alpha(T - 1)(k) + tr(k)(END); k += 1 }
    val logZ = lse(buf)
    val nll = logZ - Crf.goldScore(em, tr, s.tags)

    t = 0
    while (t < T) {
      val wid = s.wordIds(t)
      val cid = if (hasClusters) s.clusterIds(t) else -1
      k = 0
      while (k < K) {
        val gamma = math.exp(alpha(t)(k) + beta(t)(k) - logZ)
        val diff = gamma - (if (s.tags(t) == k) 1.0 else 0.0)
        if (diff != 0.0) {
          var mm = s.masks(t)
          while (mm != 0) {
            val f = java.lang.Integer.numberOfTrailingZeros(mm)
            aw(k * F + f) += diff
            mm &= mm - 1
          }
          if (wid >= 0) av(wid * K + k) += diff
          if (cid >= 0) av(cid * K + k) += diff
        }
        k += 1
      }
      t += 1
    }
    k = 0
    while (k < K) {
      at(START * N + k) +=
        math.exp(tr(START)(k) + em(0)(k) + beta(0)(k) - logZ)
      at(k * N + END) += math.exp(alpha(T - 1)(k) + tr(k)(END) - logZ)
      k += 1
    }
    at(START * N + s.tags(0)) -= 1.0
    at(s.tags(T - 1) * N + END) -= 1.0
    t = 0
    while (t < T - 1) {
      var i = 0
      while (i < K) {
        var j = 0
        while (j < K) {
          at(i * N + j) += math.exp(
            alpha(t)(i) + tr(i)(j) + em(t + 1)(j) + beta(t + 1)(j) - logZ)
          j += 1
        }
        i += 1
      }
      at(s.tags(t) * N + s.tags(t + 1)) -= 1.0
      t += 1
    }
    nll
  }

  /** Exact max-likelihood training WITH word-identity features —
    * φ = §2.3 features ∪ word identity, discriminatively fit (the
    * iterative counterpart of [[FitCrf]]'s closed-form fit). Same
    * execution shape as [[train]]: one treeAggregate of model-sized
    * partials per epoch (now + V×K word gradients — still ≪ 1 MB for
    * a minCount-pruned vocab), AdaGrad on the driver, walls frozen.
    * Returns (featW, wordW by word id, transitions, NLL history). */
  def trainWords(data: Dataset[WordSentence], vocabSize: Int,
      epochs: Int = 20, lr: Double = 0.5, l2: Double = 1e-4)
      : (Array[Array[Float]], Array[Array[Float]], Array[Array[Float]],
        Seq[Double]) = {
    val spark = data.sparkSession
    val w = Array.fill(K, F)(0f)
    val wv = Array.fill(vocabSize, K)(0f)
    val tr = Array.tabulate(N, N) { (i, j) =>
      if (Crf.walls(i)(j)) WALL else 0f
    }
    val accW = new Array[Double](K * F)
    val accT = new Array[Double](N * N)
    val accV = new Array[Double](vocabSize * K)
    val history = scala.collection.mutable.ArrayBuffer[Double]()
    val rdd = data.rdd.cache()
    val n = rdd.count().toDouble
    for (_ <- 1 to epochs) {
      val bW = spark.sparkContext.broadcast(w.map(_.clone()))
      val bV = spark.sparkContext.broadcast(wv.map(_.clone()))
      val bT = spark.sparkContext.broadcast(tr.map(_.clone()))
      val zero = (0.0, new Array[Double](K * F),
        new Array[Double](N * N), new Array[Double](vocabSize * K))
      val (nllSum, gW, gT, gV) = rdd.treeAggregate(zero)(
        seqOp = { case ((l, aw, at, av), s) =>
          val nl = sentenceGradWords(s, bW.value, bV.value, bT.value,
            aw, at, av)
          (l + nl, aw, at, av)
        },
        combOp = { case ((l1, w1, t1, v1), (l2, w2, t2, v2)) =>
          var i = 0; while (i < w1.length) { w1(i) += w2(i); i += 1 }
          i = 0; while (i < t1.length) { t1(i) += t2(i); i += 1 }
          i = 0; while (i < v1.length) { v1(i) += v2(i); i += 1 }
          (l1 + l2, w1, t1, v1)
        })
      bW.destroy(); bV.destroy(); bT.destroy()
      history += nllSum / n
      var k = 0
      while (k < K) {
        var f = 0
        while (f < F) {
          val g = gW(k * F + f) / n + l2 * w(k)(f)
          val a = { accW(k * F + f) += g * g; accW(k * F + f) }
          w(k)(f) = (w(k)(f) - lr * g / math.sqrt(a + 1e-8)).toFloat
          f += 1
        }
        k += 1
      }
      var v = 0
      while (v < vocabSize) {
        k = 0
        while (k < K) {
          val idx = v * K + k
          if (gV(idx) != 0.0 || wv(v)(k) != 0f) {
            val g = gV(idx) / n + l2 * wv(v)(k)
            val a = { accV(idx) += g * g; accV(idx) }
            wv(v)(k) = (wv(v)(k) - lr * g / math.sqrt(a + 1e-8)).toFloat
          }
          k += 1
        }
        v += 1
      }
      var i = 0
      while (i < N) {
        var j = 0
        while (j < N) {
          if (!Crf.walls(i)(j)) {
            val g = gT(i * N + j) / n + l2 * tr(i)(j)
            val a = { accT(i * N + j) += g * g; accT(i * N + j) }
            tr(i)(j) = (tr(i)(j) - lr * g / math.sqrt(a + 1e-8)).toFloat
          }
          j += 1
        }
        i += 1
      }
    }
    rdd.unpersist()
    (w, wv, tr, history.toSeq)
  }

  /** Build labeled training rows from tagged sentences (gold tags +
    * the same gazetteer feature bitmasks the decoder sees). */
  def labeled(tagged: Dataset[graft.core.TaggedSentence])
      : Dataset[LabeledSentence] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val bGaz = spark.sparkContext.broadcast(Dict.gazIndex)
    tagged.mapPartitions { it =>
      val gaz = bGaz.value
      it.map { ts =>
        LabeledSentence(Features.sentenceBits(ts.tokens, gaz),
          ts.tags.map(Dict.tagId))
      }
    }
  }
}
