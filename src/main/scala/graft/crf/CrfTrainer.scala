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
  *    per-sentence (nll, ∇W, ∇T, ∇V) partials per partition, then up a
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

  /** Labeled training sentence: feature bitmasks, gold tag ids and the
    * identity rows each token fires — the φ of SURVEY §7.3 (discrete
    * features ∪ word identity). `wordIds` and `clusterIds` are rows of
    * ONE identity weight matrix (word, shape-backoff or Brown-cluster
    * rows); −1 = no row at that token, an empty array = none in the
    * sentence, so a features-only sentence carries neither. Both rows
    * of a token are additive (the discriminative fit handles the
    * correlation that the closed form must gate away). */
  final case class WordSentence(masks: Array[Int], tags: Array[Int],
      wordIds: Array[Int] = Array.empty, clusterIds: Array[Int] = Array.empty)

  /** Forward–backward NLL of one sentence in log space over real-tag
    * paths (the path space of [[Crf.forward]], whose alpha recursion it
    * shares) under emission(t, tag) = featW·mask(t) + wv(wordId(t))(tag)
    * + wv(clusterId(t))(tag). The gradient E_model[φ] − φ(gold) is
    * ACCUMULATED IN PLACE into (aw: K×F, at: N×N with walls zero,
    * av: rows×K): the identity gradient is vocab-sized, so allocating
    * it per sentence would dominate the epoch in GC. */
  def addSentenceGrad(s: WordSentence, w: Array[Array[Float]],
      wv: Array[Array[Float]], tr: Array[Array[Float]],
      aw: Array[Double], at: Array[Double], av: Array[Double]): Double = {
    val T = s.masks.length
    def rows(ids: Array[Int]) =
      if (ids.length == T) ids else Array.fill(T)(-1)
    val wordIds = rows(s.wordIds)
    val clusterIds = rows(s.clusterIds)
    def addRow(e: Array[Float], id: Int): Unit =
      if (id >= 0) { var k = 0; while (k < K) { e(k) += wv(id)(k); k += 1 } }
    val em = Array.tabulate(T) { t =>
      val e = Crf.emit(s.masks(t), w)
      addRow(e, wordIds(t)); addRow(e, clusterIds(t))
      e
    }
    val alpha = Array.ofDim[Double](T, K)
    val logZ = Crf.forward(em, tr, alpha)
    // backward: beta(t)(k) = log mass from t (exclusive of em_t) to END
    val buf = new Array[Double](K)
    val beta = Array.ofDim[Double](T, K)
    var k = 0
    while (k < K) { beta(T - 1)(k) = tr(k)(END); k += 1 }
    var t = T - 2
    while (t >= 0) {
      var from = 0
      while (from < K) {
        var to = 0
        while (to < K) {
          buf(to) = tr(from)(to) + em(t + 1)(to) + beta(t + 1)(to); to += 1
        }
        beta(t)(from) = Crf.logSumExp(buf)
        from += 1
      }
      t -= 1
    }
    val nll = logZ - Crf.goldScore(em, tr, s.tags)

    // emission gradient via posteriors γ_t(k); feature x is the bitmask
    t = 0
    while (t < T) {
      val wid = wordIds(t)
      val cid = clusterIds(t)
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
    // transition gradient: boundary rows + pairwise ξ
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

  /** One AdaGrad step over a weight block (rows × cols, gradient and
    * accumulator flat row-major): g = grad/n + l2·w, acc += g²,
    * w −= lr·g/√(acc + 1e-8). Entries that are not `trainable`, and
    * entries whose gradient and weight are both 0 (for them the step
    * changes neither the weight nor the accumulator), are skipped. */
  private def adaGrad(w: Array[Array[Float]], grad: Array[Double],
      acc: Array[Double], trainable: (Int, Int) => Boolean, n: Double,
      lr: Double, l2: Double): Unit = {
    var r = 0
    while (r < w.length) {
      val row = w(r)
      var c = 0
      while (c < row.length) {
        val i = r * row.length + c
        if (trainable(r, c) && (grad(i) != 0.0 || row(c) != 0f)) {
          val g = grad(i) / n + l2 * row(c)
          acc(i) += g * g
          row(c) = (row(c) - lr * g / math.sqrt(acc(i) + 1e-8)).toFloat
        }
        c += 1
      }
      r += 1
    }
  }

  /** Train from zero weights: φ = §2.3 features ∪ `vocabSize` identity
    * rows (0 = features only), discriminatively fit (the iterative
    * counterpart of [[FitCrf]]'s closed-form fit). One treeAggregate of
    * model-sized partials per epoch (K×F + N×N + vocabSize×K — still
    * ≪ 1 MB for a minCount-pruned vocab), AdaGrad on the driver, walls
    * frozen. Returns (featW, identity rows by id, transitions,
    * mean-NLL per epoch). */
  def train(data: Dataset[WordSentence], vocabSize: Int,
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
    val rdd = data.rdd.cache() // numeric aggregation: the one RDD use
    val n = rdd.count().toDouble
    def addInto(a: Array[Double], b: Array[Double]): Unit = {
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }
    }
    for (_ <- 1 to epochs) {
      val bW = spark.sparkContext.broadcast(w.map(_.clone()))
      val bV = spark.sparkContext.broadcast(wv.map(_.clone()))
      val bT = spark.sparkContext.broadcast(tr.map(_.clone()))
      val zero = (0.0, new Array[Double](K * F),
        new Array[Double](N * N), new Array[Double](vocabSize * K))
      val (nllSum, gW, gT, gV) = rdd.treeAggregate(zero)(
        seqOp = { case ((l, aw, at, av), s) =>
          val nl = addSentenceGrad(s, bW.value, bV.value, bT.value,
            aw, at, av)
          (l + nl, aw, at, av)
        },
        combOp = { case ((l1, w1, t1, v1), (l2, w2, t2, v2)) =>
          addInto(w1, w2); addInto(t1, t2); addInto(v1, v2)
          (l1 + l2, w1, t1, v1)
        })
      bW.destroy(); bV.destroy(); bT.destroy()
      history += nllSum / n
      adaGrad(w, gW, accW, (_, _) => true, n, lr, l2)
      adaGrad(wv, gV, accV, (_, _) => true, n, lr, l2)
      adaGrad(tr, gT, accT, (i, j) => !Crf.walls(i)(j), n, lr, l2)
    }
    rdd.unpersist()
    (w, wv, tr, history.toSeq)
  }

  /** Build labeled training rows from tagged sentences (gold tags +
    * the same gazetteer feature bitmasks the decoder sees). */
  def labeled(tagged: Dataset[graft.core.TaggedSentence])
      : Dataset[WordSentence] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val bGaz = spark.sparkContext.broadcast(Dict.gazIndex)
    tagged.mapPartitions { it =>
      val gaz = bGaz.value
      it.map { ts =>
        WordSentence(Features.sentenceBits(ts.tokens, gaz),
          ts.tags.map(Dict.tagId))
      }
    }
  }
}
