package graft.features

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Brown-cluster TRAINER — fills the reference's external input.
  *
  * The reference consumes a pre-built Brown-cluster file
  * (`utils/features.py:16-29` reads a 3-col `bitstring \t word \t freq`
  * TSV given by `--brown_cluster_path`; `dataloaders/data_loader.py:36-40`
  * densifies it, `<unk>` → 499) but never ships one — the clustering
  * itself was run offline with an external tool. This module produces
  * that file from the corpus, Spark-first:
  *
  *  - corpus statistics (unigram + within-sentence bigram counts) are
  *    ONE distributed pass each, pruned by `minCount`/`minBigram`
  *    BEFORE collect, so driver state is vocab-bounded, not
  *    corpus-bounded (the 100 TB guard — at scale raise the prune
  *    knobs; counts, not text, cross the wire);
  *  - cluster optimization is the classical exchange algorithm over
  *    the Brown class-bigram likelihood (Brown et al. 1992 eq. 13;
  *    Martin, Liermann & Ney 1998's exchange optimizer), a
  *    model-sized O(C²) driver computation exactly like the AdaGrad
  *    step of [[graft.crf.CrfTrainer.train]] — the corpus never leaves the
  *    cluster, the count tables do;
  *  - the flat C clusters are then merged agglomeratively under the
  *    same objective to a binary tree, whose root-to-leaf paths give
  *    each cluster a REAL Brown bitstring — the output TSV round-trips
  *    through [[graft.conll.ConllOps.brownClusters]] (and through the
  *    reference's own `get_brown_cluster` reader).
  *
  * Objective: F = Σ_{c,d} N(c,d)·ln N(c,d) − 2·Σ_c N(c)·ln N(c),
  * the count-form of average mutual information between adjacent
  * classes (constant terms dropped — argmax-equivalent).
  */
object Brown {

  private def g(x: Long): Double = if (x <= 0L) 0.0 else x * math.log(x.toDouble)

  /** Corpus statistics for clustering: (vocab sorted by −freq then
    * word, bigram triples by word id). Distributed counting, pruned
    * before collect. Bigrams touching a pruned word are dropped.
    *
    * Driver-memory guard: each collect is BOUNDED at
    * `maxDriverRows + 1` rows (one `limit(...).collect()` — a single
    * pass, no pre-count job); a post-prune vocab or bigram table that
    * overflows the bound fails with the knobs to raise
    * (`minCount`/`minBigram`) instead of silently OOM-ing the driver.
    * The bound IS the driver-memory bound by definition — at most
    * maxDriverRows + 1 rows ever materialize. */
  def corpusCounts(sentences: Dataset[Array[String]],
      minCount: Long = 1, minBigram: Long = 1,
      maxDriverRows: Long = 5000000L)
      : (Array[(String, Long)], Array[(Int, Int, Long)]) = {
    val spark = sentences.sparkSession
    import spark.implicits._
    def boundedCollect[T](df: Dataset[T], what: String, knob: String)
        : Array[T] = {
      val bound = math.min(maxDriverRows + 1, Int.MaxValue.toLong).toInt
      val rows = df.limit(bound).collect()
      if (rows.length > maxDriverRows) throw new IllegalStateException(
        s"Brown.corpusCounts: pruned $what table exceeds the " +
          s"maxDriverRows=$maxDriverRows driver bound. Raise $knob " +
          s"(current minCount=$minCount, minBigram=$minBigram) or " +
          s"maxDriverRows — counts, not text, must fit on the driver.")
      rows
    }
    val uniDf = sentences.flatMap(ws => ws)
      .groupBy(col("value").as("word"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .as[(String, Long)]
    val uni = boundedCollect(uniDf, "vocab", "minCount")
      .sortBy { case (w, n) => (-n, w) }
    val id = uni.iterator.map(_._1).zipWithIndex.toMap
    val bId = spark.sparkContext.broadcast(id)
    val bigDf = sentences.flatMap { ws =>
      val m = bId.value
      (0 until ws.length - 1).iterator.flatMap { i =>
        for (a <- m.get(ws(i)); b <- m.get(ws(i + 1))) yield (a, b)
      }
    }.groupBy(col("_1").as("a"), col("_2").as("b"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minBigram)
      .as[(Int, Int, Long)]
    val big = boundedCollect(bigDf, "bigram", "minBigram")
    bId.destroy()
    (uni, big)
  }

  /** Exchange optimization: each word in turn is removed from its
    * cluster and re-inserted where the objective gain is largest
    * (ties → lowest cluster id, so the result is a pure function of
    * the sorted input). Init: the C most frequent words seed their own
    * clusters; the rest start at rank mod C. Returns cls(wordId). */
  def exchange(freq: Array[Long], bigrams: Array[(Int, Int, Long)],
      numClusters: Int, passes: Int): Array[Int] = {
    val v = freq.length
    val c = math.min(numClusters, math.max(v, 1))
    val cls = Array.tabulate(v)(i => if (i < c) i else i % c)
    // per-word neighbor lists (self-bigrams kept separate)
    val leftN = Array.fill(v)(List.empty[(Int, Long)])  // (x, n(x,w))
    val rightN = Array.fill(v)(List.empty[(Int, Long)]) // (y, n(w,y))
    val selfN = new Array[Long](v)
    bigrams.foreach { case (a, b, n) =>
      if (a == b) selfN(a) += n
      else { rightN(a) ::= (b, n); leftN(b) ::= (a, n) }
    }
    val nc = new Array[Long](c)
    val ncc = Array.ofDim[Long](c, c)
    var i = 0
    while (i < v) { nc(cls(i)) += freq(i); i += 1 }
    bigrams.foreach { case (a, b, n) => ncc(cls(a))(cls(b)) += n }

    val lcA = new Array[Long](c)
    val rcA = new Array[Long](c)
    var touched = new Array[Int](c)

    // add (sign=+1) / remove (sign=−1) word w to/from cluster x, using
    // the CURRENT lcA/rcA aggregates of w's neighbors
    def apply(w: Int, x: Int, nTouched: Int, sign: Int): Unit = {
      var t = 0
      while (t < nTouched) {
        val q = touched(t)
        if (q != x) {
          ncc(q)(x) += sign * lcA(q)
          ncc(x)(q) += sign * rcA(q)
        }
        t += 1
      }
      ncc(x)(x) += sign * (lcA(x) + rcA(x) + selfN(w))
      nc(x) += sign * freq(w)
    }

    var pass = 0
    var moved = 1
    while (pass < passes && moved > 0) {
      moved = 0
      var w = 0
      while (w < v) {
        // aggregate w's word-neighbors by their current cluster
        var nT = 0
        var ln = leftN(w)
        while (ln.nonEmpty) {
          val (x, n) = ln.head
          val q = cls(x)
          if (lcA(q) == 0L && rcA(q) == 0L) { touched(nT) = q; nT += 1 }
          lcA(q) += n
          ln = ln.tail
        }
        var rn = rightN(w)
        while (rn.nonEmpty) {
          val (y, n) = rn.head
          val q = cls(y)
          if (lcA(q) == 0L && rcA(q) == 0L) { touched(nT) = q; nT += 1 }
          rcA(q) += n
          rn = rn.tail
        }
        val a = cls(w)
        apply(w, a, nT, -1)
        // insertion gain for every candidate cluster
        var best = -1
        var bestGain = Double.NegativeInfinity
        var b = 0
        while (b < c) {
          var gain = 0.0
          var t = 0
          while (t < nT) {
            val q = touched(t)
            if (q != b) {
              if (lcA(q) != 0L)
                gain += g(ncc(q)(b) + lcA(q)) - g(ncc(q)(b))
              if (rcA(q) != 0L)
                gain += g(ncc(b)(q) + rcA(q)) - g(ncc(b)(q))
            }
            t += 1
          }
          val dSelf = lcA(b) + rcA(b) + selfN(w)
          gain += g(ncc(b)(b) + dSelf) - g(ncc(b)(b))
          gain -= 2.0 * (g(nc(b) + freq(w)) - g(nc(b)))
          if (gain > bestGain) { bestGain = gain; best = b }
          b += 1
        }
        apply(w, best, nT, +1)
        if (best != a) { cls(w) = best; moved += 1 }
        // reset scratch
        var t = 0
        while (t < nT) { lcA(touched(t)) = 0L; rcA(touched(t)) = 0L; t += 1 }
        w += 1
      }
      pass += 1
    }
    cls
  }

  /** Agglomerative merge of the C flat clusters under the same
    * objective → Brown bitstring per cluster (left child of each merge
    * appends '0', right '1'; merge order is the greedy best pair, ties
    * → lowest pair, so bitstrings are deterministic). */
  def hierarchyBits(numClusters: Int, freq: Array[Long], cls: Array[Int],
      bigrams: Array[(Int, Int, Long)]): Array[String] = {
    val c = numClusters
    if (c == 1) return Array("0")
    val size = 2 * c - 1
    val nc = new Array[Long](size)
    val ncc = Array.ofDim[Long](size, size)
    var i = 0
    while (i < cls.length) { nc(cls(i)) += freq(i); i += 1 }
    bigrams.foreach { case (a, b, n) => ncc(cls(a))(cls(b)) += n }
    val active = scala.collection.mutable.LinkedHashSet(0 until c: _*)
    val childL = new Array[Int](size)
    val childR = new Array[Int](size)
    def mergeDelta(x: Int, y: Int): Double = {
      var d = 0.0
      active.foreach { q =>
        if (q != x && q != y) {
          d += g(ncc(x)(q) + ncc(y)(q)) - g(ncc(x)(q)) - g(ncc(y)(q))
          d += g(ncc(q)(x) + ncc(q)(y)) - g(ncc(q)(x)) - g(ncc(q)(y))
        }
      }
      d += g(ncc(x)(x) + ncc(x)(y) + ncc(y)(x) + ncc(y)(y)) -
        g(ncc(x)(x)) - g(ncc(x)(y)) - g(ncc(y)(x)) - g(ncc(y)(y))
      d - 2.0 * (g(nc(x) + nc(y)) - g(nc(x)) - g(nc(y)))
    }
    var next = c
    while (active.size > 1) {
      val act = active.toArray
      var bi = -1; var bj = -1; var bd = Double.NegativeInfinity
      var p = 0
      while (p < act.length) {
        var q = p + 1
        while (q < act.length) {
          val d = mergeDelta(act(p), act(q))
          if (d > bd) { bd = d; bi = act(p); bj = act(q) }
          q += 1
        }
        p += 1
      }
      childL(next) = bi; childR(next) = bj
      active.foreach { q =>
        if (q != bi && q != bj) {
          ncc(next)(q) = ncc(bi)(q) + ncc(bj)(q)
          ncc(q)(next) = ncc(q)(bi) + ncc(q)(bj)
        }
      }
      ncc(next)(next) =
        ncc(bi)(bi) + ncc(bi)(bj) + ncc(bj)(bi) + ncc(bj)(bj)
      nc(next) = nc(bi) + nc(bj)
      active -= bi; active -= bj; active += next
      next += 1
    }
    val bits = new Array[String](size)
    def walk(node: Int, path: String): Unit =
      if (node < c) bits(node) = if (path.isEmpty) "0" else path
      else { walk(childL(node), path + "0"); walk(childR(node), path + "1") }
    walk(size - 1, "")
    bits.take(c)
  }

  /** End-to-end trainer: sentences → (bits, word, freq) cluster table,
    * the exact file shape `features.py:16-29` reads and
    * [[graft.conll.ConllOps.brownClusters]] densifies. */
  def cluster(sentences: Dataset[Array[String]], numClusters: Int = 128,
      passes: Int = 3, minCount: Long = 1, minBigram: Long = 1)
      : DataFrame = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val (uni, big) = corpusCounts(sentences, minCount, minBigram)
    val freq = uni.map(_._2)
    val c = math.min(numClusters, math.max(uni.length, 1))
    val cls = exchange(freq, big, c, passes)
    val bits = hierarchyBits(c, freq, cls, big)
    uni.indices.map { w =>
      (bits(cls(w)), uni(w)._1, uni(w)._2)
    }.toDF("bits", "word", "freq")
  }

  /** Word → dense cluster id map via the REFERENCE-READER densification
    * (bits → base-2 int → dense rank — data_loader.py:36-40 semantics,
    * shared with q33). NB int(bits, 2) conflates leaves like '010' and
    * '10'; that quirk is the reader's, kept here only for parity. */
  def clusterMap(tsv: DataFrame): Map[String, Int] =
    graft.conll.ConllOps.brownClusters(tsv)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  /** Word → dense cluster id by the BITSTRING itself (dense rank over
    * sorted distinct bits) — the internal feature path: distinct tree
    * leaves stay distinct clusters even when their binary values
    * coincide ('010' vs '10'). Use this when training graft's own
    * cluster features; keep [[clusterMap]] where reader parity is the
    * point. */
  def clusterMapByBits(tsv: DataFrame): Map[String, Int] = {
    val rows = tsv.select("bits", "word").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ids = denseIdsByBits(rows.map(_._1))
    rows.map { case (bits, w) => w -> ids(bits) }.toMap
  }

  /** THE bitstring densification (dense rank over sorted distinct
    * bits) — single definition shared by [[clusterMapByBits]] and the
    * prefix-feature paths in [[graft.FitEval]], so the distinctness
    * rule ('010' ≠ '10') can never drift between them. */
  def denseIdsByBits(bits: Iterable[String]): Map[String, Int] =
    bits.toVector.distinct.sorted.zipWithIndex.toMap
}
