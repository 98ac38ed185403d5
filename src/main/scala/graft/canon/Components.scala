package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by iterative hash-partitioned min-label
  * propagation over a DataFrame edge list (SURVEY.md §4 custom piece 3),
  * used to cluster the near-duplicate document graph (q12, q53).
  * Entity canonicalization needs no graph: the linker's entity id is a
  * function of the mention key, so [[graft.triples.Triples]] states the
  * canonical subject as a column expression.
  *
  * Algorithm (public; the classic Pregel-style min propagation):
  * every vertex starts labeled with its own id; each round every vertex
  * takes the min label over itself and its neighbors; stop when no
  * label changed. Rounds = graph diameter. Scale properties:
  *  - edges are symmetrized once, then every round is one
  *    shuffle-on-src aggregation — partitioning is stable across
  *    rounds (same key), so AQE reuses exchange layout;
  *  - `localCheckpoint` every round cuts lineage so plans don't grow
  *    (100-round lineage would OOM the driver at scale);
  *  - convergence check piggybacks on the aggregation (one `count`
  *    of changed labels), not a collect of labels.
  */
object Components {

  /** @param edges two LongType columns `src`, `dst` (undirected pairs)
    * @return (id: Long, component: Long) — component = min vertex id
    *         reachable; isolated vertices absent from `edges` are
    *         the caller's to union in. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50)
      : DataFrame = {
    val spark = edges.sparkSession
    // symmetrize + dedup once
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // one shuffle-join + one aggregation per round; the old label
      // rides along (isOld) so convergence detection needs no second
      // join, and its count() action doubles as the materialization of
      // the lazily-checkpointed round result
      val fromNeighbors = sym
        .join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("component"),
          lit(0).as("isOld"))
      val merged = fromNeighbors
        .union(labels.withColumn("isOld", lit(1)))
        .groupBy("id").agg(
          min("component").as("component"),
          max(when(col("isOld") === 1, col("component"))).as("old"))
        .localCheckpoint(false)
      val changed = merged.filter(col("component") < col("old")).count()
      labels = merged.select(col("id"), col("component"))
      converged = changed == 0
      iter += 1
    }
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond" — public algorithm): O(log² n) rounds
    * regardless of graph diameter, vs O(diameter) for
    * [[connectedComponents]]. Same output contract (component = min
    * node id; nodes appearing in `edges` only).
    *
    * This is the scale path for adversarial graphs (a 10^9-node chain
    * is 10^9 propagation rounds but ~60 contraction rounds); the
    * propagation variant stays the default because on shallow graphs
    * (diameter ≤ ~4) its single shuffle-per-round beats contraction's
    * three.
    *
    *  - large-star: every node links its larger neighbors to the min
    *    of its neighborhood — emitted edges always point high→low;
    *  - small-star: every node links its smaller neighbors (and
    *    itself) to the smallest of them;
    *  - converged when the canonical edge set's (count, hash-sum)
    *    fingerprint is stable → the graph is a star forest and labels
    *    read off as min(dst) per src;
    *  - per-round `localCheckpoint` cuts lineage exactly like the
    *    propagation loop.
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50)
      : DataFrame = {
    val allNodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"),
        col("src").as("dst"))).distinct()
      val m = sym.groupBy("src")
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      sym.join(m, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    // input invariant: directed high→low and distinct (largeStar
    // emits (v, m) with v > u ≥ m and dedups; the pre-loop normalize
    // establishes it for round 1) — so the usual normalize+distinct
    // shuffle is skipped here, one fewer exchange per round
    def smallStar(e0: DataFrame): DataFrame = {
      // input invariant: already distinct and high→low, so the
      // normalize is a no-op RESHAPE kept only as a projection barrier
      // (a bare self-referential union/join tree trips Catalyst's
      // union-constraint rewrite); crucially there is NO distinct here
      // — that shuffle is what the invariant saves, one exchange per
      // round
      val dir = e0.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = dir.groupBy("src").agg(min(col("dst")).as("m"))
      val withM = dir.join(m, "src")
      withM.select(col("src"), col("m").as("dst"))
        .union(withM.where(col("dst") =!= col("m"))
          .select(col("dst").as("src"), col("m").as("dst")))
        .distinct()
    }

    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: xor cannot overflow under ANSI mode and is
      // set-order independent (the edge set is distinct by invariant)
      val r = e.select(
        greatest(col("src"), col("dst")).as("a"),
        least(col("src"), col("dst")).as("b"))
        .agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var e = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    var fp = fingerprint(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint()
      val nfp = fingerprint(e)
      converged = nfp == fp
      fp = nfp
      iter += 1
    }
    val nonRoots = e.select(
        greatest(col("src"), col("dst")).as("id"),
        least(col("src"), col("dst")).as("component"))
      .groupBy("id").agg(min("component").as("component"))
    allNodes.join(nonRoots, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Map arbitrary string node ids to stable Longs (xxhash64 — 64-bit
    * collision odds negligible at any realistic node count) and back. */
  def stringComponents(spark: SparkSession, edgePairs: DataFrame)
      : DataFrame = {
    // edgePairs: (a: String, b: String)
    val e = edgePairs.select(
      xxhash64(col("a")).as("src"), xxhash64(col("b")).as("dst"))
    val comps = connectedComponents(e)
    val nodes = edgePairs.select(col("a").as("node"))
      .union(edgePairs.select(col("b").as("node"))).distinct()
      .withColumn("id", xxhash64(col("node")))
    nodes.join(comps, "id").select(col("node"), col("component"))
  }
}
