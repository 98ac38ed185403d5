package graft

import graft.core.Dict
import graft.crf.FitCrf
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form Brown-cluster fit (FitCrf.fitWithClusters): the served
  * cluster map is OOV-gated, clusterW is fitted on the rare
  * population, and the additive cluster term actually reaches the
  * emission. Driver-local twin data (countLocal semantics) via a Spark
  * Dataset — small and deterministic. */
class FitClustersSpec extends SparkTestBase {

  private val PER = Dict.tagId("B-PER")
  private val O = Dict.O

  // training sentences: "alice"/"bob" are frequent PER-ish words (in
  // vocab); "zork" and "quux" each occur ONCE (rare) and are tagged
  // B-PER — they form cluster 7's rare population
  private def data = {
    val s = spark
    import s.implicits._
    val sents = Seq.fill(3)(
      FitCrf.TaggedTokens(Array("alice", "saw", "bob"),
        Array(PER, O, PER))) ++ Seq(
      FitCrf.TaggedTokens(Array("zork", "ran"), Array(PER, O)),
      FitCrf.TaggedTokens(Array("quux", "ran"), Array(PER, O)))
    sents.toDS()
  }

  private val clusters = Map(
    "alice" -> 3, "bob" -> 3, "zork" -> 7, "quux" -> 7, "ran" -> 1)

  test("served cluster map is OOV-gated; clusterW row for the rare " +
      "cluster points at the rare population's tag") {
    val m = FitCrf.fitWithClusters(data, clusters, k = 0.5,
      minCount = 2, rareMax = 1, lambda = 0f)
    // in-vocab words are gated out of the served map...
    assert(!m.clusters.contains("alice") && !m.clusters.contains("bob"))
    assert(!m.clusters.contains("ran"))
    // ...rare words stay
    assert(m.clusters.get("zork").contains(7))
    assert(m.clusters.get("quux").contains(7))
    // cluster 7's weights are fitted (on zork+quux, both B-PER)
    val row = m.clusterW(7)
    assert(row.indices.maxBy(i => (row(i), -i)) == PER,
      s"cluster 7 argmax ${row.toSeq}")
  }

  test("the cluster term is additive in the emission for served " +
      "words and absent for gated words") {
    val m = FitCrf.fitWithClusters(data, clusters, k = 0.5,
      minCount = 2, rareMax = 1, lambda = 0f)
    val noClusters = m.copy(clusters = Map.empty)
    val maskZ = graft.features.Features.tokenBits("zork")
    val withC = FitCrf.emit("zork", maskZ, m)
    val withoutC = FitCrf.emit("zork", maskZ, noClusters)
    val row = m.clusterW(7)
    (0 until graft.crf.Crf.K).foreach { t =>
      assert(math.abs(withC(t) - withoutC(t) - row(t)) < 1e-6)
    }
    // gated in-vocab word: identical emission with or without clusters
    val maskA = graft.features.Features.tokenBits("alice")
    assert(FitCrf.emit("alice", maskA, m).toSeq ==
      FitCrf.emit("alice", maskA, noClusters).toSeq)
  }
}
