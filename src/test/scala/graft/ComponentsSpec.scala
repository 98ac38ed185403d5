package graft

import graft.canon.Components

class ComponentsSpec extends SparkTestBase {

  test("min-label propagation finds exact components on a known graph") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4}, {10,11}, {20,21,22} (chain), self-loop {30}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (30L, 30L)).toDF("src", "dst")
    val got = Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1,
      10L -> 10, 11L -> 10, 20L -> 20, 21L -> 20, 22L -> 20, 30L -> 30))
  }

  test("long chain converges (diameter > iterations per round)") {
    val s = spark
    import s.implicits._
    val edges = (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Components.connectedComponents(edges).collect()
    assert(got.forall(_.getLong(1) == 0L))
    assert(got.length == 31)
  }

  test("star contraction == propagation on known / chain / random graphs") {
    val s = spark
    import s.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      // mixed known graph incl. self-loop
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
        (20L, 21L), (21L, 22L), (30L, 30L)),
      // 41-node chain: diameter stress (the case contraction exists for)
      (0L until 40L).map(i => (i, i + 1)),
      // two cliques bridged + a star with a high-id center
      (for (a <- 0L to 4L; b <- 0L to 4L if a < b) yield (a, b)) ++
        (for (a <- 50L to 54L; b <- 50L to 54L if a < b) yield (a, b)) ++
        Seq((4L, 50L)) ++ (100L to 105L).map(v => (999L, v)),
      // seeded random graph (sparse -> several components)
      { val rng = new scala.util.Random(7)
        Seq.fill(60)((rng.nextInt(50).toLong, rng.nextInt(50).toLong)) },
      // negative ids (xxhash64 territory): min must respect signs
      Seq((-5L, 3L), (3L, 9L), (-100L, -90L)))
    cases.zipWithIndex.foreach { case (es, i) =>
      val edges = es.toDF("src", "dst")
      assert(labels(Components.connectedComponentsStar(edges)) ==
        labels(Components.connectedComponents(edges)), s"case $i")
    }
  }

  test("star contraction round count is logarithmic on a long chain") {
    val s = spark
    import s.implicits._
    // 64-node chain: propagation needs 63 rounds; contraction must
    // finish well inside 12 (log2(64)^2/3 style bound, not diameter)
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Components.connectedComponentsStar(edges, maxIter = 12)
      .collect()
    assert(got.forall(_.getLong(1) == 0L) && got.length == 64)
  }

  test("string components via xxhash64 ids round-trip to node names") {
    val s = spark
    import s.implicits._
    val pairs = Seq(("m:per:ada", "e:Q1"), ("m:per:ada lovelace", "e:Q1"),
      ("m:org:bank", "e:Q7")).toDF("a", "b")
    val got = Components.stringComponents(spark, pairs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size == 5)
    assert(got("m:per:ada") == got("e:Q1"))
    assert(got("m:per:ada lovelace") == got("e:Q1"))
    assert(got("m:org:bank") == got("e:Q7"))
    assert(got("m:per:ada") != got("m:org:bank"))
  }
}
