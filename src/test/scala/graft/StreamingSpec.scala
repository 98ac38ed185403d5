package graft

import java.sql.Timestamp
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkTestBase {

  // offset from epoch 0: a row whose event time equals the initial
  // watermark (0) is dropped as late — an artifact worth avoiding in
  // fixtures, not a dedup bug
  private def ts(min: Int) = new Timestamp((min + 60) * 60000L)

  private val fixture = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(1), 1, "click", 2.0),
    Event(3, ts(2), 2, "view", 3.0),
    Event(4, ts(6), 1, "click", 4.0),
    Event(5, ts(7), 2, "view", 5.0),
    Event(6, ts(90), 1, "click", 6.0)) // new session for user 1

  test("windowed counts: streaming == batch twin (complete mode)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(fixture: _*)
    val q = StreamOps.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("wc")
      .orderBy("win_start", "event_type").collect().map(_.toString)
    val batch = StreamOps.windowedCountsBatch(fixture.toDF())
      .orderBy("win_start", "event_type").collect().map(_.toString)
    assert(stream.toSeq == batch.toSeq)
    assert(stream.nonEmpty)
  }

  test("stateful sessionization counts sessions across triggers") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.sessionize(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(fixture.take(5): _*)
      q.processAllAvailable()
      val afterFirst = spark.table("sess")
        .orderBy("user_id").collect()
      assert(afterFirst.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 3L, 2L -> 2L))
      // event at minute 90 (> 30 min gap) starts a fresh session
      mem.addData(fixture(5))
      q.processAllAvailable()
      val u1 = spark.table("sess").filter(col("user_id") === 1)
        .orderBy(desc("last_ts")).collect().head
      assert(u1.getLong(1) == 1L) // new session, 1 event
    } finally q.stop()
  }

  test("sessionize state is bounded: an expired session's state row " +
      "is dropped once the watermark passes its gap horizon") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamOps.sessionize(mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sessb")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(fixture.take(5): _*) // users 1 and 2 active
      q.processAllAvailable()
      assert(spark.table("sessb").select("user_id").distinct().count() == 2)
      val before = q.lastProgress.stateOperators.head.numRowsTotal
      assert(before == 2) // one state row per user
      // minute 300 event for user 1 only: watermark advances to 290min,
      // far past both sessions' last_ts + 30min gap horizon (~97min).
      // user 2 must be evicted; user 1's row is the FRESH session.
      mem.addData(Event(7, ts(300), 1, "click", 7.0))
      q.processAllAvailable()
      // one more empty-ish trigger so timeout processing (driven by the
      // watermark advanced at the END of the previous trigger) runs
      mem.addData(Event(8, ts(301), 1, "click", 8.0))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1)
      // emitted rows unchanged in meaning: user 1's last session runs
      val u1 = spark.table("sessb").filter(col("user_id") === 1)
        .orderBy(desc("last_ts")).collect().head
      assert(u1.getLong(1) == 2L) // minute 300+301 events, one session
    } finally q.stop()
  }

  test("streaming mention detection == batch kernel on the same files") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val files = graft.core.Corpus.synthesize(spark, 25).collect().toSeq
    val mem = MemoryStream[graft.core.SourceFile]
    mem.addData(files: _*)
    val q = StreamOps.streamingMentions(mem.toDS())
      .writeStream.format("memory").queryName("sm")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("sm")
      .orderBy("repo", "path", "sentIdx", "start")
      .collect().map(_.toString).toSeq
    val batch = graft.pipeline.Pipeline.mentions(files.toDS()).toDF()
      .orderBy("repo", "path", "sentIdx", "start")
      .collect().map(_.toString).toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("language-routed streaming decode == batch routed kernel (tir)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val g = graft.core.LangDict.loadGaz(graft.core.LangDict.gazCsvRows())
    val files = Queries8.eligibleLangSents(g)
      .collect { case ("tir", sid, toks) =>
        graft.core.SourceFile("tir", f"tir/$sid%05d.txt", "c0", "tir",
          toks.mkString(" "))
      }.take(20)
    val mem = MemoryStream[graft.core.SourceFile]
    mem.addData(files: _*)
    val q = StreamOps.streamingMentions(mem.toDS(), "tir")
      .writeStream.format("memory").queryName("smr")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("smr")
      .orderBy("repo", "path", "sentIdx", "start")
      .collect().map(_.toString).toSeq
    val batch = graft.pipeline.Pipeline.mentions(files.toDS(), "tir")
      .toDF().orderBy("repo", "path", "sentIdx", "start")
      .collect().map(_.toString).toSeq
    assert(stream == batch && stream.nonEmpty)
  }

  test("streaming linking == batch linker on the same files") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val files = graft.core.Corpus.synthesize(spark, 20).collect().toSeq
    val mem = MemoryStream[graft.core.SourceFile]
    mem.addData(files: _*)
    val q = StreamOps.streamingLinkedMentions(mem.toDS())
      .writeStream.format("memory").queryName("sl")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val key = Seq("repo", "path", "sentIdx", "start")
    val stream = spark.table("sl").orderBy(key.head, key.tail: _*)
      .collect().map(_.toString).toSeq
    val batch = graft.link.Linker.link(
        graft.pipeline.Pipeline.mentions(files.toDS())).toDF()
      .orderBy(key.head, key.tail: _*)
      .collect().map(_.toString).toSeq
    assert(stream == batch && stream.nonEmpty)
  }

  test("streaming decode under a FITTED model artifact == its batch " +
      "twin (load once, readStream through)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // a CLUSTER-bearing model, round-tripped through ModelIO like the
    // shipped artifact — parity must hold through both the cluster
    // emission term and the save/load path
    val dir = graft.core.TempDirs.create("stream-model")
    graft.io.ModelIO.save(spark,
      graft.crf.DefaultModel.fitted.copy(
        clusters = Map("customer" -> 0, "spark" -> 1),
        clusterW = Map(
          0 -> Array.tabulate(graft.crf.Crf.K)(t => 0.2f * t),
          1 -> Array.fill(graft.crf.Crf.K)(-0.1f))),
      s"$dir/m")
    val model = graft.io.ModelIO.load(spark, s"$dir/m")
    assert(model.clusterW.size == 2)
    val files = graft.core.Corpus.synthesize(spark, 20).collect().toSeq
    val mem = MemoryStream[graft.core.SourceFile]
    mem.addData(files: _*)
    val q = StreamOps.streamingFittedMentions(mem.toDS(), model)
      .writeStream.format("memory").queryName("sf")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val key = Seq("repo", "path", "sentIdx", "start")
    val stream = spark.table("sf").orderBy(key.head, key.tail: _*)
      .collect().map(_.toString).toSeq
    val batch = graft.crf.DecodeKernel.tag(
        graft.segment.Segmenter.sentences(files.toDS()),
        graft.crf.DecodeKernel.decoder(graft.crf.TokenFeatures.eng, model))
      .flatMap(graft.spans.Spans.extract _).toDF()
      .orderBy(key.head, key.tail: _*)
      .collect().map(_.toString).toSeq
    assert(stream == batch && stream.nonEmpty)
  }

  test("streaming dedup drops repeated event ids within watermark") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(fixture(0), fixture(0), fixture(1), fixture(0))
    val q = StreamOps.dedup(mem.toDF())
      .writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dd").count() == 2)
  }
}
