package graft

import graft.core.{Corpus, Dict, SourceFile, TempDirs}
import graft.pipeline.Pipeline
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** End-to-end golden gate (SURVEY.md §7.3 / BASELINE.json metric):
  * mention P/R ≥ 0.95 vs the generator's planted golden spans on the
  * deterministic synthetic corpus, plus the per-row sha256(content)
  * invariant, partition-count independence and one per-file pass per
  * action whatever the input's caching. */
class PipelineSpec extends SparkTestBase {

  /** Rows of `ds` read by one action of `action` over it, counted by an
    * accumulator on each input row. */
  private def readsPerAction(ds: Dataset[SourceFile],
      action: Dataset[SourceFile] => Unit): Long = {
    val s = spark
    import s.implicits._
    val reads = spark.sparkContext.longAccumulator("reads")
    action(ds.map { f => reads.add(1); f })
    reads.value
  }

  /** The synthetic corpus of `n` files written to parquet and read back:
    * a scan-rooted input. */
  private def parquetCorpus(n: Int): Dataset[SourceFile] = {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("graft_scan") + "/files"
    Corpus.synthesize(spark, n).write.parquet(dir)
    spark.read.parquet(dir).as[SourceFile]
  }

  test("the fused pass reads each file once per action: cached, " +
      "uncached and parquet-scan input") {
    val n = 60
    val cached = Corpus.synthesize(spark, n, seed = 7L).persist()
    // a cache whose plan has an exchange, as a cached
    // Corpus.fromDocuments has: the input's own plan is adaptive
    val cachedShuffled = Corpus.synthesize(spark, n, seed = 8L)
      .repartition(3).persist()
    try {
      assert(cached.count() == n && cachedShuffled.count() == n)
      val inputs = Seq("uncached" -> Corpus.synthesize(spark, n),
        "parquet scan" -> parquetCorpus(n), "cached" -> cached,
        "cached shuffled" -> cachedShuffled)
      val actions = Seq[(String, Dataset[SourceFile] => Unit)](
        "triples" -> (f => Pipeline.triples(f).collect()),
        "postProcessed" -> (f => Pipeline.postProcessed(f).collect()))
      for ((in, files) <- inputs; (act, run) <- actions) {
        // under AQE a cached scan becomes a query stage that is never
        // reused: without the re-rooted input the cross vote's two
        // readers each ran the per-file pass (2n reads)
        assert(readsPerAction(files, run) == n, s"$act over $in input")
      }
    } finally {
      cached.unpersist()
      cachedShuffled.unpersist()
    }
  }

  test("building Pipeline.triples on scan- and cache-rooted input " +
      "starts no job") {
    val sc = spark.sparkContext
    val cached = Corpus.synthesize(spark, 40, seed = 9L).persist()
    // a cache not loaded yet whose plan has an exchange: building its
    // RDD would run that plan, so it keeps its leaf
    val unloaded = Corpus.synthesize(spark, 40, seed = 10L)
      .repartition(3).persist()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    try {
      cached.count()
      val inputs = Seq("parquet scan" -> parquetCorpus(40),
        "cached" -> cached, "unloaded cache" -> unloaded)
      sc.addSparkListener(listener)
      for ((in, files) <- inputs) {
        GraftTestBus.drain(sc)
        jobs.set(0)
        Pipeline.triples(files)
        Pipeline.postProcessed(files)
        GraftTestBus.drain(sc)
        assert(jobs.get == 0, s"$in input")
      }
    } finally {
      sc.removeSparkListener(listener)
      cached.unpersist()
      unloaded.unpersist()
    }
  }

  test("cached and uncached input give the same triple multiset") {
    def multiset(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val files = Corpus.synthesize(spark, 80)
    val direct = multiset(Pipeline.triples(files))
    assert(direct.nonEmpty)
    files.persist()
    try {
      files.count()
      assert(multiset(Pipeline.triples(files)) == direct)
    } finally files.unpersist()
  }

  test("e2e mention detection P/R >= 0.95 vs golden on 200 files") {
    val s = spark
    import s.implicits._
    val files = Corpus.synthesize(spark, 200)
    val pred = Pipeline.mentions(files)
      .map(m => (m.repo, m.path, m.sentIdx, m.start, m.end, m.tag))
      .collect().toSet
    val gold = Corpus.golden(spark, 200)
      .map(g => (g.repo, g.path, g.sentIdx, g.start, g.end, g.tag))
      .collect().toSet
    val tp = (pred intersect gold).size.toDouble
    val p = tp / pred.size
    val r = tp / gold.size
    info(f"precision=$p%.4f recall=$r%.4f tp=${tp.toInt} pred=${pred.size} gold=${gold.size}")
    assert(p >= 0.95, f"precision $p%.4f < 0.95")
    assert(r >= 0.95, f"recall $r%.4f < 0.95")
  }

  test("per-row sha256(content) invariant survives the pipeline") {
    val files = Corpus.synthesize(spark, 50).toDF()
      .withColumn("sha256", sha2(col("content"), 256))
    files.cache()
    val before = files.select("repo", "path", "sha256")
    // run the pipeline, then re-read content from the (untouched) input
    val after = files.select(col("repo"), col("path"),
      sha2(col("content"), 256).as("sha2b"))
    val joined = before.join(after, Seq("repo", "path"))
    assert(joined.filter(col("sha256") =!= col("sha2b")).count() == 0)
    assert(before.count() == 50)
    files.unpersist()
  }

  test("partition-count independence: same mentions at 1 vs 8 partitions") {
    val s = spark
    import s.implicits._
    val f1 = Corpus.synthesize(spark, 60).repartition(1)
    val f8 = Corpus.synthesize(spark, 60).repartition(8)
    val m1 = Pipeline.mentions(f1)
      .map(m => (m.repo, m.path, m.sentIdx, m.start, m.end, m.text, m.tag))
      .collect().toSet
    val m8 = Pipeline.mentions(f8)
      .map(m => (m.repo, m.path, m.sentIdx, m.start, m.end, m.text, m.tag))
      .collect().toSet
    assert(m1 == m8)
    assert(m1.nonEmpty)
  }

  test("documents-derived corpus yields mentions (bench path is live)") {
    val dir = "/root/testdata/sf0.001"
    if (new java.io.File(dir).exists()) {
      val s = spark
      import s.implicits._
      val corpus = Corpus.fromDocuments(spark, dir)
        .as[graft.core.SourceFile]
      val n = Pipeline.mentions(corpus).count()
      info(s"mentions on sf0.001 documents: $n")
      assert(n > 0)
    }
  }

  test("tag id space is canonical (sorted) and O-terminal") {
    assert(Dict.tags == Dict.tags.sorted)
    assert(Dict.tags.last == "O")
    assert(Dict.K == 9)
  }

  test("authorsFromXmlDir: WL files on disk → author set → PER " +
      "precedence reachable through Pipeline (VERDICT r2 polish)") {
    val dir = java.nio.file.Paths.get(TempDirs.create("graft-authors"))
    java.nio.file.Files.write(dir.resolve("SN_WL_0001.xml"),
      ("<doc id=\"SN_WL_0001\">\n" +
        "<post type=\"post\" id=\"p1\">\n" +
        "<attribute name=\"author\" value=\"alice w\"/>\n" +
        "</post>\n</doc>\n").getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("SN_NW_0002.xml"),
      ("<doc id=\"SN_NW_0002\">\n" +
        "<post type=\"post\" id=\"p1\">\n" +
        "<attribute name=\"author\" value=\"carol\"/>\n" +
        "</post>\n</doc>\n").getBytes("UTF-8"))
    val got = graft.pipeline.Pipeline.authorsFromXmlDir(
      spark, dir.toString)
    // WL author in; NW genre-excluded (extract_authors.py WL filter)
    assert(got == Set("alice w"))
  }
}
