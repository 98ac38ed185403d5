package graft

import graft.conll.ConllOps
import graft.core.Corpus
import graft.io.TableIO
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class TableIOSnapshotSpec extends SparkTestBase {

  test("content-derived snapshot id: order-independent, change-sensitive") {
    val a = Corpus.synthesize(spark, 40).toDF()
    val id1 = TableIO.snapshotId(a)
    val id2 = TableIO.snapshotId(a.repartition(7)) // different order
    assert(id1 == id2)
    val changed = a.withColumn("content",
      when(col("path").endsWith(".md"),
        concat(col("content"), lit("x"))).otherwise(col("content")))
    assert(TableIO.snapshotId(changed) != id1)
    // same content under a new path or a new commit: a new snapshot
    val first = col("path") === a.select(min("path")).head().getString(0)
    val renamed = a.withColumn("path",
      when(first, concat(lit("moved/"), col("path"))).otherwise(col("path")))
    assert(TableIO.snapshotId(renamed) != id1)
    val recommitted = a.withColumn("commit",
      when(first, concat(col("commit"), lit("'"))).otherwise(col("commit")))
    assert(TableIO.snapshotId(recommitted) != id1)
  }

  test("embedding lookup uses exact first, lowercase fallback second " +
      "(util.py:97-110)") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      ("Paris", Seq(1.0, 0.0)),
      ("paris", Seq(0.5, 0.5)),
      ("tokyo", Seq(0.0, 1.0))).toDF("word", "vec")
    val vocab = Seq("Paris", "Tokyo", "unknown").toDF("word")
    val got = ConllOps.embeddingLookup(vocab, emb)
      .collect().map(r => r.getString(0) ->
        (Option(r.getSeq[Double](1)), r.getBoolean(2))).toMap
    assert(got("Paris") == (Some(Seq(1.0, 0.0)), false)) // exact wins
    assert(got("Tokyo") == (Some(Seq(0.0, 1.0)), true))  // fallback
    assert(got("unknown")._1.isEmpty)
  }

  test("lineage sidecar is escaped JSON: a partition value with a quote " +
      "and a backslash parses, and the snapshot reads back") {
    val s = spark
    import s.implicits._
    val root = graft.core.TempDirs.create("graft_lineage")
    val odd = "a\"b\\c"
    val snap = "snap\"1\\x"
    val df = Seq((1, odd), (2, odd), (3, "plain")).toDF("v", "part")
    TableIO.writeStage(df, root, "t", snap, Seq("part"))
    val dir = java.nio.file.Paths.get(root, "t")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(dir.resolve("_lineage.json").toFile)
    assert(json.get("snapshot").asText() == snap)
    assert(json.get("partitions").get(odd).asLong() == 2)
    assert(json.get("partitions").get("plain").asLong() == 1)
    assert(json.get("rows").asLong() == 3)
    assert(TableIO.committedSnapshot(root, "t").contains(snap))
    // the temp file was renamed into place, not left behind
    val left = java.nio.file.Files.list(dir)
    try assert(!left.iterator().asScala.exists(
      _.getFileName.toString.endsWith(".tmp")))
    finally left.close()
    // and the committed snapshot resumes
    assert(TableIO.writeStage(df, root, "t", snap, Seq("part")).count() == 3)
    // a sidecar in the old unescaped form does not parse: no commit
    java.nio.file.Files.writeString(dir.resolve("_lineage.json"),
      "{\"snapshot\": \"s\", \"partitions\": {\"a'b\\c\": 2}}")
    assert(TableIO.committedSnapshot(root, "t").isEmpty)
  }

  test("footer lineage: null partitions, two partition levels and an " +
      "empty table give the count-based sidecars; the recorded schema is " +
      "the inferred one, and a sidecar without one still resumes") {
    val s = spark
    import s.implicits._
    val root = graft.core.TempDirs.create("graft_lineage_footer")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def sidecar(t: String) = mapper.readTree(
      java.nio.file.Paths.get(root, t, "_lineage.json").toFile)
    // `rows` and `partitions` as the group-by count sidecars had them:
    // a null or empty partition value keyed "null", levels joined by '/'
    val tables = Seq(
      ("n", Seq((1, null: String, 0), (2, null: String, 0), (3, "x", 0),
        (4, "a\"b\\c", 0), (5, "", 0)).toDF("v", "part", "q"),
        Seq("part"),
        """{"a\"b\\c": 1, "null": 3, "x": 1}""", 5),
      ("two", Seq((1, "a", 7), (2, null: String, 7), (3, "a", 8))
        .toDF("v", "p", "q"), Seq("p", "q"),
        """{"a/7": 1, "a/8": 1, "null/7": 1}""", 3),
      ("e", Seq.empty[(Int, String, Int)].toDF("v", "part", "q"), Nil,
        """{"<unpartitioned>": 0}""", 0))
    for ((t, df, parts, want, rows) <- tables) {
      val back = TableIO.writeStage(df, root, t, s"snap-$t", parts)
      val json = sidecar(t)
      assert(json.get("partitions") == mapper.readTree(want), t)
      assert(json.get("rows").asLong() == rows, t)
      assert(back.count() == rows, t)
      // the schema a resume reads with is the one inference gives
      val inferred = spark.read.parquet(s"$root/$t").schema
      assert(back.schema == inferred, t)
      assert(TableIO.read(spark, root, t).schema == inferred, t)
    }
    // an empty partitioned table has no data file to infer a schema
    // from: it has no partition and reads back with the recorded schema
    val ep = TableIO.writeStage(Seq.empty[(Int, String)].toDF("v", "part"),
      root, "ep", "snap-ep", Seq("part"))
    assert(sidecar("ep").get("partitions").size() == 0)
    assert(sidecar("ep").get("rows").asLong() == 0)
    assert(ep.count() == 0 && ep.columns.toSeq == Seq("v", "part"))
    // a sidecar written before the schema was recorded still commits,
    // and its table resumes, read with inference
    val old = sidecar("two").asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
    old.remove("schema")
    mapper.writeValue(
      java.nio.file.Paths.get(root, "two", "_lineage.json").toFile, old)
    assert(TableIO.committedSnapshot(root, "two").contains("snap-two"))
    val resumed = TableIO.writeStage(spark.emptyDataFrame, root, "two",
      "snap-two", Seq("p", "q"))
    assert(resumed.count() == 3)
    assert(resumed.schema == spark.read.parquet(s"$root/two").schema)
  }
}
