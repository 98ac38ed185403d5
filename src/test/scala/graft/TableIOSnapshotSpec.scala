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
}
