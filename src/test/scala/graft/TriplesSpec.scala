package graft

import graft.canon.Components
import graft.core.{Corpus, Dict, Memo, Mention, SourceFile}
import graft.io.TableIO
import graft.link.Linker
import graft.pipeline.Pipeline
import graft.triples.Triples
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class TriplesSpec extends SparkTestBase {

  /** Rows as a multiset. */
  private def bag(xs: Array[_]) = xs.map(_.toString).toSeq.sorted

  test("e2e triples: same-entity mentions canonicalize to one subject") {
    val s = spark
    import s.implicits._
    val files = Corpus.synthesize(spark, 100)
    val triples = Pipeline.triples(files).cache()
    assert(triples.count() > 0)
    // every linked dictionary entity resolves to exactly one subject:
    // sameAs obj (KB id) ↔ subj must be 1:1
    val fanout = triples.filter(col("pred") === "sameAs")
      .groupBy("obj").agg(countDistinct("subj").as("n"))
      .filter(col("n") > 1).count()
    assert(fanout == 0, "a KB id split across canonical subjects")
    // hasType per subject is unique (type-gated node keys)
    val multiType = triples.filter(col("pred") === "hasType")
      .groupBy("subj").agg(countDistinct("obj").as("n"))
      .filter(col("n") > 1).count()
    assert(multiType == 0)
    triples.unpersist()
  }

  test("closed-form subject == min node of the link graph's components") {
    val s = spark
    import s.implicits._
    // a synthetic corpus's mentions plus: a misspelt surface that links
    // to the same KB id as the exact one, a text tagged with two types
    // (one linked, one NIL) and NIL mentions of two types
    val extra = Seq(
      Mention("x", "a", 0, 0, 12, "Ada Lovelace", "PER", 1.0),
      Mention("x", "b", 0, 0, 11, "ada Lovelac", "PER", 1.0),
      Mention("x", "b", 1, 0, 11, "Alan Turing", "PER", 1.0),
      Mention("x", "c", 0, 0, 11, "Alan Turing", "ORG", 1.0),
      Mention("x", "c", 1, 0, 5, "Zorro", "PER", 1.0),
      Mention("x", "d", 0, 0, 5, "zorro", "ORG", 1.0)).toDS()
    val linked = Linker.link(
      Pipeline.postProcessed(Corpus.synthesize(spark, 60)).union(extra))
      .cache()
    val keyed = linked.toDF()
      .select(col("tag"), lower(col("text")).as("ltext"), col("entityId"))
      .distinct().cache()
    // the input holds every case the closed form must get right
    assert(keyed.filter(col("entityId") === "NIL").count() >= 3)
    assert(keyed.filter(col("entityId") =!= "NIL").groupBy("entityId")
      .agg(countDistinct("ltext").as("n")).filter(col("n") > 1).count() > 0)
    assert(keyed.groupBy("ltext").agg(countDistinct("tag").as("n"))
      .filter(col("n") > 1).count() > 0)
    // the precondition: the linker maps a (tag, ltext) to one entity id
    assert(keyed.groupBy("tag", "ltext").agg(countDistinct("entityId")
      .as("n")).filter(col("n") > 1).count() == 0)
    // the previous definition: mention node → entity node (NIL: a
    // self-loop), connected components, subject = min node per component
    val node = concat(lit("m:"), col("tag"), lit(":"), lower(col("text")))
    val edges = linked.toDF().select(node.as("a"),
      when(col("entityId") =!= "NIL", concat(lit("e:"), col("entityId")))
        .otherwise(node).as("b")).distinct()
    val comps = Components.stringComponents(spark, edges)
    val subjOf = comps.join(
      comps.groupBy("component").agg(min("node").as("subj")), "component")
      .select("node", "subj")
    val withSubj = linked.toDF().withColumn("node", node).join(subjOf, "node")
    val want = withSubj.select(col("subj"), lit("hasType"), col("tag"))
      .union(withSubj.select(col("subj"), lit("label"), lower(col("text"))))
      .union(withSubj.filter(col("entityId") =!= "NIL")
        .select(col("subj"), lit("sameAs"), col("entityId")))
      .union(withSubj.select(col("subj"), lit("mentionedIn"),
        concat(col("repo"), lit("/"), col("path"))))
      .distinct()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted
    val (got, old) = (rows(Triples.materialize(linked)), rows(want))
    assert(got == old, s"only new: ${got.diff(old).take(5)}; " +
      s"only old: ${old.diff(got).take(5)}")
    assert(got.contains(("m:ORG:alan turing", "hasType", "ORG")))
    keyed.unpersist(); linked.unpersist()
  }

  test("triples P/R vs reference-semantics golden >= 0.95 (BASELINE gate)") {
    val s = spark
    import s.implicits._
    val n = 150
    val files = Corpus.synthesize(spark, n)
    // golden triples: derived from planted mentions + the dictionary —
    // the reference-semantics expectation (SURVEY.md §7.3)
    val golden = Corpus.golden(spark, n)
      .collect()
      .flatMap { g =>
        val subj = s"m:${g.tag}:${g.text.toLowerCase}"
        val entry = Dict.gazetteer.zipWithIndex.find { case ((t, l), _) =>
          t.mkString(" ").equalsIgnoreCase(g.text) && l == g.tag
        }
        val canonical = entry.map { case (_, id) => s"e:${Dict.kbId(id)}" }
          .map(e => if (e < subj) e else subj).getOrElse(subj)
        Seq((canonical, "hasType", g.tag),
          (canonical, "mentionedIn", s"${g.repo}/${g.path}")) ++
          entry.map { case (_, id) => (canonical, "sameAs", Dict.kbId(id)) }
      }.toSet
    val got = Pipeline.triples(files)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .filter(_._2 != "label").toSet
    val tp = (got intersect golden).size.toDouble
    val p = tp / got.size
    val r = tp / golden.size
    info(f"triple precision=$p%.4f recall=$r%.4f")
    assert(p >= 0.95 && r >= 0.95, f"P=$p%.3f R=$r%.3f")
  }

  test("checkpointed pipeline resumes and writes lineage sidecars") {
    val s = spark
    import s.implicits._
    val root = graft.core.TempDirs.create("graft_ckpt")
    val files = Corpus.synthesize(spark, 40)
    val t1 = Pipeline.triplesCheckpointed(files, root, "snap1")
      .orderBy("subj", "pred", "obj").collect()
    // lineage sidecars exist with rows recorded
    val lin = TableIO.committedSnapshot(root, "triples")
    assert(lin.contains("snap1"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "mentions_raw", "_lineage.json")))
    // resume: same snapshot → identical output (read from checkpoint)
    val t2 = Pipeline.triplesCheckpointed(files, root, "snap1")
      .orderBy("subj", "pred", "obj").collect()
    assert(t1.map(_.toString).toSeq == t2.map(_.toString).toSeq)
    // checkpointing is only a materialisation policy: same triples
    val direct = Pipeline.triples(files)
      .orderBy("subj", "pred", "obj").collect()
    assert(t1.map(_.toString).toSeq == direct.map(_.toString).toSeq)
    // each table holds its stage of the one pipeline, as a multiset
    def table(name: String) = TableIO.read(spark, root, name)
    assert(bag(table("mentions_raw").as[Mention].collect()) ==
      bag(Pipeline.mentions(files).collect()))
    assert(bag(table("mentions_post").as[Mention].collect()) ==
      bag(Pipeline.postProcessed(files).collect()))
    assert(bag(table("mentions_linked").as[Linker.LinkedMention].collect())
      == bag(Linker.link(Pipeline.postProcessed(files)).collect()))
  }

  test("a resumed checkpointed run starts no job until its result is " +
      "read, and a partial resume reads only the stages it needs") {
    val sc = spark.sparkContext
    val root = graft.core.TempDirs.create("graft_ckpt_lazy")
    val files = Corpus.synthesize(spark, 40)
    val cold = bag(Pipeline.triplesCheckpointed(files, root, "snapL")
      .collect())
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      GraftTestBus.drain(sc)
      jobs.set(0)
      // a committed `triples` is read with its recorded schema: no
      // schema-inference job, and no earlier stage is read
      val resumed = Pipeline.triplesCheckpointed(files, root, "snapL")
      GraftTestBus.drain(sc)
      assert(jobs.get == 0)
      assert(bag(resumed.collect()) == cold)
    } finally sc.removeSparkListener(listener)
    // with `triples` uncommitted, the resume rebuilds it from
    // `mentions_linked` alone: the tables before it are not read
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.delete(dir.resolve("triples/_lineage.json"))
    for (t <- Seq("mentions_doc", "mentions_raw", "mentions_post"))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.resolve(t).toFile)
    assert(bag(Pipeline.triplesCheckpointed(files, root, "snapL").collect())
      == cold)
    assert(TableIO.committedSnapshot(root, "triples").contains("snapL"))
    assert(TableIO.committedSnapshot(root, "mentions_post").isEmpty)
  }

  test("a cold checkpointed run reads each input file once") {
    val s = spark
    import s.implicits._
    val n = 40
    val root = graft.core.TempDirs.create("graft_ckpt_once")
    val reads = spark.sparkContext.longAccumulator("ckpt reads")
    val files = Corpus.synthesize(spark, n).map { f => reads.add(1); f }
    val got = Pipeline.triplesCheckpointed(files, root, "snapR").collect()
    // one per-file pass feeds every stage: the decode is not rerun for
    // the post-processed mentions
    assert(reads.value == n)
    assert(bag(got) == bag(Pipeline.triples(Corpus.synthesize(spark, n))
      .collect()))
  }

  test("one input row is one document: two commits of one (repo, path) " +
      "give the same stages on both paths") {
    val s = spark
    import s.implicits._
    val root = graft.core.TempDirs.create("graft_ckpt_docs")
    // two commits of one path with a mention at the same offsets of
    // sentence 0. Every action runs the per-file kernel, so each row is
    // its own document. (No input was found where merging the rows, as
    // the reference chain does, changes the default model's output:
    // every dictionary candidate tried decoded or overlapped a decoded
    // span of its own row, and no text outside the lookup table decoded
    // with two tags. So this pins the equality, not the difference.)
    val files = Seq(
      SourceFile("r", "a.txt", "c1", "eng", "Ada Lovelace met Alan Turing"),
      SourceFile("r", "a.txt", "c2", "eng", "ada lovelace wrote notes"))
      .toDS()
    val post = Pipeline.postProcessed(files).collect()
    assert(post.map(m => (m.sentIdx, m.start, m.end, m.text)).toSet ==
      Set((0, 0, 12, "Ada Lovelace"), (0, 0, 12, "ada lovelace"),
        (0, 17, 28, "Alan Turing")), post.mkString(", "))
    val ckpt = Pipeline.triplesCheckpointed(files, root, "snapD")
    assert(bag(TableIO.read(spark, root, "mentions_post").as[Mention]
      .collect()) == bag(post))
    assert(bag(ckpt.collect()) == bag(Pipeline.triples(files).collect()))
  }

  test("checkpointed rerun after a file rename recomputes: mentionedIn " +
      "carries the new path") {
    val s = spark
    import s.implicits._
    val root = graft.core.TempDirs.create("graft_ckpt_rename")
    val files = Corpus.synthesize(spark, 40).cache()
    def mentionedIn(fs: org.apache.spark.sql.Dataset[SourceFile]) =
      Pipeline.triplesCheckpointed(fs, root, TableIO.snapshotId(fs.toDF()))
        .filter(col("pred") === "mentionedIn")
        .select("obj").distinct().as[String].collect().toSet
    val before = mentionedIn(files)
    val moved = files.collect().find(f => before(s"${f.repo}/${f.path}")).get
    val renamed = files.map(f =>
      if (f == moved) f.copy(path = s"moved/${f.path}") else f)
    val after = mentionedIn(renamed)
    assert(after(s"${moved.repo}/moved/${moved.path}"))
    assert(!after(s"${moved.repo}/${moved.path}"))
    files.unpersist()
  }

  test("checkpointed pipeline routes lang: orm checkpoints == direct " +
      "routed triples, and resume still holds") {
    val s = spark
    import s.implicits._
    val root = graft.core.TempDirs.create("graft_ckpt_orm")
    val g = graft.core.LangDict.loadGaz(graft.core.LangDict.gazCsvRows())
    val files = Queries8.eligibleLangSents(g)
      .collect { case ("orm", sid, toks) =>
        graft.core.SourceFile("orm", f"orm/$sid%05d.txt", "c0", "orm",
          toks.mkString(" "))
      }.take(30).toDS()
    val ckpt = Pipeline.triplesCheckpointed(files, root, "snapO", "orm")
      .orderBy("subj", "pred", "obj").collect().map(_.toString).toSeq
    val direct = Pipeline.triples(files, lang = "orm")
      .orderBy("subj", "pred", "obj").collect().map(_.toString).toSeq
    assert(ckpt == direct && ckpt.nonEmpty)
    // language-scoped ids flowed through the checkpointed link stage
    assert(ckpt.exists(_.contains("orm:Q")))
    val again = Pipeline.triplesCheckpointed(files, root, "snapO", "orm")
      .orderBy("subj", "pred", "obj").collect().map(_.toString).toSeq
    assert(again == ckpt)
  }

  test("post-processing does not damage e2e golden P/R") {
    val s = spark
    import s.implicits._
    val files = Corpus.synthesize(spark, 100)
    val pred = Pipeline.postProcessed(files)
      .map(m => (m.repo, m.path, m.sentIdx, m.start, m.end, m.tag))
      .collect().toSet
    val gold = Corpus.golden(spark, 100)
      .map(g => (g.repo, g.path, g.sentIdx, g.start, g.end, g.tag))
      .collect().toSet
    val tp = (pred intersect gold).size.toDouble
    assert(tp / pred.size >= 0.95 && tp / gold.size >= 0.95)
  }

  test("one-pass link + emit == the explode of each linked mention, " +
      "past a task's key cap") {
    val s = spark
    import s.implicits._
    // mixed case, linked and NIL, one text under several tags, over
    // several docs, repeated before, among and after more distinct NIL
    // keys than a task keeps
    val repeated = for {
      text <- Seq("Ada Lovelace", "ada lovelace", "Ada Lovelac",
        "Addis Ababa", "Zorro", "hash join")
      tag <- Seq("PER", "ORG", "GPE")
      doc <- Seq("p1", "p2")
    } yield (doc, text, tag)
    val distinct = (0 until Memo.Cap + 2000).map { i =>
      (s"q${i % 5}", s"zz$i", if (i % 2 == 0) "PER" else "LOC")
    }
    val rows = repeated ++ distinct.take(Memo.Cap / 2) ++ repeated ++
      distinct.drop(Memo.Cap / 2) ++ repeated
    val ms = rows.zipWithIndex.map { case ((doc, text, tag), i) =>
      Mention("r", doc, i, 0, text.length, text, tag, 1.0)
    }.toDS().coalesce(1)
    // the triple rules as column expressions: each linked mention
    // explodes into its four predicate rows
    val linked = Linker.link(ms).toDF()
    val ltext = lower(col("text"))
    val isLinked = col("entityId") =!= "NIL"
    val exploded = linked
      .select(
        when(isLinked, concat(lit("e:"), col("entityId")))
          .otherwise(concat(lit("m:"), col("tag"), lit(":"), ltext))
          .as("subj"),
        explode(array(
          struct(lit("hasType").as("pred"), col("tag").as("obj")),
          struct(lit("label").as("pred"), ltext.as("obj")),
          struct(lit("sameAs").as("pred"),
            when(isLinked, col("entityId")).as("obj")),
          struct(lit("mentionedIn").as("pred"),
            concat(col("repo"), lit("/"), col("path")).as("obj"))))
          .as("po"))
      .select(col("subj"), col("po.pred"), col("po.obj"))
      .filter(col("obj").isNotNull)
      .as[(String, String, String)].collect().toSet
    assert(exploded.exists(_._2 == "sameAs"))
    assert(exploded.exists(t => t._1.startsWith("m:") && t._2 == "label"))
    for (out <- Seq(Triples.ofMentions(ms),
        Triples.materialize(Linker.link(ms)))) {
      val got = out.as[(String, String, String)].collect()
      assert(got.length == got.toSet.size)
      assert(got.toSet == exploded)
    }
  }
}
