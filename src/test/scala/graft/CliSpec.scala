package graft

import graft.conll.ConllFixture
import graft.core.TempDirs
import graft.crf.{Crf, DecodeKernel, FitCrf, Model, TokenFeatures}
import graft.eval.SpanPRF1
import graft.io.ModelIO
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._

/** The CLI façade end-to-end: fit → save → load → tag → eval on a
  * real (small) CoNLL file — the workflow a reference user runs via
  * `main.py --mode train/test`, as library calls. */
class CliSpec extends SparkTestBase {

  private val testPath = FitEval.testPath
  private lazy val available = new java.io.File(testPath).exists()

  test("fit -> save -> load -> tag -> eval roundtrip on eng.test") {
    assume(available)
    val s = spark
    // fit on the (small) test file itself — the spec checks plumbing,
    // not generalization; EngModelSpec gates real train/test quality
    val model = FitCrf.fit(FitEval.labeled(spark, testPath),
      k = 0.1, minCount = 2, rareMax = 2, lambda = 0f)
    val dir = TempDirs.create("cli")
    ModelIO.save(spark, model, s"$dir/m")
    val loaded = ModelIO.load(spark, s"$dir/m")
    // tag writes the reference's prediction-line format — exercise the
    // ACTUAL write path (a multi-column frame through text() throws)
    val tagged = Cli.tagFile(spark, loaded, testPath)
    assert(tagged.count() > 40000) // eng.test tokens
    Cli.writePredictions(tagged, s"$dir/pred")
    val written = spark.read.text(s"$dir/pred").collect()
      .map(_.getString(0))
    assert(written.length > 40000)
    assert(written.take(5).forall(_.split('\t').length == 4))
    // eval on the fit file: train==test here, so F1 must be high —
    // this checks the whole serve+score path, not model quality
    val f1 = SpanPRF1.micro(Cli.evalModel(spark, loaded, testPath)).f1
    info(f"self-fit self-eval F1=$f1%.4f")
    assert(f1 >= 0.85, f"self-eval F1 $f1%.4f unexpectedly low")
  }

  test("eval decodes the test file once: the micro line and the " +
      "per-type table come from one evaluation") {
    val dir = TempDirs.create("clieval")
    val test = s"$dir/test.conll"
    Files.write(Paths.get(test), ConllFixture.lines.asJava)
    val model = FitCrf.fit(FitEval.labeled(spark, test),
      k = 0.1, minCount = 2, rareMax = 2, lambda = 0f)
    ModelIO.save(spark, model, s"$dir/m")
    // stages that read the test file while `body` runs
    def fileStages(body: => Unit): Int = {
      val sc = spark.sparkContext
      val n = new AtomicInteger
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted)
            : Unit =
          if (e.stageInfo.rddInfos.exists(_.name == test)) {
            n.incrementAndGet(); ()
          }
      }
      sc.addSparkListener(listener)
      try { body; GraftTestBus.drain(sc) }
      finally sc.removeSparkListener(listener)
      n.get
    }
    val once = fileStages(
      FitEval.perTypeConll(spark, test, DecodeKernel.tag(_,
        DecodeKernel.decoder(TokenFeatures.eng, model))).collect())
    val out = new java.io.ByteArrayOutputStream
    val eval = fileStages(Console.withOut(out)(Cli.run(spark,
      Array("eval", "--model", s"$dir/m", "--test", test))))
    assert(once > 0 && eval == once,
      s"eval read the test file in $eval stages, one evaluation in $once")
    val printed = out.toString("UTF-8")
    assert(printed.contains("micro P="), printed)
    Seq("LOC", "ORG", "PER").foreach(t =>
      assert(printed.contains(s"|$t"), printed))
  }

  test("tag --model serves a saved weights-only model: its tags equal " +
      "the eng pack decoder's on the same sentences") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.create("clitag")
    val in = s"$dir/in.conll"
    Files.write(Paths.get(in), ConllFixture.lines.asJava)
    // one `word\tNNP\tNP\ttag` line per token, in sentence order
    def served(m: Model, name: String): Seq[(String, String)] = {
      ModelIO.save(spark, m, s"$dir/$name")
      Console.withOut(new java.io.ByteArrayOutputStream)(Cli.run(spark,
        Array("tag", "--model", s"$dir/$name", "--in", in, "--out",
          s"$dir/pred-$name")))
      spark.read.text(s"$dir/pred-$name").as[String].collect()
        .map(_.split('\t')).map(l => (l(0), l(3))).toSeq
    }
    val sents = ConllFixture.lines.mkString("\n").split("\n\n").toSeq
      .zipWithIndex.map { case (block, i) =>
        val toks = block.split('\n').map(_.split(' ')(0))
        graft.core.Sentence("cli", "in", i, toks, toks.indices.toArray,
          toks.indices.map(_ + 1).toArray)
      }
    def decoded(d: DecodeKernel.Decoder): Seq[(String, String)] =
      DecodeKernel.tag(sents.toDS(), d).collect().sortBy(_.sentIdx)
        .flatMap(ts => ts.tokens.zip(ts.tags)).toSeq
    val default = Model.weights(Crf.emissionWeights, Crf.transitions)
    assert(served(default, "default") ==
      decoded(graft.pipeline.LangPack("eng").decoder))
    // the default tags the fixture all O; a capitalized token leaning to
    // B-ORG makes the comparison see entities
    val org = graft.core.Dict.tagId("B-ORG")
    val caps = Model.weights(Crf.emissionWeights.zipWithIndex.map {
      case (r, t) =>
        if (t == org) r.updated(graft.features.Features.CAPITALIZED, 20f)
        else r
    }, Crf.transitions)
    val want = decoded(DecodeKernel.decoder(TokenFeatures.eng, caps))
    assert(want.exists(_._2 != "O") && served(caps, "caps") == want, want)
  }

  test("specs make temp dirs through TempDirs, which deletes them on " +
      "exit") {
    val files = Files.walk(Paths.get("src/test"))
    val leaks =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(f => """createTempDirectory\(""".r
          .findFirstIn(Files.readString(f)).isDefined)
        .map(_.getFileName.toString).toSeq.sorted
      finally files.close()
    assert(leaks.isEmpty, s"Files.createTempDirectory in $leaks")
  }

  test("the shipped artifact serves through the CLI default path " +
      "(tag without --model)") {
    assume(available)
    assume(new java.io.File(ModelIO.defaultFittedPath).exists())
    val loaded = ModelIO.load(spark, ModelIO.defaultFittedPath)
    assert(loaded.clusterW.nonEmpty) // the Brown block rode along
    val tagged = Cli.tagFile(spark, loaded, testPath)
    assert(tagged.filter("tag <> 'O'").count() > 3000)
  }

  test("missing required flag is a usage error, not a bare " +
      "NoSuchElementException; a flag token is never taken as a value") {
    val e = intercept[RuntimeException] {
      Cli.main(Array("kg", "--corpus")) // --corpus has no value
    }
    assert(e.getMessage.contains("missing required flag --corpus"))
    val e2 = intercept[RuntimeException] {
      // --out followed by another flag: NOT a value
      Cli.main(Array("kg", "--corpus", "/tmp/x", "--out", "--foo"))
    }
    assert(e2.getMessage.contains("missing required flag --out"))
  }

  test("usage and unknown-mode errors list every mode") {
    val modes = Seq("fit", "train", "tag", "eval", "kg", "features", "brown")
    val usage = intercept[IllegalArgumentException](Cli.main(Array()))
    assert(modes.forall(usage.getMessage.contains), usage.getMessage)
    val unknown = intercept[IllegalArgumentException](Cli.main(Array("x")))
    assert(unknown.getMessage.contains("unknown mode: x"))
    assert(modes.forall(unknown.getMessage.contains), unknown.getMessage)
  }

  test("the program's entry points are Bench, Cli, ScalingBench and " +
      "Verify; every other command is a Cli mode") {
    val files = Files.walk(Paths.get("src/main/scala"))
    val mains =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(f => Files.readString(f).contains("def main("))
        .map(_.getFileName.toString.stripSuffix(".scala")).toSeq.sorted
      finally files.close()
    assert(mains == Seq("Bench", "Cli", "ScalingBench", "Verify"))
  }

  test("features mode: segnerfts parity rows over line-per-sentence " +
      "text, 15-dim plain and 24-dim with gaz") {
    val s = spark
    val dir = Paths.get(TempDirs.create("clifeat"))
    val in = dir.resolve("deu.txt")
    Files.writeString(in,
      "Vereinigten Arabischen Republik\nHerr Schwarzwald\n")
    val plain = Cli.featuresFrame(spark, "deu", in.toString).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getSeq[Int](3)))
      .sortBy(x => (x._1, x._2))
    assert(plain.length == 5 && plain.forall(_._4.length == 15))
    // README golden, through the CLI path
    assert(plain(2)._3 == "Republik" &&
      plain(2)._4 == Seq(1, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0, 0))
    assert(plain(3)._4(graft.features.Features.TITLE) == 1)   // Herr
    assert(plain(4)._4(graft.features.Features.HEAD_LOC) == 1) // -wald
    val gaz: graft.core.LangDict.Gaz = Map(
      "GPE" -> Vector(Vector("Herr")), "LOC" -> Vector(),
      "ORG" -> Vector(), "PER" -> Vector())
    val withGaz =
      Cli.featuresFrame(spark, "deu", in.toString, Some(gaz)).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](3)))
        .sortBy(x => (x._1, x._2))
    assert(withGaz.forall(_._3.length == 24))
    assert(withGaz(3)._3(graft.features.Features.B_GAZ) == 1)
    assert(withGaz(4)._3(graft.features.Features.O_GAZ) == 1)
  }
}
