package graft

import graft.conll.Scans
import graft.core.Corpus
import graft.crf.{Crf, Ensemble}
import graft.eval.SpanPRF1
import graft.io.ModelIO
import org.apache.spark.sql.functions._

class ModelIOSpec extends SparkTestBase {

  test("model save/load round-trips exactly (model_builder.py:30-43)") {
    val dir = graft.core.TempDirs.create("graft_model") + "/m"
    val m = Ensemble.Model(Crf.emissionWeights, Crf.transitions)
    ModelIO.save(spark, m, dir)
    val back = ModelIO.load(spark, dir)
    assert(back.emissions.map(_.toSeq).toSeq ==
      m.emissions.map(_.toSeq).toSeq)
    assert(back.transitions.map(_.toSeq).toSeq ==
      m.transitions.map(_.toSeq).toSeq)
  }

  test("ensemble split shards deterministically and loses no rows") {
    val df = Corpus.synthesize(spark, 100).toDF()
    val shards = Scans.ensembleSplit(df, 4, seed = 7)
    assert(shards.length == 4)
    assert(shards.map(_.count()).sum == 100)
    val again = Scans.ensembleSplit(df, 4, seed = 7)
    shards.zip(again).foreach { case (a, b) =>
      assert(a.count() == b.count())
    }
  }

  test("fitted model save/load roundtrip (word + shape dictionaries)") {
    val m = graft.crf.DefaultModel.fitted
    val tmp = graft.core.TempDirs.create("fitted-model") + "/m"
    graft.io.ModelIO.saveFitted(spark, m, tmp)
    val m2 = graft.io.ModelIO.loadFitted(spark, tmp)
    assert(m2.featW.map(_.toSeq).toSeq == m.featW.map(_.toSeq).toSeq)
    assert(m2.trans.map(_.toSeq).toSeq == m.trans.map(_.toSeq).toSeq)
    assert(m2.wordW.view.mapValues(_.toSeq).toMap ==
      m.wordW.view.mapValues(_.toSeq).toMap)
    assert(m2.shapeW.view.mapValues(_.toSeq).toMap ==
      m.shapeW.view.mapValues(_.toSeq).toMap)
    assert(m2.shapeDefault.toSeq == m.shapeDefault.toSeq)
    assert(m2.lambda == m.lambda)
  }

  test("loadFitted of a weights-only artifact names the path and the " +
      "mistyped column") {
    val dir = graft.core.TempDirs.create("graft_model") + "/weights"
    ModelIO.save(spark, Ensemble.Model(Crf.emissionWeights,
      Crf.transitions), dir)
    val e = intercept[IllegalArgumentException](
      ModelIO.loadFitted(spark, dir))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("'row: int'"), e.getMessage)
  }

  test("load of a fitted artifact names the path and the mistyped " +
      "column") {
    val dir = graft.core.TempDirs.create("fitted-model") + "/fitted"
    ModelIO.saveFitted(spark, graft.crf.DefaultModel.fitted, dir)
    val e = intercept[IllegalArgumentException](ModelIO.load(spark, dir))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("'key: string'") &&
      e.getMessage.contains("ModelIO.loadFitted"), e.getMessage)
  }

  test("loadFitted of an artifact without shapeDefault or lambda names " +
      "the path and the missing matrix") {
    val root = graft.core.TempDirs.create("fitted-model")
    graft.io.ModelIO.saveFitted(spark, graft.crf.DefaultModel.fitted,
      s"$root/m")
    Seq("shapeDefault", "lambda").foreach { name =>
      val dir = s"$root/no-$name"
      spark.read.parquet(s"$root/m").filter(col("matrix") =!= name)
        .write.parquet(dir)
      val e = intercept[IllegalArgumentException](
        ModelIO.loadFitted(spark, dir))
      assert(e.getMessage.contains(dir) &&
        e.getMessage.contains(s"matrix '$name' is missing"), e.getMessage)
    }
  }

  test("token accuracy: exact fraction with rounding") {
    val s = spark
    import s.implicits._
    val pred = Seq(("d", 0, 0, "O"), ("d", 0, 1, "B-GPE"),
      ("d", 0, 2, "O"), ("d", 0, 3, "O"))
      .toDF("doc", "sent", "idx", "tag")
    val gold = Seq(("d", 0, 0, "O"), ("d", 0, 1, "B-GPE"),
      ("d", 0, 2, "B-PER"), ("d", 0, 3, "O"))
      .toDF("doc", "sent", "idx", "tag")
    val r = SpanPRF1.tokenAccuracy(pred, gold).collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 3)
    assert(r.getDouble(2) == 0.75)
  }
}
