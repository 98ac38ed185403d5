package graft

import graft.conll.Scans
import graft.core.Corpus
import graft.crf.{Crf, Model}
import graft.eval.SpanPRF1
import graft.io.ModelIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ModelIOSpec extends SparkTestBase {

  test("model save/load round-trips exactly (model_builder.py:30-43)") {
    val dir = graft.core.TempDirs.create("graft_model") + "/m"
    val m = Model.weights(Crf.emissionWeights, Crf.transitions)
    ModelIO.save(spark, m, dir)
    val back = ModelIO.load(spark, dir)
    assert(back.featW.map(_.toSeq).toSeq == m.featW.map(_.toSeq).toSeq)
    assert(back.trans.map(_.toSeq).toSeq == m.trans.map(_.toSeq).toSeq)
    assert(back.beyondWeights.isEmpty, back.beyondWeights)
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
    ModelIO.save(spark, m, tmp)
    val m2 = ModelIO.load(spark, tmp)
    assert(m2.featW.map(_.toSeq).toSeq == m.featW.map(_.toSeq).toSeq)
    assert(m2.trans.map(_.toSeq).toSeq == m.trans.map(_.toSeq).toSeq)
    assert(m2.wordW.view.mapValues(_.toSeq).toMap ==
      m.wordW.view.mapValues(_.toSeq).toMap)
    assert(m2.shapeW.view.mapValues(_.toSeq).toMap ==
      m.shapeW.view.mapValues(_.toSeq).toMap)
    assert(m2.shapeDefault.toSeq == m.shapeDefault.toSeq)
    assert(m2.lambda == m.lambda)
  }

  test("load of a legacy (matrix, row, values) artifact names the path " +
      "and the 'row: int' column") {
    val s = spark
    import s.implicits._
    val dir = graft.core.TempDirs.create("graft_model") + "/weights"
    (Crf.emissionWeights.zipWithIndex.map { case (r, i) =>
      ("emissions", i, r.toSeq) } ++
     Crf.transitions.zipWithIndex.map { case (r, i) =>
      ("transitions", i, r.toSeq) }).toSeq
      .toDF("matrix", "row", "values").write.parquet(dir)
    val e = intercept[IllegalArgumentException](ModelIO.load(spark, dir))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("'row: int'"), e.getMessage)
  }

  /** `m` saved, then its rows rewritten by `edit` into a fresh artifact;
    * the error of loading it. */
  private def loadEdited(tag: String, m: graft.crf.Model)(
      edit: DataFrame => DataFrame): (String, IllegalArgumentException) = {
    val root = graft.core.TempDirs.create("fitted-model")
    ModelIO.save(spark, m, s"$root/m")
    val dir = s"$root/$tag"
    edit(spark.read.parquet(s"$root/m")).write.parquet(dir)
    (dir, intercept[IllegalArgumentException](ModelIO.load(spark, dir)))
  }

  test("load of an artifact without shapeDefault or lambda names " +
      "the path and the missing matrix") {
    Seq("shapeDefault", "lambda").foreach { name =>
      val (dir, e) = loadEdited(s"no-$name", graft.crf.DefaultModel.fitted)(
        _.filter(col("matrix") =!= name))
      assert(e.getMessage.contains(dir) &&
        e.getMessage.contains(s"matrix '$name' is missing"), e.getMessage)
    }
  }

  test("load of an artifact with a short featW row names the path and " +
      "the matrix") {
    val (dir, e) = loadEdited("short-featW", graft.crf.DefaultModel.fitted)(
      _.withColumn("values", when(col("matrix") === "featW" &&
        col("key") === "3", slice(col("values"), 1, 23))
        .otherwise(col("values"))))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("matrix 'featW' row '3' has 23 values"),
      e.getMessage)
  }

  test("load of an artifact with a missing trans key names the path and " +
      "the matrix") {
    val (dir, e) = loadEdited("no-trans-4",
        Model.weights(Crf.emissionWeights, Crf.transitions))(
      _.filter(!(col("matrix") === "trans" && col("key") === "4")))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("matrix 'trans' has keys") &&
      e.getMessage.contains("exactly 0..10"), e.getMessage)
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
