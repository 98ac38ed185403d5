package graft.io

import graft.crf.Ensemble.Model
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}

/** Model save/load as a Parquet artifact (replaces the reference's
  * DyNet model.save/populate, models/model_builder.py:30-43, and the
  * vocab pickle at utils/util.py:119-127): weights are rows
  * (matrix, row, values) — engine-readable, diffable, versionable.
  * Loaded driver-side and broadcast, as everywhere else. */
object ModelIO {

  /** The shipped English model artifact: the 300-epoch discriminative
    * fit with OOV-gated Brown-cluster features
    * (`Cli train --out models/eng.fitted --clusters 256`), which
    * `Cli tag/eval` serve by default and EngModelSpec gates. */
  val defaultFittedPath = "models/eng.fitted"

  def save(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    val rows =
      model.emissions.zipWithIndex.map { case (r, i) =>
        ("emissions", i, r.toSeq)
      } ++ model.transitions.zipWithIndex.map { case (r, i) =>
        ("transitions", i, r.toSeq)
      }
    rows.toSeq.toDF("matrix", "row", "values")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Loads a [[save]] artifact. A [[saveFitted]] artifact (its second
    * column is `key: string`, not `row: int`) fails with an error that
    * names `path` and the mistyped column. */
  def load(spark: SparkSession, path: String): Model = {
    val rows = read(spark, path, "row", IntegerType, "fitted", "Fitted")
      .collect()
      .map(r => (r.getString(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    def mat(name: String) = rows.filter(_._1 == name)
      .sortBy(_._2).map(_._3)
    Model(mat("emissions"), mat("transitions"))
  }

  /** Reads the artifact at `path` after checking that its second
    * column is `key: keyType`. An artifact of the other shape fails
    * naming `path`, the mistyped column and the loader that reads it
    * (`ModelIO.load<otherSuffix>`). */
  private def read(spark: SparkSession, path: String, key: String,
      keyType: DataType, other: String, otherSuffix: String): DataFrame = {
    val df = spark.read.parquet(path)
    df.schema.fields.lift(1).filterNot(f =>
      f.name == key && f.dataType == keyType).foreach(f =>
      throw new IllegalArgumentException(s"model artifact $path: column " +
        s"'${f.name}: ${f.dataType.simpleString}' where " +
        s"'$key: ${keyType.simpleString}' belongs (a $other artifact " +
        s"written by ModelIO.save$otherSuffix? load it with " +
        s"ModelIO.load$otherSuffix)"))
    df
  }

  /** Persist a closed-form [[graft.crf.FitCrf.FittedModel]] (word and
    * shape dictionaries included) as one generic (matrix, key, values)
    * parquet — same diffable/versionable shape as [[save]]. */
  def saveFitted(spark: SparkSession, m: graft.crf.FitCrf.FittedModel,
      path: String): Unit = {
    import spark.implicits._
    val rows: Seq[(String, String, Seq[Float])] =
      m.featW.zipWithIndex.map { case (r, i) =>
        ("featW", i.toString, r.toSeq)
      }.toSeq ++
      m.trans.zipWithIndex.map { case (r, i) =>
        ("trans", i.toString, r.toSeq)
      } ++
      m.wordW.map { case (w, a) => ("word", w, a.toSeq) } ++
      m.shapeW.map { case (s, a) => ("shape", s.toString, a.toSeq) } ++
      m.clusters.map { case (w, c) => ("clusterOf", w, Seq(c.toFloat)) } ++
      m.clusterW.map { case (c, a) => ("clusterW", c.toString, a.toSeq) } ++
      Seq(("shapeDefault", "", m.shapeDefault.toSeq),
        ("lambda", "", Seq(m.lambda)))
    rows.toDF("matrix", "key", "values")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Loads a [[saveFitted]] artifact. An artifact of another shape
    * fails with an error that names `path` and what is wrong: a
    * weights-only [[save]] artifact (its second column is `row: int`,
    * not `key: string`), or a missing featW, trans, shapeDefault or
    * lambda matrix. */
  def loadFitted(spark: SparkSession, path: String)
      : graft.crf.FitCrf.FittedModel = {
    def fail(what: String) = throw new IllegalArgumentException(
      s"fitted model artifact $path: $what")
    val rows = read(spark, path, "key", StringType, "weights-only", "")
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getSeq[Float](2).toArray))
    def need(name: String) = {
      val m = rows.filter(_._1 == name)
      if (m.isEmpty) fail(s"matrix '$name' is missing")
      m
    }
    def mat(name: String) = need(name).sortBy(_._2.toInt).map(_._3)
    graft.crf.FitCrf.FittedModel(
      mat("featW"),
      rows.filter(_._1 == "word").map(r => r._2 -> r._3).toMap,
      rows.filter(_._1 == "shape").map(r => r._2.toInt -> r._3).toMap,
      need("shapeDefault").head._3,
      mat("trans"),
      need("lambda").head._3(0),
      // absent in pre-cluster artifacts → empty maps (back-compat)
      rows.filter(_._1 == "clusterOf")
        .map(r => r._2 -> r._3(0).toInt).toMap,
      rows.filter(_._1 == "clusterW")
        .map(r => r._2.toInt -> r._3).toMap)
  }
}
