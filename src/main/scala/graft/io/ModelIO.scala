package graft.io

import graft.crf.{Crf, Model}
import graft.features.Features
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StringType

/** Model save/load as a Parquet artifact (replaces the reference's
  * DyNet model.save/populate, models/model_builder.py:30-43, and the
  * vocab pickle at utils/util.py:119-127): one [[graft.crf.Model]] as
  * rows (matrix, key, values) — engine-readable, diffable,
  * versionable. Loaded driver-side and broadcast, as everywhere else.
  *
  * Matrices: `featW` (keys 0..K−1, F values each), `trans` (keys
  * 0..K+1, K+2 values each), `word`/`shape`/`clusterW` rows and
  * `shapeDefault` (K values each), `lambda` and `clusterOf` rows (one
  * value each). A weights-only model has no word, shape or cluster
  * rows. */
object ModelIO {

  /** The shipped English model artifact: the 300-epoch discriminative
    * fit with OOV-gated Brown-cluster features
    * (`Cli train --out models/eng.fitted --clusters 256`), which
    * `Cli tag/eval` serve by default and EngModelSpec gates. */
  val defaultFittedPath = "models/eng.fitted"

  def save(spark: SparkSession, m: Model, path: String): Unit = {
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

  /** Loads a [[save]] artifact, checked against the shapes above. An
    * artifact of another shape fails with an error that names `path`
    * and what is wrong: a mistyped second column (the older
    * (matrix, row, values) layout has `row: int` there), an unknown or
    * missing matrix, a row with the wrong number of values, or
    * `featW`/`trans` keys that are not exactly 0..n−1. */
  def load(spark: SparkSession, path: String): Model = {
    def fail(what: String) = throw new IllegalArgumentException(
      s"model artifact $path: $what")
    val df = spark.read.parquet(path)
    df.schema.fields.lift(1).filterNot(f =>
      f.name == "key" && f.dataType == StringType).foreach(f =>
      fail(s"column '${f.name}: ${f.dataType.simpleString}' where " +
        "'key: string' belongs"))
    val byMatrix = df.collect().map { r =>
      if (r.isNullAt(1) || r.isNullAt(2))
        fail(s"matrix '${r.getString(0)}' has a null key or values")
      (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray)
    }.groupBy(_._1).map { case (k, rs) => k -> rs.map(r => r._2 -> r._3) }
    val K = Crf.K
    val widths = Map("featW" -> Features.numFeatures, "trans" -> (K + 2),
      "word" -> K, "shape" -> K, "clusterW" -> K, "shapeDefault" -> K,
      "lambda" -> 1, "clusterOf" -> 1)
    byMatrix.keys.filterNot(widths.contains).foreach(n =>
      fail(s"unknown matrix '$n'"))
    def rows(name: String): Array[(String, Array[Float])] = {
      val rs = byMatrix.getOrElse(name, Array.empty[(String, Array[Float])])
      rs.find(_._2.length != widths(name)).foreach { case (k, v) =>
        fail(s"matrix '$name' row '$k' has ${v.length} values where " +
          s"${widths(name)} belong")
      }
      rs
    }
    def need(name: String) = {
      val rs = rows(name)
      if (rs.isEmpty) fail(s"matrix '$name' is missing")
      rs
    }
    def dense(name: String, n: Int): Array[Array[Float]] = {
      val rs = need(name)
      val keys = rs.map(_._1)
      val want = (0 until n).map(_.toString)
      if (keys.length != n || keys.toSet != want.toSet)
        fail(s"matrix '$name' has keys " +
          keys.sortBy(k => (k.length, k)).mkString(",") +
          s" where exactly 0..${n - 1} belong")
      rs.sortBy(_._1.toInt).map(_._2)
    }
    def single(name: String): Array[Float] = need(name) match {
      case Array((_, v)) => v
      case rs => fail(s"matrix '$name' has ${rs.length} rows where 1 " +
        "belongs")
    }
    def intKey(name: String, k: String): Int = k.toIntOption.getOrElse(
      fail(s"matrix '$name' key '$k' is not an int"))
    Model(
      dense("featW", K),
      rows("word").toMap,
      rows("shape").map { case (k, v) => intKey("shape", k) -> v }.toMap,
      single("shapeDefault"),
      dense("trans", K + 2),
      single("lambda")(0),
      // absent in pre-cluster artifacts → empty maps (back-compat)
      rows("clusterOf").map { case (w, v) => w -> v(0).toInt }.toMap,
      rows("clusterW").map { case (k, v) => intKey("clusterW", k) -> v }
        .toMap)
  }
}
