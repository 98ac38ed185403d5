package graft.eval

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Span-level precision/recall/F1 (conlleval semantics).
  *
  * Replaces the reference's Perl conlleval (eval/conlleval.v2:82-245)
  * and its pure-python twin (utils/util.py:61-79): exact-span match on
  * (doc, sent, start, end, type), tp/fp/fn buffered in an associative
  * [[Aggregator]] (SURVEY.md §2.9) — partial aggregation happens
  * map-side, so the metric costs one small shuffle at any scale.
  */
object SpanPRF1 {

  final case class Counts(tp: Long, fp: Long, fn: Long) {
    def precision: Double = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    def f1: Double = {
      val p = precision; val r = recall
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
  }

  /** Input row: span present in pred, gold, or both. */
  final case class SpanFlag(inPred: Boolean, inGold: Boolean)

  val agg: Aggregator[SpanFlag, Counts, Counts] =
    new Aggregator[SpanFlag, Counts, Counts] {
      def zero: Counts = Counts(0, 0, 0)
      def reduce(b: Counts, r: SpanFlag): Counts = Counts(
        b.tp + (if (r.inPred && r.inGold) 1 else 0),
        b.fp + (if (r.inPred && !r.inGold) 1 else 0),
        b.fn + (if (!r.inPred && r.inGold) 1 else 0))
      def merge(a: Counts, b: Counts): Counts =
        Counts(a.tp + b.tp, a.fp + b.fp, a.fn + b.fn)
      def finish(r: Counts): Counts = r
      def bufferEncoder: Encoder[Counts] = Encoders.product[Counts]
      def outputEncoder: Encoder[Counts] = Encoders.product[Counts]
    }

  /** Token-level tag accuracy (the other conlleval number,
    * eval/conlleval.v2:180-186): matched tags / total tokens over a
    * (doc, sent, idx)-keyed join of two tag tables. */
  def tokenAccuracy(pred: DataFrame, gold: DataFrame): DataFrame = {
    val keys = Seq("doc", "sent", "idx")
    val j = pred.select((keys.map(col) :+ col("tag").as("ptag")): _*)
      .join(gold.select((keys.map(col) :+ col("tag").as("gtag")): _*),
        keys)
    j.agg(
      count(lit(1)).as("tokens"),
      sum(when(col("ptag") === col("gtag"), 1).otherwise(0))
        .as("correct"),
      round(sum(when(col("ptag") === col("gtag"), 1).otherwise(0)) /
        greatest(count(lit(1)), lit(1L)), 4).as("accuracy"))
  }

  /** Full-outer join of pred × gold span tables on identical key
    * columns → per-type and micro P/R/F1. Both inputs need columns
    * (doc, sent, start, end, tag). */
  def evaluate(pred: DataFrame, gold: DataFrame): DataFrame = {
    val keys = Seq("doc", "sent", "start", "end", "tag")
    val p = pred.select(keys.map(col): _*).distinct()
      .withColumn("inPred", lit(true))
    val g = gold.select(keys.map(col): _*).distinct()
      .withColumn("inGold", lit(true))
    val joined = p.join(g, keys, "full_outer")
      .select(col("tag"),
        coalesce(col("inPred"), lit(false)).as("inPred"),
        coalesce(col("inGold"), lit(false)).as("inGold"))
    val perType = joined.groupBy("tag").agg(
      sum(when(col("inPred") && col("inGold"), 1).otherwise(0)).as("tp"),
      sum(when(col("inPred") && !col("inGold"), 1).otherwise(0)).as("fp"),
      sum(when(!col("inPred") && col("inGold"), 1).otherwise(0)).as("fn"))
    perType.select(col("tag"), col("tp"), col("fp"), col("fn"),
      round(col("tp") / greatest(col("tp") + col("fp"), lit(1)), 4)
        .as("precision"),
      round(col("tp") / greatest(col("tp") + col("fn"), lit(1)), 4)
        .as("recall"))
  }

  /** Micro counts of a per-type frame of [[evaluate]]: its tp/fp/fn
    * summed over the types. */
  def micro(perType: DataFrame): Counts =
    perType.select("tp", "fp", "fn").collect()
      .map(r => Counts(r.getLong(0), r.getLong(1), r.getLong(2)))
      .foldLeft(agg.zero)(agg.merge)
}
