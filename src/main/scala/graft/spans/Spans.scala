package graft.spans

import graft.core.{Mention, TaggedSentence}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BIO tag sequences → entity-mention spans.
  *
  * Semantics of the reference's span extractor
  * (utils/Convert_to_darpa_xml.py:15-94, python twin utils/util.py:45-58):
  * B- starts a span; I- of the same type extends it; an orphan I- (after
  * O, sentence start, or a different type) STARTS a new span
  * (Convert_to_darpa_xml.py:62-67); O flushes. Char offsets are carried
  * from tokenization, so the reference's fuzzy offset re-matching
  * (post_process.py:363-414) is unnecessary (SURVEY.md §2.5).
  *
  * Two implementations with identical results:
  *  - [[extract]]: per-sentence FSM called inside the fused decode
  *    (no shuffle);
  *  - [[fromTokenTable]]: relational window form over an exploded
  *    (doc, sent, idx, token, tag) table — the SQL-expressible twin used
  *    by the DuckDB oracle (`isStart` via lag, span id via running sum,
  *    groupBy span id — SURVEY.md §2.7).
  */
object Spans {

  /** FSM over one tagged sentence. */
  def extract(t: TaggedSentence): Seq[Mention] = {
    val out = Vector.newBuilder[Mention]
    var openType: String = null
    var openStart = 0
    var openStartTok = 0
    var i = 0
    def flush(endTok: Int): Unit = {
      if (openType != null) {
        out += Mention(t.repo, t.path, t.sentIdx, openStart,
          t.ends(endTok),
          t.tokens.slice(openStartTok, endTok + 1).mkString(" "),
          openType, 1.0)
        openType = null
      }
    }
    while (i < t.tags.length) {
      val tag = t.tags(i)
      if (tag == "O") flush(i - 1)
      else {
        val typ = tag.substring(2)
        if (tag.charAt(0) == 'B' || openType == null || openType != typ) {
          flush(i - 1)
          openType = typ; openStart = t.starts(i); openStartTok = i
        } // else I- of same type: extend
      }
      i += 1
    }
    flush(t.tags.length - 1)
    out.result()
  }

  /** Relational twin over a token table with columns
    * (doc, sent, idx, token, start, end, tag). Window FSM:
    * isStart = tag startswith B, or startswith I and previous tag's type
    * differs / is O; spanId = running sum of isStart. One shuffle on
    * (doc, sent) — at 100 TB this is the only wide stage of extraction
    * and it partitions on the natural key. */
  def fromTokenTable(tokens: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc", "sent").orderBy("idx")
    val typ = when(col("tag") === "O", lit(null))
      .otherwise(substring(col("tag"), 3, 1000))
    tokens
      .withColumn("typ", typ)
      .withColumn("prevTyp", lag("typ", 1).over(w))
      .withColumn("isStart",
        (col("typ").isNotNull &&
          (substring(col("tag"), 1, 1) === "B" ||
           col("prevTyp").isNull || col("prevTyp") =!= col("typ")))
          .cast("int"))
      .withColumn("spanId",
        sum("isStart").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("typ").isNotNull)
      .groupBy(col("doc"), col("sent"), col("spanId"))
      .agg(
        min("start").as("start"),
        max("end").as("end"),
        min("typ").as("tag"), // constant within a span; min = deterministic
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("token")))),
          x => x.getField("token")), " ").as("text"))
      .drop("spanId")
  }
}
