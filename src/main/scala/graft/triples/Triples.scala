package graft.triples

import graft.core.{Dict, Memo, Mention}
import graft.link.Linker
import graft.link.Linker.LinkedMention
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Canonicalization + (subj, pred, obj) materialization.
  *
  * The reference's terminal output is the 8-field EDL record — in
  * effect (doc:span, type, NIL) triples (post_process.py:29-33,
  * utils/Convert_to_darpa_xml.py:6-12). The north star widens this to a
  * canonicalized knowledge graph: mentions of the same entity collapse
  * to one subject, then four predicates materialize: hasType, label,
  * mentionedIn, sameAs (SURVEY.md §7.2 steps 9-10).
  */
object Triples {

  /** Build the full triple table from linked mentions.
    *
    * Canonical subject, per row: `e:<kbId>` for a linked mention and
    * `m:<tag>:<lower(text)>` for a NIL one — type-scoped, so NIL
    * homonyms of different types never merge. [[graft.link.Linker]]
    * makes the entity id a function of (tag, lower(text)), so this is
    * exactly the lexicographic-min node of the mention ↔ KB-id link
    * graph's component ('e:' < 'm:'), with no graph to build.
    *
    * One linear chain: each mention's four predicate rows come out of
    * one narrow pass ([[Emitter]]) and one map-side-combined distinct
    * merges them. The map-side combine collapses a partition's repeats
    * first, so the one exchange carries entity × doc rows; the docId
    * carries repo/path so output can partition by repo. */
  def materialize(linked: Dataset[LinkedMention]): DataFrame = {
    import linked.sparkSession.implicits._
    linked.toDF()
      .select(col("entityId"), col("tag"), lower(col("text")), doc)
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        val emit = new Emitter
        it.flatMap { case (id, tag, ltext, d) => emit(id, tag, ltext, d) }
      }
      .toDF("subj", "pred", "obj")
      .distinct()
  }

  /** [[Linker.link]] then [[materialize]], in one narrow pass: each
    * mention is linked by the task's [[Linker.entityIds]] and its triples
    * emitted at once, so no linked row is built or serialized. The same
    * triples as `materialize(Linker.link(mentions, threshold, index,
    * kbId))`. */
  def ofMentions(mentions: Dataset[Mention],
      index: Map[String, Vector[(Vector[String], String, Int)]] =
        Dict.gazIndex,
      kbId: Int => String = Dict.kbId,
      threshold: Double = Linker.defaultThreshold): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val bIdx = spark.sparkContext.broadcast(index)
    mentions.toDF()
      .select(col("text"), col("tag"), lower(col("text")), doc)
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        val link = Linker.entityIds(bIdx.value, threshold, kbId)
        val emit = new Emitter
        it.flatMap { case (text, tag, ltext, d) =>
          emit(link(tag, text), tag, ltext, d)
        }
      }
      .toDF("subj", "pred", "obj")
      .distinct()
  }

  /** A mention's document, `repo/path` (null if either is). */
  private def doc: Column = concat(col("repo"), lit("/"), col("path"))

  /** A task's triple rows, from a mention's entity id, tag, lowercased
    * text (Spark's `lower`, computed upstream as a column) and document:
    * hasType, label and sameAs (linked only) per (id, tag, lower(text)),
    * and mentionedIn per document. Rows with a null object are dropped,
    * and a string built from a null part is null, as Spark's `concat`.
    *
    * The first three depend on no document, so a task emits them once
    * per key it sees, not once per mention ([[Memo.Cap]] keys at most,
    * then it forgets them and emits again): the distinct after it gets
    * about a quarter of the rows. Not thread-safe: one per task. */
  private final class Emitter {
    private val seen = new java.util.HashSet[(String, String, String)]()

    def apply(id: String, tag: String, ltext: String, d: String)
        : Iterator[(String, String, String)] = {
      val linked = id != null && id != "NIL"
      val subj =
        if (linked) "e:" + id else cat(cat("m:", tag), cat(":", ltext))
      val in = Iterator.single((subj, "mentionedIn", d))
      if (seen.size >= Memo.Cap) seen.clear()
      val rows =
        if (!seen.add((id, tag, ltext))) in
        else Iterator((subj, "hasType", tag), (subj, "label", ltext),
          (subj, "sameAs", if (linked) id else null)) ++ in
      rows.filter(_._3 != null)
    }

    private def cat(a: String, b: String) =
      if (a == null || b == null) null else a + b
  }
}
