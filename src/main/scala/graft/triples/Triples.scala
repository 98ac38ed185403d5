package graft.triples

import graft.link.Linker.LinkedMention
import org.apache.spark.sql.{DataFrame, Dataset}
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
    * One linear chain: each mention explodes into its four predicate
    * rows and one map-side-combined distinct merges them. The map-side
    * combine collapses a partition's repeats first, so the one exchange
    * carries entity × doc rows; the docId carries repo/path so output
    * can partition by repo. */
  def materialize(linked: Dataset[LinkedMention]): DataFrame = {
    val ltext = lower(col("text"))
    val isLinked = col("entityId") =!= "NIL"
    linked.toDF()
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
      .select(col("subj"), col("po.pred").as("pred"),
        col("po.obj").as("obj"))
      .filter(col("obj").isNotNull) // drops sameAs rows for NIL mentions
      .distinct()
  }
}
