package graft

import graft.core.{Dict, Memo, Mention}
import graft.link.Linker
import org.scalatest.funsuite.AnyFunSuite

class LinkerSpec extends AnyFunSuite {

  test("jaro-winkler golden values (public algorithm)") {
    assert(Linker.jaro("abc", "abc") == 1.0)
    assert(Linker.jaro("abc", "xyz") == 0.0)
    assert(math.abs(Linker.jaroWinkler("MARTHA", "MARHTA") - 0.9611) < 0.0005)
    assert(math.abs(Linker.jaroWinkler("DIXON", "DICKSONX") - 0.8133) < 0.0005)
    assert(Linker.jaroWinkler("", "x") == 0.0)
  }

  test("jaccard on token sets") {
    assert(Linker.jaccard(Set("a", "b"), Set("a", "b")) == 1.0)
    assert(Linker.jaccard(Set("a", "b"), Set("b", "c")) == 1.0 / 3)
    assert(Linker.jaccard(Set.empty, Set.empty) == 1.0)
  }

  test("exact dictionary mention links to its KB id; garbage goes NIL") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ms = Seq(
      Mention("r", "p", 0, 0, 12, "Ada Lovelace", "PER", 1.0),
      Mention("r", "p", 0, 20, 26, "zzzzzz", "PER", 1.0),
      // same text, wrong type: type-gated candidates → NIL
      Mention("r", "p", 1, 0, 12, "Ada Lovelace", "ORG", 1.0)).toDS()
    val linked = Linker.link(ms).collect().sortBy(_.sentIdx)
    val adaId = Dict.kbId(Dict.gazetteer.indexWhere(
      _._1 == Vector("Ada", "Lovelace")))
    assert(linked(0).entityId == adaId && linked(0).score == 1.0)
    assert(linked(1).entityId == "NIL")
    assert(linked(2).entityId == "NIL")
  }

  test("near-miss surface form still links above threshold") {
    val spark = TestSpark.spark
    import spark.implicits._
    // token overlap 1/2 + high JW → blended above 0.75
    val ms = Seq(Mention("r", "p", 0, 0, 8, "Ada Lovelace's", "PER", 1.0))
      .toDS()
    val got = Linker.link(ms).collect().head
    assert(got.entityId != "NIL")
    assert(got.entityName == "ada lovelace")
  }

  /** Per-mention link, written out from [[Linker.similarity]]: the
    * same-label candidates sharing the first token, best score, lowest
    * entry id on ties, NIL below the threshold. */
  private def linkOne(m: Mention): Linker.LinkedMention = {
    val toks = m.text.toLowerCase(java.util.Locale.ROOT).split(' ')
    val scored = Dict.gazIndex.getOrElse(toks(0), Vector.empty)
      .filter(_._2 == m.tag)
      .map { case (e, _, id) => (Linker.similarity(toks, e), id, e) }
    val best = scored.sortBy { case (s, id, _) => (-s, id) }.headOption
    best.filter(_._1 >= Linker.defaultThreshold) match {
      case Some((s, id, e)) => Linker.LinkedMention(m.repo, m.path,
        m.sentIdx, m.start, m.end, m.text, m.tag, Dict.kbId(id),
        e.mkString(" "), math.rint(s * 10000) / 10000)
      case None => Linker.LinkedMention(m.repo, m.path, m.sentIdx,
        m.start, m.end, m.text, m.tag, "NIL", null, 0.0)
    }
  }

  test("the (tag, lower(text)) link memo equals per-mention linking " +
      "across a partition larger than its cap") {
    val spark = TestSpark.spark
    import spark.implicits._
    // one text in mixed case under two tags, linked and NIL, repeated
    val repeated = for {
      text <- Seq("Ada Lovelace", "ada lovelace", "ADA LOVELACE",
        "Ada Lovelac", "Addis Ababa", "zzzzzz", "hash join")
      tag <- Seq("PER", "ORG", "GPE")
    } yield (text, tag)
    // distinct near-misses of one first token, past the memo cap, with
    // the repeated mentions before, among and after them
    val distinct = (0 until Memo.Cap + 2000).map { i =>
      (if (i % 2 == 0) s"Ada Lovelace$i" else s"ada x$i", "PER")
    }
    val texts = repeated ++ distinct.take(Memo.Cap / 2) ++ repeated ++
      distinct.drop(Memo.Cap / 2) ++ repeated
    val ms = texts.zipWithIndex.map { case ((text, tag), i) =>
      Mention("r", s"p${i % 7}", i, 0, text.length, text, tag, 1.0)
    }
    val got = Linker.link(ms.toDS().coalesce(1)).collect()
    assert(got.length == ms.length)
    val want = ms.map(linkOne)
    assert(got.sortBy(_.sentIdx).toSeq == want)
    // every row keeps its own original-case text
    assert(got.map(l => l.sentIdx -> l.text).toMap ==
      ms.map(m => m.sentIdx -> m.text).toMap)
    // both outcomes occur for the mixed-case text, under PER only
    val ada = got.filter(_.text.equalsIgnoreCase("ada lovelace"))
    assert(ada.filter(_.tag == "PER").forall(_.entityId != "NIL"))
    assert(ada.filter(_.tag != "PER").forall(_.entityId == "NIL"))
    assert(got.exists(l => l.text.startsWith("ada x") &&
      l.entityId == "NIL"))
  }
}
