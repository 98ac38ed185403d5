package graft

import graft.core.{Corpus, Dict, LangDict, SourceFile}
import graft.crf.LangModel
import graft.pipeline.Pipeline

/** Gates for the language-routed decode (r4 verdict #1): eng routing
  * is bit-identical to the historical kernel, and the per-language
  * fitted dictionary models decode exactly like dictionary matching on
  * documents whose gaz matches do not overlap — the q66 oracle's
  * enabler, checked here corpus-wide for tir AND orm over the real
  * reference gazetteer. */
class LangModelSpec extends SparkTestBase {

  test("eng routing is bit-identical to the default kernel") {
    val s = spark
    import s.implicits._
    val files = Corpus.synthesize(spark, 80)
    // pins that the default language of the one decode entry is eng
    val a = Pipeline.mentions(files).collect().toSet
    val b = Pipeline.mentions(files, "eng").collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("fit is deterministic (pure function of the word lists)") {
    val m1 = LangModel.fit("tir", LangModel.gazFor("tir"))
    val m2 = LangModel.fit("tir", LangModel.gazFor("tir"))
    assert(m1.featW.map(_.toSeq).toSeq == m2.featW.map(_.toSeq).toSeq)
    assert(m1.trans.map(_.toSeq).toSeq == m2.trans.map(_.toSeq).toSeq)
  }

  test("linkIndex: no same-bucket same-label token-set collision " +
      "(the q69 oracle's unique-argmax assumption) + canonical ids") {
    for (lang <- Seq("tir", "orm")) {
      val gaz = LangModel.gazFor(lang)
      val idx = LangModel.linkIndex(gaz)
      idx.foreach { case (bucket, entries) =>
        val keys = entries.map { case (toks, label, _) =>
          (label, toks.toSet)
        }
        assert(keys.distinct.size == keys.size,
          s"$lang/$bucket: two entries share (label, token set) — " +
            "a score-1.0 Jaccard tie would desync engine and oracle")
      }
      // ids are dense 0..n-1 over the canonical entry order
      val ids = idx.values.flatten.map(_._3).toSeq.sorted
      assert(ids == (0 until ids.size))
      assert(LangModel.kbId(lang)(0) == s"$lang:Q00001")
    }
  }

  test("per-language post-process tables: no English back-fill on a " +
      "non-eng corpus; the language's own entries do insert") {
    val s = spark
    import s.implicits._
    val gaz = LangModel.gazFor("orm")
    // an English dictionary surface planted in an orm doc
    val engEntry = Dict.lookupTable.keys.toSeq.sorted.head
    val ormEntry = LangModel.lookupTable(gaz).keys.toSeq.sorted.head
    val files = Seq(
      SourceFile("orm", "orm/eng.txt", "c0", "orm", engEntry),
      SourceFile("orm", "orm/own.txt", "c0", "orm", ormEntry)).toDS()
    val got = Pipeline.postProcessed(files, lang = "orm")
      .collect().map(m => (m.path, m.text)).toSet
    assert(!got.exists(_._1 == "orm/eng.txt"),
      s"eng entry '$engEntry' back-filled into an orm corpus: $got")
    assert(got.exists(_._1 == "orm/own.txt"),
      s"orm entry '$ormEntry' not inserted by the orm lookup table")
    // the same eng surface IS back-filled when the corpus is eng
    val engFiles = Seq(
      SourceFile("r", "doc/eng.txt", "c0", "eng", engEntry)).toDS()
    val eng = Pipeline.postProcessed(engFiles, lang = "eng")
      .collect().map(_.text).toSet
    assert(eng.contains(engEntry))
  }

  test("q70 insertion-eligible corpus is non-trivial and actually " +
      "exercises the dropped-doc restore path per language") {
    val g = LangDict.loadGaz(LangDict.gazCsvRows())
    val sents = Queries9.insertionEligibleSents(g)
    for (lang <- Seq("tir", "orm")) {
      val mine = sents.filter(_._1 == lang)
      assert(mine.size >= 100,
        s"$lang insertion-eligible corpus collapsed to ${mine.size} " +
          "sentences — the q70 hash gate would be vacuous")
      assert(mine.exists(_._2 % 7 == 0),
        s"$lang: no sid % 7 == 0 doc — nothing is dropped, the " +
          "restore path is untested")
    }
  }

  /** All sliding-window gaz matches of a token array: (pos, len,
    * label). Independent of the decode kernel and of
    * LangFeatures.gazBits — a direct scan. */
  private def slidingMatches(toks: Array[String], gaz: LangDict.Gaz)
      : Seq[(Int, Int, String)] =
    for {
      label <- Dict.entityTypes
      entry <- gaz.getOrElse(label, Vector.empty).distinct
      i <- 0 to toks.length - entry.length
      if toks.slice(i, i + entry.length).sameElements(entry)
    } yield (i, entry.length, label)

  private def overlapFree(ms: Seq[(Int, Int, String)]): Boolean =
    ms.combinations(2).forall { case Seq(a, b) =>
      a._1 + a._2 <= b._1 || b._1 + b._2 <= a._1
    }

  for (lang <- Seq("tir", "orm"))
    test(s"$lang decode == dictionary matching on overlap-free " +
        "sentences (full reference gaz)") {
      val s = spark
      import s.implicits._
      val gaz = LangModel.gazFor(lang)
      val entries = LangModel.orderedEntries(gaz)
      val pool = LangModel.fillerPool(lang, gaz)
      // serve-shaped corpus: framed entry sentences, like q66/q65
      val sents = entries.zipWithIndex.map { case ((_, e), i) =>
        (pool(i % pool.size) +: e :+ pool((i + 1) % pool.size)).toArray
      }
      val eligible = sents.filter(t =>
        overlapFree(slidingMatches(t, gaz)))
      assert(eligible.size > entries.size / 2,
        s"eligibility filter too aggressive: ${eligible.size}")
      val files = eligible.zipWithIndex.map { case (toks, i) =>
        SourceFile(lang, f"$lang/$i%05d.txt", "c0", lang,
          toks.mkString(" "))
      }
      val got = Pipeline.mentions(files.toDS(), lang)
        .collect()
        .map(m => (m.path, m.start, m.end, m.tag))
        .toSet
      val want = (for {
        (toks, i) <- eligible.zipWithIndex
        (pos, len, label) <- slidingMatches(toks, gaz)
      } yield {
        val start =
          if (pos == 0) 0
          else toks.take(pos).map(_.length).sum + pos
        val text = toks.slice(pos, pos + len).mkString(" ")
        (f"$lang/$i%05d.txt", start, start + text.length, label)
      }).toSet
      assert(got == want,
        s"decode≠dictionary: extra=${(got -- want).take(5)} " +
          s"missing=${(want -- got).take(5)}")
      assert(want.nonEmpty)
    }
}
