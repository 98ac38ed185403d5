package graft

import graft.core.{Mention, Sentence}
import graft.postprocess.PostProcess
import org.apache.spark.sql.Dataset

class PostProcessSpec extends SparkTestBase {

  private def m(path: String, sent: Int, start: Int, end: Int,
      text: String, tag: String) =
    Mention("r", path, sent, start, end, text, tag, 1.0)

  test("lookup fix-up relabels a dictionary span (post_process.py:139-157)") {
    val s = spark
    import s.implicits._
    val ms = Seq(m("p", 0, 0, 12, "Ada Lovelace", "ORG"),
      m("p", 0, 20, 25, "other", "LOC")).toDS()
    val got = PostProcess.lookupFixup(ms).collect().sortBy(_.start)
    assert(got(0).tag == "PER") // dictionary wins
    assert(got(1).tag == "LOC") // untouched
  }

  test("within-doc majority vote relabels when votes > confNum") {
    val s = spark
    import s.implicits._
    val ms = Seq(
      m("p", 0, 0, 5, "Kenya", "GPE"), m("p", 1, 0, 5, "Kenya", "GPE"),
      m("p", 2, 0, 5, "Kenya", "GPE"), m("p", 3, 0, 5, "Kenya", "LOC"),
      // only 2 votes — below confNum=2 threshold (needs > 2)
      m("q", 0, 0, 5, "Adama", "GPE"), m("q", 1, 0, 5, "Adama", "LOC"))
      .toDS()
    val got = PostProcess.withinDocVote(ms, confNum = 2).collect()
    assert(got.filter(_.path == "p").forall(_.tag == "GPE"))
    val q = got.filter(_.path == "q").sortBy(_.sentIdx)
    assert(q.map(_.tag).toSeq == Seq("GPE", "LOC")) // unchanged
  }

  test("cross-doc vote relabels all matches (no skip-next bug)") {
    val s = spark
    import s.implicits._
    val ms = (1 to 5).map(i => m(s"p$i", 0, 0, 5, "Tigray", "GPE")) ++
      (1 to 3).map(i => m(s"q$i", 0, 0, 5, "Tigray", "LOC")) ++
      Seq(m("z", 0, 0, 4, "rare", "ORG"))
    val got = PostProcess.crossDocVote(ms.toDS(), topK = 1).collect()
    assert(got.filter(_.text == "Tigray").forall(_.tag == "GPE"))
    assert(got.filter(_.text == "rare").head.tag == "ORG")
  }

  test("greedy insertion adds dictionary n-grams without overlaps, " +
      "canonical order (post_process.py:176-233)") {
    val s = spark
    import s.implicits._
    val toks = "saw Ada Lovelace near Addis Ababa today".split(' ')
    var pos = 0
    val starts = toks.map { t => val p = pos; pos += t.length + 1; p }
    val ends = toks.zip(starts).map { case (t, st) => st + t.length }
    val sents = Seq(Sentence("r", "p", 0, toks, starts, ends)).toDS()
    // existing mention already covers "Ada Lovelace" → candidate
    // suppressed; "Addis Ababa" free → inserted
    val existing = Seq(
      m("p", 0, starts(1), ends(2), "Ada Lovelace", "PER")).toDS()
    val got = PostProcess.insertFromLookup(sents, existing)
      .collect().sortBy(_.start)
    assert(got.length == 2)
    assert(got(0).text == "Ada Lovelace")
    assert(got(1).text == "Addis Ababa" && got(1).tag == "GPE")
    assert(got(1).start == starts(4) && got(1).end == ends(5))
  }

  test("genre/author precedence: DF-genre author span → PER before " +
      "the lookup table (post_process.py:117-122)") {
    val s = spark
    import s.implicits._
    // doc genre = path.split('_')(1), as the reference parses doc ids.
    // "Addis Ababa" is BOTH an author (fixture) and a GPE lookup entry:
    // the author branch must win in DF docs, the lookup in others.
    val authors = Set("Addis Ababa", "John Smith")
    val ms = Seq(
      m("SN_DF_0001", 0, 0, 11, "Addis Ababa", "ORG"), // author wins → PER
      m("SN_NW_0002", 0, 0, 11, "Addis Ababa", "ORG"), // lookup → GPE
      m("SN_DF_0003", 0, 0, 10, "John Smith", "ORG"),  // author → PER
      m("SN_NW_0004", 0, 0, 10, "John Smith", "ORG"),  // no table → stays
      m("plain-path", 0, 0, 10, "John Smith", "ORG"))  // no genre → stays
      .toDS()
    val got = PostProcess.lookupFixup(ms, authors)
      .collect().map(x => x.path -> x.tag).toMap
    assert(got("SN_DF_0001") == "PER")
    assert(got("SN_NW_0002") == "GPE")
    assert(got("SN_DF_0003") == "PER")
    assert(got("SN_NW_0004") == "ORG")
    assert(got("plain-path") == "ORG")
  }

  test("post-process chain pins nothing in the session CacheManager") {
    val s = spark
    import s.implicits._
    val toks = "saw Ada Lovelace yesterday".split(' ')
    var pos = 0
    val starts = toks.map { t => val p = pos; pos += t.length + 1; p }
    val ends = toks.zip(starts).map { case (t, st) => st + t.length }
    val sents = Seq(Sentence("r", "p", 0, toks, starts, ends)).toDS()
    val ms = Seq(m("p", 0, starts(1), ends(2), "Ada Lovelace", "PER")).toDS()
    PostProcess(sents, ms).collect()
    // suites share one session and may run in parallel — poll so a
    // sibling suite's transient (cache → unpersist) window can close
    val deadline = System.nanoTime() + 15_000_000_000L
    while (!spark.sharedState.cacheManager.isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sharedState.cacheManager.isEmpty,
      "post-process must not leave Dataset.cache entries behind")
  }

  /** Runs the full chain, returns the checkpoint RDD ids found in the
    * result's own plan (precise attribution under parallel suites),
    * and lets every reference die with this frame. */
  private def runChainAndCollectIds(
      s: org.apache.spark.sql.SparkSession): Set[Int] = {
    import s.implicits._
    val toks = "saw Ada Lovelace yesterday".split(' ')
    var pos = 0
    val starts = toks.map { t => val p = pos; pos += t.length + 1; p }
    val ends = toks.zip(starts).map { case (t, st) => st + t.length }
    val sents = Seq(Sentence("r", "p2", 0, toks, starts, ends)).toDS()
    val ms = Seq(
      m("p2", 0, starts(1), ends(2), "Ada Lovelace", "PER")).toDS()
    val result = PostProcess(sents, ms)
    val ids = result.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    result.collect() // materializes the checkpoint blocks
    ids
  }

  test("post-process materializes nothing: the full chain carries no " +
      "checkpoint scan (round 3's localCheckpoint is gone for good)") {
    val s = spark
    // Through round 3, crossDocVote localCheckpoint'ed the mention
    // stream (a LogicalRDD in the result plan) and this test asserted
    // the blocks drained after GC. The counts-only restructure removed
    // the materialization entirely, so the stronger invariant holds:
    // no LogicalRDD in the chain's analyzed plan at all.
    val ourIds = runChainAndCollectIds(s)
    assert(ourIds.isEmpty,
      s"post-process chain unexpectedly materialized RDDs: $ourIds")
  }

  test("insertion prefers earlier/longer candidate under overlap " +
      "(canonical (sentIdx,start,end,text) order)") {
    val s = spark
    import s.implicits._
    // "lake tana" (LOC, 2 toks) overlaps "tana" — only one inserted:
    // the one starting earlier
    val toks = "the Lake Tana shore".split(' ')
    var pos = 0
    val starts = toks.map { t => val p = pos; pos += t.length + 1; p }
    val ends = toks.zip(starts).map { case (t, st) => st + t.length }
    val sents = Seq(Sentence("r", "p", 0, toks, starts, ends)).toDS()
    val got = PostProcess.insertFromLookup(sents,
      spark.emptyDataset[Mention]).collect()
    assert(got.map(_.text).toSeq == Seq("Lake Tana"))
  }

  // ---- the per-document kernel against the Dataset-level chain ----------

  private def sent(path: String, idx: Int, text: String): Sentence = {
    val toks = text.split(' ')
    var pos = 0
    val starts = toks.map { t => val p = pos; pos += t.length + 1; p }
    val ends = toks.zip(starts).map { case (t, st) => st + t.length }
    Sentence("r", path, idx, toks, starts, ends)
  }

  /** The mention over tokens [i, i + n) of `s`. */
  private def over(s: Sentence, i: Int, n: Int, tag: String) =
    Mention(s.repo, s.path, s.sentIdx, s.starts(i), s.ends(i + n - 1),
      s.tokens.slice(i, i + n).mkString(" "), tag, 1.0)

  /** Decoder output with planted errors, one kind per stage:
    *  - fix-up: a dictionary name with the wrong type;
    *  - within-doc vote: one text tagged ORG three times and PER once
    *    in one doc;
    *  - cross-doc vote: a text held once per doc, ORG in four docs and
    *    PER in two;
    *  - insertion: dictionary names with no mention.
    * And the named case: "Addis Ababa" is an author, so in DF-genre
    * docs fix-up makes it PER, which wins its cross-doc vote; a dropped
    * occurrence in a news doc is inserted with its lookup tag (GPE). */
  private val authors = Set("Addis Ababa")
  private val planted: Seq[(Sentence, Seq[Mention])] = {
    val a0 = sent("a", 0, "Ada Lovelace met Zorblax")
    val a1 = sent("a", 1, "Zorblax and Zorblax saw Zorblax")
    val a2 = sent("a", 2, "near Lake Tana today")
    val cross = (1 to 6).map { i =>
      val s = sent(s"c$i", 0, "Quuxcorp is here")
      s -> Seq(over(s, 0, 1, if (i <= 4) "ORG" else "PER"))
    }
    val df = (1 to 3).map { i =>
      val s = sent(s"x_DF_$i", 0, "Addis Ababa spoke")
      s -> Seq(over(s, 0, 2, "GPE"))
    }
    val nw1 = sent("n_NW_1", 0, "visit Addis Ababa now")
    val nw2 = sent("n_NW_2", 0, "Addis Ababa again")
    Seq(
      a0 -> Seq(over(a0, 0, 2, "ORG"), over(a0, 3, 1, "ORG")),
      a1 -> Seq(over(a1, 0, 1, "ORG"), over(a1, 2, 1, "ORG"),
        over(a1, 4, 1, "PER")),
      a2 -> Nil,
      nw1 -> Nil,
      nw2 -> Seq(over(nw2, 0, 2, "GPE"))) ++ cross ++ df
  }

  /** The planted docs grouped per document, sentences in order. */
  private def byDoc(docs: Seq[(Sentence, Seq[Mention])])
      : Seq[(Seq[Sentence], Seq[Mention])] =
    docs.groupBy(_._1.path).values.toSeq.sortBy(_.head._1.path).map { d =>
      val ordered = d.sortBy(_._1.sentIdx)
      (ordered.map(_._1), ordered.flatMap(_._2))
    }

  /** [[PostProcess.docKernel]] per doc (then [[PostProcess.docKeys]]
    * with `fold`), then the flagged cross vote — the post-process half
    * of the fused pipeline pass. */
  private def kernelChain(docs: Seq[(Sentence, Seq[Mention])],
      fold: Boolean = false): Dataset[Mention] = {
    val s = spark
    import s.implicits._
    val kernel = PostProcess.docKernel(spark.sparkContext, authors)
    PostProcess.crossDocVoteFlagged(byDoc(docs).toDS().mapPartitions { it =>
      val post = kernel()
      it.flatMap { case (ss, ms) =>
        if (fold) PostProcess.docKeys(post(ss, ms)) else post(ss, ms)
      }
    })
  }

  private def changed[T](a: Dataset[T], b: Dataset[T]): Long =
    a.exceptAll(b).count()

  private def key(m: Mention) = (m.path, m.sentIdx, m.start, m.end, m.text,
    m.tag)

  test("per-doc kernel + flagged cross vote equals lookupFixup → " +
      "withinDocVote → crossDocVote → insertFromLookup on planted " +
      "decoder errors") {
    val s = spark
    import s.implicits._
    val sents = planted.map(_._1).toDS()
    val raw = planted.flatMap(_._2).toDS()
    val fix = PostProcess.lookupFixup(raw, authors)
    val within = PostProcess.withinDocVote(fix)
    val cross = PostProcess.crossDocVote(within)
    val ins = PostProcess.insertFromLookup(sents, cross)
    // every stage acts on the planted errors
    assert(changed(fix, raw) > 0)
    assert(changed(within, fix) > 0)
    assert(changed(cross, within) > 0)
    assert(ins.count() > cross.count())
    val want = ins.collect().map(key).sorted.toSeq
    val got = kernelChain(planted).collect().map(key).sorted.toSeq
    assert(got == want)
    // and the stages gave the intended answers
    val tags = got.map(k => (k._1, k._5) -> k._6).groupMap(_._1)(_._2)
    assert(tags(("a", "Ada Lovelace")) == Seq("PER"))
    assert(tags(("a", "Zorblax")).forall(_ == "ORG"))
    assert((1 to 6).forall(i => tags((s"c$i", "Quuxcorp")) == Seq("ORG")))
    assert(tags(("a", "Lake Tana")) == Seq("LOC"))
  }

  test("an inserted mention whose text won a different tag in the " +
      "cross-doc vote keeps its lookup tag") {
    val got = kernelChain(planted).collect()
      .filter(_.text == "Addis Ababa").map(m => m.path -> m.tag).toMap
    // DF docs: the author branch → PER, 3 of 4 votes: PER wins the key
    assert((1 to 3).forall(i => got(s"x_DF_$i") == "PER"))
    // a decoded mention in a news doc is relabeled by the vote …
    assert(got("n_NW_2") == "PER")
    // … an inserted one is not: the reference inserts after the vote
    assert(got("n_NW_1") == "GPE")
  }

  test("insertion in a document of thousands of lines tests each " +
      "candidate against its own sentence only") {
    // one decoded mention per line; each line's dictionary candidates
    // overlap it or not, and some sit at offsets that another line's
    // mention or insertion covers
    val lines = Vector(
      ("Ada Lovelace met Addis Ababa", 0, 2), // "Ada Lovelace" blocked
      ("Addis Ababa met Ada Lovelace", 2, 1), // both inserted
      ("then Ada Lovelace left", 2, 2),       // overlapped: blocked
      ("Lake Tana and Lake Tana", 2, 1))      // both inserted
    val n = 4000
    val sents = (0 until n).map(i => sent("big", i, lines(i % 4)._1))
    val decoded = sents.map { s =>
      val (_, at, len) = lines(s.sentIdx % 4)
      over(s, at, len, "ORG")
    }
    val post = PostProcess.docKernel(spark.sparkContext)()
    val got = post(sents, decoded).filter(_.inserted)
      .map(r => (r.sentIdx, r.start, r.end, r.text, r.tag)).toSet
    val want = (0 until n).flatMap { i =>
      i % 4 match {
        case 0 => Seq((i, 17, 28, "Addis Ababa", "GPE"))
        case 1 => Seq((i, 0, 11, "Addis Ababa", "GPE"),
          (i, 16, 28, "Ada Lovelace", "PER"))
        case 2 => Nil
        case _ => Seq((i, 0, 9, "Lake Tana", "LOC"),
          (i, 14, 23, "Lake Tana", "LOC"))
      }
    }.toSet
    assert(got == want, s"only got: ${(got -- want).take(5)}; " +
      s"only wanted: ${(want -- got).take(5)}")
  }

  // ---- the per-document key fold of Pipeline.triples ---------------------

  /** [[planted]] plus one document with mixed case and a text that is
    * both decoded and inserted: "Zorblax"/"ZORBLAX"/"zorblax" share the
    * vote key of doc a's "Zorblax", and "Addis Ababa" is decoded in one
    * sentence (relabeled by the cross vote) and inserted in the next
    * (kept at its lookup tag). "Blorf" is ORG twice in doc m and PER
    * once in each of two other docs: 2 to 2, ORG wins the tie, and a
    * vote that counted folded rows (1 to 2) would give PER. */
  private val foldDocs: Seq[(Sentence, Seq[Mention])] = {
    val m0 = sent("m", 0, "Zorblax met ZORBLAX and zorblax and Zorblax")
    val m1 = sent("m", 1, "Addis Ababa left")
    val m2 = sent("m", 2, "then Addis Ababa again")
    val m3 = sent("m", 3, "Blorf and Blorf")
    val blorf = (1 to 2).map { i =>
      val s = sent(s"b$i", 0, "Blorf is here")
      s -> Seq(over(s, 0, 1, "PER"))
    }
    planted ++ blorf ++ Seq(
      m0 -> Seq(over(m0, 0, 1, "ORG"), over(m0, 2, 1, "ORG"),
        over(m0, 4, 1, "PER"), over(m0, 6, 1, "ORG")),
      m1 -> Seq(over(m1, 0, 2, "GPE")),
      m2 -> Nil,
      m3 -> Seq(over(m3, 0, 1, "ORG"), over(m3, 2, 1, "ORG")))
  }

  /** The kernel's rows, computed locally per document, unfolded. */
  private def kernelRows(docs: Seq[(Sentence, Seq[Mention])])
      : Seq[Seq[graft.postprocess.Flagged]] = {
    val post = PostProcess.docKernel(spark.sparkContext, authors)()
    byDoc(docs).map { case (ss, ms) => post(ss, ms).toVector }
  }

  /** Cross-doc vote counts per (lower(text), tag), `n` per row. */
  private def voteCounts(rows: Seq[graft.postprocess.Flagged]) =
    rows.filter(!_.inserted).groupMapReduce(r =>
      (r.text.toLowerCase(java.util.Locale.ROOT), r.tag))(_.n)(_ + _)

  test("folding each doc to (text, tag, inserted) keys keeps the vote " +
      "counts and the triples of the unfolded kernel chain") {
    val s = spark
    import s.implicits._
    val docs = kernelRows(foldDocs)
    val folded = docs.map(d => PostProcess.docKeys(d.iterator).toVector)
    // the fold folds: repeated keys, and both the decoded and the
    // inserted "Addis Ababa" of doc m survive as two keys
    assert(folded.map(_.size).sum < docs.map(_.size).sum)
    assert(folded.flatten.exists(_.n > 1))
    val m = folded.flatten.filter(r => r.path == "m" &&
      r.text == "Addis Ababa")
    assert(m.map(_.inserted).sorted == Seq(false, true))
    // every stage fires on these docs
    val raw = foldDocs.flatMap(_._2).toDS()
    val fix = PostProcess.lookupFixup(raw, authors)
    val within = PostProcess.withinDocVote(fix)
    assert(changed(fix, raw) > 0 && changed(within, fix) > 0)
    assert(changed(PostProcess.crossDocVote(within), within) > 0)
    assert(docs.flatten.exists(_.inserted))
    // the vote counts equal the unfolded counts
    assert(voteCounts(folded.flatten) == voteCounts(docs.flatten))
    // and the triples are the same multiset
    def triples(ms: Dataset[Mention]) = graft.triples.Triples
      .materialize(graft.link.Linker.link(ms)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    val want = triples(kernelChain(foldDocs))
    assert(want.nonEmpty)
    assert(triples(kernelChain(foldDocs, fold = true)) == want)
    // the relabels happened: the decoded "Addis Ababa" of doc m took
    // the cross-vote winner, the inserted one kept its lookup tag; the
    // Blorf vote counted mentions, not rows
    val got = kernelChain(foldDocs, fold = true).collect()
    val tags = got.filter(r => r.path == "m" && r.text == "Addis Ababa")
      .map(_.tag)
    assert(tags.sorted.toSeq == Seq("GPE", "PER"))
    assert(got.filter(_.text == "Blorf").forall(_.tag == "ORG"))
  }

  test("docKeys keeps each key's first row without its position and " +
      "sums n, across colliding and growing tables") {
    val r = new java.util.Random(5)
    val texts = Array("Ab", "BA", "ab", "Aa", "BB", "x", "y y", "")
    val tags = Array("ORG", "PER", "GPE")
    (1 to 200).foreach { c =>
      val rows = Vector.tabulate(r.nextInt(if (c % 10 == 0) 3000 else 40)) {
        i =>
          graft.postprocess.Flagged("r", "p", i, i, i + 1,
            texts(r.nextInt(texts.length)), tags(r.nextInt(tags.length)),
            1.0, r.nextInt(4) == 0, 1 + r.nextInt(3))
      }
      val got = PostProcess.docKeys(rows.iterator).toVector
      val key = (f: graft.postprocess.Flagged) => (f.text, f.tag, f.inserted)
      val want = rows.groupBy(key).values.toVector.sortBy(_.head.sentIdx)
        .map(g => g.head.copy(sentIdx = 0, start = 0, end = 0,
          n = g.map(_.n).sum))
      assert(got == want, s"case $c")
    }
  }
}
