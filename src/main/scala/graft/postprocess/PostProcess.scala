package graft.postprocess

import graft.core.{Dict, Memo, Mention, Sentence}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The reference's post-processing stage as pure dataflow
  * (post_process.py:83-414; SURVEY.md §2.5, §7.6).
  *
  * Order of stages matches the reference pipeline: lookup fix-up →
  * within-doc majority-vote relabel → cross-doc top-K vote relabel →
  * dictionary-driven span insertion with greedy overlap suppression.
  * No stage deletes a mention. Each stage's rule is written once, as a
  * per-document (or per-mention) function. Every pipeline action runs
  * [[docKernel]], which applies fix-up, within-doc vote and insertion to
  * one file inside the per-file decode pass, leaving the cross-doc count
  * as the only step that reads more than one document
  * ([[crossDocVoteFlagged]]; the checkpointed pipeline runs its rule,
  * [[crossVote]], over the stored per-file table). The Dataset-level
  * stages, chained by
  * [[apply]], are the reference chain: they apply the same rules to a
  * stream keyed by (repo, path), and no pipeline action runs them
  * (callers: q51, q52, q56, q57, q70, PostProcessSpec, perfbench's
  * traced pass). Deterministic replacements for the
  * reference's order-sensitive bits are pinned:
  *  - vote ties broken by (count desc, tag asc) — the reference's
  *    first-seen-wins `>` scan (post_process.py:253-261) is
  *    dict-order-dependent;
  *  - top-K n-gram ties broken by (count desc, ngram asc)
  *    (post_process.py:294 relies on Python sort stability);
  *  - greedy insertion runs per doc in (sentIdx, start, end) order
  *    (the reference mutates its span list in file order,
  *    post_process.py:176-193);
  *  - the mutation-during-iteration skip bug at post_process.py:327-334
  *    is NOT copied: all matches are relabeled (intended semantics,
  *    SURVEY.md §7.6.3).
  */
/** What stage 4's greedy scan reads of a candidate: the span
  * [s0, e0) of sentence `sIdx` is a dictionary entry of `tag`. */
sealed trait Candidate {
  def sIdx: Int; def s0: Int; def e0: Int; def text: String; def tag: String
}

/** Candidate span for dictionary-driven insertion, text built, as the
  * Dataset-level stage shuffles it. Public: Spark's generated code
  * calls the accessors directly, so the encoder class cannot be
  * private. */
final case class Cand(sIdx: Int, s0: Int, e0: Int, text: String, tag: String)
    extends Candidate

/** A mention out of [[PostProcess.docKernel]]: `inserted` marks a
  * dictionary insertion, which the cross-doc vote neither counts nor
  * relabels (in the reference it runs after that vote); `n` is the
  * number of the document's mentions the row stands for (1, or more
  * after [[PostProcess.docKeys]]). */
final case class Flagged(repo: String, path: String, sentIdx: Int,
    start: Int, end: Int, text: String, tag: String, conf: Double,
    inserted: Boolean, n: Int)

object PostProcess {

  private def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  /** The stages' defaults: votes a within-doc winner needs to exceed,
    * top-K keys of the cross-doc vote, longest inserted n-gram. */
  private val ConfNum = 2
  private val TopK = 20
  private val MaxN = 5

  /** Stage 1's rule for one mention: lookup-table fix-up with the
    * reference's full precedence (post_process.py:117-122, 139-157):
    * for DF-genre docs a span found in the author list relabels to PER
    * BEFORE the general lookup table is consulted; otherwise lookup >
    * predicted. Genre is derived from the doc id exactly as the
    * reference does (`doc_id.split('_')[1]`, post_process.py:146) —
    * our doc id is the mention's `path`; paths without a second '_'
    * field carry no genre and skip the author branch. Authors match on
    * exact surface (the reference's `span in author_lookup` — WL XML
    * author values, extract_authors.py:6-26); the lookup table stays
    * canonicalized-lowercase as established. */
  private def fixup(m: Mention, lookup: Map[String, String],
      authors: Set[String]): Mention = {
    val genre = {
      val f = m.path.split('_')
      if (f.length > 1) f(1) else ""
    }
    val fixed =
      if (genre == "DF" && authors.contains(m.text)) Some("PER")
      else lookup.get(lc(m.text))
    fixed match {
      case Some(tag) if tag != m.tag => m.copy(tag = tag)
      case _ => m
    }
  }

  /** Stage 2's rule for one document's mentions, order kept
    * (post_process.py:245-261 + relabel): for every span text
    * (lowercased) whose winning tag by (count desc, tag asc) has
    * count > confNum, relabel all its occurrences to that tag. */
  private def voteDoc(ms: Seq[Mention], confNum: Int): Seq[Mention] =
    if (ms.size <= confNum) ms // no tag can have more than confNum votes
    else {
      val winners = ms.groupBy(m => lc(m.text)).flatMap { case (k, g) =>
        val (tag, n) = g.groupBy(_.tag).iterator
          .map { case (t, xs) => (t, xs.size) }
          .minBy { case (t, n) => (-n, t) }
        if (n > confNum) Some(k -> tag) else None
      }
      if (winners.isEmpty) ms
      else ms.map { m =>
        winners.get(lc(m.text)) match {
          case Some(tag) if tag != m.tag => m.copy(tag = tag)
          case _ => m
        }
      }
    }

  /** Stage 4's candidate inside one document: tokens [i, i + n) of `s`.
    * Its text is built only when [[insertDoc]] accepts it. */
  private final class Hit(s: Sentence, i: Int, n: Int, val tag: String)
      extends Candidate {
    def sIdx: Int = s.sentIdx
    def s0: Int = s.starts(i)
    def e0: Int = s.ends(i + n - 1)
    def text: String = s.tokens.slice(i, i + n).mkString(" ")
  }

  /** Stage 4's probe for one sentence: every n-gram (n ≤ maxN) whose
    * lowercased text is a dictionary entry. First-token-indexed, so a
    * position whose token starts no entry costs one map lookup and no
    * allocation (the naive per-position n-gram enumeration builds maxN
    * strings per token — profiled as the pipeline's top CPU sink at 32
    * threads). `lower` is the task's memo of lowercase token forms. */
  private def candidates(s: Sentence, maxN: Int,
      idx: Map[String, Vector[(Vector[String], String)]],
      lower: Memo[String, String]): Vector[Hit] = {
    val low = s.tokens.map(t => lower.getOrElseUpdate(t, lc(t)))
    val out = Vector.newBuilder[Hit]
    var i = 0
    while (i < low.length) {
      val entries = idx.getOrElse(low(i), null)
      if (entries != null) entries.foreach { case (toks, tag) =>
        val n = toks.length
        if (n <= maxN && i + n <= low.length) {
          var k = 1
          var ok = true
          while (ok && k < n) { ok = low(i + k) == toks(k); k += 1 }
          if (ok) out += new Hit(s, i, n, tag)
        }
      }
      i += 1
    }
    out.result()
  }

  /** Candidates in canonical (sIdx, s0, e0) order. Within a sentence
    * (s0, e0) fixes the token slice and so the text: no text compare. */
  private val byPosition: Ordering[Candidate] = (a, b) => {
    val c = Integer.compare(a.sIdx, b.sIdx)
    if (c != 0) c
    else {
      val d = Integer.compare(a.s0, b.s0)
      if (d != 0) d else Integer.compare(a.e0, b.e0)
    }
  }

  /** Stage 4's greedy scan for one document: the candidates, in
    * canonical (sentIdx, start, end) order ([[byPosition]]; the sort is
    * stable), that overlap neither an existing mention nor an earlier
    * insertion, as new mentions. Overlap = s1 < e2 && s2 < e1 on
    * [start, end) offsets (reference predicate `not (e1 < s2 or e2 <
    * s1)` on inclusive ends, post_process.py:124-134).
    *
    * Spans overlap only within a sentence, so a candidate is tested
    * against its own sentence's spans alone, in O(log k):
    *  - the existing mentions, sorted by (sentIdx, start) once, with the
    *    running max of their ends per sentence: one of them overlaps
    *    [s0, e0) iff those starting before e0 reach past s0 (one
    *    binary search);
    *  - the earlier insertions of the sentence: they are disjoint and
    *    start at or before s0, so only the last can overlap, and it
    *    does iff it ends past s0 (a candidate spans a token: s0 < e0). */
  private def insertDoc(repo: String, path: String, existing: Seq[Mention],
      cands: Seq[Candidate]): Vector[Mention] =
    if (cands.isEmpty) Vector.empty
    else {
      val spans = existing.iterator.map(m => (m.sentIdx, m.start, m.end))
        .toArray.sorted
      val sIdx = spans.map(_._1)
      val starts = spans.map(_._2)
      val reach = new Array[Int](spans.length) // max end since sentence start
      var i = 0
      while (i < spans.length) {
        reach(i) = if (i > 0 && sIdx(i - 1) == sIdx(i))
          math.max(reach(i - 1), spans(i)._3) else spans(i)._3
        i += 1
      }
      val inserted = Vector.newBuilder[Mention]
      var sent = -1; var lo = 0; var hi = 0 // spans(lo until hi): its spans
      var lastEnd = Int.MinValue // end of the sentence's last insertion
      cands.sorted(byPosition).foreach { c =>
        if (c.sIdx != sent) {
          sent = c.sIdx
          lo = firstAtLeast(sIdx, 0, spans.length, sent)
          hi = firstAtLeast(sIdx, lo, spans.length, sent + 1)
          lastEnd = Int.MinValue
        }
        val before = firstAtLeast(starts, lo, hi, c.e0) // starts < e0
        val overlaps = lastEnd > c.s0 ||
          before > lo && reach(before - 1) > c.s0
        if (!overlaps) {
          lastEnd = c.e0
          inserted += Mention(repo, path, c.sIdx, c.s0, c.e0, c.text,
            c.tag, 1.0)
        }
      }
      inserted.result()
    }

  /** The first index in [lo, hi) of ascending `xs` holding a value >= x,
    * or hi. */
  private def firstAtLeast(xs: Array[Int], lo: Int, hi: Int, x: Int): Int = {
    var l = lo; var h = hi
    while (l < h) {
      val m = (l + h) >>> 1
      if (xs(m) < x) l = m + 1 else h = m
    }
    l
  }

  /** Stages 1, 2 and 4 on one document inside a per-file pass. Broadcasts
    * the tables on the driver and returns the task-side factory (called
    * once per partition) of the per-document function, which takes the
    * document's sentences and decoded mentions and returns the
    * fixed-up, voted mentions, then the insertions flagged. Insertion
    * runs before the cross-doc vote here, which matches the reference
    * order (cross vote, then insertion): insertion tests only span
    * positions, the cross vote changes only tags, and the flag keeps
    * inserted mentions out of its counts and relabel. One call is one
    * document: two input rows with the same (repo, path) are two
    * documents to the vote and the insertion (the reference chain,
    * [[apply]], keys by (repo, path) and merges them). */
  def docKernel(sc: SparkContext, authors: Set[String] = Set.empty,
      lookup: Map[String, String] = Dict.lookupTable,
      lookupIndex: Map[String, Vector[(Vector[String], String)]] =
        Dict.lookupIndex)
      : () => (Seq[Sentence], Seq[Mention]) => Iterator[Flagged] = {
    val bLookup = sc.broadcast(lookup)
    val bAuthors = sc.broadcast(authors)
    val bIdx = sc.broadcast(lookupIndex)
    () => {
      val lookup = bLookup.value; val auth = bAuthors.value
      val idx = bIdx.value
      val lower = new Memo[String, String]
      (sents, decoded) => {
        val voted = voteDoc(decoded.map(fixup(_, lookup, auth)), ConfNum)
        val ins = sents.headOption.fold(Vector.empty[Mention]) { s =>
          insertDoc(s.repo, s.path, voted,
            sents.flatMap(candidates(_, MaxN, idx, lower)))
        }
        voted.iterator.map(flag(_, inserted = false)) ++
          ins.iterator.map(flag(_, inserted = true))
      }
    }
  }

  private def flag(m: Mention, inserted: Boolean) = Flagged(m.repo,
    m.path, m.sentIdx, m.start, m.end, m.text, m.tag, m.conf, inserted, 1)

  /** One document's [[docKernel]] rows folded to one row per exact
    * (text, tag, inserted), in first-occurrence order, its `n` the sum of
    * the folded rows' `n`. What follows in the triples action reads no
    * more than that: the cross-doc vote counts `sum(n)` per
    * (lower(text), tag) over rows not inserted and relabels by
    * (lower(text), tag, inserted); the link is a function of
    * (tag, lower(text)); the triples read repo, path, text, tag and the
    * link, and are a set. So the triples are the same from fewer rows.
    *
    * A key row stands for mentions at several positions, so it has none:
    * its sentIdx, start and end are 0 (the first occurrence's conf is
    * kept). Offsets were the one per-mention field left in the
    * (repo, path) exchange, and they do not compress; zeroed, the
    * exchange writes about half the bytes. Mention-level output needs
    * the rows unfolded.
    *
    * A document has few rows: one open-addressing table of key numbers,
    * at most half full, and no tuple keys. */
  def docKeys(rows: Iterator[Flagged]): Iterator[Flagged] = {
    val in = rows.toArray
    val mask = Integer.highestOneBit(in.length) * 4 - 1
    val slots = Array.fill(mask + 1)(-1) // key number, or -1
    val first = new Array[Int](in.length) // key number → its first row
    val counts = new Array[Int](in.length)
    var keys = 0
    var i = 0
    while (i < in.length) {
      val r = in(i)
      val h = (r.text.hashCode * 31 + r.tag.hashCode) * 31 +
        java.lang.Boolean.hashCode(r.inserted)
      var at = (h ^ (h >>> 16)) & mask
      var k = slots(at)
      while (k >= 0 && { val f = in(first(k))
          f.inserted != r.inserted || f.tag != r.tag || f.text != r.text }) {
        at = (at + 1) & mask
        k = slots(at)
      }
      if (k >= 0) counts(k) += r.n
      else {
        slots(at) = keys; first(keys) = i; counts(keys) = r.n; keys += 1
      }
      i += 1
    }
    Iterator.tabulate(keys)(k =>
      in(first(k)).copy(sentIdx = 0, start = 0, end = 0, n = counts(k)))
  }

  /** Stage 1 over a mention stream: [[fixup]] per mention. Both tables
    * are corpus-size-independent broadcasts; the stage is narrow. */
  def lookupFixup(mentions: Dataset[Mention],
      authors: Set[String] = Set.empty,
      lookup: Map[String, String] = Dict.lookupTable)
      : Dataset[Mention] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val bLookup = spark.sparkContext.broadcast(lookup)
    val bAuthors = spark.sparkContext.broadcast(authors)
    mentions.mapPartitions { it =>
      val lookup = bLookup.value
      val auth = bAuthors.value
      it.map(fixup(_, lookup, auth))
    }
  }

  /** Stage 2 over a mention stream: [[voteDoc]] per (repo, path)
    * group — one keyed exchange of the stream. */
  def withinDocVote(mentions: Dataset[Mention], confNum: Int = ConfNum)
      : Dataset[Mention] = {
    import mentions.sparkSession.implicits._
    mentions.groupByKey(m => (m.repo, m.path))
      .flatMapGroups((_, ms) => voteDoc(ms.toVector, confNum))
  }

  /** Stage 3: cross-document vote over the top-K most frequent span
    * texts (post_process.py:294-335): majority tag computed over ALL
    * docs; matching mentions relabeled (intended semantics — no
    * skip-next bug).
    *
    * Counts-only shape: the mention stream feeds ONE map-side-combined
    * aggregate — per-(key, tag) counts — and everything the vote needs
    * (per-key frequency for top-K membership, per-key winner) derives
    * from that frame; the vote dictionary comes back onto the ORIGINAL
    * stream as a scalar-subquery map ([[crossVote]]). The full stream is
    * never materialized: the subquery and the output reference the
    * identical upstream subplan, so within one action the upstream
    * exchange is computed once and re-read (ReusedExchange — PlanSpec
    * asserts no checkpoint scan survives in the plan). */
  def crossDocVote(mentions: Dataset[Mention], topK: Int = TopK)
      : Dataset[Mention] = {
    import mentions.sparkSession.implicits._
    // typed identity barrier: column pruning cannot cross the object
    // boundary, so BOTH branches keep the identical full-width subtree
    // below it — without this, the aggregate branch prunes to
    // (text, tag) under the upstream exchange, the subtrees stop being
    // sameResult, and the whole decode chain runs twice instead of the
    // exchange being reused (measured: headline 4.57 s vs 4.17 s at
    // rep 8)
    crossVote(mentions.map(identity).toDF()
      .withColumn("inserted", lit(false)), topK, count(lit(1)))
  }

  /** Stage 3 over [[docKernel]]'s output, the only cross-file step of
    * the fused pass: ONE exchange of the stream on (repo, path), read
    * by both the (key, tag) count in the vote subquery and the relabel
    * (the typed barrier above it keeps both subtrees identical, so the
    * per-file pass below runs once per action). Inserted rows are
    * neither counted nor relabeled; a row counts `n` votes, so rows
    * folded by [[docKeys]] vote as the mentions they stand for. */
  def crossDocVoteFlagged(flagged: Dataset[Flagged]): Dataset[Mention] = {
    import flagged.sparkSession.implicits._
    crossVote(flagged.repartition(col("repo"), col("path"))
      .map(identity).toDF(), TopK, sum(col("n")))
  }

  /** The cross-doc vote over a mention frame with an `inserted`
    * column; `tally` aggregates a (key, tag) group's rows to its vote
    * count (by default one vote a row). The at most `topK` winners
    * become one `key → tag` map, computed by a scalar subquery over the
    * same frame (which reuses its upstream exchange, if it has one), and
    * the relabel is a column expression over it:
    * `try_element_at(map, key)` per row. No join, so no broadcast hash
    * relation is built for a handful of rows. Other columns of `df` are
    * dropped. The checkpointed pipeline runs it over its stored
    * per-file table. */
  private[graft] def crossVote(df: DataFrame, topK: Int = TopK,
      tally: Column = count(lit(1))): Dataset[Mention] = {
    import df.sparkSession.implicits._
    val keyed = df.withColumn("key", lower(col("text")))
    // per-(key, tag) counts, then per key its total frequency and its
    // winner by (n desc, tag asc) as the min of (-n, tag); top-K keys
    // by (freq desc, key asc)
    val votes = keyed.filter(!col("inserted"))
      .groupBy("key", "tag").agg(tally.as("n"))
      .groupBy("key").agg(sum(col("n")).as("freq"),
        min(struct((-col("n")).as("negN"), col("tag"))).as("best"))
      .orderBy(desc("freq"), asc("key")).limit(topK)
      .agg(map_from_entries(collect_list(
        struct(col("key"), col("best.tag")))))
      .scalar()
    keyed.select(col("repo"), col("path"), col("sentIdx"), col("start"),
        col("end"), col("text"),
        when(col("inserted"), col("tag")).otherwise(
          coalesce(try_element_at(votes, col("key")), col("tag"))).as("tag"),
        col("conf"))
      .as[Mention]
  }

  /** Stage 4 over sentence and mention streams
    * (post_process.py:176-193, 214-233): every doc n-gram (n ≤ maxN)
    * whose lowercased text is in the lookup table becomes a new
    * mention unless it overlaps an already-predicted or
    * already-inserted span (SURVEY.md §7.6.1). A narrow per-sentence
    * [[candidates]] probe, a cogroup of candidates and mentions by
    * (repo, path), then [[insertDoc]] per doc. */
  def insertFromLookup(sentences: Dataset[Sentence],
      mentions: Dataset[Mention], maxN: Int = MaxN,
      lookupIndex: Map[String, Vector[(Vector[String], String)]] =
        Dict.lookupIndex): Dataset[Mention] = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val bIdx = spark.sparkContext.broadcast(lookupIndex)
    val cands = sentences.mapPartitions { it =>
      val idx = bIdx.value
      val lower = new Memo[String, String]
      it.flatMap(s => candidates(s, maxN, idx, lower).map(h =>
        (s.repo, s.path, Cand(h.sIdx, h.s0, h.e0, h.text, h.tag))))
    }
    val byDocCands = cands.groupByKey { case (r, p, _) => (r, p) }
    val byDocMentions = mentions.groupByKey(m => (m.repo, m.path))
    byDocCands.cogroup(byDocMentions) { case ((repo, path), cs, ms) =>
      val existing = ms.toVector
      existing ++ insertDoc(repo, path, existing, cs.map(_._3).toVector)
    }
  }

  /** Full reference post-processing chain (main.py:357-376 order), one
    * Dataset-level stage after another: the reference the fused pass is
    * checked against; no pipeline action runs it. `lookup`/`lookupIndex`
    * default to the eng dictionary; a caller passes a
    * [[graft.pipeline.LangPack]]'s tables so a non-eng corpus is never
    * fixed up or back-filled against English entries (the reference
    * builds its lookup per language from setE data). */
  def apply(sentences: Dataset[Sentence], mentions: Dataset[Mention],
      confNum: Int = ConfNum, topK: Int = TopK,
      authors: Set[String] = Set.empty,
      lookup: Map[String, String] = Dict.lookupTable,
      lookupIndex: Map[String, Vector[(Vector[String], String)]] =
        Dict.lookupIndex): Dataset[Mention] =
    insertFromLookup(sentences,
      crossDocVote(
        withinDocVote(lookupFixup(mentions, authors, lookup), confNum),
        topK),
      lookupIndex = lookupIndex)
}
