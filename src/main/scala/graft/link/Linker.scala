package graft.link

import graft.core.{Dict, Memo, Mention}
import org.apache.spark.sql.Dataset

/** Entity linking: mention → candidate generation + similarity scoring
  * against the broadcast entity dictionary.
  *
  * Generalizes the reference's exact-string lookup fix-up
  * (post_process.py:117-122 `_look_up`) into the north star's
  * candidate-generation + string-similarity linker: candidates are
  * dictionary entries sharing the mention's first token (the same
  * (first-token, length) index the gazetteer matcher uses —
  * SURVEY.md §2.5), scored by Jaccard-on-token-sets blended with
  * Jaro-Winkler on the joined strings; best score ≥ threshold wins,
  * ties broken by lowest entry id (mirrors the reference's first-max
  * rule, decoders.py:180).
  *
  * The dictionary broadcasts (≪10 MB — SURVEY.md §4), so linking is a
  * narrow map: no shuffle at any corpus size.
  */
object Linker {

  final case class LinkedMention(
      repo: String, path: String, sentIdx: Int,
      start: Int, end: Int, text: String, tag: String,
      entityId: String, entityName: String, score: Double)

  /** Jaro similarity (public algorithm, Jaro 1989). */
  def jaro(a: String, b: String): Double = {
    if (a == b) return 1.0
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val amatch = new Array[Boolean](la)
    val bmatch = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var done = false
      while (!done && j <= hi) {
        if (!bmatch(j) && a.charAt(i) == b.charAt(j)) {
          amatch(i) = true; bmatch(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < la) {
      if (amatch(i)) {
        while (!bmatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / la + m / lb + (m - transpositions / 2.0) / m) / 3.0
  }

  /** Jaro-Winkler: Jaro boosted by shared prefix (≤4), p=0.1. */
  def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    var prefix = 0
    while (prefix < math.min(4, math.min(a.length, b.length)) &&
      a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size
  }

  /** Blended mention↔entry similarity: max of Jaccard-on-tokens
    * (robust to reordering) and Jaro-Winkler on the joined strings
    * (robust to small edits). Candidates are already type-gated and
    * share the first token, so the generous max() is safe: an exact
    * surface always scores 1.0 and wins the argmax. */
  def similarity(mentionToks: Array[String], entryToks: Vector[String])
      : Double = {
    val jac = jaccard(mentionToks.toSet, entryToks.toSet)
    val jw = jaroWinkler(mentionToks.mkString(" "), entryToks.mkString(" "))
    math.max(jac, jw)
  }

  val defaultThreshold = 0.85

  /** A resolved link: KB id (or NIL), entry name and rounded score. */
  private final case class Link(id: String, name: String, score: Double)
  private val NilLink = Link("NIL", null, 0.0)

  /** The best entry for a mention of `tag` whose lowercased text is
    * `lowerText`: candidates share its first token and its label,
    * highest [[similarity]] wins, ties go to the lowest entry id. */
  private def resolve(tag: String, lowerText: String,
      idx: Map[String, Vector[(Vector[String], String, Int)]],
      threshold: Double, kbId: Int => String): Link = {
    val toks = lowerText.split(' ')
    val cands = idx.getOrElse(toks(0), Vector.empty)
    var bestScore = -1.0
    var bestId = -1
    var bestName: Vector[String] = null
    cands.foreach { case (entryToks, label, id) =>
      if (label == tag) {
        val s = similarity(toks, entryToks)
        if (s > bestScore ||
            (s == bestScore && bestId >= 0 && id < bestId)) {
          bestScore = s; bestId = id; bestName = entryToks
        }
      }
    }
    if (bestScore >= threshold && bestId >= 0)
      Link(kbId(bestId), bestName.mkString(" "),
        math.rint(bestScore * 10000) / 10000)
    else NilLink
  }

  /** A task's link rule: (tag, text) → the mention's [[Link]]. A link
    * depends only on the tag and the lowercased text, and mention texts
    * repeat (Zipfian), so [[resolve]] (the candidate scan, [[similarity]]
    * and `kbId`) runs once per distinct (tag, lower(text)), memoized in a
    * [[graft.core.Memo]]. Not thread-safe: make one per task. */
  private def linker(idx: Map[String, Vector[(Vector[String], String, Int)]],
      threshold: Double, kbId: Int => String): (String, String) => Link = {
    val memo = new Memo[(String, String), Link]
    (tag, text) => {
      val key = (tag, text.toLowerCase(java.util.Locale.ROOT))
      memo.getOrElseUpdate(key, resolve(key._1, key._2, idx, threshold, kbId))
    }
  }

  /** [[link]]'s rule as a task-side function that returns the entity id
    * only (a KB id, or "NIL"): what the triples read of a link. One per
    * task, over the broadcast index. */
  def entityIds(idx: Map[String, Vector[(Vector[String], String, Int)]],
      threshold: Double = defaultThreshold,
      kbId: Int => String = Dict.kbId): (String, String) => String = {
    val l = linker(idx, threshold, kbId)
    (tag, text) => l(tag, text).id
  }

  /** Link mentions. Unlinked mentions keep entityId = "NIL" (the
    * reference emits NIL for every mention — post_process.py:29-33;
    * linking is the north-star extension). `index` is an entity index:
    * lowercased-first-token → (lowercased entry tokens, label, entry
    * id) — [[Dict.gazIndex]] is the default (eng);
    * [[graft.crf.LangModel.linkIndex]] builds one per language from
    * the reference gazetteer. `kbId` renders an entry id as the KB
    * identifier (defaults to the Qxxxxx space). Each task links through
    * one [[linker]]; each row keeps its own original-case `text`. */
  def link(mentions: Dataset[Mention],
      threshold: Double = defaultThreshold,
      index: Map[String, Vector[(Vector[String], String, Int)]] =
        Dict.gazIndex,
      kbId: Int => String = Dict.kbId): Dataset[LinkedMention] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val bIdx = spark.sparkContext.broadcast(index)
    mentions.mapPartitions { it =>
      val l = linker(bIdx.value, threshold, kbId)
      it.map { m =>
        val k = l(m.tag, m.text)
        LinkedMention(m.repo, m.path, m.sentIdx, m.start, m.end,
          m.text, m.tag, k.id, k.name, k.score)
      }
    }
  }
}
