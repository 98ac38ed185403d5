package graft.crf

import graft.core.{Dict, LangDict}

/** Per-language decode models for the language-generic KG pipeline
  * (r4 verdict #1).
  *
  * The reference's `test_1` runs one pipeline for any of the six
  * languages (main.py:485-565 is language-generic via `args.lang`;
  * features dispatch per language at utils/features.py:5-13) with a
  * DyNet model trained per language on LDC packages that do not ship
  * in-tree. What DOES ship per language is the feature surface
  * ([[graft.features.LangFeatures]]) and the gazetteer (utils/gaz.csv
  * → tir/orm columns), so the honest re-expression is the same scheme
  * the eng default model uses ([[DefaultModel]]): a closed-form
  * count-based fit over a deterministic planted corpus whose labels are
  * the dictionary semantics. The fit runs on the 24-dim LangFeatures
  * masks (15 per-language type/token features + 9 gaz B/I/O features)
  * and shares [[FitCrf.weights]]' counts→weights arithmetic, so the
  * served shapes are exactly [[Crf.emissionWeights]]/
  * [[Crf.transitions]] and the standard fused Viterbi kernel decodes
  * unchanged.
  *
  * Model-sized everything: the gaz is a ~1.3k-row dimension table,
  * the planted corpus ~3 sentences/entry, and the fit is driver-side
  * like [[DefaultModel]] (pure function of the word lists — no
  * SparkSession, no corpus scan).
  */
object LangModel {

  val emptyGaz: LangDict.Gaz = Map("GPE" -> Vector(), "LOC" -> Vector(),
    "ORG" -> Vector(), "PER" -> Vector())

  /** The reference gazetteer per language (tir/orm carry entries, the
    * rest are empty — segnerfts.py:20-49). Loaded once per JVM. */
  lazy val refGaz: Map[String, LangDict.Gaz] =
    LangDict.loadGaz(LangDict.gazCsvRows())

  def gazFor(lang: String): LangDict.Gaz =
    refGaz.getOrElse(lang, emptyGaz)

  /** Labeled entries of a gaz in canonical order: label in
    * [[Dict.entityTypes]] order, entries distinct and sorted — the
    * deterministic iteration every consumer (fit, q66 corpus, oracle
    * row_number) shares. */
  def orderedEntries(gaz: LangDict.Gaz): Vector[(String, Vector[String])] =
    Dict.entityTypes.flatMap { label =>
      gaz.getOrElse(label, Vector.empty).distinct
        .sortBy(_.mkString(" "))
        .map(label -> _)
    }

  /** Deterministic in-language O-token pool: the language's title +
    * preposition surfaces that are NOT a token of any gaz entry (so a
    * planted filler never accidentally begins/continues a dictionary
    * match by construction; serve-time accidents are the eligibility
    * filter's job). Falls back to neutral markers for a language with
    * no word lists. */
  def fillerPool(lang: String, gaz: LangDict.Gaz): Vector[String] = {
    val gazToks = gaz.values.flatten.flatten.toSet
    val preps = Vector("ካብ", "ኣብ", "irraa", "keessa", "itti", "ilaa",
      "ee", "from", "in", "von", "im").filter(w =>
      LangDict.isPrepFrom(lang, w) || LangDict.isPrepIn(lang, w))
    val pool = (LangDict.titles.get(lang).map(_.words.toVector)
      .getOrElse(Vector.empty) ++ preps)
      .distinct.sorted.filterNot(gazToks)
    if (pool.nonEmpty) pool else Vector("·", "::", "—")
  }

  /** Planted labeled corpus: per entry, a framed sentence
    * (filler, entry…, filler), the bare entry, and a two-entry
    * adjacency sentence with its successor (teaches the
    * entity→entity transition bigrams the serve corpus can contain);
    * plus pure-O filler sentences. Tags are the planting — i.e. the
    * dictionary semantics, exactly like [[DefaultModel]]'s synthetic
    * labels. */
  def trainingData(lang: String, gaz: LangDict.Gaz)
      : Seq[FitCrf.TaggedTokens] = {
    val entries = orderedEntries(gaz)
    val pool = fillerPool(lang, gaz)
    def tagsOf(label: String, len: Int): Array[Int] =
      Array.tabulate(len)(i =>
        Dict.tagId((if (i == 0) "B-" else "I-") + label))
    val planted = entries.zipWithIndex.flatMap { case ((label, e), i) =>
      val f1 = pool(i % pool.size)
      val f2 = pool((i + 1) % pool.size)
      val framed = ((f1 +: e :+ f2).toArray,
        (Dict.O +: tagsOf(label, e.length) :+ Dict.O).toArray)
      val bare = (e.toArray, tagsOf(label, e.length))
      val adj = entries((i + 1) % entries.size) match {
        case (label2, e2) =>
          ((e ++ e2).toArray, tagsOf(label, e.length) ++
            tagsOf(label2, e2.length))
      }
      Seq(framed, bare, adj)
    }
    val oSents = (0 until math.max(4, entries.size / 4)).map { i =>
      val toks = Array.tabulate(3 + i % 4)(j =>
        pool((i + j) % pool.size))
      (toks, Array.fill(toks.length)(Dict.O))
    }
    (planted ++ oSents).map { case (w, t) => FitCrf.TaggedTokens(w, t) }
  }

  /** Closed-form fit over the 24-dim mask features only (no
    * word-identity dictionaries — the per-language default decode is
    * mask-driven exactly like the eng [[DefaultModel]] path, which is
    * what makes it dictionary-provable on non-overlapping-match docs,
    * the q55/q66 oracle enabler): [[FitCrf.countLocal]] over the
    * language's [[TokenFeatures]], keeping no word (minCount beyond
    * every count) and no shape row (rareMax 0), then
    * [[FitCrf.weights]] — a weights-only [[Model]]. */
  def fit(lang: String, gaz: LangDict.Gaz): Model =
    FitCrf.weights(FitCrf.countLocal(trainingData(lang, gaz),
      TokenFeatures.lang(lang, gaz), minCount = Long.MaxValue, rareMax = 0))

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Model]()

  /** Per-JVM memoized default model of a language (reference gaz). */
  def fitted(lang: String): Model =
    cache.computeIfAbsent(lang, l => fit(l, gazFor(l)))

  // ---- per-language dictionary surfaces for post-process + linking ---

  private def entries(gaz: LangDict.Gaz): Vector[(Vector[String], String)] =
    orderedEntries(gaz).map(_.swap)

  /** Lookup table of a language's gaz (lowercased entry string →
    * label, multi-label entries dropped) — the per-language twin of
    * [[Dict.lookupTable]] for [[graft.postprocess.PostProcess]], so a
    * non-eng corpus is never fixed up against English entries. */
  def lookupTable(gaz: LangDict.Gaz): Map[String, String] =
    Dict.lookupTableOf(entries(gaz))

  /** [[lookupTable]] re-indexed by first token (the shape
    * [[Dict.lookupIndex]] serves the insertion probe). */
  def lookupIndex(gaz: LangDict.Gaz)
      : Map[String, Vector[(Vector[String], String)]] =
    Dict.lookupIndexOf(entries(gaz))

  /** Entity-link index of a language's gaz for [[graft.link.Linker]]:
    * lowercased-first-token → (lowercased entry tokens, label, id),
    * ids assigned over [[orderedEntries]] (label order, then entry
    * string — the canonical order the q69 oracle's row_number
    * recomputes). Entries lowercase for the similarity probe exactly
    * like [[Dict.gazIndex]]; the id space stays on the ORIGINAL
    * distinct entries. No two same-bucket same-label entries share a
    * token set in the reference gaz (LangModelSpec guards it), so an
    * exact-surface mention's argmax is unique at score 1.0. */
  def linkIndex(gaz: LangDict.Gaz)
      : Map[String, Vector[(Vector[String], String, Int)]] =
    Dict.gazIndexOf(entries(gaz))

  /** Language-scoped KB id: tir/orm entry ids both start at 0, so the
    * id space carries the language (`tir:Q00001`). */
  def kbId(lang: String)(entryId: Int): String =
    f"$lang%s:Q${entryId + 1}%05d"
}
