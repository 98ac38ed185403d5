package graft

import graft.core.{LangDict, RefData}
import graft.features.LangFeatures
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eighth batch: the reference's per-language feature surface
  * (segnerfts.py:163-678) made relational — type/token features for all
  * six languages over the real gaz.csv vocabulary (q63), load_gaz
  * parity (q64), and the case-sensitive per-language gazetteer B/I/O
  * sliding match (q65).
  *
  * The oracle SQL is GENERATED from the same [[LangDict]] word lists
  * the engine uses — the lists are reference data, shared by
  * construction; what DuckDB independently recomputes is every
  * predicate, explode, match and aggregation over them.
  */
object Queries8 {

  private val gazCsv = RefData.gaz.path

  private def esc(s: String) = s.replace("'", "''")
  private def inList(ws: Iterable[String]): String =
    ws.toVector.sorted.map(w => s"'${esc(w)}'").mkString("(", ", ", ")")

  /** CASE over languages for one WordSet family (NULL lang impossible;
    * languages with no set fall through to FALSE). */
  private def memberSql(sets: Map[String, LangDict.WordSet]): String = {
    val branches = LangDict.langs.flatMap { lang =>
      sets.get(lang).filter(_.words.nonEmpty).map { ws =>
        val probe = if (ws.lowercase) "lower(token)" else "token"
        s"WHEN '$lang' THEN $probe IN ${inList(ws.words)}"
      }
    }
    s"CASE lang ${branches.mkString(" ")} ELSE FALSE END"
  }

  private def headSql(sets: Map[String, LangDict.WordSet],
      deuSuffixes: Vector[String]): String = {
    val re = deuSuffixes.mkString("|")
    val branches = ("WHEN 'deu' THEN regexp_matches(token, '" + re + "')") +:
      LangDict.langs.filter(_ != "deu").flatMap { lang =>
        sets.get(lang).filter(_.words.nonEmpty).map { ws =>
          val probe = if (ws.lowercase) "lower(token)" else "token"
          s"WHEN '$lang' THEN $probe IN ${inList(ws.words)}"
        }
      }
    s"CASE lang ${branches.mkString(" ")} ELSE FALSE END"
  }

  /** The 15 type/token features as (name, DuckDB boolean expr over
    * columns `lang`,`token`), extractor order segnerfts.py:681-696. */
  private def featureSql: Vector[(String, String)] = Vector(
    "cap" -> "regexp_matches(token, '^[\\p{Lu}]')",
    "allcap" -> "regexp_matches(token, '^[\\p{Lu}]+$')",
    "mixed" -> ("length(token) > 1 AND regexp_matches(substr(token, 2), " +
      "'\\p{Lu}') AND regexp_matches(substr(token, 2), '[^\\p{Lu}]')"),
    "period" -> ("length(token) > 2 AND contains(substr(token, 2, " +
      "length(token) - 2), '.')"),
    "nonletter" -> "regexp_matches(token, '[^\\p{L}\\p{M}]')",
    "digits" -> "regexp_matches(token, '[\\p{N}]')",
    "longtok" -> "length(token) > 8",
    "latin" -> "regexp_matches(token, '\\p{Latin}')",
    "ethiopic" -> "regexp_matches(token, '\\p{Ethiopic}')",
    "title" -> memberSql(LangDict.titles),
    "head_org" -> memberSql(LangDict.orgHeads),
    "head_loc" -> headSql(LangDict.locHeads, LangDict.deuLocSuffixes),
    "head_gpe" -> headSql(LangDict.gpeHeads, LangDict.deuGpeSuffixes),
    "prep_from" -> ("CASE lang WHEN 'eng' THEN lower(token) = 'from' " +
      "WHEN 'deu' THEN lower(token) IN ('vom', 'von') " +
      "WHEN 'amh' THEN starts_with(token, 'ከ') " +
      "WHEN 'orm' THEN lower(token) IN ('ira', 'irraa') " +
      "WHEN 'tir' THEN token = 'ካብ' " +
      "WHEN 'som' THEN token = 'ilaa' ELSE FALSE END"),
    "prep_in" -> ("CASE lang WHEN 'eng' THEN lower(token) = 'in' " +
      "WHEN 'deu' THEN lower(token) IN ('im', 'in') " +
      "WHEN 'amh' THEN starts_with(token, 'በ') " +
      "WHEN 'orm' THEN lower(token) IN ('iti', 'itti', 'keessa', 'kesa') " +
      "WHEN 'tir' THEN token = 'ኣብ' " +
      "WHEN 'som' THEN token = 'ee' ELSE FALSE END"))

  /** Curated multilingual tokens covering every matcher family: README
    * example, deu suffix heads, amh prefix preps, orm lowercase-first,
    * tir/som exact-surface, case/digit/script edge shapes. */
  private val fixtureTokens: Seq[(String, String)] = Seq(
    "eng" -> "Mister", "eng" -> "Mr.", "eng" -> "Mayor", "eng" -> "Bureau",
    "eng" -> "Mosque", "eng" -> "Nation", "eng" -> "From", "eng" -> "in",
    "eng" -> "NATO", "eng" -> "NAT0", "eng" -> "McCarthy", "eng" -> "A.B",
    "eng" -> "U.N", "eng" -> "UN.", "eng" -> "ab",
    "deu" -> "Vereinigten", "deu" -> "Arabischen", "deu" -> "Republik",
    "deu" -> "Schwarzwald", "deu" -> "Wald", "deu" -> "Bodensee",
    "deu" -> "Deutschland", "deu" -> "Kasachstan", "deu" -> "Heidelberg",
    "deu" -> "Teilrepublik", "deu" -> "Bürgermeister",
    "deu" -> "bürgermeister", "deu" -> "GmbH", "deu" -> "vom",
    "deu" -> "Im", "deu" -> "Dr.med.",
    "amh" -> "ከአዲስ", "amh" -> "በአዲስ", "amh" -> "አዲስከ", "amh" -> "አቶ",
    "amh" -> "ሚኒስቴር", "amh" -> "ከተማ", "amh" -> "ወ/ሮ", "amh" -> "ቍ፩",
    "orm" -> "Obbo", "orm" -> "OBBO", "orm" -> "Magaalaa",
    "orm" -> "Irraa", "orm" -> "keessa", "orm" -> "durataa'aa",
    "som" -> "Dowladda", "som" -> "ee", "som" -> "Ee", "som" -> "ilaa",
    "som" -> "Muqdisho",
    "tir" -> "ኣቶ", "tir" -> "ኣቶን", "tir" -> "ካብ", "tir" -> "ኣብ",
    "tir" -> "ወዘተ")

  /** gaz.csv → (lang, variant) rows, loader semantics of
    * segnerfts.py:20-22 (the `'; '`→`';'` then `';'` split). */
  private def gazVariants(s: SparkSession): Seq[(String, String)] =
    for {
      (_, _, t, o) <- LangDict.gazCsvRows()
      (lang, raw) <- Seq(("tir", t), ("orm", o))
      if raw != null && raw.nonEmpty
      v <- raw.replace("; ", ";").split(';').toSeq
    } yield (lang, v)

  // ---- q63: per-language type/token features --------------------------

  private def q63(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gazToks = for {
      (lang, v) <- gazVariants(s)
      tok <- v.split("\\s+").toSeq if tok.nonEmpty
    } yield (lang, tok)
    val toks = (fixtureTokens ++ gazToks).distinct
    val b = s.sparkContext.broadcast(toks)
    val rows = s.range(toks.size.toLong).as[Long].map { i =>
      val (lang, tok) = b.value(i.toInt)
      val m = LangFeatures.typeTokenBits(lang, tok)
      (lang, tok, (m & 1), (m >> 1) & 1, (m >> 2) & 1, (m >> 3) & 1,
        (m >> 4) & 1, (m >> 5) & 1, (m >> 6) & 1, (m >> 7) & 1,
        (m >> 8) & 1, (m >> 9) & 1, (m >> 10) & 1, (m >> 11) & 1,
        (m >> 12) & 1, (m >> 13) & 1, (m >> 14) & 1)
    }
    rows.toDF(("lang" +: "token" +: featureSql.map(_._1)): _*)
      .orderBy("lang", "token")
  }

  /** Shared oracle CTE: exploded (lang, variant) list from gaz.csv
    * columns 2 (Tigrinya) and 4 (Oromo). */
  private val oGazVars =
    s"""raw AS (
       |  SELECT column0 AS eng, column1 AS lab, column2 AS t, column4 AS o
       |  FROM read_csv('$gazCsv', header=false, skip=1, all_varchar=true)),
       |vars0 AS (
       |  SELECT 'tir' AS lang, lab, eng,
       |    unnest(string_split(replace(t, '; ', ';'), ';')) AS v
       |  FROM raw WHERE t IS NOT NULL AND t <> ''
       |  UNION ALL
       |  SELECT 'orm' AS lang, lab, eng,
       |    unnest(string_split(replace(o, '; ', ';'), ';')) AS v
       |  FROM raw WHERE o IS NOT NULL AND o <> '')""".stripMargin

  private def o63: String = {
    val vals = fixtureTokens
      .map { case (l, t) => s"('${esc(l)}', '${esc(t)}')" }.mkString(", ")
    val feats = featureSql
      .map { case (n, e) => s"  CAST($e AS INT) AS $n" }.mkString(",\n")
    s"""WITH $oGazVars,
       |gtoks AS (
       |  SELECT lang, unnest(string_split_regex(v, '\\s+')) AS token
       |  FROM vars0),
       |fixture(lang, token) AS (VALUES $vals),
       |toks AS (
       |  SELECT DISTINCT lang, token FROM (
       |    SELECT lang, token FROM fixture
       |    UNION ALL SELECT lang, token FROM gtoks)
       |  WHERE token <> '')
       |SELECT lang, token,
       |$feats
       |FROM toks ORDER BY lang, token""".stripMargin
  }

  // ---- q64: load_gaz parity over the real gaz.csv ---------------------

  private def q64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = graft.crf.LangModel.refGaz // one parse per JVM
    val rows = for {
      lang <- Seq("tir", "orm")
      (label, entries) <- g(lang).toSeq
      e <- entries
    } yield (lang, label, e.mkString(" "))
    rows.toDF("lang", "label", "entry")
      .groupBy("lang", "label", "entry")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "label", "entry")
  }

  private def o64: String =
    s"""WITH $oGazVars,
       |labeled AS (
       |  SELECT lang,
       |    CASE WHEN lab IS NULL OR lab = '' THEN
       |      CASE WHEN len(list_filter(string_split_regex(
       |          coalesce(eng, ''), '\\s+'), x -> x <> '')) = 1
       |        THEN 'GPE' ELSE NULL END
       |    WHEN lab IN ('GPE', 'LOC', 'ORG', 'PER') THEN lab
       |    ELSE NULL END AS label, v
       |  FROM vars0),
       |entries AS (
       |  SELECT lang, label,
       |    array_to_string(list_filter(string_split_regex(v, '\\s+'),
       |      x -> x <> ''), ' ') AS entry
       |  FROM labeled WHERE label IS NOT NULL)
       |SELECT lang, label, entry, CAST(count(*) AS BIGINT) AS n
       |FROM entries WHERE entry <> ''
       |GROUP BY lang, label, entry
       |ORDER BY lang, label, entry""".stripMargin

  // ---- q65: case-sensitive per-language gaz B/I/O sliding match -------

  /** One synthetic sentence per distinct gaz entry: a language-specific
    * preposition, the entry tokens, a language-specific title word —
    * so every sentence exercises B at 2, I at 3.., O at the edges,
    * PLUS any cross-entry matches the full sliding scan finds. */
  /** The q65/q66 sentence grid: one framed sentence per distinct gaz
    * entry string, sid = row_number over (lang, entry) — the exact
    * order the oracle's `sents` CTE derives. */
  private[graft] def langSents(g: Map[String, LangDict.Gaz])
      : Seq[(String, Int, Array[String])] =
    Seq("tir", "orm").flatMap { lang =>
      val (pre, post) =
        if (lang == "tir") ("ካብ", "ወዘተ") else ("irraa", "obbo")
      g(lang).values.flatten.toVector.distinct
        .map(e => (lang, e.mkString(" "), pre +: e :+ post))
    }.sortBy { case (lang, entry, _) => (lang, entry) }
      .zipWithIndex
      .map { case ((lang, _, toks), i) => (lang, i + 1, toks.toArray) }

  private def q65(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = graft.crf.LangModel.refGaz // one parse per JVM
    val sents = langSents(g)
    val bg = s.sparkContext.broadcast(g)
    val bs = s.sparkContext.broadcast(sents)
    val rows = s.range(sents.size.toLong).as[Long].flatMap { i =>
      val (lang, sid, toks) = bs.value(i.toInt)
      val masks = LangFeatures.gazBits(toks, bg.value(lang))
      import graft.features.Features.{B_GAZ, I_GAZ, O_GAZ}
      toks.indices.map { p =>
        val m = masks(p)
        (lang, sid, p + 1, toks(p),
          (m >> B_GAZ) & 1, (m >> (B_GAZ + 1)) & 1,
          (m >> (B_GAZ + 2)) & 1, (m >> (B_GAZ + 3)) & 1,
          (m >> I_GAZ) & 1, (m >> (I_GAZ + 1)) & 1,
          (m >> (I_GAZ + 2)) & 1, (m >> (I_GAZ + 3)) & 1,
          (m >> O_GAZ) & 1)
      }
    }
    rows.toDF("lang", "sent_id", "pos", "token",
        "b_gpe", "b_loc", "b_org", "b_per",
        "i_gpe", "i_loc", "i_org", "i_per", "o_gaz")
      .orderBy("lang", "sent_id", "pos")
  }

  private def o65: String =
    s"""WITH $oGazVars,
       |labeled AS (
       |  SELECT lang,
       |    CASE WHEN lab IS NULL OR lab = '' THEN
       |      CASE WHEN len(list_filter(string_split_regex(
       |          coalesce(eng, ''), '\\s+'), x -> x <> '')) = 1
       |        THEN 'GPE' ELSE NULL END
       |    WHEN lab IN ('GPE', 'LOC', 'ORG', 'PER') THEN lab
       |    ELSE NULL END AS label, v
       |  FROM vars0),
       |entd AS (
       |  SELECT DISTINCT lang, label,
       |    list_filter(string_split_regex(v, '\\s+'), x -> x <> '') AS etoks
       |  FROM labeled WHERE label IS NOT NULL AND
       |    len(list_filter(string_split_regex(v, '\\s+'), x -> x <> '')) > 0),
       |sentbase AS (
       |  SELECT DISTINCT lang, array_to_string(etoks, ' ') AS entry, etoks
       |  FROM entd),
       |sents AS (
       |  SELECT lang,
       |    CAST(row_number() OVER (ORDER BY lang, entry) AS INT) AS sid,
       |    CASE WHEN lang = 'tir' THEN ['ካብ'] || etoks || ['ወዘተ']
       |         ELSE ['irraa'] || etoks || ['obbo'] END AS toks
       |  FROM sentbase),
       |positions AS (
       |  SELECT lang, sid, toks,
       |    unnest(generate_series(1, len(toks))) AS j
       |  FROM sents),
       |matches AS (
       |  SELECT p.sid, p.j, e.label, len(e.etoks) AS elen
       |  FROM positions p JOIN entd e ON e.lang = p.lang
       |  WHERE p.j + len(e.etoks) - 1 <= len(p.toks)
       |    AND p.toks[p.j : p.j + len(e.etoks) - 1] = e.etoks),
       |bflags AS (
       |  SELECT sid, j AS pos,
       |    max(CASE WHEN label = 'GPE' THEN 1 ELSE 0 END) AS b_gpe,
       |    max(CASE WHEN label = 'LOC' THEN 1 ELSE 0 END) AS b_loc,
       |    max(CASE WHEN label = 'ORG' THEN 1 ELSE 0 END) AS b_org,
       |    max(CASE WHEN label = 'PER' THEN 1 ELSE 0 END) AS b_per
       |  FROM matches GROUP BY sid, j),
       |ipos AS (
       |  SELECT sid, unnest(generate_series(j + 1, j + elen - 1)) AS pos,
       |    label
       |  FROM matches),
       |iflags AS (
       |  SELECT sid, pos,
       |    max(CASE WHEN label = 'GPE' THEN 1 ELSE 0 END) AS i_gpe,
       |    max(CASE WHEN label = 'LOC' THEN 1 ELSE 0 END) AS i_loc,
       |    max(CASE WHEN label = 'ORG' THEN 1 ELSE 0 END) AS i_org,
       |    max(CASE WHEN label = 'PER' THEN 1 ELSE 0 END) AS i_per
       |  FROM ipos GROUP BY sid, pos),
       |cover AS (
       |  SELECT DISTINCT sid, pos FROM (
       |    SELECT sid, unnest(generate_series(j, j + elen - 1)) AS pos
       |    FROM matches)),
       |tokpos AS (
       |  SELECT lang, sid, unnest(toks) AS token,
       |    unnest(generate_series(1, len(toks))) AS pos
       |  FROM sents)
       |SELECT t.lang, t.sid AS sent_id, CAST(t.pos AS INT) AS pos, t.token,
       |  CAST(coalesce(b.b_gpe, 0) AS INT) AS b_gpe,
       |  CAST(coalesce(b.b_loc, 0) AS INT) AS b_loc,
       |  CAST(coalesce(b.b_org, 0) AS INT) AS b_org,
       |  CAST(coalesce(b.b_per, 0) AS INT) AS b_per,
       |  CAST(coalesce(i.i_gpe, 0) AS INT) AS i_gpe,
       |  CAST(coalesce(i.i_loc, 0) AS INT) AS i_loc,
       |  CAST(coalesce(i.i_org, 0) AS INT) AS i_org,
       |  CAST(coalesce(i.i_per, 0) AS INT) AS i_per,
       |  CAST(CASE WHEN c.sid IS NULL THEN 1 ELSE 0 END AS INT) AS o_gaz
       |FROM tokpos t
       |LEFT JOIN bflags b ON b.sid = t.sid AND b.pos = t.pos
       |LEFT JOIN iflags i ON i.sid = t.sid AND i.pos = t.pos
       |LEFT JOIN cover c ON c.sid = t.sid AND c.pos = t.pos
       |ORDER BY lang, sent_id, pos""".stripMargin

  // ---- q66: per-language KG decode, hash-checked (r4 verdict #1) ------

  /** The REAL language-routed pipeline kernel
    * ([[graft.pipeline.Pipeline.mentions]](files, lang):
    * per-language features + reference gaz + [[graft.crf.LangModel]]
    * fitted model + Viterbi + span extraction) over the q65 sentence
    * grid as a corpus, restricted to overlap-free sentences — where
    * the gaz-dominant fit provably decodes to dictionary matching
    * (the q55 enabler, generalized per language; LangModelSpec checks
    * the property corpus-wide). The oracle recomputes corpus, sliding
    * matches, eligibility and char offsets relationally in DuckDB. */
  /** First-token index over a language's distinct labeled entries
    * (loadGaz guarantees entries non-empty): probing by toks(i) makes
    * the per-sentence sliding scan O(len × bucket) instead of
    * O(entries × len) with a slice allocation per probe — the round-5
    * eligibility walls (q66/q69/q70 spent seconds of single-threaded
    * driver CPU re-scanning ~1.3k entries per sentence) drop to
    * milliseconds. Same match set by construction. */
  private[graft] def entryIndex(g: Map[String, LangDict.Gaz],
      lang: String): Map[String, Vector[(Vector[String], String)]] =
    (for {
      label <- graft.core.Dict.entityTypes
      entry <- g(lang).getOrElse(label, Vector.empty).distinct
    } yield (entry, label))
      .groupBy(_._1.head).view.mapValues(_.toVector).toMap

  /** Distinct (pos, len, label) sliding matches of a token array over
    * [[entryIndex]] — independent of the decode kernel: the eligibility
    * side of the q66/q69 subset pin. */
  private[graft] def slidingMatchesIdx(
      idx: Map[String, Vector[(Vector[String], String)]],
      toks: Array[String]): Set[(Int, Int, String)] =
    (for {
      i <- (0 until toks.length).iterator
      (entry, label) <- idx.getOrElse(toks(i), Vector.empty).iterator
      if i + entry.length <= toks.length && {
        var k = 1; var ok = true
        while (ok && k < entry.length) {
          ok = toks(i + k) == entry(k); k += 1
        }
        ok
      }
    } yield (i, entry.length, label)).toSet

  /** The q66/q69 serve corpus: the [[langSents]] grid restricted to
    * overlap-free sentences (no two distinct matches share a token). */
  private[graft] def eligibleLangSents(g: Map[String, LangDict.Gaz])
      : Seq[(String, Int, Array[String])] = {
    def overlapFree(ms: Set[(Int, Int, String)]): Boolean =
      ms.toSeq.combinations(2).forall { case Seq(a, b) =>
        a._1 + a._2 <= b._1 || b._1 + b._2 <= a._1
      }
    val idx = Seq("tir", "orm").map(l => l -> entryIndex(g, l)).toMap
    langSents(g).filter { case (lang, _, toks) =>
      overlapFree(slidingMatchesIdx(idx(lang), toks))
    }
  }

  /** Per-JVM memo of the canonical-gaz eligible corpus (pure function
    * of the reference gaz.csv — dir-independent; the same class of
    * reference-derived cache as [[graft.crf.LangModel.fitted]]'s model
    * cache). q66, q69 and q70 each re-derived it in round 5. */
  private[graft] lazy val eligibleLangSentsCached
      : Seq[(String, Int, Array[String])] =
    eligibleLangSents(graft.crf.LangModel.refGaz)

  private def q66(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eligible = eligibleLangSentsCached
    val sidOf = eligible.map { case (lang, sid, _) =>
      f"$lang/$sid%05d.txt" -> sid
    }.toMap
    val perLang = Seq("tir", "orm").map { lang =>
      val files = eligible.collect { case (`lang`, sid, toks) =>
        graft.core.SourceFile(lang, f"$lang/$sid%05d.txt", "c0", lang,
          toks.mkString(" "))
      }.toDS()
      graft.pipeline.Pipeline.mentions(files, lang).toDF()
    }
    val bSid = s.sparkContext.broadcast(sidOf)
    perLang.reduce(_ unionByName _)
      .select(col("repo").as("lang"), col("path"), col("start"),
        col("end"), col("text"), col("tag"))
      .as[(String, String, Int, Int, String, String)]
      .map { case (lang, path, st, en, text, tag) =>
        (lang, bSid.value(path), st, en, text, tag)
      }
      .toDF("lang", "sid", "start", "end", "text", "tag")
      .orderBy("lang", "sid", "start", "end", "tag")
  }

  /** Shared q66/q69 oracle CTE chain: gaz parse → entries → sentence
    * grid → sliding matches → overlap eligibility → eligible matches
    * `em(lang, sid, toks, j, elen, label, cstart, mtext)`. */
  private[graft] def langOracleCte: String =
    s"""$oGazVars,
       |labeled AS (
       |  SELECT lang,
       |    CASE WHEN lab IS NULL OR lab = '' THEN
       |      CASE WHEN len(list_filter(string_split_regex(
       |          coalesce(eng, ''), '\\s+'), x -> x <> '')) = 1
       |        THEN 'GPE' ELSE NULL END
       |    WHEN lab IN ('GPE', 'LOC', 'ORG', 'PER') THEN lab
       |    ELSE NULL END AS label, v
       |  FROM vars0),
       |entd AS (
       |  SELECT DISTINCT lang, label,
       |    list_filter(string_split_regex(v, '\\s+'), x -> x <> '') AS etoks
       |  FROM labeled WHERE label IS NOT NULL AND
       |    len(list_filter(string_split_regex(v, '\\s+'), x -> x <> '')) > 0),
       |sentbase AS (
       |  SELECT DISTINCT lang, array_to_string(etoks, ' ') AS entry, etoks
       |  FROM entd),
       |sents AS (
       |  SELECT lang,
       |    CAST(row_number() OVER (ORDER BY lang, entry) AS INT) AS sid,
       |    CASE WHEN lang = 'tir' THEN ['ካብ'] || etoks || ['ወዘተ']
       |         ELSE ['irraa'] || etoks || ['obbo'] END AS toks
       |  FROM sentbase),
       |positions AS (
       |  SELECT lang, sid, toks,
       |    unnest(generate_series(1, len(toks))) AS j
       |  FROM sents),
       |matches AS (
       |  SELECT DISTINCT p.lang, p.sid, p.toks, p.j, len(e.etoks) AS elen,
       |    e.label
       |  FROM positions p JOIN entd e ON e.lang = p.lang
       |  WHERE p.j + len(e.etoks) - 1 <= len(p.toks)
       |    AND p.toks[p.j : p.j + len(e.etoks) - 1] = e.etoks),
       |bad AS (
       |  SELECT DISTINCT a.sid FROM matches a JOIN matches b
       |    ON a.sid = b.sid
       |    AND NOT (a.j = b.j AND a.elen = b.elen AND a.label = b.label)
       |    AND a.j < b.j + b.elen AND b.j < a.j + a.elen),
       |em AS (
       |  SELECT lang, sid, toks, j, elen, label,
       |    CASE WHEN j = 1 THEN 0
       |      ELSE length(array_to_string(toks[1:j-1], ' ')) + 1
       |    END AS cstart,
       |    array_to_string(toks[j:j+elen-1], ' ') AS mtext
       |  FROM matches WHERE sid NOT IN (SELECT sid FROM bad))""".stripMargin

  private def o66: String =
    s"""WITH $langOracleCte
       |SELECT lang, sid, CAST(cstart AS INT) AS start,
       |  CAST(cstart + length(mtext) AS INT) AS "end",
       |  mtext AS text, label AS tag
       |FROM em
       |ORDER BY lang, sid, start, "end", tag""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q63_lang_features" -> (q63 _),
    "q64_ref_gaz_load" -> (q64 _),
    "q65_lang_gaz_bio" -> (q65 _),
    "q66_lang_decode" -> (q66 _))

  val oracles: Map[String, String] = Map(
    "q63_lang_features" -> o63,
    "q64_ref_gaz_load" -> o64,
    "q65_lang_gaz_bio" -> o65,
    "q66_lang_decode" -> o66)
}
