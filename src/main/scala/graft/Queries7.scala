package graft

import graft.core.{Corpus, Dict, Mention, Sentence, SourceFile}
import graft.crf.{Crf, FitCrf}
import graft.link.Linker
import graft.pipeline.Pipeline
import graft.postprocess.PostProcess
import graft.segment.Segmenter
import graft.triples.Triples
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-2 batch: DuckDB oracles on the FLAGSHIP chain.
  *
  * The enabler is dictionary-forced decoding: on documents where no two
  * gazetteer matches overlap, the fitted decoder's output provably
  * equals dictionary matching (gaz-feature log-odds dominate every
  * competing term by construction of the fit — DefaultModelSpec checks
  * the margin), which IS SQL-expressible. Eligibility (no overlapping
  * matches, whitespace-clean text) is computed relationally on BOTH
  * sides, so the oracle subset is pinned identically. q55 hash-checks
  * the real fused decode kernel, q56 the full post-process chain (an
  * exact identity on this subset), q57 dictionary insertion actually
  * inserting (1/7 of docs' mentions deleted, then restored), q58 the
  * link + canonicalize + triples terminal output. q29 puts a DuckDB
  * oracle on the closed-form transition fit over the reference's REAL
  * eng.train data (219k lines read by both engines).
  */
object Queries7 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private val maxEntryLen: Int = Dict.gazetteer.map(_._1.length).max

  /** Full dictionary as (lowercased entry, label, entry id) rows —
    * the same data [[Dict.gazIndex]] serves the decode kernel. */
  private val gazRows: Seq[(String, String, Int)] =
    Dict.gazetteer.zipWithIndex.map { case ((toks, l), id) =>
      (toks.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(" "), l, id)
    }

  private def gazValuesSql: String = gazRows
    .map { case (t, l, id) => s"('${t.replace("'", "''")}', '$l', $id)" }
    .mkString(", ")

  /** Whitespace-clean docs: single-space separated, no tabs/newlines,
    * no leading/trailing space — exactly the shape where the SQL
    * char-offset formula equals the segmenter's. */
  private def cleanDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(
      !col("text").contains("\n") && !col("text").contains("\t") &&
        !col("text").contains("  ") && trim(col("text")) === col("text"))

  /** Dictionary n-gram matches with token indexes AND char offsets.
    *
    * One pass (r6): the old per-n union re-scanned the parquet and
    * re-split `text` maxEntryLen times, and re-derived each gram's
    * char offset with an O(prefix) concat per gram; now a single
    * projection computes the token-offset array once per doc
    * (offs[i] = sum of first i token lengths + i — identical to
    * `length(concat_ws(' ', slice(w, 1, i))) + 1` and to IF(i=0, 0))
    * and one explode emits all n-gram sizes. Plan: 3 Scan+Generate
    * subtrees under a Union → 1 Scan + 1 Generate. */
  private def matches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dict = gazRows.toDF("entry", "label", "entry_id")
    val branches = (1 to maxEntryLen).map { n =>
      s"""IF(size(w) >= $n,
         |  transform(sequence(0, size(w) - $n), i -> struct(
         |    i AS idx,
         |    concat_ws(' ', slice(w, i + 1, $n)) AS gram,
         |    CAST(element_at(offs, i + 1) AS INT) AS cstart,
         |    $n AS n)),
         |  array())""".stripMargin
    }.mkString(", ")
    val grams = cleanDocs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("offs", expr(
        "aggregate(w, array(0), (acc, x) -> " +
          "acc || array(element_at(acc, -1) + length(x) + 1))"))
      .select(col("doc_id"),
        explode(expr(s"flatten(array($branches))")).as("g"))
      .select(col("doc_id"), col("g.idx").as("idx"),
        col("g.gram").as("gram"), col("g.cstart").as("cstart"),
        col("g.n").as("n"))
    // match on the LOWERCASED gram (the kernel's matcher lowercases
    // tokens before probing gazIndex) but keep the raw surface — the
    // decode's mention text is the original casing
    grams.join(broadcast(dict), lower(col("gram")) === col("entry"))
      .select(col("doc_id"), col("idx"), col("n"), col("cstart"),
        (col("cstart") + length(col("gram"))).as("cend"),
        col("gram").as("text"), col("label"), col("entry_id"))
  }

  /** Eligible docs = clean docs whose matches are pairwise
    * non-overlapping (in token space), with repo/path derived exactly
    * as [[Corpus.fromDocuments]]. */
  private def eligibleDocs(s: SparkSession, dir: String): DataFrame = {
    val m = matches(s, dir).select("doc_id", "idx", "n")
    val a = m.select(col("doc_id"), col("idx").as("ai"), col("n").as("an"))
    val b = m.select(col("doc_id"), col("idx").as("bi"), col("n").as("bn"))
    // adjacent (touching) matches stay eligible: the fitted gaz
    // log-odds are two-sided (positive for the marked tag, strongly
    // negative for O/other tags on a marked token), so the emission
    // gap ≈ 2× any legal transition penalty — DefaultModelSpec checks
    // the per-sentence decode==dictionary property on held-out data,
    // and the oracle hash confirms it corpus-wide every round
    val bad = a.join(b, Seq("doc_id"))
      .filter((col("ai") =!= col("bi") || col("an") =!= col("bn")) &&
        col("ai") < col("bi") + col("bn") &&
        col("bi") < col("ai") + col("an"))
      .select("doc_id").distinct()
    cleanDocs(s, dir).join(bad, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        concat(lit("repo"),
          floor(sqrt(pmod(col("doc_id") * 2654435761L, lit(1024))))
            .cast("string")).as("repo"),
        concat(lit("doc/"), col("source"), lit("/"),
          col("doc_id").cast("string"), lit(".txt")).as("path"))
  }

  // ---- shared flagship derivations, materialized once per session ----

  /** (session, sfDir)-scoped materialization (the nearDupEdges
    * pattern, VERDICT r2 ask 4): q55–q61 all need (eligibility,
    * segmented sentences, fused decode) and were each re-deriving them
    * from scratch — ~46% of the round-2 correctness-gate wall was six
    * repeats of the same eligibility join + corpus decode. One eager
    * localCheckpoint per derivation makes each query measure ITS
    * operator. View key = SHA-256 of the raw dir (collision-free);
    * fresh sessions (each timed bench run) still pay the full
    * derivation once — cold-cache honesty is preserved. */
  private def sharedView(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val view = s"graft_q7_${name}_$key"
    if (!s.catalog.tableExists(view))
      build.localCheckpoint(true).createOrReplaceTempView(view)
    s.table(view)
  }

  private[graft] def eligV(s: SparkSession, dir: String): DataFrame =
    sharedView(s, dir, "elig")(eligibleDocs(s, dir))

  private[graft] def sentsV(s: SparkSession, dir: String): DataFrame =
    sharedView(s, dir, "sents") {
      import s.implicits._
      Segmenter.sentences(Corpus.fromDocuments(s, dir).as[SourceFile])
        .toDF()
    }

  private[graft] def mentionsV(s: SparkSession, dir: String): DataFrame =
    sharedView(s, dir, "mentions") {
      import s.implicits._
      Pipeline.mentions(Corpus.fromDocuments(s, dir).as[SourceFile])
        .toDF()
    }

  /** Per-n gram branches (DuckDB cannot chain LATERALs that reference
    * the previous lateral's column, so n is unrolled like o10). */
  private def gramBranches: String = (1 to maxEntryLen).map { n =>
    s"""SELECT doc_id, i - 1 AS idx, $n AS n,
       |    array_to_string(w[i:i+${n - 1}], ' ') AS gram,
       |    CASE WHEN i = 1 THEN 0
       |      ELSE length(array_to_string(w[1:i-1], ' ')) + 1 END AS cstart
       |  FROM toks,
       |    LATERAL (SELECT unnest(generate_series(1, len(w) - ${n - 1}))
       |      AS i)""".stripMargin
  }.mkString("\n  UNION ALL\n  ")

  /** Shared oracle CTE: matches + eligibility + repo/path, mirroring
    * [[matches]]/[[eligibleDocs]] term for term. */
  private[graft] def oracleCte: String =
    s"""gaz(entry, label, entry_id) AS (VALUES $gazValuesSql),
       |cd AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE text = trim(text) AND strpos(text, chr(10)) = 0
       |    AND strpos(text, chr(9)) = 0 AND strpos(text, '  ') = 0),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM cd),
       |grams AS (
       |  $gramBranches),
       |m AS (
       |  SELECT doc_id, idx, n, cstart, cstart + length(gram) AS cend,
       |    gram AS text, entry, label, entry_id
       |  FROM grams JOIN gaz ON lower(gram) = entry),
       |bad AS (
       |  SELECT DISTINCT a.doc_id FROM m a JOIN m b ON a.doc_id = b.doc_id
       |    AND NOT (a.idx = b.idx AND a.n = b.n)
       |    AND a.idx < b.idx + b.n AND b.idx < a.idx + a.n),
       |elig AS (
       |  SELECT doc_id, source,
       |    'repo' || CAST(CAST(floor(sqrt((doc_id * 2654435761) % 1024))
       |      AS BIGINT) AS VARCHAR) AS repo,
       |    'doc/' || source || '/' || CAST(doc_id AS VARCHAR) || '.txt'
       |      AS path
       |  FROM cd WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
       |em AS (
       |  SELECT m.*, e.repo, e.path FROM m JOIN elig e USING (doc_id))""".stripMargin

  private[graft] val mentionSelect =
    """SELECT repo, path, cstart AS start, cend AS "end",
      |  text, label AS tag
      |FROM em ORDER BY path, start""".stripMargin

  // ---- q55: the real decode kernel vs dictionary matching ------------

  private def q55(s: SparkSession, dir: String): DataFrame = {
    val elig = eligV(s, dir).select("path")
    mentionsV(s, dir)
      .join(elig, "path")
      .select("repo", "path", "start", "end", "text", "tag")
      .orderBy("path", "start")
  }

  private def o55: String = s"WITH $oracleCte\n$mentionSelect"

  // ---- q56: full post-process chain is the identity here --------------

  private def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val elig = eligV(s, dir).select("path")
    val sentsE = sentsV(s, dir).join(elig, "path")
      .select(col("repo"), col("path"), col("sentIdx"), col("tokens"),
        col("starts"), col("ends")).as[Sentence]
    val mentE = mentionsV(s, dir).join(elig, "path")
      .select(col("repo"), col("path"), col("sentIdx"), col("start"),
        col("end"), col("text"), col("tag"), col("conf")).as[Mention]
    PostProcess(sentsE, mentE).toDF()
      .select("repo", "path", "start", "end", "text", "tag")
      .orderBy("path", "start")
  }

  // ---- q57: dictionary insertion restores deleted mentions ------------

  private def q57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val eligD = eligV(s, dir)
    val elig = eligD.select("path")
    val sentsE = sentsV(s, dir).join(elig, "path")
      .select(col("repo"), col("path"), col("sentIdx"), col("tokens"),
        col("starts"), col("ends")).as[Sentence]
    // simulate model misses: drop every mention in doc_id % 7 == 0 docs
    val kept = mentionsV(s, dir)
      .join(eligD.select("doc_id", "path"), "path")
      .filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("repo"), col("path"), col("sentIdx"), col("start"),
        col("end"), col("text"), col("tag"), col("conf")).as[Mention]
    PostProcess.insertFromLookup(sentsE, kept).toDF()
      .select("repo", "path", "start", "end", "text", "tag")
      .orderBy("path", "start")
  }

  // ---- q58: link + canonicalize + triples, hash-checked ----------------

  private def q58(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val elig = eligV(s, dir).select("path")
    val mentE = mentionsV(s, dir).join(elig, "path")
      .select(col("repo"), col("path"), col("sentIdx"), col("start"),
        col("end"), col("text"), col("tag"), col("conf")).as[Mention]
    Triples.materialize(Linker.link(mentE))
      .orderBy("subj", "pred", "obj")
  }

  private def o58: String =
    s"""WITH $oracleCte,
       |linked AS (
       |  SELECT em.*,
       |    'Q' || lpad(CAST(entry_id + 1 AS VARCHAR), 5, '0') AS qid
       |  FROM em)
       |SELECT DISTINCT 'e:' || qid AS subj, pred, obj FROM (
       |  SELECT qid, 'hasType' AS pred, label AS obj FROM linked
       |  UNION ALL SELECT qid, 'label', entry FROM linked
       |  UNION ALL SELECT qid, 'mentionedIn', repo || '/' || path
       |    FROM linked
       |  UNION ALL SELECT qid, 'sameAs', qid FROM linked)
       |ORDER BY subj, pred, obj""".stripMargin

  // ---- o50: FULL-corpus decode oracle (beyond gaz-dominance) ----------

  /** The q50 oracle — full Viterbi mention detection over EVERY doc,
    * including the overlap docs q55's eligibility excludes (VERDICT r2
    * ask 6). Enabler: on this corpus the realizable overlapping-match
    * configurations are structurally limited (2-gram × 2-gram sharing
    * one token — `merge sort`/`sort merge` chains and `big data`/`data
    * table`), and the fitted decoder resolves them by a TOKEN-LOCAL
    * rule, proven by OverlapDecodeSpec against the kernel on every
    * realizable pattern:
    *
    *   marks(t) = {B at match starts, I at match continuations};
    *   B∧I of the SAME type  → I (same-type chains fuse into one span)
    *   B (∧ maybe I of other type) → B (cross-type overlap breaks,
    *                                    the new entry wins)
    *   I alone → I;   no mark → O
    *
    * then the standard BIO span FSM. Docs must be whitespace-clean
    * (all driver-generated docs are — asserted by the cd filter: a
    * non-clean doc would surface as a row-count mismatch, not a silent
    * wrong hash). Ends in CTE `fullmen` so o51/o52 build on it. */
  private def fullDecodeCte: String =
    s"""gaz(entry, label, entry_id) AS (VALUES $gazValuesSql),
       |cd AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE text = trim(text) AND strpos(text, chr(10)) = 0
       |    AND strpos(text, chr(9)) = 0 AND strpos(text, '  ') = 0),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM cd),
       |tok AS (
       |  SELECT doc_id, i - 1 AS t, w[i] AS word,
       |    CASE WHEN i = 1 THEN 0
       |      ELSE length(array_to_string(w[1:i-1], ' ')) + 1 END AS cstart
       |  FROM toks,
       |    LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
       |grams AS (
       |  $gramBranches),
       |m AS (
       |  SELECT doc_id, idx, n, label
       |  FROM grams JOIN gaz ON lower(gram) = entry),
       |marks AS (
       |  SELECT doc_id, idx AS t, label, 'B' AS pos FROM m
       |  UNION ALL
       |  SELECT doc_id, unnest(generate_series(idx + 1, idx + n - 1))
       |    AS t, label, 'I' AS pos FROM m WHERE n > 1),
       |tokmark AS (
       |  SELECT doc_id, t,
       |    max(CASE WHEN pos = 'B' THEN label END) AS bl,
       |    max(CASE WHEN pos = 'I' THEN label END) AS il
       |  FROM marks GROUP BY doc_id, t),
       |tagged AS (
       |  SELECT tok.doc_id, tok.t, tok.cstart,
       |    tok.cstart + length(tok.word) AS cend,
       |    CASE WHEN bl IS NOT NULL AND il IS NOT NULL AND bl = il
       |        THEN 'I'
       |      WHEN bl IS NOT NULL THEN 'B'
       |      WHEN il IS NOT NULL THEN 'I' END AS bio,
       |    CASE WHEN bl IS NOT NULL AND il IS NOT NULL AND bl = il
       |        THEN bl
       |      WHEN bl IS NOT NULL THEN bl
       |      ELSE il END AS typ
       |  FROM tok LEFT JOIN tokmark
       |    ON tok.doc_id = tokmark.doc_id AND tok.t = tokmark.t),
       |fsm AS (
       |  SELECT *, lag(typ) OVER (PARTITION BY doc_id ORDER BY t)
       |    AS prevTyp
       |  FROM tagged),
       |sp AS (
       |  SELECT *, sum(CASE WHEN typ IS NOT NULL AND (bio = 'B'
       |      OR prevTyp IS NULL OR prevTyp <> typ) THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY t
       |      ROWS UNBOUNDED PRECEDING) AS spanId
       |  FROM fsm),
       |spans AS (
       |  SELECT doc_id, min(cstart) AS s0, max(cend) AS e0,
       |    min(typ) AS tag
       |  FROM sp WHERE typ IS NOT NULL GROUP BY doc_id, spanId),
       |fullmen AS (
       |  SELECT
       |    'repo' || CAST(CAST(floor(sqrt((cd.doc_id * 2654435761) % 1024))
       |      AS BIGINT) AS VARCHAR) AS repo,
       |    'doc/' || source || '/' || CAST(cd.doc_id AS VARCHAR) || '.txt'
       |      AS path,
       |    CAST(0 AS INT) AS sentIdx,
       |    CAST(s0 AS INT) AS start, CAST(e0 AS INT) AS "end",
       |    substr(text, CAST(s0 + 1 AS INT), CAST(e0 - s0 AS INT))
       |      AS text,
       |    tag, CAST(1.0 AS DOUBLE) AS conf
       |  FROM spans JOIN cd ON spans.doc_id = cd.doc_id)""".stripMargin

  private def o50: String =
    s"""WITH $fullDecodeCte
       |SELECT * FROM fullmen
       |ORDER BY repo, path, sentIdx, start""".stripMargin

  /** The q51 oracle: on this corpus the FULL post-process chain is the
    * identity on the full decode output — every mention text maps to a
    * globally unique tag (so both vote stages relabel to the tag
    * already present; lookupFixup's table tag equals the decode tag),
    * and every insertion candidate overlaps either its own predicted
    * span or the chain/truncated spans covering its tokens (the same
    * argument o56 makes per-doc, now corpus-wide because chains fuse
    * ALL matched tokens of an overlap group into one span). The gate
    * hash-checks this claim against the real PostProcess every run. */
  private def o51: String = o50

  /** The q44 oracle: full-corpus ENSEMBLE decode. The ensemble
    * averages the base model with its 0.9× and 1.1× scalings
    * (decoders.py:202-238 semantics through the real Ensemble path),
    * and (0.9+1.0+1.1)/3 = 1 — the averaged weights equal the base up
    * to one float rounding, orders of magnitude below every decode
    * margin (DefaultModelSpec pins margins > 4). So the full-corpus
    * ensemble decode equals the full-corpus base decode, and o50 pins
    * it — including the overlap-chain regime. The gate hash-checks
    * the claim corpus-wide every round. */
  private def o44: String = o50

  /** The q52 oracle: full-corpus link + canonicalize + triples.
    *
    * The linker (Linker.link) is mirrored GENERICALLY: candidates =
    * same-label entries sharing the mention's first lowercase token;
    * score = max(Jaccard on token SETS, Jaro-Winkler on the joined
    * strings — DuckDB's jaro_winkler_similarity is bit-identical to
    * Linker.jaroWinkler, same p=0.1/prefix≤4 definition); argmax with
    * (score desc, entry_id asc); linked iff score ≥ 0.85. Chain
    * mentions (`merge sort merge`) link at Jaccard 1.0 (duplicate
    * tokens collapse in the set), the truncated `big` links to
    * `big data` at JW 0.8542 — the gate pins those resolutions.
    *
    * Canonicalization: the subject is 'e:<qid>' when linked and
    * 'm:<tag>:<ltext>' when NIL, per row — the same column expression
    * as Triples.materialize. */
  private def o52: String =
    s"""WITH $fullDecodeCte,
       |men AS (
       |  SELECT DISTINCT tag, lower(text) AS ltext,
       |    repo || '/' || path AS doc
       |  FROM fullmen),
       |ment AS (SELECT DISTINCT tag, ltext FROM men),
       |cand AS (
       |  SELECT ment.tag, ment.ltext, g.entry_id, g.entry,
       |    list_distinct(string_split(ment.ltext, ' ')) AS mtoks,
       |    list_distinct(string_split(g.entry, ' ')) AS etoks
       |  FROM ment JOIN gaz g ON g.label = ment.tag
       |    AND string_split(g.entry, ' ')[1] =
       |        string_split(ment.ltext, ' ')[1]),
       |scored AS (
       |  SELECT tag, ltext, entry_id,
       |    greatest(
       |      CAST(len(list_intersect(mtoks, etoks)) AS DOUBLE) /
       |        len(list_distinct(mtoks || etoks)),
       |      jaro_winkler_similarity(ltext, entry)) AS score
       |  FROM cand),
       |best AS (
       |  SELECT tag, ltext, entry_id, score,
       |    row_number() OVER (PARTITION BY tag, ltext
       |      ORDER BY score DESC, entry_id ASC) AS rk
       |  FROM scored),
       |subj AS (
       |  SELECT m.tag, m.ltext,
       |    CASE WHEN b.score >= 0.85
       |      THEN 'Q' || lpad(CAST(b.entry_id + 1 AS VARCHAR), 5, '0')
       |      END AS qid,
       |    CASE WHEN b.score >= 0.85
       |      THEN 'e:' || 'Q' ||
       |        lpad(CAST(b.entry_id + 1 AS VARCHAR), 5, '0')
       |      ELSE 'm:' || m.tag || ':' || m.ltext END AS subj
       |  FROM ment m LEFT JOIN best b
       |    ON b.tag = m.tag AND b.ltext = m.ltext AND b.rk = 1)
       |SELECT subj, pred, obj FROM (
       |  SELECT DISTINCT subj, 'hasType' AS pred, tag AS obj FROM subj
       |  UNION ALL
       |  SELECT DISTINCT subj, 'label', ltext FROM subj
       |  UNION ALL
       |  SELECT DISTINCT subj, 'sameAs', qid FROM subj
       |  WHERE qid IS NOT NULL
       |  UNION ALL
       |  SELECT DISTINCT s.subj, 'mentionedIn', men.doc
       |  FROM men JOIN subj s ON s.tag = men.tag AND s.ltext = men.ltext)
       |ORDER BY subj, pred, obj""".stripMargin

  // ---- q29: closed-form transition fit on the REAL eng.train ----------

  /** The fitted transition matrix over the reference's in-tree English
    * training data: both engines read the same 219k-line file; the
    * oracle re-states the sessionizer, the MISC↔GPE bijection, the
    * bigram counting with virtual START/END, and the add-k log
    * probability (k=0.5) including the float truncation, so the weight
    * column is bit-stable at 4 dp. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the gated output is a pure function of the bigram counts, so only
    // the bigram aggregation runs — the featurize/vocab aggregations of
    // the full countStats are skipped (guide §1.2; OPTIMIZATION_r06.md)
    val bigram = FitCrf.bigramStats(
      FitEval.labeled(s, graft.core.RefData.engTrain.existing))
    val trans = FitCrf.transWeights(bigram, k = 0.5)
    val names = (Dict.tags :+ "START") :+ "END"
    val rows = for {
      i <- 0 until Crf.K + 2
      j <- 0 until Crf.K + 2
      if !Crf.walls(i)(j)
    } yield (names(i), names(j), bigram(i)(j),
      java.math.BigDecimal.valueOf(trans(i)(j).toDouble)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    rows.toDF("from_tag", "to_tag", "n", "w")
      .orderBy("from_tag", "to_tag")
  }

  private def o29: String = {
    val tagValues = Dict.tags.map(t => s"('$t')").mkString(", ")
    s"""WITH raw AS (
       |  SELECT row_number() OVER () AS lineno, line
       |  FROM read_csv('${FitEval.trainPath}',
       |    header=false, delim='', columns={'line':'VARCHAR'},
       |    null_padding=true, all_varchar=true)),
       |scan AS (
       |  SELECT sentId,
       |    row_number() OVER (PARTITION BY sentId ORDER BY lineno)
       |      AS tokIdx,
       |    replace(f[-1], 'MISC', 'GPE') AS tag
       |  FROM (
       |    SELECT lineno,
       |      string_split_regex(trim(coalesce(line, '')), '\\s+') AS f,
       |      CAST(sum(CASE WHEN trim(coalesce(line, '')) = ''
       |        THEN 1 ELSE 0 END)
       |        OVER (ORDER BY lineno ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |        AS sentId,
       |      trim(coalesce(line, '')) = '' AS isBlank
       |    FROM raw)
       |  WHERE NOT isBlank),
       |big AS (
       |  SELECT coalesce(lag(tag) OVER (PARTITION BY sentId
       |    ORDER BY tokIdx), 'START') AS from_tag, tag AS to_tag
       |  FROM scan
       |  UNION ALL
       |  SELECT tag, 'END' FROM (
       |    SELECT sentId, tag, row_number() OVER (PARTITION BY sentId
       |      ORDER BY tokIdx DESC) AS rk
       |    FROM scan) WHERE rk = 1),
       |counts AS (
       |  SELECT from_tag, to_tag, count(*) AS n FROM big GROUP BY 1, 2),
       |tags(tag) AS (VALUES $tagValues),
       |fromSet AS (SELECT tag FROM tags UNION ALL SELECT 'START'),
       |toSet AS (SELECT tag FROM tags UNION ALL SELECT 'END'),
       |grid AS (
       |  SELECT f.tag AS from_tag, t.tag AS to_tag
       |  FROM fromSet f CROSS JOIN toSet t
       |  WHERE NOT (t.tag LIKE 'I-%' AND f.tag NOT IN
       |    ('B-' || substr(t.tag, 3), 'I-' || substr(t.tag, 3)))),
       |rowtot AS (
       |  SELECT from_tag, CAST(sum(n) AS BIGINT) AS tot
       |  FROM counts GROUP BY 1),
       |legalcnt AS (
       |  SELECT from_tag, CAST(count(*) AS BIGINT) AS legal
       |  FROM grid GROUP BY 1)
       |SELECT g.from_tag AS from_tag, g.to_tag AS to_tag,
       |  CAST(coalesce(c.n, 0) AS BIGINT) AS n,
       |  round(CAST(CAST(ln((coalesce(c.n, 0) + 0.5) /
       |    (coalesce(r.tot, 0) + 0.5 * l.legal)) AS REAL) AS DOUBLE), 4)
       |    AS w
       |FROM grid g
       |LEFT JOIN counts c
       |  ON c.from_tag = g.from_tag AND c.to_tag = g.to_tag
       |LEFT JOIN rowtot r ON r.from_tag = g.from_tag
       |JOIN legalcnt l ON l.from_tag = g.from_tag
       |ORDER BY g.from_tag, g.to_tag""".stripMargin
  }

  // ---- q60: ensemble Viterbi, hash-checked ----------------------------

  /** Ensemble decode (decoders.py:202-238: average weights over
    * models, then Viterbi) through the REAL [[graft.crf.Ensemble]]
    * path, on the non-overlapping-match subset where the averaged
    * fitted weights still force dictionary decoding (the 0.9×/1.1×
    * perturbations average back to ≈1.0×, preserving every argmax
    * margin). Same oracle as q55 — which is the point: the ensemble
    * machinery must be decode-equivalent here. */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.crf.Model.weights(Crf.emissionWeights,
      Crf.transitions)
    def perturb(scale: Float) = graft.crf.Model.weights(
      Crf.emissionWeights.map(_.map(_ * scale)),
      Crf.transitions.map(_.map(v =>
        if (v == Crf.WALL) v else v * scale)))
    val elig = eligV(s, dir).select("path")
    val sents = sentsV(s, dir).as[Sentence]
    graft.crf.Ensemble
      .ensembleTag(sents, Seq(base, perturb(0.9f), perturb(1.1f)))
      .flatMap(graft.spans.Spans.extract _).toDF()
      .join(elig, "path")
      .select("repo", "path", "start", "end", "text", "tag")
      .orderBy("path", "start")
  }

  // ---- q61: softmax-classifier decode, hash-checked --------------------

  /** The reference's per-token classifier decoder (decoders.py:241-269
    * — argmax per token, no transitions) over the eligible subset:
    * with gaz-dominant fitted emissions, independent classification
    * equals dictionary matching too, so the same oracle pins it. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val elig = eligV(s, dir).select("path")
    Crf.classifyTag(sentsV(s, dir).as[Sentence], Crf.emissionWeights)
      .flatMap(graft.spans.Spans.extract _).toDF()
      .join(elig, "path")
      .select("repo", "path", "start", "end", "text", "tag")
      .orderBy("path", "start")
  }

  // ---- q59: author-list XML scan (extract_authors.py) ----------------

  /** Inline XML fixture: WL file with two posts (one duplicated
    * author, one attribute OUTSIDE any post block), plus an NW file
    * whose author must be genre-excluded. */
  private[graft] val authorXmlRows: Seq[(String, Long, String)] = Seq(
    ("SN_WL_0001.xml", 0L, "<doc id=\"SN_WL_0001\">"),
    ("SN_WL_0001.xml", 1L, "<post type=\"post\" id=\"p1\">"),
    ("SN_WL_0001.xml", 2L,
      "<attribute name=\"author\" value=\"alice w\"/>"),
    ("SN_WL_0001.xml", 3L, "<token>hello</token>"),
    ("SN_WL_0001.xml", 4L, "</post>"),
    ("SN_WL_0001.xml", 5L,
      "<attribute name=\"author\" value=\"outside block\"/>"),
    ("SN_WL_0001.xml", 6L, "<post type=\"post\" id=\"p2\">"),
    ("SN_WL_0001.xml", 7L,
      "<attribute name=\"author\" value=\"bob\"/>" +
        "<attribute name=\"author\" value=\"alice w\"/>"),
    ("SN_WL_0001.xml", 8L,
      "<attribute name=\"site\" value=\"not an author\"/>"),
    ("SN_WL_0001.xml", 9L, "</post>"),
    ("SN_WL_0001.xml", 10L, "</doc>"),
    ("SN_NW_0002.xml", 0L, "<doc id=\"SN_NW_0002\">"),
    ("SN_NW_0002.xml", 1L, "<post type=\"post\" id=\"p1\">"),
    ("SN_NW_0002.xml", 2L,
      "<attribute name=\"author\" value=\"carol\"/>"),
    ("SN_NW_0002.xml", 3L, "</post>"),
    ("SN_NW_0002.xml", 4L, "</doc>"))

  private def q59(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.conll.Scans.authorXmlScan(
      authorXmlRows.toDF("fname", "lineno", "line"))
  }

  private def o59: String = {
    val vals = authorXmlRows.map { case (f, i, l) =>
      s"('$f', $i, '${l.replace("'", "''")}')"
    }.mkString(", ")
    s"""WITH raw(fname, lineno, line) AS (VALUES $vals),
       |wl AS (
       |  SELECT *,
       |    CAST(sum(CASE WHEN contains(line, 'type="post"')
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY fname ORDER BY lineno
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS opens,
       |    CAST(sum(CASE WHEN contains(line, '</post>')
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY fname ORDER BY lineno
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS closes
       |  FROM raw WHERE string_split(fname, '_')[2] = 'WL')
       |SELECT DISTINCT author FROM (
       |  SELECT unnest(regexp_extract_all(line,
       |    '<attribute[^>]*name="author"[^>]*value="([^"]*)"', 1))
       |    AS author
       |  FROM wl
       |  WHERE opens > closes -
       |    (CASE WHEN contains(line, '</post>') THEN 1 ELSE 0 END))
       |WHERE author <> ''
       |ORDER BY author""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_fitted_transitions" -> (q29 _),
    "q55_decode_dict_oracle" -> (q55 _),
    "q56_postprocess_identity" -> (q56 _),
    "q57_insertion_restore" -> (q57 _),
    "q58_triples_oracle" -> (q58 _),
    "q59_author_xml_scan" -> (q59 _),
    "q60_ensemble_decode_oracle" -> (q60 _),
    "q61_classifier_decode" -> (q61 _))

  val oracles: Map[String, String] = Map(
    "q29_fitted_transitions" -> o29,
    "q44_ensemble_viterbi" -> o44,
    "q50_viterbi_mentions" -> o50,
    "q51_postprocess_mentions" -> o51,
    "q52_kg_triples" -> o52,
    "q55_decode_dict_oracle" -> o55,
    "q56_postprocess_identity" -> s"WITH $oracleCte\n$mentionSelect",
    "q57_insertion_restore" -> s"WITH $oracleCte\n$mentionSelect",
    "q58_triples_oracle" -> o58,
    "q59_author_xml_scan" -> o59,
    "q60_ensemble_decode_oracle" -> s"WITH $oracleCte\n$mentionSelect",
    "q61_classifier_decode" -> s"WITH $oracleCte\n$mentionSelect")
}
