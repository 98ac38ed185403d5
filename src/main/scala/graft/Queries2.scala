package graft

import graft.canon.Components
import graft.core.{Corpus, Dict, SourceFile}
import graft.eval.SpanPRF1
import graft.pipeline.{LangPack, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second query batch: gazetteer n-gram join, near-dup detection,
  * connected components, span P/R/F1, and the full-pipeline rows-only
  * entries (SURVEY.md §2.5, §7.2 steps 8-10). */
object Queries2 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** The code-vocabulary stratum of the dictionary, as rows. */
  private val dictRows: Seq[(String, String)] = Dict.gazetteer
    .collect { case (toks, label)
      if toks.forall(t => t == t.toLowerCase(java.util.Locale.ROOT)) =>
      (toks.mkString(" "), label)
    }

  private def dictValuesSql: String = dictRows
    .map { case (t, l) => s"('$t', '$l')" }.mkString(", ")

  // ---- gazetteer n-gram join (§2.5 flagship join) -------------------

  /** Every 1/2-gram of every document matched against the broadcast
    * dictionary (reference sliding gaz match, segnerfts.py:55-85,
    * recast as explode + broadcast equi-join). */
  /** The q10 match derivation, materialized once per (session, sfDir):
    * q13's P/R/F1 aggregator consumes its gold side in several join
    * branches (tp equi-join + two anti-joins), which re-ran this
    * explode+join per branch in round 2 (q13 2.17 → 5.62 s). Same
    * pattern and key scheme as [[nearDupEdges]]. */
  private def gazMatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val view = "graft_gaz_matches_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (!s.catalog.tableExists(view)) {
      val dict = dictRows.toDF("entry", "label")
      val grams = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          """flatten(array(
            |  transform(w, (x, i) -> struct(i AS idx, x AS gram, 1 AS n)),
            |  transform(sequence(0, greatest(size(w)-2, -1)),
            |    i -> struct(i AS idx, concat(w[i], ' ', w[i+1]) AS gram,
            |                2 AS n))))""".stripMargin)).as("g"))
        .select(col("doc_id"), col("g.idx").as("idx"),
          col("g.gram").as("gram"), col("g.n").as("n"))
      grams.join(broadcast(dict), grams("gram") === dict("entry"))
        .select(col("doc_id"), col("idx"), col("entry"), col("label"),
          col("n"))
        .localCheckpoint(true)
        .createOrReplaceTempView(view)
    }
    s.table(view)
  }

  private def q10(s: SparkSession, dir: String): DataFrame =
    gazMatches(s, dir).orderBy("doc_id", "idx", "n")

  private def o10: String =
    s"""WITH dict(entry, label) AS (VALUES $dictValuesSql),
       |grams AS (
       |  SELECT doc_id, i - 1 AS idx, w[i] AS gram, 1 AS n
       |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
       |  UNION ALL
       |  SELECT doc_id, i - 1 AS idx, w[i] || ' ' || w[i+1] AS gram, 2 AS n
       |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
       |SELECT doc_id, idx, entry, label, n
       |FROM grams JOIN dict ON gram = entry
       |ORDER BY doc_id, idx, n""".stripMargin

  // ---- near-duplicate detection (training-data dedup suite) --------

  /** 8-token shingles per doc (distinct). */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w)-7), i -> concat_ws(' ', slice(w, i, 8)))"))
        .as("sh"))
      .distinct()

  /** n-gram-Jaccard near-dup pairs: docs sharing ≥ 20 distinct 8-gram
    * shingles, with exact Jaccard. The shingle self-join is the
    * exact-pairs baseline; the MinHash/LSH variant (same output at
    * lower cost) is the scale path (SURVEY.md training-data ops). */
  /** The q11 near-dup pair table, materialized ONCE per (session,
    * sfDir): the 8-gram shingle self-join is the expensive part of
    * q11 AND both CC gates — round 5 ran it twice (q11's own action,
    * then again inside [[nearDupEdges]]'s view build). One eager
    * localCheckpoint behind a temp view serves all three consumers;
    * fresh sessions (each timed bench run) still derive it cold. */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val view = "graft_neardup_pairs_" +
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (!s.catalog.tableExists(view)) {
      // lazy localCheckpoint, not cache(): consumed by 3 subtrees
      // (counts + both join sides) but must not pin session storage
      // beyond the view build
      val sh = shingles(s, dir).localCheckpoint(false)
      val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
      val common = a.join(b, "sh").filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
        .filter(col("common") >= 20)
      common
        .join(counts.select(col("doc_id").as("doc_a"),
          col("nsh").as("na")), "doc_a")
        .join(counts.select(col("doc_id").as("doc_b"),
          col("nsh").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("common"),
          round(col("common") / (col("na") + col("nb") - col("common")), 4)
            .as("jac"))
        .localCheckpoint(true)
        .createOrReplaceTempView(view)
    }
    s.table(view)
  }

  private def q11(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(s, dir).orderBy("doc_a", "doc_b")

  private val shingleCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+7], ' ')
      |    for i in generate_series(1, len(w)-7)]) AS sh
      |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)
      |  WHERE len(w) >= 8),
      |counts AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 20)""".stripMargin

  private def o11: String =
    s"""WITH $shingleCte
       |SELECT doc_a, doc_b, common,
       |  round(common / (ca.nsh + cb.nsh - common), 4) AS jac
       |FROM pairs
       |JOIN counts ca ON ca.doc_id = doc_a
       |JOIN counts cb ON cb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- connected components (canonicalization kernel) ---------------

  /** Near-dup edges, materialized ONCE per (session, sfDir): the
    * shingle self-join is the expensive part of both CC gates, so q12
    * and q53 consume a single eager localCheckpoint behind a temp view
    * — their bench numbers then measure the CC algorithms, not a
    * repeated edge derivation. */
  def nearDupEdges(s: SparkSession, dir: String): DataFrame =
    // the pair table is already an eager checkpoint ([[nearDupPairs]]);
    // a second checkpoint of its narrow projection would only copy
    // blocks — serve the projection directly (q12 and q53 both key off
    // this, so the shingle self-join runs once per session, not three
    // times as in round 5: q11, the old edges view build, and q53's
    // first touch when q12 hadn't run)
    nearDupPairs(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))

  /** Min-label propagation over the near-dup graph; oracle = recursive
    * CTE transitive closure in DuckDB. */
  private def q12(s: SparkSession, dir: String): DataFrame =
    Components.connectedComponents(nearDupEdges(s, dir))
      .select(col("id"), col("component")).orderBy("id")

  private def o12: String =
    s"""WITH RECURSIVE $shingleCte,
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION SELECT src, src FROM sym
       |  UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
       |SELECT src AS id, min(dst) AS component
       |FROM reach GROUP BY src ORDER BY id""".stripMargin

  // ---- span P/R/F1 (conlleval semantics, §2.4) ----------------------

  /** SpanPRF1.evaluate between the rule-tagged spans (q06 semantics,
    * "pred") and dictionary 1/2-gram matches ("gold"): per-type
    * tp/fp/fn/precision/recall. */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    import graft.spans.Spans
    val tok = docs(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("idx", "word")))
      .select(col("doc_id").as("doc"), lit(0).as("sent"), col("idx"),
        col("word").as("token"), col("idx").as("start"),
        col("idx").as("end"), expr(Queries.tagRuleSql("word")).as("tag"))
    val pred = Spans.fromTokenTable(tok)
      .select(col("doc"), col("sent"), col("start"), col("end"),
        col("tag"))
    val gold = q10(s, dir)
      .select(col("doc_id").as("doc"), lit(0).as("sent"),
        col("idx").as("start"), (col("idx") + col("n") - 1).as("end"),
        col("label").as("tag"))
    SpanPRF1.evaluate(pred, gold).orderBy("tag")
  }

  private def o13: String =
    s"""WITH dict(entry, label) AS (VALUES $dictValuesSql),
       |tok AS (
       |  SELECT doc_id AS doc, i - 1 AS idx, w[i] AS token,
       |         ${Queries.tagRuleSql("w[i]")} AS tag
       |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
       |fsm AS (
       |  SELECT *, CASE WHEN tag = 'O' THEN NULL ELSE substr(tag, 3) END AS typ,
       |    lag(CASE WHEN tag = 'O' THEN NULL ELSE substr(tag, 3) END)
       |      OVER (PARTITION BY doc ORDER BY idx) AS prevTyp
       |  FROM tok),
       |sp AS (
       |  SELECT *, sum(CASE WHEN typ IS NOT NULL AND (substr(tag,1,1) = 'B'
       |      OR prevTyp IS NULL OR prevTyp <> typ) THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc ORDER BY idx ROWS UNBOUNDED PRECEDING)
       |    AS spanId
       |  FROM fsm),
       |pred AS (
       |  SELECT DISTINCT doc, 0 AS sent, min(idx) AS start, max(idx) AS "end",
       |         min(typ) AS tag
       |  FROM sp WHERE typ IS NOT NULL GROUP BY doc, spanId),
       |grams AS (
       |  SELECT doc_id, i - 1 AS idx, w[i] AS gram, 1 AS n
       |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
       |  UNION ALL
       |  SELECT doc_id, i - 1 AS idx, w[i] || ' ' || w[i+1] AS gram, 2 AS n
       |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)),
       |gold AS (
       |  SELECT DISTINCT doc_id AS doc, 0 AS sent, idx AS start,
       |         idx + n - 1 AS "end", label AS tag
       |  FROM grams JOIN dict ON gram = entry),
       |j AS (
       |  SELECT coalesce(p.tag, g.tag) AS tag,
       |         p.tag IS NOT NULL AS inPred, g.tag IS NOT NULL AS inGold
       |  FROM pred p FULL OUTER JOIN gold g
       |    ON p.doc = g.doc AND p.sent = g.sent AND p.start = g.start
       |   AND p."end" = g."end" AND p.tag = g.tag)
       |SELECT tag,
       |  CAST(sum(CASE WHEN inPred AND inGold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN inPred AND NOT inGold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(sum(CASE WHEN NOT inPred AND inGold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |  round(sum(CASE WHEN inPred AND inGold THEN 1 ELSE 0 END) /
       |    greatest(sum(CASE WHEN inPred THEN 1 ELSE 0 END), 1), 4) AS precision,
       |  round(sum(CASE WHEN inPred AND inGold THEN 1 ELSE 0 END) /
       |    greatest(sum(CASE WHEN inGold THEN 1 ELSE 0 END), 1), 4) AS recall
       |FROM j GROUP BY tag ORDER BY tag""".stripMargin

  // ---- full-pipeline rows-only entries ------------------------------

  /** Post-processed mentions by the reference chain (the Dataset-level
    * fix-up/vote/insert stages, which no pipeline action runs; on a
    * corpus with one row per (repo, path) it equals
    * [[Pipeline.postProcessed]]'s fused pass, q80). Consumes the
    * session-shared segmentation + fused-decode checkpoints
    * ([[Queries7.sentsV]]/[[Queries7.mentionsV]]): round 5
    * re-decoded the whole corpus here even though q50 had just
    * materialized the identical mention stream, so the q51 number
    * now measures the post-process chain, not a repeated decode. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sents = Queries7.sentsV(s, dir).as[graft.core.Sentence]
    val ms = Queries7.mentionsV(s, dir).as[graft.core.Mention]
    graft.postprocess.PostProcess(sents, ms)
      .toDF().orderBy("repo", "path", "sentIdx", "start")
  }

  /** Full KG: linked + canonicalized (subj, pred, obj) triples — the
    * eng reference chain (post-process → link → triples) over the same
    * shared checkpoints (identical inputs ⇒ identical output; the
    * oracle hash re-confirms every round). */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sents = Queries7.sentsV(s, dir).as[graft.core.Sentence]
    val ms = Queries7.mentionsV(s, dir).as[graft.core.Mention]
    val pack = LangPack("eng")
    graft.triples.Triples.materialize(graft.link.Linker.link(
        graft.postprocess.PostProcess(sents, ms, lookup = pack.lookup,
          lookupIndex = pack.lookupIndex),
        index = pack.index, kbId = pack.kbId))
      .orderBy("subj", "pred", "obj")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q10_gaz_ngram_join" -> (q10 _),
    "q11_near_dup_pairs" -> (q11 _),
    "q12_conn_components" -> (q12 _),
    "q13_span_prf1" -> (q13 _),
    "q51_postprocess_mentions" -> (q51 _),
    "q52_kg_triples" -> (q52 _))

  val oracles: Map[String, String] = Map(
    "q10_gaz_ngram_join" -> o10,
    "q11_near_dup_pairs" -> o11,
    "q12_conn_components" -> o12,
    "q13_span_prf1" -> o13)
}
