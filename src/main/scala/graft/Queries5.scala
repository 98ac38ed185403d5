package graft

import graft.conll.Scans
import graft.core.{Corpus, SourceFile}
import graft.crf.{Crf, Ensemble, Model}
import graft.segment.Segmenter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fifth batch: remaining reference scans, skew-safe aggregation,
  * gold-span semi-join, singleton sets, ensemble decode. */
object Queries5 {

  // ---- setE.conll TSV scan (inline fixture) --------------------------

  private val setELines: Seq[String] = Seq(
    "Obama\tNNP\tNP\tIL5_SN_001\t_\t_\t0\t5\t_\tO",
    "visited\tVBD\tVP\tIL5_SN_001\t_\t_\t6\t13\t_\tO",
    "Nairobi\tNNP\tNP\tIL5_SN_001\t_\t_\t14\t21\t_\tO",
    "Trade\tNNP\tNP\tIL5_DF_002\t_\t_\t0\t5\t_\tO",
    "talks\tNNS\tNP\tIL5_DF_002\t_\t_\t6\t11\t_\tO",
    "in\tIN\tPP\tIL5_WL_003\t_\t_\t0\t2\t_\tO",
    "Asmara\tNNP\tNP\tIL5_WL_003\t_\t_\t3\t9\t_\tO")

  private def q37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Scans.setEConllScan(setELines.toDF("line"))
      .orderBy("doc", "start")
  }

  private def o37: String = {
    val vals = setELines.map(l => s"('${l.replace("\t", "\\t")}')")
      .mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
       |parsed AS (
       |  SELECT string_split(replace(line, '\\t', chr(9)), chr(9)) AS f
       |  FROM raw)
       |SELECT f[1] AS word, f[4] AS doc,
       |  string_split(f[4], '_')[2] AS genre,
       |  CAST(f[7] AS INT) AS start, CAST(f[8] AS INT) AS "end"
       |FROM parsed ORDER BY doc, start""".stripMargin
  }

  // ---- gazetteer CSV semantics (inline fixture) ----------------------

  private val gazRows: Seq[(String, String)] = Seq(
    ("Addis Ababa;Finfinne", "GPE"),
    ("Oromia", ""),            // single-token unlabeled → GPE default
    ("Blue Nile; Abbay", "LOC"),
    ("Red Cross", "ORG"),
    ("Grand Hotel", ""))       // multi-token unlabeled → dropped

  private def q38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Scans.gazetteerScan(gazRows.toDF("english", "label"))
      .orderBy("variant", "label")
  }

  private def o38: String = {
    val vals = gazRows.map { case (e, l) => s"('$e', '$l')" }
      .mkString(", ")
    s"""WITH raw(english, label) AS (VALUES $vals),
       |exploded AS (
       |  SELECT trim(unnest(string_split(english, ';'))) AS variant, label
       |  FROM raw)
       |SELECT variant,
       |  CASE WHEN label IS NULL OR label = '' THEN
       |    CASE WHEN len(string_split_regex(trim(variant), '\\s+')) = 1
       |      THEN 'GPE' ELSE NULL END
       |  ELSE label END AS label
       |FROM exploded
       |WHERE variant <> '' AND (CASE WHEN label IS NULL OR label = ''
       |  THEN CASE WHEN len(string_split_regex(trim(variant), '\\s+')) = 1
       |    THEN 'GPE' ELSE NULL END ELSE label END) IS NOT NULL
       |ORDER BY variant, label""".stripMargin
  }

  // ---- lookup-table ambiguity removal --------------------------------

  private val lookupRows: Seq[(String, String)] = Seq(
    ("Kenya", "GPE"), ("Kenya", "GPE"), ("Nairobi", "GPE"),
    ("Mount Kenya", "LOC"), ("Victoria", "GPE"), ("Victoria", "PER"))

  private def q39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Scans.lookupTableScan(lookupRows.toDF("span", "label"))
      .orderBy("span")
  }

  private def o39: String = {
    val vals = lookupRows.map { case (a, b) => s"('$a', '$b')" }
      .mkString(", ")
    s"""WITH raw(span, label) AS (VALUES $vals)
       |SELECT lower(span) AS span, min(label) AS label
       |FROM raw GROUP BY lower(span)
       |HAVING count(DISTINCT label) = 1
       |ORDER BY span""".stripMargin
  }

  // ---- CoNLL prediction sink ------------------------------------------

  private def q40(s: SparkSession, dir: String): DataFrame = {
    import graft.conll.ConllOps
    val toks = ConllOps.conllScan(ConllOps.conllFixture(s))
    Scans.conllSinkLines(toks)
  }

  private def o40: String = {
    val vals = graft.conll.ConllFixture.lines.zipWithIndex
      .map { case (l, i) => s"($i, '${l.replace("'", "''")}')" }
      .mkString(", ")
    s"""WITH raw(lineno, line) AS (VALUES $vals),
       |scan AS (
       |  SELECT sentId,
       |    row_number() OVER (PARTITION BY sentId ORDER BY lineno) - 1
       |      AS tokenIdx,
       |    f[1] AS word, f[-1] AS tag
       |  FROM (
       |    SELECT lineno, string_split_regex(trim(line), '\\s+') AS f,
       |      CAST(sum(CASE WHEN trim(line) = '' THEN 1 ELSE 0 END)
       |        OVER (ORDER BY lineno ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |        AS sentId,
       |      trim(line) = '' AS isBlank
       |    FROM raw)
       |  WHERE NOT isBlank)
       |SELECT sentId, tokenIdx,
       |  word || chr(9) || 'NNP' || chr(9) || 'NP' || chr(9) || tag AS line
       |FROM scan ORDER BY sentId, tokenIdx""".stripMargin
  }

  // ---- skew-safe per-repo aggregation ---------------------------------

  /** Salted two-phase repo counts over the documents-derived corpus —
    * identical result to a direct GROUP BY (the oracle IS the direct
    * form), but no single task ever holds a whole mega-repo. */
  private def q41(s: SparkSession, dir: String): DataFrame =
    Scans.saltedRepoCounts(Corpus.fromDocuments(s, dir))
      .orderBy("repo")

  private val o41 =
    """SELECT 'repo' || CAST(CAST(floor(sqrt((doc_id * 2654435761)
      |    % 1024)) AS BIGINT) AS VARCHAR) AS repo,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM documents GROUP BY 1 ORDER BY repo""".stripMargin

  // ---- gold-span membership (left-semi join) ---------------------------

  /** Predicted positions semi-joined to a gold set
    * (post_process.py:152's `(doc,s,e) in gold_spans`): per doc, how
    * many 'spark'/'customer' positions are also 'spark' positions
    * (gold = the spark subset). */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val toks = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("idx", "word")))
    val pred = toks.filter(col("word").isin("spark", "customer"))
      .select(col("doc_id"), col("idx"))
    val gold = toks.filter(col("word") === "spark")
      .select(col("doc_id"), col("idx"))
    pred.join(gold, Seq("doc_id", "idx"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_gold_hits"))
      .orderBy("doc_id")
  }

  private val o42 =
    """WITH toks AS (
      |  SELECT doc_id, i - 1 AS idx, w[i] AS word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
      |pred AS (SELECT doc_id, idx FROM toks
      |         WHERE word IN ('spark', 'customer')),
      |gold AS (SELECT doc_id, idx FROM toks WHERE word = 'spark')
      |SELECT doc_id, count(*) AS n_gold_hits
      |FROM pred WHERE EXISTS (SELECT 1 FROM gold g
      |  WHERE g.doc_id = pred.doc_id AND g.idx = pred.idx)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- singleton set (data_loader.py:114-129) --------------------------

  private def q43(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(explode(expr(
        "transform(sequence(0, greatest(size(w)-2, -1)), " +
          "i -> concat(w[i], ' ', w[i+1]))")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === 1)
      .select("bigram").orderBy("bigram")

  private val o43 =
    """SELECT bigram FROM (
      |  SELECT w[i] || ' ' || w[i+1] AS bigram
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents),
      |       LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
      |GROUP BY bigram HAVING count(*) = 1 ORDER BY bigram""".stripMargin

  // ---- ensemble decode (rows-only: sequential DP) ----------------------

  /** 3-model ensemble (two perturbed copies + the base): averaged
    * weights then Viterbi (decoders.py:202-238). */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Model.weights(Crf.emissionWeights, Crf.transitions)
    def perturb(scale: Float) = Model.weights(
      Crf.emissionWeights.map(_.map(_ * scale)),
      Crf.transitions.map(_.map(v =>
        if (v == Crf.WALL) v else v * scale)))
    val sents = Segmenter.sentences(
      Corpus.fromDocuments(s, dir).as[SourceFile])
    Ensemble.ensembleTag(sents, Seq(base, perturb(0.9f), perturb(1.1f)))
      .flatMap(graft.spans.Spans.extract).toDF()
      .orderBy("repo", "path", "sentIdx", "start")
  }

  // ---- embedding-cosine near-dup + IVF ANN -----------------------------

  private def q45(s: SparkSession, dir: String): DataFrame =
    graft.vectors.VectorOps.cosineNearDupOnUnits(
      Queries3.unitV(s, dir), 0.4)
      .orderBy("id_a", "id_b")

  private val o45 =
    """WITH u AS (
      |  SELECT vec_id, list_transform(generate_series(1, len(embedding)),
      |    i -> embedding[i]::DOUBLE / sqrt(list_reduce(
      |      list_prepend(0.0::DOUBLE,
      |        list_transform(generate_series(1, len(embedding)),
      |          j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE)),
      |      (a, x) -> a + x))) AS unit
      |  FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(generate_series(1, len(a.unit)),
      |      i -> a.unit[i] * b.unit[i])), (x, y) -> x + y), 4) AS cos
      |FROM u a JOIN u b ON a.vec_id < b.vec_id
      |WHERE round(list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(generate_series(1, len(a.unit)),
      |      i -> a.unit[i] * b.unit[i])), (x, y) -> x + y), 4) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  /** IVF ANN — rows-only (parity vs brute force asserted in
    * VectorOpsSpec for shared-cell neighbors). */
  private def q46(s: SparkSession, dir: String): DataFrame =
    graft.vectors.VectorOps.ivfNeighborsOnUnits(
      s.read.parquet(s"$dir/embeddings.parquet"),
      Queries3.unitV(s, dir))
      .orderBy("id_a", "rk")

  /** Oracle for IVF ANN — possible since the coarse quantizer rounds
    * centroids to 6 dp (cell assignment becomes a pure function of
    * quantized values; dots fold in index order on both engines;
    * argmax ties break to the lowest cell id = the kernel's strict->
    * scan). */
  private def o46: String =
    """WITH u AS (
      |  SELECT vec_id, list_transform(generate_series(1, len(embedding)),
      |    i -> embedding[i]::DOUBLE / sqrt(list_reduce(
      |      list_prepend(0.0::DOUBLE,
      |        list_transform(generate_series(1, len(embedding)),
      |          j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE)),
      |      (a, x) -> a + x))) AS unit
      |  FROM embeddings),
      |cent AS (
      |  SELECT label, i - 1 AS dim, round(avg(embedding[i]::DOUBLE), 6)
      |    AS cv
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding)))
      |      AS i)
      |  GROUP BY label, i),
      |cvec AS (
      |  SELECT label, list(cv ORDER BY dim) AS c FROM cent
      |  GROUP BY label),
      |scores AS (
      |  SELECT u.vec_id, u.unit, cvec.label,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(generate_series(1, len(u.unit)),
      |        i -> u.unit[i] * cvec.c[i])), (a, x) -> a + x) AS d
      |  FROM u CROSS JOIN cvec),
      |cells AS (
      |  SELECT vec_id, unit, label AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY d DESC, label ASC) AS rkc
      |    FROM scores) WHERE rkc = 1),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(generate_series(1, len(a.unit)),
      |        i -> a.unit[i] * b.unit[i])), (x, y) -> x + y), 4) AS cos
      |  FROM cells a JOIN cells b
      |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id_a
      |    ORDER BY cos DESC, id_b ASC) AS rk
      |  FROM pairs)
      |SELECT id_a, id_b, cos, rk FROM ranked WHERE rk <= 5
      |ORDER BY id_a, rk""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q45_cosine_neardup" -> (q45 _),
    "q46_ivf_ann" -> (q46 _),
    "q37_setE_scan" -> (q37 _),
    "q38_gazetteer_scan" -> (q38 _),
    "q39_lookup_ambiguity" -> (q39 _),
    "q40_conll_sink" -> (q40 _),
    "q41_salted_repo_counts" -> (q41 _),
    "q42_gold_semi_join" -> (q42 _),
    "q43_singleton_bigrams" -> (q43 _),
    "q44_ensemble_viterbi" -> (q44 _))

  val oracles: Map[String, String] = Map(
    "q45_cosine_neardup" -> o45,
    "q46_ivf_ann" -> o46,
    "q37_setE_scan" -> o37,
    "q38_gazetteer_scan" -> o38,
    "q39_lookup_ambiguity" -> o39,
    "q40_conll_sink" -> o40,
    "q41_salted_repo_counts" -> o41,
    "q42_gold_semi_join" -> o42,
    "q43_singleton_bigrams" -> o43)
}
