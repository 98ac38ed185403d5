package graft

import graft.conll.ConllOps
import graft.core.{RefData, Sentence}
import graft.crf.{DecodeKernel, FitCrf, Model, TokenFeatures}
import graft.eval.SpanPRF1
import graft.features.Brown
import graft.io.ModelIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The reference's command-line surface (main.py `--mode train/test`
  * and the commands shell scripts), Spark-first: a spark-submit-able
  * entry point over
  * the library so a reference user can run their workflows unchanged
  * in shape. Modes:
  *
  * {{{
  * fit   --train <conll> --out <modelDir> [--k 0.1] [--min-count 2]
  *       [--rare-max 2] [--lambda 0]          closed-form fit (seconds)
  * train --out <modelDir> [--epochs 300] [--lr 1.0] [--l2 3e-5]
  *       [--clusters <C>]
  *       discriminative CrfTrainer.train over the in-tree eng data; with
  *       --clusters, OOV-gated rows of C Brown clusters of eng.train
  *       (the shipped models/eng.fitted: --clusters 256)
  * tag   [--model <modelDir>] --in <conll> --out <dir>
  *       decode + write `word NNP NP tag` prediction lines (main.py
  *       sink format); --model defaults to the shipped
  *       models/eng.fitted artifact
  * eval  [--model <modelDir>] --test <conll>  per-type + micro P/R/F1
  * kg    --corpus <sfDir with documents.parquet> --out <dir>
  *       [--authors <WL-xml dir>]   full KG pipeline → (subj, pred,
  *       obj) parquet; --authors feeds the DF-genre author→PER
  *       fix-up precedence (extract_authors.py input)
  * features --lang <amh|deu|eng|orm|som|tir> --in <one-sentence-per-
  *       line text> --out <dir> [--gaz [--gaz-csv <path>]]
  *       per-token segnerfts.extract parity rows (15-dim type/token,
  *       24-dim with --gaz's case-sensitive B/I/O match) → parquet
  * brown [--out models/eng.brown.tsv] [--clusters 256] [--passes 3]
  *       Brown clusters of eng.train as the 3-column TSV the
  *       reference's `--brown_cluster_path` reads (features.py:16-29)
  * }}}
  *
  * All modes read/write CoNLL text, TSV or parquet; MISC maps to the GPE
  * slot as everywhere (FitEval.tagIdOf).
  */
object Cli {

  private val modes =
    Seq("fit", "train", "tag", "eval", "kg", "features", "brown")
  private val usage = s"usage: Cli <${modes.mkString("|")}> ..."

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    // a following flag token is NOT a value: `tag --model --in x`
    // means --model is missing, not --model="--in"
    if (i >= 0 && i + 1 < args.length && !args(i + 1).startsWith("--"))
      Some(args(i + 1))
    else None
  }

  /** Required flag: usage error, not a bare NoSuchElementException. */
  private def req(args: Array[String], name: String): String =
    arg(args, name).getOrElse(
      sys.error(s"missing required flag $name <value>"))

  /** Decode a CoNLL file under a model over the eng features → tagged
    * token table (sentId, tokenIdx, word, tag). */
  def tagFile(spark: SparkSession, model: Model,
      path: String): DataFrame = {
    import spark.implicits._
    val sents = ConllOps.conllFileSentences(spark, path)
      .map(s => Sentence("cli", "in", s.sentId.toInt, s.words,
        Array.tabulate(s.words.length)(i => i),
        Array.tabulate(s.words.length)(i => i + 1)))
    DecodeKernel.tag(sents, DecodeKernel.decoder(TokenFeatures.eng, model))
      .flatMap(ts => ts.tokens.indices.map(i =>
        (ts.sentIdx.toLong, i, ts.tokens(i), ts.tags(i))))
      .toDF("sentId", "tokenIdx", "word", "tag")
  }

  /** Write tagged tokens as the reference's prediction-line format —
    * one text file of `word\tNNP\tNP\ttag` lines in sentence/token
    * order (main.py:75-82 sink). */
  def writePredictions(tagged: DataFrame, out: String): Unit =
    graft.conll.Scans.conllSinkLines(tagged)
      .select("line")
      .coalesce(1).write.mode("overwrite").text(out)

  /** Span P/R/F1 of a model on a gold CoNLL file: prints the
    * micro line and returns the per-type rows (same shape as
    * SpanPRF1.evaluate, ordered by tag) as a local frame. The rows are
    * collected once, so the micro line and a table printed from the
    * result decode the file once. */
  def evalModel(spark: SparkSession, model: Model,
      testPath: String): DataFrame = {
    val perType = FitEval.perTypeConll(spark, testPath,
      DecodeKernel.tag(_, DecodeKernel.decoder(TokenFeatures.eng, model)))
    val rows = spark.createDataFrame(
      perType.collect().sortBy(_.getString(0)).toSeq.asJava, perType.schema)
    val c = SpanPRF1.micro(rows)
    println(f"micro P=${c.precision}%.4f R=${c.recall}%.4f F1=${c.f1}%.4f")
    rows
  }

  /** The per-language `segnerfts.extract` surface over
    * one-sentence-per-line text (setE whitespace scan shape,
    * data_loader.py:293-303): 15-dim type/token rows, or 24-dim with
    * the case-sensitive gazetteer B/I/O features when `gaz` is given. */
  def featuresFrame(spark: SparkSession, lang: String, in: String,
      gaz: Option[graft.core.LangDict.Gaz] = None): DataFrame = {
    import spark.implicits._
    val bGaz = spark.sparkContext.broadcast(gaz)
    spark.read.textFile(in).rdd.zipWithIndex()
      .toDF("line", "sentId").as[(String, Long)]
      .flatMap { case (line, sid) =>
        val toks = line.trim.split("\\s+").filter(_.nonEmpty)
        val rows = bGaz.value match {
          case Some(g) =>
            graft.features.LangFeatures.extractWithGaz(lang, toks, g)
          case None => graft.features.LangFeatures.extract(lang, toks)
        }
        toks.indices.map(i => (sid, i, toks(i), rows(i)))
      }
      .toDF("sentId", "tokenIdx", "token", "features")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    require(modes.contains(args(0)), s"unknown mode: ${args(0)}; $usage")
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    run(spark, args)
    spark.stop()
  }

  /** One mode of [[main]] in a running session. */
  private[graft] def run(spark: SparkSession, args: Array[String]): Unit =
    args(0) match {
      case "fit" =>
        val trainPath = arg(args, "--train")
          .getOrElse(RefData.engTrain.existing)
        val out = req(args, "--out")
        val model = FitCrf.fit(FitEval.labeled(spark, trainPath),
          k = arg(args, "--k").map(_.toDouble).getOrElse(0.1),
          minCount = arg(args, "--min-count").map(_.toLong).getOrElse(2L),
          rareMax = arg(args, "--rare-max").map(_.toLong).getOrElse(2L),
          lambda = arg(args, "--lambda").map(_.toFloat).getOrElse(0f))
        ModelIO.save(spark, model, out)
        println(s"fitted model (vocab ${model.wordW.size}) -> $out")
      case "train" =>
        val out = req(args, "--out")
        val model = FitEval.trainFullModel(spark,
          epochs = arg(args, "--epochs").map(_.toInt).getOrElse(300),
          lr = arg(args, "--lr").map(_.toDouble).getOrElse(1.0),
          l2 = arg(args, "--l2").map(_.toDouble).getOrElse(3e-5),
          clusters = arg(args, "--clusters")
            .map(c => FitEval.engClusters(spark, c.toInt))
            .getOrElse(Map.empty))
        ModelIO.save(spark, model, out)
        println(s"trained model (vocab ${model.wordW.size}, clusters " +
          s"${model.clusterW.size}) -> $out")
      case "tag" =>
        // default = the shipped in-repo artifact, so the best trained
        // model serves without --model or retraining
        val model = ModelIO.load(spark,
          arg(args, "--model").getOrElse(ModelIO.defaultFittedPath))
        val out = req(args, "--out")
        writePredictions(tagFile(spark, model, req(args, "--in")),
          out)
        println(s"predictions -> $out")
      case "eval" =>
        val model = ModelIO.load(spark,
          arg(args, "--model").getOrElse(ModelIO.defaultFittedPath))
        evalModel(spark, model, req(args, "--test"))
          .show(20, truncate = false)
      case "kg" =>
        val corpus = req(args, "--corpus")
        val out = req(args, "--out")
        // decode language (reference test_1 is language-generic);
        // defaults to eng, which keeps the historical behavior
        val lang = arg(args, "--lang").getOrElse("eng")
        require(graft.core.LangDict.langs.contains(lang),
          s"unknown --lang $lang (expect one of " +
            graft.core.LangDict.langs.mkString("/") + ")")
        // optional WL-XML author dir → lookupFixup's DF-genre
        // author→PER precedence (extract_authors.py input)
        val authors = arg(args, "--authors")
          .map(graft.pipeline.Pipeline.authorsFromXmlDir(spark, _))
          .getOrElse(Set.empty[String])
        import spark.implicits._
        graft.pipeline.Pipeline.triples(
          graft.core.Corpus.fromDocuments(spark, corpus)
            .as[graft.core.SourceFile], authors, lang)
          .write.mode("overwrite").partitionBy("pred").parquet(out)
        println(s"triples($lang) -> $out")
      case "features" =>
        // required, not defaulted: a mistyped flag must fail loudly
        // instead of silently emitting English features (ADVICE r4)
        val lang = req(args, "--lang")
        require(graft.core.LangDict.langs.contains(lang),
          s"unknown --lang $lang (expect one of " +
            graft.core.LangDict.langs.mkString("/") + ")")
        val out = req(args, "--out")
        val gaz =
          if (args.contains("--gaz"))
            Some(graft.core.LangDict.loadGaz(
              graft.core.LangDict.gazCsvRows(arg(args, "--gaz-csv")
                .getOrElse(RefData.gaz.existing)))(lang))
          else None
        featuresFrame(spark, lang, req(args, "--in"), gaz)
          .write.mode("overwrite").parquet(out)
        println(s"features($lang${if (gaz.isDefined) "+gaz" else ""})" +
          s" -> $out")
      case "brown" =>
        import spark.implicits._
        val out = arg(args, "--out").getOrElse("models/eng.brown.tsv")
        val c = arg(args, "--clusters").map(_.toInt).getOrElse(256)
        val lines = Brown.cluster(
          ConllOps.conllFileSentences(spark, RefData.engTrain.existing)
            .map(_.words),
          numClusters = c,
          passes = arg(args, "--passes").map(_.toInt).getOrElse(3))
          .orderBy(desc("freq"), col("word")).collect()
          .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}")
        val p = java.nio.file.Paths.get(out)
        if (p.getParent != null)
          java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          lines.mkString("", "\n", "\n").getBytes("UTF-8"))
        println(s"brown: ${lines.length} words in $c clusters -> $out")
    }
}
