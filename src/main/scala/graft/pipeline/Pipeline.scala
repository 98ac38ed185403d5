package graft.pipeline

import graft.core.{Mention, Sentence, SourceFile}
import graft.crf.Crf
import graft.io.TableIO
import graft.link.Linker
import graft.postprocess.PostProcess
import graft.segment.Segmenter
import graft.spans.Spans
import graft.triples.Triples
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** End-to-end KG construction (SURVEY.md §3.1 lifecycle, §7.2 modules):
  *
  *   corpus → segment → featurize → Viterbi → spans      (narrow, fused)
  *          → post-process (vote/fix-up/insert shuffles on doc/text key)
  *          → link (broadcast dict, narrow)
  *          → canonicalize + (subj, pred, obj) triples
  *            (subject is a column expression; two distincts)
  *
  * Scale notes: the decode stage is shuffle-free and embarrassingly
  * parallel; post-processing keys by (repo, path) — mega-repos are
  * salted by the natural (repo, path) composite so single files, not
  * repos, bound a task; checkpointing per stage via [[TableIO]] gives
  * resume + per-partition lineage (north rule).
  */
object Pipeline {

  /** Fully-fused decode: SourceFile → segment → featurize → Viterbi →
    * span-extract inside ONE mapPartitions closure. The modular
    * [[Segmenter]]/[[Crf]]/[[Spans]] stages compose as plain function
    * calls, so the heavyweight intermediates (token arrays + offsets)
    * never cross an encoder boundary — 3 ser/de roundtrips of the
    * biggest data removed vs chaining the typed Datasets. */
  def mentions(files: Dataset[SourceFile]): Dataset[Mention] = {
    val spark = files.sparkSession
    import spark.implicits._
    val bW = spark.sparkContext.broadcast(Crf.emissionWeights)
    val bT = spark.sparkContext.broadcast(Crf.transitions)
    val bGaz = spark.sparkContext.broadcast(graft.core.Dict.gazIndex)
    files.mapPartitions { it =>
      val w = bW.value; val tr = bT.value; val gaz = bGaz.value
      it.flatMap { f =>
        Segmenter.segment(f.content).iterator.flatMap {
          case (i, toks, ss, es) =>
            Spans.extract(Crf.decodeSentence(
              graft.core.Sentence(f.repo, f.path, i, toks, ss, es),
              w, tr, gaz))
        }
      }
    }
  }

  /** Language-routed decode — the reference's `test_1` is language-
    * generic (main.py:485-565 via `args.lang`; feature dispatch
    * utils/features.py:5-13), so the pipeline must be too. `eng`
    * routes to the default fused kernel above (bit-identical —
    * PipelineSpec pins it); any other language decodes with its
    * [[graft.features.LangFeatures]] per-language features, its
    * gazetteer (reference gaz.csv by default) and its
    * [[graft.crf.LangModel]] fitted model, in the same fully-fused
    * narrow mapPartitions shape (broadcast model + gaz, no shuffle). */
  def mentions(files: Dataset[SourceFile], lang: String,
      gaz: Option[graft.core.LangDict.Gaz] = None): Dataset[Mention] =
    if (lang == "eng" && gaz.isEmpty) mentions(files)
    else {
      val spark = files.sparkSession
      import spark.implicits._
      val g = gaz.getOrElse(graft.crf.LangModel.gazFor(lang))
      val model =
        if (gaz.isEmpty) graft.crf.LangModel.fitted(lang)
        else graft.crf.LangModel.fit(lang, g)
      val bM = spark.sparkContext.broadcast(model)
      val bG = spark.sparkContext.broadcast(g)
      files.mapPartitions { it =>
        val m = bM.value; val g0 = bG.value
        it.flatMap { f =>
          Segmenter.segment(f.content).iterator.flatMap {
            case (i, toks, ss, es) =>
              Spans.extract(graft.crf.LangModel.decodeSentence(
                graft.core.Sentence(f.repo, f.path, i, toks, ss, es),
                lang, g0, m))
          }
        }
      }
    }

  /** Post-process with the LANGUAGE's dictionary tables: eng keeps
    * [[graft.core.Dict]]'s lookup, any other language uses tables
    * derived from its reference gaz — fix-up and span back-fill must
    * never consult English entries on a non-eng corpus. */
  def postProcessed(files: Dataset[SourceFile],
      authors: Set[String] = Set.empty,
      lang: String = "eng"): Dataset[Mention] = {
    val sents = Segmenter.sentences(files)
    val ms = mentions(files, lang)
    if (lang == "eng") PostProcess(sents, ms, authors = authors)
    else {
      val g = graft.crf.LangModel.gazFor(lang)
      PostProcess(sents, ms, authors = authors,
        lookup = graft.crf.LangModel.lookupTable(g),
        lookupIndex = graft.crf.LangModel.lookupIndex(g))
    }
  }

  /** Terminal KG: link with the language's entity index (eng → the
    * engine dictionary / Qxxxxx ids; others → the reference gaz with
    * language-scoped ids) and materialize triples. */
  def triples(files: Dataset[SourceFile],
      authors: Set[String] = Set.empty,
      lang: String = "eng"): DataFrame = {
    val post = postProcessed(files, authors, lang)
    val linked =
      if (lang == "eng") Linker.link(post)
      else Linker.link(post,
        index = graft.crf.LangModel.linkIndex(
          graft.crf.LangModel.gazFor(lang)),
        kbId = graft.crf.LangModel.kbId(lang))
    Triples.materialize(linked)
  }

  /** Author set for [[PostProcess.lookupFixup]]'s DF-genre precedence
    * branch, from a directory of WL XML files (the reference's
    * extract_authors.py input). Whole-file read keeps exact per-file
    * line numbers for the scan's open/close running sums. The set is
    * collected and broadcast, mirroring the reference's in-memory
    * author dict — per-package sized (one LDC package's WL files); a
    * corpus whose author list itself outgrows a broadcast would switch
    * lookupFixup to a join on an authors table instead. */
  def authorsFromXmlDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): Set[String] = {
    val lines = spark.read.option("wholetext", "true").text(dir)
      .select(
        regexp_extract(input_file_name(), "[^/]+$", 0).as("fname"),
        posexplode(split(col("value"), "\n")))
      .select(col("fname"), col("pos").cast("long").as("lineno"),
        col("col").as("line"))
    graft.conll.Scans.authorXmlScan(lines)
      .collect().map(_.getString(0)).toSet
  }

  /** Checkpointed variant: every stage lands in `root/<stage>` with a
    * `_lineage.json` sidecar; a re-run with the same snapshot id
    * resumes from the last committed stage (north rule resumability).
    * Language-routed exactly like [[triples]]: non-eng corpora decode,
    * fix up and link against THEIR gaz-derived tables. */
  def triplesCheckpointed(files: Dataset[SourceFile], root: String,
      snapshot: String, lang: String = "eng"): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val sents = Segmenter.sentences(files)
    val rawM = TableIO.writeStage(mentions(files, lang).toDF(), root,
      "mentions_raw", snapshot).as[Mention]
    val postDs =
      if (lang == "eng") PostProcess(sents, rawM)
      else {
        val g = graft.crf.LangModel.gazFor(lang)
        PostProcess(sents, rawM,
          lookup = graft.crf.LangModel.lookupTable(g),
          lookupIndex = graft.crf.LangModel.lookupIndex(g))
      }
    val post = TableIO.writeStage(
      postDs.toDF(), root, "mentions_post", snapshot).as[Mention]
    val linkedDs =
      if (lang == "eng") Linker.link(post)
      else Linker.link(post,
        index = graft.crf.LangModel.linkIndex(
          graft.crf.LangModel.gazFor(lang)),
        kbId = graft.crf.LangModel.kbId(lang))
    val linked = TableIO.writeStage(
      linkedDs.toDF(), root, "mentions_linked", snapshot)
      .as[Linker.LinkedMention]
    // partitioned parquet moves the partition column to the end on
    // read-back; restore the canonical triple column order
    TableIO.writeStage(Triples.materialize(linked), root, "triples",
      snapshot, partitionCols = Seq("pred"))
      .select("subj", "pred", "obj")
  }

  /** Salt a skewed key: `repo` → `repo#<salt>` with `buckets` salts —
    * used before groupBys keyed only by repo when mega-repos dominate
    * (SURVEY.md §7.6.5). Exposed for stages that aggregate per repo. */
  def saltRepo(df: DataFrame, buckets: Int = 16): DataFrame =
    df.withColumn("repo_salted",
      concat(col("repo"), lit("#"),
        pmod(xxhash64(col("path")), lit(buckets)).cast("string")))
}
