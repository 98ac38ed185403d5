package graft.pipeline

import graft.core.{Mention, Sentence, SourceFile}
import graft.io.TableIO
import graft.link.Linker
import graft.postprocess.PostProcess
import graft.segment.Segmenter
import graft.spans.Spans
import graft.triples.Triples
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, GraftBridge}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** A row of [[Pipeline.triplesCheckpointed]]'s `mentions_doc` stage:
  * a [[graft.postprocess.Flagged]] row of the per-file pass (its `n` is
  * 1 there, so it is not kept) and `raw`, the tag the decode gave the
  * mention (null on an insertion). */
final case class DocMention(repo: String, path: String, sentIdx: Int,
    start: Int, end: Int, text: String, tag: String, conf: Double,
    inserted: Boolean, raw: String)

/** End-to-end KG construction (SURVEY.md §3.1 lifecycle, §7.2 modules),
  * stated once for every language:
  *
  *   corpus → per file: segment → featurize → Viterbi → spans
  *            → fix-up → within-doc vote → insertion
  *            [→ fold to one row per (text, tag, inserted), with its
  *               count n and no offsets: triples only]  (narrow, fused)
  *          → cross-doc vote (one exchange on (repo, path), read by the
  *            (key, tag) vote sum in a scalar subquery and the relabel)
  *          → link (broadcast dict, narrow)
  *          → canonicalize + (subj, pred, obj) triples
  *            (per task: a document-free triple once per key, mentionedIn
  *             per row; one distinct) — [[triples]] links and emits in
  *            one narrow pass
  *
  * What varies by language comes from one [[LangPack]]. Every action
  * runs the doc-local post-process stages inside the decode pass
  * ([[PostProcess.docKernel]]), so one input row is one document: two
  * rows with the same (repo, path) are not merged by the vote or the
  * insertion. [[triples]] reads no mention's offsets, so its per-file
  * pass folds each document's rows to its distinct keys
  * ([[PostProcess.docKeys]]): the exchange, the vote, the link and the
  * explode carry one row per (document, text, tag, inserted), without
  * offsets, instead of one per mention (docs-x64: half the rows and half
  * the exchange bytes). [[triplesCheckpointed]] runs the same per-file
  * pass unfolded, lands it as a [[TableIO]] checkpoint (resume +
  * per-partition lineage), `mentions_doc`, and runs the rest over
  * stored tables: `mentions_raw` (its decoded mentions),
  * `mentions_post` (the cross-doc vote over it, no exchange),
  * `mentions_linked`, `triples`.
  */
object Pipeline {

  /** Fully-fused decode: SourceFile → segment → featurize → Viterbi →
    * span-extract inside ONE mapPartitions closure over the language's
    * [[LangPack.decoder]] (broadcast model + gaz, no shuffle), so the
    * token arrays and offsets never cross an encoder boundary. */
  def mentions(files: Dataset[SourceFile],
      lang: String = "eng"): Dataset[Mention] = {
    import files.sparkSession.implicits._
    perFile(texts(files), LangPack(lang), () => (_, ms) => ms.iterator)
  }

  /** What the per-file pass reads of a file: (repo, path, content). The
    * other columns are never scanned or decoded. */
  private def texts(files: Dataset[SourceFile])
      : Dataset[(String, String, String)] = {
    import files.sparkSession.implicits._
    files.select(col("repo"), col("path"), col("content"))
      .as[(String, String, String)]
  }

  /** One mapPartitions pass: each file is segmented once and decoded,
    * and `kernel`'s per-file function (made once per partition) gets
    * its sentences and mentions. */
  private def perFile[T: Encoder](files: Dataset[(String, String, String)],
      pack: LangPack,
      kernel: () => (Seq[Sentence], Seq[Mention]) => Iterator[T])
      : Dataset[T] = {
    val decoder = pack.decoder(files.sparkSession.sparkContext)
    files.mapPartitions { it =>
      val decode = decoder()
      val post = kernel()
      it.flatMap { case (repo, path, content) =>
        val sents = Segmenter.segment(content).map {
          case (i, toks, ss, es) => Sentence(repo, path, i, toks, ss, es)
        }
        post(sents, sents.flatMap(s => Spans.extract(decode(s))))
      }
    }
  }

  /** Post-processed mentions from the fused pass: [[perFile]] with
    * [[PostProcess.docKernel]] over [[fusedInput]], then the
    * cross-doc vote. With `fold`, each document's rows are folded to
    * its (text, tag, inserted) keys ([[PostProcess.docKeys]]) inside the
    * pass: the rows are keys, not mentions. */
  private def fused(files: Dataset[SourceFile], pack: LangPack,
      authors: Set[String], fold: Boolean): Dataset[Mention] = {
    import files.sparkSession.implicits._
    val kernel = PostProcess.docKernel(files.sparkSession.sparkContext,
      authors, pack.lookup, pack.lookupIndex)
    PostProcess.crossDocVoteFlagged(perFile(fusedInput(texts(files)), pack,
      if (!fold) kernel
      else () => {
        val post = kernel()
        (sents, ms) => PostProcess.docKeys(post(sents, ms))
      }))
  }

  /** The fused pass's input. Under adaptive execution a cached scan
    * becomes a `TableCacheQueryStageExec`; Spark 4.1 never reuses one,
    * and its copies canonicalize apart, so the (repo, path) exchange
    * that both cross-vote branches read is built twice and the
    * per-file pass runs twice per action. A batch input whose RDD
    * builds without running a job ([[lazyRdd]]: a scan, a loaded
    * cache, narrow operators over them) is re-rooted at that RDD
    * ([[GraftBridge.reRoot]]): one leaf, one exchange, one pass per
    * action. Any other input keeps its leaf, because building its RDD
    * would run jobs at definition time; an uncached one with an
    * exchange, such as `Corpus.fromDocuments`, already decodes once. */
  private def fusedInput[T](files: Dataset[T]): Dataset[T] =
    if (files.isStreaming || !lazyRdd(files.queryExecution.executedPlan))
      files
    else GraftBridge.reRoot(files)

  /** True when building `p`'s RDD runs no job: `p` holds no exchange
    * or subquery, and every cache it reads is loaded or, outside
    * adaptive execution (which runs an unloaded cache as a query
    * stage), builds lazily itself. */
  private def lazyRdd(p: SparkPlan, adaptive: Boolean = false): Boolean =
    !p.exists {
      case a: AdaptiveSparkPlanExec => !lazyRdd(a.inputPlan, adaptive = true)
      case _: Exchange => true
      case s: InMemoryTableScanExec =>
        !s.relation.cacheBuilder.isCachedColumnBuffersLoaded &&
          (adaptive || !lazyRdd(s.relation.cachedPlan))
      case n => n.subqueries.nonEmpty
    }

  /** Post-processed mentions: the fused pass cut after post-process. */
  def postProcessed(files: Dataset[SourceFile],
      authors: Set[String] = Set.empty, lang: String = "eng")
      : Dataset[Mention] =
    fused(files, LangPack(lang), authors, fold = false)

  /** Terminal KG: (subj, pred, obj) triples, nothing materialised. */
  def triples(files: Dataset[SourceFile], authors: Set[String] = Set.empty,
      lang: String = "eng"): DataFrame = {
    val pack = LangPack(lang)
    Triples.ofMentions(fused(files, pack, authors, fold = true),
      index = pack.index, kbId = pack.kbId)
  }

  /** The same pipeline, each stage landing in `root/<stage>` with a
    * `_lineage.json` sidecar. Each file is decoded once: the per-file
    * pass ([[docPass]]) is written as `mentions_doc`, and every later
    * stage reads stored tables:
    *  - `mentions_raw`: its rows not inserted, with their decoded tag
    *    ([[mentions]]'s rows);
    *  - `mentions_post`: the cross-doc vote over it
    *    ([[PostProcess.crossVote]]; [[postProcessed]]'s rows). The
    *    stored table needs no (repo, path) exchange, so the vote's
    *    relabel, the link and the triples' emit run one task per
    *    written file;
    *  - `mentions_linked`, then `triples` (partitioned by `pred`).
    * Stages are chained lazily: a stage's input is read or built only
    * when the stage is not committed under `snapshot`, so a re-run with
    * the same snapshot id reads only the last committed stage it needs
    * (only `triples` when the run finished) and starts no job before
    * the caller's action. No `authors`: the snapshot id
    * ([[TableIO.snapshotId]]) hashes each row's (repo, path, commit,
    * sha256(content)) and nothing else, so an author set would resume
    * stale. */
  def triplesCheckpointed(files: Dataset[SourceFile], root: String,
      snapshot: String, lang: String = "eng"): DataFrame = {
    import files.sparkSession.implicits._
    lazy val pack = LangPack(lang)
    def keep(table: String, partitionCols: Seq[String] = Nil)(
        df: => DataFrame) =
      TableIO.writeStage(df, root, table, snapshot, partitionCols)
    def post = {
      val doc = keep("mentions_doc")(docPass(files, pack).toDF())
      keep("mentions_raw")(doc.filter(!col("inserted")).select(
        col("repo"), col("path"), col("sentIdx"), col("start"),
        col("end"), col("text"), col("raw").as("tag"), col("conf")))
      keep("mentions_post")(PostProcess.crossVote(doc).toDF())
    }
    def linked = keep("mentions_linked")(Linker.link(post.as[Mention],
      index = pack.index, kbId = pack.kbId).toDF())
    keep("triples", Seq("pred"))(
      Triples.materialize(linked.as[Linker.LinkedMention]))
      // partitioned parquet moves `pred` last on read-back
      .select("subj", "pred", "obj")
  }

  /** The checkpointed per-file pass: [[perFile]] with
    * [[PostProcess.docKernel]], each row with the tag its decode gave
    * it. The kernel returns the decoded mentions first, in decode order
    * (fix-up and the within-doc vote only relabel them), then the
    * insertions, so a row that is not inserted takes the next decoded
    * mention's tag. */
  private def docPass(files: Dataset[SourceFile], pack: LangPack)
      : Dataset[DocMention] = {
    import files.sparkSession.implicits._
    val kernel = PostProcess.docKernel(files.sparkSession.sparkContext,
      Set.empty, pack.lookup, pack.lookupIndex)
    perFile(texts(files), pack, () => {
      val post = kernel()
      (sents, ms) => {
        val decoded = ms.iterator
        post(sents, ms).map(f => DocMention(f.repo, f.path, f.sentIdx,
          f.start, f.end, f.text, f.tag, f.conf, f.inserted,
          if (f.inserted) null else decoded.next().tag))
      }
    })
  }

  /** Author set for [[PostProcess.lookupFixup]]'s DF-genre precedence
    * branch from a directory of WL XML files (extract_authors.py input).
    * Whole-file read keeps exact per-file line numbers for the scan. */
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
}
