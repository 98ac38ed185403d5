package graft.postprocess

import graft.core.{Dict, Mention, Sentence}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's post-processing stage as pure dataflow
  * (post_process.py:83-414; SURVEY.md §2.5, §7.6).
  *
  * Order of stages matches the reference pipeline: lookup fix-up →
  * within-doc majority-vote relabel → cross-doc top-K vote
  * relabel/delete → dictionary-driven span insertion with greedy
  * overlap suppression. Deterministic replacements for the reference's
  * order-sensitive bits are pinned:
  *  - vote ties broken by (count desc, tag asc) — the reference's
  *    first-seen-wins `>` scan (post_process.py:253-261) is
  *    dict-order-dependent;
  *  - top-K n-gram ties broken by (count desc, ngram asc)
  *    (post_process.py:294 relies on Python sort stability);
  *  - greedy insertion runs per doc in (sentIdx, start, end, text)
  *    order inside a cogroup (the reference mutates its span list in
  *    file order, post_process.py:176-193);
  *  - the mutation-during-iteration skip bug at post_process.py:327-334
  *    is NOT copied: all matches are relabeled/deleted (intended
  *    semantics, SURVEY.md §7.6.3).
  */
/** Candidate span for dictionary-driven insertion. Public: Spark's
  * generated code calls the accessors directly, so the encoder class
  * cannot be private. */
final case class Cand(sIdx: Int, s0: Int, e0: Int, text: String, tag: String)

object PostProcess {

  /** Stage 1: lookup-table fix-up with the reference's full precedence
    * (post_process.py:117-122, 139-157): for DF-genre docs a span found
    * in the author list relabels to PER BEFORE the general lookup table
    * is consulted; otherwise lookup > predicted. Genre is derived from
    * the doc id exactly as the reference does (`doc_id.split('_')[1]`,
    * post_process.py:146) — our doc id is the mention's `path`; paths
    * without a second '_' field carry no genre and skip the author
    * branch. Authors match on exact surface (the reference's
    * `span in author_lookup` — WL XML author values, extract_authors.py
    * :6-26); the lookup table stays canonicalized-lowercase as
    * established. Both tables are corpus-size-independent broadcasts;
    * the stage is narrow. */
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
      it.map { m =>
        val genre = {
          val f = m.path.split('_')
          if (f.length > 1) f(1) else ""
        }
        val fixed =
          if (genre == "DF" && auth.contains(m.text)) Some("PER")
          else lookup.get(m.text.toLowerCase(java.util.Locale.ROOT))
        fixed match {
          case Some(tag) if tag != m.tag => m.copy(tag = tag)
          case _ => m
        }
      }
    }
  }

  /** Stage 2: within-document majority vote (post_process.py:245-261 +
    * relabel): for every (doc, span text) occurring with >1 distinct
    * tag, relabel all occurrences to the majority tag when the winning
    * count > confNum; ties (count desc, tag asc) — the reference's
    * first-seen `>` scan is dict-order-dependent, ours is pinned.
    *
    * Pure window form: per-(doc, key, tag) counts, then the winner per
    * (doc, key) by (count desc, tag asc). The input is consumed ONCE —
    * no self-join, no materialization barrier — so the stage is two
    * keyed exchanges of the mention stream and nothing else (the old
    * agg + relabel-join shape needed a localCheckpoint to avoid
    * recomputing the whole decode per consumer). */
  def withinDocVote(mentions: Dataset[Mention], confNum: Int = 2)
      : Dataset[Mention] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    // ONE exchange for the whole stage: the per-(doc, key, tag) count
    // is a peers-frame count (RANGE CURRENT ROW..CURRENT ROW over
    // ORDER BY tag groups equal tags) on the SAME (doc, key)
    // partitioning the winner windows need — partitioning by
    // (doc, key, tag) for the count would force a second exchange.
    // The key is materialized ONCE ("vkey"): inline lower(text) would
    // be re-derived as a fresh _w attribute per window layer, and the
    // partitionings would no longer line up.
    val wKey =
      Window.partitionBy(col("repo"), col("path"), col("vkey"))
    val wPeers = wKey.orderBy(col("tag"))
      .rangeBetween(Window.currentRow, Window.currentRow)
    val wBest = wKey.orderBy(desc("n"), asc("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    mentions.toDF()
      .withColumn("vkey", lower(col("text")))
      .withColumn("n", count(lit(1)).over(wPeers))
      .withColumn("bestTag", first(col("tag")).over(wBest))
      .withColumn("bestN", max(col("n")).over(wKey))
      .select(col("repo"), col("path"), col("sentIdx"), col("start"),
        col("end"), col("text"),
        when(col("bestN") > confNum, col("bestTag"))
          .otherwise(col("tag")).as("tag"),
        col("conf"))
      .as[Mention]
  }

  /** Stage 3: cross-document vote over the top-K most frequent span
    * texts (post_process.py:294-335): majority tag computed over ALL
    * docs; matching mentions relabeled (intended semantics — no
    * skip-next bug).
    *
    * Counts-only shape: the mention stream feeds ONE narrow aggregate
    * — per-(key, tag) counts — and everything the vote needs (per-key
    * frequency for top-K membership, per-key winner) derives from that
    * frame; the vote dictionary is broadcast back onto the ORIGINAL
    * stream. The full stream is never materialized (round 3's
    * localCheckpoint is gone): the aggregate branch and the output
    * branch reference the identical upstream subplan, so within one
    * action the upstream exchange is computed once and re-read
    * (ReusedExchange — PlanSpec asserts no checkpoint scan survives in
    * the plan). At 100 TB the only stream-sized cost is that single
    * (key, tag) map-side-combined aggregate. */
  def crossDocVote(mentions: Dataset[Mention], topK: Int = 20)
      : Dataset[Mention] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    // typed identity barrier: column pruning cannot cross the object
    // boundary, so BOTH branches keep the identical full-width subtree
    // below it — without this, the aggregate branch prunes to
    // (text, tag) under the upstream exchange, the subtrees stop being
    // sameResult, and the whole decode chain runs twice instead of the
    // exchange being reused (measured: headline 4.57 s vs 4.17 s at
    // rep 8)
    val df = mentions.map(identity).toDF()
      .withColumn("key", lower(col("text")))
    val agg = df.groupBy("key", "tag").agg(count(lit(1)).as("n"))
    // winner per key by (n desc, tag asc); top-K keys by total
    // frequency (freq desc, key asc) — both windows share the one
    // materialized-key exchange of the tiny counts frame
    val winners = agg
      .withColumn("freq", sum(col("n")).over(Window.partitionBy("key")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("key").orderBy(desc("n"), asc("tag"))))
      .filter(col("rk") === 1)
      .orderBy(desc("freq"), asc("key")).limit(topK)
      .select(col("key"), col("tag").as("voteTag"))
    df.join(broadcast(winners), Seq("key"), "left")
      .select(col("repo"), col("path"), col("sentIdx"), col("start"),
        col("end"), col("text"),
        coalesce(col("voteTag"), col("tag")).as("tag"), col("conf"))
      .as[Mention]
  }


  /** Stage 4: dictionary-driven span insertion
    * (post_process.py:176-193, 214-233): every doc n-gram (n ≤ 5)
    * whose lowercased text is in the lookup table becomes a new
    * mention unless it overlaps an already-predicted or
    * already-inserted span — greedy, per doc, in canonical
    * (sentIdx, start, end, text) order (SURVEY.md §7.6.1). Overlap =
    * s1 < e2 && s2 < e1 on [start, end) offsets (reference predicate
    * `not (e1 < s2 or e2 < s1)` on inclusive ends,
    * post_process.py:124-134). Cogroup shuffles both sides by doc key
    * once; the greedy scan is per-doc local. */
  def insertFromLookup(sentences: Dataset[Sentence],
      mentions: Dataset[Mention], maxN: Int = 5,
      lookupIndex: Map[String, Vector[(Vector[String], String)]] =
        Dict.lookupIndex): Dataset[Mention] = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val bIdx = spark.sparkContext.broadcast(lookupIndex)
    val cands = sentences.flatMap { s =>
      // first-token-indexed probe: a position whose token starts no
      // dictionary entry costs one map lookup and ZERO allocations.
      // (The naive per-position n-gram enumeration builds maxN strings
      // per token — allocation-bound: profiled as the pipeline's top
      // CPU sink at 32 threads.)
      val idx = bIdx.value
      val lower = s.tokens.map(_.toLowerCase(java.util.Locale.ROOT))
      val out = Vector.newBuilder[(String, String, Cand)]
      var i = 0
      while (i < lower.length) {
        idx.get(lower(i)).foreach { entries =>
          entries.foreach { case (toks, tag) =>
            val n = toks.length
            if (n <= maxN && i + n <= lower.length) {
              var k = 1
              var ok = true
              while (ok && k < n) { ok = lower(i + k) == toks(k); k += 1 }
              if (ok)
                out += ((s.repo, s.path, Cand(s.sentIdx, s.starts(i),
                  s.ends(i + n - 1),
                  s.tokens.slice(i, i + n).mkString(" "), tag): Cand))
            }
          }
        }
        i += 1
      }
      out.result()
    }
    val byDocCands = cands.groupByKey { case (r, p, _) => (r, p) }
    val byDocMentions = mentions.groupByKey(m => (m.repo, m.path))
    byDocCands.cogroup(byDocMentions) { case ((repo, path), cs, ms) =>
      val existing = ms.toVector
      val accepted = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
      existing.foreach(m => accepted += ((m.sentIdx, m.start, m.end)))
      val inserted = Vector.newBuilder[Mention]
      cs.map(_._3).toVector
        .sortBy(c => (c.sIdx, c.s0, c.e0, c.text))
        .foreach { c =>
          val overlaps = accepted.exists { case (si, s0, e0) =>
            si == c.sIdx && c.s0 < e0 && s0 < c.e0
          }
          if (!overlaps) {
            accepted += ((c.sIdx, c.s0, c.e0))
            inserted += Mention(repo, path, c.sIdx, c.s0, c.e0,
              c.text, c.tag, 1.0)
          }
        }
      existing ++ inserted.result()
    }
  }

  /** Full reference post-processing chain (main.py:357-376 order).
    * `lookup`/`lookupIndex` default to the eng dictionary; the
    * pipeline passes its [[graft.pipeline.LangPack]]'s tables
    * ([[graft.crf.LangModel.lookupTable]]/`lookupIndex`) so a non-eng
    * corpus is never fixed up or back-filled against English entries
    * (the reference builds its lookup per language from setE data). */
  def apply(sentences: Dataset[Sentence], mentions: Dataset[Mention],
      confNum: Int = 2, topK: Int = 20,
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
