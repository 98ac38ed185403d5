package graft.perfbench

import graft.core.{Dict, Mention, SourceFile}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input row is a pure function of the
  * seed, so the same seed gives byte-identical inputs and a different
  * seed changes the paths, the document order and the planted entities.
  *
  * The generators take their words and entities from the engine's
  * dictionary (`Dict.gazetteer`, `Dict.filler`, `Dict.orgHeads`) and
  * nothing else from the program, so edits to the program's own corpus
  * generators (`Corpus.synthesize`, `Bench.corpus`) cannot change what
  * the benchmark feeds it.
  */
object Inputs {

  /** A golden span planted by the synthetic generator. */
  final case class Gold(path: String, sentIdx: Int, start: Int, end: Int,
      tag: String)

  /** `n` input rows, row `i` computed by `rowOf` (a pure function, so
    * executors can build their share of rows themselves), plus the
    * golden spans planted in them. */
  final class Generated(val n: Int, rowOf: Int => SourceFile,
      val golden: Array[Gold]) extends Serializable {
    def row(i: Int): SourceFile = rowOf(i)
    def rows: Iterator[SourceFile] = Iterator.range(0, n).map(rowOf)

    /** sha256 over every row in order: equal for equal inputs, byte for
      * byte, and printed next to the seed. */
    lazy val digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach { f =>
        Seq(f.repo, f.path, f.commit, f.lang, f.content).foreach { s =>
          md.update(s.getBytes("UTF-8")); md.update(0.toByte)
        }
      }
      golden.foreach { g =>
        md.update(s"${g.path}\u0000${g.sentIdx}\u0000${g.start}\u0000${g.end}\u0000${g.tag}\n"
          .getBytes("UTF-8"))
      }
      hex(md.digest())
    }
    lazy val bytes: Long = rows.map(_.content.length.toLong).sum
  }

  private def hex(b: Array[Byte]): String = {
    val cs = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      cs(2 * i) = Character.forDigit((b(i) >> 4) & 0xf, 16)
      cs(2 * i + 1) = Character.forDigit(b(i) & 0xf, 16)
      i += 1
    }
    new String(cs)
  }

  private def sha40(s: String): String = hex(
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))).take(40)

  /** 32 seeded bits of `k` as hex (SplitMix64 finalizer). */
  private def salt(seed: Long, k: Long): String = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    java.lang.Long.toHexString((z ^ (z >>> 31)) & 0xffffffffL)
  }

  private def shuffle[A](rng: java.util.Random, xs: Array[A]): Unit = {
    var i = xs.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
  }

  // Measured on the sf0.1 `documents` table that `graft.Bench` reads
  // (5,000 rows, 1.49 M characters): every text is one line of 10 to 99
  // words, uniformly, drawn uniformly and independently from 30 words.
  // 22 of them are the words of the gazetteer's lowercase entries, the
  // other eight are below. 5% of the rows repeat another row's text with
  // " dup" appended (here always an earlier row). The language shares are
  // en 0.412, zh 0.151, es 0.149, fr 0.148 and de 0.140, and the source
  // is src0 to src19.
  private val entryWords: Vector[String] = Dict.gazetteer
    .filter(_._1.forall(t => t == t.toLowerCase(java.util.Locale.ROOT)))
    .flatMap(_._1).distinct
  private val docWords: Vector[String] = entryWords ++
    Vector("the", "a", "vector", "part", "order", "small", "slow", "filter")
  private val langs = Vector("en" -> 0.412, "zh" -> 0.151, "es" -> 0.149,
    "fr" -> 0.148, "de" -> 0.140)

  private def pickLang(u: Double): String = {
    var acc = 0.0
    langs.find { case (_, w) => acc += w; u < acc }.map(_._1).getOrElse("en")
  }

  /** `base` documents-shaped texts, each replicated `copies` times under
    * distinct seeded paths, in seeded order. Copies share their text, so
    * each copy costs the same decode work. */
  def documents(seed: Long, base: Int, copies: Int): Generated = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    val texts = new Array[String](base)
    val docs = Array.tabulate(base) { k =>
      texts(k) =
        if (k > 0 && rng.nextDouble() < 0.05) texts(rng.nextInt(k)) + " dup"
        else Array.fill(10 + rng.nextInt(90))(
          docWords(rng.nextInt(docWords.size))).mkString(" ")
      val repo = s"repo${math.sqrt(rng.nextInt(1024).toDouble).toInt}"
      (repo, s"src${k % 20}", pickLang(rng.nextDouble()), texts(k))
    }
    val order = Array.range(0, base * copies)
    shuffle(rng, order)
    new Generated(order.length, { i =>
      val k = order(i)
      val (repo, src, lang, text) = docs(k % base)
      val path = s"c${k / base}/doc/$src/${k % base}-${salt(seed, k)}.txt"
      SourceFile(repo, path, sha40(s"$seed/$path"), lang, text)
    }, Array.empty)
  }

  private val properEntries = Dict.gazetteer
    .filter(_._1.head.head.isUpper)
  private val orgEntries = properEntries.filter(_._2 == "ORG")
  private val orgHeads = Dict.orgHeads.toVector.sorted

  /** Entity-dense synthetic source files with golden spans. Most lines
    * plant one name, and half of a file's names repeat the file's topic
    * name. 15% of the names are perturbed: an organisation followed by
    * two to four organisation head words ("Red Cross University Union").
    * The decoder finds the whole name, but the longer ones score below
    * the linker's threshold, so the linker's NIL path runs. Half of the
    * perturbed names are drawn fresh; the other half come from a pool of
    * four, each of them more frequent than any dictionary name, so they
    * rank among the cross-document vote's top keys. */
  def synthetic(seed: Long, nFiles: Int): Generated = {
    val rng = new java.util.Random(seed * 0xC2B2AE3D27D4EB4FL + 29)
    def perturbed(): (Vector[String], String) = {
      val (o, t) = orgEntries(rng.nextInt(orgEntries.size))
      (o ++ Vector.fill(2 + rng.nextInt(3))(
        orgHeads(rng.nextInt(orgHeads.size))), t)
    }
    val pool = Vector.fill(4)(perturbed())
    def pick(): (Vector[String], String) = {
      val v = rng.nextDouble()
      if (v < 0.075) pool(rng.nextInt(pool.size))
      else if (v < 0.15) perturbed()
      else properEntries(rng.nextInt(properEntries.size))
    }
    val nRepos = math.max(4, nFiles / 20)
    val files = new Array[SourceFile](nFiles)
    val gold = Array.newBuilder[Gold]
    for (i <- 0 until nFiles) {
      val u = rng.nextDouble()
      val repoId = math.min(nRepos - 1, (nRepos * u * u * u * u).toInt)
      val path =
        f"src/m${rng.nextInt(13)}%02d/F$i%06d_${salt(seed, i)}.scala"
      val topic = pick()
      val sb = new StringBuilder
      val nLines = 1 + rng.nextInt(12)
      for (line <- 0 until nLines) {
        if (line > 0) sb.append('\n')
        val nWords = 3 + rng.nextInt(8)
        val at = if (rng.nextDouble() < 0.85) rng.nextInt(nWords) else -1
        for (w <- 0 until nWords) {
          if (w > 0) sb.append(' ')
          if (w == at) {
            val (toks, tag) = if (rng.nextDouble() < 0.5) topic else pick()
            val start = sb.length
            sb.append(toks.mkString(" "))
            gold += Gold(path, line, start, sb.length, tag)
          } else sb.append(Dict.filler(rng.nextInt(Dict.filler.size)))
        }
        sb.append(" .")
      }
      val repo = f"org${repoId % 97}%03d/repo$repoId%04d"
      files(i) = SourceFile(repo, path, sha40(s"$seed/$repo/$path"), "scala",
        sb.toString)
    }
    shuffle(rng, files)
    new Generated(nFiles, files(_), gold.result())
  }

  /** Decoder errors planted into decoded mentions. The engine's decoder
    * tags every dictionary match, always with the dictionary's label, and
    * gives a span text one tag in every context, so no input text makes
    * the post-process stages act. These errors do, and the post-process
    * chain must undo each of them, turning the planted mentions back into
    * `raw`:
    *  - 3% of dictionary-name mentions get another type, which
    *    `lookupFixup` restores;
    *  - a perturbed name seen four or more times in a file gets another
    *    type at its first occurrence, which `withinDocVote` restores;
    *  - perturbed names among the 20 most frequent keys (the
    *    cross-document vote's default top-K) get another type in files
    *    that hold the name once or twice, at up to a third of the name's
    *    mentions, which `crossDocVote` restores;
    *  - 3% of dictionary-name mentions are dropped, which
    *    `insertFromLookup` inserts again. Names that have another entry
    *    as a token prefix are never dropped: the prefix would be inserted
    *    instead.
    * Which mentions are hit is a function of the seed and the mention. */
  def withDecoderErrors(raw: Dataset[Mention], seed: Long)
      : Dataset[Mention] = {
    import raw.sparkSession.implicits._
    val keys = Dict.lookupTable.keys.toSeq
    val prefixed = keys.filter(k => keys.exists(p => k.startsWith(p + " ")))
    val doc = Window.partitionBy("repo", "path", "key")
    val marked = raw.toDF()
      .withColumn("key", lower(col("text")))
      .withColumn("dict", col("key").isin(keys: _*))
      .withColumn("u", pmod(xxhash64(lit(seed), col("repo"), col("path"),
        col("sentIdx"), col("start")), lit(1000L)))
      .withColumn("n", count(lit(1)).over(doc))
      .withColumn("rank",
        row_number().over(doc.orderBy("sentIdx", "start")))
    val kept = marked.filter(!(col("dict") && col("u") < 30 &&
      !col("key").isin(prefixed: _*)))
    val top = kept.groupBy("key").count()
      .orderBy(desc("count"), asc("key")).limit(20)
      .collect().map(_.getString(0)).toSeq
    val cross = !col("dict") && col("n") <= 2 && col("key").isin(top: _*)
    val byKey = Window.partitionBy("key")
    val flip =
      (col("dict") && col("u") >= 30 && col("u") < 60) ||
      (!col("dict") && col("n") >= 4 && col("rank") === 1) ||
      (cross && col("crossRank") <= (col("total") - 1) / 3)
    val other = Dict.entityTypes.indices.foldLeft(lit(Dict.entityTypes.head)) {
      (c, i) => when(col("tag") === Dict.entityTypes(i),
        Dict.entityTypes((i + 1) % Dict.entityTypes.size)).otherwise(c)
    }
    kept
      .withColumn("total", count(lit(1)).over(byKey))
      .withColumn("crossRank", row_number().over(byKey.orderBy(
        cross.desc, col("u"), col("repo"), col("path"), col("sentIdx"),
        col("start"))))
      .withColumn("tag", when(flip, other).otherwise(col("tag")))
      .select("repo", "path", "sentIdx", "start", "end", "text", "tag",
        "conf")
      .as[Mention]
  }
}

/** Determinism check of the generators, run by the self-test: the same
  * seed must give byte-identical inputs, and another seed other paths,
  * another document order and other planted entities. Prints one line
  * per check and exits non-zero if any fails. */
object InputCheck {
  def main(args: Array[String]): Unit = {
    val (a, b) = (args(0).toLong, args(1).toLong)
    def texts(g: Inputs.Generated) = g.rows.map(_.content).toSeq
    // generation index of each row, in input order (paths minus salt)
    def order(g: Inputs.Generated) = g.rows.map { f =>
      val seg = f.path.split('/')
      seg.head + "/" + seg.last.takeWhile(c => c != '-' && c != '_')
    }.toSeq
    def planted(g: Inputs.Generated) = g.golden.map { x =>
      val f = g.rows.find(_.path == x.path).get
      f.content.substring(x.start, x.end)
    }.toSeq.sorted
    val gens: Seq[(String, Long => Inputs.Generated)] = Seq(
      "documents" -> (s => Inputs.documents(s, 40, 2)),
      "synthetic" -> (s => Inputs.synthetic(s, 100)))
    val checks = gens.flatMap { case (name, gen) =>
      val (x, y, z) = (gen(a), gen(a), gen(b))
      Seq(
        s"$name same seed, same bytes" -> (x.digest == y.digest),
        s"$name other seed, other bytes" -> (x.digest != z.digest),
        s"$name other seed, other paths" ->
          (x.rows.map(_.path).toSet != z.rows.map(_.path).toSet),
        s"$name other seed, other order" ->
          (order(x) != order(z) && order(x).sorted != order(x)),
        s"$name other seed, other planted entities" -> (
          if (name == "synthetic") planted(x) != planted(z)
          else texts(x).sorted != texts(z).sorted))
    }
    checks.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
