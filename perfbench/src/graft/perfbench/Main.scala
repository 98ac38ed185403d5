package graft.perfbench

import graft.core.{Mention, SourceFile}
import graft.io.TableIO
import graft.link.Linker
import graft.link.Linker.LinkedMention
import graft.pipeline.Pipeline
import graft.postprocess.PostProcess
import graft.segment.Segmenter
import graft.triples.Triples
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The benchmark's JVM side. It builds one local Spark session, sets
  * up the workload's inputs, runs the workload until the measuring time
  * is up, checks every output, and prints one result line prefixed with
  * [[Main.ResultTag]]; `run.py` turns that line into the final result.
  *
  * Untraced runs call the pipeline's entry points exactly as a user
  * would. Traced runs call each layer's public function in turn on a
  * materialized input, with a [[LayerListener]] attached.
  */
object Main {
  val ResultTag = "PERFBENCH-RESULT "

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, fixture: Boolean, inject: String,
      expect: Option[String], work: String, cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("size").contains("fixture"),
      m.getOrElse("inject", "none"), m.get("expect"), need("work"),
      need("cores").toInt)
  }

  /** Order-independent digest of a triple multiset, plus the count of
    * rows that break the triple schema. */
  final case class Digest(rows: Long, hash: String, bad: Long)

  private val preds = Seq("hasType", "label", "sameAs", "mentionedIn")

  def digest(df: DataFrame): Digest = {
    val key = concat_ws("\u0001", col("subj"), col("pred"),
      coalesce(col("obj"), lit("\u0000")))
    val bad = col("subj").isNull || !col("pred").isin(preds: _*) ||
      col("obj").isNull ||
      (col("pred") === "hasType" &&
        !col("obj").isin(graft.core.Dict.entityTypes: _*))
    val r = df.agg(count(lit(1)),
      sum(xxhash64(key).cast("decimal(38,0)")),
      sum(hash(key).cast("decimal(38,0)")),
      sum(when(bad, 1L).otherwise(0L))).collect()(0)
    def low64(i: Int) =
      if (r.isNullAt(i)) "0"
      else r.getDecimal(i).toBigInteger.and(
        java.math.BigInteger.ONE.shiftLeft(64).subtract(
          java.math.BigInteger.ONE)).toString(16)
    Digest(r.getLong(0), s"${low64(1)}-${low64(2)}",
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  /** Replaces one output triple by a corrupted copy (self-test only). */
  def corruptOne(t: DataFrame): DataFrame = {
    val one = t.orderBy("subj", "pred", "obj").limit(1)
    t.exceptAll(one).unionByName(one.withColumn("obj",
      concat(coalesce(col("obj"), lit("")), lit("~corrupted"))))
  }

  def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile). Below eleven samples no percentile has ten
    * beyond it; the maximum is reported then, with percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n < 11) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }

  /** A workload's input as the program sees it: a cached Dataset. */
  final case class Input(gen: Inputs.Generated, files: Dataset[SourceFile])

  def generate(o: Opts, seed: Long, fixture: Boolean): Inputs.Generated =
    (o.workload, fixture) match {
      case ("docs-x8", false) => Inputs.documents(seed, 5000, 8)
      case ("docs-x64", false) => Inputs.documents(seed, 5000, 64)
      case ("docs-x8" | "docs-x64", true) => Inputs.documents(seed, 40, 2)
      case ("synth-ckpt", false) => Inputs.synthetic(seed, 10000)
      case ("synth-ckpt", true) => Inputs.synthetic(seed, 100)
      case (w, _) => throw new IllegalArgumentException(s"unknown workload $w")
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val bench = new Bench(spark, o, listener)
    try {
      val session = secs(t0)
      val result = bench.run(
        bootS = (System.currentTimeMillis() - jvmStart) / 1000.0 -
          secs(t0), sessionS = session)
      println(ResultTag + Json(result))
    } finally spark.stop()
  }
}

final class Bench(spark: SparkSession, o: Main.Opts, listener: LayerListener) {
  import Main._
  import spark.implicits._

  private val sc = spark.sparkContext
  private val checkpointed = o.workload == "synth-ckpt"
  private val root = java.nio.file.Paths.get(o.work, "ckpt")
  private var keep = Set.empty[Int]
  private val failures = mutable.ArrayBuffer.empty[String]
  // A resume is mostly driver-side planning, whose compiled code keeps
  // improving for about ten resumes; timed on that slope, resume_s swung
  // by a third with the host's CPU steal. So the warm-up resumes the
  // fixture WarmResumes times (planning costs the same at any size),
  // an operation resumes once untimed (the first full-size read-back is
  // still slow), and resume_s is the median of Resumes timed resumes.
  private val WarmResumes = 10
  private val UntimedResumes = 1
  private val Resumes = 5

  private def load(gen: Inputs.Generated): Input = {
    val files = spark.range(0, gen.n, 1, o.cores).as[Long]
      .mapPartitions(_.map(i => gen.row(i.toInt))).persist()
    files.count()
    keep = sc.getPersistentRDDs.keySet.toSet
    Input(gen, files)
  }

  /** Drops every cached block except the input's, so each iteration
    * starts from the same block store. */
  private def scrub(): Unit = {
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
    System.gc()
  }

  private def fail(what: String, e: Throwable): Unit = {
    failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      .take(400)
    System.err.println(s"[perfbench] $what failed: $e")
  }

  private var reference: Option[Digest] = o.expect.map { s =>
    val Array(rows, h) = s.split(":", 2)
    Digest(rows.toLong, h, 0L)
  }

  private def check(d: Digest, what: String): Unit = {
    if (d.rows <= 0) throw new IllegalStateException(s"$what: no triples")
    if (d.bad != 0)
      throw new IllegalStateException(s"$what: ${d.bad} malformed triples")
    reference match {
      case Some(r) if r.rows != d.rows || r.hash != d.hash =>
        throw new IllegalStateException(
          s"$what: triples ${d.rows}/${d.hash} != expected ${r.rows}/${r.hash}")
      case Some(_) =>
      case None => reference = Some(d)
    }
  }

  // ---- untraced iterations --------------------------------------------

  final case class Iter(wall: Double, resumes: Seq[Double], d: Digest,
      quality: Map[String, Double])

  private def once(in: Input, dir: java.nio.file.Path, inject: String,
      checked: Boolean, untimed: Int, timed: Int): Iter = {
    val files =
      if (inject == "throw") in.files.map { f =>
        if (f.path.nonEmpty) throw new IllegalStateException("injected failure")
        f
      }
      else in.files
    def out(t: DataFrame) = if (inject == "corrupt") corruptOne(t) else t
    if (!checkpointed) {
      val t0 = System.nanoTime()
      val d = digest(out(Pipeline.triples(files)))
      val wall = secs(t0)
      if (checked) check(d, "pipeline")
      Iter(wall, Seq(wall), d, Map.empty)
    } else {
      deleteTree(dir)
      val t0 = System.nanoTime()
      val snap = TableIO.snapshotId(files.toDF())
      val d = digest(out(
        Pipeline.triplesCheckpointed(files, dir.toString, snap)))
      val cold = secs(t0)
      if (checked) check(d, "cold run")
      val resume = (1 to untimed + timed).map { _ =>
        System.gc()
        val t1 = System.nanoTime()
        val snap2 = TableIO.snapshotId(files.toDF())
        val d2 = digest(
          Pipeline.triplesCheckpointed(files, dir.toString, snap2))
        val r = secs(t1)
        if (snap2 != snap || d2 != d)
          throw new IllegalStateException(s"resume output " +
            s"${d2.rows}/${d2.hash} != cold ${d.rows}/${d.hash}")
        r
      }
      val q = if (checked) quality(in.gen, dir) else Map.empty[String, Double]
      deleteTree(dir)
      Iter(cold, resume.drop(untimed), d, q)
    }
  }

  /** Mention P/R against the generator's golden spans, read from the
    * cold run's checkpoint, and the share of linked mentions left NIL. */
  private def quality(gen: Inputs.Generated, dir: java.nio.file.Path)
      : Map[String, Double] = {
    val pred = spark.read.parquet(s"$dir/mentions_raw")
      .select("path", "sentIdx", "start", "end", "tag").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).toSet
    val gold = gen.golden.map(g => (g.path, g.sentIdx, g.start, g.end, g.tag))
      .toSet
    val tp = (pred intersect gold).size.toDouble
    val p = tp / math.max(1, pred.size)
    val r = tp / math.max(1, gold.size)
    val linked = spark.read.parquet(s"$dir/mentions_linked")
    val nil = linked.filter(col("entityId") === "NIL").count().toDouble /
      math.max(1L, linked.count())
    if (p < 0.95 || r < 0.95) throw new IllegalStateException(
      f"mention precision $p%.4f / recall $r%.4f below 0.95")
    if (nil <= 0) throw new IllegalStateException("no mention linked NIL")
    Map("precision" -> p, "recall" -> r, "nil_frac" -> nil)
  }

  private def changed[T](a: Dataset[T], b: Dataset[T]): Long =
    a.exceptAll(b).count()

  // ---- traced iterations ----------------------------------------------

  final case class Layers(stats: Map[String, Map[String, Double]],
      ratios: Map[String, Double], d: Digest)

  val layerNames = Seq("io.snapshot", "segment", "decode",
    "postprocess.fixup", "postprocess.within", "postprocess.cross",
    "postprocess.insert", "link", "triples", "io.write", "io.resume")

  /** One traced pass: the checkpointed stage list, one public layer
    * function at a time, each on an input materialized beforehand. The
    * stage writes run on every workload so the checkpoint I/O layers are
    * measured at each volume; only `synth-ckpt` writes when untraced. */
  private def traced(in: Input, dir: java.nio.file.Path, inject: String)
      : Layers = {
    deleteTree(dir)
    listener.reset()
    val walls = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val rowsIn = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val held = mutable.ArrayBuffer.empty[Dataset[_]]
    def labelled[A](label: String)(body: => A): A = {
      sc.setLocalProperty(LayerListener.Key, label)
      try body finally sc.setLocalProperty(LayerListener.Key, null)
    }
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try labelled(name)(body) finally walls(name) += secs(t0)
    }
    def kept[T](ds: Dataset[T]): (Dataset[T], Long) = {
      val p = ds.persist(); held += p; (p, p.count())
    }
    /** One layer: call, materialize the output, count rows. */
    def layer[T](name: String, nIn: Long)(call: => Dataset[T])
        : (Dataset[T], Long) = {
      val (out, n) = timed(name) {
        if (inject == "throw" && name == "link")
          throw new IllegalStateException("injected failure")
        kept(call)
      }
      rowsIn(name) += nIn; rowsOut(name) += n
      (out, n)
    }
    val nFiles = in.gen.n.toLong
    val snap = timed("io.snapshot")(TableIO.snapshotId(in.files.toDF()))
    rowsIn("io.snapshot") += nFiles; rowsOut("io.snapshot") += 1
    /** One stage write; the table read back is materialized only when
      * the next layer consumes it. */
    def write(df: DataFrame, n: Long, table: String, layerName: String,
        parts: Seq[String] = Nil, feeds: Boolean = false): DataFrame = {
      val w = timed(layerName)(TableIO.writeStage(df, dir.toString, table,
        snap, parts))
      val (m, nOut) = labelled("input")(if (feeds) kept(w) else (w, w.count()))
      rowsIn(layerName) += n; rowsOut(layerName) += nOut
      m
    }
    try {
      val (sents, nS) = layer("segment", nFiles)(
        Segmenter.sentences(in.files))
      val (dec, nD) = layer("decode", nFiles)(Pipeline.mentions(in.files))
      val raw = write(dec.toDF(), nD, "mentions_raw", "io.write", feeds = true)
        .as[Mention]
      // on synth-ckpt, post-process gets decoded mentions with planted
      // decoder errors, which it must undo
      val (planted, nP) =
        if (!checkpointed) (raw, nD)
        else labelled("input")(kept(Inputs.withDecoderErrors(raw, o.seed)))
      val (fix, nF) = layer("postprocess.fixup", nP)(
        PostProcess.lookupFixup(planted))
      val (within, nW) = layer("postprocess.within", nF)(
        PostProcess.withinDocVote(fix))
      val (cross, nC) = layer("postprocess.cross", nW)(
        PostProcess.crossDocVote(within))
      val (ins, nI) = layer("postprocess.insert", nC + nS)(
        PostProcess.insertFromLookup(sents, cross))
      val post = write(ins.toDF(), nI, "mentions_post", "io.write", feeds = true)
        .as[Mention]
      val (lk, nL) = layer("link", nI)(Linker.link(post))
      val linked = write(lk.toDF(), nL, "mentions_linked", "io.write", feeds = true)
        .as[LinkedMention]
      val (tri, nT) = layer("triples", nL)(Triples.materialize(linked))
      val out = write(tri.toDF(), nT, "triples", "io.write", Seq("pred"))
      val d = labelled("check")(digest(out.select("subj", "pred", "obj")))
      // the resume run: every stage is committed under the same id
      val resumed = Seq((dec.toDF(), nD, "mentions_raw"),
        (ins.toDF(), nI, "mentions_post"), (lk.toDF(), nL, "mentions_linked"),
        (tri.toDF(), nT, "triples"))
        .map { case (df, n, t) =>
          write(df, n, t, "io.resume", if (t == "triples") Seq("pred") else Nil)
        }
      val dRes = labelled("check")(
        digest(resumed.last.select("subj", "pred", "obj")))
      if (dRes != d) throw new IllegalStateException(
        s"traced resume ${dRes.rows}/${dRes.hash} != ${d.rows}/${d.hash}")
      val ratios = labelled("check") {
        Map(
          "link.nil_frac" ->
            lk.filter(col("entityId") === "NIL").count().toDouble / nL,
          "postprocess.fixup.relabeled" -> changed(fix, planted).toDouble / nP,
          "postprocess.within.relabeled" -> changed(within, fix).toDouble / nF,
          "postprocess.cross.relabeled" -> changed(cross, within).toDouble / nW,
          "postprocess.insert.added" -> (nI - nC).toDouble / nC,
          "triples.rows_per_mention" -> nT.toDouble / nL)
      }
      // on planted decoder errors every post-process stage must act, and
      // together they must give the decoded mentions back
      if (checkpointed) {
        Seq("postprocess.fixup.relabeled", "postprocess.within.relabeled",
          "postprocess.cross.relabeled", "postprocess.insert.added")
          .filter(ratios(_) <= 0).foreach { r =>
            throw new IllegalStateException(s"$r is 0 on planted decoder errors")
          }
        val left = labelled("check")(changed(ins, raw) + changed(raw, ins))
        if (left != 0) throw new IllegalStateException(
          s"post-process left $left rows of planted decoder errors")
      }
      val stats = layerNames.map { l =>
        val a = listener.totalsOf(sc, l)
        l -> Map(
          "wall_s" -> walls(l), "task_s" -> a.taskMs / 1000.0,
          "jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
          "rows_in" -> rowsIn(l).toDouble, "rows_out" -> rowsOut(l).toDouble,
          "shuffle_write_mb" -> a.shuffleWrite / 1048576.0,
          "spill_mb" -> a.spill / 1048576.0, "gc_s" -> a.gcMs / 1000.0)
      }.toMap
      Layers(stats, ratios, d)
    } finally {
      held.foreach(_.unpersist(blocking = true))
      deleteTree(dir)
    }
  }

  // ---- the run ----------------------------------------------------------

  def run(bootS: Double, sessionS: Double): Map[String, Any] = {
    // warm-up: JIT, codegen and the program's lazily built models, on a
    // small input from another seed
    val tw = System.nanoTime()
    val warm = load(generate(o, o.seed + 7919, fixture = true))
    once(warm, root.resolve("warm"), "none", checked = false,
      untimed = WarmResumes, timed = 0)
    warm.files.unpersist(blocking = true)
    val warmupS = secs(tw)
    val ti = System.nanoTime()
    val in = load(generate(o, o.seed, o.fixture))
    val inputS = secs(ti)
    println(s"input: workload=${o.workload} seed=${o.seed} " +
      s"rows=${in.gen.n} bytes=${in.gen.bytes} " +
      s"sha256=${in.gen.digest}")
    val setupS = bootS + sessionS + warmupS + inputS

    var attempted = 0
    var failed = 0
    val iters = mutable.ArrayBuffer.empty[Iter]
    val layerRuns = mutable.ArrayBuffer.empty[Layers]
    val heap = new HeapAfterGc
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    def attempt[A](what: String)(body: => A): Option[A] = {
      scrub()
      attempted += 1
      try Some(body)
      catch { case e: Throwable => failed += 1; fail(what, e); None }
    }
    // untraced: iterate until the time is up; traced: one untraced
    // iteration for the overhead figure, then traced passes
    var k = 0
    do {
      k += 1
      attempt(s"iteration $k") {
        once(in, root.resolve("run"),
          if (k == 1 && !o.trace) o.inject else "none", checked = true,
          untimed = if (o.trace) 0 else UntimedResumes,
          timed = if (o.trace) 1 else Resumes)
      }.foreach(iters += _)
    } while (!o.trace && System.nanoTime() < deadline)
    if (o.trace) {
      var j = 0
      do {
        j += 1
        attempt(s"traced pass $j") {
          val l = traced(in, root.resolve("traced"),
            if (j == 1) o.inject else "none")
          check(l.d, "traced pass")
          l
        }.foreach(layerRuns += _)
      } while (System.nanoTime() < deadline)
    }
    val rssMb = vmHwmMb()
    val heapMb = heap.close()

    val walls = iters.map(_.wall).toSeq
    val metrics: Map[String, Map[String, Any]] =
      if (walls.isEmpty) Map.empty
      else if (!o.trace) {
        val wall = median(walls)
        val (tailV, tailP) = tail(walls)
        Map(
          "setup_s" -> Map("value" -> setupS, "unit" -> "s"),
          "wall_s" -> Map("value" -> wall, "unit" -> "s"),
          "wall_tail_s" -> Map("value" -> tailV, "unit" -> "s"),
          "triples_per_s" ->
            Map("value" -> iters.head.d.rows / wall, "unit" -> "1/s"),
          "resume_s" ->
            Map("value" -> median(iters.flatMap(_.resumes).toSeq),
              "unit" -> "s"),
          "peak_rss_mb" -> Map("value" -> rssMb, "unit" -> "MB"),
          "peak_heap_mb" -> Map("value" -> heapMb, "unit" -> "MB"),
          "ok_frac" -> Map("value" -> (1.0 - failed.toDouble / attempted),
            "unit" -> "ratio"))
      } else if (layerRuns.isEmpty) Map.empty
      else {
        val units = Map("wall_s" -> "s", "task_s" -> "s", "jobs" -> "count",
          "tasks" -> "count", "rows_in" -> "count", "rows_out" -> "count",
          "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s")
        val perLayer = for (l <- layerNames; (f, u) <- units) yield
          s"$l.$f" -> Map("value" ->
            median(layerRuns.map(_.stats(l)(f)).toSeq), "unit" -> u)
        val ratios = layerRuns.head.ratios.keys.map { r =>
          r -> Map("value" -> median(layerRuns.map(_.ratios(r)).toSeq),
            "unit" -> "ratio")
        }
        val layerSum = median(layerRuns.map(l =>
          layerNames.filter(n => n != "io.resume" &&
            (checkpointed || !n.startsWith("io.")))
            .map(l.stats(_)("wall_s")).sum).toSeq)
        (perLayer ++ ratios :+ ("trace.overhead_s" ->
          Map("value" -> (layerSum - median(walls)), "unit" -> "s"))).toMap
      }
    val correct = failed == 0 && attempted > 0 && metrics.nonEmpty
    val (tailV, tailP) = if (walls.nonEmpty) tail(walls) else (0.0, 0.0)
    Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics,
      "detail" -> Map(
        "workload" -> o.workload, "seed" -> o.seed,
        "size" -> (if (o.fixture) "fixture" else "full"),
        "cores" -> o.cores, "trace" -> o.trace, "inject" -> o.inject,
        "input" -> Map("rows" -> in.gen.n, "bytes" -> in.gen.bytes,
          "sha256" -> in.gen.digest),
        "setup" -> Map("boot_s" -> bootS, "session_s" -> sessionS,
          "warmup_s" -> warmupS, "input_s" -> inputS),
        "wall_samples" -> walls,
        "resume_samples" -> iters.flatMap(_.resumes).toSeq,
        "wall_tail" -> Map("percentile" -> tailP, "samples" -> walls.size,
          "value" -> tailV),
        "fail_frac" ->
          (if (attempted == 0) 1.0 else failed.toDouble / attempted),
        "triples" -> reference.map(r =>
          Map("rows" -> r.rows, "digest" -> r.hash)).getOrElse(Map.empty),
        "quality" -> iters.headOption.map(_.quality).getOrElse(Map.empty),
        "layer_passes" -> layerRuns.size,
        "failures" -> failures.toSeq))
  }
}

/** The largest heap in use right after a garbage collection, over the
  * collections seen while it listens. Unlike the resident size, which
  * the fixed heap pins near the heap size, it follows the data the
  * program keeps live, plus garbage the collector had not reached yet. */
final class HeapAfterGc extends javax.management.NotificationListener {
  import java.lang.management.{ManagementFactory, MemoryType}
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.collect { case e: javax.management.NotificationEmitter => e }
  private var peak = 0L
  emitters.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: javax.management.Notification, hb: AnyRef)
      : Unit =
    if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized { peak = math.max(peak, used) }
    }

  /** Stops listening and returns the peak in MB. */
  def close(): Double = {
    emitters.foreach(_.removeNotificationListener(this))
    synchronized(peak / 1048576.0)
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
