package graft

import graft.conll.ConllOps
import graft.features.Brown
import org.apache.spark.sql.functions._

/** Train Brown clusters on the in-tree eng.train and write the
  * 3-col TSV the reference's `--brown_cluster_path` expects
  * (features.py:16-29) to `models/eng.brown.tsv` (or argv(0)).
  *
  * Run: sbt "runMain graft.BrownTrain [outPath] [C] [passes]".
  * Prints cluster count, objective trace sample, and the members of a
  * few frequent clusters for eyeballing.
  */
object BrownTrain {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("models/eng.brown.tsv")
    val c = args.lift(1).map(_.toInt).getOrElse(256)
    val passes = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import spark.implicits._
    val sents = ConllOps.conllFileSentences(spark,
      graft.core.RefData.engTrain.existing)
      .map(_.words)
    val t0 = System.nanoTime()
    val tsv = Brown.cluster(sents, numClusters = c, passes = passes)
      .cache()
    val n = tsv.count()
    println(f"clustered $n words into $c clusters in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    // sample: a few clusters by size, top members by freq
    tsv.groupBy("bits").agg(count(lit(1)).as("sz"),
        slice(sort_array(collect_list(struct(col("freq"), col("word"))),
          asc = false), 1, 12).as("top"))
      .orderBy(desc("sz")).limit(8)
      .collect().foreach { r =>
        val tops = r.getSeq[org.apache.spark.sql.Row](2)
          .map(x => x.getString(1)).mkString(" ")
        println(s"${r.getString(0)}  sz=${r.getLong(1)}  $tops")
      }
    val lines = tsv.orderBy(desc("freq"), col("word"))
      .collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}")
    val p = java.nio.file.Paths.get(out)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
