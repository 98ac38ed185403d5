package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import graft.Verify.jsonString
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Iceberg-contract table layer over directory-partitioned Parquet
  * (SURVEY.md §7.4 — no Iceberg runtime jar ships offline, so the
  * contract is emulated; the interface is kept to read/writeStage so a
  * real Iceberg catalog is a drop-in via spark.sql.catalog.* config).
  *
  * Per stage write:
  *  - data under `<root>/<table>/` (optionally partitioned);
  *  - `_lineage.json` sidecar: snapshot id (caller-supplied content
  *    hash of the input), stage name, wall latency, total rows and
  *    per-partition row counts — the per-partition lineage + metrics
  *    the north rule requires. It is escaped JSON, written to a temp
  *    file and renamed into place, so a reader never sees half of it;
  *  - idempotent resume: writeStage with a snapshot id that already
  *    committed is a no-op returning the stored table (checkpointed
  *    pipelines restart from the last finished stage).
  */
object TableIO {

  final case class Lineage(
      table: String, snapshot: String, rows: Long,
      latencyMs: Long, partitions: Map[String, Long])

  private def lineagePath(root: String, table: String) =
    Paths.get(root, table, "_lineage.json")

  /** Committed snapshot id of a table, if any. A sidecar that does not
    * parse (written before it was escaped JSON) proves no commit. */
  def committedSnapshot(root: String, table: String): Option[String] = {
    val p = lineagePath(root, table)
    if (Files.exists(p))
      try Option(new ObjectMapper().readTree(p.toFile).get("snapshot"))
        .map(_.asText())
      catch { case _: JsonProcessingException => None }
    else None
  }

  def read(spark: SparkSession, root: String, table: String): DataFrame =
    spark.read.parquet(s"$root/$table")

  /** Snapshot id of an input corpus: order-independent fold (sum of
    * xxhash64) over each row's identity (repo, path, commit) and its
    * sha256(content) invariant column — the same input always resumes;
    * a changed, renamed or re-committed row forces recompute, so a
    * resume never serves stale `mentionedIn` objects (north rule:
    * per-row sha256 invariant + resumability, tied together). */
  def snapshotId(files: DataFrame): String = {
    // decimal sum: a long sum overflows under ANSI mode at corpus scale
    val r = files
      .select(xxhash64(col("repo"), col("path"), col("commit"),
        sha2(col("content"), 256)).cast("decimal(38,0)").as("h"))
      .agg(sum("h").as("s"), count(lit(1)).as("n"))
      .collect()(0)
    s"sha-${r.getDecimal(0).toBigInteger.toString(16)}-${r.getLong(1)}"
  }

  /** Write a pipeline stage. Returns the (re-)read table so downstream
    * stages consume the checkpoint, not the lineage-heavy plan. `df` is
    * built only when the stage is not committed, so a resume plans and
    * broadcasts nothing for the stages it skips. */
  def writeStage(df: => DataFrame, root: String, table: String,
      snapshot: String, partitionCols: Seq[String] = Nil): DataFrame = {
    if (committedSnapshot(root, table).contains(snapshot)) // resume
      return read(SparkSession.active, root, table)
    val frame = df
    val spark = frame.sparkSession
    val t0 = System.nanoTime()
    val writer = frame.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(s"$root/$table")
    val written = read(spark, root, table)
    val partCounts: Map[String, Long] =
      if (partitionCols.nonEmpty)
        written.groupBy(partitionCols.map(col): _*).count()
          .collect()
          .map(r => (0 until partitionCols.size)
            .map(i => String.valueOf(r.get(i))).mkString("/") -> r.getLong(partitionCols.size))
          .toMap
      else Map("<unpartitioned>" -> written.count())
    val rows = partCounts.values.sum
    val latency = (System.nanoTime() - t0) / 1000000
    val parts = partCounts.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonString(k)}: $v" }
      .mkString("{", ", ", "}")
    val dir = Files.createDirectories(Paths.get(root, table))
    // '_'-prefixed: the parquet reader skips it like the sidecar itself
    val tmp = Files.createTempFile(dir, "_lineage.", ".tmp")
    Files.writeString(tmp,
      s"""{"table": ${jsonString(table)}, "snapshot": ${jsonString(snapshot)},
         | "rows": $rows, "latencyMs": $latency, "partitions": $parts}"""
        .stripMargin)
    Files.move(tmp, lineagePath(root, table),
      StandardCopyOption.ATOMIC_MOVE)
    written
  }
}
