package graft.io

import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import graft.Verify.jsonString
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.collection.mutable

/** Iceberg-contract table layer over directory-partitioned Parquet
  * (SURVEY.md §7.4 — no Iceberg runtime jar ships offline, so the
  * contract is emulated; the interface is kept to read/writeStage so a
  * real Iceberg catalog is a drop-in via spark.sql.catalog.* config).
  *
  * Per stage write:
  *  - data under `<root>/<table>/` (optionally partitioned);
  *  - `_lineage.json` sidecar: snapshot id (caller-supplied content
  *    hash of the input), stage name, wall latency, total rows,
  *    per-partition row counts and the schema the table reads back
  *    with — the per-partition lineage + metrics the north rule
  *    requires. The counts come from the written files' Parquet footers,
  *    read on the driver, and the schema from the written frame, so a
  *    write runs its one write job and nothing else. It is escaped
  *    JSON, written to a temp file and renamed into place, so a reader
  *    never sees half of it;
  *  - idempotent resume: writeStage with a snapshot id that already
  *    committed is a no-op returning the stored table, read with the
  *    recorded schema (no schema-inference job), so checkpointed
  *    pipelines restart from the last finished stage without running a
  *    job before their caller's action.
  */
object TableIO {

  /** What a sidecar proves: the snapshot id its table holds and the
    * schema to read it with (absent from a sidecar written before the
    * schema was recorded: that table is read with inference). */
  private final case class Commit(snapshot: String,
      schema: Option[StructType])

  private val json = new ObjectMapper()

  private def lineagePath(root: String, table: String) =
    Paths.get(root, table, "_lineage.json")

  /** The table's commit, from one parse of its sidecar. A sidecar that
    * does not parse (written before it was escaped JSON) proves no
    * commit. */
  private def commitOf(root: String, table: String): Option[Commit] = {
    val p = lineagePath(root, table)
    if (!Files.exists(p)) None
    else try {
      val tree = json.readTree(p.toFile)
      Option(tree.get("snapshot")).map(s => Commit(s.asText(),
        Option(tree.get("schema")).map(t =>
          DataType.fromJson(t.toString).asInstanceOf[StructType])))
    } catch { case _: JsonProcessingException => None }
  }

  /** Committed snapshot id of a table, if any. */
  def committedSnapshot(root: String, table: String): Option[String] =
    commitOf(root, table).map(_.snapshot)

  /** A stage table, read with its sidecar's schema when it records one. */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    scan(spark, root, table, commitOf(root, table).flatMap(_.schema))

  private def scan(spark: SparkSession, root: String, table: String,
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(s"$root/$table")

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
    commitOf(root, table).filter(_.snapshot == snapshot) match {
      case Some(c) => return scan(SparkSession.active, root, table, c.schema)
      case None =>
    }
    val frame = df
    val spark = frame.sparkSession
    val t0 = System.nanoTime()
    val writer = frame.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(s"$root/$table")
    // as Parquet reads it back: the data columns, then the partition
    // columns (directory names), every field nullable
    val schema = GraftBridge.asNullable(StructType(
      frame.schema.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(frame.schema(_))))
    val partCounts = footerCounts(spark, s"$root/$table",
      partitionCols.nonEmpty)
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
         | "rows": $rows, "latencyMs": $latency, "partitions": $parts,
         | "schema": ${schema.json}}""".stripMargin)
    Files.move(tmp, lineagePath(root, table),
      StandardCopyOption.ATOMIC_MOVE)
    scan(spark, root, table, Some(schema))
  }

  /** Rows per partition of the table just written to `dir`, summed from
    * the row counts in its data files' Parquet footers, read on the
    * driver. A partition's key is its directories' values, unescaped
    * and joined by '/', with the default (null) partition as "null";
    * an unpartitioned table has the one key `<unpartitioned>`. Files
    * and directories the Parquet reader skips ('_' or '.' prefixed)
    * are skipped, and so is a partitioned table's empty file, which
    * holds no partition. */
  private def footerCounts(spark: SparkSession, dir: String,
      partitioned: Boolean): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val top = fs.makeQualified(base)
    val counts = mutable.Map.empty[String, Long]
    if (!partitioned) counts("<unpartitioned>") = 0L
    val files = fs.listFiles(top, true)
    while (files.hasNext) {
      val f = files.next()
      val names = Iterator.iterate(f.getPath)(_.getParent)
        .takeWhile(p => p != null && p != top).map(_.getName).toList.reverse
      if (!names.exists(n => n.startsWith("_") || n.startsWith("."))) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        val n = try reader.getRecordCount finally reader.close()
        val key =
          if (!partitioned) "<unpartitioned>"
          else names.init.map { d =>
            val v = d.substring(d.indexOf('=') + 1)
            if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) "null"
            else ExternalCatalogUtils.unescapePathName(v)
          }.mkString("/")
        if (!partitioned || n > 0) counts(key) = counts.getOrElse(key, 0L) + n
      }
    }
    counts.toMap
  }
}
