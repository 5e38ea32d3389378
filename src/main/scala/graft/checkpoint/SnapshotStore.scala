package graft.checkpoint

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One committed snapshot of an iteration's state. */
case class Snapshot(snapshotId: Long, parentId: Long, iteration: Int,
                    dataPath: String, rows: Long, nnz: Long, flops: Long,
                    createdAtMs: Long,
                    /** (write-task partition, rows) of every part file */
                    partitions: Seq[(Int, Long)])

/** Iceberg-style table layer: Parquet data + an atomic JSON manifest per
  * commit (no Iceberg runtime jar in this environment — SURVEY.md §7).
  *
  * Guarantees:
  *  - atomic commit: data is written to a snapshot-private directory, the
  *    manifest to a temp file, then ATOMIC_MOVE'd into place — readers see
  *    either the previous snapshot or the complete new one, never a torn
  *    state (the reference's analog: per-iteration vectors are only
  *    observable between collectives);
  *  - lineage: every manifest carries its parent snapshot id (chain =
  *    iteration lineage) plus the row count of every part file, read off
  *    the written files' footers — as an Iceberg manifest keeps record
  *    counts per data file — the per-partition bookkeeping CombBLAS keeps
  *    as LoadImbalance / nnz metrics (reference SpParMat.cpp:773-800);
  *  - metrics: nnz and flops per iteration (reference EstimateFLOP,
  *    ParFriends.h:358-444);
  *  - resume: `latest()` returns the newest VALID manifest; half-written
  *    temp files and stray garbage are ignored.
  */
class SnapshotStore(root: String) extends Serializable {
  Files.createDirectories(Paths.get(root))

  private def manifestPath(id: Long) = Paths.get(root, f"manifest-$id%06d.json")

  /** Commit `df` as the state of `iteration`. Returns the snapshot id. */
  def commit(df: DataFrame, iteration: Int, nnz: Long, flops: Long): Long = {
    val prev = latest()
    val id = prev.map(_.snapshotId + 1).getOrElse(0L)
    val parent = prev.map(_.snapshotId).getOrElse(-1L)
    val dataPath = s"$root/data-$id"
    df.write.mode("overwrite").parquet(dataPath)
    // Per-partition lineage (partition id → rows written), read off the
    // written files' Parquet footers on the driver: no second pass over
    // the data and no second write. The row count is its sum.
    val parts = partFiles(df.sparkSession, dataPath)
    val rows = parts.map(_._2).sum
    val json =
      s"""{"snapshotId": $id, "parentId": $parent, "iteration": $iteration,
         | "dataPath": "$dataPath", "rows": $rows, "nnz": $nnz, "flops": $flops,
         | "partitions": [${parts.map { case (p, r) => s"[$p, $r]" }.mkString(", ")}],
         | "createdAtMs": ${System.currentTimeMillis()}}""".stripMargin
    val tmp = Paths.get(root, s".manifest-$id.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(id), StandardCopyOption.ATOMIC_MOVE)
    id
  }

  private def parseLong(json: String, key: String): Option[Long] =
    s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
  private def parseString(json: String, key: String): Option[String] =
    s""""$key"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))

  private def parsePairs(json: String, key: String): Option[Seq[(Int, Long)]] =
    s""""$key"\\s*:\\s*\\[([\\[\\]\\d\\s,]*)\\]""".r.findFirstMatchIn(json).map(m =>
      """\[\s*(\d+)\s*,\s*(\d+)\s*\]""".r.findAllMatchIn(m.group(1))
        .map(p => (p.group(1).toInt, p.group(2).toLong)).toSeq)

  private def parse(json: String): Option[Snapshot] =
    for {
      id <- parseLong(json, "snapshotId"); parent <- parseLong(json, "parentId")
      iter <- parseLong(json, "iteration"); path <- parseString(json, "dataPath")
      rows <- parseLong(json, "rows"); nnz <- parseLong(json, "nnz")
      flops <- parseLong(json, "flops"); parts <- parsePairs(json, "partitions")
      ts <- parseLong(json, "createdAtMs")
    } yield Snapshot(id, parent, iter.toInt, path, rows, nnz, flops, ts, parts)

  /** Newest valid snapshot, tolerating garbage/torn manifests. */
  def latest(): Option[Snapshot] = snapshots().lastOption

  /** All valid snapshots, oldest first (the lineage chain). */
  def snapshots(): Seq[Snapshot] = {
    if (!Files.isDirectory(Paths.get(root))) return Nil
    val stream = Files.list(Paths.get(root))
    try
      stream.iterator.asScala
        .filter(p => p.getFileName.toString.matches("manifest-\\d+\\.json"))
        .flatMap { p =>
          try parse(Files.readString(p)) catch { case _: Exception => None }
        }
        .toSeq.sortBy(_.snapshotId)
    finally stream.close() // Files.list leaks a directory fd if left open
  }

  def load(spark: SparkSession, s: Snapshot): DataFrame =
    spark.read.parquet(s.dataPath)

  /** Per-partition lineage of a snapshot, from its manifest: one row per
    * written Parquet file, `partitionId` being the partition of the write
    * task that wrote it (the number in its `part-NNNNN-…` name) and `rows`
    * the record count in its footer. */
  def partitionStats(spark: SparkSession, s: Snapshot): DataFrame = {
    import spark.implicits._
    s.partitions.toDF("partitionId", "rows")
  }

  /** (write-task partition, rows) of every part file under `dir`. */
  private def partFiles(spark: SparkSession, dir: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        val rows = try reader.getRecordCount finally reader.close()
        (f.getPath.getName.stripPrefix("part-").takeWhile(_ != '-').toInt, rows)
      }
      .sortBy(_._1)
  }
}
