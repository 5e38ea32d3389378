package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Oracle side-input: the synthesized pages table behind ingest_linkgraph
    // (url + html decoded to string), so DuckDB can independently re-derive
    // the edge set with regexp_extract_all. Set auxDir FIRST — oracleSql
    // renders the absolute path into the SQL.
    SparkEntry.auxDir = s"$outDir/aux"
    graft.pages.PageGen.pages(spark, SparkEntry.IngestPages)
      .select(org.apache.spark.sql.functions.col("url"),
        org.apache.spark.sql.functions.decode(
          org.apache.spark.sql.functions.col("html"), "UTF-8").as("html"))
      .coalesce(1).write.mode("overwrite").parquet(s"${SparkEntry.auxDir}/pages")
    // Raw media payload bytes: the media_stats oracle re-runs the header
    // decode in SQL (hex + positional byte extraction), so it needs only
    // the opaque blobs — not the kind column and not the decoded fields.
    graft.media.Media.payloads(spark, 500).toDF()
      .select(org.apache.spark.sql.functions.col("media_id"),
        org.apache.spark.sql.functions.col("payload"))
      .coalesce(1).write.mode("overwrite").parquet(s"${SparkEntry.auxDir}/media")
    // Local-iteration aid: SPARK_GRAFT_ONLY=q1,q2 restricts the dump to a
    // comma-separated subset (the driver never sets it — full run there).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // A failing query does not stop the dump: every other result and
    // oracle_sql.json are still written, then the run exits 1 naming them.
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
