package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Usage:
  *   runMain graft.Verify <sfDir> <outDir> [q1,q2]
  * The optional third argument restricts the dump to a comma-separated
  * subset of queries (local iteration; the gate runs all of them). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.Verify <sfDir> <outDir> [q1,q2]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val conf = Conf.fromEnv()
    val spark = conf.session(conf.parts.getOrElse(conf.cpus))
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
