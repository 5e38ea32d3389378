package graft

import org.apache.spark.sql.SparkSession

/** The run-time settings of graft's mains, read from the environment once:
  *   SPARK_GRAFT_CPUS  — local[N] core count (default: available processors)
  *   SPARK_GRAFT_PARTS — spark.sql.shuffle.partitions (default: per main)
  * Every kernel threshold is a constant in its kernel; other Spark settings
  * pass as `-Dspark.k=v` JVM system properties, which SparkConf reads. */
final case class Conf(cpus: Int, parts: Option[Int]) {

  /** The local session every main runs on. */
  def session(shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Conf {
  val CpusVar = "SPARK_GRAFT_CPUS"
  val PartsVar = "SPARK_GRAFT_PARTS"

  /** Raises IllegalArgumentException naming the variable on a value that
    * is not a positive integer. */
  def parse(env: Map[String, String]): Conf = {
    def positive(name: String): Option[Int] = env.get(name).map { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$s'"))
    }
    Conf(positive(CpusVar).getOrElse(Runtime.getRuntime.availableProcessors),
      positive(PartsVar))
  }

  def fromEnv(): Conf = parse(sys.env)
}
