package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{Dictionary, Ranking}

/** `Ranking.globalRank` on its own: dense 0..n-1 ranks in sort order, the
  * same for every partition count and input partitioning, and an empty
  * input; plus the dictionary's distinct numbering of repeated keys. */
class RankingSpec extends AnyFunSuite {
  import TestSpark._

  /** 300 rows (k, tie): k repeats, tie breaks the repeats. */
  private lazy val rows = {
    val s = spark
    import s.implicits._
    (0 until 300).map(i => ((i * 37) % 23, i)).toDF("k", "tie")
  }

  /** (k, tie, rank) in rank order, sorted by k ascending, tie descending. */
  private def ranks(df: DataFrame, parts: Int): Seq[(Int, Int, Long)] =
    Ranking.globalRank(df, Seq(col("k"), col("tie").desc), "rank", parts)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sortBy(_._3).toSeq

  test("ranks are dense 0..n-1 in sort order, ties broken by the tiebreak column") {
    val got = ranks(rows, 3)
    val expected = rows.collect().map(r => (r.getInt(0), r.getInt(1))).sortBy { case (k, t) => (k, -t) }
    assert(got.map(_._3) == (0L until 300L))
    assert(got.map(r => (r._1, r._2)) == expected.toSeq)
  }

  test("ranks do not depend on the partition count or the input's partitioning") {
    val base = ranks(rows, 1)
    for (p <- Seq(3, 8)) assert(ranks(rows, p) == base, s"parts=$p")
    assert(ranks(rows.repartition(7), 3) == base, "repartitioned input")
  }

  test("an empty input gives zero rows and keeps the rank column") {
    val out = Ranking.globalRank(rows.limit(0), Seq(col("k"), col("tie")), "rank", 4)
    assert(out.columns.toSeq == Seq("k", "tie", "rank"))
    assert(out.collect().isEmpty)
  }

  test("Dictionary.encode numbers each distinct key once, repeats and null included") {
    val s = spark
    import s.implicits._
    val keys = ((0 until 200).map(i => Option(s"k${(i * 7) % 31}")) ++ Seq(None, None)).toDF("url")
    val expected = (None +: (0 until 31).map(i => s"k$i").sorted.map(Option(_))).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }
    for (p <- Seq(1, 3, 8)) {
      val got = Dictionary.encode(keys.repartition(5), "url", parts = p).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1))).sortBy(_._2).toSeq
      assert(got == expected, s"parts=$p")
    }
  }
}
