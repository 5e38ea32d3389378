package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.linalg._
import graft.kernels.BlockBuild

/** Differential tests: the 2D block-CSR path must equal the plain
  * DataFrame path (SURVEY.md §7 build order step 3). */
class BlockSpec extends AnyFunSuite {
  import TestSpark._

  val pairs = RefKernels.randomGraph(100, 400, seed = 11L)
  lazy val e = undirected(pairs).persist()

  def build(edges: org.apache.spark.sql.DataFrame) =
    BlockBuild.csrValBlocks(edges, 32, Seq(col("rb"), col("cb")))

  test("block build: nnz conserved, blocks keyed correctly") {
    val blocks = build(e.withColumn("w", lit(1.0)))
    val stats = BlockMatrix.blockStats(blocks).collect()
    assert(stats.map(_.getLong(2)).sum == e.count())
    assert(stats.forall(r => r.getInt(0) >= 0 && r.getInt(1) >= 0))
  }

  test("block build: out-of-capacity ids raise instead of truncating") {
    val spark2 = spark
    import spark2.implicits._
    def edges(es: (Long, Long)*) =
      es.toDF("src", "dst").withColumn("w", lit(1.0))
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    // The last id whose block coordinate fits the 16-bit field still builds.
    val top = 32L * 32768 - 1
    val ok = build(edges((0L, top), (top, 0L))).collect()
    assert(ok.map(_.nnz).sum == 2)
    assert(ok.map(b => (b.rowBlock, b.colBlock)).toSet == Set((32767, 0), (0, 32767)))
    for (bad <- Seq(edges((0L, 1L), (-1L, 2L)), edges((0L, 1L), (3L, 32L * 32768)))) {
      val err = intercept[Exception](build(bad).collect())
      assert(causes(err).exists(c => String.valueOf(c.getMessage).contains("BlockBuild capacity")),
        err.toString)
    }
  }

  test("block SpGEMM equals relational SpGEMM (A²)") {
    val spark2 = spark
    import spark2.implicits._
    val we = e.withColumn("w", (col("src") % 3 + 1).cast("double"))
    val plain = graft.operators.MatrixOps.spgemm(we, we, PlusTimes).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val blocks = build(we)
    val c = BlockMatrix.spgemm(blocks, blocks, 32, 0.0, _ + _, _ * _)
    val blocked = BlockMatrix.toCoo(c, 32).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(blocked.keySet == plain.keySet)
    for ((k, v) <- plain) assert(math.abs(blocked(k) - v) < 1e-9, s"$k")
  }

  test("phased SpGEMM (MemEfficient analog) equals single-phase") {
    val spark2 = spark
    import spark2.implicits._
    val we = e.withColumn("w", (col("src") % 3 + 1).cast("double"))
    val blocks = build(we)
    val nb = BlockMatrix.numBlocks(100, 32)
    def coo(c: org.apache.spark.sql.Dataset[MatrixBlock]) =
      BlockMatrix.toCoo(c, 32).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val one = coo(BlockMatrix.spgemm(blocks, blocks, 32, 0.0, _ + _, _ * _))
    val phased = coo(BlockMatrix.spgemmPhased(blocks, blocks, 32, nb, 3, 0.0, _ + _, _ * _))
    assert(one == phased)
  }
}
