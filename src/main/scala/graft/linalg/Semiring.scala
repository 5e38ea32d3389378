package graft.linalg

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Semiring abstraction parameterizing SpMV/SpGEMM — the Spark analog of
  * CombBLAS's `SR{add, multiply, id}` template parameter
  * (reference Semirings.h:38-256).
  *
  * `multiply` combines an edge weight with the source-vertex value per edge;
  * `add` is the per-destination aggregate. Both are Catalyst `Column`
  * expressions, so the whole SpMV stays inside whole-stage codegen and gets
  * map-side partial aggregation for free (the analog of CombBLAS's local
  * SpMV + MPI_Reduce along the process row, ParFriends.h:1938-2010).
  */
trait ColumnSemiring extends Serializable {
  def name: String
  /** Per-edge combine: f(edgeWeight, xValue). */
  def multiply(w: Column, x: Column): Column
  /** Per-destination aggregate over the multiplied contributions. */
  def add(c: Column): Column
}

/** (+, *) — numeric SpMV/SpGEMM; PageRank, MCL expansion
  * (reference Semirings.h:212-232 PlusTimesSRing). */
object PlusTimes extends ColumnSemiring {
  val name = "plus_times"
  def multiply(w: Column, x: Column): Column = w * x
  def add(c: Column): Column = sum(c)
}

/** (min, +) — shortest-path relaxation
  * (reference Semirings.h:235-255 MinPlusSRing). */
object MinPlus extends ColumnSemiring {
  val name = "min_plus"
  def multiply(w: Column, x: Column): Column = w + x
  def add(c: Column): Column = min(c)
}

/** (min, select2nd) — min-label propagation; CC hooking
  * (reference Applications/CC.h:62-84 Select2ndMinSR). */
object Select2ndMin extends ColumnSemiring {
  val name = "select2nd_min"
  def multiply(w: Column, x: Column): Column = x
  def add(c: Column): Column = min(c)
}

/** (∨, ∧) — boolean reachability SpGEMM; the tip-removal iteration's
  * semiring (reference ReleaseTests/KTipsTest.cpp:12-18 KTipsSR:
  * add = logical or, multiply = logical and) and the general BoolCopy
  * pattern. `max` over booleans IS logical-or (true > false), keeping the
  * aggregate hash-based and map-side combinable. */
object BoolOrAnd extends ColumnSemiring {
  val name = "bool_or_and"
  def multiply(w: Column, x: Column): Column = w && x
  def add(c: Column): Column = max(c)
}
