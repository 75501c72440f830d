package graft.operators

import graft.functions.ArrayDotProduct
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The literal-tree IVF argmin and probe: the bit-parity references
  * the `NearestCell` / `ProbeCells` function specs compare the
  * codegen'd expressions against. No production path builds them
  * (the literal trees embed k×dims literal doubles per use and their
  * zip_withs run interpreted).
  */
object IvfReference {

  /** Squared L2 distance to a centroid literal, accumulated strictly
    * left-to-right — the exact arithmetic the DuckDB oracle's
    * `list_distance` runs, which is what makes nearest-centroid
    * assignment reproducible across engines.
    */
  private def dist2(v: Column, cent: Seq[Double]): Column = {
    val diff = zip_with(v, array(cent.map(lit): _*), (x, y) => x - y)
    ArrayDotProduct(diff, diff)
  }

  /** (distance, cid) candidates as a sortable struct array. */
  private def distStructs(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    array(cents.map { case (cid, c) =>
      struct(dist2(v, c).as("d"), lit(cid).as("cid"))
    }: _*)

  /** The literal-tree argmin — the specs' bit-parity reference for
    * `IvfIndex.nearestCid` (same math, k×dims-literal expression tree).
    */
  private[graft] def nearestCidLiteral(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    array_min(distStructs(v, cents)).getField("cid")

  /** The literal-tree probe — the specs' bit-parity reference for
    * `IvfIndex.probeCids`.
    */
  private[graft] def probeCidsLiteral(v: Column, cents: Seq[(Int, Seq[Double])],
      nprobe: Int): Column =
    transform(slice(array_sort(distStructs(v, cents)), 1, nprobe),
      s => s.getField("cid"))
}
