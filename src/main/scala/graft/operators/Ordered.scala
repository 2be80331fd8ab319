package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField}

/** Scalable total-order utilities.
  *
  * The reference pipeline's semantics hinge on one global sequential
  * index (`tick_idx`, reference src/VolumeExpansion.jl:156,177). A naive
  * `row_number().over(Window.orderBy(...))` serializes the whole dataset
  * onto one partition — fatal at 100 TB. The index here is the standard
  * two-pass prefix technique instead ([[Scan]] with a row-count monoid):
  *
  *   1. `orderBy` the key (a parallel range sort — free when the input
  *      already declares that order),
  *   2. per-partition row counts — a tiny array,
  *   3. exclusive prefix-scan of the counts on the driver,
  *   4. broadcast offsets back and finish each partition locally.
  *
  * Wall-clock cost is at most one range shuffle + one lightweight job,
  * with no single-partition bottleneck.
  */
object Ordered {

  /** Append a dense 1-based global row index `outCol`, ordered by
    * `orderCols` (no columns: the input's own partition-then-row order).
    * Equivalent to row_number() over a global orderBy, but scalable (no
    * single-partition window). The output declares itself range-ordered
    * by `outCol`, so a downstream `orderBy(outCol)` costs no
    * Exchange/Sort.
    */
  def withGlobalIndex(df: DataFrame, outCol: String, orderCols: String*): DataFrame = {
    val sorted = if (orderCols.isEmpty) df else df.orderBy(orderCols.map(col): _*)
    Scan.scan[Long](sorted, Seq(StructField(outCol, LongType, nullable = false)),
      zero = 0L, lift = _ => 1L, combine = _ + _, emit = (n, _) => Seq(n + 1),
      orderedBy = Seq(outCol))
  }
}
