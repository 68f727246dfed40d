package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical data layout for scan pruning at 100 TB: Z-order (Morton)
  * clustering, so parquet row-group min/max statistics prune on EVERY
  * clustered column instead of only the leading sort key. A lexicographic
  * sort on (a, b) leaves b's values spread across the whole file — a
  * predicate on b alone prunes nothing; interleaving the bin bits of a
  * and b keeps rows close in BOTH dimensions inside each row group, so
  * either predicate skips most groups.
  *
  * Everything is a pure codegen'd column function of the row: bin
  * boundaries are plan-build-time LITERALS (the same cuts discipline as
  * `Pipeline.runningSum`), binning is a literal when-chain, and the bit
  * interleave is shift/mask arithmetic — no UDFs and no shuffle; a
  * clustered write range-partitions on the z-value and sorts within
  * partitions.
  */
object Layout {

  /** Morton z-value from per-dimension (column, literal cut array) pairs.
    * Each dimension bins to `#{cuts <= v}` (so `cuts` must hold 2^bits − 1
    * ascending boundaries); bin bits interleave LSB-first, dimension 0 in
    * the lowest lane: `z = Σ_{j<bits} Σ_{d<dims} bit_j(bin_d) << (j·dims + d)`.
    * `dims · bits ≤ 60` keeps z in a positive long. Null values bin to 0
    * (the lowest lane) — deterministic, documented. */
  def zvalue(cols: Seq[(Column, Array[Column])], bits: Int): Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val dims = cols.length
    require(dims >= 1, "at least one dimension")
    require(dims * bits <= 60, s"dims*bits must be <= 60, got ${dims * bits}")
    val nCuts = (1 << bits) - 1
    cols.foreach { case (_, cuts) =>
      require(cuts.length == nCuts,
        s"need 2^bits-1 = $nCuts cuts per dimension, got ${cuts.length}") }
    val bins = cols.map { case (c, cuts) =>
      cuts.zipWithIndex.foldLeft(lit(0)) { case (acc, (cut, i)) =>
        when(c >= cut, lit(i + 1)).otherwise(acc) } }
    (0 until bits).flatMap { j =>
      bins.zipWithIndex.map { case (b, d) =>
        shiftright(b, j).bitwiseAND(lit(1)).cast("long") *
          lit(1L << (j * dims + d)) }
    }.reduce(_ + _)
  }

  /** Equal-width literal cuts over [lo, hi] for a LONG dimension —
    * `lo + (hi − lo + 1)·i / 2^bits` with integer division, replicable by
    * any engine with integer `//`. */
  def longCuts(lo: Long, hi: Long, bits: Int): Array[Column] =
    (1 until (1 << bits)).map(i =>
      lit(lo + (hi - lo + 1) * i / (1L << bits))).toArray

  /** Equal-width literal cuts over [lo, hi] for a DOUBLE dimension —
    * `lo + (hi − lo)·i / 2^bits` in IEEE double, same parenthesization
    * everywhere. */
  def doubleCuts(lo: Double, hi: Double, bits: Int): Array[Column] =
    (1 until (1 << bits)).map(i =>
      lit(lo + (hi - lo) * i.toDouble / (1 << bits).toDouble)).toArray
}
