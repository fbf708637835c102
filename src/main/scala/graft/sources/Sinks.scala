package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{shiftleft, shiftright}

/** Sink-side layout tooling.
  *
  * The reference library has no sources or sinks of its own (it is handed
  * DataFrames and returns pandas/matplotlib objects); this module carries
  * the layout key that makes *future* queries cheap: sort or
  * range-partition on it before a write and parquet footer stats skip
  * whole files at read time. */
object Sinks {

  /** Morton / Z-order interleave of two bin ids (each in [0, 2^bits)):
    * bit b of `bx` lands at output bit 2b, bit b of `by` at 2b+1. Sorting
    * or range-partitioning on the Z key clusters BOTH dimensions at once,
    * so parquet footer min/max stats skip files for predicates on either
    * column — the multi-column generalization of clustering on one sort
    * key (`df.repartitionByRange(n, zkey).sortWithinPartitions(zkey)`
    * before the write). Pure integer bit arithmetic — identical in any
    * engine, codegen-friendly, no UDF. */
  def zorderKey(bx: Column, by: Column, bits: Int = 8): Column =
    (0 until bits).map { b =>
      shiftleft(shiftright(bx.cast("long"), b).bitwiseAND(1), 2 * b) +
        shiftleft(shiftright(by.cast("long"), b).bitwiseAND(1), 2 * b + 1)
    }.reduce(_ + _)
}
