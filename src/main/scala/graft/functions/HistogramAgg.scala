package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Single-pass fixed-boundary histogram as a typed imperative aggregate:
  * one Array[Long] count vector per partition, merged element-wise — the
  * exact distributed shape of PySpark's `RDD.histogram`
  * (pyspark/core/rdd.py:2347-2366), but running inside Tungsten's
  * ObjectHashAggregate instead of pickled Python workers.
  *
  * Vs the groupBy(bin_id) formulation: no per-row shuffle rows, no dense-bin
  * spine join — the aggregation buffer IS dense, and the shuffle carries one
  * n_bins-long vector per partition (or per group key when grouped). At
  * 100 TB that is the minimum possible traffic for this computation.
  *
  * Bucket semantics identical to [[graft.dist.Binning.binId]], in one
  * place, [[HistogramAgg.bucket]], which the driver-merged histogram loop
  * of [[graft.dist.Binning]] calls too; null input is dropped here. */
case class HistogramAgg(
    child: Expression,
    edges: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val n = edges.size - 1
  private val edgeArr = edges.toArray
  private val step = HistogramAgg.evenStep(edges)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hist_counts expects double input, got ${other.simpleString}")
  }

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hist_counts"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](n)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bin = HistogramAgg.bucket(v.asInstanceOf[Double], edgeArr, step)
      if (bin >= 0) buf(bin) += 1L
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < n) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * n)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(n)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HistogramAgg =
    copy(child = newChildren.head)
}

object HistogramAgg {
  /** The common bin width of `edges` when they are evenly spaced within
    * rdd.py's 1e-10 tolerance (rdd.py:2340-2342), else NaN. */
  def evenStep(edges: Seq[Double]): Double =
    if (graft.dist.Binning.isEvenWidth(edges)) (edges.last - edges.head) / (edges.size - 1) else Double.NaN

  /** The bucket of `x` against `edges` (rdd.py:2350-2360), or -1 when `x`
    * is NaN or out of range (dropped). `step` is [[evenStep]] of the edges:
    * even widths take the fast path `min(int((x - lo) / step), n - 1)`,
    * uneven ones `bisect_right(edges, x) - 1`, both clamped into the closed
    * last bucket; `[v, v]` is the one degenerate min == max bucket
    * (rdd.py:2295-2296). */
  def bucket(x: Double, edges: Array[Double], step: Double): Int = {
    val n = edges.length - 1
    if (!(x >= edges(0) && x <= edges(n))) -1 // NaN fails both tests
    else if (n == 1) 0
    else if (!step.isNaN) math.min(((x - edges(0)) / step).toInt, n - 1)
    else {
      var b = java.util.Arrays.binarySearch(edges, x)
      if (b < 0) b = -b - 2 // insertion point - 1
      math.min(b, n - 1)
    }
  }

  /** Column facade: `hist_counts(x, edges)` → array<long> of n dense bucket
    * counts (aggregate function). `edges = [v, v]` is the degenerate
    * min == max bucket: one count of the values equal to v. */
  def hist_counts(x: Column, edges: Seq[Double]): Column = {
    if (!(edges.size == 2 && edges.head == edges.last)) graft.dist.Binning.validateEdges(edges)
    // consumer-path tuning (r13 verdict #1): keep the hash-agg path on
    // untuned sessions — see SessionTuning
    SessionTuning.ensureActiveSession()
    Bridge.column(HistogramAgg(Bridge.expression(x), edges).toAggregateExpression())
  }
}
