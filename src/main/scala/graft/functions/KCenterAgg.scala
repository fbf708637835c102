package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** One-pass k-center coreset as a typed imperative aggregate — the
  * doubling algorithm (Charikar, Chekuri, Feder, Motwani 1997,
  * "Incremental clustering and dynamic information retrieval"): maintain
  * at most `k` weighted centers and a merge radius `r`; a new point
  * within `2r` of its nearest center folds into that center's weight,
  * a farther point opens a new center, and when the center count
  * overflows `k` the radius doubles (floored at the current minimum
  * pairwise center distance, so the very first overflow is data-driven,
  * not zero) and centers within `r` of an earlier-kept center fold away.
  * Every dropped point stays within O(r) of a surviving center — the
  * classic constant-factor guarantee for metric spaces.
  *
  * The metric is CHORDAL distance on the unit sphere,
  * `d(u, v) = sqrt(2 − 2·cos(u, v))` over L2-normalized vectors — a true
  * metric (it is the Euclidean distance of the normalized vectors), so
  * the doubling guarantee applies; it is also a monotone transform of the
  * cosine similarity the batch tiers ([[graft.llm.Similarity.kCenterSelect]])
  * rank by, so "far" means the same thing in both faces. Null and
  * zero-norm vectors are skipped, like the batch tiers' base filter.
  *
  * Why this is the ONE-PASS face the batch family lacked: state is
  * ≤ k centers (k·dim floats + k weights + one double) regardless of how
  * many vectors flow through, mergeable across partitions (partials
  * combine by replaying the smaller state's weighted centers into the
  * larger), and each input row costs one pass
  * over ≤ k centers. The greedy batch tiers re-scan the corpus k times;
  * this sees each vector once. The trade, stated: the coreset is
  * order-dependent (any one-pass bounded-state k-center must be) — on
  * separated clusters any order recovers one center per cluster
  * (property-tested), and radii carry the audit trail.
  *
  * Output: `struct(radius double, centers array<struct<id bigint,
  * weight bigint, center array<float>>>)` — centers in insertion order
  * (the doubling algorithm's canonical order), weights = how many inputs
  * folded into each center, radius = the final merge radius (every
  * folded point is within `2·radius` of its center). */
case class KCenterAgg(
    id: Expression,
    vec: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KCenterAgg.State] {

  require(k >= 1, "k_center_agg requires k >= 1")

  override def checkInputDataTypes(): TypeCheckResult = (id.dataType, vec.dataType) match {
    case (LongType, ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (i, v) => TypeCheckResult.TypeCheckFailure(
      s"k_center_agg expects (bigint, array<float>) inputs, got " +
        s"(${i.simpleString}, ${v.simpleString})")
  }

  override def children: Seq[Expression] = Seq(id, vec)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("radius", DoubleType, nullable = false),
    StructField("centers", ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("weight", LongType, nullable = false),
      StructField("center", ArrayType(FloatType, containsNull = false),
        nullable = false))), containsNull = false), nullable = false)))
  override def prettyName: String = "k_center_agg"

  override def createAggregationBuffer(): KCenterAgg.State = new KCenterAgg.State(k)

  override def update(buf: KCenterAgg.State, input: InternalRow): KCenterAgg.State = {
    val i = id.eval(input)
    val v = vec.eval(input)
    if (i != null && v != null) {
      val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      // skip vectors containing null elements (ADVICE r12): the input may be
      // ArrayType(FloatType, containsNull=true), and toFloatArray on such a
      // row either throws (GenericArrayData) or silently reads 0.0
      // (UnsafeArrayData) — neither matches the batch tiers' skip-null
      // contract, so probe element nullability first.
      var hasNull = false
      var j = 0
      val n = ad.numElements()
      while (j < n && !hasNull) { if (ad.isNullAt(j)) hasNull = true; j += 1 }
      if (!hasNull) buf.add(i.asInstanceOf[Long], ad.toFloatArray(), 1L)
    }
    buf
  }

  override def merge(a: KCenterAgg.State, b: KCenterAgg.State): KCenterAgg.State = {
    a.absorb(b)
    a
  }

  override def eval(buf: KCenterAgg.State): Any = {
    val centers = new GenericArrayData(buf.centers.map { c =>
      new GenericInternalRow(Array[Any](c.id, c.weight,
        new GenericArrayData(c.unit.map(_.asInstanceOf[Any])))): Any
    }.toArray)
    new GenericInternalRow(Array[Any](buf.r, centers))
  }

  override def serialize(buf: KCenterAgg.State): Array[Byte] = {
    val dim = if (buf.centers.isEmpty) 0 else buf.centers.head.unit.length
    val bb = ByteBuffer.allocate(8 + 4 + 4 + buf.centers.length * (8 + 8 + 4 * dim))
    bb.putDouble(buf.r); bb.putInt(buf.centers.length); bb.putInt(dim)
    buf.centers.foreach { c =>
      bb.putLong(c.id); bb.putLong(c.weight)
      c.unit.foreach(bb.putFloat)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KCenterAgg.State = {
    val bb = ByteBuffer.wrap(bytes)
    val st = new KCenterAgg.State(k)
    st.r = bb.getDouble
    val n = bb.getInt; val dim = bb.getInt
    var j = 0
    while (j < n) {
      val cid = bb.getLong; val w = bb.getLong
      val u = Array.fill(dim)(bb.getFloat)
      st.centers += new KCenterAgg.Center(cid, u, w)
      j += 1
    }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KCenterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KCenterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KCenterAgg =
    copy(id = newChildren(0), vec = newChildren(1))
}

object KCenterAgg {

  /** One weighted center: representative id, L2-normalized vector, and
    * the number of inputs folded into it. */
  final class Center(val id: Long, val unit: Array[Float], var weight: Long)

  /** Mutable doubling-algorithm state: ≤ k centers + the merge radius. */
  final class State(val k: Int) {
    var r: Double = 0.0
    val centers: ArrayBuffer[Center] = ArrayBuffer.empty

    /** Chordal distance between unit vectors (the Euclidean distance of
      * the normalized points — a true metric on the sphere). */
    private def dist(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var j = 0
      val n = math.min(a.length, b.length)
      while (j < n) { s += a(j).toDouble * b(j).toDouble; j += 1 }
      math.sqrt(math.max(0.0, 2.0 - 2.0 * s))
    }

    private def nearest(u: Array[Float]): (Int, Double) = {
      var bi = -1; var bd = Double.MaxValue
      var j = 0
      while (j < centers.length) {
        val d = dist(u, centers(j).unit)
        if (d < bd) { bd = d; bi = j }
        j += 1
      }
      (bi, bd)
    }

    /** Add one weighted (already raw) vector: normalize, fold-or-open,
      * re-merge on overflow. Zero-norm vectors are skipped. */
    def add(id: Long, raw: Array[Float], weight: Long): Unit = {
      var n2 = 0.0
      var j = 0
      while (j < raw.length) { n2 += raw(j).toDouble * raw(j).toDouble; j += 1 }
      if (n2 <= 0.0 || n2.isNaN) return
      val inv = 1.0 / math.sqrt(n2)
      val u = new Array[Float](raw.length)
      j = 0
      while (j < raw.length) { u(j) = (raw(j) * inv).toFloat; j += 1 }
      addUnit(id, u, weight)
    }

    private def addUnit(id: Long, u: Array[Float], weight: Long): Unit = {
      // first-seen dim wins (ADVICE r12): serialize() writes every center at
      // the first center's dim, so a mixed-dim input would either overflow
      // the buffer (longer) or silently corrupt deserialized state (shorter).
      // Skipping mismatched vectors extends the declared skip-invalid
      // contract (null / zero-norm) to malformed dims; the guard sits here
      // rather than in add() so absorb()'s replay path is covered too.
      if (centers.nonEmpty && u.length != centers.head.unit.length) return
      val (bi, bd) = nearest(u)
      if (bi >= 0 && bd <= 2.0 * r) centers(bi).weight += weight
      else {
        centers += new Center(id, u, weight)
        while (centers.length > k) overflow()
      }
    }

    /** Radius doubling + greedy re-merge (insertion order): the new radius
      * is max(2r, min pairwise center distance) — the floor makes the
      * first overflow (r = 0) data-driven and guarantees at least one
      * center folds per round, so the loop terminates. */
    private def overflow(): Unit = {
      var minPair = Double.MaxValue
      var a = 0
      while (a < centers.length) {
        var b = a + 1
        while (b < centers.length) {
          val d = dist(centers(a).unit, centers(b).unit)
          if (d < minPair) minPair = d
          b += 1
        }
        a += 1
      }
      r = math.max(2.0 * r, minPair)
      val kept = ArrayBuffer.empty[Center]
      centers.foreach { c =>
        var ki = -1; var kd = Double.MaxValue
        var j = 0
        while (j < kept.length) {
          val d = dist(c.unit, kept(j).unit)
          if (d < kd) { kd = d; ki = j }
          j += 1
        }
        if (ki >= 0 && kd <= r) kept(ki).weight += c.weight
        else kept += c
      }
      centers.clear()
      centers ++= kept
    }

    /** Merge another state in: take the larger radius, then replay the
      * other side's weighted centers through the standard insert path. */
    def absorb(other: State): Unit = {
      r = math.max(r, other.r)
      other.centers.foreach(c => addUnit(c.id, c.unit, c.weight))
    }
  }

  /** Column facade: `k_center_agg(id, vec, k)` →
    * `struct(radius, centers array<struct<id, weight, center>>)`. */
  def k_center_agg(id: Column, vec: Column, k: Int): Column = {
    // consumer-path tuning (r13 verdict #1): keep the hash-agg path on
    // untuned sessions — see SessionTuning
    SessionTuning.ensureActiveSession()
    Bridge.column(KCenterAgg(Bridge.expression(id), Bridge.expression(vec), k)
      .toAggregateExpression())
  }
}
