package graft.dist

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BoundReference, InterpretedOrdering,
  InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Bin specification: either a bin count (edges derived from data min/max or
  * an explicit range) or an explicit, validated boundary list.
  *
  * Semantics reproduce PySpark's `RDD.histogram`
  * (pyspark/core/rdd.py:2214-2366), which is the engine the reference library
  * (Bergvca/pyspark_dist_explore, pyspark_dist_explore.py ~L100-160) delegates
  * all bucketing math to. See SURVEY.md §2.3 for the line-exact rule table.
  */
sealed trait Bins
object Bins {
  /** n equal-width bins over [min, max] (or an explicit range). */
  final case class Count(n: Int) extends Bins { require(n >= 1, "bins must be >= 1") }
  /** Explicit boundaries: n+1 edges for n bins. Validated per rdd.py:2315-2326. */
  final case class Edges(edges: Seq[Double]) extends Bins
}

/** Distributed histogram core.
  *
  * Design (SURVEY.md §3/§4): every histogram shape and [[Binning.minMax]]
  * read their rows in rdd.py's own shape (rdd.py:2347-2366, `mapPartitions`
  * plus a driver-side merge) through one private core, [[Binning.merged]]:
  * a frame is planned and code-generated once, ONE Spark job folds each
  * partition into a small local result (a dense count vector, a map from
  * group to counts, per-column bounds), and the driver merges those with no
  * shuffle. Every count vector is filled through one bucketing rule,
  * [[Binning.bucket]]. The series-based entry points ([[Binning.histogram]],
  * [[Binning.histogramMany]], [[Binning.histogramColumns]],
  * [[Binning.histogramLog]], [[Histogram.build]]) read one union: series
  * that read the same source share one scan, and each distinct (source,
  * column) is one nullable double slot. So a histogram of any shape (any
  * number of series, groups or axes) is 2 Spark jobs with a data-derived
  * range, the range job and then the count job, and 1 with an explicit
  * range or edges; `minMax` is 1. A Catalyst global aggregate would be 2
  * under AQE (a shuffle-map job plus a result job), and a grouped one more.
  * `HistogramJobContractSpec` checks these budgets. Every result is built
  * eagerly, like the reference's `build()`: a small local DataFrame whose
  * collection runs no job.
  */
object Binning {

  /** Equal-width edges: `[i*inc + lo for i in 0 until n] :+ hi` — the last
    * edge is the exact max, absorbing float error (rdd.py:2311-2312). The
    * integer-width nicety (rdd.py:2306-2309) is automatic in IEEE doubles:
    * when (hi-lo) is an integer divisible by n, (hi-lo)/n is exact. */
  def equalWidthEdges(lo: Double, hi: Double, n: Int): Vector[Double] = {
    require(n >= 1, "bins must be >= 1")
    require(!lo.isNaN && !hi.isNaN && lo <= hi, s"invalid range [$lo, $hi]")
    if (lo == hi || n == 1) Vector(lo, hi)
    else {
      val inc = (hi - lo) / n
      (0 until n).map(i => i * inc + lo).toVector :+ hi
    }
  }

  /** Boundary validation per rdd.py:2315-2326: at least 2 edges, strictly
    * increasing (sorted, no duplicates), no NaN. */
  def validateEdges(edges: Seq[Double]): Unit = {
    require(edges.size >= 2, "buckets should have more than one value")
    require(!edges.exists(_.isNaN), "can not have NaN in buckets")
    require(edges.sliding(2).forall(p => p(0) < p(1)),
      "buckets should be sorted and should not contain duplicated values")
  }

  /** Even-width detection tolerance per rdd.py:2340-2342. */
  def isEvenWidth(edges: Seq[Double]): Boolean = {
    val steps = edges.sliding(2).map(p => p(1) - p(0)).toVector
    steps.max - steps.min < 1e-10
  }

  /** The common bin width of `edges` when they are evenly spaced within
    * rdd.py's 1e-10 tolerance (rdd.py:2340-2342), else NaN. */
  private def evenStep(edges: Seq[Double]): Double =
    if (isEvenWidth(edges)) (edges.last - edges.head) / (edges.size - 1) else Double.NaN

  /** The bucket of `x` against `edges` (rdd.py:2350-2360), or -1 when `x`
    * is NaN or out of range (dropped). `step` is [[evenStep]] of the edges:
    * even widths take the fast path `min(int((x - lo) / step), n - 1)`,
    * uneven ones `bisect_right(edges, x) - 1`, both clamped into the closed
    * last bucket; `[v, v]` is the one degenerate min == max bucket
    * (rdd.py:2295-2296). Every histogram count goes through it. */
  private def bucket(x: Double, edges: Array[Double], step: Double): Int = {
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

  /** Bin-id expression for a value column against fixed edges: the Column
    * form of [[bucket]], for frames that bin inside a Catalyst plan.
    *
    * Even widths (rdd.py:2352-2354 fast path):
    *   `least(floor((x - lo) / step), n-1)` — the `least` clamp folds the
    *   overflow slot for x == max into the last bucket, reproducing the
    *   closed last bucket `[e_{n-1}, e_n]` (rdd.py:2218-2222, 2358-2360).
    * Uneven widths (rdd.py:2355-2356 bisect path):
    *   `bisect_right(edges, x) - 1` as a CASE chain, ELSE = last bucket.
    * Caller must already have filtered to non-null, non-NaN, in-range values
    * (rdd.py:2350-2351: out-of-range and null/NaN are silently dropped).
    */
  def binId(x: Column, edges: Seq[Double]): Column = {
    val n = edges.size - 1
    if (n == 1) lit(0)
    else if (isEvenWidth(edges)) {
      val lo = edges.head
      val step = (edges.last - edges.head) / n
      least(floor((x - lit(lo)) / lit(step)), lit(n - 1)).cast("int")
    } else {
      var c = when(x < edges(1), 0)
      for (i <- 2 until n) c = c.when(x < edges(i), i - 1)
      c.otherwise(n - 1).cast("int")
    }
  }

  /** Null/NaN filter (rdd.py:2275-2282) over one column, renamed `x`. */
  private def cleaned(df: DataFrame, colName: String): DataFrame =
    df.select(quoted(colName).cast("double").as("x"))
      .where(col("x").isNotNull && !isnan(col("x")))

  /** A column by its exact name: dots and backticks in it are not parsed. */
  private[dist] def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Histogram of one numeric column. Returns a dense, sorted DataFrame
    * `(bin_id, bin_lo, bin_hi, cnt)`.
    *
    * `range` overrides the data-derived min/max (reference `range=` kwarg);
    * explicit `Bins.Edges` ignores `range` (edges win). Degenerate min==max
    * (or n==1) yields the single closed bucket `[v, v]` (rdd.py:2295-2296).
    * Empty input with derived range raises (rdd.py:2290-2292).
    */
  def histogram(df: DataFrame, colName: String, bins: Bins = Bins.Count(10),
                range: Option[(Double, Double)] = None): DataFrame =
    counted(Seq((df, colName)), Seq("cnt"), bins, range)

  /** Min/max of the double column `x` of `df` in one Spark job (the
    * reference ran 2 collect jobs per series). */
  private[dist] def minMaxOf(df: DataFrame): (Double, Double) = rangeOf(df.select("x"), 1)

  /** The one core of every histogram shape and of [[minMax]]: `df` is
    * planned once and its code-generated rows are read by ONE Spark job, in
    * one SQL execution named "histogram", so the UI and
    * `QueryExecutionListener`s see it. `part` folds each partition into a
    * small local result, and the driver folds those results into `zero`
    * with `merge`, in partition order; an input without partitions gives
    * `zero`. Nothing is shuffled. A second call over the same frame reuses
    * its plan. */
  private def merged[P: ClassTag, R](df: DataFrame, zero: R)(part: Iterator[InternalRow] => P)
                                    (merge: (R, P) => R): R = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("histogram")) {
      val rows = qe.toRdd
      rows.sparkContext.runJob(rows, part).foldLeft(zero)(merge)
    }
  }

  /** Shared range of the first `width` double columns of `df` in ONE job:
    * min of mins / max of maxes, per partition and then on the driver.
    * Nulls are skipped and NaN is excluded (rdd.py:2275-2282): it fails
    * every comparison, so it never becomes a bound. An equal value never
    * replaces a bound (the first of 0.0 and -0.0 is kept, as Spark's
    * `min`/`max` keep it). */
  private def rangeOf(df: DataFrame, width: Int): (Double, Double) = {
    val (lo, hi) = merged(df, (Double.PositiveInfinity, Double.NegativeInfinity)) { it =>
      var (lo, hi) = (Double.PositiveInfinity, Double.NegativeInfinity)
      it.foreach { r =>
        var k = 0
        while (k < width) {
          if (!r.isNullAt(k)) {
            val v = r.getDouble(k)
            if (v < lo) lo = v
            if (v > hi) hi = v
          }
          k += 1
        }
      }
      (lo, hi)
    } { case ((lo, hi), (l, h)) => (if (l < lo) l else lo, if (h > hi) h else hi) }
    if (lo > hi) // no value at all
      throw new IllegalArgumentException("can not generate buckets from empty RDD") // rdd.py:2290-2292
    (lo, hi)
  }

  /** Per-column min and max of the double columns of `df` in ONE job, under
    * Spark's `min`/`max` rules: nulls are skipped, NaN is the greatest
    * value, an equal value never replaces a bound (so the first of 0.0 and
    * -0.0 is kept), and partitions merge in order. A column with no value
    * gives None. */
  private def boundsOf(df: DataFrame): Seq[Option[(Double, Double)]] = {
    val width = df.schema.size
    merged(df, Seq.fill(width)(Option.empty[(Double, Double)])) { it =>
      val (seen, lo, hi) = (new Array[Boolean](width), new Array[Double](width), new Array[Double](width))
      it.foreach { r =>
        var k = 0
        while (k < width) {
          if (!r.isNullAt(k)) {
            val v = r.getDouble(k)
            if (!seen(k)) { seen(k) = true; lo(k) = v; hi(k) = v }
            else {
              if (compareDoubles(lo(k), v) > 0) lo(k) = v
              if (compareDoubles(hi(k), v) < 0) hi(k) = v
            }
          }
          k += 1
        }
      }
      (0 until width).map(k => if (seen(k)) Some((lo(k), hi(k))) else None)
    } { (acc, part) =>
      acc.zip(part).map {
        case (Some((l, h)), Some((pl, ph))) =>
          Some((if (compareDoubles(l, pl) > 0) pl else l, if (compareDoubles(h, ph) < 0) ph else h))
        case (a, p) => a.orElse(p)
      }
    }
  }

  /** Dense counts of the first `slots` double columns of `df` against
    * `edges` in ONE job: slot k's counts are `counts(k * n until (k + 1) * n)`.
    * Each partition fills one `long[slots * n]` through
    * [[bucket]], which drops NaN and
    * out-of-range values, and the driver adds them up (exact long sums);
    * an input without partitions gives dense zeros. */
  private def countsOf(df: DataFrame, slots: Int, edges: Vector[Double]): Array[Long] = {
    val n = edges.size - 1
    val es = edges.toArray
    val step = evenStep(edges)
    merged(df, new Array[Long](slots * n)) { it =>
      val c = new Array[Long](slots * n)
      it.foreach { r =>
        var k = 0
        while (k < slots) {
          if (!r.isNullAt(k)) {
            val b = bucket(r.getDouble(k), es, step)
            if (b >= 0) c(k * n + b) += 1L
          }
          k += 1
        }
      }
      c
    }(addInto)
  }

  /** Adds `part` into `total` and returns it. */
  private def addInto(total: Array[Long], part: Array[Long]): Array[Long] = {
    var i = 0
    while (i < total.length) { total(i) += part(i); i += 1 }
    total
  }

  /** A local DataFrame of `rows`: collecting it runs no job. */
  private[graft] def local(spark: SparkSession, fields: Seq[StructField], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))

  /** A non-nullable output column. */
  private def field(name: String, dt: DataType): StructField = StructField(name, dt, nullable = false)

  /** Multi-series histogram with a SHARED range across all series — the
    * reference's only cross-series interaction (global min of mins / max of
    * maxes unless `range=` given; pyspark_dist_explore.py ~L100-118).
    * Each series is (frame, column, label); explicit edges skip the min/max
    * job, mirroring the reference's `bins=list`. Labels are de-duplicated
    * ([[dedupeLabels]]) and only ever used as output names, so any string
    * is a valid label. Output: (bin_id, bin_lo, bin_hi, <label>_cnt ...),
    * dense, sorted; the count columns follow the series order. */
  def histogramMany(series: Seq[(DataFrame, String, String)], bins: Bins = Bins.Count(10),
                    range: Option[(Double, Double)] = None): DataFrame =
    counted(series.map(s => (s._1, s._2)), dedupeLabels(series.map(_._3)).map(_ + "_cnt"), bins, range)

  /** Multi-column histogram over ONE frame: the reference's
    * `add_data(multi_col_df)` split into per-column series with a SHARED
    * range; all columns share one scan per action, as in
    * [[histogramMany]]. Output: (bin_id, bin_lo, bin_hi, <col>_cnt ...),
    * dense, sorted. */
  def histogramColumns(df: DataFrame, cols: Seq[String], n: Int = 10,
                       range: Option[(Double, Double)] = None): DataFrame =
    counted(cols.map((df, _)), cols.map(_ + "_cnt"), Bins.Count(n), range)

  /** The plan a series reads and the attribute it bins (by exact name): the
    * frame's analyzed plan minus a top projection of plain columns, so
    * `t.select("a")` and `t.select("b")` have the same source. A cached
    * frame keeps its projection, which is what the cache lookup matches. */
  private def sourceOf(df: DataFrame, colName: String): (LogicalPlan, Attribute) = {
    val plan = df.queryExecution.analyzed
    val attr = plan.resolve(Seq(colName), SQLConf.get.resolver) match {
      case Some(a: Attribute) => a
      case _ => throw new IllegalArgumentException(s"no column $colName")
    }
    plan match {
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) &&
          AttributeSet(list).subsetOf(child.outputSet) && df.storageLevel == StorageLevel.NONE =>
        (child, attr)
      case _ => (plan, attr)
    }
  }

  /** The core behind every series-based histogram: `series(i)` is counted
    * into the output column `names(i)`, all over one shared set of edges.
    *
    * Series whose sources ([[sourceOf]]) are equal and deterministic share
    * one union child; each distinct (source, column) is one nullable double
    * slot `s_k`, null in the children of the other sources, and a repeated
    * pair reuses its slot. The union is planned once and its rows read by
    * at most two jobs: [[rangeOf]] for a data-derived range, then
    * [[countsOf]], which drops null, NaN and out-of-range values
    * itself, so the union children carry no filter. The result is a local
    * DataFrame of the dense, sorted bins: `bin_lo`/`bin_hi` are the edges
    * themselves, user-supplied edges verbatim and derived ones as
    * [[equalWidthEdges]] computes them (`i * step + lo`, `hi` last, the
    * oracle's arithmetic), `[v, v]` for the one degenerate bucket. No
    * column of it is nullable. */
  private def counted(series: Seq[(DataFrame, String)], names: Seq[String], bins: Bins,
                      range: Option[(Double, Double)]): DataFrame = {
    require(series.nonEmpty, "at least one series required")
    val located = series.map { case (df, c) => sourceOf(df, c) }
    // a nondeterministic source is read once per series, as it was given
    val srcIdx = located.indices.map { i =>
      val p = located(i)._1
      if (p.deterministic) located.indexWhere(_._1 == p) else i
    }
    val slotKeys = srcIdx.zip(located.map(_._2))
    val slots = slotKeys.distinct
    val spark = series.head._1.sparkSession
    val union = slots.map(_._1).distinct.map { j =>
      Bridge.ofRows(spark, located(j)._1).select(slots.zipWithIndex.map { case ((sj, a), k) =>
        (if (sj == j) Bridge.column(a) else lit(null)).cast("double").as(s"s$k")
      }: _*)
    }.reduce(_ union _)
    val es = edgesOf(bins, range, rangeOf(union, slots.size))
    val counts = countsOf(union, slots.size, es)
    val nb = es.size - 1
    val slotOf = slotKeys.map(slots.indexOf)
    local(spark, binFields ++ names.map(field(_, LongType)), (0 until nb).map { i =>
      Row.fromSeq(Seq[Any](i, es(i), es(i + 1)) ++ slotOf.map(k => counts(k * nb + i)))
    })
  }

  /** `(bin_id, bin_lo, bin_hi)`, the leading columns of a 1-D histogram. */
  private val binFields = Seq(field("bin_id", IntegerType), field("bin_lo", DoubleType), field("bin_hi", DoubleType))

  /** The edges of `bins`: explicit edges, validated; else equal-width ones
    * over `range`, or over the data range `derived` runs one job for. */
  private def edgesOf(bins: Bins, range: Option[(Double, Double)], derived: => (Double, Double)): Vector[Double] =
    bins match {
      case Bins.Edges(e) => validateEdges(e); e.toVector
      case Bins.Count(n) =>
        val (lo, hi) = range.getOrElse(derived)
        require(lo <= hi, s"invalid range [$lo, $hi]")
        equalWidthEdges(lo, hi, n)
    }

  /** Duplicate series names get " (k)" suffixes, mirroring the reference's
    * add_column de-dupe (pyspark_dist_explore.py ~L80-90). */
  private[dist] def dedupeLabels(names: Seq[String]): Seq[String] = {
    // re-check each candidate against everything issued so far: a naive
    // per-name counter can emit a suffix colliding with a USER-SUPPLIED
    // label (e.g. "a", "a (1)", "a" -> two "a (1)" pivot columns)
    val seen = scala.collection.mutable.Set.empty[String]
    names.map { nm =>
      var cand = nm
      var k = 1
      while (seen(cand)) { cand = s"$nm ($k)"; k += 1 }
      seen += cand
      cand
    }
  }

  /** Grouped histogram: shared global range over the whole column (rows
    * with a null group included), counts per (group, bin). Dense over
    * non-null groups × bins, sorted by the group column's Catalyst ordering,
    * then by bin. Output: (<groupCol>, bin_id, cnt).
    *
    * A derived range is one job ([[minMaxOf]]); the counts are one more
    * ([[countsByGroup]]), in which a group whose values are all dropped
    * still gets its zero bins. A group column with a non-binary collation
    * is rejected. */
  def histogramByGroup(df: DataFrame, valueCol: String, groupCol: String, n: Int = 10,
                       range: Option[(Double, Double)] = None): DataFrame = {
    val x = col(valueCol).cast("double")
    val (lo, hi) = range.getOrElse(minMaxOf(df.select(x.as("x"))))
    val grouped = df.select(col(groupCol), x)
    val counts = countsByGroup(grouped, equalWidthEdges(lo, hi, n))
    local(df.sparkSession,
      Seq(StructField(groupCol, grouped.schema.head.dataType), field("bin_id", IntegerType), field("cnt", LongType)),
      counts.flatMap { case (v, c) => c.indices.map(i => Row(v, i, c(i))) })
  }

  /** Dense counts per group against `edges` in ONE job ([[merged]]): the
    * first column of `grouped` is the group, the second the double value.
    * Each partition builds a map from group to a dense `long[n_bins]`
    * (bounded by its distinct groups × n_bins), and the driver adds the
    * maps up and sorts the groups by their Catalyst ordering. Groups compare
    * as Spark's `groupBy` compares them: by their binary form after
    * floating-point normalization (-0.0 is 0.0, every NaN is one NaN). A
    * string with a non-binary collation has no such binary form (`groupBy`
    * compares it by collation key), so a group type holding one is rejected
    * with an error naming it. A null group is skipped; [[bucket]] drops
    * null, NaN and out-of-range values, and a group is dense from its first
    * row. Returns each group's value, as a `Row` holds it, with its counts.
    * [[histogramByGroup]] and `Stats`' pairwise comparators count here. */
  private[dist] def countsByGroup(grouped: DataFrame, edges: Vector[Double]): Seq[(Any, Array[Long])] = {
    val Seq(g, v) = grouped.queryExecution.analyzed.output
    val dt = g.dataType
    require(UnsafeRowUtils.isBinaryStable(dt),
      s"a group column of type ${dt.sql} has a non-binary collation, which this histogram cannot group by; " +
        "cast it to STRING to group by its bytes")
    val (esa, step, nb) = (edges.toArray, evenStep(edges), edges.size - 1)
    val keyed = grouped.select(Bridge.column(Bridge.normalizedFloats(g)), Bridge.column(v))
    val counts = merged(keyed, new java.util.HashMap[UnsafeRow, Array[Long]]) { it =>
      val key = InterpretedUnsafeProjection.createProjection(Seq(BoundReference(0, dt, nullable = true)))
      val m = new java.util.HashMap[UnsafeRow, Array[Long]]
      it.foreach { r =>
        if (!r.isNullAt(0)) {
          val k = key(r)
          var c = m.get(k)
          if (c == null) { c = new Array[Long](nb); m.put(k.copy(), c) }
          if (!r.isNullAt(1)) {
            val b = bucket(r.getDouble(1), esa, step)
            if (b >= 0) c(b) += 1L
          }
        }
      }
      m.asScala.toArray
    } { (total, part) =>
      part.foreach { case (k, c) => Option(total.putIfAbsent(k, c)).foreach(addInto(_, c)) }
      total
    }
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    counts.asScala.toSeq.sortBy(kc => kc._1: InternalRow)(InterpretedOrdering.forSchema(Seq(dt)))
      .map { case (k, c) => (toScala(k.get(0, dt)), c) }
  }

  /** `to_pandas(kind='hist')` label: `"%.2f - %.2f"` over the bin edges
    * (pyspark_dist_explore.py ~L210). Input: any histogram result. */
  def withLabels(hist: DataFrame): DataFrame =
    hist.withColumn("bin_label", format_string("%.2f - %.2f", col("bin_lo"), col("bin_hi")))

  /** `to_pandas(kind='density')` points: bin centers = (e_i + e_{i+1}) / 2
    * (pyspark_dist_explore.py ~L200-230). */
  def densityPoints(hist: DataFrame): DataFrame =
    hist.select(col("bin_id"), ((col("bin_lo") + col("bin_hi")) / 2).as("bin_center"), col("cnt"))
      .orderBy("bin_id")

  /** Equal-frequency (equi-depth) histogram: bin edges at the exact
    * interpolated quantiles 0, 1/n, …, 1 (SQL `percentile` — the same
    * linear-interpolation contract as [[Stats.quantiles]] and DuckDB's
    * `quantile_cont`, so the operator stays oracle-checkable), then the
    * standard explicit-edges binning. Each bin holds ≈ rows/n — the right
    * histogram for heavy-tailed columns where equal-width bins put
    * everything in one bucket.
    *
    * One quantile aggregate (n+1 doubles to the driver), then one
    * counting job ([[histogram]] at explicit edges). The exact
    * percentile buffers the column per partition — at 100 TB compute edges
    * with `approx_percentile` instead (sketch tier, same downstream
    * binning); this is the oracle-checkable verifier tier. Fails fast if
    * edges collide (heavy mass at a single value) — lower `n` there. */
  def histogramEquiDepth(df: DataFrame, colName: String, n: Int = 10): DataFrame = {
    require(n >= 1, "bins must be >= 1")
    val ps = (0 to n).map(_.toDouble / n)
    // starvation-gated spread (r15, guide §2.5): the exact percentile
    // buffers every row map-side; a one-row-group fixture is ONE scan split,
    // so the buffer build ran on 1 of N cores. Multiset-exact — edges are
    // identical under any partitioning; gate off on multi-split inputs.
    quantileBinned(df, colName, graft.functions.Rebalance.spreadGated(cleaned(df, colName), 0)
      .agg(percentile(col("x"), array(ps.map(lit): _*)).as("es")))
  }

  /** The 100 TB tier of [[histogramEquiDepth]]: edges from the
    * Greenwald-Khanna sketch (`approx_percentile` — single pass, mergeable
    * partials, bounded memory) instead of the exact sort-based percentile.
    * Bin populations are approximately equal within the sketch's rank error
    * (n_rows/accuracy); no cross-engine oracle (sketch-specific edges) —
    * property-tested against the exact tier instead. */
  def histogramEquiDepthApprox(df: DataFrame, colName: String, n: Int = 10,
                               accuracy: Int = 10000): DataFrame = {
    require(n >= 1, "bins must be >= 1")
    val ps = (0 to n).map(_.toDouble / n)
    quantileBinned(df, colName, cleaned(df, colName)
      .agg(approx_percentile(col("x"), array(ps.map(lit): _*), lit(accuracy)).as("es")))
  }

  /** The equi-depth tiers' shared tail: `edges`' one row holds the
    * quantile edges (null over no value), which must be distinct; then
    * [[histogram]] at those edges. */
  private def quantileBinned(df: DataFrame, colName: String, edges: DataFrame): DataFrame = {
    val row = edges.head()
    if (row.isNullAt(0))
      throw new IllegalArgumentException("can not generate buckets from empty RDD")
    val es = row.getSeq[Double](0).toVector
    require(es.distinct.size == es.size,
      s"equi-depth edges collide (mass concentrated at one value): $es — reduce n")
    histogram(df, colName, Bins.Edges(es))
  }

  /** Cumulative distribution over a histogram: running count and CDF
    * fraction per bin. Input is any `(bin_id, …, cnt)` histogram result, an
    * already-aggregated n_bins-row frame: its rows are collected (no job
    * for a local histogram), sorted by bin on the driver and summed there
    * exactly. The fraction is Spark's double division of the running count
    * by the total, evaluated on the local rows (so an all-zero histogram
    * gives Spark's division-by-zero result): bit-deterministic. Output: the
    * histogram's columns, then `cum_cnt` and `cdf`. */
  def cdf(hist: DataFrame): DataFrame = {
    val rows = hist.collect().sortBy(_.getAs[Int]("bin_id"))
    val cnt = hist.schema.fieldIndex("cnt")
    val cum = rows.map(_.getLong(cnt)).scanLeft(0L)(_ + _).tail
    local(hist.sparkSession, hist.schema.fields.toSeq :+ StructField("cum_cnt", LongType),
      rows.zip(cum).map { case (r, c) => Row.fromSeq(r.toSeq :+ c) }.toSeq)
      .withColumn("cdf", col("cum_cnt").cast("double") / lit(cum.lastOption.getOrElse(0L).toDouble))
  }

  /** Log-spaced histogram: n geometric bins over [lo, hi] — the right shape
    * for heavy-tailed positive columns (latencies, prices, document sizes)
    * where equal-width bins dump everything into one bucket. Edge i is
    * `exp(ln lo + i·(ln hi − ln lo)/n)` with the first/last edges pinned to
    * the exact lo/hi (absorbing float error, as the even-width path does);
    * binning is the standard explicit-edges bisect. Non-positive values are
    * dropped with nulls/NaNs (log scale is undefined there — documented
    * divergence from the linear drop rule). Two Spark jobs: one for the
    * min/max of the positive values, one for the counts ([[histogram]] at
    * that explicit range). */
  def histogramLog(df: DataFrame, colName: String, n: Int = 10,
                   range: Option[(Double, Double)] = None): DataFrame = {
    require(n >= 1, "bins must be >= 1")
    val positive = cleaned(df, colName).where(col("x") > 0)
    val (lo, hi) = range.getOrElse(minMaxOf(positive))
    require(lo > 0 && lo <= hi, s"log bins need 0 < lo <= hi, got [$lo, $hi]")
    val bins =
      if (lo == hi || n == 1) Bins.Count(1)
      else {
        val (llo, lhi) = (math.log(lo), math.log(hi))
        Bins.Edges((0 to n).map {
          case 0 => lo
          case `n` => hi
          case i => math.exp(llo + i * (lhi - llo) / n)
        })
      }
    histogram(positive, "x", bins, Some((lo, hi)))
  }

  /** 2-D histogram (heatmap grid): joint counts over an `nx × ny` equal-width
    * grid spanning both columns' data ranges (or explicit ranges). Rows where
    * EITHER value is null/NaN/out-of-range are dropped — the 2-D analogue of
    * the rdd.py:2350-2351 drop rule, applied per axis; each axis keeps the
    * closed-last-bucket clamp.
    *
    * Two jobs, one with both ranges given: one for both axes' min/max
    * ([[boundsOf]] over the jointly cleaned rows) and one ([[merged]]) in
    * which each partition fills one `long[nx·ny]` grid that the driver adds
    * up. Degenerate axes (min == max) collapse to a single closed bucket on
    * that axis. Output: (bin_x, bin_y, x_lo, x_hi, y_lo, y_hi, cnt), dense,
    * sorted by (bin_x, bin_y); the edges are [[equalWidthEdges]]'. */
  def histogram2d(df: DataFrame, colX: String, colY: String, nx: Int = 10, ny: Int = 10,
                  rangeX: Option[(Double, Double)] = None,
                  rangeY: Option[(Double, Double)] = None): DataFrame = {
    require(nx >= 1 && ny >= 1, "bins must be >= 1")
    val clean = df.select(col(colX).cast("double").as("x"), col(colY).cast("double").as("y"))
      .where(col("x").isNotNull && !isnan(col("x")) && col("y").isNotNull && !isnan(col("y")))
    val ((xlo, xhi), (ylo, yhi)) = (rangeX, rangeY) match {
      case (Some(rx), Some(ry)) => (rx, ry)
      case _ =>
        val Seq(bx, by) = boundsOf(clean)
        if (bx.isEmpty) throw new IllegalArgumentException("can not generate buckets from empty RDD")
        (rangeX.getOrElse(bx.get), rangeY.getOrElse(by.get))
    }
    require(xlo <= xhi && ylo <= yhi, s"invalid ranges [$xlo,$xhi] [$ylo,$yhi]")
    val (xes, yes) = (equalWidthEdges(xlo, xhi, nx), equalWidthEdges(ylo, yhi, ny))
    val (nxe, nye) = (xes.size - 1, yes.size - 1)
    val (xa, xs, ya, ys) = (xes.toArray, evenStep(xes), yes.toArray, evenStep(yes))
    val counts = merged(clean, new Array[Long](nxe * nye)) { it =>
      val c = new Array[Long](nxe * nye)
      it.foreach { r =>
        val (bx, by) = (bucket(r.getDouble(0), xa, xs), bucket(r.getDouble(1), ya, ys))
        if (bx >= 0 && by >= 0) c(bx * nye + by) += 1L
      }
      c
    }(addInto)
    local(df.sparkSession, Seq(field("bin_x", IntegerType), field("bin_y", IntegerType)) ++
      Seq("x_lo", "x_hi", "y_lo", "y_hi").map(field(_, DoubleType)) :+ field("cnt", LongType),
      for (i <- 0 until nxe; j <- 0 until nye)
        yield Row(i, j, xes(i), xes(i + 1), yes(j), yes(j + 1), counts(i * nye + j)))
  }

  /** Weighted histogram: per bin, the row count AND the exact sum of a weight
    * column (revenue per price band, bytes per latency bucket, token mass per
    * doc-length bin, …). The value column follows the full §2.3 drop rules;
    * rows with a null/NaN weight still count in `cnt` but contribute nothing
    * to `wsum` (documented asymmetry — the row exists, its weight doesn't).
    *
    * Each weight is cast to `decimal(28,6)` in the planned projection (Spark's
    * own cast) and the casts add up exactly, so the sum is independent of
    * partitioning and order; it is surfaced as a double (0.0 for a bin with
    * no weight). A derived range is one job ([[minMaxOf]]); the counts and
    * sums are one more ([[merged]]), each partition filling n_bins counts
    * and decimal sums that the driver adds up. Output: (bin_id, bin_lo,
    * bin_hi, cnt, wsum), dense, sorted. */
  def histogramWeighted(df: DataFrame, colName: String, weightCol: String,
                        bins: Bins = Bins.Count(10),
                        range: Option[(Double, Double)] = None): DataFrame = {
    val w = col(weightCol).cast("double")
    val clean = df.select(col(colName).cast("double").as("x"), when(!isnan(w), w).cast("decimal(28,6)").as("w"))
      .where(col("x").isNotNull && !isnan(col("x")))
    val es = edgesOf(bins, range, minMaxOf(clean))
    val (esa, step, n) = (es.toArray, evenStep(es), es.size - 1)
    val (cnt, wsum) = merged(clean, (new Array[Long](n), Array.fill(n)(java.math.BigDecimal.ZERO))) { it =>
      val (c, s) = (new Array[Long](n), Array.fill(n)(java.math.BigDecimal.ZERO))
      it.foreach { r =>
        val b = bucket(r.getDouble(0), esa, step)
        if (b >= 0) {
          c(b) += 1L
          if (!r.isNullAt(1)) s(b) = s(b).add(r.getDecimal(1, 28, 6).toJavaBigDecimal)
        }
      }
      (c, s)
    } { case ((c, s), (pc, ps)) =>
      for (i <- 0 until n) s(i) = s(i).add(ps(i))
      (addInto(c, pc), s)
    }
    local(df.sparkSession, binFields ++ Seq(field("cnt", LongType), field("wsum", DoubleType)),
      (0 until n).map(i => Row(i, es(i), es(i + 1), cnt(i), wsum(i).doubleValue)))
  }

  /** Min/max over several columns of one frame in ONE Spark job — the
    * reference ran 2 collect jobs PER series (SURVEY.md §3 step 2). Each
    * column is cast to double and follows Spark's `min`/`max` ([[boundsOf]]):
    * NaN is the greatest value (a histogram's range skips NaN instead,
    * [[rangeOf]]) and a column with no value gives null. Output: one local
    * row (<col>_min, <col>_max, …). */
  def minMax(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    val bounds = boundsOf(df.select(cols.map(c => col(c).cast("double")): _*))
    local(df.sparkSession, cols.flatMap(c => Seq(s"${c}_min", s"${c}_max").map(StructField(_, DoubleType))),
      Seq(Row.fromSeq(bounds.flatMap(_.fold(Seq[Any](null, null)) { case (lo, hi) => Seq(lo, hi) }))))
  }
}
