package graft.dist

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.HistogramAgg

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
  * Design (SURVEY.md §3/§4): every series-based entry point
  * ([[Binning.histogram]], [[Binning.histogramManyBins]],
  * [[Binning.histogramColumns]], [[Binning.histogramLog]],
  * [[Histogram.build]]) runs on one core: series that read the same source
  * share one scan, and each distinct (source, column) is one nullable double
  * slot of a union. The union is planned and code-generated once; its rows
  * are then read in rdd.py's own shape (rdd.py:2347-2366, `mapPartitions`
  * plus a driver-side merge): one job for a data-derived range and one job
  * of one dense `long[n_bins]` count vector per slot and partition, both
  * merged on the driver with no shuffle. So a histogram is 2 Spark jobs
  * for any number of series, 1 with an explicit range or edges (each
  * Catalyst global aggregate would be 2 under AQE: a shuffle-map job plus a
  * result job); `HistogramJobContractSpec` checks both budgets at 1, 4 and
  * 16 series. The result is built eagerly, like the reference's `build()`:
  * a small local DataFrame whose collection runs no job.
  */
object Binning {

  /** Output schema of every histogram: (bin_id INT, bin_lo DOUBLE,
    * bin_hi DOUBLE, cnt BIGINT), dense (zero-count bins present), sorted. */
  val schemaDoc: String = "(bin_id INT, bin_lo DOUBLE, bin_hi DOUBLE, cnt BIGINT)"

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

  /** Bin-id expression for a value column against fixed edges.
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

  /** Dense spine of bin ids 0..n-1 (tiny; the post-agg join against it is a
    * broadcast over at most n rows — never a scale concern). */
  private def spine(df: DataFrame, n: Int): DataFrame =
    df.sparkSession.range(n).select(col("id").cast("int").as("bin_id"))

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
  private[dist] def minMaxOf(df: DataFrame): (Double, Double) = executed(df.select("x"))(rangeOf(_, 1))

  /** Runs `body` over the code-generated rows of `df` as one SQL execution
    * named "histogram", so the UI and `QueryExecutionListener`s see the
    * jobs it runs; `df` is planned once however many jobs `body` runs. */
  private def executed[T](df: DataFrame)(body: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("histogram"))(body(qe.toRdd))
  }

  /** Shared range of the first `width` double columns of `rows` in ONE job:
    * min of mins / max of maxes, per partition and then on the driver in
    * partition order. Nulls are skipped and NaN is excluded
    * (rdd.py:2275-2282): it fails every comparison, so it never becomes a
    * bound. An equal value never replaces a bound (the first of 0.0 and
    * -0.0 is kept, as Spark's `min`/`max` keep it). */
  private def rangeOf(rows: RDD[InternalRow], width: Int): (Double, Double) = {
    val bounds = rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
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
    })
    val (lo, hi) = bounds.foldLeft((Double.PositiveInfinity, Double.NegativeInfinity)) {
      case ((lo, hi), (l, h)) => (if (l < lo) l else lo, if (h > hi) h else hi)
    }
    if (lo > hi) // no value at all
      throw new IllegalArgumentException("can not generate buckets from empty RDD") // rdd.py:2290-2292
    (lo, hi)
  }

  /** Dense counts of the first `slots` double columns of `rows` against
    * `edges` in ONE job: slot k's counts are `counts(k * n until (k + 1) * n)`.
    * Each partition fills one `long[slots * n]` through
    * [[graft.functions.HistogramAgg.bucket]], which drops NaN and
    * out-of-range values. The driver adds each task's vector into one
    * total that starts at zeros as the task finishes (exact long sums, so
    * the order does not matter and only one vector is held), and an input
    * without partitions gives dense zeros. */
  private def countsOf(rows: RDD[InternalRow], slots: Int, edges: Vector[Double]): Array[Long] = {
    val n = edges.size - 1
    val es = edges.toArray
    val step = HistogramAgg.evenStep(edges)
    val total = new Array[Long](slots * n)
    rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val c = new Array[Long](slots * n)
      it.foreach { r =>
        var k = 0
        while (k < slots) {
          if (!r.isNullAt(k)) {
            val b = HistogramAgg.bucket(r.getDouble(k), es, step)
            if (b >= 0) c(k * n + b) += 1L
          }
          k += 1
        }
      }
      c
    }, (_: Int, c: Array[Long]) => {
      var i = 0
      while (i < total.length) { total(i) += c(i); i += 1 }
    })
    total
  }

  /** Same output as [[histogram]], which already counts in one
    * [[graft.functions.HistogramAgg]] aggregate. */
  def histogramOnePass(df: DataFrame, colName: String, bins: Bins = Bins.Count(10),
                       range: Option[(Double, Double)] = None): DataFrame =
    histogram(df, colName, bins, range)

  /** Multi-series histogram with a SHARED range across all series — the
    * reference's only cross-series interaction (global min of mins / max of
    * maxes unless `range=` given; pyspark_dist_explore.py ~L100-118).
    * Output: (bin_id, bin_lo, bin_hi, <label>_cnt ...), dense, sorted; the
    * count columns follow the series order. */
  def histogramMany(series: Seq[(DataFrame, String, String)], n: Int = 10,
                    range: Option[(Double, Double)] = None): DataFrame =
    histogramManyBins(series, Bins.Count(n), range)

  /** [[histogramMany]] generalized to any [[Bins]] spec (explicit edges skip
    * the min/max job, mirroring the reference's `bins=list`). Labels
    * are de-duplicated ([[dedupeLabels]]) and only ever used as output
    * names, so any string is a valid label. */
  def histogramManyBins(series: Seq[(DataFrame, String, String)], bins: Bins,
                        range: Option[(Double, Double)] = None): DataFrame =
    counted(series.map(s => (s._1, s._2)), dedupeLabels(series.map(_._3)).map(_ + "_cnt"), bins, range)

  /** Multi-column histogram over ONE frame: the reference's
    * `add_data(multi_col_df)` split into per-column series with a SHARED
    * range; all columns share one scan per action, as in
    * [[histogramManyBins]]. Output: (bin_id, bin_lo, bin_hi, <col>_cnt ...),
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
    * at most two jobs in one SQL execution: [[rangeOf]] for a data-derived
    * range, then [[countsOf]], which drops null, NaN and out-of-range values
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
    val (es, counts) = executed(union) { rows =>
      val es: Vector[Double] = bins match {
        case Bins.Edges(e) => validateEdges(e); e.toVector
        case Bins.Count(n) =>
          val (lo, hi) = range.getOrElse(rangeOf(rows, slots.size))
          require(lo <= hi, s"invalid range [$lo, $hi]")
          equalWidthEdges(lo, hi, n)
      }
      (es, countsOf(rows, slots.size, es))
    }
    val nb = es.size - 1
    val slotOf = slotKeys.map(slots.indexOf)
    val out = (0 until nb).map { i =>
      Row.fromSeq(Seq[Any](i, es(i), es(i + 1)) ++ slotOf.map(k => counts(k * nb + i)))
    }
    val schema = StructType(Seq(StructField("bin_id", IntegerType, nullable = false),
      StructField("bin_lo", DoubleType, nullable = false), StructField("bin_hi", DoubleType, nullable = false)) ++
      names.map(StructField(_, LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
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
    * non-null groups × bins.
    *
    * One grouped aggregate of one [[graft.functions.HistogramAgg]] vector
    * per group — the shuffle carries n_groups fixed-width count vectors
    * instead of n_groups × n_bins rows. `hist_counts` drops null, NaN and
    * out-of-range values and counts the degenerate `[v, v]` bucket, and
    * every group's buffer is dense from its first row, so a group whose
    * values are all dropped still gets its zero bins. */
  def histogramByGroup(df: DataFrame, valueCol: String, groupCol: String, n: Int = 10,
                       range: Option[(Double, Double)] = None): DataFrame = {
    val x = col(valueCol).cast("double")
    val (lo, hi) = range.getOrElse(minMaxOf(df.select(x.as("x"))))
    val es = equalWidthEdges(lo, hi, n)
    df.where(col(groupCol).isNotNull).groupBy(col(groupCol).as("grp"))
      .agg(HistogramAgg.hist_counts(x, es).as("cnts"))
      .select(col("grp").as(groupCol), posexplode(col("cnts")).as(Seq("bin_id", "cnt")))
      .orderBy(groupCol, "bin_id")
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
    val row = graft.functions.Rebalance.spreadGated(cleaned(df, colName), 0)
      .agg(percentile(col("x"), array(ps.map(lit): _*)).as("es")).head()
    if (row.isNullAt(0))
      throw new IllegalArgumentException("can not generate buckets from empty RDD")
    val edges = row.getSeq[Double](0).toVector
    require(edges.distinct.size == edges.size,
      s"equi-depth edges collide (mass concentrated at one value): $edges — reduce n")
    histogram(df, colName, Bins.Edges(edges))
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
    val row = cleaned(df, colName)
      .agg(approx_percentile(col("x"), array(ps.map(lit): _*), lit(accuracy)).as("es")).head()
    if (row.isNullAt(0))
      throw new IllegalArgumentException("can not generate buckets from empty RDD")
    val edges = row.getSeq[Double](0).toVector
    require(edges.distinct.size == edges.size,
      s"equi-depth edges collide (mass concentrated at one value): $edges — reduce n")
    histogram(df, colName, Bins.Edges(edges))
  }

  /** Cumulative distribution over a histogram: running count and CDF
    * fraction per bin. Input is any `(bin_id, …, cnt)` histogram result —
    * an ALREADY-AGGREGATED n_bins-row frame — so the single-partition window
    * is O(n_bins) driver-adjacent work, not a data-scale sort (the
    * `partitionBy(lit(0))` keeps Spark from logging the no-partition
    * warning). The fraction is an exact-integer running sum over an exact
    * total with one double division per bin: bit-deterministic. */
  def cdf(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val run = Window.partitionBy(lit(0)).orderBy("bin_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist.withColumn("cum_cnt", sum(col("cnt")).over(run))
      .withColumn("cdf", col("cum_cnt").cast("double") / sum(col("cnt")).over(all).cast("double"))
      .orderBy("bin_id")
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
    * Two actions: one combined min/max agg for both axes, one counting
    * pass (`groupBy(bin_x, bin_y)` hash-agg — shuffle of
    * at most nx × ny rows), then a dense-grid spine join (tiny broadcast).
    * Degenerate axes (min == max) collapse to a single closed bucket on that
    * axis. Output: (bin_x, bin_y, x_lo, x_hi, y_lo, y_hi, cnt), dense,
    * sorted by (bin_x, bin_y). */
  def histogram2d(df: DataFrame, colX: String, colY: String, nx: Int = 10, ny: Int = 10,
                  rangeX: Option[(Double, Double)] = None,
                  rangeY: Option[(Double, Double)] = None): DataFrame = {
    require(nx >= 1 && ny >= 1, "bins must be >= 1")
    val clean = df.select(col(colX).cast("double").as("x"), col(colY).cast("double").as("y"))
      .where(col("x").isNotNull && !isnan(col("x")) && col("y").isNotNull && !isnan(col("y")))
    val (xlo, xhi, ylo, yhi) = (rangeX, rangeY) match {
      case (Some((a, b)), Some((c, dd))) => (a, b, c, dd)
      case _ =>
        val r = clean.agg(min("x"), max("x"), min("y"), max("y")).head()
        if (r.isNullAt(0))
          throw new IllegalArgumentException("can not generate buckets from empty RDD")
        (rangeX.map(_._1).getOrElse(r.getDouble(0)), rangeX.map(_._2).getOrElse(r.getDouble(1)),
          rangeY.map(_._1).getOrElse(r.getDouble(2)), rangeY.map(_._2).getOrElse(r.getDouble(3)))
    }
    require(xlo <= xhi && ylo <= yhi, s"invalid ranges [$xlo,$xhi] [$ylo,$yhi]")
    val (nxe, nye) = (if (xlo == xhi) 1 else nx, if (ylo == yhi) 1 else ny)
    val xes = equalWidthEdges(xlo, xhi, nxe)
    val yes = equalWidthEdges(ylo, yhi, nye)
    val inRange = clean.where(col("x") >= lit(xlo) && col("x") <= lit(xhi) &&
      col("y") >= lit(ylo) && col("y") <= lit(yhi))
    val counts = inRange
      .groupBy(binId(col("x"), xes).as("bin_x"), binId(col("y"), yes).as("bin_y"))
      .agg(count(lit(1)).as("cnt"))
    val grid = df.sparkSession.range(nxe).select(col("id").cast("int").as("bin_x"))
      .crossJoin(df.sparkSession.range(nye).select(col("id").cast("int").as("bin_y")))
    // equalWidthEdges computes exactly i*step+lo, so echoing the driver-side
    // vectors via element_at literals is bit-identical to the oracle formula
    def edgeCols(b: Column, es: Vector[Double], loN: String, hiN: String) = Seq(
      element_at(typedLit(es.dropRight(1)), b + 1).as(loN),
      element_at(typedLit(es.drop(1)), b + 1).as(hiN))
    grid.join(counts, Seq("bin_x", "bin_y"), "left")
      .na.fill(0L, Seq("cnt"))
      .select(Seq(col("bin_x"), col("bin_y")) ++
        edgeCols(col("bin_x"), xes, "x_lo", "x_hi") ++
        edgeCols(col("bin_y"), yes, "y_lo", "y_hi") ++ Seq(col("cnt")): _*)
      .orderBy("bin_x", "bin_y")
  }

  /** Weighted histogram: per bin, the row count AND the exact sum of a weight
    * column (revenue per price band, bytes per latency bucket, token mass per
    * doc-length bin, …). The value column follows the full §2.3 drop rules;
    * rows with a null/NaN weight still count in `cnt` but contribute nothing
    * to `wsum` (documented asymmetry — the row exists, its weight doesn't).
    *
    * The weight sum aggregates as `decimal(28,6)` casts so it is
    * order-independent under any partitioning (double summation would drift
    * with the shuffle schedule), surfaced as a double. A derived range is one job
    * ([[minMaxOf]]); the counts are one grouped aggregate, an n_bins-row
    * shuffle. Output: (bin_id, bin_lo,
    * bin_hi, cnt, wsum), dense, sorted. */
  def histogramWeighted(df: DataFrame, colName: String, weightCol: String,
                        bins: Bins = Bins.Count(10),
                        range: Option[(Double, Double)] = None): DataFrame = {
    val clean = df.select(col(colName).cast("double").as("x"),
        col(weightCol).cast("double").as("w"))
      .where(col("x").isNotNull && !isnan(col("x")))
    val es: Vector[Double] = bins match {
      case Bins.Edges(e) => validateEdges(e); e.toVector
      case Bins.Count(n) =>
        val (lo, hi) = range.getOrElse(minMaxOf(clean))
        require(lo <= hi, s"invalid range [$lo, $hi]")
        if (lo == hi || n == 1) Vector(lo, hi) else equalWidthEdges(lo, hi, n)
    }
    val n = es.size - 1
    val wsum = sum(when(!isnan(col("w")), col("w")).cast("decimal(28,6)"))
      .cast("double").as("wsum")
    val inRange = clean.where(col("x") >= lit(es.head) && col("x") <= lit(es.last))
    val counts = inRange
      .groupBy(binId(col("x"), es).as("bin_id"))
      .agg(count(lit(1)).as("cnt"), wsum)
    spine(clean, n).join(counts, Seq("bin_id"), "left")
      .na.fill(0L, Seq("cnt")).na.fill(0.0, Seq("wsum"))
      .select(col("bin_id"),
        element_at(typedLit(es.dropRight(1)), col("bin_id") + 1).as("bin_lo"),
        element_at(typedLit(es.drop(1)), col("bin_id") + 1).as("bin_hi"),
        col("cnt"), col("wsum"))
      .orderBy("bin_id")
  }

  /** Min/max over several columns of one frame in one combined aggregate —
    * the reference ran 2 collect jobs PER series (SURVEY.md §3 step 2). It
    * stays a Spark aggregate (2 jobs under AQE) because it returns Spark's
    * `min`/`max`, where NaN is the greatest value; a histogram's range
    * skips NaN instead ([[rangeOf]]). */
  def minMax(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"${c}_min"),
      max(col(c).cast("double")).as(s"${c}_max")))
    df.agg(aggs.head, aggs.tail: _*)
  }
}
