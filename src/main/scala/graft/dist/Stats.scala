package graft.dist

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, LongType, StructField}

/** Column-statistics operators beyond histograms: quantiles and distinct
  * counts, each in an exact tier and a sketch tier.
  *
  * The two-tier pattern mirrors the dedup/ANN design: the exact tier is the
  * small-N verifier with a cross-engine oracle; the sketch tier is the
  * 100 TB path — single-pass, mergeable partial states (map-side combine),
  * bounded memory per group — at the cost of engine-specific results that
  * are property-tested against the exact tier instead of oracle-compared. */
object Stats {

  /** Exact interpolated quantiles (SQL `percentile`, linear interpolation —
    * the same contract as DuckDB's `quantile_cont`). One aggregate buffers
    * the column per group: correct and oracle-checkable, but memory is O(n)
    * per group, so this is the verifier tier; use [[quantilesApprox]] at
    * scale. */
  def quantiles(df: DataFrame, colName: String, ps: Seq[Double]): DataFrame =
    // starvation-gated spread of the single value column (r15, guide §2.5):
    // percentile buffers every row map-side, and a one-row-group fixture
    // arrives as ONE scan split, so without this the whole buffer build ran
    // on 1 of N cores. Gate never fires on multi-split inputs; percentile
    // over the full multiset is partitioning-invariant, results unchanged.
    quantileCols(
      graft.functions.Rebalance.spreadGated(df.select(col(colName)), 0),
      percentile(col(colName).cast("double"), array(ps.map(lit): _*)), ps)

  /** Approximate quantiles (Greenwald-Khanna sketch): single pass, mergeable
    * partials, worst-case rank error n/accuracy — the scale tier. Results
    * are sketch-algorithm-specific (no cross-engine oracle); property-tested
    * against [[quantiles]]. */
  def quantilesApprox(df: DataFrame, colName: String, ps: Seq[Double],
                      accuracy: Int = 10000): DataFrame =
    quantileCols(df,
      approx_percentile(col(colName).cast("double"), array(ps.map(lit): _*), lit(accuracy)), ps)

  /** KLL-sketch quantiles (DataSketches, built into Spark 4): the modern
    * mergeable alternative to GK — provable worst-case rank error
    * (~1.7%/k·√log... ε ≈ 2.4/k for the default k=200; k=800 here gives
    * ε < 0.4% rank error) at a few KB of state per partial, single pass,
    * order-insensitive merges. Prefer this tier at 100 TB when quantiles
    * feed downstream binning rather than an audit: the sketch is a fixed
    * few-KB object per partition regardless of data volume, and partials
    * merge associatively so a 1000-executor tree reduce is exact-cost-free.
    * Sketch-algorithm-specific output (no cross-engine oracle);
    * rank-error property-tested against [[quantiles]] in StatsSpec. */
  def quantilesKll(df: DataFrame, colName: String, ps: Seq[Double],
                   k: Int = 800): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    val sk = df.select(col(colName).cast("double").as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
      .agg(kll_sketch_agg_double(col("v"), lit(k)).as("sk"))
    sk.select(ps.map(p =>
      kll_sketch_get_quantile_double(col("sk"), lit(p)).as(s"p${(p * 100).round}")): _*)
  }

  private def quantileCols(df: DataFrame, agg: Column, ps: Seq[Double]): DataFrame = {
    // percentile/approx_percentile are TypedImperativeAggregates — plan
    // them on the ObjectHashAggregate hash path even on a vanilla session
    // (r14 verdict #1: no graft facade in this tree to deliver the tuning)
    graft.functions.SessionTuning.ensureActiveSession()
    val arr = df.agg(agg.as("qs"))
    arr.select(ps.zipWithIndex.map { case (p, i) =>
      element_at(col("qs"), i + 1).as(s"p${(p * 100).round}")
    }: _*)
  }

  /** One group's (value, total count, dense counts) over the comparators' grid. */
  private type GroupHist = (Any, Long, Array[Long])

  /** Shared first half of the pairwise-histogram comparators
    * ([[distributionDistance]], [[psiMatrix]]): each group's count vector
    * over a common equal-width grid, counted by Binning's grouped
    * driver-merge ([[Binning.countsByGroup]]: one job, no shuffle, groups
    * compared as `groupBy` compares them). Returns the group's output field
    * and one driver-held (grp, tot, cnts) per group with at least one
    * in-range value, sorted by the group column's Catalyst ordering. */
  private def groupHistPairs(df: DataFrame, valueCol: String, groupCol: String,
                             n: Int, range: Option[(Double, Double)],
                             measure: String): (StructField, Seq[GroupHist]) = {
    val clean = df.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("x"))
      .where(col("grp").isNotNull && col("x").isNotNull && !isnan(col("x")))
    val (lo, hi) = range.getOrElse(Binning.minMaxOf(clean))
    require(hi > lo, s"degenerate range [$lo, $hi]: all values equal, every pairwise $measure is 0")
    val es = Binning.equalWidthEdges(lo, hi, n)
    val inRange = clean.where(col("x") >= lit(lo) && col("x") <= lit(hi))
    (inRange.schema.head, Binning.countsByGroup(inRange, es).map { case (g, c) => (g, c.sum, c) })
  }

  /** One local row per group pair a < b of `hists` (in their order, so
    * sorted by (grp_a, grp_b)): the two groups, then `measures(a, b)` as
    * the (nullable) `fields`. */
  private def pairwise(df: DataFrame, grp: StructField, hists: Seq[GroupHist],
                       fields: Seq[(String, DataType)])(measures: (GroupHist, GroupHist) => Seq[Any]): DataFrame = {
    val hs = hists.toIndexedSeq
    val rows = for (i <- hs.indices; j <- i + 1 until hs.size)
      yield Row.fromSeq(hs(i)._1 +: hs(j)._1 +: measures(hs(i), hs(j)))
    Binning.local(df.sparkSession, Seq(grp.copy(name = "grp_a"), grp.copy(name = "grp_b")) ++
      fields.map { case (name, dt) => StructField(name, dt) }, rows)
  }

  /** `|x·tb − y·ta|`, exact. */
  private def crossDiff(x: Long, tb: Long, y: Long, ta: Long): BigInt = (BigInt(x) * tb - BigInt(y) * ta).abs

  /** Pairwise total-variation distance between per-group value
    * distributions: bin the column over ONE shared global range
    * (equal-width, same semantics as [[Binning.histogramByGroup]]), then for
    * every group pair (a < b) compute
    * `TVD = 0.5 * Σ_i |cntA_i/totA - cntB_i/totB|` and the (binned)
    * Kolmogorov–Smirnov statistic `KS = max_i |CDF_A(i) - CDF_B(i)|` — the
    * standard "how different are these two histograms" measures a curation
    * pass uses to compare sources/shards.
    *
    * Scale + determinism shape: a derived range is one job and the per-group
    * counts one more ([[groupHistPairs]]); the pairs are computed on the
    * driver over the n_groups count vectors and returned as a local frame
    * whose collection runs no job. The per-bin terms are exact integers
    * (`|cntA*totB - cntB*totA|`, and the same over the prefix sums for KS),
    * summed exactly and converted to double through Spark's `Decimal` with
    * a single double division at the end, so results are bit-deterministic
    * and oracle-checkable. Bounded by group cardinality: fine for
    * categorical group columns (≤ ~1000 groups, ~500k pairs); a
    * million-group comparison would want a distributed pair join instead.
    * A group column with a non-binary collation is rejected. */
  def distributionDistance(df: DataFrame, valueCol: String, groupCol: String,
                           n: Int = 10,
                           range: Option[(Double, Double)] = None): DataFrame = {
    val (grp, hists) = groupHistPairs(df, valueCol, groupCol, n, range, "TVD")
    pairwise(df, grp, hists, Seq("tvd" -> DoubleType, "ks" -> DoubleType)) { case ((_, ta, a), (_, tb, b)) =>
      var (sum, ks, ca, cb) = (BigInt(0), BigInt(0), 0L, 0L)
      for (i <- a.indices) {
        sum += crossDiff(a(i), tb, b(i), ta)
        ca += a(i); cb += b(i)
        ks = ks.max(crossDiff(ca, tb, cb, ta))
      }
      Seq(Decimal(sum).toDouble / (2.0 * ta.toDouble * tb.toDouble),
        Decimal(ks).toDouble / (ta.toDouble * tb.toDouble))
    }
  }

  /** Pairwise Population Stability Index — the ML-ops drift metric
    * (`PSI = Σ_i (p_i − q_i)·ln(p_i/q_i)`, conventional reading: <0.1
    * stable, 0.1–0.25 moderate shift, >0.25 drifted) over the same
    * shared-grid group histograms as [[distributionDistance]], computed on
    * the driver into a local frame the same way. Bin shares are
    * Laplace-smoothed (`(cnt + eps)/(tot + n·eps)`) so empty bins cannot
    * produce ln(0).
    *
    * Determinism contract: ln() is transcendental, so unlike TVD/KS the
    * per-bin terms cannot be exact decimals. Each TERM is rounded to 9
    * decimals (Spark's `round`), cast to DECIMAL(19,9) and summed as exact
    * DECIMAL(28,9) — the rounding is part of the operator's definition,
    * making the result independent of bin summation order and reproducible
    * cross-engine. The ln is `StrictMath.log`, the one Spark's `log`
    * evaluates. */
  def psiMatrix(df: DataFrame, valueCol: String, groupCol: String,
                n: Int = 10, range: Option[(Double, Double)] = None,
                eps: Double = 0.5): DataFrame = {
    require(eps > 0, "eps must be > 0 (smoothing guards ln(0))")
    val (grp, hists) = groupHistPairs(df, valueCol, groupCol, n, range, "PSI")
    val smoothing = n * eps
    pairwise(df, grp, hists, Seq("n_a" -> LongType, "n_b" -> LongType, "psi" -> DoubleType)) {
      case ((_, ta, a), (_, tb, b)) =>
        var sum = java.math.BigDecimal.ZERO
        for (i <- a.indices) {
          val pa = (a(i).toDouble + eps) / (ta.toDouble + smoothing)
          val qb = (b(i).toDouble + eps) / (tb.toDouble + smoothing)
          val term = Decimal(graft.functions.LitTopCents.sparkRound((pa - qb) * StrictMath.log(pa / qb), 9))
          require(term.changePrecision(19, 9), s"PSI term $term overflows decimal(19,9)")
          sum = sum.add(term.toJavaBigDecimal)
        }
        Seq[Any](ta, tb, Decimal(sum).toDouble)
    }
  }

  /** Per-group z-score outliers: standardize `valueCol` against its group's
    * mean/variance and keep rows with `|z| >= zThresh`.
    *
    * The moments are exact: `sum(x)` and `sum(x²)` as DECIMAL(30,8)
    * aggregates (order-independent, unlike double summation), one double
    * division each at the end, `var = E[x²] - E[x]²` (population). The
    * per-group moment frame is tiny and explicitly broadcast, so the join
    * back adds no shuffle — at 100 TB this is two linear scans (slim agg +
    * filter), the minimum for any "compare each row to its group's
    * statistics" operator. z is rounded to 9 decimals so the filter edge is
    * engine-stable. */
  def zscoreOutliers(df: DataFrame, valueCol: String, groupCol: String,
                     zThresh: Double = 1.5, keepCols: Seq[String] = Nil): DataFrame = {
    val x = col(valueCol).cast("double")
    val clean = df.where(x.isNotNull && !isnan(x))
    val dec = "decimal(30,8)"
    val moments = clean.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n"),
        sum(x.cast(dec)).as("s1"),
        sum((x * x).cast(dec)).as("s2"))
      .select(col(groupCol),
        (col("s1").cast("double") / col("n")).as("mean"),
        ((col("s2").cast("double") / col("n"))
          - (col("s1").cast("double") / col("n")) * (col("s1").cast("double") / col("n")))
          .as("variance"))
    // zero-variance groups have no outliers (ANSI mode would raise
    // DIVIDE_BY_ZERO; DuckDB would yield NaN — a null z is dropped by the
    // threshold filter in both engines)
    val z = when(col("variance") > 0,
      round((x - col("mean")) / sqrt(col("variance")), 9))
    clean.join(broadcast(moments), Seq(groupCol))
      .withColumn("z", z)
      .where(abs(col("z")) >= lit(zThresh))
      .select((keepCols.map(col) :+ col(groupCol) :+ x.as(valueCol) :+ col("z")): _*)
  }

  /** Per-group exact WEIGHTED quantile: the smallest value whose cumulative
    * weight reaches `p` of the group's total weight (the lower weighted
    * quantile — no interpolation, so the answer is always an observed
    * value). Weights accumulate as DECIMAL(18,6): the cumulative sums, the
    * totals, and the `cum >= tot*p` threshold test are all exact under any
    * partitioning, making the result bit-deterministic and cross-engine
    * oracle-checkable — a double cumsum would make rows near the threshold
    * flip with summation order. The cumulative window uses Spark's default
    * RANGE frame, so tied values share one cumulative weight (the sum
    * through the whole tie group) — which is exactly what makes the
    * qualifying set, and hence `min(v)`, independent of intra-tie row
    * order. This is the exact tier: one per-group sort (the same cost shape
    * as [[quantilesBy]]); at 100 TB per-group state use the KLL sketch
    * sibling [[quantilesKllBy]] on pre-weighted expansion or accept
    * unweighted ranks. */
  def weightedQuantileBy(df: DataFrame, valueCol: String, weightCol: String,
                         groupCol: String, p: Double = 0.5,
                         outCol: String = "wq"): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"p must be in (0,1], got $p")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    val base = df
      .where(v.isNotNull && !isnan(v) && col(weightCol).isNotNull)
      .select(col(groupCol), v.as("__v"),
        col(weightCol).cast("decimal(18,6)").as("__wt"))
    val cumW = Window.partitionBy(groupCol).orderBy("__v") // RANGE: ties share cum
    val totW = Window.partitionBy(groupCol)
    base
      .withColumn("__cum", sum(col("__wt")).over(cumW))
      .withColumn("__tot", sum(col("__wt")).over(totW))
      // BigDecimal(p.toString), NOT BigDecimal(p): the Double constructor
      // expands the binary double to 34 significant digits, so for p not
      // binary-exact (0.1, 0.3) the threshold would differ from the decimal
      // literal an oracle writes (`tot * 0.1`) and boundary rows could flip
      .where(col("__cum") >= col("__tot") * lit(BigDecimal(p.toString)))
      .groupBy(groupCol).agg(min(col("__v")).as(outCol))
      .orderBy(groupCol)
  }

  /** The 100 TB sketch tier of [[weightedQuantileBy]]: a binned weighted
    * quantile. One light pass takes the global value range (driver state =
    * 2 doubles), one aggregation pass sums weights per (group, bin) —
    * the shuffle carries at most |groups|·nBins slim decimal rows, never
    * the data — and the cumulative threshold scan runs over that tiny
    * aggregate. Returns the BRACKET [wq_lo, wq_hi] of the bin containing
    * the exact lower weighted quantile: per-bin weight sums are exact
    * decimals and the threshold test is the same `cum >= tot*p`, so the
    * exact tier's answer provably lies inside the returned bin (asserted
    * by the containment property test in StatsSpec) and the value error is
    * bounded by one bin width, (max-min)/nBins. Unlike the exact tier
    * there is no per-group sort of the raw rows, so a skewed 100 TB group
    * costs the same as a uniform one. */
  def weightedQuantileBinned(df: DataFrame, valueCol: String, weightCol: String,
                             groupCol: String, p: Double = 0.5, nBins: Int = 1000,
                             loCol: String = "wq_lo", hiCol: String = "wq_hi"): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"p must be in (0,1], got $p")
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    val base = df
      .where(v.isNotNull && !isnan(v) && col(weightCol).isNotNull)
      .select(col(groupCol), v.as("__v"),
        col(weightCol).cast("decimal(18,6)").as("__wt"))
    val r = base.agg(min(col("__v")), max(col("__v"))).head()
    if (r.isNullAt(0)) // empty input: no groups, empty result
      return base.groupBy(groupCol).agg(lit(0.0).as(loCol), lit(0.0).as(hiCol))
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val step = if (hi > lo) (hi - lo) / nBins else 1.0
    val edges = (0 to nBins).map(i => lo + i * step)
    val perBin = base
      .withColumn("__bin", Binning.binId(col("__v"), edges))
      .groupBy(col(groupCol), col("__bin"))
      .agg(sum(col("__wt")).as("__w"))
    val cumW = Window.partitionBy(groupCol).orderBy("__bin")
    val totW = Window.partitionBy(groupCol)
    perBin
      .withColumn("__cum", sum(col("__w")).over(cumW))
      .withColumn("__tot", sum(col("__w")).over(totW))
      .where(col("__cum") >= col("__tot") * lit(BigDecimal(p.toString)))
      .groupBy(groupCol).agg(min(col("__bin")).as("__qbin"))
      .select(col(groupCol),
        (lit(lo) + col("__qbin") * lit(step)).as(loCol),
        when(col("__qbin") === nBins - 1, lit(hi))
          .otherwise(lit(lo) + (col("__qbin") + 1) * lit(step)).as(hiCol))
      .orderBy(groupCol)
  }

  /** Per-group exact interpolated quantiles — [[quantiles]] with a group
    * key (O(group-size) memory per group: the verifier tier; the sketch
    * tier is `approx_percentile` with the same call shape). */
  def quantilesBy(df: DataFrame, colName: String, groupCol: String,
                  ps: Seq[Double]): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    val arr = df.groupBy(groupCol)
      .agg(percentile(col(colName).cast("double"), array(ps.map(lit): _*)).as("qs"))
    arr.select(col(groupCol) +: ps.zipWithIndex.map { case (p, i) =>
      element_at(col("qs"), i + 1).as(s"p${(p * 100).round}")
    }: _*).orderBy(groupCol)
  }

  /** Per-group KLL quantiles: one mergeable sketch per group, so each
    * group's state is a few KB regardless of its row count — the shape that
    * survives a skewed 100 TB groupBy where the exact [[quantilesBy]]
    * (sort-aggregate per group) cannot. Sketch-specific output; per-group
    * rank-error property-tested against the exact tier in StatsSpec. */
  def quantilesKllBy(df: DataFrame, colName: String, groupCol: String,
                     ps: Seq[Double], k: Int = 800): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    val sk = df.select(col(groupCol), col(colName).cast("double").as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
      .groupBy(groupCol).agg(kll_sketch_agg_double(col("v"), lit(k)).as("sk"))
    sk.select(col(groupCol) +: ps.zipWithIndex.map { case (p, _) =>
      kll_sketch_get_quantile_double(col("sk"), lit(p)).as(s"p${(p * 100).round}")
    }: _*).orderBy(groupCol)
  }

  /** Pairwise Pearson correlation matrix over numeric columns in ONE scan.
    * All moments (Σx, Σx², Σxy) accumulate as DECIMAL(38,8) — exact under
    * any partitioning, unlike Spark's own `corr` which sums doubles in
    * shuffle order — and the final formula is one fixed double tree per
    * pair, rounded to 9: bit-deterministic and oracle-checkable. The
    * moment count is O(k²) aggregates but still one pass; rows with a null
    * or NaN in ANY of the columns are excluded (listwise deletion) so every
    * pair sees the same n. */
  def correlation(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val xs = cols.map(c => col(c).cast("double"))
    val clean = df.where(xs.map(x => x.isNotNull && !isnan(x)).reduce(_ && _))
    // term list (name → codegen'd double expression): Σx per column, Σx²
    // per column, Σxy per pair — the same products, in the same slots, as
    // the previous one-sum-aggregate-per-moment formulation
    val terms: Seq[(String, Column)] =
      cols.zip(xs).map { case (c, x) => s"s_$c" -> x } ++
      cols.zip(xs).map { case (c, x) => s"ss_$c" -> (x * x) } ++
      cols.zip(xs).flatMap { case (a, x) =>
        cols.zip(xs).collect { case (b, y) if a < b => s"sp_${a}_$b" -> (x * y) }
      }
    // starvation-gated spread of the slim projection (r15, guide §2.5): the
    // k + k² DECIMAL(38,8) power sums are 128-bit arithmetic per row running
    // map-side, and a one-row-group fixture arrives as ONE scan split — the
    // whole pass ran on 1 of 32 cores. Decimal sums are exact and
    // order-independent, so results are bit-identical under any
    // partitioning; the gate never fires on multi-split inputs. (The float
    // fast tier stays unspread: ~10x cheaper per row, and its double sums
    // are deliberately partitioning-sensitive — declared omit.)
    //
    // r16 (guide §1.2 step 2): the k+k+k(k−1)/2 independent
    // `sum(cast(... as decimal(38,8)))` aggregates now ride ONE
    // shared-buffer aggregate over one codegen'd term array —
    // term-identical conversion and exact order-free addition (see
    // graft.functions.DecTermSumsAgg), so every digit is unchanged, but the
    // per-row cost drops from 10 boxed decimal Sum updates to 10 long adds.
    val sumsRow = graft.functions.Rebalance
      .spreadGated(clean.select(cols.map(col): _*), 0)
      .select(array(terms.map(_._2): _*).as("_t"))
      .agg(count(lit(1)).as("n"),
        graft.functions.DecTermSumsAgg.dec_term_sums(col("_t"), terms.size, 38).as("_s"))
    val aggRow = sumsRow.select(col("n") +: terms.zipWithIndex.map {
      case ((nm, _), i) => element_at(col("_s"), i + 1).as(nm) }: _*)
    val n = col("n").cast("double")
    def s(c: String) = col(s"s_$c").cast("double")
    def ss(c: String) = col(s"ss_$c").cast("double")
    val pairs = for {
      a <- cols; b <- cols; if a < b
    } yield {
      val num = n * col(s"sp_${a}_$b").cast("double") - s(a) * s(b)
      val den = sqrt((n * ss(a) - s(a) * s(a)) * (n * ss(b) - s(b) * s(b)))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(den > 0, round(num / den, 9)).as("corr"))
    }
    aggRow.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.corr"))
      .orderBy("col_a", "col_b")
  }

  /** Float fast tier of [[correlation]]: identical output schema and the
    * same table-wide null/NaN row filter, but the pair moments ride Spark's
    * built-in `covar_pop`/`stddev_pop` aggregates — a single codegen'd pass
    * of double co-moment updates (Welford-style, numerically stabler than
    * raw power sums) instead of DECIMAL(38,8) accumulation. ~10× cheaper
    * per row at the cost of bit-determinism across shuffle schedules; the
    * exact tier stays the oracle-checkable sibling (StatsSpec pins
    * agreement to 1e-9 relative).
    *
    * The ratio cov/(σa·σb) is guarded by `when(σa > 0 && σb > 0, ...)` so
    * a zero-variance column yields null — matching the exact tier's
    * `when(den > 0, ...)` — and the division is unreachable on the
    * degenerate path even under ANSI mode (built-in `corr` instead throws
    * DIVIDE_BY_ZERO there; covar_pop/stddev_pop themselves null out on
    * n=0 via an internal If, never an unguarded divide). */
  def correlationFast(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val xs = cols.map(c => col(c).cast("double"))
    val clean = df.where(xs.map(x => x.isNotNull && !isnan(x)).reduce(_ && _))
    val pairCols = for { a <- cols; b <- cols; if a < b } yield (a, b)
    // listwise deletion means every column sees the same clean rows, so one
    // stddev_pop per column serves all its pairs in the same single pass
    val aggs =
      cols.map(c => stddev_pop(col(c).cast("double")).as(s"sd_$c")) ++
      pairCols.map { case (a, b) =>
        covar_pop(col(a).cast("double"), col(b).cast("double")).as(s"cov_${a}_$b") }
    val row = clean.agg(aggs.head, aggs.tail: _*)
    val pairs = pairCols.map { case (a, b) =>
      val sa = col(s"sd_$a"); val sb = col(s"sd_$b")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(sa > 0 && sb > 0, round(col(s"cov_${a}_$b") / (sa * sb), 9)).as("corr")) }
    row.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.corr"))
      .orderBy("col_a", "col_b")
  }

  /** Higher-order distribution moments per column — mean, population
    * variance, skewness, excess kurtosis — in ONE scan: the four raw power
    * sums Σx..Σx⁴ accumulate as exact `decimal(38,8)` casts (the aggregate
    * is order-independent under any partitioning; double summation would
    * drift with the shuffle schedule), and the central-moment algebra runs
    * once on the single aggregated row as a fixed double expression tree
    * (m₂ = E[x²]−E[x]², m₃/m₄ by the binomial expansion), so results are
    * bit-deterministic and oracle-checkable. Null/NaN rows are dropped per
    * column (each column's moments cover its own clean values). Zero-variance
    * columns yield null skewness/kurtosis. Skew/kurtosis are rounded to 9 dp
    * (O(1) magnitudes); mean/variance are raw doubles from the fixed tree. */
  def moments(df: DataFrame, cols: Seq[String]): DataFrame =
    // starvation-gated spread of the slim projection (r15, guide §2.5): the
    // DECIMAL(38,8) power sums are 128-bit arithmetic per row map-side, and
    // a one-row-group fixture arrives as ONE scan split — measured 9.6 s of
    // task time on 1 of 32 cores. Decimal sums are exact and
    // order-independent, so results are bit-identical under any
    // partitioning; the gate never fires on multi-split inputs. The float
    // fast tier stays unspread — its per-row cost is ~10x lower and double
    // sums are deliberately partitioning-sensitive there (declared omit).
    momentsFromPowerSums(
      graft.functions.Rebalance.spreadGated(df.select(cols.map(col): _*), 0),
      cols, exactDecimal = true)

  /** Float fast tier of [[moments]]: identical schema and algebra, but the
    * four power sums accumulate as plain doubles. ~an order of magnitude
    * cheaper per row than the DECIMAL(38,8) tier (no 128-bit arithmetic in
    * the inner loop) at the cost of bit-determinism — double addition is
    * not associative, so the low-order digits can vary with the shuffle
    * schedule. Use when throughput matters more than cross-engine
    * reproducibility; the exact tier remains the oracle-checkable sibling
    * (SimilaritySpec/StatsSpec pin agreement to a relative tolerance). */
  def momentsFast(df: DataFrame, cols: Seq[String]): DataFrame =
    momentsFromPowerSums(df, cols, exactDecimal = false)

  /** The shared shape of both moment tiers: the tiers differ ONLY in the
    * accumulator the power sums ride (exact decimal(38,8) vs plain double)
    * — the null/NaN filter, the central-moment algebra, and the output
    * schema are this one function, so a formula fix cannot drift between
    * them. The `.cast("double")` on each sum is what reads the decimal
    * accumulator back; for double sums Catalyst folds it away.
    *
    * r16 (guide §1.2 step 2): the exact tier's 4k independent
    * `sum(cast(when(ok, xᵏ) as decimal(38,8)))` aggregates now ride ONE
    * shared-buffer aggregate ([[graft.functions.DecTermSumsAgg]]) over one
    * codegen'd term array — identical per-term conversion and exact
    * order-free decimal addition, so every digit is unchanged, but the
    * per-row cost drops from 4k boxed decimal Sum updates (probe: ~40 s of
    * task time on the 3-column lineitem entry) to 4k primitive long adds.
    * The fast tier keeps the built-in codegen'd double sums. */
  private def momentsFromPowerSums(df: DataFrame, cols: Seq[String],
                                   exactDecimal: Boolean): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    def okOf(c: String) = {
      val x = col(c).cast("double")
      x.isNotNull && !isnan(x)
    }
    def powers(c: String): Seq[Column] = {
      val x = col(c).cast("double")
      val ok = okOf(c)
      Seq(when(ok, x), when(ok, x * x), when(ok, x * x * x),
        when(ok, x * x * x * x))
    }
    val row =
      if (exactDecimal) {
        val terms = cols.flatMap(powers)
        val counts = cols.map(c => count(when(okOf(c), 1)).as(s"n_$c"))
        val agg = df.select(cols.map(col) :+ array(terms: _*).as("_t"): _*)
          .agg(counts.head, counts.tail :+
            graft.functions.DecTermSumsAgg
              .dec_term_sums(col("_t"), terms.size, 38).as("_s"): _*)
        agg.select(cols.map(c => col(s"n_$c")) ++
          cols.zipWithIndex.flatMap { case (c, ci) =>
            (1 to 4).map(k =>
              element_at(col("_s"), 4 * ci + k).as(s"s${k}_$c")) }: _*)
      } else {
        val aggs = cols.flatMap { c =>
          val ps = powers(c)
          count(when(okOf(c), 1)).as(s"n_$c") +:
            (1 to 4).map(k => sum(ps(k - 1)).as(s"s${k}_$c"))
        }
        df.agg(aggs.head, aggs.tail: _*)
      }
    val stats = cols.map { c =>
      val n = col(s"n_$c").cast("double")
      val e1 = col(s"s1_$c").cast("double") / n
      val e2 = col(s"s2_$c").cast("double") / n
      val e3 = col(s"s3_$c").cast("double") / n
      val e4 = col(s"s4_$c").cast("double") / n
      val m2 = e2 - e1 * e1
      val m3 = e3 - lit(3.0) * e1 * e2 + lit(2.0) * e1 * e1 * e1
      val m4 = e4 - lit(4.0) * e1 * e3 + lit(6.0) * e1 * e1 * e2 - lit(3.0) * e1 * e1 * e1 * e1
      struct(lit(c).as("col_name"), col(s"n_$c").as("n"), e1.as("mean"), m2.as("variance"),
        when(m2 > 0, round(m3 / (m2 * sqrt(m2)), 9)).as("skewness"),
        when(m2 > 0, round(m4 / (m2 * m2) - lit(3.0), 9)).as("kurtosis"))
    }
    row.select(explode(array(stats: _*)).as("st"))
      .select(col("st.col_name").as("col_name"), col("st.n").as("n"), col("st.mean").as("mean"),
        col("st.variance").as("variance"), col("st.skewness").as("skewness"),
        col("st.kurtosis").as("kurtosis"))
      .orderBy("col_name")
  }

  /** [[moments]] per group — one scan, one hash-agg shuffle keyed on the
    * group (map-side combine; the shuffle carries 4 decimals + a count per
    * group, never rows). Same exact-decimal discipline, same fixed double
    * tree, so grouped results are bit-deterministic and oracle-checkable.
    * Null groups are dropped with the null/NaN values. */
  def momentsBy(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val x = col("x")
    val clean = df.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("x"))
      .where(col("grp").isNotNull && x.isNotNull && !isnan(x))
    // same shared-buffer decimal sums as the ungrouped exact tier (r16):
    // one buffer of 4 exact scale-8 sums per group, term-identical to the
    // four sum(cast(... as decimal(38,8))) aggregates it replaces
    val agg = clean
      .select(col("grp"), array(x, x * x, x * x * x, x * x * x * x).as("_t"))
      .groupBy("grp").agg(
        count(lit(1)).as("n"),
        graft.functions.DecTermSumsAgg.dec_term_sums(col("_t"), 4, 38).as("_s"))
      .select(col("grp"), col("n"),
        element_at(col("_s"), 1).as("s1"), element_at(col("_s"), 2).as("s2"),
        element_at(col("_s"), 3).as("s3"), element_at(col("_s"), 4).as("s4"))
    val n = col("n").cast("double")
    val e1 = col("s1").cast("double") / n
    val e2 = col("s2").cast("double") / n
    val e3 = col("s3").cast("double") / n
    val e4 = col("s4").cast("double") / n
    val m2 = e2 - e1 * e1
    val m3 = e3 - lit(3.0) * e1 * e2 + lit(2.0) * e1 * e1 * e1
    val m4 = e4 - lit(4.0) * e1 * e3 + lit(6.0) * e1 * e1 * e2 - lit(3.0) * e1 * e1 * e1 * e1
    agg.select(col("grp").as(groupCol), col("n"), e1.as("mean"), m2.as("variance"),
        when(m2 > 0, round(m3 / (m2 * sqrt(m2)), 9)).as("skewness"),
        when(m2 > 0, round(m4 / (m2 * m2) - lit(3.0), 9)).as("kurtosis"))
      .orderBy(groupCol)
  }

  /** Key-skew diagnostic — the pre-flight check before any shuffle-heavy
    * join/agg on a key: row count, distinct keys, the heaviest key's count,
    * and the skew factor `max_cnt / (n_rows / n_keys)` (1 = perfectly
    * uniform; ≳ shuffle-partition count = one task drags the stage, reach
    * for salting / AQE skew join). One hash-agg on the key (map-side
    * combine) + one tiny rollup; all-integer inputs, one fixed double
    * expression at the end. Null keys are excluded. */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    counts.agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        (col("max_cnt").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double")).as("skew_factor"))
  }

  /** Winsorization summary: exact lo/hi quantile bounds, clip counts at
    * each end, and the decimal-exact mean before/after clipping — the
    * "how much do the tails move this feature" check before outlier
    * capping. Verifier tier (exact `percentile` is a sort-agg); at 100 TB
    * compute the bounds with `approx_percentile` and keep the identical
    * clip pass. Two jobs: a bounds agg, then one clip-and-summarize scan
    * with the 1-row bounds broadcast — value rows never shuffle. */
  def winsorize(df: DataFrame, valueCol: String,
                loQ: Double = 0.01, hiQ: Double = 0.99): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    graft.functions.SessionTuning.ensureActiveSession()
    val v = col(valueCol).cast("double")
    // starvation-gated spread (r15, guide §2.5): BOTH consumers — the
    // percentile bounds agg and the clip-and-summarize pass (decimal mean
    // sums) — are per-row-heavy map work that a one-row-group fixture ran
    // on a single core; the two subtrees share the one exchange via reuse.
    // percentile is multiset-exact and the clip sums are decimal — results
    // identical under any partitioning; gate off on multi-split inputs.
    val src = graft.functions.Rebalance.spreadGated(
      df.where(v.isNotNull && !isnan(v)).select(v.as("v")), 0)
    // ONE percentile aggregate (array arg): both bounds from a single
    // sorted buffer instead of two independent sort-aggs over the column
    val bounds = src.agg(expr(s"percentile(v, array($loQ, $hiQ))").as("pcts"))
      .select(col("pcts").getItem(0).as("p_lo"), col("pcts").getItem(1).as("p_hi"))
    val clipped = greatest(least(col("v"), col("p_hi")), col("p_lo"))
    src.crossJoin(broadcast(bounds))
      .agg(
        first(col("p_lo")).as("p_lo"), first(col("p_hi")).as("p_hi"),
        sum(when(col("v") < col("p_lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("v") > col("p_hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        (sum(col("v").cast("decimal(28,6)")).cast("double") / count(lit(1)))
          .as("mean_before"),
        (sum(clipped.cast("decimal(28,6)")).cast("double") / count(lit(1)))
          .as("mean_after"))
  }

  /** Shannon entropy of one or more categorical columns in ONE scan: the
    * columns unpivot into (col_name, value) pairs, counts build per column,
    * and `H = ln n − (Σ c·ln c)/n` runs as a fold over the SORTED count
    * array — float addition is order-sensitive, so the pinned fold order
    * (ties contribute identical terms) makes the statistic bit-reproducible
    * and oracle-checkable, mirroring [[chiSquare]]'s discipline. The
    * per-column array is bounded by that column's cardinality — categorical
    * by assumption (language, source, label, …), never a data-scale
    * collect. Nulls are excluded per column. */
  def entropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
      .where(col("v").isNotNull)
    val cells = pairs.groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
    val per = cells.groupBy("col_name").agg(
      sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
      sort_array(collect_list(col("cnt"))).as("cs"))
    val sumClnC = aggregate(col("cs"), lit(0.0),
      (acc, c) => acc + c.cast("double") * log(c.cast("double")))
    per.select(col("col_name"), col("n"), col("n_distinct"),
        round(log(col("n").cast("double")) - sumClnC / col("n").cast("double"), 9).as("entropy"))
      .orderBy("col_name")
  }

  /** Per-group Shannon entropy of a categorical column — [[entropy]] keyed
    * by a second column: "how mixed is each source's language profile",
    * the per-slice diversity diagnostic behind mix rebalancing. Same
    * pinned-order discipline: one (group, value) hash-agg (bounded by
    * |groups|×|values|, both categorical), then per-group folds over the
    * SORTED count array — bit-reproducible, oracle-mirrored. */
  def entropyBy(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val cells = df
      .where(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("string").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val per = cells.groupBy("g").agg(
      sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
      sort_array(collect_list(col("cnt"))).as("cs"))
    val sumClnC = aggregate(col("cs"), lit(0.0),
      (acc, c) => acc + c.cast("double") * log(c.cast("double")))
    per.select(col("g").as(groupCol), col("n"), col("n_distinct"),
        round(log(col("n").cast("double")) - sumClnC / col("n").cast("double"), 9)
          .as("entropy"))
      .orderBy(groupCol)
  }

  /** Chi-square test of independence between two categorical columns
    * (lang × source, variant × outcome, …), plus Cramér's V effect size —
    * the "are these two labelings related" test behind corpus audits and
    * A/B readouts.
    *
    * Scale + determinism shape: ONE hash-agg builds the contingency cells
    * (bounded by |A|×|B|, categorical), then the χ² sum is a fold over the
    * SORTED cell array — float addition is order-sensitive, so the fold
    * order is pinned by `sort_array`, making the statistic bit-reproducible
    * and oracle-checkable (the oracle mirrors the same sorted fold). The
    * row/column totals are nested folds over the same tiny array; all
    * O(cells²) work happens on one aggregated row, never on data rows. */
  def chiSquare(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df
      .where(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("a"), col(colB).cast("string").as("b"))
      .agg(count(lit(1)).as("o"))
    val g = cells.agg(
      sort_array(collect_list(struct(col("a"), col("b"), col("o")))).as("cs"))
    val cs = col("cs")
    def tot(pred: Column => Column): Column =
      aggregate(filter(cs, pred), lit(0L), (acc, c) => acc + c.getField("o"))
    val n = aggregate(cs, lit(0L), (acc, c) => acc + c.getField("o"))
    val term = (c: Column) => {
      val e = tot(x => x.getField("a") === c.getField("a")).cast("double") *
        tot(x => x.getField("b") === c.getField("b")).cast("double") / n.cast("double")
      val d = c.getField("o").cast("double") - e
      d * d / e
    }
    val chi2 = aggregate(cs, lit(0.0), (acc, c) => acc + term(c))
    val nA = size(array_distinct(transform(cs, _.getField("a"))))
    val nB = size(array_distinct(transform(cs, _.getField("b"))))
    val dof = (nA - 1) * (nB - 1)
    val minDim = least(nA, nB) - lit(1)
    g.select(
      round(chi2, 9).as("chi2"),
      dof.as("dof"),
      n.as("n"),
      when(minDim > 0 && n > 0,
        round(sqrt(chi2 / (n.cast("double") * minDim.cast("double"))), 9)).as("cramers_v"))
  }

  /** Robust (median/MAD) outlier audit per group — the heavy-tail-safe
    * sibling of [[zscoreOutliers]]: mean/stddev are themselves dragged by
    * the outliers they're meant to flag, while the median and the median
    * absolute deviation are not. Flags |x − med| > k·1.4826·MAD (1.4826
    * makes MAD estimate σ under normality; k defaults to 3).
    *
    * Shape: three slim passes — (1) grouped exact median, (2) join back
    * (group-keyed, broadcastable) → MAD as the median of absolute
    * deviations, (3) join back → threshold count. Exact `percentile` is
    * the verifier tier; at 100 TB swap `approx_percentile` into the same
    * shape. Zero-MAD groups (over half the values identical) flag any
    * deviation from the median. */
  def madOutliers(df: DataFrame, valueCol: String, groupCol: String,
                  k: Double = 3.0): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    val x = col(valueCol).cast("double")
    val base = df.select(col(groupCol).as("g"), x.as("v"))
      .where(col("g").isNotNull && col("v").isNotNull && !isnan(col("v")))
    val med = base.groupBy("g").agg(expr("percentile(v, 0.5)").as("med"))
    val mad = base.join(med, Seq("g"))
      .select(col("g"), abs(col("v") - col("med")).as("dev"))
      .groupBy("g").agg(expr("percentile(dev, 0.5)").as("mad"))
    base.join(med, Seq("g")).join(mad, Seq("g"))
      .groupBy(col("g"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("v") - col("med")) > lit(k) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("g").as(groupCol), col("n"), col("med"), col("mad"), col("n_outliers"))
      .orderBy(groupCol)
  }

  /** Per-column data profile in ONE scan — the pre-flight audit before any
    * pipeline run (null rates, cardinality, range, exact mean per measure).
    * The columns unpivot into (col_name, v) long format via a struct-explode
    * (keeps nulls, unlike `unpivot`), then one hash-agg per column computes
    * row/non-null/distinct counts, min/max, and a DECIMAL(28,6)-exact mean.
    *
    * Scale: the explode multiplies rows by |cols| but stays map-local; the
    * agg is map-side combined on |cols| keys. The one scale-sensitive term
    * is `count_distinct` (shuffles each column's distinct values) — at
    * 100 TB swap it for [[approxDistinct]]'s HLL registers; the rest of the
    * profile is unchanged. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    // starvation-gated spread of the slim projection (r15, guide §2.5): the
    // |cols|× explode AND count_distinct's map-side partial-distinct both
    // run in the scan stage, which a one-row-group fixture serves as ONE
    // split. Counts/min/max/distinct are multiset-exact and the mean is a
    // decimal sum — results identical under any partitioning; the gate
    // never fires on multi-split inputs.
    val pairs = graft.functions.Rebalance
      .spreadGated(df.select(cols.map(col): _*), 0)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("double").as("v"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
    pairs.groupBy("col_name").agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull"),
        countDistinct(col("v")).as("n_distinct"),
        min("v").as("min_v"),
        max("v").as("max_v"),
        (sum(col("v").cast("decimal(28,6)")).cast("double") / count(col("v")))
          .as("mean_v"))
      .orderBy("col_name")
  }

  /** Mutual information between two categorical columns, plus both marginal
    * entropies and the normalized MI (MI / sqrt(Ha·Hb)) — the
    * "how much does knowing A tell you about B" companion to [[chiSquare]],
    * used for redundant-label detection and stratification design.
    *
    * Same determinism discipline as [[chiSquare]]: ONE contingency hash-agg
    * (bounded by |A|×|B|), then every float sum runs as a fold over the
    * SORTED cell array with marginals recomputed as nested integer folds —
    * identical expression tree on every run (and in the oracle), so the
    * statistic is bit-reproducible under any partitioning. */
  def mutualInformation(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df
      .where(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("a"), col(colB).cast("string").as("b"))
      .agg(count(lit(1)).as("o"))
    val g = cells.agg(
      sort_array(collect_list(struct(col("a"), col("b"), col("o")))).as("cs"))
    val cs = col("cs")
    def tot(pred: Column => Column): Column =
      aggregate(filter(cs, pred), lit(0L), (acc, c) => acc + c.getField("o"))
    val n = aggregate(cs, lit(0L), (acc, c) => acc + c.getField("o"))
    val nd = n.cast("double")
    val term = (c: Column) => {
      val od = c.getField("o").cast("double")
      val ra = tot(x => x.getField("a") === c.getField("a")).cast("double")
      val cb = tot(x => x.getField("b") === c.getField("b")).cast("double")
      od / nd * log(od * nd / (ra * cb))
    }
    val mi = aggregate(cs, lit(0.0), (acc, c) => acc + term(c))
    // marginal entropy via a fold over the SORTED distinct-value list; the
    // per-value total is the same nested integer fold the MI terms use
    def margEntropy(field: String): Column = {
      val vals = sort_array(array_distinct(transform(cs, _.getField(field))))
      val sumClnC = aggregate(vals, lit(0.0), (acc, v) => {
        val t = tot(x => x.getField(field) === v).cast("double")
        acc + t * log(t)
      })
      log(nd) - sumClnC / nd
    }
    val ha = margEntropy("a")
    val hb = margEntropy("b")
    g.select(
      n.as("n"),
      round(mi, 9).as("mi"),
      round(ha, 9).as("h_a"),
      round(hb, 9).as("h_b"),
      when(ha > 0 && hb > 0, round(mi / sqrt(ha * hb), 9)).as("nmi"))
  }

  /** Gini coefficient of a non-negative integer weight column — the
    * concentration/inequality audit (token mass per document, rows per key,
    * bytes per file) behind data-mix and skew decisions. 0 = perfectly even,
    * →1 = one row holds all the mass.
    *
    * Scale + determinism shape: rather than globally sorting the rows (the
    * textbook rank formula), weights compress to (w, cnt) frequency pairs —
    * bounded by the weight's VALUE cardinality, like [[entropy]]'s count
    * array — and the rank-weighted sum Σ i·w₍ᵢ₎ folds over the sorted pair
    * list in closed form per run of equal weights:
    * w·(cnt·r₀ + cnt·(cnt−1)/2). Every term is integer-exact (the single
    * float division happens once, on exact DECIMAL(38,0) totals), so the
    * result is bit-identical under any partitioning and needs no pinned
    * float fold. */
  def gini(df: DataFrame, weightCol: String): DataFrame = {
    val wc = df.select(col(weightCol).cast("long").as("w"))
      .where(col("w").isNotNull && col("w") >= 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val g = wc.agg(sort_array(collect_list(struct(col("w"), col("cnt")))).as("ws"))
    // fold state: r = ranks consumed so far, s = Σ i·w so far (1-based ranks)
    val folded = aggregate(col("ws"),
      struct(lit(0L).as("r"), lit(0L).as("s")),
      (acc, x) => {
        val w = x.getField("w"); val cnt = x.getField("cnt")
        struct(
          (acc.getField("r") + cnt).as("r"),
          (acc.getField("s") +
            w * (cnt * (acc.getField("r") + lit(1L)) +
              shiftright(cnt * (cnt - lit(1L)), 1))).as("s"))
      })
    val nTot = aggregate(col("ws"), lit(0L), (acc, x) => acc + x.getField("cnt"))
    val wTot = aggregate(col("ws"), lit(0L),
      (acc, x) => acc + x.getField("w") * x.getField("cnt"))
    g.select(folded.getField("s").as("s"), nTot.as("n"), wTot.as("total_w"))
      .select(col("n"), col("total_w"),
        round((col("s").cast("decimal(38,0)") * 2).cast("double") /
            (col("n").cast("decimal(38,0)") * col("total_w")).cast("double") -
            (col("n") + lit(1L)).cast("double") / col("n").cast("double"),
          9).as("gini"))
  }

  /** Per-group mergeable distinct-count sketches (Apache DataSketches HLL
    * via Spark's `hll_sketch_agg`): sketch each group ONCE, then answer any
    * group-combination distinct query by unioning buffers with
    * [[hllUnionEstimate]] — no rescan. This is the incremental-analytics
    * shape at 100 TB: daily sketches roll up to week/month/arbitrary-range
    * distinct counts at sketch-merge cost (KBs per group), where exact
    * distinct would re-shuffle every value each time. */
  def hllByGroup(df: DataFrame, valueCol: String, groupCol: Column,
                 groupName: String, lgK: Int = 12): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    df.groupBy(groupCol.as(groupName))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"),
        count(lit(1)).as("n_rows"))
  }

  /** Union pre-aggregated sketch buffers → one distinct estimate. */
  def hllUnionEstimate(sketches: DataFrame, sketchCol: String = "sketch"): DataFrame =
    sketches.agg(
      hll_sketch_estimate(hll_union_agg(col(sketchCol), lit(true)))
        .as("distinct_estimate"))

  /** HyperLogLog++ distinct counts for several columns in ONE scan:
    * fixed-size mergeable registers per column, map-side combined — the
    * 100 TB distinct-count shape (exact `count_distinct` shuffles every
    * distinct value). Default `rsd` 5%; property-tested against exact
    * counts. */
  def approxDistinct(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    df.agg(
      approx_count_distinct(col(cols.head), rsd).as(s"n_${cols.head}"),
      cols.tail.map(c => approx_count_distinct(col(c), rsd).as(s"n_$c")): _*)

  /** Benford's-law first-digit audit: the leading-digit distribution of a
    * positive amount column against the Benford expectation
    * `P(d) = log10(1 + 1/d)` — the classic screen for fabricated or
    * truncated numeric data (real multiplicative processes follow it;
    * uniform synthetics and capped values visibly don't). Output: one row
    * per digit 1-9 with observed count, observed share, expected share,
    * and the lift ratio.
    *
    * Determinism: the value is scaled to integer units (`scale`, default
    * cents) and the digit read from the integer's decimal string — no
    * float log10 at the digit boundary, so binning is bit-stable in any
    * engine; shares are single double divisions rounded to 9. The Benford
    * constants are 9-decimal literals so an oracle can embed the exact
    * same numbers. One scan, 9-row output. */
  val benfordShares: Seq[Double] =
    (1 to 9).map(d => math.rint(math.log10(1 + 1.0 / d) * 1e9) / 1e9)

  def benfordAudit(df: DataFrame, colName: String, scale: Int = 100): DataFrame = {
    require(scale >= 1, "scale must be >= 1")
    val x = col(colName).cast("double")
    val units = round(x * scale, 0).cast("long")
    val digit = substring(units.cast("string"), 1, 1).cast("int")
    val expected = element_at(
      typedLit(benfordShares), col("digit"))
    val counted = df.where(x.isNotNull && !isnan(x) && x > 0)
      .where(units > 0)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
    // grand total via a window over the 9 aggregated rows (a crossJoin with
    // a 1-row agg would plan a nested-loop join for nothing)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    counted.withColumn("tot", sum(col("n")).over(w))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("tot"), 9).as("obs_share"),
        expected.as("benford_share"),
        round(col("n").cast("double") / col("tot") / expected, 9).as("lift"))
      .orderBy("digit")
  }

  /** 2-D skyline (Pareto front): the distinct (x, y) points not dominated by
    * any other point, where p dominates q iff p.x ≤ q.x ∧ p.y ≥ q.y with at
    * least one strict — "x is a cost, y is a benefit". Output is each
    * surviving point with its row multiplicity `n`.
    *
    * Algorithm: after deduplicating to distinct points, sort by (x asc,
    * y desc); a point survives iff the running max of y over strictly
    * preceding points is < its own y (every preceding point has smaller x,
    * or equal x with larger y — either way dominance ⟺ maxPrev ≥ y).
    * Exact-duplicate rows were collapsed by the dedup, so the tie case
    * (equal x AND equal y, which does NOT dominate) never reaches the scan.
    *
    * Scale design: the groupBy shrinks data to distinct points; a local
    * per-partition sweep (same running-max scan, no shuffle) then prunes
    * everything locally dominated — sound because local dominance implies
    * global — so the final global sorted sweep sees only per-partition
    * fronts, O(partitions × front-size), not the distinct-point count.
    * Skylines of real measures are tiny (single-digit on TPC-H lineitem),
    * so the last window is a formality, not a bottleneck. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val pts = df.where(x.isNotNull && !isnan(x) && y.isNotNull && !isnan(y))
      .groupBy(x.as("x"), y.as("y")).agg(count(lit(1)).as("n"))
    // local prune: sort within each partition and keep the partition-local
    // front — an iterator sweep with one double of state, zero shuffle
    val localFront = pts.sortWithinPartitions(col("x").asc, col("y").desc)
      .mapPartitions { rows =>
        var best = Double.NegativeInfinity
        rows.filter { r =>
          val keep = r.getDouble(1) > best
          if (keep) best = r.getDouble(1)
          keep
        }
      }(org.apache.spark.sql.Encoders.row(pts.schema))
    val w = Window.orderBy(col("x").asc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    localFront.withColumn("mx", max(col("y")).over(w))
      .where(col("mx").isNull || col("mx") < col("y"))
      .select(col("x").as(xCol), col("y").as(yCol), col("n"))
      .orderBy(xCol, yCol)
  }
}
