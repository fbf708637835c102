package graft.dist

import scala.util.Try

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every histogram shape and `minMax` on the driver-merged core must give,
  * row for row, what the Catalyst formulation it replaced gave: the same
  * column names and types, doubles bit for bit (so the exact decimal weight
  * sums too), the same nullability and the same failures. The replaced
  * formulations are kept here as the parity references. Inputs run at 1,
  * 3 and 8 partitions and cover empty input, all-null, NaN, one row,
  * min == max, a group whose values are all dropped, and ±0.0 and NaN
  * bounds. */
class HistogramShapeParitySpec extends SparkSpec {

  // ------------------------------------------------ the replaced formulations

  /** Grouped: one range job, then a `groupBy(group, binId)` count
    * left-joined onto a dense spine of the distinct non-null groups × bins,
    * and sorted. It bins with the Column form, not the core's `bucket`. */
  private def byGroupPath(df: DataFrame, valueCol: String, groupCol: String, n: Int,
                          range: Option[(Double, Double)]): DataFrame = {
    val x = col(valueCol).cast("double")
    val (lo, hi) = range.getOrElse(Binning.minMaxOf(df.select(x.as("x"))))
    val es = Binning.equalWidthEdges(lo, hi, n)
    val gx = df.where(col(groupCol).isNotNull).select(col(groupCol).as("grp"), x.as("x"))
    val counts = gx.where(!isnan(col("x")) && col("x") >= lit(lo) && col("x") <= lit(hi))
      .groupBy(col("grp"), Binning.binId(col("x"), es).as("bin_id")).agg(count(lit(1)).as("cnt"))
    gx.select("grp").distinct()
      .crossJoin(spark.range(es.size - 1).select(col("id").cast("int").as("bin_id")))
      .join(counts, Seq("grp", "bin_id"), "left").na.fill(0L, Seq("cnt"))
      .select(col("grp").as(groupCol), col("bin_id"), col("cnt"))
      .orderBy(groupCol, "bin_id")
  }

  /** The pairwise comparators' per-group counts as they were planned before
    * they moved onto the core: the in-range rows of the non-null groups
    * counted per (group, binId), left-joined onto a dense group × bin
    * spine, gathered per group into a `cnts` array in bin order, with `tot`
    * its sum; then the unchanged pair expansion. */
  private def pairsPath(df: DataFrame, valueCol: String, groupCol: String, n: Int,
                        range: Option[(Double, Double)]): (DataFrame, Seq[Double]) = {
    val clean = df.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("x"))
      .where(col("grp").isNotNull && col("x").isNotNull && !isnan(col("x")))
    val (lo, hi) = range.getOrElse(Binning.minMaxOf(clean))
    require(hi > lo, s"degenerate range [$lo, $hi]")
    val es = Binning.equalWidthEdges(lo, hi, n)
    val inRange = clean.where(col("x") >= lit(lo) && col("x") <= lit(hi))
    val counts = inRange.groupBy(col("grp"), Binning.binId(col("x"), es).as("b")).agg(count(lit(1)).as("c"))
    val perGroup = inRange.select("grp").distinct()
      .crossJoin(spark.range(es.size - 1).select(col("id").cast("int").as("b")))
      .join(counts, Seq("grp", "b"), "left").na.fill(0L, Seq("c"))
      .groupBy(col("grp")).agg(sort_array(collect_list(struct(col("b"), col("c")))).as("bc"))
      .select(col("grp"), transform(col("bc"), e => e.getField("c")).as("cnts"))
      .select(col("grp"), col("cnts"), aggregate(col("cnts"), lit(0L), (a, c) => a + c).as("tot"))
    val pairs = perGroup
      .agg(collect_list(struct(col("grp"), col("tot"), col("cnts"))).as("gs"))
      .select(explode(filter(
        flatten(transform(col("gs"), a => transform(col("gs"), b => struct(a.as("a"), b.as("b"))))),
        p => p.getField("a").getField("grp") < p.getField("b").getField("grp"))).as("p"))
    (pairs, es)
  }

  /** `Stats.distributionDistance`'s TVD and KS expressions over [[pairsPath]]. */
  private def tvdPath(df: DataFrame, valueCol: String, groupCol: String, n: Int,
                      range: Option[(Double, Double)]): DataFrame = {
    val (pairs, es) = pairsPath(df, valueCol, groupCol, n, range)
    val (a, b) = (col("p").getField("a"), col("p").getField("b"))
    val dec = "decimal(19,0)"
    val termSum = aggregate(
      zip_with(a.getField("cnts"), b.getField("cnts"),
        (x, y) => abs(x.cast(dec) * b.getField("tot").cast(dec)
                    - y.cast(dec) * a.getField("tot").cast(dec))),
      lit(0).cast("decimal(38,0)"), (acc, t) => acc + t)
    val idx = sequence(lit(1), lit(es.size - 1))
    def cum(c: Column): Column =
      transform(idx, i => aggregate(slice(c, lit(1), i), lit(0L), (acc, x) => acc + x))
    val ksMax = array_max(
      zip_with(cum(a.getField("cnts")), cum(b.getField("cnts")),
        (ca, cb) => abs(ca.cast(dec) * b.getField("tot").cast(dec)
                      - cb.cast(dec) * a.getField("tot").cast(dec))))
    pairs.select(
        a.getField("grp").as("grp_a"), b.getField("grp").as("grp_b"),
        (termSum.cast("double") /
          (lit(2.0) * a.getField("tot").cast("double") * b.getField("tot").cast("double"))).as("tvd"),
        (ksMax.cast("double") /
          (a.getField("tot").cast("double") * b.getField("tot").cast("double"))).as("ks"))
      .orderBy("grp_a", "grp_b")
  }

  /** `Stats.psiMatrix`'s smoothed-share PSI expressions over [[pairsPath]]. */
  private def psiPath(df: DataFrame, valueCol: String, groupCol: String, n: Int,
                      range: Option[(Double, Double)], eps: Double = 0.5): DataFrame = {
    val (pairs, es) = pairsPath(df, valueCol, groupCol, n, range)
    val nBins = es.size - 1
    val (a, b) = (col("p").getField("a"), col("p").getField("b"))
    def share(cnt: Column, tot: Column): Column =
      (cnt.cast("double") + lit(eps)) / (tot.cast("double") + lit(nBins * eps))
    val terms = zip_with(a.getField("cnts"), b.getField("cnts"), (x, y) => {
      val pa = share(x, a.getField("tot"))
      val qb = share(y, b.getField("tot"))
      round((pa - qb) * log(pa / qb), 9).cast("decimal(19,9)")
    })
    pairs.select(
        a.getField("grp").as("grp_a"), b.getField("grp").as("grp_b"),
        a.getField("tot").as("n_a"), b.getField("tot").as("n_b"),
        aggregate(terms, lit(0).cast("decimal(28,9)"),
            (acc, t) => (acc + t).cast("decimal(28,9)"))
          .cast("double").as("psi"))
      .orderBy("grp_a", "grp_b")
  }

  /** 2-D: a min/max aggregate, a `groupBy(bin_x, bin_y)` count, a grid
    * cross join, a left join onto it and a sort. */
  private def grid2dPath(df: DataFrame, colX: String, colY: String, nx: Int, ny: Int,
                         rangeX: Option[(Double, Double)], rangeY: Option[(Double, Double)]): DataFrame = {
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
    val (nxe, nye) = (if (xlo == xhi) 1 else nx, if (ylo == yhi) 1 else ny)
    val xes = Binning.equalWidthEdges(xlo, xhi, nxe)
    val yes = Binning.equalWidthEdges(ylo, yhi, nye)
    val counts = clean.where(col("x") >= lit(xlo) && col("x") <= lit(xhi) &&
        col("y") >= lit(ylo) && col("y") <= lit(yhi))
      .groupBy(Binning.binId(col("x"), xes).as("bin_x"), Binning.binId(col("y"), yes).as("bin_y"))
      .agg(count(lit(1)).as("cnt"))
    val grid = spark.range(nxe).select(col("id").cast("int").as("bin_x"))
      .crossJoin(spark.range(nye).select(col("id").cast("int").as("bin_y")))
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

  /** Weighted: a grouped count and `decimal(28,6)` weight sum, a left join
    * onto a bin spine and a sort. */
  private def weightedPath(df: DataFrame, colName: String, weightCol: String, bins: Bins,
                           range: Option[(Double, Double)]): DataFrame = {
    val clean = df.select(col(colName).cast("double").as("x"), col(weightCol).cast("double").as("w"))
      .where(col("x").isNotNull && !isnan(col("x")))
    val es: Vector[Double] = bins match {
      case Bins.Edges(e) => Binning.validateEdges(e); e.toVector
      case Bins.Count(n) =>
        val (lo, hi) = range.getOrElse(Binning.minMaxOf(clean))
        Binning.equalWidthEdges(lo, hi, n)
    }
    val wsum = sum(when(!isnan(col("w")), col("w")).cast("decimal(28,6)")).cast("double").as("wsum")
    val counts = clean.where(col("x") >= lit(es.head) && col("x") <= lit(es.last))
      .groupBy(Binning.binId(col("x"), es).as("bin_id"))
      .agg(count(lit(1)).as("cnt"), wsum)
    spark.range(es.size - 1).select(col("id").cast("int").as("bin_id"))
      .join(counts, Seq("bin_id"), "left")
      .na.fill(0L, Seq("cnt")).na.fill(0.0, Seq("wsum"))
      .select(col("bin_id"),
        element_at(typedLit(es.dropRight(1)), col("bin_id") + 1).as("bin_lo"),
        element_at(typedLit(es.drop(1)), col("bin_id") + 1).as("bin_hi"),
        col("cnt"), col("wsum"))
      .orderBy("bin_id")
  }

  /** CDF: a running-sum window and a whole-frame window. */
  private def cdfPath(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val run = Window.partitionBy(lit(0)).orderBy("bin_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist.withColumn("cum_cnt", sum(col("cnt")).over(run))
      .withColumn("cdf", col("cum_cnt").cast("double") / sum(col("cnt")).over(all).cast("double"))
      .orderBy("bin_id")
  }

  /** minMax: one Catalyst global aggregate of `min`/`max` per column. */
  private def minMaxPath(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"${c}_min"), max(col(c).cast("double")).as(s"${c}_max")))
    df.agg(aggs.head, aggs.tail: _*)
  }

  // ------------------------------------------------------------ comparison

  /** `got` == `ref`: column names, types and nullability, then every
    * value, doubles bit for bit; or both fail with the same exception
    * class. */
  private def assertSame(got: => DataFrame, ref: => DataFrame, clue: String): Unit = {
    def run(df: => DataFrame) = Try { val d = df; (d.schema, d.collect().toSeq) }
    val (g, r) = (run(got), run(ref))
    if (r.isFailure) {
      assert(g.isFailure, s"$clue: the reference failed (${r.failed.get}) but got ${g.map(_._2)}")
      assert(g.failed.get.getClass == r.failed.get.getClass, s"$clue: ${g.failed.get} != ${r.failed.get}")
    } else {
      val ((gs, gr), (rs, rr)) = (g.get, r.get)
      assert(gs.map(f => (f.name, f.dataType, f.nullable)) == rs.map(f => (f.name, f.dataType, f.nullable)), clue)
      assert(gr.size == rr.size, s"$clue: ${gr.size} rows != ${rr.size}")
      for ((x, y) <- gr.zip(rr); i <- 0 until x.length) (x.get(i), y.get(i)) match {
        case (a: Double, b: Double) =>
          assert(java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b),
            s"$clue: column $i of $x != $y")
        case (a, b) => assert(a == b, s"$clue: column $i of $x != $y")
      }
    }
  }

  private val partitionings = Seq(1, 3, 8)

  private def frame(schema: StructType, rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  /** Edge-case inputs at 1 and 8 partitions with a derived range; those
    * with no value to derive one from (it fails) also with an explicit
    * range. */
  private def edgeRuns(cases: Seq[(String, Seq[Row])]): Seq[(String, Seq[Row], Int, Boolean)] =
    for ((name, rs) <- cases; p <- Seq(1, 8); ranged <- Seq(false, true)
         if !ranged || name == "empty" || name == "all-null") yield (name, rs, p, ranged)

  private def nulled(v: Double, rnd: scala.util.Random): Any =
    rnd.nextInt(12) match { case 0 => null; case 1 => Double.NaN; case _ => v }

  // ----------------------------------------------------------------- tests

  private val grouped = StructType(Seq(StructField("g", StringType), StructField("v", DoubleType)))

  test("histogramByGroup == grouped aggregate path") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(300)(Row(Seq("b", "a", null, "c", "é", "A")(rnd.nextInt(6)),
        nulled(math.round(rnd.nextGaussian() * 400) / 8.0, rnd))) ++
      Seq(Row("dropped", null), Row("dropped", Double.NaN), Row("dropped", 1e9))
    for (p <- partitionings) {
      val df = frame(grouped, rows, p)
      for (range <- Seq(None, Some((-20.0, 20.0))))
        assertSame(Binning.histogramByGroup(df, "v", "g", 4, range), byGroupPath(df, "v", "g", 4, range),
          s"p=$p range=$range")
    }
    val edgeCases = Seq(
      "empty" -> Seq.empty[Row],
      "all-null" -> Seq(Row("a", null), Row("b", null)),
      "NaN only" -> Seq(Row("a", Double.NaN)),
      "one row" -> Seq(Row("a", 2.5)),
      "min == max" -> Seq(Row("a", 3.0), Row("b", 3.0), Row(null, 3.0), Row("c", Double.NaN)))
    for ((name, rs, p, ranged) <- edgeRuns(edgeCases)) {
      val (df, range) = (frame(grouped, rs, p), Option.when(ranged)((0.0, 5.0)))
      assertSame(Binning.histogramByGroup(df, "v", "g", 3, range), byGroupPath(df, "v", "g", 3, range),
        s"$name p=$p range=$range")
    }
  }

  test("histogramByGroup: floating-point groups merge and sort as groupBy does") {
    val schema = StructType(Seq(StructField("g", DoubleType), StructField("v", IntegerType)))
    val rows = Seq(Row(0.0, 1), Row(-0.0, 2), Row(Double.NaN, 3), Row(1.5, 4), Row(-2.0, 5),
      Row(java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 6), Row(null, 7), Row(-0.0, 8))
    for (p <- partitionings) {
      val df = frame(schema, rows, p)
      assertSame(Binning.histogramByGroup(df, "v", "g", 2), byGroupPath(df, "v", "g", 2, None), s"p=$p")
    }
    assert(Binning.histogramByGroup(frame(schema, rows, 3), "v", "g", 2).select("g").distinct().count() == 4)
  }

  test("distributionDistance and psiMatrix == per-group spine path") {
    def both(df: DataFrame, n: Int, range: Option[(Double, Double)], clue: String): Unit = {
      assertSame(Stats.distributionDistance(df, "v", "g", n, range), tvdPath(df, "v", "g", n, range), s"tvd $clue")
      assertSame(Stats.psiMatrix(df, "v", "g", n, range), psiPath(df, "v", "g", n, range), s"psi $clue")
    }
    val rnd = new scala.util.Random(19)
    // "far" has no value inside the explicit range (-20, 20): no pair for it
    val rows = Seq.fill(300)(Row(Seq("b", "a", null, "c", "é", "A")(rnd.nextInt(6)),
        nulled(math.round(rnd.nextGaussian() * 400) / 8.0, rnd))) ++
      Seq(Row("dropped", null), Row("dropped", Double.NaN), Row("far", 1e3), Row("far", -1e3))
    val doubleGroups = StructType(Seq(StructField("g", DoubleType), StructField("v", IntegerType)))
    val zeros = Seq(Row(0.0, 1), Row(-0.0, 2), Row(Double.NaN, 3), Row(1.5, 4), Row(-2.0, 5),
      Row(java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 6), Row(null, 7), Row(-0.0, 8))
    for (p <- partitionings) {
      for (range <- Seq(None, Some((-20.0, 20.0))))
        both(frame(grouped, rows, p), 4, range, s"p=$p range=$range")
      both(frame(grouped, Seq(Row("a", 1.0), Row("a", 2.0), Row(null, 3.0)), p), 3, None, s"one group p=$p")
      both(frame(grouped, Seq(Row("a", 1.0), Row("b", 2.0)), p), 2, Some((5.0, 6.0)), s"no in-range value p=$p")
      both(frame(doubleGroups, zeros, p), 2, None, s"double groups p=$p")
    }
    for ((name, rs) <- Seq("empty" -> Seq.empty[Row], "all-null" -> Seq(Row("a", null), Row(null, 1.0)),
                           "min == max" -> Seq(Row("a", 3.0), Row("b", 3.0)));
         p <- Seq(1, 8); range <- Seq(None, Some((0.0, 5.0))))
      both(frame(grouped, rs, p), 3, range, s"$name p=$p range=$range")
  }

  test("a group column with a non-binary collation is rejected by every grouped counter") {
    val df = frame(grouped, Seq(Row("a", 1.0), Row("A", 2.0), Row("b", 3.0)), 2)
      .select(collate(col("g"), "UTF8_LCASE").as("g"), col("v"))
    val calls = Seq[(String, () => DataFrame)](
      "histogramByGroup" -> (() => Binning.histogramByGroup(df, "v", "g", 2)),
      "distributionDistance" -> (() => Stats.distributionDistance(df, "v", "g", 2)),
      "psiMatrix" -> (() => Stats.psiMatrix(df, "v", "g", 2)))
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("UTF8_LCASE"), s"$name: ${e.getMessage}")
    }
    // a binary-collated cast of the same column is grouped by its bytes
    val bytes = df.select(col("g").cast("string").as("g"), col("v"))
    assert(Binning.histogramByGroup(bytes, "v", "g", 2).select("g").distinct().count() == 3)
  }

  private val pairs = StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))

  test("histogram2d == grid cross join path") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(400)(Row(nulled(math.round(rnd.nextDouble() * 900) / 9.0, rnd),
      nulled(math.round(rnd.nextGaussian() * 100) / 1000.0, rnd)))
    val runs = Seq[(Int, Int, Option[(Double, Double)], Option[(Double, Double)])](
      (10, 10, None, None), (1, 4, None, None), (10, 10, None, Some((-0.1, 0.1))),
      (10, 10, Some((0.0, 50.0)), Some((0.0, 0.2))))
    for (p <- partitionings; (nx, ny, rx, ry) <- runs) {
      val df = frame(pairs, rows, p)
      assertSame(Binning.histogram2d(df, "x", "y", nx, ny, rx, ry), grid2dPath(df, "x", "y", nx, ny, rx, ry),
        s"p=$p n=($nx, $ny) ranges=($rx, $ry)")
    }
    val edgeCases = Seq(
      "empty" -> Seq.empty[Row],
      "all-null" -> Seq(Row(null, 1.0), Row(2.0, null)),
      "NaN" -> Seq(Row(Double.NaN, 1.0), Row(2.0, Double.NaN), Row(3.0, 4.0), Row(5.0, 6.0)),
      "one row" -> Seq(Row(2.0, 3.0)),
      "min == max on x" -> Seq(Row(1.0, 0.0), Row(1.0, 10.0), Row(1.0, 5.0)))
    for ((name, rs, p, ranged) <- edgeRuns(edgeCases)) {
      val (df, rx, ry) = (frame(pairs, rs, p), Option.when(ranged)((0.0, 4.0)), Option.when(ranged)((0.0, 8.0)))
      assertSame(Binning.histogram2d(df, "x", "y", 4, 2, rx, ry), grid2dPath(df, "x", "y", 4, 2, rx, ry),
        s"$name p=$p ranges=($rx, $ry)")
    }
  }

  private val weighted = StructType(Seq(StructField("v", DoubleType), StructField("w", DoubleType)))

  test("histogramWeighted == grouped decimal-sum spine path") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(400)(Row(nulled(rnd.nextGaussian() * 1e4, rnd), nulled(rnd.nextDouble() * 1e5 - 3e4, rnd)))
    val binnings = Seq[(Bins, Option[(Double, Double)])](
      (Bins.Count(10), None), (Bins.Count(1), None), (Bins.Count(7), Some((-5e3, 5e3))),
      (Bins.Edges(Seq(-1e4, -10.0, 0.0, 1.0, 2.5e3, 3e4)), None))
    for (p <- partitionings; (bins, range) <- binnings) {
      val df = frame(weighted, rows, p)
      assertSame(Binning.histogramWeighted(df, "v", "w", bins, range), weightedPath(df, "v", "w", bins, range),
        s"p=$p bins=$bins range=$range")
    }
    val edgeCases = Seq(
      "empty" -> Seq.empty[Row],
      "all-null" -> Seq(Row(null, 1.0), Row(null, 2.0)),
      "NaN and null weights" -> Seq(Row(1.0, Double.NaN), Row(2.0, null), Row(Double.NaN, 5.0)),
      "one row" -> Seq(Row(2.0, 0.1234565)),
      "min == max" -> Seq(Row(3.0, 0.1), Row(3.0, 0.2), Row(3.0, null)))
    for ((name, rs, p, ranged) <- edgeRuns(edgeCases)) {
      val (df, range) = (frame(weighted, rs, p), Option.when(ranged)((0.0, 4.0)))
      assertSame(Binning.histogramWeighted(df, "v", "w", Bins.Count(4), range),
        weightedPath(df, "v", "w", Bins.Count(4), range), s"$name p=$p range=$range")
    }
  }

  test("cdf == window path, an all-zero histogram included") {
    val rnd = new scala.util.Random(17)
    val df = frame(StructType(Seq(StructField("v", DoubleType))), Seq.fill(200)(Row(nulled(rnd.nextDouble(), rnd))), 3)
    for (h <- Seq(Binning.histogram(df, "v", Bins.Count(7)),
                  Binning.histogramWeighted(df, "v", "v", Bins.Count(3)),
                  Binning.histogram(df, "v", Bins.Count(4), Some((5.0, 6.0)))))
      assertSame(Binning.cdf(h), cdfPath(h), s"cdf of ${h.columns.mkString(",")}")
  }

  test("minMax == global aggregate path: NaN greatest, nulls skipped, first of ±0.0 kept") {
    val schema = StructType(Seq(StructField("p", DoubleType), StructField("q", DoubleType),
      StructField("s", StringType)))
    val cases = Seq(
      "empty" -> Seq.empty[Row],
      "all-null" -> Seq(Row(null, null, null)),
      "one row" -> Seq(Row(1.5, -2.0, "3")),
      "NaN" -> Seq(Row(1.0, Double.NaN, "2.5"), Row(Double.NaN, Double.NaN, "2"), Row(-1.0, Double.NaN, null)),
      "zeros" -> Seq(Row(0.0, -0.0, "-0.0"), Row(-0.0, 0.0, "0"), Row(0.0, -0.0, "0.0"), Row(-0.0, 0.0, null)),
      "mixed" -> Seq(Row(3.0, null, "7"), Row(null, 4.0, "1e3"), Row(-0.0, 0.0, "-5"), Row(0.0, -0.0, "0")))
    for ((name, rs) <- cases; p <- partitionings) {
      val df = frame(schema, rs, p)
      assertSame(Binning.minMax(df, Seq("p", "q", "s")), minMaxPath(df, Seq("p", "q", "s")), s"$name p=$p")
    }
  }
}
