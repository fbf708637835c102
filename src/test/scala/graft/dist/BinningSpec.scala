package graft.dist

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit matrix for SURVEY.md §2.3 — one case per verified rdd.py rule.
  * The range51 cases are the RDD.histogram doctest values (rdd.py:2257-2268),
  * the de-facto executable spec. */
class BinningSpec extends SparkSpec {
  import spark.implicits._

  private def range51 = (0 to 50).map(_.toDouble).toDF("v")

  private def counts(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.orderBy("bin_id").select("cnt").as[Long].collect().toSeq

  test("rdd.py doctest: 0..50 with 2 equal-width bins -> [25, 26]") {
    val h = Binning.histogram(range51, "v", Bins.Count(2))
    assert(counts(h) == Seq(25L, 26L))
    val edges = h.select("bin_lo", "bin_hi").as[(Double, Double)].collect()
    assert(edges.toSeq == Seq((0.0, 25.0), (25.0, 50.0)))
  }

  test("rdd.py doctest: 0..50 with explicit [0,5,25,50] -> [5,20,26]") {
    val h = Binning.histogram(range51, "v", Bins.Edges(Seq(0, 5, 25, 50)))
    assert(counts(h) == Seq(5L, 20L, 26L))
  }

  test("closed last bucket: x == max lands in the last bin") {
    val df = Seq(0.0, 10.0).toDF("v")
    val h = Binning.histogram(df, "v", Bins.Count(5))
    assert(counts(h) == Seq(1L, 0L, 0L, 0L, 1L))
  }

  test("null and NaN silently dropped") {
    val df = Seq[java.lang.Double](1.0, null, Double.NaN, 2.0, null, 3.0).toDF("v")
    val h = Binning.histogram(df, "v", Bins.Count(2))
    assert(counts(h).sum == 3L)
  }

  test("out-of-range values silently dropped; range bounds inclusive") {
    val df = Seq(-5.0, 0.0, 2.5, 5.0, 7.5).toDF("v")
    val h = Binning.histogram(df, "v", Bins.Count(2), range = Some((0.0, 5.0)))
    // -5 and 7.5 dropped; 0 -> bin0, 2.5 -> bin1 boundary [2.5,5], 5 -> closed last
    assert(counts(h) == Seq(1L, 2L))
  }

  test("degenerate min == max: single bucket [v, v] counting all rows") {
    val df = Seq.fill(7)(42.0).toDF("v")
    val h = Binning.histogram(df, "v", Bins.Count(10))
    val rows = h.collect()
    assert(rows.length == 1)
    assert(rows(0).getInt(0) == 0 && rows(0).getDouble(1) == 42.0 &&
      rows(0).getDouble(2) == 42.0 && rows(0).getLong(3) == 7L)
  }

  test("integer-width nicety: edges stay integral when divisible") {
    assert(Binning.equalWidthEdges(0, 100, 4) == Vector(0.0, 25.0, 50.0, 75.0, 100.0))
  }

  test("uneven boundaries use bisect semantics incl. boundary-equal values") {
    val df = Seq(1.0, 2.0, 4.9, 5.0, 10.0, 24.9, 25.0, 49.0, 49.5, 50.0).toDF("v")
    val h = Binning.histogram(df, "v", Bins.Edges(Seq(1, 2, 5, 10, 25, 49, 50)))
    // [1,2): {1}; [2,5): {2,4.9}; [5,10): {5}; [10,25): {10,24.9}; [25,49): {25}; [49,50]: {49,49.5,50}
    assert(counts(h) == Seq(1L, 2L, 1L, 2L, 1L, 3L))
  }

  test("edge validation: unsorted, duplicated, NaN, too-short all rejected") {
    intercept[IllegalArgumentException](Binning.validateEdges(Seq(1.0)))
    intercept[IllegalArgumentException](Binning.validateEdges(Seq(2.0, 1.0)))
    intercept[IllegalArgumentException](Binning.validateEdges(Seq(1.0, 1.0, 2.0)))
    intercept[IllegalArgumentException](Binning.validateEdges(Seq(1.0, Double.NaN)))
  }

  test("empty input with derived range raises (rdd.py:2290-2292)") {
    val df = Seq.empty[Double].toDF("v")
    intercept[IllegalArgumentException](Binning.histogram(df, "v", Bins.Count(3)).collect())
  }

  test("empty input with explicit edges yields dense zeros") {
    val df = Seq.empty[Double].toDF("v")
    val h = Binning.histogram(df, "v", Bins.Edges(Seq(0, 1, 2)))
    assert(counts(h) == Seq(0L, 0L))
  }

  test("multi-series shared range + deterministic pivot columns") {
    val a = Seq(0.0, 1.0, 2.0).toDF("x") // min 0
    val b = Seq(8.0, 9.0, 10.0).toDF("y") // max 10
    val h = Binning.histogramMany(Seq((a, "x", "a"), (b, "y", "b")), Bins.Count(5))
    assert(h.columns.toSeq == Seq("bin_id", "bin_lo", "bin_hi", "a_cnt", "b_cnt"))
    val rows = h.orderBy("bin_id").select("a_cnt", "b_cnt").as[(Long, Long)].collect().toSeq
    // shared range [0,10], width 2: a -> bins 0,0,1 ; b -> bins 4,4,4(closed)
    assert(rows == Seq((2L, 0L), (1L, 0L), (0L, 0L), (0L, 0L), (0L, 3L)))
  }

  test("multi-series: a cached series frame is read from the cache") {
    val t = Seq((1.0, 2.0), (3.0, 4.0)).toDF("a", "b")
    val a = t.select("a").cache()
    try {
      val buffers = a.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder
      }.get
      assert(!buffers.isCachedColumnBuffersLoaded)
      // the count job scans the cached relation, which loads its buffers
      val h = Binning.histogramMany(Seq((a, "a", "a"), (t.select("b"), "b", "b")), Bins.Count(2))
      assert(buffers.isCachedColumnBuffersLoaded)
      assert(h.select("a_cnt", "b_cnt").as[(Long, Long)].collect().toSeq == Seq((1L, 1L), (1L, 1L)))
    } finally a.unpersist()
  }

  test("duplicate series names get ' (k)' suffixes") {
    assert(Binning.dedupeLabels(Seq("v", "v", "w", "v")) == Seq("v", "v (1)", "w", "v (2)"))
  }

  test("grouped histogram is dense per group with shared range") {
    val df = Seq(("a", 0.0), ("a", 10.0), ("b", 5.0)).toDF("g", "v")
    val h = Binning.histogramByGroup(df, "v", "g", n = 2)
    val rows = h.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    // shared range [0,10], width 5: 5.0 -> floor(5/5) = bin 1 (rdd.py division path)
    assert(rows == Seq(("a", 0, 1L), ("a", 1, 1L), ("b", 0, 0L), ("b", 1, 1L)))
  }

  test("labels format %.2f - %.2f") {
    val df = Seq(0.0, 10.0).toDF("v")
    val h = Binning.withLabels(Binning.histogram(df, "v", Bins.Count(2)))
    val labels = h.orderBy("bin_id").select("bin_label").as[String].collect().toSeq
    assert(labels == Seq("0.00 - 5.00", "5.00 - 10.00"))
  }

  test("density points are bin centers") {
    val df = Seq(0.0, 10.0).toDF("v")
    val d = Binning.densityPoints(Binning.histogram(df, "v", Bins.Count(2)))
    val centers = d.orderBy("bin_id").select("bin_center").as[Double].collect().toSeq
    assert(centers == Seq(2.5, 7.5))
  }

  test("histogram: hand-checked edges and counts on even, uneven, degenerate bins") {
    val df = Seq(0.0, 1.5, 2.5, 5.0, 7.5, 10.0, Double.NaN, -1.0, 11.0).toDF("v")
    def rows(h: org.apache.spark.sql.DataFrame) =
      h.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    // even width, data-derived range over non-NaN values: [-1, 11], step 3
    assert(rows(Binning.histogram(df, "v", Bins.Count(4))) ==
      Seq((0, -1.0, 2.0, 3L), (1, 2.0, 5.0, 1L), (2, 5.0, 8.0, 2L), (3, 8.0, 11.0, 2L)))
    // explicit range excludes out-of-range values
    assert(rows(Binning.histogram(df, "v", Bins.Count(4), Some((0.0, 10.0)))) ==
      Seq((0, 0.0, 2.5, 2L), (1, 2.5, 5.0, 1L), (2, 5.0, 7.5, 1L), (3, 7.5, 10.0, 2L)))
    // uneven boundaries (bisect path), out-of-range dropped
    assert(rows(Binning.histogram(df, "v", Bins.Edges(Seq(0.0, 1.0, 5.0, 10.0)))) ==
      Seq((0, 0.0, 1.0, 1L), (1, 1.0, 5.0, 2L), (2, 5.0, 10.0, 3L)))
    // degenerate min==max single bucket
    val const = Seq(3.0, 3.0, 3.0).toDF("v")
    assert(rows(Binning.histogram(const, "v", Bins.Count(5))) == Seq((0, 3.0, 3.0, 3L)))
    // boundary values land per bisect_right: x==edge goes to the right bucket,
    // last bucket closed
    val edges = Seq(0.0, 5.0, 10.0)
    val b = Seq(0.0, 5.0, 10.0).toDF("v")
    assert(rows(Binning.histogram(b, "v", Bins.Edges(edges))).map(_._4) == Seq(1L, 2L))
  }

  test("histogramColumns works for a single column and colliding labels dedupe safely") {
    val one = Binning.histogramColumns(Seq(0.0, 10.0).toDF("v"), Seq("v"), n = 2)
      .collect().map(r => (r.getInt(0), r.getLong(3))).toSeq
    assert(one == Seq((0, 1L), (1, 1L)))
    // "a", "a (1)", "a" must yield three distinct labels, not two "a (1)"s
    assert(Binning.dedupeLabels(Seq("a", "a (1)", "a")).distinct.size == 3)
  }

  test("histogramColumns: one scan, shared range, per-column counts") {
    val df = Seq((0.0, 5.0), (2.0, 10.0), (4.0, Double.NaN), (6.0, 3.0))
      .toDF("p", "q")
    // shared range = [0, 10]; NaN dropped from q
    val h = Binning.histogramColumns(df, Seq("p", "q"), n = 2)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toSeq
    assert(h == Seq((0, 0.0, 5.0, 3L, 1L), (1, 5.0, 10.0, 1L, 2L)))
    // must agree with independent per-column histograms at the shared range
    val p = counts(Binning.histogram(df, "p", Bins.Count(2), Some((0.0, 10.0))))
    val q = counts(Binning.histogram(df, "q", Bins.Count(2), Some((0.0, 10.0))))
    assert(h.map(_._4) == p && h.map(_._5) == q)
  }

  test("implicit syntax: df.histogram / df.minMax / df.densityPoints") {
    val df = Seq(0.0, 5.0, 10.0).toDF("v")
    assert(counts(df.histogram("v", bins = 2)) == Seq(1L, 2L))
    assert(counts(df.histogram("v", edges = Seq(0.0, 1.0, 10.0))) == Seq(1L, 2L))
    assert(df.minMax("v").collect()(0).getDouble(0) == 0.0)
    assert(df.densityPoints("v", bins = 2).count() == 2)
  }

  test("minMax emits one row of per-column min/max") {
    val df = Seq((1.0, 10.0), (3.0, 5.0)).toDF("p", "q")
    val r = Binning.minMax(df, Seq("p", "q")).collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 3.0 &&
      r.getDouble(2) == 5.0 && r.getDouble(3) == 10.0)
  }
  test("histogram2d: dense 2x2 grid, joint drop rule, closed last buckets") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (0.0, 0.0), (10.0, 10.0), (4.0, 9.0), (0.0, 10.0), (10.0, 0.0),
      (5.0, 5.0),                     // both at midpoint -> bin (1,1)
      (null, 5.0), (5.0, Double.NaN)  // either side dirty -> row dropped
    ).toDF("x", "y")
    val h = Binning.histogram2d(df, "x", "y", nx = 2, ny = 2)
    val m = h.select("bin_x", "bin_y", "cnt").as[(Int, Int, Long)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(m == Map((0, 0) -> 1L, (0, 1) -> 2L, (1, 0) -> 1L, (1, 1) -> 2L))
    val edges = h.where(col("bin_x") === 1 && col("bin_y") === 1)
      .select("x_lo", "x_hi", "y_lo", "y_hi").as[(Double, Double, Double, Double)].head()
    assert(edges == ((5.0, 10.0, 5.0, 10.0)))
  }

  test("histogram2d: degenerate axis collapses to one closed bucket") {
    val df = Seq((1.0, 0.0), (1.0, 10.0), (1.0, 5.0)).toDF("x", "y")
    val h = Binning.histogram2d(df, "x", "y", nx = 4, ny = 2)
    assert(h.count() == 2) // 1 x-bin x 2 y-bins
    assert(h.agg(sum("cnt")).as[Long].head() == 3L)
  }

  test("histogramWeighted: exact weight mass per bin; null/NaN weight counts the row only") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (0.0, 2.5), (1.0, 1.5), (9.0, 4.0), (10.0, 1.0),
      (2.0, null), (3.0, Double.NaN)
    ).toDF("v", "w")
    val h = Binning.histogramWeighted(df, "v", "w", Bins.Count(2))
    val rows = h.select("bin_id", "cnt", "wsum").as[(Int, Long, Double)].collect().toSeq
    assert(rows == Seq((0, 4L, 4.0), (1, 2L, 5.0)))
  }

  test("histogramWeighted: empty bins carry zero mass") {
    val df = Seq((0.0, 1.0), (10.0, 3.0)).toDF("v", "w")
    val h = Binning.histogramWeighted(df, "v", "w", Bins.Count(5))
    val rows = h.select("cnt", "wsum").as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 1.0), (0L, 0.0), (0L, 0.0), (0L, 0.0), (1L, 3.0)))
  }

  test("histogramLog: geometric edges, exact endpoints, non-positive values dropped") {
    val df = Seq[java.lang.Double](1.0, 10.0, 100.0, 1000.0, 0.0, -5.0, null).toDF("v")
    val h = Binning.histogramLog(df, "v", n = 3)
    val rows = h.select("bin_id", "bin_lo", "bin_hi", "cnt")
      .as[(Int, Double, Double, Long)].collect().toSeq
    assert(rows.map(_._4) == Seq(1L, 1L, 2L)) // 1 | 10 | 100, 1000 (closed last)
    assert(rows.head._2 == 1.0 && rows.last._3 == 1000.0) // exact pinned endpoints
    assert(math.abs(rows(0)._3 - 10.0) < 1e-9 && math.abs(rows(1)._3 - 100.0) < 1e-9)
  }

}
