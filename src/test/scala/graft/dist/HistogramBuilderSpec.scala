package graft.dist

import graft.SparkSpec

class HistogramBuilderSpec extends SparkSpec {
  import spark.implicits._

  test("addData splits a multi-column frame into one series per column") {
    val df = Seq((0.0, 10.0), (4.0, 6.0)).toDF("p", "q")
    val h = new Histogram(Bins.Count(2)).addData(df).build()
    assert(h.columns.toSeq == Seq("bin_id", "bin_lo", "bin_hi", "p_cnt", "q_cnt"))
    // shared range [0, 10]: p -> bins 0,0 ; q -> bins 1,1
    val rows = h.collect().map(r => (r.getInt(0), r.getLong(3), r.getLong(4))).toSeq
    assert(rows == Seq((0, 2L, 0L), (1, 0L, 2L)))
  }

  test("duplicate series names get suffixed; build() is cached until mutated") {
    val a = Seq(1.0).toDF("v")
    val b = Seq(9.0).toDF("v")
    val hist = new Histogram(Bins.Count(2)).addColumn(a, "v").addColumn(b, "v")
    val h1 = hist.build()
    assert(h1.columns.toSeq == Seq("bin_id", "bin_lo", "bin_hi", "v_cnt", "v (1)_cnt"))
    assert(hist.build() eq h1) // idempotent: same plan object, no recompute
    hist.addColumn(a, "v", "third")
    assert(!(hist.build() eq h1)) // mutation invalidates the cache
  }

  test("explicit edges: multi-series counts with verbatim boundaries") {
    val a = Seq(0.5, 1.5, 60.0).toDF("x") // 60 out of range -> dropped
    val b = Seq(2.5, 50.0).toDF("x")      // 50 == max -> closed last bucket
    val h = new Histogram(Bins.Edges(Seq(0.0, 1.0, 5.0, 50.0)))
      .addColumn(a, "x", "a").addColumn(b, "x", "b").build()
    val rows = h.collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toSeq
    assert(rows == Seq(
      (0, 0.0, 1.0, 1L, 0L),
      (1, 1.0, 5.0, 1L, 1L),
      (2, 5.0, 50.0, 0L, 1L)))
  }

  test("toHistDF adds labels; toDensityDF centers bins") {
    val hist = new Histogram(Bins.Count(2), range = Some((0.0, 10.0)))
      .addColumn(Seq(1.0, 9.0).toDF("v"), "v")
    val labels = hist.toHistDF.select("bin_label").as[String].collect().toSeq
    assert(labels == Seq("0.00 - 5.00", "5.00 - 10.00"))
    val centers = hist.toDensityDF.select("bin_center").as[Double].collect().toSeq
    assert(centers == Seq(2.5, 7.5))
  }

  test("DistExplore entry points mirror the reference module functions") {
    val dfs = Seq(Seq(1.0, 2.0).toDF("v"))
    assert(DistExplore.pandasHistogram(dfs, Bins.Count(2)).columns.contains("bin_label"))
    assert(DistExplore.hist(dfs, Bins.Count(2)).count() == 2)
    assert(DistExplore.distplot(dfs, Bins.Count(2)).columns.contains("bin_center"))
  }

  test("a column name with a dot is binned by its exact name") {
    val df = Seq(1.0, 9.0, 10.0).toDF("price.usd")
    val hist = new Histogram(Bins.Count(2)).addData(df)
    val h = hist.build()
    assert(h.columns.toSeq == Seq("bin_id", "bin_lo", "bin_hi", "price.usd_cnt"))
    assert(h.collect().map(r => (r.getInt(0), r.getLong(3))).toSeq == Seq((0, 1L), (1, 2L)))
    assert(hist.toDensityDF.columns.last == "price.usd_cnt")
  }

  test("labels with backticks and dots are output names only, never parsed") {
    val a = Seq(1.0, 2.0).toDF("v")
    val b = Seq(9.0).toDF("w")
    val hist = new Histogram(Bins.Count(2)).addColumn(a, "v", "a`b").addColumn(b, "w", "c.d")
    val h = hist.build()
    assert(h.columns.toSeq == Seq("bin_id", "bin_lo", "bin_hi", "a`b_cnt", "c.d_cnt"))
    assert(h.collect().map(r => (r.getLong(3), r.getLong(4))).toSeq == Seq((2L, 0L), (0L, 1L)))
    assert(hist.toDensityDF.select("bin_center").count() == 2)
    assert(hist.plotHist().contains("a`b"))
  }
}
