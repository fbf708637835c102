package graft.dist

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The paper's performance claim as a checked contract: the reference pays
  * ~3 Spark jobs per histogram series (rdd.py:2214-2366 plus two min/max
  * collects); here a multi-series histogram pays a fixed number of jobs for
  * any number of series, each one job in rdd.py's own mapPartitions plus
  * driver-merge shape: 2 jobs with a data-derived range (the min/max job,
  * then the count-vector job) and 1 with an explicit range or explicit
  * edges (the count-vector job only). Collecting the result, a local
  * DataFrame, runs none. The series mix two parquet sources and several
  * columns of one source; at N = 16 every (source, column) pair repeats.
  * The grouped, 2-D and weighted shapes keep the same budgets, `minMax` is
  * 1 job, and `cdf` over a local histogram adds none. The pairwise
  * comparators `Stats.distributionDistance` and `Stats.psiMatrix` count on
  * the grouped core at build and return their pairs as a local DataFrame. */
class HistogramJobContractSpec extends SparkSpec {

  private lazy val sources: (DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("hist_jobs").toString
    spark.range(2000).selectExpr("id % 50 AS a", "id * 0.5 AS b", "CAST(id % 7 AS DOUBLE) AS c")
      .write.parquet(s"$dir/t")
    spark.range(500).selectExpr("id * 3.0 AS d").write.parquet(s"$dir/u")
    (spark.read.parquet(s"$dir/t"), spark.read.parquet(s"$dir/u"))
  }

  /** N series cycling t.a, t.b, u.d, t.c, t.a: at N = 16 every pair repeats. */
  private def series(n: Int): Seq[(DataFrame, String)] = {
    val (t, u) = sources
    val pool = Seq((t, "a"), (t, "b"), (u, "d"), (t, "c"), (t, "a"))
    (0 until n).map(i => pool(i % pool.size))
  }

  private val sizes = Seq(1, 4, 16)

  /** Jobs of `DistExplore.hist` (one `select` per series, as a caller
    * passes frames) and of `Histogram.build`, collected, at each N. */
  private def jobs(bins: Bins, range: Option[(Double, Double)]): Seq[(String, Int)] =
    sizes.flatMap { n =>
      val ss = series(n)
      val viaHist = jobsOf(DistExplore.hist(ss.map { case (df, c) => df.select(c) }, bins, range).collect())
      val viaBuild = jobsOf {
        val h = new Histogram(bins, range)
        ss.foreach { case (df, c) => h.addColumn(df, c) }
        h.build().collect()
      }
      Seq(s"hist N=$n" -> viaHist, s"build N=$n" -> viaBuild)
    }

  test("derived range: 2 jobs at N = 1, 4 and 16 series") {
    val js = jobs(Bins.Count(10), None)
    assert(js.map(_._2).distinct == Seq(2), js)
    val (t, _) = sources
    assert(jobsOf(Binning.histogram(t, "b").collect()) == 2)
  }

  test("explicit range or explicit edges: 1 job at N = 1, 4 and 16 series") {
    val ranged = jobs(Bins.Count(10), Some((0.0, 500.0)))
    assert(ranged.map(_._2).distinct == Seq(1), ranged)
    val edged = jobs(Bins.Edges(Seq(0.0, 1.0, 10.0, 100.0, 1000.0)), None)
    assert(edged.map(_._2).distinct == Seq(1), edged)
  }

  test("grouped, 2-D and weighted: 2 jobs with a derived range, 1 with an explicit one") {
    val (t, _) = sources
    val derived = Seq[(String, () => DataFrame)](
      "histogramByGroup" -> (() => Binning.histogramByGroup(t, "b", "a")),
      "histogram2d" -> (() => Binning.histogram2d(t, "a", "b")),
      "histogramWeighted" -> (() => Binning.histogramWeighted(t, "b", "c")))
    val explicit = Seq[(String, () => DataFrame)](
      "histogramByGroup" -> (() => Binning.histogramByGroup(t, "b", "a", 10, Some((0.0, 500.0)))),
      "histogram2d" -> (() => Binning.histogram2d(t, "a", "b", 10, 10, Some((0.0, 50.0)), Some((0.0, 500.0)))),
      "histogramWeighted" -> (() => Binning.histogramWeighted(t, "b", "c", Bins.Count(10), Some((0.0, 500.0)))),
      "histogramWeighted edges" -> (() => Binning.histogramWeighted(t, "b", "c", Bins.Edges(Seq(0.0, 10.0, 1e3)))))
    def jobsEach(builds: Seq[(String, () => DataFrame)]) = builds.map { case (n, b) => n -> jobsOf(b().collect()) }
    val (d, e) = (jobsEach(derived), jobsEach(explicit))
    assert(d.forall(_._2 == 2), d)
    assert(e.forall(_._2 == 1), e)
  }

  test("minMax: 1 job; cdf over a local histogram: none") {
    val (t, _) = sources
    assert(jobsOf(Binning.minMax(t, Seq("a", "b", "c")).collect()) == 1)
    val h = Binning.histogram(t, "b")
    assert(jobsOf(Binning.cdf(h).collect()) == 0)
  }

  test("pairwise comparators: 2 jobs with a derived range, 1 with an explicit one, none to collect") {
    val (t, _) = sources
    val calls = Seq[(String, Option[(Double, Double)] => DataFrame)](
      "distributionDistance" -> (r => Stats.distributionDistance(t, "b", "c", 10, r)),
      "psiMatrix" -> (r => Stats.psiMatrix(t, "b", "c", 10, r)))
    val js = for ((name, call) <- calls; range <- Seq(None, Some((0.0, 500.0)))) yield {
      var df: DataFrame = null
      val built = jobsOf { df = call(range) }
      (name, range, built, jobsOf(df.collect()))
    }
    // build: the range job (derived only), then the counts job; the pairs
    // are a local frame, so collecting them runs no job
    assert(js.map(j => (j._3, j._4)) == Seq((2, 0), (1, 0), (2, 0), (1, 0)), js)
  }
}
