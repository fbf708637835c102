package graft

import org.apache.spark.sql.DataFrame

/** Syntax sugar mirroring the reference's ergonomics: where a
  * pyspark_dist_explore user writes `pandas_histogram(df.select('x'))`,
  * a graft user writes `df.histogram("x")`. */
package object dist {

  implicit class DistExploreOps(private val df: DataFrame) {

    /** Equal-width histogram over `colName` (reference default bins=10). */
    def histogram(colName: String, bins: Int = 10,
                  range: Option[(Double, Double)] = None): DataFrame =
      Binning.histogram(df, colName, Bins.Count(bins), range)

    /** Histogram with explicit bin boundaries. */
    def histogram(colName: String, edges: Seq[Double]): DataFrame =
      Binning.histogram(df, colName, Bins.Edges(edges))

    /** Histogram grouped by a second column (shared global range). */
    def histogramBy(valueCol: String, groupCol: String, bins: Int = 10): DataFrame =
      Binning.histogramByGroup(df, valueCol, groupCol, bins)

    /** Min/max over several numeric columns in one Spark job, as one local
      * row (NaN counts as the greatest value, as in Spark's `max`). */
    def minMax(cols: String*): DataFrame = Binning.minMax(df, cols)

    /** Density points (bin centers × counts) — reference distplot data. */
    def densityPoints(colName: String, bins: Int = 10): DataFrame =
      Binning.densityPoints(Binning.histogram(df, colName, Bins.Count(bins)))
  }
}
