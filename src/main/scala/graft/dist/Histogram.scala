package graft.dist

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stateful multi-series histogram builder — the Scala equivalent of the
  * reference's `Histogram` class (pyspark_dist_explore.py ~L55-320):
  * accumulate series, resolve one shared range, materialize once.
  *
  * API mapping (reference → here):
  *   - `Histogram(x, bins, range)`    → `new Histogram(bins, range).addData(...)`
  *   - `add_data` / `add_column`      → `addData` / `addColumn` (multi-column
  *     frames split into one series per column, ~L60-92)
  *   - `build()` (idempotent, ~L95)   → `build()` (cached)
  *   - `to_pandas('hist')`            → `toHistDF` (wide counts + labels)
  *   - `to_pandas('density')`         → `toDensityDF` (bin centers × counts)
  *   - `plot_hist` / `plot_density`   → `plotHist` / `plotDensity`
  *     (self-contained SVG via [[Plotting]]; the JVM has no matplotlib, so
  *     the Axes becomes an SVG string and the DataFrame stays canonical)
  *
  * The free functions `hist` / `distplot` / `pandasHistogram` in
  * [[DistExplore]] mirror the reference's module-level entry points.
  */
class Histogram(bins: Bins = Bins.Count(10), range: Option[(Double, Double)] = None) {
  private val series = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, String, String)]
  private var built: Option[DataFrame] = None

  /** Register every column of `df` as a series (reference add_data). */
  def addData(df: DataFrame): this.type = {
    df.columns.foreach(c => addColumn(df, c))
    this
  }

  def addData(dfs: Seq[DataFrame]): this.type = { dfs.foreach(addData); this }

  /** Register one column as a series (reference add_column); duplicate names
    * are de-duplicated with " (k)" suffixes at build time. */
  def addColumn(df: DataFrame, colName: String): this.type = {
    require(df.columns.contains(colName), s"no column $colName")
    series += ((df, colName, colName))
    built = None
    this
  }

  def addColumn(df: DataFrame, colName: String, label: String): this.type = {
    require(df.columns.contains(colName), s"no column $colName")
    series += ((df, colName, label))
    built = None
    this
  }

  /** Idempotent, eager materialization (reference build(), ~L95-120)
    * through [[Binning.histogramMany]]: one scan per distinct source
    * per job, one min/max job for a derived range and one count-vector job
    * for all series — 2 Spark jobs for any number of series, 1 with an
    * explicit range or edges, which skip the min/max (~L104). The result
    * is a local DataFrame; `HistogramJobContractSpec` holds the build to
    * that budget. */
  def build(): DataFrame = built.getOrElse {
    val b = Binning.histogramMany(series.toSeq, bins, range)
    built = Some(b)
    b
  }

  /** Wide histogram table with formatted bin labels (to_pandas('hist')). */
  def toHistDF: DataFrame = Binning.withLabels(build())

  /** Density table: bin centers × per-series counts (to_pandas('density')). */
  def toDensityDF: DataFrame = {
    val b = build()
    val cnts = b.columns.filter(_.endsWith("_cnt")).map(Binning.quoted)
    b.select(Seq(col("bin_id"), ((col("bin_lo") + col("bin_hi")) / 2).as("bin_center")) ++ cnts: _*)
  }

  /** Rendered histogram (reference plot_hist incl. its `overlapping` flag,
    * ~L240-280) as a self-contained SVG string — [[Plotting.svgHistogram]]. */
  def plotHist(title: String = "", width: Int = 640, height: Int = 400,
               overlapping: Boolean = false): String =
    Plotting.svgHistogram(build(), title, width, height, overlapping)

  /** Rendered density polylines (reference plot_density, ~L280-320) as a
    * self-contained SVG string — see [[Plotting.svgDensity]]. */
  def plotDensity(title: String = "", width: Int = 640, height: Int = 400): String =
    Plotting.svgDensity(toDensityDF, title, width, height)
}

/** Module-level entry points mirroring the reference's public functions
  * (`hist`, `distplot`, `pandas_histogram` — pyspark_dist_explore.py
  * ~L15-52). Each returns a DataFrame (the engine contract); the reference's
  * matplotlib rendering is presentation-layer and intentionally absent. */
object DistExplore {
  /** reference `pandas_histogram(x, bins, range)` — wide labeled counts. */
  def pandasHistogram(dfs: Seq[DataFrame], bins: Bins = Bins.Count(10),
                      range: Option[(Double, Double)] = None): DataFrame =
    new Histogram(bins, range).addData(dfs).toHistDF

  /** reference `hist(ax, x, **kw)` minus the Axes — aligned histogram table. */
  def hist(dfs: Seq[DataFrame], bins: Bins = Bins.Count(10),
           range: Option[(Double, Double)] = None): DataFrame =
    new Histogram(bins, range).addData(dfs).build()

  /** reference `distplot(ax, x, **kw)` minus the Axes — density points. */
  def distplot(dfs: Seq[DataFrame], bins: Bins = Bins.Count(10),
               range: Option[(Double, Double)] = None): DataFrame =
    new Histogram(bins, range).addData(dfs).toDensityDF

  /** reference `hist(ax, x, **kw)` WITH the drawing — SVG string. */
  def plotHist(dfs: Seq[DataFrame], bins: Bins = Bins.Count(10),
               range: Option[(Double, Double)] = None, title: String = "",
               overlapping: Boolean = false): String =
    new Histogram(bins, range).addData(dfs).plotHist(title, overlapping = overlapping)
}
