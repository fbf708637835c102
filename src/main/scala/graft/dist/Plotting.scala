package graft.dist

import org.apache.spark.sql.{DataFrame, Row}

/** Dependency-free SVG rendering for histogram / density frames — the
  * engine-side equivalent of the reference's `plot_hist` / `plot_density`
  * (pyspark_dist_explore.py ~L240-320, matplotlib Axes). The JVM has no
  * matplotlib; emitting self-contained SVG keeps the capability (a user can
  * look at the distribution) without a native dependency, and the input
  * DataFrame remains the canonical "table view" of every number drawn.
  *
  * Driver-side cost is O(bins × series) — the same bounded collect the
  * reference performs handing a pandas frame to matplotlib.
  *
  * Visual defaults follow a validated categorical palette (8 fixed-order
  * hues, CVD-checked adjacent-pair ΔE ≥ 8, lightness band 0.43–0.77 on the
  * light surface): series take hues in FIXED order, never cycled — more
  * than 8 series is refused rather than repainted. Marks are thin with a
  * 2px gap between grouped bars, 4px rounded data-ends anchored to the
  * baseline, recessive gridlines, text in ink tokens (never the series
  * color), a legend for ≥2 series (a single series is named by the title),
  * and a native `<title>` tooltip on every bar carrying its exact value. */
object Plotting {

  private val seriesColors = Vector(
    "#2a78d6", "#eb6834", "#1baf7a", "#eda100",
    "#e87ba4", "#008300", "#4a3aa7", "#e34948")
  private val surface = "#fcfcfb"
  private val inkPrimary = "#0b0b0b"
  private val inkSecondary = "#52514e"
  private val gridline = "#e7e6e3"
  private val fontStack = "system-ui, -apple-system, 'Segoe UI', sans-serif"

  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  /** 1/2/5-stepped "nice" axis ticks from 0 to at least `maxV`. */
  private[dist] def niceTicks(maxV: Double, n: Int = 5): Seq[Double] = {
    if (maxV <= 0) return Seq(0.0, 1.0)
    val raw = maxV / n
    val mag = math.pow(10, math.floor(math.log10(raw)))
    val step = (raw / mag) match {
      case r if r <= 1 => mag
      case r if r <= 2 => 2 * mag
      case r if r <= 5 => 5 * mag
      case _           => 10 * mag
    }
    val count = math.ceil(maxV / step).toInt
    (0 to count).map(_ * step)
  }

  // SVG numbers and axis text must be locale-independent — the f
  // interpolator's default-locale %.2f emits a comma decimal point on e.g.
  // de_DE, which breaks path/points parsing ("M12,34,56,78 ...")
  private def p2(v: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, v)

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else p2(v)

  /** Human-readable axis values (the reference's formatted_yaxis
    * FuncFormatter, ≈L250): 1500 → "1.5K", 2000000 → "2M". */
  private[dist] def fmtHuman(v: Double): String = {
    def scaled(s: Double, suffix: String) = {
      val x = v / s
      (if (x == math.rint(x)) x.toLong.toString
       else "%.1f".formatLocal(java.util.Locale.ROOT, x)) + suffix
    }
    math.abs(v) match {
      case a if a >= 1e9 => scaled(1e9, "B")
      case a if a >= 1e6 => scaled(1e6, "M")
      case a if a >= 1e3 => scaled(1e3, "K")
      case _             => fmt(v)
    }
  }

  /** Bar with a 4px-rounded data-end anchored to the baseline. Overlapping
    * marks get translucent fill plus a 2px surface ring so each series'
    * outline stays readable where they stack. */
  private def bar(x: Double, y: Double, w: Double, h: Double, fill: String,
                  tooltip: String, overlapping: Boolean): String = {
    val r = math.min(4.0, w / 2)
    val hh = math.max(h, 0.0)
    val rr = math.min(r, hh)
    val d = s"M${p2(x)},${p2(y + hh)} L${p2(x)},${p2(y + rr)} Q${p2(x)},${p2(y)} ${p2(x + rr)},${p2(y)} " +
      s"L${p2(x + w - rr)},${p2(y)} Q${p2(x + w)},${p2(y)} ${p2(x + w)},${p2(y + rr)} " +
      s"L${p2(x + w)},${p2(y + hh)} Z"
    val style = if (overlapping)
      s"""fill="$fill" fill-opacity="0.6" stroke="$surface" stroke-width="2""""
    else s"""fill="$fill""""
    s"""<path d="$d" $style><title>${esc(tooltip)}</title></path>"""
  }

  private case class Frame(title: String, width: Int, height: Int,
                           nSeries: Int, labels: Seq[String]) {
    val (mL, mR, mT, mB) = (56, 16, if (title.nonEmpty) 34 else 16, 44)
    // width-aware legend layout with row wrap: entries advance by their own
    // estimated width (~6px/char at 11px type) and wrap to a new 22px row
    // when the next entry would cross the right margin — many/long series
    // labels stack instead of running off the canvas; labels are
    // ellipsis-capped so a single pathological label still fits a row
    private val legendEntries: Seq[(String, Int, Int)] = if (nSeries >= 2) {
      val shown = labels.map(l => if (l.length <= 18) l else l.take(17) + "…")
      var x = mL
      var row = 0
      shown.map { l =>
        val w = 14 + l.length * 6 + 12
        if (x + w > width - mR && x > mL) { row += 1; x = mL }
        val e = (l, x, row)
        x += w
        e
      }
    } else Seq.empty
    private val legendRows = if (legendEntries.isEmpty) 0 else legendEntries.map(_._3).max + 1
    val legendH = legendRows * 22
    val plotW = width - mL - mR
    val plotH = height - mT - mB - legendH
    val plotY = mT + legendH

    def header: String =
      s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" viewBox="0 0 $width $height" font-family="$fontStack">""" +
      s"""<rect width="$width" height="$height" fill="$surface"/>""" +
      (if (title.nonEmpty)
        s"""<text x="$mL" y="22" font-size="14" font-weight="600" fill="$inkPrimary">${esc(title)}</text>"""
      else "") +
      legendEntries.zipWithIndex.map { case ((l, x, row), i) =>
        val y = mT + row * 22
        s"""<rect x="$x" y="${y + 2}" width="10" height="10" rx="2" fill="${seriesColors(i)}"/>""" +
        s"""<text x="${x + 14}" y="${y + 11}" font-size="11" fill="$inkSecondary">${esc(l)}</text>"""
      }.mkString

    /** Recessive horizontal gridlines + y tick labels; returns (svg, yOf). */
    def yAxis(maxV: Double): (String, Double => Double) = {
      val ticks = niceTicks(maxV)
      val top = ticks.last
      val yOf = (v: Double) => plotY + plotH - (v / top) * plotH
      val svg = ticks.map { t =>
        val y = yOf(t)
        s"""<line x1="$mL" y1="${p2(y)}" x2="${mL + plotW}" y2="${p2(y)}" stroke="$gridline" stroke-width="1"/>""" +
        s"""<text x="${mL - 6}" y="${p2(y + 4)}" font-size="10" fill="$inkSecondary" text-anchor="end">${fmtHuman(t)}</text>"""
      }.mkString
      (svg, yOf)
    }

    /** Thinned x labels: at most ~8, centered under their slots. */
    def xLabels(names: Seq[String], xOf: Int => Double): String = {
      val every = math.max(1, math.ceil(names.size / 8.0).toInt)
      names.zipWithIndex.collect { case (n, i) if i % every == 0 =>
        s"""<text x="${p2(xOf(i))}" y="${plotY + plotH + 16}" font-size="10" fill="$inkSecondary" text-anchor="middle">${esc(n)}</text>"""
      }.mkString
    }
  }

  private def cntCols(df: DataFrame): Seq[String] = {
    val cs = df.columns.filter(_.endsWith("_cnt")).toSeq
    require(cs.nonEmpty, "no *_cnt series columns — pass a Histogram build()/density frame")
    require(cs.size <= seriesColors.size,
      s"${cs.size} series exceed the ${seriesColors.size}-hue fixed palette — fold series or facet")
    cs
  }

  private def num(r: Row, i: Int): Double = r.get(i) match {
    case null => 0.0
    case n: Number => n.doubleValue()
    case other => other.toString.toDouble
  }

  /** Grouped-bar histogram SVG from a [[Histogram]] `build()`/`toHistDF`
    * frame (`bin_lo`, `bin_hi`, one `<label>_cnt` per series).
    * `overlapping` draws full-width translucent bars per series instead of
    * side-by-side groups (the reference plot_hist's overlapping=True). */
  def svgHistogram(hist: DataFrame, title: String = "",
                   width: Int = 640, height: Int = 400,
                   overlapping: Boolean = false): String = {
    val series = cntCols(hist)
    val rows = hist.select("bin_lo" +: "bin_hi" +: series map Binning.quoted: _*)
      .orderBy("bin_lo").collect().toSeq
    require(rows.nonEmpty, "empty histogram frame")
    val f = Frame(title, width, height, series.size,
      series.map(_.stripSuffix("_cnt")))
    val maxV = rows.iterator.flatMap(r => series.indices.map(s => num(r, 2 + s))).max
    val (grid, yOf) = f.yAxis(maxV)
    val groupW = f.plotW.toDouble / rows.size
    val barW =
      if (overlapping) math.max(1.0, groupW - 4.0)
      else math.max(1.0, (groupW - 2.0 * (series.size - 1) - 4.0) / series.size)
    val bars = rows.zipWithIndex.flatMap { case (r, b) =>
      series.indices.map { s =>
        val v = num(r, 2 + s)
        val x = f.mL + b * groupW + 2.0 + (if (overlapping) 0.0 else s * (barW + 2.0))
        bar(x, yOf(v), barW, yOf(0) - yOf(v), seriesColors(s),
          s"${series(s).stripSuffix("_cnt")} [${fmt(num(r, 0))} - ${fmt(num(r, 1))}]: ${fmt(v)}",
          overlapping && series.size > 1)
      }
    }.mkString
    val xl = f.xLabels(rows.map(r => fmt(num(r, 0))), i => f.mL + i * groupW + groupW / 2)
    val baseline = s"""<line x1="${f.mL}" y1="${p2(yOf(0))}" x2="${f.mL + f.plotW}" y2="${p2(yOf(0))}" stroke="$inkSecondary" stroke-width="1"/>"""
    f.header + grid + bars + baseline + xl + "</svg>"
  }

  /** Density-polyline SVG from a [[Histogram]] `toDensityDF` frame
    * (`bin_center`, one `<label>_cnt` per series); 2px lines, no fill. */
  def svgDensity(density: DataFrame, title: String = "",
                 width: Int = 640, height: Int = 400): String = {
    val series = cntCols(density)
    val rows = density.select("bin_center" +: series map Binning.quoted: _*)
      .orderBy("bin_center").collect().toSeq
    require(rows.nonEmpty, "empty density frame")
    val f = Frame(title, width, height, series.size,
      series.map(_.stripSuffix("_cnt")))
    val maxV = rows.iterator.flatMap(r => series.indices.map(s => num(r, 1 + s))).max
    val (grid, yOf) = f.yAxis(maxV)
    val (cLo, cHi) = (num(rows.head, 0), num(rows.last, 0))
    val span = if (cHi > cLo) cHi - cLo else 1.0
    val xOf = (c: Double) => f.mL + (c - cLo) / span * f.plotW
    val lines = series.indices.map { s =>
      val pts = rows.map(r => s"${p2(xOf(num(r, 0)))},${p2(yOf(num(r, 1 + s)))}").mkString(" ")
      s"""<polyline points="$pts" fill="none" stroke="${seriesColors(s)}" stroke-width="2" stroke-linejoin="round"/>"""
    }.mkString
    val xl = f.xLabels(rows.map(r => fmt(num(r, 0))),
      i => xOf(num(rows(i), 0)))
    f.header + grid + lines + xl + "</svg>"
  }
}
