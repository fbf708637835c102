package graft.dist

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property layer (SURVEY.md §5): the engine must agree with a literal
  * in-memory transcription of RDD.histogram's counting loop
  * (rdd.py:2347-2361) on arbitrary inputs, and counts must be invariant
  * under partitioning. Uses raw ScalaCheck Gens with a fixed seed (the
  * scalatest-plus bridge isn't in the offline cache). Multi-series results
  * must also match, row for row and bit for bit, the Catalyst aggregate
  * formulation the driver-merged core replaced ([[aggregatePath]]). */
class HistogramPropertySpec extends SparkSpec {
  import spark.implicits._

  /** The Catalyst formulation of a multi-series histogram, kept as the
    * parity reference: one nullable double slot per series in a union, a
    * derived range from one `least(min)`/`greatest(max)` global aggregate
    * over the NaN-free slots, per slot a `groupBy(binId)` count of its
    * in-range values left-joined onto a dense bin spine (so it bins with
    * the Column form, not the driver-merged core's `bucket`), even-width
    * edges as `i * step + lo` (`hi` on the last bin), explicit edges echoed
    * by `element_at`, `[lo, hi]` for one bin, sorted by bin id. */
  private def aggregatePath(series: Seq[(DataFrame, String, String)], bins: Bins): DataFrame = {
    val xs = series.indices.map(k => col(s"s$k"))
    val union = series.zipWithIndex.map { case ((df, c, _), j) =>
      df.select(series.indices.map(k => (if (k == j) col(c) else lit(null)).cast("double").as(s"s$k")): _*)
    }.reduce(_ union _)
    val es: Vector[Double] = bins match {
      case Bins.Edges(e) => e.toVector
      case Bins.Count(n) =>
        val nanFree = xs.map(x => when(!isnan(x), x))
        def fold(f: Seq[Column] => Column, cs: Seq[Column]) = if (cs.size == 1) cs.head else f(cs)
        val r = union.agg(fold(least(_: _*), nanFree.map(min)), fold(greatest(_: _*), nanFree.map(max))).head()
        Binning.equalWidthEdges(r.getDouble(0), r.getDouble(1), n)
    }
    val nb = es.size - 1
    val b = col("pos")
    val (binLo, binHi) = bins match {
      case Bins.Edges(_) => (element_at(typedLit(es.init), b + 1), element_at(typedLit(es.tail), b + 1))
      case _ if nb == 1 => (lit(es.head), lit(es.last))
      case _ =>
        val (lo, hi) = (es.head, es.last)
        val step = (hi - lo) / nb
        (b * lit(step) + lit(lo), when(b === lit(nb - 1), lit(hi)).otherwise((b + lit(1)) * lit(step) + lit(lo)))
    }
    val names = Binning.dedupeLabels(series.map(_._3)).map(_ + "_cnt")
    val spine = spark.range(nb).select(col("id").cast("int").as("pos"))
    val counted = xs.zipWithIndex.foldLeft(spine) { case (acc, (x, k)) =>
      val c = union.where(x.isNotNull && !isnan(x) && x >= lit(es.head) && x <= lit(es.last))
        .groupBy(Binning.binId(x, es).as("pos")).agg(count(lit(1)).as(s"c$k"))
      acc.join(c, Seq("pos"), "left").na.fill(0L, Seq(s"c$k"))
    }
    counted.select(Seq(b.as("bin_id"), binLo.as("bin_lo"), binHi.as("bin_hi")) ++
        names.zipWithIndex.map { case (nm, k) => col(s"c$k").as(nm) }: _*)
      .orderBy("bin_id")
  }

  /** `got` == `ref`: column names and types, then every row's bin id and
    * counts, and its edges bit for bit. Nullability is not compared. */
  private def assertSameHistogram(got: DataFrame, ref: DataFrame, clue: String): Unit = {
    assert(got.columns.toSeq == ref.columns.toSeq, clue)
    assert(got.schema.map(_.dataType) == ref.schema.map(_.dataType), clue)
    val (g, r) = (got.collect().toSeq, ref.collect().toSeq)
    assert(g.size == r.size, s"$clue: ${g.size} rows != ${r.size}")
    def bits(row: Row, i: Int) = java.lang.Double.doubleToRawLongBits(row.getDouble(i))
    for ((x, y) <- g.zip(r)) {
      assert(x.getInt(0) == y.getInt(0), clue)
      assert(bits(x, 1) == bits(y, 1) && bits(x, 2) == bits(y, 2), s"$clue: edges $x != $y")
      assert((3 until x.length).map(x.getLong) == (3 until y.length).map(y.getLong), s"$clue: $x != $y")
    }
  }

  /** Literal port of rdd.py:2347-2361 (the counting closure): even fast path
    * with int((x-min)/inc) and overflow fold; else bisect_right - 1. */
  private def oracleCounts(values: Seq[Double], edges: Seq[Double]): Seq[Long] = {
    val n = edges.size - 1
    val counters = Array.fill(n + 1)(0L)
    val steps = edges.sliding(2).map(p => p(1) - p(0)).toVector
    val even = steps.max - steps.min < 1e-10
    val minv = edges.head; val maxv = edges.last
    for (x <- values if !x.isNaN && x >= minv && x <= maxv) {
      val slot =
        if (even) math.min(((x - minv) / ((maxv - minv) / n)).toInt, n) // int() truncation
        else {
          // bisect_right(edges, x) - 1
          var lo = 0; var hi = edges.size
          while (lo < hi) { val mid = (lo + hi) / 2; if (x < edges(mid)) hi = mid else lo = mid + 1 }
          lo - 1
        }
      counters(slot) += 1
    }
    counters(n - 1) += counters(n) // fold overflow slot into closed last bucket
    counters.take(n).toSeq
  }

  private val valuesGen = Gen.nonEmptyListOf(Gen.chooseNum(-100.0, 100.0))
  private val nBinsGen = Gen.choose(1, 12)

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  /** Expected counts of a derived-range histogram: the degenerate
    * min == max (or one-bin) bucket holds every value (rdd.py:2295-2296). */
  private def derivedOracle(vs: Seq[Double], n: Int): Seq[Long] = {
    val lo = vs.min; val hi = vs.max
    if (lo == hi || n == 1) Seq(vs.size.toLong)
    else oracleCounts(vs, Binning.equalWidthEdges(lo, hi, n))
  }

  test("property: engine == literal rdd.py oracle on derived-range histograms") {
    for (((vs, n), i) <- samples(Gen.zip(valuesGen, nBinsGen), 30).zipWithIndex) {
      val h = Binning.histogram(vs.toDF("v"), "v", Bins.Count(n))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(h == derivedOracle(vs, n), s"case $i: n=$n values=$vs")
    }
  }

  test("property: engine == literal rdd.py oracle on explicit uneven edges") {
    val edges = Seq(-50.0, -10.0, 0.0, 1.0, 25.0, 80.0)
    for ((vs, i) <- samples(valuesGen, 30).zipWithIndex) {
      val h = Binning.histogram(vs.toDF("v"), "v", Bins.Edges(edges))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(h == oracleCounts(vs, edges), s"case $i: values=$vs")
    }
  }

  test("property: one-pass aggregate == literal rdd.py oracle on derived and uneven edges") {
    val edges = Seq(-50.0, -10.0, 0.0, 1.0, 25.0, 80.0)
    for (((vs, n), i) <- samples(Gen.zip(valuesGen, nBinsGen), 20).zipWithIndex) {
      val df = vs.toDF("v")
      val derived = Binning.histogram(df, "v", Bins.Count(n))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(derived == derivedOracle(vs, n), s"case $i derived: n=$n values=$vs")
      val uneven = Binning.histogram(df, "v", Bins.Edges(edges))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(uneven == oracleCounts(vs, edges), s"case $i uneven: values=$vs")
    }
  }

  test("property: multi-series over shared sources == independent reads == rdd.py oracle") {
    val edges = Seq(-50.0, -10.0, 0.0, 1.0, 25.0, 80.0)
    // case kinds by i % 4: mixed values, min == max, one row, empty (a, b)
    for (i <- 0 until 12) {
      val rnd = new scala.util.Random(100 + i)
      def value(dirty: Boolean): java.lang.Double = rnd.nextInt(8) match {
        case 0 if dirty => null
        case 1 if dirty => Double.NaN
        case _ => if (i % 4 == 1) 3.0 else math.round(rnd.nextDouble() * 2000 - 1000) / 10.0
      }
      val ab = i % 4 match {
        case 2 => Seq((value(false), value(false)))
        case 3 => Seq.empty
        case _ => Seq.fill(1 + rnd.nextInt(40))((value(true), value(true)))
      }
      val cs = Seq.fill(1 + rnd.nextInt(20))(value(i % 4 != 2))
      val bins = if (i % 4 == 3 || i == 4) Bins.Edges(edges) else Bins.Count(1 + rnd.nextInt(8))
      // one frame for (a, b) read through two selects and itself, (a)
      // repeated; against a fresh, unequal plan of the same rows per series
      def abFrame(): DataFrame = ab.toDF("a", "b")
      val t = abFrame()
      val mergedSeries = Seq((t.select("a"), "a", "a"), (t, "b", "b"),
        (cs.toDF("c"), "c", "c"), (t.select("a", "b"), "a", "a"))
      val merged = Binning.histogramMany(mergedSeries, bins)
      val apart = Binning.histogramMany(Seq((abFrame(), "a", "a"), (abFrame(), "b", "b"),
        (cs.toDF("c"), "c", "c"), (abFrame(), "a", "a")), bins)
      assert(merged.columns.toSeq == Seq("bin_id", "bin_lo", "bin_hi", "a_cnt", "b_cnt", "c_cnt", "a (1)_cnt"))
      val rows = merged.collect().toSeq
      assert(rows == apart.collect().toSeq, s"case $i: merged != independent reads")
      assertSameHistogram(merged, aggregatePath(mergedSeries, bins), s"case $i: merged != aggregate path")
      val valid = (xs: Seq[java.lang.Double]) => xs.filter(x => x != null && !x.isNaN).map(_.doubleValue)
      val perSeries = Seq(valid(ab.map(_._1)), valid(ab.map(_._2)), valid(cs), valid(ab.map(_._1)))
      val expected = bins match {
        case Bins.Edges(es) => perSeries.map(oracleCounts(_, es))
        case Bins.Count(n) =>
          val all = perSeries.flatten
          val (lo, hi) = (all.min, all.max)
          if (lo == hi || n == 1) perSeries.map(vs => Seq(vs.size.toLong))
          else perSeries.map(oracleCounts(_, Binning.equalWidthEdges(lo, hi, n)))
      }
      for (k <- perSeries.indices)
        assert(rows.map(_.getLong(3 + k)) == expected(k), s"case $i series $k: bins=$bins ab=$ab c=$cs")
    }
  }

  test("parity: no partitions gives dense zeros; counts do not depend on partitioning") {
    val schema = StructType(Seq(StructField("v", DoubleType)))
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(none.rdd.getNumPartitions == 0)
    val edges = Bins.Edges(Seq(-50.0, -10.0, 0.0, 1.0, 25.0, 80.0))
    val h = Binning.histogramMany(Seq((none, "v", "v")), edges)
    assert(h.select("v_cnt").as[Long].collect().toSeq == Seq.fill(5)(0L))
    assertSameHistogram(h, aggregatePath(Seq((none, "v", "v")), edges), "no partitions")
    val rnd = new scala.util.Random(11)
    val vs = Seq.fill(200)(math.round(rnd.nextDouble() * 2000 - 1000) / 10.0)
    val df = vs.toDF("v")
    for (bins <- Seq(Bins.Count(9), edges); parts <- Seq(1, 3, 8)) {
      val spread = rnd.shuffle(vs).toDF("v").repartition(parts)
      val ss = Seq((spread, "v", "v"), (df, "v", "w"))
      assertSameHistogram(Binning.histogramMany(ss, bins), aggregatePath(ss, bins),
        s"bins=$bins parts=$parts")
      assertSameHistogram(Binning.histogramMany(Seq((spread, "v", "v")), bins),
        Binning.histogramMany(Seq((df, "v", "v")), bins), s"bins=$bins parts=$parts: partitioning")
    }
  }

  test("property: sum of counts == number of in-range non-null rows") {
    for ((vs, n) <- samples(Gen.zip(valuesGen, nBinsGen), 20)) {
      val total = Binning.histogram(vs.toDF("v"), "v", Bins.Count(n))
        .agg(org.apache.spark.sql.functions.sum("cnt")).as[Long].collect()(0)
      assert(total == vs.size.toLong) // derived range covers all non-null values
    }
  }

  test("property: histogramColumns == per-column histograms at the shared range") {
    for ((vsA, vsB) <- samples(Gen.zip(valuesGen, valuesGen), 10)) {
      val n = math.max(vsA.size, vsB.size)
      val df = vsA.padTo(n, Double.NaN).zip(vsB.padTo(n, Double.NaN)).toDF("a", "b")
      val lo = math.min(vsA.min, vsB.min); val hi = math.max(vsA.max, vsB.max)
      val multi = Binning.histogramColumns(df, Seq("a", "b"), n = 6)
        .collect().map(r => (r.getLong(3), r.getLong(4))).toSeq
      val ha = Binning.histogram(df, "a", Bins.Count(6), Some((lo, hi)))
        .select("cnt").as[Long].collect().toSeq
      val hb = Binning.histogram(df, "b", Bins.Count(6), Some((lo, hi)))
        .select("cnt").as[Long].collect().toSeq
      assert(multi.map(_._1) == ha && multi.map(_._2) == hb)
    }
  }

  test("property: saltedJoin equals plain join on random skewed data") {
    val gen = Gen.zip(Gen.nonEmptyListOf(Gen.choose(0L, 3L)), Gen.choose(1, 6))
    for ((keys, salts) <- samples(gen, 8)) {
      val big = keys.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "payload")
      val small = (0L to 3L).map(k => (k, s"d$k")).toDF("k", "dim")
      val plain = big.join(small, Seq("k")).select("k", "payload", "dim")
        .collect().map(_.toSeq).toSet
      val salted = Joins.saltedJoin(big, small, Seq("k"), salts)
        .select("k", "payload", "dim").collect().map(_.toSeq).toSet
      assert(salted == plain, s"salts=$salts keys=$keys")
    }
  }

  test("property: counts invariant under repartition/permutation") {
    val rnd = new scala.util.Random(7)
    for (vs <- samples(valuesGen, 10) if vs.distinct.size > 1) {
      val h1 = Binning.histogram(vs.toDF("v"), "v", Bins.Count(7))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      val h2 = Binning.histogram(rnd.shuffle(vs).toDF("v").repartition(7), "v", Bins.Count(7))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(h1 == h2)
    }
  }
}
