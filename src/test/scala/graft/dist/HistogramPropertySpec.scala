package graft.dist

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property layer (SURVEY.md §5): the engine must agree with a literal
  * in-memory transcription of RDD.histogram's counting loop
  * (rdd.py:2347-2361) on arbitrary inputs, and counts must be invariant
  * under partitioning. Uses raw ScalaCheck Gens with a fixed seed (the
  * scalatest-plus bridge isn't in the offline cache). */
class HistogramPropertySpec extends SparkSpec {
  import spark.implicits._

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
      val derived = Binning.histogramOnePass(df, "v", Bins.Count(n))
        .orderBy("bin_id").select("cnt").as[Long].collect().toSeq
      assert(derived == derivedOracle(vs, n), s"case $i derived: n=$n values=$vs")
      val uneven = Binning.histogramOnePass(df, "v", Bins.Edges(edges))
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
      val merged = Binning.histogramManyBins(Seq((t.select("a"), "a", "a"), (t, "b", "b"),
        (cs.toDF("c"), "c", "c"), (t.select("a", "b"), "a", "a")), bins)
      val apart = Binning.histogramManyBins(Seq((abFrame(), "a", "a"), (abFrame(), "b", "b"),
        (cs.toDF("c"), "c", "c"), (abFrame(), "a", "a")), bins)
      assert(merged.columns.toSeq == Seq("bin_id", "bin_lo", "bin_hi", "a_cnt", "b_cnt", "c_cnt", "a (1)_cnt"))
      val rows = merged.collect().toSeq
      assert(rows == apart.collect().toSeq, s"case $i: merged != independent reads")
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
