package graft.llm

import graft.SparkSpec

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: a directed cycle is the uniform fixed point, exactly") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graphs.pageRank(edges, iters = 10).as[(Long, Double)].collect().toSeq
    assert(r == Seq((1L, 1.0), (2L, 1.0), (3L, 1.0)))
  }

  test("pageRank: hub outranks feeders, in-degree-0 node sits at 1-d," +
    " dangling-free sum is conserved at |V|") {
    // 1 -> 3, 2 -> 3, 3 -> 1: closed-form fixed point r3≈1.4595, r1≈1.3906
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graphs.pageRank(edges, iters = 40).as[(Long, Double)].collect().toMap
    assert(r(3L) > r(1L) && r(1L) > r(2L))
    assert(math.abs(r(2L) - 0.15) < 1e-9) // nothing points at 2
    assert(math.abs(r.values.sum - 3.0) < 1e-6) // every node votes: sum = |V|
    // geometric convergence at 0.85²/two-iter loop gain: ~1.5e-3 after 40
    assert(math.abs(r(3L) - 0.405 / 0.2775) < 5e-3)
  }

  test("pageRank weighted: vote splits by weight share; fixed-point identity holds") {
    // 1 splits 75/25 between 2 and 3; both return all rank to 1
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val r = Graphs.pageRank(edges, iters = 60, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(r(2L) > r(3L))
    // residual decays with the loop gain: ~6e-5 after 60 iterations
    assert(math.abs(r(2L) - (0.15 + 0.85 * r(1L) * 0.75)) < 2e-4)
    assert(math.abs(r(3L) - (0.15 + 0.85 * r(1L) * 0.25)) < 2e-4)
  }

  test("pageRank: non-positive-weight edges carry no vote") {
    val edges = Seq((1L, 2L, 1.0), (1L, 3L, -5.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val r = Graphs.pageRank(edges, iters = 10, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    // the negative edge is dropped: 3 keeps voting (3->1) but receives only
    // the damping base
    assert(math.abs(r(3L) - 0.15) < 1e-9)
    assert(r(2L) > 1.0)
  }

  test("pageRank is bit-deterministic across partitionings (decimal sums)") {
    val edges = spark.range(200).selectExpr(
      "id AS src", "(id * 7 + 3) % 200 AS dst")
      .union(spark.range(200).selectExpr("id AS src", "(id * 13 + 11) % 200 AS dst"))
    val a = Graphs.pageRank(edges.repartition(1).toDF(), iters = 8)
      .as[(Long, Double)].collect().toSeq
    val b = Graphs.pageRank(edges.repartition(7).toDF(), iters = 8)
      .as[(Long, Double)].collect().toSeq
    assert(a == b)
    assert(math.abs(a.map(_._2).sum - 200.0) < 1e-4)
  }

  test("pageRank (unweighted) is EXACTLY the scale-6 fixed-point model — " +
    "the contract the DuckDB oracle mirror unrolls") {
    // Spark's decimal(38,18) arithmetic in pageRank quantizes far coarser
    // than the declared type: with allowPrecisionLoss (the default),
    //   (38,18) / (38,18) -> (38,6)   [share]
    //   (38,18) * (38,18) -> (38,6)   [rank*share, damping*sum]
    //   (38,18) + (38,6)  -> (38,6)   [base + damped sum]
    // each rounding HALF_UP — so every rank is a scale-6 decimal and the
    // whole iteration is integer arithmetic at 1e6 scaling. The
    // pagerank_knn_embeddings oracle mirrors EXACTLY this model in DuckDB
    // BIGINT/HUGEINT CTEs; this test pins the model against the real
    // operator so a Spark-side semantics change breaks HERE, not in a
    // hash mismatch at the driver. Graph: deterministic pseudo-random,
    // irregular in/out degrees, some nodes dangling-free, 10 iterations
    // (the declared query's count).
    // Constants, each probed against Spark 4.1.2 (not derived from docs):
    //   lit(0.85).cast(38,18)    = 0.85 EXACTLY — double literals reach
    //     decimal via their shortest STRING repr ("0.85"), not their binary
    //     expansion, so the damping multiply is (85·s + 50) // 100;
    //   lit(1-0.85).cast(38,18)  = 0.150000000000000020 — its sub-scale-6
    //     tail always rounds away in the scale-6 addition, leaving +150000;
    //   every scale adjustment rounds HALF_UP (0.0000005 -> 0.000001).
    val edgeSeq = ((0 until 120).map(i => (i.toLong, ((i * 17 + 5) % 40).toLong)) ++
      (0 until 80).map(i => (i.toLong, ((i * 29 + 11) % 120).toLong)))
      .distinct.filter { case (s, d) => s != d }
    val iters = 10
    val got = Graphs.pageRank(edgeSeq.toDF("src", "dst"), iters = iters)
      .as[(Long, Double)].collect().toMap
    // driver-side scale-6 integer model — pure Long arithmetic
    val outdeg = edgeSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val share6 = outdeg.map { case (s, d) => s -> (2000000L + d) / (2 * d) }
    val nodes = (edgeSeq.map(_._1) ++ edgeSeq.map(_._2)).distinct
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val s6 = edgeSeq.groupBy(_._2).view.mapValues(_.map { case (src, _) =>
        (r(src) * share6(src) + 500000L) / 1000000L
      }.sum).toMap
      r = nodes.map(id => id ->
        (150000L + (85L * s6.getOrElse(id, 0L) + 50L) / 100L)).toMap
    }
    val want = r.map { case (id, v) => id -> v.toDouble / 1e6 }
    assert(got == want,
      s"model diverged on ${got.keySet.filter(k => got(k) != want(k)).take(5)
        .map(k => s"$k: spark=${got(k)} model=${want(k)}")}")
  }

  test("triangleStats: known graphs — triangle, square, K4, star") {
    def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) =
      Graphs.triangleStats(edges.toDF("src", "dst"))
        .as[(Long, Long, Long)].collect().head
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 1L))) == ((3L, 3L, 1L)))
    // 4-cycle: no triangles
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == ((4L, 4L, 0L)))
    // K4: C(4,3) = 4 triangles
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
      == ((4L, 6L, 4L)))
    // star: hub generates zero wedges under degree orientation
    assert(tri(Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L), (9L, 5L)))
      == ((6L, 5L, 0L)))
  }

  test("triangleStats: canonicalization — direction, duplicates, self-loops") {
    // the same triangle declared with mixed directions, a repeated edge, and
    // a self-loop must still count once over 3 canonical edges
    val edges = Seq((2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L), (2L, 2L))
      .toDF("src", "dst")
    val r = Graphs.triangleStats(edges).as[(Long, Long, Long)].collect().head
    assert(r == ((3L, 3L, 1L)))
  }

  test("triangleStats matches the brute-force census on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val pairs = (for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.15
    } yield (a.toLong, b.toLong)).toSeq
    val eSet = pairs.toSet
    val brute = (for {
      a <- 0 until n; b <- (a + 1) until n; c <- (b + 1) until n
      if eSet((a.toLong, b.toLong)) && eSet((b.toLong, c.toLong)) &&
        eSet((a.toLong, c.toLong))
    } yield 1).size.toLong
    val r = Graphs.triangleStats(pairs.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().head
    assert(r._2 == pairs.size.toLong)
    assert(r._3 == brute)
  }

  test("localClustering: clique = 1, pendant excluded, bridge node diluted") {
    // K3 {1,2,3} plus a pendant 4 hanging off 3: nodes 1,2 have coeff 1;
    // 3 has deg 3, one triangle -> 2*1/(3*2) = 1/3; 4 has deg 1 -> excluded
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val r = Graphs.localClustering(edges).as[(Long, Long, Long, Double)]
      .collect().map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) == ((2L, 1L, 1.0)))
    assert(r(2L) == ((2L, 1L, 1.0)))
    assert(r(3L) == ((3L, 1L, math.rint(1.0 / 3.0 * 1e9) / 1e9)))
  }

  test("localClustering matches a brute-force count on a random graph") {
    val rnd = new scala.util.Random(5)
    val n = 25
    val pairs = (for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.2
    } yield (a.toLong, b.toLong)).toSeq
    val eSet = pairs.toSet
    def adj(u: Long, v: Long) =
      eSet((math.min(u, v), math.max(u, v)))
    val nbrs = (0 until n).map(v =>
      v.toLong -> (0 until n).map(_.toLong).filter(u => u != v && adj(u, v))).toMap
    val got = Graphs.localClustering(pairs.toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    nbrs.foreach { case (v, ns) =>
      if (ns.size >= 2) {
        val tri = ns.combinations(2).count { case Seq(a, b) => adj(a, b) }
        assert(got(v) == ((ns.size.toLong, tri.toLong)), s"node $v")
      } else assert(!got.contains(v))
    }
  }

  test("bfsHops: path graph distances, early stop, unreachable component") {
    // path 1-2-3-4-5 plus a disconnected edge 8-9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val r = Graphs.bfsHops(edges, source = 1L, maxHops = 6)
      .as[(Long, Int)].collect().toMap
    assert(r == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    // maxHops truncates the frontier
    val r2 = Graphs.bfsHops(edges, source = 1L, maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(r2 == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("bfsHops matches brute-force BFS on a random graph") {
    val rnd = new scala.util.Random(13)
    val n = 30
    val pairs = (for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.08
    } yield (a.toLong, b.toLong)).toSeq
    val nbrs = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // reference BFS
    var dist = Map(0L -> 0)
    var frontier = Set(0L)
    for (h <- 1 to 6) {
      frontier = frontier.flatMap(v => nbrs.getOrElse(v, Set.empty))
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> h)
    }
    val got = Graphs.bfsHops(pairs.toDF("src", "dst"), source = 0L, maxHops = 6)
      .as[(Long, Int)].collect().toMap
    assert(got == dist)
  }

  test("kCore: clique survives, pendants and chains peel, cascade handled") {
    // K4 core {1,2,3,4} + chain 4-5-6 + pendant 3-7: peeling at k=3 must
    // cascade (7 and 6 fall first, then 5) and leave exactly the K4
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (3L, 7L)).toDF("src", "dst")
    val r = Graphs.kCore(edges, k = 3).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=1 keeps everything with at least one edge
    assert(Graphs.kCore(edges, k = 1).count() == 7L)
    // k above the max degree empties the graph
    assert(Graphs.kCore(edges, k = 10).isEmpty)
  }

  test("kCore matches brute-force peeling on a random graph") {
    val rnd = new scala.util.Random(17)
    val n = 35
    val pairs = (for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.15
    } yield (a.toLong, b.toLong)).toSeq
    // reference peel
    var edges = pairs.toSet
    var changed = true
    val k = 3
    while (changed) {
      val deg = edges.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = edges.filter(p => keep(p._1) && keep(p._2))
      changed = next != edges
      edges = next
    }
    val expect = edges.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Graphs.kCore(pairs.toDF("src", "dst"), k)
      .as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  test("coOccurrenceEdges: support threshold and pair canonicalization") {
    // items 1,2 share groups g1,g2 (support 2); 1,3 share only g1; the
    // null-group rows must not vote (a null key is no group)
    val m = (Seq(("g1", 1L), ("g1", 2L), ("g1", 3L), ("g2", 1L), ("g2", 2L),
      ("g2", 2L)) // duplicate membership must not inflate support
      ++ Seq((null, 1L), (null, 3L)).map { case (g, i) => (g: String, i) })
      .toDF("g", "item")
    val e2 = Graphs.coOccurrenceEdges(m, "g", "item", minGroups = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(e2 == Set((1L, 2L, 2L)))
    val e1 = Graphs.coOccurrenceEdges(m, "g", "item", minGroups = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(e1 == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("pageRank over the LSH kNN graph: conservation, determinism, and " +
    "agreement with the exact-edge tier on planted clusters") {
    // 20 planted clusters of 4 near-identical vectors — the near-dup regime
    // the LSH tier is declared for (same shape as SimilaritySpec's recall
    // fixtures): the exact kNN graph is ~20 disjoint K4s, so the two tiers'
    // ranks must agree wherever the LSH graph recovers the true edges
    val rnd = new scala.util.Random(888)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 4
    } yield ((ci * 4 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val lshPr = Graphs.pageRank(
      Similarity.knnGraphLSH(vecs, k = 3, nBits = 6, dim = 16, nTables = 2),
      iters = 10).as[(Long, Double)].collect().toMap
    // conservation: rank mass never exceeds |V|; only dangling nodes (no
    // surviving out-edge) can shed mass, and every node floors at 1-d
    val n = lshPr.size
    val total = lshPr.values.sum
    assert(total <= n + 1e-6, s"rank total $total exceeds |V|=$n")
    assert(lshPr.values.forall(_ >= 0.15 - 1e-9), "a rank fell below 1-d")
    // bit-determinism across input partitionings (decimal sums + seeded LSH)
    val lshPr2 = Graphs.pageRank(
      Similarity.knnGraphLSH(vecs.repartition(7), k = 3, nBits = 6, dim = 16,
        nTables = 2), iters = 10).as[(Long, Double)].collect().toMap
    assert(lshPr == lshPr2)
    // agreement with the exact-graph verifier tier: on recovered K4s both
    // tiers sit at the same fixed point, so ranks match closely for nearly
    // every node (a few bucket-split nodes may drift)
    val exactPr = Graphs.pageRank(Similarity.knnGraph(vecs, k = 3), iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(lshPr.keySet == exactPr.keySet)
    val close = lshPr.count { case (id, r) => math.abs(r - exactPr(id)) <= 0.1 }
    assert(close >= (n * 0.9).toInt, s"only $close/$n ranks within 0.1 of exact")
  }
}
