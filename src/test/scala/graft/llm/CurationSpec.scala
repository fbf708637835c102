package graft.llm

import graft.SparkSpec

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("curate: quality filter, exact dedup, and near-dup drop compose") {
    // 42-token doc passing every gopher rule (40 distinct 3-letter words
    // + 2 stopwords), duplicated exactly and near-duplicated
    val good = ((0 until 40).map(i => s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}x")
      ++ Seq("the", "and")).mkString(" ")
    val near = good.replace("aax", "qqq") // 1 of 40 shingle-words changed
    val docs = Seq(
      (0L, good),            // survives
      (1L, good),            // exact dup of 0 -> dropped
      (2L, near),            // near dup of 0 (jaccard > 0.8) -> dropped
      (3L, "tiny doc here")  // fails the word-count rule
    ).toDF("doc_id", "text")
    val r = Curation.curate(docs).as[Long].collect().toSeq
    assert(r == Seq(0L))
  }

  test("mmrSelectBatched with nCells=1 is EXACTLY the exact greedy " +
    "(the agreement contract that keeps mmrSelect the verifier tier)") {
    val rnd = new scala.util.Random(4242)
    val vecs = (0 until 80).map(i =>
      (i.toLong, Seq.fill(16)((rnd.nextGaussian()).toFloat)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.mmrSelect(vecs, k = 8, lambda = 0.6)
      .select("rnk", "vec_id", "mmr_score")
      .as[(Int, Long, Double)].collect().toSeq
    val batched = Similarity.mmrSelectBatched(vecs, k = 8, lambda = 0.6, nCells = 1)
      .select("rnk", "vec_id", "mmr_score")
      .as[(Int, Long, Double)].collect().toSeq
    assert(batched == exact)
  }

  test("seeded batched faces: nCells=1 equals the exact greedy (both ops), " +
    "and multi-cell output is deterministic under repartition") {
    val rnd = new scala.util.Random(4242)
    val vecs = (0 until 80).map(i =>
      (i.toLong, Seq.fill(16)((rnd.nextGaussian()).toFloat)))
      .toDF("vec_id", "embedding")
    val exactM = Similarity.mmrSelect(vecs, k = 8, lambda = 0.6)
      .select("rnk", "vec_id", "mmr_score")
      .as[(Int, Long, Double)].collect().toSeq
    val seededM = Similarity.mmrSelectBatchedSeeded(vecs, k = 8, lambda = 0.6,
      nCells = 1)
      .select("rnk", "vec_id", "mmr_score")
      .as[(Int, Long, Double)].collect().toSeq
    assert(seededM == exactM)
    val exactK = Similarity.kCenterSelect(vecs, k = 8)
      .select("rnk", "vec_id", "coverage_sim")
      .as[(Int, Long, Double)].collect().toSeq
    val seededK = Similarity.kCenterSelectBatchedSeeded(vecs, k = 8, nCells = 1)
      .select("rnk", "vec_id", "coverage_sim")
      .as[(Int, Long, Double)].collect().toSeq
    assert(seededK == exactK)
    // multi-cell: full k, distinct ids, repartition-invariant
    val out = Similarity.kCenterSelectBatchedSeeded(vecs, k = 10, nCells = 4)
      .select("cid", "rnk", "vec_id", "coverage_sim")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(out.length == 10 && out.map(_._3).distinct.length == 10)
    val out2 = Similarity.kCenterSelectBatchedSeeded(vecs.repartition(7),
      k = 10, nCells = 4)
      .select("cid", "rnk", "vec_id", "coverage_sim")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(out2 == out)
  }

  test("mmrSelectBatched: quotas partition k across cells by size, every " +
    "selection is same-cell-diverse, deterministic under repartition") {
    val rnd = new scala.util.Random(11)
    // 4 well-separated clusters of different sizes (40/30/20/10)
    val centers = Seq.fill(4)(Seq.fill(16)(rnd.nextGaussian() * 3))
    val sizes = Seq(40, 30, 20, 10)
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until sizes(ci)
    } yield ((ci * 100 + j).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrSelectBatched(vecs, k = 10, lambda = 0.7, nCells = 4)
      .select("cid", "rnk", "vec_id", "mmr_score")
      .as[(Int, Int, Long, Double)].collect().toSeq
    // exactly k selections, all distinct ids
    assert(out.length == 10)
    assert(out.map(_._3).distinct.length == 10)
    // every cell contributed (largest-remainder over 40/30/20/10 gives
    // every cell at least one slot at k=10), none dominated
    val perCell = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perCell.size == 4 && perCell.values.forall(n => n >= 1 && n <= 4),
      s"quota split $perCell")
    // ranks are 1..quota within each cell
    out.groupBy(_._1).foreach { case (c, rows) =>
      assert(rows.map(_._2).sorted == (1 to rows.length), s"cell $c ranks")
    }
    // deterministic under repartition
    val out2 = Similarity.mmrSelectBatched(vecs.repartition(7), k = 10,
      lambda = 0.7, nCells = 4)
      .select("cid", "rnk", "vec_id", "mmr_score")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(out2 == out)
  }

  test("kCenterSelectBatched with nCells=1 is EXACTLY the exact greedy " +
    "(the agreement contract that keeps kCenterSelect the verifier tier)") {
    val rnd = new scala.util.Random(4242)
    val vecs = (0 until 80).map(i =>
      (i.toLong, Seq.fill(16)((rnd.nextGaussian()).toFloat)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.kCenterSelect(vecs, k = 8)
      .select("rnk", "vec_id", "coverage_sim")
      .as[(Int, Long, Double)].collect().toSeq
    val batched = Similarity.kCenterSelectBatched(vecs, k = 8, nCells = 1)
      .select("rnk", "vec_id", "coverage_sim")
      .as[(Int, Long, Double)].collect().toSeq
    assert(batched == exact)
  }

  test("kCenterSelectBatched: quotas partition k by cell size, per-cell seed " +
    "is the cell's relevance argmax, later picks are farthest-point, " +
    "deterministic under repartition") {
    val rnd = new scala.util.Random(11)
    // 4 well-separated clusters of different sizes (40/30/20/10) — same
    // fixture family as the batched-MMR quota test
    val centers = Seq.fill(4)(Seq.fill(16)(rnd.nextGaussian() * 3))
    val sizes = Seq(40, 30, 20, 10)
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until sizes(ci)
    } yield ((ci * 100 + j).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelectBatched(vecs, k = 10, nCells = 4)
      .select("cid", "rnk", "vec_id", "coverage_sim")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(out.length == 10)
    assert(out.map(_._3).distinct.length == 10)
    val perCell = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perCell.size == 4 && perCell.values.forall(n => n >= 1 && n <= 4),
      s"quota split $perCell")
    out.groupBy(_._1).foreach { case (c, rows) =>
      assert(rows.map(_._2).sorted == (1 to rows.length), s"cell $c ranks")
      // farthest-point invariant: from rank 2 on the coverage ledger is
      // NON-DECREASING (the selection only grows — max-sim per candidate
      // can only rise — and the candidate pool only shrinks), the sim-space
      // dual of Gonzalez's non-increasing radius sequence
      val ledger = rows.filter(_._2 > 1).sortBy(_._2).map(_._4)
      assert(ledger == ledger.sorted, s"cell $c coverage ledger $ledger")
    }
    // deterministic under repartition
    val out2 = Similarity.kCenterSelectBatched(vecs.repartition(7), k = 10,
      nCells = 4)
      .select("cid", "rnk", "vec_id", "coverage_sim")
      .as[(Int, Int, Long, Double)].collect().toSeq
    assert(out2 == out)
  }

  test("kCenterSelectBatched: within-cell picks spread across planted " +
    "subclusters (coverage), unlike per-cell top-rel") {
    // ONE k-means cell containing two tight near-orthogonal subclusters:
    // farthest-point must alternate between them, pure relevance would not.
    val rnd = new scala.util.Random(5)
    val dim = 16
    val vecs = (for {
      s <- 0 until 2; m <- 0 until 20
    } yield {
      val v = Array.fill(dim)((rnd.nextGaussian() * 0.03).toFloat)
      v(8 * s) = 1.0f
      ((s * 100 + m).toLong, v.toSeq)
    }).toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelectBatched(vecs, k = 4, nCells = 1)
      .select("vec_id").as[Long].collect().toSeq
    val subs = out.map(_ / 100).toSet
    assert(subs == Set(0L, 1L),
      s"batched k-center failed to cover both subclusters: $out")
  }

  test("kCenterSelect: one pick per planted cluster at k = #clusters, " +
    "seed is the most corpus-central vector, deterministic under repartition") {
    // 4 well-separated clusters on coordinate axes: cluster c = e_{4c} +
    // small seeded noise in the OTHER dims, 20 members each. k-center's
    // defining guarantee (Gonzalez 2-approximation) on separated data is
    // exactly one pick per cluster — MMR with low lambda can double-dip a
    // cluster, the farthest-point rule cannot.
    val rnd = new scala.util.Random(77)
    val dim = 16
    val vecs = (for {
      c <- 0 until 4; m <- 0 until 20
    } yield {
      val v = Array.fill(dim)((rnd.nextGaussian() * 0.05).toFloat)
      v(4 * c) = 1.0f
      ((c * 20 + m).toLong, v.toSeq)
    }).toDF("vec_id", "embedding")
    val picks = Similarity.kCenterSelect(vecs, k = 4)
      .select("rnk", "vec_id", "coverage_sim")
      .as[(Int, Long, Double)].collect().toSeq
    assert(picks.length == 4)
    val clusters = picks.map(_._2 / 20).toSet
    assert(clusters == Set(0L, 1L, 2L, 3L),
      s"k-center failed to cover every planted cluster: $picks")
    // every non-seed pick's coverage_sim is the LOW cross-cluster sim
    // (clusters are near-orthogonal), far below the ~1.0 within-cluster sim
    assert(picks.tail.forall(_._3 < 0.5), s"cross-cluster sims too high: $picks")
    // the seed is the relevance argmax — the same first pick MMR makes
    val mmrFirst = Similarity.mmrSelect(vecs, k = 1, lambda = 0.7)
      .select("vec_id").as[Long].head()
    assert(picks.head._2 == mmrFirst,
      "k-center seed diverged from the shared argmax-relevance rule")
    // bit-deterministic across partitionings
    val again = Similarity.kCenterSelect(vecs.repartition(7), k = 4)
      .select("rnk", "vec_id", "coverage_sim")
      .as[(Int, Long, Double)].collect().toSeq
    assert(again == picks)
  }
}
