package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // vecsMini (FIXTURES.md §B): parallel pair (0,1), orthogonal pair (0,2),
  // anti-parallel (0,3), plus an in-between (4)
  private def vecsMini = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(2.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),
    (4L, Seq(1.0f, 1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: parallel = 1, orthogonal = 0, anti-parallel = -1") {
    val top = Similarity.cosineTopK(vecsMini, k = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(top((0L, 1L)) == 1.0)
    assert(top((0L, 2L)) == 0.0)
    assert(top((0L, 3L)) == -1.0)
    assert(top((0L, 4L)) == math.rint(math.sqrt(0.5) * 1e9) / 1e9 ||
      math.abs(top((0L, 4L)) - math.sqrt(0.5)) < 1e-9)
  }

  test("cosineTopK orders by sim desc then ids, respects k") {
    val top = Similarity.cosineTopK(vecsMini, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top.head == ((0L, 1L))) // the parallel pair wins
    assert(top.size == 3)
  }

  test("annBruteTopK ranks neighbors per query deterministically") {
    val r = Similarity.annBruteTopK(vecsMini, queryIds = Seq(0L), k = 2)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq
    assert(r == Seq((0L, 1, 1L), (0L, 2, 4L))) // 1.0 then 0.707
  }

  test("semanticDecontam flags planted eval clones, skips orthogonal; " +
    "eval side broadcast, train side unshuffled") {
    // eval = 2 unit axes; train = a scaled clone of eval 0 (cos 1.0), a
    // paraphrase-like near-clone of eval 1 (cos ~0.98), and an orthogonal
    // vector no n-gram or embedding pass should flag
    val eval = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (100L, Seq(3.0f, 0.0f, 0.0f, 0.0f)),   // exact clone of eval 0, scaled
      (101L, Seq(0.1f, 2.0f, 0.0f, 0.0f)),   // near-clone of eval 1
      (102L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding") // clean
    val out = Similarity.semanticDecontam(train, eval, threshold = 0.9)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(100L, 101L), s"flag set wrong: ${rows.toSeq}")
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(100L)._2 == 1L && byId(100L)._3 == 1.0) // clone: exact cos 1
    assert(byId(101L)._2 == 1L && byId(101L)._3 > 0.95 && byId(101L)._3 < 1.0)
    // plan contract: the eval side broadcasts and the training side reaches
    // the join with NO exchange (the 100 TB shape — a shuffle of training
    // vectors here would be the scale killer)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"eval side lost its broadcast:\n$plan")
    // exactly ONE hash-partitioned exchange — the final per-id aggregate. A
    // second one would mean training vectors shuffled before the join (the
    // scale killer this operator exists to avoid). AQE plan strings repeat
    // every node in their "Initial Plan" section, so count the final only.
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(hashExchanges == 1,
      s"expected 1 hash exchange (final agg), got $hashExchanges:\n$finalPlan")
  }

  test("semDedup: verdicts exactly complement same-cell near-dup pairs; deterministic") {
    // planted clusters of near-identical vectors — the semantic-dup shape
    val rnd = new scala.util.Random(77)
    val centers = Seq.fill(8)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 4
    } yield ((ci * 4 + j).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.01).toFloat))).toDF("vec_id", "embedding")
    val th = 0.95
    val r = Similarity.semDedup(vecs, threshold = th, nCentroids = 8, trainIters = 1)
    val verdicts = r.collect().map(x => x.getLong(0) -> (x.getInt(1), x.getBoolean(2))).toMap
    assert(verdicts.size == 32)
    // expected drop set: distinct id_b over exact near-dup pairs whose two
    // sides landed in the same cell
    val cellOf = verdicts.view.mapValues(_._1).toMap
    val expectedDropped = Similarity.embCosineNearDup(vecs, threshold = th)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => cellOf(a) == cellOf(b) }.map(_._2).toSet
    val actualDropped = verdicts.collect { case (id, (_, false)) => id }.toSet
    assert(actualDropped == expectedDropped)
    assert(actualDropped.nonEmpty) // planted dups must actually dedupe
    // bit-deterministic rerun
    val r2 = Similarity.semDedup(vecs, threshold = th, nCentroids = 8, trainIters = 1)
    assert(r.collect().toSeq == r2.collect().toSeq)
    // hot-cell sub-blocking (r14): cap=2 forces EVERY cell through the
    // g-block pair grid (4-row cells -> g=2); verdicts must be identical —
    // every ordered pair meets exactly once, in the probe row's block
    val blocked = Similarity.semDedup(vecs, threshold = th, nCentroids = 8,
      trainIters = 1, subBlockCap = 2)
    assert(blocked.collect().toSeq == r.collect().toSeq,
      "sub-blocked pair grid changed the drop set")
  }

  test("semDedupAgainstState: frozen-cell parity — incremental clean of a " +
    "batch equals the union clean restricted to the batch") {
    val rnd = new scala.util.Random(78)
    val centers = Seq.fill(8)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 4
    } yield ((ci * 4 + j).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.01).toFloat))).toDF("vec_id", "embedding")
    val th = 0.95
    val prior = vecs.where(col("vec_id") < 20)
    val batch = vecs.where(col("vec_id") >= 20)
    val cents = Similarity.trainCentroids(prior, nCentroids = 8, iters = 1)
    // the registry is literally the prior clean's own output
    val priorClean = Similarity.semDedupWithCents(prior, cents, th)
    val incr = Similarity.semDedupAgainstState(batch, cents,
        priorClean.select(col("vec_id"), col("cid")), prior, th)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
    val union = Similarity.semDedupWithCents(vecs, cents, th)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .filter(_._1 >= 20).toSeq
    assert(incr == union, "frozen-cell parity breach")
    assert(incr.exists(!_._3), "planted cross-batch dups must actually drop")
  }

  test("semDedupSeeded: verdicts complement same-cell near-dup pairs; " +
    "deterministic under repartition") {
    // same planted-cluster corpus shape as the production-tier test; the
    // seeded tier must satisfy the identical complement property AND be
    // bit-stable under partitioning (its oracle contract)
    val rnd = new scala.util.Random(78)
    val centers = Seq.fill(8)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 4
    } yield ((ci * 4 + j).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.01).toFloat))).toDF("vec_id", "embedding")
    val th = 0.95
    val r = Similarity.semDedupSeeded(vecs, threshold = th, k = 8, iters = 1)
    val verdicts = r.collect().map(x => x.getLong(0) -> (x.getInt(1), x.getBoolean(2))).toMap
    assert(verdicts.size == 32)
    val cellOf = verdicts.view.mapValues(_._1).toMap
    val expectedDropped = Similarity.embCosineNearDup(vecs, threshold = th)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => cellOf(a) == cellOf(b) }.map(_._2).toSet
    val actualDropped = verdicts.collect { case (id, (_, false)) => id }.toSet
    assert(actualDropped == expectedDropped)
    assert(actualDropped.nonEmpty)
    // the mirror contract: byte-identical output under a different layout
    val r2 = Similarity.semDedupSeeded(vecs.repartition(7), threshold = th,
      k = 8, iters = 1)
    assert(r.collect().toSeq == r2.collect().toSeq)
  }

  test("lshAnnTopK achieves high recall vs brute force on clustered vectors") {
    // LSH preserves *high* similarity; plant 20 clusters of 5 near-identical
    // vectors (the realistic near-dup-embedding shape) and check the true
    // neighbors (same cluster, cosine ~0.99) survive the bucketing.
    val rnd = new scala.util.Random(123)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 5
    } yield ((ci * 5 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = Seq(0L, 5L, 10L, 15L, 20L)
    val brute = Similarity.annBruteTopK(vecs, qs, k = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshAnnTopK(vecs, qs, k = 4, nBits = 6, dim = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("ivfAnnTopK achieves high recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(321)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 5
    } yield ((ci * 5 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = Seq(0L, 5L, 10L, 15L, 20L)
    val brute = Similarity.annBruteTopK(vecs, qs, k = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfAnnTopK(vecs, qs, k = 4, nCentroids = 10, nprobe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("ivfAnnTopKSeeded: recall vs brute force on clustered vectors; " +
    "deterministic under repartition") {
    val rnd = new scala.util.Random(322)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 5
    } yield ((ci * 5 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = Seq(0L, 5L, 10L, 15L, 20L)
    val brute = Similarity.annBruteTopK(vecs, qs, k = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfAnnTopKSeeded(vecs, qs, k = 4, nCells = 10, nprobe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
    // the mirror contract: byte-identical ranking under a different layout
    val a = Similarity.ivfAnnTopKSeeded(vecs, qs, k = 4, nCells = 10, nprobe = 4)
      .collect().toSeq
    val b = Similarity.ivfAnnTopKSeeded(vecs.repartition(7), qs, k = 4,
      nCells = 10, nprobe = 4).collect().toSeq
    assert(a == b)
  }

  test("pqAnnTopKSeeded: recall vs brute force on clustered vectors; " +
    "deterministic under repartition (the mirror contract)") {
    val rnd = new scala.util.Random(808)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 5
    } yield ((ci * 5 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = Seq(0L, 5L, 10L, 15L, 20L)
    val brute = Similarity.annBruteTopK(vecs, qs, k = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqAnnTopKSeeded(vecs, qs, k = 4,
        nSub = 4, nCodes = 16, trainIters = 2, trainN = 100, dim = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.8, s"seeded-PQ recall $recall too low")
    // byte-identical ranking under a different layout — the property the
    // DuckDB mirror relies on (id-ordered sample, fixed-order folds)
    val a = Similarity.pqAnnTopKSeeded(vecs, qs, k = 4,
      nSub = 4, nCodes = 16, trainIters = 2, trainN = 100, dim = 16).collect().toSeq
    val b = Similarity.pqAnnTopKSeeded(vecs.repartition(7), qs, k = 4,
      nSub = 4, nCodes = 16, trainIters = 2, trainN = 100, dim = 16).collect().toSeq
    assert(a == b)
  }

  test("pqAnnTopK achieves high recall vs brute force on clustered vectors; " +
    "deterministic under repartition") {
    val rnd = new scala.util.Random(555)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 5
    } yield ((ci * 5 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = Seq(0L, 5L, 10L, 15L, 20L)
    val brute = Similarity.annBruteTopK(vecs, qs, k = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqAnnTopK(vecs, qs, k = 4, nSub = 4, nCodes = 16, dim = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
    // deterministic: sample order, codebooks, codes, and ADC ranks are all
    // pure functions of the data — partitioning must not change the result
    val r1 = Similarity.pqAnnTopK(vecs, qs, k = 4, nSub = 4, nCodes = 16, dim = 16)
      .collect().toSeq
    val r2 = Similarity.pqAnnTopK(vecs.repartition(7), qs, k = 4,
      nSub = 4, nCodes = 16, dim = 16).collect().toSeq
    assert(r1 == r2)
    // the ADC estimate of a same-cluster (true-neighbor) pair must beat a
    // cross-cluster pair's: check top-1 is same-cluster for every query
    val top1 = Similarity.pqAnnTopK(vecs, qs, k = 1, nSub = 4, nCodes = 16, dim = 16)
      .select("qid", "nid").as[(Long, Long)].collect()
    top1.foreach { case (q, n) =>
      assert(q / 5 == n / 5, s"query $q top-1 PQ neighbor $n is cross-cluster")
    }
  }

  test("ivfPqAnnTopK: cell pruning + code scoring keep recall on clustered " +
    "vectors; deterministic; prunes to the probed cells only") {
    val rnd = new scala.util.Random(777)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 5
    } yield ((ci * 5 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = Seq(0L, 5L, 10L, 15L, 20L)
    val brute = Similarity.annBruteTopK(vecs, qs, k = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqAnnTopK(vecs, qs, k = 4,
      nCells = 10, nprobe = 4, nSub = 4, nCodes = 16, dim = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivfpq).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low")
    val r1 = Similarity.ivfPqAnnTopK(vecs, qs, k = 4,
      nCells = 10, nprobe = 4, nSub = 4, nCodes = 16, dim = 16).collect().toSeq
    val r2 = Similarity.ivfPqAnnTopK(vecs.repartition(7), qs, k = 4,
      nCells = 10, nprobe = 4, nSub = 4, nCodes = 16, dim = 16).collect().toSeq
    assert(r1 == r2)
  }

  test("ivfPqAnnTopK residual coding: recall at equal code budget >= the " +
    "direct tier; deterministic under repartition; quantization error " +
    "strictly improves on a realistic (non-planted) cloud") {
    // planted-twin clouds saturate both tiers; the residual advantage is
    // measurable where vectors spread WITHIN cells — a gaussian mixture
    // with moderate intra-cluster variance (the realistic embedding
    // shape). nprobe is generous (6/8 cells) so CELL pruning is not the
    // bottleneck and the recall gap isolates CODE fidelity — the thing
    // residual coding changes. Equal code budget: same nSub x nCodes.
    val rnd = new scala.util.Random(4242)
    val centers = Seq.fill(8)(Seq.fill(16)(rnd.nextGaussian() * 2))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 25
    } yield ((ci * 25 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat)))
      .toDF("vec_id", "embedding")
    val qs = Seq(0L, 25L, 50L, 75L, 100L)
    val brute = Similarity.annBruteTopK(vecs, qs, k = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def run(byResidual: Boolean) =
      Similarity.ivfPqAnnTopK(vecs, qs, k = 4, nCells = 8,
        nprobe = 6, nSub = 4, nCodes = 16, dim = 16, byResidual = byResidual)
        .select("qid", "nid", "adc_sim").as[(Long, Long, Double)].collect()
    def recall(rows: Array[(Long, Long, Double)]): Double = {
      val got = rows.map { case (q, n, _) => (q, n) }.toSet
      (brute intersect got).size.toDouble / brute.size
    }
    // quantization DISTORTION — the thing residual coding changes — as
    // mean |adc_sim - true cosine| over each tier's returned pairs: the
    // direct measurement of code fidelity, independent of how tightly the
    // fixture's true ranking is spaced (recall at k needs the ADC to
    // resolve ~0.02-cosine gaps, which NO 16-bit code does; the paper's
    // own headline metric is distortion-driven recall@R, not recall@k)
    val unit = vecs.as[(Long, Seq[Float])].collect().toMap.view.mapValues { v =>
      val n = math.sqrt(v.foldLeft(0.0)((a, f) => a + f.toDouble * f)); v.map(_ / n)
    }.toMap
    def trueCos(a: Long, b: Long): Double =
      unit(a).zip(unit(b)).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def distortion(rows: Array[(Long, Long, Double)]): Double =
      rows.map { case (q, n, adc) => math.abs(adc - trueCos(q, n)) }.sum / rows.length
    val (direct, residual) = (run(false), run(true))
    val (rDirect, rResidual) = (recall(direct), recall(residual))
    val (dDirect, dResidual) = (distortion(direct), distortion(residual))
    info(f"equal-code-budget recall: direct=$rDirect%.3f residual=$rResidual%.3f")
    info(f"equal-code-budget distortion: direct=$dDirect%.4f residual=$dResidual%.4f")
    assert(rResidual >= rDirect,
      s"residual coding lost recall vs direct: $rResidual < $rDirect")
    assert(dResidual < dDirect,
      s"residual coding did not cut quantization error: $dResidual >= $dDirect")
    // bit-deterministic under partitioning, like every ANN tier
    val r1 = Similarity.ivfPqAnnTopK(vecs, qs, k = 4, nCells = 8,
      nprobe = 6, nSub = 4, nCodes = 16, dim = 16).collect().toSeq
    val r2 = Similarity.ivfPqAnnTopK(vecs.repartition(7), qs, k = 4, nCells = 8,
      nprobe = 6, nSub = 4, nCodes = 16, dim = 16).collect().toSeq
    assert(r1 == r2)
  }

  test("embCosineNearDupLSH: exact precision, >=0.95 recall on clustered vectors") {
    val rnd = new scala.util.Random(77)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 3
    } yield ((ci * 3 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.02).toFloat)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.embCosineNearDup(vecs, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val lsh = Similarity.embCosineNearDupLSH(vecs, threshold = 0.9,
        nTables = 8, nBits = 6, dim = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // exact-cosine verification => precision 1
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall too low")
  }

  test("trainCentroids: deterministic, k entries, Lloyd rounds move centroids") {
    val rnd = new scala.util.Random(99)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Seq.fill(16)((rnd.nextGaussian()).toFloat)))
      .toDF("vec_id", "embedding")
    val c0 = Similarity.trainCentroids(vecs, nCentroids = 10, iters = 0)
    val c2 = Similarity.trainCentroids(vecs, nCentroids = 10, iters = 2)
    val c2b = Similarity.trainCentroids(vecs, nCentroids = 10, iters = 2)
    assert(c2.length == 10 && c2.map(_._1).toSeq == (0 until 10))
    assert(c2.map(_._2).toSeq == c2b.map(_._2).toSeq) // decimal-mean determinism
    assert(c2.map(_._2).toSeq != c0.map(_._2).toSeq)  // training moved them
  }

  test("embCosineNearDup returns only pairs above the threshold") {
    val pairs = Similarity.embCosineNearDup(vecsMini, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs == Seq((0L, 1L, 1.0), (0L, 4L, 0.707106781),
      (1L, 4L, 0.707106781), (2L, 4L, 0.707106781)))
  }

  test("dot/norm folds are deterministic left-to-right") {
    val df = Seq((Seq(0.1f, 0.2f, 0.3f), Seq(0.4f, 0.5f, 0.6f))).toDF("a", "b")
    val d = df.select(Similarity.dot(col("a"), col("b"))).as[Double].collect()(0)
    val expected = ((0.0 + 0.1f.toDouble * 0.4f.toDouble) + 0.2f.toDouble * 0.5f.toDouble) + 0.3f.toDouble * 0.6f.toDouble
    assert(d == expected)
  }
  test("quantizeInt8: symmetric scale, half-up rounding, zero vector yields null") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.3f, -0.77f)),
      (1L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(vecs).collect()
    val r0 = r.find(_.getLong(0) == 0L).get
    assert(r0.getDouble(1) == 1.0 / 127.0)
    assert(r0.getSeq[Int](2) == Seq(127, 38, -98))
    val r1 = r.find(_.getLong(0) == 1L).get
    assert(r1.getDouble(1) == 0.0 && r1.isNullAt(2))
  }

  test("hybridTopK: RRF fuses lexical and vector pools, both-pool docs rank first") {
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "durian durian durian durian")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.hybridTopK(docs, emb, Seq("apple", "banana"),
        queryVecId = 0L, k = 3, poolK = 3)
      .as[(Long, Double)].collect().toSeq
    // lex ranks: 0->1, 1->2, 2->3; vec ranks (query 0): 1->1, 2->2
    val expect = Seq(
      1L -> (1.0 / 62 + 1.0 / 61),
      2L -> (1.0 / 63 + 1.0 / 62),
      0L -> (1.0 / 61))
    assert(r == expect)
  }

  test("semanticDecontam spread gate (r14, shared spreadGated policy): " +
    "neither a well-split corpus NOR a starved-but-small one pays a " +
    "rebalance exchange, and results are exchange-invariant") {
    val n = spark.sparkContext.defaultParallelism
    val vecs = (0L until 200L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat)))
    val evalDf = vecs.take(5).toDF("vec_id", "embedding")
    def rr(df: org.apache.spark.sql.DataFrame): Int =
      "(?i)Exchange roundrobinpartitioning".r.findAllIn(
        df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head).length
    // well-split: at least defaultParallelism partitions upstream — the
    // 100 TB regime (thousands of scan splits). The gate must NOT fire:
    // the only round-robin in the plan is the setup repartition itself.
    val spreadTrain = vecs.toDF("vec_id", "embedding").repartition(n)
    assert(rr(Similarity.semanticDecontam(spreadTrain, evalDf, 0.5)) == 1,
      "gate fired on a well-split corpus (added a second round-robin)")
    // starved AND small: the r13-measured size gate keeps the frame put —
    // a spread cache would charge every downstream job a
    // defaultParallelism-task scheduling floor for sub-split inputs (this
    // site was starvation-only until r13 verdict #6)
    val starvedTrain = vecs.toDF("vec_id", "embedding").coalesce(1)
    assert(rr(Similarity.semanticDecontam(starvedTrain, evalDf, 0.5)) == 0,
      "size gate failed: a sub-split starved input paid the rebalance")
    // and the results are identical either way (exchange-invariant)
    val a = Similarity.semanticDecontam(spreadTrain, evalDf, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    val b = Similarity.semanticDecontam(starvedTrain, evalDf, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("spreadGated: the shared two-threshold policy — minBytes=0 (all-pairs " +
    "tiers) spreads exactly the starved inputs; the default size gate " +
    "blocks sub-split frames; well-split frames never re-exchange") {
    val n = spark.sparkContext.defaultParallelism
    val df = (0L until 64L).toDF("id")
    def rr(d: org.apache.spark.sql.DataFrame): Int =
      "(?i)Exchange roundrobinpartitioning".r.findAllIn(
        d.queryExecution.executedPlan.toString.split("== Initial Plan ==").head).length
    val starved = df.coalesce(1)
    assert(rr(graft.functions.Rebalance.spreadGated(starved, minBytes = 0)) == 1,
      "all-pairs policy must rebalance a starved input at any size")
    assert(rr(graft.functions.Rebalance.spreadGated(starved)) == 0,
      "default size gate must keep a sub-split starved frame put")
    val split = df.repartition(n)
    assert(rr(graft.functions.Rebalance.spreadGated(split, minBytes = 0)) == 1, // setup only
      "well-split frame re-exchanged (the setup repartition is the one rr)")
  }

  test("centroidSimMatrix: pairwise cosine between group centroids") {
    val df = Seq(
      ("a", Array(1.0f, 0.0f)), ("a", Array(1.0f, 0.0f)),
      ("b", Array(0.0f, 2.0f)),
      ("c", Array(1.0f, 1.0f))
    ).toDF("g", "embedding")
    val r = Similarity.centroidSimMatrix(df, "g")
      .as[(String, String, Double)].collect().toSeq
    val s = math.floor(1.0 / math.sqrt(2.0) * 1e9 + 0.5) / 1e9
    assert(r == Seq(("a", "b", 0.0), ("a", "c", s), ("b", "c", s)))
  }

  test("knnGraph: per-vector top-k edges, ties broken by neighbor id") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.knnGraph(df, k = 2).as[(Long, Int, Long, Double)].collect().toSeq
    val s = math.floor(1.0 / math.sqrt(2.0) * 1e9 + 0.5) / 1e9
    assert(r == Seq(
      (1L, 1, 2L, 1.0), (1L, 2, 4L, s),
      (2L, 1, 1L, 1.0), (2L, 2, 4L, s),
      (3L, 1, 4L, s), (3L, 2, 1L, 0.0),
      (4L, 1, 1L, s), (4L, 2, 2L, s)))
  }

  test("knnGraphLSH recovers the exact graph's true-neighbor edges on clusters") {
    val rnd = new scala.util.Random(555)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 4
    } yield ((ci * 4 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.knnGraph(vecs, k = 3)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val lsh = Similarity.knnGraphLSH(vecs, k = 3, nBits = 6, dim = 16)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
    // every vector still gets edges (multiprobe keeps singleton buckets rare)
    val srcs = lsh.map(_._1)
    assert(srcs.size >= 75, s"only ${srcs.size}/80 vectors have edges")
  }

  test("knnGraphLSH nTables=1: no (src, dst) pair survives twice through " +
    "the elided dedupe (pair uniqueness is structural, not cleaned up)") {
    // the single-table path skips the (src, dst) max-sim exchange on the
    // proof that a dst occupies ONE bucket and the multiprobe keys are
    // distinct buckets — a duplicated pair here would surface as the same
    // dst twice inside one source's top-k heap
    val rnd = new scala.util.Random(91)
    val centers = Seq.fill(10)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 6
    } yield ((ci * 6 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.03).toFloat)))
      .toDF("vec_id", "embedding")
    val df1 = Similarity.knnGraphLSH(vecs, k = 3, nBits = 6, dim = 16, nTables = 1)
    val g = df1.select("src", "dst").as[(Long, Long)].collect()
    assert(g.length == g.distinct.length,
      s"duplicate (src,dst) edges under the elided dedupe: ${g.groupBy(identity).filter(_._2.length > 1).keys}")
    // plan contract: NO path — single- or multi-table — may shuffle the
    // raw candidate frame. The historical (src, dst) max-sim dedupe agg
    // was the only corpus-pair-sized exchange in the pipeline (sf100:
    // eliding it at nTables=1 cut total shuffle from ~50-60 GB spilled to
    // 11 GB of join inputs; §12 predicted ~260 GB at the full config);
    // since r11 the multi-table path merges k-bounded per-table TopK
    // partials instead, so a (src, dst)-keyed exchange reappearing in ANY
    // plan is a scale regression this pins
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    def hashExchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val p1 = finalPlan(df1)
    val p2 = finalPlan(
      Similarity.knnGraphLSH(vecs, k = 3, nBits = 6, dim = 16, nTables = 2))
    val pairExchange = """hashpartitioning\(src#\d+L?, dst#""".r
    for ((p, n) <- Seq((p1, 1), (p2, 2)))
      assert(pairExchange.findFirstIn(p).isEmpty,
        s"corpus-pair-sized (src, dst) exchange reappeared at nTables=$n:\n$p")
    // the multi-table merge adds exactly ONE exchange over the single-table
    // path — the (src)-keyed heap over <= k·nTables exploded partial rows
    assert(hashExchanges(p2) == hashExchanges(p1) + 1,
      s"expected one k-bounded merge exchange at nTables=2 " +
        s"(got ${hashExchanges(p1)} vs ${hashExchanges(p2)}):\n$p2")
  }

  test("knnGraphLSH nTables=2: k-bounded per-table merge returns exactly " +
    "the deduped global top-k (the formulation it replaced)") {
    // the per-table-TopK + distinct-merge path must be output-identical to
    // the r10 formulation (global (src, dst) max-sim dedupe, then top-k):
    // rebuild the latter from the same private building blocks and compare
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(277)
    val centers = Seq.fill(12)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 5
    } yield ((ci * 5 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val (k, nBits, dim, nTables, maxBucket, seed) = (3, 6, 16, 2, 256, 42L)
    val got = Similarity.knnGraphLSH(vecs, k = k, nBits = nBits, dim = dim,
        nTables = nTables, maxBucket = maxBucket, seed = seed)
      .as[(Long, Int, Long, Double)].collect().toSeq
    // reference: same bucketing/probing/capping, then the historical
    // dedupe-then-rank formulation via a window
    val base = vecs.repartition(8).select(col("vec_id").as("id"), col("embedding").as("v"),
      graft.functions.functions.float_norm(col("embedding")).as("nrm"))
    val e = Similarity.bucketedTables(base, nBits, dim, seed, nTables)
    val src = e.select(col("id").as("src"), col("v").as("va"),
      col("nrm").as("na"), col("tbl"), Similarity.multiprobe(nBits).as("bkt"))
    val cand = e.toDF("dst", "vb", "nb", "tbl", "bkt")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("tbl", "bkt").orderBy("dst")))
      .where(col("__rn") <= maxBucket).drop("__rn")
    val sim9 = round(graft.functions.functions.float_dot(col("va"), col("vb"))
      / (col("na") * col("nb")), 9)
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    val want = src.join(cand, Seq("tbl", "bkt")).where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), sim9.as("sim"))
      .groupBy("src", "dst").agg(max(col("sim")).as("sim"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("src"), col("rnk"), col("dst"), col("sim"))
      .orderBy("src", "rnk")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got == want, "k-bounded merge diverged from the dedupe-then-rank reference")
  }

  test("multiprobe depth 2: probe keys are distinct buckets (pair-uniqueness " +
    "proof holds), and recall dominates depth 1 at nTables=1") {
    // distinct masks => distinct probe keys, for every bucket value
    val probes = Seq(37L).toDF("bkt")
      .select(Similarity.multiprobe(6, 2).as("p")).as[Long].collect()
    assert(probes.length == 1 + 6 + 15, s"probe count ${probes.length}")
    assert(probes.distinct.length == probes.length, "probe keys collide")
    // recall: depth 2 must find at least every planted edge depth 1 finds
    // on a clustered corpus (superset probe set => superset candidates)
    val rnd = new scala.util.Random(555)
    val centers = Seq.fill(20)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 4
    } yield ((ci * 4 + j).toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.knnGraph(vecs, k = 3)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    def recall(depth: Int): Double = {
      val g = Similarity.knnGraphLSH(vecs, k = 3, nBits = 6, dim = 16,
          nTables = 1, probeDepth = depth)
        .select("src", "dst").as[(Long, Long)].collect().toSet
      (exact intersect g).size.toDouble / exact.size
    }
    val (r1, r2) = (recall(1), recall(2))
    assert(r2 >= r1, s"depth-2 recall $r2 below depth-1 $r1")
    assert(r2 >= 0.8, s"depth-2 recall $r2 too low")
    // structural uniqueness at depth 2: no duplicate (src, dst) edges
    val g2 = Similarity.knnGraphLSH(vecs, k = 3, nBits = 6, dim = 16,
        nTables = 1, probeDepth = 2)
      .select("src", "dst").as[(Long, Long)].collect()
    assert(g2.length == g2.distinct.length, "duplicate pairs at probeDepth=2")
  }

  test("knnGraphLSH hot-bucket cap: a dense hub stays linear, every hub " +
    "node still gets k near-tie edges, and the cap never binds below it") {
    val rnd = new scala.util.Random(808)
    // a 400-member near-identical hub (one sign pattern at any bit width —
    // the replica-corpus shape) + 10 sparse clusters of 4
    val hubDir = Seq.fill(16)(rnd.nextGaussian())
    val hub = (0 until 400).map(i =>
      (i.toLong, hubDir.map(x => (x + rnd.nextGaussian() * 0.01).toFloat)))
    val centers = Seq.fill(10)(Seq.fill(16)(rnd.nextGaussian()))
    val sparse = (for {
      (c, ci) <- centers.zipWithIndex; j <- 0 until 4
    } yield ((1000 + ci * 4 + j).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)))
    val vecs = (hub ++ sparse).toDF("vec_id", "embedding")
    val capped = Similarity.knnGraphLSH(vecs, k = 3, nBits = 6, dim = 16,
      nTables = 2, maxBucket = 32)
    val rows = capped.select("src", "dst", "sim")
      .as[(Long, Long, Double)].collect()
    // every hub node keeps k edges, and they are near-ties (sim ≈ 1):
    // the cap excises candidates but the kept ones are equivalent
    val hubEdges = rows.filter(_._1 < 400).groupBy(_._1)
    assert(hubEdges.size == 400, s"${hubEdges.size}/400 hub nodes have edges")
    hubEdges.foreach { case (s, es) =>
      assert(es.length == 3 && es.forall(_._3 > 0.99),
        s"hub node $s edges ${es.toSeq}")
    }
    // candidate work is bounded: dst side of any cell caps at 32, so no
    // hub node can have scored more than nTables*(nBits+1)*32 candidates —
    // indirectly asserted by the sparse clusters staying intact:
    val sparseTop = rows.filter(_._1 >= 1000).groupBy(_._1)
    assert(sparseTop.size >= 38, s"only ${sparseTop.size}/40 sparse nodes have edges")
    // below the cap nothing changes: same graph with the default maxBucket
    val uncapped = Similarity.knnGraphLSH(vecs.where(col("vec_id") >= 1000),
      k = 3, nBits = 6, dim = 16, nTables = 2)
    val small = Similarity.knnGraphLSH(vecs.where(col("vec_id") >= 1000),
      k = 3, nBits = 6, dim = 16, nTables = 2, maxBucket = 32)
    assert(uncapped.collect().toSeq == small.collect().toSeq)
  }

  test("kMeansProfileSeeded: deterministic under repartition; partitions " +
    "the corpus; same cluster recovery as the hash-seeded tier") {
    val rnd = new scala.util.Random(909)
    val centers = Seq.fill(4)(Seq.fill(16)(rnd.nextGaussian() * 3))
    // ids INTERLEAVED across clusters: id-ordered seeding means the k
    // smallest ids are the seeds, so they must span the structure (the
    // deliberate trade of the oracle-mirrorable tier — seed QUALITY is the
    // caller's job; the hash-seeded tier self-scatters instead)
    val vecs = (for {
      (c, ci) <- centers.zipWithIndex; j <- 0 until 25
    } yield ((j * 4 + ci).toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val p1 = Similarity.kMeansProfileSeeded(vecs, k = 4, iters = 2)
      .collect().toSeq
    val p2 = Similarity.kMeansProfileSeeded(vecs.repartition(7), k = 4, iters = 2)
      .collect().toSeq
    assert(p1 == p2)
    // the profile partitions the corpus
    assert(p1.map(_.getLong(1)).sum == 100L)
    // planted structure recovered: 4 cells of 25 (well-separated clusters)
    assert(p1.map(_.getLong(1)).sorted == Seq(25L, 25L, 25L, 25L),
      s"cells ${p1.map(_.getLong(1))}")
  }

  test("topPrincipalComponent recovers a planted direction, partition-invariant") {
    val rnd = new scala.util.Random(987)
    val dim = 16
    val d1 = {
      val raw = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    // strong variance along d1, weak isotropic noise
    val vecs = (0 until 120).map { i =>
      val a = rnd.nextGaussian() * 5.0
      (i.toLong, d1.map(c => (a * c + rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val pc = Similarity.topPrincipalComponent(vecs, iters = 6, dim = dim)
      .select("loading").as[Double].collect()
    val cos = math.abs(pc.zip(d1).map { case (a, b) => a * b }.sum)
    assert(cos > 0.95, s"|cos(pc, planted)| = $cos")
    assert(math.abs(pc.map(x => x * x).sum - 1.0) < 1e-9) // unit norm
    // exact determinism under repartition (decimal sums + fixed driver math)
    val pc4 = Similarity.topPrincipalComponent(vecs.repartition(4), iters = 6, dim = dim)
      .select("loading").as[Double].collect()
    assert(pc4.sameElements(pc))
  }

  test("removeDominantPC: residuals are orthogonal to the PC, ledger consistent") {
    val rnd = new scala.util.Random(135)
    val dim = 16
    val d1 = {
      val raw = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    val vecsRaw = (0 until 80).map { i =>
      val a = rnd.nextGaussian() * 5.0
      (i.toLong, d1.map(c => (a * c + rnd.nextGaussian() * 0.3).toFloat))
    }
    val vecs = vecsRaw.toDF("vec_id", "embedding")
    val pc = Similarity.topPrincipalComponent(vecs, iters = 6, dim = dim)
      .select("loading").as[Double].collect()
    val r = Similarity.removeDominantPC(vecs, iters = 6, dim = dim)
      .as[(Long, Double, Double, Double)].collect()
    val byId = vecsRaw.toMap
    r.foreach { case (id, proj, norm, res) =>
      val x = byId(id).map(_.toDouble)
      // ledger matches hand-computed projection and Pythagoras
      val p = x.zip(pc).map { case (a, b) => a * b }.sum
      assert(math.abs(proj - math.rint(p * 1e9) / 1e9) < 1e-9, s"id $id proj")
      assert(math.abs(res * res + proj * proj - norm * norm) < 1e-5, s"id $id pyth")
      // residual really is orthogonal to the PC
      val resVec = x.zip(pc).map { case (a, b) => a - p * b }
      val resDot = resVec.zip(pc).map { case (a, b) => a * b }.sum
      assert(math.abs(resDot) < 1e-9, s"id $id residual not orthogonal")
    }
    // the strong direction absorbed most mass: residuals are small
    assert(r.map(_._4).max < r.map(_._3).max / 2)
  }

  test("topPrincipalComponentFast agrees with the exact tier; one-job scan") {
    val rnd = new scala.util.Random(246)
    val dim = 16
    val d1 = {
      val raw = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    // non-zero mean so the scatter-matrix centering is actually exercised
    val vecs = (0 until 150).map { i =>
      val a = rnd.nextGaussian() * 5.0
      (i.toLong,
        d1.indices.map(j => (2.0 + a * d1(j) + rnd.nextGaussian() * 0.3).toFloat).toArray)
    }.toDF("vec_id", "embedding")
    val exact = Similarity.topPrincipalComponent(vecs, iters = 6, dim = dim)
      .select("loading", "eigenvalue").as[(Double, Double)].collect()
    val fast = Similarity.topPrincipalComponentFast(vecs, iters = 6, dim = dim)
      .select("loading", "eigenvalue").as[(Double, Double)].collect()
    // same iteration sequence modulo double-vs-decimal rounding: loadings
    // agree to 1e-6 absolute, eigenvalue to 1e-6 relative
    exact.map(_._1).zip(fast.map(_._1)).zipWithIndex.foreach { case ((e, f), j) =>
      assert(math.abs(e - f) < 1e-6, s"loading[$j] exact=$e fast=$f")
    }
    assert(math.abs(exact.head._2 - fast.head._2) / exact.head._2 < 1e-6)
    assert(math.abs(fast.map(x => x._1 * x._1).sum - 1.0) < 1e-9) // unit norm
    // repartitioning changes combine order only in the last bits
    val fast4 = Similarity.topPrincipalComponentFast(vecs.repartition(4), iters = 6, dim = dim)
      .select("loading").as[Double].collect()
    fast.map(_._1).zip(fast4).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("removeDominantPCFast ledger agrees with the exact tier") {
    val rnd = new scala.util.Random(357)
    val dim = 16
    val d1 = {
      val raw = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    val vecs = (0 until 90).map { i =>
      val a = rnd.nextGaussian() * 5.0
      (i.toLong, d1.map(c => (a * c + rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.removeDominantPC(vecs, iters = 6, dim = dim)
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    val fast = Similarity.removeDominantPCFast(vecs, iters = 6, dim = dim)
      .as[(Long, Double, Double, Double)].collect()
    assert(fast.length == exact.size)
    fast.foreach { case (id, proj, norm, res) =>
      val (_, ep, en, er) = exact(id)
      assert(math.abs(proj - ep) < 1e-5, s"id $id proj")
      assert(norm == en, s"id $id norm") // norm doesn't involve the PC
      assert(math.abs(res - er) < 1e-5, s"id $id residual")
    }
    assert(Similarity.removeDominantPCFast(vecs, 6, dim).schema ==
      Similarity.removeDominantPC(vecs, 6, dim).schema)
  }

  test("rpReduce: signed sums match the integer sign matrix, no shuffle ops") {
    val df = Seq((1L, Array(1.0f, 2.0f, 0.5f)), (2L, Array(-1.0f, 0.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    def sign(k: Long, j: Long): Int =
      if (java.lang.Long.bitCount(k * 2654435761L + j * 40503L) % 2 == 0) 1 else -1
    val vecs = Map(1L -> Seq(1.0, 2.0, 0.5), 2L -> Seq(-1.0, 0.0, 4.0))
    val r = Similarity.rpReduce(df, outDims = 4).as[(Long, Int, Double)].collect()
    assert(r.length == 8)
    r.foreach { case (id, k, z) =>
      val exp = (0 until 3).map(j => sign(k, j) * vecs(id)(j)).sum
      assert(math.abs(z - exp) < 1e-9, s"id=$id k=$k")
    }
    // the projection itself is map-only: no aggregate, no join in the plan
    val plan = Similarity.rpReduce(df, 4).queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"))
    // partitioning-invariant (decimal-exact sums)
    val r4 = Similarity.rpReduce(df.repartition(4), outDims = 4)
      .as[(Long, Int, Double)].collect()
    assert(r4.sorted.sameElements(r.sorted))
  }

  test("rpReduce compiled loop is bit-identical to the DECIMAL HOF fold tree") {
    // the RpDecimalProject expression replaced an outDims× aggregate(
    // transform(...)) DECIMAL(28,8) formulation (the sf10 sweep's worst
    // entry); this pins the replacement to the ORIGINAL tree value-for-value
    // on adversarial floats: subnormals, huge/tiny magnitudes, exact .5
    // rounding boundaries at scale 8, negatives, zeros, and a null element
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val outDims = 8
    def hofReduce(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val zs = (0 until outDims).map { k =>
        val terms = transform(col("embedding"), (x, j) => {
          val h = lit(k.toLong * 2654435761L) + j.cast("long") * lit(40503L)
          val sign = when(bit_count(h) % 2 === 0, lit(1)).otherwise(lit(-1))
          (x.cast("double") * sign).cast("decimal(28,8)")
        })
        aggregate(terms, lit(java.math.BigDecimal.ZERO).cast("decimal(30,8)"),
          (acc, t) => (acc + t).cast("decimal(30,8)")).cast("double")
      }
      df.select(col("vec_id"), posexplode(array(zs: _*)).as(Seq("dim_idx", "z")))
        .orderBy("vec_id", "dim_idx")
    }
    val gen = Gen.listOfN(40, Gen.listOfN(16, Gen.oneOf(
      Gen.chooseNum(-3.0f, 3.0f),
      Gen.oneOf(0.0f, -0.0f, 1.5e-8f, -1.5e-8f, 0.000000125f, 1.4e-45f,
        3.0e9f, -3.0e9f, 123.456f, Float.MinPositiveValue))))
    val vecs = gen.apply(Gen.Parameters.default, Seed(4242L)).get
    val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.map(java.lang.Float.valueOf).toArray) } ++
      Seq((98L, Array[java.lang.Float](1.0f, null, 2.0f)),   // null element -> null z
          (99L, null.asInstanceOf[Array[java.lang.Float]])) // null array -> null z rows
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.rpReduce(df, outDims).collect()
      .map(r => (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    val want = hofReduce(df).collect()
      .map(r => (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.length == want.length && got.length == 42 * outDims)
    got.zip(want).foreach { case (g, w) => assert(g === w, s"got $g want $w") }
    // values above the DECIMAL(28,8) cast cap null exactly like the tree's
    // non-ANSI cast (under ANSI the tree throws instead; the expression
    // keeps the null contract documented on RpDecimal.project)
    val big = Seq((1L, Array(3.0e20f, 1.0f))).toDF("vec_id", "embedding")
    val gotBig = Similarity.rpReduce(big, outDims).collect().map(_.isNullAt(2)).toSeq
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    val wantBig = try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      hofReduce(big).collect().map(_.isNullAt(2)).toSeq
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
    assert(gotBig === wantBig && gotBig.forall(identity))
  }

  test("rpReduceFast agrees with exact rpReduce to 1e-6 relative; map-only plan") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(50, Gen.listOfN(64, Gen.chooseNum(-2.0f, 2.0f)))
    val vecs = gen.apply(Gen.Parameters.default, Seed(901L)).get
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
      .toDF("vec_id", "embedding").repartition(4)
    val exact = Similarity.rpReduce(df, outDims = 8).as[(Long, Int, Double)]
      .collect().map { case (id, k, z) => (id, k) -> z }.toMap
    val fast = Similarity.rpReduceFast(df, outDims = 8).as[(Long, Int, Double)]
      .collect()
    assert(fast.length == exact.size)
    fast.foreach { case (id, k, z) =>
      val e = exact((id, k))
      assert(math.abs(z - e) <= 1e-6 * math.max(1.0, math.abs(e)),
        s"id=$id k=$k fast=$z exact=$e")
    }
    // the fast tier keeps the map-only shape: no aggregate, no join
    val plan = Similarity.rpReduceFast(df, 4).queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"))
    assert(Similarity.rpReduceFast(df, 4).schema == Similarity.rpReduce(df, 4).schema)
  }

  test("rpReduceFast fails loudly on an embedding wider than maxDims") {
    val df = Seq((1L, Array.fill(5)(1.0f)), (2L, Array.fill(3)(1.0f)))
      .toDF("vec_id", "embedding")
    // a silent prefix projection would quietly break the exact-tier
    // agreement contract; the guard must throw, naming the cap
    val e = intercept[Exception] {
      Similarity.rpReduceFast(df, outDims = 2, maxDims = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("maxDims=4")), messages(e).mkString(" | "))
    // width == maxDims passes untouched
    assert(Similarity.rpReduceFast(df.where(col("vec_id") === 2L),
      outDims = 2, maxDims = 3).count() == 2L)
  }

  test("rpReduceFast propagates null embeddings as null z, like the exact tier") {
    // a null array used to hit the width guard as assert_true(null), which
    // throws a MISLEADING maxDims error; the contract is the exact tier's:
    // null in, null z components out, non-null rows unaffected
    val df = Seq((1L, Some(Array.fill(4)(1.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val fast = Similarity.rpReduceFast(df, outDims = 3)
      .collect().map(r => (r.getLong(0), r.isNullAt(2))).toSeq
    val exact = Similarity.rpReduce(df, outDims = 3)
      .collect().map(r => (r.getLong(0), r.isNullAt(2))).toSeq
    assert(fast === exact)
    assert(fast.filter(_._1 == 2L).forall(_._2), "null embedding must yield null z")
    assert(fast.filter(_._1 == 1L).forall(!_._2), "real embedding must yield real z")
  }

  test("topPrincipalComponentFast drops rows with null vector elements") {
    val rnd = new scala.util.Random(468)
    val dim = 8
    val clean = (0 until 60).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() * 2.0).toFloat)))
    val cleanDF = clean.toDF("vec_id", "embedding")
    val dirty = cleanDF.union(
      Seq((999L, Array[java.lang.Float](1.0f, null, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)))
        .toDF("vec_id", "embedding"))
    // the dirty row must be dropped, not crash the treeAggregate decode —
    // result equals the clean-input run up to combine-order last bits
    // (the union changes the partitioning, so exact equality is too strong)
    val a = Similarity.topPrincipalComponentFast(dirty, iters = 4, dim = dim)
      .select("loading").as[Double].collect()
    val b = Similarity.topPrincipalComponentFast(cleanDF, iters = 4, dim = dim)
      .select("loading").as[Double].collect()
    a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, s"$x vs $y") }
  }

  test("groupCentroids: per-group per-dim exact means in long format") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 6.0f)),
      ("b", Array(10.0f, 20.0f))
    ).toDF("g", "embedding")
    val r = Similarity.groupCentroids(df, "g")
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(r == Seq(("a", 0, 2L, 2.0), ("a", 1, 2L, 4.0),
      ("b", 0, 1L, 10.0), ("b", 1, 1L, 20.0)))
  }

  // two tight clusters around orthogonal axes, slightly asymmetric so the
  // centroid leans toward cluster X and pure relevance ranks all of X first
  private def mmrClusters = Seq(
    (0L, Seq(1.0f, 0.10f, 0f, 0f)),  // X
    (1L, Seq(1.0f, 0.12f, 0f, 0f)),  // X
    (2L, Seq(1.0f, 0.08f, 0f, 0f)),  // X
    (3L, Seq(0.10f, 1.0f, 0f, 0f)),  // Y
    (4L, Seq(0.12f, 1.0f, 0f, 0f))   // Y
  ).toDF("vec_id", "embedding")

  test("mmrSelect: lambda=1 degenerates to exact top-k by relevance") {
    val q = Some(Seq(1.0f, 0.0f, 0.0f, 0.0f))
    val got = Similarity.mmrSelect(mmrClusters, k = 3, lambda = 1.0, queryVec = q)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // relevance to e1: ids 2 (cos highest: smallest off-axis), 0, 1
    // cos = 1/sqrt(1+y^2): y=0.08 > y=0.10 > y=0.12
    assert(got == Seq((1, 2L), (2, 0L), (3, 1L)))
  }

  test("mmrSelect: diversity term pulls in the far cluster; top-k does not") {
    val q = Some(Seq(1.0f, 0.3f, 0.0f, 0.0f))
    val topk = Similarity.mmrSelect(mmrClusters, k = 2, lambda = 1.0, queryVec = q)
      .collect().map(_.getLong(1)).toSet
    val mmr = Similarity.mmrSelect(mmrClusters, k = 2, lambda = 0.5, queryVec = q)
      .collect().map(_.getLong(1)).toSet
    // pure relevance keeps both picks inside cluster X; MMR's second pick
    // must cross to cluster Y (intra-X cosines ~0.999 make the marginal
    // score of a second X pick collapse)
    assert(topk.subsetOf(Set(0L, 1L, 2L)))
    assert(mmr.exists(Set(3L, 4L).contains) && mmr.exists(Set(0L, 1L, 2L).contains))
  }

  test("mmrSelect: centroid default, deterministic across runs, k caps at corpus") {
    val a = Similarity.mmrSelect(mmrClusters, k = 10, lambda = 0.7)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = Similarity.mmrSelect(mmrClusters, k = 10, lambda = 0.7)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a == b)
    assert(a.size == 5 && a.map(_._2).distinct.size == 5) // exhausts corpus, no repeats
    assert(a.map(_._1) == (1 to 5))
  }

  test("kMeansProfile/semDedupWithCents: corpus partition, assignment optimality, " +
    "determinism under repartitioning, planted clusters recovered") {
    // 6 planted clusters of 6 near-identical vectors. Membership is keyed
    // by Knuth-hash RANK mod 6, so kMeansProfile's deterministic
    // hash-ordered seed sample (the first 6 ids in that order) covers every
    // planted cluster exactly once — seed coverage is a property of the
    // fixture, recovery a property of the operator
    val rnd = new scala.util.Random(246)
    val centers = Seq.fill(6)(Seq.fill(16)(rnd.nextGaussian()))
    val knuthRank = (0 until 36).sortBy(i => ((i.toLong * 2654435761L) % 2147483647L, i))
      .zipWithIndex.toMap
    val vecs = (0 until 36).map { id =>
      val c = centers(knuthRank(id) % 6)
      (id.toLong, c.map(x => (x + rnd.nextGaussian() * 0.02).toFloat))
    }.toDF("vec_id", "embedding")
    val profile = Similarity.kMeansProfile(vecs, k = 6, iters = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // partition: every vector lands in exactly one cluster
    assert(profile.map(_._2).sum == 36L)
    // determinism: same result from a different input partitioning
    val profile2 = Similarity.kMeansProfile(vecs.repartition(7), k = 6, iters = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(profile.toSeq == profile2.toSeq)
    // assignment optimality: each vector's sim to its own centroid is the
    // max over all centroids (checked through the cid column of the
    // frozen-centroid tier; a threshold above 1 drops nothing)
    val cents = Similarity.trainCentroids(vecs, nCentroids = 6, iters = 3)
    val assigned = Similarity.semDedupWithCents(vecs, cents, threshold = 1.1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(assigned.size == 36)
    val vmap = vecs.as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      val na = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      val nb = math.sqrt(b.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
      d / (na * nb)
    }
    val centMap = cents.map { case (c, cv, _) => c -> cv }.toMap
    assigned.foreach { case (id, cid) =>
      val sim = cos(vmap(id), centMap(cid))
      val best = cents.map { case (c, cv, _) => (c, cos(vmap(id), cv)) }.maxBy(_._2)
      assert(math.abs(best._2 - sim) < 1e-6,
        s"vec $id: assigned cid=$cid sim=$sim but best is $best")
    }
    // tight planted clusters: members sit close to their centroid
    assert(profile.forall(_._3 > 0.9), s"low mean sim in $profile")
  }

}
