package graft.llm

import graft.functions.Rebalance.spreadGated
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three tiers, in increasing scale:
  *   1. [[cosineTopK]] — exact all-pairs top-k. O(n²) pair space; correctness
  *      baseline and the verifier for the approximate tiers.
  *   2. [[annBruteTopK]] — exact per-query top-k via a windowed rank over the
  *      pair scores (still brute-force, but embarrassingly parallel and the
  *      right shape when the query set is small).
  *   3. [[lshAnnTopK]] — random-hyperplane LSH bucketing: vectors only meet
  *      inside matching sign-buckets, turning O(n²) into per-bucket joins.
  *      Approximate; recall is property-tested against tier 1. At 100 TB this
  *      (or IVF with learned centroids) is the only viable shape, with
  *      multi-probe to recover recall.
  *
  * All dot products run as `aggregate`/`zip_with` HOF expressions in doubles
  * (float→double widening is exact, and float×float in double is exact), with
  * a deterministic left-to-right fold — bit-reproducible across runs and
  * engines, which the oracle comparison relies on.
  */
object Similarity {

  /** Deterministic left-fold dot product of two float-array columns —
    * a codegen'd primitive loop ([[graft.functions.FloatDot]]); bit-identical
    * to the `aggregate(zip_with(...))` HOF formulation but with no per-row
    * array allocation, which matters inside the O(n²) pair join. */
  def dot(a: Column, b: Column): Column = graft.functions.functions.float_dot(a, b)

  /** L2 norm (same fold discipline). */
  def norm(a: Column): Column = graft.functions.functions.float_norm(a)

  /** Cosine similarity rounded to 9 dp. Rounding makes cross-engine
    * comparison robust to sub-ulp differences while keeping 9 significant
    * decimals of ranking resolution. */
  def cosine9(dotCol: Column, normA: Column, normB: Column): Column =
    round(dotCol / (normA * normB), 9)

  /** Exact top-k most-similar pairs (id_a < id_b) by cosine.
    * Norms are computed once per vector BEFORE the pair join (n, not n²,
    * norm evaluations). The join is a broadcast nested-loop at small n; the
    * final top-k is a TakeOrdered, not a full sort. */
  def cosineTopK(emb: DataFrame, k: Int = 10,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = spreadGated(emb, minBytes = 0).select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val a = e.toDF("id_a", "va", "na")
    val b = e.toDF("id_b", "vb", "nb")
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine9(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim"))
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Exact per-query top-k neighbors for a set of query ids: rank all
    * candidates per query with a window, keep rank <= k. Deterministic
    * ordering: (sim desc, neighbor id asc). */
  def annBruteTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 5,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // No spread() here: the q-side filter must push down to the scan, and
    // |Q|×n pair work is too small to amortize an extra exchange (measured
    // 30% slower with a repartition in front).
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val q = e.where(col("id").isInCollection(queryIds)).toDF("qid", "qv", "qn")
    val cand = e.toDF("nid", "nv", "nn")
    // broadcast the QUERY side: candidates are the at-scale side (the whole
    // corpus streams); without the hint Spark picks BuildRight = candidates
    val scored = broadcast(q).join(cand, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosine9(dot(col("qv"), col("nv")), col("qn"), col("nn")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("sim"))
      .orderBy("qid", "rnk")
  }

  /** Exact k-NN graph over the corpus: every vector's k nearest neighbors
    * by cosine, as edges (src, rnk, dst, sim) — the substrate for
    * graph-based dedup clustering, label propagation, and diversity
    * sampling. Deterministic: (sim desc, dst asc) per source, sims
    * rounded at 9 digits like every cosine in this module.
    *
    * Scale: this is the VERIFIER tier — the all-pairs join is O(n²) by
    * construction and the ranking window shuffles on `src` once. At corpus
    * scale, build the graph from [[srpBucket]] buckets or [[semDedup]]'s
    * k-means cells instead (same edge schema, candidates limited to
    * same-bucket pairs) and accept approximate recall; this exact graph is
    * what those tiers are property-tested against. */
  def knnGraph(emb: DataFrame, k: Int = 3,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = spreadGated(emb, minBytes = 0).select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val a = e.toDF("src", "va", "na")
    val b = e.toDF("dst", "vb", "nb")
    val scored = a.join(b, col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        cosine9(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim"))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("src"), col("rnk"), col("dst"), col("sim"))
      .orderBy("src", "rnk")
  }

  /** Approximate k-NN graph — the declared 100 TB tier of [[knnGraph]]:
    * every vector probes its own SRP bucket plus all 1-bit-flip neighbors
    * (multiprobe), exact cosine scores within candidates, top-k per source.
    * Same edge schema as the exact graph, so consumers swap tiers freely;
    * recall vs [[knnGraph]] is property-tested at test scale.
    *
    * Scale shape: bucketing is map-only; the candidate join shuffles on
    * bucket id, so pair work is Σ_b (nBits+1)·|b|² instead of n² — tune
    * `nBits` so buckets hold ~√(corpus/executors) vectors. */
  /** Corpus-adaptive hyperplane count for the SRP tiers: the smallest
    * nBits (floor 8) keeping expected bucket occupancy n/2^nBits at or
    * under `targetBucket` — the tuning rule the module docs state ("tune
    * nBits so buckets hold ~√(corpus/executors)"). FIXED bits turn the
    * Σ|bucket|² candidate work super-linear once buckets saturate:
    * measured 5.7× wall on 3× data at 8 bits before the declared queries
    * adopted this (SCALE.md §10). More bits lower per-table collision
    * probability, so recall-critical callers pair this with `nTables`. */
  def autoBits(n: Long, targetBucket: Int = 256): Int =
    math.max(8, math.ceil(
      math.log(math.max(n, 1).toDouble / targetBucket) / math.log(2)).toInt)

  def knnGraphLSH(emb: DataFrame, k: Int = 3, nBits: Int = 8, dim: Int = 64,
                  seed: Long = 42L, idCol: String = "vec_id",
                  vecCol: String = "embedding", nTables: Int = 1,
                  maxBucket: Int = 256, probeDepth: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxBucket > k, s"maxBucket $maxBucket must exceed k $k")
    // nTables independent hyperplane sets (the standard multi-table recall
    // knob): a true neighbor is found if it collides in ANY table, so
    // recall compounds as 1-(1-p_table)^nTables while candidate volume
    // grows only linearly in nTables. Bucket keys are (table, bucket) so
    // tables never cross-pollinate candidates.
    val base = spreadGated(emb, minBytes = 0).select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val e = bucketedTables(base, nBits, dim, seed, nTables)
    val src = e.select(col("id").as("src"), col("v").as("va"),
      col("nrm").as("na"), col("tbl"), multiprobe(nBits, probeDepth).as("bkt"))
    // Hot-bucket cap on the CANDIDATE side — the same skew guard every
    // bucketed near-dup path carries (Dedup.minHashNearDup et al.), which
    // this graph tier was missing: autoBits keeps the MEDIAN cell at the
    // design occupancy, but a dense hub (many near-identical vectors — the
    // exact shape replica-heavy corpora produce) shares one sign pattern
    // at ANY bit width, so its cell grows with the hub and Σ|cell|² goes
    // hub-quadratic. Measured at 100× bench scale (LshBucketProbe, removed;
    // `git show 21ce4b7:src/main/scala/graft/tools/LshBucketProbe.scala`): p50
    // occupancy 120 vs max 3269 — the tail, not the median, carried 4.5×
    // the design pair volume. Keeping the maxBucket smallest ids per cell
    // (deterministic) bounds per-source candidates at
    // nTables·nProbes·maxBucket, restoring linear growth; sources are
    // never capped, so every node still receives k edges, and inside a
    // hub the kept candidates are near-ties of the excised ones (recall
    // property-tested; cap never binds at design occupancy).
    val cand = e.toDF("dst", "vb", "nb", "tbl", "bkt")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("tbl", "bkt").orderBy("dst")))
      .where(col("__rn") <= maxBucket).drop("__rn")
    val scored = src.join(cand, Seq("tbl", "bkt")).where(col("src") =!= col("dst"))
      .select(col("src"), col("tbl"), col("dst"),
        cosine9(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim"))
    // Pair repeats must collapse before ranking (TopKAgg keeps duplicates),
    // but NO formulation here ever shuffles the candidate frame:
    //
    // WITHIN one table a (src, dst) pair is structurally unique — a
    // destination occupies exactly ONE bucket per table, and a source's
    // multiprobe keys are DISTINCT buckets of that table (XORs of distinct
    // masks), so at nTables == 1 the top-k aggregate runs directly on the
    // scored pairs with nothing to dedupe. The historical alternative — a
    // (src, dst) max-sim hash agg ahead of the top-k — costs a full
    // exchange of the candidate frame (its map-side combine finds nothing
    // to combine on unique pairs), measured at sf100 as HALF the run's
    // total shuffle; §12 predicted ~260 GB at the full config, vs 78 GB
    // scratch. That agg no longer exists on ANY path.
    //
    // ACROSS tables a pair CAN repeat (once per colliding table), but its
    // sims are identical (same vectors, same exact cosine) — so the
    // multi-table path runs the SAME elided per-table discipline and
    // merges k-bounded partials instead of deduping raw pairs: a
    // (src, tbl) bounded-heap top-k first (map-side partials ship <= k
    // rows per group per partition, and the per-table top-k provably
    // CONTAINS every global winner: a pair beaten by fewer than k pairs
    // globally is beaten by fewer than k within any table it appears in),
    // then one (src)-keyed heap over the <= k·nTables exploded rows with
    // capacity k·nTables — lossless, so cross-table repeats (identical
    // (ord, id) structs, adjacent in the best-first array) collapse with
    // array_distinct and slice(1, k) yields exactly the deduped global
    // top-k. Shuffle drops O(n·probes·cap) -> O(n·probes·k): every
    // exchange after the bucket join is k-bounded.
    val topk = graft.functions.TopKAgg.top_k_by(col("sim"), col("dst"), k)
    val ranked =
      if (nTables == 1) scored.groupBy("src").agg(topk.as("top"))
      else scored.groupBy("src", "tbl").agg(topk.as("ptop"))
        .select(col("src"), explode(col("ptop")).as("e"))
        .select(col("src"), col("e.ord").as("sim"), col("e.id").as("dst"))
        .groupBy("src")
        .agg(graft.functions.TopKAgg.top_k_by(col("sim"), col("dst"), k * nTables).as("all"))
        .select(col("src"), slice(array_distinct(col("all")), 1, k).as("top"))
    ranked
      .select(col("src"), posexplode(col("top")))
      .select(col("src"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.id").as("dst"), col("col.ord").as("sim"))
      .orderBy("src", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs (sim >= threshold), exact.
    * The embedding-space sibling of Dedup's text near-dup operators: norms
    * precompute per vector, pairs materialize through the join, FloatDot
    * scores them in codegen. Exact and oracle-checkable at test scale; the
    * 100 TB path replaces the all-pairs join with SRP-LSH bucketing
    * ([[srpBucket]]) so only same-bucket (± multiprobe) vectors ever meet. */
  def embCosineNearDup(emb: DataFrame, threshold: Double = 0.9,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = spreadGated(emb, minBytes = 0).select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val a = e.toDF("id_a", "va", "na")
    val b = e.toDF("id_b", "vb", "nb")
    val sim = cosine9(dot(col("va"), col("vb")), col("na"), col("nb"))
    // Threshold goes INTO the join condition, cheap id test FIRST: pairs never
    // materialize below the threshold, and the dot product short-circuits away
    // for the id_a >= id_b half of the pair space. (A trailing .where() gets
    // pushed into the condition anyway — but AND-ed ahead of the id test, so
    // the n²-cost dot would run before the 50%-selective id filter.)
    a.join(b, col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_a"), col("id_b"), sim.as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** [[embCosineNearDup]]'s declared 100 TB path: SRP-LSH bucketed
    * near-duplicate pairs. `nTables` independent sign-bucket tables (seeded
    * hyperplane sets); vectors meet only inside a matching (table, bucket)
    * cell, every candidate pair is verified with exact cosine, so precision
    * is exact and only recall is approximate (a true pair is missed iff its
    * signs differ in EVERY table — P(miss) = (1-p^nBits)^nTables with
    * p = 1 - θ/π; for near-dup sims ≥0.9 and the defaults that is <1e-3).
    *
    * Scale shape mirrors [[graft.llm.Dedup.minHashNearDup]]: bucketing is
    * map-only; the one aggregation shuffles slim (id, table, bucket) rows —
    * never the vectors; pair expansion happens inside the bucket row with a
    * `maxBucket` skew cap; vectors rejoin only for the per-candidate verify.
    * Total pair work is Σ_cell |cell|² instead of n². */
  def embCosineNearDupLSH(emb: DataFrame, threshold: Double = 0.9, nTables: Int = 8,
                          nBits: Int = 8, dim: Int = 64, seed: Long = 42L,
                          maxBucket: Int = 2000,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val tables = (0 until nTables).map(t =>
      struct(lit(t).as("tbl"), srpBucket(col("v"), nBits, dim, seed + t).as("bkt")))
    val banded = e.select(col("id"), explode(array(tables: _*)).as("tb"))
      .select(col("id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val buckets = banded.groupBy("tbl", "bkt").agg(collect_list("id").as("ids"))
      .where(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
    val pairs = buckets.select(explode(flatten(transform(col("ids"),
        a => transform(filter(col("ids"), b => a < b), b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val verified = pairs
      .join(e.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
    verified.select(col("id_a"), col("id_b"),
        cosine9(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim"))
      .where(col("sim") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** Semantic decontamination: flag every training vector whose cosine to
    * ANY eval-set vector reaches `threshold`, reporting how many eval
    * vectors it matches and the strongest match. The embedding-space
    * complement of [[graft.llm.Dedup.decontaminate]]'s n-gram pass —
    * paraphrased or lightly-rewritten benchmark items share no 8-gram but
    * sit right on top of the eval item in embedding space, which is why
    * production decontamination runs BOTH passes.
    *
    * Scale shape (and why this is the 100 TB path, not an LSH tier): eval
    * suites are thousands of vectors against a corpus of billions, so the
    * eval side is explicitly `broadcast()` and the training side is ONE
    * map-only scan — no shuffle of training vectors at all; the threshold
    * sits in the join condition so sub-threshold pairs never materialize
    * (same discipline as [[embCosineNearDup]]); the only exchange is the
    * final per-id aggregate over flagged rows (map-side combined, output
    * bounded by the flagged count). Downstream, the flags drive an
    * anti-join, exactly like the n-gram pass. */
  def semanticDecontam(train: DataFrame, eval: DataFrame, threshold: Double = 0.9,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Gated rebalance (shared spreadGated policy since r14): the operator
    // is exchange-free by design, so its parallelism equals its scan split
    // count — correct at corpus scale (thousands of files saturate every
    // core; no exchange is added and the zero-training-shuffle contract
    // holds structurally), but a big single-file fixture arrives as 1-4
    // splits and pins the n·|eval|·d scoring loop to as many cores (the
    // r10 sweep measured sf100 starved at 88.5 s vs 50.4 s rebalanced; on
    // r13's honest 64-split fixtures the gate no longer fires at sf100 and
    // the query runs 7.34 s — SCALE.md §16). The size gate matters on the
    // SMALL end: this site was starvation-only until r13's measurement
    // that a spread cache charges every downstream job a
    // defaultParallelism-task scheduling floor, the wrong trade for
    // sub-split inputs (r13 verdict #6).
    val t = spreadGated(train)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
    val e = eval.select(col(idCol).as("eid"), col(vecCol).as("ev"),
      norm(col(vecCol)).as("en"))
    val sim = cosine9(dot(col("v"), col("ev")), col("nrm"), col("en"))
    t.join(broadcast(e), sim >= threshold)
      .select(col("id"), sim.as("sim"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_hits"), max(col("sim")).as("max_sim"))
      .orderBy("id")
  }

  /** (cid, centroid vector, precomputed norm) — always small enough to live
    * as expression literals. */
  type Centroids = Array[(Int, Seq[Float], Double)]

  /** Top-`take` centroids by cosine over the literal centroid matrix, as
    * ONE codegen'd [[graft.functions.LitTopCents]] loop per row — map-only,
    * no shuffle, the assignment shape that scales. Bit-identical values and
    * (sim desc, cid desc) ranking vs the historical
    * `slice(sort_array(array(struct(dot/(nrm·cn), cid)×C)), 1, take)` tree,
    * at C×d fused ops per row instead of C separate struct/CreateArray
    * expressions — which Catalyst also clones into contexts with no
    * subexpression elimination (the inferred isnotnull filter on a derived
    * join key): the sf10 sweep measured that formulation at ~100× its flop
    * cost on the IVF candidate side. */
  private def nearestCents(cents: Centroids)(v: Column, nrm: Column, take: Int): Column = {
    val cs = cents.toIndexedSeq
    val d = cs.head._2.length
    graft.functions.functions.lit_top_cents(v, nrm, cs.flatMap(_._2).toArray,
      cs.map(_._3).toArray, cs.map(_._1).toArray, d, take)
  }

  /** Driver-side norm with the same left-fold float→double discipline as
    * [[graft.functions.FloatDot]], so literal-centroid cosines are
    * bit-consistent with column-side ones. */
  private def foldNorm(cv: Seq[Float]): Double =
    math.sqrt(cv.foldLeft(0.0)((acc, f) => acc + f.toDouble * f.toDouble))

  /** K-means-lite centroid training: a deterministic hash-ordered sample
    * seeds `nCentroids` centroids, then `iters` Lloyd rounds run as DataFrame
    * aggregations — assign each vector to its nearest centroid
    * (expression-level argmax over the literal matrix, map-only), then
    * recompute each centroid as the element-wise mean of its cell.
    *
    * The mean runs over `decimal(28,12)` casts of the (exactly-representable)
    * float components, so the aggregate is order-independent and the trained
    * centroids are bit-deterministic under any partitioning — floating-point
    * `avg` would drift with the shuffle schedule. Emptied cells keep their
    * previous centroid. `iters = 0` degenerates to the plain sample (the
    * round-1 stand-in). At 100 TB, train on a sampled slice (`emb.sample`)
    * and reuse the centroids across queries — this is the offline phase of
    * the IVF design. */
  def trainCentroids(emb: DataFrame, nCentroids: Int = 16, iters: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Centroids = {
    graft.functions.SessionTuning.ensureActiveSession()
    // spread: each Lloyd round re-scans the corpus (assignment + the
    // dim-exploded mean agg); a single-file input would run every round on
    // 1-2 cores. Results are partitioning-invariant (TakeOrdered seeds,
    // decimal-exact order-independent means) — determinism-tested.
    val e = spreadGated(emb, minBytes = 0).select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    // Deterministic pseudo-random seed sample: order by a hash of the id
    // (id tiebreak) and take the first C. Id-distribution-agnostic (a modulo
    // scheme returns ZERO centroids when no id hits the stride) and one
    // TakeOrdered job — no separate count.
    var cents: Centroids = e
      .orderBy(xxhash64(col("id")), col("id")).limit(nCentroids)
      .collect().zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](1), r.getDouble(2))
      }
    for (_ <- 0 until iters) {
      val assigned = e.select(col("v"),
        nearestCents(cents)(col("v"), col("nrm"), 1).getItem(0).getField("cid").as("cid"))
      val means = assigned.select(col("cid"), posexplode(col("v")))
        .groupBy("cid", "pos")
        .agg(avg(col("col").cast("decimal(28,12)")).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mv"))
        .collect()
        .map(r => r.getInt(0) ->
          r.getSeq[java.math.BigDecimal](1).map(_.floatValue()).toSeq)
        .toMap
      cents = cents.map { case (cid, old, on) =>
        means.get(cid).map(nv => (cid, nv, foldNorm(nv))).getOrElse((cid, old, on))
      }
    }
    cents
  }

  /** Fully ORACLE-MIRRORABLE k-means profile: the same Lloyd structure as
    * [[trainCentroids]]+[[kMeansProfile]], with every engine-specific
    * ingredient replaced by one both engines compute bit-identically —
    * which moves k-means from the omit set to a hash-checked query:
    *
    *   - SEEDS are the `k` smallest-id vectors (no xxhash64 ordering —
    *     DuckDB has no xxhash64);
    *   - ASSIGNMENT argmax runs over 9-digit-ROUNDED cosines (the repo's
    *     cross-engine float contract) with larger-cid tie-break;
    *   - CENTROID means are `round(sumDecimal.toDouble / count, 6)`
    *     narrowed to float: the decimal sum is exact and order-independent
    *     on both engines, the double division is IEEE-determined, and the
    *     rounding mirrors DuckDB's DOUBLE `round` FORMULA — multiply by
    *     1e6, round half-away-from-zero ON THE BINARY PRODUCT, divide —
    *     not exact-decimal rounding (measured: DuckDB rounds 0.1234565 UP
    *     because 0.1234565·1e6 lands above …456.5 in binary, while the
    *     exact decimal expansion rounds DOWN; a BigDecimal mirror
    *     hash-mismatched at sf0.001 on exactly such a component) —
    *     whereas [[trainCentroids]]'s decimal `avg` narrows through a
    *     scale-16 decimal that DuckDB cannot reproduce digit-for-digit.
    *
    * Emptied cells keep their previous centroid (LEFT-JOIN coalesce in the
    * mirror). Scale shape identical to [[kMeansProfile]]: literal-matrix
    * argmax assignment (map-only), one (k·dim)-row aggregate per round. */
  def kMeansProfileSeeded(emb: DataFrame, k: Int = 8, iters: Int = 2,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    lloydProfileMirrorable(emb, k, iters, idCol, vecCol, seedKey = identity)

  /** Knuth multiplicative-hash seed key over the 31-bit prime field:
    * `(id mod P)·2654435761 mod P`, P = 2³¹−1 — a pseudo-random,
    * id-distribution-agnostic seed ordering BOTH engines compute exactly
    * in 64-bit integers (no overflow: (P−1)·M < 2⁶³), unlike the
    * xxhash64 ordering [[trainCentroids]] uses, which DuckDB lacks. */
  private def knuthSeedKey(id: Column): Column =
    (id % lit(2147483647L)) * lit(2654435761L) % lit(2147483647L)

  /** Rounded-argmax over a literal centroid matrix — the mirrorable
    * assignment primitive every oracle-bearing clustering tier shares:
    * sims rounded at 9 (the repo's cross-engine float contract) BEFORE
    * ranking, ties to the larger cid. One LitTopCents loop per row
    * (roundScale=9 replicates Spark's round double semantics op-for-op)
    * instead of the k-struct sort_array tree — the Offender-3 lesson.
    * `take > 1` yields the probe list an IVF query side walks. */
  private def bestMirror(cents: Centroids)(v: Column, nrm: Column,
                                           take: Int = 1): Column = {
    val cs = cents.toIndexedSeq
    graft.functions.functions.lit_top_cents(v, nrm, cs.flatMap(_._2).toArray,
      cs.map(_._3).toArray, cs.map(_._1).toArray, cs.head._2.length,
      take = take, roundScale = 9)
  }

  /** Mirrorable Lloyd TRAINING core shared by the k-means profile tiers and
    * the oracle-bearing SemDeDup / IVF siblings: `e` must carry (id, v, nrm)
    * with zero-norm rows already excluded; `seedKey` orders the seed sample
    * (identity = smallest-id seeds, [[knuthSeedKey]] = hash-ordered). Every
    * ingredient is cross-engine digit-exact — see [[kMeansProfileSeeded]]
    * for the contract derivation. Returns the trained literal centroids. */
  private[llm] def lloydMirrorableCents(e: DataFrame, k: Int, iters: Int,
                                        seedKey: Column => Column): Centroids = {
    graft.functions.SessionTuning.ensureActiveSession()
    var cents: Centroids = e.orderBy(seedKey(col("id")), col("id")).limit(k)
      .collect().zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](1), r.getDouble(2))
      }
    for (_ <- 0 until iters) {
      val assigned = e.select(col("v"),
        bestMirror(cents)(col("v"), col("nrm")).getItem(0).getField("cid").as("cid"))
      val means = assigned.select(col("cid"), posexplode(col("v")))
        .groupBy("cid", "pos")
        .agg((sum(col("col").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mv"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).map { d =>
          // DuckDB round(x, 6) for DOUBLE: scale, std::round (half away
          // from zero on the scaled BINARY value), unscale
          val y = d * 1e6
          val rr = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
          (rr / 1e6).toFloat
        }.toSeq)
        .toMap
      cents = cents.map { case (cid, old, on) =>
        means.get(cid).map(nv => (cid, nv, foldNorm(nv))).getOrElse((cid, old, on))
      }
    }
    cents
  }

  /** Shared mirrorable two-phase Lloyd + profile core behind BOTH
    * oracle-bearing k-means tiers; `seedKey` orders the seed sample. */
  private def lloydProfileMirrorable(emb: DataFrame, k: Int, iters: Int,
                                     idCol: String, vecCol: String,
                                     seedKey: Column => Column): DataFrame = {
    // spread: every Lloyd round + the final profile re-scan the corpus;
    // results are partitioning-invariant (key-ordered seeds, decimal sums)
    val e = spreadGated(emb, minBytes = 0).select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
      .where(col("nrm") > 0)
    val cents = lloydMirrorableCents(e, k, iters, seedKey)
    val b = bestMirror(cents)(col("v"), col("nrm")).getItem(0)
    e.select(b.getField("cid").as("cid"), b.getField("sim").as("sim"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("sim").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("mean_sim"),
        min(col("sim")).as("min_sim"), max(col("sim")).as("max_sim"))
      .orderBy("cid")
  }

  /** K-means clustering as a first-class operator, profiled per cluster —
    * (cid, n_vectors, mean_sim, min_sim, max_sim), sims rounded at 9 like
    * every cosine here. The corpus-wide "what structure does this embedding
    * space have" view a curation pass reads before setting dedup/sampling
    * policy. Seeds are a [[knuthSeedKey]]-ordered pseudo-random sample —
    * id-distribution-agnostic like [[trainCentroids]]'s xxhash64 ordering,
    * but computable by any engine, which (with the mirrorable Lloyd core it
    * shares with [[kMeansProfileSeeded]]) makes this tier ORACLE-BEARING:
    * DuckDB replays the seed order, both Lloyd rounds and the profile
    * digit-for-digit. ([[trainCentroids]] keeps xxhash64 seeding for the
    * IVF/SemDeDup consumers; their tiers are property-tested instead.)
    *
    * Scale shape: training state is k·dim floats on the driver (literal
    * matrix), assignment is expression-level argmax over the scan (no
    * shuffle), and the profile is one k-row aggregate. Per-dim means and
    * mean sim aggregate through exact decimal sums, so the profile is
    * bit-deterministic under any partitioning — property-tested along with
    * assignment optimality in SimilaritySpec. */
  def kMeansProfile(emb: DataFrame, k: Int = 8, iters: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    lloydProfileMirrorable(emb, k, iters, idCol, vecCol, seedKey = knuthSeedKey)

  /** IVF (inverted-file) approximate nearest neighbors: a coarse quantizer of
    * `nCentroids` centroid vectors partitions the corpus into cells; each
    * vector is assigned to its nearest centroid, and a query scores exact
    * cosine only against the cells of its `nprobe` nearest centroids.
    *
    * Centroids come from [[trainCentroids]] (`trainIters` Lloyd rounds over
    * a deterministic seed sample). They are collected to the driver — C is
    * small by construction — so both the assignment and the query-side probe
    * list are pure expression-level argmax over a literal centroid matrix:
    * map-only, no shuffle, exactly the shape that scales (the only shuffle
    * is the equi-join on cell id). Approximate; recall is property-tested
    * against [[annBruteTopK]]. */
  def ivfAnnTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 5,
                 nCentroids: Int = 16, nprobe: Int = 4, trainIters: Int = 2,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val cents = trainCentroids(emb, nCentroids, trainIters, idCol, vecCol)
    def nearest(v: Column, nrm: Column, take: Int): Column =
      nearestCents(cents)(v, nrm, take)
    // q side from the RAW frame: the tiny id filter must push down to the
    // scan (a spread() exchange in front would force a full-corpus shuffle
    // to read 10 rows)
    val q = e.where(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        explode(transform(nearest(col("v"), col("nrm"), nprobe), s => s.getField("cid"))).as("cid"))
    // candidate side spread: a single-file corpus otherwise arrives as 1-2
    // partitions and the whole per-row assignment scan runs on 1-2 cores
    val cand = spreadGated(e, minBytes = 0).select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn"),
      nearest(col("v"), col("nrm"), 1).getItem(0).getField("cid").as("cid"))
    val scored = broadcast(q).join(cand, Seq("cid")).where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosine9(dot(col("qv"), col("nv")), col("qn"), col("nn")).as("sim"))
      .dropDuplicates("qid", "nid")
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("sim"))
      .orderBy("qid", "rnk")
  }

  /** ORACLE-BEARING IVF: the same coarse-quantize/probe/exact-score shape as
    * [[ivfAnnTopK]] with the mirrorable Lloyd contract in place of the
    * xxhash64-seeded trainer — smallest-id seeds, round-9 argmax for BOTH
    * the cell assignment and the query's nprobe probe list (larger-cid
    * tie-break), decimal-sum/round-6 centroid means, round-9 exact-cosine
    * scoring, (sim desc, nid asc) ranking. Every stage is DuckDB-expressible,
    * so the full index → probe → score → rank pipeline hash-checks — which
    * moves IVF from "recall property-tested" to "digit-exact verified" at
    * oracle scale. [[ivfAnnTopK]] stays the production face (its seeding is
    * id-distribution-agnostic and its cell count corpus-tunable); this tier
    * pins (k-cells, nprobe) so the SQL mirror stays a fixed CTE chain.
    *
    * Scale shape unchanged: probes and assignment are expression-level
    * argmax over a literal matrix (map-only); the only join is the
    * broadcast(query-probe rows) equi-join ON cell id. */
  def ivfAnnTopKSeeded(emb: DataFrame, queryIds: Seq[Long], k: Int = 5,
                       nCells: Int = 8, nprobe: Int = 4, trainIters: Int = 2,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = emb.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
      .where(col("nrm") > 0)
    val cents = lloydMirrorableCents(spreadGated(raw, minBytes = 0), nCells, trainIters, seedKey = identity)
    // q side from the RAW frame: the tiny id filter pushes down to the scan
    val q = raw.where(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        explode(transform(bestMirror(cents)(col("v"), col("nrm"), take = nprobe),
          s => s.getField("cid"))).as("cid"))
    // candidate side spread: the per-row assignment scan needs all cores
    val cand = spreadGated(raw, minBytes = 0).select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn"),
      bestMirror(cents)(col("v"), col("nrm")).getItem(0).getField("cid").as("cid"))
    // no dropDuplicates needed: each candidate lives in exactly ONE cell and
    // the probe list holds distinct cells, so a (qid, nid) pair is unique
    val scored = broadcast(q).join(cand, Seq("cid")).where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosine9(dot(col("qv"), col("nv")), col("qn"), col("nn")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("sim"))
      .orderBy("qid", "rnk")
  }

  /** Driver-side Lloyd over a SAMPLE of sub-vectors — the PQ codebook
    * trainer. Deterministic: seeds are the first `nCodes` sample rows (the
    * caller passes them in xxhash64-of-id order), assignment scans codes in
    * index order (first-minimum wins ties), arithmetic is a fixed-order
    * double fold. Emptied codes keep their previous centroid. All state is
    * sample-sized — the standard PQ/faiss posture of training on a slice. */
  private def lloydSub(samples: Array[Array[Double]], nCodes: Int,
                       iters: Int): Array[Array[Double]] = {
    require(samples.nonEmpty, "PQ training sample is empty")
    val k = math.min(nCodes, samples.length)
    val d = samples.head.length
    var cents = samples.take(k).map(_.clone)
    def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Long](k)
      samples.foreach { x =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) { val dd = l2sq(x, cents(c)); if (dd < bd) { bd = dd; best = c }; c += 1 }
        cnts(best) += 1
        var i = 0; while (i < d) { sums(best)(i) += x(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (cnts(c) == 0L) old
        else { val m = new Array[Double](d)
          var i = 0; while (i < d) { m(i) = sums(c)(i) / cnts(c); i += 1 }; m }
      }
    }
    cents
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid 2011 "Product
    * Quantization for Nearest Neighbor Search"): split each L2-NORMALIZED
    * vector into `nSub` sub-vectors, vector-quantize each subspace against
    * its own `nCodes`-entry codebook, and rank candidates by the
    * asymmetric-distance (ADC) inner product — the query stays exact, every
    * candidate is represented ONLY by its `nSub` codes. Normalize-then-L2
    * training makes the ADC inner product an estimator of cosine on the
    * original vectors (the standard cosine-PQ reduction).
    *
    * THE 100 TB residency lever: a 64-dim float vector is 256 B; its PQ
    * code is nSub·log2(nCodes) bits — 4·4 = 16 BITS at the defaults, a
    * 128× compression — so a 100 TB embedding corpus quantizes to an index
    * that fits executor memory, which neither IVF cells nor LSH tables
    * change (both still touch raw vectors to score). Candidate scoring
    * never reads a raw vector: per query the driver precomputes the
    * nSub × nCodes table of sub-dot-products (k·dim-scale state, as
    * [[trainCentroids]]), ships it as a broadcast literal row, and the
    * scan-side score is `nSub` array LOOKUPS + a sum per candidate —
    * whole-stage-codegen, no per-pair dot.
    *
    * Offline phase: codebooks train driver-side ([[lloydSub]]) on a
    * deterministic xxhash64-ordered `trainN`-vector sample (ONE TakeOrdered
    * job); encoding is a map-only expression argmin over the literal
    * codebooks. Approximate by construction (quantization error): no
    * oracle; recall vs [[annBruteTopK]] is CI-asserted on planted
    * neighbors in SimilaritySpec/BenchScaleRecallSpec. */
  def pqAnnTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 5,
                nSub: Int = 4, nCodes: Int = 16, trainIters: Int = 5,
                trainN: Int = 2048, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqCore(emb, queryIds, k, nSub, nCodes, trainIters, trainN, dim,
      idCol, vecCol, sampleKey = c => xxhash64(c))

  /** ORACLE-BEARING PQ: [[pqAnnTopK]] with smallest-id sample ordering in
    * place of the xxhash64 order (which DuckDB cannot replay) — the same
    * seeded-face pattern as [[ivfAnnTopKSeeded]]/[[semDedupSeeded]]. With
    * that one substitution every stage mirrors digit-exact in SQL: the
    * per-subspace Lloyd accumulates its code means in SAMPLE ORDER (= id
    * order here), which DuckDB replays as an ordered-list left fold; the
    * encode argmin is PqEncode's exact arithmetic (ascending-index double
    * fold, halves − s/‖v‖, strict-less first-min ties); ADC tables and the
    * nSub-term score are fixed-order folds. The production face keeps
    * xxhash64 seeding (id-distribution-agnostic); this tier pins the whole
    * train → encode → ADC → rank pipeline to a DuckDB hash check. */
  def pqAnnTopKSeeded(emb: DataFrame, queryIds: Seq[Long], k: Int = 5,
                      nSub: Int = 4, nCodes: Int = 16, trainIters: Int = 2,
                      trainN: Int = 256, dim: Int = 64,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqCore(emb, queryIds, k, nSub, nCodes, trainIters, trainN, dim,
      idCol, vecCol, sampleKey = identity)

  private def pqCore(emb: DataFrame, queryIds: Seq[Long], k: Int,
                     nSub: Int, nCodes: Int, trainIters: Int,
                     trainN: Int, dim: Int,
                     idCol: String, vecCol: String,
                     sampleKey: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim % nSub == 0, s"dim $dim must divide into nSub $nSub subspaces")
    val subDim = dim / nSub
    // NO materialized normalization: dot(v/|v|, c) ≡ dot(v, c)/|v|, so the
    // scan encodes raw vectors with the codegen'd FloatDot and one divide.
    // (The first cut normalized via a `transform` HOF — higher-order
    // lambdas are interpreted, fall out of whole-stage codegen, and
    // CollapseProject re-inlined the transform into all 64 codeword dots:
    // measured 346 s at sf10 for what is a single-scan encode. Same family
    // as the SCALE.md §1 rp_reduce HOF lesson.) Norm-0 vectors cannot rank
    // under cosine — drop them here.
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
      .where(col("nrm") > 0)
    // --- offline: train per-subspace codebooks on a deterministic sample
    // (normalized on the DRIVER — sample-sized, full double precision)
    val sample: Array[Array[Double]] = e
      .orderBy(sampleKey(col("id")), col("id")).limit(trainN)
      .select("v", "nrm").collect()
      .map { r =>
        val n = r.getDouble(1)
        r.getSeq[Float](0).map(_.toDouble / n).toArray
      }
    val codebooks: IndexedSeq[IndexedSeq[Seq[Float]]] =          // [m][code][subDim]
      (0 until nSub).map { m =>
        lloydSub(sample.map(_.slice(m * subDim, (m + 1) * subDim)),
          nCodes, trainIters).toIndexedSeq.map(_.map(_.toFloat).toSeq)
      }
    // --- encode: map-only argmin_c |sub_m/|v| - cb[m][c]|² over literal
    // codebooks via the codegen'd PqEncode loop (argmin(|u-c|²) =
    // argmin(|c|²/2 - u·c), first-min ties — one nSub×nCodes×subDim loop
    // per row; the struct-array formulation measured ~100× the flops)
    val cbFlat = (0 until nSub).flatMap(m => codebooks(m).flatten).toArray
    val halves = (0 until nSub).flatMap(m => codebooks(m).map(cv =>
      cv.foldLeft(0.0)((a, f) => a + f.toDouble * f.toDouble) / 2.0)).toArray
    val codesArr = graft.functions.functions.pq_encode(
      col("v"), col("nrm"), cbFlat, halves, nSub, nCodes, subDim)
    // spread: the encode scan visits every corpus row; a single-file input
    // would run it on 1-2 cores (q-side lookups below stay on the raw
    // frame so their id filters push down to the scan)
    val codes = spreadGated(e, minBytes = 0).withColumn("__codes", codesArr)
      .select(col("id") +:
        (0 until nSub).map(m => element_at(col("__codes"), m + 1).as(s"code_$m")): _*)
    // --- query: per-query ADC tables as a broadcast literal frame
    val spark = emb.sparkSession
    val qvecs = e.where(col("id").isInCollection(queryIds))
      .select("v", "nrm", "id").collect()
      .map { r =>
        val n = r.getDouble(1)
        r.getLong(2) -> r.getSeq[Float](0).map(_.toDouble / n).toArray
      }.toMap
    import scala.jdk.CollectionConverters._
    val qRows = queryIds.filter(qvecs.contains).map { qid =>
      val q = qvecs(qid)
      val tables = (0 until nSub).map { m =>
        codebooks(m).map { cv =>
          var s = 0.0; var i = 0
          while (i < subDim) { s += q(m * subDim + i) * cv(i).toDouble; i += 1 }
          s
        }.toSeq
      }
      org.apache.spark.sql.Row.fromSeq(qid +: tables)
    }
    val qSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType) +:
        (0 until nSub).map(m => org.apache.spark.sql.types.StructField(s"t_$m",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    val qTab = spark.createDataFrame(qRows.asJava, qSchema)
    // --- scan-side ADC score: nSub lookups + sum; top-k per query
    val score = (0 until nSub)
      .map(m => element_at(col(s"t_$m"), col(s"code_$m") + 1))
      .reduce(_ + _)
    val scored = codes.crossJoin(broadcast(qTab))
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"), round(score, 9).as("adc_sim"))
    val w = Window.partitionBy("qid").orderBy(col("adc_sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("adc_sim"))
      .orderBy("qid", "rnk")
  }

  /** IVF-PQ — the canonical production ANN index (Jégou et al. 2011 §V;
    * the faiss `IVFx,PQy` architecture), composed from the engine's two
    * existing tiers: the IVF coarse quantizer ([[trainCentroids]]) prunes
    * WHICH vectors a query scores (nprobe/nCells of the corpus), and PQ
    * codes decide WHAT is scored (nSub·log2(nCodes)-bit codes + ADC
    * lookup tables instead of raw vectors) — the compute lever and the
    * memory lever together: at 100 TB the probed slice of a 128×-compressed
    * code index is all a query ever touches.
    *
    * Residual coding (`byResidual = true`, the faiss default and this
    * tier's default since r11): codes quantize `u - cent[cid]` — the
    * normalized vector's offset from its coarse centroid — with ONE shared
    * codebook trained on sample residuals, exactly faiss's shared-codebook
    * composition (per-cell codebooks are the paper's other variant; nCells×
    * the training for marginal gain at this code budget). Residuals are
    * centered near zero with most coarse structure already explained, so
    * the same nSub·log2(nCodes) bits quantize a tighter distribution —
    * recall at equal code budget is asserted >= the direct tier's in
    * SimilaritySpec/BenchScaleRecallSpec. The centroid never materializes
    * per row on either side: encode folds `cent·cb` into a literal table
    * ([[graft.functions.PqEncodeResidual]]), and ADC scoring adds the
    * per-(query, cell) scalar `q·cent` to the table-lookup sum —
    * `q·x̂ = q·cent + Σ_m q_m·cb[m][code_m]`. `byResidual = false` keeps
    * the r10 direct coding for comparison runs.
    *
    * Scale shape: everything offline is driver-side or map-only (coarse
    * assignment argmax + PQ encode in one scan); the query side ships a
    * Q-row broadcast of (probe-cells, ADC tables) and the scan-side work
    * is an `array_contains` cell filter + nSub lookups per surviving
    * code row. No oracle (sample-trained codebooks); recall + determinism
    * property-tested like [[pqAnnTopK]]. */
  def ivfPqAnnTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 5,
                   nCells: Int = 16, nprobe: Int = 4,
                   nSub: Int = 4, nCodes: Int = 16, trainIters: Int = 5,
                   coarseIters: Int = 2, trainN: Int = 2048, dim: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   byResidual: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim % nSub == 0, s"dim $dim must divide into nSub $nSub subspaces")
    require(nprobe >= 1 && nprobe <= nCells, s"nprobe $nprobe out of range")
    val subDim = dim / nSub
    val coarse = trainCentroids(emb, nCells, coarseIters, idCol, vecCol)
    // centroid vectors indexed by cid (trainCentroids numbers them 0..C-1)
    val centByCid: Array[Array[Double]] = {
      val m = coarse.map(c => c._1 -> c._2.map(_.toDouble).toArray).toMap
      (0 until nCells).map(m).toArray
    }
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
      .where(col("nrm") > 0)
    val sample: Array[Array[Double]] = e
      .orderBy(xxhash64(col("id")), col("id")).limit(trainN)
      .select("v", "nrm").collect()
      .map { r =>
        val n = r.getDouble(1)
        r.getSeq[Float](0).map(_.toDouble / n).toArray
      }
    // residual tier: train the (shared) codebooks on sample residuals —
    // each sample minus its nearest coarse centroid, the same cosine
    // argmax the scan side applies (sim desc, cid desc ties)
    val trainVecs: Array[Array[Double]] =
      if (!byResidual) sample
      else sample.map { u =>
        val cid = coarse.map { case (ci, cv, cn) =>
          (cv.indices.foldLeft(0.0)((a, i) => a + u(i) * cv(i).toDouble) / cn, ci)
        }.maxBy { case (s, ci) => (s, ci) }._2
        u.indices.map(i => u(i) - centByCid(cid)(i)).toArray
      }
    val codebooks: IndexedSeq[IndexedSeq[Seq[Float]]] =
      (0 until nSub).map { m =>
        lloydSub(trainVecs.map(_.slice(m * subDim, (m + 1) * subDim)),
          nCodes, trainIters).toIndexedSeq.map(_.map(_.toFloat).toSeq)
      }
    val cbFlat = (0 until nSub).flatMap(m => codebooks(m).flatten).toArray
    val halves = (0 until nSub).flatMap(m => codebooks(m).map(cv =>
      cv.foldLeft(0.0)((a, f) => a + f.toDouble * f.toDouble) / 2.0)).toArray
    // residual encode needs cent·codeword per (cell, subspace, codeword) —
    // a nCells·nSub·nCodes literal table, so the per-row loop pays one
    // lookup instead of a d-dim centroid subtraction
    val centDot: Array[Double] =
      if (!byResidual) Array.empty
      else (0 until nCells).flatMap { ci =>
        (0 until nSub).flatMap { m =>
          codebooks(m).map { cv =>
            var s = 0.0; var i = 0
            while (i < subDim) { s += centByCid(ci)(m * subDim + i) * cv(i).toDouble; i += 1 }
            s
          }
        }
      }.toArray
    // ONE scan builds the resident index: coarse cell + PQ codes per vector
    // (both via codegen'd loops — PqEncode[Residual] + the LitTopCents
    // argmax); spread so a single-file corpus doesn't pin the scan to 1-2
    // cores
    val cidCol = nearestCents(coarse)(col("v"), col("nrm"), 1)
      .getItem(0).getField("cid")
    val codesCol =
      if (byResidual) graft.functions.functions.pq_encode_residual(
        col("v"), col("nrm"), cidCol, cbFlat, halves, centDot,
        nCells, nSub, nCodes, subDim)
      else graft.functions.functions.pq_encode(
        col("v"), col("nrm"), cbFlat, halves, nSub, nCodes, subDim)
    val index = spreadGated(e, minBytes = 0).withColumn("__codes", codesCol)
      .select(
        col("id") +:
          cidCol.as("cid") +:
          (0 until nSub).map(m => element_at(col("__codes"), m + 1).as(s"code_$m")): _*)
    // query side: probe cells + ADC tables, all from driver literals
    val qvecs = e.where(col("id").isInCollection(queryIds))
      .select("v", "nrm", "id").collect()
      .map { r =>
        val n = r.getDouble(1)
        r.getLong(2) -> r.getSeq[Float](0).map(_.toDouble / n).toArray
      }.toMap
    import scala.jdk.CollectionConverters._
    val qRows = queryIds.filter(qvecs.contains).map { qid =>
      val q = qvecs(qid)
      // nprobe nearest coarse centroids by cosine, computed driver-side
      val probes = coarse.map { case (cid, cv, cn) =>
        val d = cv.indices.foldLeft(0.0)((a, i) => a + q(i) * cv(i).toDouble)
        (d / cn, cid)
      }.sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2)
      // residual ADC's per-cell scalar: q·cent (raw centroid — the residual
      // decomposition is u = cent + r, so q·x̂ = q·cent + q·r̂)
      val qc = (0 until nCells).map { ci =>
        centByCid(ci).indices.foldLeft(0.0)((a, i) => a + q(i) * centByCid(ci)(i))
      }
      val tables = (0 until nSub).map { m =>
        codebooks(m).map { cv =>
          var s = 0.0; var i = 0
          while (i < subDim) { s += q(m * subDim + i) * cv(i).toDouble; i += 1 }
          s
        }.toSeq
      }
      org.apache.spark.sql.Row.fromSeq(qid +: probes.toSeq +: qc +: tables)
    }
    val spark = emb.sparkSession
    import org.apache.spark.sql.types._
    val qSchema = StructType(
      StructField("qid", LongType) +: StructField("probes", ArrayType(IntegerType)) +:
        StructField("qc", ArrayType(DoubleType)) +:
        (0 until nSub).map(m => StructField(s"t_$m", ArrayType(DoubleType))))
    val qTab = spark.createDataFrame(qRows.asJava, qSchema)
    val adc = (0 until nSub)
      .map(m => element_at(col(s"t_$m"), col(s"code_$m") + 1))
      .reduce(_ + _)
    val score =
      if (byResidual) element_at(col("qc"), col("cid") + 1) + adc
      else adc
    val scored = index.crossJoin(broadcast(qTab))
      .where(array_contains(col("probes"), col("cid")) && col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"), round(score, 9).as("adc_sim"))
    val w = Window.partitionBy("qid").orderBy(col("adc_sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("adc_sim"))
      .orderBy("qid", "rnk")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    * embedding space with the [[trainCentroids]] k-means-lite quantizer, then
    * drop near-identical vectors WITHIN each cluster — every pair with
    * cosine ≥ `threshold` drops the larger id (greedy pair-drop, the
    * [[graft.llm.Dedup.cleanCorpus]] keep-one bias, documented there).
    * Returns every vector with its cluster id and survival verdict.
    *
    * Scale shape: assignment is a map-only argmax over the literal centroid
    * matrix (no shuffle); the pair join is an equi-join ON cid, so pair work
    * is Σ_cell |cell|² instead of n² — the whole point of clustering first
    * (for finer pruning raise `nCentroids`; cells are independently
    * parallel). The drop set is a slim distinct-id frame, applied as a
    * broadcast-friendly left join. Cluster-boundary misses (a true near-dup
    * pair split across cells) are the documented recall trade-off, as in the
    * SemDeDup paper; no oracle (centroid-dependent) — property-tested
    * against [[embCosineNearDup]] restricted to same-cell pairs.
    *
    * `nCentroids <= 0` (the default) sizes the cell count to the corpus:
    * C = max(16, ⌈√(n/2)⌉), the balance point of the two costs a flat
    * quantizer pays — assignment is C·d flops per row (C·d·n total) and
    * the within-cell pair join is ~n²/(2C) pair-dots, equal exactly at
    * C = √(n/2). A FIXED C is a latent quadratic: the sf10 sweep measured
    * 731 s at C=16 on 100× data (Σ|cell|² with 50k-row cells); auto-C
    * keeps total work at O(n^1.5·d) — the flat-clustering optimum
    * (sub-linear wall under fixed parallelism until the n^1.5 term
    * dominates; past that the hierarchy in [[ivfPqAnnTopK]] — coarse
    * cells over PQ codes — is the documented next tier, as in the
    * SemDeDup paper's own large-k GPU posture). One count() job prices
    * the auto tier; pass an explicit C to skip it.
    *
    * Hot-cell sub-blocking (`subBlockCap` > 0; r14, measured and
    * DECLINED as the local default — the r12 probe-row-width pattern):
    * cells past the cap split into g = ⌈m/cap⌉ hash blocks — the probe
    * side keeps its own block, the build side replicates to ALL g
    * blocks, so every ordered pair meets exactly once (in the probe
    * row's block): the SAME pair semantics (equality property-tested)
    * with the hot cell's pair space in g parallel tasks. When it
    * matters: at CLUSTER partition counts (shuffle partitions ≳ cells,
    * the 1000-executor shape) one cell's whole pair space is one task,
    * so the sf100 max cell (16,405 rows, 8× the mean) is ~2.7e8
    * pair-dots of tail latency — set subBlockCap ≈ 2-4× the mean cell
    * there. Why NOT here: at local[32]'s 32 shuffle partitions a task
    * already averages ~31 cells, so the hot cell only ~2×'s one
    * partition while blocking pays its build-side replication
    * everywhere — measured at sf100 (SCALE §17): unblocked min 241.2 s
    * / 705 MB shuffle vs cap=4096 min 267.7 s / 1.55 GB and cap=8192
    * min 291.2 s / 1.35 GB. Default 0 = off: the exact pre-r14 plan. */
  def semDedup(emb: DataFrame, threshold: Double = 0.95, nCentroids: Int = 0,
               trainIters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding",
               subBlockCap: Int = 0): DataFrame = {
    val c = if (nCentroids > 0) nCentroids
            else math.max(16, math.ceil(math.sqrt(emb.count() / 2.0)).toInt)
    val cents = trainCentroids(emb, c, trainIters, idCol, vecCol)
    semDedupWithCents(emb, cents, threshold, idCol, vecCol, subBlockCap)
  }

  /** [[semDedup]]'s assignment + pair-drop with an EXTERNALLY supplied
    * frozen centroid matrix (no training) — the building block the
    * incremental face ([[semDedupAgainstState]]) and registry-refresh
    * pipelines share with the self-training tier: train the centroids once
    * ([[trainCentroids]]), then clean any corpus slice against the SAME
    * cell geometry. Plan identical to the post-training portion of
    * [[semDedup]]. */
  def semDedupWithCents(emb: DataFrame, cents: Centroids, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        subBlockCap: Int = 0): DataFrame = {
    require(subBlockCap >= 0, "subBlockCap must be >= 0 (0 = off)")
    // spread: the C·d-per-row assignment scan must not run on the 1-2
    // partitions a single-file corpus arrives as
    val e = spreadGated(emb, minBytes = 0).select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val assigned = e.select(col("id"), col("v"), col("nrm"),
      nearestCents(cents)(col("v"), col("nrm"), 1).getItem(0).getField("cid").as("cid"))
    val sim = cosine9(dot(col("va"), col("vb")), col("na"), col("nb"))
    val pairs = if (subBlockCap == 0) {
      val a = assigned.toDF("id_a", "va", "na", "cid")
      val b = assigned.toDF("id_b", "vb", "nb", "cid")
      a.join(b, Seq("cid"))
    } else {
      // per-cell block counts: C rows, broadcast onto both pair sides
      val blocks = assigned.groupBy("cid")
        .agg(greatest(lit(1), ceil(count(lit(1)).cast("double") / lit(subBlockCap)))
          .cast("int").as("g"))
      val sized = assigned.join(broadcast(blocks), Seq("cid"))
      val a = sized.select(col("cid"),
        pmod(xxhash64(col("id")), col("g").cast("long")).cast("int").as("blk"),
        col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      val b = sized.select(col("cid"),
        explode(sequence(lit(0), col("g") - 1)).as("blk"),
        col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("cid", "blk"))
    }
    val dropped = pairs
      .where(col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("dropped", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
      .orderBy(idCol)
  }

  /** Batch-incremental SemDeDup (r14 verdict #3) — clean a new embedding
    * batch against FROZEN semantic-dedup state, completing the incremental
    * family across all four dedup tiers (exact/span/substring hashes,
    * MinHash-LSH buckets, and now semantic cells):
    *
    *   - state = the frozen centroid matrix (trained once, k rows) + the
    *     prior corpus's cell assignments —
    *     exactly [[semDedup]]'s own output frame (id, cid), so yesterday's
    *     clean IS today's registry;
    *   - batch vectors assign to the frozen cells with the same map-only
    *     literal-centroid argmax (NO retraining — cell geometry stays
    *     comparable across batches until a scheduled refresh);
    *   - pair-drop: batch vs ALL prior vectors in the same cell (prior
    *     embeddings fetched by semi-join on the registry ids — the greedy
    *     pair semantics where even a dropped prior vector still kills its
    *     near-dups, which is what makes frozen-cell parity exact) plus
    *     within-batch pairs (smaller id wins).
    *
    * With batch ids above prior ids, the output equals
    * [[semDedupWithCents]] over the union corpus restricted to the batch —
    * frozen-cell parity, property-tested in SimilaritySpec. Unlike the
    * hash registries, the prior side costs a per-batch rescan of prior
    * embeddings (semantic state cannot compress to 8-byte keys); the
    * assignment itself and the slim drop-set application stay map-only.
    * Refresh policy notes live in SCALE.md §18. */
  def semDedupAgainstState(newEmb: DataFrame, cents: Centroids,
                           priorAssigned: DataFrame, priorEmb: DataFrame,
                           threshold: Double = 0.95,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val e = spreadGated(newEmb, minBytes = 0)
      .select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val assigned = e.select(col("id"), col("v"), col("nrm"),
      nearestCents(cents)(col("v"), col("nrm"), 1).getItem(0).getField("cid").as("cid"))
    // prior side: registry supplies (id, cid); vectors come from the
    // embedding store — cells were frozen when the registry was written,
    // so no reassignment happens here
    val prior = priorEmb
      .select(col(idCol).as("id_a"), col(vecCol).as("va"), norm(col(vecCol)).as("na"))
      .join(priorAssigned.select(col(idCol).as("id_a"), col("cid")), Seq("id_a"))
    val sim = cosine9(dot(col("va"), col("vb")), col("na"), col("nb"))
    val b = assigned.toDF("id_b", "vb", "nb", "cid")
    val crossDropped = prior.join(b, Seq("cid"))
      .where(sim >= threshold)
      .select(col("id_b").as("id"))
    val a = assigned.toDF("id_a", "va", "na", "cid")
    val withinDropped = a.join(b, Seq("cid"))
      .where(col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_b").as("id"))
    val dropped = crossDropped.unionByName(withinDropped).distinct()
      .withColumn("dropped", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
      .orderBy(idCol)
  }

  /** ORACLE-BEARING SemDeDup: the same cluster-then-pair-drop shape as
    * [[semDedup]] with every approximation-bearing ingredient swapped for
    * the mirrorable Lloyd contract ([[kMeansProfileSeeded]]'s derivation) —
    * smallest-id seeds, rounded-argmax cell assignment (round-9 sims,
    * larger-cid tie-break), decimal-sum/round-6 centroid means — so DuckDB
    * replays the k-means cells AND the within-cell cosine pair-drop
    * digit-for-digit and the whole operator hash-checks end to end. Zero-norm
    * vectors are excluded up front (cosine undefined) on both engines.
    *
    * Scale shape identical to the production tier: map-only literal-centroid
    * assignment, pair equi-join ON cid (Σ_cell |cell|² work), slim distinct
    * drop-set applied as a left join. The FIXED k here is the price of the
    * mirror (a DuckDB CTE chain is unrolled per round, so corpus-adaptive
    * C = √(n/2) can't be replayed); [[semDedup]]'s auto-C stays the
    * production face, this tier is the correctness verifier. */
  def semDedupSeeded(emb: DataFrame, threshold: Double = 0.95, k: Int = 8,
                     iters: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // spread: Lloyd rounds + the assignment scan must not run on the 1-2
    // partitions a single-file corpus arrives as
    val e = spreadGated(emb, minBytes = 0).select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .where(col("nrm") > 0)
    val cents = lloydMirrorableCents(e, k, iters, seedKey = identity)
    val assigned = e.select(col("id"), col("v"), col("nrm"),
      bestMirror(cents)(col("v"), col("nrm")).getItem(0).getField("cid").as("cid"))
    val a = assigned.toDF("id_a", "va", "na", "cid")
    val b = assigned.toDF("id_b", "vb", "nb", "cid")
    // round-9 sims (cosine9) — the exact value the oracle's pair filter
    // recomputes; threshold inside the join condition as in embCosineNearDup
    val sim = cosine9(dot(col("va"), col("vb")), col("na"), col("nb"))
    val dropped = a.join(b, Seq("cid"))
      .where(col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("dropped", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
      .orderBy(idCol)
  }

  /** Symmetric per-vector int8 quantization — the storage/serving tier of an
    * embedding pipeline (4× smaller than float32, dot products stay within
    * ~1% for unit-norm vectors): `scale = max|x_i| / 127`,
    * `q_i = round(x_i / scale)` ∈ [-127, 127]. Map-only Column tree (one
    * array fold for the max, one transform for the quantized array), no
    * shuffle, no UDF; all-zero vectors yield scale 0 and a null qvec.
    * Deterministic: float→double widening is exact and both divisions are
    * single IEEE ops, so the operator is oracle-checkable bit-for-bit. */
  def quantizeInt8(emb: DataFrame,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val maxAbs = array_max(transform(v, x => abs(x.cast("double"))))
    val scale = maxAbs / lit(127.0)
    val qvec = transform(v, x => round(x.cast("double") / col("scale"), 0).cast("int"))
    emb.select(col(idCol), v, scale.as("scale"))
      .select(col(idCol), col("scale"),
        when(col("scale") > 0, qvec).as("qvec"))
      .orderBy(idCol)
  }

  /** Deterministic pseudo-random hyperplanes: `nBits` × `dim` matrix with
    * entries in {-1, +1} derived from a seeded generator. Sign-bit buckets
    * from ±1 planes are the classic SRP-LSH (Charikar '02). Weights are
    * float: ±1 is exact in binary32, so [[FloatDot]] projections are
    * bit-identical to the double-HOF formulation. */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }

  /** Bucket id: sign bits of `nBits` random-hyperplane projections, each a
    * codegen'd [[graft.functions.FloatDot]] loop (an `aggregate(zip_with)`
    * HOF here would run interpreted with a per-row array allocation). */
  def srpBucket(vec: Column, nBits: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(nBits, dim, seed)
    planes.zipWithIndex.map { case (p, j) =>
      when(dot(vec, typedLit(p)) >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
  }

  /** One row per vector per hash table over a `(id, v, nrm)` frame:
    * `nTables` independent SRP hyperplane sets with table-derived seeds
    * (`seed + ti·1000003`), keyed `(tbl, bkt)` so tables never
    * cross-pollinate candidates. Both LSH tiers ([[knnGraphLSH]],
    * [[lshAnnTopK]]) build candidates from this one frame, so the seed
    * derivation and bucket-key shape cannot drift between them. */
  private[graft] def bucketedTables(base: DataFrame, nBits: Int, dim: Int,
                             seed: Long, nTables: Int): DataFrame = {
    val tables = explode(array((0 until nTables).map(ti => struct(lit(ti).as("tbl"),
      srpBucket(col("v"), nBits, dim, seed + ti * 1000003L).as("bkt"))): _*))
    base.select(col("id"), col("v"), col("nrm"), tables.as("tb"))
      .select(col("id"), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
  }

  /** Multiprobe expansion of a `bkt` column: the bucket itself plus every
    * `<= depth`-bit flip — the standard recall-recovery probe set for SRP
    * buckets (Lv et al. 2007's perturbation idea specialized to sign bits:
    * near-misses differ in few hyperplane signs, so probing low-Hamming
    * neighbors recovers them without another table). Probe masks are
    * distinct, so the probe keys are DISTINCT buckets — the structural
    * pair-uniqueness proof the elided-dedupe paths rest on holds at any
    * depth. Probe counts: depth 1 -> nBits+1, depth 2 -> that +
    * nBits·(nBits-1)/2; candidate volume stays O(n·probes), so depth 2
    * trades ~4x probe rows (at nBits=8) for recall WITHOUT a second table
    * — the second table costs the same probe growth AND a k-bounded merge
    * stage. */
  private[graft] def multiprobe(nBits: Int, depth: Int = 1): Column = {
    require(depth >= 1 && depth <= 2, s"probeDepth $depth must be 1 or 2")
    val flips1 = (0 until nBits).map(j => 1L << j)
    val flips2 = if (depth < 2) Seq.empty[Long] else
      (0 until nBits).flatMap(i => (i + 1 until nBits).map(j => (1L << i) | (1L << j)))
    explode(array(
      col("bkt") +: (flips1 ++ flips2).map(m => col("bkt").bitwiseXOR(lit(m))): _*))
  }

  /** Approximate per-query top-k: candidates restricted to the query's SRP
    * bucket (plus all 1-bit-flip neighbor buckets — multiprobe — to recover
    * recall), then exact cosine within candidates.
    *
    * Scale shape: bucketing is map-only; the candidate join shuffles on
    * bucket id, so total work is Σ_bucket |Q_b|·|C_b| instead of |Q|·|C|. */
  def lshAnnTopK(emb: DataFrame, queryIds: Seq[Long], k: Int = 5, nBits: Int = 8,
                 dim: Int = 64, seed: Long = 42L,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 nTables: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // No spread() (see annBruteTopK): bucketed candidate work is far below n².
    // nTables independent hyperplane sets (see knnGraphLSH) — recall
    // compounds per table, candidates grow linearly.
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val e = bucketedTables(base, nBits, dim, seed, nTables)
    val q = e.where(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("tbl"), multiprobe(nBits).as("bkt"))
    val cand = e.toDF("nid", "nv", "nn", "tbl", "bkt")
    val scored = broadcast(q).join(cand, Seq("tbl", "bkt")).where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        cosine9(dot(col("qv"), col("nv")), col("qn"), col("nn")).as("sim"))
      .dropDuplicates("qid", "nid")
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("sim"))
      .orderBy("qid", "rnk")
  }

  /** Hybrid retrieval: reciprocal-rank fusion (RRF, `1/(rrfK + rank)`) of
    * the lexical tier ([[TextAnalysis.bm25]] top-`poolK`) and the vector
    * tier ([[annBruteTopK]] top-`poolK` for `queryVecId`). Docs surfacing
    * in both pools sum both reciprocal ranks — the standard
    * score-calibration-free fusion. Each pool is already top-`poolK`
    * (tiny), so the fusion join is driver-sized regardless of corpus
    * scale; at 100 TB swap the brute vector pool for [[lshAnnTopK]] /
    * [[ivfAnnTopK]] with identical fusion semantics. */
  def hybridTopK(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
                 queryVecId: Long, k: Int = 10, poolK: Int = 20, rrfK: Int = 60,
                 docIdCol: String = "doc_id", vecIdCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // constant partition: rank 20 rows without the no-partition warning
    val w = Window.partitionBy(lit(0)).orderBy(col("score").desc, col("doc_id"))
    val lex = TextAnalysis.bm25(docs, queryTerms, topK = poolK, idCol = docIdCol)
      .withColumn("r_lex", row_number().over(w))
      .select(col("doc_id"), col("r_lex"))
    val vec = annBruteTopK(emb, Seq(queryVecId), poolK, idCol = vecIdCol)
      .select(col("nid").as("doc_id"), col("rnk").as("r_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_vec")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(k)
  }

  /** Per-group centroid in long format (group, dim_idx, n_vecs, centroid):
    * the embedding-space profile per label/cluster/source — the input to
    * drift checks, class-prototype classifiers, and cluster QA. Per-dim
    * means as exact decimal sums (float→double is exact, the sum is
    * order-independent), so the result is bit-reproducible.
    *
    * Scale: posexplode inflates rows dim× map-side only — after the
    * partial aggregate the shuffle carries (group, dim, decimal-sum,
    * count), i.e. ~dim rows per group per partition, independent of vector
    * count. */
  def groupCentroids(emb: DataFrame, groupCol: String,
                     embCol: String = "embedding"): DataFrame =
    emb.select(col(groupCol), posexplode(col(embCol)).as(Seq("dim_idx", "x")))
      .groupBy(col(groupCol), col("dim_idx"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("x").cast("double").cast("decimal(28,8)")).cast("double")
          / count(lit(1))).as("centroid"))
      .orderBy(groupCol, "dim_idx")

  /** Dominant principal component of the (centered) embedding cloud via
    * power iteration — the anisotropy/drift-direction audit: a corpus whose
    * embeddings collapse toward one direction (the "anisotropy problem")
    * degrades cosine retrieval, and the dominant PC is both the diagnostic
    * and the standard correction (project it out).
    *
    * Shape mirrors [[ivfAnnTopK]]'s k-means-lite: per iteration, the
    * matvec u = Σᵢ xᵢ·(xᵢ·v) runs as one scan (a 64-term codegen'd dot
    * against the literal v, then per-dim DECIMAL(28,8)-exact sums — a
    * dim-rows shuffle), and only the dim-sized u vector reaches the driver
    * for normalization. Exact decimal sums make every iterate
    * bit-deterministic under any partitioning; the returned loading sign is
    * pinned (largest-|loading| dim positive). Eigenvalue estimate is the
    * Rayleigh quotient ‖u‖/n at the last iterate. */
  def topPrincipalComponent(emb: DataFrame, iters: Int = 5, dim: Int = 64,
                            vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1 && dim >= 1)
    val x = emb.select(col(vecCol).as("v")).where(size(col("v")) === dim)
    // center once: exact per-dim means. r16 (guide §1.2 step 2, r15
    // watchlist): the dim direct decimal sums now ride ONE imperative
    // aggregate buffer ([[graft.functions.DecSumVecAgg]]) instead of dim
    // independent `sum(cast(...))` columns — term-identical by construction
    // (same canonical double→decimal(28,8) conversion, exact order-free
    // decimal addition, same null semantics; see the aggregate's doc), so
    // every digit matches the previous formulation, but each pass plans ONE
    // aggregate expression and — because mean/iterate vectors are reference
    // objects, not 64 changing literals — the generated code is identical
    // across iterations, so the codegen cache hits instead of recompiling.
    // The row count rides the same job as before.
    val mr = x.agg(
      graft.functions.DecSumVecAgg.dec_sum_vec(col("v"), dim, null, null).as("s"),
      count(lit(1)).as("cnt")).head()
    val n = mr.getLong(1)
    val sums = mr.getSeq[Any](0)
    val mean = Array.tabulate(dim)(j => sums(j).asInstanceOf[Double] / n)
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    for (_ <- 0 until iters) {
      // matvec u_j = Σ (x_j − m_j)·s with s = (x − m)·v folded inside the
      // same one-buffer aggregate — 1 job, 1 planned aggregate per iteration
      val ur = x.agg(
        graft.functions.DecSumVecAgg.dec_sum_vec(col("v"), dim, mean, v).as("u")).head()
      val us = ur.getSeq[Any](0)
      val u = Array.tabulate(dim)(j => us(j).asInstanceOf[Double])
      val nrm = math.sqrt(u.map(c => c * c).sum)
      lambda = nrm / math.max(n, 1L)
      if (nrm > 0) v = u.map(_ / nrm)
    }
    // pin the sign: the largest-|loading| dimension is positive
    val kMax = v.indices.maxBy(j => (math.abs(v(j)), -j))
    if (v(kMax) < 0) v = v.map(-_)
    val spark = emb.sparkSession
    import spark.implicits._
    v.zipWithIndex.map { case (l, j) => (j, l, lambda) }.toSeq
      .toDF("dim_idx", "loading", "eigenvalue")
      .orderBy("dim_idx")
  }

  /** One-scan Gram-matrix fast tier of [[topPrincipalComponent]]: a single
    * `treeAggregate` pass accumulates n, the per-dim sums and the
    * upper-triangle second-moment matrix Σ x·xᵀ (1 + d + d(d+1)/2 doubles
    * ≈ 17 KB at d = 64 — per-PARTITION state, independent of row count),
    * then the driver forms the scatter matrix Σ(x−m)(x−m)ᵀ = Σx·xᵀ − n·m·mᵀ
    * and runs the SAME power iteration (same init, iteration count, sign
    * pin and Rayleigh eigenvalue) on the d×d matrix locally. Identical math
    * to the exact tier modulo double-vs-decimal rounding, in ONE Spark job
    * instead of 2+iters — at 1000 executors the exact tier's per-iteration
    * scan is the dominant cost and this collapses it. The O(d²) per-row
    * flops run in a tight JIT loop (no row inflation); standard RowMatrix
    * guidance applies (fine to d ≈ 2k). No oracle — double partial sums
    * are combine-order dependent in the last bits; SimilaritySpec pins
    * agreement with the exact tier. */
  def topPrincipalComponentFast(emb: DataFrame, iters: Int = 5, dim: Int = 64,
                                vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1 && dim >= 1)
    val spark = emb.sparkSession
    import spark.implicits._
    val tri = dim * (dim + 1) / 2
    // acc layout: [0]=n, [1..dim]=Σx_j, [1+dim..]=upper-triangle Σ x_i·x_j.
    // Rows with a null ELEMENT are dropped — as[Array[Double]] would throw
    // on them, and the exact tier's per-dim sums just skip null terms; on
    // dirty input dropping the whole row is the defensible shared contract.
    val acc = emb.where(size(col(vecCol)) === dim &&
        !exists(col(vecCol), _.isNull))
      .select(col(vecCol).cast("array<double>")).as[Array[Double]]
      .rdd.treeAggregate(new Array[Double](1 + dim + tri))(
        seqOp = { (a, v) =>
          a(0) += 1.0
          var i = 0; var k = 1 + dim
          while (i < dim) {
            a(1 + i) += v(i)
            var j = i
            while (j < dim) { a(k) += v(i) * v(j); k += 1; j += 1 }
            i += 1
          }
          a
        },
        combOp = { (a, b) =>
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        },
        depth = 2)
    val n = acc(0)
    val m = Array.tabulate(dim)(j => acc(1 + j) / math.max(n, 1.0))
    val scat = Array.ofDim[Double](dim, dim)
    var k = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val s = acc(k) - n * m(i) * m(j)
        scat(i)(j) = s; scat(j)(i) = s; k += 1; j += 1
      }
      i += 1
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    for (_ <- 0 until iters) {
      val u = Array.tabulate(dim) { r =>
        var s = 0.0; var j = 0
        while (j < dim) { s += scat(r)(j) * v(j); j += 1 }
        s
      }
      val nrm = math.sqrt(u.map(c => c * c).sum)
      lambda = nrm / math.max(n, 1.0)
      if (nrm > 0) v = u.map(_ / nrm)
    }
    val kMax = v.indices.maxBy(j => (math.abs(v(j)), -j))
    if (v(kMax) < 0) v = v.map(-_)
    v.zipWithIndex.map { case (l, j) => (j, l, lambda) }.toSeq
      .toDF("dim_idx", "loading", "eigenvalue")
      .orderBy("dim_idx")
  }

  /** The per-vector projection/residual ledger shared by both debias tiers:
    * map-only, the unit PC rides in the expression tree — nothing
    * broadcasts or shuffles. The projection is one codegen'd
    * [[graft.functions.FloatDoubleDot]] loop against the literal PC —
    * bit-identical to the d-term chained-Add tree it replaces (same fold
    * order), ~5× cheaper per pass and re-evaluated by the global sort's
    * range-sampling pass, so the win triples. */
  private def pcLedger(emb: DataFrame, pc: Array[Double], dim: Int,
                       idCol: String, vecCol: String): DataFrame = {
    val proj = graft.functions.functions.float_double_dot(
      col(vecCol), typedLit(pc.toSeq))
    val n2 = dot(col(vecCol), col(vecCol))
    emb.where(size(col(vecCol)) === dim)
      .select(col(idCol), proj.as("p"), n2.as("n2"))
      .select(col(idCol), round(col("p"), 9).as("proj"),
        round(sqrt(col("n2")), 9).as("norm"),
        round(sqrt(greatest(col("n2") - col("p") * col("p"), lit(0.0))), 9)
          .as("residual_norm"))
      .orderBy(idCol)
  }

  /** All-but-the-top debiasing audit: project every embedding onto the
    * dominant PC ([[topPrincipalComponent]]) and report the projection and
    * the residual norm — the standard anisotropy correction
    * (x' = x − (x·v)v) expressed as its verifiable per-vector ledger.
    * Residual norm comes from ‖x‖² − p² (v is unit), a fixed expression
    * tree; the PC itself is the deterministic power-iteration result, so
    * the whole audit is reproducible. Map-only after the PC jobs — the
    * 64-float v rides in the expressions, nothing broadcasts or shuffles. */
  def removeDominantPC(emb: DataFrame, iters: Int = 5, dim: Int = 64,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pc = topPrincipalComponent(emb, iters, dim, vecCol)
      .select("loading").collect().map(_.getDouble(0))
    pcLedger(emb, pc, dim, idCol, vecCol)
  }

  /** [[removeDominantPC]] on the one-scan [[topPrincipalComponentFast]] PC:
    * 2 jobs total (Gram scan + ledger scan) vs 3+iters. Same schema and
    * ledger expressions; no oracle for the same reason as the fast PC. */
  def removeDominantPCFast(emb: DataFrame, iters: Int = 5, dim: Int = 64,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pc = topPrincipalComponentFast(emb, iters, dim, vecCol)
      .select("loading").collect().map(_.getDouble(0))
    pcLedger(emb, pc, dim, idCol, vecCol)
  }

  /** Deterministic sign-random-projection dimensionality reduction
    * (Achlioptas-style ±1 projection, the JL-lemma workhorse behind
    * fast near-dup prefilters and cheaper ANN tiers): each input vector
    * maps to `outDims` components z_k = Σ_j sign(k,j)·x_j, with the sign
    * matrix derived from pure integer arithmetic (popcount parity of a
    * multiplicative mix of (k, j)) rather than a seeded RNG, so any engine
    * reproduces it bit-for-bit — a production deployment would swap in a
    * seeded Gaussian matrix with identical plumbing.
    *
    * Scale + determinism shape: entirely map-only (no shuffle, no matrix
    * broadcast — the "matrix" is pure integer arithmetic inside one
    * codegen'd [[graft.functions.RpDecimalProject]] loop); each term casts
    * float→double→DECIMAL(28,8) so the per-component sums are exact and
    * order-free, mirroring [[groupCentroids]]'s discipline. Output is long
    * format (id, dim_idx, z) for direct comparison/storage.
    *
    * The loop replaces an earlier outDims× `aggregate(transform(...))`
    * DECIMAL HOF formulation — bit-identical by construction (decimal adds
    * at a common scale are exact, HALF_UP is sign-symmetric; the
    * replicated cast semantics are documented on
    * [[graft.functions.RpDecimal.project]], and SimilaritySpec pins
    * expression-vs-HOF equality row-for-row) — which the sf10 sweep
    * measured as the inventory's worst 100× entry: 434.7 s, every one of
    * outDims×dim terms paying an interpreted lambda + Decimal allocation +
    * precision-checked CAST per row. */
  def rpReduce(emb: DataFrame, outDims: Int = 16, idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame = {
    emb.select(col(idCol),
        posexplode(graft.functions.functions.rp_project(col(embCol), outDims))
          .as(Seq("dim_idx", "z")))
      .orderBy(idCol, "dim_idx")
  }

  /** Float fast tier of [[rpReduce]]: identical sign matrix and output
    * schema, but each projection is one [[graft.functions.FloatDot]]
    * against a PRECOMPUTED literal ±1 sign vector — a codegen'd
    * float-multiply loop instead of the exact tier's per-element
    * decimal-fold HOF lambdas (interpreted, 128-bit adds), and instead of
    * an earlier double-fold HOF formulation that still paid outDims×dim
    * interpreted lambda calls per row (sf1: 8.3 s → sub-second). Still
    * map-only / zero-shuffle. float×(±1.0) is exact and the fold order is
    * the same left-to-right, so this is bit-identical to the double-HOF
    * form; vs the exact tier only decimal-vs-binary rounding differs
    * (SimilaritySpec pins 1e-6 relative agreement). Sign vectors carry
    * `maxDims` entries and FloatDot folds over min(|emb|, maxDims), so any
    * embedding width up to the cap (default 4096, far above practical
    * model widths) projects over its full length, same as the HOF form;
    * an embedding WIDER than the cap fails loudly at scan time (a silent
    * prefix projection would quietly break the 1e-6 agreement contract
    * with the exact tier, which always covers the full width). */
  def rpReduceFast(emb: DataFrame, outDims: Int = 16, idCol: String = "vec_id",
                   embCol: String = "embedding", maxDims: Int = 4096): DataFrame = {
    // assert_true rides the row pipeline as a filter predicate (null = pass,
    // throw = over-wide row): a loud per-row guard with zero extra jobs,
    // unlike an eager max(size) pre-scan. A NULL embedding passes the guard
    // (assert_true throws on null conditions, which would surface as a
    // misleading maxDims error) and propagates as null z components —
    // exactly what the exact tier's HOF fold does with a null array.
    val widthOk = isnull(assert_true(
      col(embCol).isNull || size(col(embCol)) <= maxDims,
      format_string(
        s"rpReduceFast: embedding of %s dims exceeds maxDims=$maxDims; " +
          "raise maxDims to cover the full width",
        size(col(embCol)).cast("string"))))
    val zs = (0 until outDims).map { k =>
      val signs = Array.tabulate(maxDims) { j =>
        val h = k.toLong * 2654435761L + j.toLong * 40503L
        if (java.lang.Long.bitCount(h) % 2 == 0) 1.0f else -1.0f
      }
      graft.functions.functions.float_dot(col(embCol), typedLit(signs))
    }
    emb.where(widthOk)
      .select(col(idCol), posexplode(array(zs: _*)).as(Seq("dim_idx", "z")))
      .orderBy(idCol, "dim_idx")
  }

  /** Pairwise cosine similarity between per-group centroids — the
    * group-level drift/affinity matrix (are two sources converging? did
    * this week's cluster move?). Builds on [[groupCentroids]]: gather each
    * group's per-dim means into an ordered array, then an a<b pair join
    * over the (tiny — one row per group) centroid frame. Dot products fold
    * left-to-right in array order and round to 9 digits, so the matrix is
    * reproducible across engines and partitionings. */
  def centroidSimMatrix(emb: DataFrame, groupCol: String,
                        embCol: String = "embedding"): DataFrame = {
    val cent = groupCentroids(emb, groupCol, embCol)
      .groupBy(col(groupCol))
      .agg(transform(array_sort(collect_list(struct(col("dim_idx"), col("centroid")))),
        s => s.getField("centroid")).as("v"))
    def dotd(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val a = cent.select(col(groupCol).as(s"${groupCol}_a"), col("v").as("v_a"))
    val b = cent.select(col(groupCol).as(s"${groupCol}_b"), col("v").as("v_b"))
    a.crossJoin(b).where(col(s"${groupCol}_a") < col(s"${groupCol}_b"))
      .select(col(s"${groupCol}_a"), col(s"${groupCol}_b"),
        round(dotd(col("v_a"), col("v_b")) /
          (sqrt(dotd(col("v_a"), col("v_a"))) * sqrt(dotd(col("v_b"), col("v_b")))), 9)
          .as("sim"))
      .orderBy(s"${groupCol}_a", s"${groupCol}_b")
  }
  // ------------------------------------------------------------------
  // Greedy diversity selection (MMR, k-center) — shared cores
  // ------------------------------------------------------------------

  /** One selected item of a greedy selector: id, vector, norm, and the
    * score it was elected with (the operator's audit column — MMR's
    * marginal, k-center's coverage sim, the seed's centroid relevance). */
  private case class GreedyPick(id: Long, v: Seq[Float], nrm: Double, score: Double)

  /** Corpus centroid narrowed to a float query vector — the shared
    * default relevance target of the greedy selectors. Centroid
    * components are double means narrowed to float so the literal query
    * rides the same codegen'd float-dot as every stored vector; toFloat
    * narrowing is deterministic, and relevance stays a 9-digit rounded
    * cosine either way. */
  private def centroidQuery(emb: DataFrame, vecCol: String): Seq[Float] =
    groupCentroids(emb.where(col(vecCol).isNotNull).withColumn("__g", lit(1)),
        "__g", vecCol)
      .orderBy("dim_idx").collect()
      .map(_.getAs[Double]("centroid").toFloat).toSeq

  /** Max same-selection cosine for the EXACT greedy tiers: the selection
    * rides the expression tree as TWO literal arrays (vectors + norms)
    * through the same fixed-size [[graft.functions.MaxCosRound]] loop the
    * batched tiers score with — bit-identical to the historical
    * `array_max(array(round(float_dot(v, lit(sel_i))/(nrm·n_i), 9) × k))`
    * tree (FloatDot's exact fold per selection; sparkRound is monotone so
    * round∘max = max∘round), but the plan stays CONSTANT-SIZE as the
    * selection grows instead of re-codegening k separate literal dots per
    * round (k·dim floats still bounded driver state; no join, no shuffle). */
  private def selMaxSim(sel: Seq[GreedyPick]): Column =
    graft.functions.functions.max_cos_round(col("v"), col("nrm"),
      typedLit(sel.map(_.v)), typedLit(sel.map(_.nrm)), 9)

  /** Shared driver loop of the EXACT greedy selectors ([[mmrSelect]],
    * [[kCenterSelect]]): compute relevance once over a cached slim
    * projection, then k rounds of score → TakeOrdered(1) election →
    * append to the driver-side selection. `roundScore` maps the current
    * selection to this round's (score expression, ascending?) — the ONLY
    * thing that differs between the greedy family members (ADVICE r11:
    * the two selectors previously duplicated this entire scaffolding).
    * Scores are rounded at 9 digits and ties break by id ascending, so
    * the selection is reproducible across partitionings. Driver state is
    * ≤ k vectors; each round is one scan with a constant-size plan
    * ([[selMaxSim]] + a literal-array id exclusion, r13) — the right
    * shape for k in the hundreds over an arbitrarily large corpus. For
    * corpus-sized k use the per-cell batched tier ([[greedyBatchedCore]]). */
  private def greedySelectCore(emb: DataFrame, k: Int, queryVec: Option[Seq[Float]],
      idCol: String, vecCol: String, opName: String, scoreCol: String)(
      roundScore: Seq[GreedyPick] => (Column, Boolean)): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val q: Seq[Float] = queryVec.getOrElse(centroidQuery(emb, vecCol))
    val qn = foldNorm(q)
    require(qn > 0.0, s"$opName: query/centroid vector has zero norm")
    // size-and-starvation-gated spread (r13): base is re-scanned k times —
    // see greedyBatchedCore for the rationale and the two measured gates;
    // repartition-invariance of the selection is property-tested
    val base = spreadGated(emb)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .where(col("v").isNotNull && col("nrm") > lit(0.0))
      .withColumn("rel", cosine9(dot(col("v"), typedLit(q)), col("nrm"), lit(qn)))
      .persist()
    try {
      val sel = scala.collection.mutable.ArrayBuffer.empty[GreedyPick]
      var exhausted = false
      while (sel.size < k && !exhausted) {
        val remaining =
          if (sel.isEmpty) base
          else base.where(!array_contains(typedLit(sel.map(_.id)), col("id")))
        val (scoreExpr, asc) = roundScore(sel.toSeq)
        val scored = remaining.select(col("id"), col("v"), col("nrm"),
          round(scoreExpr, 9).as("score"))
        val pick = (if (asc) scored.orderBy(col("score").asc, col("id"))
                    else scored.orderBy(col("score").desc, col("id")))
          .limit(1).collect()
        if (pick.isEmpty) exhausted = true
        else {
          val r = pick(0)
          sel += GreedyPick(r.getLong(0), r.getSeq[Float](1), r.getDouble(2),
            r.getDouble(3))
        }
      }
      sel.toSeq.zipWithIndex
        .map { case (p, i) => (i + 1, p.id, p.score) }
        .toDF("rnk", idCol, scoreCol)
    } finally base.unpersist()
  }

  /** Shared scaffolding of the BATCHED (per-cell) greedy scale tiers
    * ([[mmrSelectBatched]], [[kCenterSelectBatched]]): partition the
    * corpus into `nCells` k-means cells ([[trainCentroids]], the shared
    * coarse quantizer) and run the SAME greedy selection per-cell in
    * parallel, with per-cell quotas allocated from cell sizes by largest
    * remainder (capped at cell size, leftovers redistributed
    * deterministically by size-proportional remainder, id-ordered). Every
    * round is ONE job in which every still-filling cell elects its
    * argmax/argmin simultaneously (`min_by` per cid inside one hash
    * aggregate), so the job count drops from the exact tier's k to
    * ~max-cell-quota ≈ ⌈k/nCells⌉ — the lever that makes corpus-sized k
    * feasible. Scores compare only against SAME-CELL selections:
    * cross-cell redundancy is what the cell partition itself suppresses
    * (dissimilar cells by construction) — the declared approximation,
    * exact when nCells = 1 (equivalence property-tested in CurationSpec;
    * the exact tiers stay the verifiers).
    *
    * Rounds are uniform across cells by construction: round 1 is every
    * cell's seed election (scored by relevance alone), and a cell that
    * fails to return a row in any round is deactivated immediately — so
    * from round 2 on every active cell has a non-empty selection.
    * `marginal` maps the same-cell max-selection-cosine column to the
    * operator's score expression; `electDesc(seedRound)` picks the
    * election direction per round (MMR: always max; k-center: max
    * relevance at the seed, then min max-sim = farthest-point).
    *
    * Scale shape (reworked r13, closing the r12 verdict's one `weak`):
    * relevance + assignment are map-only over the cached slim projection;
    * each round BROADCASTS the current selections as a ≤nCells-row
    * (cid, sel_ids, sel_vecs, sel_nrms) frame joined on cid — candidate
    * scoring is one fixed-size codegen loop ([[graft.functions.MaxCosRound]],
    * bit-identical to the literal `array_max(array(cosine9 × |sel|))` tree
    * it replaces) and already-selected rows drop via `array_contains` on
    * the joined id list. The previous shape inlined EVERY active cell's
    * selections as expression literals (a when-chain whose size grew to
    * O(k·d) — each late round paid a Janino recompile of the whole tree
    * and SCALE.md §15 measured rounds getting heavier as quotas filled);
    * now the per-round plan is constant-size and the broadcast payload is
    * the same ≤ k·d floats the literals carried. Each round's aggregate
    * still returns ≤ nCells rows. Deterministic end-to-end: 9-digit
    * rounded scores, id tiebreaks, largest-remainder quota with id-ordered
    * redistribution. */
  private def greedyBatchedCore(emb: DataFrame, k: Int, nCells: Int, trainIters: Int,
      queryVec: Option[Seq[Float]], idCol: String, vecCol: String,
      opName: String, scoreCol: String, seeded: Boolean = false)(
      marginal: Column => Column)(
      electDesc: Boolean => Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    val spark = emb.sparkSession
    import spark.implicits._
    val q: Seq[Float] = queryVec.getOrElse(centroidQuery(emb, vecCol))
    val qn = foldNorm(q)
    require(qn > 0.0, s"$opName: query/centroid vector has zero norm")
    val slim = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .where(col("v").isNotNull && col("nrm") > lit(0.0))
    // seeded: the ORACLE-BEARING cell assignment — smallest-id seeds +
    // mirrorable Lloyd (decimal means, round-6 floats) + round-9 argmax
    // with larger-cid ties, every ingredient DuckDB replays digit-exact
    // (the same contract as kMeansProfileSeeded / semDedupSeeded).
    // unseeded: the production path (xxhash-ordered seeds, un-rounded
    // argmax), property-tested instead.
    val assignCid: Column =
      if (seeded) {
        val cents = lloydMirrorableCents(slim, nCells, trainIters, seedKey = identity)
        bestMirror(cents)(col("v"), col("nrm")).getItem(0).getField("cid")
      } else {
        val cents = trainCentroids(emb.where(col(vecCol).isNotNull),
          nCells, trainIters, idCol, vecCol)
        nearestCents(cents)(col("v"), col("nrm"), 1).getItem(0).getField("cid")
      }
    // starvation-gated spread of the PERSISTED base only (r13): base is
    // re-scanned every round, so a LARGE single-file corpus would otherwise
    // run ~⌈k/nCells⌉ rounds on 1-2 cores; the one slim exchange happens
    // once at persist build and amortizes over all rounds. Two gates, both
    // measured: (a) only the persisted frame spreads — spreading the
    // un-persisted centroid-training lineage re-paid the exchange per Lloyd
    // round (+0.5-1.7 s/query at sf0.1); (b) only inputs past one scan
    // split's worth of bytes spread — a spread cache makes every small
    // round pay a defaultParallelism-task scheduling floor (~30 ms/job × k
    // rounds measured at sf0.1), which is the wrong trade until per-round
    // compute dominates. Size comes from optimizer stats (no job). Results
    // are partitioning-invariant (9-digit scores, id ties — property-tested).
    val base = spreadGated(emb)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .where(col("v").isNotNull && col("nrm") > lit(0.0))
      .withColumn("cid", assignCid)
      .withColumn("rel", cosine9(dot(col("v"), typedLit(q)), col("nrm"), lit(qn)))
      .persist()
    try {
      // largest-remainder quota from cell sizes, capped at cell size;
      // leftover slots redistribute to spare-capacity cells by size desc
      val counts: Seq[(Int, Long)] = base.groupBy("cid").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val total = counts.map(_._2).sum
      require(total > 0, s"$opName: no candidate vectors")
      val kk = math.min(k.toLong, total).toInt
      val raw = counts.map { case (c, n) => (c, n, kk.toDouble * n / total) }
      val quota = scala.collection.mutable.Map(raw.map { case (c, n, x) =>
        c -> math.min(n, x.toLong).toInt }: _*)
      // hand out remaining slots by largest fractional remainder (id asc tie)
      var left = kk - quota.values.sum
      val order = raw.sortBy { case (c, _, x) => (-(x - x.toLong), c) }.map(_._1)
      var oi = 0
      while (left > 0) {
        val c = order(oi % order.length)
        val cap = counts.find(_._1 == c).get._2
        if (quota(c) < cap) { quota(c) += 1; left -= 1 }
        oi += 1
      }
      val sel = scala.collection.mutable.Map.empty[Int,
        scala.collection.mutable.ArrayBuffer[GreedyPick]]
        .withDefault(_ => scala.collection.mutable.ArrayBuffer.empty)
      var active = quota.filter(_._2 > 0).keySet.toSet
      var seedRound = true
      while (active.nonEmpty) {
        // candidate frame: seed rounds score by relevance alone (no
        // selections exist); later rounds broadcast-join the per-cell
        // selection state and score via the fixed-size MaxCosRound loop
        val cand =
          if (seedRound)
            base.where(col("cid").isInCollection(active))
              .select(col("cid"), col("id"), col("v"), col("nrm"),
                round(col("rel"), 9).as("score"))
          else {
            val selDF = active.toSeq.sorted.map { c =>
              val picks = sel(c).toSeq
              (c, picks.map(_.id), picks.map(_.v), picks.map(_.nrm))
            }.toDF("cid", "sel_ids", "sel_vecs", "sel_nrms")
            val maxSim = graft.functions.functions.max_cos_round(
              col("v"), col("nrm"), col("sel_vecs"), col("sel_nrms"), 9)
            base.join(broadcast(selDF), Seq("cid"))
              .where(!array_contains(col("sel_ids"), col("id")))
              .select(col("cid"), col("id"), col("v"), col("nrm"),
                round(marginal(maxSim), 9).as("score"))
          }
        // min_by over (key, id): key = -score elects the max, key = score
        // elects the min (farthest-point); id breaks ties ascending either way
        val desc = electDesc(seedRound)
        val electKey =
          if (desc) struct((-col("score")).as("s"), col("id"))
          else struct(col("score").as("s"), col("id"))
        val picks = cand
          .groupBy("cid")
          .agg(min_by(struct(col("id"), col("v"), col("nrm"), col("score")),
            electKey).as("p"))
          .select(col("cid"), col("p.id"), col("p.v"), col("p.nrm"), col("p.score"))
          .collect()
        val picked = picks.map { r =>
          val c = r.getInt(0)
          val buf = sel.getOrElseUpdate(c,
            scala.collection.mutable.ArrayBuffer.empty)
          buf += GreedyPick(r.getLong(1), r.getSeq[Float](2), r.getDouble(3),
            r.getDouble(4))
          c
        }.toSet
        active = active.filter(c => picked(c) && sel(c).size < quota(c))
        seedRound = false
      }
      sel.toSeq.sortBy(_._1).flatMap { case (c, buf) =>
        buf.toSeq.zipWithIndex.map { case (p, i) => (c, i + 1, p.id, p.score) }
      }.toDF("cid", "rnk", idCol, scoreCol)
        .orderBy("cid", "rnk")
    } finally base.unpersist()
  }

  /** Maximal-Marginal-Relevance diverse top-k: greedily pick the item
    * maximizing `λ·rel − (1−λ)·max-cosine-to-already-selected`, where
    * relevance is cosine to `queryVec` (or, by default, to the corpus
    * centroid). The standard redundancy-aware selection for curation —
    * top-k-by-relevance returns k near-copies of the same best item; MMR
    * trades relevance for coverage, with λ=1 degenerating to plain top-k.
    *
    * Distributed shape = [[greedySelectCore]]: relevance is computed ONCE
    * (map-only, cached); each of the k rounds is one scan — the marginal
    * term is an `array_max` over ≤k codegen'd [[dot]]s against the
    * selected vectors as expression LITERALS (selected state is k·dim
    * floats on the driver, bounded by construction), and the argmax is a
    * TakeOrdered(1), not a sort. Deterministic: cosines round at 9 digits
    * and ties break by id ascending, so the selection is reproducible
    * across partitionings. For corpus-sized k use [[mmrSelectBatched]]. */
  def mmrSelect(emb: DataFrame, k: Int = 20, lambda: Double = 0.7,
                queryVec: Option[Seq[Float]] = None,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    greedySelectCore(emb, k, queryVec, idCol, vecCol, "mmrSelect", "mmr_score") { sel =>
      if (sel.isEmpty) (col("rel"), false)
      else (lit(lambda) * col("rel") - lit(1.0 - lambda) * selMaxSim(sel), false)
    }
  }

  /** Batched MMR — the scale tier of [[mmrSelect]] on the
    * [[greedyBatchedCore]] scaffolding (per-cell parallel greedy, quota'd,
    * one job per round): the marginal is the same
    * `λ·rel − (1−λ)·max-same-cell-sim` and every round elects each cell's
    * MAXIMUM. nCells = 1 is EXACTLY the exact tier (CurationSpec). */
  def mmrSelectBatched(emb: DataFrame, k: Int = 20, lambda: Double = 0.7,
                       nCells: Int = 8, trainIters: Int = 1,
                       queryVec: Option[Seq[Float]] = None,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    greedyBatchedCore(emb, k, nCells, trainIters, queryVec, idCol, vecCol,
      "mmrSelectBatched", "mmr_score") { maxSim =>
      lit(lambda) * col("rel") - lit(1.0 - lambda) * maxSim
    }(_ => true) // MMR always elects the max marginal
  }

  /** ORACLE-BEARING face of [[mmrSelectBatched]] (r13, the same pattern
    * that graduated IVF/PQ/SemDeDup): identical per-cell greedy, quota
    * and election machinery, but cells come from the MIRRORABLE seeded
    * Lloyd ([[lloydMirrorableCents]]: smallest-id seeds, decimal means,
    * round-9 argmax assignment with larger-cid ties) so DuckDB replays
    * cell assignment, size-proportional quotas (largest remainder — the
    * redistribution is rank-exact: the leftover count is strictly less
    * than the number of cells with positive fractional remainder, so the
    * engine's cyclic walk never wraps and never reaches a capped cell)
    * and every unrolled greedy round digit-for-digit. FIXED nCells is the
    * price of the mirror; [[mmrSelectBatched]] stays the production face. */
  def mmrSelectBatchedSeeded(emb: DataFrame, k: Int = 20, lambda: Double = 0.7,
                             nCells: Int = 4, trainIters: Int = 2,
                             queryVec: Option[Seq[Float]] = None,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    greedyBatchedCore(emb, k, nCells, trainIters, queryVec, idCol, vecCol,
      "mmrSelectBatchedSeeded", "mmr_score", seeded = true) { maxSim =>
      lit(lambda) * col("rel") - lit(1.0 - lambda) * maxSim
    }(_ => true)
  }

  /** Greedy k-center (farthest-point traversal) diversity selection — the
    * standard coreset picker (Gonzalez 1985: a 2-approximation of the
    * optimal k-center cover): seed with the most corpus-central vector
    * (argmax 9-digit cosine to the centroid, ties to the smaller id — the
    * same seed rule as [[mmrSelect]]'s first pick), then each round add
    * the candidate FARTHEST from the current selection, i.e. with the
    * smallest maximum cosine to any selected vector (ties to the smaller
    * id). Where MMR balances relevance against redundancy, k-center
    * maximizes pure coverage — with k = #clusters on separated data it
    * lands one pick per cluster (property-tested). Returns
    * (rnk, id, coverage_sim): coverage_sim is the pick's max cosine to the
    * PRIOR selection (its "distance to cover" ledger; the seed reports its
    * centroid relevance), so the output doubles as the coverage-radius
    * audit trail.
    *
    * Distributed shape = [[greedySelectCore]] (shared with [[mmrSelect]]).
    * Oracle-bearing: the greedy unrolls as chained CTEs over a precomputed
    * pair-sim table (SparkEntry's mirror), exactly like the MMR oracle.
    * For corpus-sized k use [[kCenterSelectBatched]]. */
  def kCenterSelect(emb: DataFrame, k: Int = 20,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    greedySelectCore(emb, k, None, idCol, vecCol, "kCenterSelect", "coverage_sim") { sel =>
      if (sel.isEmpty) (col("rel"), false)
      else (selMaxSim(sel), true) // min max-sim = farthest
    }

  /** Batched greedy k-center — the scale tier of [[kCenterSelect]] on the
    * [[greedyBatchedCore]] scaffolding, closing the r11 gap (the coreset
    * picker is exactly the operator users run with k in the thousands,
    * and it had no batched face where its sibling MMR did): per-cell
    * farthest-point traversal with size-proportional quotas, every round
    * ONE job. Round 1 elects each cell's MAXIMUM relevance (the shared
    * seed rule); every later round elects each cell's MINIMUM
    * max-same-cell-sim — the farthest point from that cell's selection.
    * Coverage radii are cell-local by the same declared approximation as
    * batched MMR's diversity term: cross-cell coverage is what the cell
    * partition itself provides. nCells = 1 is EXACTLY [[kCenterSelect]]
    * (equivalence property-tested in CurationSpec); job count
    * ~⌈k/nCells⌉ instead of k. */
  def kCenterSelectBatched(emb: DataFrame, k: Int = 20, nCells: Int = 8,
                           trainIters: Int = 1,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    greedyBatchedCore(emb, k, nCells, trainIters, None, idCol, vecCol,
      "kCenterSelectBatched", "coverage_sim") { maxSim =>
      maxSim
    }(seedRound => seedRound) // seed: max relevance; then min max-sim

  /** ORACLE-BEARING face of [[kCenterSelectBatched]] on the seeded
    * mirrorable Lloyd cells — see [[mmrSelectBatchedSeeded]] for the
    * contract; election rule unchanged (seed = max relevance, then
    * farthest-point = min max-same-cell-sim, id ties ascending). */
  def kCenterSelectBatchedSeeded(emb: DataFrame, k: Int = 20, nCells: Int = 4,
                                 trainIters: Int = 2,
                                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    greedyBatchedCore(emb, k, nCells, trainIters, None, idCol, vecCol,
      "kCenterSelectBatchedSeeded", "coverage_sim", seeded = true) { maxSim =>
      maxSim
    }(seedRound => seedRound)
}
