package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash/LSH, and SimHash near-duplicate detection.
  *
  * Scale design:
  *   - Exact dedup is one hash aggregate (map-side combine) — the optimal
  *     distributed shape; at 100 TB consider `xxhash64(text)` as the grouping
  *     key to shrink shuffle rows to 8-byte hashes.
  *   - All-pairs n-gram Jaccard is exact but inherently candidate-join-bound;
  *     it is the small-N verifier. The scale path is [[minHashNearDup]]:
  *     signatures are fixed-width (k longs) regardless of document size, and
  *     LSH banding turns the O(n²) pair space into per-bucket joins.
  *   - Buckets with pathological sizes (boilerplate shingles) are capped to
  *     bound the worst-case join fan-out — the standard skew guard.
  */
object Dedup {

  /** Corpus-size gate for the near-dup verification-join SHUFFLE_HASH hints
    * (SCALE.md §11 Offender 6): Catalyst's size estimates through
    * explode→dropDuplicates pair frames are guesses, and at the 100×
    * fixture it chose to BROADCAST the candidate-pair frame — Σ cluster²
    * rows, a measured 771.8 s single-core build grind. Pinning SHUFFLE_HASH
    * unconditionally fixed that but charged ~0.5 s/query rent at toy scale
    * where broadcast was the right plan (SCALE.md §11 hint-rent note). The
    * gate restores both regimes their best plan from the one estimate that
    * is NOT a guess: the plan-time size of the raw input corpus frame
    * (file-scan stats, before any explode inflates or dedup deflates it).
    * Corpora under the threshold cannot produce a dangerous pair frame —
    * pair rows are bounded by maxBucket·corpus rows — so Spark's own choice
    * (broadcast at toy scale) stands; above it the hint binds.
    *
    * The threshold is deliberately LOW (4 MB of scan bytes ≈ tens of
    * thousands of documents): scan stats are COMPRESSED bytes, and
    * repetitive corpora — exactly the dup-heavy ones whose pair frames
    * explode — compress hardest (the 100× fixture's near-identical
    * replicas pack 100× the rows into 20× the bytes). Mis-gating low costs
    * ~0.5 s of hint rent; mis-gating high re-opens a measured 772 s
    * broadcast pathology. */
  private[graft] val hintMinBytes: Long = 4L << 20

  /** `docs`' plan-time size estimate, which the gate compares with
    * [[hintMinBytes]]: the SUM OVER LEAF RELATIONS (file scans / local
    * data), not the frame's own top-level stat. Callers like
    * [[cleanCorpusMinHash]] pass a frame derived through aggregations and
    * joins, whose top-level estimate is exactly the kind of guess the hint
    * exists to bypass — a post-agg estimate collapsing below the threshold
    * would silently re-open the broadcast pathology at scale. Leaf stats
    * are real file sizes and an upper bound on the corpus feeding the
    * operator, so the gate can only err toward the safe (hinted) side on
    * derived inputs. */
  private[graft] def leafBytes(docs: DataFrame): BigInt =
    docs.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum

  /** True when `docs` crosses the hint gate. */
  private def wantShuffleHash(docs: DataFrame): Boolean = leafBytes(docs) >= BigInt(hintMinBytes)

  /** Apply `shuffle_hash` to a verification-join build side iff the gate
    * fired for the corpus this build side derives from. */
  private def gateHint(buildSide: DataFrame, gate: Boolean): DataFrame =
    if (gate) buildSide.hint("shuffle_hash") else buildSide

  /** Per-source exact-duplicate stats: total docs vs distinct texts.
    * `count(DISTINCT text)` is a two-phase exact distinct — partial
    * de-duplication happens map-side, so the shuffle carries distinct
    * (source, text) pairs, not raw rows. */
  def exactStats(docs: DataFrame): DataFrame =
    docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("text")).as("n_distinct"),
      (count(lit(1)) - count_distinct(col("text"))).as("n_dups")
    ).orderBy("source")

  /** Keep one representative row per exact-duplicate group (min doc_id wins;
    * ids are assumed unique per row, as in any ingest with a doc key).
    *
    * Winner selection is `groupBy(xxhash64(text)).agg(min(id))` — the shuffle
    * for the expensive full-corpus aggregation carries only (8-byte hash, id)
    * rows, never the text. The semi-join back on id restores the full rows;
    * its winner side is one slim id per distinct text, so AQE broadcasts it
    * at moderate scale, and beyond that Spark's runtime bloom filter prunes
    * losing rows before the exchange — either way text bytes stop crossing
    * the wire row-for-row, which a `Window.partitionBy(hash)` over full rows
    * (the naive shape) cannot avoid. */
  def dropExactDups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val winners = docs
      .select(xxhash64(col(textCol)).as("__th"), col(idCol))
      .groupBy("__th").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** Canonical form of a URL for crawl dedup: scheme dropped, host
    * case-folded with any leading `www.` stripped, query string and
    * fragment removed, trailing slash trimmed; the path keeps its case
    * (paths are case-sensitive, hosts are not). Pure regexp column ops
    * from the Java∩RE2 regex subset, so any engine canonicalizes
    * identically. */
  def canonicalizeUrl(url: Column): Column = {
    val host = regexp_replace(
      lower(regexp_extract(url, "^[a-zA-Z]+://([^/?#]+)", 1)), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(url, "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1), "/$", "")
    concat(host, path)
  }

  /** Keep-one URL dedup: the classic first stage of a web-crawl pipeline —
    * group rows by [[canonicalizeUrl]], keep the smallest id per canonical
    * URL. Returns (id, canon_url, n_dups) for the survivors.
    *
    * Scale shape mirrors [[dropExactDups]]: only (canon_url, id) pairs
    * cross the exchange (map-side combined on the canonical key), never
    * page content; a content column rides back via a semi-join on id if
    * the caller needs it. */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
               idCol: String = "doc_id"): DataFrame =
    docs.select(canonicalizeUrl(col(urlCol)).as("canon_url"), col(idCol))
      .groupBy("canon_url")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(col(idCol), col("canon_url"), col("n_dups"))
      .orderBy(idCol)

  /** Distinct n-grams over a token-array column, each gram mapped through
    * `f` — single source of the shingle rule shared by [[shingles]],
    * [[shingleHashes]], and [[shingleDF]]. */
  private def gramSet(toks: Column, w: Int, f: Column => Column): Column =
    array_distinct(transform(sequence(lit(1), size(toks) - lit(w - 1)),
      i => f(array_join(slice(toks, i, lit(w)), " "))))

  /** Distinct token n-gram (shingle) set per document, as an array column.
    * w=3 word shingles are the classic near-dup unit (Broder '97). Documents
    * shorter than w tokens yield an empty set. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) >= w, gramSet(toks, w, identity))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct 64-bit shingle hashes. All join/signature machinery downstream
    * works on these 8-byte keys instead of shingle strings — smaller
    * shuffles, cheaper comparisons; the 2^-64 collision rate is far below
    * any near-dup pipeline's noise floor. Since r16 the window hashes come
    * from the codegen'd [[graft.functions.ShingleWindowHashes]] byte-slice
    * loop — VALUE-identical to `xxhash64(array_join(slice(toks, i, w), " "))`
    * (same joined bytes, same seed; see the expression's identity note), so
    * every oracle-mirrored consumer is unchanged; only the per-window
    * slice+join+hash allocations are gone (guide §4, r15 verdict #3). */
  def shingleHashes(text: Column, w: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) >= w, array_distinct(
        graft.functions.functions.shingle_window_hashes(toks, w)))
      .otherwise(array().cast("array<bigint>"))
  }

  /** (id, sh: array<long>) — distinct hashed shingles per doc, built in two
    * projection stages so tokenization binds to an attribute once. A single
    * fused expression would get re-inlined by predicate pushdown and inside
    * the per-window lambda, re-running the regex split O(L) times per doc
    * (observed 10× slowdown in the physical plan). The cheap `size(toks)`
    * filter runs *before* the shingle projection, so nothing expensive sits
    * under a pushable filter. */
  private[llm] def shingleDF(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    shingled(docs.select(col(idCol).as("id"), col(textCol).as("text")), w)

  /** [[shingleDF]]'s two stages over a frame with a `text` column: `text`
    * becomes `sh`, docs under `w` tokens drop, other columns pass through. */
  private def shingled(docs: DataFrame, w: Int): DataFrame = {
    val keep = docs.columns.toSeq.filter(_ != "text").map(col)
    docs.select(keep :+ TextAnalysis.tokens(col("text")).as("toks"): _*)
      .where(size(col("toks")) >= w)
      .select(keep :+ array_distinct(
        graft.functions.functions.shingle_window_hashes(col("toks"), w)).as("sh"): _*)
  }

  /** Exact n-gram Jaccard near-duplicate pairs (similarity >= threshold).
    *
    * Shape: explode hashed shingles → `groupBy(hash) → collect_list((id, n))`
    * → expression-level pair expansion inside each bucket → count
    * intersections → |A∪B| = |A|+|B|−|A∩B|. One shuffle of slim
    * (id, n, hash) rows; the expensive tokenize+shingle pipeline appears
    * exactly ONCE in the plan (a hash self-join recomputes it per side —
    * observed 2 scans × ~4 inlined chain evaluations each). The size-ratio
    * prefilter (J ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|), applied with an ulp
    * cushion so float rounding can't drop threshold-boundary pairs) prunes
    * pairs inside the bucket lambda before they ever materialize.
    *
    * `maxBucket` drops shingles shared by more than that many documents —
    * the same skew guard as [[minHashNearDup]]: one boilerplate shingle in
    * 10⁶ docs would otherwise build an unbounded `collect_list` row and an
    * O(b²) pair expansion. Recall consequence: a pair found ONLY via dropped
    * hot shingles is missed; near-dups at J ≥ 0.8 share many shingles, so a
    * pair must have ALL its shared shingles boilerplate-hot to vanish —
    * vanishingly rare, and the full-corpus alternative is an OOM row.
    * Exact and oracle-checkable below the cap; for 100 TB use
    * [[minHashNearDup]] (this operator is the verifier shape for its
    * candidates). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.8, w: Int = 3,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxBucket: Int = 200): DataFrame = {
    // the bucket gather is a high-cardinality grouped object agg — keep it
    // on the hash path on vanilla sessions (r14 verdict #1)
    graft.functions.SessionTuning.ensureActiveSession()
    val sh = shingleDF(docs, idCol, textCol, w)
    val ex = sh.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("h"))
    val buckets = ex.groupBy("h")
      .agg(collect_list(struct(col("id"), col("n"))).as("ms"))
      .where(size(col("ms")) >= 2 && size(col("ms")) <= maxBucket)
    val eps = lit(1e-9)
    val pairs = buckets.select(explode(flatten(transform(col("ms"), a =>
        transform(
          filter(col("ms"), b => a.getField("id") < b.getField("id") &&
            a.getField("n") * lit(threshold) <= b.getField("n") + eps &&
            b.getField("n") * lit(threshold) <= a.getField("n") + eps),
          b => struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
            a.getField("n").as("n_a"), b.getField("n").as("n_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
    pairs.groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"), first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** Asymmetric shingle-containment near-dup pairs:
    * C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|. Catches SUBSET duplicates that
    * Jaccard structurally misses — a short document pasted inside a longer
    * one has a large union (low Jaccard) but containment ≈ 1 from the short
    * side. Emits the pair when either direction clears the threshold, with
    * both directional scores.
    *
    * Same bucket machinery and `maxBucket` hot-shingle cap as
    * [[ngramJaccardPairs]], minus its size-ratio prefilter — a valid
    * Jaccard-only optimization (sizes bound J) that containment must NOT
    * apply, since a tiny doc can be fully contained in a huge one. Exact
    * and oracle-checkable; at 100 TB feed candidates from
    * [[minHashNearDup]] buckets and verify containment on the pair set. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8, w: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxBucket: Int = 200): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    val sh = shingleDF(docs, idCol, textCol, w)
    val ex = sh.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("h"))
    val buckets = ex.groupBy("h")
      .agg(collect_list(struct(col("id"), col("n"))).as("ms"))
      .where(size(col("ms")) >= 2 && size(col("ms")) <= maxBucket)
    val pairs = buckets.select(explode(flatten(transform(col("ms"), a =>
        transform(filter(col("ms"), b => a.getField("id") < b.getField("id")),
          b => struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
            a.getField("n").as("n_a"), b.getField("n").as("n_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
    pairs.groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / col("n_a")).as("c_ab"),
        (col("n_inter").cast("double") / col("n_b")).as("c_ba"))
      .where(col("c_ab") >= threshold || col("c_ba") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** End-to-end corpus cleaning: exact dedup (min doc_id per text survives)
    * followed by near-duplicate removal (for each near-dup pair among the
    * survivors, the higher id drops). Returns the surviving doc ids —
    * the operator a training-data pipeline actually runs.
    *
    * Greedy pair-drop, not connected components: for a chain a~b, b~c
    * (a!~c) both b and c drop. That is the standard bias — over-dropping
    * borderline chain members costs little corpus, while a components pass
    * would need an iterative join (GraphX/Pregel territory) for marginal
    * retention. Exact Jaccard verification keeps this oracle-checkable;
    * swap [[ngramJaccardPairs]] for [[minHashNearDup]] at 100 TB — same
    * output columns, LSH-bounded pair space. */
  def cleanCorpus(docs: DataFrame, threshold: Double = 0.8, w: Int = 3,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // `exact` feeds both the shingle pipeline and the final anti-join; the
    // dedup recomputes per branch, which measured CHEAPER than persisting
    // the text-bearing rows (cache serialization outweighs the recompute)
    val exact = dropExactDups(docs, textCol, idCol).select(idCol, textCol)
    val nearPairs = ngramJaccardPairs(exact, threshold, w, idCol, textCol)
    exact.join(nearPairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .select(idCol).orderBy(idCol)
  }

  /** Connected components over an undirected near-dup pair graph (columns
    * `id_a`, `id_b`): one (id, comp) row per vertex appearing in any pair,
    * where comp is the minimum id reachable in the vertex's component.
    *
    * Alternating large-star/small-star contraction (the Kiveris et al.
    * "Connected Components in MapReduce and Beyond" shape): each round every
    * vertex hooks its larger neighbors (large-star), then its smaller
    * neighbors and itself (small-star), onto the minimum of its closed
    * neighborhood. The edge set contracts toward one star per component in
    * O(log n) rounds REGARDLESS of diameter — min-label propagation needs
    * O(diameter) rounds, so a 1000-link dup chain costs ~1000 joins there
    * vs ~10 here — and the per-round group keys stay balanced as hubs
    * contract, where label propagation keeps re-shuffling every hot
    * component onto one key. Shuffle rows are slim (id, id) pairs
    * throughout; each round's result truncates lineage via LAZY
    * localCheckpoint — the round's convergence fingerprint is a full pass,
    * so it materializes the blocks in the same job (1 job/round, not 2); on
    * a real cluster prefer reliable `checkpoint` (survives executor loss
    * between rounds). Convergence is detected on an order-free edge-set
    * fingerprint (count + Σ xxhash64 as decimal — one tiny agg, no
    * set-difference join). */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    ccWithRounds(pairs, maxIters)._1

  /** [[connectedComponents]] plus the number of large+small-star rounds it
    * took to converge — exposed for the O(log n) convergence property test. */
  private[llm] def ccWithRounds(pairs: DataFrame, maxIters: Int = 20): (DataFrame, Int) = {
    // LAZY checkpoint of the slim (id_a, id_b) projection: the pair
    // generation upstream (shingle explode + bucket gather + Jaccard) is
    // the expensive part, and BOTH the vertex labels and the edge set read
    // it — without this the final label action re-ran the whole pair
    // pipeline a second time just to enumerate vertices (r15, guide §2.4:
    // remove redundant passes). Lazy (eager = false) so materialization
    // rides the first fingerprint job instead of costing its own.
    val pairs0 = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    // every endpoint gets a label row, including vertices whose only pairs
    // are reflexive (id_a == id_b) — those carry no edge but are still "in
    // a pair" per the contract, and must come out labeled with themselves
    val verts = pairs0.select(col("id_a").as("id"))
      .union(pairs0.select(col("id_b").as("id"))).distinct()
    // star edges (u, v): u currently hooks onto v (v < u after small-star)
    var edges = pairs0.select(col("id_a").as("u"), col("id_b").as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(false)

    // (r15 note: an explicit repartition("u") per star — so the aggregate
    // and the rehook join share one exchange — was built and MEASURED
    // WORSE under AQE: AQE coalesces the non-pinned exchange, the
    // downstream consumers stop being co-partitioned, and the job count
    // ROSE 33 → 41. Rejected; the implicit per-consumer exchanges stay.)
    // large-star: every vertex points its LARGER neighbors at the min of
    // its closed neighborhood; connectivity is preserved, long chains fold
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("cu"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, sym("u") === col("cu"))
        .where(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: direct edges large→small, then every vertex rehooks its
    // smaller neighbors AND itself onto its minimum neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val d = e.select(greatest(col("u"), col("v")).as("u"),
                       least(col("u"), col("v")).as("v")).distinct()
      val mins = d.groupBy("u").agg(min("v").as("m")).select(col("u").as("cu"), col("m"))
      val moved = d.join(mins, d("u") === col("cu"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("cu").as("u"), col("m"))
      moved.union(self).distinct()
    }
    // order-free multiset fingerprint: equal fingerprints ⇒ converged.
    // TWO independently-salted hash sums in the one tiny agg: a premature
    // stop now needs both 64-bit sums to collide between different edge
    // sets (~2⁻¹²⁸) — insurance over the single-sum 2⁻⁶⁴ at the cost of
    // one extra column on a one-row aggregate. Decimal sums because ANSI
    // long-sum can overflow.
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        sum(xxhash64(lit(0x9e3779b9L), col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }

    var fp = fingerprint(edges)
    var rounds = 0
    var done = fp._1 == 0L
    while (!done && rounds < maxIters) {
      // lazy checkpoint: the fingerprint aggregate is a FULL pass over the
      // round's edge set, so it both materializes the checkpoint blocks and
      // answers convergence in ONE job — the old eager checkpoint paid a
      // separate materialization job plus a second scan of the stored
      // blocks every round (2 jobs/round → 1; r15, guide §2.6)
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nfp = fingerprint(next)
      done = nfp == fp
      edges = next
      fp = nfp
      rounds += 1
    }
    // converged edges are stars (u → component min, one row per u); min()
    // is then a no-op, but if the iteration cap fired first it collapses a
    // still-multi-edged vertex to ONE (possibly stale) label instead of
    // leaking conflicting (id, comp) rows. Vertices never on the u side —
    // component roots, and reflexive-pair-only vertices — label themselves.
    val hooked = edges.groupBy(col("u")).agg(min(col("v")).as("comp"))
      .select(col("u").as("id"), col("comp"))
    val selfLabeled = verts.join(hooked, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    (hooked.union(selfLabeled), rounds)
  }

  /** Cluster-size distribution of the near-dup graph: how many transitive
    * dup clusters exist at each size. The pre-flight look before committing
    * to a dedup policy at 100 TB — a heavy tail here (one giant component)
    * usually means the threshold is too loose or a boilerplate shingle
    * bridges unrelated docs, and the drop rate will surprise you. Built on
    * [[connectedComponents]]; unpaired docs are not clusters and do not
    * appear. Two tiny hash-aggs over the already-slim (id, comp) labels. */
  def componentSizeDist(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** [[cleanCorpus]] with connected-components grouping instead of greedy
    * pair-drop: near-dup pairs form a graph, each component keeps exactly
    * its minimum id. For a chain a~b, b~c (a!~c) this keeps a and drops
    * b, c — one survivor per transitive dup cluster, the semantics a
    * production corpus dedup usually wants (greedy pair-drop over-drops
    * nothing here but under long chains keeps only the chain head too;
    * they differ when a dropped doc was another doc's only witness). */
  def cleanCorpusCC(docs: DataFrame, threshold: Double = 0.8, w: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val exact = dropExactDups(docs, textCol, idCol).select(idCol, textCol)
    val pairs = ngramJaccardPairs(exact, threshold, w, idCol, textCol)
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    exact.join(losers, Seq(idCol), "left_anti").select(idCol).orderBy(idCol)
  }

  /** [[cleanCorpus]] with the LSH-bounded pair space — the 100 TB variant:
    * near-dup pairs come from [[minHashNearDup]] (fixed-width signatures,
    * per-band bucket joins) instead of the exact all-shared-shingle join.
    * Same output columns; both ends verify pairs with exact Jaccard, so on
    * corpora where LSH recall is ~1 the two variants agree. */
  def cleanCorpusMinHash(docs: DataFrame, threshold: Double = 0.8, w: Int = 3,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val exact = dropExactDups(docs, textCol, idCol).select(idCol, textCol)
    val nearPairs = minHashNearDup(exact, threshold, idCol = idCol, textCol = textCol, w = w)
    exact.join(nearPairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .select(idCol).orderBy(idCol)
  }

  /** MinHash signatures: k minimums of seeded affine permutations of the
    * shingle hashes, as one codegen'd k×n loop
    * ([[graft.functions.MinHashSig]]). Signature width is constant (k longs)
    * regardless of document length — that constancy is what makes the LSH
    * join scale. */
  def minHashSignature(shingleHashArr: Column, k: Int = 128, seed: Long = 42L): Column =
    graft.functions.functions.minhash_sig(shingleHashArr, k, seed)

  /** MinHash + LSH banding near-duplicate pairs, verified with exact Jaccard.
    *
    * k=128 hashes in b=16 bands × r=8 rows: collision threshold
    * (1/b)^(1/r) ≈ 0.71, so ≥0.8-similar pairs collide in ≥1 band with
    * probability ~0.98+. Candidates from per-band bucket self-joins, then a
    * single exact-Jaccard verification pass over candidates only.
    *
    * Scale notes: everything that shuffles is slim — banded rows are
    * (id, band, band_hash), never the shingle arrays, and the expensive
    * signature pipeline is referenced exactly ONCE in the plan: candidate
    * pairs come from one `groupBy(band, bucket) → collect_list(id)` with
    * expression-level pair expansion, not a self-join (a self-join would make
    * Catalyst recompute signatures per side — observed 4× in the physical
    * plan). Pathological buckets (boilerplate) are dropped above `maxBucket`,
    * which simultaneously bounds the collect_list size and the pair fan-out —
    * the standard skew guard at web scale; singleton buckets can't pair. */
  def minHashNearDup(docs: DataFrame, threshold: Double = 0.8, k: Int = 128,
                     bands: Int = 16, seed: Long = 42L, maxBucket: Int = 200,
                     idCol: String = "doc_id", textCol: String = "text", w: Int = 3): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    graft.functions.SessionTuning.ensureActiveSession()
    // The shingle frame is referenced 3x in this plan (signature pipeline +
    // both sides of the verification join); persist so the tokenize+shingle
    // pass over the corpus runs once, not three times. MEMORY_AND_DISK spills
    // rather than OOMs; at 100 TB this materialization is the same "stage
    // artifact" a production near-dup pipeline writes between phases.
    // LIFECYCLE: the cache lives until session cleanup — callers invoking
    // this repeatedly in one long session should spark.catalog.clearCache()
    // (or unpersist via the storage UI) between corpora; an in-operator
    // unpersist would defeat the reuse the persist exists for.
    val sh = shingleDF(docs, idCol, textCol, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = bandedMinHash(sh, k, bands, seed)
    val buckets = banded.groupBy("band", "bh").agg(collect_list("id").as("ids"))
      .where(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
    val pairs = buckets.select(explode(flatten(transform(col("ids"),
        a => transform(filter(col("ids"), b => a < b), b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // SHUFFLE_HASH hints behind the corpus-size gate (see [[hintMinBytes]]):
    // size estimates through explode→dropDuplicates (pairs) and a cold
    // InMemoryRelation (sh) are guesses, and at sf10 Spark chose to BROADCAST
    // both — including the candidate-PAIR frame, whose row count is
    // Σ cluster² on a dup-heavy corpus (the sweep measured a 771 s
    // single-core broadcast-build grind; 24.7M pairs on the reps=100
    // fixture). Neither side of a near-dup verification join is
    // broadcastable at corpus scale; the shuffled hash join builds on the
    // per-partition slice of the doc-count-bounded shingle frame and streams
    // the pair frame. Below the gate (toy corpora) broadcast IS the right
    // plan, so the hint is withheld and Spark's choice stands.
    val hintGate = wantShuffleHash(docs)
    val verified = pairs
      .join(gateHint(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), hintGate), "id_a")
      .join(gateHint(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), hintGate), "id_b")
    verified.select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** (id, band, bh) LSH bucket keys of every document: k-hash MinHash
    * signature sliced into `bands` bands, each band hashed to one 64-bit
    * bucket key — the shared banding stage of [[minHashNearDup]] and
    * [[minHashBucketRegistry]] (identical expressions, so both bucket
    * identically). */
  private[llm] def bandedMinHash(sh: DataFrame, k: Int, bands: Int, seed: Long): DataFrame = {
    val r = k / bands
    val sig = sh.select(col("id"), minHashSignature(col("sh"), k, seed).as("sig"))
    val bandStructs = (0 until bands).map(bIdx =>
      struct(lit(bIdx).as("band"), xxhash64(slice(col("sig"), bIdx * r + 1, r)).as("bh")))
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Persistable MinHash-LSH bucket-representative REGISTRY of a corpus
    * (r14 verdict #2): one (band, bh, rep_id) row per occupied LSH bucket,
    * rep = min doc id (the deterministic first-arrival representative
    * whenever ids are arrival-ordered). Slim by construction — ~20 bytes
    * per bucket, independent of bucket popularity and document length:
    * texts, shingle sets and signatures never enter the artifact, so the
    * registry a daily near-dedup job carries across days is
    * bucket-count-sized, not corpus-sized. Registries FOLD
    * ([[mergeMinHashRegistries]]). */
  def minHashBucketRegistry(docs: DataFrame, k: Int = 128, bands: Int = 16,
                            seed: Long = 42L, idCol: String = "doc_id",
                            textCol: String = "text", w: Int = 3): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    graft.functions.SessionTuning.ensureActiveSession()
    bandedMinHash(shingleDF(docs, idCol, textCol, w), k, bands, seed)
      .groupBy("band", "bh").agg(min(col("id")).as("rep_id"))
  }

  /** Fold two bucket registries (yesterday's registry + today's batch) into
    * one: per-bucket min rep id. Merge ≡ rescan (a fold of per-batch
    * registries equals [[minHashBucketRegistry]] of the concatenated
    * corpus) whenever ids are assigned batch-monotonically (first arrival
    * wins); property-tested in DedupSpec. */
  def mergeMinHashRegistries(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("band", "bh").agg(min(col("rep_id")).as("rep_id"))

  /** Batch-incremental MinHash-LSH near-dedup (r14 verdict #2): clean a new
    * ingest batch against the persisted bucket registry of the prior
    * corpus — the steady-state daily job (near-dedup today's crawl against
    * yesterday's corpus) that re-running [[minHashNearDup]] over the union
    * would pay a full-corpus rescan for.
    *
    * Candidates:
    *   - cross-batch: a batch doc colliding with a registry bucket pairs
    *     with that bucket's REPRESENTATIVE (the only per-bucket state the
    *     registry holds, so recall is rep-relative; a bucket with two
    *     registry rows pairs with both reps);
    *   - within-batch: every non-min member of a batch bucket pairs with
    *     the bucket min — an id-ordered fold with NO `maxBucket` cap: a
    *     boilerplate bucket costs one pair per member.
    *
    * One driver-merged candidate pass, in the reference's shape of
    * per-partition results merged on the driver (`rdd.py:2347-2366`):
    *   1. one action collects the batch's (id, band, bh) banding, which
    *      materializes the persisted shingles and banding once;
    *   2. the driver pairs each bucket's non-min members with its min id;
    *   3. one action streams the registry against the batch's distinct
    *      (band, bh) keys, broadcast, and the driver pairs every rep of a
    *      hit bucket with each member;
    *   4. the distinct (id, cand) pairs are BROADCAST: streamed
    *      (newDocs ∪ priorDocs) (id, text) rows join them map-side, so only
    *      candidate docs are shingled and no text crosses a shuffle; each
    *      pair gets EXACT shingle Jaccard against the persisted batch
    *      shingles, and the matches are collected;
    *   5. the driver elects the min cand per id (ids compare by their
    *      column's Catalyst ordering);
    *   6. one action collects newDocs' ids; the driver gives each its
    *      winner and sorts them (nulls first, as `orderBy` does).
    * The probe and the verify are skipped when they have no input. The
    * build runs these jobs and returns a local frame whose collection runs
    * no job.
    *
    * Driver state is batch-sized: `bands` banding rows per batch doc, at
    * most `bands` bucket-min pairs plus the hit buckets' rep pairs per
    * batch doc, one verified row per pair, one winner and one result row
    * per doc. Spark's `spark.driver.maxResultSize` fails an oversized
    * collect loudly.
    *
    * Output: one row per batch doc — (idCol, dup_of, jaccard) with
    * dup_of = min verified match (NULL ⇒ the doc survives). Requires
    * globally unique ids across `newDocs` and `priorDocs`; a registry rep
    * missing from `priorDocs` is no candidate.
    *
    * Seeded-hash tier (xxhash64 signatures — no SQL mirror, declared
    * **omit**); [[nearDupCleanAgainstPrior]] is the oracle-bearing exact
    * verifier of the same incremental clean, and this face's drops are a
    * subset of that face's drops (property-tested in DedupSpec). */
  def minHashDedupAgainstRegistry(newDocs: DataFrame, registry: DataFrame,
                                  priorDocs: DataFrame, threshold: Double = 0.8,
                                  k: Int = 128, bands: Int = 16, seed: Long = 42L,
                                  idCol: String = "doc_id", textCol: String = "text",
                                  w: Int = 3): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    graft.functions.SessionTuning.ensureActiveSession()
    val spark = newDocs.sparkSession
    // driver-built frames ride one-slice RDDs, not LocalRelations: the
    // optimizer rewrites a LocalRelation's rows in every rule that touches it
    def local(rows: Seq[Row], fields: StructField*): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(fields))
    // the batch shingles feed the banding and the verify: one tokenize
    // pass; released once the verify has run
    val sh = shingleDF(newDocs, idCol, textCol, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the slim (id, band, bh) banding stays cached after the call: a
    // same-batch `minHashBucketRegistry` fold reads it instead of re-running
    // the MinHash signature loop. The SESSION owns it: a per-batch driver
    // should `spark.catalog.clearCache()` between batches.
    val banded = bandedMinHash(sh, k, bands, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idType = banded.schema("id").dataType
    // registry reps and batch ids meet in one cand column of their union type
    val candType = registry.select("rep_id").union(banded.select("id")).schema.head.dataType
    val byId = catalystOrdering(idType)
    // 1. the banding, rows (id, id as a cand, band, bh) grouped by bucket;
    // a null id is never a bucket min, as under Spark's `min`
    val members = banded.select(col("id"), col("id").cast(candType), col("band"), col("bh"))
      .collect().filterNot(_.isNullAt(0)).groupBy(r => (r.getInt(2), r.getLong(3)))
    val pairs = scala.collection.mutable.TreeSet.empty[(Any, Any)](
      Ordering.Tuple2(byId, catalystOrdering(candType)))
    // 2. within-batch pairs
    members.values.foreach { ms =>
      val m = ms.minBy(_.get(0))(byId)
      ms.foreach(r => if (byId.compare(r.get(0), m.get(0)) != 0) pairs += (r.get(0) -> m.get(1)))
    }
    // 3. cross-batch pairs
    if (members.nonEmpty) {
      val keys = local(members.keys.toSeq.map { case (b, h) => Row(b, h) },
        StructField("band", IntegerType), StructField("bh", LongType))
      broadcast(keys)
        .join(registry.select(col("band"), col("bh"), col("rep_id").cast(candType)), Seq("band", "bh"))
        .collect()
        .foreach(r => members((r.getInt(0), r.getLong(1))).foreach(m => pairs += (m.get(0) -> r.get(2))))
    }
    // 4. the verify
    val cand = local(pairs.toSeq.map { case (i, c) => Row(i, c) },
      StructField("id", idType), StructField("cand", candType))
    val text = (d: DataFrame) => d.select(col(idCol).as("cand"), col(textCol).as("text"))
    val verified = shingled(text(newDocs).unionByName(text(priorDocs))
        .join(broadcast(cand), "cand"), w)
      .select(col("id"), col("cand"), col("sh").as("sh_b"))
      .join(sh.select(col("id"), col("sh").as("sh_a")), "id")
      .select(col("id"), col("cand"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
    val matches = if (pairs.isEmpty) Array.empty[Row] else verified.collect()
    // banded's buffers are loaded, so this non-cascading uncache keeps them
    sh.unpersist()
    // 5. the election: verified is unique per (id, cand), so it is tie-free
    val byCand = catalystOrdering(verified.schema("cand").dataType)
    val best = scala.collection.mutable.TreeMap.empty[Any, Row](byId)
    matches.foreach { r =>
      if (best.get(r.get(0)).forall(b => byCand.lt(r.get(1), b.get(1)))) best(r.get(0)) = r
    }
    // 6. the result
    val ids = newDocs.select(col(idCol))
    val rows = ids.collect().map(_.get(0)).sorted(byId).map { i =>
      Option(i).flatMap(best.get).fold(Row(i, null, null))(w => Row(i, w.get(1), w.get(2)))
    }
    graft.dist.Binning.local(spark, Seq(ids.schema.head.copy(name = idCol),
      verified.schema("cand").copy(name = "dup_of", nullable = true),
      verified.schema("jaccard").copy(nullable = true)), rows.toSeq)
  }

  /** Catalyst's ordering of `dt`, over the external values a collect returns. */
  private def catalystOrdering(dt: DataType): Ordering[Any] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val rows = InterpretedOrdering.forSchema(Seq(dt))
    new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        rows.compare(InternalRow(toCatalyst(a)), InternalRow(toCatalyst(b)))
    }
  }

  /** Exact verifier tier of [[minHashDedupAgainstRegistry]]: the same
    * incremental clean of a new batch against a prior corpus, with
    * candidates from the exact shared-shingle index instead of LSH bucket
    * collisions — complete recall below the `maxBucket` boilerplate cap,
    * so the LSH face's drops are a subset of this face's drops
    * (property-tested), and every output value is cross-engine mirrorable
    * (the oracle rebuilds the shingle sets from n-gram STRINGS; equal to
    * the engine's xxhash64 shingle keys as long as the hash is injective
    * on the corpus — the same equivalence the [[ngramJaccardPairs]] oracle
    * rides). Candidate pairs: (batch doc, prior doc) and (batch doc,
    * smaller-id batch doc) sharing ≥1 shingle whose doc frequency over
    * prior ∪ batch is ≤ `maxBucket`. Output schema matches the LSH face:
    * (idCol, dup_of, jaccard), dup_of = min verified match, NULL ⇒
    * survives. */
  def nearDupCleanAgainstPrior(newDocs: DataFrame, priorDocs: DataFrame,
                               threshold: Double = 0.8, w: Int = 3,
                               maxBucket: Int = 200, idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    val ex = shingleDF(newDocs, idCol, textCol, w)
      .select(col("id"), lit(true).as("isNew"), size(col("sh")).as("n"),
        explode(col("sh")).as("h"))
      .unionByName(shingleDF(priorDocs, idCol, textCol, w)
        .select(col("id"), lit(false).as("isNew"), size(col("sh")).as("n"),
          explode(col("sh")).as("h")))
    val buckets = ex.groupBy("h")
      .agg(collect_list(struct(col("id"), col("n"), col("isNew"))).as("ms"))
      .where(size(col("ms")) >= 2 && size(col("ms")) <= maxBucket)
    val eps = lit(1e-9)
    // a = batch member, b = its candidates (prior, or batch with smaller
    // id); the size-ratio prefilter is Jaccard-implied (see
    // ngramJaccardPairs) so the threshold filter below sees the same pairs
    val pairs = buckets.select(explode(flatten(transform(
        filter(col("ms"), a => a.getField("isNew")), a =>
        transform(
          filter(col("ms"), b =>
            (!b.getField("isNew") || b.getField("id") < a.getField("id")) &&
              !(b.getField("id") === a.getField("id")) &&
              a.getField("n") * lit(threshold) <= b.getField("n") + eps &&
              b.getField("n") * lit(threshold) <= a.getField("n") + eps),
          b => struct(a.getField("id").as("id"), b.getField("id").as("cand"),
            a.getField("n").as("n_a"), b.getField("n").as("n_b")))))).as("p"))
      .select(col("p.id").as("id"), col("p.cand").as("cand"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
    val verified = pairs.groupBy("id", "cand")
      .agg(count(lit(1)).as("n_inter"), first(col("n_a")).as("n_a"),
        first(col("n_b")).as("n_b"))
      .select(col("id"), col("cand"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
    // one-pass winner election, same argument as the LSH face (r15): one
    // row per (id, cand) upstream ⇒ min_by is tie-free and elects exactly
    // the min + join-back pair, without executing `verified` twice
    val best = verified.groupBy("id")
      .agg(min_by(struct(col("cand"), col("jaccard")), col("cand")).as("m"))
      .select(col("id"), col("m.cand").as("dup_of"), col("m.jaccard").as("jaccard"))
    newDocs.select(col(idCol).as("id"))
      .join(best, Seq("id"), "left")
      .select(col("id").as(idCol), col("dup_of"), col("jaccard"))
      .orderBy(idCol)
  }

  /** 64-bit SimHash over the token multiset: for each bit j, sum +1/−1 by bit
    * j of xxhash64(token); the sign vector packs into one long
    * ([[graft.functions.SimHashPack]] — one codegen'd 64×n loop, map-only).
    * Near-dups are pairs within small Hamming distance, found via the
    * 4×16-bit pigeonhole banding (hd ≤ 3 ⇒ ≥1 equal chunk). */
  def simHash(text: Column): Column =
    graft.functions.functions.simhash_pack(
      transform(TextAnalysis.tokens(text), t => xxhash64(t)))

  /** SimHash near-duplicate pairs within `maxHamming` (default 3), candidates
    * via 16-bit chunk equality (pigeonhole), exact Hamming verification. */
  def simHashNearDup(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 200,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hammingNearDup(docs.select(col(idCol).as("id"), simHash(col(textCol)).as("sig")),
      maxHamming, maxBucket)

  /** Near-dup pairs over ANY 64-bit signature frame (id, sig) within
    * `maxHamming`: 16-bit pigeonhole bands (≤3 flipped bits cannot touch
    * all 4 bands) → capped bucket pair expansion → exact Hamming verify.
    * The signature-agnostic core shared by [[simHashNearDup]] (text) and
    * [[Multimodal.phashNearDup]] (perceptual image hashes). */
  def hammingNearDup(withSig: DataFrame, maxHamming: Int = 3,
                     maxBucket: Int = 200): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    val chunkStructs = (0 until 4).map(c => struct(lit(c).as("chunk"),
      shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL)).as("cv")))
    val chunked = withSig.select(col("id"), col("sig"), explode(array(chunkStructs: _*)).as("cc"))
      .select(col("id"), col("sig"), col("cc.chunk").as("chunk"), col("cc.cv").as("cv"))
    // One groupBy + expression-level pair expansion (see minHashNearDup):
    // the signature pipeline stays single-reference in the plan, and the
    // (id, sig) struct rides inside the bucket so no verify re-join needed.
    val buckets = chunked.groupBy("chunk", "cv")
      .agg(collect_list(struct(col("id"), col("sig"))).as("ms"))
      .where(size(col("ms")) >= 2 && size(col("ms")) <= maxBucket)
    val pairs = buckets.select(explode(flatten(transform(col("ms"),
        a => transform(filter(col("ms"), b => a.getField("id") < b.getField("id")),
          b => struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
            bit_count(a.getField("sig").bitwiseXOR(b.getField("sig"))).as("hamming")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.hamming").as("hamming"))
      .dropDuplicates("id_a", "id_b")
    pairs.where(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /** Latest-version compaction: keep each key's newest row by
    * (`tsCol`, `tieCol`) — the CDC/upsert-log compaction pass every
    * incrementally-maintained table needs before analytics. ONE
    * map-side-combined hash-agg via `max_by` (no sort, no ranking window —
    * the agg buffer holds exactly one payload struct per key, so the
    * shuffle carries one row per key per partition). `tieCol` makes the
    * winner deterministic when timestamps collide. */
  def latestByKey(df: DataFrame, keys: Seq[String],
                  tsCol: String, tieCol: String): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val rest = df.columns.toIndexedSeq.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(rest.map(col): _*),
        struct(col(tsCol), col(tieCol))).as("__latest"))
      .select(keys.map(col) ++ rest.map(c => col(s"__latest.$c")): _*)
  }

  /** Snapshot delta: classify every id as added / removed / changed between
    * two corpus snapshots — the CDC audit that tells an incremental
    * pipeline what actually moved between crawls (and how much recompute
    * the downstream near-dup/index stages owe).
    *
    * Scale shape: each side reduces to (id, 64-bit content hash) BEFORE the
    * full-outer join, so the exchange carries 16 bytes/row instead of
    * document text — "changed" means hash inequality, which at 64 bits
    * misclassifies a changed pair only on an xxhash64 collision (~n²/2⁶⁵;
    * for byte-exact certainty diff the texts of the emitted "changed"
    * sliver downstream, the same verify-the-candidates discipline as the
    * near-dup operators). Unchanged ids are dropped — the output is the
    * actionable delta, sized by churn, not by corpus. */
  def snapshotDiff(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val ha = a.select(col(idCol).as("id"), xxhash64(col(textCol)).as("__ha"))
    val hb = b.select(col(idCol).as("id"), xxhash64(col(textCol)).as("__hb"))
    ha.join(hb, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed"))
      .where(col("status").isNotNull)
      .select(col("id").as(idCol), col("status"))
      .orderBy(idCol)
  }

  /** Content-hash index of a corpus snapshot — the stored artifact an
    * incremental ingest pipeline deduplicates new batches against. Slim by
    * construction: one 8-byte hash per distinct document. */
  def hashIndex(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(xxhash64(col(textCol)).as("h")).distinct()

  /** Incremental exact dedup: drop new-batch docs whose content hash is
    * already in `index` (a [[hashIndex]] of all prior snapshots), then
    * keep-one (min id) within the batch. The daily-ingest shape at 100 TB:
    * the anti-join and keep-one agg both shuffle only (id, hash) — document
    * text never crosses an exchange, and the index side is hashes only.
    * Returns surviving ids; callers semi-join back for payloads and append
    * the survivors' hashes to the index for the next batch. */
  def dedupAgainstIndex(newDocs: DataFrame, index: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withH = newDocs.select(col(idCol), xxhash64(col(textCol)).as("__h"))
    withH.join(index.select(col("h").as("__h")).distinct(), Seq("__h"), "left_anti")
      .groupBy("__h").agg(min(col(idCol)).as(idCol))
      .select(idCol).orderBy(idCol)
  }

  /** All strings obtainable from `k` by deleting exactly one character —
    * the SymSpell blocking primitive (pure HOF expression, map-only). */
  private def del1(k: Column): Column =
    when(length(k) > 0,
      transform(sequence(lit(1), length(k)),
        i => concat(k.substr(lit(1), i - 1), k.substr(i + 1, length(k)))))
      .otherwise(array().cast("array<string>"))

  /** Edit-distance near-dup pairs over a short key (a title, or here the
    * lowercased first `keyLen` chars): symmetric-delete (SymSpell) blocking.
    * Each key emits every variant reachable by deleting ≤ `maxDist` chars;
    * two keys within Levenshtein distance d share at least one variant (for
    * any optimal edit script, deleting the substituted/deleted positions
    * from one side and the substituted/inserted positions from the other
    * leaves the identical common subsequence — ≤ d deletions each). So
    * candidate generation is RECALL-COMPLETE and exact `levenshtein`
    * verification makes the result exact.
    *
    * Scale: variants hash to 8-byte keys before the shuffle (the key text
    * itself never crosses an exchange until the slim verify join);
    * C(keyLen, ≤maxDist) variants per row is the cost — keep the key short
    * (titles/prefixes, not documents) and maxDist ≤ 2, which is exactly the
    * regime SymSpell runs spell-correction at web scale. `maxBucket` guards
    * the same boilerplate-key blowup as [[minHashNearDup]], with the same
    * documented recall consequence on capped buckets. */
  def editDistanceNearDup(docs: DataFrame, maxDist: Int = 1, keyLen: Int = 24,
                          maxBucket: Int = 200,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxDist == 1 || maxDist == 2, "maxDist must be 1 or 2")
    require(keyLen >= 1, "keyLen must be >= 1")
    graft.functions.SessionTuning.ensureActiveSession()
    val keyed = docs.select(col(idCol).as("id"),
      substring(lower(col(textCol)), 1, keyLen).as("k"))
    val d1 = del1(col("k"))
    val variants =
      if (maxDist == 1) array_distinct(concat(array(col("k")), d1))
      else array_distinct(concat(array(col("k")), d1,
        flatten(transform(d1, v => del1(v)))))
    val sigs = keyed.select(col("id"), explode(variants).as("v"))
      .select(col("id"), xxhash64(col("v")).as("h"))
    val buckets = sigs.groupBy("h").agg(collect_list("id").as("ids"))
      .where(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
    val pairs = buckets.select(explode(flatten(transform(col("ids"),
        a => transform(filter(col("ids"), b => a < b), b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val hintGate = wantShuffleHash(docs)
    pairs
      // SHUFFLE_HASH for the same reason as minHashNearDup's verification
      // joins (gated the same way — see [[hintMinBytes]]): estimates
      // through the explode'd pair frame are guesses and sf10 planned BOTH
      // joins as broadcasts, including the pair frame
      .join(gateHint(keyed.select(col("id").as("id_a"), col("k").as("k_a")), hintGate), "id_a")
      .join(gateHint(keyed.select(col("id").as("id_b"), col("k").as("k_b")), hintGate), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("k_a"), col("k_b")).as("dist"))
      .where(col("dist") <= maxDist)
      .orderBy("id_a", "id_b")
  }

  /** Benchmark decontamination: flag training documents sharing at least one
    * token `n`-gram with any eval document, reporting how many DISTINCT eval
    * n-grams each contaminated doc contains. The standard pre-training
    * hygiene pass (e.g. 8–13-gram overlap against held-out eval sets).
    *
    * Scale: the eval n-gram set is distinct-ed and BROADCAST (eval suites are
    * tiny next to a training corpus), so the training side is one map-only
    * explode + broadcast-hash semi-join — no shuffle of training data at all;
    * the only exchange is the final per-doc count over matched (doc, ngram)
    * pairs. N-grams compare as strings here for oracle checkability; at
    * 100 TB hash them to 8-byte keys first (cf. [[shingleHashes]]). */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val evalGrams = eval
      .select(explode(TextAnalysis.tokenNgrams(TextAnalysis.tokens(col(textCol)), n)).as("ngram"))
      .distinct()
    train.select(col(idCol).as("doc_id"),
        explode(array_distinct(
          TextAnalysis.tokenNgrams(TextAnalysis.tokens(col(textCol)), n))).as("ngram"))
      .join(broadcast(evalGrams), Seq("ngram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_ngrams"))
      .orderBy("doc_id")
  }

  /** Sketch-tier decontamination PREFLIGHT: per train source, estimate how
    * many of its distinct n-grams also occur in the eval split — from theta
    * sketches, before anything joins. At 100 TB this is the pass that
    * decides which sources even need the exact [[decontaminate]] join (and
    * in what order): the corpus is consumed by one mergeable hash aggregate
    * per side, and the per-source estimates come from intersecting a
    * source-count-row frame of KB sketches against ONE broadcast eval
    * sketch. Output per source: estimated distinct n-grams, estimated
    * eval-shared n-grams, and the shared fraction.
    *
    * Same error contract as [[sourceOverlapTheta]]: exact below 2^lgK
    * distinct entries per operand, documented relative standard error
    * above. Property-tested against the exact join in DedupSpec. */
  def decontaminateTheta(train: DataFrame, eval: DataFrame, n: Int = 8,
                         lgK: Int = 12, textCol: String = "text"): DataFrame = {
    // theta_sketch_agg is a built-in TypedImperativeAggregate with NO graft
    // facade in the tree — deliver the hash-path tuning here (r14 verdict #1)
    graft.functions.SessionTuning.ensureActiveSession()
    // grams as rolling window hashes (codegen NgramHashes): the sketch only
    // needs each distinct gram as an opaque 64-bit key, so the O(L·n)
    // slice+concat_ws+xxhash64 string tree the exact tier keeps for oracle
    // mirroring is pure waste here — measured ~130 s/scan at sf10 with the
    // gram strings built only to be hashed and discarded (SCALE.md §11)
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(array_distinct(
          graft.functions.functions.ngram_hashes(
            TextAnalysis.tokens(col(textCol)), n))).as("ng"): _*)
    val trainSk = grams(train, col("source"))
      .groupBy("source").agg(theta_sketch_agg(col("ng"), lgK).as("sk"))
    val evalSk = grams(eval).agg(theta_sketch_agg(col("ng"), lgK).as("esk"))
    val own = theta_sketch_estimate(col("sk"))
    val shared = theta_sketch_estimate(theta_intersection(col("sk"), col("esk")))
    trainSk.crossJoin(broadcast(evalSk))
      .select(col("source"),
        round(own, 3).as("est_ngrams"),
        round(shared, 3).as("est_eval_shared"),
        round(shared / own, 6).as("est_shared_frac"))
      .orderBy("source")
  }

  /** Cross-source contamination matrix: for every source pair (a < b), the
    * number of distinct token n-grams appearing in BOTH sources — the
    * "which of my corpus feeds copy from each other" audit that decides
    * dedup ordering and source trust.
    *
    * Scale shape: per-doc `array_distinct` n-grams explode to (source, gram)
    * rows; ONE hash-agg per gram builds `collect_set(source)` — the set (and
    * the a<b pair array expanded from it) is bounded by the number of
    * SOURCES, a small categorical, and partial aggregation caps map-side
    * sets the same way, so a hot n-gram never builds an unbounded row. The
    * final matrix agg is at most sources² rows. Grams shuffle as 8-byte
    * xxhash64 keys, not ~50-byte strings (a 2⁻⁶⁴ collision could merge two
    * grams' source sets — the same accepted risk as [[dropExactDups]]). */
  /** C4-style cross-document span dedup: each document is cut into
    * consecutive NON-overlapping `spanTokens`-token spans (the tail span may
    * be shorter), and a span occurrence survives only if it is globally
    * unique or it is the canonical first occurrence — minimum (doc_id,
    * span_idx) lexicographically — of its text. The cleaned corpus keeps
    * per-doc counts and the rebuilt text of surviving spans in order. (The
    * reference C4 pipeline dedupes three-sentence spans; this corpus has no
    * sentence punctuation, so the span unit is a fixed token window.)
    *
    * Scale shape: span extraction is map-only (`sequence` starts → `slice` →
    * posexplode); the winner per span text is
    * `groupBy(xxhash64(span)).agg(min(struct(doc_id, span_idx)))` — the
    * full-corpus shuffle carries (8-byte hash, id, idx) rows, never the span
    * text, mirroring [[dropExactDups]]; survivors rejoin on the hash and the
    * doc rebuild is a bounded per-doc `sort_array(collect_list)` (list size
    * ≤ spans per doc — document-bounded, not corpus-bounded). */
  def spanDedup(docs: DataFrame, spanTokens: Int = 10,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    spanDedupImpl(docs, None, spanTokens, textCol, idCol)

  /** Distinct span-hash REGISTRY of a corpus — the persistable artifact
    * [[spanDedupAgainstRegistry]] cleans new batches against (the span
    * sibling of [[hashIndex]]; same pattern as [[sourceSketches]]' daily
    * folds). Slim by construction: one 8-byte hash per distinct span.
    * Registries fold by union-distinct: that of two registries equals the
    * registry of the concatenated corpora, so at 100 TB a new ingest batch
    * extends the registry without rescanning any prior corpus. */
  def spanRegistry(docs: DataFrame, spanTokens: Int = 10,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be >= 1")
    val toks = docs.select(TextAnalysis.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 1)
    // span hashes straight off the joined token buffer (r16): identical
    // values to xxhash64(concat_ws(" ", slice(...))), no span strings built
    toks.select(explode(graft.functions.functions.shingle_window_hashes(
        col("toks"), spanTokens, stride = spanTokens, fullOnly = false)).as("h"))
      .distinct()
  }

  /** Incremental face of [[spanDedup]]: clean a NEW batch against a
    * [[spanRegistry]] of everything already ingested. A span occurrence
    * survives iff its span is NOT in the registry AND it is the winner
    * (min (id, span_idx)) within the batch — with an empty registry this
    * IS `spanDedup(batch)` (the anti-join drops nothing). Arrival order
    * decides cross-batch winners (first batch claims the span), the same
    * first-wins contract as [[dedupAgainstIndex]]. The registry side of
    * the anti-join is hashes only. */
  def spanDedupAgainstRegistry(newDocs: DataFrame, registry: DataFrame,
                               spanTokens: Int = 10, textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame =
    spanDedupImpl(newDocs, Some(registry), spanTokens, textCol, idCol)

  private def spanDedupImpl(docs: DataFrame, registry: Option[DataFrame],
                            spanTokens: Int, textCol: String,
                            idCol: String): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be >= 1")
    graft.functions.SessionTuning.ensureActiveSession()
    val toks = docs.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 1)
    // span starts 1, 1+k, 1+2k, ... (1-based for slice)
    val starts = sequence(lit(1), size(col("toks")), lit(spanTokens))
    val spanArr = transform(starts, st => concat_ws(" ", slice(col("toks"), st, lit(spanTokens))))
    // The surviving occurrence of EVERY distinct span is exactly its winner
    // (when a span occurs once, that occurrence IS the min), so the whole
    // dedup signal reduces to one hash-agg whose shuffle carries only
    // (8-byte hash, partial-min (id, idx)) — span text never crosses an
    // exchange (plan-asserted in DedupSpec). No occurrence join-back exists.
    // span hashes straight off the joined token buffer (r16): identical
    // values to xxhash64(span string) — posexplode's span_idx is the same
    // window index; span STRINGS are only built in the final rebuild
    // projection for surviving docs
    val occ = toks
      .select(posexplode(graft.functions.functions.shingle_window_hashes(
          col("toks"), spanTokens, stride = spanTokens, fullOnly = false))
          .as(Seq("span_idx", "h")), col("id"))
      .select(col("h"), struct(col("id"), col("span_idx")).as("occ"))
    // incremental face: registry spans are already claimed by a prior
    // batch — the anti-join carries 8-byte hashes on both sides
    val fresh = registry.fold(occ)(reg =>
      occ.join(reg.select(col("h")).distinct(), Seq("h"), "left_anti"))
    val winners = fresh.groupBy("h").agg(min(col("occ")).as("keep"))
    val keepIdxs = winners
      .groupBy(col("keep.id").as("id"))
      .agg(sort_array(collect_list(col("keep.span_idx"))).as("keep_idxs"))
    // rebuild map-side from the doc's own token stream: the only
    // corpus-sized exchange is this one id-keyed join (the winner rollup
    // rides the same id partitioning); kept-index lists are doc-bounded
    toks.join(keepIdxs, Seq("id"), "left")
      .select(col("id"), spanArr.as("spans"),
        coalesce(col("keep_idxs"), array().cast("array<int>")).as("keep_idxs"))
      .select(col("id").as(idCol),
        size(col("spans")).cast("bigint").as("n_spans"),
        size(col("keep_idxs")).cast("bigint").as("n_spans_kept"),
        concat_ws(" ", transform(col("keep_idxs"),
          i => element_at(col("spans"), i + 1))).as("text_clean"))
      .orderBy(idCol)
  }

  /** Substring-level exact dedup — the arbitrary-length duplicate-substring
    * removal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", ExactSubstr), re-expressed Spark-native.
    * The reference implementation builds one suffix array over the whole
    * corpus (inherently single-machine); the distributed equivalent is
    * SLIDING stride-1 `minTokens`-token shingles + coverage marking:
    * any substring of ≥ minTokens tokens shared between two locations —
    * at ANY alignment — produces L−k+1 duplicated shingles that jointly
    * COVER it, so merging covered positions excises the full duplicate,
    * where [[spanDedup]]'s non-overlapping windows only drop aligned
    * copies. The canonical FIRST occurrence of each shingle (min
    * (doc_id, start)) is kept, so exactly one copy of every duplicated
    * region survives (the paper's keep-one convention).
    *
    * Output per doc: token count, kept-token count, merged duplicate-run
    * count, and the rebuilt text of surviving tokens in order.
    *
    * Scale shape: shingling is map-only; the global signal is ONE
    * hash-agg over `xxhash64(shingle)` whose shuffle carries (8-byte
    * hash, id, start) — shingle TEXT never crosses an exchange — and one
    * hash-keyed sort-merge join back to occurrences (1 winner row per
    * distinct shingle; a hot shingle skews the probe side only, which
    * AQE skew-split handles). Stride-1 shingling makes the exchange
    * n_tokens-proportional — that is the price of substring-EXACTNESS
    * (the suffix array pays the same n·log n); production pipelines run
    * minTokens=50 where the dup density, and hence the join-back, is
    * sparse. Per-doc rebuild state (covered index set, run merge) is
    * document-bounded, never corpus-bounded. */
  def substringDedup(docs: DataFrame, minTokens: Int = 10,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    substringDedupImpl(docs, minTokens, textCol, idCol, rollingHash = false)

  /** Scale tier of [[substringDedup]]: identical coverage-marking algebra,
    * but the per-window 64-bit gram keys come from the rolling
    * [[graft.functions.NgramHashes]] expression instead of
    * `xxhash64(concat_ws(slice(...)))` — each token hashes ONCE and the
    * window key rolls in O(1), so the stride-1 pass does O(L) work per
    * document with ZERO transient window strings (the sf10 sweep measured
    * the string-materialized form's gram building as its dominant cost —
    * the same Offender-5 lesson as the theta sketch tiers). Hash VALUES
    * differ from the oracle tier's, which is immaterial here: grams are
    * opaque distinct keys, so kept/excised decisions — and therefore every
    * output row — are identical except under a 64-bit collision
    * (DedupSpec pins row-for-row parity with [[substringDedup]]). No
    * DuckDB oracle for the same reason as the other `*_fast` tiers: the
    * rolling polynomial isn't SQL-expressible; the parity property test is
    * the correctness contract. */
  def substringDedupFast(docs: DataFrame, minTokens: Int = 10,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    substringDedupImpl(docs, minTokens, textCol, idCol, rollingHash = true)

  /** Gram-hash version stamped into substring registries: 1 = the oracle
    * tier's `xxhash64(window string)`, 2 = the fast tier's rolling
    * [[graft.functions.NgramHashes]] values — DISJOINT hash universes
    * (same rule as [[GramHashVersion]]), so the consumer refuses a
    * mismatched registry loudly instead of silently excising nothing. */
  private def substringHashV(rollingHash: Boolean): Int = if (rollingHash) 2 else 1

  /** The stride-1 k-shingle occurrence stream (h, id, st) both substring
    * tiers and the registry builder share. */
  private def substringOcc(docs: DataFrame, k: Int, textCol: String,
                           idCol: String, rollingHash: Boolean): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
    if (rollingHash) {
      // O(L) per doc: token hashes computed once, window keys rolled —
      // no window-string materialization. posexplode's 0-based pos p is
      // the window at token start p+1 (1-based), same alignment as below.
      toks.where(col("n") >= k)
        .select(col("id"), posexplode(
          graft.functions.functions.ngram_hashes(col("toks"), k)).as(Seq("p", "h")))
        .select(col("h"), col("id"), (col("p") + 1).as("st"))
    } else {
      // sliding shingles: start p+1 (1-based) for p-th of n-k+1 windows.
      // r16: window hashes come from the byte-slice ShingleWindowHashes
      // loop — VALUE-identical to xxhash64(concat_ws(" ", slice(toks, st,
      // k))) (hash_v=1 universe unchanged), zero window strings built.
      toks.where(col("n") >= k)
        .select(col("id"), posexplode(graft.functions.functions
          .shingle_window_hashes(col("toks"), k)).as(Seq("p", "h")))
        .select(col("h"), col("id"), (col("p") + 1).as("st"))
    }
  }

  /** Distinct stride-1 shingle-hash REGISTRY of a corpus — the substring
    * sibling of [[spanRegistry]] (and the ExactSubstr family's persisted
    * artifact at 100 TB: n_tokens-proportional, but 8 bytes per distinct
    * shingle and mergeable by union-distinct). `hash_v` stamps which hash
    * universe built it; [[substringDedupAgainstRegistry]] refuses a
    * mismatch loudly at execution. */
  def substringRegistry(docs: DataFrame, minTokens: Int = 10,
                        textCol: String = "text", idCol: String = "doc_id",
                        rollingHash: Boolean = false): DataFrame = {
    require(minTokens >= 2, "minTokens must be >= 2")
    substringOcc(docs, minTokens, textCol, idCol, rollingHash)
      .select(col("h")).distinct()
      .withColumn("hash_v", lit(substringHashV(rollingHash)))
  }

  /** Incremental face of [[substringDedup]]: clean a NEW batch against a
    * [[substringRegistry]] of everything already ingested. A shingle
    * occurrence is covered (excised) iff its hash is in the registry — the
    * prior corpus holds the canonical copy — OR it repeats within the
    * batch and is not the batch's min (id, st) occurrence. With an empty
    * registry this IS `substringDedup(batch)`. Coverage-merge semantics
    * (union of [st, st+k-1], run counting) are the shared rebuild. */
  def substringDedupAgainstRegistry(newDocs: DataFrame, registry: DataFrame,
                                    minTokens: Int = 10, textCol: String = "text",
                                    idCol: String = "doc_id",
                                    rollingHash: Boolean = false): DataFrame =
    substringDedupImpl(newDocs, minTokens, textCol, idCol, rollingHash,
      registry = Some(registry))

  private def substringDedupImpl(docs: DataFrame, minTokens: Int,
                                 textCol: String, idCol: String,
                                 rollingHash: Boolean,
                                 registry: Option[DataFrame] = None): DataFrame = {
    require(minTokens >= 2, "minTokens must be >= 2")
    graft.functions.SessionTuning.ensureActiveSession()
    val k = minTokens
    val toks = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
    val occ = substringOcc(docs, k, textCol, idCol, rollingHash)
    // incremental face: registry-held shingles are covered WHOLESALE (the
    // prior corpus owns the canonical copy); within-batch winner election
    // runs over the fresh occurrences only. The hash_v pin fails loudly on
    // a registry built under the other hash universe (assert_true is null
    // on pass) — same discipline as mergeSourceSketches.
    val hv = substringHashV(rollingHash)
    val regH = registry.map(_.select(
      when(isnull(assert_true(col("hash_v") === lit(hv),
        format_string("substring registry hash_v %s does not match this " +
          "tier's hash universe %s — rebuild the registry", col("hash_v"),
          lit(hv)))), col("h")).as("h")).distinct())
    val regCovered = regH.map(r =>
      occ.join(r, Seq("h"), "left_semi").select(col("id"), col("st")))
    val fresh = regH.fold(occ)(r => occ.join(r, Seq("h"), "left_anti"))
    val winners = fresh.groupBy("h")
      .agg(min(struct(col("id"), col("st"))).as("keep"),
        count(lit(1)).as("n_occ"))
    // an occurrence is excised iff its shingle repeats and it is not the
    // canonical first occurrence (2^-64 xxhash64 collision caveat shared
    // with dropExactDups/spanDedup)
    val freshDups = fresh.join(winners, "h")
      .where(col("n_occ") > 1 &&
        !(col("id") === col("keep.id") && col("st") === col("keep.st")))
      .select(col("id"), col("st"))
    val dups = regCovered.fold(freshDups)(_.unionByName(freshDups))
    val covered = dups.groupBy("id")
      .agg(sort_array(collect_set(col("st"))).as("ds"))
    toks.join(covered, Seq("id"), "left")
      .select(col("id"), col("toks"), col("n"),
        coalesce(col("ds"), array().cast("array<int>")).as("ds"))
      .select(col("id").as(idCol),
        col("n").cast("bigint").as("n_tokens"),
        // covered token positions = union of [st, st+k-1]; kept = complement
        // (array_except preserves first-array order, so tokens stay ordered)
        when(col("n") === 0, array().cast("array<int>"))
          .otherwise(array_except(sequence(lit(1), col("n")),
            array_distinct(flatten(transform(col("ds"),
              s => sequence(s, s + lit(k - 1))))))).as("kept"),
        // run merge over sorted starts: same run iff st - prev_start <= k
        // (all intervals have length k, so prev END is prev_start + k - 1)
        aggregate(col("ds"),
          struct(lit(0).as("runs"), lit(-1000000000).as("prev")),
          (acc, s) => struct(
            (acc.getField("runs") +
              when(s - acc.getField("prev") > k, 1).otherwise(0)).as("runs"),
            s.as("prev")),
          acc => acc.getField("runs")).cast("bigint").as("n_dup_runs"),
        col("toks"))
      .select(col(idCol), col("n_tokens"),
        size(col("kept")).cast("bigint").as("n_tokens_kept"),
        col("n_dup_runs"),
        concat_ws(" ", transform(col("kept"),
          i => element_at(col("toks"), i))).as("text_clean"))
      .orderBy(idCol)
  }

  def sourceOverlap(docs: DataFrame, n: Int = 8, textCol: String = "text"): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    // starvation-gated spread (r15, guide §2.5): tokenize + n-gram +
    // distinct + hash all run map-side, and a one-row-group fixture is ONE
    // scan split. This IS a text exchange, acceptable here and only here
    // because this tier is the declared small-N VERIFIER (sourceOverlapTheta
    // is the 100 TB face) and no slim-exchange contract pins it; the gate
    // never fires on multi-split inputs. Counts are multiset-exact —
    // results identical under any partitioning.
    graft.functions.Rebalance
      .spreadGated(docs.select(col("source"), col(textCol)), 0)
      // r16: hash-then-distinct off the joined token buffer instead of
      // distinct-gram-strings-then-hash. The downstream groupBy("ng") makes
      // the two UNCONDITIONALLY equivalent (a within-doc hash collision
      // collapses to one group either way); gram strings are never built.
      .select(col("source"),
        explode(array_distinct(graft.functions.functions
          .shingle_window_hashes(TextAnalysis.tokens(col(textCol)), n))).as("ng"))
      .groupBy("ng").agg(collect_set(col("source")).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(filter(
        flatten(transform(col("ss"), a => transform(col("ss"), b => struct(a.as("a"), b.as("b"))))),
        p => p.getField("a") < p.getField("b"))).as("p"))
      .groupBy(col("p").getField("a").as("source_a"), col("p").getField("b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy("source_a", "source_b")
  }

  /** Sketch tier of [[sourceOverlap]]: pairwise source overlap estimated
    * from per-source theta sketches (DataSketches, built into Spark 4) of
    * the distinct n-gram hash sets.
    *
    * Output per pair (a < b): estimated `|A∩B|` (`est_shared_ngrams`,
    * via `theta_intersection`), estimated `|A∪B|`, and the estimated
    * n-gram Jaccard — the quantities a curation pass uses to decide which
    * corpus sources are near-copies of each other.
    *
    * Scale design — this is the 100 TB path where [[sourceOverlap]] is the
    * verifier: the exact tier shuffles every multi-source n-gram hash and
    * expands per-hash source pairs (corpus-sized exchange, quadratic in the
    * sources sharing a hash). Here the corpus is consumed by ONE mergeable
    * hash aggregate producing a ≤ 2^lgK-entry sketch (KBs) per source;
    * everything pairwise happens on a |sources|-row frame of sketch blobs.
    * The pairwise self-join is a broadcast nested loop by construction —
    * bounded by the source count, never by the corpus, so it is the correct
    * plan at any data scale (declared in SparkEntryContractSpec).
    *
    * Error: theta sketches are EXACT below 2^lgK distinct entries per
    * source; above that, intersections carry the documented relative
    * standard error (~1/√(2^lgK) per operand). Estimates are rounded to 3
    * decimals so results are stable across partitionings (theta estimates
    * themselves are deterministic for a fixed input set — the sketch keeps
    * the k smallest hashes, an order-insensitive set). */
  def sourceOverlapTheta(docs: DataFrame, n: Int = 8, lgK: Int = 12,
                         textCol: String = "text"): DataFrame =
    overlapFromSketches(sourceSketches(docs, n, lgK, textCol))

  /** Gram-hash schema version stamped into every sketch-registry row.
    * v1 = `xxhash64(concat_ws(...))` window strings (pre-r9 registries),
    * v2 = rolling [[graft.functions.NgramHashes]] values. The two produce
    * DISJOINT hash universes: folding or intersecting sketches built under
    * different versions yields silently meaningless overlap estimates
    * (≈0 intersection between genuinely identical corpora), so every
    * registry operation refuses mixed versions loudly instead. */
  val GramHashVersion: Int = 2

  /** Per-source theta sketch REGISTRY: (source, sk, hash_v) rows, one
    * KB-sized mergeable sketch of the source's distinct n-gram hash set.
    * This is the persistable half of the sketch tier — at 100 TB the
    * registry is written next to each ingest batch, and
    * [[mergeSourceSketches]] folds a new day's sketches into the running
    * registry WITHOUT rescanning any prior corpus.
    * [[overlapFromSketches]] then prices any audit (pairwise overlap,
    * Jaccard) off the tiny registry alone. `hash_v` carries
    * [[GramHashVersion]] so cross-run folds can detect a gram-hash scheme
    * change (a v1 registry predating the column fails loudly at analysis
    * when folded — unionByName requires it). */
  def sourceSketches(docs: DataFrame, n: Int = 8, lgK: Int = 12,
                     textCol: String = "text"): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    // rolling window hashes, not concat strings — see decontaminateTheta
    docs.select(col("source"),
        explode(array_distinct(
          graft.functions.functions.ngram_hashes(
            TextAnalysis.tokens(col(textCol)), n))).as("ng"))
      .groupBy("source").agg(theta_sketch_agg(col("ng"), lgK).as("sk"))
      .withColumn("hash_v", lit(GramHashVersion))
  }

  /** Fold two sketch registries (e.g. yesterday's registry + today's
    * batch) into one: theta unions are associative and commutative, so
    * the merged registry is equivalent to sketching the concatenated
    * corpora — in exact mode (below 2^lgK distinct entries per source)
    * IDENTICAL, property-tested in DedupSpec. Refuses (throws at
    * execution) if the two registries carry different `hash_v` stamps —
    * their sketches live in disjoint hash universes and the union would
    * be silently meaningless. */
  def mergeSourceSketches(a: DataFrame, b: DataFrame, lgK: Int = 12): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    a.unionByName(b).groupBy("source")
      .agg(theta_union_agg(col("sk"), lgK).as("sk"),
        min(col("hash_v")).as("vmin"), max(col("hash_v")).as("vmax"))
      .select(col("source"), col("sk"),
        // assert_true is null on pass, throws on a cross-version fold
        when(isnull(assert_true(col("vmin") === col("vmax"),
          format_string("mergeSourceSketches: cross-version sketch fold " +
            "(hash_v %s vs %s) — rebuild the older registry", col("vmin"),
            col("vmax")))), col("vmin")).as("hash_v"))
  }

  /** Pairwise overlap/Jaccard estimates off a sketch registry alone —
    * no corpus access; see [[sourceOverlapTheta]] for semantics. Refuses
    * cross-version sketch pairs (see [[GramHashVersion]]). */
  def overlapFromSketches(sk: DataFrame): DataFrame = {
    val inter = theta_sketch_estimate(theta_intersection(col("a.sk"), col("b.sk")))
    val union = theta_sketch_estimate(theta_union(col("a.sk"), col("b.sk")))
    val sameVersion = isnull(assert_true(col("a.hash_v") === col("b.hash_v"),
      format_string("overlapFromSketches: cross-version sketches " +
        "(hash_v %s vs %s) — rebuild the older registry", col("a.hash_v"),
        col("b.hash_v"))))
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .where(sameVersion)
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        round(inter, 3).as("est_shared_ngrams"),
        round(union, 3).as("est_union_ngrams"),
        round(inter / union, 6).as("est_jaccard"))
      .orderBy("source_a", "source_b")
  }
}
