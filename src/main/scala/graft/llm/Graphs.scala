package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames.
  *
  * Scale design: every iteration is ONE edge-keyed join plus one node-keyed
  * aggregate — the canonical distributed PageRank shape. Nothing ever
  * collects to the driver; per-iteration lineage is truncated with
  * `localCheckpoint` (same posture as [[Dedup.connectedComponents]]) so a
  * 10-iteration plan doesn't compound into a 10-deep shuffle DAG replay on
  * failure. All rank arithmetic runs in DECIMAL(38,18): decimal sums are
  * exact under any partitioning, so ranks are bit-deterministic — float
  * PageRank would drift with shuffle order and be untestable.
  */
object Graphs {

  /** Damped PageRank over a directed edge list.
    *
    * `rank_{t+1}(v) = (1-d) + d * Σ_{u→v} rank_t(u) * w(u→v) / W_out(u)`
    * (the per-node formulation, fixed-point sum = |V| on dangling-free
    * graphs — asserted by the conservation property test).
    *
    * Weights: optional (`weightCol`); non-positive-weight edges carry no
    * vote and are dropped up front (a cosine-weighted kNN graph can carry
    * negative similarities; a negative vote has no PageRank semantics).
    * Dangling nodes (no surviving out-edge) simply contribute nothing —
    * the simplified variant; on kNN graphs every node has exactly k
    * out-edges so no mass is lost. Curation use: rank over a near-dup /
    * similarity graph finds the most central (template-like) documents —
    * high-rank nodes are what boilerplate pruning inspects first. */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst",
               weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    val dec = "decimal(38,18)"
    val w = weightCol.map(c => col(c).cast(dec)).getOrElse(lit(1).cast(dec))
    val e0 = edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst"), w.as("w"))
      .where(col("w") > 0)
    // per-edge vote share, precomputed once: w / W_out(src)
    val outW = e0.groupBy("esrc").agg(sum(col("w")).as("ow"))
    // lazy checkpoints: these existed to truncate the logical plan so the
    // 10-iteration loop cannot compound planning cost — eager=false keeps
    // exactly that truncation (the returned frame wraps a LogicalRDD at
    // build time) without paying a separate materialization job each; the
    // blocks persist on first use and every later iteration reads them
    // (r15, guide §2.6: fewer scheduling barriers, same lineage cut).
    // (r15 note: repartition("esrc") before this checkpoint — so each
    // iteration's edge-side join consumes the preserved partitioning — was
    // built and measured NEUTRAL-to-worse under AQE: the ranks side's
    // coalesced exchanges never co-partition with it, so the join
    // re-exchanges anyway. Rejected.)
    val e = e0.join(outW, "esrc")
      .select(col("esrc"), col("edst"), (col("w") / col("ow")).cast(dec).as("share"))
      .localCheckpoint(false)
    // one read of the checkpoint: a self-union would compute its blocks
    // twice, in two concurrent tasks of one stage
    val nodes = e.select(explode(array(col("esrc"), col("edst"))).as("id"))
      .distinct().localCheckpoint(false)
    var ranks = nodes.select(col("id"), lit(1).cast(dec).as("rank"))
    for (i <- 1 to iters) {
      val contribs = e.join(ranks, e("esrc") === ranks("id"))
        .select(col("edst").as("id"), (col("rank") * col("share")).cast(dec).as("c"))
      ranks = nodes.join(contribs.groupBy("id").agg(sum(col("c")).as("s")), Seq("id"), "left")
        .select(col("id"),
          (lit(1 - damping).cast(dec) +
            lit(damping).cast(dec) * coalesce(col("s"), lit(0).cast(dec))).cast(dec).as("rank"))
      // truncate lineage every few rounds; final iteration stays lazy so
      // callers keep a declarative plan to compose further
      if (i % 3 == 0 && i < iters) ranks = ranks.localCheckpoint(false)
    }
    ranks.select(col("id"), round(col("rank").cast("double"), 9).as("rank"))
      .orderBy("id")
  }

  /** Co-occurrence edge list from (group, item) memberships: an undirected
    * edge (a, b), a < b, for every item pair sharing at least `minGroups`
    * distinct groups. The classic market-basket / co-citation graph builder
    * (here: parts co-purchased in the same order).
    *
    * Scale shape: one shuffle collects each group's distinct item set, pair
    * expansion is a map-side nested `transform` over the sorted array (no
    * self-join — a join formulation would shuffle the membership table a
    * second time and materialize the same pairs through a join operator),
    * then one shuffle counts support per pair. Pair work is Σ_g |g|²,
    * bounded by per-group membership size (≤ 7 lines per TPC-H order),
    * never corpus²; groups too large for that bound should be capped
    * upstream exactly like dedup shingle buckets. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        minGroups: Long = 2): DataFrame = {
    graft.functions.SessionTuning.ensureActiveSession()
    // a null group is no group: rows with a null key must not vote support
    // (Spark's groupBy would otherwise pool them into one phantom group)
    df.select(col(groupCol).as("g"), col(itemCol).as("i"))
      .where(col("g").isNotNull)
      .groupBy("g").agg(sort_array(collect_set(col("i"))).as("items"))
      // ordered pairs from the sorted set: (items[ix], y) for y after ix —
      // canonical src < dst by construction
      .select(explode(expr(
        """flatten(transform(items, (x, ix) ->
          |  transform(slice(items, ix + 2, size(items)),
          |            y -> struct(x AS src, y AS dst))))""".stripMargin)).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n_groups"))
      .where(col("n_groups") >= minGroups)
  }

  /** Exact triangle count over an undirected edge list, the
    * degree-orientation ("node-iterator++") algorithm: orient every edge
    * from its lower-(degree, id) endpoint to the higher one, enumerate
    * wedges only from out-neighborhoods, and close each wedge against the
    * canonical edge set. Every triangle has exactly one vertex with two
    * out-edges into it under a total order, so each is counted once.
    *
    * Scale design: orientation bounds per-vertex wedge fan-out by the
    * out-degree, which the (degree, id) order caps at O(√m) on any graph
    * (the arboricity bound) — a star of degree 10⁶ generates ZERO wedges at
    * its hub instead of 10¹² pairs. All three steps are plain shuffles on
    * edge/vertex keys; nothing collects to the driver. Returns one row:
    * (n_nodes, n_edges, n_triangles). */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val (e, deg) = canonical(edges, srcCol, dstCol)
    val tri = closedTriangles(e, deg)
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nTri = tri.agg(count(lit(1)).as("n_triangles"))
    nNodes.crossJoin(nEdges).crossJoin(nTri)
  }

  /** Canonical undirected edge set + degree frame shared by the triangle
    * operators: (a < b), self-loops and duplicate edges dropped. */
  private def canonical(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame) = {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    (e, deg)
  }

  /** Closed triangles (u, a, b) from a canonical edge set: orient a→b iff
    * (deg(a), a) < (deg(b), b) — ties impossible (same id ⇒ self-loop,
    * already dropped); struct comparison gives the lexicographic
    * (degree, id) total order directly — then enumerate out-neighborhood
    * wedges and close each against the canonical set. Every triangle
    * appears exactly once, centered at its lowest-(degree, id) vertex. */
  private def closedTriangles(e: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = e
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("u"), col("e1.v").as("a"), col("e2.v").as("b"))
      .join(e, Seq("a", "b"), "left_semi")
  }

  /** Local clustering coefficient per node: 2·tri(v) / (deg(v)·(deg(v)−1)) —
    * how close each node's neighborhood is to a clique. The curation read:
    * on a near-dup/co-occurrence graph, high-coefficient nodes sit inside
    * dense template clusters; low-coefficient high-degree nodes are hubs
    * bridging unrelated content (prime manual-review candidates).
    *
    * Same degree-oriented wedge enumeration as [[triangleStats]], but each
    * closed triangle is exploded back to its three corners so tri(v) comes
    * from one node-keyed count. Degree-1 nodes have an undefined
    * coefficient and are excluded (deg ≥ 2 only). */
  def localClustering(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame = {
    val (e, deg) = canonical(edges, srcCol, dstCol)
    // a closed (u, a, b) is one triangle, credited to all three corners
    val triPerNode = closedTriangles(e, deg)
      .select(explode(array(col("u"), col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.where(col("deg") >= 2)
      .join(triPerNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(coalesce(col("n_tri"), lit(0L)) * lit(2.0) /
          (col("deg") * (col("deg") - 1)), 9).as("coeff"))
  }

  /** k-core: the maximal subgraph where every node keeps degree ≥ k,
    * computed by iterative peeling — drop all nodes with degree < k,
    * recompute degrees on the surviving subgraph, repeat to fixpoint. The
    * curation read on a near-dup graph: the k-core is the hard kernel of
    * heavily-duplicated content (boilerplate/template families) that
    * survives even after fringe members are removed; it's also the standard
    * densest-region seed for community mining.
    *
    * Each round is one degree aggregate plus two semi-joins of the edge
    * list against the survivor set — edge-keyed shuffles, node-sized
    * survivor state, lineage truncated per round. Peeling converges in at
    * most |V| rounds but in practice a handful (each round must delete ≥1
    * node or stop); `maxRounds` bounds the job count — if hit before the
    * fixpoint the result is a documented SUPERSET of the k-core (peeling
    * only ever removes nodes). Returns surviving (id, deg) with the
    * within-core degree. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 30,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    var (e, deg) = canonical(edges, srcCol, dstCol)
    // checkpoint the canonical edges once: the fixpoint check, the
    // semi-joins, and the degree recompute are separate actions that would
    // otherwise each rebuild the (possibly expensive) upstream edge lineage.
    // LAZY: the first fixpoint check's degree aggregate is a full pass over
    // e (the agg's map side computes every partition), so it materializes
    // the blocks in its own job — the eager version paid one extra job per
    // checkpoint for the same state (r15, guide §2.6)
    e = e.localCheckpoint(false)
    // each degree count reads its checkpoint once (a self-union would
    // compute the lazy blocks twice, in two concurrent tasks of one stage)
    def degrees(e: DataFrame) =
      e.select(explode(array(col("a"), col("b"))).as("id")).groupBy("id").agg(count(lit(1)).as("deg"))
    deg = degrees(e)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      // fixpoint ⟺ nothing fell below k this round (checked FIRST so a
      // converged graph costs one scan, not a checkpoint); the e checkpoint
      // below is the only per-round materialization — keep/deg recompute
      // from it, which is cheaper than persisting them each round
      if (deg.where(col("deg") < k).isEmpty) { converged = true }
      else {
        val keep = deg.where(col("deg") >= k).select(col("id"))
        e = e
          .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
          .localCheckpoint(false)
        deg = degrees(e)
      }
    }
    deg.where(col("deg") >= k)
  }

  /** Hop distances from a source node by iterative frontier expansion
    * (distributed BFS): each round joins the current frontier against the
    * adjacency list and anti-joins already-visited nodes. `maxHops` bounds
    * the rounds, so the job count is fixed up front; per-round state is the
    * (id, hops) visited frame — node-sized, never edge-sized, lineage
    * truncated each round like [[pageRank]]. Returns (id, hops) for every
    * node reached within `maxHops`. */
  def bfsHops(edges: DataFrame, source: Long, maxHops: Int = 6,
              srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val (e, _) = canonical(edges, srcCol, dstCol)
    // undirected adjacency: both directions of each canonical edge
    val adj = e.select(col("a").as("from"), col("b").as("to"))
      .union(e.select(col("b").as("from"), col("a").as("to")))
      .localCheckpoint(false) // materialized by round 1's count, reused after
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = Seq((source, 0)).toDF("id", "hops")
    var frontier = visited.select(col("id"))
    var hop = 0
    while (hop < maxHops) {
      hop += 1
      // ONE job per round (r15, guide §2.6): the count is a full pass, so
      // it materializes the lazy checkpoint AND answers the empty-frontier
      // stop in the same job — the old eager-checkpoint + isEmpty pair paid
      // two scheduling barriers per hop (and isEmpty's take(1) would leave
      // partitions unmaterialized, costing a fill-in job at job end)
      val next = adj.join(frontier, adj("from") === frontier("id"))
        .select(col("to").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .localCheckpoint(false)
      if (next.count() == 0L) { hop = maxHops }
      else {
        visited = visited.union(next.select(col("id"), lit(hop).as("hops")))
          .localCheckpoint(false) // blocks persist inside the next round's job
        frontier = next
      }
    }
    visited
  }
}
