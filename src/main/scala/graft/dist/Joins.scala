package graft.dist

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-side scale tooling: explicit skew handling.
  *
  * AQE's skew-join splitting handles moderate skew automatically (and stays
  * on in this engine's sessions); salting is the explicit tool for the case
  * AQE cannot fix — a SINGLE key so hot that one task cannot hold its rows.
  * The classic web-scale examples are the null/default key and boilerplate
  * join keys in training-data pipelines. */
object Joins {

  /** Salted equi-join: the skewed (big) side gets a uniform salt in
    * [0, salts); the small side is replicated once per salt value; the join
    * key becomes (key, salt), splitting each hot key across `salts` tasks.
    *
    * Output equals `big.join(small, keys, "inner")` exactly — the salt only
    * changes the partitioning, never the match set (every (key, salt)
    * combination of the big side finds the same small-side rows). Cost: the
    * small side shuffles `salts`× larger — size `salts` to the skew, not
    * higher. The salt is `rand(seed)`-derived: per-row, uniform, and needs
    * no semantic meaning because correctness never depends on its value. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int = 8, seed: Long = 42L): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val saltedBig = big.withColumn("__salt", (rand(seed) * salts).cast("int"))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicatedSmall, keys :+ "__salt").drop("__salt")
  }

  /** As-of join: each left row is matched to the LATEST right row with
    * `right.ts <= left.ts` in the same key group (the time-series join Spark
    * has no native operator for — quotes-to-trades, sensor-to-event, …).
    *
    * Implementation is the union-window technique, not a range join: tag the
    * sides, union them, sort each key group by `(ts, side, tie)` with right
    * rows first at equal ts (so equality matches), and carry the right
    * payload forward with `last(payload_struct, ignoreNulls)` over an
    * unbounded-preceding row frame. The payload rides in ONE struct so all
    * its fields come from the SAME right row (per-column `last` could mix
    * rows when payload fields are null).
    *
    * Scale: one shuffle of both inputs on `keys` + a sort — the cost of a
    * sort-merge join, with no candidate-pair explosion (a naive
    * `ts BETWEEN`-style range join is O(left×right) per key). Rows stream
    * through the running window in sorted order, so memory per task is O(1)
    * beyond the sort. `tieBreak` (a right-side column) makes the choice
    * among equal-ts right rows deterministic; pass it whenever right ts
    * values can collide within a key. */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String,
               rightPayload: Seq[String], tieBreak: Option[String] = None): DataFrame = {
    val leftRest = left.columns.toSeq.filterNot(c => keys.contains(c) || c == tsCol)
    val payloadStruct = struct(rightPayload.map(col): _*)
    val l2 = left.select(
      keys.map(col) ++ Seq(col(tsCol), lit(1).as("__side")) ++ leftRest.map(col) ++
        Seq(lit(null).cast(right.select(payloadStruct).schema.head.dataType).as("__pay"),
          lit(null).cast("long").as("__tie")): _*)
    val r2 = right.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__side")) ++
        leftRest.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(payloadStruct.as("__pay"),
          tieBreak.map(col(_).cast("long")).getOrElse(lit(0L)).as("__tie")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc, col("__tie").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2)
      .withColumn("__match", last(col("__pay"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(keys.map(col) ++ Seq(col(tsCol)) ++ leftRest.map(col) ++
        rightPayload.map(c => col(s"__match.$c").as(s"r_$c")): _*)
  }

  /** Forward as-of join: each left row matched to the EARLIEST right row
    * at-or-after its timestamp within the key ("what happened next") — the
    * mirror of [[asOfJoin]], same union-window shape: one shuffle on the
    * key, no pair explosion, O(1) running state per task. At equal ts the
    * left row sees the same-ts right row (at-or-AFTER is inclusive);
    * `tieBreak` picks the smallest among equal right timestamps. */
  def asOfJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String,
                      rightPayload: Seq[String], tieBreak: Option[String] = None): DataFrame = {
    val leftRest = left.columns.toSeq.filterNot(c => keys.contains(c) || c == tsCol)
    val payloadStruct = struct(rightPayload.map(col): _*)
    val l2 = left.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__side")) ++ leftRest.map(col) ++
        Seq(lit(null).cast(right.select(payloadStruct).schema.head.dataType).as("__pay"),
          lit(null).cast("long").as("__tie")): _*)
    val r2 = right.select(
      keys.map(col) ++ Seq(col(tsCol), lit(1).as("__side")) ++
        leftRest.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(payloadStruct.as("__pay"),
          tieBreak.map(col(_).cast("long")).getOrElse(lit(0L)).as("__tie")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc, col("__tie").asc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    l2.unionByName(r2)
      .withColumn("__match", first(col("__pay"), ignoreNulls = true).over(w))
      .where(col("__side") === 0)
      .select(keys.map(col) ++ Seq(col(tsCol)) ++ leftRest.map(col) ++
        rightPayload.map(c => col(s"__match.$c").as(s"r_$c")): _*)
  }

  /** Interval-overlap join: pairs whose CLOSED intervals [loA, hiA] and
    * [loB, hiB] overlap — sessions × maintenance windows, downtime ×
    * requests, any two interval sets. Spark's native plan for the overlap
    * conjunction is a nested-loop join (quadratic); this is the
    * interval-interval sibling of [[rangeJoin]] and plans as a hash
    * equi-join on a cell id.
    *
    * Cell bucketing with exactly-once emission: each interval explodes to
    * every cell it covers, so an overlapping pair meets in EVERY shared
    * cell; the join keeps only the cell containing max(loA, loB) — the
    * first cell both sides necessarily cover — so each pair emits exactly
    * once with no downstream distinct. The exact overlap predicate filters
    * same-cell non-overlaps. Size `cellWidth` near the typical interval
    * length: wider cells explode less but bucket more candidates. */
  def intervalJoin(a: DataFrame, loA: String, hiA: String,
                   b: DataFrame, loB: String, hiB: String,
                   cellWidth: Double): DataFrame = {
    require(cellWidth > 0, "cellWidth must be positive")
    // __cell is the operator's working column; a pre-existing one on either
    // input would be silently replaced by withColumn and corrupt the join
    Seq(a -> "a", b -> "b").foreach { case (df, side) =>
      require(!df.columns.contains("__cell"),
        s"intervalJoin: side '$side' already has a __cell column (reserved); rename it first")
    }
    val cellOf = (c: Column) => floor(c.cast("double") / lit(cellWidth)).cast("long")
    val ea = a.withColumn("__cell",
      explode(sequence(cellOf(col(loA)), cellOf(col(hiA)))))
    val eb = b.withColumn("__cell",
      explode(sequence(cellOf(col(loB)), cellOf(col(hiB)))))
    ea.join(eb, Seq("__cell"))
      .where(col(loA) <= col(hiB) && col(loB) <= col(hiA) &&
        col("__cell") === cellOf(greatest(col(loA), col(loB))))
      .drop("__cell")
  }

  /** 2-D box-overlap join: pairs whose axis-aligned rectangles
    * [xlo, xhi] × [ylo, yhi] intersect — bounding boxes × query regions,
    * value/time band products, the join behind `zorder_lineitem`'s
    * locality story. Spark plans the 4-inequality conjunction as a
    * nested-loop join (quadratic); this operator takes the dimensions
    * explicitly and plans as a hash equi-join on a 2-D grid cell id.
    *
    * The 1-D cell-bucketing of [[intervalJoin]] lifted to a grid: each
    * rectangle explodes to every (x-cell, y-cell) it covers, the sides
    * equi-join on the cell pair, and only the cell containing
    * (max(xloA, xloB), max(yloA, yloB)) — the first grid cell every
    * intersecting pair shares — emits, so each pair appears exactly once
    * with no downstream distinct. Replication is |x-cells| × |y-cells| per
    * row: size each width near that dimension's typical box extent, and
    * split the rare giant rectangle upstream. Column names must be
    * distinct across the two sides (same contract as [[intervalJoin]]). */
  def boxJoin(a: DataFrame, xloA: String, xhiA: String, yloA: String, yhiA: String,
              b: DataFrame, xloB: String, xhiB: String, yloB: String, yhiB: String,
              cellWidthX: Double, cellWidthY: Double): DataFrame = {
    require(cellWidthX > 0 && cellWidthY > 0, "cell widths must be positive")
    // __cx/__cy are the operator's working columns; a pre-existing one on
    // either input would be silently replaced by withColumn and corrupt the join
    Seq(a -> "a", b -> "b").foreach { case (df, side) =>
      Seq("__cx", "__cy").foreach { c =>
        require(!df.columns.contains(c),
          s"boxJoin: side '$side' already has a $c column (reserved); rename it first")
      }
    }
    def cellOf(w: Double)(c: Column) = floor(c.cast("double") / lit(w)).cast("long")
    val cx = cellOf(cellWidthX) _
    val cy = cellOf(cellWidthY) _
    val ea = a
      .withColumn("__cx", explode(sequence(cx(col(xloA)), cx(col(xhiA)))))
      .withColumn("__cy", explode(sequence(cy(col(yloA)), cy(col(yhiA)))))
    val eb = b
      .withColumn("__cx", explode(sequence(cx(col(xloB)), cx(col(xhiB)))))
      .withColumn("__cy", explode(sequence(cy(col(yloB)), cy(col(yhiB)))))
    ea.join(eb, Seq("__cx", "__cy"))
      .where(col(xloA) <= col(xhiB) && col(xloB) <= col(xhiA) &&
        col(yloA) <= col(yhiB) && col(yloB) <= col(yhiA) &&
        col("__cx") === cx(greatest(col(xloA), col(xloB))) &&
        col("__cy") === cy(greatest(col(yloA), col(yloB))))
      .drop("__cx", "__cy")
  }

  /** Range join: match each point row to every interval row with
    * `lo <= point <= hi` (both ends inclusive) — points-to-intervals is the
    * other join Spark lacks natively (IP-to-geolocation blocks, values to
    * overlapping bands, timestamps to campaign windows).
    *
    * Implementation is cell bucketing, not a nested-loop join: intervals
    * explode to the fixed-width cells they cover, points map to their ONE
    * containing cell, the sides equi-join on the cell id (hash join — the
    * naive `BETWEEN` condition plans as an O(points × intervals) BNLJ), and
    * the exact predicate filters inside the join. A point lives in exactly
    * one cell, so no dedup is needed. `cellWidth` trades replication for
    * selectivity: intervals replicate `(hi-lo)/cellWidth + 1` times, points
    * never replicate — size it near the typical interval width. A single
    * enormous interval (≫ cellWidth) replicates proportionally; cap or
    * split such outliers upstream. */
  def rangeJoin(points: DataFrame, ptCol: String, intervals: DataFrame,
                loCol: String, hiCol: String, cellWidth: Double): DataFrame = {
    require(cellWidth > 0, "cellWidth must be positive")
    // same reserved-column contract as intervalJoin/boxJoin
    Seq(points -> "points", intervals -> "intervals").foreach { case (df, side) =>
      require(!df.columns.contains("__cell"),
        s"rangeJoin: side '$side' already has a __cell column (reserved); rename it first")
    }
    val cellOf = (c: Column) => floor(c.cast("double") / lit(cellWidth)).cast("long")
    val iv = intervals.withColumn("__cell",
      explode(sequence(cellOf(col(loCol)), cellOf(col(hiCol)))))
    val pt = points.withColumn("__cell", cellOf(col(ptCol)))
    pt.join(iv, Seq("__cell"))
      .where(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("__cell")
  }

  /** Bloom-prefiltered semi-join: build a bloom filter over the (small-ish)
    * `dim` key set, probe it on the `fact` side BEFORE any exchange, then
    * finish with an exact semi-join. Output equals the plain semi-join
    * exactly — the bloom has no false negatives, and its false positives are
    * removed by the exact join; the bloom only changes HOW MANY fact rows
    * reach the shuffle.
    *
    * This is the manual form of Spark's runtime row-level filtering
    * (`spark.sql.optimizer.runtime.bloomFilter.*`, which injects the same
    * `BloomFilterAggregate`/`might_contain` pair automatically when the
    * build side is selective IN THE SAME QUERY). Reach for the explicit
    * operator when the key set comes from a separate pipeline stage — a
    * dedup drop-list, a contaminated-id set, yesterday's join keys — where
    * the optimizer cannot see it. At 100 TB the win is shuffling only the
    * ~matching fraction of the fact table instead of all of it.
    *
    * The bloom (`numBits`/8 bytes, default 1 MiB ≈ 1% fpp at 1M keys)
    * builds with a partial+final aggregate over `dim` and ships to the
    * probe side as a literal — the same driver-side hop Spark's own
    * runtime filter takes via its scalar subquery. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    expectedItems: Long = 1000000L,
                    numBits: Long = 8388608L): DataFrame = {
    val (probe, keys) = bloomProbe(dim, factKey, dimKey, expectedItems, numBits)
    fact.where(probe)
      .join(keys, col(factKey) === col("__bloom_key"), "left_semi")
  }

  /** Bloom-prefiltered ANTI-join: drop every `fact` row whose key appears in
    * `dim` — the drop-list shape of large-scale curation (dedup winners'
    * victim lists, contaminated-id sets, opt-out users) — without shuffling
    * the rows that obviously survive.
    *
    * The bloom has NO false negatives, so a fact row whose probe misses is
    * PROVABLY absent from the drop list and is kept with zero join work;
    * only the probe-positive sliver (true matches + fpp-rate false
    * positives) takes the exact anti-join that removes false positives.
    * Output equals `fact EXCEPT keys-match` exactly (null fact keys match
    * nothing and are kept, same as a plain left_anti). At 100 TB with a
    * ~1% drop list, ~99% of the fact table never reaches an exchange —
    * the same shuffle-avoidance win as [[bloomSemiJoin]], mirrored. */
  def bloomAntiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    expectedItems: Long = 1000000L,
                    numBits: Long = 8388608L): DataFrame = {
    val (probe, keys) = bloomProbe(dim, factKey, dimKey, expectedItems, numBits)
    val clean = fact.where(!probe) // bloom-negative: provably not in dim
    val suspects = fact.where(probe)
      .join(keys, col(factKey) === col("__bloom_key"), "left_anti")
    clean.unionByName(suspects)
  }

  /** Shared bloom build: aggregate `dim`'s hashed keys into a bloom literal
    * (driver-side hop, same as Spark's own runtime filter) and return the
    * probe predicate plus the distinct key frame for the exact finish. */
  private def bloomProbe(dim: DataFrame, factKey: String, dimKey: String,
                         expectedItems: Long, numBits: Long): (Column, DataFrame) = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val bloomAgg = new BloomFilterAggregate(
      Bridge.expression(xxhash64(col(dimKey))),
      Literal(expectedItems), Literal(numBits))
    val bloomBytes = dim
      .select(Bridge.column(bloomAgg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    // an EMPTY dim aggregates to a null bloom; might_contain(null, …) is
    // null, and where(null)/where(!null) both drop every row — which is
    // right for the semi side but silently empties the anti side. A
    // constant-false probe gives both joins their correct empty-dim
    // behavior: semi keeps nothing, anti keeps everything.
    val probe =
      if (bloomBytes == null) lit(false)
      else Bridge.column(BloomFilterMightContain(
        Literal(bloomBytes, BinaryType), Bridge.expression(xxhash64(col(factKey)))))
    (probe, dim.select(col(dimKey).as("__bloom_key")).distinct())
  }
}
