package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines.
  *
  * Random `df.sample()` is the wrong tool for corpus curation: it is not
  * reproducible across runs/engines, not stable under re-partitioning, and
  * not invertible (you cannot later ask "was doc X in the sample?"). These
  * operators hash the document KEY instead, so membership is a pure function
  * of the id — re-runs, backfills, and cross-engine audits all agree, and
  * the sample is a consistent subset as the corpus grows (a doc never flips
  * in or out when unrelated docs arrive). Everything is map-only: sampling
  * at 100 TB is a scan with a cheap predicate, no shuffle at all.
  */
object Sampling {

  /** Knuth multiplicative hash of an int64 key, mod 2^32 — overflow-SAFE
    * for the FULL key space. `key * 2654435761` naively overflows int64 at
    * key ≈ 3.47e9 (ANSI mode throws; legacy mode wraps negative, which
    * made downstream `% buckets` go negative and silently over-select).
    * Instead reduce mod 2^32 first and split the multiply 16/16:
    * (k·A) mod 2^32 = ((k_hi·A mod 2^16)·2^16 + k_lo·A) mod 2^32, where
    * k = key mod 2^32 = k_hi·2^16 + k_lo. Every intermediate stays below
    * 2^49, so the arithmetic is exact in int64 for ANY key, and for keys
    * < 3.4e9 the value is bit-identical to the naive formula — the DuckDB
    * oracle SQL (which uses the naive form on test-scale ids) still
    * matches exactly. Result is always in [0, 2^32). */
  def knuth32(key: Column): Column = {
    val k  = pmod(key, lit(4294967296L))
    val kh = (k / lit(65536L)).cast("long")
    val kl = k % lit(65536L)
    ((kh * lit(2654435761L)) % lit(65536L) * lit(65536L) + kl * lit(2654435761L)) %
      lit(4294967296L)
  }

  /** [[knuth32]] folded to `buckets` buckets. Cross-engine checkable
    * (pure int64 arithmetic) AND total — defined for every int64 key. */
  def knuthBucket(key: Column, buckets: Int = 100): Column =
    knuth32(key) % lit(buckets)

  /** Keep `pct`% of rows, deterministically by key hash. */
  def hashSample(df: DataFrame, pct: Int, idCol: String = "doc_id"): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct must be 0..100")
    df.where(knuthBucket(col(idCol)) < pct)
  }

  /** Temperature-based mixture sampling — the standard multilingual/
    * multi-source rebalancing method (UniMax-style): target share_i ∝
    * cnt_i^α, so α=1 keeps natural proportions and α→0 approaches uniform;
    * this implementation pins **α = 1/2** (√cnt shares) because `sqrt` is
    * IEEE-correctly-rounded in every engine while general `pow` can differ
    * by an ulp across libms — the cross-engine-checkable point on the
    * temperature curve. Down-samples surplus strata to
    * `share_i · totalDocs` via the same Knuth-hash keep test as
    * [[targetMix]] (key-stable, reproducible, map-only after one tiny
    * stratum-count agg). The √cnt total folds over strata in sorted-key
    * order — mirrored verbatim in the oracle. Null strata drop. */
  def temperatureMix(df: DataFrame, strataCol: String, totalDocs: Long,
                     idCol: String = "doc_id"): DataFrame = {
    require(totalDocs >= 0, "totalDocs must be >= 0")
    val counts = df.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol).cast("string").as("s")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val tot = counts.foldLeft(0.0) { case (acc, (_, c)) => acc + math.sqrt(c.toDouble) }
    val thresh = counts.map { case (s, cnt) =>
      // mirrored verbatim: floor(least(1, sqrt(cnt)/tot*N/cnt)*10000)
      s -> math.floor(math.min(1.0,
        math.sqrt(cnt.toDouble) / tot * totalDocs / cnt) * 10000).toLong
    }
    val th = thresh.foldLeft(lit(-1L)) { case (acc, (s, t)) =>
      when(col(strataCol).cast("string") === s, lit(t)).otherwise(acc)
    }
    df.where(knuthBucket(col(idCol), 10000) < th)
  }

  /** Deterministic per-group k-sample: rank each group's rows by the Knuth
    * key hash (ties by id) and keep the first k — the reproducible,
    * key-stable stand-in for per-group reservoir sampling (a row keeps or
    * loses membership only if the GROUP's membership changes, not because
    * unrelated rows arrived). The workhorse behind fixed-size per-source
    * eval slices. One ranking window over slim (group, hash, id) rows;
    * at 100 TB pre-filter with [[hashSample]] so the window sorts a
    * down-sampled slice instead of the full corpus. */
  def hashTopKPerGroup(df: DataFrame, groupCol: String, k: Int,
                       idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val h = knuth32(col(idCol))
    val w = Window.partitionBy(groupCol).orderBy(h, col(idCol))
    df.withColumn("__rnk", row_number().over(w))
      .where(col("__rnk") <= k)
      .drop("__rnk")
  }

  /** Weighted deterministic sampling: each row's keep-probability is its
    * own `weightCol` (a [0,1] column — e.g. a quality score used as a
    * soft filter). Same key-hash machinery as [[hashSample]], so membership
    * stays reproducible and consistent; map-only. Rows with weight ≥ 1
    * always survive, ≤ 0 never do. */
  def weightedSample(df: DataFrame, weightCol: String, idCol: String = "doc_id"): DataFrame =
    df.where(knuthBucket(col(idCol)) < col(weightCol) * lit(100))

  /** EXACT-k weighted sample without replacement (Efraimidis–Spirakis
    * A-ES): each row draws a deterministic Knuth-hash uniform u ∈ (0,1)
    * and the k largest keys u^(1/w) are the sample — selection probability
    * proportional to weight, without replacement, in ONE pass. The
    * exact-count complement of [[weightedSample]]'s Bernoulli keep (which
    * cannot hit a target size). Keys round at 9 digits with an id
    * tiebreak — the engine's cross-engine float contract — so the sample
    * is deterministic and oracle-matchable; non-positive weights never
    * select. Scale shape: u and the key are map-only; selection is one
    * TakeOrdered(k) — no shuffle, no global sort, driver state k rows. */
  def weightedTopK(df: DataFrame, weightCol: String, k: Int,
                   idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // (knuth32 + 1) / (2^32 + 1): knuth32 ∈ [0, 2^32) for EVERY int64 id
    // (overflow-safe split multiply), so u ∈ (0, 1) strictly — pow never
    // sees u ≤ 0, the key is never NaN, and the descending sort cannot be
    // poisoned by NaN-ranks-first rows at production id scales.
    val u = (knuth32(col(idCol)) + lit(1.0)) / lit(4294967297.0)
    df.where(col(weightCol) > 0)
      .withColumn("__akey", round(pow(u, lit(1.0) / col(weightCol)), 9))
      .orderBy(col("__akey").desc, col(idCol))
      .limit(k)
      .drop("__akey")
  }

  /** Token-budget-constrained corpus selection: per group (source), take
    * documents in quality order (quality desc, doc_id asc) while the
    * cumulative token count BEFORE each document stays under
    * `budgetTokens` — the "fill each source's token budget with its best
    * documents" curation step (the last admitted doc may overflow the
    * budget; greedy-prefix semantics are deterministic and engine-exact).
    *
    * Scale shape: the quality/token signals are a map-only stage
    * ([[TextAnalysis.qualityScore]]); selection is ONE window over
    * `partitionBy(group)` carrying slim (group, doc_id, score, n_tokens)
    * rows — no global sort, parallel across groups, spill-safe within a
    * group. */
  def budgetSample(docs: DataFrame, groupCol: String, budgetTokens: Long,
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextAnalysis.qualitySignals(docs, textCol, keepCols = Seq(groupCol))
      .select(col(groupCol), col("doc_id"), col("quality_score"), col("n_tokens"))
    val w = Window.partitionBy(groupCol)
      .orderBy(col("quality_score").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.withColumn("cum_excl", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .where(col("cum_excl") < budgetTokens)
      .select(col(groupCol), col("doc_id"), col("quality_score"),
        col("n_tokens"), col("cum_excl"))
      .orderBy(groupCol, "doc_id")
  }

  /** Data-mixing sampler: hit a TARGET corpus composition. Given desired
    * per-stratum shares of a `totalDocs` budget (e.g. en 0.5 / de 0.3 of
    * 1M docs), the keep-rate for stratum s is
    * `min(1, share_s · totalDocs / count_s)` — strata with surplus data are
    * down-sampled to quota, strata short of quota keep everything (the
    * standard up-to-availability mixing rule; unlisted strata drop). Rates
    * quantize to 1/10000 resolution on the [[knuthBucket]] key hash, so
    * membership stays deterministic, reproducible, and consistent.
    *
    * Scale shape: one count agg (stratum-cardinality-bounded) collects to
    * the driver to derive rates; the sample itself is a map-only CASE
    * predicate over the scan — no shuffle touches data rows. */
  def targetMix(df: DataFrame, strataCol: String, shares: Map[String, Double],
                totalDocs: Long, idCol: String = "doc_id"): DataFrame = {
    require(shares.values.forall(s => s >= 0 && s <= 1), "shares must be 0..1")
    val counts = df.groupBy(col(strataCol).as("s")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val thresh = shares.toSeq.sortBy(_._1).map { case (s, share) =>
      val cnt = counts.getOrElse(s, 0L)
      // mirrored verbatim in the oracle: floor(least(1, share*N/cnt)*10000)
      s -> (if (cnt == 0) 0L
            else math.floor(math.min(1.0, share * totalDocs / cnt) * 10000).toLong)
    }
    val th = thresh.foldLeft(lit(0L)) { case (acc, (s, t)) =>
      when(col(strataCol) === s, lit(t)).otherwise(acc)
    }
    df.where(knuthBucket(col(idCol), 10000) < th)
  }

  /** Stratified deterministic sampling: per-stratum keep-percentages with a
    * default for unlisted strata — the "rebalance the language/source mix"
    * operator of a corpus pipeline. One CASE expression over the stratum
    * column; still map-only, still reproducible. */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       pctByStratum: Map[String, Int], defaultPct: Int = 0,
                       idCol: String = "doc_id"): DataFrame = {
    require((defaultPct +: pctByStratum.values.toSeq).forall(p => p >= 0 && p <= 100),
      "percentages must be 0..100")
    val pct = pctByStratum.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(strataCol) === s, lit(p)).otherwise(acc)
    }
    df.where(knuthBucket(col(idCol)) < pct)
  }

  /** Deterministic split assignment (train/val/test or any partition of the
    * key space): `splits` lists (name, pct) summing to 100; a row's split is
    * its [[knuthBucket]] against the cumulative thresholds. Reproducible,
    * key-stable (a doc keeps its split as the corpus grows — no leakage of
    * eval docs into train on re-runs), disjoint-and-exhaustive by
    * construction. Map-only CASE chain, no shuffle. */
  def assignSplits(df: DataFrame, splits: Seq[(String, Int)],
                   idCol: String = "doc_id"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0) && splits.map(_._2).sum == 100,
      "split pcts must be positive and sum to 100")
    val b = knuthBucket(col(idCol))
    val cum = splits.scanLeft(0)(_ + _._2).tail
    val assign = splits.zip(cum).tail
      .foldLeft(when(b < cum.head, lit(splits.head._1))) {
        case (acc, ((name, _), hi)) => acc.when(b < hi, lit(name))
      }
    df.withColumn("split", assign)
  }

  /** GROUP-keyed split assignment — the leakage-safe variant of
    * [[assignSplits]]: every row of a group (domain, source, author, dedup
    * cluster…) lands in the SAME split, so near-identical documents from one
    * origin can never straddle train/eval. The group's representative key is
    * its MINIMUM `idCol` — a stable int64 every engine derives identically —
    * fed through the same Knuth-hash bucket thresholds.
    *
    * Shape: one slim (group → min id) aggregate joined back on the group
    * column; group cardinality is origins, not rows, so the join side
    * broadcasts at any corpus size where the origin set fits (millions of
    * domains = a few MB of longs). Rows with a NULL group key are kept as
    * one group of their own (null-safe join) — a split assigner must never
    * drop rows. */
  def assignSplitsBy(df: DataFrame, splits: Seq[(String, Int)],
                     groupCol: String, idCol: String = "doc_id"): DataFrame = {
    // one copy of the threshold logic: the representative frame goes
    // through plain assignSplits keyed on the min-id column
    val rep = assignSplits(
      df.groupBy(col(groupCol).as("__grp")).agg(min(col(idCol)).as("__rep")),
      splits, idCol = "__rep").drop("__rep")
    // null-safe join: rows with a null group key form ONE group (keyed by
    // the smallest id among them) rather than silently vanishing — a split
    // assigner must never drop rows. The key is renamed on `rep`'s side so
    // the condition names two different columns.
    df.join(broadcast(rep), df(groupCol) <=> rep("__grp"))
      .drop("__grp")
  }
}
