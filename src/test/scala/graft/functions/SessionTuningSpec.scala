package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._

/** r13 verdict #1: the ObjectHashAggregate sort-fallback threshold fix must
  * ride the LIBRARY'S integration paths, not just this repo's mains. An
  * untuned session planning a graft object aggregate past 128 keys per
  * partition silently replaces the bounded-state hash combine with a full
  * external sort of the aggregate input — the exact sf100 ENOSPC class
  * fixed in r13. This suite drives both consumer paths on FRESH sessions
  * (none of the shared test session's tuning) and proves the hash path at
  * runtime via the operator's own `numTasksFallBacked` metric. Both paths
  * must also leave the session in the same tuned state ([[assertTuned]]). */
class SessionTuningSpec extends SparkSpec {

  private val FallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  private val ExcludedRulesKey = "spark.sql.optimizer.excludedRules"
  private val InferFilters = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Build a genuinely fresh session over the shared SparkContext —
    * getOrCreate returns the shared one unless active+default are cleared
    * first; always restore them so later suites see the tuned session. */
  private def withFreshSession[A](build: SparkSession.Builder => SparkSession.Builder)
                                 (body: SparkSession => A): A = {
    spark.sparkContext // force the shared context to exist
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = build(SparkSession.builder()).getOrCreate()
      assert(fresh ne spark, "builder returned the shared session — test is vacuous")
      body(fresh)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  /** Group 1000 distinct keys in ONE partition through TopKAgg — 8x past
    * the 128-key Spark default, so an untuned session WOULD fall back. */
  private def thousandKeyTopK(s: SparkSession) = {
    import s.implicits._
    (0 until 4000).map(i => (i % 1000L, i.toDouble)).toDF("id", "x")
      .coalesce(1)
      .groupBy("id")
      .agg(TopKAgg.top_k_by(col("x"), col("id"), 2).as("top"))
  }

  /** Sum of `numTasksFallBacked` across every ObjectHashAggregate in the
    * EXECUTED plan (AQE final plan included). */
  private def fallbackTasks(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    // AQE wraps the final plan in leaf nodes `collect` will not descend
    // into (AdaptiveSparkPlanExec and the per-stage QueryStageExec both
    // hold their subtree as a field, not a child) — recurse explicitly
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[ObjectHashAggregateExec] =
      p.collect {
        case o: ObjectHashAggregateExec => Seq(o)
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      }.flatten
    val ns = nodes(df.queryExecution.executedPlan)
    assert(ns.nonEmpty, "no ObjectHashAggregate in the executed plan — " +
      "the agg planned differently and this assertion proves nothing:\n" +
      df.queryExecution.executedPlan)
    ns.map(_.metrics("numTasksFallBacked").value).sum
  }

  /** `explode` over a projected (attribute) array: the shape on which
    * `InferFiltersFromGenerate` adds a `size(a) > 0` filter. Returns whether
    * that filter is present in the optimized plan. */
  private def explodePlan(s: SparkSession): Boolean =
    s.range(10).select(split(col("id").cast("string"), "").as("a"))
      .select(explode(col("a"))).queryExecution.optimizedPlan.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Size])
        case _ => false
      }

  /** The tuned state both integration paths must produce. */
  private def assertTuned(s: SparkSession): Unit = {
    assert(s.conf.get(ExcludedRulesKey).split(',').contains(InferFilters))
    assert(s.conf.get(FallbackKey) == SessionTuning.fallbackThreshold.toString,
      "the object-agg tuning was not delivered")
    assert(!explodePlan(s), "InferFiltersFromGenerate still added a size(...) > 0 filter")
  }

  test("the metric harness itself detects the 128-key fallback (guards " +
    "against a metric rename making this suite vacuous)") {
    val saved = spark.conf.get(FallbackKey)
    // build FIRST: the facade re-tunes a default-valued session at build
    // time (that is the feature), so forcing 128 must happen afterwards —
    // the threshold is read at execution
    val df = thousandKeyTopK(spark)
    spark.conf.set(FallbackKey, "128")
    try {
      assert(fallbackTasks(df) > 0,
        "1000 keys/partition at threshold 128 did not trip the fallback " +
          "metric — the runtime assertion below proves nothing")
    } finally spark.conf.set(FallbackKey, saved)
  }

  test("extensions-only session (the documented production wiring) gets the " +
    "threshold and runs a >128-key object agg with ZERO sort-fallback tasks") {
    withFreshSession(_.withExtensions(new GraftExtensions)) { fresh =>
      // the check-rule builder (our per-session hook) runs when the
      // analyzer is first assembled — any query triggers it
      fresh.range(1).collect()
      assertTuned(fresh)
      assert(fallbackTasks(thousandKeyTopK(fresh)) == 0L,
        "extensions-wired session still degraded to sort-based aggregation")
    }
  }

  test("GraftFunctions.register gives a vanilla session the same tuned " +
    "state as the extensions path") {
    withFreshSession(identity) { fresh =>
      assert(explodePlan(fresh),
        "untuned session inferred no size(...) > 0 filter — the plan check proves nothing")
      GraftFunctions.register(fresh)
      assertTuned(fresh)
      assert(fallbackTasks(thousandKeyTopK(fresh)) == 0L)
    }
  }

  test("a user-excluded optimizer rule survives tuning on both paths, and " +
    "repeated tuning adds no duplicate entries") {
    val userRule = "org.apache.spark.sql.catalyst.optimizer.ReorderJoin"
    val merged = s"$userRule,$InferFilters"
    withFreshSession(_.withExtensions(new GraftExtensions)
        .config(ExcludedRulesKey, userRule)) { fresh =>
      fresh.range(1).collect()
      SessionTuning.tune(fresh)
      fresh.range(2).collect()
      assert(fresh.conf.get(ExcludedRulesKey) == merged)
    }
    withFreshSession(identity) { fresh =>
      fresh.conf.set(ExcludedRulesKey, userRule)
      GraftFunctions.register(fresh)
      GraftFunctions.register(fresh)
      assert(fresh.conf.get(ExcludedRulesKey) == merged)
      assert(fresh.experimental.extraOptimizations.isEmpty)
    }
  }

  test("vanilla untuned session calling an operator facade gets the " +
    "threshold at query build time") {
    withFreshSession(identity) { fresh =>
      assert(fresh.conf.get(FallbackKey) == "128", "fresh session not at default")
      val df = thousandKeyTopK(fresh) // facade runs ensureActiveSession()
      assert(fresh.conf.get(FallbackKey) == SessionTuning.fallbackThreshold.toString,
        "facade path did not deliver the object-agg tuning")
      assert(fallbackTasks(df) == 0L)
    }
  }

  test("a user-set non-default threshold is respected, never overridden") {
    withFreshSession(identity) { fresh =>
      fresh.conf.set(FallbackKey, "777")
      thousandKeyTopK(fresh).collect()
      assert(fresh.conf.get(FallbackKey) == "777",
        "SessionTuning clobbered an explicit user setting")
    }
  }

  /** 1000 distinct groups in ONE partition through a BUILT-IN DataSketches
    * aggregate (kll_sketch_agg_double via Stats.quantilesKllBy) — the third
    * consumer path the r14 fix missed: no graft typed-agg facade anywhere
    * in this tree, so only the operator-entry ensureActiveSession() hook
    * can deliver the tuning. */
  private def thousandKeyBuiltinSketch(s: SparkSession) = {
    import s.implicits._
    val df = (0 until 4000).map(i => (i % 1000L, i.toDouble)).toDF("g", "x")
      .coalesce(1)
    graft.dist.Stats.quantilesKllBy(df, "x", "g", Seq(0.5))
  }

  test("vanilla untuned session calling a BUILT-IN-sketch operator entry " +
    "(no graft facade in the tree) gets the threshold and runs >128 " +
    "keys/partition with ZERO sort-fallback tasks (r14 verdict #1)") {
    withFreshSession(identity) { fresh =>
      assert(fresh.conf.get(FallbackKey) == "128", "fresh session not at default")
      val df = thousandKeyBuiltinSketch(fresh) // entry runs ensureActiveSession()
      assert(fresh.conf.get(FallbackKey) == SessionTuning.fallbackThreshold.toString,
        "built-in-sketch operator entry did not deliver the object-agg tuning")
      assert(fallbackTasks(df) == 0L,
        "built-in sketch agg on a tuned session still degraded to sort-based " +
          "aggregation")
    }
  }

  test("an EXPLICIT user 128 — re-pinning Spark's default — is respected " +
    "(ADVICE r14: detection via the set-conf registry, not value compare)") {
    withFreshSession(identity) { fresh =>
      fresh.conf.set(FallbackKey, "128")
      val df = thousandKeyTopK(fresh) // facade hook runs, must not override
      assert(fresh.conf.get(FallbackKey) == "128",
        "SessionTuning clobbered an explicit user 128 (explicit-set " +
          "detection regressed to value comparison)")
      assert(fallbackTasks(df) > 0,
        "explicit-128 session did not sort-fall-back at 1000 keys — the " +
          "respected-setting assertion above proves nothing")
    }
  }
}
