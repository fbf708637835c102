package graft

import org.apache.spark.sql.DataFrame

package object llm {

  /** Sentinel for "one scan split's worth of bytes" — resolved per-session
    * from `spark.sql.files.maxPartitionBytes` inside the shared gate
    * (ADVICE r15: the threshold must move with a tuned split size). */
  private[llm] val oneScanSplitBytes: Long = -1L

  /** THE shared gated rebalance (r13 verdict: three divergent spread gates
    * had grown — unconditional, starvation-only, size-and-starvation; this
    * is now the single policy). Spreads `df` iff BOTH measured thresholds
    * hold:
    *
    *   1. size: optimizer-stats estimated bytes > `minBytes` (default one
    *      scan split; stats-only — no job). Small frames stay put: a
    *      spread cache makes EVERY downstream job pay a
    *      defaultParallelism-task scheduling floor (~30 ms/job on the
    *      bench box), the wrong trade until per-round compute dominates
    *      (measured both ways at sf0.1/sf100, SCALE.md §16).
    *   2. starvation: the planned frame arrives in fewer partitions than
    *      the cluster's parallelism — at corpus scale thousands of scan
    *      splits saturate every core and the gate never fires, so the
    *      at-scale plan shape is untouched.
    *
    * Exact all-pairs verifier tiers pass `minBytes = 0`: their n² compute
    * dwarfs one exchange of the raw rows at ANY input size (only sane at
    * driver-enumerable n anyway), so for them starvation alone decides. */
  private[llm] def spreadGated(df: DataFrame, minBytes: Long = oneScanSplitBytes): DataFrame =
    graft.functions.Rebalance.spreadGated(df, minBytes) // shared policy (r15)
}
