package distbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dist._
import graft.llm.Dedup

/** Runs one workload's call plan against the engine's public functions in a
  * `local[4]` session built the way a library user builds one, and writes
  * what it measured to `<out_dir>/result.json`. Correctness is judged
  * afterwards, outside the JVM, from the dumped outputs (see checks.py).
  *
  * Usage: `Runner <plan.json>` — the plan comes from plan.py. */
object Runner {
  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    new Runner(plan).run()
  }
}

final class Runner(plan: JsonNode) {
  private val workload = plan.get("workload").asText
  private val dataDir = plan.get("data_dir").asText
  private val outDir = plan.get("out_dir").asText
  private val workDir = plan.get("work_dir").asText
  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean
  private val warmup = plan.get("warmup").asInt
  private val minWarm = plan.get("min_warm").asInt
  private val passPlans: Seq[Seq[JsonNode]] =
    plan.get("passes").elements.asScala.map(_.elements.asScala.toSeq).toSeq
  /** One pass repeated (explore), or a stream of distinct passes (ingest). */
  private val repeat = passPlans.size == 1
  private val cores = plan.get("cores").asInt

  private var spark: SparkSession = _
  private var tables: Map[String, DataFrame] = Map.empty
  private var tracer: Tracer = _
  private var nextId = 0L

  // ingest state: the folded bucket registry the next batch is cleaned against
  private var registry: DataFrame = _
  private var regFlip = 0
  private lazy val streamStart = passPlans.flatten.map(_.get("lo").asLong).min

  private final case class CallRec(i: Int, wallS: Double, buildS: Double,
                                   rows: Array[Row], schema: StructType,
                                   error: Option[String], trace: Option[CallTrace])
  private final case class PassRec(index: Int, kind: String, traced: Boolean, wallS: Double,
                                   cpuS: Double, calls: Seq[CallRec])

  private def newSession(): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"distbench-$workload")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$workDir/tmp")
    .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    .getOrCreate()

  def run(): Unit = {
    val setups = (1 to plan.get("setups").asInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      tables = plan.get("tables").elements.asScala.map(_.asText)
        .map(t => t -> spark.read.parquet(s"$dataDir/$t.parquet")).toMap
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("WARN")
    tracer = new Tracer(spark.sparkContext)
    if (workload == "ingest") resetRegistry()

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val cold = runPass(0, "cold", traced)
    val afterCold = storage()
    // JIT compilation of the engine's hot paths goes on for a few passes
    // after the cold one; those passes run but are not part of the warm figures
    val warming = (1 to warmup).map(k => runPass(k, "warmup", trace = false))
    val warm = mutable.ArrayBuffer.empty[PassRec]
    var pairMismatches = 0
    def next = 1 + warmup + (if (traced) warm.size / 2 else warm.size)
    while ((elapsed < seconds || warm.size < minWarm) && (repeat || next < passPlans.size)) {
      if (!traced) warm += runPass(next, "warm", trace = false)
      else {
        // a traced run runs each warm pass twice from the same state, traced
        // and untraced, alternating which goes first, so the tracing overhead
        // compares the same work
        val (k, reg, flip) = (next, registry, regFlip)
        val tracedFirst = warm.size / 2 % 2 == 1
        val a = runPass(k, "warm", tracedFirst)
        registry = reg
        regFlip = flip
        val b = runPass(k, "warm", !tracedFirst)
        pairMismatches += b.calls.count(c => c.error.isEmpty && !sameRows(c, a.calls(c.i)))
        warm += a += b
      }
    }
    val passes = (cold +: warming) ++ warm

    val mismatches = if (!repeat) pairMismatches
      else passes.tail.flatMap(_.calls).count(c => c.error.isEmpty && !sameRows(c, cold.calls(c.i)))
    val claim = if (traced && workload == "explore") jobsPerSeries() else Map.empty[String, Any]
    val end = storage()
    val rssMb = peakRssMb()
    val liveMb = liveHeapMb()
    val outputs = dumpOutputs(if (repeat) Seq(cold) else passes.distinctBy(_.index))
    val extra = if (repeat) Map.empty[String, Any]
      else ingestReferences(passes.flatMap(p => passPlans(p.index)))
    val result = Map(
      "workload" -> workload,
      "conf" -> spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.") }.toSeq.sortBy(_._1).toMap,
      "spark_version" -> spark.version,
      "setup_s" -> setups,
      "passes" -> passes.map(passJson),
      "warm_mismatches" -> mismatches,
      "storage_after_cold" -> afterCold,
      "storage_end" -> end,
      "calls_total" -> passes.map(_.calls.size).sum,
      "peak_rss_mb" -> rssMb,
      "live_heap_mb" -> liveMb,
      "untagged_jobs" -> tracer.untaggedJobs,
      "claim" -> claim,
      "outputs" -> outputs) ++ extra
    Json.write(new File(s"$outDir/result.json"), result)
    spark.stop()
  }

  // ------------------------------------------------------------------ passes

  private def runPass(index: Int, kind: String, trace: Boolean): PassRec = {
    val calls = passPlans(if (repeat) 0 else index)
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val t0 = System.nanoTime()
    val cpu0 = processCpuNs
    val recs = calls.zipWithIndex.map { case (c, i) => runCall(c, i, trace) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (processCpuNs - cpu0) / 1e9
    if (trace) {
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
    }
    PassRec(index, kind, trace, wall, cpu, recs)
  }

  private def runCall(c: JsonNode, i: Int, trace: Boolean): CallRec = {
    nextId += 1
    val tr = if (trace) Some(tracer.begin(nextId)) else None
    val t0 = System.nanoTime()
    var t1 = 0L
    val res = try {
      val exec = build(c)
      t1 = System.nanoTime()
      tr.foreach(tracer.built)
      val (rows, schema) = exec()
      Right((rows, schema))
    } catch {
      case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(2000))
    }
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    tr.foreach(tracer.end)
    res match {
      case Right((rows, schema)) =>
        tr.foreach(_.outRows = rows.length.toLong)
        CallRec(i, (t2 - t0) / 1e9, (t1 - t0) / 1e9, rows, schema, None, tr)
      case Left(err) =>
        CallRec(i, (t2 - t0) / 1e9, (t1 - t0) / 1e9, Array.empty, new StructType(), Some(err), tr)
    }
  }

  /** Calls the public function(s) of one plan step and returns the action
    * that executes the built DataFrame and brings its result to the Spark driver. */
  private def build(c: JsonNode): () => (Array[Row], StructType) = c.get("api").asText match {
    case "ingest" => ingestBatch(c.get("lo").asLong, c.get("hi").asLong)
    case api => collecting(explore(api, c))
  }

  private def collecting(df: DataFrame): () => (Array[Row], StructType) =
    () => (df.collect(), df.schema)

  private def frame(s: JsonNode): DataFrame = {
    val t = tables(s.get(0).asText)
    if (s.size > 2) t.where(s.get(2).asText) else t
  }

  private def explore(api: String, c: JsonNode): DataFrame = {
    val series = Option(c.get("series")).map(_.elements.asScala.toSeq).getOrElse(Nil)
    val dfs = series.map(s => frame(s).select(s.get(1).asText))
    val edges = Option(c.get("edges")).filterNot(_.isNull).map(_.elements.asScala.map(_.asDouble).toSeq)
    val nBins = Option(c.get("bins")).filterNot(_.isNull).map(_.asInt).getOrElse(10)
    val bins: Bins = edges.map(Bins.Edges(_)).getOrElse(Bins.Count(nBins))
    val range = Option(c.get("range")).filterNot(_.isNull).map(r => (r.get(0).asDouble, r.get(1).asDouble))
    api match {
      case "hist" => DistExplore.hist(dfs, bins, range)
      case "distplot" => DistExplore.distplot(dfs, bins, range)
      case "pandasHistogram" => DistExplore.pandasHistogram(dfs, bins, range)
      case "builder" =>
        val h = new Histogram(bins, range)
        series.foreach(s => h.addColumn(frame(s), s.get(1).asText))
        h.build()
      case "histogram" =>
        val (df, colName) = (frame(series.head), series.head.get(1).asText)
        edges match {
          case Some(es) => df.histogram(colName, es)
          case None => df.histogram(colName, nBins, range)
        }
      case "histogramBy" =>
        tables(c.get("table").asText).histogramBy(c.get("value").asText, c.get("group").asText, nBins)
      case "minMax" =>
        tables(c.get("table").asText).minMax(c.get("cols").elements.asScala.map(_.asText).toSeq: _*)
    }
  }

  // ------------------------------------------------------------------ ingest

  private val registrySchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bh", LongType), StructField("rep_id", LongType)))

  private def resetRegistry(): Unit =
    registry = spark.createDataFrame(java.util.Collections.emptyList[Row](), registrySchema)

  private def docs: DataFrame = tables("documents")

  /** One ingest batch: clean [lo, hi) against the registry of everything the
    * stream ingested before it (read side), then fold the batch's buckets
    * into the registry, write it and read it back for the next batch (write
    * side). */
  private def ingestBatch(lo: Long, hi: Long): () => (Array[Row], StructType) = {
    val batch = docs.where(col("doc_id") >= lo && col("doc_id") < hi)
    val prior = docs.where(col("doc_id") >= streamStart && col("doc_id") < lo)
    val cleaned = Dedup.minHashDedupAgainstRegistry(batch, registry, prior)
    val folded = Dedup.mergeMinHashRegistries(registry, Dedup.minHashBucketRegistry(batch))
    () => {
      val rows = cleaned.collect()
      val path = s"$workDir/registry/${regFlip % 2}"
      regFlip += 1
      folded.write.mode("overwrite").parquet(path)
      registry = spark.read.parquet(path)
      (rows, cleaned.schema)
    }
  }

  /** Untimed references for the ingest checks: the registry built in one go
    * over everything ingested, and the exact tier's drops over the same
    * documents taken as one batch (every smaller id is a candidate). */
  private def ingestReferences(calls: Seq[JsonNode]): Map[String, Any] = {
    val hi = calls.map(_.get("hi").asLong).max
    val stream = docs.where(col("doc_id") >= streamStart && col("doc_id") < hi)
    registry.write.mode("overwrite").parquet(s"$outDir/registry_final.parquet")
    Dedup.minHashBucketRegistry(stream).write.mode("overwrite").parquet(s"$outDir/registry_ref.parquet")
    Dedup.nearDupCleanAgainstPrior(stream, stream.limit(0))
      .where(col("dup_of").isNotNull).select("doc_id")
      .write.mode("overwrite").parquet(s"$outDir/exact_drops.parquet")
    Map("ingest" -> Map(
      "registry_final" -> s"$outDir/registry_final.parquet",
      "registry_ref" -> s"$outDir/registry_ref.parquet",
      "exact_drops" -> s"$outDir/exact_drops.parquet"))
  }

  // ------------------------------------------------------------- the claim

  /** Jobs and tasks of one `DistExplore.hist` call at N = 1, 4 and 16
    * series, counted (not asserted) on a traced call each. */
  private def jobsPerSeries(): Map[String, Any] = {
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val pool = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val out = Seq(1, 4, 16).flatMap { n =>
      val dfs = (0 until n).map(k => tables("lineitem").select(pool(k % pool.size)))
      nextId += 1
      val t = tracer.begin(nextId)
      DistExplore.hist(dfs).collect()
      tracer.end(t)
      Seq(s"dist.jobs_n$n" -> t.jobs, s"dist.tasks_n$n" -> t.tasks, s"dist.stages_n$n" -> t.stages)
    }
    spark.listenerManager.unregister(tracer)
    spark.sparkContext.removeSparkListener(tracer)
    out.toMap
  }

  // ----------------------------------------------------------------- output

  private def sameRows(a: CallRec, b: CallRec): Boolean =
    b.error.isEmpty && a.rows.length == b.rows.length && a.rows.zip(b.rows).forall { case (x, y) => x == y }

  /** Outputs of the given passes as parquet, one file set per call. */
  private def dumpOutputs(passes: Seq[PassRec]): Seq[Map[String, Any]] =
    for (p <- passes; c <- p.calls) yield {
      val path = s"$outDir/out_${p.index}_${c.i}.parquet"
      if (c.error.isEmpty)
        spark.createDataFrame(c.rows.toSeq.asJava, c.schema).coalesce(1).write.mode("overwrite").parquet(path)
      Map("pass" -> p.index, "i" -> c.i, "path" -> (if (c.error.isEmpty) path else null))
    }

  private def storage(): Map[String, Any] = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    Map("mem_mb" -> infos.map(_.memSize).sum / 1048576.0,
      "disk_mb" -> infos.map(_.diskSize).sum / 1048576.0,
      "rdds" -> infos.length)
  }

  /** CPU time of every thread of this process (Spark driver, executor tasks, JIT,
    * GC): the pass's cost with host contention taken out. */
  private def processCpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap the session still holds after a full collection: cached blocks,
    * accumulated state, metadata. Unlike RSS, it does not follow the
    * collector's heap sizing. */
  private def liveHeapMb(): Double = {
    // the first collection hands unreachable RDDs, shuffles and broadcasts
    // to Spark's cleaner thread, which releases their blocks; the later ones
    // collect what those blocks held
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(300)
    }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def passJson(p: PassRec): Map[String, Any] = Map(
    "index" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
    "calls" -> p.calls.map { c =>
      Map("i" -> c.i, "wall_s" -> c.wallS, "build_s" -> c.buildS, "rows" -> c.rows.length,
        "error" -> c.error.orNull) ++ c.trace.map(t => Map("trace" -> traceJson(t))).getOrElse(Map.empty)
    })

  private def traceJson(t: CallTrace): Map[String, Any] = Map(
    "jobs" -> t.jobs, "build_jobs" -> t.buildJobs, "stages" -> t.stages, "tasks" -> t.tasks,
    "job_ms" -> t.jobSpans.map(p => p._2 - p._1).sum,
    "delay_ms" -> t.delayMs, "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
    "peak_mem_bytes" -> t.peakMem, "shuffle_write_bytes" -> t.shWrite,
    "shuffle_read_bytes" -> t.shRead, "fetch_wait_ms" -> t.fetchWaitMs,
    "spill_mem_bytes" -> t.spillMem, "spill_disk_bytes" -> t.spillDisk,
    "scan_rows" -> t.scanRows, "scan_bytes" -> t.scanBytes, "out_rows" -> t.outRows,
    "analysis_ms" -> t.phaseMs("analysis"), "optimization_ms" -> t.phaseMs("optimization"),
    "planning_ms" -> t.phaseMs("planning"), "rules_ns" -> t.rulesNs,
    "graft_rules_ns" -> t.graftRulesNs, "compiles" -> t.compiles, "compile_ms" -> t.compileMs,
    "self_ms" -> t.selfMs,
    "spans" -> (Seq(
      Map("name" -> "call", "start" -> t.startMs, "end" -> t.endMs),
      Map("name" -> "build", "parent" -> "call", "start" -> t.startMs, "end" -> t.buildEndMs),
      Map("name" -> "execute", "parent" -> "call", "start" -> t.buildEndMs, "end" -> t.endMs)) ++
      t.phaseSpans.map { case (n, s, e) => Map("name" -> s"catalyst.$n", "parent" -> "call", "start" -> s, "end" -> e) } ++
      t.jobSpans.map { case (s, e) => Map("name" -> "job", "parent" -> "call", "start" -> s, "end" -> e) }))
}

/** Minimal JSON writer over Scala maps, sequences and scalars. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case a: Array[_] => toJava(a.toSeq)
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x: AnyRef => x
  }

  def write(f: File, v: Any): Unit = mapper.writerWithDefaultPrettyPrinter().writeValue(f, toJava(v))
}
