package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Dev tool (r14): sf100 cost shape of the incremental span/substring dedup
  * faces at the PRODUCTION framing — a persisted hash registry of half the
  * corpus, a same-sized ingest batch cleaned against it. The declared bench
  * queries pin the registry at doc_id < 250 (sf0.01-sized, oracle-friendly);
  * at 5M docs that measures a batch clean against a toy registry, so this
  * probe splits at the corpus median instead and measures the two phases
  * separately:
  *
  *   1. FOLD — build the registry from the first half and persist it to
  *      parquet (the once-per-batch cost an incremental pipeline amortizes;
  *      registries fold by union-distinct, fold ≡ rescan tested in
  *      DedupSpec, so this phase never rescans prior corpus in steady
  *      state — its cost here is the worst-case cold build).
  *   2. CLEAN — read the persisted registry back and run the
  *      dedup-against-registry face on the second half, with shuffle-write
  *      volume collected per task (the portable 1000-executor signal; the
  *      faces' claim is 8-byte hashes on BOTH anti-join sides).
  *
  * Usage: runMain graft.tools.IncrementalDedupProbe <sfDir> <spans|substrings>
  */
object IncrementalDedupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val face = args(1)
    val spark = graft.Session.local("graft-incdedup-probe",
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64"))
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val cut = docs.agg(expr("approx_percentile(doc_id, 0.5)")).collect()(0).getLong(0)
      val prior = docs.where(col("doc_id") < cut)
      val batch = docs.where(col("doc_id") >= cut)
      val regPath = s"target/incdedup_registry_$face"

      val t0 = System.nanoTime()
      val reg = face match {
        case "spans"      => Dedup.spanRegistry(prior)
        case "substrings" => Dedup.substringRegistry(prior)
      }
      reg.write.mode("overwrite").parquet(regPath)
      val tFold = (System.nanoTime() - t0) / 1e9
      val regRows = spark.read.parquet(regPath).count()

      var bytes = 0L; var records = 0L
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            bytes += m.shuffleWriteMetrics.bytesWritten
            records += m.shuffleWriteMetrics.recordsWritten
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val persisted = spark.read.parquet(regPath)
      val t1 = System.nanoTime()
      val cleaned = face match {
        case "spans"      => Dedup.spanDedupAgainstRegistry(batch, persisted)
        case "substrings" => Dedup.substringDedupAgainstRegistry(batch, persisted)
      }
      cleaned.write.mode("overwrite").format("noop").save()
      val tClean = (System.nanoTime() - t1) / 1e9
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)

      val line = f"[incdedup] sf=$sfDir face=$face cut=$cut " +
        f"registry_rows=$regRows fold=$tFold%.1f s clean=$tClean%.1f s " +
        f"clean_shuffle_bytes=$bytes clean_shuffle_records=$records"
      println(line)
      System.out.flush()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"target/incdedup_probe_$face.txt"), line + "\n")
    } finally spark.stop()
  }
}
