package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.llm.{Graphs, Similarity}

/** Dev tool: measure the LSH graph tiers at an explicit (maxBucket, nTables,
  * probeDepth) operating point over a given fixture — the SCALE.md §12/§13
  * third-decade instrument. The declared queries pin (256, 2, 1); the
  * documented scratch-constrained fallback is (64, 1), whose recall gap vs
  * the full config is recovered by probeDepth=2 (BenchScaleRecallSpec).
  * Reports wall AND total shuffle-write volume (the portable scale signal,
  * per ShuffleProbe — removed; source at
  * `git show 21ce4b7:src/main/scala/graft/tools/ShuffleProbe.scala`). Not
  * part of the library API.
  *
  * Usage: runMain graft.tools.LshScaleSweep <sfDir> <knn|pagerank> \
  *          [maxBucket=64] [nTables=1] [shufflePartitions=32] [probeDepth=1]
  *
  * At sf100 (2M vectors) run with shufflePartitions=256 and
  * SPARK_DRIVER_MEM=30g: 256 partitions is the honest single-box stand-in
  * for a cluster run, where shuffle.partitions would be in the thousands;
  * 30g stays under the 32 GB CompressedOops ceiling (SCALE.md §11).
  */
object LshScaleSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val op = args(1)
    val maxBucket = if (args.length > 2) args(2).toInt else 64
    val nTables = if (args.length > 3) args(3).toInt else 1
    val shuffleParts = if (args.length > 4) args(4).toInt else 32
    val probeDepth = if (args.length > 5) args(5).toInt else 1
    // Session.local honors the bench-wide CPU knob: a sweep measured at a different thread
    // count than the bench it's compared against is silently over/under-
    // subscribed (r10 ADVICE)
    val spark = graft.Session.local("graft-lshsweep",
      "spark.sql.shuffle.partitions" -> shuffleParts.toString)
    try {
      val e = graft.sources.Readers.readEmbeddings(spark, sfDir)
      // same corpus-adaptive bits as the declared queries
      val nBits = Similarity.autoBits(e.count(), targetBucket = 64)
      def knn() = Similarity.knnGraphLSH(e, k = 3, nBits = nBits,
        nTables = nTables, maxBucket = maxBucket, probeDepth = probeDepth)
      def build() = op match {
        case "knn"      => knn()
        case "pagerank" => Graphs.pageRank(knn(), iters = 10)
        case other => sys.error(s"unknown op '$other' (knn|pagerank)")
      }
      // listener callbacks arrive on the listener-bus thread; the main
      // thread reads after the job — atomics give the visibility a plain
      // var lacks (r10 ADVICE)
      val bytes = new AtomicLong; val records = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
          val m = ev.taskMetrics
          if (m != null) {
            bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      // timing starts BEFORE plan construction: pageRank materializes its
      // edge list with an EAGER localCheckpoint at construction, so a
      // write-only timer would report 3 s of rank iterations and silently
      // exclude the hour of edge building (measured mistake, round 10)
      val t0 = System.nanoTime()
      val df = build()
      df.write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // adaptive drain: a fixed sleep undercounts when the bus is backlogged
      // after a long run — re-read until two consecutive samples agree
      var prev = -1L
      var same = 0
      var waited = 0
      while (same < 2 && waited < 30000) {
        Thread.sleep(1000); waited += 1000
        val cur = bytes.get() + records.get()
        if (cur == prev) same += 1 else { same = 0; prev = cur }
      }
      spark.sparkContext.removeSparkListener(listener)
      val line = f"[lshsweep] op=$op sf=$sfDir nBits=$nBits maxBucket=$maxBucket nTables=$nTables probeDepth=$probeDepth wall=$dt%8.1f s shuffle_bytes=${bytes.get()}%14d shuffle_records=${records.get()}%12d"
      println(line)
      System.out.flush() // piped stdout is not auto-flushed at JVM exit
      // belt and braces: persist the measurement where a lost pipe can't
      // eat it (a 17-minute sf100 run is too expensive to lose to a buffer)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          s"target/lshsweep_${op}_${maxBucket}_${nTables}_${shuffleParts}_d$probeDepth.txt"),
        line + "\n")
    } finally spark.stop()
  }
}
