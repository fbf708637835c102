package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool: run declared queries and report scheduling-shape metrics —
  * job count, stage count, task count, summed executor task time, and
  * shuffle write volume — alongside wall clock, for two passes each.
  *
  * The point (guide §1.1): at bench scale many queries are bound by the
  * per-job scheduling floor, not by data. `wall − task_time/cores` vs the
  * job count tells you whether to optimize the algorithm (task time) or
  * the round structure (job count). Not part of the library API.
  *
  * Usage: runMain graft.tools.JobStatsProbe <sfDir> <queryName> [more...]
  */
object JobStatsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.local("graft-jobstatsprobe")
    try {
      // warmup (same shape as Bench): JIT + parquet reader init off the books
      spark.range(1000000).selectExpr("sum(id)").collect()
      for (name <- args.drop(1)) {
        for (pass <- 1 to 2) {
          var jobs = 0; var stages = 0; var tasks = 0L
          var taskTimeMs = 0L; var shufBytes = 0L
          val listener = new SparkListener {
            override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
            override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
              stages += 1
              tasks += e.stageInfo.numTasks
            }
            override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
              val m = e.taskMetrics
              if (m != null) {
                taskTimeMs += m.executorRunTime
                shufBytes += m.shuffleWriteMetrics.bytesWritten
              }
            }
          }
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          val dt = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          println(f"[jobstats] $name%-44s pass=$pass jobs=$jobs%3d stages=$stages%4d tasks=$tasks%6d task_s=${taskTimeMs / 1e3}%8.2f shuf_mb=${shufBytes / 1e6}%9.2f wall=$dt%6.2f s")
        }
      }
    } finally spark.stop()
  }
}
