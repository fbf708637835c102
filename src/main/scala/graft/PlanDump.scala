package graft

/** Plan-inspection utility: prints the formatted physical plan and timed
  * execution for one named SparkEntry query (or all). A comma-separated
  * name list dumps several in one JVM; an optional third arg writes each
  * query's `explain("formatted")` to `<outDir>/<name>.txt` instead of
  * stdout (r15: used to commit the before/after plans under plans/r15/).
  *
  * Usage: runMain graft.PlanDump <queryName|q1,q2,...|all> [sfDir] [outDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val spark = Session.local("graft-plandump")
    val todo = if (name == "all") SparkEntry.queries.toSeq.sortBy(_._1)
               else name.split(',').toSeq.map(n => n -> SparkEntry.queries(n))
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    todo.foreach { case (n, fn) =>
      println(s"\n===== $n =====")
      val df = fn(spark, sfDir)
      outDir match {
        case Some(d) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$n.txt"), txt)
        case None => df.explain("formatted")
      }
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[time] $n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
