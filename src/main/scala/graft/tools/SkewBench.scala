package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured skew evidence for SCALE.md: times the same hot-key join three
  * ways on a deliberately skewed fact table (100 uniform keys x 200k rows
  * + ONE key holding 20M rows = 100x the average, half the table — the
  * null/default-key shape of real training-data joins):
  *
  *   - `plain`      shuffle join, AQE off — the straggler case: every hot
  *                  row lands in one task
  *   - `aqe`        shuffle join, AQE on with the skew-split threshold
  *                  lowered to 8 MiB (at 100 TB real partitions exceed the
  *                  256 MiB default; local data doesn't, so the lower
  *                  threshold emulates the production trigger)
  *   - `salted`     [[graft.dist.Joins.saltedJoin]] with 32 salts, AQE off —
  *                  the explicit guard for skew AQE cannot fix (e.g. the
  *                  exchange feeding an aggregation, or a pre-AQE engine)
  *
  * Broadcast is disabled throughout: the dim side stands in for a
  * 100 TB-regime dimension that exceeds the broadcast threshold — a
  * broadcast join has no shuffle and thus no skew problem to measure.
  * Each timing is min-of-2 (first pass pays codegen). Emits one JSON line
  * and writes it to target/skewbench.json. */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val cpus = graft.Session.cpus
    val spark = graft.Session.local("graft-skewbench",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    import spark.implicits._

    val hotRows = 20000000L
    val fact = spark.range(20000000L)
      .select((col("id") % 100 + 1).as("k"), col("id").as("v"))
      .union(spark.range(hotRows).select(lit(0L).as("k"), col("id").as("v")))
    val dim = spark.range(101L).select(col("id").as("k"), (col("id") % 13).as("grp"))

    def conf(aqe: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      if (aqe) {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", true)
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      }
    }
    def run(df: => DataFrame): Double = {
      def once: Double = {
        val t0 = System.nanoTime()
        df.groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("sv"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }

    conf(aqe = false)
    val plain = run(fact.join(dim, Seq("k")))
    conf(aqe = true)
    val aqe = run(fact.join(dim, Seq("k")))
    conf(aqe = false)
    val salted = run(graft.dist.Joins.saltedJoin(fact, dim, Seq("k"), salts = 32))

    // aggregation under the same skew needs NO salt: partial aggregation
    // collapses the hot key map-side, so the exchange carries one row per
    // (task, key) — compare against a same-size uniform table to show the
    // hot key costs nothing
    def agg(df: DataFrame): Double = {
      def once: Double = {
        val t0 = System.nanoTime()
        df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once, once)
    }
    val aggSkew = agg(fact)
    val aggUniform = agg(spark.range(40000000L)
      .select((col("id") % 40000 + 1).as("k"), col("id").as("v")))

    // the partition-balance mechanism behind the timings (rows in the
    // fullest hash partition, bare key vs key+salt)
    def maxPart(df: DataFrame): Long =
      df.select(spark_partition_id().as("p"))
        .groupBy("p").agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
    val maxPlain = maxPart(fact.repartition(cpus, col("k")))
    val maxSalted = maxPart(
      fact.withColumn("__salt", (rand(42L) * 32).cast("int"))
        .repartition(cpus, col("k"), col("__salt")))

    // Locale.ROOT: the f interpolator's default-locale %.3f renders a comma
    // decimal point on e.g. de_DE and corrupts the JSON
    def s3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val json =
      s"""{"fixture":"100:1 hot key, 40M rows","plain_sec":${s3(plain)},""" +
      s""""aqe_skewjoin_sec":${s3(aqe)},"salted_sec":${s3(salted)},""" +
      s""""agg_skew_sec":${s3(aggSkew)},"agg_uniform_sec":${s3(aggUniform)},""" +
      s""""max_part_rows_plain":$maxPlain,"max_part_rows_salted":$maxSalted,""" +
      s""""hot_rows":$hotRows,"cpus":$cpus}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(java.nio.file.Paths.get("target/skewbench.json"),
      json.getBytes("UTF-8"))
    spark.stop()
    println(json)
  }
}
