package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for this repo's mains and test base.
  *
  * `local[cpus]` with `cpus` from `$SPARK_GRAFT_CPUS` (default 32), as many
  * shuffle partitions as cores, UTC, no UI, WARN logging; then
  * [[graft.functions.GraftFunctions.register]], which applies the same
  * session tuning and rewrite rules as the `spark.sql.extensions` path.
  * `conf` pairs are applied last, so a caller can override any default
  * (e.g. a sweep's own shuffle-partition count).
  *
  * `spark.sql.extensions` is deliberately not set here: it is a static conf
  * of the shared SparkContext, so every later fresh session over that
  * context would inherit it. */
object Session {

  /** Core count for `local[...]` and the default shuffle partitions. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(app: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
