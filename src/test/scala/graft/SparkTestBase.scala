package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test run (JVM-wide; Spark
  * startup is ~5 s and ScalaTest suites run in one forked JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Session.local("graft-test",
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
