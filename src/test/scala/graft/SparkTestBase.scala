package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
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

  /** Spark jobs started while `body` runs. The listener bus is drained
    * before the listener is added (no earlier job leaks in) and before
    * counting (no late event is missed), never slept on. */
  def jobsOf(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Runs `body` with the given SQL confs set, restoring the previous
    * values (or unsetting) afterwards. */
  def withSQLConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
