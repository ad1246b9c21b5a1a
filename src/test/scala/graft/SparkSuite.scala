package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per JVM — Test/fork gives us a
  * dedicated JVM with the add-opens flags from build.sbt). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** Formatted messages `logger` (and the loggers below it) emits while
    * `body` runs. */
  protected def captureLog(logger: String)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "capture", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val log = org.apache.logging.log4j.LogManager.getLogger(logger)
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    log.addAppender(appender)
    try body finally { log.removeAppender(appender); appender.stop() }
    seen.toArray.toSeq.map(_.toString)
  }

  /** Run `body` with `listener` on the listener bus, and return only once
    * the bus has delivered it every event `body` posted: a marker job run
    * afterwards reaches the bus's queue behind them. */
  protected def listening[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val marker = s"graft-test-drain-${java.util.UUID.randomUUID()}"
    val drained = scala.concurrent.Promise[Unit]()
    val drain = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == marker))
          drained.trySuccess(())
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(drain)
    try {
      val out = body
      graft.operators.PairPlan.labelled(spark, marker)(sc.parallelize(Seq(1), 1).count())
      scala.concurrent.Await.result(drained.future, scala.concurrent.duration.Duration(2, "min"))
      out
    } finally {
      sc.removeSparkListener(drain)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = Sessions.base
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
