package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as seen from outside the program: when it ran, which
  * `spark.job.description` the program gave it, and the task totals of the
  * stages it submitted. */
final class JobRec(val id: Int, val startMs: Long, val desc: String) {
  @volatile var endMs: Long = -1L
  val taskMs = new AtomicLong
  val shuffleWriteB = new AtomicLong
  val inputB = new AtomicLong
  val outputB = new AtomicLong
}

/** Totals over a set of jobs. `wallS` is the length of the union of their
  * [start, end] intervals, so overlapping jobs are not counted twice. */
final case class JobSum(jobs: Int, wallS: Double, taskS: Double,
                        shuffleMb: Double, inputMb: Double, outputMb: Double)

/** The benchmark's SparkListener: records every job and the task metrics of
  * its stages. Registered only in traced runs. */
final class Ledger extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val j = new JobRec(e.jobId, e.time, desc)
    jobs.put(e.jobId, j)
    // a stage reused by a later job keeps the job that first submitted it
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.taskMs.addAndGet(e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        j.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.inputB.addAndGet(m.inputMetrics.bytesRead)
        j.outputB.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  def all(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.graftbench.BusSync.drain(sc)
    jobs.values.asScala.toSeq.sortBy(_.id)
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def within(sc: SparkContext, fromMs: Long, toMs: Long): Seq[JobRec] =
    all(sc).filter(j => j.startMs >= fromMs && j.startMs <= toMs)
}

object Ledger {
  private val Mb = 1024.0 * 1024.0

  def sum(js: Seq[JobRec]): JobSum = {
    val iv = js.map(j => (j.startMs, math.max(j.startMs, j.endMs))).sortBy(_._1)
    var covered = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    JobSum(js.size, covered / 1e3, js.map(_.taskMs.get).sum / 1e3,
      js.map(_.shuffleWriteB.get).sum / Mb, js.map(_.inputB.get).sum / Mb,
      js.map(_.outputB.get).sum / Mb)
  }
}

/** A span: one call the benchmark made into the program. */
final case class Span(id: Int, name: String, parent: Int, trace: String,
                      startMs: Long, endMs: Long)

/** In-memory span recorder for the driver thread; written out once, at the
  * end of the run. */
final class Tracer(val trace: String) {
  private val done = scala.collection.mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var next = 0

  def span[T](name: String)(f: => T): (T, Span) = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    try {
      val out = f
      val s = Span(id, name, parent, trace, t0, System.currentTimeMillis())
      done += s
      (out, s)
    } finally stack = stack.tail
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Span time minus the part of it that its child spans cover. */
  def selfMs(s: Span): Long = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endMs - s.startMs) - covered
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val rows = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":"${s.trace}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${selfMs(s)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** log4j appender that counts ERROR (and FATAL) events from any logger. */
final class ErrorCounter
    extends AbstractAppender("graftbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
}

object ErrorCounter {
  def install(): ErrorCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new ErrorCounter
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}
