package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are nanoseconds on the driver's monotonic
  * clock; `parent` is the id of the span that caused it, or -1. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int) {
  def durNs: Long = end - start
}

/** Spark-side counters summed over the tasks, stages, jobs and SQL
  * executions the listeners saw. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    taskRunMs: Long = 0, schedDelayMs: Long = 0, gcMs: Long = 0,
    resultBytes: Long = 0, inputBytes: Long = 0, shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    planMs: Double = 0, execMs: Double = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    taskRunMs - o.taskRunMs, schedDelayMs - o.schedDelayMs, gcMs - o.gcMs,
    resultBytes - o.resultBytes, inputBytes - o.inputBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, planMs - o.planMs, execMs - o.execMs)
}

/** The traced run's collector. Spans opened on the driver thread nest
  * through a stack; SQL executions reported by the listener bus become
  * spans too, parented by time to the driver span that contains them.
  * Everything stays in memory until [[writeSpans]]. */
final class Trace(spark: SparkSession) {
  private val spans = ArrayBuffer[Span]()
  private val stack = scala.collection.mutable.Stack[Int]()
  private val nextId = new AtomicLong(0)
  // driver nanoTime at a known epoch millisecond, to place listener
  // events (epoch ms) on the span clock
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromEpochMs(ms: Long): Long = ms * 1000000L + epochOffsetNs

  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement().toInt
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans.synchronized { spans += Span(id, name, t0, t1, parent) }
    }
  }

  private val c = Array.fill(12)(new AtomicLong(0))
  private val planNs = new AtomicLong(0)
  private val execNs = new AtomicLong(0)
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val sqlSpans = ArrayBuffer[(String, Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(1).incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c(2).incrementAndGet()
      if (e.reason != Success) c(3).incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c(4).addAndGet(m.executorRunTime)
        val info = e.taskInfo
        if (info != null && info.finished) c(5).addAndGet(math.max(0L,
          info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)))
        c(6).addAndGet(m.jvmGCTime)
        c(7).addAndGet(m.resultSize)
        c(8).addAndGet(m.inputMetrics.bytesRead)
        c(9).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c(10).addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c(11).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach { t0 =>
          sqlSpans.synchronized { sqlSpans += (("spark.sql_execution", t0.longValue, s.time)) }
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != "parsing") {
          planNs.addAndGet((p.endTimeMs - p.startTimeMs) * 1000000L)
          sqlSpans.synchronized { sqlSpans += ((s"spark.plan.$phase", p.startTimeMs, p.endTimeMs)) }
        }
      }
      execNs.addAndGet(durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Listeners see only what runs between attach and detach. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.sql.GraftBridge.awaitListenerBus(spark)

  def counters(): Counters = {
    drain()
    Counters(c(0).get, c(1).get, c(2).get, c(3).get, c(4).get, c(5).get, c(6).get,
      c(7).get, c(8).get, c(9).get, c(10).get, c(11).get,
      planNs.get / 1e6, execNs.get / 1e6)
  }

  /** All spans: driver spans plus listener spans parented by containment. */
  def allSpans(): Seq[Span] = {
    drain()
    val driver = spans.synchronized(spans.toVector)
    val listener = sqlSpans.synchronized(sqlSpans.toVector).map { case (n, s, e) =>
      val (s1, e1) = (fromEpochMs(s), fromEpochMs(e))
      val parent = driver.filter(d => d.start <= s1 + 1000000L && e1 <= d.end + 1000000L)
        .sortBy(_.durNs).headOption.map(_.id).getOrElse(-1)
      Span(nextId.getAndIncrement().toInt, n, s1, e1, parent)
    }
    driver ++ listener
  }

  /** Self time per span name in ms: each span's duration minus the part of
    * it covered by its children. */
  def selfMs(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(ch =>
          (math.max(ch.start, s.start), math.min(ch.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
            if (a >= hi) (acc + (b - a), b)
            else if (b > hi) (acc + (b - hi), b)
            else (acc, hi)
          }._1
        (s.durNs - covered) / 1e6
      }.sum
    }
  }

  def writeSpans(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    val lines = all.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${(s.start - t0) / 1000},""" +
        s""""end_us":${(s.end - t0) / 1000},"parent":${s.parent}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
