package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a timed call into the program, with the span that caused it. */
final case class Span(id: Long, name: String, parent: Long,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the scheduler did for one span's own jobs (children excluded). */
final case class StageStats(jobs: Int, stages: Int, tasks: Long,
                            taskS: Double, shuffleBytes: Long,
                            spillBytes: Long,
                            intervals: Seq[(Long, Long)]) {
  def +(o: StageStats): StageStats = StageStats(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskS + o.taskS,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    intervals ++ o.intervals)
}
object StageStats { val zero: StageStats = StageStats(0, 0, 0, 0, 0, 0, Nil) }

/** Records a span around each call into the program. With `traced`
  * off it only times the call: no listener, no job groups. With it on,
  * every span sets its own Spark job group, and one SparkListener
  * attributes jobs and stages to the span whose group submitted them.
  *
  * ERROR-level log lines are counted in both modes, keyed by the
  * outermost operation running when each was logged. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var currentOp: String = "setup"

  private val groupPrefix = "perfbench-span-"
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val perSpan = mutable.Map.empty[Long, StageStats]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (g.startsWith(groupPrefix)) {
        val id = g.stripPrefix(groupPrefix).toLong
        e.stageIds.foreach(s => stageSpan(s) = id)
        add(id, StageStats.zero.copy(jobs = 1))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      stageSpan.get(info.stageId).foreach { id =>
        val m = info.taskMetrics
        val (shuffle, spill, runMs) =
          if (m == null) (0L, 0L, 0L)
          else (m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.executorRunTime)
        val iv = for (s <- info.submissionTime; c <- info.completionTime)
          yield (s, c)
        add(id, StageStats(0, 1, info.numTasks.toLong, runMs / 1e3,
          shuffle, spill, iv.toSeq))
      }
    }
  }
  private def add(id: Long, s: StageStats): Unit =
    perSpan(id) = perSpan.getOrElse(id, StageStats.zero) + s

  val errorLines: mutable.Map[String, Int] = mutable.Map.empty
  private val errorMessages = mutable.ArrayBuffer.empty[String]
  private val appender = new AbstractAppender("perfbench-errors", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) errorLines.synchronized {
        errorLines(currentOp) = errorLines.getOrElse(currentOp, 0) + 1
        if (errorMessages.size < 20)
          errorMessages += s"$currentOp: ${e.getMessage.getFormattedMessage.take(300)}"
      }
  }

  def start(): Unit = {
    if (traced) spark.sparkContext.addSparkListener(listener)
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
  }

  /** Waits until the listener has seen every scheduler event posted so
    * far, so every job of every finished span is counted. Call it
    * before reading [[inclusive]] or [[driverGapS]]. */
  def drain(): Unit = {
    if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
    children = allSpans.groupBy(_.parent)
  }

  def stop(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    if (traced) {
      drain()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Names the operation that ERROR lines are attributed to. */
  def operation[T](name: String)(body: => T): T = {
    val prev = currentOp
    currentOp = name
    try body finally currentOp = prev
  }

  @volatile private var enabled = true

  /** Runs `body` with job groups off, so a traced run can also time
    * the same work untraced and report the difference. */
  def paused[T](body: => T): T = {
    val prev = enabled
    enabled = false
    try body finally enabled = prev
  }

  /** Times `body` as span `name`; returns its result and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val parent = stack.headOption
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val grouped = traced && enabled
    if (grouped) sc.setJobGroup(groupPrefix + id, name, interruptOnCancel = false)
    val s = Span(id, name, parent.fold(0L)(_.id), System.nanoTime())
    stack = s :: stack
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      spans.synchronized(spans += s)
      stack = stack.tail
      if (grouped) parent match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  // the span tree as of the last drain()
  private var children: Map[Long, Seq[Span]] = Map.empty

  /** Stage statistics of a span and every span below it, as of the
    * last [[drain]]. */
  def inclusive(s: Span): StageStats = synchronized {
    def go(x: Span): StageStats = children.getOrElse(x.id, Nil)
      .foldLeft(perSpan.getOrElse(x.id, StageStats.zero))((acc, c) => acc + go(c))
    go(s)
  }

  /** Wall time of a span not covered by any of its stages running. */
  def driverGapS(s: Span): Double = {
    val startMs = s.startNs / 1000000L
    val stats = inclusive(s)
    // stage times are wall-clock millis; span times are monotonic nanos
    val offset = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val lo = startMs + offset
    val hi = s.endNs / 1000000L + offset
    val merged = stats.intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, b0 max b) :: rest
        case (acc, iv) => iv :: acc
      }
    val busyMs = merged.map { case (a, b) => b - a }.sum
    math.max(0.0, s.seconds - busyMs / 1e3)
  }

  def errorSamples: Seq[String] = errorLines.synchronized(errorMessages.toList)
}

/** Process-level counters read at the start and end of a measurement. */
object Jvm {
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap in use right after a full collection: the live set, which
    * holds whatever the program caches. Far steadier than a high-water
    * mark, which depends on when collections happen to run. */
  def liveHeapMb(): Double = {
    // Spark frees cached blocks only after a collection has cleared
    // their owners, so collect until the cleaner has had its turn
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
