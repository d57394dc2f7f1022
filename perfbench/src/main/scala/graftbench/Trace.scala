package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a benchmark-side boundary. Times are nanoseconds
  * on one clock ([[Clock]]); `op` groups every span of one operation. */
final case class Span(id: Int, parent: Int, op: String, name: String,
    startNs: Long, endNs: Long)

/** Wall-clock milliseconds (Spark event times) mapped onto `System.nanoTime`. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - offsetNs
}

/** Spans kept in memory and written out when the run ends. Spark jobs attach
  * to the span that was open when they started through the job group
  * `gb-<span id>`, which [[scoped]] sets on the calling thread. */
final class Tracer(spark: SparkSession) {
  private val nextId = new AtomicInteger(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  /** The workload span: the parent of spans opened with parent 0. */
  @volatile var root = 0

  def scoped[T](op: String, name: String, parent0: Int)(body: Int => T): (T, Span) = {
    val parent = if (parent0 == 0) root else parent0
    val id = nextId.getAndIncrement()
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"gb-$id", s"$op/$name")
    val t0 = System.nanoTime()
    try {
      val out = body(id)
      val span = Span(id, parent, op, name, t0, System.nanoTime())
      spans.synchronized(spans += span)
      (out, span)
    } catch {
      case e: Throwable =>
        spans.synchronized(spans += Span(id, parent, op, name, t0, System.nanoTime()))
        throw e
    } finally {
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    }
  }
}

/** Per-job totals gathered from task-end events. */
final class JobStats(val jobId: Int, val group: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val stages = mutable.Set.empty[Int]
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var schedulerDelayMs = 0L
  var writeTasks = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

/** The benchmark's SparkListener: job intervals by job group, and task
  * metrics summed per job. Until `full` is set it keeps only job intervals
  * and task counts. */
final class JobListener extends SparkListener {
  @volatile var full = false
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val started = new AtomicLong(0)
  val ended = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobStats(e.jobId, group, Clock.fromEpochMs(e.time)))
    e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endNs = Clock.fromEpochMs(e.time))
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val js = Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    js.foreach { s =>
      s.synchronized {
        s.tasks += 1
        if (full) {
          if (m.outputMetrics.recordsWritten > 0 || m.outputMetrics.bytesWritten > 0)
            s.writeTasks += 1
          val info = e.taskInfo
          s.stages += e.stageId
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.diskBytesSpilled
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          s.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          s.taskRunMs += m.executorRunTime
        }
      }
    }
  }

  /** Wait until every started job's end event has been delivered. */
  def drain(timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    // task-end events of the last stage precede its job-end event on the bus
    Thread.sleep(50)
  }
}

final case class Phases(startNs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, writeRows: Long)

/** Planning phase durations of each query execution, keyed by the time its
  * first phase started so the run can attach them to the open span, and the
  * row count a DataSource V2 write (the noop sink) committed. */
final class QueryListener extends QueryExecutionListener {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[Phases]()

  private def writeRows(plan: SparkPlan): Option[Long] = plan match {
    case c: CommandResultExec => writeRows(c.commandPhysicalPlan)
    case w: V2TableWriteExec => w.commitProgress.map(_.numOutputRows)
    case p => p.children.view.flatMap(writeRows).headOption
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    seen.add(Phases(Clock.fromEpochMs(start), ms("analysis"), ms("optimization"),
      ms("planning"), writeRows(qe.executedPlan).getOrElse(-1L)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Counts ERROR events reaching the root logger. */
final class ErrorCounter extends AbstractAppender("graftbench-errors", null, null,
    true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val count = new AtomicLong(0)
  override def append(event: LogEvent): Unit =
    if (event.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
}

object ErrorCounter {
  def install(): ErrorCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new ErrorCounter
    app.start()
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}

/** Process-wide counters of the Hadoop FileSystem calls the run makes on
  * the local file system (driver and local-mode executors share one JVM). */
object FsCounters {
  val opens = new AtomicLong(0)
  val lists = new AtomicLong(0)
  val statuses = new AtomicLong(0)
  val renames = new AtomicLong(0)
  def snapshot(): Map[String, Long] = Map(
    "opens" -> opens.get, "lists" -> lists.get, "statuses" -> statuses.get,
    "renames" -> renames.get)
}

/** `file:` scheme implementation the traced run installs through
  * `spark.hadoop.fs.file.impl`: the stock LocalFileSystem plus call counts. */
class CountingFileSystem extends LocalFileSystem {
  import FsCounters._
  override def open(f: Path, bufferSize: Int) = { opens.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f, filter)
  }
  override def listLocatedStatus(f: Path) = { lists.incrementAndGet(); super.listLocatedStatus(f) }
  override def listStatusIterator(f: Path) = { lists.incrementAndGet(); super.listStatusIterator(f) }
  override def getFileStatus(f: Path): FileStatus = { statuses.incrementAndGet(); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { renames.incrementAndGet(); super.rename(src, dst) }
}
