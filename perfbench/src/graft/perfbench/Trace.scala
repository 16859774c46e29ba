package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call into a graft module made by the benchmark. */
final case class Span(id: Long, name: String, op: String, parent: Long,
    startMs: Long, endMs: Long)

/** In-memory span recorder. Spans are opened only around calls from the
  * benchmark into graft's public functions; nothing inside the program is
  * instrumented. While a span is open its operation id rides the
  * `perfbench.op` local property, so [[JobLog]] can attribute every Spark
  * job (AQE and broadcast threads inherit local properties) to it. */
final class Tracer(sc: SparkContext) {
  import Tracer.OpKey
  private val nextId = new AtomicLong(1)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String, op: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(0L)
    val prevOp = sc.getLocalProperty(OpKey)
    stack.set(id :: stack.get)
    sc.setLocalProperty(OpKey, op)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(OpKey, prevOp)
      stack.set(stack.get.tail)
      done.synchronized(done += Span(id, name, op, parent, t0, t1))
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startMs).map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"op":${Json.str(s.op)},""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}

/** What one Spark job did, keyed to the span or micro-batch that ran it. */
final case class JobRec(jobId: Int, op: String, startMs: Long, var endMs: Long = -1L,
    var tasks: Int = 0, var shuffleBytes: Long = 0L, var inputBytes: Long = 0L,
    var rowsWritten: Long = 0L)

/** SparkListener that records every job with the operation it belongs
  * to: the streaming query and micro-batch ids Spark stamps on the jobs
  * of a micro-batch (`stream:<query>:<batch>`), else the benchmark's
  * `perfbench.op` property. */
final class JobLog extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val callbackNs = new AtomicLong(0)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = e.properties
    def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
    val op = (prop(JobLog.QueryIdKey), prop("streaming.sql.batchId")) match {
      case (Some(q), Some(b)) => JobLog.microBatch(q, b.toLong)
      case _ => prop(Tracer.OpKey).getOrElse("")
    }
    jobs.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, op, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    jobs.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (m != null) {
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.rowsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  def all: Seq[JobRec] = jobs.synchronized(jobs.values.map(_.copy()).toList)
  def callbackMs: Double = callbackNs.get / 1e6

  /** Per-operation job totals over the jobs whose op satisfies `keep`. */
  def byOp(keep: String => Boolean): Map[String, Seq[JobRec]] =
    all.filter(j => keep(j.op)).groupBy(_.op)
}

object JobLog {
  val QueryIdKey = "sql.streaming.queryId"
  def microBatch(query: String, batchId: Long): String = s"stream:$query:$batchId"

  /** Wall time of [t0, t1] not covered by any of `jobs` while it ran. */
  def gapMs(t0: Long, t1: Long, jobs: Seq[JobRec]): Long = {
    val iv = jobs.map(j => (math.max(j.startMs, t0), math.min(if (j.endMs < 0) t1 else j.endMs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (t1 - t0) - covered
  }
}

/** log4j2 appender on the root logger that counts ERROR events while
  * `counting` is set — makes error-level noise (e.g. lost-accumulator
  * errors) a reported number instead of scrolled-past log lines. */
final class ErrorLines extends AbstractAppender("perfbench-errors", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  @volatile var counting = false
  private val n = new AtomicLong(0)
  override def append(e: LogEvent): Unit =
    if (counting && e.getLevel.isMoreSpecificThan(Level.ERROR)) n.incrementAndGet()
  def count: Long = n.get
}

object ErrorLines {
  def install(): ErrorLines = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new ErrorLines
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}

object Heap {
  /** Live heap after a full collection, in MB. Collected twice: Spark's
    * cleaner drops broadcast and shuffle blocks only after the first
    * collection has cleared their references. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
