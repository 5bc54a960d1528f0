package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a graft layer. Times are milliseconds on the
  * wall clock (epoch based, sub-millisecond precision), the same base
  * the Spark listener events use, so spans and jobs share one axis.
  */
final case class Span(id: Long, name: String, op: Int, parent: Long,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** One Spark job as the listener saw it. `site` is the call-site stack
  * of the action that launched it; `pin` is the Materialize entry point
  * that launched it ("barrier", "barrierAgg", ...), if any; `exec` is
  * its SQL execution id, -1 outside one.
  */
final case class JobRec(jobId: Int, start: Double, end: Double,
    stages: Int, taskMs: Double, shuffleBytes: Long, spillBytes: Long,
    pin: Option[String], site: String = "", exec: Long = -1L)

/** A streaming trigger as StreamingQueryProgress reported it. */
final case class TriggerRec(batchId: Long, rows: Long,
    durations: Map[String, Long])

/** Span recorder. Disabled, `span` just runs its body. Spans live in
  * memory until [[spans]] is read at the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  // wall-clock ms with nanoTime resolution
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  private val nextId = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Int)]] {
    override def initialValue(): List[(Long, Int)] = Nil
  }
  @volatile private var currentOp = -1

  /** Mark the top-level operation subsequent spans belong to. */
  def beginOp(op: Int): Unit = currentOp = op

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val stack = open.get()
      val (parent, op) = stack.headOption.getOrElse((0L, currentOp))
      open.set((id, op) :: stack)
      val t0 = nowMs()
      try body
      finally {
        done.add(Span(id, name, op, parent, t0, nowMs()))
        open.set(stack)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

/** Spark and streaming listener owned by the benchmark: jobs with their
  * stage count, task time, shuffle and spill, plus trigger progress.
  */
final class BenchListener extends SparkListener {
  private final class JobAcc(val jobId: Int, val start: Double,
      val stageIds: Seq[Int], val pin: Option[String], val site: String, val exec: Long) {
    var end = Double.NaN
    var taskMs = 0.0
    var shuffle = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageToJob = mutable.HashMap.empty[Int, JobAcc]
  private val triggers = new ConcurrentLinkedQueue[TriggerRec]()

  // call-site stack of each SQL execution: adaptive query stages run as
  // jobs submitted from a pool thread, so their own stage call site
  // names the pool, not the graft operator that ran the action
  private val execSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.details }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val exec = execSite.get(execId)
    val site = exec.getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
    val pin = (exec.toSeq ++ e.stageInfos.map(_.details)).iterator
      .flatMap(BenchListener.pinOf).nextOption()
    val acc = new JobAcc(e.jobId, e.time.toDouble, e.stageIds, pin, site, execId)
    jobs(e.jobId) = acc
    e.stageIds.foreach(s => stageToJob(s) = acc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageToJob.get(e.stageId).foreach { j =>
      j.taskMs += m.executorRunTime
      j.shuffle += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        triggers.add(TriggerRec(p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def jobRecs: Seq[JobRec] = synchronized {
    jobs.values.filter(!_.end.isNaN).map(j => JobRec(j.jobId, j.start, j.end,
      j.stageIds.size, j.taskMs, j.shuffle, j.spill, j.pin, j.site, j.exec)).toSeq
  }

  def triggerRecs: Seq[TriggerRec] = triggers.asScala.toSeq.sortBy(_.batchId)
}

object BenchListener {
  private val PinCall = """graft\.ops\.Materialize\$\.(barrierAgg|barrierAll|barrier|clusterBarrier)\(""".r

  /** The Materialize entry point named in a stage's call-site stack, if
    * the stage was launched from one.
    */
  def pinOf(callSiteLong: String): Option[String] =
    PinCall.findFirstMatchIn(callSiteLong).map(_.group(1))
}

/** Attribution and self-time arithmetic over recorded spans and jobs. */
object TraceMath {

  private def depth(s: Span, byId: Map[Long, Span]): Int = {
    var d = 0
    var p = s.parent
    while (p != 0 && byId.contains(p)) { d += 1; p = byId(p).parent }
    d
  }

  /** The innermost span open when the job started: the deepest span
    * whose interval contains the job's start, the later-opened one on a
    * tie. None for a job outside every span.
    */
  def attribute(jobs: Seq[JobRec], spans: Seq[Span]): Map[Int, Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val depths = spans.map(s => s.id -> depth(s, byId)).toMap
    jobs.flatMap { j =>
      val open = spans.filter(s => s.start <= j.start && j.start < s.end)
      if (open.isEmpty) None
      else Some(j.jobId -> open.maxBy(s => (depths(s.id), s.start)))
    }.toMap
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfTime(s: Span, spans: Seq[Span]): Double =
    s.dur - Stats.coveredWithin(s.start, s.end,
      spans.filter(_.parent == s.id).map(c => (c.start, c.end)))

  /** Operation wall minus the union of the intervals its jobs ran in:
    * time the driver spent between and around jobs.
    */
  def driverGap(opStart: Double, opEnd: Double, jobs: Seq[JobRec]): Double =
    (opEnd - opStart) - Stats.coveredWithin(opStart, opEnd,
      jobs.map(j => (j.start, j.end)))
}

/** Writes a traced pass's spans and jobs as JSON lines. */
object TraceDump {
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def write(path: String, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.foreach(s => w.println(
        s"""{"span": ${q(s.name)}, "id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""start_ms": ${s.start}, "end_ms": ${s.end}}"""))
      jobs.foreach(j => w.println(
        s"""{"job": ${j.jobId}, "start_ms": ${j.start}, "end_ms": ${j.end}, "stages": ${j.stages}, """ +
          s""""task_ms": ${j.taskMs}, "shuffle_bytes": ${j.shuffleBytes}, "spill_bytes": ${j.spillBytes}, """ +
          s""""pin": ${j.pin.map(q).getOrElse("null")}, "site": ${q(j.site.linesIterator.take(4).mkString(" | "))}}"""))
    } finally w.close()
  }
}
