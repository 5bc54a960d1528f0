package org.apache.spark {

  /** The listener-bus wait behind [[graft.Profile.drain]]: Spark keeps
    * its bus package-private. */
  object GraftListenerBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
  }
}

package graft {

  import java.util.Locale
  import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
  import java.util.concurrent.atomic.AtomicInteger
  import org.apache.spark.SparkContext
  import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
    SparkListenerStageCompleted, SparkListenerTaskEnd}
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
  import scala.jdk.CollectionConverters._

  /** The stage profiler of the dev tools (TimeOne, ScaleSmoke). It
    * records every task and stage the context finishes and renders them
    * as one `PROFILE {…}` JSON line per region: the number of jobs and
    * of pin actions; per stage its id, its name (the first `graft.`
    * frame outside `Materialize` of its call site, else of the call site
    * of the SQL execution its job belongs to — adaptive execution
    * submits query stages from a pool thread whose own stack names no
    * operator — else Spark's short name),
    * task count, p50 / max / total task ms, input, shuffle-read
    * and shuffle-write MB, and its span in ms from the region's first
    * submission; then the total inter-stage gap, time no stage ran
    * (driver planning, broadcast builds, pin bookkeeping, which task ms
    * cannot see), and the wall from first submission to last completion.
    *
    * It listens on `sc` from construction until `detach()`. Per region:
    * `reset()`, run, `drain()`, read. Events arrive on an asynchronous
    * bus: an action returning does not mean its task-end events have
    * been delivered.
    */
  private[graft] final class Profile(sc: SparkContext) extends SparkListener {
    private case class Task(stage: Int, ms: Long, input: Long, shufRead: Long, shufWrite: Long)
    private val tasks = new ConcurrentLinkedQueue[Task]()
    // stage id -> (name, submission ms, completion ms)
    private val stages = new ConcurrentHashMap[Int, (String, Long, Long)]()
    // SQL execution id -> the graftFrame of its call site; stage id -> it
    private val execNames = new ConcurrentHashMap[Long, String]()
    private val stageExecNames = new ConcurrentHashMap[Int, String]()
    // SQL execution ids started by a Materialize pin; those that ran a job
    private val pinExecs = ConcurrentHashMap.newKeySet[Long]()
    private val pinActions = ConcurrentHashMap.newKeySet[Long]()
    private val jobs = new AtomicInteger()
    sc.addSparkListener(this) // after the fields: events may arrive at once

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskMetrics != null) {
        val m = t.taskMetrics
        tasks.add(Task(t.stageId, t.taskInfo.duration, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
      }

    private def graftFrames(callSite: String): Seq[String] =
      callSite.linesIterator.map(_.trim).filter(_.startsWith("graft.")).toSeq

    private def isPin(frame: String): Boolean = frame.startsWith("graft.ops.Materialize")

    /** The first `graft.` frame outside `graft.ops.Materialize`, so a pin
      * is named by the operator that pinned; the Materialize frame only
      * when no other `graft.` frame is on the stack. */
    private def graftFrame(callSite: String): Option[String] = {
      val frames = graftFrames(callSite)
      frames.find(!isPin(_)).orElse(frames.headOption)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        if (graftFrames(s.details).headOption.exists(isPin)) pinExecs.add(s.executionId)
        graftFrame(s.details).foreach(execNames.put(s.executionId, _))
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      for {
        props <- Option(e.properties)
        id <- Option(props.getProperty("spark.sql.execution.id")).map(_.toLong)
      } {
        if (pinExecs.contains(id)) pinActions.add(id)
        Option(execNames.get(id)).foreach(name => e.stageIds.foreach(stageExecNames.put(_, name)))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val name = graftFrame(i.details).orElse(Option(stageExecNames.get(i.stageId)))
        .getOrElse(i.name.takeWhile(_ != '\n'))
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      stages.put(i.stageId, (name, i.submissionTime.getOrElse(end), end))
    }

    def detach(): Unit = sc.removeSparkListener(this)

    def reset(): Unit = {
      tasks.clear(); stages.clear(); execNames.clear(); stageExecNames.clear()
      pinExecs.clear(); pinActions.clear(); jobs.set(0)
    }

    /** Wait until every event posted so far has reached this listener. */
    def drain(): Unit = org.apache.spark.GraftListenerBus.drain(sc)

    def tasksSeen: Int = tasks.size

    /** Jobs started since the last reset. */
    def jobsSeen: Int = jobs.get

    /** Pin actions since the last reset: SQL executions whose call site's
      * first `graft.` frame is `graft.ops.Materialize` and that ran a job
      * (graftbench counts them the same way). */
    def pinsSeen: Int = pinActions.size

    private def p50Max(ts: Iterable[Task]): (Long, Long) = {
      val ms = ts.map(_.ms).toArray.sorted
      if (ms.isEmpty) (0L, 0L) else (ms(ms.length / 2), ms.last)
    }

    /** p50 and max task ms over every task since the last reset. */
    def taskMs: (Long, Long) = p50Max(tasks.asScala)

    def shuffleWriteMb: Double = tasks.asScala.map(_.shufWrite).sum / 1e6

    def line(region: String): String = {
      def mb(bytes: Seq[Long]) = "%.3f".formatLocal(Locale.ROOT, bytes.sum / 1e6)
      val byStage = tasks.asScala.toSeq.groupBy(_.stage)
      val ss = stages.asScala.toSeq.sortBy { case (id, (_, start, _)) => (start, id) }
      val t0 = ss.headOption.fold(0L) { case (_, (_, start, _)) => start }
      var (prevEnd, gap) = (t0, 0L)
      val rows = ss.map { case (id, (name, start, end)) =>
        gap += math.max(0L, start - prevEnd)
        prevEnd = math.max(prevEnd, end)
        val ts = byStage.getOrElse(id, Nil)
        val (p50, max) = p50Max(ts)
        s"""{"id":$id,"name":${SparkEntry.jsonString(name)},"tasks":${ts.size},""" +
          s""""p50_ms":$p50,"max_ms":$max,"total_ms":${ts.map(_.ms).sum},""" +
          s""""input_mb":${mb(ts.map(_.input))},"shuffle_read_mb":${mb(ts.map(_.shufRead))},""" +
          s""""shuffle_write_mb":${mb(ts.map(_.shufWrite))},"start_ms":${start - t0},"end_ms":${end - t0}}"""
      }
      s"""PROFILE {"region":${SparkEntry.jsonString(region)},"jobs":$jobsSeen,"pins":$pinsSeen,""" +
        s""""gap_ms":$gap,"wall_ms":${prevEnd - t0},"stages":${rows.mkString("[", ",", "]")}}"""
    }
  }
}
