package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import graft.cdc.{Changefeed, Conveyor, Msort}
import graft.ops.Materialize
import graft.script.UserScript
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The streaming form of the `cdc_pipeline_e2e` chain, in two phases:
  *
  *  1. backfill — a closed-loop drain of a seeded backlog of files
  *     (`max_files_per_trigger` per trigger), giving rows_per_s;
  *  2. live — one generator thread appends a file and its `.RESOLVED`
  *     marker at a fixed rate while triggers run back to back; latency
  *     is each file's lag from its due time to the sink commit that
  *     contains it.
  *
  * Per trigger: `Changefeed.readStream` (the DSv2 source) → parse, pinned
  * once → `Pipeline.dlq` for rows with a malformed HLC →
  * `Conveyor.Conveyors.foreachBatchAccept` (dynamic best-effort window on
  * a logical clock) → `UserScript` lookup of the target + dispatch
  * (deletes to a tombstone route) → `Pipeline.mergeOrDlq` and
  * `latestByKey` → the sink: last-one-wins fold into the pinned target.
  * One operation = one generated file.
  */
final class CdcStream(cfg: JsonNode) extends Workload {
  private val backlogFiles = cfg.get("backlog_files").asInt()
  private val liveFiles = cfg.get("live_files").asInt()
  private val rate = cfg.get("live_files_per_s").asDouble()
  private val mft = cfg.get("max_files_per_trigger").asInt()
  private val fileMs = cfg.get("file_logical_ms").asLong()
  private val windowMs = cfg.get("best_effort_window_ms").asLong()
  private val gapMs = cfg.get("live_gap_ms").asLong()
  private val warmBacklog = cfg.get("warmup_backlog_files").asInt()
  private val warmLive = cfg.get("warmup_live_files").asInt()
  private val backlogRowsPerFile = cfg.get("backlog_rows_per_file").asInt()
  private val props = {
    val f = cfg.get("feed")
    Gen.CdcProps(f.get("keys").asInt(), f.get("zipf_s").asDouble(), f.get("rows_per_file").asInt(),
      f.get("delete_share").asDouble(), f.get("malformed_share").asDouble(),
      f.get("conflict_share").asDouble(), f.get("out_of_order_share").asDouble(),
      f.get("duplicate_share").asDouble())
  }
  // logical time of file 0: 2024-01-01T00:00:00Z. The live files start
  // live_gap_ms of logical time after the backlog ends: the backlog is
  // history that far behind the clock when the run starts.
  private val t0Nanos = 1704067200L * 1000000000L
  private def fileStartNanos(f: Int): Long =
    t0Nanos + f * fileMs * 1000000L + (if (f >= backlogFiles) gapMs * 1000000L else 0L)
  private def fileEndUs(f: Int): Long = (fileStartNanos(f) + fileMs * 1000000L) / 1000L

  private val script =
    """{"stages": [
      |   {"op": "map", "cols": {"__op": "case when is_delete then 'd' else 'u' end"}},
      |   {"op": "lookup", "table": "target", "on": {"id": "id"},
      |    "select": {"prev_value": "value"}}],
      | "deletesTo": "tombstones",
      | "dispatch": {"default": "target"}}""".stripMargin

  private val afterSchema = StructType(Seq(StructField("mid", LongType),
    StructField("value", LongType), StructField("before", LongType)))
  private val ordE: Column = struct(col("nanos"), col("mid"))

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    // warm-up runs the first warmup_backlog_files as its backlog, so
    // those are the big backlog-sized files in either pass
    val feed = Gen.cdcFeed(seed, props, backlogFiles + liveFiles, fileStartNanos, fileMs * 1000000L,
      bigFiles = backlogFiles, bigRows = backlogRowsPerFile)
    val bodies = feed.files.map(_.map(_.envelope).mkString("", "\n", "\n"))
    new Prepared {
      private var round = 0
      def run(t: Tracer, l: Option[BenchListener], warm: Boolean): Pass = {
        round += 1
        if (warm) pass(spark, s"$dir/run$round", feed, bodies, warmBacklog, warmLive, t, l, warm)
        else pass(spark, s"$dir/run$round", feed, bodies, backlogFiles, liveFiles, t, l, warm)
      }
    }
  }

  private def name(f: Int): String = f"$f%08d-data.ndjson"

  /** Data file then its marker, each written under a hidden name and
    * renamed into place, so the source never lists a partial file.
    */
  private def publish(feedDir: String, f: Int, body: String, marker: Boolean): Unit = {
    def put(n: String, s: String): Unit = {
      val tmp = Paths.get(feedDir, s".tmp-$n")
      Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(feedDir, n), StandardCopyOption.ATOMIC_MOVE)
    }
    put(name(f), body)
    if (marker) put(f"$f%08d-resolved.RESOLVED", s"""{"resolved":"${fileEndUs(f) * 1000L}.0000000000"}""")
  }

  private def fileIndex(offsetJson: String): Int =
    """(\d{8})-data\.ndjson""".r.findFirstMatchIn(offsetJson).map(_.group(1).toInt).getOrElse(-1)

  private def pass(spark: SparkSession, runDir: String, feed: Gen.Feed,
      bodies: IndexedSeq[String], backlogFiles: Int, liveFiles: Int,
      t: Tracer, l: Option[BenchListener], warm: Boolean): Pass = {
    val nFiles = backlogFiles + liveFiles
    import spark.implicits._
    val pinnedBefore = Curation.pinned(spark)
    val feedDir = s"$runDir/feed"
    Files.createDirectories(Paths.get(feedDir))
    (0 until backlogFiles).foreach(f => publish(feedDir, f, bodies(f), f == backlogFiles - 1))

    val emptyState = Seq.empty[(Long, Long, Long, Option[Long], Boolean)]
      .toDF("id", "mid", "nanos", "value", "is_delete")
    var state: DataFrame = Materialize.barrier(emptyState)
    val dead = mutable.ArrayBuffer.empty[(Long, String)]
    val modes = mutable.ArrayBuffer.empty[(Long, String)]
    val sinkEnd = new ConcurrentHashMap[Long, Double]()
    // during the backfill the clock reads the start of the live phase,
    // so every backfill trigger lags by more than the best-effort window
    val clockUs = new AtomicLong(fileEndUs(backlogFiles - 1) + gapMs * 1000L)
    var badHlc: DataFrame = null

    val conveyors = new Conveyor.Conveyors(Conveyor.Config(bestEffortWindowUs = windowMs * 1000L))
    val accept = conveyors.foreachBatchAccept("target",
      proposalsOf = (b: DataFrame, _: Long) => b.select(lit(0).as("part"), col("nanos"), col("mid")),
      partition = col("part"), nanos = col("nanos"), arrival = col("mid"),
      nowUs = () => clockUs.get(), keys = Seq("id", "slot"), order = ordE,
      tsNanos = col("nanos")) { (accepted: DataFrame, mode: Conveyor.Mode, batchId: Long) =>
      t.span("apply.sink") {
        modes += (batchId -> mode.name)
        val routed = UserScript.compile(script,
          sides = Map("target" -> state.filter(!col("is_delete")).select("id", "value")))
          .dispatch(accepted.drop("speculative"))
        val ups = routed.get("target").map(df =>
          graft.Pipeline(df, keys = Seq("id"), order = ordE)
            .mergeOrDlq(col("before"), col("value")))
        val tombs = routed.get("tombstones").map(df => Msort.latestByKey(df, Seq("id"), ordE))
        val rows = (ups.map(_.latestByKey().state.select(col("id"), col("mid"), col("nanos"),
            col("value"), lit(false).as("is_delete"))).toSeq ++
          tombs.map(_.select(col("id"), col("mid"), col("nanos"),
            lit(null).cast("long").as("value"), lit(true).as("is_delete"))).toSeq)
        val letters = (Seq(badHlc.select(col("mid"), lit("bad_hlc").as("reason"))) ++
          ups.flatMap(_.deadLetters).map(_.select(col("mid"), col("dlq_reason").as("reason"))))
          .reduce(_ union _)
        dead ++= letters.collect().map(r => (r.getLong(0), r.getString(1)))
        val prev = state
        state = t.span("materialize.state")(Materialize.barrier(
          Msort.latestByKey(rows.foldLeft(prev)(_ unionByName _), Seq("id"), ordE)))
      }
    }

    val handler = (batch: DataFrame, batchId: Long) => {
      t.beginOp(batchId.toInt)
      t.span("op") {
        val k = from_json(col("key"), ArrayType(LongType))
        val d = from_json(col("data"), afterSchema)
        val parsed = t.span("materialize.parse")(Materialize.barrier(batch.select(
          k.getItem(0).as("id"), k.getItem(1).cast("int").as("slot"), k.getItem(2).as("mid"),
          col("hlc.nanos").as("nanos"), col("is_delete"),
          d.getField("value").as("value"), d.getField("before").as("before"))))
        val p = graft.Pipeline(parsed, keys = Seq("id"), order = ordE)
          .dlq("bad_hlc" -> col("nanos").isNull)
        badHlc = p.deadLetters.get
        t.span("conveyor")(accept(p.state, batchId))
      }
      sinkEnd.put(batchId, t.nowMs())
      ()
    }

    val start = t.nowMs()
    val q = Changefeed.readStream(spark, feedDir, mft)
      .writeStream.foreachBatch(handler)
      .option("checkpointLocation", s"$runDir/ck")
      .start()
    def covered: Int = Option(q.lastProgress)
      .map(p => fileIndex(p.sources.head.endOffset)).getOrElse(-1)
    def await(f: Int, timeoutMs: Long): Unit = {
      val end = System.currentTimeMillis() + timeoutMs
      while (covered < f && q.exception.isEmpty && System.currentTimeMillis() < end) Thread.sleep(2)
    }
    await(backlogFiles - 1, 120000L)

    // live phase: open loop, file i due at liveStart + i / rate
    val interval = 1000.0 / rate
    val liveStart = t.nowMs() + interval
    val issued = new Array[Double](liveFiles)
    val gen = new Thread(() => {
      for (i <- 0 until liveFiles) {
        val due = OpenLoop.due(liveStart, interval, i)
        val wait = due - t.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
        publish(feedDir, backlogFiles + i, bodies(backlogFiles + i), marker = true)
        clockUs.set(fileEndUs(backlogFiles + i))
        issued(i) = t.nowMs()
      }
    }, "graftbench-live")
    gen.start()
    gen.join()
    await(nFiles - 1, 60000L)
    // a failure before every file was committed; stopping may interrupt
    // an idle trigger, which is not one
    val err = q.exception.orElse(
      if (covered < nFiles - 1) Some(new IllegalStateException(s"stream stalled at file $covered"))
      else None)
    q.stop()
    err.foreach(e => System.err.println(s"stream failed: $e"))

    // batch → highest file index it covered, and when its sink committed
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val commits = progress.toSeq.flatMap(p =>
      Option(sinkEnd.get(p.batchId)).map(c => (p.batchId, fileIndex(p.sources.head.endOffset), c)))
      .sortBy(_._1)
    val backfillEnd = commits.find(_._2 >= backlogFiles - 1).map(_._3).getOrElse(Double.NaN)
    val backlogRows = feed.files.take(backlogFiles).map(_.size).sum
    val files = feed.files.take(nFiles)
    val dues = (0 until liveFiles).map(OpenLoop.due(liveStart, interval, _))
    val lat = OpenLoop.latencies(dues, commits.map(c => (c._2 - backlogFiles, c._3)))
    val late = OpenLoop.lateness(dues, issued.toSeq)

    // correctness: every mutation accounted for exactly once
    val finalState = state.collect().map(r => r.getLong(0) ->
      (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))).toMap
    val (badMids, applied, tombstones) = check(files, finalState, dead.toSeq)
    val failedFiles = files.indices.filter(f => files(f).exists(m => badMids.contains(m.mid)))
    val failed = if (err.isDefined || lat.exists(_.isEmpty)) nFiles else failedFiles.size
    if (failedFiles.nonEmpty) System.err.println(s"cdc_stream: ${badMids.size} mutations misaccounted")

    val liveFrom = commits.find(_._2 >= backlogFiles - 1).map(_._1 + 1).getOrElse(Long.MaxValue)
    val layer = l.map { li =>
      val ly = new Layers(spark, t, li)
      val live = ly.triggers.filter(_.batchId >= liveFrom)
      def dur(k: String): Double =
        if (live.isEmpty) 0.0 else Stats.median(live.map(_.durations.getOrElse(k, 0L).toDouble))
      val modeSeq = modes.sortBy(_._1).map(_._2)
      Layers.complete(ly.perOp("op") ++ Seq(
        Metric("source.latest_offset_ms", dur("latestOffset"), "ms"),
        Metric("source.rows_per_trigger",
          if (live.isEmpty) 0.0 else Stats.median(live.map(_.rows.toDouble)), "count"),
        Metric("engine.query_planning_ms", dur("queryPlanning"), "ms"),
        Metric("engine.wal_commit_ms", dur("walCommit"), "ms"),
        Metric("conveyor.refresh_ms", ly.medianSelfMs("conveyor"), "ms"),
        Metric("conveyor.mode_switches",
          modeSeq.zip(modeSeq.drop(1)).count { case (a, b) => a != b }.toDouble, "count"),
        Metric("conveyor.best_effort_triggers", modeSeq.count(_ == Conveyor.BestEffort.name).toDouble, "count"),
        Metric("apply.sink_ms", ly.medianMs("apply.sink"), "ms"),
        Metric("apply.applied_rows", applied.toDouble, "count"),
        Metric("apply.dlq_rows", dead.size.toDouble, "count"),
        Metric("apply.tombstones", tombstones.toDouble, "count"),
        Metric("loadgen.late_ms", Stats.median(late), "ms")))
    }.getOrElse(Nil)
    val held = if (warm) Held.none else Held.measure(spark)
    Curation.releaseSince(spark, pinnedBefore)
    Pass(nFiles, failed, lat.flatten, backlogRows.toLong, backfillEnd - start, held, layer,
      Map("live_files_per_s" -> Main.fmt(rate), "live_rows_per_file" -> props.rowsPerFile.toString,
        "backlog_rows" -> backlogRows.toString,
        "generator_late_ms_p50" -> Main.fmt(if (late.isEmpty) 0.0 else Stats.median(late)),
        "generator_late_ms_max" -> Main.fmt(late.maxOption.getOrElse(0.0)),
        "triggers" -> commits.size.toString,
        "backfill_s" -> Main.fmt((backfillEnd - start) / 1000),
        // rows:wall per trigger, to split per-trigger from per-row cost
        "trigger_rows_ms" -> progress.map(p =>
          s"${p.numInputRows}:${p.durationMs.get("triggerExecution")}").mkString("/"),
        "modes" -> modes.sortBy(_._1).map(_._2.take(1)).mkString))
  }

  /** Accounts for every delivered mutation against the program's DLQ and
    * final target: malformed rows and the second write of each planted
    * conflict must be dead-lettered exactly once; every other mutation
    * is applied, and per key the target holds the last applied one
    * (nanos, then mid), a delete as a tombstone. Returns the
    * misaccounted mutation ids, and the applied and tombstone counts.
    */
  private def check(files: Seq[Seq[Gen.Mut]], state: Map[Long, (Long, Option[Long], Boolean)],
      dead: Seq[(Long, String)]): (Set[Long], Long, Long) = {
    val delivered = files.flatten.groupBy(_.mid).values.map(_.head).toSeq
    val expectedDead = delivered.collect {
      case m if m.malformed => m.mid -> "bad_hlc"
      case m if m.conflict => m.mid -> "merge_conflict"
    }.toMap
    val deadMap = dead.groupBy(_._1)
    val bad = mutable.Set.empty[Long]
    (expectedDead.keySet ++ deadMap.keySet).foreach { mid =>
      val got = deadMap.getOrElse(mid, Nil)
      if (got.size != 1 || !expectedDead.get(mid).contains(got.head._2)) bad += mid
    }
    val applied = delivered.filter(m => !expectedDead.contains(m.mid))
    val winners = applied.groupBy(_.id).map { case (id, ms) => id -> ms.maxBy(m => (m.nanos, m.mid)) }
    (winners.keySet ++ state.keySet).foreach { id =>
      val ok = (winners.get(id), state.get(id)) match {
        case (Some(w), Some((mid, value, del))) =>
          w.mid == mid && w.isDelete == del && (del || value.contains(w.value))
        case _ => false
      }
      if (!ok) {
        winners.get(id).foreach(w => bad += w.mid)
        state.get(id).foreach(s => bad += s._1)
      }
    }
    (bad.toSet, applied.size.toLong, state.values.count(_._3).toLong)
  }
}
