package graft

/** Dev utility: best-of-2 timing of a single query at the bench scale.
  *
  * With SPARK_GRAFT_STAGE_SPREAD set, the SECOND (steady) run also
  * prints a per-stage table — tasks, p50/max task ms, total task ms,
  * input MB read and shuffle MB written — the same audit surface
  * ScaleSmoke grew in r14, here for the GATED sf0.1 rows. Structural
  * leaf re-scans show up directly: two stages with near-identical
  * input MB both reading the same leaf is the cdc_pipeline_e2e /
  * data_budget_cut signature the r14 audits fixed.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // one name, or a comma-separated list (a mini-bench in ONE warm JVM
    // — the reliable A/B surface: fresh-JVM single-query runs carry 2×
    // JIT/GC noise). The stage audit, when enabled, covers the LAST name.
    val names = (if (args.nonEmpty) args(0) else "dedup_embedding_cosine")
      .split(",").toSeq
    val name = names.last
    // SPARK_GRAFT_EXTRA_CONF (dev only): "k=v;k=v" session-conf
    // overrides, the A/B surface for config experiments — the gated
    // bench never reads it, so a config win must be promoted to the
    // Bench/Verify sessions explicitly (and justified) to count.
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2)).collect {
        case Array(k, v) => (k.trim, v.trim) }
    val spark = extra.foldLeft(Session.builder(cpus)) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/embeddings.parquet").groupBy().count().collect()

    val audit = sys.env.contains("SPARK_GRAFT_STAGE_SPREAD")
    // (stageId, taskMs, inputBytes, shuffleWriteBytes, shuffleReadBytes) per task
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Long, Long)]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // stage wall span (submission..completion) — gaps between spans are
    // DRIVER time (planning, broadcast builds, barrier bookkeeping),
    // which task-ms tables are blind to
    val stageSpans = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    if (audit) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null && t.taskMetrics != null)
            tasks.add((t.stageId, t.taskInfo.duration,
              t.taskMetrics.inputMetrics.bytesRead,
              t.taskMetrics.shuffleWriteMetrics.bytesWritten,
              t.taskMetrics.shuffleReadMetrics.totalBytesRead))
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          // the short name is usually a generic thread-pool frame —
          // attribute the stage to the first repo frame in its call
          // stack so the table names OUR operator, not the executor
          val repoFrame = sc.stageInfo.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("TimeOne"))
            .map(_.trim).getOrElse(sc.stageInfo.name.takeWhile(_ != '\n'))
          stageNames.put(sc.stageInfo.stageId, repoFrame)
          for (s <- sc.stageInfo.submissionTime; c <- sc.stageInfo.completionTime)
            stageSpans.put(sc.stageInfo.stageId, (s, c))
        }
      })

    // SPARK_GRAFT_TIMEONE_RUNS (default 2): more runs drive the JVM to
    // the JIT-warm steady state the full bench reaches naturally — a
    // fresh-JVM best-of-2 can read 2× the gated number on plan-heavy
    // queries (measured on corpus_curation_e2e: 20.9 vs 8.6 s gated).
    val nRuns = sys.env.get("SPARK_GRAFT_TIMEONE_RUNS")
      .flatMap(_.toIntOption).getOrElse(2)
    names.foreach { nm =>
      val times = (1 to nRuns).map { i =>
        // drop the previous run's leaked localCheckpoint blocks before
        // timing: back-to-back runs of a checkpoint-heavy query (the CC
        // loop) accumulate driver-heap blocks that the ContextCleaner
        // only reclaims after a GC, which read as 2× run-to-run noise
        // here but never in the full bench (155 queries of natural
        // pacing between revisits)
        graft.ops.Materialize.releaseAll(spark)
        System.gc()
        if (audit && nm == name && i == nRuns) {
          tasks.clear(); stageSpans.clear() // audit the last (steadiest) run only
        }
        val t0 = System.nanoTime()
        SparkEntry.queries(nm)(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timeone] $nm best=${times.min}%.2f runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    if (audit) {
      Thread.sleep(1500) // drain the async listener bus
      val byStage = tasks.toArray(Array.empty[(Int, Long, Long, Long, Long)])
        .groupBy(_._1).toSeq.map { case (sid, ts) =>
          val ds = ts.map(_._2).sorted
          (sid, ts.length, ds(ds.length / 2), ds.last, ds.sum,
            ts.map(_._3).sum / 1e6, ts.map(_._4).sum / 1e6,
            ts.map(_._5).sum / 1e6)
        }.sortBy(-_._5)
      println("[timeone] steady-run stages by total task ms:")
      byStage.foreach { case (sid, n, p50, mx, tot, inMb, shMb, shRMb) =>
        println(f"  stage $sid%5d: $n%4d tasks  p50 $p50%6d  max $mx%6d  " +
          f"total $tot%8d ms  input $inMb%8.1f MB  shufR $shRMb%7.1f MB  " +
          f"shufW $shMb%7.1f MB  " +
          s"${stageNames.getOrDefault(sid, "?")}")
      }
      // wall timeline: stage spans in submission order, with the gap
      // since the previous stage's completion — a large positive gap is
      // time NO stage was running (driver planning / barriers / sleeps)
      import scala.jdk.CollectionConverters._
      val spans = stageSpans.asScala.toSeq.sortBy(_._2._1)
      if (spans.nonEmpty) {
        val t00 = spans.head._2._1
        println("[timeone] steady-run stage timeline (gap = idle driver-side ms before the stage):")
        var prevEnd = t00
        var totalGap = 0L
        spans.foreach { case (sid, (s, c)) =>
          val gap = s - prevEnd
          if (gap > 0) totalGap += gap
          println(f"  t+${s - t00}%7d ms  stage $sid%5d  span ${c - s}%6d ms  gap ${math.max(0, gap)}%6d ms")
          prevEnd = math.max(prevEnd, c)
        }
        println(f"[timeone] total inter-stage gap: $totalGap%d ms " +
          f"(wall ${prevEnd - t00}%d ms)")
      }
    }
    spark.stop()
  }
}
