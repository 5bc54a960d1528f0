package graftbench

import org.apache.spark.sql.SparkSession

/** Per-layer figures derived from a traced pass: spans by name, and the
  * Spark jobs attributed to them. Every workload reports the full
  * metric set; a layer the workload never calls reads 0.
  */
final class Layers(spark: SparkSession, t: Tracer, l: BenchListener) {
  org.apache.spark.GraftbenchBus.drain(spark.sparkContext)
  val spans: Seq[Span] = t.spans
  val jobs: Seq[JobRec] = l.jobRecs
  private val owner: Map[Int, Span] = TraceMath.attribute(jobs, spans)
  val triggers: Seq[TriggerRec] = l.triggerRecs

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Median duration of the spans called `name`. */
  def medianMs(name: String): Double = med(named(name).map(_.dur))

  /** Median self time of the spans called `name`. */
  def medianSelfMs(name: String): Double = med(named(name).map(TraceMath.selfTime(_, spans)))

  /** Jobs whose innermost open span was `s` or one of its descendants. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    def within(x: Span): Boolean =
      x.id == s.id || (x.parent != 0 && byId.get(x.parent).exists(within))
    jobs.filter(j => owner.get(j.jobId).exists(within))
  }
  private lazy val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap

  /** Per-operation medians over the top-level spans called `opName`:
    * jobs, stages, task time, shuffle and spill bytes, driver gap, and
    * the Materialize pin actions and the time their jobs ran.
    */
  def perOp(opName: String): Seq[Metric] = {
    val ops = named(opName)
    val per = ops.map(o => o -> jobsUnder(o))
    // a pin job names Materialize in its call site; streaming jobs carry
    // the query's start site instead, so the harness's own barrier calls
    // are also recognised by their "materialize." span
    def isPin(j: JobRec): Boolean =
      j.pin.isDefined || owner.get(j.jobId).exists(_.name.startsWith("materialize."))
    def m(f: (Span, Seq[JobRec]) => Double): Double = med(per.map { case (o, js) => f(o, js) })
    Seq(
      Metric("spark.jobs", m((_, js) => js.size), "count"),
      Metric("spark.stages", m((_, js) => js.map(_.stages).sum), "count"),
      Metric("spark.task_ms", m((_, js) => js.map(_.taskMs).sum), "ms"),
      Metric("spark.shuffle_bytes", m((_, js) => js.map(_.shuffleBytes).sum), "bytes"),
      Metric("spark.spill_bytes", m((_, js) => js.map(_.spillBytes).sum), "bytes"),
      Metric("spark.driver_gap_ms", m((o, js) => TraceMath.driverGap(o.start, o.end, js)), "ms"),
      // pin actions: adaptive execution splits one action into a
      // timing-dependent number of jobs, so each SQL execution counts once
      Metric("materialize.pin_jobs", m((_, js) =>
        js.filter(isPin).map(j => if (j.exec >= 0) j.exec else -1L - j.jobId).distinct.size), "count"),
      Metric("materialize.pin_ms", m((_, js) =>
        Stats.unionLength(js.filter(isPin).map(j => (j.start, j.end)))), "ms"))
  }
}

object Layers {
  /** The per-layer metric set, in report order, with units. */
  val all: Seq[(String, String)] = Seq(
    "source.latest_offset_ms" -> "ms", "source.rows_per_trigger" -> "count",
    "engine.query_planning_ms" -> "ms", "engine.wal_commit_ms" -> "ms",
    "conveyor.refresh_ms" -> "ms", "conveyor.mode_switches" -> "count",
    "conveyor.best_effort_triggers" -> "count",
    "apply.sink_ms" -> "ms", "apply.applied_rows" -> "count", "apply.dlq_rows" -> "count",
    "apply.tombstones" -> "count",
    "textops.filter_ms" -> "ms", "textops.score_lm_ms" -> "ms", "textops.load_lm_ms" -> "ms",
    "dedup.verified_dup_edges_ms" -> "ms", "dedup.dup_clusters_ms" -> "ms",
    "dedup.cc_rounds" -> "count", "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.verify_yield" -> "ratio",
    "dedup.ingest_ms" -> "ms", "dedup.compact_ms" -> "ms", "dedup.index_rows" -> "count",
    "dedup.index_bytes" -> "bytes", "dedup.ramp" -> "ratio",
    "materialize.pin_jobs" -> "count", "materialize.pin_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.driver_gap_ms" -> "ms",
    "spark.task_ms" -> "ms", "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "loadgen.late_ms" -> "ms")

  /** The full set: measured values where given, 0 for layers not called. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val got = measured.map(m => m.name -> m).toMap
    all.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
