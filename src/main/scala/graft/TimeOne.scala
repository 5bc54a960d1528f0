package graft

/** Dev utility: best-of-2 timing of a single query at the bench scale.
  *
  * The last run of the last name is profiled: after the timing lines it
  * prints one `PROFILE {…}` line (see [[Profile]]) with its per-stage
  * tasks, task ms, input and shuffle MB, spans and inter-stage gap.
  * Structural leaf re-scans show up directly: two stages with
  * near-identical input MB both reading the same leaf is the
  * cdc_pipeline_e2e / data_budget_cut signature the r14 audits fixed.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // one name, or a comma-separated list (a mini-bench in ONE warm JVM
    // — the reliable A/B surface: fresh-JVM single-query runs carry 2×
    // JIT/GC noise). The profile covers the LAST name.
    val queries = SparkEntry.select(
      (if (args.nonEmpty) args(0) else "dedup_embedding_cosine").split(",").toSeq)
    val name = queries.last._1
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
    val profile = new Profile(spark.sparkContext)

    // SPARK_GRAFT_TIMEONE_RUNS (default 2): more runs drive the JVM to
    // the JIT-warm steady state the full bench reaches naturally — a
    // fresh-JVM best-of-2 can read 2× the gated number on plan-heavy
    // queries (measured on corpus_curation_e2e: 20.9 vs 8.6 s gated).
    val nRuns = sys.env.get("SPARK_GRAFT_TIMEONE_RUNS")
      .flatMap(_.toIntOption).getOrElse(2)
    queries.foreach { case (nm, query) =>
      val times = (1 to nRuns).map { i =>
        // drop the previous run's leaked localCheckpoint blocks before
        // timing: back-to-back runs of a checkpoint-heavy query (the CC
        // loop) accumulate driver-heap blocks that the ContextCleaner
        // only reclaims after a GC, which read as 2× run-to-run noise
        // here but never in the full bench (155 queries of natural
        // pacing between revisits)
        graft.ops.Materialize.releaseAll(spark)
        System.gc()
        if (nm == name && i == nRuns) { // profile the last (steadiest) run only
          profile.drain()
          profile.reset()
        }
        val t0 = System.nanoTime()
        query(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timeone] $nm best=${times.min}%.2f runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    profile.drain()
    println(profile.line(name))
    spark.stop()
  }
}
