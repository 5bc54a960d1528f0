package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_BENCH_ONLY (dev only, unset in driver runs): restrict
    // the sweep to a comma-separated subset — the gated best-of-2
    // methodology on just the queries an optimization touches, without
    // paying the full 155-query wall per A/B reading. An unknown name
    // fails here: a partial set would still report a gated total.
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(csv) => SparkEntry.select(csv.split(",").toSeq).map(_._1)
      case None => SparkEntry.queries.keys.toSeq
    }
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logging.quietWindowExec()
    // Warm the JVM once (codegen compiler, parquet reader, shuffle
    // machinery) so the first measured query isn't charged for JIT.
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .groupBy().count().collect()
      catch { case _: Throwable => () }
    }
    // Per query: best-of-2 CONSECUTIVE runs (the second reuses compiled
    // codegen and OS page cache, reporting steady-state cost instead of
    // first-run compilation noise; consecutive, not interleaved — a
    // full-suite sweep between a query's runs costs measurable cache
    // locality). A query that throws reports -1 (never a near-zero fake
    // time that would flatter the total).
    // The timed action is a noop-format WRITE, not count(): under count
    // Catalyst prunes every unreferenced projection, so a row-shaped
    // query (fingerprints, schema maps) would skip its expensive
    // expressions entirely and the bench would flatter it. The noop
    // sink consumes every output column like Verify's parquet write
    // does, with zero I/O cost.
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    // Per query: best-of-2, escalating to best-of-3 when the two runs
    // disagree by >10% — the r10 closing artifact couldn't tell a real
    // 15% regression on the heaviest query from one contended run
    // (corpus_curation_e2e read 6.9 s one round and 8.2 s the next on
    // an unchanged plan). A third consecutive run resolves which of
    // the two readings was the outlier. Every run's time is kept so
    // the JSON can report the observed per-query spread.
    def sweep(): Map[String, Seq[Double]] = names.map { name =>
      val first = Seq(timeOne(name), timeOne(name))
      val good = first.filter(_ >= 0)
      val times =
        if (good.size == 2 && (good.max - good.min) / good.min > 0.10)
          first :+ timeOne(name)
        else first
      name -> times
    }.toMap
    // NO discarded per-query warm-up sweep (dropped in r14): it cost a
    // full suite execution, and best-of-2 already absorbs first-run
    // codegen/JIT — each sweep's pass total takes every query's MIN,
    // so sweep 1's cold first run never reaches the gate (the min is
    // its steady second run; at worst a cold/steady >10% split buys
    // one best-of-3 escalation). The session-level warm-up above
    // (parquet reader, shuffle machinery) stays — it is four counts,
    // not a suite.
    //
    // Honesty gate: the WHOLE best-of-2 suite runs twice, minutes
    // apart, so bursty host contention lands in one sweep but not the
    // other. If the sweep totals disagree by >15% the host was NOT
    // idle and this artifact must not be trusted as the measurement —
    // `gated: false` says so in the JSON itself, so a contended
    // closing run can't silently masquerade as the bench.
    //
    // AUTO-RETRY (r12): a failed gate used to need a manual re-run to
    // get an authoritative reading (the r11 driver artifact shipped
    // gated:false). Now the sweep PAIR reruns up to `maxAttempts`
    // times; the first pair whose totals converge is the artifact.
    // Retries fire ONLY on spread — a query that ERRORS fails
    // identically every time, so burning attempts on it would just
    // triple the wall. Exhausted attempts keep the LEAST-spread pair
    // and stamp gated:false + the attempt count: an explicit
    // "host never settled" marker, not a silent pass.
    def passTotalsOf(pair: Seq[Map[String, Seq[Double]]]): Seq[Double] =
      pair.map(p => p.values.map(ts => ts.filter(_ >= 0)).collect {
        case ts if ts.nonEmpty => ts.min }.sum)
    def spreadOf(pair: Seq[Map[String, Seq[Double]]]): Double = {
      val pt = passTotalsOf(pair)
      if (pt.min <= 0) Double.PositiveInfinity
      else (pt.max - pt.min) / pt.min
    }
    // toIntOption: a malformed env value must not crash the whole
    // bench before any sweep runs — fall back to the default
    val maxAttempts = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS")
        .flatMap(_.toIntOption).getOrElse(3))
    // WALL-CLOCK BUDGET (r14 — the r13 driver run was killed mid-retry
    // at rc=124 leaving NO artifact): retries stop once the budget is
    // spent and the least-spread pair so far ships with gated:false —
    // an explicit "host never settled inside the budget" marker. The
    // default sits inside the driver's kill window; the budget bounds
    // RETRIES, not correctness — attempt 1 always runs to completion.
    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .flatMap(_.toDoubleOption).getOrElse(1500.0)
    val tStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - tStart) / 1e9
    // cpus-suffixed default (r16): the driver benches the SAME tree at
    // two core counts back-to-back; with one shared default path the
    // second run clobbered the first's full per-query artifact (r15:
    // the 8-cpu run overwrote the 32-cpu detail). Each core count now
    // owns its artifact unless the caller pins a path explicitly.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"/root/repo/BENCH_LOCAL_c$cpus.json")

    // Emit the artifact for whatever sweeps exist RIGHT NOW (1..2):
    // written after EVERY completed sweep, not only at process end, so
    // an external kill at any point leaves the latest complete
    // measurement behind (the r13 failure mode: 60+ min of sweeps,
    // zero bytes of artifact). A 1-sweep emit is always gated:false —
    // the gate needs a converged PAIR.
    def emit(passes: Seq[Map[String, Seq[Double]]], attempts: Int,
        finalEmit: Boolean): Unit = {
      val allRuns: Map[String, Seq[Double]] =
        names.map(n => n -> passes.flatMap(_(n)).filter(_ >= 0)).toMap
      val results = names.map { n =>
        val good = allRuns(n)
        n -> (if (good.nonEmpty) good.min else -1.0)
      }.toMap
      // observed per-query spread (max/min − 1): the self-documenting
      // noise floor a later round compares against before calling a
      // delta a regression. `spread` is STEADY-STATE — it drops each
      // query's first run of the emitted pair, because a cold first
      // run is all JIT/codegen (r14's artifact showed 16× "spread" on
      // 0.1 s queries, which defeats exactly the regression-floor job
      // this field exists for). The cold-inclusive band ships alongside
      // as `spread_all` so the JIT cost stays visible.
      def band(rs: Seq[Double]): Double =
        if (rs.size >= 2) rs.max / rs.min - 1.0 else 0.0
      val spreads = names.map { n => n -> band(allRuns(n).drop(1)) }.toMap
      val spreadsAll = names.map { n => n -> band(allRuns(n)) }.toMap
      val passTotals = passTotalsOf(passes)
      val gated = passes.size >= 2 && results.values.forall(_ >= 0) &&
        spreadOf(passes) <= 0.15
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val sp = spreads.map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString("{", ",", "}")
      val spAll = spreadsAll.map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString("{", ",", "}")
      val total = results.values.filter(_ >= 0).sum
      val pt = passTotals.mkString("[", ",", "]")
      val line = s"""{"metric":"total","value":$total,"unit":"sec","gated":$gated,"attempts":$attempts,"pass_totals":$pt,"budget_s":$budgetS,"elapsed_s":${f"$elapsedS%.1f"},"queries":$qs,"spread":$sp,"spread_all":$spAll,"sf":"$sfDir"}"""
      // stdout from a forked sbt run is wrapped in [info] noise that
      // can defeat the driver's JSON parse — also write the line to a
      // clean file (env-var path, default alongside the repo).
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e") }
      if (finalEmit) {
        // the contract line (metric/value/unit/queries/sf) — ~8 KB with
        // 155 queries, so it CANNOT be the line a bounded-tail parse
        // lands on; the compact line below goes LAST for exactly that.
        println(line)
        // r16 measurement-REPORTING fix (no change to the timed
        // methodology; documented in OPTIMIZATION_r16.md): every driver
        // artifact since r09 carries `parsed: null` because sbt framing
        // defeated a strict last-line JSON parse — the forked program's
        // stdout was re-logged under an "[info] " prefix and sbt
        // appended a "[success] Total time…" epilogue AFTER the JSON.
        // build.sbt now passes fork stdout through verbatim
        // (OutputStrategy.StdoutOutput) and suppresses the epilogue
        // (showSuccess := false), so this compact line — small enough
        // for any tail window, with `detail` pointing at the full
        // per-query artifact written above — is the genuine last line.
        println(s"""{"metric":"total","value":$total,"unit":"sec","gated":$gated,"attempts":$attempts,"pass_totals":$pt,"budget_s":$budgetS,"elapsed_s":${f"$elapsedS%.1f"},"sf":"$sfDir","n_queries":${names.size},"detail":"$outPath"}""")
      } else {
        // progress marker on stderr (stdout stays parseable): which
        // sweep just landed and where the artifact lives
        System.err.println(s"[bench] interim artifact after " +
          s"${passes.size} sweep(s), attempt $attempts, " +
          f"elapsed $elapsedS%.0f s -> $outPath")
      }
    }

    var tried = List.empty[Seq[Map[String, Seq[Double]]]]
    var attempts = 0
    while (attempts < maxAttempts &&
        (tried.isEmpty || (spreadOf(tried.minBy(spreadOf)) > 0.15 &&
          elapsedS < budgetS))) {
      attempts += 1
      val a = sweep()
      // after sweep 1 of attempt 1 there is no pair yet — emit the
      // half-attempt so a kill mid-pair still leaves numbers. On later
      // attempts the artifact already holds the best COMPLETE pair, so
      // re-writing it would be a redundant emit with a misleading
      // "interim after N sweeps" marker — just log that the attempt's
      // first sweep landed and keep the prior pair on disk.
      if (tried.isEmpty) emit(Seq(a), attempts, finalEmit = false)
      else System.err.println(s"[bench] attempt $attempts sweep 1 done, " +
        f"elapsed $elapsedS%.0f s — best prior pair stays in $outPath")
      val b = sweep()
      tried ::= Seq(a, b)
      emit(tried.minBy(spreadOf), attempts, finalEmit = false)
    }
    emit(tried.minBy(spreadOf), attempts, finalEmit = true)
    spark.stop()
  }
}
