package graft

import graft.cdc.Conveyor
import graft.cdc.Conveyor.{BestEffort, Config, Consistent, Immediate}
import org.apache.spark.sql.functions._

/** Conveyor-level acceptance: mode selection hysteresis
  * (reference conveyor.go:256), per-schema caching (conveyor.go:59),
  * and mode-dispatched AcceptMultiBatch semantics (conveyor.go:188).
  */
class ConveyorSpec extends SparkSpec {
  import spark.implicits._

  test("selectMode mirrors the reference decision table with hysteresis") {
    assert(Conveyor.selectMode(Config(immediate = true), 0L, None) == Immediate)
    assert(Conveyor.selectMode(Config(bestEffortOnly = true), 0L, None) == BestEffort)
    // window <= 0 forces consistent regardless of lag
    assert(Conveyor.selectMode(Config(), Long.MaxValue, None) == Consistent)
    val w = Config(bestEffortWindowUs = 1000L)
    assert(Conveyor.selectMode(w, 1000L, Some(Consistent)) == BestEffort) // fell behind
    assert(Conveyor.selectMode(w, 250L, Some(BestEffort)) == Consistent) // caught up
    // hysteresis band (window/4, window): keep the current mode
    assert(Conveyor.selectMode(w, 500L, Some(BestEffort)) == BestEffort)
    assert(Conveyor.selectMode(w, 500L, Some(Consistent)) == Consistent)
    // uninitialized in the band: default best-effort (backfill-friendly)
    assert(Conveyor.selectMode(w, 500L, None) == BestEffort)
  }

  // key 1: muts at 100 and 300; key 2: muts at 150 only; resolved = 200
  private def muts = Seq((1L, 10L, 100L, 0L), (1L, 11L, 300L, 0L),
    (2L, 12L, 150L, 1L)).toDF("k", "eid", "nanos", "part")
  private def proposals = Seq((0L, 200L, 1L), (1L, 250L, 2L))
    .toDF("part", "nanos", "arr")

  private def conveyor(cfg: Config) =
    new Conveyor.Conveyors(cfg).get("s", proposals, col("part"),
      col("nanos"), col("arr"), nowUs = 0L)

  test("accept: immediate / best-effort / consistent plan semantics") {
    val ord = struct(col("nanos"), col("eid"))
    // group resolved = min(200, 250) = 200
    val imm = conveyor(Config(immediate = true))
      .accept(muts, Seq("k"), ord, col("nanos"))
      .orderBy("k").collect()
    assert(imm.map(_.getLong(2)).toSeq == Seq(300L, 150L)) // latest per key
    assert(imm.forall(_.isNullAt(imm(0).fieldIndex("speculative"))))

    val be = conveyor(Config(bestEffortOnly = true))
      .accept(muts, Seq("k"), ord, col("nanos"))
      .orderBy("k").collect()
    assert(be.map(_.getLong(2)).toSeq == Seq(300L, 150L)) // applies past frontier
    val specIdx = be(0).fieldIndex("speculative")
    assert(be(0).getBoolean(specIdx)) // 300 > 200: speculative
    assert(!be(1).getBoolean(specIdx)) // 150 <= 200: durable

    val cons = conveyor(Config()) // window 0 → consistent
      .accept(muts, Seq("k"), ord, col("nanos"))
      .orderBy("k").collect()
    // gate at 200: key 1 reduces to its 100-nanos mutation, key 2 to 150
    assert(cons.map(_.getLong(2)).toSeq == Seq(100L, 150L))
    assert(cons.forall(r => !r.getBoolean(specIdx)))
  }

  test("DSv2 changefeed through conveyor acceptance converges to batch state") {
    import java.nio.file.{Files, Paths}
    import graft.cdc.{Changefeed, Msort}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_conveyor_e2e").toString
    val src = s"$base/src"; val out = s"$base/out"; val ck = s"$base/ck"
    Files.createDirectories(Paths.get(src))
    // four time-ordered changefeed objects; keys upserted across objects
    // (key 2's later object carries an EARLIER hlc — order must win)
    Seq(
      1 -> Seq("""{"after": "a1", "key": "[1]", "updated": "100.0000000000"}""",
        """{"after": "b1", "key": "[2]", "updated": "110.0000000000"}"""),
      2 -> Seq("""{"after": "a2", "key": "[1]", "updated": "200.0000000000"}"""),
      3 -> Seq("""{"after": "c1", "key": "[3]", "updated": "150.0000000000"}"""),
      4 -> Seq("""{"after": "b0", "key": "[2]", "updated": "105.0000000000"}""")
    ).foreach { case (i, ls) =>
      Files.write(Paths.get(f"$src/$i%06d.ndjson"),
        ls.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val cv = conveyor(Config(immediate = true))
    val ord = struct(col("hlc.nanos"), col("hlc.logical"))
    def accept(muts: DataFrame): DataFrame =
      cv.accept(muts.withColumn("nanos", col("hlc.nanos")),
        Seq("key"), ord, col("nanos"))

    val batchState = accept(Changefeed.read(spark, src))
      .select("key", "data").collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq

    // the reference shape: source connector → AcceptMultiBatch per
    // micro-batch → target table; the target converges because accept
    // is a latest-by-key reduce and the final state is the latest of
    // per-batch latests
    val q = Changefeed.readStream(spark, src, maxFilesPerTrigger = 1)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        accept(b).write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))

    val streamed = Msort.latestByKey(spark.read.parquet(out), Seq("key"), ord)
      .select("key", "data").collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq
    assert(streamed == batchState)
    assert(streamed == Seq(("[1]", "a2"), ("[2]", "b1"), ("[3]", "c1")))
  }

  test("Conveyors caches per schema; empty checkpoint selects best-effort") {
    val f = new Conveyor.Conveyors(Config(bestEffortWindowUs = 1000L))
    val c1 = f.get("a", proposals, col("part"), col("nanos"), col("arr"), 0L)
    assert(f.get("a", proposals.limit(0), col("part"), col("nanos"),
      col("arr"), 0L) eq c1) // cached: second get ignores its args
    assert(f.cached("b").isEmpty)
    // empty proposal log → null resolved → lag = ∞ → best-effort
    val cEmpty = f.get("b", proposals.limit(0), col("part"), col("nanos"),
      col("arr"), 0L)
    assert(cEmpty.mode == BestEffort)
    // and acceptance against the EMPTY checkpoint marks EVERYTHING
    // speculative — a NULL frontier comparison must not read as durable
    val out = cEmpty.accept(muts, Seq("k"),
      struct(col("nanos"), col("eid")), col("nanos")).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(out(0).fieldIndex("speculative"))))
  }

  test("streaming loop re-selects the mode per trigger (foreachBatchAccept)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val f = new Conveyor.Conveyors(Config(bestEffortWindowUs = 1000L))
    // the checkpoint frontier advances across triggers: lag 1000µs
    // (behind) → 500µs (hysteresis band) → 100µs (caught up)
    val propsByPhase = Map(
      1L -> Seq((0L, 0L, 1L)),
      2L -> Seq((0L, 500000L, 2L)),
      3L -> Seq((0L, 900000L, 3L)))
    @volatile var lastPhase = 1L
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[(Long, Long, Option[Boolean])])]
    val fn = f.foreachBatchAccept("s",
      proposalsOf = (batch, _) => {
        // phase keyed off batch content: robust to zero-data batches
        val ids = batch.select(max(col("eid"))).collect()
        if (!ids(0).isNullAt(0)) lastPhase = math.min(ids(0).getLong(0), 3L)
        propsByPhase(lastPhase).toDF("part", "nanos", "arr")
      },
      partition = col("part"), nanos = col("nanos"), arrival = col("arr"),
      nowUs = () => 1000L,
      keys = Seq("k"), order = struct(col("nanos"), col("eid")),
      tsNanos = col("nanos")) { (out, mode, _) =>
      val rows = out.orderBy("k").collect().map { r =>
        val si = r.fieldIndex("speculative")
        (r.getLong(0), r.getLong(2),
          if (r.isNullAt(si)) None else Some(r.getBoolean(si)))
      }.toSeq
      if (rows.nonEmpty) seen += ((mode.name, rows))
      ()
    }
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val q = in.toDF().toDF("k", "eid", "nanos")
      .writeStream.foreachBatch((b: DataFrame, id: Long) => { fn(b, id); () })
      .start()
    try {
      in.addData((1L, 1L, 100L)); q.processAllAvailable()
      in.addData((2L, 2L, 400000L)); q.processAllAvailable()
      in.addData((3L, 3L, 950000L), (4L, 3L, 800000L)); q.processAllAvailable()
    } finally q.stop()

    // lagging stream starts best-effort, HOLDS through the hysteresis
    // band, flips to consistent once the frontier catches up
    assert(seen.map(_._1).toSeq == Seq("best_effort", "best_effort", "consistent"))
    // per-mode acceptance: behind-frontier row is speculative; band row
    // durable; consistent trigger gates the beyond-frontier row out
    assert(seen(0)._2 == Seq((1L, 100L, Some(true))))
    assert(seen(1)._2 == Seq((2L, 400000L, Some(false))))
    assert(seen(2)._2 == Seq((4L, 800000L, Some(false))))
    // and the cache holds the refreshed conveyor after the run
    assert(f.cached("s").get.mode == Consistent)
  }

  test("foreachBatchAccept reads the proposal log once per trigger") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // one proposal row per trigger, passed through a UDF that counts its
    // evaluations (nondeterministic, so no rewrite duplicates or folds it)
    val reads = spark.sparkContext.longAccumulator("conveyor_proposal_reads")
    val counted = udf { (n: Long) => reads.add(1L); n }.asNondeterministic()
    val f = new Conveyor.Conveyors(Config(bestEffortWindowUs = 1000L))
    val perTrigger = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val fn = f.foreachBatchAccept("s",
      proposalsOf = (_, batchId) => spark.range(1).select(lit(0L).as("part"),
        counted(col("id") + lit(900000L + batchId)).as("nanos"), col("id").as("arr")),
      partition = col("part"), nanos = col("nanos"), arrival = col("arr"),
      nowUs = () => 1000L,
      keys = Seq("k"), order = struct(col("nanos"), col("eid")),
      tsNanos = col("nanos")) { (out, mode, _) =>
      val before = reads.value
      // the sink runs two actions on the accepted frame
      val n = out.collect().length
      out.agg(count(lit(1))).collect()
      perTrigger += ((mode.name, n.toLong, reads.value - before))
      ()
    }
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val q = in.toDF().toDF("k", "eid", "nanos")
      .writeStream.foreachBatch((b: DataFrame, id: Long) => { fn(b, id); () })
      .start()
    try {
      in.addData((1L, 1L, 100L), (2L, 2L, 200L)); q.processAllAvailable()
      in.addData((1L, 3L, 300L)); q.processAllAvailable()
      in.addData((3L, 4L, 400L)); q.processAllAvailable()
    } finally q.stop()
    assert(perTrigger.map(_._1).toSeq == Seq("consistent", "consistent", "consistent"))
    assert(perTrigger.map(_._2).toSeq == Seq(2L, 1L, 1L))
    // the sink's actions never re-read the log: the one read per
    // trigger is the refresh's
    assert(perTrigger.forall(_._3 == 0L), perTrigger)
    assert(reads.value == 3L)
  }

  /** Runs `fn` as a MemoryStream's foreachBatch over three triggers of
    * (k, eid, nanos) rows: two rows, then one, then one. */
  private def threeTriggers(fn: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val q = in.toDF().toDF("k", "eid", "nanos")
      .writeStream.foreachBatch((b: DataFrame, id: Long) => { fn(b, id); () })
      .start()
    try {
      in.addData((1L, 1L, 100L), (2L, 2L, 200L)); q.processAllAvailable()
      in.addData((1L, 3L, 300L)); q.processAllAvailable()
      in.addData((3L, 4L, 400L)); q.processAllAvailable()
    } finally q.stop()
  }

  /** A foreachBatchAccept whose proposal log puts the first trigger
    * behind the window (best-effort) and the later ones caught up
    * (consistent, every row under the frontier). */
  private def acceptLoop(sink: (org.apache.spark.sql.DataFrame, Conveyor.Mode, Long) => Unit) =
    new Conveyor.Conveyors(Config(bestEffortWindowUs = 1000L)).foreachBatchAccept("s",
      proposalsOf = (_, batchId) =>
        Seq((0L, if (batchId == 0L) 0L else 900000L, 1L)).toDF("part", "nanos", "arr"),
      partition = col("part"), nanos = col("nanos"), arrival = col("arr"),
      nowUs = () => 1000L,
      keys = Seq("k"), order = struct(col("nanos"), col("eid")),
      tsNanos = col("nanos"))(sink)

  test("foreachBatchAccept evaluates the accepted batch once per trigger") {
    // every batch row passes through a UDF that counts its evaluations
    // (nondeterministic, so no rewrite duplicates or folds it)
    val evals = spark.sparkContext.longAccumulator("conveyor_batch_evals")
    val counted = udf { (n: Long) => evals.add(1L); n }.asNondeterministic()
    val inSink = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val perTrigger = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fn = acceptLoop { (out, mode, _) =>
      val before = evals.value
      // the sink runs two actions on the accepted frame
      val n = out.collect().length
      out.agg(count(lit(1))).collect()
      inSink += ((mode.name, n.toLong, evals.value - before))
      ()
    }
    threeTriggers { (b, id) =>
      val before = evals.value
      fn(b.withColumn("nanos", counted(col("nanos"))), id)
      perTrigger += evals.value - before
    }
    assert(inSink.map(_._1).toSeq == Seq("best_effort", "consistent", "consistent"))
    assert(inSink.map(_._2).toSeq == Seq(2L, 1L, 1L))
    // one evaluation per batch row per trigger, and none by the sink:
    // its actions read the pinned frame
    assert(perTrigger.toSeq == Seq(2L, 1L, 1L), perTrigger)
    assert(inSink.forall(_._3 == 0L), inSink)
  }

  test("foreachBatchAccept leaves no pin behind after its triggers") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val duringSink = scala.collection.mutable.ArrayBuffer.empty[Int]
    val fn = acceptLoop { (out, _, _) =>
      out.collect()
      duringSink += (sc.getPersistentRDDs.keySet -- before).size
      ()
    }
    threeTriggers(fn)
    // the sink read a pinned frame each trigger, and each pin was
    // released when its sink returned
    assert(duringSink.size == 3 && duringSink.forall(_ >= 1), duringSink)
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.isEmpty, s"pins held after three triggers: $held")
  }

  /** Proposal logs with regressions, null nanos, a null partition key,
    * floating-point keys that grouping normalizes (-0.0 and 0.0 are one
    * partition) and no rows at all. */
  private def frontierLogs = {
    val regressions = Seq((0L, 100L, 1L), (0L, 50L, 2L), (0L, 300L, 3L),
      (1L, 200L, 1L), (1L, 150L, 4L), (2L, 250L, 1L), (2L, 240L, 2L))
      .toDF("part", "nanos", "arr")
    val nulls = Seq[(Option[Long], Option[Long], Long)](
      (Some(0L), Some(400L), 1L), (Some(0L), None, 2L),
      (Some(1L), None, 1L), // a partition with no non-null proposal
      (Some(2L), Some(500L), 1L), (Some(2L), Some(450L), 2L),
      (None, Some(380L), 1L), (None, Some(130L), 2L))
      .toDF("part", "nanos", "arr")
    val floats = Seq((0.0, 100L, 1L), (-0.0, 300L, 2L), (1.0, 200L, 1L))
      .toDF("part", "nanos", "arr")
    Seq("regressions" -> regressions, "nulls" -> nulls,
      "only nulls" -> nulls.filter(col("nanos").isNull),
      "floats" -> floats, "empty" -> regressions.limit(0))
  }

  test("readGroupResolved equals groupResolved over advance") {
    import graft.cdc.Checkpoint
    val got = frontierLogs.map { case (name, log) =>
      name -> Checkpoint.readGroupResolved(log, col("part"), col("nanos"))
    }
    val want = frontierLogs.map { case (name, log) =>
      val r = Checkpoint.groupResolved(Checkpoint.advance(log, col("part"), col("nanos"),
        col("arr"))).collect()(0)
      name -> (if (r.isNullAt(0)) None else Some(r.getLong(0)))
    }
    assert(got == want)
    assert(got.map(_._2) == Seq(Some(200L), Some(380L), None, Some(200L), None))
  }

  test("readGroupResolved is one job that writes no shuffle") {
    import graft.cdc.Checkpoint
    val p = new Profile(spark.sparkContext)
    val counted = try frontierLogs.map { case (name, log) =>
      p.drain(); p.reset()
      Checkpoint.readGroupResolved(log, col("part"), col("nanos"))
      p.drain()
      (name, p.jobsSeen, p.shuffleWriteMb)
    } finally p.detach()
    assert(counted.forall { case (_, jobs, mb) => jobs == 1 && mb == 0.0 }, counted)
  }

  test("a growing proposal log is gated at the frontier read at refresh") {
    import java.nio.file.Files
    import graft.cdc.Checkpoint
    val dir = Files.createTempDirectory("graft_conveyor_log").toString + "/log"
    val table = "conveyor_growing_log"
    proposals.write.parquet(dir)
    spark.sql(s"CREATE TABLE $table (part BIGINT, nanos BIGINT, arr BIGINT) " +
      s"USING parquet LOCATION '$dir'")
    try {
      def frontierOf(log: org.apache.spark.sql.DataFrame): Long =
        Checkpoint.groupResolved(Checkpoint.advance(log, col("part"), col("nanos"),
          col("arr"))).collect()(0).getLong(0)
      val log = spark.table(table)
      val c = new Conveyor.Conveyors(Config(bestEffortWindowUs = 1000L))
        .refresh("s", log, col("part"), col("nanos"), col("arr"), nowUs = 100L)
      assert(c.mode == Consistent) // frontier 200: lag 100 <= window/4
      val be = new Conveyor.Conveyors(Config(bestEffortOnly = true))
        .refresh("s", log, col("part"), col("nanos"), col("arr"), nowUs = 100L)
      // a frontier-advancing file lands after the refresh; the same
      // table frame now reads a frontier of 400
      Seq((0L, 400L, 3L), (1L, 400L, 4L)).toDF("part", "nanos", "arr")
        .write.insertInto(table)
      assert(frontierOf(log) == 400L)
      // both gates still hold at 200, the frontier the mode was chosen on
      val ord = struct(col("nanos"), col("eid"))
      val cons = c.accept(muts, Seq("k"), ord, col("nanos")).orderBy("k").collect()
      assert(cons.map(_.getLong(2)).toSeq == Seq(100L, 150L))
      val spec = be.accept(muts, Seq("k"), ord, col("nanos")).orderBy("k").collect()
        .map(r => r.getBoolean(r.fieldIndex("speculative")))
      assert(spec.toSeq == Seq(true, false)) // 300 lies beyond 200, not beyond 400
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("two schemas flip modes independently in one stream") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // ONE factory, ONE foreachBatch stream, TWO schemas on OPPOSITE lag
    // trajectories: "hot" starts behind and catches up (best_effort →
    // consistent) while "cold" starts caught-up and falls behind
    // (consistent → best_effort). Each schema's cached conveyor must
    // evolve from its OWN mode history — a shared/global mode would
    // make one schema's flip drag the other along.
    val f = new Conveyor.Conveyors(Config(bestEffortWindowUs = 1000L))
    val propsByPhase = Map(
      // resolved nanos → lag vs nowUs=1000: 0 → lag 1000 (behind),
      // 900000 → lag 100 (caught up)
      ("hot", 1L) -> 0L, ("hot", 2L) -> 900000L,
      ("cold", 1L) -> 900000L, ("cold", 2L) -> 0L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val lastPhase = scala.collection.mutable.Map("hot" -> 1L, "cold" -> 1L)
    def acceptFor(schema: String): (DataFrame, Long) => Unit =
      f.foreachBatchAccept(schema,
        proposalsOf = (batch, _) => {
          val ids = batch.select(max(col("eid"))).collect()
          if (!ids(0).isNullAt(0))
            lastPhase(schema) = math.min(ids(0).getLong(0), 2L)
          Seq((0L, propsByPhase((schema, lastPhase(schema))), 1L))
            .toDF("part", "nanos", "arr")
        },
        partition = col("part"), nanos = col("nanos"), arrival = col("arr"),
        nowUs = () => 1000L,
        keys = Seq("k"), order = struct(col("nanos"), col("eid")),
        tsNanos = col("nanos")) { (out, mode, _) =>
        if (out.count() > 0) seen.synchronized { seen += ((schema, mode.name)) }
        ()
      }
    val hot = acceptFor("hot")
    val cold = acceptFor("cold")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long, Long)]
    val q = in.toDF().toDF("schema", "k", "eid", "nanos")
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        hot(b.filter(col("schema") === "hot").drop("schema"), id)
        cold(b.filter(col("schema") === "cold").drop("schema"), id)
        ()
      }.start()
    try {
      in.addData(("hot", 1L, 1L, 100L), ("cold", 101L, 1L, 100L))
      q.processAllAvailable()
      in.addData(("hot", 2L, 2L, 850000L), ("cold", 102L, 2L, 850000L))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.filter(_._1 == "hot").map(_._2).toSeq
      == Seq("best_effort", "consistent"))
    // cold's trigger-2 batch (nanos 850000) lies beyond its regressed
    // frontier, so consistent→best_effort still emits rows (speculative)
    assert(seen.filter(_._1 == "cold").map(_._2).toSeq
      == Seq("consistent", "best_effort"))
    // the cache holds per-schema refreshed conveyors, independently
    assert(f.cached("hot").get.mode == Consistent)
    assert(f.cached("cold").get.mode == BestEffort)
  }

  test("refresh re-selects the mode as lag evolves (hysteresis live)") {
    val f = new Conveyor.Conveyors(Config(bestEffortWindowUs = 1000L))
    // frontier nanos 200 → resolvedUs 0; lag == nowUs in this fixture
    val caughtUp = f.get("s", proposals, col("part"), col("nanos"),
      col("arr"), nowUs = 100L)
    assert(caughtUp.mode == Consistent) // lag 100 <= window/4
    // fall behind: refresh flips to best-effort
    val behind = f.refresh("s", proposals, col("part"), col("nanos"),
      col("arr"), nowUs = 5000L)
    assert(behind.mode == BestEffort)
    assert(f.cached("s").get.mode == BestEffort) // cache replaced
    // in the hysteresis band: keeps the CURRENT mode, no flapping
    val band = f.refresh("s", proposals, col("part"), col("nanos"),
      col("arr"), nowUs = 500L)
    assert(band.mode == BestEffort)
  }
}
