package graft

import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming CURATION loop — the nightly-ingest shape a training
  * corpus actually runs: per micro-batch, PII scrub → Gopher/C4
  * quality gate → incremental near-dup probe+fold against the
  * standing index ([[Dedup.StreamingDedup]], O(batch) per night).
  * This spec proves the loop ≡ the one-shot batch chain
  * (`corpus_curation_e2e`'s stages) over the same corpus: identical
  * verified pair set, identical per-source retention — and that
  * dedup runs on the SCRUBBED text (a near-dup differing only by a
  * redacted email is still caught).
  */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  private val stop = "the and of to in"
  // ~40 words, quality-passing: enough stopword hits, mean word
  // length in range, all-alpha words
  private def para(theme: String, tail: String): String =
    s"$stop quick brown foxes wander across $theme meadows while " +
      s"rivers flow gently under bridges and travelers rest beside " +
      s"warm fires telling stories about distant mountains $tail " +
      s"$stop evening winds carry voices far away"

  private val t1 = para("green", "before dawn")
  private val t1near = para("green", "after dawn") // one word differs
  private val t2 = para("silver", "beyond hills")
  private val t2mail = t2.replace("telling stories",
    "telling alice@example.com stories") // scrubs to a 1-token diff of t2

  private def curateBatch(b: DataFrame): DataFrame =
    TextOps.gopherFilters(
        TextOps.piiScrub(b, "text")
          .select(col("doc_id"), col("source"), col("scrubbed").as("text")),
        "text")
      .filter(col("keep"))
      .select("doc_id", "source", "text")

  test("streaming scrub→gate→dedup loop ≡ the batch curation chain") {
    val batches = Seq(
      Seq((1L, "a", t1), (5L, "a", "too short to pass the word gate")),
      Seq((2L, "b", t1near), (6L, "b", s"code block { inside } $t2")),
      Seq((3L, "a", t2), (4L, "b", t2mail))
    ).map(_.toDF("doc_id", "source", "text"))

    // the loop: start from an EMPTY index so every pair (including
    // batch-internal ones) surfaces through ingest exactly once
    val tmp = java.nio.file.Files.createTempDirectory("graft_curation").toString
    val state = new Dedup.StreamingDedup(
      Dedup.buildDedupIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text"),
      tmp, compactEvery = 2, "doc_id", "text", threshold = 0.8)
    val survivors = batches.map(curateBatch)
    val streamedPairs = survivors
      .map(b => state.ingest(b.select("doc_id", "text")))
      .reduce(_ unionByName _)

    def norm(df: DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .sorted.toSeq

    // batch chain over the SAME corpus: scrub → gate → verified pairs
    val allSurvivors = survivors.reduce(_ unionByName _)
    val batchPairs = Dedup.verifiedDupPairs(
      allSurvivors, "doc_id", "text", threshold = 0.8)

    val streamed = norm(streamedPairs)
    assert(streamed == norm(batchPairs), "loop pair set must equal batch chain")
    // the quality gate dropped 5 and 6 BEFORE dedup ever saw them
    assert(streamed.flatMap(p => Seq(p._1, p._2)).toSet == Set(1L, 2L, 3L, 4L))
    // dedup ran on the SCRUBBED text: 3≈4 differ only by the redacted
    // email token, and the cross-batch near-dup 1≈2 crossed the boundary
    assert(streamed.exists(p => (p._1, p._2) == (3L, 4L)))
    assert(streamed.exists(p => (p._1, p._2) == (1L, 2L)))

    // per-source retention from the loop's pairs == the batch chain's
    def retention(pairs: DataFrame) =
      Dedup.dupClusters(allSurvivors, "doc_id", pairs.select("id_a", "id_b"))
        .join(allSurvivors.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_pass"),
          sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_kept"))
        .as[(String, Long, Long)].collect().sorted.toSeq
    val streamedRetention = retention(streamedPairs)
    assert(streamedRetention == retention(batchPairs))
    // canonical keeps: 1 survives (2 is its dup), 3 survives (4 is its
    // dup) — source a keeps both its passing docs, b keeps none
    assert(streamedRetention == Seq(("a", 2L, 2L), ("b", 2L, 0L)))
  }

  test("LM gate slots into the loop: pretrained model filters per batch ≡ batch") {
    // CCNet stage order: scrub → rule gate → LM filter → dedup. The LM
    // is a TRAINED ARTIFACT (TextOps.saveLm/loadLm): one reference
    // train pass, then every micro-batch scores against the loaded
    // frames — per-batch cost is O(batch), the model never retrains.
    val ref = (0 until 40).map(i => (i.toLong, para("green", s"v$i"))) ++
      (40 until 60).map(i => (i.toLong, para("silver", s"v$i")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_loop").toString
    TextOps.saveLm(TextOps.trainLm(ref.toDF("doc_id", "text"), "text"), tmp)
    val model = TextOps.loadLm(spark, tmp)

    val inDomain = (100L, "a", para("green", "fresh tail"))
    val outDomain = (101L, "b", s"$stop zorp blik quux fnord wibble jabber " +
      "krunk splorch glip zungle fropp " + para("green", "x").split(" ")
      .drop(12).mkString(" ")) // keeps length+stopwords, vocab is alien
    val batch = Seq(inDomain, outDomain).toDF("doc_id", "source", "text")

    val scored = TextOps.scoreLm(model, curateBatch(batch), "doc_id", "text")
    val rows = scored.select("doc_id", "mean_bits").as[(Long, Double)]
      .collect().toMap
    assert(rows.keySet == Set(100L, 101L), "both docs pass the rule gate")
    assert(rows(100L) < rows(101L),
      s"in-domain ${rows(100L)} must score below out-of-domain ${rows(101L)}")
    // a cutoff between the two scores gates exactly the alien-vocab doc,
    // and scoring the batch twice against the LOADED model is stable
    val again = TextOps.scoreLm(model, curateBatch(batch), "doc_id", "text")
      .select("doc_id", "mean_bits").as[(Long, Double)].collect().toMap
    assert(again == rows)
  }

  test("the loop under the real streaming engine: MemoryStream foreachBatch ≡ batch") {
    // the other specs drive ingest() directly; this one runs the WHOLE
    // curation chain (scrub → gate → LM gate → probe+fold) inside a
    // writeStream.foreachBatch callback over a real MemoryStream —
    // the intended deployment wiring, engine-scheduled triggers,
    // compaction inside the callback (StreamingVecDedup precedent)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ref = (0 until 40).map(i => (i.toLong, para("green", s"v$i")))
    val lmDir = java.nio.file.Files.createTempDirectory("graft_lm_fb").toString
    TextOps.saveLm(TextOps.trainLm(ref.toDF("doc_id", "text"), "text"), lmDir)
    val model = TextOps.loadLm(spark, lmDir)

    val tmp = java.nio.file.Files.createTempDirectory("graft_cur_fb").toString
    val state = new Dedup.StreamingDedup(
      Dedup.buildDedupIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text"),
      tmp, compactEvery = 1, "doc_id", "text", threshold = 0.8)
    def lmGate(b: DataFrame): DataFrame =
      TextOps.scoreLm(model, curateBatch(b), "doc_id", "text")
        .filter(col("mean_bits") <= 11.0)
        .select("doc_id", "source", "text")

    val collected = scala.collection.mutable.Set.empty[(Long, Long)]
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("doc_id", "source", "text")
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        val pairs = state.ingest(lmGate(b).select("doc_id", "text"))
        collected.synchronized {
          collected ++= pairs.select("id_a", "id_b").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    try {
      in.addData((1L, "a", t1), (5L, "a", "too short to pass the word gate"))
      q.processAllAvailable()
      in.addData((2L, "b", t1near), (6L, "b", s"code block { inside } $t2"))
      q.processAllAvailable()
      in.addData((3L, "a", t2), (4L, "b", t2mail))
      q.processAllAvailable()
    } finally q.stop()

    // ≡ the batch chain with the SAME gates over the whole corpus
    val all = Seq((1L, "a", t1), (5L, "a", "too short to pass the word gate"),
      (2L, "b", t1near), (6L, "b", s"code block { inside } $t2"),
      (3L, "a", t2), (4L, "b", t2mail)).toDF("doc_id", "source", "text")
    val want = Dedup.verifiedDupPairs(lmGate(all), "doc_id", "text",
        threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(collected == want, s"got $collected want $want")
    // the cross-trigger near-dup survived engine scheduling + compaction
    assert(collected.contains((1L, 2L)))
  }

  test("curation loop restart-from-checkpoint: no dropped or doubled batch, index state intact") {
    // the other half of the deployment story: the loop STOPS mid-corpus
    // (clean trigger boundary), a NEW driver restarts from the same
    // checkpoint dir, rebuilds its dedup state from the PERSISTED index
    // generations (compactEvery = 1 ⇒ every fold commits before the
    // engine commits the batch's offsets), and the combined run still
    // ≡ the batch chain. The (3, 4) near-dup pair SPANS the restart —
    // it can only surface if the reloaded index really carries doc 3.
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_cur_restart").toString
    val srcDir = s"$base/src"; val ckDir = s"$base/ck"; val ixDir = s"$base/ix"
    val b1 = Seq((1L, "a", t1), (5L, "a", "too short to pass the word gate"))
      .toDF("doc_id", "source", "text")
    val b2 = Seq((2L, "b", t1near), (3L, "a", t2))
      .toDF("doc_id", "source", "text")
    val b3 = Seq((4L, "b", t2mail), (6L, "b", s"code block { inside } $t2"))
      .toDF("doc_id", "source", "text")
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    b2.coalesce(1).write.mode("append").parquet(srcDir)

    val seen = scala.collection.mutable.ListBuffer
      .empty[(Long, Set[(Long, Long)])]
    def runPhase(): Seq[Long] = {
      // the production wiring: first run starts empty, a restart
      // resumes index AND exactly-once progress from the compaction
      // dir (resumeStreamingDedup + ingestOnce keyed by the engine's
      // batchId)
      val state =
        if (new java.io.File(ixDir).exists())
          Dedup.resumeStreamingDedup(spark, ixDir, "doc_id", "text",
            threshold = 0.8)
        else new Dedup.StreamingDedup(
          Dedup.buildDedupIndex(
            Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text"),
          ixDir, compactEvery = 1, "doc_id", "text", threshold = 0.8)
      val ids = scala.collection.mutable.ListBuffer.empty[Long]
      val q = spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.option("checkpointLocation", ckDir)
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          val pairs = state
            .ingestOnce(batchId, curateBatch(b).select("doc_id", "text"))
            .select("id_a", "id_b").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          seen.synchronized { seen += ((batchId, pairs)); ids += batchId }
          ()
        }.trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); q.stop()
      ids.toSeq
    }
    val phase1 = runPhase() // two files → two committed micro-batches
    assert(phase1.size == 2)
    b3.coalesce(1).write.mode("append").parquet(srcDir)
    val phase2 = runPhase() // restart: ONLY the new file
    // no committed batch replays (no double-fold), nothing is skipped
    assert(phase2.size == 1, s"restart re-ran or dropped batches: $phase2")
    assert(phase2.toSet.intersect(phase1.toSet).isEmpty &&
      phase2.head > phase1.max,
      s"batch ids not monotonic across restart: $phase1 then $phase2")
    assert(seen.map(_._1).distinct.size == seen.size)

    // the combined pair set ≡ the batch chain over the whole corpus
    val collected = seen.flatMap(_._2).toSet
    val all = b1.unionByName(b2).unionByName(b3)
    val survivors = curateBatch(all)
    val want = Dedup.verifiedDupPairs(survivors, "doc_id", "text",
        threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(collected == want, s"got $collected want $want")
    // the cross-RESTART pair: 3 ingested before the stop, 4 after —
    // only the persisted+reloaded generations can know doc 3
    assert(collected.contains((3L, 4L)),
      "pair spanning the restart boundary was lost — index state did not survive")
    // per-source retention ≡ the batch chain's
    def retention(pairSet: Set[(Long, Long)]) = {
      val pdf = pairSet.toSeq.toDF("id_a", "id_b")
      Dedup.dupClusters(survivors, "doc_id", pdf)
        .join(survivors.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_pass"),
          sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_kept"))
        .as[(String, Long, Long)].collect().sorted.toSeq
    }
    assert(retention(collected) == retention(want))
  }

  test("ingestOnce: a replayed batch neither re-folds the index nor loses pairs") {
    // the foreachBatch crash window a clean stop never exercises: the
    // fold PERSISTED (generation committed) but the engine's offset
    // commit didn't happen, so the restarted query re-delivers the
    // SAME batch. A plain ingest would fold the batch's (doc, shingle)
    // rows into the index a second time — observable as doubled frame
    // rows and duplicate candidate pairs downstream.
    val tmp = java.nio.file.Files.createTempDirectory("graft_once").toString
    val s1 = new Dedup.StreamingDedup(
      Dedup.buildDedupIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text"),
      tmp, compactEvery = 1, "doc_id", "text", threshold = 0.8)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .sorted.toSeq
    val b0 = Seq((1L, t1), (3L, t2)).toDF("doc_id", "text")
    val b1 = Seq((2L, t1near), (4L, t2mail)).toDF("doc_id", "text")
    assert(s1.ingestOnce(0L, b0).count() === 0)
    val p1 = norm(s1.ingestOnce(1L, b1))
    assert(p1.nonEmpty)
    def frameRows(ix: Dedup.DedupIndex) =
      (ix.bands.count(), ix.shingles.count(), ix.members.count())
    val afterFold = frameRows(s1.index)

    // same-process replay (a sink retry): stored pairs, index untouched
    assert(norm(s1.ingestOnce(1L, b1)) === p1)
    assert(frameRows(s1.index) === afterFold)

    // crash: a NEW driver resumes from the compaction dir; the engine
    // replays batch 1 — stored pairs again, still no double fold
    val s2 = Dedup.resumeStreamingDedup(spark, tmp, "doc_id", "text",
      threshold = 0.8)
    assert(norm(s2.ingestOnce(1L, b1)) === p1)
    assert(frameRows(s2.index) === afterFold)

    // an id BEHIND the persisted progress is a wiring error, not a
    // replay — refused loudly instead of silently re-folding history
    intercept[IllegalArgumentException] { s2.ingestOnce(0L, b0) }

    // and the stream continues correctly after the replay: the union
    // of per-batch outputs across crash + replay equals one joint pass
    val b2 = Seq((5L, t1.replace("before dawn", "past dawn")))
      .toDF("doc_id", "text")
    val p2 = norm(s2.ingestOnce(2L, b2))
    val all = b0.unionByName(b1).unionByName(b2)
    val want = norm(Dedup.verifiedDupPairs(all, "doc_id", "text",
      threshold = 0.8))
    assert((p1 ++ p2).sorted === want)
  }

  test("ingestOnce: a replay with no stored pairs answers in the loop's pair schema") {
    // a loop resumed at batch 0 with no stored pairs (the public
    // constructor's resumeBatchId >= 0, resumePairs = None) answers the
    // replay with an empty frame — it must carry the same columns and
    // types as ingest's output, or a sink writing both breaks. Stored
    // replays read back from parquet are all-nullable, so nullability
    // is not part of the contract.
    def empty = Dedup.buildDedupIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_once_empty").toString
    val b0 = Seq((1L, t1), (2L, t1near)).toDF("doc_id", "text")
    val replayed = new Dedup.StreamingDedup(empty, tmp, compactEvery = 1,
      "doc_id", "text", threshold = 0.8, resumeBatchId = 0L).ingestOnce(0L, b0)
    val live = new Dedup.StreamingDedup(empty, tmp, compactEvery = 1,
      "doc_id", "text", threshold = 0.8).ingest(b0)
    def cols(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(cols(replayed) === cols(live))
    assert(replayed.count() === 0)
    assert(live.count() === 1)
  }

  test("mid-stream LM refresh: model swap changes the gate, pair invariant holds") {
    // the train-once/swap-nightly shape: early triggers gate under
    // model A, a reload swaps in model B (retrained on the GROWN
    // reference — how a nightly refresh actually happens), later
    // triggers gate under B. The swap must be visible (a doc family
    // alien to A keeps under B), deterministic (reloading A reproduces
    // A's scores bit-for-bit), and must not disturb the dedup loop's
    // pair-set invariant across the boundary.
    def alienPara(tail: String): String =
      s"$stop zorp blik quux fnord wibble jabber krunk splorch glip " +
        s"zungle fropp merkle donk sprag wibble zorp quux fnord blik " +
        s"jabber glip zungle donk sprag merkle fropp krunk splorch " +
        s"$tail $stop evening zorp carry blik far away"
    val refA = (0 until 50).map(i => (i.toLong, para("green", s"v$i")))
    val refB = refA ++ (50 until 100).map(i => (i.toLong, alienPara(s"w$i")))
    val dirA = java.nio.file.Files.createTempDirectory("graft_lm_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_lm_b").toString
    TextOps.saveLm(TextOps.trainLm(refA.toDF("doc_id", "text"), "text"), dirA)
    TextOps.saveLm(TextOps.trainLm(refB.toDF("doc_id", "text"), "text"), dirB)

    val green1 = (201L, "a", para("green", "first tail"))
    val alien1 = (202L, "b", alienPara("first"))
    val green2near = (203L, "a", para("green", "later tail")) // near-dup of green1
    val alien2 = (204L, "b", alienPara("second"))
    val batch1 = Seq(green1, alien1).toDF("doc_id", "source", "text")
    val batch2 = Seq(green2near, alien2).toDF("doc_id", "source", "text")

    def gate(model: TextOps.LmModel, b: DataFrame, cut: Double): DataFrame =
      TextOps.scoreLm(model, curateBatch(b), "doc_id", "text")
        .filter(col("mean_bits") <= cut)
        .select("doc_id", "source", "text")

    // the cut: midpoint of A's in-domain vs alien scores — fixed for
    // the whole stream, only the MODEL swaps
    val modelA = TextOps.loadLm(spark, dirA)
    val sA = TextOps.scoreLm(modelA, curateBatch(batch1), "doc_id", "text")
      .select("doc_id", "mean_bits").as[(Long, Double)].collect().toMap
    assert(sA(201L) < sA(202L))
    val cut = (sA(201L) + sA(202L)) / 2.0

    // triggers under A: alien dropped. Swap. Triggers under B: alien
    // now in-domain and KEEPS — the refresh is visible in behavior.
    val keep1 = gate(modelA, batch1, cut)
    assert(keep1.select("doc_id").as[Long].collect().toSet == Set(201L))
    val modelB = TextOps.loadLm(spark, dirB)
    val keep2 = gate(modelB, batch2, cut)
    assert(keep2.select("doc_id").as[Long].collect().toSet == Set(203L, 204L))

    // determinism across the swap: a fresh reload of A re-scores
    // batch1 bit-for-bit (the swap left no state behind)
    val sAagain = TextOps.scoreLm(TextOps.loadLm(spark, dirA),
        curateBatch(batch1), "doc_id", "text")
      .select("doc_id", "mean_bits").as[(Long, Double)].collect().toMap
    assert(sAagain == sA)

    // dedup pair invariant across the boundary: the loop over the
    // mixed-model survivors == the batch chain over the same corpus,
    // and the (201, 203) near-dup pair CROSSES the swap
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_swap").toString
    val state = new Dedup.StreamingDedup(
      Dedup.buildDedupIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text"),
      tmp, compactEvery = 2, "doc_id", "text", threshold = 0.8)
    val streamedPairs = Seq(keep1, keep2)
      .map(b => state.ingest(b.select("doc_id", "text")))
      .reduce(_ unionByName _)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val survivors = keep1.unionByName(keep2)
    val batchPairs = Dedup.verifiedDupPairs(survivors, "doc_id", "text",
        threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamedPairs == batchPairs)
    assert(streamedPairs.contains((201L, 203L)),
      "the near-dup pair must survive the model swap between its ends")
  }

  test("drift-aware PCA refresh slots into the loop: monitor refresh ≡ full re-derivation, restart-safe, drift visible") {
    import graft.ops.{Covariance, Pca, StreamingMoments}
    // the row-108 deployment (rows 93/96 set the precedent): per
    // trigger the O(d²) moment monitor folds the batch's embeddings;
    // every `refreshEvery` triggers Pca.topComponents re-derives the
    // principal directions FROM THE MONITOR — no corpus re-scan — and
    // the projection stage swaps to the fresh components. Proven here:
    // every refresh is bit-identical to a full-corpus re-derivation at
    // that trigger, a save/resume restart mid-stream changes nothing,
    // and the refresh actually TRACKS drift (the corpus's dominant
    // axis flips mid-stream; the refreshed first component follows).
    val d = 8
    val rnd = new scala.util.Random(15L)
    // regime A (first half): axis 0 dominant, modest amplitude;
    // regime B (second half): axis 1 dominant, large amplitude — the
    // final scatter is axis-1 led while the mid-stream one is axis-0
    def vec(drift: Boolean): Seq[Double] = {
      val (main, amp) = if (drift) (1, 0.9) else (0, 0.35)
      Seq.tabulate(d) { j =>
        val x = if (j == main) rnd.nextGaussian() * amp
                else rnd.nextGaussian() * 0.04
        math.max(-1.0, math.min(1.0, x))
      }
    }
    val vecs = (0 until 240).map(i => (i.toLong, vec(i >= 120)))
    val batches = vecs.grouped(60).toSeq

    def runLoop(resumeAt: Option[Int]): Seq[Seq[Seq[Long]]] = {
      var monitor = StreamingMoments(d)
      val path = java.nio.file.Files.createTempDirectory("graft_pcaref")
        .toString + "/m"
      val refreshes = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Long]]]
      batches.zipWithIndex.foreach { case (batch, bi) =>
        resumeAt.filter(_ == bi).foreach { _ =>
          monitor.save(path, spark)
          monitor = StreamingMoments.resume(d, path, spark)
        }
        monitor.ingest(batch.toDF("vec_id", "embedding"), "embedding")
        // refresh every other trigger, from DRIVER STATE only
        if (bi % 2 == 1) {
          val comps = Pca.topComponents(
            monitor.moments(spark).collect(), d, k = 2)
          refreshes += comps.map(_.toSeq)
          // the refresh must equal a full re-derivation over everything
          // ingested so far — same moments, same directions, bit-for-bit
          val seen = vecs.take((bi + 1) * 60).toDF("vec_id", "embedding")
          val full = Pca.topComponents(
            Covariance.moments(seen, "embedding", d).collect(), d, k = 2)
          assert(comps.map(_.toSeq) == full.map(_.toSeq), s"trigger $bi")
        }
      }
      refreshes.toSeq
    }

    val refreshes = runLoop(None)
    assert(refreshes.size == 2)
    def leadAxis(c: Seq[Long]): Int = c.indices.maxBy(i => math.abs(c(i)))
    // drift visible: first refresh (regime A only) leads on axis 0,
    // final refresh (regime B's scatter dominates) leads on axis 1
    assert(leadAxis(refreshes.head.head) == 0)
    assert(leadAxis(refreshes.last.head) == 1)
    // restart-safety: a save/resume between triggers changes nothing
    assert(runLoop(Some(2)) == refreshes)
  }

  test("length-band trim slots into the loop: O(k) monitor band + exact recalibration, restart-safe") {
    import graft.ops.{Buckets, QEntry, Sketches, StreamingQuantiles}
    // the rows-91/92 deployment: per trigger the quantile monitor
    // (O(k) driver state, no corpus re-scan) supplies the trim band;
    // at "compaction" the exact distributed-rank pass over the
    // accumulated lengths ledger audits it. Proven here: the monitor's
    // sample through the loop ≡ one batch pass over everything kept
    // BEFORE trimming (associativity through the loop), the exact
    // recalibration ≡ the naive sorted-rank quantile, trim decisions
    // are deterministic (second run identical), and a save/resume
    // restart mid-stream changes nothing.
    val k = 64
    val rnd = new scala.util.Random(20260815L)
    // lengths: a body of mid-length docs plus short/long outliers the
    // band must trim
    def mkDoc(i: Long): (Long, String) = {
      val len = rnd.nextInt(10) match {
        case 0 => 5 + rnd.nextInt(10) // short outlier
        case 9 => 2000 + rnd.nextInt(500) // long outlier
        case _ => 200 + rnd.nextInt(200)
      }
      (i, "x" * len)
    }
    val docs = (1L to 300L).map(mkDoc)
    val batches = docs.grouped(75).toSeq

    def runLoop(resumeAt: Option[Int]): (Seq[QEntry], Long, Set[Long], Map[Double, Long]) = {
      var monitor = StreamingQuantiles(k)
      var ledger = Seq.empty[(Long, Long)].toDF("doc_id", "len")
      var kept = Set.empty[Long]
      val path = java.nio.file.Files.createTempDirectory("graft_trim").toString + "/q"
      var lastExact = Map.empty[Double, Long]
      batches.zipWithIndex.foreach { case (batch, bi) =>
        resumeAt.filter(_ == bi).foreach { _ =>
          // crash/restart between triggers: persist + new monitor
          monitor.save(path, spark)
          monitor = StreamingQuantiles.resume(k, path, spark)
        }
        val b = batch.toDF("doc_id", "text")
          .withColumn("len", length(col("text")).cast("long"))
          .withColumn("h",
            Sketches.uniformHash(col("doc_id").cast("string")))
        monitor.ingest(b, "h", "len")
        val (lo, hi) = (monitor.sample.estimate(0.05).get,
          monitor.sample.estimate(0.95).get)
        val keptB = b.filter(col("len") >= lo && col("len") <= hi)
        kept ++= keptB.select("doc_id").as[Long].collect()
        ledger = ledger.unionByName(keptB.select("doc_id", "len"))
        if (bi % 2 == 1) {
          lastExact = Buckets.quantilesByRange(
              ledger, "len", "doc_id", Seq(0.05, 0.5, 0.95))
            .collect().map(r => r.getDouble(r.fieldIndex("q")) ->
              r.getAs[Long]("value")).toMap
        }
      }
      (monitor.sample.entries, monitor.sample.n, kept, lastExact)
    }

    val (entries, n, kept, exact) = runLoop(None)
    // monitor state ≡ one batch bottom-k over ALL pre-trim lengths
    val allHashed = docs.map { case (id, text) =>
      (Sketches.uniformHashLong(id.toString), text.length.toLong) }
    assert(n == docs.size)
    assert(entries == allHashed.sorted.take(k).map { case (h, v) => QEntry(h, v) })
    // exact recalibration ≡ naive sorted-rank quantiles of the ledger
    val keptLens = docs.filter(d => kept(d._1)).map(_._2.length.toLong).sorted
    for ((q, v) <- exact)
      assert(v == keptLens(math.ceil(q * keptLens.size).toInt - 1),
        s"exact q=$q")
    // outliers actually trimmed, body retained
    assert(kept.size < docs.size)
    assert(kept.size > docs.size / 2)
    // determinism + restart-safety: identical kept set and state
    assert(runLoop(None) == ((entries, n, kept, exact)))
    assert(runLoop(Some(2)) == ((entries, n, kept, exact)))
  }
}
