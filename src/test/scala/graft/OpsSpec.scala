package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Specs for the LLM-pipeline operators. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup of 1
    (4L, "completely different content about spark engines and shuffles")
  ).toDF("doc_id", "text")

  test("Dedup.exact groups identical normalized text") {
    val out = Dedup.exact(docs, "doc_id", "text")
    val dups = out.filter(col("is_dup")).select("doc_id").as[Long].collect()
    assert(dups.toSeq == Seq(2L))
    assert(out.filter(col("doc_id") === 2).select("canonical_id").as[Long].head() == 1L)
  }

  test("MinHash LSH surfaces near-duplicate candidates, not unrelated docs") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    assert(sigs.count() == 4)
    val cands = Dedup.lshCandidates(sigs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L))) // identical docs always collide
    assert(!cands.exists { case (a, b) => b == 4L || a == 4L }) // unrelated never
  }

  test("exact jaccard verifies candidates: dup=1.0 > near-dup > unrelated") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.jaccard(docs, "doc_id", "text", pairs)
      .select("id_b", "jaccard").as[(Long, Double)].collect().toMap
    assert(j(2L) == 1.0)
    assert(j(3L) > 0.3 && j(3L) < 1.0)
    assert(j(4L) == 0.0)
  }

  test("SimHash: identical docs share hash; near-dups are hamming-close") {
    val out = Dedup.simhash(docs, "doc_id", "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L), out(3L)) < ham(out(1L), out(4L)))
  }

  test("dupClusters: transitive near-dups collapse to one canonical id") {
    import org.apache.spark.sql.functions.lit
    // chain 1-2, 2-3 (transitive), island 4-5, singleton 6
    val d = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(d, "doc_id", pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out(1L) == (1L, 3L) && out(2L) == (1L, 3L) && out(3L) == (1L, 3L))
    assert(out(4L) == (4L, 2L) && out(5L) == (4L, 2L))
    assert(out(6L) == (6L, 1L))
  }

  test("dupClusters: pointer doubling converges a long chain in few rounds") {
    // path graph of 33 nodes (diameter 32): one-hop min propagation
    // needs 32 rounds; propagate+double needs ~log2(32). maxIters=7
    // would fail without doubling.
    val n = 33L
    val d = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(d, "doc_id", pairs, maxIters = 7)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L))
  }

  test("verifiedDupPairs finds exactly the above-threshold pairs") {
    val out = Dedup.verifiedDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 2L))) // exact dup, J=1
    assert(out.find(t => (t._1, t._2) == (1L, 2L)).get._3 == 1.0)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated excluded
  }

  test("simhashPairs: banding + hamming + jaccard verify finds dups only") {
    val out = Dedup.simhashPairs(docs, "doc_id", "text",
        nBands = 8, maxHamming = 7, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L))) // identical simhash, J=1
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("TextOps quality/tokens/fingerprints are computed per doc") {
    val q = TextOps.qualityFeatures(docs, "text")
      .filter(col("doc_id") === 1).head()
    assert(q.getAs[Long]("n_tokens") == 9L)
    assert(q.getAs[Double]("stopword_ratio") > 0.2) // 'the' x2, 'over'→no, 'the' stopwords
    val t = TextOps.tokenCounts(docs, "text").filter(col("doc_id") === 1).head()
    assert(t.getAs[Long]("ws_tokens") == 9L)
    assert(t.getAs[Long]("bpe_tokens") == 9L)
    val f = TextOps.fingerprints(docs, "text")
    assert(f.filter(col("doc_id") === 1).select("fp").as[String].head() ==
      f.filter(col("doc_id") === 2).select("fp").as[String].head())
  }

  test("incremental dedup against a prebuilt index ≡ full pass filtered") {
    // corpus: 1 and 3 near-dup, 5 unrelated. new batch: 2 (exact dup of
    // corpus 1), 4 (near dup of corpus 3), 6 (exact dup of new 2), 7
    // (unrelated) — exercises new-vs-corpus, new-vs-new, and collapse
    val all = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (5L, "completely different content about spark engines and shuffles"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (4L, "a quick brown fox leaps over the lazy dog"),
      (6L, "the quick brown fox jumps over the lazy dog"),
      (7L, "unrelated words about streaming watermark state stores")
    ).toDF("doc_id", "text")
    val corpus = all.filter(col("doc_id") % 2 === 1)
    val newBatch = all.filter(col("doc_id") % 2 === 0)
    val index = Dedup.buildDedupIndex(corpus, "doc_id", "text")
    // every pair column: the set sizes and the intersection must follow
    // their ids through the expansion, not only the Jaccard
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard", "n_a", "n_b", "n_inter")
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9),
          (r.getLong(3), r.getLong(4), r.getLong(5)))).toSeq

    val inc = pairs(Dedup.incrementalDupPairs(newBatch, index,
      "doc_id", "text", threshold = 0.5))
    val full = pairs(Dedup.verifiedDupPairs(all, "doc_id", "text", threshold = 0.5)
      .filter(col("id_a") % 2 === 0 || col("id_b") % 2 === 0))
    assert(inc == full)
    assert(inc.nonEmpty)
    // exact new-vs-corpus dup found at jaccard 1 through the index
    assert(inc.exists(p => (p._1, p._2, p._3) == (1L, 2L, 1000000000L)))
    // corpus-vs-corpus pairs are NOT recomputed
    assert(!inc.exists(p => p._1 % 2 == 1 && p._2 % 2 == 1))
  }

  test("streaming-ingest dedup: per-batch probe + extendIndex ≡ one full pass") {
    // batches arrive over time; each probes the index then folds into
    // it — every pair must surface exactly once, when its later member
    // lands, so the union of per-batch outputs is the full-corpus pass
    // 12-token sentence, one-word edit ⇒ 7 shared of 13 union shingles:
    // J = 7/13 ≈ 0.538 — a genuine cross-batch NEAR dup the 0.5
    // threshold keeps (not only identical J=1 pairs)
    val s1 = "the quick brown fox jumps over the lazy dog near the river"
    val s4 = "the quick brown fox leaps over the lazy dog near the river"
    val s7 = "the quick brown fox jumps over the lazy cat near the river"
    val s9 = "the quick brown fox jumps over the lazy cat near the lake"
    val batches = Seq(
      Seq((1L, s1),
        (3L, "completely different content about spark engines and shuffles")),
      Seq((2L, s1), // exact dup of b1's 1
        (4L, s4)), // near dup of 1 (cross-batch, sub-1.0)
      Seq((5L, s1), // dup of 1 AND 2
        (6L, "totally novel text with no relatives anywhere here")),
      // all three expansions in one batch: 7 and 8 are identical (an
      // intra-group pair), both near-dup the index's 1, 2 and 5 (probe
      // pairs, J = 7/13), and 9 near-dups them inside the batch (a
      // new-vs-new pair, J = 9/11, whose id_b expands through the batch)
      Seq((7L, s7), (8L, s7), (9L, s9))
    ).map(_.toDF("doc_id", "text"))
    var index = Dedup.buildDedupIndex(batches.head, "doc_id", "text")
    val perBatch = batches.tail.map { b =>
      val (pairs, next) = Dedup.probeAndExtend(index, b, "doc_id", "text",
        threshold = 0.5)
      index = next
      pairs
    }
    def normPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard", "n_a", "n_b", "n_inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9),
          (r.getLong(3), r.getLong(4), r.getLong(5))))
        .sorted.toSeq
    val streamed = normPairs(perBatch.reduce(_ unionByName _))
    val full = normPairs(Dedup.verifiedDupPairs(
      batches.reduce(_ unionByName _), "doc_id", "text", threshold = 0.5)
      // batch 1's internal pairs (none here) belong to the initial
      // index build, not the incremental stream
      .filter(!(col("id_a").isin(1L, 3L) && col("id_b").isin(1L, 3L))))
    assert(streamed == full)
    def j(a: Long, b: Long) = streamed.find(p => p._1 == a && p._2 == b).map(_._3)
    assert(j(1L, 5L).contains(1000000000L))
    // the cross-batch NEAR dup survives with its exact sub-1.0 jaccard
    // (7/13): a broken index-probe leg could pass on J=1 pairs alone
    assert(j(1L, 4L).contains(math.round(7.0 / 13.0 * 1e9)))
    assert(j(4L, 5L).contains(math.round(7.0 / 13.0 * 1e9))) // later batch vs 4
    assert(streamed.count { case (a, b, _, _) => Set(a, b).subsetOf(Set(1L, 2L, 5L)) } == 3)
    // the last batch: intra, probe and new-vs-new pairs, with their stats
    assert(streamed.contains((7L, 8L, 1000000000L, (10L, 10L, 10L))))
    for (ix <- Seq(1L, 2L, 5L); b <- Seq(7L, 8L))
      assert(streamed.contains((ix, b, math.round(7.0 / 13.0 * 1e9), (10L, 10L, 7L))))
    for (a <- Seq(7L, 8L))
      assert(streamed.contains((a, 9L, math.round(9.0 / 11.0 * 1e9), (10L, 10L, 9L))))
  }

  test("streaming dedup with compaction ≡ one full pass across the boundary") {
    // same fixture as the probeAndExtend equivalence test, but the
    // index is compacted to parquet after EVERY fold (compactEvery=1)
    // — every cross-batch pair must cross a compaction boundary
    val s1 = "the quick brown fox jumps over the lazy dog near the river"
    val s4 = "the quick brown fox leaps over the lazy dog near the river"
    val batches = Seq(
      Seq((1L, s1),
        (3L, "completely different content about spark engines and shuffles")),
      Seq((2L, s1), (4L, s4)),
      Seq((5L, s1),
        (6L, "totally novel text with no relatives anywhere here"))
    ).map(_.toDF("doc_id", "text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_compact1").toString
    val state = new Dedup.StreamingDedup(
      Dedup.buildDedupIndex(batches.head, "doc_id", "text"), tmp,
      compactEvery = 1, "doc_id", "text", threshold = 0.5)
    def normPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        .sorted.toSeq
    val streamed = normPairs(batches.tail.map(state.ingest).reduce(_ unionByName _))
    val full = normPairs(Dedup.verifiedDupPairs(
      batches.reduce(_ unionByName _), "doc_id", "text", threshold = 0.5)
      .filter(!(col("id_a").isin(1L, 3L) && col("id_b").isin(1L, 3L))))
    assert(streamed == full)
    assert(streamed.contains((1L, 4L, math.round(7.0 / 13.0 * 1e9)))) // near dup crossed the boundary
    // the index survives a cold reload (the nightly/restart resume path)
    val reloaded = Dedup.loadIndex(spark, tmp)
    assert(reloaded.members.count() == state.index.members.count())
    assert(reloaded.bands.count() == state.index.bands.count())
  }

  test("index compaction holds probe plan size constant over 10+ folds") {
    def mkBatch(i: Int) = Seq(
      (1000L + i, s"wholly distinct document number $i about topic $i")
    ).toDF("doc_id", "text")
    val seed = Seq((1L, "seed corpus document with its own content"))
      .toDF("doc_id", "text")
    def planStats(ix: Dedup.DedupIndex): (Int, Int) = {
      val probe = Dedup.incrementalDupPairs(mkBatch(999), ix,
        "doc_id", "text", threshold = 0.5)
      val nodes = probe.queryExecution.analyzed.collect { case n => n }.length
      val exchanges = "Exchange".r
        .findAllIn(probe.queryExecution.executedPlan.toString).length
      (nodes, exchanges)
    }
    // plain probeAndExtend: one more union arm per fold — plan grows
    var plain = Dedup.buildDedupIndex(seed, "doc_id", "text")
    (1 to 4).foreach { i =>
      plain = Dedup.probeAndExtend(plain, mkBatch(i), "doc_id", "text", 0.5)._2
    }
    val grown = planStats(plain)
    // compacting loop: 12 folds, compact every 4 — after each
    // compaction the probe plan is EXACTLY the fresh-index plan
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_compactN").toString
    val state = new Dedup.StreamingDedup(
      Dedup.buildDedupIndex(seed, "doc_id", "text"), tmp,
      compactEvery = 4, "doc_id", "text", threshold = 0.5)
    val postCompactStats = (1 to 12).flatMap { i =>
      state.ingest(mkBatch(i)).count() // consume the pairs like a sink would
      if (i % 4 == 0) Some(planStats(state.index)) else None
    }
    assert(postCompactStats.distinct.length == 1,
      s"probe plan changed across compactions: $postCompactStats")
    assert(postCompactStats.head._1 < grown._1,
      s"compacted plan (${postCompactStats.head._1} nodes) should be smaller " +
      s"than 4 uncompacted folds (${grown._1} nodes)")
    // only two generations remain on disk (newest + safety predecessor)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/gen=*")).length == 2)
  }

  test("a torn compaction generation is skipped on reload and GC'd later") {
    val seed = Seq((1L, "seed corpus document with its own content"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_torn").toString
    val committed = Dedup.compactIndex(
      Dedup.buildDedupIndex(seed, "doc_id", "text"), tmp) // gen=0, committed
    // simulate a crash mid-compaction: gen=1 has bands but no
    // shingles/members and NO commit sentinel
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    committed.bands.write.parquet(s"$tmp/gen=1/bands")
    // restart resumes from gen=0, not the torn gen=1
    val reloaded = Dedup.loadIndex(spark, tmp)
    assert(reloaded.members.count() == committed.members.count())
    // the NEXT compaction numbers PAST the torn dir and GCs it
    val after = Dedup.compactIndex(reloaded, tmp) // writes gen=2
    assert(after.members.count() == committed.members.count())
    val left = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/gen=*"))
      .map(_.getPath.getName).sorted.toSeq
    assert(left == Seq("gen=0", "gen=2"), s"on disk: $left") // torn gen=1 gone
    // with NO committed generation at all, loadIndex names the torn dirs
    val empty = java.nio.file.Files.createTempDirectory("graft_dedup_torn2").toString
    committed.bands.write.parquet(s"$empty/gen=3/bands")
    val e = intercept[IllegalArgumentException](Dedup.loadIndex(spark, empty))
    assert(e.getMessage.contains("no committed") && e.getMessage.contains("3"))
  }

  test("dedup index banding params travel through compaction and gate probes") {
    val docsDf = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_meta").toString
    val built = Dedup.buildDedupIndex(docsDf, "doc_id", "text",
      numHashes = 32, bands = 16, k = 2)
    // the meta frame persists the banding; reload carries it back
    val reloaded = Dedup.compactIndex(built, tmp)
    assert((reloaded.numHashes, reloaded.nBands, reloaded.shingleK) == ((32, 16, 2)))
    // probing with DIFFERENT banding would join garbage candidates —
    // must refuse loudly, not return plausible-but-wrong pairs
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalDupPairs(
        Seq((10L, "the quick brown fox jumps over the lazy dog"))
          .toDF("doc_id", "text"),
        reloaded, "doc_id", "text", threshold = 0.5) // default 64/32/3
    }
    assert(err.getMessage.contains("banding"))
    // extendIndex folds frames the probe side must match — same gate
    val errExtend = intercept[IllegalArgumentException] {
      Dedup.extendIndex(reloaded,
        Seq((11L, "more text")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(errExtend.getMessage.contains("banding"))
    // matching banding probes fine and finds the cross-index dup
    val ok = Dedup.incrementalDupPairs(
      Seq((10L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"),
      reloaded, "doc_id", "text", threshold = 0.5,
      numHashes = 32, bands = 16, k = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ok.contains((1L, 10L)) && ok.contains((2L, 10L)))
  }

  test("pre-meta dedup index generations load as unknown banding; torn meta gens skipped") {
    val docsDf = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_premeta").toString
    val built = Dedup.buildDedupIndex(docsDf, "doc_id", "text",
      numHashes = 32, bands = 16, k = 2)
    Dedup.compactIndex(built, tmp)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a PRE-META generation: drop the meta dir from the
    // committed gen — a legacy layout written before the meta frame
    // existed, with banding the API allowed but nothing recorded
    val gen = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/gen=*"))
      .map(_.getPath).maxBy(_.getName)
    fs.delete(new org.apache.hadoop.fs.Path(gen, "meta"), true)
    val legacy = Dedup.loadIndex(spark, tmp)
    // unknown, NOT a claimed default: the caller's params govern, so
    // the legacy workflow (pass your own banding) keeps working with
    // the banding the index was ACTUALLY built with
    assert((legacy.numHashes, legacy.nBands, legacy.shingleK) == ((-1, -1, -1)))
    val hits = Dedup.incrementalDupPairs(
      Seq((10L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"),
      legacy, "doc_id", "text", threshold = 0.5,
      numHashes = 32, bands = 16, k = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.contains((1L, 10L)))
    // simulate a TORN compaction under meta-first ordering: meta and
    // sentinel-less partial text frames — must classify torn (never
    // load frames stamped with someone else's banding)
    val torn = new org.apache.hadoop.fs.Path(s"$tmp/gen=99")
    fs.mkdirs(new org.apache.hadoop.fs.Path(torn, "meta"))
    fs.create(new org.apache.hadoop.fs.Path(torn, "meta/_SUCCESS"), true).close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(torn, "bands"))
    val after = Dedup.loadIndex(spark, tmp)
    assert((after.numHashes, after.nBands, after.shingleK) == ((-1, -1, -1)))
  }

  test("scrubCommonSegments on newline lines: boilerplate drops, order + framing kept") {
    val corpus = Seq(
      (1L, "accept cookies\nunique prose one\nall rights reserved"),
      (2L, "accept cookies\nunique prose two\nall rights reserved"),
      (3L, "accept cookies\nunique prose three\nall rights reserved"),
      (4L, "only original writing here\nnothing shared")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubCommonSegments(corpus, "doc_id",
      split(col("text"), "\n"), minDocs = 3, sep = "\n")
      .orderBy("doc_id").collect()
    // both banner lines occur in 3 docs -> removed; the prose line survives
    assert(out(0).getAs[Long]("n_segs") == 3L && out(0).getAs[Long]("n_removed") == 2L)
    assert(out(0).getAs[String]("clean_text") == "unique prose one")
    // untouched doc round-trips its own newline framing exactly
    assert(out(3).getAs[Long]("n_removed") == 0L)
    assert(out(3).getAs[String]("clean_text") == "only original writing here\nnothing shared")
    // a doc that is ONLY boilerplate rebuilds to the empty string
    val gutted = Dedup.scrubCommonSegments(
      Seq((1L, "accept cookies"), (2L, "accept cookies"), (3L, "accept cookies"))
        .toDF("doc_id", "text"),
      "doc_id", split(col("text"), "\n"), minDocs = 3)
    assert(gutted.filter(col("clean_text") === "").count() == 3L)
  }

  test("tokenFrequencyStats counts corpus-rare tokens per doc") {
    val out = TextOps.tokenFrequencyStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // corpus freqs: the=6, quick/brown/fox/over/lazy/dog=3, jumps=2,
    // leaps=1, doc-4 tokens all 1
    assert(out(0) == (1L, 9L, 8L, 1L, 2L, 32L)) // rare: 'jumps' (f=2)
    assert(out(2) == (3L, 9L, 8L, 1L, 1L, 31L)) // rare: 'leaps' (f=1)
    assert(out(3) == (4L, 8L, 8L, 8L, 1L, 8L)) // every token corpus-unique
  }

  test("langGuess picks marker languages deterministically") {
    val d = Seq((1L, "hola el mundo bueno"), (2L, "bonjour le monde"),
      (3L, "hello world again")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextOps.langGuess(col("text")).as("g"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "es", 2L -> "fr", 3L -> "en"))
  }

  test("brute-force cosine: self-similarity ranks first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(1.0f, 0.01f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2).collect()
    assert(out(0).getAs[Long]("neighbor_id") == 1L) // itself, cos=1
    assert(out(1).getAs[Long]("neighbor_id") == 4L) // closest other
  }

  test("LSH buckets put identical vectors together in every table") {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(-1.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val b = vecs.select(col("vec_id"),
      Similarity.lshTableBuckets(col("embedding"), 4, 8).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(b(1L) == b(2L))          // identical vectors: same bucket per table
    assert(b(1L) != b(3L))          // opposite vector lands elsewhere
    assert(b(1L).length == 4)       // one bucket per table
  }

  test("multi-table lshTopK recovers exact top-k on small data") {
    val corpus = (0L until 20L).map { i =>
      (i, Array(math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val query = Seq((100L, Array(math.cos(1.5).toFloat, math.sin(1.5).toFloat)))
      .toDF("vec_id", "embedding") // identical to corpus vector 5
    val out = Similarity.lshTopK(corpus, query, "vec_id", "embedding",
      nPlanes = 2, nTables = 16, k = 3).collect()
    assert(out.nonEmpty)
    assert(out.head.getAs[Long]("neighbor_id") == 5L)
    assert(out.head.getAs[Double]("cos_sim") > 0.9999)
  }

  test("embeddingNearDups emits verified above-threshold pairs once") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.05f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
        nPlanes = 2, nTables = 16, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L))) // near pair once, orthogonal excluded

    // auto granularity (nPlanes/nTables <= 0): derives planes from the
    // corpus size and tables from the recall budget; exact verify means
    // the output is the same pair set
    val auto = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
        nPlanes = 0, nTables = 0, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(auto.toSeq == Seq((1L, 2L)))
  }

  test("incremental embedding dedup ≡ full pass; identity members expand") {
    // corpus: 1 and 4 are byte-identical (one identity cluster), 3 is
    // orthogonal; batch: 100 identical to the cluster, 101 a near-dup,
    // 102 orthogonal to everything
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (4L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)), (101L, Array(0.99f, 0.05f, 0.0f)),
      (102L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val ix = Similarity.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      nPlanes = 2, nTables = 16)
    val inc = Similarity.incrementalVecDupPairs(batch, ix, "vec_id", "embedding",
        threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    // the identical batch vector pairs with BOTH identity-cluster
    // members (expansion through the index's membership), the near-dup
    // with both too, plus the within-batch near pair
    val full = Similarity.embeddingNearDups(corpus.unionByName(batch),
        "vec_id", "embedding", nPlanes = 2, nTables = 16, threshold = 0.9)
      .filter(col("id_a") >= 100 || col("id_b") >= 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc.contains((1L, 100L)) && inc.contains((4L, 100L))) // identity expansion
    assert(inc.contains((100L, 101L))) // within-batch pair
    assert(!inc.exists(p => p._1 == 102L || p._2 == 102L))
  }

  test("chunked candidate verify ≡ single-plan probe (pairs AND scores)") {
    // the 100× spill knob must be a pure execution strategy: per-table
    // sequential verify jobs + post-threshold dedupe return exactly the
    // single-plan rows. Clustered corpus so pairs collide in MANY
    // tables (the recompute-then-dedupe path does real work) plus
    // identity clusters (expansion after the chunked verify).
    val rnd = new scala.util.Random(7L)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + 0.02f * rnd.nextFloat())
    val centers = Array(
      Array(1.0f, 0.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f, 0.0f),
      Array(0.0f, 0.0f, 1.0f, 0.0f))
    val corpus = ((0L until 90L).map(i =>
        (i, jitter(centers((i % 3).toInt)))) ++
      Seq((200L, centers(0)), (201L, centers(0)))) // identity cluster
      .toDF("vec_id", "embedding")
    val batch = ((300L until 330L).map(i =>
        (i, jitter(centers((i % 3).toInt)))) ++
      Seq((400L, centers(0)))).toDF("vec_id", "embedding")
    val ix = Similarity.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      nPlanes = 3, nTables = 12)
    def run(chunks: Int) =
      Similarity.incrementalVecDupPairs(batch, ix, "vec_id", "embedding",
          threshold = 0.95, verifyChunks = chunks)
        .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)]
        .collect().sorted.toSeq
    val single = run(1)
    val chunked = run(4)
    assert(chunked == single,
      s"chunked verify diverged: ${chunked.size} vs ${single.size} rows")
    assert(single.nonEmpty && single.exists(p => p._1 == 200L || p._2 == 400L))
  }

  test("embedding index save/load round-trips pairs and granularity") {
    val corpus = (0L until 40L).map { i =>
      (i, Array(math.cos(i * 0.31).toFloat, math.sin(i * 0.31).toFloat, 0.1f))
    }.toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, Array(math.cos(0.31).toFloat, math.sin(0.31).toFloat, 0.1f)),
      (101L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    // auto granularity: loaded planes/tables must equal the BUILT ones,
    // not any caller default — a probe hashed at different granularity
    // joins nothing and silently returns ~0 pairs
    val built = Similarity.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      nPlanes = 0, nTables = 0, threshold = 0.9)
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecix").toString
    Similarity.saveEmbeddingIndex(built, tmp)
    val loaded = Similarity.loadEmbeddingIndex(spark, tmp)
    assert(loaded.nPlanes == built.nPlanes && loaded.nTables == built.nTables)
    def pairs(ix: Similarity.EmbeddingIndex) =
      Similarity.incrementalVecDupPairs(batch, ix, "vec_id", "embedding",
          threshold = 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
    val fromLoaded = pairs(loaded)
    assert(fromLoaded == pairs(built))
    assert(fromLoaded.contains((1L, 100L))) // the batch near-dup is found post-reload
    // a torn generation (no sentinel, missing frames) must refuse to
    // load, not return ~0 pairs
    val torn = java.nio.file.Files.createTempDirectory("graft_vecix_torn").toString
    built.buckets.write.mode("overwrite").parquet(s"$torn/gen=0/buckets")
    val err = intercept[IllegalArgumentException] {
      Similarity.loadEmbeddingIndex(spark, torn)
    }
    assert(err.getMessage.contains("torn"))
  }

  test("streaming vec dedup ≡ joint pass across a compaction boundary") {
    def vec(theta: Double) =
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat, 0.0f)
    // batch 1 seeds the index; batch 2 carries a near-dup of batch 1
    // (ids 1≈10) and an exact dup (2=11); batch 3 a near-dup of batch 2
    // (11≈20) — pairs must surface exactly once, when the later member
    // arrives, including across the compaction after every batch
    val batches = Seq(
      Seq((1L, vec(0.0)), (2L, vec(1.5)), (3L, vec(3.0))),
      Seq((10L, vec(0.05)), (11L, vec(1.5)), (12L, vec(4.2))),
      Seq((20L, vec(1.55)), (21L, vec(5.5)))
    ).map(_.toDF("vec_id", "embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecix_stream").toString
    val state = new Similarity.StreamingVecDedup(
      Similarity.buildEmbeddingIndex(batches.head, "vec_id", "embedding",
        nPlanes = 2, nTables = 16),
      tmp, compactEvery = 1, "vec_id", "embedding", threshold = 0.95)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
        .sorted.toSeq
    val streamed = norm(batches.tail.map(state.ingest).reduce(_ unionByName _))
    val full = norm(Similarity.embeddingNearDups(
      batches.reduce(_ unionByName _), "vec_id", "embedding",
      nPlanes = 2, nTables = 16, threshold = 0.95)
      .filter(col("id_a") >= 10 || col("id_b") >= 10))
    assert(streamed == full, s"streamed=$streamed full=$full")
    assert(streamed.exists(p => p._1 == 1L && p._2 == 10L)) // near dup crossed the boundary
    assert(streamed.exists(p => p._1 == 2L && p._2 == 11L)) // exact dup across batches
    assert(streamed.exists(p => p._1 == 11L && p._2 == 20L)) // found post-compaction
    // the compacted index survives a cold reload at the built granularity
    val reloaded = Similarity.loadEmbeddingIndex(spark, tmp)
    assert(reloaded.nPlanes == state.index.nPlanes)
    assert(reloaded.members.count() == state.index.members.count())
  }

  test("streaming vec dedup pair outputs survive later compactions") {
    def vec(theta: Double) =
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat, 0.0f)
    // every batch near-dups its predecessors (two tight angle
    // clusters), so each ingest emits pairs whose lineage would read
    // the generation loaded at the previous compaction — with
    // compactEvery=2 and 6 ingests, the third compaction GCs the
    // generation the first post-compaction batch read, so DEFERRED
    // consumption of buffered outputs crashes unless ingest
    // materializes every batch's pairs eagerly
    val batches = (0 until 7).map { k =>
      Seq((k * 10L, vec(k * 0.01)), (k * 10L + 1, vec(k * 0.01 + 3.0)))
        .toDF("vec_id", "embedding")
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecix_defer").toString
    val state = new Similarity.StreamingVecDedup(
      Similarity.buildEmbeddingIndex(batches.head, "vec_id", "embedding",
        nPlanes = 2, nTables = 16),
      tmp, compactEvery = 2, "vec_id", "embedding", threshold = 0.95)
    val outs = batches.tail.map(state.ingest) // buffer, consume at the end
    val total = outs.map(_.count()).sum
    assert(total >= 5, s"expected cross-batch pairs, got $total")
  }

  test("generation commit window: extra frames write BEFORE every check dir") {
    // the exactly-once protocol's on-disk invariant: listGens'
    // sentinel-less fallback accepts a generation once ALL check dirs
    // carry _SUCCESS, and writes are sequential — so a progress /
    // last_pairs frame is only consistent with a fallback-committed
    // generation if it was written FIRST. An extras-after-check-dirs
    // order re-opens the replay double-fold (fold persisted, progress
    // missing) that ingestOnce exists to close.
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "v")
    val bands = Seq((1, 1L, "x")).toDF("band_id", "bucket", "v")
    val extras = Seq("progress" -> df, "last_pairs" -> df)
    val textOrder = Dedup.compactFrames(
      Dedup.DedupIndex(bands, df, df), extras).map(_._1)
    val textChecks = Seq("bands", "shingles", "members")
    assert(extras.map(_._1).forall(e =>
      textChecks.forall(c => textOrder.indexOf(e) < textOrder.indexOf(c))),
      s"text gen order leaks extras past a check dir: $textOrder")
    val vecBuckets = Seq((1, 1L, "x")).toDF("table_id", "bucket", "v")
    val vecOrder = Similarity.compactVecFrames(
      Similarity.EmbeddingIndex(vecBuckets, df, df, 2, 4), extras).map(_._1)
    val vecChecks = Seq("buckets", "repVecs", "members", "meta")
    assert(extras.map(_._1).forall(e =>
      vecChecks.forall(c => vecOrder.indexOf(e) < vecOrder.indexOf(c))),
      s"vector gen order leaks extras past a check dir: $vecOrder")
  }

  test("vec ingestOnce: replayed batch re-emits stored pairs, never re-folds") {
    // the vector mirror of the text exactly-once protocol: fold
    // persisted, offsets not committed, batch replayed — a second fold
    // would duplicate the batch's rep/bucket/member rows in the index
    def vec(theta: Double) =
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat, 0.0f)
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecix_once").toString
    val s1 = new Similarity.StreamingVecDedup(
      Similarity.buildEmbeddingIndex(
        Seq((1L, vec(0.0)), (2L, vec(1.5))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nPlanes = 2, nTables = 16),
      tmp, compactEvery = 1, "vec_id", "embedding", threshold = 0.95)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
        .sorted.toSeq
    val b1 = Seq((10L, vec(0.05)), (11L, vec(4.0))).toDF("vec_id", "embedding")
    val p1 = norm(s1.ingestOnce(0L, b1))
    assert(p1.exists(p => p._1 == 1L && p._2 == 10L))
    def frameRows(ix: Similarity.EmbeddingIndex) =
      (ix.buckets.count(), ix.repVecs.count(), ix.members.count())
    val afterFold = frameRows(s1.index)
    // same-process retry, then a cold-resume replay: stored pairs both
    // times, index row counts untouched
    assert(norm(s1.ingestOnce(0L, b1)) === p1)
    val s2 = Similarity.resumeStreamingVecDedup(spark, tmp,
      "vec_id", "embedding", threshold = 0.95)
    assert(norm(s2.ingestOnce(0L, b1)) === p1)
    assert(frameRows(s2.index) === afterFold)
    // the stream continues: a later batch still pairs against b1's fold
    val p2 = norm(s2.ingestOnce(1L,
      Seq((20L, vec(0.06))).toDF("vec_id", "embedding")))
    assert(p2.exists(p => p._2 == 20L))
    // batch 0 is now BEHIND the progress marker — refused loudly
    intercept[IllegalArgumentException] { s2.ingestOnce(0L, b1) }
  }

  test("vec ingestOnce: a replay with no stored pairs answers in the loop's pair schema") {
    // the vector side of the empty-replay contract (see the text case
    // in StreamingCurationSpec): same columns and types as ingest
    def vec(theta: Double) =
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat, 0.0f)
    def ix = Similarity.buildEmbeddingIndex(
      Seq((1L, vec(0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nPlanes = 2, nTables = 16)
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecix_empty").toString
    val b0 = Seq((10L, vec(0.05))).toDF("vec_id", "embedding")
    val replayed = new Similarity.StreamingVecDedup(ix, tmp, compactEvery = 1,
      "vec_id", "embedding", threshold = 0.95, resumeBatchId = 0L)
      .ingestOnce(0L, b0)
    val live = new Similarity.StreamingVecDedup(ix, tmp, compactEvery = 1,
      "vec_id", "embedding", threshold = 0.95).ingest(b0)
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(cols(replayed) === cols(live))
    assert(replayed.count() === 0)
    assert(live.count() === 1)
  }

  test("StreamingVecDedup drives from foreachBatch over a real stream") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def vec(theta: Double) =
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat, 0.0f)
    val seed = Seq((1L, vec(0.0)), (2L, vec(1.5))).toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecix_fb").toString
    // compactEvery=1: every trigger compacts + reloads INSIDE the
    // foreachBatch callback — the intended deployment shape from the
    // class doc, not just direct ingest() calls
    val state = new Similarity.StreamingVecDedup(
      Similarity.buildEmbeddingIndex(seed, "vec_id", "embedding",
        nPlanes = 2, nTables = 16),
      tmp, compactEvery = 1, "vec_id", "embedding", threshold = 0.95)
    val collected = scala.collection.mutable.Set.empty[(Long, Long)]
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        val pairs = state.ingest(b)
        collected.synchronized {
          collected ++= pairs.select("id_a", "id_b").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    try {
      in.addData((10L, vec(0.02).toSeq)); q.processAllAvailable()
      in.addData((20L, vec(0.04).toSeq), (21L, vec(1.52).toSeq))
      q.processAllAvailable()
    } finally q.stop()
    // trigger 1 finds the seed near-dup; trigger 2 finds pairs against
    // BOTH the seed and the previous trigger's fold, across compaction
    assert(collected == Set((1L, 10L), (1L, 20L), (10L, 20L), (2L, 21L)),
      s"got $collected")
  }

  test("IVF ANN: probing all cells recovers the exact nearest neighbor") {
    val corpus = (0L until 12L).map { i =>
      (i, Array(math.cos(i * 0.5).toFloat, math.sin(i * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val query = Seq((105L, Array(math.cos(2.5).toFloat, math.sin(2.5).toFloat)))
      .toDF("vec_id", "embedding") // identical to corpus vector 5
    val out = Similarity.ivfTopK(corpus, query, "vec_id", "embedding",
      nCells = 3, nProbe = 3, k = 3).collect()
    assert(out.nonEmpty)
    assert(out.head.getAs[Long]("neighbor_id") == 5L)
    assert(out.head.getAs[Double]("cos_sim") > 0.9999)
  }

  test("knn join within groups excludes self and respects k") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.8f, 0.2f), 0), (4L, Array(1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnJoinWithinGroups(vecs, "vec_id", "embedding", "label", 2)
    assert(out.filter(col("id_a") === col("id_b")).count() == 0)
    assert(out.filter(col("id_a") === 1).count() == 2)
    assert(out.filter(col("id_a") === 4).count() == 0) // alone in its group
  }

  test("asOfJoin: at-or-before semantics, same-instant match, no-match nulls") {
    import graft.ops.AsOf
    val quotes = Seq( // (key, ts, px)
      (1L, 10L, 100.0), (1L, 20L, 110.0), (2L, 15L, 50.0))
      .toDF("k", "ts", "px")
      .select(col("k"), col("ts"), col("px").as("quote_px"), col("ts").as("quote_ts"))
    val trades = Seq( // (key, ts, qty)
      (1L, 5L, 1L),   // before any quote -> nulls
      (1L, 10L, 2L),  // same instant -> matches the 10-quote
      (1L, 25L, 3L),  // after both -> latest (110)
      (2L, 16L, 4L))
      .toDF("k", "ts", "qty")
    val out = AsOf.asOfJoin(trades, quotes, "k",
        leftTime = "ts", rightTime = "ts", rightTiebreak = col("quote_ts"),
        valueCols = Seq("quote_px", "quote_ts"))
      .orderBy("k", "ts").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("quote_px")))
    assert(out(1).getDouble(out(1).fieldIndex("quote_px")) == 100.0)
    assert(out(2).getDouble(out(2).fieldIndex("quote_px")) == 110.0)
    assert(out(3).getDouble(out(3).fieldIndex("quote_px")) == 50.0)
  }

  test("gopher filters and pii scrub handle degenerate docs") {
    val weird = Seq((1L, "   "), (2L, "### ### ###"),
      (3L, "the of to in is on and or a an")).toDF("doc_id", "text")
    val g = TextOps.gopherFilters(weird, "text")
      .orderBy("doc_id").collect()
    // no NaN/exception on empty-ish text (split of "" yields [""]), and
    // every degenerate doc is dropped for the RIGHT reason
    assert(g.forall(!_.getBoolean(g(0).fieldIndex("keep"))))
    assert(g(0).getDouble(g(0).fieldIndex("mean_word_len")) == 0.0)
    assert(g(1).getDouble(g(1).fieldIndex("symbol_word_ratio")) == 3.0)
    assert(g(1).getDouble(g(1).fieldIndex("alpha_word_ratio")) == 0.0)
    assert(g(2).getLong(g(2).fieldIndex("stop_hits")) == 10L) // but too short

    val pii = TextOps.piiScrub(Seq(
      (1L, "no pii here"),
      (2L, "mail a@b.co ip 10.1.2.3 tel 123-456-7890")).toDF("doc_id", "text"),
      "text").orderBy("doc_id").collect()
    val (ne, np, ni, sc) = (pii(0).fieldIndex("n_emails"),
      pii(0).fieldIndex("n_phones"), pii(0).fieldIndex("n_ips"),
      pii(0).fieldIndex("scrubbed"))
    assert(pii(0).getLong(ne) == 0 && pii(0).getLong(np) == 0 &&
      pii(0).getLong(ni) == 0)
    assert(pii(0).getString(sc) == "no pii here")
    assert(pii(1).getLong(ne) == 1 && pii(1).getLong(np) == 1 &&
      pii(1).getLong(ni) == 1)
    assert(pii(1).getString(sc) == "mail <EMAIL> ip <IP> tel <PHONE>")
  }

  test("multimodal resize preserves aspect ratio; frame sampling fans out") {
    val d = docs.withColumnRenamed("text", "t")
    val media = Multimodal.attachPayloads(d, "doc_id", "t")
    val resized = Multimodal.resize(media, maxSide = 128).collect()
    assert(resized.length == 4)
    resized.foreach { r =>
      assert(math.max(r.out_w, r.out_h) <= 128)
      val inRatio = r.width.toDouble / r.height
      val outRatio = r.out_w.toDouble / r.out_h
      assert(math.abs(inRatio - outRatio) < 0.1, s"${r.doc_id}")
    }
    val frames = Multimodal.sampleFrames(media, durationMs = 1000, everyMs = 250)
    val nVideos = media.filter(col("media_type") === "video").count()
    assert(frames.count() == nVideos * 4) // 0,250,500,750ms per video
  }

  test("multimodal image decode is a real ImageIO PNG round-trip") {
    val d = docs.withColumnRenamed("text", "t")
    val media = Multimodal.attachPayloads(d, "doc_id", "t")
    // doc_id 3 is the image row: w = 3%16+8 = 11, h = (3/16)%16+8 = 8, base = 3
    val payload = media.filter(col("doc_id") === 3)
      .collect()(0).getAs[Array[Byte]]("payload")
    assert(payload.take(4).toSeq ==
      Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)) // real PNG magic
    val img = Multimodal.decodeFeatures(media).collect()
      .find(_.doc_id == 3L).get
    val (w, h, base) = (11, 8, 3)
    assert(img.img_w == w && img.img_h == h) // dims come from the decode
    val pxSum = w.toLong * h * base + h.toLong * (w * (w - 1) / 2) +
      w.toLong * (h * (h - 1) / 2)
    assert(img.px_mean == pxSum.toDouble / (w * h) / 255.0)
    assert(img.checksum == java.security.MessageDigest.getInstance("MD5")
      .digest(s"${w}x${h}:$pxSum".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)
    // resize really resamples: decode the re-encoded PNG, dims must match
    val rs = Multimodal.resize(media.filter(col("media_type") === "image"),
      maxSide = 4).collect()(0)
    assert(rs.out_w == 4 && rs.out_h == 2) // 11x8 → 4x(8*4/11)
    val rimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rs.payload))
    assert(rimg.getWidth == rs.out_w && rimg.getHeight == rs.out_h)
  }

  test("multimodal audio decode is a real javax.sound WAV round-trip") {
    val d = docs.withColumnRenamed("text", "t")
    val media = Multimodal.attachPayloads(d, "doc_id", "t")
    // doc_id 4 is the audio row: w = 4%16+8 = 12, h = (4/16)%16+8 = 8, base = 4
    val payload = media.filter(col("doc_id") === 4)
      .collect()(0).getAs[Array[Byte]]("payload")
    assert(new String(payload.take(4), "US-ASCII") == "RIFF") // real WAV header
    assert(new String(payload.slice(8, 12), "US-ASCII") == "WAVE")

    val audio = Multimodal.decodeFeatures(media).collect()
      .find(_.doc_id == 4L).get
    val (w, h, base) = (12, 8, 4)
    val n = w * h * 4 // 384 samples; decode must recover the count
    assert(audio.n_bytes == n)
    // closed-form PCM ramp sum: base*n + 78*(n/13) + r*(r-1)/2
    val r = n % 13
    val pcmSum = base.toLong * n + 78L * (n / 13) + r.toLong * (r - 1) / 2
    assert(audio.px_mean == pcmSum.toDouble / n / 255.0)
    assert(audio.checksum == java.security.MessageDigest.getInstance("MD5")
      .digest(s"pcm:$n:$pcmSum".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)
    // band features are per-segment means of the ramp — all near base+6
    assert(audio.feature.length == 8)
    assert(audio.feature.forall(f => math.abs(f - (base + 6) / 255.0) < 0.03))

    // corrupt audio bytes degrade to the opaque path, never throw
    val bad = Seq(Multimodal.MediaRow(7L, "audio", 8, 8,
      "definitely not a wav".getBytes("UTF-8"))).toDF()
    val out = Multimodal.decodeFeatures(bad).collect()
    assert(out.length == 1 && out(0).checksum.length == 32)
    assert(out(0).n_bytes == 20) // stub path: raw payload length
  }

  test("multimodal video decode is a real RIFF/AVI round-trip") {
    val d = docs.withColumnRenamed("text", "t")
    val media = Multimodal.attachPayloads(d, "doc_id", "t")
    // doc_id 2 is the video row: w = 2%16+8 = 10, h = (2/16)%16+8 = 8, base = 2
    val payload = media.filter(col("doc_id") === 2)
      .collect()(0).getAs[Array[Byte]]("payload")
    assert(new String(payload.take(4), "US-ASCII") == "RIFF") // real AVI container
    assert(new String(payload.slice(8, 12), "US-ASCII") == "AVI ")

    val vid = Multimodal.decodeFeatures(media).collect()
      .find(_.doc_id == 2L).get
    val (w, h, base, f) = (10, 8, 2, 4)
    assert(vid.img_w == w && vid.img_h == h) // dims come from the parsed strf
    assert(vid.n_bytes == w * h * f)         // pixel count across decoded frames
    // closed-form all-frame sum: F·(whb + h·w(w−1)/2 + w·h(h−1)/2) + wh·F(F−1)/2
    val perFrame = w.toLong * h * base + h.toLong * (w * (w - 1) / 2) +
      w.toLong * (h * (h - 1) / 2)
    val vSum = f * perFrame + w.toLong * h * (f.toLong * (f - 1) / 2)
    assert(vid.px_mean == vSum.toDouble / (w * h * f) / 255.0)
    assert(vid.checksum == java.security.MessageDigest.getInstance("MD5")
      .digest(s"vid:${w}x${h}:$f:$vSum".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)

    // frame sampling emits the DECODED frames: leading pixels of frame i
    // are base+i, base+i+1, … (row y=0 of the top-down raster)
    val frames = Multimodal.sampleFrames(media, durationMs = 1000, everyMs = 250)
      .collect().filter(_.doc_id == 2L).sortBy(_.frame_idx)
    assert(frames.length == f)
    frames.foreach { fr =>
      assert(fr.ts_ms == fr.frame_idx * 250L)
      assert(fr.frame.toSeq == (0 until 8).map(x => (base + x + fr.frame_idx).toByte))
    }

    // corrupt video bytes degrade to the opaque path, never throw
    val bad = Seq(Multimodal.MediaRow(11L, "video", 8, 8,
      "definitely not an avi".getBytes("UTF-8"))).toDF()
    val out = Multimodal.decodeFeatures(bad).collect()
    assert(out.length == 1 && out(0).checksum.length == 32)
    assert(out(0).img_w == 0 && out(0).n_bytes == 21) // stub path

    // a TRUNCATED AVI (torn mid-chunk, the partial-object case a 100 TB
    // ingest sees) keeps the fully-parsed prefix frames instead of
    // failing or falling to the stub: cutting 50 bytes tears the 4th
    // 96-byte frame chunk, so exactly 3 whole frames decode
    val torn = Seq(Multimodal.MediaRow(2L, "video", 10, 8,
      payload.dropRight(50))).toDF()
    val tOut = Multimodal.decodeFeatures(torn).collect()(0)
    assert(tOut.img_w == w && tOut.img_h == h) // strf header still parsed
    assert(tOut.n_bytes == w * h * 3)          // 3 surviving frames' pixels
    val tFrames = Multimodal.sampleFrames(torn, durationMs = 1000, everyMs = 250)
      .collect()
    assert(tFrames.length == 3)

    // a NEGATIVE chunk size (corrupt top bit) must terminate, not hang:
    // sz = -8 advances the cursor zero bytes and sz < -9 walks backward —
    // before the guard this looped a Spark task forever, uninterruptible
    // by the decode catch-all. Patch the 3rd frame chunk's size field in
    // place (self-locating via the '00db' fourcc) and expect the intact
    // 2-frame prefix, same degrade contract as the torn case.
    def frameChunkOffsets(p: Array[Byte]): Seq[Int] =
      (0 to p.length - 4).filter(i =>
        p(i) == '0' && p(i + 1) == '0' && p(i + 2) == 'd' && p(i + 3) == 'b')
    for (badSz <- Seq(-8, -100)) {
      val patched = payload.clone()
      val at = frameChunkOffsets(patched)(2) + 4
      patched(at) = (badSz & 0xff).toByte
      patched(at + 1) = ((badSz >> 8) & 0xff).toByte
      patched(at + 2) = ((badSz >> 16) & 0xff).toByte
      patched(at + 3) = ((badSz >> 24) & 0xff).toByte
      val negDf = Seq(Multimodal.MediaRow(2L, "video", 10, 8, patched)).toDF()
      val negOut = Multimodal.decodeFeatures(negDf).collect()(0)
      assert(negOut.img_w == w && negOut.n_bytes == w * h * 2,
        s"sz=$badSz should keep the 2 intact prefix frames")
    }
  }

  test("corrupt image bytes degrade to the opaque-binary path, not NPE") {
    val bad = Seq(Multimodal.MediaRow(9L, "image", 8, 8,
      "definitely not a png".getBytes("UTF-8"))).toDF()
    val out = Multimodal.decodeFeatures(bad).collect()
    assert(out.length == 1)
    assert(out(0).img_w == 0 && out(0).img_h == 0) // fell back to stub
    assert(out(0).checksum.length == 32) // md5 of the raw bytes
    val rs = Multimodal.resize(bad, maxSide = 4).collect()
    assert(rs.length == 1 && rs(0).out_w == 4) // stub target box, no NPE
  }

  test("multimodal pipeline decodes deterministic features per row") {
    val d = docs.withColumnRenamed("text", "t")
    val out1 = Multimodal.pipeline(d, "doc_id", "t").collect().sortBy(_.getLong(0))
    val out2 = Multimodal.pipeline(d, "doc_id", "t").collect().sortBy(_.getLong(0))
    assert(out1.length == 4)
    assert(out1.map(_.getString(3)).toSeq == out2.map(_.getString(3)).toSeq) // stable checksums
    assert(out1.forall(_.getString(3).length == 32)) // md5 hex
    assert(out1.forall(r => r.getLong(2) > 0))
  }
}
