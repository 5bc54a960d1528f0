package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale smoke for the dedup + CDC families: synthesize an N×-sized
  * corpus from sf0.1 (N decorrelated replicas — every word gets a
  * replica suffix, every vector a replica-specific sign-flip mask, so
  * dup STRUCTURE per replica matches the original corpus and the
  * workload scales linearly, not quadratically), then time the heavy
  * queries at both scales (the big one best-of-2). Ratios far above
  * the op's expected exponent (n^1.33 for LSH, ~linear for banded
  * GTID) expose a hidden quadratic no sf0.1 spec can see. Results →
  * SCALE.md. Fixture data lands under /tmp (never in the read-only
  * testdata tree).
  *
  * Usage: `runMain graft.ScaleSmoke [base] [out] [reps]` — reps=10
  * (default) runs the r6-r7 suite; reps=100 runs the 100× subset
  * (minhash, incremental dedup, single-source GTID) one order beyond,
  * asserting the measured 10× exponents extrapolate.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val out = if (args.length > 1) args(1) else s"/tmp/graft_scale/x$reps"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // id spacing: next power of two > reps keeps replica ids disjoint
    val mult = Integer.highestOneBit(math.max(reps, 1)) * 2
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val reps100 = reps != 10 // the 100×-subset regime
    // fixture validity = Spark's _SUCCESS marker, not the directory: a
    // crashed mid-write build leaves the dir behind, and re-using a
    // partial fixture silently mis-measures every row after it
    def fixtureDone(path: String): Boolean =
      new java.io.File(s"$path/_SUCCESS").exists()
    if (!fixtureDone(s"$out/documents.parquet")) {
      val repCol = explode(sequence(lit(0), lit(reps - 1))).as("__r")
      Tables.documents(spark, base).select(col("*"), repCol)
        .select((col("doc_id") * mult + col("__r")).as("doc_id"),
          // suffix EVERY word with the replica id: intra-replica dup
          // structure is preserved exactly, cross-replica jaccard is 0
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("__r").cast("string"))).as("text"),
          col("lang"), col("source"))
        // n_chars re-derived from the REWRITTEN text — copying the
        // original value through would leave a stale length column
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (!fixtureDone(s"$out/embeddings.parquet")) {
      val repCol = explode(sequence(lit(0), lit(reps - 1))).as("__r")
      Tables.embeddings(spark, base).select(col("*"), repCol)
        .select((col("vec_id") * mult + col("__r")).as("vec_id"),
          // replica-specific pseudo-random SIGN-FLIP mask: a diagonal
          // ±1 orthogonal transform, so every intra-replica cosine is
          // preserved EXACTLY while cross-replica cosines collapse to
          // ~0 even for clustered embeddings (a circular shift alone
          // lets shifted cluster centroids coincidentally align)
          expr("transform(embedding, (x, i) -> " +
            "CASE WHEN pmod(xxhash64(i, __r), 2) = 0 THEN x ELSE -x END)")
            .as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    // Curation-flagship fixture: ROTATE the characters of every
    // non-stopword by the replica id (length-neutral decorrelation).
    // The r10 suffix scheme ("word" → "word_3") preserved stop_hits
    // but added 2-4 chars per word, shifting mean_word_len — docs near
    // the Gopher gate's 10.0 upper bound flipped keep→drop at higher
    // replica ids, so fixture keep-set parity with the raw corpus was
    // only approximate. Rotation ("meadows" → "wsmeado") preserves
    // EVERY gate feature exactly — word length, alpha/symbol content,
    // stopword hits — so the keep-set is identical per replica by
    // construction (asserted below), while cross-replica shingles
    // still decorrelate (a shared shingle needs a run of stopwords or
    // rotation-period coincidences) and intra-replica dup structure is
    // exact. Replica 0 is the raw corpus verbatim.
    if (!fixtureDone(s"$out/curation/documents.parquet")) {
      val stop = graft.ops.TextOps.stopwords
      val repCol = explode(sequence(lit(0), lit(reps - 1))).as("__r")
      def rotated(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val sh = pmod(col("__r"), length(w))
        concat(w.substr(sh + 1, length(w) - sh), w.substr(lit(1), sh))
      }
      Tables.documents(spark, base).select(col("*"), repCol)
        .select((col("doc_id") * mult + col("__r")).as("doc_id"),
          array_join(
            transform(split(col("text"), "\\s+"), w =>
              when(lower(w).isin(stop: _*) || length(w) === 0, w)
                .otherwise(rotated(w))),
            " ").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/curation/documents.parquet")
      // keep-set parity, enforced not hoped: the gate must keep exactly
      // reps× the raw corpus's keep count
      val rawKeeps = graft.ops.TextOps.gopherFilters(
        Tables.documents(spark, base), "text").filter(col("keep")).count()
      val fixKeeps = graft.ops.TextOps.gopherFilters(
        spark.read.parquet(s"$out/curation/documents.parquet"), "text")
        .filter(col("keep")).count()
      require(fixKeeps == rawKeeps * reps,
        s"curation fixture keep-set drifted: raw $rawKeeps × $reps != $fixKeeps")
    }

    // events scale at EVERY reps since r15: the cdc_pipeline_e2e
    // permanent 100× row reads them (6M rows at 100× — a one-time
    // cached build like the others)
    if (!fixtureDone(s"$out/events.parquet")) {
      val repCol = explode(sequence(lit(0), lit(reps - 1))).as("__r")
      // N replicas = N× the USERS with the same per-user event series:
      // per-key workload shape (txn buckets, sessions, GTID islands) is
      // preserved exactly; only the key cardinality scales
      Tables.events(spark, base).select(col("*"), repCol)
        .select((col("event_id") * mult + col("__r")).as("event_id"),
          col("ts"), (col("user_id") * mult + col("__r")).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    import graft.queries.{CdcQueries, LlmQueries}
    // the worst-case GTID shape: ONE source uuid (the common
    // single-primary deployment), dense GNO history with sparse
    // rollback holes. Pre-band-bucketing this sorted the whole
    // history in one task; the banded islands keep it parallel.
    // Synthesized directly (2e6 vs 2e6×reps gnos) — dir picks size.
    val gtidSingleSource = (s: SparkSession, dir: String) => {
      val n = if (dir == base) 2000000L else 2000000L * reps
      val txns = s.range(n)
        .select(lit("uuid-1").as("source"), col("id").as("gno"))
        .filter(pmod(col("gno"), lit(997L)) =!= 0) // rollback holes
      graft.cdc.TxnLog.gtidFrontier(txns, "source", "gno")
    }
    // shared by the 10× and 100× suites: the vector-index incremental
    // probe-only path (no fold; StreamingVecDedup.ingest runs
    // probeAndExtendVec instead) at dup-grade 0.8 with AUTO
    // granularity — see the 10× rationale below
    val embeddingIncr = (s: SparkSession, dir: String) => {
      val e = Tables.embeddings(s, dir)
      val orig = if (dir == base) col("vec_id")
                 else floor(col("vec_id") / lit(mult)).cast("long")
      val ix = graft.ops.Similarity.buildEmbeddingIndex(
        e.filter(pmod(orig, lit(4)) =!= 0), "vec_id", "embedding",
        nPlanes = 0, nTables = 0, threshold = 0.8)
      // verifyChunks at the BIG scale only: the 100× candidate-verify
      // spill alone exceeded this host's ~79 GB free disk (the r9-r11
      // marked row); 8 sequential per-table-slice verify jobs bound
      // peak shuffle disk at ~1/8 of the all-candidates join. Base
      // scale keeps the single-plan path so the ratio still compares
      // a real pair (chunking adds its own job overhead).
      graft.ops.Similarity.incrementalVecDupPairs(
        e.filter(pmod(orig, lit(4)) === 0), ix,
        "vec_id", "embedding", threshold = 0.8,
        verifyChunks = if (dir == base) 1 else 8)
    }
    // The flagship e2e on the stopword-preserving fixture (raw corpus
    // at base scale — the fixture differs from it only by suffixes, so
    // the Gopher keep-set matches and the dedup stage does real work)
    val curationE2e = (s: SparkSession, dir: String) =>
      LlmQueries.corpusCurationE2e(s, if (dir == base) dir else s"$out/curation")
    // the composed embedding-dedup SHIP-IT step (edges → CC → per-label
    // keep stats) in the dup-grade regime — shared by the 10× suite and
    // (r15) the permanent 100× row: the components (cosine@0.8, CC) had
    // 100× rows, the composed apply did not
    val dedupEmbeddingApply08 = (s: SparkSession, dir: String) => {
      val e = Tables.embeddings(s, dir)
      // verifyChunks at the BIG scale only (the embeddingIncr
      // rationale): the 100× all-candidates verify spilled past this
      // host's free disk — 8 sequential per-table-slice jobs bound
      // peak shuffle at ~1/8; base keeps the single-plan path
      val edges = graft.ops.Similarity.embeddingNearDups(
        e, "vec_id", "embedding", nPlanes = 0, nTables = 0,
        threshold = 0.8,
        verifyChunks = if (dir == base) 1 else 8).select("id_a", "id_b")
      val cl = graft.ops.Dedup.dupClusters(e.select("vec_id"), "vec_id", edges)
      e.join(cl.select("vec_id", "is_dup"), "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_kept"))
    }
    // eval-probes-train decontamination at dup-grade 0.8 with auto
    // granularity (shared 10×/100× — r15 adds the permanent 100× row):
    // split on the ORIGINAL id so the eval set is 10% of every replica;
    // the cross verify chunks at the big scale like embeddingIncr
    val deconSemantic08 = (s: SparkSession, dir: String) => {
      val e = Tables.embeddings(s, dir)
      val orig = if (dir == base) col("vec_id")
                 else floor(col("vec_id") / lit(mult)).cast("long")
      val ix = graft.ops.Similarity.buildEmbeddingIndex(
        e.filter(pmod(orig, lit(10)) =!= 0), "vec_id", "embedding",
        nPlanes = 0, nTables = 0, threshold = 0.8)
      graft.ops.Similarity.incrementalVecDupPairs(
        e.filter(pmod(orig, lit(10)) === 0), ix,
        "vec_id", "embedding", threshold = 0.8,
        verifyChunks = if (dir == base) 1 else 8)
    }
    // the PQ serving shape in the PRUNED regime (r15, the AnnPruningSpec
    // regime the oracle's exhaustive nCells=nProbe=16 config is not):
    // nCells ∝ √n with a bounded probe over the %8 sub-corpus (the knn
    // family's fixture), a PINNED 32-query sample (a fleet audits a
    // fixed probe set), and the recall audit CARRIED — hits against the
    // brute-force ground truth plus the mean |exact−quantized| cosine
    // reconstruction error, so the row can't silently trade recall for
    // wall. Assignment is n·√n (exponent 1.5 like the knn rows).
    val ivfPqSqrtN = (s: SparkSession, dir: String) => {
      val sub = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(8)) === 0)
      val q = sub.orderBy("vec_id").limit(32)
      val n = if (dir == base) 250L else 250L * reps
      val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
      val exact = graft.ops.Similarity.bruteForceTopK(
        sub, q, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
      graft.ops.Similarity.ivfPqTopK(sub, q, "vec_id", "embedding",
          nCells = nCells, nProbe = 4, k = 5, rerank = 64)
        .join(exact.withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy()
        .agg(count(lit(1)).as("n_served"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hits"),
          avg(col("recon_err")).as("mean_recon_err"))
        // always-true filter referencing every audit column: a global
        // agg is 1 row whatever its expressions, so under count()
        // Catalyst would otherwise prune them and time an empty plan
        // (the text_lm_perplexity hazard)
        .filter(col("n_served") >= 0L && col("n_hits") >= 0L &&
          coalesce(col("mean_recon_err"), lit(0.0)) >= 0.0)
    }
    // SemDeDup's k∝n constant-cell contract, at whatever reps this run uses
    val semanticKpropN = (s: SparkSession, dir: String) => {
      val k = if (dir == base) 8 else 8 * reps
      graft.ops.Similarity.semanticDedup(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = k, iterations = 2, threshold = 0.45)
    }
    // same contract through the two-level assignment (the named r10
    // refinement): the n·k broadcast-assignment term — the measured
    // super-linear remainder of the flat row — becomes ~2·n·√k
    val semanticTwoLevel = (s: SparkSession, dir: String) => {
      val k = if (dir == base) 8 else 8 * reps
      graft.ops.Similarity.semanticDedup(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = k, iterations = 2, threshold = 0.45,
        twoLevel = true)
    }
    // The √n-centroid IVF regime for the kNN-graph family (the oracle
    // queries pin nCells=nProbe=16 for exhaustive-regime exactness; the
    // SCALE path is nCells ∝ √n with a bounded probe — total work
    // n·√n, exponent 1.5)
    def sqrtnKnnEdges(s: SparkSession, dir: String): DataFrame = {
      val sub = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(8)) === 0)
      val n = if (dir == base) 250L else 250L * reps
      val nCells = math.max(16, math.sqrt(n.toDouble).toInt)
      val bs = graft.ops.Similarity.ivfTopK(sub, sub, "vec_id", "embedding",
        nCells = nCells, nProbe = 4, k = 6)
      val w = Window.partitionBy("query_id").orderBy("rank")
      bs.filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("rank2", row_number().over(w))
        .filter(col("rank2") <= 5)
        .select("query_id", "neighbor_id")
    }
    val knnGraphSqrtN = (s: SparkSession, dir: String) => sqrtnKnnEdges(s, dir)
    val graphComponentsSqrtN = (s: SparkSession, dir: String) => {
      val sub = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(8)) === 0)
      val top5 = sqrtnKnnEdges(s, dir)
      val rev = top5.select(col("neighbor_id").as("query_id"),
        col("query_id").as("neighbor_id"))
      val mutual = top5.join(rev, Seq("query_id", "neighbor_id"))
        .filter(col("query_id") < col("neighbor_id"))
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
      // maxIters=40: the approximate-probe mutual graph on decorrelated
      // (near-random-geometry) replicas forms path-like chains far
      // longer than any real corpus's mutual-kNN graph — at 100× the
      // giant component's diameter is ~n and label reach grows
      // ~Fib(r) ≈ 1.6^r (one edge hop + one pointer hop per round), so
      // 24 rounds sat exactly at the 25k-node boundary. Rounds stay
      // O(log diameter) and each is a tiny localCheckpointed frame;
      // the smoke lifts the ceiling, the measured wall is the claim.
      graft.ops.Dedup.dupClusters(sub.select("vec_id"), "vec_id", mutual,
        maxIters = 40)
    }
    // text_lm_buckets in the regime the giant-source fallback exists
    // for: remap 19/20 of docs onto ONE source ("common-crawl is one
    // source") and bucket with a 10k-doc auto-switch threshold — at
    // base scale every source stays under it (window path, the r10
    // plan), at 10×/100× the dominant source crosses it and takes the
    // partitioned ntileByHistogram path, so the one-task full-row sort
    // never forms. The plain text_lm_buckets row keeps measuring the
    // window path for comparison.
    def dominantDocs(s: SparkSession, dir: String) =
      Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(20)) =!= 0, lit("common-crawl"))
          .otherwise(col("source")).as("source"),
        col("text"), col("n_chars"))
    val lmBucketsDominant = (s: SparkSession, dir: String) =>
      LlmQueries.lmBucketsOn(dominantDocs(s, dir),
        giantSourceThreshold = 10000L)
    // the counterfactual: the SAME dominant-source fixture forced down
    // the per-source ntile window (threshold no source reaches) — the
    // one-task sort the fallback exists to avoid
    val lmBucketsDominantWindow = (s: SparkSession, dir: String) =>
      LlmQueries.lmBucketsOn(dominantDocs(s, dir),
        giantSourceThreshold = Long.MaxValue)
    // the per-source caps accounting when one source dominates: the
    // split formulation's WindowGroupLimit keeps cap rows per
    // partition, so the dominant source never sorts in one task
    val sourceCapsDominant = (s: SparkSession, dir: String) =>
      LlmQueries.sourceCapsOn(dominantDocs(s, dir))
    // sequence packing in the dominant-source regime: the exclusive
    // running token sum over ONE giant source. With the 10k
    // auto-switch the giant source takes the distributed prefix sum
    // (range partitions + broadcast carry — max task bounded by
    // partition size); the counterfactual forces the per-source
    // unbounded-preceding window, i.e. one task sorting AND scanning
    // the whole source — the last source-keyed window shape left
    def dominantToks(s: SparkSession, dir: String) =
      dominantDocs(s, dir).select(col("source"), col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long")
          .as("__toks"))
    val packDominant = (s: SparkSession, dir: String) =>
      LlmQueries.packSequencesOn(dominantToks(s, dir),
        giantSourceThreshold = 10000L)
    val packDominantWindow = (s: SparkSession, dir: String) =>
      LlmQueries.packSequencesOn(dominantToks(s, dir),
        giantSourceThreshold = Long.MaxValue)
    // interleave order under the same dominant source: per-source
    // position via the distributed prefix sum of ones vs the forced
    // row_number window (one task ranking the whole source)
    val interleaveDominant = (s: SparkSession, dir: String) =>
      LlmQueries.interleaveOn(
        dominantDocs(s, dir).select("doc_id", "source"),
        giantSourceThreshold = 10000L)
    val interleaveDominantWindow = (s: SparkSession, dir: String) =>
      LlmQueries.interleaveOn(
        dominantDocs(s, dir).select("doc_id", "source"),
        giantSourceThreshold = Long.MaxValue)
    // Zipfian-token corpus, synthesized on the fly (no fixture write):
    // rank = floor(V^u) with u hash-uniform in [0,1) is the inverse
    // CDF of P(rank=k) ∝ 1/k — real text's token law. Rank 1 alone
    // carries ~1/ln(V) ≈ 9% of all tokens, so the LM score join's
    // `prev` key has exactly the head-token skew a web corpus has
    // ("the" owns a partition). Deterministic: u comes from
    // xxhash64(doc, position), no RNG.
    def zipfDocs(s: SparkSession, dir: String, baseDocs: Long,
        docLen: Int, vocabSize: Int): DataFrame = {
      val n = if (dir == base) baseDocs else baseDocs * reps
      s.range(n).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(docLen - 1)), i =>
          concat(lit("tok"), floor(pow(lit(vocabSize.toDouble),
            pmod(xxhash64(col("id"), i), lit(1000000L)).cast("double") / 1e6))
            .cast("long").cast("string"))), " ").as("text"))
    }
    // the LM scorer on the Zipfian corpus: text_rare_token_stats
    // documented the head-token join hazard and leans on AQE
    // skew-split — this row proves it for the lmSurprise `prev` join
    // (task-duration spread recorded by the listener below). The
    // bits filter forces the scoring joins under count(): without a
    // right-side column reference Catalyst eliminates the unique-key
    // left join outright and the row times an empty plan.
    val lmZipf = (s: SparkSession, dir: String) =>
      graft.ops.TextOps.lmSurprise(
        zipfDocs(s, dir, baseDocs = 20000L, docLen = 40, vocabSize = 50000),
        "doc_id", "text", isRef = pmod(col("doc_id"), lit(7)) === 0)
        .filter(col("bits") >= 0L)
    // the bounded model's frame-size claim: returned rows = retained
    // (prev, w) types at floor 2, so the printed base/big row counts
    // ARE the sublinearity measurement (Zipf tail types are seen once
    // and collapse into per-context <unk> rows)
    val lmModelRowsZipf = (s: SparkSession, dir: String) =>
      graft.ops.TextOps.trainLmBounded(
        zipfDocs(s, dir, baseDocs = 20000L, docLen = 40, vocabSize = 50000)
          .filter(pmod(col("doc_id"), lit(7)) === 0),
        "text", minCount = 2L).cPw
    // the unbounded frame on the same corpus: the denominator of the
    // bound's frame-size claim (row counts of this vs the bounded row)
    val lmModelRowsUnbounded = (s: SparkSession, dir: String) =>
      graft.ops.TextOps.trainLm(
        zipfDocs(s, dir, baseDocs = 20000L, docLen = 40, vocabSize = 50000)
          .filter(pmod(col("doc_id"), lit(7)) === 0),
        "text").cPw
    // exact heavy hitters on the Zipfian corpus: token SHARES are
    // scale-invariant under zipfDocs (the distribution is fixed, only
    // n grows), so the candidate and output sets match at both scales
    // and the ratio measures the op, not a regime change. The 50k
    // vocabulary >> k=4096 keeps MG pruning (decrement + merge-trim)
    // genuinely engaged — the regime the two-pass plan exists for.
    def zipfToks(s: SparkSession, dir: String) =
      zipfDocs(s, dir, baseDocs = 20000L, docLen = 40, vocabSize = 50000)
        .select(explode(split(col("text"), " ")).as("g"))
    val hhZipf = (s: SparkSession, dir: String) =>
      graft.ops.Frequency.heavyHitters(zipfToks(s, dir), "g",
        minShare = 0.001, k = 4096)
    // the counterfactual: the naive one-pass groupBy the recount
    // replaces — every distinct token per partition shuffles (fast on
    // one box where "shuffle" is local disk; the claim at cluster
    // scale is the volume difference, recorded here as wall + spread)
    val hhZipfNaive = (s: SparkSession, dir: String) => {
      val toks = zipfToks(s, dir)
      val tot = toks.agg(count(lit(1)).as("n"))
      toks.groupBy("g").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") >= ceil(lit(0.001) * col("n").cast("double"))
          .cast("long"))
    }
    // exact quantiles in the dominant-source regime: p25/50/75/95 of
    // doc length when one source owns 95% of the corpus — the range
    // path's max task stays ~partition-sized; the counterfactual
    // window ranks the whole source in one task just to pick 4 rows
    val quantDominant = (s: SparkSession, dir: String) =>
      graft.ops.Buckets.quantilesByRange(
        dominantDocs(s, dir).select("source", "doc_id", "n_chars"),
        "n_chars", "doc_id", Seq(0.25, 0.5, 0.75, 0.95), Seq("source"))
    val quantDominantWindow = (s: SparkSession, dir: String) => {
      val d = dominantDocs(s, dir).select("source", "doc_id", "n_chars")
      val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
      val cw = Window.partitionBy("source")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val r = d.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(cw))
      r.filter(Seq(0.25, 0.5, 0.75, 0.95).map(q =>
          col("rn") === ceil(lit(q) * col("n").cast("double")).cast("long"))
        .reduce(_ || _))
        .select(col("source"), col("n_chars").as("value"))
    }
    // uniform doc sampling when one source owns 95% of the corpus:
    // bottomKSample's whole claim is that no scope ever sorts — a
    // map-side bounded-heap pass (r14: a real mapPartitions, not a
    // __pid window that re-shuffled the corpus), then a ≤k·P
    // control-frame rank; the rank filter forces the window under
    // count() (cardinality depends on it, so Catalyst cannot prune),
    // and the heap pass is a deserialization barrier count() can
    // never see through
    val sampleDominant = (s: SparkSession, dir: String) =>
      graft.ops.Sketches.bottomKSample(
        dominantDocs(s, dir).select(col("source").as("scope"),
          graft.ops.Sketches.uniformHash(col("doc_id").cast("string")).as("h"),
          col("doc_id").as("v"), col("n_chars")), 64)
    // the weighted variant under the same dominant source: the
    // ticket-min key adds ≤8 md5s/row of map-side CPU but NO plan
    // change — the row measures that the weighting rides the uniform
    // row's flat-task two-stage shape (same shuffle, same spread)
    val sampleWeightedDominant = (s: SparkSession, dir: String) => {
      val weight = least(greatest(
        expr("(coalesce(n_chars, 0) - 1) div 100") + lit(1), lit(1)), lit(8))
        .cast("int")
      val key = array_min(transform(sequence(lit(1), weight),
        t => graft.ops.Sketches.uniformHash(
          concat(col("doc_id").cast("string"), lit(":"), t.cast("string")))))
      graft.ops.Sketches.bottomKSample(
        dominantDocs(s, dir).select(col("source").as("scope"),
          key.as("h"), col("doc_id").as("v"), col("n_chars")), 64)
    }
    // the CMS build + probe on the Zipfian corpus: the sketch's whole
    // claim is that the shuffle carries ≤ d·w cells per partition
    // whatever the vocabulary — the counterfactual for a point-
    // frequency answer is the naive full groupBy(token) the
    // sketch_heavy_hitters@zipf-naive row already times on the SAME
    // corpus (its shuffle moves every per-partition distinct token).
    // Probes are a fixed literal head+tail token set, so the row times
    // the sketch path itself, not an exact-count audit leg. The est
    // filter (true always — counters are non-negative) forces the
    // counter build under count(): ctrs' groupBy keys are provably
    // unique, so without a referenced counter column Catalyst
    // eliminates the left join outright and the row times an empty
    // plan (the text_lm_perplexity hazard — the un-forced first
    // reading was 0.25 s / 0.0 MB shuffle at 100×)
    val cmsZipf = (s: SparkSession, dir: String) => {
      import s.implicits._
      val p = graft.ops.CountMin.Params(d = 3, w = 4096)
      val probes = ((1 to 10).map(i => s"tok$i") ++
        Seq("tok499", "tok4999", "tok49999")).toDF("item")
      graft.ops.CountMin.estimates(probes,
        graft.ops.CountMin.counters(zipfToks(s, dir), "g", p), p)
        .filter(col("est") >= 0L)
    }
    // the exact second-moment matrix at 100× (50k vectors): the
    // mergeable array-buffer aggregate does the whole pass inside
    // moments()' one-summary control read — per-row O(d²) multiply-add
    // is the irreducible work, shuffle is one buffer per partition, so
    // the row should track ~linear with flat tasks
    val covMoments = (s: SparkSession, dir: String) =>
      graft.ops.Covariance.moments(Tables.embeddings(s, dir), "embedding",
        d = 64)
    // the production hash mode: same sketch, xxhash64 buckets — the
    // md5 row above prices cross-ENGINE determinism (the oracle's
    // requirement); this row is what a deployment runs once the
    // machinery is proven (every CMS guarantee is hash-agnostic)
    val cmsZipfFast = (s: SparkSession, dir: String) => {
      import s.implicits._
      val p = graft.ops.CountMin.Params(d = 3, w = 4096)
      val probes = ((1 to 10).map(i => s"tok$i") ++
        Seq("tok499", "tok4999", "tok49999")).toDF("item")
      graft.ops.CountMin.estimates(probes,
        graft.ops.CountMin.counters(zipfToks(s, dir), "g", p,
          fastHash = true), p, fastHash = true)
        .filter(col("est") >= 0L)
    }
    // the greedy token-budget cut at 100×: the GLOBAL empty-partCols
    // runningSumByRange — the one mode of the prefix-sum machinery no
    // other reps100 row exercises (every other row partitions by
    // source/epoch/key). The budget filter references the carried
    // cum_tokens, so the prefix sum is forced under count(). The
    // counterfactual is the naive global `SUM OVER (ORDER BY …)` —
    // Spark plans an un-partitioned window as ONE task sorting and
    // scanning the whole corpus (the shape the operator exists to
    // kill); its wall/spread is the row's point of comparison.
    val budgetCutWindow = (s: SparkSession, dir: String) => {
      val q = graft.ops.TextOps.qualityFeatures(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("quality_score"),
          col("n_tokens").cast("long").as("n_tokens"))
      val tot = q.agg(sum(col("n_tokens")).as("__tt"))
      val w = Window.orderBy(col("quality_score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      q.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .crossJoin(broadcast(tot))
        .filter(col("cum_tokens") <= expr("(__tt * 6) div 10"))
    }
    // per-epoch training order at 100×: an epoch IS the whole corpus —
    // the textbook giant group (dominant by construction, no remap
    // needed). The range path bounds every local sort at ~N/parts with
    // a (parts × epochs)-row broadcast carry; the counterfactual
    // row_number window funnels EACH epoch through one task's sort of
    // ~corpus-size rows. The pos filter (true always) forces the rank
    // under count() on both paths.
    val epochOrderDominant = (s: SparkSession, dir: String) =>
      LlmQueries.dataEpochOrder(s, dir).filter(col("pos") >= 1L)
    val epochOrderDominantWindow = (s: SparkSession, dir: String) => {
      val rep = LlmQueries.dataRepeatUpsample(s, dir)
        .withColumn("h", graft.ops.Sketches.uniformHash(concat(
          col("doc_id").cast("string"), lit(":"), col("epoch").cast("string"))))
      val w = Window.partitionBy("epoch").orderBy(col("h"), col("doc_id"))
      rep.withColumn("pos", row_number().over(w))
        .filter(col("pos") >= 1L)
    }
    // the as-of join in the regime its r13 auto-switch exists for:
    // ONE dominant entity key (80% of both sides) — synthesized on the
    // fly like the zipf corpora (no events fixture at 100×), hash-
    // deterministic times, right side deduped on (key, t) so the pick
    // is unambiguous. @hotkey takes the range-partitioned carry
    // (lastValueByRange; max task ~ partition size); the counter-
    // factual window carries the hot key's ENTIRE history through one
    // task's sort+scan — the dedicated straggler the spread column
    // records.
    def hotAsofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
      val n = if (dir == base) 60000L else 60000L * reps
      val ev = s.range(n).select(col("id"),
        when(pmod(col("id"), lit(5)) =!= 0, lit(1L))
          .otherwise(pmod(xxhash64(col("id"), lit(3)), lit(2000L)) + 2L)
          .as("user_id"),
        pmod(xxhash64(col("id"), lit(7)), lit(1000000000L)).as("ts"))
      val left = ev.filter(pmod(col("id"), lit(4)) =!= 0)
        .select(col("user_id"), col("ts"), col("id").as("event_id"))
      val right = graft.cdc.Msort.uniqueByTimeKey(
        ev.filter(pmod(col("id"), lit(4)) === 0)
          .select(col("user_id"), col("ts"), col("id").as("signup_id")),
        Seq("user_id"), "ts", col("signup_id"))
        .withColumn("signup_ts", col("ts"))
      (left, right)
    }
    def hotAsof(threshold: Long) = (s: SparkSession, dir: String) => {
      val (l, r) = hotAsofSides(s, dir)
      // the signup_ts filter (true for every row — ts ≥ 0 and no-match
      // rows coalesce to 0) forces the carry under count(): without a
      // carried-column reference Catalyst prunes the unreferenced
      // window/carry outright and the row times an empty plan (the
      // text_lm_perplexity hazard — the un-forced first measurement
      // read 1.30 s flat from 60k to 6M rows)
      graft.ops.AsOf.asOfJoin(l, r, "user_id", leftTime = "ts",
        rightTime = "ts", rightTiebreak = col("signup_id"),
        valueCols = Seq("signup_id", "signup_ts"),
        giantKeyThreshold = threshold)
        .filter(coalesce(col("signup_ts"), lit(0L)) >= 0L)
    }
    // the bin-bucketed range join one order beyond its oracle scale:
    // synthetic points against 52 weekly 3-day windows — candidate
    // volume is points × overlapping-bins (≤2), never points × windows
    val rangeJoinBig = (s: SparkSession, dir: String) => {
      val n = if (dir == base) 60000L else 60000L * reps
      val week = 604800L
      val pts = s.range(n).select(col("id").as("event_id"),
        pmod(xxhash64(col("id"), lit(11)), lit(week * 52)).as("t"))
      val wins = s.range(52).select(col("id").as("campaign_id"),
        (col("id") * week).as("lo"), (col("id") * week + 259200L).as("hi"))
      graft.ops.RangeJoin.pointInInterval(pts, "t", wins, "lo", "hi",
        binWidth = week)
    }
    // Expected-exponent bound per op, from the r7 10× measurements:
    // LSH families tracked ≤ n^1.33 (band-bucket candidate cost), the
    // banded GTID islands and per-key CDC ops tracked ~linear. A 3×
    // slack on the modeled wall absorbs fixed overhead + host noise
    // while still catching any quadratic (which would blow 10-100×
    // past the bound at reps=100).
    def bound(exponent: Double): Double = 3.0 * math.pow(reps, exponent)
    val ops: Seq[(String, Double, (SparkSession, String) => DataFrame)] =
      if (reps100) Seq(
        ("dedup_minhash_lsh", 1.33, LlmQueries.dedupMinhashLsh _),
        ("dedup_incremental", 1.33, LlmQueries.dedupIncremental _),
        ("gtid_islands_single_source", 1.0, gtidSingleSource),
        ("dedup_embedding_incr@0.8", 1.33, embeddingIncr),
        ("dedup_apply", 1.33, LlmQueries.dedupApply _),
        // the text-scrub family one order beyond its 10× rows: both are
        // df-gate + per-doc regroup plans with no pairwise term, so the
        // 100× wall should track ~linear like the 10× measurements did
        ("dedup_lines", 1.0, LlmQueries.dedupLines _),
        ("dedup_substrings", 1.0, LlmQueries.dedupSubstrings _),
        // r10: the r9 heavy ops one order beyond their 10× rows
        ("dedup_semantic", 1.33, semanticKpropN),
        ("dedup_semantic@twolevel", 1.33, semanticTwoLevel),
        ("ann_knn_graph@sqrtn", 1.5, knnGraphSqrtN),
        ("ann_graph_components@sqrtn", 1.5, graphComponentsSqrtN),
        ("corpus_curation_e2e", 1.33, curationE2e),
        // .filter(bits >= 0) forces the scoring joins under count():
        // Catalyst eliminates the unique-key left join when no model
        // column survives pruning, and the row times an empty plan
        // (this voided the r10 reading of this row — 0.5 s at 100×)
        ("text_lm_perplexity", 1.0, (s: SparkSession, dir: String) =>
          LlmQueries.textLmPerplexity(s, dir).filter(col("bits") >= 0L)),
        ("text_lm_buckets", 1.0, LlmQueries.textLmBuckets _),
        ("text_lm_buckets@dominant", 1.0, lmBucketsDominant),
        ("text_lm_buckets@dominant-window", 1.0, lmBucketsDominantWindow),
        ("data_source_caps@dominant", 1.0, sourceCapsDominant),
        ("data_pack_sequences@dominant", 1.0, packDominant),
        ("data_pack_sequences@dominant-window", 1.0, packDominantWindow),
        ("data_interleave_order@dominant", 1.0, interleaveDominant),
        ("data_interleave_order@dominant-window", 1.0, interleaveDominantWindow),
        ("text_lm_perplexity@zipf", 1.0, lmZipf),
        ("lm_model_rows@zipf", 1.0, lmModelRowsZipf),
        ("lm_model_rows_unbounded@zipf", 1.0, lmModelRowsUnbounded),
        ("sketch_heavy_hitters@zipf", 1.0, hhZipf),
        ("sketch_heavy_hitters@zipf-naive", 1.0, hhZipfNaive),
        ("data_quantiles@dominant", 1.0, quantDominant),
        ("data_quantiles@dominant-window", 1.0, quantDominantWindow),
        // r13: the two custom-op CDC rows with no prior dominant-key
        // scale row — the as-of carry under one hot entity key (range
        // path vs the one-task-window counterfactual) and the binned
        // range join
        ("data_sample_uniform@dominant", 1.0, sampleDominant),
        ("data_sample_weighted@dominant", 1.0, sampleWeightedDominant),
        ("sketch_count_min@zipf", 1.0, cmsZipf),
        ("sketch_count_min@zipf-fasthash", 1.0, cmsZipfFast),
        ("embedding_covariance@100x", 1.0, covMoments),
        ("data_budget_cut@100x", 1.0, LlmQueries.dataBudgetCut _),
        ("data_budget_cut@100x-window", 1.0, budgetCutWindow),
        // the trainer-manifest flagship e2e (row 107): cut → upsample →
        // epoch order → shard → rollup composed at 100× — the row
        // proves the CHAIN scales like its components (each measured
        // individually above/below); the final rollup's group count is
        // (epochs × shards) — a control frame
        ("corpus_training_manifest@100x", 1.0,
          LlmQueries.corpusTrainingManifest _),
        ("data_epoch_order@dominant", 1.0, epochOrderDominant),
        ("data_epoch_order@dominant-window", 1.0, epochOrderDominantWindow),
        ("cdc_asof_join@hotkey", 1.0, hotAsof(100000L)),
        ("cdc_asof_join@hotkey-window", 1.0, hotAsof(Long.MaxValue)),
        ("q_range_join@big", 1.0, rangeJoinBig),
        // r15 permanent rows: the composed embedding-dedup apply (its
        // components had 100× rows, the composition did not), the
        // eval-probes-train decontamination, the PQ serving probe in
        // the pruned √n regime with the recall audit carried, and the
        // CDC flagship e2e (proving the r14 parse-once leaf pin's win
        // side at 100× — the rule's loss side was measured at 100× on
        // curation_e2e, the win side only at sf0.1)
        ("dedup_embedding_apply@0.8", 1.33, dedupEmbeddingApply08),
        ("decon_semantic@0.8", 1.33, deconSemantic08),
        ("ann_ivf_pq@sqrtn", 1.5, ivfPqSqrtN),
        ("cdc_pipeline_e2e", 1.0, CdcQueries.pipelineE2e _))
      else Seq(
        ("cdc_gtid_frontier", 1.0, CdcQueries.gtidFrontier _),
        ("gtid_islands_single_source", 1.0, gtidSingleSource),
        ("cdc_txn_batches", 1.0, CdcQueries.txnBatches _),
        ("q_sessionize", 1.0, graft.queries.Analytics.sessionize _),
        ("dedup_minhash_lsh", 1.33, LlmQueries.dedupMinhashLsh _),
        ("dedup_simhash", 1.33, LlmQueries.dedupSimhash _),
        ("dedup_clusters", 1.33, LlmQueries.dedupClusters _),
        ("dedup_apply", 1.33, LlmQueries.dedupApply _),
        // measured at dup-grade 0.8 with AUTO index granularity (the
        // 100 TB regime), like dedup_embedding_cosine@0.8 below: the
        // oracle query's pinned 4×64 @0.45 config is exactness-at-test-
        // scale, and at 0.45 the TRUE answer is quadratic in corpus
        // size (random-pair admissions — see the @0.8 rationale)
        // split on the ORIGINAL id (scaled ids are orig*mult+replica):
        // the batch must be a quarter of EVERY replica, mirroring the
        // base-scale quarter-corpus split — splitting on the raw id
        // selects whole replicas whose cross-replica cosines are ~0 by
        // construction, leaving the cross-scoring legs structurally
        // empty (a quadratic there could not bend the ratio)
        ("dedup_embedding_incr@0.8", 1.33, embeddingIncr),
        // explode(dims) + two key-partitioned shuffles — expect ~linear
        ("embedding_label_coherence", 1.0, LlmQueries.embeddingLabelCoherence _),
        // fixed k: assignment is corpus × broadcast-k (linear), update
        // is one (cluster, dim) agg — expect ~linear
        ("embedding_kmeans", 1.0, LlmQueries.embeddingKmeans _),
        // two hash aggs over (segment, doc) + a broadcastable
        // frequency join + per-doc regroup — expect ~linear
        ("dedup_lines", 1.0, LlmQueries.dedupLines _),
        // positional shingle df + semi-join + per-doc islands — the
        // replica suffix preserves intra-replica span structure, so
        // output and work both scale linearly
        ("dedup_substrings", 1.0, LlmQueries.dedupSubstrings _),
        // histogram + broadcast + boundary-group ranks — the whole
        // point is ~linear wall where exact ntile is a global sort
        ("data_curriculum_cutpoints", 1.0, LlmQueries.dataCurriculumCutpoints _),
        // per-row regex canonicalization + one hash groupBy — ~linear
        ("dedup_url", 1.0, LlmQueries.dedupUrl _),
        // per-word codegen'd replace chain + one rollup — ~linear
        ("text_bpe_apply", 1.0, LlmQueries.textBpeApply _),
        // pure per-row hash + 16-group audit — ~linear
        ("data_shard_assign", 1.0, LlmQueries.dataShardAssign _),
        // per-scope window over distinct hashes — scopes rank in
        // parallel, sketch work ~linear in distinct values
        ("sketch_distinct_kmv", 1.0, LlmQueries.sketchDistinctKmv _),
        // pure per-row bit expression + 64-group audit join — ~linear
        ("data_zorder_layout", 1.0, LlmQueries.dataZorderLayout _),
        // two map-combined aggs + term equi-join + per-source window
        ("text_tfidf_top_terms", 1.0, LlmQueries.textTfidfTopTerms _),
        // one conditional agg + scalar crosses + TakeOrdered — ~linear
        ("data_snapshot_drift", 1.0, LlmQueries.dataSnapshotDrift _),
        // distinct(user, week) + user-keyed regroup + broadcast sizes
        ("q_cohort_retention", 1.0, graft.queries.Analytics.cohortRetention _),
        // per-doc block regroup + per-doc sentinel window — ~linear
        ("data_span_corruption", 1.0, LlmQueries.dataSpanCorruption _),
        // vocab TakeOrdered + broadcast membership + one agg — ~linear
        ("data_vocab_coverage", 1.0, LlmQueries.dataVocabCoverage _),
        // per-source windows + 1-row length-vector broadcast — ~linear
        ("data_interleave_order", 1.0, LlmQueries.dataInterleaveOrder _),
        // distributed prefix-sum packing under a dominant source, plus
        // the forced-window counterfactual it replaces
        ("data_pack_sequences@dominant", 1.0, packDominant),
        ("data_pack_sequences@dominant-window", 1.0, packDominantWindow),
        // SemDeDup's contract is constant-SIZED cells: k scales with n
        // (8 → 8·reps), so the within-cell pair stage stays ~linear.
        // The n×k broadcast assignment term grows with k — fine at this
        // scale; the extreme-scale refinement is two-level assignment
        // (coarse codebook → cell), the same trick IVF rows use.
        ("dedup_semantic", 1.33, semanticKpropN),
        ("dedup_semantic@twolevel", 1.33, semanticTwoLevel),
        // eval probe of the train index at dup-grade 0.8 with auto
        // granularity (same regime rationale as the @0.8 rows): split
        // on the ORIGINAL id so the eval set is 10% of every replica
        ("decon_semantic@0.8", 1.33, deconSemantic08),
        // posexplode + 64-group map-combined agg — ~linear
        ("embedding_dim_stats", 1.0, LlmQueries.embeddingDimStats _),
        // r10: the flagship e2e got its real scale row — the
        // stopword-preserving fixture keeps the Gopher keep-set equal
        // to the raw corpus's (the r9 every-word suffix zeroed
        // stop_hits and made the row vacuous), so scrub, gate, LSH
        // dedup and the keep-stats all do full-size work
        ("corpus_curation_e2e", 1.33, curationE2e),
        // bigram-LM scoring: explode + two reference-slice count aggs
        // + two equi-joins + per-doc regroup — expect ~linear (the
        // bits filter forces the joins under count(), see the 100×
        // suite's note)
        ("text_lm_perplexity", 1.0, (s: SparkSession, dir: String) =>
          LlmQueries.textLmPerplexity(s, dir).filter(col("bits") >= 0L)),
        // + per-source tercile window and (source,bucket) rollup
        ("text_lm_buckets", 1.0, LlmQueries.textLmBuckets _),
        ("text_lm_buckets@dominant", 1.0, lmBucketsDominant),
        ("text_lm_perplexity@zipf", 1.0, lmZipf),
        ("lm_model_rows@zipf", 1.0, lmModelRowsZipf),
        ("lm_model_rows_unbounded@zipf", 1.0, lmModelRowsUnbounded),
        // the √n-centroid IVF regime for the kNN-graph family
        ("ann_knn_graph@sqrtn", 1.5, knnGraphSqrtN),
        ("ann_graph_components@sqrtn", 1.5, graphComponentsSqrtN),
        // the recall audit in its deployment regime: the query SAMPLE
        // stays fixed while the corpus grows (the oracle query's %64
        // sample grows with the corpus for gate coverage; an actual
        // fleet audits a pinned sample) — brute-force ground truth and
        // IVF probes are both ∝ corpus at fixed sample, expect ~linear
        ("ann_recall_audit@fixedq", 1.0, (s: SparkSession, dir: String) => {
          val sub = Tables.embeddings(s, dir)
            .filter(pmod(col("vec_id"), lit(8)) === 0)
          val q = sub.orderBy("vec_id").limit(32)
          val exact = graft.ops.Similarity.bruteForceTopK(
            sub, q, "vec_id", "embedding", k = 5)
            .select("query_id", "neighbor_id")
          val ivf = Seq(1, 4, 16).map { p =>
            graft.ops.Similarity.ivfTopK(sub, q, "vec_id", "embedding",
                nCells = 16, nProbe = p, k = 5,
                centroidOrder = Some(col("cell")))
              .select(lit(p.toLong).as("nprobe"), col("query_id"),
                col("neighbor_id"))
          }.reduce(_ unionByName _)
          ivf.join(exact, Seq("query_id", "neighbor_id"))
            .groupBy("nprobe")
            .agg(count(lit(1)).as("n_hits"))
        }),
        // CC over the @0.8 auto-granularity edge set (same regime
        // rationale as the cosine rows below — at the query's
        // exploratory 0.45 the TRUE pair set is quadratic)
        ("dedup_embedding_apply@0.8", 1.33, dedupEmbeddingApply08),
        // measured at DUP-GRADE threshold 0.8, not the query's exploratory
        // 0.45: at dim 64, cross-corpus cosine has σ = 1/√64 = 0.125, so a
        // 0.45 cutoff (3.6σ) admits ~1e-4 of the ~2e8 random cross-replica
        // pairs — the TRUE answer is quadratic in corpus size at that
        // threshold and no operator can beat its own output size. At 0.8
        // (6.4σ) the expected random-pair count is ~0 and output is linear
        // — the regime a 100 TB dedup actually runs in.
        // auto bucket granularity + recall-budget tables (the scale knob
        // the 43x pinned-planes measurement motivated)
        ("dedup_embedding_cosine@0.8", 1.33, (s: SparkSession, dir: String) =>
          graft.ops.Similarity.embeddingNearDups(
            Tables.embeddings(s, dir), "vec_id", "embedding",
            nPlanes = 0, nTables = 0, threshold = 0.8)))

    def time(fn: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = fn
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // the second BIG run of every op is profiled. max/p50 task ms is
    // the skew witness (31 idle cores hide one hot task here, a cluster
    // doesn't); shuffle-write MB the volume witness (local disk
    // "shuffles" at NVMe speed, a cluster pays the network)
    val profile = new Profile(spark.sparkContext)

    // optional 4th arg: comma-separated op-name filter, for re-measuring
    // one op after a methodology change without the full suite
    val selected =
      if (args.length > 3) {
        val keep = args(3).split(",").toSet
        // a typo'd op name must fail, not silently measure nothing and
        // emit a malformed zero-entry SCALEJSON that reads as "ran"
        val unknown = keep.diff(ops.map(_._1).toSet)
        require(unknown.isEmpty,
          s"unknown op name(s): ${unknown.mkString(", ")} — known: " +
            ops.map(_._1).mkString(", "))
        ops.filter(o => keep(o._1))
      } else ops

    // JVM/codegen warmup on the small scale, not timed. The CDC queries
    // also pre-build their (one-time, cached) txnlog fixture at BOTH
    // scales so the timed run measures the operator, not fixture I/O.
    selected.foreach { case (_, _, fn) => fn(spark, base).count() }
    // cdc_pipeline_e2e builds its own content-keyed ndjson envelope
    // fixture inside the query — pre-run it at BOTH scales so the
    // timed run measures the pipeline, not the fixture write
    val fixtureBacked = Set("cdc_gtid_frontier", "cdc_txn_batches",
      "q_sessionize", "cdc_pipeline_e2e")
    selected.filter(o => fixtureBacked(o._1)).foreach { case (_, _, fn) =>
      fn(spark, out).count()
    }

    // inter-run shuffle hygiene: each run's shuffle files are freed by
    // the ContextCleaner only after a driver GC notices the dropped
    // references — in a one-JVM full sweep the heavy 100× ops
    // otherwise ACCUMULATE tens of GB of dead shuffle spill and the
    // suite dies on disk even though every op passes alone (observed:
    // SPILL_OUT_OF_MEMORY / no-space at op 4 of the r11 full sweep).
    // A GC between runs is outside every timed region.
    // releaseAll first: finished barriers' blocks (localCheckpoint —
    // DRIVER-heap-resident in local mode, the r12 sweep's 96 GB
    // floor) drop deterministically instead of waiting for a GC to
    // let the ContextCleaner notice them; each run rebuilds its own
    // barriers from scratch, so nothing live spans this seam.
    def settle(): Unit = {
      graft.ops.Materialize.releaseAll(spark)
      System.gc()
      Thread.sleep(1000)
    }

    val lines = selected.map { case (name, exponent, fn) =>
      settle()
      try {
        val (tBase, nBase) = time(fn(spark, base).count())
        // best-of-2 at the big scale, like Bench's consecutive pair: a
        // single big run carried the first run's JIT and cache misses
        // (30–60% above its best), too wide for an A/B across commits.
        // The second run is the profiled one.
        val (tBig1, _) = time(fn(spark, out).count())
        settle()
        profile.drain()
        profile.reset()
        val (tBig2, nBig) = time(fn(spark, out).count())
        profile.drain()
        val tBig = math.min(tBig1, tBig2)
        val (p50, tMax) = profile.taskMs
        val shufMb = profile.shuffleWriteMb
        val ratio = tBig / tBase
        val b = bound(exponent)
        val ok = ratio <= b
        println(f"$name%-28s sf0.1: $tBase%7.2f s ($nBase rows)   " +
          f"x$reps: $tBig%7.2f s ($nBig rows)   ratio ${ratio}%.1fx " +
          f"(bound ${b}%.0fx ${if (ok) "OK" else "EXCEEDED"})   " +
          f"task p50/max ${p50}/${tMax} ms   shuffle ${shufMb}%.1f MB")
        println(profile.line(name))
        f"""  "$name": {"base_sec": $tBase%.2f, "base_rows": $nBase, "big_sec": $tBig%.2f, "big_rows": $nBig, "ratio": $ratio%.2f, "bound": $b%.1f, "ok": $ok, "task_p50_ms": $p50, "task_max_ms": $tMax, "shuffle_mb": $shufMb%.1f}"""
      } catch {
        // one op blowing the single-box spill wall (the vector family's
        // documented 100× residual fills this host's disk by itself)
        // must MARK its row and let the rest of the sweep report — an
        // aborted sweep hides every later row behind the known wall
        case e: Throwable =>
          println(s"$name FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
          s"""  "$name": {"failed": true}"""
      }
    }
    println(s"""SCALEJSON {\n  "reps": $reps,\n""" + lines.mkString(",\n") + "\n}")
    spark.stop()
  }
}
