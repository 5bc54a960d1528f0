package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus, dot products via zip_with/aggregate (codegen'd
  * higher-order functions, no UDFs).
  *
  * Scale path: random-hyperplane LSH — bucket vectors by sign bits
  * against deterministic pseudo-random hyperplanes, then search only
  * within buckets. At 100 TB the broadcast-everything brute force dies;
  * the bucket join shuffles each vector once to its bucket.
  */
object Similarity {
  private val log = org.slf4j.LoggerFactory.getLogger(Similarity.getClass)

  /** Elementwise double-precision dot product of two float-array cols. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))


  /** Brute-force top-k: every (query, corpus) cosine, then a per-query
    * window top-k. The query side must be small — it is broadcast, so
    * the corpus is scanned exactly once with no shuffle of the vectors.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .crossJoin(q)
      .withColumn("cos_sim", call_function("graft_cosine", col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** (table_id, bucket) rows for a vector: `nTables` independent
    * sign-bit LSH tables of `nPlanes` deterministic hyperplanes each —
    * the codegen'd `graft_lsh_buckets` expression (one pass, no
    * interpreted higher-order folds), exploded to one row per table.
    */
  def lshTableBuckets(vec: Column, nTables: Int, nPlanes: Int): Column =
    call_function("graft_lsh_buckets", vec, lit(nTables), lit(nPlanes))

  /** Multi-table LSH ANN: a query meets a corpus vector iff they share
    * some table's bucket, so per-pair miss probability is
    * (1 − agreement^nPlanes)^nTables — tables multiply recall while
    * nPlanes bounds per-table bucket occupancy. The bucket join is the
    * only pair source (the corpus shuffles once on (table, bucket);
    * queries are broadcast), and the candidate dedup is a groupBy on
    * (query, neighbor) — never an O(|Q|·|C|) scan.
    *
    * Parameter regime is data-dependent: high-similarity targets
    * (near-dup retrieval, cos ≥ 0.9) want deep tables (nPlanes 8–16,
    * few tables); the driver's synthetic corpus is isotropic random
    * (top-5 neighbors sit at cos 0.25–0.5), so its query config uses
    * shallow tables (nPlanes=2) and many of them — recall ≥ 1−1e-5 by
    * the formula above, verified against the brute-force oracle.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nPlanes: Int, nTables: Int, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val cb = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      posexplode(lshTableBuckets(col(vecCol), nTables, nPlanes))
        .as(Seq("table_id", "bucket")))
    val qb = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      posexplode(lshTableBuckets(col(vecCol), nTables, nPlanes))
        .as(Seq("table_id", "bucket"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cb.join(qb, Seq("table_id", "bucket"))
      .withColumn("cos_sim", call_function("graft_cosine", col("qv"), col("cv")))
      // a pair colliding in several tables appears once: cos_sim is a
      // pure function of the pair, so first() under groupBy is exact
      .groupBy("query_id", "neighbor_id")
      .agg(first(col("cos_sim")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
  }

  /** IVF-style ANN with a BOUNDED coarse quantizer: the `nCells`
    * hash-smallest corpus vectors are the centroids — a deterministic
    * sample (no RNG, stable across partitioning) whose size is fixed
    * regardless of corpus size. An unbounded centroid set (e.g. every
    * stride-th vector) makes assignment O(n²/stride) work and an
    * ever-growing broadcast at 100×; here assignment is a linear
    * n × nCells scan against a constant-size broadcast. Each corpus
    * vector lands in its nearest cell (the inverted file, one shuffle
    * on cell id); a query probes only its `nProbe` nearest cells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nCells: Int, nProbe: Int, k: Int,
      // hash-smallest ids by default (an unbiased pseudo-random centroid
      // draw); the recall audit passes `Some(col("cell"))` so a SQL
      // oracle with no xxhash64 can reproduce the exact centroid set
      centroidOrder: Option[Column] = None): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // TakeOrdered: each partition contributes its local order-smallest
    // nCells rows, the driver merges — never a global sort.
    val cents = broadcast(
      corpus.select(col(idCol).as("cell"), col(vecCol).as("centroid"))
        .orderBy(centroidOrder.getOrElse(xxhash64(col("cell"))), col("cell"))
        .limit(nCells))
    def nearestCells(df: DataFrame, n: Int, outPrefix: String): DataFrame = {
      val w = Window.partitionBy(outPrefix + "_id")
        .orderBy(col("cent_sim").desc, col("cell"))
      df.select(col(idCol).as(outPrefix + "_id"), col(vecCol).as(outPrefix + "_v"))
        .crossJoin(cents)
        .withColumn("cent_sim", call_function("graft_cosine", col(outPrefix + "_v"), col("centroid")))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= n)
        .drop("centroid", "cent_sim", "crank")
    }
    // inverted file: 1 cell per vector. Rank-1 needs no window/sort —
    // max_by aggregates map-side (partial agg), so the assignment stage
    // is a shuffle of one (cell, vector) row per corpus id, never a
    // per-partition sort of the n × nCells cross product. Tie-break
    // matches the probe window (max sim, then smallest cell id).
    val assigned = corpus
      .select(col(idCol).as("c_id"), col(vecCol).as("c_v"))
      .crossJoin(cents)
      .withColumn("cent_sim",
        call_function("graft_cosine", col("c_v"), col("centroid")))
      .groupBy("c_id")
      .agg(
        max_by(col("cell"), struct(col("cent_sim"), negate(col("cell")))).as("cell"),
        first(col("c_v")).as("c_v")) // c_v is constant within the group
    val probes = nearestCells(queries, nProbe, "q")
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id"))
    probes.join(assigned, "cell")
      .withColumn("cos_sim", call_function("graft_cosine", col("q_v"), col("c_v")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id").as("query_id"), col("rank"),
        col("c_id").as("neighbor_id"), col("cos_sim"))
  }

  /** IVF with SCALAR-QUANTIZED cells (faiss's IVF-SQ8 shape): the
    * inverted file stores per-vector-affine int8 codes — 4× smaller
    * than float32, the index that still fits in executor memory when
    * the float corpus doesn't. Probe order: (1) coarse-quantize the
    * query to its `nProbe` nearest cells (same bounded centroid
    * broadcast as [[ivfTopK]]); (2) score every cell member QUANTIZED
    * — `graft_cosine_q` dequantizes inside one codegen loop, the float
    * corpus vector is never touched; (3) keep the top `rerank`
    * candidates per query; (4) re-score ONLY those against the exact
    * float vectors (an id join back to the raw store — at scale, the
    * k×rerank row fetch a serving tier does) and emit the exact top-k.
    * `rerank >= k` absorbs quantized-ordering jitter: a true neighbor
    * may rank below an impostor by quantized score, but never below
    * `rerank` when the quantization error is small against the
    * neighbor-score gaps (the audit column `recon_err` =
    * |exact − quantized| cosine is the per-row evidence).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nCells: Int, nProbe: Int, k: Int,
      rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    GraftFunctions.register(corpus.sparkSession)
    val cents = broadcast(
      corpus.select(col(idCol).as("cell"), col(vecCol).as("centroid"))
        .orderBy(xxhash64(col("cell")), col("cell")).limit(nCells))
    // per-vector affine int8: the SAME scheme as embedding_quantize_int8
    // (lo/scale doubles, levels 0..255), stored offset -128 as tinyint
    val quantized = corpus
      .select(col(idCol).as("c_id"), col(vecCol).as("c_v"))
      .withColumn("lo", expr("array_min(transform(c_v, x -> cast(x as double)))"))
      .withColumn("hi", expr("array_max(transform(c_v, x -> cast(x as double)))"))
      .withColumn("scale", (col("hi") - col("lo")) / lit(255.0d))
      .withColumn("codes", expr("CASE WHEN hi = lo " +
        "THEN transform(c_v, x -> CAST(-128 AS TINYINT)) " +
        "ELSE transform(c_v, x -> CAST(cast(round((cast(x as double) - lo) " +
        "/ scale) as bigint) - 128 AS TINYINT)) END"))
      .drop("hi")
    // cell assignment at build time uses the full-precision vector
    // (faiss does the same); the float vector is then DROPPED — cells
    // carry only (cell, c_id, codes, lo, scale)
    val cells = quantized
      .crossJoin(cents)
      .withColumn("cent_sim",
        call_function("graft_cosine", col("c_v"), col("centroid")))
      .groupBy("c_id")
      .agg(
        max_by(col("cell"), struct(col("cent_sim"), negate(col("cell")))).as("cell"),
        first(col("codes")).as("codes"),
        first(col("lo")).as("lo"),
        first(col("scale")).as("scale"))
    val wq = Window.partitionBy("q_id")
      .orderBy(col("cent_sim").desc, col("cell"))
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
      .crossJoin(cents)
      .withColumn("cent_sim",
        call_function("graft_cosine", col("q_v"), col("centroid")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nProbe)
      .drop("centroid", "cent_sim", "crank")
    val wApprox = Window.partitionBy("q_id")
      .orderBy(col("q_cos").desc, col("c_id"))
    val candidates = probes.join(cells, "cell")
      .withColumn("q_cos", call_function("graft_cosine_q",
        col("q_v"), col("codes"), col("lo"), col("scale")))
      .withColumn("qrank", row_number().over(wApprox))
      .filter(col("qrank") <= rerank)
      .select("q_id", "q_v", "c_id", "q_cos")
    val wExact = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("c_id"))
    candidates
      .join(corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_exact")), "c_id")
      .withColumn("cos_sim",
        call_function("graft_cosine", col("q_v"), col("c_exact")))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id").as("query_id"), col("rank"),
        col("c_id").as("neighbor_id"), col("cos_sim"),
        col("q_cos").as("q_cos_sim"),
        abs(col("cos_sim") - col("q_cos")).as("recon_err"))
  }

  /** Embedding-cosine near-duplicate pairs: multi-table LSH buckets the
    * vectors, pairs form only within a shared (table, bucket) — never
    * O(n²) — and survive iff cosine ≥ threshold. Returns the verified
    * pair list (id_a < id_b), the dedup verdict a training pipeline
    * consumes, and a shape an exact all-pairs oracle can check at test
    * scale: with enough tables the candidate stage provably covers every
    * above-threshold pair (miss = (1−agree^nPlanes)^nTables).
    *
    * SCALE KNOB — pass `nPlanes <= 0` for auto bucket granularity:
    * planes = ceil(log2(nDistinct/64)) (min 4, cap 24), holding mean
    * bucket size ~64 as the corpus grows. Pinned planes at a growing
    * corpus are quadratic: in-bucket candidate pairs scale as
    * (n/2^planes)² per bucket — the 10× scale smoke measured 43× wall
    * time at 10× data with planes pinned at 4, ~linear with auto. Costs
    * one control-plane count() of the collapsed distinct vectors. Pass
    * `nTables <= 0` to size tables from the recall budget too:
    * tables = ceil(ln(1e6) / agree^planes) with
    * agree = 1 − acos(threshold)/π, i.e. per-pair candidate-miss
    * ≤ 1e-6 AT the threshold (pairs far above it do better). Pinned
    * small corpora (the oracle-checked regime) are unaffected: auto
    * never lowers planes below 4.
    */
  /** LSH granularity sizing of the one vector index build
    * ([[buildEmbeddingIndex]]): explicit nPlanes/nTables pass through;
    * auto mode (either <= 0) derives planes from the corpus size (bucket
    * occupancy) and tables from a per-pair candidate-miss budget of
    * 1e-6 AT the threshold, tables hard-capped at 512 — tables grow as
    * 1/agree^planes, so at low thresholds an uncapped budget explodes
    * exponentially with the plane count. When the cap binds, the
    * recall budget is NOT met — a warning says so (auto mode is tuned
    * for dup-grade thresholds ≥ ~0.7) instead of silently degrading.
    * `countN` runs at most once (one cheap control-plane job over the
    * collapsed reps, never the full corpus).
    */
  /** Per-pair candidate-miss probability of a (planes, tables)
    * sign-LSH ensemble at `threshold`: (1 − agree^planes)^tables with
    * agree = 1 − acos(cos)/π. The recall currency both the build-time
    * budget and the probe-time mismatch warning are priced in.
    */
  private[ops] def pairMissProb(planes: Int, tables: Int,
      threshold: Double): Double = {
    val agree = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
    math.pow(1.0 - math.pow(agree, planes), tables)
  }

  def lshGranularity(nPlanes: Int, nTables: Int, threshold: Double,
      countN: () => Long): (Int, Int) = {
    val agree = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
    val maxTables = 512
    val planes =
      if (nPlanes > 0) nPlanes
      else {
        val n = countN()
        val byBucket = math.min(24, math.max(4,
          math.ceil(math.log(math.max(1.0, n / 64.0)) / math.log(2.0)).toInt))
        val byBudget = math.max(4,
          (math.log(math.log(1e6) / maxTables) / math.log(agree)).toInt)
        math.min(byBucket, byBudget)
      }
    val tables =
      if (nTables > 0) nTables
      else math.min(maxTables,
        math.max(8, math.ceil(math.log(1e6) / math.pow(agree, planes)).toInt))
    if (nPlanes <= 0 || nTables <= 0) {
      val missProb = pairMissProb(planes, tables, threshold)
      if (missProb > 1e-6)
        Similarity.log.warn(f"LSH auto-sizing: planes=$planes " +
          f"tables=$tables (cap $maxTables) gives per-pair candidate-miss " +
          f"$missProb%.2e AT threshold $threshold%.2f — above the 1e-6 budget. " +
          "Auto mode is tuned for dup-grade thresholds (>= ~0.7); for " +
          "exploratory thresholds set nPlanes/nTables explicitly or accept " +
          "the reduced recall.")
    }
    (planes, tables)
  }

  /** Shared tail of [[embeddingNearDups]] and the incremental probe's
    * new-vs-new leg: bucket self-join candidates (ids only — a pair
    * colliding in many tables must not drag its vectors through the
    * join nTables times), optionally anchor-capped per cell
    * (`maxBucketSize`, the residual hot-bucket valve for
    * near-identical-but-not-byte-identical clusters — see
    * [[Buckets.anchors]]), each distinct rep pair scored exactly once
    * after re-attaching vectors, then identity-member expansion:
    * cross-group pairs inherit the rep pair's cosine (identical
    * arrays), intra-identity pairs join the ONE per-rep self-cosine
    * (B²/2 pair-level evaluations for a B-sized identical cluster
    * otherwise). Inputs: buckets(rep_id, table_id, bucket),
    * repVecs(rep_id, vec), members(rep_id, __id).
    */
  private def selfPairsExpanded(buckets: DataFrame, repVecs: DataFrame,
      members: DataFrame, threshold: Double, maxBucketSize: Int,
      verifyChunks: Int = 1): DataFrame = {
    def scoredOf(bk: DataFrame): DataFrame = {
      val aSide = bk.select(col("table_id"), col("bucket"),
        col("rep_id").as("id_a"))
      val pairs =
        if (maxBucketSize == Int.MaxValue)
          aSide
            .join(bk.select(col("table_id"), col("bucket"),
              col("rep_id").as("id_b")), Seq("table_id", "bucket"))
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b").distinct()
        else {
          val anchors = Buckets.anchors(bk, Seq("table_id", "bucket"),
              "rep_id", maxBucketSize)
            .select(col("table_id"), col("bucket"), col("rep_id").as("id_b"))
          aSide.join(anchors, Seq("table_id", "bucket"))
            .filter(col("id_a") =!= col("id_b"))
            .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"))
            .distinct()
        }
      // vector fetch: the rep table is keyed and far smaller than the
      // exploded candidate stream — AQE broadcasts it when it fits
      pairs
        .join(repVecs.select(col("rep_id").as("id_a"), col("vec").as("__va")), "id_a")
        .join(repVecs.select(col("rep_id").as("id_b"), col("vec").as("__vb")), "id_b")
        .withColumn("cos_sim", call_function("graft_cosine", col("__va"), col("__vb")))
        .filter(col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    }
    val repPairs = chunkedByTable(buckets, verifyChunks)(scoredOf)
    val cross = repPairs
      .join(members.select(col("rep_id").as("id_a"), col("__id").as("__ma")), "id_a")
      .join(members.select(col("rep_id").as("id_b"), col("__id").as("__mb")), "id_b")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("cos_sim"))
    val selfSim = repVecs.select(col("rep_id"),
        call_function("graft_cosine", col("vec"), col("vec")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    val mm = members.select(col("rep_id"), col("__id"))
    val intra = mm.select(col("rep_id"), col("__id").as("id_a"))
      .join(mm.select(col("rep_id"), col("__id").as("id_b")), "rep_id")
      .filter(col("id_a") < col("id_b"))
      .join(selfSim, "rep_id")
      .select("id_a", "id_b", "cos_sim")
    cross.unionByName(intra)
  }

  /** Bounded-spill candidate verification: run `scoredOf` over the
    * whole bucket frame in ONE plan (`chunks <= 1`, the default — the
    * exactness/oracle path, plan unchanged), or in `chunks` SEQUENTIAL
    * jobs, each restricted to `table_id % chunks == c` and eagerly
    * materialized (`localCheckpoint`). Sequential-and-materialized is
    * the point: a lazy union would execute every chunk's candidate
    * join inside one job and the shuffle files would coexist — the
    * exact all-candidates spill this knob exists to avoid. Chunked,
    * peak shuffle disk is ~1/chunks of the whole (each chunk's files
    * become unreferenced after its job and the ContextCleaner frees
    * them at the next GC, nudged explicitly here). A pair colliding in
    * several chunks is verified once per chunk — the deterministic
    * cosine makes the rows bit-identical, so the post-threshold
    * `distinct()` restores exactly the single-plan output; the
    * recompute is bounded (true dups hit many tables BY DESIGN, but
    * they are the linear part of the volume — the random-collision
    * bulk rarely repeats across tables).
    */
  private def chunkedByTable(buckets: DataFrame, chunks: Int)(
      scoredOf: DataFrame => DataFrame): DataFrame =
    chunkedBy(chunks)(filter => scoredOf(filter(buckets)))

  /** The sequential bounded-spill chunk loop itself, shared by the
    * one-frame (self-pairs) and two-frame (incremental cross) verify
    * paths: the body receives the chunk's table_id FILTER to apply to
    * every bucket frame it joins, each chunk materializes
    * (localCheckpoint) so its shuffle files free before the next, and
    * the post-threshold distinct restores the single-plan output.
    */
  private def chunkedBy(chunks: Int)(
      body: (DataFrame => DataFrame) => DataFrame): DataFrame =
    if (chunks <= 1) body(identity)
    else (0 until chunks).map { c =>
      val part = Materialize.barrier(
        body(_.filter(pmod(col("table_id"), lit(chunks)) === c)))
      System.gc() // free the finished chunk's shuffle files (see above)
      part
    }.reduce(_ unionByName _).distinct()

  /** Self near-dup pairs: [[buildEmbeddingIndex]]'s three pinned
    * frames (the exact-identity collapse's members, the representative
    * vectors and their bucket frame) through the shared candidate →
    * score-once → member-expansion tail, [[selfPairsExpanded]].
    * `verifyChunks` > 1 runs the candidate verify in that many
    * sequential per-table-slice jobs (the [[chunkedBy]] bounded-spill
    * loop the incremental probe already uses) — the single-box valve
    * for corpus-scale self-dedup whose all-candidates join would
    * otherwise spill past local disk (the r15 composed-apply 100× row
    * hit exactly that). Output is identical (post-threshold distinct
    * restores the single-plan pair set).
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, nTables: Int, threshold: Double,
      maxBucketSize: Int = Int.MaxValue, verifyChunks: Int = 1): DataFrame = {
    val ix = buildEmbeddingIndex(df, idCol, vecCol, nPlanes, nTables, threshold)
    selfPairsExpanded(ix.buckets, ix.repVecs, ix.members,
      threshold, maxBucketSize, verifyChunks)
  }

  /** k-NN join within groups (e.g. per label): for every vector, its k
    * nearest same-group neighbors. The group key bounds the join — at
    * scale each group co-locates via one shuffle on the key.
    *
    * The dense in-group self-join is O(g²) per group — exact, and fine
    * while groups are bounded (class labels, language buckets). A
    * million-row group would go quadratic, so `maxGroupSize` switches
    * groups ABOVE it to an in-group LSH path: candidates come from
    * shared (table, bucket) cells, with the neighbor side of each cell
    * capped to its `maxGroupSize` hash-smallest members — per-row
    * candidates ≤ nTables × maxGroupSize, linear in group size. The
    * LSH path is approximate top-k (recall from the usual
    * 1 − (1−agree^nPlanes)^nTables bound); the default keeps every
    * group exact.
    */
  def knnJoinWithinGroups(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, k: Int, maxGroupSize: Int = Int.MaxValue,
      nPlanes: Int = 4, nTables: Int = 8): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val w = Window.partitionBy("id_a").orderBy(col("cos_sim").desc, col("id_b"))
    def topK(scored: DataFrame): DataFrame = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("g").as("label"), col("id_a"), col("rank"), col("id_b"), col("cos_sim"))
    if (maxGroupSize == Int.MaxValue) {
      val a = df.select(col(groupCol).as("g"), col(idCol).as("id_a"),
        col(vecCol).as("va"))
      val b = df.select(col(groupCol).as("g"), col(idCol).as("id_b"),
        col(vecCol).as("vb"))
      topK(a.join(b, "g")
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("cos_sim", call_function("graft_cosine", col("va"), col("vb"))))
    } else {
      val sizes = df.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("__gsz"))
      val tagged = df.select(col(groupCol).as("g"), col(idCol).as("id"),
        col(vecCol).as("v")).join(sizes, "g")
      val dense = tagged.filter(col("__gsz") <= maxGroupSize)
      val denseOut = dense.select(col("g"), col("id").as("id_a"), col("v").as("va"))
        .join(dense.select(col("g"), col("id").as("id_b"), col("v").as("vb")), "g")
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("cos_sim", call_function("graft_cosine", col("va"), col("vb")))
      // hot groups: in-group LSH candidates, anchor-capped per cell
      val sparse = tagged.filter(col("__gsz") > maxGroupSize)
      val buckets = sparse.select(col("g"), col("id"), col("v"),
        posexplode(lshTableBuckets(col("v"), nTables, nPlanes))
          .as(Seq("table_id", "bucket")))
      val anchors = Buckets.anchors(buckets, Seq("g", "table_id", "bucket"),
          "id", maxGroupSize)
        .select(col("g"), col("table_id"), col("bucket"), col("id").as("id_b"))
      // ids only through the candidate dedup; vectors re-attach once
      val cand = buckets.select(col("g"), col("table_id"), col("bucket"),
          col("id").as("id_a"))
        .join(anchors, Seq("g", "table_id", "bucket"))
        .filter(col("id_a") =!= col("id_b"))
        .select("g", "id_a", "id_b").distinct()
      val vecs = sparse.select(col("id"), col("v"))
      val sparseOut = cand
        .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
        .withColumn("cos_sim", call_function("graft_cosine", col("va"), col("vb")))
      topK(denseOut.select("g", "id_a", "id_b", "cos_sim")
        .unionByName(sparseOut.select("g", "id_a", "id_b", "cos_sim")))
    }
  }

  /** Persistable VECTOR dedup index — the embedding analogue of
    * [[Dedup.buildDedupIndex]]: rep bucket frame (every LSH table's
    * bucket per distinct vector), rep vectors, and exact-identity
    * membership. All three are plain DataFrames a nightly job writes
    * to parquet (bucket frame bucketed by (table_id, bucket) at scale)
    * and reloads; the corpus is never re-hashed for a new batch. As
    * [[buildEmbeddingIndex]] returns them, all three are pinned.
    */
  final case class EmbeddingIndex(buckets: DataFrame, repVecs: DataFrame,
      members: DataFrame, nPlanes: Int, nTables: Int)

  /** The one vector index build, behind [[embeddingNearDups]], the
    * incremental probe's batch side and the nightly index. Three pins:
    *  - `members(__id, rep_id)`: the exact-identity collapse, Dedup's
    *    one collapse ([[Dedup.collapseExact]]'s window) keyed on the
    *    vector value itself — arrays are partition keys, so no hash
    *    identity and no collision risk. Identical vectors share EVERY
    *    bucket, so collapsing to one rep keeps a B-identical cluster
    *    from putting B²/2 candidates in each table; identical-member
    *    pairs are reconstructed exactly afterwards (the cosine of equal
    *    arrays is the same float the uncollapsed path would compute);
    *  - `repVecs(rep_id, vec)`: the representatives' rows, read by the
    *    granularity count, the bucketing and every vector fetch;
    *  - `buckets(rep_id, table_id, bucket)`: read by both sides of a
    *    candidate self-join, whose alias-renamed sides defeat exchange
    *    reuse — unpinned, the tables × planes × d hash projection (the
    *    operator's dominant CPU) ran once per side.
    *
    * `nPlanes`/`nTables` <= 0 → auto granularity sized to THIS corpus
    * and `threshold` (see [[lshGranularity]]) — the scale default:
    * pinned planes keep bucket occupancy (and candidate count) growing
    * with the corpus, the r6 quadratic, which the 10× smoke re-caught
    * in this op's first pinned version (145× wall at 10× data).
    * Probes inherit the index's granularity, whatever chose it.
    */
  def buildEmbeddingIndex(df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, nTables: Int, threshold: Double = 0.8): EmbeddingIndex = {
    GraftFunctions.register(df.sparkSession)
    val (members, reps) = Dedup.collapseOn(
      df.select(col(idCol).as("__id"), col(vecCol).as("vec")), "__id", "vec")
    val repVecs = Materialize.barrier(reps.select(col("__id").as("rep_id"), col("vec")))
    val (planes, tables) =
      lshGranularity(nPlanes, nTables, threshold, () => repVecs.count())
    // explicit fan-out before the bucketing (r15 stage audit): the rep
    // frame is SMALL IN BYTES (n_reps × d floats), so it lands in ~1
    // partition — and then the CPU-DENSE hash projection (tables ×
    // planes × d multiply-adds per vector) runs serially: one 3.5 s
    // task owned 68% of dedup_embedding_cosine's gated wall at sf0.1.
    // A fixed-width round-robin exchange (explicit numPartitions
    // disables AQE coalescing) spreads the hashing for ~1 MB of shuffle.
    val fanOut = df.sparkSession.sparkContext.defaultParallelism
    val buckets = Materialize.barrier(repVecs.repartition(fanOut).select(col("rep_id"),
      posexplode(lshTableBuckets(col("vec"), tables, planes))
        .as(Seq("table_id", "bucket"))))
    EmbeddingIndex(buckets, repVecs, members, planes, tables)
  }

  /** Incremental embedding near-dup pass: probe a prebuilt
    * [[EmbeddingIndex]] with a new batch — O(batch) work against the
    * corpus, like [[Dedup.incrementalDupPairs]] for text. New-vs-corpus
    * candidates come from the (table, bucket) join of the batch's rep
    * buckets against the INDEX's (the corpus side is never re-hashed),
    * each distinct rep pair is scored exactly once, and identity
    * members expand afterwards (cosine of byte-identical arrays is the
    * rep's own score). New-vs-new runs the [[embeddingNearDups]] tail
    * on the batch's own pinned index. Recall is the
    * same (1 − agree^planes)^tables bound per pair — the index stores
    * every table's buckets, so a probe meets exactly the candidates a
    * joint batch run would.
    */
  def incrementalVecDupPairs(batch: DataFrame, index: EmbeddingIndex,
      idCol: String, vecCol: String, threshold: Double,
      maxBucketSize: Int = Int.MaxValue, verifyChunks: Int = 1): DataFrame =
    incrementalVecCore(batch, index, idCol, vecCol, threshold,
      maxBucketSize, verifyChunks)._1

  /** Shared probe core: (pairs touching the batch, the batch's own
    * index artifacts) — [[probeAndExtendVec]] reuses the artifacts so
    * the streaming loop never hashes a batch twice (the contract the
    * text sibling [[Dedup]] `incrementalCore` documents). The batch
    * index is [[buildEmbeddingIndex]]'s, pinned the same way for both
    * callers, so the pair legs (and the extended index's union arm)
    * read its stored frames.
    * `maxBucketSize` caps the new-vs-new leg's candidate cells (the
    * cross leg's cells are already bounded by the batch side — only
    * batch reps explode against them).
    */
  private def incrementalVecCore(batch: DataFrame, index: EmbeddingIndex,
      idCol: String, vecCol: String, threshold: Double,
      maxBucketSize: Int = Int.MaxValue,
      verifyChunks: Int = 1): (DataFrame, EmbeddingIndex) = {
    // the index's granularity was sized (or pinned) for SOME threshold;
    // probing materially below it silently under-recalls — the budget
    // check lshGranularity ran at build time never saw this threshold.
    // Gate at 1e-4 (not the 1e-6 build budget): deliberate exactness
    // configs sized a few× past budget stay quiet, a regime mismatch
    // (dup-grade index probed at an exploratory threshold) does not.
    val miss = pairMissProb(index.nPlanes, index.nTables, threshold)
    if (miss > 1e-4)
      log.warn(f"embedding index probe at threshold $threshold%.2f against " +
        f"planes=${index.nPlanes} tables=${index.nTables} gives per-pair " +
        f"candidate-miss $miss%.2e — the index granularity was sized for a " +
        "higher threshold; rebuild with auto granularity at THIS threshold " +
        "or accept the reduced recall.")
    val b = buildEmbeddingIndex(batch, idCol, vecCol, index.nPlanes, index.nTables)
    // the cross verify is the 100× spill wall (corpus×batch candidate
    // volume all in flight at once) — chunk it when asked; the INDEX
    // side carries the corpus-scale bucket frame, so both sides filter
    // on the same table_id slice and the per-chunk candidate join is
    // ~1/chunks of the whole
    def crossChunk(chunkFilter: DataFrame => DataFrame): DataFrame = {
      val cand = chunkFilter(b.buckets).select(col("table_id"), col("bucket"),
          col("rep_id").as("rep_b"))
        .join(chunkFilter(index.buckets).select(col("table_id"), col("bucket"),
          col("rep_id").as("rep_a")), Seq("table_id", "bucket"))
        .select("rep_a", "rep_b").distinct()
      cand
        .join(index.repVecs.select(col("rep_id").as("rep_a"), col("vec").as("__va")), "rep_a")
        .join(b.repVecs.select(col("rep_id").as("rep_b"), col("vec").as("__vb")), "rep_b")
        .withColumn("cos_sim", call_function("graft_cosine", col("__va"), col("__vb")))
        .filter(col("cos_sim") >= threshold)
        .select("rep_a", "rep_b", "cos_sim")
    }
    val scored = chunkedBy(verifyChunks)(crossChunk)
    val cross = scored
      .join(index.members.select(col("rep_id").as("rep_a"), col("__id").as("__ca")), "rep_a")
      .join(b.members.select(col("rep_id").as("rep_b"), col("__id").as("__cb")), "rep_b")
      .select(least(col("__ca"), col("__cb")).as("id_a"),
        greatest(col("__ca"), col("__cb")).as("id_b"), col("cos_sim"))
    // new-vs-new from the SAME artifacts: embeddingNearDups' tail
    // (candidates → score once → member expansion) over the batch's
    // frames alone
    val within = selfPairsExpanded(b.buckets, b.repVecs, b.members,
      threshold, maxBucketSize, verifyChunks)
    // cross leg is corpus×batch, `within` batch×batch — disjoint
    (cross.unionByName(within), b)
  }

  /** The streaming-ingest step for vectors: probe the index with a
    * batch AND fold the batch in, hashing the batch ONCE for both —
    * the vector analogue of [[Dedup.probeAndExtend]]. Returns (pairs
    * touching the batch, extended index). Each pair surfaces exactly
    * once — when its later member arrives — so the union of per-step
    * outputs equals one joint pass (spec-proven). CONTRACT: ids are
    * disjoint between `batch` and the index.
    */
  def probeAndExtendVec(index: EmbeddingIndex, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      maxBucketSize: Int = Int.MaxValue): (DataFrame, EmbeddingIndex) = {
    val (pairs, b) = incrementalVecCore(batch, index, idCol, vecCol,
      threshold, maxBucketSize)
    (pairs, EmbeddingIndex(index.buckets.unionByName(b.buckets),
      index.repVecs.unionByName(b.repVecs),
      index.members.unionByName(b.members), index.nPlanes, index.nTables))
  }

  private val vecGenDirs = Seq("buckets", "repVecs", "members", "meta")

  /** The four parquet jobs of one vector-index generation: three
    * frames plus a one-row meta frame carrying the GRANULARITY — a
    * probe hashed at different planes/tables than the index would join
    * essentially nothing and silently return ~0 pairs, so the
    * parameters travel with the data, never in the caller's head.
    */
  /** Ordered generation frame list — extras BEFORE every check dir
    * (the commit-window invariant; see compactEmbeddingIndex), exposed
    * so the spec pins the order.
    */
  private[graft] def compactVecFrames(ix: EmbeddingIndex,
      extraFrames: Seq[(String, DataFrame)]): Seq[(String, DataFrame)] =
    extraFrames ++ vecFrames(ix)

  private def vecFrames(ix: EmbeddingIndex): Seq[(String, DataFrame)] = {
    val spark = ix.buckets.sparkSession
    import spark.implicits._
    Seq(
      "buckets" -> ix.buckets.repartition(col("table_id"), col("bucket")),
      "repVecs" -> ix.repVecs,
      "members" -> ix.members,
      "meta" -> Seq((ix.nPlanes, ix.nTables)).toDF("n_planes", "n_tables")
        .coalesce(1))
  }

  /** Persist an [[EmbeddingIndex]] as the next generation `gen=<k>`
    * under `path` — [[Dedup.writeGen]]'s torn-write contract (four
    * independent parquet jobs are not atomic together; commit sentinel
    * written LAST).
    */
  def saveEmbeddingIndex(ix: EmbeddingIndex, path: String): Unit =
    Dedup.writeGen(path, vecFrames(ix))

  /** Load the newest COMMITTED generation under `path` — the
    * nightly/restart resume point. A torn generation (crash between
    * the frame writes and the sentinel) is skipped, falling back to
    * the previous committed one.
    */
  def loadEmbeddingIndex(spark: SparkSession, path: String): EmbeddingIndex =
    loadEmbeddingIndexAt(spark,
      Dedup.newestCommittedGen(spark, path, vecGenDirs, "embedding index"))

  private def loadEmbeddingIndexAt(spark: SparkSession,
      base: String): EmbeddingIndex = {
    val meta = spark.read.parquet(s"$base/meta").collect()(0)
    EmbeddingIndex(
      spark.read.parquet(s"$base/buckets"),
      spark.read.parquet(s"$base/repVecs"),
      spark.read.parquet(s"$base/members"),
      meta.getInt(meta.fieldIndex("n_planes")),
      meta.getInt(meta.fieldIndex("n_tables")))
  }

  /** Compact an (extended) index to parquet and reload it as fresh
    * scans: the streaming loop's per-batch `unionByName` grows the
    * probe plan by one arm per folded batch, and after months of
    * micro-batches the DRIVER becomes the bottleneck. Writes the next
    * generation, GCs every older one except the newest committed
    * ([[Dedup.writeGenAndGc]] — compaction streams the OLD
    * generation's files, so an in-place overwrite would delete its own
    * input), and reloads.
    */
  def compactEmbeddingIndex(ix: EmbeddingIndex, path: String,
      extraFrames: Seq[(String, DataFrame)] = Seq.empty): EmbeddingIndex = {
    // checkDirs pinned to the ORIGINAL four frame dirs so the
    // sentinel-less completeness fallback ignores the streaming
    // loop's optional progress/last_pairs frames (the text index's
    // compactIndex precedent). extraFrames write FIRST: the fallback
    // accepts a generation once all four index dirs carry _SUCCESS,
    // so the progress marker must already be on disk by then — the
    // old frames-then-extras order let a crash commit an index with
    // the fold but no progress, re-opening the replay double-fold
    Dedup.writeGenAndGc(path, compactVecFrames(ix, extraFrames),
      checkDirs = vecGenDirs)
    loadEmbeddingIndex(ix.buckets.sparkSession, path)
  }

  /** The streaming vector-dedup loop: per micro-batch, probe + fold
    * ([[probeAndExtendVec]]), and every `compactEvery` folded batches
    * [[compactEmbeddingIndex]] the result so plan size stays constant
    * over the stream's lifetime — the vector configuration of the
    * [[StandingIndexLoop]] that [[Dedup.StreamingDedup]] also runs.
    * EVERY batch's pair output is pinned through [[Materialize.barrier]]
    * before it is returned: lazy pairs would read the currently-loaded
    * generation's parquet, which the compaction after next deletes — a
    * caller buffering a day of per-batch outputs before one sink write
    * must not crash on files GC'd underneath the lineage — and on a
    * cluster the pin is replicated or reliable, so the output also
    * survives losing an executor before the sink reads it.
    */
  final class StreamingVecDedup(initial: EmbeddingIndex, compactPath: String,
      compactEvery: Int, idCol: String, vecCol: String, threshold: Double,
      maxBucketSize: Int = Int.MaxValue,
      resumeBatchId: Long = -1L, resumePairs: Option[DataFrame] = None) {
    private val loop = new StandingIndexLoop[EmbeddingIndex](initial,
      compactEvery,
      probeAndExtendVec(_, _, idCol, vecCol, threshold, maxBucketSize),
      compactEmbeddingIndex(_, compactPath, _),
      "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE", resumeBatchId, resumePairs)
    def index: EmbeddingIndex = loop.index

    /** Probe + fold one batch; returns the pairs touching it. */
    def ingest(batch: DataFrame): DataFrame = loop.ingest(batch)

    /** Exactly-once probe + fold keyed by the engine's `batchId` —
      * the vector mirror of [[Dedup.StreamingDedup.ingestOnce]] (see
      * there for the crash-window rationale and the one-slot replay
      * protocol). Requires `compactEvery = 1`.
      */
    def ingestOnce(batchId: Long, batch: DataFrame): DataFrame =
      loop.ingestOnce(batchId, batch)
  }

  /** Rebuild a [[StreamingVecDedup]] from its compaction directory —
    * the restart entry point pairing with `ingestOnce` (the vector
    * mirror of [[Dedup.resumeStreamingDedup]]).
    */
  def resumeStreamingVecDedup(spark: org.apache.spark.sql.SparkSession,
      compactPath: String, idCol: String, vecCol: String, threshold: Double,
      maxBucketSize: Int = Int.MaxValue): StreamingVecDedup = {
    val (ix, bid, pairs) = StandingIndexLoop.resume(spark, compactPath,
      vecGenDirs, "embedding index", loadEmbeddingIndexAt(spark, _))
    new StreamingVecDedup(ix, compactPath, compactEvery = 1, idCol, vecCol,
      threshold, maxBucketSize, bid, pairs)
  }

  /** Per-label centroid coherence: every member's cosine to its
    * label's mean vector — the label-quality / mislabel-detection pass
    * a curated embedding corpus runs (a member far from its centroid
    * is a labeling outlier). Fully distributed: posexplode to
    * (label, dim) cells, ONE integer aggregation for the centroid
    * sums, one join back — never a per-label collect.
    *
    * Numerics are EXACT by construction: elements quantize to
    * `round(x * quantScale)` longs, so the centroid sums are
    * order-independent integer math (double summation would make the
    * result depend on partition order), and each member's cosine is
    * one fixed-order double expression over those exact integers.
    * The dot/norm accumulators sum in decimal(38,0) — still exact and
    * order-independent, but immune to the Long overflow a huge label
    * hits: for aligned unit-norm members, Σᵢ sᵢ² ≈ (members ×
    * quantScale)² (the per-dim x² factors sum to the unit norm, so
    * dims cancels), which crosses 2⁶³ near ~3M members at the default
    * scale; decimal holds to ~10³⁸. Cosine is scale-invariant, so the
    * un-divided centroid SUM stands in for the mean.
    */
  def labelCentroidCosines(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, quantScale: Long = 1000L,
      outlierBelow: Double = 0.05): DataFrame = {
    val dec = "decimal(38,0)"
    val ex = df.select(col(idCol), col(labelCol),
        posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .withColumn("__qx",
        round(col("__x").cast("double") * quantScale).cast("long"))
    val cent = ex.groupBy(col(labelCol), col("__i"))
      .agg(sum(col("__qx").cast(dec)).as("__s"))
    val perMember = ex.join(cent, Seq(labelCol, "__i"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sum(col("__qx").cast(dec) * col("__s")).as("__dot"),
        sum(col("__qx").cast(dec) * col("__qx").cast(dec)).as("__na2"),
        sum(col("__s") * col("__s")).as("__nc2"))
    val nMembers = df.groupBy(col(labelCol)).agg(count(lit(1)).as("n_members"))
    perMember.join(nMembers, Seq(labelCol))
      .withColumn("cos_to_centroid", col("__dot").cast("double") /
        (sqrt(col("__na2").cast("double")) * sqrt(col("__nc2").cast("double"))))
      .withColumn("is_outlier", col("cos_to_centroid") < outlierBelow)
      .drop("__dot", "__na2", "__nc2")
  }

  /** Fixed-iteration Lloyd k-means over the embedding column — the
    * unsupervised topic-bucketing pass a curation pipeline runs when no
    * labels exist (balance a mixture over discovered clusters, cap a
    * dominant mode, route clusters to graders). `iterations` assignment
    * passes with a centroid update between consecutive passes;
    * deterministic end to end: seeds are the `k` lowest-id vectors,
    * argmin ties break on the lowest cluster id, and an emptied cluster
    * drops out (its id simply stops being assigned).
    *
    * EXACT by construction, so the output hash-matches a SQL oracle:
    * vectors quantize to `round(x·quantScale)` longs; distances are
    * integer Σ(q−c)²; centroid components update by portable exact
    * floor division — subtract `pmod(s, n)` first, making the quotient
    * exactly divisible so Spark's truncating `div` and any
    * floor-dividing oracle agree for negative sums too. Component sums
    * stay in Long: |Σ qx| ≤ members × quantScale, overflow only at
    * ~9e15 member-scale units (a per-cluster bound far past any real
    * k-means input; the centroid-cosine op's decimal(38,0) recipe
    * applies if ever needed).
    *
    * Scale shape: assignment is a broadcast nested-loop of the corpus
    * against the k×dims centroid frame (control state, bytes) that
    * collapses map-side to one row per vector — the corpus never
    * shuffles; the update is ONE (cluster, dim) integer aggregation of
    * k×dims output rows. Iterations compose plans, so keep the count
    * small and fixed (curation wants stable buckets, not convergence).
    */
  def kmeansAssignments(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iterations: Int = 2, quantScale: Long = 1000L,
      twoLevel: Boolean = false): DataFrame =
    kmeansCore(df, idCol, vecCol, k, iterations, quantScale, twoLevel)
      .select(col(idCol), col("cluster"), col("dist2"))

  /** [[kmeansAssignments]] plus the quantized vector column `__q` the
    * assignment already computed — [[semanticDedup]] reuses it for the
    * within-cluster pair scoring instead of re-quantizing the corpus.
    *
    * `twoLevel` is the k∝n scale path for the assignment stage: flat
    * assignment is a corpus × k broadcast-cross (n·k distance rows —
    * with SemDeDup's k ∝ n that term is the measured super-linear
    * remainder, 59.5× at 100× in round 10). Two-level routes each
    * vector through √k COARSE anchors (the √k lowest-id centroids of
    * the round), then scores it only against the fine centroids whose
    * anchor it picked — ~2·n·√k distance rows. The routing is the IVF
    * approximation (a vector whose true nearest centroid lives under a
    * different anchor mis-assigns), exactly the trade ivfTopK makes;
    * SemanticPropertySpec pins two-level ≡ flat on separated-cluster
    * fixtures, and the oracle query keeps flat assignment (its pinned
    * k=8 is under the engage threshold). Measured guidance: at the
    * k∝n regime prefer twoLevel=true — 4.7× faster at 100× on an
    * idle host and 5.9× under disk pressure, because the flat n·k
    * assignment is exactly what spills (SCALE.md r11).
    */
  private def kmeansCore(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, quantScale: Long,
      twoLevel: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    require(iterations > 0, "iterations must be positive")
    GraftFunctions.register(df.sparkSession)
    // coalesce in the lambda pins the element type to containsNull =
    // false — the kernel functions REQUIRE it (they reject nullable
    // elements at type check rather than read a null slot as 0). The
    // values are never null (embeddings are dense by contract); the
    // null handling costs n ops here in the linear projection instead
    // of a per-element branch in the n×k / n² kernels.
    val q = df.select(col(idCol), transform(col(vecCol),
        x => coalesce(round(x.cast("double") * quantScale).cast("long"),
          lit(0L))).as("__q"))
    // k-row seed frame: the single-partition window is over k rows
    val cent0 = q.orderBy(col(idCol)).limit(k)
      .withColumn("cluster",
        row_number().over(Window.orderBy(col(idCol))).cast("long") - 1)
      .select(col("cluster"), col("__q").as("__c"))

    // codegen'd integer distance (r15): the assignment kernel runs
    // n × k times per pass; the interpreted aggregate(zip_with(...))
    // form it replaces is bit-identical (same Long arithmetic) but
    // evaluated per element in the higher-order-function interpreter
    def d2(a: String, b: String) = call_function("graft_dist2_q", col(a), col(b))

    def flatAssign(cent: DataFrame): DataFrame =
      q.crossJoin(broadcast(cent))
        .withColumn("__d2", d2("__q", "__c"))
        // lexicographic struct min = argmin with cluster-id tie-break;
        // __q rides along (never compared: (__d2, cluster) is unique)
        .groupBy(col(idCol))
        .agg(min(struct(col("__d2"), col("cluster"), col("__q"))).as("__m"))
        .select(col(idCol), col("__m.cluster").as("cluster"),
          col("__m.__d2").as("dist2"), col("__m.__q").as("__q"))

    def twoLevelAssign(cent: DataFrame): DataFrame = {
      val kc = math.max(2, math.round(math.sqrt(k.toDouble)).toInt)
      def routeTo(anch: DataFrame): DataFrame =
        cent.crossJoin(broadcast(anch))
          .withColumn("__d2", d2("__c", "__cc"))
          .groupBy(col("cluster"))
          .agg(min(struct(col("__d2"), col("__coarse"), col("__c"))).as("__m"))
          .select(col("__m.__coarse").as("__coarse"), col("cluster"),
            col("__m.__c").as("__c"))
      // coarse anchors: seed with the kc lowest-id centroids, then ONE
      // Lloyd round over the CENTROID frame (k rows — control-plane)
      // so the anchors spread over centroid space. Raw seeds leave
      // far-from-every-seed clusters in a tie-ish routing region where
      // a vector and its own centroid can pick different anchors — the
      // one Lloyd round is what makes the anchor Voronoi cells cover
      // the clusters with margin.
      val seeds = cent.orderBy(col("cluster")).limit(kc)
        .select(col("cluster").as("__coarse"), col("__c").as("__cc"))
      val anchors = routeTo(seeds)
        .select(col("__coarse"), posexplode(col("__c")).as(Seq("__i", "__cx")))
        .groupBy(col("__coarse"), col("__i"))
        .agg(sum(col("__cx")).as("__s"), count(lit(1)).as("__n"))
        .withColumn("__cv", expr("(__s - pmod(__s, __n)) div __n"))
        .groupBy(col("__coarse"))
        .agg(transform(array_sort(collect_list(struct(col("__i"), col("__cv")))),
          p => coalesce(p.getField("__cv"), lit(0L))).as("__cc"))
      // route every fine centroid to its refined anchor (k × kc)
      val centRouted = routeTo(anchors)
      // corpus routing must only see anchors that OWN at least one fine
      // centroid: after the Lloyd refinement a re-routed anchor can end
      // up with an empty cell in centRouted while still winning some
      // vectors' coarse routing — those vectors would then vanish
      // through the inner equi-join below (silent row loss). Restrict
      // the anchor frame to centRouted's anchors (a kc-row control
      // join) so every vector's coarse cell is guaranteed non-empty.
      val liveAnchors = anchors
        .join(centRouted.select(col("__coarse")).distinct(), Seq("__coarse"))
      // corpus → anchor (n × √k), then → fine centroid within the
      // anchor's cell (equi-join on the anchor id: ~√k candidates each)
      val toCoarse = q.crossJoin(broadcast(liveAnchors))
        .withColumn("__d2", d2("__q", "__cc"))
        .groupBy(col(idCol))
        .agg(min(struct(col("__d2"), col("__coarse"), col("__q"))).as("__m"))
        .select(col(idCol), col("__m.__coarse").as("__coarse"),
          col("__m.__q").as("__q"))
      toCoarse.join(broadcast(centRouted), Seq("__coarse"))
        .withColumn("__d2", d2("__q", "__c"))
        .groupBy(col(idCol))
        .agg(min(struct(col("__d2"), col("cluster"), col("__q"))).as("__m"))
        .select(col(idCol), col("__m.cluster").as("cluster"),
          col("__m.__d2").as("dist2"), col("__m.__q").as("__q"))
    }

    // the coarse detour only pays past ~4 anchors' worth of centroids
    def assign(cent: DataFrame): DataFrame =
      if (twoLevel && k > 16) twoLevelAssign(cent) else flatAssign(cent)

    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("cluster"), posexplode(col("__q")).as(Seq("__i", "__qx")))
        .groupBy(col("cluster"), col("__i"))
        .agg(sum(col("__qx")).as("__s"), count(lit(1)).as("__n"))
        .withColumn("__cv", expr("(__s - pmod(__s, __n)) div __n"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("__i"), col("__cv")))),
          p => coalesce(p.getField("__cv"), lit(0L))).as("__c"))

    var cent = cent0
    for (_ <- 1 until iterations) cent = update(assign(cent))
    assign(cent)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering THEN within-cluster pair pruning — the
    * published recipe for web-scale embedding dedup, because restricting
    * the pairwise stage to k-means cells turns O(n²) into
    * O(Σ cellᵢ²), bounded when k grows with n (k ≈ n/target-cell-size
    * keeps cells constant-sized, so total pair work stays ~linear).
    *
    * Stages, all exact so a SQL oracle can replay them: (1)
    * [[kmeansAssignments]] integer k-means (the cell structure);
    * (2) within-cell pairs scored by quantized-integer cosine (BIGINT
    * dot/norms, one fixed-order double at the end — order-independent,
    * so the oracle hash-matches); (3) edges ≥ `threshold` →
    * pointer-doubling connected components ([[Dedup.dupClusters]],
    * O(log d) rounds); (4) the SemDeDup KEEP rule: each semantic-dup
    * group keeps its member FARTHEST from its k-means centroid (max
    * integer dist2, ties to the lowest id) — the paper keeps the
    * least-typical example, arguing centroid-near members are the
    * redundant ones. Cross-cell near-dups are out of scope BY DESIGN
    * (that approximation is the algorithm); the oracle re-derives the
    * same cells exactly, so outputs still hash-match.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iterations: Int = 2, quantScale: Long = 1000L,
      threshold: Double = 0.45, twoLevel: Boolean = false): DataFrame = {
    // materialize the assignment ONCE: it feeds both pair legs, the
    // label join and the keeper derivation — without this, each of the
    // four consumers replays the full k-means lineage (its iterated
    // broadcast-cross assignments), measured ~2× the query's wall
    val assigned = Materialize.barrier(
      kmeansCore(df, idCol, vecCol, k, iterations, quantScale, twoLevel)
        .withColumn("__n2", call_function("graft_dot_q", col("__q"), col("__q"))))
    // ADAPTIVE SALT on the cell self-join (r15 stage audit): the join
    // key has only k distinct values, so at small k the quadratic
    // in-cell scoring hash-collides onto a couple of reducers — 2 tasks
    // owned 2.4 s of dedup_semantic's sf0.1 wall. Salting the a-side
    // deterministically and exploding the b-side `salts` ways spreads
    // each cell's pair work over `salts` tasks with an identical pair
    // set (every (a, b) pair meets exactly once, at a's salt). At scale
    // SemDeDup grows k ∝ n (constant cell size), so salts collapses to
    // 1 and the plan is EXACTLY the unsalted one.
    val salts = math.max(1,
      df.sparkSession.sparkContext.defaultParallelism / math.max(1, k))
    val a0 = assigned.select(col(idCol).as("id_a"), col("cluster"),
      col("__q").as("__qa"), col("__n2").as("__na2"))
    val b0 = assigned.select(col(idCol).as("id_b"), col("cluster"),
      col("__q").as("__qb"), col("__n2").as("__nb2"))
    val (a, b, joinKeys) =
      if (salts <= 1) (a0, b0, Seq("cluster"))
      else (
        a0.withColumn("__s", pmod(xxhash64(col("id_a")), lit(salts.toLong))),
        b0.withColumn("__s", explode(sequence(lit(0L), lit(salts - 1L)))),
        Seq("cluster", "__s"))
    // one equi-join on the (salted) cell id: pair work is Σ cellᵢ²,
    // never n²; the dot is the codegen'd integer kernel (bit-identical
    // to the interpreted aggregate(zip_with) it replaces)
    val pairs = a.join(b, joinKeys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("__dot", call_function("graft_dot_q", col("__qa"), col("__qb")))
      .withColumn("cos_sim", col("__dot").cast("double") /
        (sqrt(col("__na2").cast("double")) * sqrt(col("__nb2").cast("double"))))
    val edges = pairs.filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b")
    val cc = Dedup.dupClusters(df.select(col(idCol)), idCol, edges)
      .select(col(idCol), col("cluster_id").as("sem_group"),
        col("cluster_size").as("group_size"))
    val labeled = assigned.select(col(idCol), col("cluster"), col("dist2"))
      .join(cc, Seq(idCol))
    // keeper = max dist2 (farthest from centroid), ties to lowest id:
    // min(struct(-dist2, id)) — dist2 >= 0 so the negation never overflows
    val keepers = labeled.groupBy("sem_group")
      .agg(min(struct((-col("dist2")).as("__nd"), col(idCol).as("__id")))
        .as("__k"))
      .select(col("sem_group"), col("__k.__id").as("__keeper"))
    labeled.join(keepers, Seq("sem_group"))
      .select(col(idCol), col("cluster"), col("dist2"), col("sem_group"),
        col("group_size"), (col(idCol) === col("__keeper")).as("keep"))
  }
}
