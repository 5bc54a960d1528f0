package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design: everything is expressed over (doc, shingle) rows and
  * hash aggregations — never an O(n²) comparison. The LSH band-bucket
  * join bounds candidate generation; exact Jaccard runs only on
  * candidates. All hashing is `xxhash64` (codegen'd, no UDFs).
  *
  * Small frames read 3–5× inside one plan (membership maps, shingle
  * frames) are always pinned through [[Materialize.barrier]] —
  * measured 10–30% on the dedup family. The seam is the one place that
  * picks how to pin, per master: localCheckpoint locally (fast,
  * non-replicated — fine in one JVM), reliable checkpoint or
  * replicated persist on a cluster (executor-loss-tolerant).
  */
object Dedup {

  private def norm(text: Column): Column = lower(trim(text))

  /** Exact dedup: md5 over normalized text, groups keyed by the hash;
    * canonical doc = min id per group.
    */
  def exact(docs: DataFrame, id: String, text: String): DataFrame = {
    val withFp = docs.select(col(id), md5(norm(col(text))).as("fp"))
    val groups = withFp.groupBy("fp")
      .agg(count(lit(1)).as("group_size"), min(col(id)).as("canonical_id"))
    withFp.join(groups, "fp")
      .withColumn("is_dup", col(id) =!= col("canonical_id"))
  }

  /** Exact-identity membership: (id, rep_id) for every doc, where the
    * representative is the min id among docs whose NORMALIZED text is
    * md5-identical. This is the scale gate in front of every LSH stage:
    * a web corpus routinely carries clusters of 10⁴⁺ byte-identical
    * boilerplate docs, and identical docs collide in EVERY band, so
    * running LSH on raw docs turns one such cluster into B²/2 candidate
    * pairs from a single bucket. Collapsing first makes the LSH input
    * one representative per distinct text — candidate work scales with
    * DISTINCT content, and identical-doc pairs are reconstructed from
    * the membership map (identical texts have identical shingle sets,
    * so the expansion is exact, not approximate). The reference stages
    * an analogous collapse: msort dedups staged mutations before apply.
    */
  def exactMembership(docs: DataFrame, id: String, text: String): DataFrame =
    collapseExact(docs, id, text)._1

  /** The collapse itself: (members = (id, rep_id), pinned; repDocs =
    * one doc row per distinct normalized text, lazy). ONE pin: the
    * members frame is a window over (id, md5) — `rep_id` is the min id
    * of its md5 partition — so its one exchange carries each doc's
    * (id, md5), never its text (1.9 MB for a 50,000-doc batch at 40×
    * sf0.1). An aggregate of (md5, min id) combines map-side, but its
    * result must then be joined back onto every doc's md5: at corpus
    * scale, a second exchange of the same rows. The window buffers an md5 group in one
    * task (spilling past Spark's window buffer threshold); a 10⁴-doc
    * identical cluster is `HotBucketSpec`'s case.
    * The representatives' rows come back from `docs` through a
    * semi-join on the pinned representative ids, which the pin's
    * measured size lets broadcast. Rows with a null id or text are in
    * neither frame.
    */
  def collapseExact(docs: DataFrame, id: String, text: String): (DataFrame, DataFrame) =
    collapseOn(docs, id, text, c => md5(norm(c)))

  /** The one collapse behind [[collapseExact]] and the vector index
    * build ([[Similarity.buildEmbeddingIndex]]): the same pinned window
    * and semi-join, over the rows whose `id` and `value` are set, with
    * `rep_id` the min id among rows of equal `key(value)`. Text keys on
    * the md5 of its normalized form; a vector keys on its own value,
    * so the collapse stays exact (no hash identity, no collision).
    */
  private[ops] def collapseOn(docs: DataFrame, id: String, value: String,
      key: Column => Column = identity): (DataFrame, DataFrame) = {
    val members = Materialize.barrier(
      docs.filter(col(id).isNotNull && col(value).isNotNull)
        .select(col(id), key(col(value)).as("__key"))
        .select(col(id), min(col(id)).over(Window.partitionBy("__key")).as("rep_id")))
    val repDocs = docs.join(members.filter(col(id) === col("rep_id")).select(col(id)),
      Seq(id), "left_semi")
    (members, repDocs)
  }

  /** Corpus-frequency line scrub — the C4 / RefinedWeb rule "drop any
    * line that occurs in ≥ `minDocs` distinct documents" (C4 uses 3;
    * boilerplate navbars, cookie banners, and licence footers repeat
    * across thousands of pages while real prose lines do not). Operates
    * on a caller-provided `segments` array column so the split is
    * pluggable: a real web corpus passes `split(col("text"), "\n")`;
    * fixtures without newlines pass fixed-width token windows.
    *
    * Output: one row per doc — segment counts, removed count, and the
    * document rebuilt WITHOUT its boilerplate segments, in original
    * segment order, re-joined with `sep` (a newline corpus passes
    * "\n" to round-trip its own framing; a fully-boilerplate doc
    * rebuilds to the empty string, the signal to drop it upstream).
    *
    * Scale shape (the reason this is a first-class op and not a
    * pairwise dedup): no comparison is ever pairwise. Three hash
    * exchanges total — (1) distinct (segment, doc) then a count per
    * segment, both with map-side partial aggregation (the distinct
    * spreads a million-page banner across its doc values, so no hot
    * key); (2) the frequency join back onto the exploded stream, on
    * the segment key — the ≥`minDocs` frequency frame is the heavy
    * TAIL of the segment distribution, orders of magnitude smaller
    * than the corpus, so AQE broadcasts it; (3) the per-doc regroup
    * that rebuilds the text. Segment order survives the shuffle via
    * `array_sort` over (index, segment) structs, not a global sort.
    */
  def scrubCommonSegments(docs: DataFrame, id: String, segments: Column,
      minDocs: Int = 3, sep: String = " "): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val segs = docs.select(col(id), posexplode(segments).as(Seq("__i", "__seg")))
    val freq = segs.select(col(id), col("__seg")).distinct()
      .groupBy("__seg").agg(count(lit(1)).as("__n_docs"))
      .filter(col("__n_docs") >= minDocs)
    segs.join(freq, Seq("__seg"), "left_outer")
      .withColumn("__boiler", col("__n_docs").isNotNull)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(!col("__boiler"),
            struct(col("__i"), col("__seg"))))),
          x => x.getField("__seg")), sep).as("clean_text"))
  }

  /** Repeated-SPAN scrub — the suffix-array pass of "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al. 2022),
    * re-expressed without suffix arrays OR pairwise work: remove every
    * maximal token span in which EVERY k-shingle occurs in >= minDocs
    * documents. [[scrubCommonSegments]] only catches ALIGNED whole
    * segments; this catches a quoted paragraph embedded mid-document
    * at any offset. Plan shape, all linear: (1) positional k-shingle
    * hashes (JVM flatMap, like [[shingleHashes]]); (2) corpus doc-
    * frequency per shingle — one hash shuffle, map-side combined; (3)
    * semi-join back (the heavy-tail shared set is far smaller than the
    * corpus); (4) gaps-and-islands per doc over shared positions (the
    * GTID-islands trick — per-doc window, never a global sort); (5)
    * island spans cover [i, i+k-1] windows, so islands closer than k
    * overlap: a second per-doc interval-merge window unions them; (6)
    * rebuild via higher-order functions over the token array — no
    * range join, no UDF. Never compares two documents.
    */
  def scrubRepeatedSpans(docs: DataFrame, id: String, text: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = docs.select(col(id), split(norm(col(text)), "\\s+").as("__t"))
      .withColumn("__n", size(col("__t")))
    val sh = shingleHashesPos(docs, id, text, k)
    val freq = sh.select(col(id), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
    val shared = sh.join(freq.select("__h"), Seq("__h"), "left_semi")
    val wPos = Window.partitionBy(col(id)).orderBy(col("__i"))
    val spans0 = shared
      .withColumn("__g", col("__i") - row_number().over(wPos))
      .groupBy(col(id), col("__g"))
      .agg(min(col("__i")).as("__s"), (max(col("__i")) + (k - 1)).as("__e"))
    val wSpan = Window.partitionBy(col(id)).orderBy(col("__s"))
    val prevMax = max(col("__e"))
      .over(wSpan.rowsBetween(Window.unboundedPreceding, -1))
    val merged = spans0
      .withColumn("__brk",
        when(col("__s") > coalesce(prevMax, lit(-1)) + 1, 1).otherwise(0))
      .withColumn("__grp", sum(col("__brk")).over(wSpan))
      .groupBy(col(id), col("__grp"))
      .agg(min(col("__s")).as("__s"), max(col("__e")).as("__e"))
    val perDoc = merged.groupBy(col(id))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s") + 1).as("n_removed"),
        collect_list(struct(col("__s"), col("__e"))).as("__spans"))
    toks.join(perDoc, Seq(id), "left_outer")
      .select(col(id), col("__n").cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("__spans").isNull, array_join(col("__t"), " "))
          .otherwise(expr(
            """array_join(transform(filter(
              |  transform(__t, (tok, i) -> named_struct('t', tok, 'i', i)),
              |  x -> NOT exists(__spans, sp -> x.i >= sp.__s AND x.i <= sp.__e)),
              |  x -> x.t), ' ')""".stripMargin))
          .as("clean_text"))
  }

  /** (doc, 0-based position, shingleHash) rows — the positional
    * sibling of [[shingleHashes]] for span-level dedup, same JVM-loop
    * rationale. NOT distinct: every occurrence keeps its position.
    */
  def shingleHashesPos(docs: DataFrame, id: String, text: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    implicit val outEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaLong)
    docs.filter(col(id).isNotNull && col(text).isNotNull)
      .select(col(id).cast("long"), lower(trim(col(text))))
      .as[(Long, String)]
      .flatMap { case (docId, t) =>
        val toks = t.split("\\s+")
        if (toks.length < k) Iterator.empty
        else (0 to toks.length - k).iterator.map { i =>
          (docId, i, fnv64(toks.slice(i, i + k).mkString(" ")))
        }
      }
      .toDF(id, "__i", "__h")
  }

  /** Word k-shingles of the normalized text (string form, for tests /
    * small inputs). The declarative generator chain here is interpreted
    * per element; the hot path uses [[shingleHashes]] instead.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = split(norm(text), "\\s+")
    // sliding window over the token array, built declaratively
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
  }

  /** 64-bit FNV-1a — deterministic, allocation-free shingle identity. */
  private def fnv64(s: String): Long = {
    var h = -3750763034362895579L // FNV offset basis
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
    h
  }

  /** (doc, shingleHash) rows via a typed flatMap. The declarative
    * slice/join/distinct chain is an interpreted per-element expression
    * (~25 µs/shingle measured); this JVM loop is ~100× faster, runs
    * fully parallel per input partition, and shuffles nothing — the
    * right trade under guideline (d): mapPartitions only where the
    * built-in operators genuinely can't express the hot path cheaply.
    */
  def shingleHashes(docs: DataFrame, id: String, text: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    implicit val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    // null text/id rows carry no shingles — drop them instead of
    // letting the lambda NPE (one bad row must never kill the job)
    docs.filter(col(id).isNotNull && col(text).isNotNull)
      .select(col(id).cast("long"), lower(trim(col(text))))
      .as[(Long, String)]
      .flatMap { case (docId, t) =>
        val toks = t.split("\\s+")
        val windows =
          if (toks.length <= k) Iterator.single(toks.mkString(" "))
          else toks.sliding(k).map(_.mkString(" "))
        windows.map(s => (docId, fnv64(s))).toSet.iterator
      }
      .toDF(id, "shingle")
  }

  /** MinHash signatures: `numHashes` permutations simulated by seeded
    * xxhash64; elementwise-min folded with zip_with — rows stay at
    * (doc × shingle) cardinality, one groupBy produces the signature.
    */
  def minhashSignatures(docs: DataFrame, id: String, text: String,
      numHashes: Int = 64, k: Int = 3): DataFrame =
    minhashFromShingles(shingleHashes(docs, id, text, k), id, numHashes)

  /** Signature aggregation over a prebuilt (doc, shingle) frame — lets
    * a pipeline that also needs the shingles for verification build
    * them once. One min-aggregate per hash seed: every expression is
    * codegen'd (no higher-order array folds) and partially aggregated
    * map-side, so the shuffle carries numHashes longs per doc, not per
    * shingle.
    */
  def minhashFromShingles(sh: DataFrame, id: String, numHashes: Int = 64): DataFrame = {
    val minCols = (0 until numHashes).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"h$i"))
    sh.groupBy(col(id))
      .agg(minCols.head, minCols.tail :+ count(lit(1)).as("n_shingles"): _*)
      .select(col(id),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("signature"),
        col("n_shingles"))
  }

  /** (band_id, bucket, id) band-bucket frame over signatures — the
    * persistable LSH index unit: write it to parquet after a full pass
    * and an INCREMENTAL pass joins new docs' bands against it instead
    * of re-banding the corpus. Band parameters must match between the
    * index build and any later probe (the bucket hash is seeded by
    * band position over `rowsPerBand`-wide signature slices).
    */
  def bandFrame(sigs: DataFrame, id: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col(id),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bucket")

  /** LSH banding candidates: documents sharing any [[bandFrame]]
    * bucket become candidate pairs — the ONLY pair source, so
    * candidate count is bounded by bucket occupancy, not n².
    *
    * `maxBucketSize` is the residual hot-bucket valve for what
    * [[exactMembership]] collapse can't remove (near-identical
    * templated docs): a bucket above the cap pairs each member only
    * with the cap's hash-smallest members (its ANCHORS) instead of all
    * members, so per-bucket candidates are occupancy × cap — linear,
    * never quadratic. Below the cap, output is identical to the
    * uncapped join (anchors = the whole bucket). A binding cap trades
    * pair-COMPLETENESS for the bound (members still connect to the
    * cluster through shared anchors — what dedup clustering consumes);
    * the default is uncapped, for exhaustive-pair-list semantics.
    */
  def lshCandidates(sigs: DataFrame, id: String,
      bands: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded = bandFrame(sigs, id, bands, rowsPerBand)
    val a = banded.select(col("band_id"), col("bucket"), col(id).as("id_a"))
    if (maxBucketSize == Int.MaxValue) {
      val b = banded.select(col("band_id"), col("bucket"), col(id).as("id_b"))
      a.join(b, Seq("band_id", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    } else {
      val anchors = Buckets.anchors(banded, Seq("band_id", "bucket"), id, maxBucketSize)
        .select(col("band_id"), col("bucket"), col(id).as("id_b"))
      a.join(anchors, Seq("band_id", "bucket"))
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct()
    }
  }

  /** Exact shingle-set Jaccard for candidate pairs (the verification
    * stage after LSH): |A∩B| via a shingle join, |A∪B| = |A|+|B|−|∩|.
    */
  def jaccard(docs: DataFrame, id: String, text: String,
      pairs: DataFrame, k: Int = 3): DataFrame =
    jaccardFromShingles(shingleHashes(docs, id, text, k), id, pairs)

  /** Jaccard over a prebuilt (doc, shingle) frame (a distinct set).
    * `pairs` holds one row per (id_a, id_b): the result has one row per
    * pair, so a repeated pair comes back once, and any other column of
    * `pairs` rides along with its first value for the pair. */
  def jaccardFromShingles(sh: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("n"))
    // no broadcast hint: candidate-pair cardinality is bounded only by
    // LSH bucket occupancy, so let AQE broadcast when actually small.
    // ONE read of `pairs`: each pair meets its id_a's shingles, and a
    // LEFT join on id_b's counts the shared ones (0 when none), so a
    // pair without overlap keeps its row; a pair whose id has no
    // shingles drops at the size joins below
    val hits = sh.select(col(id).as("id_b"), col("shingle"), lit(1).as("__hit"))
    val carried = pairs.columns.filterNot(Set("id_a", "id_b"))
    pairs
      .join(sh.select(col(id).as("id_a"), col("shingle")), "id_a")
      .join(hits, Seq("id_b", "shingle"), "left")
      .groupBy("id_a", "id_b")
      .agg(count(col("__hit")).as("n_inter"), carried.map(c => first(col(c)).as(c)): _*)
      .select((pairs.columns :+ "n_inter").map(col): _*)
      .join(sizes.select(col(id).as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col(id).as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
  }

  /** Duplicate clusters: connected components over the near-dup pair
    * graph. Each round does (a) min-label propagation — every node
    * pulls the smallest label among itself and its neighbors (one hop)
    * — and (b) pointer doubling — every node then adopts its label's
    * own label (`L[v] := L[L[v]]`), so label reach roughly doubles per
    * round and a path component of diameter d converges in O(log d)
    * rounds, not O(d). Convergence is detected exactly (labels are
    * monotone non-increasing, so an unchanged sum is a proof) and
    * non-convergence after `maxIters` raises rather than silently
    * returning split clusters. Edges with an endpoint outside `docs`
    * are dropped: the components are those of the docs-only subgraph.
    */
  def dupClusters(docs: DataFrame, id: String, pairs: DataFrame,
      maxIters: Int = 12): DataFrame = {
    // barrier, not cache() (r16): a cached plan freezes its
    // pre-AQE-coalesce layout (`canChangeCachedPlanOutputPartitioning`
    // is off by default), so the edge frame kept shuffle.partitions-many
    // near-empty partitions and EVERY loop stage below inherited that
    // width — the r15 stage audit showed the CC rounds as stacks of
    // 32-task stages moving zero bytes at ~100 ms/task of pure task
    // overhead. The barrier materializes the AQE-final plan instead, so
    // the loop's width follows the edge set's actual size at any scale.
    // Both endpoints are semi-joined against the doc ids inside the
    // same pin, so pairs ⊆ docs holds without an extra pin: an edge to
    // a non-doc id would otherwise pull that id into a component,
    // inflating cluster_size and possibly naming a non-doc cluster_id.
    val ids = docs.select(col(id).as("__doc"))
    val inDocs = pairs
      .join(ids, col("id_a") === col("__doc"), "left_semi")
      .join(ids, col("id_b") === col("__doc"), "left_semi")
    val edges = Materialize.barrier(
      inDocs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(inDocs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    // only nodes that touch an edge need propagation — singletons (the
    // overwhelming majority in a dedup graph) bypass the loop entirely
    val nodes = edges.select(col("src").as(id)).distinct()
    var labels = nodes.select(col(id), col(id).as("cluster_id"))
    var prevSum = Option.empty[Long]
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // (a) each node pulls the smallest label among itself and neighbors
      val viaEdges = edges
        .join(labels.select(col(id).as("src"), col("cluster_id")), "src")
        .select(col("dst").as(id), col("cluster_id"))
      val propagated = labels.union(viaEdges)
        .groupBy(col(id)).agg(min(col("cluster_id")).as("cluster_id"))
      // (b) pointer doubling: follow the label one more step. Every
      // label value is itself a node id (labels start as ids and min()
      // only selects existing values), so the self-join resolves; the
      // left join + coalesce keeps the row if the parent label lags a
      // round behind. Labels stay monotone: L[L[v]] <= L[v].
      val next = propagated.select(col(id), col("cluster_id").as("__p"))
        .join(propagated.select(col(id).as("__p"),
          col("cluster_id").as("__pl")), Seq("__p"), "left")
        .select(col(id),
          least(col("__p"), coalesce(col("__pl"), col("__p"))).as("cluster_id"))
      // the materialization barrier truncates lineage each round —
      // without it the plan nests joins per iteration (measured: 559
      // exchanges after 5 rounds) and any executor retry recomputes the
      // whole history. The convergence aggregate rides the SAME job
      // (barrierAgg, r16): the loop's per-round cost at converged frame
      // sizes is driver-sync job latency, not compute, and the separate
      // agg job was half of it.
      // sum() over an empty frame is NULL — an empty pair graph (no
      // near-dups at all) is converged by definition, not an NPE
      val (pinned, sumRow) = Materialize.barrierAgg(next,
        org.apache.spark.sql.functions.sum("cluster_id"))
      // the previous round's pin is superseded: free its blocks now
      // rather than at the next driver GC (round 0's labels are unpinned)
      Materialize.release(labels)
      labels = pinned
      val sum = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
      converged = sumRow.isNullAt(0) || prevSum.contains(sum)
      prevSum = Some(sum)
      iter += 1
    }
    Materialize.release(edges)
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIters rounds — component " +
          "diameter exceeds 2^maxIters; raise maxIters")
    val all = docs.select(col(id))
      .join(labels, Seq(id), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(id)))
    // cluster sizes come from the PINNED labels frame alone (r16): the
    // old `all.groupBy(cluster_id)` rollup re-evaluated `all` — a
    // second corpus scan + labels join — and exchanged the whole
    // corpus by cluster_id just to count. Every multi-member cluster's
    // members are labeled (labels hold exactly the edge-touching
    // nodes), and a singleton's cluster_id is its own id, which can
    // never equal a labeled cluster's id (those are min ids of
    // edge-touching nodes, and the edges were filtered to docs above)
    // — so size = the label count where one exists, else 1. One corpus
    // scan, one join with the corpus, one tiny label aggregate.
    val labelSizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("__label_n"))
    all.join(labelSizes, Seq("cluster_id"), "left")
      .select(col(id), col("cluster_id"),
        coalesce(col("__label_n"), lit(1L)).as("cluster_size"),
        (col(id) =!= col("cluster_id")).as("is_dup"))
  }

  /** Expand verified REPRESENTATIVE pairs back to member pairs via the
    * exact-identity membership map. Cross-group pairs inherit the rep
    * pair's stats verbatim (md5-identical normalized texts have
    * identical shingle sets, so every member pair's Jaccard IS the rep
    * pair's); intra-group pairs are J = 1 with n = the group's
    * shingle-set size. The intra expansion is quadratic in group size —
    * that is the OUTPUT's own cardinality (every identical pair is a
    * dup pair), not candidate work; a 100 TB consumer that only needs
    * the verdict should read [[exactMembership]] + rep pairs instead.
    * `id_a` expands through `members`, `id_b` through `membersB` (the
    * incremental probe's `id_b` may be an index representative); the
    * intra-group pairs are `members`' own. The lookups into `members`
    * read one rep-keyed projection, so adaptive execution builds its
    * broadcast once and reuses it.
    */
  private def expandVerified(repPairs: DataFrame, members: DataFrame,
      repSizes: DataFrame, id: String, membersB: Option[DataFrame] = None): DataFrame = {
    def byRep(m: DataFrame, rep: String, doc: String) =
      m.select(col("rep_id").as(rep), col(id).as(doc))
    val swapped = col("__ma") > col("__mb")
    val cross = repPairs
      .join(byRep(members, "id_a", "__ma"), "id_a")
      .join(byRep(membersB.getOrElse(members), "id_b", "__mb"), "id_b")
      .select(
        least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"),
        // stats follow their ids through the reorientation
        when(swapped, col("n_b")).otherwise(col("n_a")).as("n_a"),
        when(swapped, col("n_a")).otherwise(col("n_b")).as("n_b"),
        col("n_inter"), col("jaccard"))
    val intra = byRep(members, "__r", "id_a")
      .join(byRep(members, "__r", "id_b"), "__r")
      .filter(col("id_a") < col("id_b"))
      .join(repSizes.withColumnRenamed("rep_id", "__r"), "__r")
      .select(col("id_a"), col("id_b"), col("n").as("n_a"),
        col("n").as("n_b"), col("n").as("n_inter"), lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** The collapse → signature → candidates → verify core shared by the
    * pair-listing and edge-listing entry points: (members, shingle
    * frame over representatives, verified REP pairs).
    */
  private def repDupPairs(docs: DataFrame, id: String, text: String,
      threshold: Double, numHashes: Int, bands: Int,
      maxBucketSize: Int, k: Int = 3): (DataFrame, DataFrame, DataFrame) = {
    val (members, repDocs) = collapseExact(docs, id, text)
    // the banding default is rows-per-band = 2: candidate recall at the
    // THRESHOLD (not just at dup-grade J) is what makes the verified
    // output exhaustive — miss = (1−J²)^b = 0.36³² ≈ 6e-15 at J = 0.8,
    // where r = 4 banding would miss ≈ 2e-4 of borderline pairs.
    // The shingle frame is built once and shared by the signature and
    // verification stages (eagerly checkpointed — it is read 3×).
    val sh = Materialize.barrier(shingleHashes(repDocs, id, text, k))
    // not pinned: jaccardFromShingles reads the candidate pairs once,
    // so the minhash + LSH band self-join + distinct run once inside
    // the verify's own job
    val cands = lshCandidates(minhashFromShingles(sh, id, numHashes), id,
      bands, numHashes / bands, maxBucketSize)
    val repPairs = jaccardFromShingles(sh, id, cands)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_a", "n_b", "n_inter", "jaccard")
    (members, sh, repPairs)
  }

  /** The full near-dup pipeline: exact-identity collapse → MinHash
    * signatures over representatives → LSH band-bucket candidates →
    * exact shingle-Jaccard verification ≥ `threshold` → expansion back
    * to member pairs. Returns verified pairs with their set sizes and
    * Jaccard — the deliverable a dedup pass consumes, and (because LSH
    * recall at dup-grade similarity is 1 − (1−J^r)^b ≈ 1) a result an
    * exact all-pairs oracle can check: candidates are a provable
    * superset of above-threshold pairs, the verify stage discards the
    * rest, and the collapse/expand step is identity-exact.
    *
    * The collapse is what makes this safe on dup-HEAVY corpora: a
    * cluster of B identical docs contributes ONE doc to the LSH stage
    * (candidate work linear in distinct content), where the uncollapsed
    * pipeline would self-join B²/2 pairs out of a single bucket.
    * `maxBucketSize` additionally caps residual near-identical buckets
    * (see [[lshCandidates]]) — off by default to keep the pair list
    * exhaustive.
    */
  def verifiedDupPairs(docs: DataFrame, id: String, text: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 32,
      maxBucketSize: Int = Int.MaxValue, k: Int = 3): DataFrame = {
    val (members, sh, repPairs) = repDupPairs(docs, id, text, threshold,
      numHashes, bands, maxBucketSize, k)
    val repSizes = sh.groupBy(col(id)).agg(count(lit(1)).as("n"))
      .select(col(id).as("rep_id"), col("n"))
    expandVerified(repPairs, members, repSizes, id)
  }

  /** Persistable dedup index over a corpus: COLLAPSED band-bucket
    * frame, representative shingle frame, and the exact-identity
    * membership map. The collapse is the same scale gate every LSH
    * stage gets ([[collapseExact]]) — an uncollapsed index would hold
    * every member of a 10⁴-identical boilerplate cluster in every
    * band bucket, fanning one matching probe into 10⁴ re-verifications
    * of the same shingle set. A full-corpus pass writes all three
    * frames to parquet; the nightly incremental pass reads them back —
    * the corpus is never re-shingled or re-banded. The banding
    * parameters travel WITH the index (and its persisted meta frame,
    * like the vector index's granularity): a probe banded differently
    * than the index would join garbage candidates, so
    * [[incrementalDupPairs]] refuses a mismatch loudly instead.
    */
  final case class DedupIndex(bands: DataFrame, shingles: DataFrame,
      members: DataFrame,
      numHashes: Int = 64, nBands: Int = 32, shingleK: Int = 3)

  /** Banding identity gate: a probe banded differently than the index
    * joins garbage buckets (band ids and minhash seeds both shift), so
    * refuse loudly instead of returning plausible-but-wrong pairs.
    * Indexes loaded from PRE-META generations carry unknown (-1)
    * parameters — there the caller's parameters govern, exactly the
    * contract that existed before the meta frame did; claiming
    * defaults for them would reject a correct legacy probe and wave
    * through a wrong one.
    */
  private def requireSameBanding(index: DedupIndex, numHashes: Int,
      bands: Int, k: Int, what: String): Unit =
    require(index.numHashes < 0 ||
      (index.numHashes == numHashes && index.nBands == bands &&
        index.shingleK == k),
      s"$what banding (numHashes=$numHashes bands=$bands k=$k) != index " +
        s"banding (${index.numHashes}, ${index.nBands}, ${index.shingleK}) " +
        "— pass the index's own parameters")

  /** Compact an (extended) index to parquet and reload it as a fresh
    * 3-frame index. The streaming loop's per-batch `unionByName` grows
    * the probe plan by one arm per folded batch — after months of
    * micro-batches the DRIVER, not the data, becomes the bottleneck
    * (analysis/optimization walk every arm on every trigger).
    * Compaction collapses N arms back to three parquet scans, so the
    * probe plan is the same size on day 300 as on day 1.
    *
    * Layout: generation directories `path/gen=<k>/{bands,shingles,
    * members}` — the write streams the OLD generation's files, so an
    * in-place overwrite would delete its own input. Each call writes
    * generation k+1, reloads from it, then best-effort deletes
    * generations < k (the k-th must outlive this call: DataFrames the
    * caller derived from the input index may still reference its
    * files). The band frame is repartitioned on (band_id, bucket) so
    * each output file holds contiguous bucket ranges — probe-side
    * bucket joins touch few files, and a cluster deployment can layer
    * table bucketing on the same column set for a shuffle-free index
    * side.
    */
  /** Generation commit sentinel: written LAST, after all three frame
    * directories, so a crash mid-compaction leaves a gen directory
    * that readers provably skip — three independent parquet jobs are
    * not atomic together, and "the numerically largest gen" alone
    * would resume from a torn write.
    */
  private[ops] val genCommitted = "_GRAFT_COMMITTED"

  /** Shared by the text index here and [[Similarity]]'s vector index:
    * `dirs` names the per-generation frame directories whose own
    * `_SUCCESS` markers certify completeness when the sentinel is
    * absent (grandfathers pre-sentinel generations instead of GC'ing
    * healthy data as torn).
    */
  private[ops] def listGens(fs: org.apache.hadoop.fs.FileSystem,
      path: String, dirs: Seq[String]): Seq[(Int, Boolean)] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$path/gen=*")))
      .getOrElse(Array.empty).toSeq
      .flatMap { s =>
        val p = s.getPath
        p.getName.stripPrefix("gen=").toIntOption.map { g =>
          // committed = our sentinel, OR all frame jobs' own _SUCCESS
          val done = fs.exists(new org.apache.hadoop.fs.Path(p, genCommitted)) ||
            dirs.forall(d =>
              fs.exists(new org.apache.hadoop.fs.Path(p, s"$d/_SUCCESS")))
          g -> done
        }
      }
      .sortBy(_._1)

  private val textGenDirs = Seq("bands", "shingles", "members")

  /** Write `frames` as the next generation under `path` — numbered
    * past EVERY existing dir, committed or torn, so a crash leftover is
    * never written into — with the commit sentinel LAST. The one
    * generation writer for both the text index here and
    * [[Similarity]]'s vector index.
    */
  private[ops] def writeGen(path: String,
      frames: Seq[(String, DataFrame)]): Unit = {
    val spark = frames.head._2.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // numbering scans ALL gen dirs, committed or not, so the check
    // dirs don't matter here
    val next = listGens(fs, path, frames.map(_._1))
      .map(_._1).maxOption.getOrElse(-1) + 1
    val out = s"$path/gen=$next"
    frames.foreach { case (d, df) =>
      df.write.mode("overwrite").parquet(s"$out/$d") }
    fs.create(new org.apache.hadoop.fs.Path(s"$out/$genCommitted"), true).close()
  }

  /** [[writeGen]] + GC: drop every PRE-EXISTING generation except the
    * newest committed one (the caller may hold DataFrames whose
    * lineage still reads its files); torn gens from earlier crashes
    * are garbage and go too. `checkDirs` is the sentinel-less
    * completeness fallback's dir set — pass the ORIGINAL frame dirs
    * when a format grew new optional frames, so pre-sentinel
    * generations that predate them still classify committed instead of
    * being GC'd as torn.
    */
  private[ops] def writeGenAndGc(path: String,
      frames: Seq[(String, DataFrame)],
      checkDirs: Seq[String] = Seq.empty): Unit = {
    val spark = frames.head._2.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = if (checkDirs.nonEmpty) checkDirs else frames.map(_._1)
    val old = listGens(fs, path, dirs)
    writeGen(path, frames)
    val keepAlive = old.filter(_._2).map(_._1).maxOption
    old.map(_._1).filterNot(g => keepAlive.contains(g)).foreach(g =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/gen=$g"), true))
  }

  /** Base path of the newest COMMITTED generation under `path`, or
    * throw with the torn generations named (`what` labels the index
    * kind in the message).
    */
  private[ops] def newestCommittedGen(spark: org.apache.spark.sql.SparkSession,
      path: String, dirs: Seq[String], what: String): String = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gens = listGens(fs, path, dirs)
    val gen = gens.filter(_._2).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no committed $what generations under $path" +
          (if (gens.nonEmpty) s" (uncommitted/torn: ${gens.map(_._1).mkString(", ")})"
           else "")))
    s"$path/gen=$gen"
  }

  def compactIndex(index: DedupIndex, path: String,
      extraFrames: Seq[(String, DataFrame)] = Seq.empty): DedupIndex = {
    val spark = index.bands.sparkSession
    import spark.implicits._
    // meta rides in the generation like the vector index's granularity
    // frame; the committed-check stays on the three ORIGINAL frame dirs
    // so pre-meta generations keep loading (they load as unknown).
    // meta and `extraFrames` (the streaming loop's progress/last_pairs)
    // go BEFORE the three check dirs: writes are sequential and the
    // sentinel-less committed fallback accepts a generation once ALL
    // check dirs carry _SUCCESS, so anything that must ride a committed
    // generation has to finish FIRST. (The original ordering wrote
    // extraFrames after the check dirs — a crash in that window
    // produced a fallback-committed generation whose index contained
    // the fold but whose progress marker was missing, re-opening
    // exactly the replay-double-fold ingestOnce exists to close.)
    writeGenAndGc(path, compactFrames(index, extraFrames),
      checkDirs = textGenDirs)
    loadIndex(spark, path)
  }

  /** The ordered generation frame list — exposed so the spec can pin
    * the commit-window invariant (every extra frame precedes every
    * check dir) instead of trusting a comment.
    */
  private[graft] def compactFrames(index: DedupIndex,
      extraFrames: Seq[(String, DataFrame)]): Seq[(String, DataFrame)] = {
    val spark = index.bands.sparkSession
    import spark.implicits._
    Seq(
      "meta" -> Seq((index.numHashes, index.nBands, index.shingleK))
        .toDF("num_hashes", "n_bands", "shingle_k").coalesce(1)) ++
      extraFrames ++ Seq(
      "bands" -> index.bands.repartition(col("band_id"), col("bucket")),
      "shingles" -> index.shingles,
      "members" -> index.members)
  }

  /** Load the newest COMMITTED generation under `path` (written by
    * [[compactIndex]]) — the nightly/restart resume point. A torn
    * generation (crash between the three frame writes and the
    * sentinel) is skipped, falling back to the previous committed one.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String): DedupIndex =
    loadIndexAt(spark, newestCommittedGen(spark, path, textGenDirs, "dedup index"))

  private def loadIndexAt(spark: org.apache.spark.sql.SparkSession,
      base: String): DedupIndex = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a pre-meta generation could have been written with ANY banding
    // the API allowed — load it as UNKNOWN (-1: caller's params govern,
    // the pre-meta contract), never as a claimed default that the
    // banding gate would then wrongly enforce
    val (nh, nb, sk) =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/meta"))) {
        val m = spark.read.parquet(s"$base/meta").collect()(0)
        (m.getInt(m.fieldIndex("num_hashes")), m.getInt(m.fieldIndex("n_bands")),
          m.getInt(m.fieldIndex("shingle_k")))
      } else (-1, -1, -1)
    DedupIndex(
      spark.read.parquet(s"$base/bands"),
      spark.read.parquet(s"$base/shingles"),
      spark.read.parquet(s"$base/members"), nh, nb, sk)
  }

  /** The streaming dedup loop: per micro-batch, probe + fold
    * ([[probeAndExtend]]), and every `compactEvery` folded batches
    * [[compactIndex]] the result so plan size stays constant over the
    * stream's lifetime. Use from `foreachBatch`:
    * {{{
    *   val state = new Dedup.StreamingDedup(initial, ckDir, 8,
    *     "doc_id", "text", 0.9)
    *   stream.writeStream.foreachBatch { (b, _) =>
    *     sink(state.ingest(b))
    *   }
    * }}}
    * EVERY batch's pair output is pinned through [[Materialize.barrier]]
    * before it is returned: lazy pairs would read the currently-loaded
    * generation's parquet, which the compaction after next deletes — a
    * caller buffering a day of per-batch outputs before one sink write
    * must not crash on files GC'd underneath the lineage — and on a
    * cluster the pin is replicated or reliable, so the output also
    * survives losing an executor before the sink reads it.
    */
  final class StreamingDedup(initial: DedupIndex, compactPath: String,
      compactEvery: Int, id: String, text: String, threshold: Double,
      numHashes: Int = 64, bands: Int = 32, k: Int = 3,
      resumeBatchId: Long = -1L,
      resumePairs: Option[DataFrame] = None) {
    private val loop = new StandingIndexLoop[DedupIndex](initial, compactEvery,
      probeAndExtend(_, _, id, text, threshold, numHashes, bands, k),
      compactIndex(_, compactPath, _), "id_a BIGINT, id_b BIGINT, " +
        "n_a BIGINT, n_b BIGINT, n_inter BIGINT, jaccard DOUBLE",
      resumeBatchId, resumePairs)
    requireSameBanding(initial, numHashes, bands, k, "loop")
    def index: DedupIndex = loop.index

    /** Probe + fold one batch; returns the pairs touching it. */
    def ingest(batch: DataFrame): DataFrame = loop.ingest(batch)

    /** Exactly-once probe + fold, keyed by the engine's `batchId` —
      * the `foreachBatch(b, batchId)` entry point for a CHECKPOINTED
      * stream. The crash window foreachBatch leaves open: the fold
      * persists (generation committed), the process dies BEFORE the
      * engine commits the batch's offsets, and the restarted query
      * REPLAYS the batch — a second `ingest` would fold every (doc,
      * shingle) row of the batch into the index twice (duplicate
      * index rows, inflated shingle counts). Here the replayed id is
      * recognized against the PERSISTED progress marker and answered
      * with the STORED pair output of the original run — no re-fold,
      * no lost emission (the sink sees exactly what the first attempt
      * produced). Requires `compactEvery = 1`: every fold must commit
      * a generation before the engine can commit the batch, or a
      * crash loses un-compacted folds the replay can't reconstruct.
      * The engine replays at most the LAST uncommitted batch, so one
      * (progress, last_pairs) slot is the whole protocol; an id
      * behind the persisted progress means the checkpoint dir and the
      * index dir belong to different streams — refused loudly.
      */
    def ingestOnce(batchId: Long, batch: DataFrame): DataFrame =
      loop.ingestOnce(batchId, batch)
  }

  /** Rebuild a [[StreamingDedup]] from its compaction directory — the
    * restart entry point pairing with [[StreamingDedup.ingestOnce]]:
    * loads the newest committed generation's index AND its persisted
    * (progress, last_pairs) slot, so a replayed `batchId` after the
    * crash is answered from storage instead of re-folded. Generations
    * written before the progress frame existed (or by the plain
    * `ingest` path) resume with no progress — every batch then counts
    * as new, which is exactly the pre-exactly-once behavior.
    */
  def resumeStreamingDedup(spark: org.apache.spark.sql.SparkSession,
      compactPath: String, id: String, text: String, threshold: Double,
      numHashes: Int = 64, bands: Int = 32, k: Int = 3): StreamingDedup = {
    val (ix, bid, pairs) = StandingIndexLoop.resume(spark, compactPath,
      textGenDirs, "dedup index", loadIndexAt(spark, _))
    new StreamingDedup(ix, compactPath, compactEvery = 1, id, text, threshold,
      numHashes, bands, k, bid, pairs)
  }

  def buildDedupIndex(docs: DataFrame, id: String, text: String,
      numHashes: Int = 64, bands: Int = 32, k: Int = 3): DedupIndex = {
    val (members, repDocs) = collapseExact(docs, id, text)
    // pinned like repDupPairs/ngramCoverage pin theirs (r15 stage
    // audit): the index's band frame AND its shingles frame both derive
    // from `sh`, so an unpinned build re-ran the tokenize+shingle
    // flatMap — the measured hot path — once per consumer leg (the
    // probe's candidate join, the touched-rep verify, the sizes leg).
    // The frame is 2 longs per shingle; the nightly deployment writes
    // it to parquet anyway, so the pin is the in-session equivalent.
    val sh = Materialize.barrier(shingleHashes(repDocs, id, text, k))
    // the band arm is pinned like incrementalCore pins ITS batch arm
    // (and like the nightly deployment persists it to parquet): every
    // probe's candidate join reads it, and unpinned each read re-ran
    // the 32-hash minhash fold + band explode over the corpus shingles
    DedupIndex(
      Materialize.barrier(bandFrame(minhashFromShingles(sh, id, numHashes),
        id, bands, numHashes / bands)),
      sh, members, numHashes, bands, k)
  }

  /** Fold a processed batch into the index so the NEXT batch sees it.
    * Nightly-parquet users call this with the raw batch; the STREAMING
    * loop should use [[probeAndExtend]] instead, which reuses the probe
    * pass's already-computed batch artifacts rather than rebuilding
    * them. Batch collapse is per-batch only: a doc identical to an
    * EARLIER batch's doc stays its own representative, which is
    * correct — the cross-batch pair is found through banding
    * (identical signatures share every bucket) at Jaccard 1.
    */
  def extendIndex(index: DedupIndex, newDocs: DataFrame, id: String,
      text: String, numHashes: Int = 64, bands: Int = 32,
      k: Int = 3): DedupIndex = {
    // a batch banded differently than the index would union frames the
    // probe side can never match — same gate as the probe path
    requireSameBanding(index, numHashes, bands, k, "batch")
    val b = buildDedupIndex(newDocs, id, text, numHashes, bands, k)
    index.copy(bands = index.bands.unionByName(b.bands),
      shingles = index.shingles.unionByName(b.shingles),
      members = index.members.unionByName(b.members))
  }

  /** The streaming-ingest step: probe the index with a batch AND fold
    * the batch in, computing the batch's collapse/shingles/signatures
    * ONCE for both. Returns (pairs touching the batch, extended
    * index). Each pair surfaces exactly once — when its later member
    * arrives — so the union of per-step pair outputs equals one
    * full-corpus pass (spec-proven). Every union arm of the growing
    * index is pinned through [[Materialize]], so later probes reuse
    * results instead of recomputing N batches of lineage; plan size
    * still grows with batch count — a long-lived stream should
    * periodically compact the index to parquet (the nightly
    * [[buildDedupIndex]] path) and resume from the compacted frames.
    */
  def probeAndExtend(index: DedupIndex, newDocs: DataFrame, id: String,
      text: String, threshold: Double,
      numHashes: Int = 64, bands: Int = 32,
      k: Int = 3): (DataFrame, DedupIndex) = {
    val (pairs, batch) = incrementalCore(newDocs, index, id, text, threshold,
      numHashes, bands, k)
    (pairs, index.copy(bands = index.bands.unionByName(batch.bands),
      shingles = index.shingles.unionByName(batch.shingles),
      members = index.members.unionByName(batch.members)))
  }

  /** Incremental near-dup pass: every verified pair TOUCHING the new
    * batch — new-vs-new (the full collapse → LSH → verify pipeline)
    * plus new-vs-corpus (new representatives' bands probe the PREBUILT
    * index). The batch is collapsed/shingled/banded ONCE and shared by
    * both legs; the index side restricts to candidate-TOUCHED
    * representatives (left-semi) before verification, so a nightly run
    * costs O(batch × bucket-overlap), never a full corpus-shingle
    * scan. Corpus-vs-corpus pairs are the previous run's output and
    * are never recomputed. Recall matches the full pipeline: the
    * banding is identical, so candidate coverage of above-threshold
    * pairs carries the same (1−J^r)^b bound. CONTRACT: ids are
    * disjoint between `newDocs` and the index (shingle frames union
    * for verification, so a shared id would merge two documents).
    */
  def incrementalDupPairs(newDocs: DataFrame, index: DedupIndex,
      id: String, text: String, threshold: Double,
      numHashes: Int = 64, bands: Int = 32, k: Int = 3): DataFrame =
    incrementalCore(newDocs, index, id, text, threshold,
      numHashes, bands, k)._1

  /** Shared probe core: (pairs touching the batch, the batch's own
    * index artifacts) — [[probeAndExtend]] reuses the artifacts so the
    * streaming loop never computes a batch twice.
    *
    * One collapse + shingle pass and ONE MinHash pass over the batch
    * (the batch's band frame, pinned: it is also the index arm the
    * batch folds in), ONE candidate pin holding both the new-vs-new
    * pairs (the band self-join, `id_a < id_b`, exactly
    * [[lshCandidates]]' uncapped join) and the probe pairs (the bands ⋈
    * the index's bands), and ONE verify over the batch ∪ touched-index
    * shingle frame. Ids are disjoint between batch and index, and that
    * frame holds every shingle of every doc it holds, so each pair's
    * sizes, intersection and Jaccard are those of a verify over the
    * batch's frame alone. Every pin carries its measured size, so the
    * joins over a small batch's frames plan as broadcasts.
    */
  private def incrementalCore(newDocs: DataFrame, index: DedupIndex,
      id: String, text: String, threshold: Double,
      numHashes: Int, bands: Int, k: Int): (DataFrame, DedupIndex) = {
    requireSameBanding(index, numHashes, bands, k, "probe")
    // ONE pin evaluates the caller's batch plan (a gated batch's filter
    // and scoring jobs). It adds no exchange, so the batch keeps its
    // source partitioning for the shingle and MinHash passes. Without
    // it the collapse's membership and shingle pins would each run the
    // batch plan
    val batch = Materialize.barrier(newDocs.select(col(id), col(text)))
    val (members, repDocs) = collapseExact(batch, id, text)
    // then the text-bearing batch pin is released: neither the index
    // the batch folds into nor the pairs keep the batch's text
    val shNew = Materialize.barrier(shingleHashes(repDocs, id, text, k))
    Materialize.release(batch)
    // pinned: read by both candidate arms, and the index arm the batch
    // folds in (later probes read it as stored blocks)
    val newBands = Materialize.barrier(
      bandFrame(minhashFromShingles(shNew, id, numHashes),
        id, bands, numHashes / bands))
    def side(bs: DataFrame, as: String) =
      bs.select(col("band_id"), col("bucket"), col(id).as(as))
    val newVsNew = side(newBands, "id_a").join(side(newBands, "id_b"), Seq("band_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
    val probe = side(newBands, "id_a").join(side(index.bands, "id_b"), Seq("band_id", "bucket"))
    // pinned: read twice, by the touched-rep semi join and the verify
    val cands = Materialize.barrier(
      newVsNew.select("id_a", "id_b").union(probe.select("id_a", "id_b")).distinct())
    // verification reads only the TOUCHED index representatives — the
    // semi-join keeps per-run cost proportional to the probe, not the
    // corpus (sizes stay exact: all shingles of a kept doc survive)
    val touched = index.shingles
      .join(cands.select(col("id_b").as(id)), Seq(id), "left_semi")
    // the verify shingle frame (batch ∪ touched reps) is read three
    // times inside jaccardFromShingles (sizes + both intersection
    // joins) — pin the union once; its size is probe-proportional
    val shVerify = Materialize.barrier(shNew.unionByName(touched))
    val repPairs = jaccardFromShingles(shVerify, id, cands)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_a", "n_b", "n_inter", "jaccard")
    // expand BOTH reps to their identical members (same shingle set ⇒
    // same stats): `id_a` is always a batch rep, `id_b` a batch or an
    // index rep; the intra-group pairs are the batch's own
    // (the batch reps' sizes, over shVerify like the verify's own
    // sizes: the same aggregate, so adaptive execution reuses its stage)
    val repSizes = shVerify.groupBy(col(id)).agg(count(lit(1)).as("n"))
      .select(col(id).as("rep_id"), col("n"))
    (expandVerified(repPairs, members, repSizes, id,
      Some(members.unionByName(index.members))),
      DedupIndex(newBands, shNew, members, numHashes, bands, k))
  }

  /** LINEAR edge set for dup CLUSTERING: verified representative pairs
    * plus member→representative star edges. Connectivity-equivalent to
    * the expanded pair list (identical members connect through their
    * rep, near-dup groups connect at rep level), but a B-identical
    * cluster contributes B−1 edges instead of B²/2 — this is the edge
    * set connected components should consume at 100 TB, where the
    * exhaustive pair LIST is itself quadratic by definition.
    */
  def verifiedDupEdges(docs: DataFrame, id: String, text: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 32,
      maxBucketSize: Int = Int.MaxValue, k: Int = 3): DataFrame = {
    val (members, _, repPairs) = repDupPairs(docs, id, text, threshold,
      numHashes, bands, maxBucketSize, k)
    // rep = min id of its group, so star edges keep the id_a < id_b
    // orientation the pair convention uses
    val star = members.filter(col(id) =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col(id).as("id_b"))
    repPairs.select("id_a", "id_b").unionByName(star)
  }

  /** Per-document n-gram coverage against the rest of the corpus — the
    * RefinedWeb-style "how much of this doc already exists elsewhere"
    * dedup signal. For every doc: the fraction of its k-gram shingles
    * whose corpus document-frequency exceeds 1; a doc above the
    * threshold is boilerplate/recombined content even when no single
    * pair passes a Jaccard gate (it can be stitched from MANY partial
    * sources). Two shuffles total: shingle→df aggregate (map-side
    * combined), then the df join lands on the same shingle
    * partitioning (exchange reuse) and re-aggregates per doc — never a
    * pairwise comparison.
    */
  def ngramCoverage(docs: DataFrame, id: String, text: String,
      k: Int = 3, threshold: Double = 0.6): DataFrame = {
    // checkpointed: the df-aggregate subtree and the join subtree are
    // not canonically identical, so ReuseExchange cannot share them —
    // without this the tokenize+shingle flatMap (the measured hot
    // path) runs twice
    val sh = Materialize.barrier(shingleHashes(docs, id, text, k))
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(df, "shingle")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("coverage",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
      .withColumn("drop_doc", col("coverage") >= threshold)
  }

  /** SimHash near-dup pairs with ENSEMBLE candidate generation.
    *
    * Band the 64-bit simhash into `nBands` equal slices — by
    * pigeonhole, any pair within hamming distance `nBands − 1` shares
    * an unchanged band, so the band join is a complete candidate
    * source for that radius. Wider guaranteed radii are not affordable
    * by banding alone: narrower bands collide quadratically on a
    * templated corpus whose simhash bits correlate (measured: 16×4-bit
    * bands → ~30% of ALL pairs become candidates). So the hamming
    * 8..`maxHamming` tail rides the minhash-LSH candidate set instead
    * — guaranteed (1−(1−J^r)^b ≈ 1−1e-15 at dup-grade J) coverage of
    * every above-threshold pair, the ensemble real pipelines run.
    *
    * Candidates pass a codegen'd `bit_count(xor)` hamming filter ≤
    * `maxHamming`, then exact shingle-Jaccard verification ≥
    * `threshold`; neither candidate source is ever O(n²).
    */
  def simhashPairs(docs: DataFrame, id: String, text: String,
      nBands: Int = 8, maxHamming: Int = 23, threshold: Double = 0.8,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(64 % nBands == 0, "nBands must divide 64")
    val width = 64 / nBands
    // exact-identity collapse first (see verifiedDupPairs): identical
    // docs share a simhash, so they collide in every band — without the
    // collapse one B-sized identical cluster yields B²/2 band candidates
    // three shared frames, all pinned: the membership map, the shingle
    // frame (feeds signatures + verify), and the signature frame (feeds
    // the band join's both sides and the minhash tail's two hamming
    // lookups)
    val (members, repDocs) = collapseExact(docs, id, text)
    val sh = Materialize.barrier(shingleHashes(repDocs, id, text))
    val sig = Materialize.barrier(simhash(repDocs, id, text).select(col(id), col("simhash")))
    val banded = sig.select(col(id), col("simhash"),
      posexplode(array((0 until nBands).map(b =>
        shiftrightunsigned(col("simhash"), b * width)
          .bitwiseAND(lit((1L << width) - 1))): _*))
        .as(Seq("band_id", "band_val")))
    // each branch filters at ITS OWN radius, inside the branch, before
    // the dedup shuffle. The band branch keeps only its guaranteed
    // radius (nBands−1): hamming nBands..maxHamming is where a
    // templated corpus crowds with J < threshold near-similars, and
    // letting those reach the Jaccard verify costs 10× the whole query
    // (measured 22 s → ~3 s at sf0.1). The minhash tail — precise at
    // dup-grade J by construction — carries the wider radius alone; the
    // union is provably the same verified output.
    def ham(limit: Int) =
      bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= limit
    val aSide = banded.select(col("band_id"), col("band_val"),
      col(id).as("id_a"), col("simhash").as("sim_a"))
    val bandCands =
      if (maxBucketSize == Int.MaxValue)
        aSide
          .join(banded.select(col("band_id"), col("band_val"),
            col(id).as("id_b"), col("simhash").as("sim_b")), Seq("band_id", "band_val"))
          .filter(col("id_a") < col("id_b"))
          .filter(ham(math.min(nBands - 1, maxHamming)))
          .select("id_a", "id_b")
      else {
        // residual hot-bucket cap: anchor join (see Buckets.anchors)
        val anchors = Buckets.anchors(banded, Seq("band_id", "band_val"), id, maxBucketSize)
          .select(col("band_id"), col("band_val"),
            col(id).as("id_b"), col("simhash").as("sim_b"))
        aSide.join(anchors, Seq("band_id", "band_val"))
          .filter(col("id_a") =!= col("id_b"))
          .filter(ham(math.min(nBands - 1, maxHamming)))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
      }
    val lshTail = lshCandidates(
        minhashFromShingles(sh, id, numHashes = 32), id,
        bands = 16, rowsPerBand = 2, maxBucketSize)
      .join(sig.select(col(id).as("id_a"), col("simhash").as("sim_a")), "id_a")
      .join(sig.select(col(id).as("id_b"), col("simhash").as("sim_b")), "id_b")
      .filter(ham(maxHamming))
      .select("id_a", "id_b")
    // not pinned: jaccardFromShingles reads the candidate pairs once
    val cands = bandCands.union(lshTail).distinct()
    val repPairs = jaccardFromShingles(sh, id, cands)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_a", "n_b", "n_inter", "jaccard")
    val repSizes = sh.groupBy(col(id)).agg(count(lit(1)).as("n"))
      .select(col(id).as("rep_id"), col("n"))
    expandVerified(repPairs, members, repSizes, id)
  }

  /** 64-bit SimHash: per token hash, +1/−1 vote per bit, sign of the
    * summed votes becomes the bit. Folded with zip_with like minhash —
    * one groupBy, no UDFs.
    */
  def simhash(docs: DataFrame, id: String, text: String): DataFrame = {
    val tokHash = xxhash64(col("tok"))
    val exploded = docs.select(col(id), explode(split(norm(col(text)), "\\s+")).as("tok"))
    // one conditional-sum aggregate per bit (codegen'd, map-side
    // partially aggregated): the shuffle carries 64 longs per doc. The
    // earlier collect_list + zip_with fold materialized every token's
    // 64-element vote array in the aggregation buffer — an OOM on large
    // documents at scale.
    val bitVotes = (0 until 64).map(i =>
      sum(when(shiftright(tokHash, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$i"))
    val packed = (0 until 64).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    exploded.groupBy(col(id))
      .agg(bitVotes.head, bitVotes.tail :+ count(lit(1)).as("n_tokens"): _*)
      .withColumn("simhash", packed)
      .select(col(id), col("n_tokens"), col("simhash"))
  }
}
