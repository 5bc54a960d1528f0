package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import graft.ops.{Dedup, Materialize, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared corpus-curation pieces: input properties from the config,
  * the gate chain, and the driver-side union-find the checks use.
  */
object Curation {
  def props(c: JsonNode): Gen.CorpusProps = Gen.CorpusProps(
    c.get("len_min").asInt(), c.get("len_max").asInt(), c.get("pii_share").asDouble(),
    c.get("gopher_reject_share").asDouble(), c.get("lm_reject_share").asDouble(),
    c.get("near_dup_share").asDouble(), c.get("exact_dup_share").asDouble(),
    c.get("sources").asInt())

  def docsDf(spark: SparkSession, docs: Seq[Gen.Doc], group: String): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.source, d.text, group)).toDF("doc_id", "source", "text", "grp")
  }

  /** Train the bigram LM on `n` reference documents and persist it. */
  def trainLm(spark: SparkSession, seed: Long, n: Int, path: String): Unit = {
    import spark.implicits._
    TextOps.saveLm(TextOps.trainLm(
      Gen.reference(seed, n).zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "text"), path)
  }

  /** PII scrub → Gopher rules on the scrubbed text. */
  def filtered(raw: DataFrame): DataFrame =
    TextOps.gopherFilters(
      TextOps.piiScrub(raw, "text")
        .select(col("doc_id"), col("source"), col("scrubbed").as("text"),
          (col("n_emails") + col("n_phones") + col("n_ips") > 0).as("has_pii")),
      "text")
      .filter(col("keep"))
      .select("doc_id", "source", "text", "has_pii")

  /** The LM perplexity gate over filtered documents. */
  def lmGate(model: TextOps.LmModel, docs: DataFrame, cut: Double): DataFrame =
    TextOps.scoreLm(model, docs, "doc_id", "text")
      .filter(col("mean_bits") <= cut)
      .select("doc_id", "source", "text", "has_pii")

  /** Ids of the RDDs the context holds persisted right now. */
  def pinned(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drop the blocks of the RDDs `ids`. */
  def release(spark: SparkSession, ids: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (ids.contains(id)) rdd.unpersist(blocking = false)
    }

  /** Drop the blocks of every RDD pinned since `before` was taken (what
    * `Materialize.releaseAll` does between operations, sparing pins
    * that outlive the operation, such as a standing index).
    */
  def releaseSince(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = false)
    }

  /** Union-find over an edge list: node → smallest id of its component. */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}

/** `corpus_curation_e2e` as a batch job over equal-size seeded shards:
  * scrub → Gopher → LM gate, verified near-dup edges, connected
  * components, per-source rollup. One operation = one shard.
  */
final class CurationBatch(cfg: JsonNode) extends Workload {
  private val shards = cfg.get("shards").asInt()
  private val warmShards = cfg.get("warmup_shards").asInt()
  private val shardDocs = cfg.get("shard_docs").asInt()
  private val cut = cfg.get("lm_cut_bits").asDouble()
  private val jac = cfg.get("jaccard").asDouble()
  private val nh = cfg.get("num_hashes").asInt()
  private val nb = cfg.get("bands").asInt()
  private val props = Curation.props(cfg.get("corpus"))

  /** Rollup row: (source, n_raw, n_pass, n_kept, kept_chars, n_pii_docs). */
  type Roll = (String, Long, Long, Long, Long, Long)

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val docs = (0 until math.max(shards, warmShards)).map(s =>
      Gen.corpusGroup(seed, s, s.toLong * shardDocs, shardDocs, props))
    docs.zipWithIndex.map { case (d, s) => Curation.docsDf(spark, d, s.toString) }
      .reduce(_ union _)
      .write.partitionBy("grp").parquet(s"$dir/corpus")
    Curation.trainLm(spark, seed, cfg.get("reference_docs").asInt(), s"$dir/lm")
    new Prepared {
      private val model = TextOps.loadLm(spark, s"$dir/lm")
      def run(t: Tracer, l: Option[BenchListener], warm: Boolean): Pass =
        pass(spark, dir, docs.take(if (warm) warmShards else shards), model, t, l, warm)
    }
  }

  private def shard(spark: SparkSession, dir: String, s: Int): DataFrame =
    spark.read.parquet(s"$dir/corpus/grp=$s")

  /** The chain over one shard, ending in the collected rollup. */
  private def chain(spark: SparkSession, dir: String, s: Int, model: TextOps.LmModel,
      t: Tracer): Seq[Roll] = {
    val raw = shard(spark, dir, s)
    val gated = Curation.lmGate(model, Curation.filtered(raw), cut)
    val attrs = t.span("materialize.attrs")(Materialize.barrier(
      gated.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"), col("has_pii"))))
    val edges = t.span("dedup.verified_dup_edges")(
      Dedup.verifiedDupEdges(gated, "doc_id", "text", jac, numHashes = nh, bands = nb))
    val cl = t.span("dedup.dup_clusters")(
      Dedup.dupClusters(attrs.select("doc_id"), "doc_id", edges))
    t.span("rollup") {
      val stats = attrs.join(cl.select("doc_id", "is_dup"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_pass"),
          sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("is_dup"), col("n_chars")).otherwise(0L)).as("kept_chars"),
          sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii"))
      raw.groupBy("source").agg(count(lit(1)).as("n_raw"))
        .join(stats, Seq("source"), "left")
        .na.fill(0L)
        .collect().toSeq
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_raw"), r.getAs[Long]("n_pass"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("kept_chars"), r.getAs[Long]("n_pii")))
        .sortBy(_._1)
    }
  }

  private def pass(spark: SparkSession, dir: String, docs: Seq[Seq[Gen.Doc]],
      model: TextOps.LmModel, t: Tracer, l: Option[BenchListener], warm: Boolean): Pass = {
    val shards = docs.size
    val lat = mutable.ArrayBuffer.empty[Double]
    val out = mutable.ArrayBuffer.empty[Option[Seq[Roll]]]
    val wall0 = System.nanoTime()
    for (s <- 0 until shards) {
      t.beginOp(s)
      val before = Curation.pinned(spark)
      val st = System.nanoTime()
      val r = try Some(t.span("op.batch")(chain(spark, dir, s, model, t)))
        catch { case e: Exception => System.err.println(s"shard $s failed: $e"); None }
      lat += (System.nanoTime() - st) / 1e6
      Main.log(f"op ${lat.size - 1} ${lat.last}%.0f ms")
      out += r
      Curation.releaseSince(spark, before)
    }
    val wallMs = (System.nanoTime() - wall0) / 1e6
    // isolated layer actions, traced pass only, outside the timed ops
    val iso = if (t.enabled) isolated(spark, dir, shards, model, t) else Nil
    // a warm-up pass is not measured and skips the reference check
    val expected = if (warm) out.map(_.getOrElse(Nil)).toSeq else reference(spark, dir, docs, model)
    val failedShards = (0 until shards).filter(s => !out(s).contains(expected(s)))
    failedShards.foreach(s => System.err.println(
      s"shard $s: rollup ${out(s)} != reference ${expected(s)}"))
    val layer = l.map { li =>
      val ly = new Layers(spark, t, li)
      // one barrierAgg action per connected-components round
      val ccRounds = ly.named("dedup.dup_clusters")
        .map(s => ly.jobsUnder(s).filter(_.pin.contains("barrierAgg")).map(_.exec).distinct.size.toDouble)
      Layers.complete(ly.perOp("op.batch") ++ iso ++ Seq(
        Metric("textops.filter_ms", ly.medianMs("textops.filter"), "ms"),
        Metric("textops.score_lm_ms", ly.medianMs("textops.score_lm"), "ms"),
        Metric("dedup.verified_dup_edges_ms", ly.medianMs("dedup.verified_dup_edges"), "ms"),
        Metric("dedup.dup_clusters_ms", ly.medianMs("dedup.dup_clusters"), "ms"),
        Metric("dedup.cc_rounds", Stats.median(ccRounds), "count")))
    }.getOrElse(Nil)
    Pass(shards, failedShards.size, lat.toSeq, shards.toLong * shardDocs, wallMs, Held.none, layer,
      Map("shard_docs" -> shardDocs.toString, "shards" -> shards.toString))
  }

  /** Layer actions timed on their own: the regex filter, the LM score,
    * and LSH candidates against verified pairs (per shard, summed).
    */
  private def isolated(spark: SparkSession, dir: String, shards: Int,
      model: TextOps.LmModel, t: Tracer): Seq[Metric] = {
    var cand = 0L
    var verified = 0L
    for (s <- 0 until shards) {
      val before = Curation.pinned(spark)
      val raw = shard(spark, dir, s)
      val f = Curation.filtered(raw)
      t.span("textops.filter")(f.count())
      t.span("textops.score_lm")(TextOps.scoreLm(model, f, "doc_id", "text").count())
      val gated = Curation.lmGate(model, f, cut)
      cand += t.span("dedup.candidates")(Dedup.lshCandidates(
        Dedup.minhashSignatures(gated, "doc_id", "text", nh), "doc_id", nb, nh / nb).count())
      verified += t.span("dedup.verified")(Dedup.verifiedDupPairs(
        gated, "doc_id", "text", jac, numHashes = nh, bands = nb).count())
      Curation.releaseSince(spark, before)
    }
    Seq(Metric("dedup.candidate_pairs", cand.toDouble, "count"),
      Metric("dedup.verified_pairs", verified.toDouble, "count"),
      Metric("dedup.verify_yield", if (cand == 0) 0.0 else verified.toDouble / cand, "ratio"))
  }

  /** One-shot reference over all shards at once: the same gate
    * operators in one plan, `verifiedDupPairs` (the expanded pair list,
    * not the edge set the chain uses) with same-shard pairs only, and
    * union-find on the driver in place of `dupClusters`. Also checks
    * the planted truth: planted rejects never pass, and every planted
    * duplicate whose source passes joins its source's component.
    */
  private def reference(spark: SparkSession, dir: String, docs: Seq[Seq[Gen.Doc]],
      model: TextOps.LmModel): Seq[Seq[Roll]] = {
    val shards = docs.size
    val before = Curation.pinned(spark)
    val raw = spark.read.parquet(s"$dir/corpus").filter(col("grp") < shards)
    val gated = Materialize.barrier(Curation.lmGate(model,
      Curation.filtered(raw.select("doc_id", "source", "text")), cut))
    val sur = gated.select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("n"), col("has_pii")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getBoolean(3))).toMap
    val pairs = Dedup.verifiedDupPairs(gated, "doc_id", "text", jac, numHashes = nh, bands = nb)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a / shardDocs == b / shardDocs }
    Curation.releaseSince(spark, before)
    val comp = Curation.components(pairs)
    val byId = docs.flatten.map(d => d.id -> d).toMap
    val plantedOk = byId.values.forall { d =>
      if (d.kind == "gopher_reject" || d.kind == "lm_reject") !sur.contains(d.id)
      else if (d.dupOf >= 0 && sur.contains(d.dupOf) && sur.contains(d.id))
        comp.get(d.id).exists(c => comp.get(d.dupOf).contains(c))
      else true
    }
    if (!plantedOk) System.err.println("planted truth violated in curation_batch reference")
    (0 until shards).map { s =>
      val ds = docs(s)
      ds.groupBy(_.source).toSeq.map { case (src, g) =>
        val pass = g.filter(d => sur.contains(d.id))
        val kept = pass.filter(d => comp.getOrElse(d.id, d.id) == d.id)
        (src, g.size.toLong, pass.size.toLong, kept.size.toLong,
          kept.map(d => sur(d.id)._2).sum, pass.count(d => sur(d.id)._3).toLong)
      }.sortBy(_._1) match {
        case r if plantedOk => r
        case _ => Nil
      }
    }
  }
}
