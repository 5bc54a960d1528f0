package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import graft.ops.{Dedup, Materialize, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The nightly loop: a standing dedup index built in set-up from a base
  * corpus, then a fixed sequence of small batches gated and fed to
  * `Dedup.StreamingDedup.ingest`, compacting every `compact_every`
  * batches, with one LM model swap (`TextOps.loadLm`) at a fixed batch.
  * One operation = one batch.
  */
final class CurationIngest(cfg: JsonNode) extends Workload {
  private val baseDocs = cfg.get("base_docs").asInt()
  private val batches = cfg.get("batches").asInt()
  private val warmBatches = cfg.get("warmup_batches").asInt()
  private val batchDocs = cfg.get("batch_docs").asInt()
  private val compactEvery = cfg.get("compact_every").asInt()
  private val swapAt = cfg.get("lm_swap_at").asInt()
  private val cut = cfg.get("lm_cut_bits").asDouble()
  private val jac = cfg.get("jaccard").asDouble()
  private val nh = cfg.get("num_hashes").asInt()
  private val nb = cfg.get("bands").asInt()
  private val props = Curation.props(cfg.get("corpus"))

  private def batchOf(id: Long): Int = ((id - baseDocs) / batchDocs).toInt

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val pool = mutable.ArrayBuffer.empty[(Long, Array[String])]
    val base = Gen.corpusGroup(seed, 0, 0L, baseDocs, props.copy(
      piiShare = 0, gopherRejectShare = 0, lmRejectShare = 0), pool)
    val docs = (0 until math.max(batches, warmBatches)).map(b =>
      Gen.corpusGroup(seed, b + 1, baseDocs.toLong + b.toLong * batchDocs, batchDocs, props, pool))
    docs.zipWithIndex.map { case (d, b) => Curation.docsDf(spark, d, b.toString) }
      .reduce(_ union _)
      .write.partitionBy("grp").parquet(s"$dir/batches")
    Curation.docsDf(spark, base, "base").drop("grp").write.parquet(s"$dir/base")
    // model A: the reference; model B: retrained on a grown reference
    val nRef = cfg.get("reference_docs").asInt()
    Curation.trainLm(spark, seed, nRef, s"$dir/lmA")
    Curation.trainLm(spark, seed + 1, nRef * 2, s"$dir/lmB")
    // the standing index; its frames are pinned, and every pass starts
    // a fresh StreamingDedup from it
    val baseIndex = Dedup.buildDedupIndex(spark.read.parquet(s"$dir/base")
      .select("doc_id", "text"), "doc_id", "text", numHashes = nh, bands = nb)
    new Prepared {
      private var round = 0
      def run(t: Tracer, l: Option[BenchListener], warm: Boolean): Pass = {
        round += 1
        pass(spark, dir, s"$dir/run$round", baseIndex, docs.take(if (warm) warmBatches else batches),
          t, l, warm)
      }
    }
  }

  private def gate(spark: SparkSession, dir: String, b: Int, model: TextOps.LmModel): DataFrame =
    Curation.lmGate(model, Curation.filtered(spark.read.parquet(s"$dir/batches/grp=$b")), cut)
      .select("doc_id", "text")

  private def pass(spark: SparkSession, dir: String, runDir: String, baseIndex: Dedup.DedupIndex,
      docs: Seq[Seq[Gen.Doc]], t: Tracer, l: Option[BenchListener], warm: Boolean): Pass = {
    val batches = docs.size
    val pinnedBefore = Curation.pinned(spark)
    val state = new Dedup.StreamingDedup(baseIndex,
      s"$runDir/index", compactEvery, "doc_id", "text", jac, numHashes = nh, bands = nb)
    var model = TextOps.loadLm(spark, s"$dir/lmA")
    val lat = mutable.ArrayBuffer.empty[Double]
    val out = mutable.ArrayBuffer.empty[Option[Set[(Long, Long)]]]
    val wall0 = System.nanoTime()
    for (b <- 0 until batches) {
      t.beginOp(b)
      val st = System.nanoTime()
      val r = try Some(t.span("op.ingest") {
        if (b == swapAt) model = t.span("textops.load_lm")(TextOps.loadLm(spark, s"$dir/lmB"))
        val gated = gate(spark, dir, b, model)
        val pairs = t.span(if ((b + 1) % compactEvery == 0) "dedup.ingest_compact" else "dedup.ingest")(
          state.ingest(gated))
        pairs.select("id_a", "id_b").collect()
          .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
      }) catch { case e: Exception => System.err.println(s"batch $b failed: $e"); None }
      lat += (System.nanoTime() - st) / 1e6
      Main.log(f"op ${lat.size - 1} ${lat.last}%.0f ms")
      out += r
    }
    val wallMs = (System.nanoTime() - wall0) / 1e6
    // a warm-up pass is not measured and skips the reference check
    val expected = if (warm) out.map(_.getOrElse(Set.empty[(Long, Long)])).toSeq else reference(spark, dir, docs)
    val failed = (0 until batches).filter(b => !out(b).contains(expected(b)))
    failed.foreach(b => System.err.println(
      s"batch $b: pairs ${out(b).map(_.size)} != reference ${expected(b).size}"))
    val layer = l.map { li =>
      val ly = new Layers(spark, t, li)
      val q = math.max(1, batches / 4)
      val compact = ly.named("dedup.ingest_compact").map { s =>
        Stats.unionLength(ly.jobsUnder(s).filter(j => j.site.contains("Dedup$.compactIndex"))
          .map(j => (j.start, j.end)))
      }
      val ix = state.index
      val idxRows = Seq(ix.bands, ix.shingles, ix.members).map(_.count()).sum
      Layers.complete(ly.perOp("op.ingest") ++ Seq(
        Metric("textops.load_lm_ms", ly.medianMs("textops.load_lm"), "ms"),
        Metric("dedup.ingest_ms", ly.medianMs("dedup.ingest"), "ms"),
        Metric("dedup.compact_ms", if (compact.isEmpty) 0.0 else Stats.median(compact), "ms"),
        Metric("dedup.index_rows", idxRows.toDouble, "count"),
        Metric("dedup.index_bytes", dirBytes(new java.io.File(s"$runDir/index")).toDouble, "bytes"),
        Metric("dedup.ramp", (lat.takeRight(q).sum / q) / (lat.take(q).sum / q), "ratio")))
    }.getOrElse(Nil)
    val held = if (warm) Held.none else Held.measure(spark)
    Curation.releaseSince(spark, pinnedBefore)
    Pass(batches, failed.size, lat.toSeq, batches.toLong * batchDocs, wallMs, held, layer,
      Map("batch_docs" -> batchDocs.toString, "batches" -> batches.toString))
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** One-shot reference: the same gate per batch (with the model each
    * batch position uses), then `verifiedDupPairs` once over the base
    * corpus plus every gated batch. A pair belongs to the batch of its
    * later member; pairs inside the base corpus belong to none. Also
    * checks that every planted duplicate whose source and copy both
    * survive is found.
    */
  private def reference(spark: SparkSession, dir: String,
      docs: Seq[Seq[Gen.Doc]]): Seq[Set[(Long, Long)]] = {
    val batches = docs.size
    val all0 = spark.read.parquet(s"$dir/batches").filter(col("grp") < batches)
    def gateAll(model: String, keep: org.apache.spark.sql.Column): DataFrame =
      Curation.lmGate(TextOps.loadLm(spark, s"$dir/$model"),
        Curation.filtered(all0.filter(keep).select("doc_id", "source", "text")), cut)
        .select("doc_id", "text")
    val gated = gateAll("lmA", col("grp") < swapAt).union(gateAll("lmB", col("grp") >= swapAt))
    val before = Curation.pinned(spark)
    val all = Materialize.barrier(spark.read.parquet(s"$dir/base").select("doc_id", "text")
      .union(gated))
    val survivors = all.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.verifiedDupPairs(all, "doc_id", "text", jac, numHashes = nh, bands = nb)
      .select("id_a", "id_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .filter(_._2 >= baseDocs)
    Curation.releaseSince(spark, before)
    val pairSet = pairs.toSet
    val plantedOk = docs.flatten.forall(d =>
      d.dupOf < 0 || !survivors.contains(d.id) || !survivors.contains(d.dupOf) ||
        pairSet.contains((math.min(d.id, d.dupOf), math.max(d.id, d.dupOf))))
    if (!plantedOk) System.err.println("planted truth violated in curation_ingest reference")
    val byBatch = pairs.groupBy(p => batchOf(p._2)).map { case (k, v) => k -> v.toSet }
    (0 until batches).map(i => if (plantedOk) byBatch.getOrElse(i, Set.empty) else Set((-1L, -1L)))
  }
}
