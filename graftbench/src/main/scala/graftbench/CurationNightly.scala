package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** The nightly curation job in two phases, one JVM:
  *
  *  1. batch — [[CurationBatch]]: the `corpus_curation_e2e` chain over
  *     equal-size shards; gives rows_per_s. Writes no index.
  *  2. ingest — [[CurationIngest]]: the day's small batches gated and
  *     fed to `StreamingDedup.ingest` against the standing index; gives
  *     latency_ms_p50 (one batch per sample).
  *
  * The phases exercise the Dedup layer in opposite ways (pairwise
  * verify plus connected components, against index probe plus fold),
  * so a change to one shows in one metric and not the other.
  */
final class CurationNightly(cfg: JsonNode) extends Workload {
  private val batch = new CurationBatch(cfg.get("batch"))
  private val ingest = new CurationIngest(cfg.get("ingest"))

  // per-operation figures come from the phase whose end-to-end metric
  // they should move: job counts and driver gap from ingest (latency),
  // task time, shuffle, spill and pins from batch (throughput)
  private val fromIngest = Set("spark.jobs", "spark.stages", "spark.driver_gap_ms",
    "textops.load_lm_ms", "dedup.ingest_ms", "dedup.compact_ms", "dedup.index_rows",
    "dedup.index_bytes", "dedup.ramp")

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    // the phases' inputs are independent: prepare them concurrently, so
    // one's driver-side work overlaps the other's jobs
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fb = Future(batch.prepare(spark, seed, s"$dir/batch"))
    val fi = Future(ingest.prepare(spark, seed, s"$dir/ingest"))
    val b = Await.result(fb, Duration.Inf)
    val i = Await.result(fi, Duration.Inf)
    new Prepared {
      def run(t: Tracer, l: Option[BenchListener], warm: Boolean): Pass = {
        val pb = b.run(t, l, warm)
        val pi = i.run(t, l, warm)
        val ingestLayer = pi.layer.filter(m => fromIngest(m.name)).map(m => m.name -> m).toMap
        // the batch phase's own job figures, which the ingest ones replace
        val batchJobs = pb.layer.filter(m => m.name.startsWith("spark."))
          .map(m => s"batch.${m.name}" -> Main.fmt(m.value))
        Pass(pb.attempted + pi.attempted, pb.failed + pi.failed, pi.latMs, pb.rows, pb.wallMs,
          pi.held, pb.layer.map(m => ingestLayer.getOrElse(m.name, m)),
          pb.detail.map { case (k, v) => s"batch.$k" -> v } ++
            pi.detail.map { case (k, v) => s"ingest.$k" -> v } ++ batchJobs)
      }
    }
  }
}
