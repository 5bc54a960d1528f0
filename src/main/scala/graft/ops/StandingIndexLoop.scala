package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one standing-index streaming loop, configured by
  * [[Dedup.StreamingDedup]] (text) and [[Similarity.StreamingVecDedup]]
  * (vectors), whose docs state its contract. It owns the fold counter
  * and the `compactEvery` cadence, the per-batch [[Materialize.barrier]]
  * pin, and the one-slot exactly-once replay protocol
  * ([[Dedup.StreamingDedup.ingestOnce]]). An index kind passes only what
  * differs: its probe-and-fold step, its compaction (extra frames
  * written before its check dirs), and its pair schema as DDL.
  */
private[ops] final class StandingIndexLoop[I](initial: I, compactEvery: Int,
    probeAndFold: (I, DataFrame) => (DataFrame, I),
    compact: (I, Seq[(String, DataFrame)]) => I, pairSchema: String,
    resumeBatchId: Long, resumePairs: Option[DataFrame]) {
  require(compactEvery > 0, "compactEvery must be positive")
  private var index0 = initial
  private var folded = 0
  private var lastBatchId = resumeBatchId
  private var lastPairs = resumePairs
  def index: I = index0

  def ingest(batch: DataFrame): DataFrame = ingestCore(batch, None)

  def ingestOnce(batchId: Long, batch: DataFrame): DataFrame = {
    require(compactEvery == 1,
      "ingestOnce (exactly-once) requires compactEvery = 1: every fold " +
        "must persist before the engine commits the batch's offsets")
    require(batchId >= 0, "batch ids are nonnegative")
    if (batchId <= lastBatchId) {
      require(batchId == lastBatchId,
        s"batch $batchId replayed behind persisted progress $lastBatchId — " +
          "the engine replays at most the last uncommitted batch, so an " +
          "older id means this checkpoint dir and index dir belong to " +
          "different streams")
      lastPairs.getOrElse(batch.sparkSession.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType.fromDDL(pairSchema)))
    } else {
      val out = ingestCore(batch, Some(batchId))
      lastBatchId = batchId
      lastPairs = Some(out)
      out
    }
  }

  private def ingestCore(batch: DataFrame, batchId: Option[Long]): DataFrame = {
    val (pairs, next) = probeAndFold(index0, batch)
    val out = Materialize.barrier(pairs)
    folded += 1
    index0 =
      if (folded % compactEvery == 0) compact(next, batchId.toSeq.flatMap { b =>
        val spark = out.sparkSession
        import spark.implicits._
        Seq("progress" -> Seq(b).toDF("last_batch_id").coalesce(1),
          "last_pairs" -> out)
      })
      else next
    out
  }
}

private[ops] object StandingIndexLoop {

  /** Resolve the newest committed generation under `path` ONCE and read
    * from that one base both the index (`load`) and the persisted
    * (progress, last_pairs) slot. A generation without a progress frame
    * (pre-exactly-once, or written by plain `ingest`) resumes at
    * (-1, None), so every batch then counts as new.
    */
  def resume[I](spark: SparkSession, path: String, checkDirs: Seq[String],
      what: String, load: String => I): (I, Long, Option[DataFrame]) = {
    val base = Dedup.newestCommittedGen(spark, path, checkDirs, what)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def frame(d: String) = Option.when(
      fs.exists(new org.apache.hadoop.fs.Path(s"$base/$d")))(spark.read.parquet(s"$base/$d"))
    val ix = load(base)
    val bid = frame("progress").map(_.collect()(0).getLong(0))
    (ix, bid.getOrElse(-1L), bid.flatMap(_ => frame("last_pairs")))
  }
}
