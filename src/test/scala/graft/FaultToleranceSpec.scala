package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The 100 TB fault-tolerance story, checked on the path every query
  * runs: dedup operators pin their shared frames through
  * [[graft.ops.Materialize]], so a lost task attempt either recomputes
  * through the lineage below a pin or, on a cluster, finds the pinned
  * blocks replicated — either way the job finishes with the
  * fault-free output. Faults are injected at the input scan, upstream
  * of every pin.
  */
class FaultToleranceSpec extends SparkSpec {

  private def docs: DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("a failed task attempt recomputes through lineage on the pinned path") {
    val faults: LongAccumulator = spark.sparkContext.longAccumulator("injected_faults")
    // Fault injection at the SOURCE of the pipeline: the first attempt
    // of every stage's partition 0 dies while scanning the input — the
    // scheduler must re-run the attempt and the job must still finish.
    val faulty = faultingCopy(docs, faults)

    val expected = sortedRows(Dedup.verifiedDupPairs(docs, "doc_id", "text", 0.8))
    val got = sortedRows(Dedup.verifiedDupPairs(faulty, "doc_id", "text", 0.8))
    assert(got == expected)
    assert(expected.nonEmpty) // non-vacuous: testdata has dup pairs
    assert(faults.value > 0, "no retry attempt ran — test is vacuous")
  }

  test("ngramCoverage also survives first-attempt task loss") {
    val faults = spark.sparkContext.longAccumulator("injected_faults_cov")
    val faulty = faultingCopy(docs, faults)
    val expected = sortedRows(Dedup.ngramCoverage(docs, "doc_id", "text"))
    val got = sortedRows(Dedup.ngramCoverage(faulty, "doc_id", "text"))
    assert(got == expected)
    assert(faults.value > 0)
  }

  test("clusterBarrier materialization survives first-attempt task loss") {
    // the cluster leg of the Materialize seam: the count() barrier's
    // job hits an injected first-attempt failure, the scheduler
    // retries through lineage, and the persisted blocks then hold the
    // exact input — the localCheckpoint leg can't make this promise
    // (its blocks are the only copy), which is why the seam exists
    import graft.ops.Materialize
    val faults = spark.sparkContext.longAccumulator("injected_faults_mat")
    val src = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val m = Materialize.clusterBarrier(faultingCopy(src, faults))
    assert(sortedRows(m) == sortedRows(src))
    assert(faults.value > 0, "no retry attempt ran — test is vacuous")
    Materialize.release(m)
  }

  // the exactly-once streaming path: task loss while ingestOnce folds a
  // batch must neither change the pairs nor fold any row twice, and the
  // generation it commits must answer a replay from storage
  private def tmpDir(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("StreamingDedup.ingestOnce survives first-attempt task loss without a double fold") {
    val base = Dedup.buildDedupIndex(docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 4 === 0)
    def rows(ix: Dedup.DedupIndex) = Seq(ix.bands, ix.shingles, ix.members).map(_.count())
    val clean = new Dedup.StreamingDedup(base, tmpDir("graft_ft_clean"),
      compactEvery = 1, "doc_id", "text", 0.8)
    val expected = sortedRows(clean.ingestOnce(0L, batch))
    val faults = spark.sparkContext.longAccumulator("injected_faults_once")
    val dir = tmpDir("graft_ft_faulty")
    val faulty = new Dedup.StreamingDedup(base, dir, compactEvery = 1,
      "doc_id", "text", 0.8)
    val got = sortedRows(faulty.ingestOnce(0L, faultingCopy(batch, faults)))
    assert(faults.value > 0, "no retry attempt ran — test is vacuous")
    assert(expected.nonEmpty)
    assert(got == expected)
    assert(rows(faulty.index) == rows(clean.index))
    val resumed = Dedup.resumeStreamingDedup(spark, dir, "doc_id", "text", 0.8)
    assert(sortedRows(resumed.ingestOnce(0L, batch)) == expected)
    assert(rows(resumed.index) == rows(clean.index))
  }

  test("StreamingVecDedup.ingestOnce survives first-attempt task loss without a double fold") {
    import spark.implicits._
    def vec(theta: Double) =
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat, 0.0f)
    val base = Similarity.buildEmbeddingIndex(
      Seq((1L, vec(0.0)), (2L, vec(1.5)), (3L, vec(3.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nPlanes = 2, nTables = 16)
    val batch = Seq((10L, vec(0.05)), (11L, vec(1.5)), (12L, vec(1.52)),
      (13L, vec(4.2))).toDF("vec_id", "embedding")
    def rows(ix: Similarity.EmbeddingIndex) =
      Seq(ix.buckets, ix.repVecs, ix.members).map(_.count())
    val clean = new Similarity.StreamingVecDedup(base, tmpDir("graft_ft_vclean"),
      compactEvery = 1, "vec_id", "embedding", 0.95)
    val expected = sortedRows(clean.ingestOnce(0L, batch))
    val faults = spark.sparkContext.longAccumulator("injected_faults_vonce")
    val dir = tmpDir("graft_ft_vfaulty")
    val faulty = new Similarity.StreamingVecDedup(base, dir, compactEvery = 1,
      "vec_id", "embedding", 0.95)
    val got = sortedRows(faulty.ingestOnce(0L, faultingCopy(batch, faults)))
    assert(faults.value > 0, "no retry attempt ran — test is vacuous")
    assert(expected.nonEmpty)
    assert(got == expected)
    assert(rows(faulty.index) == rows(clean.index))
    val resumed = Similarity.resumeStreamingVecDedup(spark, dir,
      "vec_id", "embedding", 0.95)
    assert(sortedRows(resumed.ingestOnce(0L, batch)) == expected)
    assert(rows(resumed.index) == rows(clean.index))
  }

  /** A copy of `df` whose scan throws on the first attempt of partition
    * 0 in every stage that reads it. Implemented with mapPartitions on
    * the Row iterator (keeps the schema) so the failure happens inside
    * a task, exactly where an executor loss would surface.
    *
    * The accumulator counts RETRY attempts (attemptNumber > 0), not the
    * injected failures: Spark discards accumulator updates from failed
    * task attempts, so counting in the throwing attempt always reads 0.
    * A positive count is exactly the evidence wanted anyway — a second
    * attempt ran, i.e. the scheduler recomputed through lineage.
    */
  private def faultingCopy(df: DataFrame, faults: LongAccumulator): DataFrame = {
    implicit val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.repartition(4).mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0) {
        if (tc.attemptNumber() == 0)
          throw new RuntimeException("injected executor fault (attempt 0)")
        faults.add(1)
      }
      it
    }
  }
}
