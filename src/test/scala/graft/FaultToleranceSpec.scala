package graft

import graft.ops.Dedup
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
