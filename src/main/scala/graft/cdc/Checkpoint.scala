package graft.cdc

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, LongType}

/** Resolved-timestamp checkpoint frontier.
  *
  * Reference: `internal/staging/checkpoint/group.go:121` (`Advance`) —
  * each partition proposes monotonically increasing resolved
  * timestamps; a proposal that does not advance its partition's
  * frontier is rejected ("going backwards"), and the group's overall
  * resolved time is the MINIMUM frontier across partitions (a
  * multi-source feed is only resolved up to its slowest source).
  *
  * Spark-first: the proposal log is a DataFrame; regression detection
  * is a running-max window per partition in arrival order (bounded —
  * checkpoint streams are tiny relative to the data they govern), the
  * frontier one aggregation, the group minimum one more. The driver
  * reads the group minimum through [[readGroupResolved]], one job.
  */
object Checkpoint {

  /** Per-partition frontier with Advance accounting: for every
    * partition, the frontier (max proposed nanos), the proposal count,
    * and how many proposals were regressions (strictly below the
    * frontier at their arrival time — the reference rejects these with
    * a "going backwards" error; its Advance SQL inserts when the
    * proposal is `>=` the stored HLC, so an EQUAL re-proposal succeeds
    * idempotently and only strictly-less fires the error).
    */
  def advance(proposals: DataFrame, partition: Column, nanos: Column,
      arrival: Column): DataFrame = {
    val tagged = proposals.select(partition.as("partition"),
      nanos.as("__nanos"), arrival.as("__arrival"))
    val w = Window.partitionBy(col("partition")).orderBy(col("__arrival"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // first arrival: running max is NULL, < NULL is NULL, otherwise(0)
    // — never a rejection, matching the reference's empty-table case
    tagged
      .withColumn("__rejected",
        when(col("__nanos") < max(col("__nanos")).over(w), 1L).otherwise(0L))
      .groupBy("partition")
      .agg(
        max(col("__nanos")).as("frontier_nanos"),
        count(lit(1)).as("n_proposals"),
        sum(col("__rejected")).as("n_rejected"))
  }

  /** The group's resolved time: the minimum frontier across partitions
    * (multi-source minimum). One-row frame, meant to be broadcast.
    */
  def groupResolved(frontiers: DataFrame): DataFrame =
    frontiers.agg(min(col("frontier_nanos")).as("resolved_nanos"))

  /** The value of `groupResolved(advance(proposals, partition, nanos,
    * _))`, read to the driver in ONE job with no exchange: the
    * conveyor's control-plane read of its checkpoint. The group minimum
    * of per-partition maxima needs no rows together: each task folds
    * its rows to one max per partition, so at most one value per
    * partition per task reaches the driver, which takes the max per
    * partition and then the min. As in [[advance]], a null `nanos`
    * never counts and a null partition key is a partition of its own;
    * keys compare as grouping compares them (floating-point keys
    * normalized). `nanos` is read as a long. None when no partition has
    * a non-null proposal: the empty checkpoint.
    */
  def readGroupResolved(proposals: DataFrame, partition: Column, nanos: Column): Option[Long] = {
    val qe = proposals.select(partition, nanos.cast(LongType)).queryExecution
    val part = qe.analyzed.output.head
    val ref = BoundReference(0, part.dataType, part.nullable)
    val key = part.dataType match {
      case FloatType | DoubleType => NormalizeNaNAndZero(ref)
      case _ => ref
    }
    val maxima = SQLExecution.withNewExecutionId(qe, Some("readGroupResolved")) {
      qe.toRdd.mapPartitions { rows =>
        val keyOf = UnsafeProjection.create(Seq(key))
        val max = mutable.HashMap.empty[UnsafeRow, Long]
        rows.foreach { r =>
          if (!r.isNullAt(1)) {
            val (k, n) = (keyOf(r), r.getLong(1))
            if (max.get(k).forall(_ < n)) max(k.copy()) = n
          }
        }
        max.iterator
      }.collect()
    }
    maxima.groupMapReduce(_._1)(_._2)(math.max).values.minOption
  }
}
