package org.apache.spark.sql {

  import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
  import org.apache.spark.sql.catalyst.plans.logical.Statistics
  import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
  import org.apache.spark.util.LongAccumulator

  /** The checkpoint legs of [[graft.ops.Materialize]]: Spark's own
    * `Dataset.checkpoint` (one SQL execution; the executed plan's rows
    * copied into an RDD marked for a local or reliable checkpoint; the
    * eager path is `doCheckpoint`, one job), except that the marked RDD
    * counts its rows and their UnsafeRow bytes as it is computed. Only
    * that first computation counts: every later read is of the stored
    * blocks or files. Spark keeps `RDD.doCheckpoint` and
    * `Dataset.ofRows` package-private, hence this package.
    */
  object GraftPin {

    /** A pinned frame and the counts its first computation leaves. */
    final class Pending(val frame: DataFrame, rows: LongAccumulator, bytes: LongAccumulator) {

      /** [[frame]] with its `LogicalRDD` leaf carrying the measured row
        * count and size, in place of the estimate the optimizer made
        * before the pin (join estimates multiply: a 20000-row pinned
        * join result read as 46 GB). Call once the frame has been
        * computed. */
      def measured: DataFrame = frame.queryExecution.logical match {
        case leaf: LogicalRDD =>
          val session = frame.sparkSession.asInstanceOf[classic.SparkSession]
          val stats = Statistics(BigInt(bytes.sum), Some(BigInt(rows.sum)))
          classic.Dataset.ofRows(session, leaf.copy()(session, Some(stats), Some(leaf.constraints)))
        case other => throw new IllegalStateException(s"pinned frame's leaf is not a LogicalRDD: $other")
      }
    }

    def checkpoint(df: DataFrame, reliable: Boolean, eager: Boolean): Pending = {
      val ds = df.asInstanceOf[classic.Dataset[Row]]
      val sc = ds.sparkSession.sparkContext
      val (rows, bytes) = (sc.longAccumulator, sc.longAccumulator)
      val qe = ds.queryExecution
      val schema = ds.schema
      SQLExecution.withNewExecutionId(qe, Some(if (reliable) "checkpoint" else "localCheckpoint")) {
        qe.executedPlan.resetMetrics()
        val rdd = qe.executedPlan.execute().mapPartitions({ it =>
          lazy val toUnsafe = UnsafeProjection.create(schema)
          it.map { row =>
            rows.add(1L)
            bytes.add(row match {
              case u: UnsafeRow => u.getSizeInBytes
              case r => toUnsafe(r).getSizeInBytes
            })
            row.copy()
          }
        }, preservesPartitioning = true)
        if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
        if (eager) rdd.doCheckpoint()
        new Pending(classic.Dataset.ofRows(ds.sparkSession,
          LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), rows, bytes)
      }
    }
  }
}

package graft.ops {

  import org.apache.spark.sql.{Column, DataFrame, GraftPin, Row}
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.storage.StorageLevel

  /** The ONE seam for correctness-load-bearing materialization.
    *
    * Several operators must pin a frame to a SINGLE physical evaluation
    * before multiple consumers derive from it (the range-rank legs, the
    * chunked-verify slices, the BPE merge table): without a barrier each
    * consumer re-evaluates the lineage independently, and a
    * non-deterministic stage in that lineage — RangePartitioner's
    * reservoir sample under partial sampling is the in-repo case — lets
    * the consumers silently disagree (the r12 partial-sampling
    * double-count).
    *
    * A local checkpoint is the right barrier on a single-JVM master:
    * truncated lineage, blocks in the one executor, no HDFS round-trip.
    * But it is NOT executor-loss-tolerant — local checkpoints live only
    * on executors, so on a real cluster losing one executor mid-query
    * kills the job unrecoverably (invisible on local[32], fatal at 1000
    * executors). The cluster path therefore uses `persist(DISK_ONLY_2)`
    * + a count barrier instead:
    *
    *  - DISK_ONLY_2 keeps TWO replicas, so a single executor loss serves
    *    the block from the replica with no recompute at all;
    *  - when both replicas are lost, the lost partitions recompute from
    *    lineage — and that recompute is DETERMINISTIC even through a
    *    range exchange, because a persisted frame is one physical plan
    *    with ONE RangePartitioner whose sampled boundaries were fixed
    *    when the DAG first ran; recompute reuses the partitioner object,
    *    never re-samples (spec-pinned in MaterializeSpec's total-block-
    *    loss recompute case; first-attempt TASK loss during the barrier
    *    job itself is FaultToleranceSpec's clusterBarrier case);
    *  - the count() barrier makes the persist EAGER, so every consumer
    *    forked after `barrier` returns reads stored blocks, matching
    *    the checkpoint legs' eager contract.
    *
    * Every pin carries MEASURED statistics, so a join over a pinned
    * frame plans on its real size (a small pin broadcasts) instead of
    * the estimate the optimizer made before the pin:
    *
    *  - local and reliable checkpoint legs: the rows and UnsafeRow bytes
    *    of the stored result, counted by the materializing job itself
    *    as each row is copied into the pinned RDD ([[GraftPin]]), and
    *    set on the frame's rebuilt `LogicalRDD` leaf. The size is what
    *    is stored, never rows × a per-type default, so a text pin reads
    *    as large as it is;
    *  - persist leg: Spark's `InMemoryRelation` already reports the
    *    cached batches' row count and stored (columnar) size once its
    *    buffers are loaded, which the count barrier does.
    *
    * No pin gains a job for this: the counts ride the action that
    * materializes the pin.
    *
    * Pins run one at a time, on the calling thread: an operator with
    * several pins calls [[barrier]] once per frame. Nothing here blocks
    * on a shared thread pool, so a failed pin fails its caller at once
    * and no pin waits on another's thread.
    */
  object Materialize {

    /** Materialize `df` once; every later consumer reads the stored
      * result, never re-evaluates the lineage. One job on the local leg
      * (plus the adaptive plan's shuffle stages, as for any action).
      *
      * Cluster masters with a configured checkpoint dir get a RELIABLE
      * checkpoint — the strongest barrier: lineage truncated (the
      * iterative callers' plan-growth fix, same as the local leg) AND
      * blocks on fault-tolerant storage, so executor loss costs a
      * re-read, never a job. Without a checkpoint dir the persist+count
      * fallback below applies.
      */
    def barrier(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (sc.isLocal || sc.getCheckpointDir.isDefined)
        GraftPin.checkpoint(df, reliable = !sc.isLocal, eager = true).measured
      else clusterBarrier(df)
    }

    /** The cluster-mode leg — package-visible so the spec can exercise
      * it on a local master (where `barrier` would pick localCheckpoint).
      */
    private[graft] def clusterBarrier(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.DISK_ONLY_2)
      p.count()
      p
    }

    /** [[barrier]] fused with a one-row aggregate over the pinned frame.
      *
      * Iterative callers (the connected-components loop) need BOTH a
      * materialization barrier and a tiny convergence aggregate every
      * round. Done naively that is TWO driver-sync jobs per round — and
      * at the CC loop's frame sizes the per-round cost is job latency,
      * not compute (measured r15: the suite's heavy dedup family ran
      * FASTER on 8 cores than 32). Here the aggregate IS the
      * materializing action: the frame is marked for materialization
      * lazily and the aggregate's job computes every partition, storing
      * the blocks (and counting the pin's statistics) as it goes — one
      * job, same post-conditions as [[barrier]] (every later consumer
      * reads stored blocks; lineage truncated on the local leg).
      *
      * The reliable-checkpoint leg cannot fuse (an eager reliable
      * checkpoint re-runs the plan to write it; fusing would double
      * compute) and keeps the two-job shape — correctness first on that
      * path, the fusion is a latency optimization for the others.
      */
    def barrierAgg(df: DataFrame, agg: Column): (DataFrame, Row) = {
      val sc = df.sparkSession.sparkContext
      if (sc.isLocal || sc.getCheckpointDir.isDefined) {
        val pin = GraftPin.checkpoint(df, reliable = !sc.isLocal, eager = !sc.isLocal)
        val row = pin.frame.agg(agg).collect()(0)
        (pin.measured, row)
      } else {
        val p = df.persist(StorageLevel.DISK_ONLY_2)
        (p, p.agg(agg).collect()(0))
      }
    }

    /** Best-effort release of a frame returned by [[barrier]] once every
      * consumer has run — bounds the blocks held across a long sweep
      * (the 100× suite's driver-heap floor). Non-blocking: safe to call
      * opportunistically; a frame never released is reclaimed by the
      * ContextCleaner when unreferenced. A local pin's checkpointed RDD
      * (its `LogicalRDD` leaf) is unpersisted too: the frame's own
      * unpersist never reaches it.
      */
    def release(df: DataFrame): Unit = {
      df.unpersist(blocking = false)
      df.queryExecution.logical match {
        case pin: LogicalRDD => pin.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }

    /** Sweep hygiene: drop EVERY block the context still tracks — pins
      * whose frames the caller no longer holds included, which `release`
      * can't reach. Between independent operations (the 100× suite's
      * inter-op seam) this frees finished barriers deterministically
      * instead of waiting for a driver GC to let the ContextCleaner
      * notice them — in local mode those blocks live in the DRIVER's
      * heap, which is where the r12 sweep's 96 GB floor came from. Do NOT
      * call while frames from [[barrier]] are still in use: their blocks
      * drop and, with lineage truncated, a later read fails.
      */
    def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
  }
}
