package graft.cdc

import graft.ops.Materialize
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Conveyor-level acceptance plumbing: runtime apply-mode selection per
  * target schema plus checkpoint bootstrap, in one object.
  *
  * Reference: `internal/conveyor/conveyor.go:59` (Conveyors factory with
  * a per-schema conveyor cache), `conveyor.go:188` (AcceptMultiBatch —
  * the one acceptance entry point whose behavior is the current mode)
  * and `conveyor.go:256` (modeSelector: Immediate and BestEffortOnly are
  * forced; otherwise the mode follows the resolved-frontier lag with
  * hysteresis — fall behind the BestEffortWindow and you switch to
  * best-effort, catch up within a quarter of it and you switch back to
  * consistent; an uninitialized conveyor defaults to best-effort so a
  * fresh changefeed backfills fast).
  *
  * Spark-first: a "mode" is WHICH PLAN acceptance builds, decided once
  * per batch at plan time — not per-row branching. Consistent gates the
  * batch at the group-resolved frontier and reduces; best-effort reduces
  * everything and marks what lies beyond the frontier as speculative
  * (idempotent re-apply after a restart); immediate doesn't consult the
  * checkpoint at all. Outside immediate mode the group-resolved frontier
  * is a SNAPSHOT: one value read from the proposal log once per
  * bootstrap or refresh, in one job with no exchange (the reference
  * reading its checkpoint table), which both the mode decision and the
  * acceptance gate then see. Acceptance reads that value as a one-row
  * local relation, so no action on the accepted frame re-runs the
  * frontier aggregate, and a proposal log that grows after the read
  * cannot move the gate away from the mode it chose.
  *
  * The streaming loop ([[Conveyors.foreachBatchAccept]]) accepts each
  * micro-batch once: its sink gets the accepted frame pinned, and the
  * pin is released when the sink returns, so a sink keeps nothing of
  * that frame past the trigger unless it materializes it itself.
  * `accept` itself stays lazy: a direct caller pins where it reads the
  * result more than once.
  */
object Conveyor {

  sealed trait Mode { def name: String }
  case object Immediate extends Mode { val name = "immediate" }
  case object BestEffort extends Mode { val name = "best_effort" }
  case object Consistent extends Mode { val name = "consistent" }

  /** Reference `conveyor.Config`: forced modes + the best-effort window
    * (µs). `bestEffortWindowUs <= 0` forces consistent mode (the
    * reference's "Force a consistent mode" branch).
    */
  final case class Config(
      immediate: Boolean = false,
      bestEffortOnly: Boolean = false,
      bestEffortWindowUs: Long = 0L)

  /** Pure mode selection, the reference's modeSelector decision table.
    * `current = None` means uninitialized: in the dynamic regime with no
    * clear signal it defaults to BestEffort (optimizes the initial
    * backfill, as the reference notes).
    */
  def selectMode(cfg: Config, lagUs: Long, current: Option[Mode]): Mode =
    if (cfg.immediate) Immediate
    else if (cfg.bestEffortOnly) BestEffort
    else if (cfg.bestEffortWindowUs <= 0L) Consistent
    else if (lagUs >= cfg.bestEffortWindowUs) BestEffort
    else if (lagUs <= cfg.bestEffortWindowUs / 4) Consistent
    else current.getOrElse(BestEffort) // hysteresis band: keep course

  /** One conveyor per target schema: the selected mode, the per-partition
    * checkpoint frontier (lazy, never read by acceptance), and the
    * group-resolved frontier acceptance gates on — a one-row local
    * relation holding the snapshot read at bootstrap (lazy and unread in
    * immediate mode). Acceptance dispatches on the mode.
    */
  final case class Conveyor(schema: String, mode: Mode,
      frontier: DataFrame, resolved: DataFrame) {

    /** AcceptMultiBatch (reference `conveyor.go:188`): reduce the batch
      * to applied state under this conveyor's mode. Output carries a
      * `speculative` flag column: NULL in immediate mode (no checkpoint
      * consulted), beyond-frontier marker in best-effort, always false
      * in consistent (the gate removed those rows before the reduce).
      *
      * EMPTY checkpoint (NULL group-resolved): best-effort marks EVERY
      * row speculative (everything is beyond a frontier that doesn't
      * exist — the NULL comparison would otherwise read as durable);
      * consistent applies NOTHING, which is the mode's contract — no
      * resolved timestamp has been received, so nothing may be applied
      * (`tsNanos <= NULL` is never true, deliberately).
      */
    def accept(muts: DataFrame, keys: Seq[String], order: Column,
        tsNanos: Column): DataFrame = mode match {
      case Immediate =>
        Msort.latestByKey(muts, keys, order)
          .withColumn("speculative", lit(null).cast("boolean"))
      case BestEffort =>
        Msort.latestByKey(muts, keys, order)
          .crossJoin(broadcast(resolved))
          .withColumn("speculative",
            coalesce(tsNanos > col("resolved_nanos"), lit(true)))
          .drop("resolved_nanos")
      case Consistent =>
        val gated = muts.crossJoin(broadcast(resolved))
          .filter(tsNanos <= col("resolved_nanos"))
          .drop("resolved_nanos")
        Msort.latestByKey(gated, keys, order)
          .withColumn("speculative", lit(false))
    }
  }

  /** The per-schema conveyor cache (reference `Conveyors.Get`,
    * `conveyor.go:59`): get-or-create bootstraps the checkpoint
    * frontier from the proposal log, reads the group-resolved row once
    * (outside immediate mode), and selects the initial mode.
    */
  final class Conveyors(cfg: Config) {
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, Conveyor]

    /** Shared bootstrap: the frontier from the proposal log, then —
      * outside immediate mode — ONE read of the group-resolved value
      * (the reference's checkpoint-table query), one job with no
      * exchange ([[Checkpoint.readGroupResolved]]: a control-plane read
      * of at most one value per feed partition per task, never a
      * data-plane collect). That value sets the lag for mode selection
      * against `current` and becomes the one-row local relation
      * acceptance gates on.
      */
    private def bootstrap(schema: String, proposals: DataFrame,
        partition: Column, nanos: Column, arrival: Column, nowUs: => Long,
        current: Option[Mode]): Conveyor = {
      val frontier = Checkpoint.advance(proposals, partition, nanos, arrival)
      val resolved = Checkpoint.groupResolved(frontier)
      if (cfg.immediate) Conveyor(schema, Immediate, frontier, resolved)
      else {
        val resolvedNanos = Checkpoint.readGroupResolved(proposals, partition, nanos)
        val dynamic = !cfg.bestEffortOnly && cfg.bestEffortWindowUs > 0L
        val lagUs =
          if (!dynamic) 0L
          else resolvedNanos.fold(Long.MaxValue)(n => nowUs - n / 1000L) // empty: way behind
        // a local relation, not a per-trigger literal: the value stays
        // out of generated code, so each new frontier reuses the
        // compiled plan
        val snapshot = proposals.sparkSession.createDataFrame(
          java.util.List.of(Row(resolvedNanos.map(Long.box).orNull)),
          StructType(Seq(StructField("resolved_nanos", LongType))))
        Conveyor(schema, selectMode(cfg, lagUs, current), frontier, snapshot)
      }
    }

    // getOrElseUpdate may evaluate the thunk more than once under a
    // concurrent get() for the same schema — harmless (bootstrap is
    // read-only; one winner lands in the cache)
    def get(schema: String, proposals: DataFrame, partition: Column,
        nanos: Column, arrival: Column, nowUs: => Long): Conveyor =
      cache.getOrElseUpdate(schema,
        bootstrap(schema, proposals, partition, nanos, arrival, nowUs, None))

    /** Re-evaluate a cached conveyor's mode against a FRESH proposal
      * log (the reference re-runs modeSelector as the resolving range
      * moves, `conveyor.go:256` DoWhenChangedOrInterval) — without
      * this, a conveyor bootstrapped consistent would stay consistent
      * forever after falling behind. The current mode feeds the
      * hysteresis band; the refreshed conveyor replaces the cache
      * entry and is returned.
      */
    def refresh(schema: String, proposals: DataFrame, partition: Column,
        nanos: Column, arrival: Column, nowUs: => Long): Conveyor = {
      val next = bootstrap(schema, proposals, partition, nanos, arrival,
        nowUs, cache.get(schema).map(_.mode))
      cache.put(schema, next)
      next
    }

    def cached(schema: String): Option[Conveyor] = cache.get(schema)

    /** Wire mode re-selection into a STREAMING query: returns a
      * `foreachBatch` function that, per trigger, rebuilds the proposal
      * log (`proposalsOf(batch, batchId)` — typically the accumulated
      * checkpoint state including this batch's resolved events),
      * re-runs the mode selector with hysteresis via [[refresh]], then
      * accepts the micro-batch under the refreshed mode and hands
      * `(accepted, mode, batchId)` to the sink. This is the reference's
      * `DoWhenChangedOrInterval(modeSelector)` loop
      * (`internal/conveyor/conveyor.go:256`): the selector re-fires as
      * the resolved range moves, so a conveyor that bootstrapped
      * best-effort during backfill flips to consistent when the
      * frontier catches up — per trigger, not once at bootstrap.
      *
      * The accepted batch is evaluated ONCE per trigger, as the
      * reference's AcceptMultiBatch accepts once and then applies and
      * dead-letters from the result: the sink gets a frame pinned with
      * [[Materialize.barrier]] in every mode, so each of its actions
      * reads the stored rows instead of re-running the gate and the
      * reduce. The pin is released when the sink returns
      * ([[Materialize.release]]): whatever the sink keeps past the
      * trigger it must materialize inside the sink (pin it, collect
      * it or write it), never hold the accepted frame lazily.
      */
    def foreachBatchAccept(schema: String,
        proposalsOf: (DataFrame, Long) => DataFrame,
        partition: Column, nanos: Column, arrival: Column, nowUs: () => Long,
        keys: Seq[String], order: Column, tsNanos: Column)(
        sink: (DataFrame, Mode, Long) => Unit): (DataFrame, Long) => Unit =
      (batch: DataFrame, batchId: Long) => {
        val c = refresh(schema, proposalsOf(batch, batchId),
          partition, nanos, arrival, nowUs())
        val accepted = Materialize.barrier(c.accept(batch, keys, order, tsNanos))
        try sink(accepted, c.mode, batchId)
        finally Materialize.release(accepted)
      }
  }
}
