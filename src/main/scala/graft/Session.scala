package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for the entry points and the test suite. */
object Session {
  /** A builder carrying the conf the engine needs: `local[cpus]` with
    * one shuffle partition per cpu, UTC session time (the oracle hashes
    * depend on it), `events.parquet`'s TIMESTAMP(NANOS) read as long,
    * and no UI. Callers add conf, or override the master, before
    * `getOrCreate()`.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
