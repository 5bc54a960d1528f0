package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Object-store changefeed file source.
  *
  * Reference: `internal/source/objstore` reads buckets of CockroachDB
  * changefeed ndjson files; `internal/util/cdcjson/ndjson_parser.go`
  * parses one mutation per line with `after` / `key` / `updated` fields
  * (the changefeed wire format).
  *
  * Spark-first design: a directory of ndjson files IS a Spark data
  * source. We read with an explicit schema — never schema inference,
  * which would double-scan 100 TB — and project the envelope into the
  * engine's mutation shape (key / data / hlc time). In streaming mode the
  * same schema feeds `readStream.json` with `maxFilesPerTrigger`
  * bounding each micro-batch.
  */
object Changefeed {

  /** Changefeed envelope: `after` is the row image (null for deletes),
    * `key` the primary-key array, `updated` the HLC string `NNNN.LLL`.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("after", StringType),
    StructField("key", StringType),
    StructField("updated", StringType)))

  /** Parse an `updated`-style HLC string `NNNN.LLLLLLLLLL` into the
    * engine's HLC struct (reference: `hlc.go:Parse`). Malformed strings
    * yield a NULL struct instead of failing the job under ANSI mode —
    * one bad mutation must never kill a 100 TB ingest; consumers route
    * NULL-HLC rows to the DLQ (reference returns a parse error per
    * mutation, not a feed-wide abort).
    */
  def parseHlc(colName: String) = {
    val parts = split(col(colName), "\\.")
    // digit-count bounds keep the casts overflow-safe under ANSI mode;
    // 19-digit nanos (epoch ns is 19 digits) are bounded lexicographically
    // against Long.MaxValue, valid for equal-length digit strings
    // the reference's hlc.Parse accepts a logical part that is either
    // exactly 10 digits or all-zero; anything else is a parse error
    val nanosStr = parts.getItem(0)
    val wellFormed = col(colName).rlike("^[0-9]{1,19}\\.([0-9]{10}|0+)$") &&
      (length(nanosStr) < 19 || nanosStr <= lit(Long.MaxValue.toString)) &&
      parts.getItem(1).cast("long") <= Int.MaxValue.toLong
    when(wellFormed, struct(
      parts.getItem(0).cast("long").as("nanos"),
      parts.getItem(1).cast("long").cast("int").as("logical")))
      .otherwise(lit(null))
  }

  /** Envelope → mutation projection, shared by the batch and streaming
    * readers so delete/HLC semantics can never diverge between them.
    */
  private def project(raw: DataFrame): DataFrame =
    raw.select(
      col("key"),
      col("after").as("data"),
      parseHlc("updated").as("hlc"),
      (col("after").isNull || col("after") === "null").as("is_delete"))

  /** Batch read of a changefeed directory → mutation DataFrame with
    * columns (key, data, hlc, is_delete). Goes through the DSv2
    * connector so the listing classifier applies: `*.RESOLVED` frontier
    * markers (reference `internal/source/objstore/conn.go:41` — their
    * body is `{"resolved":...}`, not a mutation) are never emitted as
    * rows, and when markers are present only data files below the
    * latest marker — the finalized prefix — are read.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    project(spark.read.format("graft-changefeed").load(dir))

  /** All `*.RESOLVED` frontier markers in a changefeed bucket
    * (reference `internal/source/objstore/conn.go:96-99`): one row per
    * marker with its file name, the resolved-timestamp string from the
    * marker body (`{"resolved":"NNN.LLL"}`,
    * `internal/util/cdcjson/ndjson_parser.go:76`), and the parsed HLC.
    */
  def resolvedMarkers(spark: SparkSession, dir: String): DataFrame = {
    val markers = graft.sources.ChangefeedFiles.listClassifiedSized(dir)._2
    val bodySchema = StructType(Seq(StructField("resolved", StringType)))
    val base =
      if (markers.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(StructField("marker_file", StringType) +: bodySchema.fields))
      else
        spark.read.schema(bodySchema).json(markers.toIndexedSeq: _*)
          .withColumn("marker_file", input_file_name())
    base.select(col("marker_file"), col("resolved"),
      parseHlc("resolved").as("hlc"))
  }

  /** The bucket's resolved frontier: the lexicographically-last marker
    * (0 or 1 rows). Everything named below it is finalized — the gate
    * `read`/the DSv2 listing already apply, surfaced here for conveyor
    * admission decisions.
    */
  def resolvedFrontier(spark: SparkSession, dir: String): DataFrame =
    resolvedMarkers(spark, dir).orderBy(col("marker_file").desc).limit(1)

  /** Query-format changefeed payloads (reference:
    * `internal/util/cdcjson/query_payload.go` — CREATE CHANGEFEED ... AS
    * SELECT emits flat rows whose metadata rides in a `__crdb__` object
    * with the `updated` HLC; `before` is optional diff data).
    *
    * `dataSchema` declares the row's flat columns — explicit, never
    * inferred. Returns (data columns..., hlc, is_delete).
    */
  def readQueryFormat(spark: SparkSession, dir: String,
      dataSchema: StructType): DataFrame = {
    val full = StructType(
      dataSchema.fields.toSeq :+
        StructField("__crdb__", StructType(Seq(StructField("updated", StringType)))) :+
        StructField("__deleted", BooleanType))
    val raw = spark.read.schema(full).json(dir)
      .withColumn("__updated", col("__crdb__.updated"))
    raw.select(
      dataSchema.fieldNames.map(col).toIndexedSeq ++ Seq(
        parseHlc("__updated").as("hlc"),
        coalesce(col("__deleted"), lit(false)).as("is_delete")): _*)
  }

  /** Streaming read of the same layout via the first-class DataSourceV2
    * connector (graft.sources.ChangefeedSourceV2): per-file frontier
    * offsets (reference `internal/source/objstore` resume semantics) and
    * admission control bounding each micro-batch to `maxFilesPerTrigger`
    * files (reference `internal/conveyor/conveyor.go:188`
    * AcceptMultiBatch). Shares `project` with the batch reader so
    * delete/HLC semantics can never diverge.
    *
    * CONTRACT: object names must be MONOTONIC — lexicographic order is
    * ingest order (changefeed objects embed their resolved timestamp in
    * the name, the objstore premise). That is what buys an O(1)
    * frontier offset instead of a growing seen-file set; a producer
    * that writes non-monotonic names (random part-file UUIDs, racing
    * writers) would have below-frontier files silently skipped — such
    * feeds must use [[readStreamGenericJson]], whose file-tracking
    * source ingests any unseen file regardless of name.
    */
  def readStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    project(spark.readStream
      .format("graft-changefeed")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir))

  /** The pre-DSv2 streaming reader (Spark's generic json file source),
    * kept for A/B equivalence testing against the connector.
    */
  def readStreamGenericJson(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    project(spark.readStream
      .schema(envelopeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir))

  /** Per-file ingest frontier (reference: `internal/source/objstore`
    * tracks each bucket object's applied progress): one row per applied
    * file with its max applied HLC and mutation count — the durable
    * record a resumed backfill consults. `fileCol` is the file
    * identity: `input_file_name()` for raw objects, or a partition
    * column for bucketed layouts.
    */
  def fileFrontier(muts: DataFrame, fileCol: String): DataFrame =
    muts.groupBy(col(fileCol))
      .agg(max(col("hlc.nanos")).as("applied_nanos"),
        count(lit(1)).as("n_muts"))

  /** Resume a batch backfill from a frontier: keep only mutations of
    * files NOT yet applied (left anti join on the file identity — the
    * frontier side is tiny, one row per applied file, so it
    * broadcasts). The streaming path gets this for free from Spark's
    * file-source tracking; this is the BATCH "resume from file X"
    * story the reference's objstore loop implements.
    */
  def resumeFrom(muts: DataFrame, frontier: DataFrame, fileCol: String): DataFrame =
    muts.join(frontier.select(col(fileCol)), Seq(fileCol), "left_anti")
}
