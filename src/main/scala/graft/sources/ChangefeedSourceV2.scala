package graft.sources

import java.io.{BufferedReader, ByteArrayOutputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonToken}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** First-class DataSourceV2 connector for changefeed ndjson directories:
  * `spark.readStream.format("graft-changefeed").load(dir)` (and the same
  * format for batch reads).
  *
  * Reference: `internal/source/objstore` — the reference ingests a bucket
  * of changefeed objects whose names embed monotonically increasing
  * resolved timestamps, so lexicographic file order IS ingest order and
  * the durable resume point is "last object applied". This connector
  * makes that frontier the streaming Offset: an offset is the
  * lexicographically-largest file name admitted so far, a micro-batch is
  * the files in `(start, end]`, and admission control
  * (`internal/conveyor/conveyor.go:188` AcceptMultiBatch bounds how much
  * work one flush accepts) maps onto `SupportsAdmissionControl` with a
  * max-files-per-trigger read limit.
  *
  * Scale notes (100 TB backlog):
  *  - One `InputPartition` per file — a 1000-executor cluster decodes
  *    1000 objects concurrently; no driver-side line parsing.
  *  - The offset is O(1) state (one file name), not a growing file set;
  *    Spark's checkpoint log stores one tiny JSON per batch.
  *  - Listing cost is one bucket walk per trigger, one `listStatus` per
  *    directory, reading only name and length per object: no
  *    per-object metadata lookups (owner, permission, block
  *    locations). Admission control caps each micro-batch so a
  *    month-long backlog drains in bounded memory instead of one giant
  *    batch.
  *  - The stream reports its backlog (`pendingFiles`) and the newest
  *    `.RESOLVED` marker (`latestResolvedMarker`) in every
  *    `StreamingQueryProgress`, from the trigger's cached listing.
  *  - Column pruning is pushed into the JSON decode: a query that only
  *    reads `updated` never materializes `after` payload strings.
  */
class ChangefeedSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-changefeed"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.cdc.Changefeed.envelopeSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangefeedTable(schema, properties)
}

class ChangefeedTable(tableSchema: StructType, props: util.Map[String, String])
    extends Table with SupportsRead {
  private val dir = {
    val p = props.get("path")
    require(p != null && p.nonEmpty, "graft-changefeed requires a path, e.g. .load(dir)")
    p
  }

  override def name(): String = s"graft-changefeed($dir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangefeedScanBuilder(tableSchema, dir,
      options.getInt("maxFilesPerTrigger", 16))
}

class ChangefeedScanBuilder(fullSchema: StructType, dir: String, maxFiles: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  // column pruning reaches the JSON decoder: unused envelope fields are
  // skipped with Jackson's skipChildren, never materialized
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  /** File pruning from `updated` bounds: comparison filters on the HLC
    * string are retained for LISTING-time object skipping (the
    * name-embedded-timestamp contract — see
    * [[ChangefeedFiles.pruneByUpdated]]). EVERY filter is also returned
    * as a residual for Spark to re-evaluate row-by-row: pruning is a
    * whole-object shortcut, never the row-level truth, so a producer
    * that only honors the ordering contract approximately still gets
    * exact query results for the files that are read.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(ChangefeedFiles.prunable)
    filters // all residual: the source only uses them to skip whole files
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = new ChangefeedScan(required, dir, maxFiles, pushed)
}

class ChangefeedScan(readSchema0: StructType, dir: String, maxFiles: Int,
    bounds: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with SupportsReportStatistics {
  override def readSchema(): StructType = readSchema0
  override def description(): String =
    s"graft-changefeed $dir ${readSchema0.fieldNames.mkString(",")}" +
      (if (bounds.isEmpty) "" else s" PrunedBy: ${bounds.mkString(", ")}")

  // ONE sized listing per scan lifetime serves batch partition
  // planning and statistics (streaming planInputPartitions keeps its
  // own per-trigger cache in the MicroBatchStream). Lazy + cached:
  // Spark's streaming planner calls estimateStatistics() on EVERY
  // micro-batch plan, and re-walking a million-object bucket per
  // trigger would defeat the cached-listing design — a scan-lifetime
  // estimate is what a planner statistic is for. Markers ride along:
  // file pruning brackets row timestamps with RESOLVED marker stamps.
  private lazy val classifiedListing: (Array[(String, Long)], Array[String]) =
    ChangefeedFiles.visibleClassified(dir)
  private def sizedListing: Array[(String, Long)] = classifiedListing._1
  private def markers: Array[String] = classifiedListing._2

  /** Post-pruning byte size from the cached listing (row count unknown
    * — the source would have to open objects to count lines). Accurate
    * size lets AQE/the planner treat a small changefeed side as
    * broadcastable instead of assuming an unknown-size scan; pruning
    * is reflected, so a bounded catch-up reads AND plans small.
    */
  override def estimateStatistics(): Statistics = {
    val byName = sizedListing.toMap
    val kept = ChangefeedFiles.pruneByUpdated(sizedListing.map(_._1), markers, bounds)
    val total = kept.map(byName).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  // one Hadoop-conf broadcast per SCAN — a fresh broadcast per reader
  // factory would pile up driver-side broadcast state on a long stream
  private lazy val conf = ChangefeedFiles.confBroadcast()

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      ChangefeedFiles.pruneByUpdated(sizedListing.map(_._1), markers, bounds)
        .map(f => ChangefeedFilePartition(f): InputPartition)
    override def createReaderFactory(): PartitionReaderFactory =
      new ChangefeedReaderFactory(readSchema0.fieldNames, conf)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangefeedMicroBatchStream(readSchema0, dir, maxFiles, bounds)
}

/** Streaming offset = the lexicographically-largest admitted file name
  * (reference objstore's "last object applied" resume point). Empty
  * string = nothing admitted. `below` is the number of listed files
  * that sorted ≤ `lastFile` when this offset was admitted — persisted
  * in the checkpoint so the monotonic-name contract check survives a
  * query restart (a file written below the committed frontier while
  * the stream was down is detected on the first post-restart trigger,
  * not silently skipped). `-1` = unknown (offset written by an older
  * version); the check is disabled until the next admit.
  */
case class ChangefeedOffset(lastFile: String, below: Int = -1) extends Offset {
  override def json(): String = {
    val gen = new ByteArrayOutputStream()
    val g = ChangefeedFiles.jsonFactory.createGenerator(gen, JsonEncoding.UTF8)
    g.writeStartObject(); g.writeStringField("lastFile", lastFile)
    if (below >= 0) g.writeNumberField("below", below)
    g.writeEndObject(); g.close()
    gen.toString("UTF-8")
  }
}

object ChangefeedOffset {
  def fromJson(json: String): ChangefeedOffset = {
    val p = ChangefeedFiles.jsonFactory.createParser(json)
    var last = ""
    var below = -1
    if (p.nextToken() == JsonToken.START_OBJECT) {
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName(); p.nextToken()
        if (name == "lastFile") last = p.getText
        else if (name == "below") below = p.getIntValue
        else p.skipChildren()
      }
    }
    p.close()
    ChangefeedOffset(last, below)
  }
}

class ChangefeedMicroBatchStream(readSchema: StructType, dir: String, maxFilesPerTrigger: Int,
    bounds: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  // Trigger.AvailableNow: snapshot the listing once, then drain exactly
  // that snapshot under the usual read limits (late-arriving files go to
  // the next run — the reference's bounded-backfill semantics)
  private var availableNowSnapshot: Option[(Array[String], Array[String])] = None

  // the most recent classified listing (visible data, markers) this
  // trigger — latestOffset refreshes it, reportLatestOffset and
  // planInputPartitions REUSE it, so a trigger costs ONE directory
  // scan, not three (a listing on a bucket with millions of objects
  // dominates trigger latency otherwise)
  @volatile private var lastListing: (Array[String], Array[String]) = _

  // the streaming listing keeps names only
  private def listVisible(): (Array[String], Array[String]) = {
    val (data, markers) = ChangefeedFiles.visibleClassified(dir)
    (data.map(_._1), markers)
  }

  private def currentClassified(refresh: Boolean): (Array[String], Array[String]) =
    availableNowSnapshot.getOrElse {
      if (refresh || lastListing == null) lastListing = listVisible()
      lastListing
    }

  private def currentListing(refresh: Boolean): Array[String] =
    currentClassified(refresh)._1

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowSnapshot = Some(listVisible())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxFilesPerTrigger)

  override def initialOffset(): Offset = ChangefeedOffset("", 0)

  // SupportsAdmissionControl contract: the engine calls the two-arg form
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  // in-memory dedupe for the contract-violation warning only — the
  // BASELINE itself lives in the offset (`below`), so the check
  // survives restarts via the checkpoint, not this field
  @volatile private[graft] var lastWarned: (String, Int) = ("", -1)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[ChangefeedOffset]
    val startFile = so.lastFile
    val listing = currentListing(refresh = true)
    val below = listing.count(_ <= startFile)
    // monotonic-name contract check: when offset S was admitted we
    // recorded how many listed files sorted ≤ S (`so.below`, from the
    // checkpoint — survives restarts); if this listing shows MORE, a
    // producer wrote a new object below the committed name — such a
    // file is silently skipped by the frontier offset, so surface it
    // loudly instead of losing data quietly (cheap: one count per
    // trigger, compared at the SAME frontier so normal progress never
    // false-positives; warning repeats are deduped in memory).
    if (so.below >= 0 && below > so.below && lastWarned != ((startFile, below))) {
      lastWarned = (startFile, below)
      ChangefeedMicroBatchStream.log.warn(
        s"${below - so.below} newly listed file(s) in $dir sort at or below the " +
        s"committed offset '$startFile' — the monotonic-object-name contract is violated " +
        "and these files will be SKIPPED. Use Changefeed.readStreamGenericJson for feeds " +
        "with non-monotonic names.")
    }
    val pending = listing.filter(_ > startFile)
    val admitted = limit match {
      case f: ReadMaxFiles => pending.take(f.maxFiles())
      case _ => pending
    }
    // pending is sorted ascending, so files ≤ the new offset are
    // exactly below + admitted.length — the baseline the next trigger
    // (or a restarted query) checks against
    if (admitted.isEmpty) start
    else ChangefeedOffset(admitted.last, below + admitted.length)
  }

  override def reportLatestOffset(): Offset = {
    val all = currentListing(refresh = false)
    if (all.isEmpty) null else ChangefeedOffset(all.last, all.length)
  }

  /** (lo, hi] planning reuses the listing the offsets were admitted
    * from (the AvailableNow snapshot, or this trigger's cached scan) —
    * a replayed batch after restart re-lists, which is deterministic
    * under the monotonic-name contract: any NEW object sorts above hi
    * and stays out of range.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[ChangefeedOffset].lastFile
    val hi = end.asInstanceOf[ChangefeedOffset].lastFile
    // offsets ADVANCE over every admitted file (the frontier must pass
    // skipped objects), but pruned files are never opened — a catch-up
    // stream with an `updated >= X` bound skips the old backlog's bytes
    val (data, markers) = currentClassified(refresh = false)
    ChangefeedFiles.pruneByUpdated(data.filter(f => f > lo && f <= hi), markers, bounds)
      .map(f => ChangefeedFilePartition(f): InputPartition)
  }

  /** Backlog and resolved frontier for `StreamingQueryProgress`: visible
    * data files beyond the consumed offset, and the newest `.RESOLVED`
    * marker. Read from this trigger's cached listing (or the
    * AvailableNow snapshot); before the first listing there is nothing
    * to report, and no listing is made for it.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val listing = availableNowSnapshot.getOrElse(lastListing)
    if (listing == null) java.util.Map.of()
    else {
      val (data, markers) = listing
      val consumed = latestConsumedOffset.map[String] {
        case o: ChangefeedOffset => o.lastFile
        case o => ChangefeedOffset.fromJson(o.json()).lastFile // a serialized offset
      }.orElse("")
      java.util.Map.of(
        "pendingFiles", data.count(_ > consumed).toString,
        "latestResolvedMarker", markers.lastOption.getOrElse(""))
    }
  }

  private lazy val conf = ChangefeedFiles.confBroadcast()
  override def createReaderFactory(): PartitionReaderFactory =
    new ChangefeedReaderFactory(readSchema.fieldNames, conf)

  override def deserializeOffset(json: String): Offset = ChangefeedOffset.fromJson(json)
  override def commit(end: Offset): Unit = () // frontier is the offset itself; nothing else to persist
  override def stop(): Unit = ()
}

object ChangefeedMicroBatchStream {
  private[sources] val log = org.slf4j.LoggerFactory.getLogger(classOf[ChangefeedMicroBatchStream])
}

case class ChangefeedFilePartition(file: String) extends InputPartition

class ChangefeedReaderFactory(fields: Array[String],
    conf: org.apache.spark.broadcast.Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChangefeedFileReader(partition.asInstanceOf[ChangefeedFilePartition].file, fields,
      conf.value.value)
}

/** Reads one changefeed ndjson object, one mutation per line (reference:
  * `internal/util/cdcjson/ndjson_parser.go`). Field extraction mirrors
  * Spark's JacksonParser-on-StringType exactly — string tokens yield
  * their text, structured tokens are re-emitted compactly via
  * copyCurrentStructure — so this source is byte-for-byte equivalent to
  * the generic json reader and one malformed line yields a PERMISSIVE
  * null row instead of failing a 100 TB ingest.
  */
class ChangefeedFileReader(file: String, fields: Array[String],
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {
  private val path = new Path(file)
  // honor Hadoop compression codecs by extension (.gz/.bz2/...) — the
  // changefeed sink's compression option, and what the generic json
  // reader does; raw bytes through the line parser would turn every
  // compressed object into all-null PERMISSIVE phantom rows
  private val in: java.io.InputStream = {
    val raw = path.getFileSystem(hadoopConf).open(path)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(hadoopConf)
      .getCodec(path)
    if (codec == null) raw else codec.createInputStream(raw)
  }
  private val lines = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = lines.readLine()
    while (line != null && line.trim.isEmpty) line = lines.readLine() // json reader skips blanks
    if (line == null) { false } else { row = parse(line); true }
  }

  private def parse(line: String): InternalRow = {
    val out = new Array[Any](fields.length)
    try {
      val p = ChangefeedFiles.jsonFactory.createParser(line)
      if (p.nextToken() == JsonToken.START_OBJECT) {
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          val tok = p.nextToken()
          val idx = fields.indexOf(name)
          if (idx < 0) { p.skipChildren() }
          else {
            out(idx) = tok match {
              case JsonToken.VALUE_NULL => null
              case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
              case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
                // Spark's json reader hands a structured value read as
                // StringType back as the RAW source substring (original
                // whitespace intact) — do exactly that for equivalence
                val start = p.currentTokenLocation().getCharOffset.toInt
                p.skipChildren()
                val end = p.currentLocation().getCharOffset.toInt
                UTF8String.fromString(line.substring(start, end))
              case _ => UTF8String.fromString(p.getText) // numbers, booleans
            }
          }
        }
      }
      p.close()
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException =>
        java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], null) // PERMISSIVE
    }
    InternalRow.fromSeq(out.toIndexedSeq)
  }

  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}

object ChangefeedFiles {
  val jsonFactory = new JsonFactory()

  /** Changefeed cloud-storage sinks write `<timestamp>.RESOLVED` marker
    * files (reference `internal/source/objstore/conn.go:41`): in
    * lexicographic filename order, any RESOLVED marker means everything
    * before it is finalized. Markers are NOT data — their body is
    * `{"resolved":"NNN.LLL"}`, which the mutation parser would turn into
    * an all-null phantom row — so the listing classifies them out.
    */
  def isResolvedMarker(path: String): Boolean = path.endsWith(".RESOLVED")

  /** Sorted recursive listing, classified into (data files, RESOLVED
    * markers) in one pass. Any path SEGMENT starting with `_` or `.` is
    * hidden (covers `_SUCCESS`, `_spark_metadata/...`, dotfiles).
    * Glob patterns expand via Hadoop `globStatus` (parity with the
    * generic json reader's path handling); matched directories recurse.
    * Lexicographic full-path order is ingest order for time-named
    * objects, nested or flat alike. Data files carry their byte sizes —
    * one listing serves both partition planning and scan-statistics
    * estimation ([[ChangefeedScan.estimateStatistics]] feeds AQE's
    * broadcast decisions without a second directory walk).
    */
  def listClassifiedSized(dir: String): (Array[(String, Long)], Array[String]) = {
    val spark = SparkSession.active
    val p0 = new Path(dir)
    val fs = p0.getFileSystem(spark.sessionState.newHadoopConf())
    val data = Array.newBuilder[(String, Long)]
    val markers = Array.newBuilder[String]
    def hidden(seg: String): Boolean = seg.startsWith("_") || seg.startsWith(".")
    def add(full: String, rel: String, len: Long): Unit =
      if (!rel.split('/').exists(hidden)) {
        if (isResolvedMarker(full)) markers += full else data += ((full, len))
      }
    // listStatus per directory reads each entry's name, length and type
    // only. Hadoop's located listFiles walk also copies every object's
    // owner and permission, which on a local FS without native Hadoop
    // forks a shell per object. A hidden directory is never descended:
    // every path below it has a hidden segment.
    def walk(dir: Path, rel: String): Unit =
      fs.listStatus(dir).foreach { s =>
        val name = s.getPath.getName
        val r = if (rel.isEmpty) name else s"$rel/$name"
        if (s.isDirectory) { if (!hidden(name)) walk(s.getPath, r) }
        else if (s.isFile && s.getLen > 0) add(s.getPath.toString, r, s.getLen)
      }
    if (dir.exists(c => "{}[]*?".contains(c))) {
      Option(fs.globStatus(p0)).getOrElse(Array.empty[FileStatus]).foreach { st =>
        if (st.isFile && st.getLen > 0) add(st.getPath.toString, st.getPath.getName, st.getLen)
        else if (st.isDirectory) walk(st.getPath, "")
      }
    } else {
      val st = try fs.getFileStatus(fs.makeQualified(p0)) catch {
        case _: java.io.FileNotFoundException => return (Array.empty, Array.empty)
      }
      // a file path is its own listing, checked along its full path
      if (st.isDirectory) walk(st.getPath, "")
      else if (st.isFile && st.getLen > 0) add(st.getPath.toString, st.getPath.toString, st.getLen)
    }
    (data.result().sortBy(_._1), markers.result().sorted)
  }

  /** The ONE visibility rule: (sized data files visible to a reader
    * of `dir`, the full sorted marker list). When the bucket contains
    * RESOLVED markers, only data files lexicographically BELOW the
    * latest marker are finalized (reference objstore processes ranges
    * between consecutive markers and never reads past the last one);
    * files past it wait for the next marker. A directory with no
    * markers is a plain feed — every data file is visible (the
    * reference would idle forever on such a bucket; a marker-less
    * directory here means a non-bucket layout, e.g. a test fixture or
    * an export, where the finalized-prefix contract doesn't apply).
    * Batch partition planning, scan statistics and the streaming
    * listing all derive from this so they can never disagree about
    * what is readable; pruning uses the markers to bracket row
    * timestamps ([[pruneByUpdated]]).
    */
  def visibleClassified(dir: String): (Array[(String, Long)], Array[String]) = {
    val (data, markers) = listClassifiedSized(dir)
    (if (markers.isEmpty) data else data.filter(_._1 < markers.last), markers)
  }

  /** The name-embedded timestamp of a changefeed object: a ≥ 6-digit
    * run at the START of the base name — the changefeed sink naming
    * shape (`<timestamp>-<uniquer>-...`), which is also what makes
    * lexicographic name order time order in the first place. Anchoring
    * at the start (plus the length floor) keeps incidental digit runs
    * — Spark's `part-00000` counters, uuid fragments mid-name — from
    * masquerading as timestamps and driving a wrong skip. None ⇒ the
    * file never participates in pruning.
    */
  private[sources] def embeddedTs(path: String): Option[String] = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    "^[0-9]{6,}".r.findFirstIn(base)
  }

  private def nanosOf(v: String): Option[String] = {
    val digits = v.takeWhile(_.isDigit)
    if (digits.nonEmpty) Some(digits) else None
  }

  /** Is this pushed filter usable for listing-time file pruning? Only
    * comparison bounds on the `updated` HLC string with a numeric
    * wall-time prefix qualify.
    */
  def prunable(f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case GreaterThan("updated", v: String) => nanosOf(v).isDefined
      case GreaterThanOrEqual("updated", v: String) => nanosOf(v).isDefined
      case LessThan("updated", v: String) => nanosOf(v).isDefined
      case LessThanOrEqual("updated", v: String) => nanosOf(v).isDefined
      case EqualTo("updated", v: String) => nanosOf(v).isDefined
      case _ => false
    }
  }

  /** Skip whole objects using `updated` bounds, the name-embedded
    * timestamp contract, and the RESOLVED marker protocol. An object
    * named with timestamp T holds only mutations with wall nanos ≥ T
    * (the sink names a flush by its start stamp — the same premise
    * that makes name order ingest order). The UPPER bracket comes from
    * the resolved protocol, NOT from the next data file's name: a
    * `<R>.RESOLVED` marker means every data object sorting below it is
    * finalized with row timestamps ≤ R (reference
    * `internal/source/objstore/conn.go:96-99` processes ranges between
    * consecutive markers on exactly this contract). Data files from
    * concurrent sink nodes/topics CAN overlap in row-timestamp ranges,
    * so a successor data file's stamp bounds nothing — bracketing on
    * it would silently skip qualifying rows that residual filters can
    * never recover. So: rows of file F lie in [ts(F), ts(M)] where M
    * is the first marker above F. At 100 TB this is the difference
    * between a bounded catch-up scan and a full-bucket read: a
    * backfill with `updated >= X` opens none of the months of objects
    * below the bound.
    *
    * Comparisons happen on DIGIT STRINGS and only when this file's
    * stamp, the bracketing marker's stamp, and the bound's wall prefix
    * have equal digit length — for equal-length runs string order IS
    * numeric order, and the bracketing stamps pin every row's digit
    * count, so the skip decision is exact under the string comparison
    * semantics the query actually uses (epoch-nanos stamps are all 19
    * digits in practice, so the guard almost never disables pruning).
    * Files without a parsable stamp, and files with no marker above
    * them (marker-less fixture directories included), are always kept.
    * Every pushed filter is re-evaluated row-by-row by Spark
    * regardless — pruning can only skip files whose rows provably fail
    * the filter.
    */
  def pruneByUpdated(files: Array[String], markers: Array[String],
      bounds: Array[org.apache.spark.sql.sources.Filter]): Array[String] = {
    import org.apache.spark.sql.sources._
    if (bounds.isEmpty || files.isEmpty || markers.isEmpty) return files
    val lowers = bounds.toSeq.collect {
      case GreaterThan("updated", v: String) => nanosOf(v)
      case GreaterThanOrEqual("updated", v: String) => nanosOf(v)
      case EqualTo("updated", v: String) => nanosOf(v)
    }.flatten
    val uppers = bounds.toSeq.collect {
      case LessThan("updated", v: String) => nanosOf(v)
      case LessThanOrEqual("updated", v: String) => nanosOf(v)
      case EqualTo("updated", v: String) => nanosOf(v)
    }.flatten
    if (lowers.isEmpty && uppers.isEmpty) return files
    // sorted marker names with parsable stamps; the first marker ABOVE
    // a file brackets its rows (binary search per file — no sortedness
    // assumption on `files` itself)
    val stamped = markers.flatMap(m => embeddedTs(m).map(ts => (m, ts))).sortBy(_._1)
    val names = stamped.map(_._1)
    files.filter { f =>
      val ip = java.util.Arrays.binarySearch(names.asInstanceOf[Array[AnyRef]], f)
      val next = if (ip >= 0) ip + 1 else -ip - 1 // strictly-above marker index
      (embeddedTs(f), if (next < stamped.length) Some(stamped(next)._2) else None) match {
        case (Some(t), Some(r)) if t.length == r.length =>
          val belowLower = lowers.exists(nx => r.length == nx.length && r < nx) // rows ≤ r < bound
          val aboveUpper = uppers.exists(nx => t.length == nx.length && t > nx) // rows ≥ t > bound
          !belowLower && !aboveUpper
        case _ => true
      }
    }
  }

  /** Hadoop conf for executors — broadcast once per scan so S3/HDFS
    * credentials and tuning reach a 1000-executor cluster.
    */
  def confBroadcast(): org.apache.spark.broadcast.Broadcast[SerializableConfiguration] = {
    val spark = SparkSession.active
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }
}
