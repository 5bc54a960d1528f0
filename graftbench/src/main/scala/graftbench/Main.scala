package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a pass holds at the end of its last operation, before the
  * harness releases the pass's pins: the driver heap in use after a full
  * collection (local-mode pin blocks live there), and the memory of the
  * blocks persisted RDDs hold.
  */
final case class Held(heapMb: Double, pinnedMb: Double)

object Held {
  val none: Held = Held(Double.NaN, Double.NaN)

  /** Both figures after a full collection. The listener bus is drained
    * first, since queued events hold query plans; the pause between the
    * two collections lets the ContextCleaner drop the blocks of RDDs the
    * first one found unreachable.
    */
  def measure(spark: SparkSession): Held = {
    org.apache.spark.GraftbenchBus.drain(spark.sparkContext)
    System.gc(); Thread.sleep(200); System.gc()
    val pinned = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    Held(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0),
      pinned / (1024.0 * 1024.0))
  }
}

/** One measured pass over a prepared input, from fresh program state. */
final case class Pass(
    attempted: Int,
    failed: Int,
    latMs: Seq[Double],
    rows: Long,
    wallMs: Double,
    held: Held,
    layer: Seq[Metric] = Nil,
    detail: Map[String, String] = Map.empty) {
  def rowsPerS: Double = rows / (wallMs / 1000.0)
}

/** Inputs, models and indexes built for one seed; `run` measures one
  * pass over them from fresh program state and checks its results. A
  * warm-up pass runs only the first operations the config names.
  */
trait Prepared {
  def run(t: Tracer, l: Option[BenchListener], warm: Boolean = false): Pass
}

trait Workload {
  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --config <config.json> --workdir <dir>`. Prints detail lines, then
  * the result as one JSON object on the last line of stdout.
  */
object Main {

  def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(conf: JsonNode, workDir: String): SparkSession = {
    val b = SparkSession.builder().appName("graftbench")
    conf.fields().asScala.foreach(e => b.config(e.getKey, e.getValue.asText()))
    b.config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")

  /** Progress line on stderr, seconds since start. */
  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val trace = arg(args, "trace") == "1"
    val cfg = new ObjectMapper().readTree(new java.io.File(arg(args, "config")))
    val workDir = arg(args, "workdir")
    val traceDir = arg(args, "tracedir")
    val wcfg = cfg.get("workloads").get(workload)
    require(wcfg != null, s"unknown workload $workload")
    val w: Workload = workload match {
      case "cdc_stream" => new CdcStream(wcfg)
      case "curation_nightly" => new CurationNightly(wcfg)
    }
    // fixed work: the pass count follows from --seconds alone, never
    // from how fast this run happens to go
    val rounds = math.max(1, math.round(seconds.toDouble / cfg.get("nominal_seconds").asDouble()).toInt)
    val warmSeed = seed + cfg.get("warmup_seed_offset").asLong()
    val setupReps = wcfg.get("setup_reps").asInt()

    val spark = session(cfg.get("spark_conf"), workDir)
    val listener = new BenchListener
    val sessionMs = (System.nanoTime() - t0) / 1e6

    // set-up: input generation plus model training / index build, done
    // setup_reps times on fresh directories (the warm-up input, the
    // measured input, then repeats of it that are dropped at once); the
    // median counts. Each repetition's pins (a standing index) are
    // tracked so that only the measured input's stay in the heap.
    def prepOnce(s: Long, i: Int): (Prepared, Set[Int], Double) = {
      val before = Curation.pinned(spark)
      val st = System.nanoTime()
      val p = w.prepare(spark, s, s"$workDir/prep$i")
      log(s"prepared seed $s")
      (p, Curation.pinned(spark) -- before, (System.nanoTime() - st) / 1e6)
    }
    var (warmPrep, warmPins, warmPrepMs) = prepOnce(warmSeed, 0)
    val (prepared, _, measuredPrepMs) = prepOnce(seed, 1)
    val repMs = (2 until setupReps).map { i =>
      val (_, pins, ms) = prepOnce(seed, i)
      Curation.release(spark, pins)
      ms
    }
    val prepMs = Seq(warmPrepMs, measuredPrepMs) ++ repMs
    // warm-up on the differently seeded input of the same shape, which
    // is then dropped
    val ws = System.nanoTime()
    val off = new Tracer(false)
    val warmPass = warmPrep.run(off, None, warm = true)
    val warmMs = (System.nanoTime() - ws) / 1e6
    Curation.release(spark, warmPins)
    warmPrep = null
    log("warm-up done")
    val setupS = (sessionMs + Stats.median(prepMs) + warmMs) / 1000.0

    val gc0 = gcMs(); val jit0 = jitMs()
    val passes = (0 until rounds).map(_ => prepared.run(off, None))
    val gcD = gcMs() - gc0; val jitD = jitMs() - jit0
    val heapMb = Stats.median(passes.map(_.held.heapMb))
    log("timed passes done")

    val lat = passes.flatMap(_.latMs)
    val rowsPerS = Stats.median(passes.map(_.rowsPerS))
    val p50 = Stats.median(lat)
    val tail = Stats.tail(lat)
    var attempted = passes.map(_.attempted).sum
    var failed = passes.map(_.failed).sum
    val warmFailed = warmPass.failed

    val detail = scala.collection.mutable.LinkedHashMap[String, String](
      "workload" -> workload, "seed" -> seed.toString, "rounds" -> rounds.toString,
      "latency_samples" -> lat.size.toString,
      "latency_tail_percentile" -> tail.map(_._1.toString).getOrElse("none"),
      "latency_ms_tail" -> tail.map(x => fmt(x._2)).getOrElse("none"),
      "session_s" -> fmt(sessionMs / 1000), "prep_s" -> prepMs.map(m => fmt(m / 1000)).mkString("/"),
      "warmup_s" -> fmt(warmMs / 1000), "warmup_failed" -> warmFailed.toString,
      "jvm_gc_ms" -> fmt(gcD), "jvm_jit_ms" -> fmt(jitD),
      "pinned_mb" -> fmt(Stats.median(passes.map(_.held.pinnedMb))))
    passes.headOption.foreach(p => detail ++= p.detail)

    val metrics: Seq[Metric] =
      if (!trace) {
        Seq(
        Metric("rows_per_s", rowsPerS, "1/s"),
        Metric("latency_ms_p50", p50, "ms"),
        Metric("setup_s", setupS, "s"),
        Metric("retained_heap_mb", heapMb, "MB"))
      } else {
        // traced pass: same input, fresh state, spans and listener on
        spark.sparkContext.addSparkListener(listener)
        spark.streams.addListener(listener.streaming)
        val tracer = new Tracer(true)
        val tp = prepared.run(tracer, Some(listener))
        org.apache.spark.GraftbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        TraceDump.write(s"$traceDir/$workload-seed$seed.jsonl", tracer.spans, listener.jobRecs)
        attempted += tp.attempted
        failed += tp.failed
        detail ++= tp.detail.map { case (k, v) => s"traced.$k" -> v }
        tp.layer ++ Seq(
          Metric("jvm.gc_ms", gcD, "ms"),
          Metric("jvm.jit_ms", jitD, "ms"),
          Metric("materialize.pinned_mb", Stats.median(passes.map(_.held.pinnedMb)), "MB"),
          Metric("trace.overhead_rows_per_s", tp.rowsPerS / passes.head.rowsPerS, "ratio"),
          Metric("trace.overhead_latency_p50", Stats.median(tp.latMs) / Stats.median(passes.head.latMs), "ratio"))
      }
    println("DETAIL " + json(detail.toMap))
    val correct = failed == 0 && warmFailed == 0
    val ms = metrics.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}""")
    System.out.flush()
  }
}
