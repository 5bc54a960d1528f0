package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** [[Profile]], the dev tools' stage profiler, on the shared test
  * context: the PROFILE line is JSON, every task lands in a stage row,
  * gap ≤ wall, a shuffle plan reports its shuffle-write volume, a
  * pin's stage is named by the operator that pinned (never by
  * Materialize's own frame), no stage is named by the adaptive pool's
  * frame, and the job and pin counts are reported.
  */
class ProfileSpec extends SparkSpec {

  /** Profile `action` alone and return its parsed stage rows. The
    * listener is detached afterwards: every suite shares one context. */
  private def profiled(region: String)(action: => Unit): (Profile, Seq[JsonNode], Int) = {
    val p = new Profile(spark.sparkContext)
    try {
      p.drain()
      p.reset()
      action
      p.drain()
      val line = p.line(region)
      assert(line.startsWith("PROFILE {"), line)
      val json = new ObjectMapper().readTree(line.stripPrefix("PROFILE "))
      assert(json.get("region").asText == region)
      assert(json.get("gap_ms").asLong <= json.get("wall_ms").asLong, line)
      val stages = json.get("stages").elements.asScala.toSeq
      assert(p.tasksSeen > 0)
      assert(stages.map(_.get("tasks").asInt).sum == p.tasksSeen, line)
      assert(json.get("jobs").asInt == p.jobsSeen, line)
      assert(json.get("pins").asInt == p.pinsSeen, line)
      (p, stages, p.jobsSeen)
    } finally p.detach()
  }

  test("a one-shuffle plan: every task in a stage row, shuffle-write MB > 0") {
    val (p, stages, _) = profiled("one_shuffle") {
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 5000).as("k")).count()
        .write.format("noop").mode("overwrite").save()
    }
    assert(p.shuffleWriteMb > 0)
    assert(stages.exists(_.get("shuffle_write_mb").asDouble > 0))
  }

  test("dupClusters at sf0.001: a pin's stage is named by the operator that pinned") {
    val (p, stages, jobs) = profiled("dedup_clusters") {
      SparkEntry.queries("dedup_clusters")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    val names = stages.map(_.get("name").asText)
    assert(names.exists(_.startsWith("graft.ops.Dedup$.dupClusters")), names.distinct.mkString("\n"))
    assert(!names.exists(_.startsWith("graft.ops.Materialize")), names.distinct.mkString("\n"))
    assert(p.pinsSeen > 0)
    // adaptive query stages run from a pool thread: they are named
    // through their SQL execution's call site, not the pool's frame
    assert(!names.exists(_.contains("CompletableFuture")), names.distinct.mkString("\n"))
    assert(jobs > 0)
  }
}
