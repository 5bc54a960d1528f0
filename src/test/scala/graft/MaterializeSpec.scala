package graft

import graft.ops.Materialize
import org.apache.spark.sql.GraftPin
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The cluster-safe [[Materialize]] seam's contract, in one place
  * (moved here from LastValueSpec in r14 so the Scaladoc's pointer
  * names a suite that exists): the persist leg's level + eagerness +
  * row fidelity, the local-master localCheckpoint pick, and the
  * doc's key cluster claim — a double-replica block loss recomputes
  * DETERMINISTICALLY through a range exchange, because the cached
  * RDD graph holds ONE RangePartitioner whose sampled boundaries
  * were fixed when the DAG first ran; recompute reuses the
  * partitioner object, never re-samples. (First-attempt TASK loss
  * during the barrier's own count() job is covered separately in
  * FaultToleranceSpec's "clusterBarrier materialization survives
  * first-attempt task loss".)
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("clusterBarrier: DISK_ONLY_2, eager, same rows") {
    val df = (1 to 300).map(i => (i.toLong, (i % 5).toLong)).toDF("id", "k")
      .repartitionByRange(4, col("k"), col("id"))
    val m = Materialize.clusterBarrier(df)
    // eager + replicated persistence (locally one replica can land,
    // but the REQUESTED level must be the 2-replica disk level)
    assert(m.storageLevel === StorageLevel.DISK_ONLY_2)
    assert(m.count() === 300)
    assert(m.exceptAll(df).count() === 0)
    Materialize.release(m)
  }

  test("barrier picks localCheckpoint on a local master") {
    // the local leg must keep the r12 semantics: truncated lineage
    // (ExistingRDD scan), not a persisted view of the original plan
    val df = (1 to 10).toDF("id")
    val m = Materialize.barrier(df)
    assert(m.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.getClass.getSimpleName.contains("LogicalRDD")))
  }

  test("clusterBarrier recompute after total block loss is deterministic") {
    // Simulate the worst cluster case — BOTH DISK_ONLY_2 replicas of
    // every block gone — by unpersisting the cached RDD at the RDD
    // level, NOT through the DataFrame: the CacheManager entry (and
    // its memoized cached-buffers RDD) survives, so the next action
    // walks the SAME RDD graph, finds no blocks, and recomputes each
    // partition from lineage — exactly what a cluster does when a
    // block and its replica are lost. The recompute crosses the
    // range exchange, and the rows INCLUDING __pid must come back
    // bit-identical: the ShuffledRowRDD's RangePartitioner is one
    // fixed object in that graph, so a recompute can never re-sample
    // new boundaries (the r12 partial-sampling double-count is
    // structurally impossible after the barrier).
    val idsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 1000)
      .map(i => ((i * 2654435761L) % 997, i.toLong)).toDF("k", "id")
      .repartitionByRange(4, col("k"), col("id"))
      .withColumn("__pid", spark_partition_id())
    val m = Materialize.clusterBarrier(df)
    val before = m.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val cachedIds = spark.sparkContext.getPersistentRDDs.keySet -- idsBefore
    assert(cachedIds.nonEmpty, "barrier registered no persistent RDD")
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => cachedIds(id) }
      .values.foreach(_.unpersist(blocking = true)) // drop every block
    val after = m.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(after == before,
      "recompute after block loss changed rows/__pid — range boundaries re-sampled")
  }

  test("release frees a local-leg pin's checkpointed RDD") {
    // the local leg's frame is a LogicalRDD over a locally checkpointed
    // RDD; unpersisting the frame alone leaves that RDD's blocks pinned
    val m = Materialize.barrier((1 to 100).toDF("id").repartition(2))
    val pin = m.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.id
      case other => fail(s"local barrier leaf is not a LogicalRDD: $other")
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(pin))
    Materialize.release(m)
    assert(!spark.sparkContext.getPersistentRDDs.contains(pin),
      "release left the checkpointed RDD persisted")
  }

  test("dupClusters keeps only its final round's pin") {
    // a 40-node path takes several pointer-doubling rounds; each round
    // pins its labels, and a superseded round's pin is released
    val docs = (1L to 40L).toDF("id")
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cl = graft.ops.Dedup.dupClusters(docs, "id", pairs)
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.size <= 1, s"pins held after dupClusters: $held")
    assert(cl.select("cluster_id").distinct().as[Long].collect().toSeq == Seq(1L))
  }

  /** Jobs started while `body` runs, counted by [[Profile]]. */
  private def jobsOf(body: => Unit): Int = {
    val p = new Profile(spark.sparkContext)
    try { p.drain(); p.reset(); body; p.drain(); p.jobsSeen }
    finally p.detach()
  }

  /** A text-heavy pinned join result: the optimizer's estimate before
    * the pin is the product of both sides' sizes. `salt` keeps the
    * plans of two calls apart, so the persist leg's cache never serves
    * one call from the other's blocks. */
  private def textJoin(salt: Int) = {
    val docs = (1 to 400).map(i => (i.toLong, s"doc $i $salt " + "lorem ipsum dolor sit " * 25))
      .toDF("id", "text")
    val keys = (1 to 400).map(i => (i.toLong, i % 7 + salt)).toDF("id", "k")
    docs.join(keys, "id").repartition(3)
  }

  /** Runs `body` with a checkpoint dir on the shared context, which the
    * reliable leg needs, then unsets it (`setCheckpointDir(null)` leaves
    * none) and deletes the directory: `Materialize.barrier` branches on
    * the dir on a non-local master, so no other suite may see one. */
  private def withCheckpointDir[T](body: => T): T = {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "a checkpoint dir is already set")
    val d = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    sc.setCheckpointDir(d.toString)
    try body
    finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteDirectory(d)
      assert(sc.getCheckpointDir.isEmpty && !d.exists())
    }
  }

  test("each leg's pin carries its measured row count and stored size") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    // (leg, pin, share of the UnsafeRow bytes the leg stores at least):
    // the checkpoint legs store the UnsafeRows themselves; the persist
    // leg stores columnar batches, whose strings carry no 8-byte
    // offset-and-length word, and Spark's InMemoryRelation reports
    // their size (measured: 97% of the UnsafeRow bytes on this frame)
    val legs = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, Double)](
      ("local", Materialize.barrier(_), 1.0),
      ("reliable", GraftPin.checkpoint(_, reliable = true, eager = true).measured, 1.0),
      ("cluster", Materialize.clusterBarrier(_), 0.9))
    withCheckpointDir(for (((leg, pin, share), salt) <- legs.zipWithIndex) {
      val m = pin(textJoin(salt))
      val stats = m.queryExecution.optimizedPlan.stats
      val rows = m.count()
      val unsafeBytes = m.queryExecution.toRdd
        .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum().toLong
      assert(stats.rowCount.contains(BigInt(rows)), s"$leg: $stats vs $rows rows")
      // the text is the bulk of every row, so a rows × per-type-default
      // size would fall far below the stored bytes
      assert(unsafeBytes > rows * 500, s"$leg: the frame is not text-heavy")
      assert(stats.sizeInBytes.toDouble >= unsafeBytes * share &&
        stats.sizeInBytes <= unsafeBytes * 2,
        s"$leg: sizeInBytes ${stats.sizeInBytes} vs $unsafeBytes stored UnsafeRow bytes")
      Materialize.release(m)
    })
  }

  test("a measured pin launches no more jobs than Spark's own pin") {
    def frame(salt: Int) = (1 to 2000).toDF("id")
      .groupBy((col("id") % (37 + salt)).as("k")).agg(count(lit(1)).as("n"))
    assert(jobsOf(Materialize.barrier(frame(0))) ===
      jobsOf(frame(1).localCheckpoint(eager = true)))
    withCheckpointDir(
      assert(jobsOf(GraftPin.checkpoint(frame(2), reliable = true, eager = true).measured) ===
        jobsOf(frame(3).checkpoint(eager = true))))
    assert(jobsOf(Materialize.barrierAgg(frame(4), sum("n"))) ===
      jobsOf(frame(5).localCheckpoint(eager = false).agg(sum("n")).collect()))
    assert(jobsOf(Materialize.clusterBarrier(frame(6))) ===
      jobsOf(frame(7).persist(StorageLevel.DISK_ONLY_2).count()))
  }

  /** Lines of src/main/scala matching `call` outside the `seams` files,
    * skipping comment lines: comments are not call sites. */
  private def callsOutside(call: scala.util.matching.Regex, seams: String*): Seq[String] = {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val seamFiles = seams.map(new java.io.File(_))
    val files = scalaFiles(new java.io.File("src/main/scala"))
    for (s <- seamFiles) assert(files.contains(s), s"scan did not reach $s")
    files.filterNot(seamFiles.contains).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("/*") &&
            call.findFirstIn(line.split("//", 2)(0)).isDefined =>
          s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
  }

  test("every pin in src/main goes through Materialize") {
    // the design rule in code: a direct localCheckpoint / checkpoint /
    // persist call elsewhere picks one pin for every master, skipping
    // the cluster legs above
    val hits = callsOutside("""\.(localCheckpoint|checkpoint|persist)\(""".r,
      "src/main/scala/graft/ops/Materialize.scala")
    assert(hits.isEmpty, s"pins outside Materialize:\n${hits.mkString("\n")}")
  }

  test("every SparkListener in src/main is graft.Profile") {
    // one profiler: a second hand-written listener brings back its own
    // stage naming and its own wait for the asynchronous listener bus
    val hits = callsOutside("""addSparkListener\(|extends SparkListener\b""".r,
      "src/main/scala/graft/Profile.scala")
    assert(hits.isEmpty, s"listeners outside Profile:\n${hits.mkString("\n")}")
  }

  test("nothing in src/main blocks on the global thread pool") {
    // pins run one at a time on the calling thread: a Future on the
    // shared pool lets a failed pin's siblings run on, and a pin nested
    // in another Future waits on a thread of the same pool
    val hits = callsOutside("""\bFuture\(|\bAwait\.|ExecutionContext\.global""".r)
    assert(hits.isEmpty, s"global-pool blocking in src/main:\n${hits.mkString("\n")}")
  }
}
