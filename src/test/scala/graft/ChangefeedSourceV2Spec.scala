package graft

import java.nio.file.Files

import graft.cdc.Changefeed
import graft.sources.ChangefeedOffset
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The DataSourceV2 changefeed connector: batch/stream equivalence with
  * the generic json reader, per-file frontier offsets, admission
  * control, checkpointed resume, and decode-level column pruning.
  */
class ChangefeedSourceV2Spec extends SparkSpec {
  import spark.implicits._

  private def writeLines(dir: String, lines: Seq[String], nFiles: Int): Unit =
    spark.sparkContext.parallelize(lines, nFiles).toDF("value")
      .write.mode("overwrite").text(dir)

  private val envelopes = Seq(
    """{"after": "v1", "key": "[1]", "updated": "100.0000000000"}""",
    """{"after": {"id": 2, "vals": [1, 2]}, "key": "[2]", "updated": "200.0000000000"}""",
    """{"after": null, "key": "[2]", "updated": "400.0000000000"}""",
    """{"key": "[3]", "updated": "150.0000000000", "extra": {"x": 1}}""",
    """this line is not json at all""",
    """{"after": 42, "key": "[5]", "updated": "1.0000000000"}""",
    """{"after": true, "key": "[6]", "updated": "2.0000000000"}""",
    """{"after": "null", "key": "[4]", "updated": "bogus.hlc"}""")

  test("DSv2 batch read is row-identical to the generic json reader") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dsv2_batch"
    writeLines(dir, envelopes :+ "   ", 3) // blank line: both readers drop it

    val v2 = spark.read.format("graft-changefeed").load(dir)
    val generic = spark.read.schema(Changefeed.envelopeSchema).json(dir)
    assert(v2.schema == generic.schema)
    val key = (r: org.apache.spark.sql.Row) =>
      (Option(r.getString(0)), Option(r.getString(1)), Option(r.getString(2)))
    assert(v2.collect().map(key).sorted.toSeq == generic.collect().map(key).sorted.toSeq)
    // an object-valued `after` survives as the raw source text both ways
    assert(v2.where(col("key") === "[2]" && col("after").isNotNull)
      .head().getString(0) == """{"id": 2, "vals": [1, 2]}""")
  }

  test("streaming connector drains to the exact batch result") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dsv2_stream"
    writeLines(dir, envelopes, 3)
    val batch = Changefeed.read(spark, dir).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).sorted.toSeq

    val q = Changefeed.readStream(spark, dir, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("dsv2_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("dsv2_out").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).sorted.toSeq
    assert(streamed == batch)
  }

  test("admission control: maxFilesPerTrigger bounds every micro-batch") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dsv2_admission"
    val lines = (1 to 10).map(i => s"""{"after": "v$i", "key": "[$i]", "updated": "$i.0000000000"}""")
    writeLines(dir, lines, 5)

    val q = spark.readStream.format("graft-changefeed")
      .option("maxFilesPerTrigger", 2).load(dir)
      .writeStream.format("memory").queryName("dsv2_adm")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("dsv2_adm").count() == 10)
    // 5 data files / 2 per trigger = 3 non-empty micro-batches
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3, q.recentProgress.map(_.numInputRows).mkString(","))
    assert(batches.map(_.numInputRows).max <= 4) // ≤ 2 files × 2 rows
  }

  test("offset json round-trips the file frontier") {
    val off = ChangefeedOffset("file:/tmp/data/2026-01-01T00_00_00.ndjson", 7)
    assert(ChangefeedOffset.fromJson(off.json()) == off)
    assert(ChangefeedOffset.fromJson(ChangefeedOffset("", 0).json()) == ChangefeedOffset("", 0))
    // a pre-`below` checkpoint (older offset format) restores as
    // unknown baseline — contract check stays disabled, no crash
    assert(ChangefeedOffset.fromJson("""{"lastFile": "f"}""") == ChangefeedOffset("f", -1))
  }

  test("monotonic-name baseline survives a restart via the offset") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val base = Files.createTempDirectory("graft_dsv2_monobase").toString
    def put(name: String): Unit =
      Files.write(java.nio.file.Paths.get(s"$base/$name"),
        ("""{"after": "x", "key": "[1]", "updated": "1.0000000000"}""" + "\n")
          .getBytes("UTF-8"))
    put("000001.ndjson"); put("000002.ndjson")
    val s1 = new graft.sources.ChangefeedMicroBatchStream(
      Changefeed.envelopeSchema, base, 16)
    val o1 = s1.latestOffset(s1.initialOffset(), ReadLimit.maxFiles(16))
      .asInstanceOf[ChangefeedOffset]
    assert(o1.below == 2 && o1.lastFile.endsWith("000002.ndjson"))
    assert(s1.lastWarned == (("", -1))) // healthy progress: no warning

    // restart: a FRESH stream instance restores the offset from its
    // checkpointed json; a file written below the committed frontier
    // while the stream was down must be detected, not silently skipped
    val restored = ChangefeedOffset.fromJson(o1.json())
    put("000000.ndjson")
    val s2 = new graft.sources.ChangefeedMicroBatchStream(
      Changefeed.envelopeSchema, base, 16)
    val o2 = s2.latestOffset(restored, ReadLimit.maxFiles(16))
      .asInstanceOf[ChangefeedOffset]
    assert(o2.lastFile == restored.lastFile) // nothing new above the frontier
    assert(s2.lastWarned._1 == restored.lastFile) // violation warned post-restart
  }

  test("checkpointed resume ingests only files beyond the frontier") {
    val base = Files.createTempDirectory("graft_dsv2_resume").toString
    val src = s"$base/src"; val ck = s"$base/ck"; val out = s"$base/out"
    // changefeed object names are time-ordered — model that with
    // monotonically increasing file names (the frontier is lexicographic)
    Files.createDirectories(java.nio.file.Paths.get(src))
    def writeFile(seq: Int, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(f"$src/$seq%06d.ndjson"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    (1 to 6).foreach(i => writeFile(i,
      Seq(s"""{"after": "a$i", "key": "[$i]", "updated": "$i.0000000000"}""")))

    def drain(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000); q.stop()
    }
    drain()
    assert(spark.read.parquet(out).count() == 6)
    // a new file sorting ABOVE the frontier arrives; only it is ingested
    writeFile(7, Seq("""{"after": "z", "key": "[99]", "updated": "99.0000000000"}"""))
    drain()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 7) // exactly once: no replays of the first six
    assert(rows.where(col("key") === "[99]").count() == 1)
  }

  test("nested date-partitioned buckets list recursively; metadata dirs hide") {
    val base = Files.createTempDirectory("graft_dsv2_nested").toString
    def put(rel: String, line: String): Unit = {
      val p = java.nio.file.Paths.get(s"$base/$rel")
      Files.createDirectories(p.getParent)
      Files.write(p, (line + "\n").getBytes("UTF-8"))
    }
    put("2026-01-01/000001.ndjson",
      """{"after": "d1", "key": "[1]", "updated": "1.0000000000"}""")
    put("2026-01-01/000002.ndjson",
      """{"after": "d2", "key": "[2]", "updated": "2.0000000000"}""")
    put("2026-01-02/000001.ndjson",
      """{"after": "d3", "key": "[3]", "updated": "3.0000000000"}""")
    put("_spark_metadata/0", """{"not": "data"}""") // sink metadata: hidden
    put("2026-01-02/_SUCCESS_like", """{"not": "data"}""")
    put("2026-01-02/.hidden.ndjson", """{"not": "data"}""")

    // date dirs sort before each other and files within — ingest order
    val listed = graft.sources.ChangefeedFiles.visibleClassified(base)._1.map(_._1)
    assert(listed.length == 3)
    assert(listed.map(_.split('/').takeRight(2).mkString("/")).toSeq ==
      Seq("2026-01-01/000001.ndjson", "2026-01-01/000002.ndjson",
        "2026-01-02/000001.ndjson"))

    val batch = spark.read.format("graft-changefeed").load(base)
    assert(batch.count() == 3)

    // streaming drains the nested layout under admission control too
    val q = spark.readStream.format("graft-changefeed")
      .option("maxFilesPerTrigger", 1).load(base)
      .writeStream.format("memory").queryName("dsv2_nested")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(spark.table("dsv2_nested").count() == 3)
  }

  test("the listStatus walk lists exactly what Hadoop's listFiles lists") {
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_dsv2_listing").toString
    def put(rel: String, body: String): Unit = {
      val p = java.nio.file.Paths.get(s"$base/$rel")
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes("UTF-8"))
    }
    val row = """{"after": "x", "key": "[1]", "updated": "1.0000000000"}""" + "\n"
    val marker = """{"resolved": "2.0000000000"}"""
    put("2026-01-01/000001-a.ndjson", row)
    put("2026-01-01/000002-b.ndjson", row * 3)
    put("2026-01-01/000003.RESOLVED", marker)
    put("2026-01-01/.tmp-000004-c.ndjson", row) // partial, renamed into place later
    put("2026-01-01/000005-empty.ndjson", "")
    put("2026-01-02/00/000006-d.ndjson", row * 2)
    put("2026-01-02/_staging/000007-e.ndjson", row)
    put("2026-01-02/.hidden/000008.RESOLVED", marker)
    put("2026-01-02/000009.RESOLVED", marker)
    put("2026-01-02/000010-f.ndjson", row) // beyond the last marker: listed, not visible
    put("2026-01-03/000011.RESOLVED", "")
    put("_spark_metadata/0", row)
    put(".dot/000012-g.ndjson", row)
    put("_SUCCESS", row)
    Files.createDirectories(java.nio.file.Paths.get(s"$base/2026-01-04"))

    // the reference: Hadoop's located recursive listing, under the same
    // visibility rules (hidden `_`/`.` segments below the root, no
    // zero-length objects, markers apart, full-path order)
    def viaListFiles(root: String): (Seq[(String, Long)], Seq[String]) = {
      val p = new Path(root)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val q = fs.makeQualified(p)
      val it = fs.listFiles(q, true)
      val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getLen > 0) all += ((st.getPath.toString, st.getLen))
      }
      val visible = all.filterNot { case (f, _) =>
        f.stripPrefix(q.toString + "/").split('/')
          .exists(seg => seg.startsWith("_") || seg.startsWith("."))
      }
      val (markers, data) = visible.partition(_._1.endsWith(".RESOLVED"))
      (data.sortBy(_._1).toSeq, markers.map(_._1).sorted.toSeq)
    }
    def listed(root: String): (Seq[(String, Long)], Seq[String]) = {
      val (data, markers) = graft.sources.ChangefeedFiles.listClassifiedSized(root)
      (data.toSeq, markers.toSeq)
    }

    val (data, markers) = listed(base)
    assert(data.map(_._1.split('/').last) == Seq("000001-a.ndjson", "000002-b.ndjson",
      "000006-d.ndjson", "000010-f.ndjson"))
    assert(data.map(_._2) == Seq(row.length, 3 * row.length, 2 * row.length, row.length)
      .map(_.toLong))
    assert(markers.map(_.split('/').last) == Seq("000003.RESOLVED", "000009.RESOLVED"))
    for (root <- Seq(base, s"$base/2026-01-01", s"$base/2026-01-02", s"$base/2026-01-04",
        s"$base/2026-01-02/00/000006-d.ndjson"))
      assert(listed(root) == viaListFiles(root), root)
    // a glob lists each matched directory as its own root
    val (d1, m1) = viaListFiles(s"$base/2026-01-01")
    val (d2, m2) = viaListFiles(s"$base/2026-01-02")
    assert(listed(s"$base/2026-01-0[12]") == (((d1 ++ d2).sortBy(_._1), (m1 ++ m2).sorted)))
    assert(listed(s"$base/missing") == ((Nil, Nil)))
  }

  test("source metrics report the backlog; pendingFiles reaches 0 after an AvailableNow drain") {
    val base = Files.createTempDirectory("graft_dsv2_metrics").toString
    def put(name: String, body: String): Unit =
      Files.write(java.nio.file.Paths.get(s"$base/$name"), (body + "\n").getBytes("UTF-8"))
    (1 to 3).foreach(i =>
      put(f"$i%06d.ndjson", s"""{"after": "v$i", "key": "[$i]", "updated": "$i.0000000000"}"""))
    put("000004.RESOLVED", """{"resolved": "4.0000000000"}""")
    put("000005.ndjson", """{"after": "late", "key": "[5]", "updated": "5.0000000000"}""")

    val q = Changefeed.readStream(spark, base, maxFilesPerTrigger = 1)
      .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val reported = q.recentProgress.filter(_.numInputRows > 0).map(_.sources.head.metrics)
    // the file past the last marker is not visible, so not backlog
    assert(reported.map(_.get("pendingFiles")).toSeq == Seq("2", "1", "0"))
    assert(reported.forall(_.get("latestResolvedMarker").endsWith("/000004.RESOLVED")))
  }

  test(".RESOLVED markers gate the listing and never emit phantom rows") {
    val base = Files.createTempDirectory("graft_dsv2_resolved").toString
    def put(rel: String, line: String): Unit =
      Files.write(java.nio.file.Paths.get(s"$base/$rel"), (line + "\n").getBytes("UTF-8"))
    // a bucket in lexicographic ingest order: data, marker, data, marker, data
    put("202601010000.ndjson", """{"after": "a", "key": "[1]", "updated": "100.0000000000"}""")
    put("202601010005.ndjson", """{"after": "b", "key": "[2]", "updated": "200.0000000000"}""")
    put("202601010010.RESOLVED", """{"resolved": "250.0000000000"}""")
    put("202601010015.ndjson", """{"after": "c", "key": "[3]", "updated": "300.0000000000"}""")
    put("202601010020.RESOLVED", """{"resolved": "350.0000000000"}""")
    put("202601010025.ndjson", """{"after": "late", "key": "[4]", "updated": "400.0000000000"}""")

    val (data, markers) = graft.sources.ChangefeedFiles.listClassifiedSized(base)
    assert(data.length == 4 && markers.length == 2)
    // the visible listing stops at the LAST marker: the late file waits
    val visible = graft.sources.ChangefeedFiles.visibleClassified(base)._1.map(_._1)
    assert(visible.map(_.split('/').last).toSeq ==
      Seq("202601010000.ndjson", "202601010005.ndjson", "202601010015.ndjson"))

    // batch read: finalized rows only, and NO phantom all-null delete
    // from a marker body parsed as a mutation (the r6 latent bug)
    val batch = Changefeed.read(spark, base)
    assert(batch.count() == 3)
    assert(batch.where(col("key").isNull).count() == 0)
    assert(batch.where(col("is_delete")).count() == 0)

    // marker bodies surface as the resolved frontier, not as mutations
    val frontier = Changefeed.resolvedFrontier(spark, base).collect()
    assert(frontier.length == 1)
    assert(frontier(0).getAs[String]("resolved") == "350.0000000000")
    assert(Changefeed.resolvedMarkers(spark, base).count() == 2)

    // streaming respects the same gate; a NEW marker admits the late file
    def drainedKeys(name: String): Set[String] = {
      val q = Changefeed.readStream(spark, base, maxFilesPerTrigger = 1)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000); q.stop()
      spark.table(name).collect().map(_.getString(0)).toSet
    }
    assert(drainedKeys("dsv2_res1") == Set("[1]", "[2]", "[3]"))
    put("202601010030.RESOLVED", """{"resolved": "450.0000000000"}""")
    assert(drainedKeys("dsv2_res2") == Set("[1]", "[2]", "[3]", "[4]"))
  }

  test("updated bounds prune whole objects at listing time") {
    val base = Files.createTempDirectory("graft_dsv2_prunefiles").toString
    def put(name: String, stamps: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$base/$name"),
        stamps.map(t => s"""{"after": "v", "key": "[$t]", "updated": "$t.0000000000"}""")
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    // contract: a file named T holds rows with nanos ≥ T, and rows of
    // every file below a `<R>.RESOLVED` marker are ≤ R (the resolved
    // protocol — successor DATA files bound nothing, their row ranges
    // can overlap across concurrent sink nodes)
    def marker(ts: String): Unit =
      Files.write(java.nio.file.Paths.get(s"$base/$ts.RESOLVED"),
        s"""{"resolved": "$ts.0000000000"}\n""".getBytes("UTF-8"))
    put("100000.ndjson", Seq("100000", "120000"))
    marker("130000")
    put("200000.ndjson", Seq("200000", "250000"))
    marker("260000")
    put("300000.ndjson", Seq("300000", "350000"))
    marker("360000")
    put("400000.ndjson", Seq("400000"))
    marker("450000")

    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.asInstanceOf[graft.sources.ChangefeedScan]
          .toBatch.planInputPartitions().length
      }.get

    // catch-up bound: files provably below it are never opened. Files
    // 1 and 2 are marker-bracketed ≤ 130000 / ≤ 260000 < bound → both
    // skip; file 3 may hold a row equal to the bound and survives.
    val lo = spark.read.format("graft-changefeed").load(base)
      .where(col("updated") >= "300000.0000000000")
    assert(plannedFiles(lo) == 2)
    assert(lo.select("key").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("[300000]", "[350000]", "[400000]"))

    // upper bound: files 3 and 4 (rows ≥ their own stamps 300000 /
    // 400000 — the naming contract needs no successor) both skip;
    // file 2's stamp EQUALS the bound's nanos so it must survive
    val hi = spark.read.format("graft-changefeed").load(base)
      .where(col("updated") < "200000.0000000000")
    assert(plannedFiles(hi) == 2)
    assert(hi.select("key").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("[100000]", "[120000]"))

    // reported statistics reflect pruning: the planner sees the bytes
    // the scan will actually read, not the whole directory
    def statBytes(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.asInstanceOf[graft.sources.ChangefeedScan]
          .estimateStatistics().sizeInBytes().getAsLong
      }.get
    val allBytes = statBytes(spark.read.format("graft-changefeed").load(base))
    val expectedKept = Seq("300000.ndjson", "400000.ndjson")
      .map(n => new java.io.File(s"$base/$n").length()).sum
    assert(statBytes(lo) == expectedKept)
    assert(statBytes(lo) < allBytes)

    // digit-length mismatch (string vs numeric order can diverge) and
    // unstamped names disable pruning rather than risk wrong skips;
    // a MARKER-LESS directory never prunes (no upper bracket exists)
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val (sized, markers) = graft.sources.ChangefeedFiles.visibleClassified(base)
    val files = sized.map(_._1)
    assert(graft.sources.ChangefeedFiles.pruneByUpdated(files, markers,
      Array(GreaterThanOrEqual("updated", "99999999.0"))).length == 4)
    assert(graft.sources.ChangefeedFiles.pruneByUpdated(
      Array(s"$base/part-00000-aa.json", s"$base/part-00001-bb.json"), markers,
      Array(GreaterThanOrEqual("updated", "300000.0"))).length == 2)
    assert(graft.sources.ChangefeedFiles.pruneByUpdated(files, Array.empty,
      Array(GreaterThanOrEqual("updated", "300000.0000000000"))).length == 4)

    // the reference contract ONLY bounds rows via markers: a file from
    // a concurrent sink node can hold rows ABOVE its successor data
    // file's stamp. Successor-stamp bracketing would prune file
    // 500000.ndjson here (rows "≤ 600000" < bound) and silently lose
    // the overlapping 620000 row; the marker bracket (650000) keeps it.
    val base2 = Files.createTempDirectory("graft_dsv2_overlap").toString
    def put2(name: String, stamps: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$base2/$name"),
        stamps.map(t => s"""{"after": "v", "key": "[$t]", "updated": "$t.0000000000"}""")
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    put2("500000.ndjson", Seq("500000", "620000"))
    put2("600000.ndjson", Seq("600000"))
    Files.write(java.nio.file.Paths.get(s"$base2/650000.RESOLVED"),
      """{"resolved": "650000.0000000000"}""".getBytes("UTF-8"))
    val overlap = spark.read.format("graft-changefeed").load(base2)
      .where(col("updated") >= "610000.0000000000")
    assert(plannedFiles(overlap) == 2) // neither file provably fails the bound
    assert(overlap.select("key").collect().map(_.getString(0)).toSeq == Seq("[620000]"))

    // a streaming catch-up with the same bound skips the old backlog's
    // bytes while the offset frontier still advances past every file
    val q = Changefeed.readStream(spark, base, maxFilesPerTrigger = 2)
      .where(col("hlc.nanos") >= 300000L)
      .writeStream.format("memory").queryName("dsv2_prune_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000); q.stop()
    assert(spark.table("dsv2_prune_stream").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("[300000]", "[350000]", "[400000]"))
  }

  test("compressed objects and glob paths keep parity with the json reader") {
    val base = Files.createTempDirectory("graft_dsv2_gz").toString
    def putGz(rel: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(s"$base/$rel")
      Files.createDirectories(p.getParent)
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(p))
      out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
    }
    putGz("2026-01-01/100000.ndjson.gz",
      Seq("""{"after": "g1", "key": "[1]", "updated": "100.0000000000"}""",
        """{"after": "g2", "key": "[2]", "updated": "200.0000000000"}"""))
    putGz("2026-01-02/200000.ndjson.gz",
      Seq("""{"after": "g3", "key": "[3]", "updated": "300.0000000000"}"""))

    // the changefeed sink's compression option: .gz objects must decode
    // through the Hadoop codec, not parse as raw bytes → phantom nulls
    val v2 = spark.read.format("graft-changefeed").load(base)
    val generic = spark.read.schema(Changefeed.envelopeSchema)
      .option("recursiveFileLookup", "true").json(base)
    assert(v2.count() == 3)
    assert(v2.where(col("key").isNull).count() == 0)
    assert(v2.collect().map(_.getString(1)).sorted.toSeq ==
      generic.collect().map(_.getString(1)).sorted.toSeq)

    // glob paths expand like the generic reader's path handling
    val globbed = spark.read.format("graft-changefeed").load(s"$base/2026-01-0[12]")
    assert(globbed.count() == 3)
    assert(spark.read.format("graft-changefeed").load(s"$base/2026-01-01").count() == 2)

    // pruning stamps anchor at the basename START: mid-name digit runs
    // (uuid fragments, 6+ digits) never masquerade as timestamps, so
    // these files are never pruned no matter the bound
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    assert(graft.sources.ChangefeedFiles.pruneByUpdated(
      Array("/d/data-214509-aa.json", "/d/data-830764-bb.json", "/d/data-999999-cc.json"),
      Array("/d/ts999999.RESOLVED"),
      Array(GreaterThanOrEqual("updated", "500000.0"))).length == 3)
  }

  test("column pruning reaches the json decode") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dsv2_prune"
    writeLines(dir, envelopes, 2)
    val df = spark.read.format("graft-changefeed").load(dir).select("updated")
    val scanSchema = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.readSchema()
    }
    assert(scanSchema.map(_.fieldNames.toSeq) == Some(Seq("updated")))
    assert(df.where(col("updated").isNotNull).count() == 7)
  }
}
