package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exact-identity collapse in front of every LSH stage
  * ([[Dedup.collapseExact]] for text, the same window keyed on the
  * vector value inside [[Similarity.buildEmbeddingIndex]]): its members
  * and representative rows at the edges (case, surrounding spaces,
  * null ids, texts and vectors, signed zeros) against the plain
  * group-by definition, and the pin actions each dedup entry point
  * takes, counted as graftbench counts them.
  */
class CollapseSpec extends SparkSpec {
  import spark.implicits._

  /** The definition the collapse must equal: the min id per md5 of the
    * lower-cased, trimmed text, over rows whose id and text are set. */
  private def reference(docs: DataFrame): Set[(Long, Long)] = {
    val valid = docs.filter(col("doc_id").isNotNull && col("text").isNotNull)
      .withColumn("__fp", md5(lower(trim(col("text")))))
    val reps = valid.groupBy("__fp").agg(min(col("doc_id")).as("rep_id"))
    valid.join(reps, "__fp").select("doc_id", "rep_id").as[(Long, Long)].collect().toSet
  }

  /** The collapse's members (checked against [[reference]]) and its
    * representative rows (checked to hold each rep once). */
  private def checkCollapse(docs: DataFrame): (Set[(Long, Long)], DataFrame) = {
    val (members, repDocs) = Dedup.collapseExact(docs, "doc_id", "text")
    val got = members.select("doc_id", "rep_id").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "a doc appears twice in the members")
    assert(got.toSet == reference(docs))
    val reps = repDocs.select("doc_id").as[Long].collect().toSeq
    assert(reps.sorted == got.map(_._2).distinct.toSeq.sorted, "each rep exactly once in repDocs")
    (got.toSet, repDocs)
  }

  test("collapseExact: case and surrounding spaces share the min id; null ids and texts drop") {
    val docs = Seq[(java.lang.Long, String)](
      (5L, "Hello World"), (3L, "  hello world "), (9L, "HELLO WORLD"),
      (7L, "another doc "), (4L, "Another Doc"), (2L, "unique text"),
      (null, "hello world"), (8L, null), (6L, "hello  world"))
      .toDF("doc_id", "text")
    val (members, repDocs) = checkCollapse(docs)
    assert(members == Set((5L, 3L), (3L, 3L), (9L, 3L), (7L, 4L), (4L, 4L), (2L, 2L), (6L, 6L)))
    // the representative rows are the source's own rows, text untouched
    assert(repDocs.as[(Long, String)].collect().toMap ==
      Map(3L -> "  hello world ", 4L -> "Another Doc", 2L -> "unique text", 6L -> "hello  world"))
    // and on the sf0.001 corpus
    checkCollapse(Tables.documents(spark, sfDir).select("doc_id", "text"))
  }

  /** The vector collapse's definition: the min id per group-by on the
    * vector value itself, over rows whose id and vector are set. */
  private def vecReference(vecs: DataFrame): Set[(Long, Long)] = {
    val valid = vecs.filter(col("vec_id").isNotNull && col("embedding").isNotNull)
    val reps = valid.groupBy("embedding").agg(min(col("vec_id")).as("rep_id"))
    valid.join(reps, "embedding").select("vec_id", "rep_id").as[(Long, Long)].collect().toSet
  }

  /** The vector index's members (checked against [[vecReference]]) and
    * its rep vectors (checked to hold each rep once, with the rep's own
    * vector). */
  private def checkVecCollapse(vecs: DataFrame): Set[(Long, Long)] = {
    val ix = Similarity.buildEmbeddingIndex(vecs, "vec_id", "embedding", nPlanes = 4, nTables = 8)
    val got = ix.members.select("__id", "rep_id").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "a vector appears twice in the members")
    assert(got.toSet == vecReference(vecs))
    val repVecs = ix.repVecs.select("rep_id", "vec").as[(Long, Seq[Float])].collect().toSeq
    assert(repVecs.map(_._1).sorted == got.map(_._2).distinct.toSeq.sorted,
      "each rep exactly once in repVecs")
    val source = vecs.filter(col("vec_id").isNotNull)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    repVecs.foreach { case (rep, v) => assert(v == source(rep), s"rep $rep carries another vector") }
    got.toSet
  }

  test("vector collapse: identical vectors share the min id; null ids and vectors drop; signed zeros") {
    val vecs = Seq[(Option[Long], Option[Seq[Float]])](
      (Some(5L), Some(Seq(1f, 2f, 3f))), (Some(3L), Some(Seq(1f, 2f, 3f))),
      (Some(9L), Some(Seq(1f, 2f, 3f))), (Some(2L), Some(Seq(1f, 2f, 4f))),
      (Some(6L), Some(Seq(2f, 4f, 6f))), // same direction, not identical
      (Some(7L), Some(Seq(0f, 1f, -2f))), (Some(4L), Some(Seq(-0f, 1f, -2f))),
      (None, Some(Seq(1f, 2f, 3f))), (Some(8L), None))
      .toDF("vec_id", "embedding")
    assert(checkVecCollapse(vecs) ==
      Set((5L, 3L), (3L, 3L), (9L, 3L), (2L, 2L), (6L, 6L), (7L, 4L), (4L, 4L)))
    // and on the sf0.001 embeddings
    checkVecCollapse(Tables.embeddings(spark, sfDir).select("vec_id", "embedding"))
  }

  test("pin actions per dedup entry point") {
    val corpus = (1L to 60L).map(i => (i, s"doc ${i % 45} talks about topic ${i % 7} " +
      "with shared boilerplate words for the shingles")).toDF("doc_id", "text")
    val batch = (101L to 120L).map(i => (i, s"doc ${i % 50} talks about topic ${i % 7} " +
      "with shared boilerplate words for the shingles")).toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(corpus, "doc_id", "text")
    val vecs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val vecBatch = vecs.filter(pmod(col("vec_id"), lit(4)) === 0)
    val vecCorpus = vecs.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val vecIndex = Similarity.buildEmbeddingIndex(vecCorpus, "vec_id", "embedding", 4, 16)
    val entryPoints = Seq[(String, Int, () => Any)](
      ("verifiedDupPairs", 2, () => Dedup.verifiedDupPairs(corpus, "doc_id", "text", 0.8)),
      ("verifiedDupEdges", 2, () => Dedup.verifiedDupEdges(corpus, "doc_id", "text", 0.8)),
      ("buildDedupIndex", 3, () => Dedup.buildDedupIndex(corpus, "doc_id", "text")),
      ("simhashPairs", 3, () => Dedup.simhashPairs(corpus, "doc_id", "text")),
      ("exactMembership", 1, () => Dedup.exactMembership(corpus, "doc_id", "text")),
      ("incrementalDupPairs", 6, () => Dedup.incrementalDupPairs(batch, index, "doc_id", "text", 0.8)),
      // the vector entry points: one index build (collapse, rep vectors,
      // buckets), pinned the same way for the batch and the probe
      ("embeddingNearDups", 3, () => Similarity.embeddingNearDups(vecs, "vec_id", "embedding", 4, 16, 0.45)),
      ("buildEmbeddingIndex", 3, () => Similarity.buildEmbeddingIndex(vecCorpus, "vec_id", "embedding", 4, 16)),
      ("incrementalVecDupPairs", 3,
        () => Similarity.incrementalVecDupPairs(vecBatch, vecIndex, "vec_id", "embedding", 0.45)),
      ("probeAndExtendVec", 3,
        () => Similarity.probeAndExtendVec(vecIndex, vecBatch, "vec_id", "embedding", 0.45)))
    val p = new Profile(spark.sparkContext)
    val counted = try entryPoints.map { case (name, _, call) =>
      p.drain(); p.reset(); call(); p.drain()
      name -> p.pinsSeen
    } finally p.detach()
    assert(counted == entryPoints.map { case (name, pins, _) => name -> pins })
  }
}
