package graft

import graft.ops.Dedup
import scala.util.Random

/** Property check: the distributed connected-components operator must
  * agree with a reference in-memory union-find on arbitrary graphs —
  * not just the clique-shaped graphs dedup typically produces. Seeded
  * generators keep every run deterministic.
  */
class ClustersPropertySpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n.toLong.toInt)(i => i.toLong)
    def find(x: Long): Long = {
      var r = x
      while (parent(r.toInt) != r) r = parent(r.toInt)
      var c = x
      while (parent(c.toInt) != c) { val nxt = parent(c.toInt); parent(c.toInt) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb).toInt) = math.min(ra, rb)
    }
    // canonical id = min member = the root under min-union
    (0 until n).map(i => i.toLong -> find(i.toLong)).toMap
  }

  test("dupClusters == union-find on seeded random graphs") {
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new Random(seed)
      val n = 60
      val nEdges = rnd.nextInt(80)
      val edges = Seq.fill(nEdges) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val expected = unionFind(n, edges)
      val docs = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.dupClusters(docs, "doc_id", pairs)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      assert(got == expected, s"seed=$seed, edges=${edges.take(20)}...")
    }
  }

  test("dupClusters cluster_size counts every member, singletons included") {
    val docs = (0L until 10L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val sizes = Dedup.dupClusters(docs, "doc_id", pairs)
      .select("cluster_id", "cluster_size").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.head._2 }
    assert(sizes(0L) == 3L && sizes(5L) == 2L)
    assert((3L to 4L).forall(i => sizes(i) == 1L))
  }

  test("dupClusters drops edges with an endpoint outside docs") {
    val n = 10
    val inside = Seq((0L, 1L), (1L, 2L), (5L, 6L))
    // 100 would bridge 3 and 4 into one cluster of three; -5 would
    // become 8's cluster_id although it is not a doc
    val outside = Seq((3L, 100L), (4L, 100L), (-5L, 8L))
    val docs = (0L until n.toLong).toDF("doc_id")
    val out = Dedup.dupClusters(docs, "doc_id", (inside ++ outside).toDF("id_a", "id_b"))
      .select("doc_id", "cluster_id", "cluster_size").as[(Long, Long, Long)].collect()
    assert(out.map(r => r._1 -> r._2).toMap == unionFind(n, inside))
    val members = out.groupBy(_._2).map { case (c, rs) => c -> rs.length.toLong }
    out.foreach { case (d, c, size) =>
      assert(size == members(c), s"doc $d: cluster_size $size, members ${members(c)}")
    }
  }
}
