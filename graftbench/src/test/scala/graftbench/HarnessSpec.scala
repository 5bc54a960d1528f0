package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic: tail rule, span self time, driver
  * gap, job attribution, open-loop accounting, generator planting.
  */
class HarnessSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, start: Double, end: Double, name: String = "s") =
    Span(id, name, 0, parent, start, end)

  private def job(id: Int, start: Double, end: Double, pin: Option[String] = None) =
    JobRec(id, start, end, 1, 0.0, 0L, 0L, pin)

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(20).isEmpty) // p51 leaves only 9 beyond
    assert(Stats.tailPercentile(21).contains(52))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs).contains(90 -> 90.0))
    assert(xs.count(_ > 90.0) == 10)
    assert(Stats.tail((1 to 5).map(_.toDouble)).isEmpty)
  }

  test("median and nearest rank") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.nearestRank(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 60) == 3.0)
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (3.0, 4.0), (10.0, 11.0))) == 5.0)
    assert(Stats.unionLength(Seq((5.0, 5.0), (7.0, 6.0))) == 0.0)
    assert(Stats.coveredWithin(1.0, 3.5, Seq((0.0, 2.0), (3.0, 9.0))) == 1.5)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val parent = span(1, 0, 0, 10)
    val spans = Seq(parent, span(2, 1, 1, 3), span(3, 1, 2, 5), span(4, 1, 8, 12),
      span(5, 2, 1.5, 2.5)) // a grandchild is already inside its parent
    assert(TraceMath.selfTime(parent, spans) == 4.0)
    assert(TraceMath.selfTime(spans(1), spans) == 1.0)
  }

  test("driver gap is operation wall minus the union of its jobs") {
    val jobs = Seq(job(1, 10, 20), job(2, 15, 30), job(3, 50, 60), job(4, 95, 110))
    assert(TraceMath.driverGap(0, 100, jobs) == 65.0)
    assert(TraceMath.driverGap(0, 100, Nil) == 100.0)
  }

  test("a job is attributed to the innermost span open when it started") {
    val spans = Seq(
      span(1, 0, 0, 100, "op"), span(2, 1, 10, 40, "a"), span(3, 2, 20, 30, "b"),
      span(4, 1, 50, 90, "c"), span(5, 1, 55, 70, "d")) // c and d: same depth, d later
    val jobs = Seq(job(1, 5, 6), job(2, 25, 26), job(3, 35, 45), job(4, 52, 53),
      job(5, 60, 61), job(6, 150, 160))
    val owner = TraceMath.attribute(jobs, spans).map { case (j, s) => j -> s.name }
    assert(owner == Map(1 -> "op", 2 -> "b", 3 -> "a", 4 -> "c", 5 -> "d"))
  }

  test("pin jobs are recognised by their Materialize call site") {
    val agg = "collect at Materialize.scala:95\norg.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "graft.ops.Materialize$.barrierAgg(Materialize.scala:95)\ngraft.ops.Dedup$.dupClusters(Dedup.scala:441)"
    assert(BenchListener.pinOf(agg).contains("barrierAgg"))
    assert(BenchListener.pinOf("graft.ops.Materialize$.barrier(Materialize.scala:65)").contains("barrier"))
    assert(BenchListener.pinOf("graft.ops.Dedup$.dupClusters(Dedup.scala:441)").isEmpty)
  }

  test("open loop: due times, generator lateness, latency to the covering commit") {
    val dues = (0 until 4).map(OpenLoop.due(1000.0, 100.0, _))
    assert(dues == Seq(1000.0, 1100.0, 1200.0, 1300.0))
    assert(OpenLoop.lateness(dues, Seq(1000.0, 1105.0, 1190.0, 1350.0)) == Seq(0.0, 5.0, 0.0, 50.0))
    // commit at 1150 covers items 0-1; at 1420 items 2-3
    val lat = OpenLoop.latencies(dues, Seq(1 -> 1150.0, 3 -> 1420.0))
    assert(lat == Seq(Some(150.0), Some(50.0), Some(220.0), Some(120.0)))
    // a stall delays every later item; an uncovered item has no latency
    assert(OpenLoop.latencies(dues, Seq(0 -> 1010.0, 2 -> 2000.0)) ==
      Seq(Some(10.0), Some(900.0), Some(800.0), None))
  }

  test("union-find labels every node with its component's smallest id") {
    val c = Curation.components(Seq(5L -> 9L, 9L -> 2L, 7L -> 8L))
    assert(c == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 7L -> 7L, 8L -> 7L))
  }

  test("generators are seeded and plant what they claim") {
    val p = Gen.CorpusProps(12, 100, 0.08, 0.05, 0.08, 0.2, 0.05, 8)
    val a = Gen.corpusGroup(7, 0, 0, 400, p)
    assert(a == Gen.corpusGroup(7, 0, 0, 400, p))
    assert(a != Gen.corpusGroup(8, 0, 0, 400, p))
    def shingles(t: String) = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val byId = a.map(d => d.id -> d).toMap
    val near = a.filter(_.kind == "near_dup")
    assert(near.nonEmpty)
    near.foreach { d =>
      val (x, y) = (shingles(d.text), shingles(byId(d.dupOf).text))
      assert((x & y).size.toDouble / (x | y).size >= 0.8)
    }
    // text is the table's words; garbled text is not
    val table = Gen.sentences.flatten.toSet
    assert(a.filter(_.kind == "clean").forall(_.text.split(' ').forall(table)))
    assert(a.filter(_.kind == "lm_reject").forall(!_.text.split(' ').forall(table)))
    val cp = Gen.CdcProps(50, 1.1, 40, 0.05, 0.02, 0.05, 0.05, 0.05)
    val f = Gen.cdcFeed(3, cp, 10, _ * 1000000L, 1000000L)
    assert(f == Gen.cdcFeed(3, cp, 10, _ * 1000000L, 1000000L))
    assert(f.files.map(_.size).sum >= f.muts.size) // duplicates deliver twice
    assert(f.muts.map(_.mid).distinct.size == f.muts.size)
    // a planted conflict pair: same key, clean first write, disagreeing second
    f.muts.filter(_.conflict).foreach { b =>
      val a1 = f.muts.find(m => m.id == b.id && m.slot == 1).get
      assert(b.slot == 2 && b.before.get != a1.value && b.value != a1.value)
    }
  }
}
