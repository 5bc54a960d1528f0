package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Same seed, same inputs; the program under
  * test only ever sees what these produce.
  */
object Gen {
  /** Text source: 2000 documents of the sf0.1 `documents` table (see
    * extract_documents.py), cut into sentences of ten words. Generated
    * text is a run of randomly drawn sentences, so its word statistics
    * are the table's while no two generated documents share more than
    * chance overlap.
    */
  val sentences: IndexedSeq[Array[String]] = {
    val in = getClass.getResourceAsStream("/sf01_documents.txt")
    require(in != null, "sf01_documents.txt missing from the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).flatMap(_.split(' ').grouped(10)).toIndexedSeq
    finally src.close()
  }
  private val stopwords = Set("the", "a")

  /** `n` words of table text. */
  def tableWords(r: SplittableRandom, n: Int): Array[String] = {
    val out = ArrayBuffer.empty[String]
    while (out.size < n) out ++= sentences(r.nextInt(sentences.size))
    out.take(n).toArray
  }

  /** Garbled text: table text with every second non-stopword written
    * backwards. The reversed words are outside the LM's vocabulary, so
    * half the bigrams are unseen continuations of a seen context.
    */
  def garbledWords(r: SplittableRandom, n: Int): Array[String] =
    tableWords(r, n).zipWithIndex.map { case (w, i) =>
      if (i % 2 == 1 && !stopwords(w)) w.reverse else w
    }

  def render(words: Array[String]): String = words.mkString(" ")

  // ---------------------------------------------------------------- corpus

  /** Input properties of a generated corpus group (a shard or a batch). */
  final case class CorpusProps(
      lenMin: Int, lenMax: Int,
      piiShare: Double, gopherRejectShare: Double, lmRejectShare: Double,
      nearDupShare: Double, exactDupShare: Double, sources: Int)

  /** `kind` records what the generator planted; `dupOf` names the source
    * document of a planted (near-)duplicate, -1 otherwise.
    */
  final case class Doc(id: Long, source: String, text: String, kind: String, dupOf: Long)

  /** One group of `n` documents with ids firstId until firstId + n. A
    * planted duplicate copies an earlier clean document from
    * `dupSources` (clean documents with at least 50 words and two
    * stopwords, so a copy passes every gate; this group's qualifying
    * documents are appended to it, so groups that share the pool plant
    * duplicates across groups). A near-duplicate is the copy with the
    * word `dup` appended, the form the sf0.1 table's own near-duplicates
    * take; its 3-shingle Jaccard with the source is above 0.97.
    */
  def corpusGroup(seed: Long, group: Int, firstId: Long, n: Int,
      p: CorpusProps,
      dupSources: ArrayBuffer[(Long, Array[String])] = ArrayBuffer.empty): Seq[Doc] = {
    val r = new SplittableRandom(seed * 1000003L + group)
    val docs = ArrayBuffer.empty[Doc]
    def src(): String = s"src${r.nextInt(p.sources)}"
    def len(lo: Int): Int = math.max(lo, p.lenMin + r.nextInt(p.lenMax - p.lenMin + 1))
    for (i <- 0 until n) {
      val id = firstId + i
      val u = r.nextDouble()
      var acc = 0.0
      def within(share: Double): Boolean = { acc += share; u < acc }
      val doc =
        if (within(p.nearDupShare) && dupSources.nonEmpty) {
          val (sid, w) = dupSources(r.nextInt(dupSources.size))
          Doc(id, src(), render(w) + " dup", "near_dup", sid)
        } else if (within(p.exactDupShare) && dupSources.nonEmpty) {
          val (sid, w) = dupSources(r.nextInt(dupSources.size))
          Doc(id, src(), render(w), "exact_dup", sid)
        } else if (within(p.piiShare)) {
          val w = render(tableWords(r, len(50)))
          val pii = r.nextInt(3) match {
            case 0 => s"mail${r.nextInt(1000)}.ops@corp${r.nextInt(50)}.org"
            case 1 => f"${r.nextInt(900) + 100}%d-${r.nextInt(900) + 100}%d-${r.nextInt(9000) + 1000}%d"
            case _ => s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
          }
          val cut = w.indexOf(' ', w.length / 2)
          Doc(id, src(), w.substring(0, cut) + " " + pii + w.substring(cut), "pii", -1)
        } else if (within(p.gopherRejectShare)) {
          val w = render(tableWords(r, len(50)))
          Doc(id, src(), if (r.nextBoolean()) w + " { }" else "lorem ipsum " + w, "gopher_reject", -1)
        } else if (within(p.lmRejectShare)) {
          Doc(id, src(), render(garbledWords(r, len(60))), "lm_reject", -1)
        } else {
          val w = tableWords(r, len(1))
          if (w.length >= 50 && w.count(stopwords) >= 2) dupSources += (id -> w)
          Doc(id, src(), render(w), "clean", -1)
        }
      docs += doc
    }
    docs.toSeq
  }

  /** Reference text the LM is trained on: `n` documents of table text. */
  def reference(seed: Long, n: Int): Seq[String] = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    Seq.fill(n)(render(tableWords(r, 60 + r.nextInt(60))))
  }

  // ------------------------------------------------------------------- cdc

  /** Input properties of a changefeed. Shares are per generated
    * mutation. A merge conflict plants a pair on a fresh key: a clean
    * first write and a second write whose before-image disagrees with
    * it. Out-of-order rows are delivered 1-3 files late; duplicate
    * deliveries repeat a row 1-3 files later. Only ordinary rows are
    * delayed or repeated.
    */
  final case class CdcProps(keys: Int, zipfS: Double, rowsPerFile: Int,
      deleteShare: Double, malformedShare: Double, conflictShare: Double,
      outOfOrderShare: Double, duplicateShare: Double)

  /** One generated mutation. `slot` separates the two writes of a
    * planted conflict pair (0 for ordinary rows); `before` is the
    * before-image the merge checks against.
    */
  final case class Mut(mid: Long, id: Long, slot: Int, nanos: Long,
      value: Long, before: Option[Long], isDelete: Boolean, malformed: Boolean,
      conflict: Boolean) {
    def envelope: String = {
      val after =
        if (isDelete) "null"
        else s"""{"mid":$mid,"value":$value,"before":${before.getOrElse("null")}}"""
      val updated = if (malformed) s"$nanos.bad" else f"$nanos%d.0000000000"
      s"""{"after":$after,"key":[$id,$slot,$mid],"updated":"$updated"}"""
    }
  }

  /** A changefeed as files: `files(f)` is the rows delivered in file f. */
  final case class Feed(muts: IndexedSeq[Mut], files: IndexedSeq[IndexedSeq[Mut]])

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }

  /** `nFiles` files; file f holds mutations with nanos in
    * [fileStart(f), fileStart(f) + fileNanos) plus late and repeated
    * deliveries. The first `bigFiles` files hold `bigRows` rows each,
    * the rest `rowsPerFile`. Ids: ordinary keys 0 until keys, conflict
    * keys above.
    */
  def cdcFeed(seed: Long, p: CdcProps, nFiles: Int, fileStart: Int => Long, fileNanos: Long,
      bigFiles: Int = 0, bigRows: Int = 0): Feed = {
    val r = new SplittableRandom(seed * 6364136223846793005L + 1442695040888963407L)
    val cdf = zipfCdf(p.keys, p.zipfS)
    val muts = ArrayBuffer.empty[Mut]
    val files = Array.fill(nFiles)(ArrayBuffer.empty[Mut])
    var mid = 0L
    var conflictKey = p.keys.toLong
    for (f <- 0 until nFiles) {
      val rows = if (f < bigFiles) bigRows else p.rowsPerFile
      val step = fileNanos / (rows + 1)
      var j = 0
      while (j < rows) {
        val nanos = fileStart(f) + (j + 1) * step
        def mk(id: Long, slot: Int, value: Long, before: Option[Long], del: Boolean,
            bad: Boolean, conf: Boolean, dn: Long = 0L): Mut = {
          val m = Mut(mid, id, slot, nanos + dn, value, before, del, bad, conf)
          mid += 1
          muts += m
          m
        }
        val u = r.nextDouble()
        if (u < p.conflictShare && j + 1 < rows) {
          val v = r.nextLong(1L << 40)
          files(f) += mk(conflictKey, 1, v, None, del = false, bad = false, conf = false)
          files(f) += mk(conflictKey, 2, v + 2, Some(v + 1), del = false, bad = false,
            conf = true, dn = 1L)
          conflictKey += 1
          j += 2
        } else {
          val key = {
            val x = java.util.Arrays.binarySearch(cdf, r.nextDouble())
            (if (x >= 0) x else -x - 1).min(p.keys - 1).toLong
          }
          val bad = u < p.conflictShare + p.malformedShare
          val del = !bad && r.nextDouble() < p.deleteShare
          val m = mk(key, 0, r.nextLong(1L << 40), None, del, bad, conf = false)
          val v = r.nextDouble()
          if (!bad && v < p.outOfOrderShare)
            files(math.min(nFiles - 1, f + 1 + r.nextInt(3))) += m
          else {
            files(f) += m
            if (!bad && v < p.outOfOrderShare + p.duplicateShare)
              files(math.min(nFiles - 1, f + 1 + r.nextInt(3))) += m
          }
          j += 1
        }
      }
    }
    Feed(muts.toIndexedSeq, files.map(_.toIndexedSeq).toIndexedSeq)
  }
}
