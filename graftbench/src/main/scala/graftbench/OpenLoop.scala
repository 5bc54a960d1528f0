package graftbench

/** Open-loop arithmetic: item i is due at start + i · interval whatever
  * the system does, so a stall delays every later item and shows up in
  * their latency. Pure; HarnessSpec pins it.
  */
object OpenLoop {

  def due(startMs: Double, intervalMs: Double, i: Int): Double = startMs + i * intervalMs

  /** How late the generator itself ran: per item, actual issue time
    * minus due time (never negative: issuing early is not possible).
    */
  def lateness(dueMs: Seq[Double], issuedMs: Seq[Double]): Seq[Double] =
    dueMs.zip(issuedMs).map { case (d, a) => math.max(0.0, a - d) }

  /** Per item, the time from its due time to the first commit that
    * covers it. `commits` are (highest item index covered, commit time)
    * in commit order; an item no commit covers yields None.
    */
  def latencies(dueMs: Seq[Double], commits: Seq[(Int, Double)]): Seq[Option[Double]] = {
    val sorted = commits.sortBy(_._2)
    dueMs.zipWithIndex.map { case (d, i) =>
      sorted.find(_._1 >= i).map(_._2 - d)
    }
  }
}
