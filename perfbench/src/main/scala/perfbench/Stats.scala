package perfbench

/** Order statistics used by every timing metric.
  *
  * Percentiles use the nearest-rank definition: the p-th percentile of n
  * sorted samples is the sample at rank ceil(p/100 * n). The tail of a
  * timing is the highest percentile that still has [[Stats.MinBeyond]]
  * samples ranked above it: the sample at rank n - 10, which is the
  * percentile 100 * (n - 10) / n. It moves smoothly with the sample
  * count (a fixed ladder of percentiles would jump between rungs when the
  * count crosses one) and always rests on ten observations.
  */
object Stats {
  val MinBeyond = 10

  final case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

  def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** None when fewer than 2 x MinBeyond samples exist (the tail would
    * fall below the median). */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    if (n < 2 * MinBeyond) None
    else {
      val r = n - MinBeyond
      Some(Tail(100.0 * r / n, xs.sorted.apply(r - 1), n, MinBeyond))
    }
  }

  /** Commit time of each spool file: a file is committed once EVERY
    * query has reported a committed batch whose end offset reaches it.
    * `perQuery` holds, per query, (observed time, index of the last file
    * the batch's end offset covers) in observation order. None = some
    * query never committed the file.
    */
  def fileCommitTimes(nFiles: Int,
      perQuery: Seq[Seq[(Long, Int)]]): Array[Option[Long]] = {
    val out = Array.fill[Option[Long]](nFiles)(Some(Long.MinValue))
    perQuery.foreach { events =>
      val first = Array.fill[Option[Long]](nFiles)(None)
      var covered = -1
      events.foreach { case (t, last) =>
        while (covered < math.min(last, nFiles - 1)) {
          covered += 1
          first(covered) = Some(t)
        }
      }
      for (f <- 0 until nFiles) out(f) = (out(f), first(f)) match {
        case (Some(a), Some(b)) => Some(math.max(a, b))
        case _ => None
      }
    }
    if (perQuery.isEmpty) Array.fill(nFiles)(None) else out
  }

  /** Due-time latency of each message in ms: commit time of the message's
    * file minus the time the message was DUE to be sent (not when the
    * generator got round to sending it), so a stall that delays later
    * sends is charged to the messages it delayed. None = not committed.
    */
  def dueLatenciesMs(dueNs: Array[Long], fileOf: Array[Int],
      commitNs: Array[Option[Long]]): Array[Option[Double]] =
    dueNs.indices.map { j =>
      val f = fileOf(j)
      if (f < 0 || f >= commitNs.length) None
      else commitNs(f).map(c => (c - dueNs(j)) / 1e6)
    }.toArray
}
