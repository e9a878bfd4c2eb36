package perfbench

/** Compares a table read back from the sink with the expected rows.
  * Every expected row is owned by the message that produced it; a
  * message fails if any of its rows is missing or wrong, or if its
  * primary key appears more than once. Rows with no expected key are
  * counted as `extra`, each one failure.
  */
object Checker {
  final case class Result(rows: Long, expectedRows: Long, missing: Int,
      wrong: Int, duplicateKeys: Int, extra: Int, failedMsgs: Set[Int],
      countMatch: Boolean, hashMatch: Boolean) {
    def failures: Int = failedMsgs.size + extra
    def ok: Boolean = failures == 0 && countMatch && hashMatch
    def summary: Map[String, Any] = Map("rows" -> rows,
      "expected_rows" -> expectedRows, "missing" -> missing, "wrong" -> wrong,
      "duplicate_keys" -> duplicateKeys, "extra" -> extra,
      "failed_msgs" -> failedMsgs.size, "count_match" -> countMatch,
      "hash_match" -> hashMatch)
  }

  /** Order-independent 64-bit hash of a row set (sum of per-row hashes). */
  def setHash[R](rows: Iterable[R]): Long =
    rows.foldLeft(0L)((h, r) => h + r.##.toLong * 0x9E3779B97F4A7C15L)

  def compare[K, R](expected: Map[K, (R, Int)], actual: Seq[R],
      key: R => K): Result = {
    val byKey = actual.groupBy(key)
    val failed = scala.collection.mutable.Set.empty[Int]
    var missing, wrong, dups = 0
    expected.foreach { case (k, (row, owner)) =>
      byKey.get(k) match {
        case None => missing += 1; failed += owner
        case Some(got) =>
          if (got.size > 1) { dups += 1; failed += owner }
          if (got.exists(_ != row)) { wrong += 1; failed += owner }
      }
    }
    val extra = byKey.keysIterator.count(k => !expected.contains(k))
    Result(actual.size.toLong, expected.size.toLong, missing, wrong, dups,
      extra, failed.toSet, actual.size == expected.size,
      setHash(actual) == setHash(expected.values.map(_._1)))
  }
}
