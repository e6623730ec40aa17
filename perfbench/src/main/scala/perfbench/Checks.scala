package perfbench

import org.apache.spark.sql.DataFrame

/** Order-independent table summaries computed on the driver from the
  * collected rows, so a check never trusts an engine aggregate to verify
  * the engine.
  */
object Checks {

  /** 64-bit FNV-1a over the UTF-8 bytes of `s`. */
  def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xff)
      h *= 0x100000001b3L
    }
    h
  }

  /** Row key: the columns rendered as text and joined with `|`. */
  def rowKey(values: Seq[Any]): String =
    values.map(v => if (v == null) "" else v.toString).mkString("|")

  /** (row count, wrapping sum of the row keys' hashes). */
  def summary(rows: Iterable[Seq[Any]]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + fnv(rowKey(r))) }

  def tableSummary(df: DataFrame): (Long, Long) =
    summary(df.collect().map(_.toSeq))

  /** Two result sets hold the same multiset of rows. Doubles compare
    * after rounding to `digits` places, so summation order cannot fail
    * an equal answer.
    */
  def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]], digits: Int = 6): Boolean = {
    def norm(r: Seq[Any]): String = rowKey(r.map {
      case d: Double => BigDecimal(d).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toString
      case f: Float => BigDecimal(f.toDouble).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toString
      case d: java.math.BigDecimal => BigDecimal(d).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toString
      case other => other
    })
    a.size == b.size && a.map(norm).sorted == b.map(norm).sorted
  }

  /** Live snapshot ids must be exactly the acknowledged, unexpired
    * commits, each once. Returns what is wrong, or None.
    */
  def snapshotMismatch(live: Seq[Long], acked: Set[Long]): Option[String] =
    if (live.distinct.size == live.size && live.toSet == acked) None
    else Some(s"${live.size} live snapshots vs ${acked.size} acknowledged; " +
      s"repeated ${live.diff(live.distinct).take(5)}, unacknowledged ${(live.toSet -- acked).take(5)}, " +
      s"missing ${(acked -- live.toSet).take(5)}")

  /** Share of planted pairs whose members landed in the same group. */
  def groupRecall(planted: Seq[(Long, Long)], groupOf: Map[Long, Long]): Double =
    if (planted.isEmpty) 1.0
    else planted.count { case (a, b) => groupOf.get(a).exists(g => groupOf.get(b).contains(g)) }
      .toDouble / planted.size

  /** Share of the exact top-k (query, item) pairs the approximate search found. */
  def recallAtK(exact: Set[(Long, Long)], approx: Set[(Long, Long)]): Double =
    if (exact.isEmpty) 1.0 else (exact & approx).size.toDouble / exact.size

  /** Word 3-shingle Jaccard of two texts, computed on the driver. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.trim.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** One row of the chunk audit holds for `text`: the chunks reassemble
    * to it, cover it from its first to its last character, have distinct
    * keys and end on valid boundaries.
    */
  def cdcRowOk(
      reassembledMd5: String, coveredLen: Int, firstStart: Int, lastEnd: Int,
      keysInjective: Boolean, boundariesValid: Boolean, text: String): Boolean =
    reassembledMd5 == md5(text) && coveredLen == text.length && firstStart == 1 &&
      lastEnd == text.length && keysInjective && boundariesValid
}
