package graft.flowbench

import scala.util.hashing.MurmurHash3

/** Output checks, run outside the timed window. Each takes plain values
  * collected from the program and its reference, and returns the
  * failures it found (empty when the output is right), so SelfTest can
  * feed each one a deliberately wrong answer.
  */
object Checks {

  /** Canonical text of one cell: timestamps as epoch millis. */
  def cell(v: Any): String = v match {
    case null => "\u0000"
    case t: java.sql.Timestamp => t.getTime.toString
    case t: java.time.Instant => t.toEpochMilli.toString
    case other => other.toString
  }

  /** Order-independent (row count, 64-bit row hash) of a table. */
  def fingerprint(rows: Iterator[Seq[Any]]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val s = r.map(cell).mkString("\u0001")
      h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 91) & 0xffffffffL)
      n += 1
    }
    (n, h)
  }

  /** A sync target holds exactly its source table's rows. */
  def sameTable(name: String, source: (Long, Long), target: (Long, Long)): Seq[String] =
    if (source._1 != target._1) Seq(s"$name: ${target._1} target rows, source has ${source._1}")
    else if (source._2 != target._2) Seq(s"$name: row hash differs from the source")
    else Nil

  /** A stored watermark never runs ahead of its durable target. */
  def watermark(name: String, wm: Option[String], targetMax: java.sql.Timestamp): Seq[String] =
    wm match {
      case None => Seq(s"$name: no watermark stored")
      case Some(w) if java.sql.Timestamp.valueOf(w).after(targetMax) =>
        Seq(s"$name: watermark $w is past the target's max $targetMax")
      case _ => Nil
    }

  /** Cached bucket aggregates equal an uncached recompute, row for row. */
  def sameAggregate(name: String, cached: Seq[Seq[Any]], recomputed: Seq[Seq[Any]]): Seq[String] = {
    def canon(rs: Seq[Seq[Any]]) = rs.map(_.map(cell).mkString("|")).sorted
    val (a, b) = (canon(cached), canon(recomputed))
    if (a == b) Nil
    else {
      val diff = a.diff(b).take(2) ++ b.diff(a).take(2)
      Seq(s"$name: ${a.size} cached buckets vs ${b.size} recomputed; differing: ${diff.mkString("; ")}")
    }
  }

  /** LTTB keeps `threshold` points, including the window's first and last. */
  def lttb(name: String, xs: Seq[Long], threshold: Int, first: Long, last: Long): Seq[String] =
    Seq(
      if (xs.size != threshold) Some(s"$name: ${xs.size} points, threshold $threshold") else None,
      if (!xs.contains(first)) Some(s"$name: window's first point $first missing") else None,
      if (!xs.contains(last)) Some(s"$name: window's last point $last missing") else None
    ).flatten

  /** Every curated doc sits in exactly one shard, and nothing else does. */
  def shards(curated: Seq[Long], sharded: Seq[(Long, Int)], nShards: Int): Seq[String] = {
    val ids = sharded.map(_._1)
    Seq(
      if (ids.size != ids.distinct.size) Some("shards: a doc is in more than one shard row") else None,
      if (ids.toSet != curated.toSet)
        Some(s"shards: ${ids.toSet.size} sharded docs vs ${curated.toSet.size} curated") else None,
      if (sharded.exists { case (_, s) => s < 0 || s >= nShards }) Some("shards: shard id out of range")
      else None
    ).flatten
  }

  /** No blocked domain and no duplicate content hash survive curation. */
  def corpusClean(domains: Seq[String], blocked: Set[String], textHashes: Seq[String]): Seq[String] =
    Seq(
      domains.find(blocked).map(d => s"corpus: blocked domain $d survived"),
      if (textHashes.size != textHashes.distinct.size) Some("corpus: duplicate text survived") else None
    ).flatten
}
