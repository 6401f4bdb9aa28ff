package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Order-independent digest of a query result: its row count and the
  * wrapping sum of a 64-bit hash of each row. Equal multisets of rows
  * give equal digests whatever the partitioning or row order, so a
  * result can be pinned without sorting it. Values hash through their
  * string form, so doubles are compared bit for bit (the JVM prints
  * the shortest string that round-trips) and timestamps in the JVM's
  * default zone, which the benchmark pins to UTC. */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {

  /** 64-bit hash of one row: two Murmur3 hashes, with different seeds,
    * of the row's fields rendered as length-prefixed strings. */
  def rowHash(fields: Seq[Any]): Long = {
    val bytes = fields.map { v =>
      val s = if (v == null) "\u0000" else render(v)
      s"${s.length}:$s"
    }.mkString("|").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val a = MurmurHash3.bytesHash(bytes, 0x3c074a61)
    val b = MurmurHash3.bytesHash(bytes, 0x5bd1e995)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  private def render(v: Any): String = v match {
    case r: Row => r.toSeq.map(x => if (x == null) "null" else render(x)).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] =>
      s.map(x => if (x == null) "null" else render(x)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + (if (x == null) "null" else render(x)) }
        .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  /** Digest of locally held rows (tests, and the reference side). */
  def of(rows: Iterable[Seq[Any]]): Digest =
    rows.foldLeft(Digest(0, 0L)) { (d, r) => Digest(d.rows + 1, d.hash + rowHash(r)) }

  /** Materialise every row of `df` and digest it, in one Spark action:
    * each partition folds its rows into (count, hash sum) and only
    * those pairs reach the driver. Like the `noop` sink it produces
    * every output row at full width; unlike it, it also hashes them. */
  def materialise(df: DataFrame): Digest = {
    val parts = df.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r.toSeq) }
      Iterator((n, h))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
