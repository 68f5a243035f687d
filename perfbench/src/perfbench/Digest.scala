package perfbench

import org.apache.spark.sql.Row

import graft.core.Point

/** Result digest: the row count plus two order-independent 64-bit hashes of
  * (id, coordinates). Each row hashes on its own and the hashes are summed,
  * so the digest ignores row order, and dropping or duplicating a row
  * changes the count and both sums. */
final case class Digest(rows: Long, h1: Long, h2: Long) {
  override def toString: String = f"$rows%d:$h1%016x:$h2%016x"
}

object Digest {
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def rowHash(id: Long, vs: Array[Double], seed: Long): Long = {
    var h = mix(seed ^ id)
    var i = 0
    while (i < vs.length) {
      // -0.0 and 0.0 are the same coordinate
      val v = if (vs(i) == 0.0) 0.0 else vs(i)
      h = mix(h * 0x100000001b3L + java.lang.Double.doubleToLongBits(v))
      i += 1
    }
    mix(h + vs.length)
  }

  final class Acc {
    private var n = 0L
    private var s1 = 0L
    private var s2 = 0L
    def add(id: Long, vs: Array[Double]): Unit = {
      n += 1
      s1 += rowHash(id, vs, 0x5bd1e995L)
      s2 += rowHash(id, vs, 0x27d4eb2f165667c5L)
    }
    def result: Digest = Digest(n, s1, s2)
  }

  def ofPoints(ps: Iterable[Point]): Digest = {
    val acc = new Acc
    ps.foreach(p => acc.add(p.id, p.values))
    acc.result
  }

  /** Rows laid out as (id, d0, ..., d{dims-1}), as the skyline frames return them. */
  def ofRows(rows: Array[Row], dims: Int): Digest = {
    val acc = new Acc
    val vs = new Array[Double](dims)
    rows.foreach { r =>
      var i = 0
      while (i < dims) { vs(i) = r.getDouble(i + 1); i += 1 }
      acc.add(r.getLong(0), vs)
    }
    acc.result
  }

  def parse(s: String): Digest = s.split(":") match {
    case Array(n, a, b) =>
      Digest(n.toLong, java.lang.Long.parseUnsignedLong(a, 16),
        java.lang.Long.parseUnsignedLong(b, 16))
    case _ => throw new IllegalArgumentException(s"bad digest: $s")
  }
}
