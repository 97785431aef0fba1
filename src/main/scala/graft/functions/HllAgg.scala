package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** HyperLogLog distinct-count sketch (Flajolet et al., AofA 2007) over the
  * repo's 60-bit md5-fold hashes (`Sketches.hash60`): 2^p dense byte
  * registers, each holding the maximum "rank" (leading-zero run of the
  * (60-p)-bit suffix + 1) seen in its bucket.
  *
  * Scale design: the buffer is a CONSTANT 2^p bytes (p=12 → 4 KB) per
  * (group, task); merge is element-wise max — associative, commutative,
  * idempotent — so Spark runs it as a partial aggregation, and re-merging
  * overlapping shards never double-counts. Complements KMV: KMV is exact
  * below k and degrades above; HLL holds ~1.04/√m relative error at ANY
  * cardinality with a denser register layout.
  *
  * Determinism: registers are a pure function of the input SET, and the
  * estimate uses EXACT integer arithmetic for the harmonic sum:
  * Σ 2^(-M_j) is accumulated as the integer Σ 2^(62-M_j) over a common
  * 2^62 denominator (M_j ≤ 60-p+1 ≤ 62), so a SQL oracle reproduces the
  * estimator bit-for-bit: est = floor(α_m · m² · 2^62 / S) with one double
  * expression in a fixed operation order. The RAW HLL estimator is
  * returned (no small-range linear-counting branch — that would need
  * engine-matched ln; exact small counts are KMV's job).
  */
class HllAgg(p: Int) extends Aggregator[Long, Array[Byte], Long] {
  require(p >= 7 && p <= 16, "precision must be in [7, 16]")
  private val m = 1 << p

  override def zero: Array[Byte] = new Array[Byte](m)

  override def reduce(buf: Array[Byte], v: Long): Array[Byte] = {
    HllAgg.update(buf, 0, p, v)
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Byte]): Long = HllAgg.estimate(buf, 0, p)

  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** The register update and estimate [[HllAgg]] and [[HllBankAgg]] share;
  * a sketch is the `2^p` registers of a buffer starting at `base`. */
private[functions] object HllAgg {
  /** Fold the 60-bit hash `v` into its register. */
  def update(buf: Array[Byte], base: Int, p: Int, v: Long): Unit = {
    val suffixBits = 60 - p
    val idx = base + ((v >>> suffixBits).toInt & ((1 << p) - 1))
    val rest = v & ((1L << suffixBits) - 1)
    val rank =
      if (rest == 0L) (suffixBits + 1).toByte
      else (suffixBits - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1).toByte
    if (rank > buf(idx)) buf(idx) = rank
  }

  def estimate(buf: Array[Byte], base: Int, p: Int): Long = {
    val m = 1 << p
    var s = BigInt(0)
    var zeros = 0
    var i = base
    while (i < base + m) {
      s += BigInt(1) << (62 - buf(i))
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m.toDouble * m.toDouble * (1L << 62).toDouble / s.toDouble
    // Flajolet small-range correction: below 2.5m the raw estimator is
    // biased high (most registers still empty); linear counting over the
    // zero-register count is the accurate regime there. One ln per GROUP —
    // the q101 cross-engine-ln precedent (round-to-integer swallows the
    // sub-ulp libm differences).
    val est =
      if (raw <= 2.5 * m && zeros > 0)
        m.toDouble * math.log(m.toDouble / zeros.toDouble)
      else raw
    math.floor(est).toLong
  }
}
