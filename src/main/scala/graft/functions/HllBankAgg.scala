package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** A bank of `k` [[HllAgg]] sketches updated by ONE aggregator call per
  * row — the multi-column form the q320 profiler needs: 11 separate
  * udaf columns would cross the codegen→Scala boundary (and box a
  * buffer) once per (row, column); the bank crosses once per row and
  * keeps all registers in one contiguous k·2^p-byte buffer. Register
  * math, merge rule, and the raw-Flajolet + linear-counting estimate
  * are byte-for-byte [[HllAgg]]'s — bank j over input slot j equals a
  * standalone HllAgg over that column (RoundThirteenOpsSpec pins it).
  *
  * Input: the k per-column 60-bit hashes for one row (null values must
  * be pre-encoded by the caller, e.g. coalesce(hash60(c), 0)). */
object HllBankAgg {
  def columnAgg(p: Int, k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new HllBankAgg(p, k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
}

class HllBankAgg(p: Int, k: Int)
  extends Aggregator[Seq[Long], Array[Byte], Seq[Long]] {
  require(p >= 7 && p <= 16, "precision must be in [7, 16]")
  require(k >= 1, "need at least one bank")
  private val m = 1 << p

  override def zero: Array[Byte] = new Array[Byte](k * m)

  override def reduce(buf: Array[Byte], vs: Seq[Long]): Array[Byte] = {
    var j = 0
    while (j < k) { HllAgg.update(buf, j * m, p, vs(j)); j += 1 }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < k * m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Byte]): Seq[Long] =
    Array.tabulate(k)(j => HllAgg.estimate(buf, j * m, p)).toSeq

  override def bufferEncoder: Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
