package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** String-keyed sibling of [[TopKAgg]]: bounded per-group top-k by
  * (score DESC, key ASC) where the ranked identity is a string (terms,
  * domains, fingerprints) rather than a long id. Same O(k) sorted-buffer
  * partial aggregation — each map task ships at most k (score, key) pairs
  * per group instead of sort-shuffling every candidate row — and the same
  * deterministic ordering contract: doubles via java.lang.Double.compare
  * with signed zeros normalized, ties broken by the key's Java String
  * (UTF-16 code-unit) order — identical to UTF-8 byte order for the
  * ASCII-tokenized terms this ranks; callers with supplementary-plane keys
  * should not rely on tie order matching Spark's UTF8String sort. Keys are
  * assumed unique within a group (they are grouping keys upstream), so
  * (score, key) is a total order.
  */
object TopKStrAgg {
  def columnAgg(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKStrAgg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.STRING))
}

class TopKStrAgg(k: Int) extends SortedKAgg[(Double, String)](k) {
  require(k >= 1, "top-k needs k >= 1")

  /** true if a orders strictly before b: higher score first, then
    * lexicographically smaller key. */
  override protected def before(a: (Double, String), b: (Double, String)): Boolean = {
    val c = java.lang.Double.compare(norm(b._1), norm(a._1)) // DESC on score
    c < 0 || (c == 0 && a._2.compareTo(b._2) < 0)
  }

  override def bufferEncoder: Encoder[Array[(Double, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, String)]]()
  override def outputEncoder: Encoder[Array[(Double, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, String)]]()
}
