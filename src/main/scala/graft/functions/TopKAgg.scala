package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded per-group top-k by (score DESC, id ASC) — the aggregation form of
  * `row_number().over(partitionBy(g).orderBy(desc, asc)) <= k`.
  *
  * Scale design: the buffer is a sorted array of at most `k` (score, id)
  * pairs and the merge is associative + commutative, so Spark runs it as a
  * partial aggregation — each map task ships one k-bounded buffer per group
  * instead of feeding every candidate row through a full sort-shuffle the
  * way a rank window must. For an ANN ranking stage the window alternative
  * sorts |corpus| x nprobe/nlist rows per query; this ships k rows per
  * (query, map task). Same result, O(k) state.
  *
  * Determinism: ordering is exactly Spark's SQL sort order for
  * (score DESC, id ASC) — doubles compare via java.lang.Double.compare with
  * -0.0 normalized to 0.0 (Spark normalizes signed zeros before comparisons;
  * NaN sorts greatest, i.e. first under DESC). Ties beyond (score, id) are
  * impossible since ids are unique within a group.
  */
object TopKAgg {
  /** The (score: double, id: long) top-k aggregator as a ready-to-apply
    * Column function — one shared construction for every ranking stage. */
  def columnAgg(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKAgg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaLong))
}

class TopKAgg(k: Int) extends SortedKAgg[(Double, Long)](k) {
  require(k >= 1, "top-k needs k >= 1")

  /** true if a orders strictly before b: higher score first, then
    * smaller id. */
  override protected def before(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(norm(b._1), norm(a._1)) // DESC on score
    c < 0 || (c == 0 && a._2 < b._2)
  }

  override def bufferEncoder: Encoder[Array[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
  override def outputEncoder: Encoder[Array[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
}
