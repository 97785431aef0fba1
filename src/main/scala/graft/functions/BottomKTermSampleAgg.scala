package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded per-group uniform TERM-occurrence sample: keep the k
  * occurrences whose 60-bit sample key ([[graft.operators.Sketches
  * .hash60]] of a unique occurrence id) is SMALLEST, carrying the term
  * string as payload — the categorical twin of [[BottomKSampleAgg]]
  * (same semilattice, String payload instead of Double).
  *
  * A bottom-k set over a uniform hash is a uniform-without-replacement
  * sample of the occurrences, so the count of term t inside the sample
  * is Hypergeometric(n, n·f_t, k) and s_cnt/k estimates the frequency
  * share f_t with additive error O(sqrt(1/k)) — the sampled
  * heavy-hitters estimator (the streaming shape of what the batch
  * q89 two-pass form verifies exactly). Unlike SpaceSaving/Misra-Gries
  * at the same state size, whose counter contents depend on merge
  * ORDER (two partition counts produce different summaries), a
  * bottom-k set is a pure function of the input multiset: reduce and
  * merge are associative + commutative, so the result is
  * repartition-invariant and micro-batch-split-invariant BIT FOR BIT —
  * the invariant this repo's CPUS=4-vs-9 dumps and streaming parity
  * specs gate on.
  *
  * Scale: the buffer is a sorted array of ≤ k (hash, term) pairs;
  * Spark runs it as a partial aggregation, so each map task ships one
  * k-bounded buffer per group instead of shuffling every occurrence.
  * Ordering is (hash ASC, term ASC): a full tie makes the rows
  * interchangeable, so selection is total and deterministic. */
object BottomKTermSampleAgg {
  def columnAgg(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new BottomKTermSampleAgg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING))
}

class BottomKTermSampleAgg(k: Int) extends SortedKAgg[(Long, String)](k) {
  require(k >= 1, "bottom-k sample needs k >= 1")

  /** true if a orders strictly before b: smaller hash first, then
    * lexicographic (UTF-8 binary) order on the term. */
  override protected def before(a: (Long, String), b: (Long, String)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2.compareTo(b._2) < 0)

  override def bufferEncoder: Encoder[Array[(Long, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, String)]]()
  override def outputEncoder: Encoder[Array[(Long, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, String)]]()
}
