package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded per-group uniform row sample: keep the k rows whose 60-bit
  * sample key (md5-fold of a unique row id — [[graft.operators.Sketches
  * .hash60]]) is SMALLEST, carrying one double payload per kept row.
  * This is the rank-sketch twin of KMV's distinct sketch: a bottom-k
  * set over a uniform hash is a uniform-without-replacement sample of
  * the rows, so the sample's empirical CDF estimates every quantile at
  * once with DKW rank error sup|F̂−F| ≤ sqrt(ln(2/δ)/(2k)) — ~0.051 at
  * k=1024, δ=0.01 — with NO declared value range (the property the
  * 256-bin histogram (q107) cannot offer: its bins need [lo, hi] up
  * front, which a stream doesn't get).
  *
  * Why this and not KLL/t-digest at the same state size: their
  * compactions are merge-ORDER-dependent (KLL's coin flips, t-digest's
  * centroid greediness), so two runs with different partition counts
  * produce different sketches — breaking this repo's byte-identical
  * CPUS=4-vs-9 dump invariant and any exact SQL oracle. A bottom-k set
  * is a semilattice (bottom-k of a union = merge of bottom-ks), so the
  * result is a pure function of the input MULTISET: deterministic,
  * repartition-invariant, and exactly replayable in DuckDB as
  * `row_number() OVER (ORDER BY hash, value) <= k`. The price is DKW's
  * O(sqrt(1/k)) rank error vs KLL's O(log^1.5(n)/k) — documented, and
  * gated per group by the q317 error-band audit column.
  *
  * Scale: the buffer is a sorted array of ≤ k (hash, value) pairs;
  * reduce/merge are associative + commutative, so Spark runs it as a
  * partial aggregation — each map task ships one k-bounded buffer per
  * group instead of sort-shuffling every row the way percentile() must.
  * Ordering is (hash ASC, value ASC): hash collisions across distinct
  * rows are ~2^-60, and a (hash, value) tie makes the rows
  * interchangeable, so selection is total and deterministic. */
object BottomKSampleAgg {
  def columnAgg(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new BottomKSampleAgg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
}

class BottomKSampleAgg(k: Int) extends SortedKAgg[(Long, Double)](k) {
  require(k >= 1, "bottom-k sample needs k >= 1")

  /** true if a orders strictly before b: smaller hash first, then Spark
    * SQL double ASC order on the payload. */
  override protected def before(a: (Long, Double), b: (Long, Double)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && java.lang.Double.compare(norm(a._2), norm(b._2)) < 0)

  override def bufferEncoder: Encoder[Array[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, Double)]]()
  override def outputEncoder: Encoder[Array[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, Double)]]()
}
