package graft.functions

import org.apache.spark.sql.expressions.Aggregator

import scala.reflect.ClassTag

/** The sorted bounded-k buffer behind [[TopKAgg]], [[TopKStrAgg]],
  * [[BottomKSampleAgg]] and [[BottomKTermSampleAgg]]: at most `k` entries
  * in `before` order, an insert step and a two-way merge. Both are
  * associative and commutative whenever `before` is a strict total order,
  * so Spark runs the aggregate partially, one k-bounded buffer per
  * (group, map task). Subclasses give the order and the encoders. */
private[functions] abstract class SortedKAgg[T: ClassTag](k: Int)
    extends Aggregator[T, Array[T], Array[T]] {

  /** `d` with -0.0 as 0.0, as Spark normalizes signed zeros before
    * comparing doubles. */
  protected def norm(d: Double): Double = if (d == 0.0) 0.0 else d

  /** true if `a` orders strictly before `b`. */
  protected def before(a: T, b: T): Boolean

  override def zero: Array[T] = Array.empty[T]

  override def reduce(buf: Array[T], v: T): Array[T] = {
    if (buf.length == k && !before(v, buf(k - 1))) buf
    else {
      var ins = buf.length
      while (ins > 0 && before(v, buf(ins - 1))) ins -= 1
      val n = math.min(buf.length + 1, k)
      val out = new Array[T](n)
      System.arraycopy(buf, 0, out, 0, ins)
      out(ins) = v
      System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
      out
    }
  }

  override def merge(a: Array[T], b: Array[T]): Array[T] = {
    val out = new Array[T](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var n = 0
    while (n < out.length) {
      val takeA = j >= b.length || (i < a.length && before(a(i), b(j)))
      if (takeA) { out(n) = a(i); i += 1 } else { out(n) = b(j); j += 1 }
      n += 1
    }
    out
  }

  override def finish(buf: Array[T]): Array[T] = buf
}
