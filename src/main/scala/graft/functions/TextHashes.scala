package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for document fingerprinting — codegen'd so they
  * stay inside whole-stage codegen on the 100 TB hot path (no Scala-UDF
  * serialization boundary).
  *
  * Capability derives from the LLM-pipeline extension requirements (document
  * fingerprinting / near-dup detection); the reference itself has no UDFs
  * (SURVEY.md §2.9).
  */

/** Polynomial rolling hash over a string's UTF-8 bytes:
  * h = Σ h*BASE + byte, in unsigned 64-bit wraparound arithmetic.
  * Deterministic across JVMs/partitions (no object hashCode involved). */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  // Manual type check — ExpectsInputTypes/AbstractDataType are private[sql]
  // in Spark 4.x, so input validation is spelled out here instead.
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var h = 1469598103934665603L // arbitrary fixed odd seed (stable across JVMs)
    var i = 0
    while (i < bytes.length) { h = h * 1000003L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 1469598103934665603L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 1000003L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): RollingHash = copy(child = c)
}

/** 64-bit SimHash over an array of string tokens: each token is hashed
  * (FNV-1a over UTF-8 bytes), each hash votes ±1 per bit, result bit j is 1
  * iff the vote is positive. Hamming-close simhashes ⇒ similar token
  * multisets — the standard near-dup sketch. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires ARRAY<STRING> input, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = SimHash64.fnv1a(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 64) { votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1); j += 1 }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  if (!$c.isNullAt($i)) {
         |    long $h = graft.functions.SimHash64.fnv1a($c.getUTF8String($i).getBytes());
         |    for (int $j = 0; $j < 64; $j++) {
         |      $votes[$j] += ((($h >>> $j) & 1L) == 1L) ? 1 : -1;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) { if ($votes[$j] > 0) $out |= (1L << $j); }
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

object SimHash64 {
  /** FNV-1a 64-bit — trivial, stable, and callable from generated code. */
  def fnv1a(bytes: Array[Byte]): Long = WindowSet.fnv(bytes, 0, bytes.length)
}

/** EXACT count of distinct character `n`-grams of a string, in one pass with
  * no array materialization — the native form of
  * `size(array_distinct(transform(sequence(...), i -> substring(text, i, n))))`,
  * which allocates ~len UTF8String slices per row and resolves distinctness
  * through an interpreted hash set (~2 s of the sf0.1 bench for the trigram
  * profile alone).
  *
  * Grams are compared as CHAR (code point) windows — identical to SQL
  * `substring` semantics — via an open-addressed table of (hash, byte-offset)
  * entries probing the original UTF-8 buffer, so equality is exact byte
  * comparison, not hash identity: a hash collision costs one extra probe,
  * never a wrong count. */
case class NgramDistinctCount(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n must be >= 1")
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_distinct_count requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    NgramDistinctCount.count(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramDistinctCount.count($c, $n);")

  override protected def withNewChildInternal(c: Expression): NgramDistinctCount =
    copy(child = c)
}

object NgramDistinctCount {
  /** Single-pass exact distinct count over char n-gram windows. Static so
    * generated code can call it — the body is plain JVM loops either way,
    * so an inline codegen expansion would buy nothing. */
  def count(s: UTF8String, n: Int): Long = {
    val off = WindowSet.charStarts(s)
    if (off.length <= n) return 0L // fewer than n chars
    val slots = new Array[Int](WindowSet.capacity(off.length - n))
    WindowSet.probe(s.getBytes, off, n, 0, slots, null, null).toLong
  }
}

/** The DISTINCT character `n`-grams of a string as an array of 64-bit FNV-1a
  * hashes, in one pass — the set representation [[NgramDistinctCount]] counts,
  * materialized for set-similarity pipelines that only need gram IDENTITY
  * (df counts, shared-gram joins, intersections), not the gram text.
  *
  * Distinctness is byte-exact (same open-addressed probe of the original
  * UTF-8 buffer as the counter — a hash collision costs a probe, never a
  * dropped gram), so `size(result)` always equals the true distinct-gram
  * count. Only the emitted IDENTITY is the hash: two distinct grams emit the
  * same long with probability ~2^-64 per pair, which downstream consumers
  * accept in exchange for shuffling 8-byte longs instead of n-char strings
  * (for 8-char grams: ~2.5x narrower rows and long-vs-string compares in
  * every join/aggregate). At trillion-gram corpus scale the birthday bound
  * (~5·10^9 grams for even odds of ONE collision) still leaves Jaccard
  * scores off by at most 1/|union| — the same magnitude as MinHash's
  * banding error, for an operator that is otherwise exact. */
case class NgramDistinctHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_distinct_hashes requires STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any =
    NgramDistinctHashes.hashes(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramDistinctHashes.hashes($c, $n);")

  override protected def withNewChildInternal(c: Expression): NgramDistinctHashes =
    copy(child = c)
}

object NgramDistinctHashes {
  /** Distinct char-n-gram windows as FNV-1a hashes, first-seen order.
    * Same byte-offset walk + open-addressed dedup as
    * [[NgramDistinctCount.count]]; static so generated code can call it. */
  def hashes(s: UTF8String, n: Int): ArrayData = {
    val off = WindowSet.charStarts(s)
    if (off.length <= n) return new GenericArrayData(Array.empty[Long])
    val windows = off.length - n
    val out = new Array[Long](windows)
    val distinct = WindowSet.probe(
      s.getBytes, off, n, 0, new Array[Int](WindowSet.capacity(windows)), null, out)
    new GenericArrayData(java.util.Arrays.copyOf(out, distinct))
  }
}

object TextHashes {
  def rolling_hash(c: Column): Column =
    GraftShims.column(RollingHash(GraftShims.expression(c)))
  def simhash64(c: Column): Column =
    GraftShims.column(SimHash64(GraftShims.expression(c)))
  def ngram_distinct_count(c: Column, n: Int): Column =
    GraftShims.column(NgramDistinctCount(GraftShims.expression(c), n))
  def ngram_distinct_hashes(c: Column, n: Int): Column =
    GraftShims.column(NgramDistinctHashes(GraftShims.expression(c), n))
}
