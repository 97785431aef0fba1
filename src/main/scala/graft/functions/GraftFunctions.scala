package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.{IntegerType, StringType}

/** SQL registration of graft's native Catalyst expressions, so the same
  * codegen'd operators the DataFrame helpers use are callable from
  * `spark.sql(...)`:
  *
  *   - `dot_d(array<double>, array<double>)` — sequential-fold dot product
  *   - `rolling_hash(string)` — polynomial rolling hash over UTF-8 bytes
  *   - `simhash64(array<string>)` — 64-bit SimHash of a token array
  *   - `ngram_distinct_count(string, n)` — exact distinct char-n-gram count
  *   - `minhash_sigs(array<string>, k, draws)` — MinHash shingle signatures
  *
  * Two registration paths, same builders:
  *   - [[GraftExtensions]] via `SparkSession.builder.withExtensions` (or the
  *     `spark.sql.extensions` conf) — the clean path when graft owns the
  *     session build;
  *   - [[GraftFunctions.register]] on an already-running session — the path
  *     for the driver-owned session passed to `SparkEntry.entry`, through
  *     the `GraftShims` seam because `sessionState` is `private[sql]`.
  */
object GraftFunctions {

  private def intLit(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an INT literal, got $other")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${args.length}")

  /** (name, class for ExpressionInfo, builder) for every native expression. */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_d", classOf[DotProduct],
      (args: Seq[Expression]) => { arity("dot_d", args, 2); DotProduct(args(0), args(1)) }),
    ("rolling_hash", classOf[RollingHash],
      (args: Seq[Expression]) => { arity("rolling_hash", args, 1); RollingHash(args(0)) }),
    ("hash60", classOf[Hash60],
      (args: Seq[Expression]) => { arity("hash60", args, 1); Hash60(args(0)) }),
    ("simhash64", classOf[SimHash64],
      (args: Seq[Expression]) => { arity("simhash64", args, 1); SimHash64(args(0)) }),
    ("ngram_distinct_count", classOf[NgramDistinctCount],
      (args: Seq[Expression]) => {
        arity("ngram_distinct_count", args, 2)
        NgramDistinctCount(args(0), intLit(args(1), "ngram_distinct_count", 2))
      }),
    ("ngram_distinct_hashes", classOf[NgramDistinctHashes],
      (args: Seq[Expression]) => {
        arity("ngram_distinct_hashes", args, 2)
        NgramDistinctHashes(args(0), intLit(args(1), "ngram_distinct_hashes", 2))
      }),
    ("token_ngram_distinct_count", classOf[TokenNgramDistinctCount],
      (args: Seq[Expression]) => {
        arity("token_ngram_distinct_count", args, 2)
        TokenNgramDistinctCount(args(0), intLit(args(1), "token_ngram_distinct_count", 2))
      }),
    ("token_ngram_distinct_hashes", classOf[TokenNgramDistinctHashes],
      (args: Seq[Expression]) => {
        arity("token_ngram_distinct_hashes", args, 2)
        TokenNgramDistinctHashes(args(0), intLit(args(1), "token_ngram_distinct_hashes", 2))
      }),
    ("token_top_ngram_count", classOf[TokenTopNgramCount],
      (args: Seq[Expression]) => {
        arity("token_top_ngram_count", args, 2)
        TokenTopNgramCount(args(0), intLit(args(1), "token_top_ngram_count", 2))
      }),
    ("token_window_hashes", classOf[TokenWindowHashes],
      (args: Seq[Expression]) => {
        arity("token_window_hashes", args, 2)
        TokenWindowHashes(args(0), intLit(args(1), "token_window_hashes", 2))
      }),
    ("char_ngram_counts", classOf[CharNgramCountsExpr],
      (args: Seq[Expression]) => {
        arity("char_ngram_counts", args, 2)
        CharNgramCountsExpr(args(0), intLit(args(1), "char_ngram_counts", 2))
      }),
    ("packed_pairs", classOf[PackedPairs],
      (args: Seq[Expression]) => {
        arity("packed_pairs", args, 1); PackedPairs(args(0))
      }),
    ("char_entropy_stats", classOf[CharEntropyStats],
      (args: Seq[Expression]) => {
        arity("char_entropy_stats", args, 1); CharEntropyStats(args(0))
      }),
    ("minhash_sigs", classOf[MinHashSigs],
      (args: Seq[Expression]) => {
        arity("minhash_sigs", args, 3)
        MinHashSigs(args(0), intLit(args(1), "minhash_sigs", 2),
          intLit(args(2), "minhash_sigs", 3))
      }),
    ("term_counts", classOf[TermCountsExpr],
      (args: Seq[Expression]) => {
        if (args.length < 2) throw new IllegalArgumentException(
          s"term_counts expects (text, term...), got ${args.length} arguments")
        val terms = args.tail.zipWithIndex.map {
          case (Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType), _) =>
            v.toString
          case (other, i) => throw new IllegalArgumentException(
            s"term_counts: argument ${i + 2} must be a STRING literal, got $other")
        }
        TermCountsExpr(args.head, terms)
      }))

  private def info(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** Register every native function on an existing session. Idempotent. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, cls, builder) =>
      GraftShims.registerFunction(spark, name, info(name, cls), builder)
    }
}

/** `SparkSessionExtensions` hook injecting the graft native functions at
  * session build — `SparkSession.builder.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
