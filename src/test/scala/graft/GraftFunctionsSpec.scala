package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, MinHashSigs, TextHashes, VectorFunctions}

/** The native expressions must be reachable from plain SQL (registered via
  * GraftExtensions at build or GraftFunctions.register post-hoc) and agree
  * bit-for-bit with their Column-API wrappers. */
class GraftFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("register installs every native function on a session that lacks them") {
    // the driver-owned session passed to SparkEntry.entry is built without
    // GraftExtensions; a fresh session stripped of the injected functions
    // stands in for it
    val fresh = spark.newSession()
    val names = GraftFunctions.all.map(_._1)
    names.foreach(n => fresh.sql(s"DROP TEMPORARY FUNCTION $n"))
    val call = "SELECT dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d"
    intercept[org.apache.spark.sql.AnalysisException](fresh.sql(call).head())
    assert(names.forall(n => !fresh.catalog.functionExists(n)))
    GraftFunctions.register(fresh)
    assert(names.forall(n => fresh.catalog.functionExists(n)))
    assert(fresh.sql(call).head().getDouble(0) == 11.0)
  }

  test("dot_d via SQL: sequential fold over array<double>") {
    val r = spark.sql("SELECT dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
    assert(spark.sql("SELECT dot_d(array(1.0d), array(1.0d, 2.0d)) AS d").head().isNullAt(0),
      "length mismatch yields null")
  }

  test("SQL and Column paths agree on every registered function") {
    import spark.implicits._
    val df = Seq("spark shuffles wide joins", "tiny doc").toDF("text")
      .withColumn("toks", split(col("text"), " "))
    df.createOrReplaceTempView("gf_docs")
    val viaSql = spark.sql(
      """SELECT rolling_hash(text) AS rh, simhash64(toks) AS sh,
        |  ngram_distinct_count(text, 3) AS nd, minhash_sigs(toks, 2, 4) AS ms
        |FROM gf_docs""".stripMargin).collect()
    val viaCol = df.select(
      TextHashes.rolling_hash(col("text")).as("rh"),
      TextHashes.simhash64(col("toks")).as("sh"),
      TextHashes.ngram_distinct_count(col("text"), 3).as("nd"),
      MinHashSigs.minhash_sigs(col("toks"), 2, 4).as("ms")).collect()
    assert(viaSql.map(_.toString).toSeq == viaCol.map(_.toString).toSeq)
    // and dot_d parity on a numeric frame
    val vdf = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, 0.25, 2.0))).toDF("a", "b")
    vdf.createOrReplaceTempView("gf_vecs")
    assert(spark.sql("SELECT dot_d(a, b) AS d FROM gf_vecs").head().getDouble(0)
      == vdf.select(VectorFunctions.dot_d(col("a"), col("b"))).head().getDouble(0))
  }

  test("token/window/pair natives are SQL-reachable too") {
    val r = spark.sql(
      """SELECT token_ngram_distinct_count('a b a b', 2) AS a,
        |  token_top_ngram_count('a b a b a', 2) AS b,
        |  size(packed_pairs(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)))) AS c,
        |  char_entropy_stats('aab').n_distinct AS d""".stripMargin).head()
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)) == ((2L, 2L, 3, 2L)))
  }

  test("token_window_hashes: positional inventory, byte-span identity, total on short rows") {
    import spark.implicits._
    // 'a b a b': 2-token windows are [a b], [b a], [a b] — positions
    // 0 and 2 must carry the SAME hash, 1 a different one
    val r = spark.sql("SELECT token_window_hashes('a b a b', 2) AS h").head()
      .getSeq[Long](0)
    assert(r.length == 3 && r(0) == r(2) && r(0) != r(1), s"windows: $r")
    // parity with the distinct form: same first-seen distinct hashes
    val distinct = spark.sql(
      "SELECT token_ngram_distinct_hashes('a b a b', 2) AS h").head().getSeq[Long](0)
    assert(distinct == Seq(r(0), r(1)))
    // shorter than k tokens -> EMPTY array, never an error
    assert(spark.sql("SELECT token_window_hashes('a', 2) AS h").head()
      .getSeq[Long](0).isEmpty)
    // Column path agrees with SQL path
    val df = Seq("x y z x y").toDF("text")
    assert(df.select(graft.functions.TokenNgrams
        .token_window_hashes(col("text"), 3).as("h")).head().getSeq[Long](0)
      == df.selectExpr("token_window_hashes(text, 3) AS h").head().getSeq[Long](0))
  }

  test("term_counts matches filter(split(...)) per term, incl. unicode/empties") {
    import spark.implicits._
    val df = Seq(
      "spark joins spark streams",
      "",                       // split('', ' ') = [''] — no non-empty term matches
      "naïve café naïve",       // multi-byte UTF-8 tokens
      "spark  joins",           // double space → empty middle token
      "sparkle joins"           // prefix must NOT match 'spark'
    ).toDF("text")
    val terms = Seq("spark", "joins", "naïve", "absent")
    val native = df.select(
      graft.functions.TermCounts.term_counts(col("text"), terms).as("tc")).collect()
    val viaHof = df.select(array(terms.map(t =>
      size(filter(split(col("text"), " "), x => x === t)).cast("long")): _*).as("tc"))
      .collect()
    assert(native.map(_.toString).toSeq == viaHof.map(_.toString).toSeq)
    // SQL registration path, varargs string literals
    val r = spark.sql("SELECT term_counts('a b a', 'a', 'b', 'c') AS tc")
      .head().getSeq[Long](0)
    assert(r == Seq(2L, 1L, 0L))
    // non-literal term rejected with a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT term_counts('a b', upper('a'))").collect()
    }
    assert(e.getMessage.contains("STRING literal"), e.getMessage)
  }

  test("non-literal n in ngram_distinct_count is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT ngram_distinct_count('abc', length('xx'))").collect()
    }
    assert(e.getMessage.contains("INT literal"), e.getMessage)
  }
}
