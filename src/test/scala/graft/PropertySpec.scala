package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => SCTest, Prop}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** ScalaCheck invariants for the operator library (SURVEY.md §5.2). Uses raw
  * scalacheck (no scalatestplus bridge in the offline cache); each property
  * runs 30 sized cases through a live SparkSession. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(30).withWorkers(1)

  private def check(name: String, prop: Prop): Unit = {
    val r = SCTest.check(params, prop)
    assert(r.passed, s"$name: $r")
  }

  test("explode row count equals total array length") {
    import spark.implicits._
    check("explode", Prop.forAll(
      Gen.listOfN(8, Gen.listOf(Gen.choose(-1000, 1000)))) { arrays =>
      val df = arrays.zipWithIndex.map { case (a, i) => (i, a) }.toDF("id", "xs")
      val exploded = df.select(col("id"), explode(col("xs"))).count()
      exploded == arrays.map(_.size).sum
    })
  }

  test("dedupeByKey keeps exactly one row per key and is idempotent") {
    import spark.implicits._
    check("dedup", Prop.forAll(
      Gen.listOf(Gen.zip(Gen.choose(0, 5), Gen.choose(0, 100)))) { rows =>
      val df = rows.toDF("k", "v")
      val once = Relational.dedupeByKey(df, Seq(col("k")), Seq(col("v").asc, col("k").asc))
      val twice = Relational.dedupeByKey(once, Seq(col("k")), Seq(col("v").asc, col("k").asc))
      val keys = rows.map(_._1).distinct.size
      once.count() == keys && twice.count() == keys &&
        once.collect().map(r => (r.getInt(0), r.getInt(1))).toSet ==
          rows.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).min) }.toSet
    })
  }

  test("sumExact is invariant to partitioning (order-independent decimal route)") {
    import spark.implicits._
    check("sumExact", Prop.forAll(
      Gen.listOf(Gen.choose(-99999, 99999).map(_ / 100.0))) { xs =>
      val df = xs.toDF("v")
      def total(d: org.apache.spark.sql.DataFrame) =
        d.agg(Relational.sumExact(col("v"))).collect().head
      val a = total(df.repartition(13))
      val b = total(df.coalesce(1))
      (a.isNullAt(0) && b.isNullAt(0)) || a.getDouble(0) == b.getDouble(0)
    })
  }

  test("rolling_hash and simhash64 are pure functions of content") {
    import spark.implicits._
    val asciiText = Gen.listOf(Gen.alphaNumStr.suchThat(_.nonEmpty)).map(_.mkString(" "))
    check("hash-purity", Prop.forAll(Gen.listOfN(6, asciiText)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
      def hashes(d: org.apache.spark.sql.DataFrame) =
        d.select(col("id"),
            graft.functions.TextHashes.rolling_hash(col("text")),
            graft.functions.TextHashes.simhash64(split(col("text"), " ")))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      hashes(df.repartition(5)).sameElements(hashes(df.coalesce(1)))
    })
  }

  /** A sorted bounded-k aggregator's reduce and merge against `brute`, the
    * k first inputs in its order: folding all of `xs`, and merging the
    * folds of any two-way split of it, must both give the brute result. */
  private def splitMerge[T](agg: org.apache.spark.sql.expressions.Aggregator[T, Array[T], Array[T]],
                            inputs: Gen[List[T]])(brute: List[T] => List[T]): Prop =
    Prop.forAll(inputs, Gen.choose(0, 10)) { (xs, cut0) =>
      val cut = if (xs.isEmpty) 0 else cut0 % (xs.length + 1)
      val (l, r) = xs.splitAt(cut)
      val viaSplit = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)).toList
      val viaFold = xs.foldLeft(agg.zero)(agg.reduce).toList
      viaSplit == brute(xs) && viaFold == brute(xs)
    }

  test("TopKAgg: reduce/merge equal a full sort for any input split (pure JVM)") {
    // ids unique within a group in real use; dedup by id to honor that
    val xs = Gen.listOf(Gen.zip(Gen.choose(-5, 5).map(_ / 2.0), Gen.choose(0L, 20L)))
      .map(_.groupBy(_._2).map(_._2.head).toList)
    check("topk", splitMerge(new graft.functions.TopKAgg(3), xs)(
      _.sortBy { case (s, id) => (-s, id) }.take(3)))
  }

  test("TopKStrAgg, BottomKSampleAgg, BottomKTermSampleAgg: reduce/merge equal a full sort for any input split (pure JVM)") {
    // few distinct scores and hashes, so the tie-breaks decide often; each
    // side of a pair is drawn on its own
    val score = Gen.choose(-2, 2).map(_ / 2.0)
    val terms = Seq("a", "b", "ab", "ba", "c", "日本")
    // TopKStrAgg: keys unique within a group (grouping keys upstream)
    val keyed = for {
      n <- Gen.choose(0, terms.length); ks <- Gen.pick(n, terms); ss <- Gen.listOfN(n, score)
    } yield ss.zip(ks)
    check("topk-str", splitMerge(new graft.functions.TopKStrAgg(3), keyed)(
      _.sortBy { case (s, k) => (-s, k) }.take(3)))
    // bottom-k samples: (hash ASC, payload ASC); a full tie is one row
    def hashed[B](payload: Gen[B]) = for {
      n <- Gen.choose(0, 12); hs <- Gen.listOfN(n, Gen.choose(0L, 3L))
      ps <- Gen.listOfN(n, payload)
    } yield hs.zip(ps).distinct
    check("bottomk-sample", splitMerge(new graft.functions.BottomKSampleAgg(3),
      hashed(score))(_.sorted.take(3)))
    check("bottomk-term", splitMerge(new graft.functions.BottomKTermSampleAgg(3),
      hashed(Gen.oneOf(terms)))(_.sorted.take(3)))
  }

  test("agg invariants: min <= avg <= max over any non-empty set") {
    import spark.implicits._
    check("agg-bounds", Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(-99999, 99999).map(_ / 100.0))) { xs =>
      val r = xs.toDF("v")
        .agg(min(col("v")), max(col("v")), Relational.avgExact(col("v")))
        .collect().head
      val (mn, mx, av) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      mn <= av + 1e-9 && av <= mx + 1e-9
    })
  }

  test("native n-gram/token-window expressions match a direct Scala reference") {
    import spark.implicits._
    import graft.functions.{TextHashes, TokenNgrams}
    // tokens include empties (double-space artifacts) and multi-byte chars
    val tokenGen = Gen.oneOf("a", "b", "ab", "ba", "日本", "", "xyz")
    val textGen = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, tokenGen)).map(_.mkString(" "))
    check("token-ngrams", Prop.forAll(Gen.listOfN(8, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select(col("id"),
        TokenNgrams.token_ngram_distinct_count(col("text"), 3).as("a"),
        TokenNgrams.token_top_ngram_count(col("text"), 2).as("b"),
        TextHashes.ngram_distinct_count(col("text"), 3).as("c"),
        size(TextHashes.ngram_distinct_hashes(col("text"), 3)).cast("bigint").as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      got.forall { case (id, triTok, topBi, triChar, triCharH) =>
        val text = texts(id.toInt)
        val toks = text.split(" ", -1).toSeq
        val expTriTok =
          if (toks.size < 3) 0 else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct.size
        val expTopBi =
          if (toks.size < 2) 0
          else toks.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity).values.map(_.size).max
        val chars = text.map(_.toString) // BMP-only generator: chars = code points
        val expTriChar =
          if (chars.size < 3) 0 else chars.sliding(3).map(_.mkString).toSeq.distinct.size
        triTok == expTriTok && topBi == expTopBi &&
          triChar == expTriChar && triCharH == expTriChar
      }
    })
  }

  test("char_entropy_stats matches a direct Scala reference on arbitrary strings") {
    import spark.implicits._
    import graft.functions.CharEntropyStats
    val textGen = Gen.choose(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ', '日'))).map(_.mkString)
    check("char-entropy", Prop.forAll(Gen.listOfN(8, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = df.select(col("id"),
        CharEntropyStats.char_entropy_stats(col("text")).as("st"))
        .collect().map(r => (r.getLong(0),
          r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))
      got.forall { case (id, mu, nd) =>
        val text = texts(id.toInt)
        val counts = text.groupBy(identity).view.mapValues(_.length)
        val len = text.length.toDouble
        val expMu = counts.values.map { c =>
          val p = c.toDouble / len
          java.math.BigDecimal.valueOf(-p * Math.log(p) * 1e9)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        }.sum
        mu == expMu && nd == counts.size.toLong
      }
    })
  }

  test("TokenNgrams.tileStats == brute-force tile grouping (pure JVM)") {
    import graft.functions.TokenNgrams
    import org.apache.spark.unsafe.types.UTF8String
    // tiles of split(s, ' ') (Spark keeps empty tokens), grouped by string
    def brute(s: String, tileN: Int): Seq[Long] = {
      val tiles = s.split(" ", -1).toSeq.grouped(tileN).map(_.mkString(" ")).toSeq
      def chars(t: String) = t.codePointCount(0, t.length).toLong
      val byType = tiles.groupBy(identity).values
      Seq(tiles.size.toLong, byType.size.toLong, tiles.map(chars).sum,
        byType.map(g => (g.size - 1) * chars(g.head)).sum)
    }
    def native(s: String, tileN: Int): Seq[Long] = {
      val a = TokenNgrams.tileStats(UTF8String.fromString(s), tileN)
      (0 until 4).map(a.getLong)
    }
    // the empty string, a short last tile, repeated tiles, multi-byte
    // chars and empty tokens, at every tile size
    for (s <- Seq("", "a", "a b c a b c a", "é 日本 é 日本 é", "😀 a  😀 a ");
         n <- 1 to 4)
      assert(native(s, n) == brute(s, n), s"'$s' tileN=$n")
    val text = Gen.listOf(Gen.oneOf("a", "b", "é", "日本", "😀x", "")).map(_.mkString(" "))
    val r = SCTest.check(params.withMinSuccessfulTests(500),
      Prop.forAll(text, Gen.choose(1, 4)) { (s, n) => native(s, n) == brute(s, n) })
    assert(r.passed, s"tileStats: $r")
  }
}
