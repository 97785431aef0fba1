package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r20-optimization rewrites: every restructured build returns
  * EXACTLY the rows its previous form returned (sharing/folding is a cost
  * optimization, never a semantics change — the SharedCaches "standalone
  * in SEMANTICS" rule). Comparisons are MULTISETS (sorted row strings),
  * not sets, so a duplicate-multiplicity drift cannot pass (r19 ADVICE).
  */
class RoundTwentyOptSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"CAST(`$c` AS STRING)"): _*)
      .collect().map(_.mkString("|")).toSeq.sorted
  }

  private def docs = graft.Graft.table(spark, sf, "documents")

  // synthetic edge corpus: unicode (multi-byte chars), tie-broken top
  // grams, repeated tiles, trailing/double spaces (empty tokens), empty
  // and NULL text, single-token docs
  private def edgeDocs = {
    import spark.implicits._
    Seq(
      (1L, "a b a b a b c"),                    // top bigram tie: "a b" x3 vs "b a" x2
      (2L, "x y x y z z x y"),
      (3L, "éé b éé b éé"), // 2-byte chars
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "solo"),
      (7L, "t t t t t t t t t"),                // degenerate single type
      (8L, "a  b  a  b"),                       // double spaces -> empty tokens
      (9L, "m n o p q r s t u v w x y z"),      // all unique
      (10L, "zz aa zz aa")                      // tie resolved by byte order
    ).toDF("doc_id", "text")
  }

  test("token_tile_stats == tile groupBy aggregate form (both tile sizes, both corpora)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TokenNgrams
    for (df <- Seq(edgeDocs, docs.select(col("doc_id"), col("text")));
         tileN <- Seq(3, 10)) {
      val txt = coalesce(col("text"), lit(""))
      val nTiles = greatest(
        floor((size(split(txt, " ")) + lit(tileN - 1)) / lit(tileN))
          .cast("int"), lit(1))
      val agg = df.select(col("doc_id").cast("long").as("doc_id"),
          split(txt, " ").as("ts"), nTiles.as("nt"))
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), col("nt") - 1),
            i => array_join(slice(col("ts"), i * tileN + 1, lit(tileN)),
              " "))).as("line"))
        .groupBy(col("doc_id"), col("line"))
        .agg(count(lit(1)).as("occ"))
        .select(col("doc_id"), col("occ"),
          length(col("line")).cast("long").as("len"))
        .groupBy(col("doc_id"))
        .agg(sum(col("occ")).as("n"), count(lit(1)).as("nt"),
          sum(col("occ") * col("len")).as("ch"),
          sum((col("occ") - 1L) * col("len")).as("dch"))
      val native = df.select(col("doc_id").cast("long").as("doc_id"),
          TokenNgrams.token_tile_stats(txt, tileN).as("st"))
        .select(col("doc_id"), element_at(col("st"), 1).as("n"),
          element_at(col("st"), 2).as("nt"), element_at(col("st"), 3).as("ch"),
          element_at(col("st"), 4).as("dch"))
      assert(rows(native) == rows(agg), s"tileN=$tileN drift")
    }
  }

  test("token_top_ngram_mass == min(struct(-cnt, gram)) mass (n=2..4, both corpora)") {
    import org.apache.spark.sql.functions._
    import graft.functions.TokenNgrams
    for (df <- Seq(edgeDocs, docs.select(col("doc_id"), col("text")));
         n <- Seq(2, 3, 4)) {
      val txt = coalesce(col("text"), lit(""))
      val agg = df.select(col("doc_id").cast("long").as("doc_id"),
          split(txt, " ").as("ts"))
        .where(size(col("ts")) >= n)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("ts")) - n),
            i => array_join(slice(col("ts"), i + 1, lit(n)), " "))).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(min(struct((-col("cnt")).as("nc"), col("g").as("g"))).as("m"))
        .select(col("doc_id"),
          ((-col("m.nc")) * length(col("m.g")).cast("long")).as("mass"))
      val native = df
        .where(size(split(txt, " ")) >= n) // the agg form has no row below n tokens
        .select(col("doc_id").cast("long").as("doc_id"),
          TokenNgrams.token_top_ngram_mass(txt, n).as("mass"))
      assert(rows(native) == rows(agg), s"n=$n drift")
    }
  }

  test("gopher dup-n covered positions: hashed gram identity == string gram identity") {
    import org.apache.spark.sql.functions._
    import graft.functions.TokenNgrams
    val ns = Seq(5, 6, 7, 8, 9, 10)
    for (df <- Seq(edgeDocs, docs.select(col("doc_id"), col("text")))) {
      val txt = coalesce(col("text"), lit(""))
      def coveredOf(grams: org.apache.spark.sql.DataFrame) = {
        val dupKeys = grams.groupBy(col("doc_id"), col("n"), col("g"))
          .agg(count(lit(1)).as("__c")).where(col("__c") > 1L)
          .select(col("doc_id"), col("n"), col("g"))
        grams.join(dupKeys, Seq("doc_id", "n", "g"), "left_semi")
          .select(col("doc_id"), col("n"),
            explode(sequence(col("i"), col("i") + col("n") - 1)).as("p"))
          .distinct()
          .select(col("doc_id"), col("n"), col("p"))
      }
      val strGrams = df.select(col("doc_id").cast("long").as("doc_id"),
          split(txt, " ").as("ts"), explode(array(ns.map(lit): _*)).as("n"))
        .where(size(col("ts")) >= col("n"))
        .select(col("doc_id"), col("n"),
          posexplode(transform(sequence(lit(0), size(col("ts")) - col("n")),
            i => array_join(slice(col("ts"), i + 1, col("n")), " ")))
            .as(Seq("i", "g")))
      val fpGrams = df.select(col("doc_id").cast("long").as("doc_id"),
          explode(array(ns.map(n => struct(lit(n).as("n"),
            TokenNgrams.token_window_hashes(txt, n).as("hs"))): _*)).as("kh"))
        .select(col("doc_id"), col("kh.n").as("n"),
          posexplode(col("kh.hs")).as(Seq("i", "g")))
      assert(rows(coveredOf(fpGrams)) == rows(coveredOf(strGrams)),
        "hashed dup-n covered set drifted from string-gram covered set")
    }
  }

  test("native winnowed fingerprints + packed-pair candidates == interpreted window form") {
    import org.apache.spark.sql.functions._
    for (df <- Seq(edgeDocs, docs.select(col("doc_id"), col("text")))) {
      val (k, w) = (5, 4)
      // the pre-r20 interpreted chain, verbatim
      val grams = df
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .where(size(col("t")) >= k + w - 1)
        .select(col("doc_id"), expr(
          s"transform(sequence(1, size(t) - ${k - 1}), i -> md5(concat_ws(' ', slice(t, i, $k))))")
          .as("g"))
        .select(col("doc_id"), size(col("g")).as("__ng"), posexplode(col("g")))
        .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__fp")
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("__pos"))
        .rowsBetween(0, w - 1)
      val oldFps = grams.withColumn("__min", min(col("__fp")).over(win))
        .where(col("__pos") <= col("__ng") - w)
        .select(col("doc_id"), col("__min").as("fp"))
        .distinct()
      val newFps = graft.operators.TextDedup
        .winnowedFingerprints(df, "doc_id", "text", k, w)
      assert(rows(newFps) == rows(oldFps), "winnowed fingerprint set drift")
      // pair sets: packed-pair expansion vs the old fp-keyed self-join
      val keep = oldFps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .where(col("__df") <= 10).select(col("fp"))
      val kept = oldFps.join(keep, "fp")
      val oldPairs = kept.select(col("fp"), col("doc_id").as("doc_a"))
        .join(kept.select(col("fp"), col("doc_id").as("doc_b")), "fp")
        .where(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 1L)
      val newPairs = graft.operators.TextDedup.winnowNearDupPairs(
        df, "doc_id", "text", k, w, minShared = 1, maxDf = 10)
      assert(rows(newPairs) == rows(oldPairs), "winnow pair multiset drift")
      graft.operators.CacheScope.drain()
    }
  }

  test("exactSubstringRunsMulti l-slice == single-l exactSubstringRuns") {
    import graft.operators.TextDedup
    import org.apache.spark.sql.functions.col
    val ls = Seq(10, 20, 40)
    val multi = TextDedup.exactSubstringRunsMulti(
      docs, "doc_id", "text", ls, maxDf = 10)
    ls.foreach { l =>
      val slice = multi.where(col("l") === l.toLong).drop("l")
      val solo = TextDedup.exactSubstringRuns(docs, "doc_id", "text", l,
        maxDf = 10)
      assert(slice.columns.toSeq == solo.columns.toSeq, s"l=$l column drift")
      val (a, b) = (rows(slice), rows(solo))
      assert(a == b, s"l=$l multi-pass run multiset != single-l runs " +
        s"(${a.size} vs ${b.size})")
      graft.operators.CacheScope.drain()
    }
  }

  test("memWindowInventoryMulti k-slice == single-k memWindowInventory") {
    import graft.operators.TextDedup
    import org.apache.spark.sql.functions.col
    val multi = TextDedup.memWindowInventoryMulti(
      docs, "doc_id", "text", Seq(5, 10, 20))
    Seq(5, 10, 20).foreach { k =>
      val slice = multi.where(col("k") === k)
        .select(col("doc_id"), col("fp"), col("nxt"))
      val solo = TextDedup.memWindowInventory(docs, "doc_id", "text", k)
      assert(slice.columns.toSeq == solo.columns.toSeq,
        s"k=$k column drift")
      val (a, b) = (rows(slice), rows(solo))
      assert(a == b, s"k=$k multi-pass slice rows != single-k rows " +
        s"(${a.size} vs ${b.size})")
    }
  }
}
