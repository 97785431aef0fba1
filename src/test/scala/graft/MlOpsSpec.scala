package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MlOps

class MlOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- naive Bayes ----

  test("naiveBayesConfusion: separable two-class corpus classifies cleanly") {
    // Class a docs are all "x", class b docs all "y"; train = even ids.
    val docs = Seq(
      (0L, "x x x", "a"), (2L, "x x", "a"), (1L, "x x", "a"), (3L, "x", "a"),
      (4L, "y y y", "b"), (6L, "y y", "b"), (5L, "y y", "b"), (7L, "y", "b")
    ).toDF("doc_id", "text", "cls")
    val m = MlOps.naiveBayesConfusion(docs, "doc_id", "text", "cls")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == Map(("a", "a") -> 2L, ("b", "b") -> 2L))
  }

  test("naiveBayesConfusion: test doc with only OOV tokens falls to prior") {
    // Train: 2 'a' docs, 1 'b' doc. Test doc 1 has no in-vocab tokens ->
    // scored on priors alone -> predicted 'a' (larger prior).
    val docs = Seq(
      (0L, "x x", "a"), (2L, "x", "a"), (4L, "y", "b"),
      (1L, "zzz qqq", "b")
    ).toDF("doc_id", "text", "cls")
    val m = MlOps.naiveBayesConfusion(docs, "doc_id", "text", "cls")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == Map(("b", "a") -> 1L))
  }

  // ---- covariance + PCA ----

  test("embeddingCovariance: hand-computed 2-dim case") {
    // vectors (1,2), (3,6), (5,10): y = 2x exactly.
    // mean x = 3, var x = (4+0+4)/3 = 8/3; cov xy = 16/3; var y = 32/3.
    val embs = Seq(
      (1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 6.0f)), (3L, Seq(5.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    val m = MlOps.embeddingCovariance(embs, "embedding", 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(math.abs(m((0, 0)) - 8.0 / 3) < 1e-6)
    assert(math.abs(m((0, 1)) - 16.0 / 3) < 1e-6)
    assert(math.abs(m((1, 1)) - 32.0 / 3) < 1e-6)
    assert(m.size == 3)
  }

  test("pcaTopComponent: aligns with the dominant direction, sign-fixed") {
    // All variance along (1,2)/sqrt(5); noise-free -> eigvec exactly that.
    val embs = (1 to 20).map(i =>
      (i.toLong, Seq((i - 10.5).toFloat, (2 * (i - 10.5)).toFloat)))
      .toDF("vec_id", "embedding")
    val v = MlOps.pcaTopComponent(embs, "embedding", 2)
    val expected = Array(1.0 / math.sqrt(5), 2.0 / math.sqrt(5))
    assert(math.abs(v(0) - expected(0)) < 1e-6)
    assert(math.abs(v(1) - expected(1)) < 1e-6)
    // sign convention: largest-|component| coordinate positive
    assert(v(1) > 0)
  }

  test("pcaProjection: top-|projection| picks the extreme vectors") {
    val embs = (1 to 20).map(i =>
      (i.toLong, Seq((i - 10.5).toFloat, (2 * (i - 10.5)).toFloat)))
      .toDF("vec_id", "embedding")
    val top = MlOps.pcaProjection(embs, "vec_id", "embedding", 2, k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 20L)) // the two endpoints of the line
  }

  test("effectiveRank: rank-1 covariance gives eff_rank exactly 1; isotropic gives d") {
    // y = 2x exactly -> covariance is rank 1 -> (Σλ)²/Σλ² = 1.
    val embs = Seq(
      (1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 6.0f)), (3L, Seq(5.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    val r = MlOps.effectiveRank(embs, "embedding", 2).collect().head
    // trace = 8/3 + 32/3 = 40/3; frob = (8/3)² + 2(16/3)² + (32/3)² = 1600/9
    assert(math.abs(r.getAs[Double]("trace") - 40.0 / 3) < 1e-6)
    assert(math.abs(r.getAs[Double]("frob") - 1600.0 / 9) < 1e-5)
    assert(math.abs(r.getAs[Double]("eff_rank") - 1.0) < 1e-9)
    // two orthogonal equal-variance directions -> eff_rank = 2
    val iso = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val r2 = MlOps.effectiveRank(iso, "embedding", 2).collect().head
    assert(math.abs(r2.getAs[Double]("eff_rank") - 2.0) < 1e-9)
  }

  // ---- rank normalization ----

  test("rankNormalize: percent_rank and decile, ties share ranks") {
    val df = Seq((1L, "s", 10L), (2L, "s", 20L), (3L, "s", 20L),
      (4L, "s", 30L), (5L, "s", 40L)).toDF("id", "k", "v")
    val m = MlOps.rankNormalize(df, "k", "v", "id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getInt(4))).toMap
    assert(m(1L) == ((0.0, 0)))
    assert(m(2L) == ((0.25, 2)) && m(3L) == ((0.25, 2))) // tied
    assert(m(4L) == ((0.75, 7)))
    assert(m(5L) == ((1.0, 9))) // capped at decile 9
  }

  // ---- RBO ----

  test("rboWeights: closed form matches the textbook sum for k=3") {
    // L = lcm(1,2,3) = 6; weights (L/d)*2^(k-d): d=1 -> 24, d=2 -> 6, d=3 -> 2.
    // W(1) = 32, W(2) = 8, W(3) = 2; denom = 6 * 8 = 48.
    val (ws, denom) = MlOps.rboWeights(3)
    assert(ws == Seq((1L, 32L), (2L, 8L), (3L, 2L)))
    assert(denom == 48L)
  }

  test("rboRankStability: identical rankings give RBO = 1 - p^k") {
    // Same score column twice -> A(d) = d for all d; truncated RBO with
    // p=1/2 at depth k is 1 - 2^-k (the geometric tail).
    val df = (1 to 8).map(i => ("g", i.toLong, (100 - i).toLong, (100 - i).toLong))
      .toDF("k", "id", "s1", "s2")
    val r = MlOps.rboRankStability(df, "k", "s1", "s2", "id", 4)
      .collect().head.getDouble(1)
    assert(math.abs(r - (1.0 - math.pow(0.5, 4))) < 1e-12)
  }

  test("rboRankStability: disjoint top-k gives RBO = 0") {
    // s1 ranks ids 1..4 on top, s2 ranks 5..8 on top (k=4, 8 items).
    val df = (1 to 8).map { i =>
      ("g", i.toLong, (100 - i).toLong, (100 + i).toLong)
    }.toDF("k", "id", "s1", "s2")
    val out = MlOps.rboRankStability(df, "k", "s1", "s2", "id", 4).collect()
    assert(out.isEmpty || out.head.getDouble(1) == 0.0)
  }

  test("rboRankStability: hand-computed partial overlap") {
    // k=2, 3 items. s1 top-2 = [1, 2]; s2 top-2 = [2, 3].
    // Only item 2 in both: m = max(2, 1) = 2 -> W(2) = L/2 * 2^0 = 1 (L=2).
    // denom = L * 2^k = 8 -> RBO = 1/8.
    val df = Seq(("g", 1L, 30L, 10L), ("g", 2L, 20L, 30L), ("g", 3L, 10L, 20L))
      .toDF("k", "id", "s1", "s2")
    val r = MlOps.rboRankStability(df, "k", "s1", "s2", "id", 2)
      .collect().head.getDouble(1)
    assert(math.abs(r - 0.125) < 1e-12)
  }

  // ---- k-anonymity ----

  test("kAnonymityProfile: hand-built groups") {
    // groups: (a,1) x 5, (a,2) x 2, (b,1) x 1 -> 3 groups, 2 below k=3,
    // 3 rows at risk, min 1, max 5.
    val df = (Seq.fill(5)(("a", 1)) ++ Seq.fill(2)(("a", 2)) ++ Seq(("b", 1)))
      .toDF("q1", "q2")
    val r = MlOps.kAnonymityProfile(df, Seq("q1", "q2"), 3).collect().head
    assert(r.getAs[Long]("n_groups") == 3)
    assert(r.getAs[Long]("small_groups") == 2)
    assert(r.getAs[Long]("rows_at_risk") == 3)
    assert(r.getAs[Long]("min_group") == 1)
    assert(r.getAs[Long]("max_group") == 5)
  }

  // ---- OLS ----

  test("ols2: recovers an exact planar relation y = 3 + 2*x1 + 5*x2") {
    val rows = for { x1 <- 1 to 5; x2 <- 1 to 5 }
      yield (x1.toLong, x2.toLong, 3L + 2 * x1 + 5 * x2)
    val df = rows.toDF("x1", "x2", "y")
    val r = MlOps.ols2(df, col("x1"), col("x2"), col("y")).collect().head
    assert(r.getAs[Long]("n") == 25)
    assert(math.abs(r.getAs[Double]("b0") - 3.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("b1") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("b2") - 5.0) < 1e-9)
  }

  // ---- column profile ----

  test("columnProfile: nulls, distincts, numeric/timestamp/string views") {
    val df = Seq(
      (Some(1L), Some(2.5), Some("a"), Some(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))),
      (Some(2L), None, Some("b"), None),
      (None, Some(7.5), Some("a"), Some(java.sql.Timestamp.valueOf("2020-01-02 00:00:00")))
    ).toDF("id", "x", "s", "ts")
    val m = graft.operators.Relational.columnProfile(df)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(m.size == 4 && m.values.forall(_.getAs[Long]("n_rows") == 3))
    assert(m("id").getAs[Long]("n_null") == 1 &&
      m("id").getAs[Long]("n_distinct") == 2)
    assert(m("id").getAs[Double]("min_num") == 1.0 &&
      m("id").getAs[Double]("max_num") == 2.0)
    assert(m("x").getAs[Double]("max_num") == 7.5)
    // string column: profiled for nulls/distinct, numeric view absent
    assert(m("s").getAs[Long]("n_distinct") == 2 &&
      m("s").isNullAt(m("s").fieldIndex("min_num")))
    // timestamp as epoch seconds: 2020-01-02 - 2020-01-01 = 86400
    assert(m("ts").getAs[Double]("max_num") -
      m("ts").getAs[Double]("min_num") == 86400.0)
  }

  // ---- Theil-Sen ----

  test("theilSen: exact line recovers the slope; one wild outlier cannot move it") {
    import graft.operators.Stats
    // clean: y = 2x over x = 1..9 -> every pairwise slope is 2
    val clean = (1 to 9).map(i => ("g", i.toLong, 2L * i)).toDF("g", "x", "y")
    val r = Stats.theilSen(clean, "g", "x", "y").collect().head
    assert(r.getAs[Long]("n_pairs") == 36)
    assert(r.getAs[Double]("ts_slope") == 2.0)
    // corrupt one point hard: median of pairwise slopes stays 2 (OLS would
    // move by ~outlier/n)
    val dirty = ((1 to 8).map(i => ("g", i.toLong, 2L * i)) :+ ("g", 9L, 1000L))
      .toDF("g", "x", "y")
    val r2 = Stats.theilSen(dirty, "g", "x", "y").collect().head
    assert(r2.getAs[Double]("ts_slope") == 2.0, s"got ${r2.getAs[Double]("ts_slope")}")
  }

  test("theilSen: even pair count averages the two middle slopes") {
    import graft.operators.Stats
    // x=0,1,2 with y=0,1,4 -> slopes: (0,1)=1, (1,2)=3, (0,2)=2; odd case = 2.
    // Add x=3,y=4 -> 6 slopes: 1,3,0,2,1.5,4/3 -> sorted [1, 4/3, 1.5, 2, 0, 3]
    // = [0? no: (2,3)=0] recompute: pairs (0,1)=1 (0,2)=2 (0,3)=4/3 (1,2)=3
    // (1,3)=1.5 (2,3)=0 -> sorted [0, 1, 4/3, 1.5, 2, 3]; middle two 4/3, 1.5
    // -> median = (4/3 + 1.5)/2
    val df = Seq(("g", 0L, 0L), ("g", 1L, 1L), ("g", 2L, 4L), ("g", 3L, 4L))
      .toDF("g", "x", "y")
    val r = Stats.theilSen(df, "g", "x", "y").collect().head
    assert(r.getAs[Long]("n_pairs") == 6)
    assert(math.abs(r.getAs[Double]("ts_slope") - (4.0 / 3 + 1.5) / 2) < 1e-15)
  }

  // ---- weighted median ----

  test("weightedMedian: weights shift the median off the unweighted middle") {
    import graft.operators.Stats
    // values 1..5 weight 1 -> median 3; give value 5 weight 10 -> median 5
    val flat = (1 to 5).map(v => ("g", v.toLong, 1L)).toDF("g", "v", "w")
    assert(Stats.weightedMedian(flat, "g", "v", "w")
      .collect().head.getAs[Long]("w_median") == 3L)
    val heavy = ((1 to 4).map(v => ("g", v.toLong, 1L)) :+ ("g", 5L, 10L))
      .toDF("g", "v", "w")
    assert(Stats.weightedMedian(heavy, "g", "v", "w")
      .collect().head.getAs[Long]("w_median") == 5L)
    // exact half boundary: w=[1,1] over values [1,2]: cum(1)*2 == tot -> 1
    val half = Seq(("g", 1L, 1L), ("g", 2L, 1L)).toDF("g", "v", "w")
    assert(Stats.weightedMedian(half, "g", "v", "w")
      .collect().head.getAs[Long]("w_median") == 1L)
  }

  // ---- CDC ----

  test("snapshotDiff: added/removed/changed/unchanged; NULL is not empty string") {
    import graft.operators.Relational
    val old = Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, Some("c"), 30L), (4L, None, 40L)).toDF("id", "v", "n")
    val neu = Seq((1L, Some("a"), 10L), (2L, Some("B"), 20L),
      (4L, Some(""), 40L), (5L, Some("e"), 50L)).toDF("id", "v", "n")
    val m = Relational.snapshotDiff(old, neu, Seq("id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1 unchanged; 2 changed; 3 removed; 4 changed (NULL -> ''); 5 added
    assert(m == Map("unchanged" -> 1L, "changed" -> 2L,
      "removed" -> 1L, "added" -> 1L), s"got $m")
  }

  test("applyChanges: upsert replaces and inserts, delete removes, merged state exact") {
    import graft.operators.Relational
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq((2L, "B", "upsert"), (9L, "i", "upsert"),
      (3L, "c", "delete"), (7L, "x", "delete")).toDF("id", "v", "__op")
    val out = Relational.applyChanges(snap, changes, "__op", Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B", 9L -> "i"), s"got $out")
  }

  test("q209 invariant: applyChanges reproduces the directly-built next snapshot") {
    val old = Graft.table(spark, "/root/testdata/sf0.001", "documents")
    val direct = old.where(pmod(col("doc_id"), lit(17)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(old.where(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + 100000))
    val upserts = old
      .where(pmod(col("doc_id"), lit(10)) === 0 &&
        pmod(col("doc_id"), lit(17)) =!= 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
      .unionByName(old.where(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + 100000))
      .withColumn("__op", lit("upsert"))
    val deletes = old.where(pmod(col("doc_id"), lit(17)) === 0)
      .withColumn("__op", lit("delete"))
    val merged = graft.operators.Relational.applyChanges(
      old, upserts.unionByName(deletes), "__op", Seq("doc_id"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "merged state must equal the directly-built snapshot row-for-row")
  }

  // ---- runs ----

  test("runProfile: hand-built runs per key") {
    // user 1: A A B A -> runs A(2), B(1), A(1); user 2: B B B -> B(3).
    val df = Seq(
      (1L, 1L, "A"), (1L, 2L, "A"), (1L, 3L, "B"), (1L, 4L, "A"),
      (2L, 1L, "B"), (2L, 2L, "B"), (2L, 3L, "B")
    ).toDF("u", "ord", "t")
    val m = MlOps.runProfile(df, "u", "t", Seq(col("ord")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m("A") == ((2L, 2L, 1.5)))
    assert(m("B") == ((2L, 3L, 2.0)))
  }
}
