package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.JaroWinkler
import graft.operators.{EntityRes, Inference, MlOps, Similarity, Temporal}

/** Fixture semantics for the q282–q286 batch: bootstrap CI invariants the
  * sf tables cannot isolate (constant-column degeneracy), hand-built
  * Markov chains, the DP noise identity replayed through java's own md5,
  * the calibrated Jaro-Winkler vector, and an MMR geometry where
  * diversity must beat the near-duplicate. */
class RoundElevenOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(day: Long, sec: Long = 0): java.sql.Timestamp =
    new java.sql.Timestamp(day * 86400000L + sec * 1000L)

  test("bootstrapCi: constant column collapses the interval to the point mean") {
    val df = (1L to 200L).map(id => ("g", id, 7.25)).toDF("g", "id", "v")
    val r = Inference.bootstrapCi(df, "g", "id", "v", b = 16).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 200L)
    // every replicate mean of a constant is the constant -> CI degenerates
    assert(row.getDouble(2) == 7.25, "point mean")
    assert(row.getDouble(3) == 7.25, "ci_lo")
    assert(row.getDouble(4) == 7.25, "ci_hi")
    assert(row.getLong(5) == 16L, "all replicates kept")
  }

  test("bootstrapCi: interval brackets the mean and is partitioning-invariant") {
    val df = (1L to 500L).map(id => ("g", id, (id % 37).toDouble))
      .toDF("g", "id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Inference.bootstrapCi(d, "g", "id", "v", b = 32).collect().head
    val a = run(df)
    val b = run(df.repartition(13))
    assert(a == b, "resamples are a pure function of ids, not partitioning")
    assert(a.getDouble(3) < a.getDouble(2) && a.getDouble(2) < a.getDouble(4),
      s"CI should bracket the point mean for a well-behaved sample: $a")
  }

  test("bootstrapCi: null-valued rows are invisible to both estimators") {
    // a null value row must not contribute Poisson weight to any
    // replicate's denominator (it used to, biasing replicate means low
    // while the point mean's count(valCol) excluded it)
    val clean = (1L to 200L).map(id => ("g", id, java.lang.Double.valueOf(3.5)))
      .toDF("g", "id", "v")
    val withNulls = ((1L to 200L).map(id => ("g", id, java.lang.Double.valueOf(3.5))) ++
      (201L to 260L).map(id => ("g", id, null.asInstanceOf[java.lang.Double])))
      .toDF("g", "id", "v")
    val a = Inference.bootstrapCi(clean, "g", "id", "v", b = 16).collect().head
    val b = Inference.bootstrapCi(withNulls, "g", "id", "v", b = 16).collect().head
    assert(b.getLong(1) == 200L, "n counts non-null rows only")
    assert(a.getDouble(2) == b.getDouble(2) && a.getDouble(3) == b.getDouble(3) &&
      a.getDouble(4) == b.getDouble(4),
      s"null rows changed the estimate: clean=$a nulls=$b")
  }

  test("markovStationary: a 2-cycle holds the uniform split exactly") {
    // one user alternating A,B,A,B,... -> P(A->B)=P(B->A)=1; the uniform
    // 0.5/0.5 start is stationary and the integer masses swap losslessly
    val ev = (0 until 10).map(i =>
      (1L, ts(1, i.toLong), i.toLong, if (i % 2 == 0) "A" else "B"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = Temporal.markovStationary(ev, "user_id", "ts", "event_type",
        "event_id", iters = 7)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("A" -> 500000000L, "B" -> 500000000L))
  }

  test("markovStationary: an absorbing state drains the chain") {
    // A->A and B->A only: all mass reaches A, B holds none
    val ev = Seq(
      (1L, ts(1, 0), 1L, "A"), (1L, ts(1, 1), 2L, "A"),
      (1L, ts(1, 2), 3L, "A"),
      (2L, ts(1, 0), 4L, "B"), (2L, ts(1, 1), 5L, "A"),
      (2L, ts(1, 2), 6L, "A"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = Temporal.markovStationary(ev, "user_id", "ts", "event_type",
        "event_id", iters = 4)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("B") == 0L, s"absorbing chain must drain B: $r")
    assert(r("A") == 1000000000L, s"A absorbs everything: $r")
  }

  test("dpNoisyCounts: noise replays the md5 inverse-CDF identity, release is consistent") {
    val df = (1L to 90L).map(i => (if (i <= 60) "x" else "y", i))
      .toDF("seg", "id")
    val r = MlOps.dpNoisyCounts(df, Seq("seg"), epsilon = 0.5)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    // replay the mechanism for group "x" through java's own md5
    def noiseMu(key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(hex, 16)
      val u = (h + 0.5) / (1L << 60).toDouble
      val v = u - 0.5
      math.round(1e6 * (-2.0 * math.signum(v) *
        math.log(math.max(1e-12, 1.0 - 2.0 * math.abs(v)))))
    }
    assert(r("x")._1 == 60L && r("y")._1 == 30L)
    assert(r("x")._2 == noiseMu("dp#x"), "noise is the md5 inverse-CDF")
    assert(r("y")._2 == noiseMu("dp#y"))
    // the published value is exactly n + noise_mu/1e6
    assert(r("x")._3 == (60L * 1000000L + r("x")._2).toDouble / 1e6)
    assert(r("x")._4 == 0.5, "epsilon is reported with the release")
  }

  test("JaroWinkler matches the calibrated reference vector") {
    // values verified bit-identical to DuckDB jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("crate", "trace", 0.7333333333333334),
      ("dwayne", "duane", 0.8400000000000001),
      ("arnab", "aranb", 0.9466666666666665),
      ("forest green", "forest metallic green", 0.8976190476190476),
      ("lace burnished rose", "burnished lace rose", 0.7905701754385964),
      ("abcdef", "abcdef gh", 0.9333333333333333),
      ("hello", "hello", 1.0), ("abc", "", 0.0), ("a", "b", 0.0))
    cases.foreach { case (a, b, want) =>
      assert(JaroWinkler.sim(a, b) == want, s"jw($a, $b)")
      assert(JaroWinkler.sim(b, a) == want, s"jw must be symmetric ($a, $b)")
    }
  }

  test("blockedNameMatch: blocks never cross, the cap keeps the smallest ids") {
    val df = Seq(
      (1L, "blush rose metallic", "B1"), (2L, "blush rose metalic", "B1"),
      (3L, "blush rose metallic", "B2"), // same name, other block: no pair
      (4L, "completely different", "B1"),
      (5L, "blush rose metallics", "B1"))
      .toDF("id", "name", "blk")
    val all = EntityRes.blockedNameMatch(df, "id", "name", Seq("blk"),
      cap = 10, threshold = 0.9).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(all == Set((1L, 2L), (1L, 5L), (2L, 5L)),
      s"near-identical names pair within the block only: $all")
    // cap=2 keeps ids 1,2 -> the (1,5)/(2,5) pairs disappear
    val capped = EntityRes.blockedNameMatch(df, "id", "name", Seq("blk"),
      cap = 2, threshold = 0.9).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(capped == Set((1L, 2L)), s"cap must keep the smallest ids: $capped")
  }

  test("simpsonAudit: constructed reversal flags, degenerate stratum stays null") {
    // stratum A: y falls with x; stratum B: y falls with x — but B sits
    // higher AND at higher x, so the POOLED slope rises: the paradox
    val rows = Seq(
      ("A", 1.0, 10.0), ("A", 2.0, 8.0), ("A", 3.0, 6.0),
      ("B", 10.0, 30.0), ("B", 11.0, 28.0), ("B", 12.0, 26.0),
      ("C", 5.0, 1.0), ("C", 5.0, 9.0)) // constant x -> null slope
      .toDF("s", "x", "y")
    val r = graft.operators.Stats.simpsonAudit(rows, "s", "x", "y")
      .collect().map(x => x.getString(0) ->
        (Option(x.get(2)), x.getDouble(3), Option(x.get(4)))).toMap
    assert(r("A")._1.get.asInstanceOf[Double] < 0 &&
      r("B")._1.get.asInstanceOf[Double] < 0,
      s"both real strata fall: $r")
    assert(r("A")._2 > 0, s"pooled slope rises across strata: $r")
    assert(r("A")._3.contains(true) && r("B")._3.contains(true),
      s"reversal must flag: $r")
    assert(r("C")._1.isEmpty && r("C")._3.isEmpty,
      s"degenerate stratum stays null: $r")
  }

  test("asofNearest: picks the closer side, ties go backward, one-sided rows keep direction") {
    val left = Seq((1L, 7L, ts(1, 100)), (2L, 7L, ts(1, 500)),
      (3L, 7L, ts(1, 249)), (4L, 8L, ts(1, 100)))
      .toDF("event_id", "user_id", "ts")
    // purchases for user 7 at t=90 and t=260; user 8 has only a LATER one
    val right = Seq((7L, ts(1, 90), 1.0), (7L, ts(1, 260), 2.0),
      (8L, ts(1, 400), 3.0))
      .toDF("user_id", "ts", "value")
    val r = graft.operators.Temporal.asofNearest(left, right, "user_id",
        "ts", Seq("ts", "value"))
      .select(col("event_id"), col("__match.value"), col("__dir"))
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getString(2)))
      .toMap
    assert(r(1L) == ((1.0, "backward")), s"t=100: 90 is 10 away, 260 is 160: $r")
    assert(r(2L) == ((2.0, "backward")), s"t=500: 260 is behind and closer: $r")
    // t=249: backward 90 is 159 away; forward 260 is 11 away -> forward
    assert(r(3L) == ((2.0, "forward")), s"t=249 prefers the nearer future: $r")
    assert(r(4L) == ((3.0, "forward")), s"only a future match exists: $r")
    // exact tie: equidistant matches resolve backward
    val tie = graft.operators.Temporal.asofNearest(
      Seq((9L, 1L, ts(1, 100))).toDF("event_id", "user_id", "ts"),
      Seq((1L, ts(1, 90), 5.0), (1L, ts(1, 110), 6.0))
        .toDF("user_id", "ts", "value"),
      "user_id", "ts", Seq("ts", "value"))
      .select(col("__match.value"), col("__dir")).head()
    assert((tie.getDouble(0), tie.getString(1)) == ((5.0, "backward")))
  }

  test("ransacLine: consensus recovers the exact line through gross outliers") {
    // 90 points on y = 3x + 2 exactly; 10 gross outliers far beyond tol.
    // Any two clean seed points give slope 3 / intercept 2 EXACTLY
    // (integer coordinates), and that model's consensus (90) beats any
    // outlier-contaminated model's.
    val clean = (1L to 90L).map(i => (i, i, 3 * i + 2))
    val junk = (91L to 100L).map(i => (i, i, 100000 + i))
    val df = (clean ++ junk).toDF("id", "x", "y")
    val r = graft.operators.Robust.ransacLine(df, "id", col("x"), col("y"),
      nModels = 16, tol = 10.0).head()
    assert(r.getDouble(1) == 3.0 && r.getDouble(2) == 2.0,
      s"consensus must be the exact clean line: $r")
    assert(r.getLong(3) == 90L && r.getLong(4) == 100L,
      s"every clean point is an inlier, no outlier is: $r")
  }

  test("personalizedPageRank: mass stays in the seed's component") {
    // two disconnected 2-cycles; seed in the first: the second holds zero
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L),
      ("c", "d", 1L), ("d", "c", 1L)).toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    val r = graft.operators.Graphs.personalizedPageRank(
        edges, "src", "dst", "w", seeds, iters = 6)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getBoolean(3))).toMap
    assert(r("a")._1 > 0 && r("b")._1 > 0, s"seed component ranks: $r")
    assert(r("c")._1 == 0 && r("d")._1 == 0,
      s"no teleport, no path -> no mass: $r")
    assert(r("a")._2 && !r("b")._2 && !r("c")._2, s"is_seed flags: $r")
    // off-graph seeds are ignored; seeds get the teleport floor forever
    val r2 = graft.operators.Graphs.personalizedPageRank(
        edges, "src", "dst", "w", Seq("a", "zz").toDF("node"), iters = 6)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(!r2.contains("zz") && r2("a") == r("a")._1,
      s"unknown seed must not change the denominator: $r2 vs $r")
  }

  test("wassersteinDrift: hand-computed transport, exact rationals") {
    // A={0,10}, B={5,5}: |F_A-F_B| is 0.5 on [0,5) and 0.5 on [5,10) -> 5
    // A={0,0},  C={10,10}: all mass moves 10 -> 10
    val df = Seq(("A", 0L), ("A", 10L), ("B", 5L), ("B", 5L),
      ("C", 10L), ("C", 10L), ("A2", 0L), ("A2", 0L))
      .toDF("g", "v")
    val r = graft.operators.CorpusStats.wassersteinDrift(df, "g", "v")
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(4))
      .toMap
    assert(r(("A", "B")) == 5.0, s"split-vs-point transport: $r")
    assert(r(("A2", "C")) == 10.0, s"full-mass move over 10 units: $r")
    assert(r(("B", "C")) == 5.0, s"point-to-point distance: $r")
    assert(r.size == 6 && r.keys.forall { case (a, b) => a < b },
      s"each unordered pair once: $r")
  }

  test("splitConformal: exact-line data collapses the interval, coverage 1") {
    // y = 4x + 7 exactly across all three splits -> residuals 0
    val df = (1L to 300L).map(i => (i, i % 50 + 1, 4 * (i % 50 + 1) + 7))
      .toDF("id", "x", "y")
    val r = graft.operators.ModelEval.splitConformal(df, "id",
      col("x"), col("y")).head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 100L &&
      r.getLong(2) == 100L, s"balanced splits: $r")
    assert(r.getDouble(3) == 4.0 && r.getDouble(4) == 7.0,
      s"exact fit: $r")
    assert(r.getDouble(5) == 0.0, s"zero residuals -> zero width: $r")
    assert(r.getDouble(6) == 1.0, s"every test point covered: $r")
  }

  test("cuped: perfectly correlated covariate removes all variance") {
    // post = 2*pre exactly -> rho^2 = 1: var_cuped 0, reduction 1, theta 2
    val perfect = (1L to 100L).map(i => ((i % 10).toDouble, 2.0 * (i % 10)))
      .toDF("pre", "post")
    val r = graft.operators.Stats.cuped(perfect, "pre", "post").head()
    assert(r.getDouble(1) == 2.0, s"theta: $r")
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 1.0,
      s"perfect covariate zeroes the variance: $r")
    // constant pre: theta null, adjustment buys nothing
    val flat = (1L to 50L).map(i => (5.0, (i % 7).toDouble))
      .toDF("pre", "post")
    val f = graft.operators.Stats.cuped(flat, "pre", "post").head()
    assert(f.isNullAt(1) && f.getDouble(3) == f.getDouble(2) &&
      f.getDouble(4) == 0.0, s"degenerate pre: $f")
  }

  test("aaCalibration: splits partition the population, degenerate rates yield null z") {
    val users = (1L to 400L).map(i => (i, i % 3 == 0)).toDF("id", "conv")
    val r = graft.operators.Stats.aaCalibration(users, "id", col("conv"),
      nSplits = 12, zCrit = 1.959964).collect()
    assert(r.length == 12)
    r.foreach { x =>
      assert(x.getLong(1) + x.getLong(3) == 400L,
        s"every user lands in exactly one arm: $x")
      assert(x.getLong(2) + x.getLong(4) == 133L,
        s"conversions conserved across arms: $x")
    }
    // determinism across partitioning
    val r2 = graft.operators.Stats.aaCalibration(users.repartition(7), "id",
      col("conv"), nSplits = 12, zCrit = 1.959964).collect()
    assert(r.map(_.toString).sorted.sameElements(r2.map(_.toString).sorted))
    // all-converted population: pooled rate 1 -> null z, no flag
    val all = (1L to 40L).map(i => (i, true)).toDF("id", "conv")
    val a = graft.operators.Stats.aaCalibration(all, "id", col("conv"),
      nSplits = 3, zCrit = 1.959964).collect()
    assert(a.forall(x => x.isNullAt(5) && !x.getBoolean(6)),
      s"degenerate pooled rate: ${a.mkString(";")}")
  }

  test("sequentialMonitor: boundary decays to zCrit, cumulative counts add up") {
    // 3 days, 4 users per day alternating arms; user 2 purchases daily
    val ev = (0 until 3).flatMap { day =>
      (1L to 4L).map(u => (u, ts(day + 1, u),
        if (u == 2L) "purchase" else "view"))
    }.toDF("user_id", "ts", "event_type")
    val r = graft.operators.Stats.sequentialMonitor(ev, "user_id", "ts",
        col("event_type") === "purchase", zCrit = 2.0)
      .orderBy("day_idx").collect()
    assert(r.length == 3)
    assert(r.map(_.getLong(1)) sameElements Array(2L, 4L, 6L),
      "arm-0 units accumulate: " + r.mkString(";"))
    assert(r.map(_.getLong(2)) sameElements Array(1L, 2L, 3L),
      "user 2's daily purchases accumulate")
    assert(r.last.getDouble(6) == 2.0,
      s"the final look's boundary is exactly zCrit: ${r.last}")
    assert(r.head.getDouble(6) > r.last.getDouble(6),
      "earlier looks demand more evidence")
  }

  test("vocabCoverage: hand frequency-of-frequencies") {
    // "a a b c": V=3, N=4, N1=2, N2=1 -> P0=0.5, chao1=3+2*1/(2*2)=3.5
    val docs = Seq(("g", "a a b c"), ("h", "x x")).toDF("src", "text")
    val r = graft.operators.CorpusStats.vocabCoverage(docs, "src", "text")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
          x.getDouble(5), x.getDouble(6))).toMap
    assert(r("g") == ((3L, 4L, 2L, 1L, 0.5, 3.5)), s"panel: $r")
    // one type seen twice: N1=0 -> no unseen mass, chao1 = V
    assert(r("h") == ((1L, 2L, 0L, 1L, 0.0, 1.0)), s"saturated: $r")
  }

  test("captureRecapture: overlap bounds, exact truth, repartition invariance") {
    val df = (1L to 500L).flatMap(i => Seq(i, i, i)).toDF("id")
    val r = graft.operators.Sketches.captureRecapture(df, "id")
      .head()
    assert(r.getLong(4) == 500L, s"exact distinct: $r")
    assert(r.getLong(2) <= math.min(r.getLong(0), r.getLong(1)),
      s"overlap within both captures: $r")
    assert(r.getDouble(3) > 0.0, s"Chapman estimate is total: $r")
    val r2 = graft.operators.Sketches.captureRecapture(
      df.repartition(11), "id").head()
    assert(r == r2, "captures are pure functions of ids")
  }

  test("mmrRerank: diversity beats the near-duplicate at rank 2") {
    // query 0 at 0°; candidate 10 at 20° (most relevant), candidate 11 at
    // 21° (its near-dup), candidate 12 at -70° (diverse, orthogonal to 20°)
    def vec(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val emb = Seq((0L, vec(0)), (10L, vec(20)), (11L, vec(21)),
      (12L, vec(-70))).toDF("vec_id", "embedding")
    val r = Similarity.mmrRerank(emb, "vec_id", "embedding",
        col("vec_id") < 1, m = 3, k = 3)
      .collect().map(x => x.getLong(1) -> x.getLong(2)).toMap
    assert(r(1L) == 10L, s"rank 1 is pure relevance: $r")
    assert(r(2L) == 12L, s"rank 2 must prefer the diverse candidate: $r")
    assert(r(3L) == 11L, s"the near-dup comes last: $r")
  }
}
