package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graphs, Inference, Temporal}

/** Hand-computed fixtures for the q216–q225 inference/association batch —
  * the semantics the oracle hash can't explain on its own: tie
  * corrections, BH step-up (a failing rank resurrected by a later passing
  * one), perfect-dependence MI, triangle canonicalization, and the
  * full-history WMA gate. */
class InferQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("rankSumTest: tie-corrected U and z on a worked example") {
    // A = [1, 2, 2], B = [2, 3]; ranks 1, 3, 3 | 3, 5 → R_A = 7, U = 1
    // T = 3³−3 = 24; σ² = (6/12)·(6 − 24/20) = 2.4; z = (1−3)/√2.4
    val df = Seq(("a", 1), ("a", 2), ("a", 2), ("b", 2), ("b", 3))
      .toDF("g", "v")
    val r = Inference.rankSumTest(df, "g", "v", "a", "b").collect()(0)
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12, s"U: ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - (-2.0 / math.sqrt(2.4))) < 1e-12)
  }

  test("kruskalWallis: tie-corrected H on a worked example") {
    // A = [1,2], B = [2,3]; ranks 1, 2.5 | 2.5, 4 → ΣR²/n = 27.25
    // H = 12/20·27.25 − 15 = 1.35; C = 1 − 6/60 = 0.9 → H/C = 1.5
    val df = Seq(("a", 1), ("a", 2), ("b", 2), ("b", 3)).toDF("g", "v")
    val r = Inference.kruskalWallis(df, "g", "v").collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 4)
    assert(math.abs(r.getDouble(2) - 1.5) < 1e-12, s"H: ${r.getDouble(2)}")
  }

  test("giniByGroup: known coefficients, equality → 0") {
    val df = Seq(("eq", 2), ("eq", 2), ("half", 0), ("half", 1),
      ("skew", 1), ("skew", 9)).toDF("g", "v")
    val m = Inference.giniByGroup(df, "g", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(m("eq")) < 1e-12)
    assert(math.abs(m("half") - 0.5) < 1e-12)
    assert(math.abs(m("skew") - 0.4) < 1e-12) // Σ|xi−xj|/(2n²μ) = 8/20
  }

  test("bhFdr: step-up resurrects an earlier failing rank") {
    // m=2, α=0.1: crits 0.05, 0.1. p=0.06 fails its own crit but p=0.08
    // passes rank 2 → BOTH significant (the step-up, not step-down, rule).
    val df = Seq(("h1", 0.06), ("h2", 0.08)).toDF("hyp", "p")
    val r = Inference.bhFdr(df, "hyp", "p").collect()
      .map(x => x.getString(0) -> x.getBoolean(4)).toMap
    assert(r("h1") && r("h2"))
    // and a clean reject tail: 0.2 > 0.1·(3/3) stays insignificant
    val df2 = Seq(("h1", 0.01), ("h2", 0.04), ("h3", 0.2)).toDF("hyp", "p")
    val r2 = Inference.bhFdr(df2, "hyp", "p").collect()
      .map(x => x.getString(0) -> x.getBoolean(4)).toMap
    assert(r2("h1") && r2("h2") && !r2("h3"))
  }

  test("mutualInfo: ln2 under perfect dependence, 0 under independence") {
    val dep = (Seq.fill(5)(("a", "x")) ++ Seq.fill(5)(("b", "y"))).toDF("r", "c")
    val rd = Inference.mutualInfo(dep, "r", "c").collect()(0)
    assert(math.abs(rd.getDouble(2) - math.log(2)) < 1e-12)
    assert(math.abs(rd.getDouble(3) - math.log(2)) < 1e-12)
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")).toDF("r", "c")
    val ri = Inference.mutualInfo(ind, "r", "c").collect()(0)
    assert(math.abs(ri.getDouble(2)) < 1e-12, s"MI: ${ri.getDouble(2)}")
  }

  test("kendallTauByGroup: monotone → 1, y-tie corrected") {
    val df = Seq(("up", 1, 10), ("up", 2, 20), ("up", 3, 30),
      ("tie", 1, 1), ("tie", 2, 1), ("tie", 3, 2)).toDF("g", "x", "y")
    val m = Inference.kendallTauByGroup(df, "g", "x", "y").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(m("up") - 1.0) < 1e-12)
    assert(math.abs(m("tie") - 2.0 / math.sqrt(6.0)) < 1e-12)
  }

  test("cooccurrenceLift: counts, lift, and the rational support gate") {
    val df = Seq((1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"),
      (3, "x")) // duplicate (3, x) must not double-count
      .toDF("b", "i")
    val r = Graphs.cooccurrenceLift(df, "b", "i", 1, 2).collect()
    assert(r.length == 1) // (x,z) support 1/3 < 1/2 is pruned
    val row = r(0)
    assert(row.getString(0) == "x" && row.getString(1) == "y")
    assert(row.getLong(2) == 2)
    assert(math.abs(row.getDouble(3) - 3.0 * 2 / (3.0 * 2)) < 1e-12)
  }

  test("triangleCounts: canonicalizes orientation, counts participation") {
    // 4-clique minus edge (3,4): triangles (1,2,3), (1,2,4)
    val edges = Seq((1, 2), (3, 1), (1, 4), (2, 3), (4, 2), (2, 4)) // dup+flipped
      .toDF("u", "w")
    val m = Graphs.triangleCounts(edges, "u", "w").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m == Map(1 -> 2L, 2 -> 2L, 3 -> 1L, 4 -> 1L))
  }

  test("interEventGaps: per-user lag, bucket edges, shares") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000)
    val df = Seq((1L, ts(0), 1L), (1L, ts(30), 2L), (1L, ts(300), 3L),
      (1L, ts(7200), 4L), (2L, ts(0), 5L)) // user 2: no gap row
      .toDF("user_id", "ts", "event_id")
    val m = Temporal.interEventGaps(df, "user_id", "ts", "event_id").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m == Map("a_lt1m" -> ((1L, 1.0 / 3)), "b_1to10m" -> ((1L, 1.0 / 3)),
      "d_1to6h" -> ((1L, 1.0 / 3))))
  }

  test("wmaTrend: exact weights, full-history gate") {
    val df = (1 to 8).flatMap { day =>
      (1 to day).map(i => ("k", java.sql.Timestamp.valueOf(
        f"2024-01-0$day 00:00:0${i % 10}")))
    }.toDF("k", "ts")
    val rows = Temporal.wmaTrend(df, "k", "ts").collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(rows.size == 2, s"only days 7 and 8 have full history: $rows")
    val d7 = rows.keys.min
    assert(math.abs(rows(d7) - 5.0) < 1e-12)      // Σ(7−j)(7−j)/28 = 140/28
    assert(math.abs(rows(d7 + 1) - 6.0) < 1e-12)  // 168/28
  }
}
