package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EntityRes, Graphs, ModelEval, SchemaDiscovery, Temporal,
  TextPrep}

/** Round-13 additive shelf: schema discovery (FD strength, IND
  * containment), Fellegi-Sunter probabilistic linkage, off-policy IPS
  * evaluation, and the seasonal-naive forecast backtest — each pinned
  * on hand-computable fixtures, plus the estimator identities the
  * operators document (snips == ips under exact propensities; zero
  * error on a perfectly 7-periodic series).
  */
class RoundThirteenShelfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The corpus word-type seed the BPE / WordPiece merge loops train on. */
  private def seed(docs: org.apache.spark.sql.DataFrame) =
    TextPrep.seedWordTypesPlan(docs, "text")

  test("fdStrength: g3 violations and strength on a known table") {
    val df = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "z"))
      .toDF("det", "dep")
    val r = SchemaDiscovery.fdStrength(df, "t.det->dep", "det", "dep")
      .collect().head
    assert(r.getAs[String]("fd") == "t.det->dep")
    assert(r.getAs[Long]("n_rows") == 4L)
    assert(r.getAs[Long]("n_det") == 2L)
    assert(r.getAs[Long]("n_pairs") == 3L)
    assert(r.getAs[Long]("violations") == 1L) // a: 3 rows, majority 2
    assert(r.getAs[Double]("strength") == 0.75)
    // exact FD: zero violations, strength 1.0
    val exact = SchemaDiscovery.fdStrength(
      Seq(("a", "x"), ("a", "x"), ("b", "y")).toDF("det", "dep"),
      "e", "det", "dep").collect().head
    assert(exact.getAs[Long]("violations") == 0L &&
      exact.getAs[Double]("strength") == 1.0)
  }

  test("indContainment: partial and full inclusion, nulls excluded") {
    val child = Seq(Some(1L), Some(2L), Some(3L), Some(4L), Some(2L), None)
      .toDF("c")
    val parent = Seq(1L, 2L, 6L).toDF("p")
    val r = SchemaDiscovery.indContainment(child, "c", parent, "p", "c<p")
      .collect().head
    assert(r.getAs[Long]("n_child_distinct") == 4L) // null dropped
    assert(r.getAs[Long]("n_missing") == 2L)        // 3 and 4 absent
    assert(r.getAs[Double]("containment") == 0.5)
    assert(!r.getAs[Boolean]("is_ind"))
    val full = SchemaDiscovery.indContainment(
      Seq(1L, 2L).toDF("c"), "c", parent, "p", "full").collect().head
    assert(full.getAs[Long]("n_missing") == 0L &&
      full.getAs[Boolean]("is_ind"))
  }

  /** Orders-shaped daily fixture: one row per epoch day. */
  private def ordersFixture(vals: Seq[(Long, Double)]) =
    vals.map { case (d, v) =>
      (java.time.LocalDate.ofEpochDay(d).toString, v) }
      .toDF("o_orderdate", "o_totalprice")

  test("forecastBacktest: zero error on a 7-periodic series; known metrics on a level shift") {
    // v(d) = 100 + (d mod 7): seasonal-naive is exact on the holdout
    val periodic = ordersFixture(
      (0L to 27L).map(d => d -> (100.0 + (d % 7))))
    val r0 = Temporal.forecastBacktest(periodic, "o_orderdate",
      "o_totalprice", cutoffDay = 21L).collect().head
    assert(r0.getAs[Long]("n_test") == 7L)
    assert(r0.getAs[Double]("mae") == 0.0 &&
      r0.getAs[Double]("pinball_p10") == 0.0 &&
      r0.getAs[Double]("pinball_p50") == 0.0 &&
      r0.getAs[Double]("pinball_p90") == 0.0 &&
      r0.getAs[Double]("mase") == 0.0 &&
      r0.getAs[Double]("smape") == 0.0)
    // train alternates ±$1 (scale = 1400c/20 pairs = 70c); holdout runs
    // $3.00 above its lag-7 source -> e = +300c on all 7 test days
    val shifted = ordersFixture(
      (0L to 13L).map(d => d -> (100.0 + (d % 2))) ++
        (14L to 20L).map(d => d -> 100.0) ++
        (21L to 27L).map(d => d -> 103.0))
    val r = Temporal.forecastBacktest(shifted, "o_orderdate",
      "o_totalprice", cutoffDay = 21L).collect().head
    assert(r.getAs[Long]("n_test") == 7L)
    assert(r.getAs[Long]("n_train_pairs") == 20L)
    assert(r.getAs[Double]("mae") == 3.0)
    // pinball(tau): e > 0 (under-forecast) costs tau*e
    assert(math.abs(r.getAs[Double]("pinball_p10") - 0.3) < 1e-12)
    assert(math.abs(r.getAs[Double]("pinball_p50") - 1.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("pinball_p90") - 2.7) < 1e-12)
    // mase = (2100 * 20) / (7 * 1400)
    assert(math.abs(r.getAs[Double]("mase") - 42000.0 / 9800.0) < 1e-12)
    // per-day smape term 2*300/20300 micro-quantized to 29557
    assert(math.abs(r.getAs[Double]("smape") - 0.029557) < 1e-12)
  }

  test("ipsEval: w=1 when target equals the logging policy; snips==ips; clip bites") {
    val ev = Seq(
      (0L, "a", 1.0), (0L, "a", 3.0), (0L, "b", 2.0), (0L, "b", 6.0),
      (1L, "a", 4.0), (1L, "b", 8.0))
      .toDF("user_id", "event_type", "value")
    val policy5050 = Seq("a" -> 0.5, "b" -> 0.5)
    // both contexts log a/b uniformly -> every weight is exactly 1
    val flat = ModelEval.ipsEval(ev.where(col("user_id") === 0L),
      pmod(col("user_id"), lit(8)), "event_type", "value",
      policy5050, clip = 10.0).collect().head
    assert(flat.getAs[Double]("w_max") == 1.0)
    assert(flat.getAs[Double]("ips") == 3.0) // mean reward
    assert(flat.getAs[Double]("snips") == 3.0)
    assert(flat.getAs[Double]("ess") == 4.0) // all weights 1 -> n
    // skewed logging in ctx1 (1 a, 1 b is still uniform) -> build a real
    // skew: 3 a's vs 1 b in ctx0
    val skewEv = Seq(
      (0L, "a", 1.0), (0L, "a", 1.0), (0L, "a", 1.0), (0L, "b", 9.0))
      .toDF("user_id", "event_type", "value")
    val r = ModelEval.ipsEval(skewEv, pmod(col("user_id"), lit(8)),
      "event_type", "value", policy5050, clip = 10.0).collect().head
    // w(a) = .5*4/3 = 2/3, w(b) = .5*4/1 = 2
    assert(math.abs(r.getAs[Double]("w_max") - 2.0) < 1e-12)
    // ips = (3 * 2/3 * 1 + 2 * 9)/4 = 5.0; snips identical (full support)
    assert(math.abs(r.getAs[Double]("ips") - 5.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("snips") - r.getAs[Double]("ips"))
      < 1e-9)
    // clip at 1.0 caps w(b): ips_clip = (2 + 9)/4, snips_clip = 11/3
    val c = ModelEval.ipsEval(skewEv, pmod(col("user_id"), lit(8)),
      "event_type", "value", policy5050, clip = 1.0).collect().head
    assert(math.abs(c.getAs[Double]("ips_clip") - 2.75) < 1e-6)
    assert(math.abs(c.getAs[Double]("snips_clip") - 11.0 / 3.0) < 1e-6)
    assert(c.getAs[Double]("ips_clip") < c.getAs[Double]("ips"))
  }

  test("fsLinkage: agreement vector, micro-nat weights and decisions replay the FS formula") {
    // one block, three records: 1 and 2 identical on every field, 3
    // disagrees on everything; enough distinct singleton values in other
    // blocks to keep the categorical u's small
    val parts = (Seq(
      (1L, "widget alpha", "B1", "T1", 10, 100.0),
      (2L, "widget alpha", "B1", "T1", 10, 100.0),
      (3L, "zzz omega", "B1", "T2", 20, 900.0)) ++
      (4L to 13L).map(i =>
        (i, s"filler $i", s"B$i", s"T$i", 100 + i.toInt, 10.0 * i)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
    val out = EntityRes.fsLinkage(parts, "p_partkey", "p_name", "p_brand",
      "p_type", "p_size", "p_retailprice", cap = 100, jwThreshold = 0.92,
      mType = 0.95, mSize = 0.85, mBand = 0.80, mName = 0.90,
      upperMicro = 4000000L, lowerMicro = 0L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r).toMap
    assert(out.size == 3) // only block B1 has pairs
    val dup = out((1L, 2L))
    assert(dup.getAs[Int]("agr_type") == 1 && dup.getAs[Int]("agr_size") == 1
      && dup.getAs[Int]("agr_band") == 1 && dup.getAs[Int]("agr_name") == 1)
    // replay the weights: n=13; type freqs: T1 twice, rest singletons ->
    // sum f^2 = 4 + 11; size: 10 twice -> 15; band (price DIV 100$):
    // bands 1,1,9,0(x9 for 10..90$? no: 10i dollars -> bands 0,1,..,1)
    // -> compute from data instead of hand-arithmetic:
    def sq(colName: String): Long = {
      val base = parts.withColumn("__band",
        expr("CAST(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS " +
          "DECIMAL(18,0)) AS BIGINT) DIV 10000"))
      base.groupBy(col(colName)).count()
        .agg(sum(col("count") * col("count"))).collect().head.getLong(0)
    }
    val n = 13.0
    def uOf(s: Long): Double = s.toDouble / (n * n)
    def wAgree(m: Double, u: Double): Long =
      math.round(math.log(m / u) * 1e6)
    val uName = 1.0 / 3.0 // 1 agreeing pair of the 3 candidates
    val expected = wAgree(0.95, uOf(sq("p_type"))) +
      wAgree(0.85, uOf(sq("p_size"))) +
      wAgree(0.80, uOf(sq("__band"))) +
      wAgree(0.90, uName)
    assert(dup.getAs[Long]("weight_micro") == expected,
      s"got ${dup.getAs[Long]("weight_micro")} expected $expected")
    assert(dup.getAs[String]("decision") == "match")
    // the all-disagree pairs score negative on every field
    val mis = out((1L, 3L))
    assert(mis.getAs[Int]("agr_type") == 0 && mis.getAs[Int]("agr_name") == 0)
    assert(mis.getAs[Long]("weight_micro") < 0L)
    assert(mis.getAs[String]("decision") == "non_match")
  }

  test("hits: authorities and hubs separate on a star; L1-normalized; weight-scale invariant") {
    // a and c point at b; b points at d: b is THE authority, a/c the hubs
    val edges = Seq(("a", "b", 2L), ("c", "b", 2L), ("b", "d", 1L))
      .toDF("src", "dst", "w")
    val r = Graphs.hits(edges, "src", "dst", "w")
      .collect().map(x => x.getAs[String]("node") -> x).toMap
    assert(r.size == 4)
    val auth = r.view.mapValues(_.getAs[Long]("auth_mu")).toMap
    val hub = r.view.mapValues(_.getAs[Long]("hub_mu")).toMap
    assert(auth("b") > auth("d") && auth("b") > auth("a"),
      s"b must dominate authorities: $auth")
    assert(hub("a") == hub("c") && hub("a") > hub("b"),
      s"a/c must dominate hubs symmetrically: $hub")
    // L1 totals: each normalize loses < 1 micro-unit per node to floors
    assert(math.abs(auth.values.sum - 1000000L) <= 4)
    assert(math.abs(hub.values.sum - 1000000L) <= 4)
    // L1 normalization makes the masses invariant to a global weight scale
    val scaled = Graphs.hits(
      edges.withColumn("w", col("w") * 1000L), "src", "dst", "w")
      .collect().map(x => x.getAs[String]("node") ->
        (x.getAs[Long]("hub_mu"), x.getAs[Long]("auth_mu"))).toMap
    r.keys.foreach { n =>
      assert(scaled(n) == ((hub(n), auth(n))), s"scale variance at $n") }
  }

  test("joinSizeEstimate: exact product mass; rate=1 sampling is lossless") {
    // key 13 is in the 1/16 hash60 sample (md5 prefix ≡ 0 mod 16), key 1
    // is not; key 3 has no parent row
    val child = Seq(13L, 1L, 1L, 1L, 3L).toDF("k")
    val parent = Seq(13L, 1L, 1L, 1L, 1L, 1L).toDF("p")
    val r1 = SchemaDiscovery.joinSizeEstimate(child, "k", parent, "p",
      "c=p").collect().head
    assert(r1.getAs[Long]("n_keys") == 2L)        // keys 13 and 1 match
    assert(r1.getAs[Long]("exact_rows") == 16L)   // 1*1 + 3*5
    assert(r1.getAs[Long]("sampled_keys") == 1L)  // only key 13 is sampled
    assert(r1.getAs[Long]("est_rows") == 16L && r1.getAs[Double]("rel_err") == 0.0)
    // exact_rows equals the materialized join count on real-shaped data
    val c2 = Seq.tabulate(200)(i => (i % 37).toLong).toDF("k")
    val p2 = Seq.tabulate(50)(i => (i % 41).toLong).toDF("p")
    val r2 = SchemaDiscovery.joinSizeEstimate(c2, "k", p2, "p", "x")
      .collect().head
    val trueJoin = c2.join(p2, col("k") === col("p")).count()
    assert(r2.getAs[Long]("exact_rows") == trueJoin)
    assert(r2.getAs[Long]("est_rows") % 16 == 0)
    assert(r2.getAs[Long]("sampled_keys") <= r2.getAs[Long]("n_keys"))
  }

  test("holtWinters: replays the additive recurrence exactly; calendar slots survive gaps") {
    // one key, days 0..9 with day 6 missing (a gap), plus day 14 (same
    // slot as days 0 and 7)
    val days = Seq(0L, 1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L, 14L)
    val vals = Seq(10.0, 12.0, 9.0, 11.0, 13.0, 8.0, 10.5, 12.5, 9.5, 11.5)
    val ev = days.zip(vals).map { case (d, v) =>
      ("k", java.sql.Timestamp.valueOf(
        java.time.LocalDate.ofEpochDay(d).atStartOfDay()), v) }
      .toDF("event_type", "ts", "value")
    val out = Temporal.holtWinters(ev, "event_type", "ts", "value")
      .orderBy("day_idx").collect()
    // reference fold in plain Scala doubles, same operation order
    var l = 0.0; var b = 0.0; val s = Array.fill(7)(0.0); var first = true
    val exp = days.zip(vals).map { case (d, v) =>
      val i = (d % 7).toInt
      val prevS = s(i)
      val nl = if (first) v else 0.4 * (v - prevS) + 0.6 * (l + b)
      val nb = if (first) 0.0 else 0.2 * (nl - l) + 0.8 * b
      val se = 0.3 * (v - nl) + 0.7 * prevS
      val fc = nl + nb + s(((d + 1) % 7).toInt)
      l = nl; b = nb; s(i) = se; first = false
      (d, v, nl, nb, se, fc)
    }
    assert(out.length == exp.length)
    out.zip(exp).foreach { case (row, (d, v, nl, nb, se, fc)) =>
      assert(row.getAs[Long]("day_idx") == d)
      assert(row.getAs[Double]("v") == v)
      assert(row.getAs[Double]("level") == nl, s"level at day $d")
      assert(row.getAs[Double]("trend") == nb, s"trend at day $d")
      assert(row.getAs[Double]("season") == se, s"season at day $d")
      assert(row.getAs[Double]("forecast_next") == fc, s"fc at day $d")
    }
    // days 0, 7 and 14 share seasonal slot 0 despite the gap at day 6:
    // day 14's update must chain off day 7's seasonal, not day 9's
    val slot0 = exp.filter(e => e._1 % 7 == 0).map(_._5)
    assert(slot0.length == 3)
  }

  test("c4SpanDedup: keep-first by corpus order, intra-doc dups, NULL when nothing survives") {
    val docs = Seq(
      (1L, "a b c d e f g h"),          // both tiles unique-first
      (2L, "a b c d x"),                // first tile duplicates doc 1's
      (3L, "a b c d"),                  // its ONLY tile is a dup -> NULL
      (4L, "p q r s p q r s"))          // intra-doc dup: second tile goes
      .toDF("doc_id", "text")
    val r = graft.operators.TextDedup
      .c4SpanDedup(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tiles"), x.getAs[Long]("kept_tiles"),
          x.getAs[String]("clean_text")))).toMap
    assert(r(1L) == ((2L, 2L, "a b c d e f g h")))
    assert(r(2L) == ((2L, 1L, "x")))      // short last tile survives alone
    assert(r(3L) == ((1L, 0L, null)))
    assert(r(4L) == ((2L, 1L, "p q r s")))
  }

  test("logisticTeacherGate: exact step-1 closed form and learning on a separable corpus") {
    // with w0 = 0 every sigmoid is exactly 500000 micros, so step 1 has
    // the closed form w_j = -halfUp(lrNum * 5e5 * sum((1-2y) x_j), lrDen n)
    // doc 1: 10x'scan' -> nt=10 sc=10 dt=1, y=1 (20+1200 > 482)
    //        x = (1, -6, 10, 0, -6)
    // doc 2: "the the" -> nt=2 sc=0 dt=1, y=0; x = (1, -7, 0, 0, -6)
    val two = Seq((1L, Seq.fill(10)("scan").mkString(" ")), (2L, "the the"))
      .toDF("doc_id", "text")
    val t = graft.operators.MlOps.logisticTeacherGate(two, "text")
      .collect().sortBy(_.getAs[Long]("step"))
    assert(t.length == 6)
    val s1 = t.head
    assert(s1.getAs[Double]("w_bias") == 0.0)
    assert(s1.getAs[Double]("w_tokens") == 0.375)   // -halfUp(3*-5e5, 4)/1e6
    assert(s1.getAs[Double]("w_scan") == 3.75)      // -halfUp(3*-5e6, 4)/1e6
    assert(s1.getAs[Double]("w_join") == 0.0)
    assert(s1.getAs[Double]("w_distinct") == 0.0)
    // the step-1 weights already separate the two docs
    assert(s1.getAs[Long]("n_pred_pos") == 1L)
    assert(s1.getAs[Long]("n_correct") == 2L)
    // a separable 30-doc corpus: the trainer must LEARN (accuracy climbs
    // to perfect) and stay deterministic across runs
    val corpus = ((0 until 15).map(i =>
      (i.toLong, Seq.fill(8)("scan").mkString(" "))) ++
      (15 until 30).map(i => (i.toLong, "a b"))).toDF("doc_id", "text")
    val runs = Seq.fill(2)(
      graft.operators.MlOps.logisticTeacherGate(corpus, "text")
        .collect().sortBy(_.getAs[Long]("step")))
    assert(runs(0).map(_.toString).sameElements(runs(1).map(_.toString)))
    val acc = runs.head.map(_.getAs[Long]("n_correct"))
    assert(acc.last == 30L, s"final accuracy ${acc.last}/30")
    assert(acc.last >= acc.head)
  }

  test("logisticCalibration: bin identities and near-zero ECE/Brier on a separable corpus") {
    val corpus = ((0 until 15).map(i =>
      (i.toLong, Seq.fill(8)("scan").mkString(" "))) ++
      (15 until 30).map(i => (i.toLong, "a b"))).toDF("doc_id", "text")
    val rows = graft.operators.MlOps.logisticCalibration(corpus, "text")
      .collect()
    assert(rows.map(_.getAs[Long]("n")).sum == 30L)
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val mp = r.getAs[Double]("mean_pred")
      // a bin's mean prediction must live inside the bin (bin 9 also
      // holds the clamped 1.0 edge)
      assert(mp >= bin / 10.0 && mp <= (bin + 1) / 10.0,
        s"bin $bin mean_pred $mp")
      assert(r.getAs[Double]("obs_rate") >= 0.0 &&
        r.getAs[Double]("obs_rate") <= 1.0)
    }
    // the trained model is confidently correct on both classes (q330's
    // spec pins perfect accuracy), so the reliability gap and Brier score
    // collapse to the LUT clipping floor (sigma(+-8) ~ 3.4e-4)
    val ece = rows.head.getAs[Double]("ece")
    val brier = rows.head.getAs[Double]("brier")
    assert(ece >= 0.0 && ece < 0.001, s"ece $ece")
    assert(brier >= 0.0 && brier < 0.001, s"brier $brier")
    // ece/brier are corpus-level constants, identical on every row
    assert(rows.forall(r => r.getAs[Double]("ece") == ece))
  }

  test("shapleyAttribution: exact two-channel hand values; direct and non-converters excluded") {
    // u1 click->buy, u2 view->buy, u3 click,view->buy, u4 click only
    // (never converts), u5 direct buy (no touch -> no channel evidence),
    // u6 buys FIRST then clicks (post-conversion touch must not count)
    val ev = Seq(
      (1L, 1L, 10L, "click"), (2L, 1L, 20L, "buy"),
      (3L, 2L, 10L, "view"), (4L, 2L, 20L, "buy"),
      (5L, 3L, 10L, "click"), (6L, 3L, 20L, "view"), (7L, 3L, 30L, "buy"),
      (8L, 4L, 10L, "click"),
      (9L, 5L, 10L, "buy"),
      (10L, 6L, 10L, "buy"), (11L, 6L, 20L, "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val r = graft.operators.Temporal.shapleyAttribution(
      ev, "user_id", "ts", "event_type", "event_id", convType = "buy")
      .collect().sortBy(_.getAs[String]("channel"))
    // v({c})=1, v({v})=1, v({c,v})=3:
    // phi_c num = 0!1!*(1-0) + 1!0!*(3-1) = 3 -> phi 1.5, share 0.5
    assert(r.map(_.getAs[String]("channel")).toSeq == Seq("click", "view"))
    r.foreach { row =>
      assert(row.getAs[Long]("touched") == 2L)
      assert(row.getAs[Long]("phi_num") == 3L)
      assert(row.getAs[Double]("phi") == 1.5)
      assert(row.getAs[Double]("share") == 0.5)
    }
  }

  test("bpeTrain: classic low/lower merges and left-to-right non-overlapping replacement") {
    val docs = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val r = TextPrep.bpeMergeLoopFrom(seed(docs), merges = 3)._1
      .collect().sortBy(_.getAs[Long]("round"))
    // round 1: 'l o' (3) beats 'o w' (3) on the pair-ASC tie-break
    assert(r(0).getAs[String]("pair") == "l o" &&
      r(0).getAs[Long]("pair_count") == 3L &&
      r(0).getAs[String]("merged") == "lo")
    assert(r(0).getAs[Long]("vocab_size") == 5L) // lo w </w> e r
    assert(r(1).getAs[String]("pair") == "lo w" &&
      r(1).getAs[Long]("pair_count") == 3L)
    assert(r(2).getAs[String]("pair") == "low </w>" &&
      r(2).getAs[Long]("pair_count") == 2L)
    // overlap semantics: 'aaa' = 'a a a </w>'; merging 'a a' goes
    // left-to-right non-overlapping -> 'aa a </w>' (never 'a aa </w>'),
    // so round 2's argmax over the survivors is 'a </w>' and round 3
    // stitches the whole word
    val t = TextPrep
      .bpeMergeLoopFrom(seed(Seq((1L, "aaa")).toDF("doc_id", "text")),
        merges = 3)._1
      .collect().sortBy(_.getAs[Long]("round"))
    assert(t(0).getAs[String]("pair") == "a a" &&
      t(0).getAs[Long]("pair_count") == 2L)
    assert(t(1).getAs[String]("pair") == "a </w>")
    assert(t(2).getAs[String]("pair") == "aa a</w>")
  }

  test("bpeTrain: empty corpus yields an empty, correctly-schema'd merge table") {
    val docs = Seq((1L, ""), (2L, " ")).toDF("doc_id", "text")
    val r = TextPrep.bpeMergeLoopFrom(seed(docs), merges = 3)._1
    assert(r.columns.toSeq ==
      Seq("round", "pair", "merged", "pair_count", "vocab_size"))
    assert(r.count() == 0L)
    // and a truly empty frame too (zero input rows)
    val e = TextPrep.bpeMergeLoopFrom(seed(docs.where(lit(false))),
      merges = 2)._1
    assert(e.count() == 0L)
  }

  test("upliftQini: hand-computed curve on a constructed-uplift experiment") {
    // per score 1..20: one treated, one control; treated convert iff
    // score >= 11, control never. 10 bins of 4 units each.
    val units = (1 to 20).flatMap(s =>
      Seq((s.toLong, true, s >= 11), (s.toLong, false, false)))
      .toDF("score", "t", "y")
    val r = graft.operators.ModelEval
      .upliftQini(units, "score", col("t"), col("y"))
      .collect().sortBy(_.getAs[Long]("bin"))
    assert(r.map(_.getAs[Long]("bin")).toSeq == (1L to 10L))
    assert(r.map(_.getAs[Long]("cum_conv_t")).toSeq ==
      Seq(2L, 4L, 6L, 8L, 10L, 10L, 10L, 10L, 10L, 10L))
    assert(r.map(_.getAs[Long]("cum_conv_c")).toSeq == Seq.fill(10)(0L))
    assert(r.head.getAs[Double]("uplift_cum") == 1.0)
    assert(r.last.getAs[Double]("uplift_cum") == 0.5)
    assert(r.map(_.getAs[Double]("qini_y")).toSeq ==
      Seq(2.0, 4.0, 6.0, 8.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0))
    // diagonal hits 1..10 -> gaps 1,2,3,4,5,4,3,2,1,0 -> mean 2.5
    assert(r.head.getAs[Double]("qini_coef") == 2.5)
  }

  test("isotonicOnScores: classic PAV pooling and monotone output on the real fit") {
    // rates by score 1..4: 0.2, 0.6, 0.4, 0.8 (5 obs each) — PAV pools
    // the 0.6/0.4 violation into 0.5
    val pairs = Seq(1 -> 1, 2 -> 3, 3 -> 2, 4 -> 4).flatMap {
      case (s, pos) => (0 until 5).map(i =>
        (s.toLong, if (i < pos) 1L else 0L)) }
    val r = graft.operators.MlOps
      .isotonicOnScores(pairs.toDF("__sig", "y"))
      .collect().sortBy(_.getAs[Long]("sig_micro"))
    assert(r.map(_.getAs[Long]("sig_micro")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(r.map(_.getAs[Double]("iso")).toSeq == Seq(0.2, 0.5, 0.5, 0.8))
    // on the real trained fit: monotone, probability-bounded
    val corpus = ((0 until 15).map(i =>
      (i.toLong, Seq.fill(8)("scan").mkString(" "))) ++
      (15 until 30).map(i => (i.toLong, "a b"))).toDF("doc_id", "text")
    val fit = graft.operators.MlOps.isotonicCalibration(corpus, "text")
      .collect().sortBy(_.getAs[Long]("sig_micro"))
    val isos = fit.map(_.getAs[Double]("iso"))
    assert(isos.zip(isos.tail).forall { case (a, b) => a <= b })
    assert(isos.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("bpeEncode: the train->apply round trip compresses by the learned merges") {
    // after 3 merges on "low low lower": 'low' -> one symbol 'low</w>',
    // 'lower' -> 'low e r </w>' (4 symbols)
    val docs = Seq((7L, "low low lower")).toDF("doc_id", "text")
    val r = TextPrep.encodeFromDict(docs, "doc_id", "text",
      TextPrep.bpeMergeLoopFrom(seed(docs), merges = 3)._2).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("doc_id") == 7L)
    assert(row.getAs[Long]("n_words") == 3L)
    assert(row.getAs[Long]("n_syms_init") == 14L) // 4 + 4 + 6
    assert(row.getAs[Long]("n_syms") == 6L)       // 1 + 1 + 4
    assert(row.getAs[Double]("compression") == 14.0 / 6.0)
  }

  test("bpeEncode: a selected pair never merges across symbol boundaries") {
    // round 4 selects pair 'b d</w>' (count 2, the two 'bd' words); the
    // word 'abd' is 'ab d</w>' at that point and contains the pair as a
    // SUBSTRING ('b' is the suffix of symbol 'ab') but not as adjacent
    // symbols — the rewrite must leave it at 2 symbols
    val docs = Seq((1L, "bd bd abd ab ab ab")).toDF("doc_id", "text")
    val r = TextPrep.encodeFromDict(docs, "doc_id", "text",
      TextPrep.bpeMergeLoopFrom(seed(docs), merges = 4)._2).collect().head
    assert(r.getAs[Long]("n_words") == 6L)
    assert(r.getAs[Long]("n_syms_init") == 19L)
    // bd -> 'bd</w>' (1) x2, ab -> 'ab</w>' (1) x3, abd -> 'ab d</w>' (2)
    assert(r.getAs[Long]("n_syms") == 7L,
      s"boundary-crossing merge detected: ${r}")
  }

  test("bpeEncode: training stops early when the corpus is fully merged") {
    // 'aaa' is one symbol after 3 merges; round 4 has no pairs and must
    // STOP, not empty the word table (which returned zero rows)
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val r = TextPrep.encodeFromDict(docs, "doc_id", "text",
      TextPrep.bpeMergeLoopFrom(seed(docs), merges = 4)._2).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_syms") == 1L)
    assert(r.head.getAs[Double]("compression") == 4.0)
  }

  test("kcenterCoreset: replays the greedy farthest-first by hand in 1-D") {
    // micro-units: 0 / 1e5 / 4e5 / 1e6. Seed = min id (0). Round 2 picks
    // id 3 (dist 1e12); round 3 picks id 2 (min(1.6e11, 3.6e11)); the
    // unpicked id 1 keeps dmin (1e5)^2 = 1e10 = the final radius.
    val emb = Seq(
      (0L, Array(0.0f)), (1L, Array(0.1f)), (2L, Array(0.4f)),
      (3L, Array(1.0f))).toDF("vec_id", "embedding")
    val r = graft.operators.Similarity
      .kcenterCoreset(emb, "vec_id", "embedding", k = 3)
      .orderBy("rnk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toList == List(
      (1L, 0L, 0L, 10000000000L),
      (2L, 3L, 1000000000000L, 10000000000L),
      (3L, 2L, 160000000000L, 10000000000L)))
  }

  test("kcenterCoreset: equidistant argmax ties break to the smaller id; exhausted set => radius 0") {
    val emb = Seq((0L, Array(0.0f)), (1L, Array(0.2f)), (2L, Array(-0.2f)))
      .toDF("vec_id", "embedding")
    val r = graft.operators.Similarity
      .kcenterCoreset(emb, "vec_id", "embedding", k = 2)
      .orderBy("rnk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toList == List(
      (1L, 0L, 0L, 40000000000L), (2L, 1L, 40000000000L, 40000000000L)))
    // picking everything drives the coverage radius to zero
    val all = graft.operators.Similarity
      .kcenterCoreset(emb, "vec_id", "embedding", k = 3)
      .orderBy("rnk").collect()
    assert(all.length == 3 && all.forall(_.getLong(3) == 0L))
    // k beyond the point count stops early instead of failing on the
    // empty argmax (3 points, k = 8 -> 3 picks)
    val over = graft.operators.Similarity
      .kcenterCoreset(emb, "vec_id", "embedding", k = 8)
      .orderBy("rnk").collect()
    assert(over.length == 3 && over.forall(_.getLong(3) == 0L))
  }

  test("kcenterCoreset: partition-invariant; selection distances are non-increasing") {
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(4)(j =>
        (((i * 37 + j * 11) % 97) / 97.0f) - 0.5f))).toDF("vec_id", "embedding")
    def run(parts: Int) = graft.operators.Similarity
      .kcenterCoreset(emb.repartition(parts), "vec_id", "embedding", k = 6)
      .orderBy("rnk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toList
    val a = run(1); val b = run(13)
    assert(a == b, "greedy selection must not depend on partitioning")
    assert(a.map(_._2).distinct.size == 6, "centers are distinct points")
    val dists = a.tail.map(_._3)
    assert(dists.zip(dists.tail).forall { case (x, y) => x >= y },
      s"max-min coverage shrinks monotonically: $dists")
    assert(a.head._4 <= dists.last, "final radius <= last selection distance")
  }

  test("wordpieceTrain: likelihood-ratio argmax diverges from BPE; score tie breaks to pair_count then pair") {
    import spark.implicits._
    // words ab x4, cd x2, a x6, b x6. Round-1 pairs/counts: (a,b)=4,
    // (b,</w>)=4+6=10, (c,d)=2, (d,</w>)=2, (a,</w>)=6; symbol counts
    // a=10, b=10, c=2, d=2, </w>=18. BPE would merge (b,</w>) (count 10);
    // WordPiece scores 2/(2*2)=0.5 for (c,d) — rare but perfectly
    // collocated — and merges IT first, the defining family difference.
    // Round 2: (b,</w>) 10/180 EXACTLY EQUALS (cd,</w>) 2/36 in IEEE
    // (both round 1/18) — the score tie falls to pair_count 10 > 2.
    // Round 3: (cd,</w>) 2/(2*16)... counts then are a=10, b</w>=10,
    // cd=2, </w>=8: (a,b</w>)=4/100, (cd,</w>)=2/16=0.125 wins, (a,</w>)
    // =6/80.
    val text = (Seq.fill(4)("ab") ++ Seq.fill(2)("cd") ++
      Seq.fill(6)("a") ++ Seq.fill(6)("b")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextPrep.wordpieceMergeLoopFrom(seed(docs), merges = 3)._1
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2),
        x.getLong(3), x.getDouble(4), x.getLong(5))).sortBy(_._1).toList
    assert(r == List(
      (1L, "c d", "cd", 2L, 0.5, 4L),
      (2L, "b </w>", "b</w>", 10L, 10.0 / 180.0, 4L),
      (3L, "cd </w>", "cd</w>", 2L, 0.125, 4L)))
    // the BPE trainer on the same corpus picks the raw-count argmax
    val bpe1 = TextPrep.bpeMergeLoopFrom(seed(docs), merges = 1)._1
      .collect().head
    assert(bpe1.getString(1) == "b </w>" && bpe1.getLong(3) == 10L)
  }

  test("wordpieceEncode: the train->apply round trip under the trained dictionary") {
    import spark.implicits._
    // After the 3 merges above: ab -> "a b</w>" (2 syms), cd -> "cd</w>"
    // (1), a -> "a </w>" (2), b -> "b</w>" (1). n_words 18, init syms
    // 4*3 + 2*3 + 6*2 + 6*2 = 42, encoded 4*2+2*1+6*2+6*1 = 28 -> 1.5.
    val text = (Seq.fill(4)("ab") ++ Seq.fill(2)("cd") ++
      Seq.fill(6)("a") ++ Seq.fill(6)("b")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val e = TextPrep.encodeFromDict(docs, "doc_id", "text",
        TextPrep.wordpieceMergeLoopFrom(seed(docs), merges = 3)._2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getDouble(4))).toList
    assert(e == List((1L, 18L, 42L, 28L, 1.5)))
  }

  test("paragraphMinhashPairs: boilerplate-only raw pairs vanish, content twins survive; rebuild is idempotent on tile-aligned docs") {
    import spark.implicits._
    // docs 1-3: 18 shared boilerplate tokens (6 aligned 3-token lines,
    // df = 3 >= minDocs) + 6 unique tokens each. Raw shingles overlap
    // heavily (boilerplate chrome), so RAW MinHash pairs them; after the
    // line strip their clean texts share nothing. docs 4-5: identical
    // 12-token content, only 2 copies (< minDocs) — their lines survive
    // and the CLEAN pair keeps jaccard 1.0.
    val boiler = (1 to 18).map(i => s"nav$i").mkString(" ")
    def uniq(d: Int) = (1 to 6).map(i => s"u${d}x$i").mkString(" ")
    val twin = (1 to 12).map(i => s"story$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler ${uniq(1)}"), (2L, s"$boiler ${uniq(2)}"),
      (3L, s"$boiler ${uniq(3)}"), (4L, twin), (5L, twin))
      .toDF("doc_id", "text")
    val raw = graft.operators.TextDedup.minhashNearDupPairs(
        docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.operators.CacheScope.drain()
    assert(raw.contains((1L, 2L)) && raw.contains((4L, 5L)),
      s"raw chrome-dominated docs must pair: $raw")
    val clean = graft.operators.TextDedup.paragraphMinhashPairs(
        docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.operators.CacheScope.drain()
    assert(clean == Set((4L, 5L, 1.0)),
      s"clean pairs must keep only the content twin: $clean")
    // idempotence: every kept line here is an aligned 3-token tile, so
    // re-tiling the rebuilt text reproduces the surviving lines exactly
    // and a second pass strips nothing further
    val r1 = graft.operators.TextDedup.cleanTextRebuild(docs, "doc_id", "text")
    val r2 = graft.operators.TextDedup.cleanTextRebuild(
      r1.withColumnRenamed("clean_text", "text"), "doc_id", "text")
    val m1 = r1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m2 = r2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.operators.CacheScope.drain()
    assert(m1 == m2, "second rebuild pass must be a no-op")
    assert(m1(1L) == uniq(1) && m1(4L) == twin)
  }

  test("decontaminateSpans: eval tiles removed from train docs, eval docs excluded, clean docs untouched") {
    import spark.implicits._
    // eval doc 100 holds the benchmark text "q1 q2 q3 q4 q5 q6 q7 q8"
    // (two aligned 4-token tiles). Train doc 1 embeds its first tile at
    // an ALIGNED position; doc 2 embeds it UNALIGNED (tiles differ, so
    // span granularity correctly leaves it — the documented tile
    // contract); doc 3 is clean.
    val bench = "q1 q2 q3 q4 q5 q6 q7 q8"
    val docs = Seq(
      (100L, bench),
      (1L, s"a1 a2 a3 a4 q1 q2 q3 q4 b1 b2 b3 b4"),
      (2L, s"c1 q1 q2 q3 q4 c2 c3 c4 c5 c6 c7 c8"),
      (3L, "d1 d2 d3 d4 d5 d6 d7 d8"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextDedup.decontaminateSpans(
        docs, "doc_id", "text", col("doc_id") === 100L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    graft.operators.CacheScope.drain()
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.keySet == Set(1L, 2L, 3L), "eval docs must not appear")
    assert(out(1L) == ((3L, 1L, 8L, m("a1 a2 a3 a4 b1 b2 b3 b4"))),
      s"aligned benchmark tile must drop: ${out(1L)}")
    assert(out(2L) == ((3L, 0L, 12L,
      m("c1 q1 q2 q3 q4 c2 c3 c4 c5 c6 c7 c8"))),
      "unaligned overlap stays — the tile-granularity contract")
    assert(out(3L) == ((2L, 0L, 8L, m("d1 d2 d3 d4 d5 d6 d7 d8"))))
    // fully-contaminated doc -> md5("") row, never a vanished doc
    val all = graft.operators.TextDedup.decontaminateSpans(
        Seq((100L, bench), (4L, bench)).toDF("doc_id", "text"),
        "doc_id", "text", col("doc_id") === 100L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4))).toList
    graft.operators.CacheScope.drain()
    assert(all == List((4L, 2L, m(""))))
  }

  test("prototypicalityBand: quartile bands and exact means on one symmetric cluster") {
    import spark.implicits._
    // 8 unit-ish vectors at ±10/±30/±60/±80 degrees, nlist=1: the ±
    // pairs make every quantized-mean y-component cancel EXACTLY (BIGINT
    // micro-rounds of ±y sum to 0), so the trained centroid lies on the
    // x-axis and cos-to-centroid ordering is the angle ordering. Grid of
    // 4 distinct cos values x2 each, n=8: cut1 (cum*4>=8) = cos80 ->
    // outlier_drop = the ±80 pair; cut2 (cum*4>=24) = cos30 -> kept =
    // ±60/±30; proto_drop = ±10 (closest to the centroid).
    val thetas = Seq(10.0, -10.0, 30.0, -30.0, 60.0, -60.0, 80.0, -80.0)
    val vecs = thetas.zipWithIndex.map { case (t, i) =>
      (i.toLong, Array(math.cos(math.toRadians(t)).toFloat,
        math.sin(math.toRadians(t)).toFloat))
    }
    val (assign, cents) = graft.operators.Similarity.semAssignmentFrames(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      nlist = 1, lloydIters = 2)
    val out = graft.operators.Similarity.prototypicalityBandFrom(
        assign, cents, "vec_id")
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    graft.operators.CacheScope.drain()
    assert(out.keySet == Set("outlier_drop", "kept", "proto_drop"))
    assert(out("outlier_drop")._1 == 2L && out("kept")._1 == 4L &&
      out("proto_drop")._1 == 2L)
    // exact replay of the quantized-mean centroid + cos arithmetic
    val xs = vecs.map(_._2(0).toDouble)
    val ys = vecs.map(_._2(1).toDouble)
    assert(ys.map(y => math.round(y * 1e7)).sum == 0L, "± pairs must cancel")
    val cx = xs.map(x => math.round(x * 1e7)).sum.toDouble / 8.0 / 1e7
    def cmu(i: Int): Long = {
      val nrm = math.sqrt(xs(i) * xs(i) + ys(i) * ys(i))
      val cnrm = math.sqrt(cx * cx + 0.0 * 0.0)
      math.round(1e6 * (xs(i) * cx + ys(i) * 0.0) / (nrm * cnrm))
    }
    def mean6(is: Seq[Int]) =
      BigDecimal(is.map(cmu).sum.toDouble / 1e6 / is.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out("outlier_drop")._2 - mean6(Seq(6, 7))) < 2e-6)
    assert(math.abs(out("kept")._2 - mean6(Seq(2, 3, 4, 5))) < 2e-6)
    assert(math.abs(out("proto_drop")._2 - mean6(Seq(0, 1))) < 2e-6)
  }

  test("intraDocLineDedup: within-doc repeats drop keep-first; invisible to the cross-doc rule") {
    import spark.implicits._
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 repeats its first line at tile position 2; doc 2 is clean
    val docs = Seq((1L, "x y z a b c x y z"), (2L, "d e f g h i"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextDedup.intraDocLineDedup(
        docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    graft.operators.CacheScope.drain()
    assert(out(1L) == ((3L, 1L, 6L, m("x y z a b c"))))
    assert(out(2L) == ((2L, 0L, 6L, m("d e f g h i"))))
    // the cross-doc rule does NOT touch it: "x y z" has df = 1 < minDocs
    val cross = graft.operators.TextDedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.operators.CacheScope.drain()
    assert(cross(1L) == 0L, "within-doc repeat must be invisible cross-doc")
  }

  test("heldoutKnXent: full backoff ladder replayed over the real md5 carve") {
    import spark.implicits._
    // 64 docs, two sources; every 7th doc carries an unseen-bigram /
    // unseen-history shape so held-out scoring exercises all three
    // ladder paths whichever docs the carve holds out.
    val docs = (0L until 64L).map { i =>
      val src = if (i % 2 == 0) "s1" else "s2"
      val text =
        if (i % 7 == 0) s"a b u$i"
        else if (i % 7 == 1) s"z$i q a"
        else s"a b c a t${i % 3}"
      (i, src, text)
    }
    val df = docs.toDF("doc_id", "source", "text")
    val hoM = df.select(col("doc_id"),
        (graft.operators.Sketches.hash60(concat_ws("#", lit("ho"),
          col("doc_id").cast("string"))) < lit(144115188075855872L)).as("ho"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(hoM.values.exists(identity) && hoM.values.exists(!_),
      "the 1/8 carve must split this fixture")
    // pure-Scala model + ladder replay (train side only)
    def bigrams(t: String) = {
      val w = t.split(" "); w.dropRight(1).zip(w.drop(1)).toSeq
    }
    val train = docs.filter(d => !hoM(d._1))
    val test = docs.filter(d => hoM(d._1))
    val big = train.flatMap(d => bigrams(d._3))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = big.toSeq.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2).sum }
    val n1p = big.toSeq.groupBy(_._1._1).map { case (k, v) => k -> v.size.toLong }
    val nc = big.toSeq.groupBy(_._1._2).map { case (k, v) => k -> v.size.toLong }
    val tT = big.size.toLong
    val vV = train.flatMap(_._3.split(" ")).distinct.size.toLong
    def lp(w1: String, w2: String): Long = {
      val p =
        if (!c1.contains(w1))
          (nc.getOrElse(w2, 0L) + 1).toDouble / (tT + vV).toDouble
        else
          (math.max(4L * big.getOrElse((w1, w2), 0L) - 3L, 0L) * (tT + vV)
            + 3L * n1p(w1) * (nc.getOrElse(w2, 0L) + 1L)).toDouble /
            (4L * c1(w1) * (tT + vV)).toDouble
      math.round(math.log(p) * 1e6)
    }
    val expected = test.groupBy(_._2).map { case (src, ds) =>
      val rows = ds.flatMap(d => bigrams(d._3).groupBy(identity)
        .map { case (k, v) => (k, v.size.toLong) })
      val mu = rows.map { case (k, o) => o * lp(k._1, k._2) }.sum
      val mm = rows.map(_._2).sum
      src -> ((ds.size.toLong, mm,
        ((2L * -mu + mm) / (2L * mm)).toDouble / 1e6))
    }
    val out = graft.operators.TextLm.heldoutKnXentFrom(
        graft.operators.TextLm.docBigrams(df, "doc_id", "text"), df,
        "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.operators.CacheScope.drain()
    assert(out == expected, s"engine $out vs replay $expected")
  }
}
