package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graphs, Relational, Scale, Stats}

class StatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  // ---- Cohen's kappa ----

  test("cohenKappa: hand-computed 2x2 (po=0.8, pe=0.5 -> kappa=0.6)") {
    val df = (Seq.fill(4)((true, true)) ++ Seq((true, false)) ++
      Seq((false, true)) ++ Seq.fill(4)((false, false))).toDF("a", "b")
    val r = Stats.cohenKappa(df, col("a"), col("b")).collect().head
    assert(r.getAs[Long]("n_yy") == 4 && r.getAs[Long]("n_nn") == 4)
    assert(math.abs(r.getAs[Double]("po") - 0.8) < 1e-12)
    assert(math.abs(r.getAs[Double]("pe") - 0.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("kappa") - 0.6) < 1e-12)
  }

  test("cohenKappa: both raters constant -> pe=1, kappa NULL (not perfect)") {
    val df = Seq.fill(5)((true, true)).toDF("a", "b")
    val r = Stats.cohenKappa(df, col("a"), col("b")).collect().head
    assert(r.getAs[Double]("pe") == 1.0)
    assert(r.isNullAt(r.fieldIndex("kappa")))
  }

  // ---- Welch's t-test ----

  test("welchTTest: hand-computed two-sample case") {
    // A = [1,2,3]: mean 2, var 1. B = [2,4,6,8]: mean 5, var 20/3.
    // se2a = 1/3, se2b = 5/3 -> t = -3/sqrt(2), df = 4 / (1/18 + 25/27)
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0).map(("b", _))).toDF("g", "v")
    val r = Stats.welchTTest(df, "g", "v", "a", "b").collect().head
    assert(r.getAs[Long]("n_a") == 3 && r.getAs[Long]("n_b") == 4)
    assert(math.abs(r.getAs[Double]("mean_a") - 2.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("var_a") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("var_b") - 20.0 / 3) < 1e-12)
    assert(math.abs(r.getAs[Double]("t_stat") - (-3.0 / math.sqrt(2.0))) < 1e-12)
    val df_expect = 4.0 / (1.0 / 18 + (25.0 / 9) / 3)
    assert(math.abs(r.getAs[Double]("welch_df") - df_expect) < 1e-9)
  }

  test("welchTTest: components match built-in avg/var_samp on real events") {
    val events = Graft.table(spark, sf, "events")
    val r = Stats.welchTTest(events, "event_type", "value", "click", "view")
      .collect().head
    val b = events.where(col("event_type") === "click")
      .agg(avg(col("value")), var_samp(col("value")), count(lit(1))).collect().head
    assert(r.getAs[Long]("n_a") == b.getLong(2))
    assert(math.abs(r.getAs[Double]("mean_a") - b.getDouble(0)) < 1e-9)
    assert(math.abs(r.getAs[Double]("var_a") - b.getDouble(1)) < 1e-6)
  }

  // ---- jackknife ----

  test("jackknifeByGroup: loo means equal brute-force filtered means") {
    val docs = Graft.table(spark, sf, "documents")
    val jk = Stats.jackknifeByGroup(docs, "source", "n_chars")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("loo_mean")).toMap
    val sources = jk.keySet.take(3)
    for (src <- sources) {
      val direct = docs.where(col("source") =!= src)
        .agg((sum(col("n_chars").cast("decimal(12,2)")).cast("double") /
          count(lit(1))).as("m")).collect().head.getDouble(0)
      assert(math.abs(jk(src) - direct) < 1e-9, s"loo mean mismatch for $src")
    }
  }

  test("jackknifeByGroup: mean of pseudo-values equals the overall mean") {
    // Σ pv_i / g = g·θ − (g−1)·(Σ θ₋ᵢ / g); for the MEAN statistic over
    // BALANCED groups (the synthetic corpus carries 25 docs per source)
    // the pseudo-value average collapses back to θ exactly.
    val docs = Graft.table(spark, sf, "documents")
    val pv = Stats.jackknifeByGroup(docs, "source", "n_chars")
      .agg(avg(col("pseudo_value"))).collect().head.getDouble(0)
    val theta = docs.agg(sum(col("n_chars").cast("decimal(12,2)")).cast("double") /
      count(lit(1))).collect().head.getDouble(0)
    assert(math.abs(pv - theta) < 1e-6)
  }

  // ---- winsorized mean ----

  test("winsorizedMean: degenerate [0,1] bounds reproduce the exact mean") {
    val events = Graft.table(spark, sf, "events")
    val w = Stats.winsorizedMean(events, "event_type", "value", 0.0, 1.0)
    val direct = events.groupBy(col("event_type"))
      .agg(Relational.avgExact(col("value")).as("m"), count(lit(1)).as("n"))
    val joined = w.join(direct, "event_type").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("n_lo") == 0 && r.getAs[Long]("n_hi") == 0)
      assert(math.abs(r.getAs[Double]("winsorized_mean") - r.getAs[Double]("m")) < 1e-9)
    }
  }

  test("winsorizedMean: clamp counts match the out-of-bounds row counts") {
    val events = Graft.table(spark, sf, "events")
    val w = Stats.winsorizedMean(events, "event_type", "value", 0.1, 0.9).collect()
    w.foreach { r =>
      val et = r.getAs[String]("event_type")
      val lo = r.getAs[Double]("lo"); val hi = r.getAs[Double]("hi")
      val nLo = events.where(col("event_type") === et && col("value") < lo).count()
      val nHi = events.where(col("event_type") === et && col("value") > hi).count()
      assert(r.getAs[Long]("n_lo") == nLo && r.getAs[Long]("n_hi") == nHi)
      assert(lo <= hi)
      // robust mean lives inside the clamp interval
      val m = r.getAs[Double]("winsorized_mean")
      assert(m >= lo - 1e-9 && m <= hi + 1e-9)
    }
  }

  // ---- PageRank ----

  test("pageRank: symmetric 2-cycle holds both ranks at exactly 0.5") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("s", "t", "w")
    val r = Graphs.pageRank(edges, "s", "t", "w", iters = 5)
      .collect().map(x => x.getAs[String]("node") -> x.getAs[Long]("rank_mu")).toMap
    assert(r("a") == 500000000L && r("b") == 500000000L)
  }

  test("pageRank: sink outranks its dangling source, total mass decays") {
    val edges = Seq(("a", "b", 1L)).toDF("s", "t", "w")
    val out = Graphs.pageRank(edges, "s", "t", "w", iters = 8).collect()
    val m = out.map(x => x.getAs[String]("node") -> x.getAs[Long]("rank_mu")).toMap
    assert(m("b") > m("a"), "the pointed-at node must outrank the dangler")
    // a keeps only the teleport floor: (15*1e9) div (100*2) = 75e6
    assert(m("a") == 75000000L)
    assert(m.values.sum < 1000000000L, "dangling mass drains, never inflates")
  }

  // ---- ANOVA ----

  test("anovaF: hand-computed two-group case (F = 15)") {
    // a=[1,2,3] mean 2; b=[4,5,6,7] mean 5.5; grand mean 4.
    // SSB = 3*4 + 4*2.25 = 21; SSW = 2 + 5 = 7; F = 21 / (7/5) = 15.
    val df = (Seq(1L, 2L, 3L).map(("a", _)) ++ Seq(4L, 5L, 6L, 7L).map(("b", _)))
      .toDF("g", "v")
    val r = Stats.anovaF(df, "g", "v").collect().head
    assert(r.getAs[Long]("k") == 2 && r.getAs[Long]("n") == 7)
    assert(math.abs(r.getAs[Double]("ss_between") - 21.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ss_within") - 7.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("f_stat") - 15.0) < 1e-9)
  }

  test("anovaF: identical groups give F ~ 0") {
    val df = (Seq(1L, 2L, 3L).map(("a", _)) ++ Seq(1L, 2L, 3L).map(("b", _)))
      .toDF("g", "v")
    val r = Stats.anovaF(df, "g", "v").collect().head
    assert(math.abs(r.getAs[Double]("ss_between")) < 1e-9)
    assert(math.abs(r.getAs[Double]("f_stat")) < 1e-9)
  }

  // ---- weighted quantile ----

  test("weightedQuantile: p90 of unit weights; (1,2) reduces to the median") {
    val df = (1 to 10).map(v => ("g", v.toLong, 1L)).toDF("g", "v", "w")
    assert(Stats.weightedQuantile(df, "g", "v", "w", 9, 10)
      .collect().head.getAs[Long]("w_quantile") == 9L)
    val med = Stats.weightedMedian(df, "g", "v", "w")
      .collect().head.getAs[Long]("w_median")
    assert(Stats.weightedQuantile(df, "g", "v", "w", 1, 2)
      .collect().head.getAs[Long]("w_quantile") == med)
  }

  // ---- correlation matrix ----

  test("corrMatrix: perfect positive/negative pairs, one row per pair") {
    // y = 2x -> corr(x,y)=1; z = 10-x -> corr(x,z)=-1, corr(y,z)=-1
    val df = (1 to 8).map(i => (i.toDouble, 2.0 * i, 10.0 - i))
      .toDF("x", "y", "z")
    val m = Stats.corrMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m.size == 3)
    assert(math.abs(m(("x", "y")) - 1.0) < 1e-12)
    assert(math.abs(m(("x", "z")) + 1.0) < 1e-12)
    assert(math.abs(m(("y", "z")) + 1.0) < 1e-12)
  }

  // ---- tree traversal ----

  test("treeDepths: chain + branch depths; DAG node takes its minimum depth") {
    //      r
    //     / \
    //    a   b        a->c, b->c (DAG: c reachable at depth 2 via both)
    //    |   |
    //    c <-+        c->d
    val edges = Seq(("a", "r"), ("b", "r"), ("c", "a"), ("c", "b"), ("d", "c"))
      .toDF("child", "parent")
    val roots = Seq("r").toDF("n")
    val m = Graphs.treeDepths(edges, "child", "parent", roots, "n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("r" -> 0L, "a" -> 1L, "b" -> 1L, "c" -> 2L, "d" -> 3L),
      s"got $m")
  }

  test("treeDepths: maxIters guards a cycle; unreachable nodes stay absent") {
    val edges = Seq(("x", "y"), ("y", "x"), ("z", "w")).toDF("child", "parent")
    val roots = Seq("x").toDF("n")
    val m = Graphs.treeDepths(edges, "child", "parent", roots, "n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // x at 0; y child of x at 1; x rediscovered at 2 but keeps min depth 0;
    // z/w disconnected -> absent
    assert(m("x") == 0L && m("y") == 1L && !m.contains("z") && !m.contains("w"))
  }

  // ---- label propagation ----

  test("labelPropagation: two cliques with a weak bridge form two communities") {
    // triangle {a,b,c} (weight 5 edges) and {x,y,z} (weight 5), bridged by
    // one weight-1 edge c—x: after 3 rounds each triangle shares one label
    // and the bridge does not merge them.
    val edges = Seq(
      ("a", "b", 5L), ("b", "c", 5L), ("a", "c", 5L),
      ("x", "y", 5L), ("y", "z", 5L), ("x", "z", 5L),
      ("c", "x", 1L)).toDF("s", "t", "w")
    val m = Graphs.labelPropagation(edges, "s", "t", "w", iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("a") == m("b") && m("b") == m("c"))
    assert(m("x") == m("y") && m("y") == m("z"))
    assert(m("a") != m("x"), s"bridge must not merge the cliques: $m")
  }

  test("labelPropagation: ties adopt the smallest label; repartition-invariant") {
    // Round 1 only (synchronous LPA legitimately oscillates on near-
    // bipartite graphs — determinism, not convergence, is the contract):
    // m touches p and q with EQUAL weight -> tie breaks to the smaller
    // label p; p's heaviest neighbor label is m; q's is m.
    val edges = Seq(("p", "m", 3L), ("q", "m", 3L), ("p", "q", 1L))
      .toDF("s", "t", "w")
    val one = Graphs.labelPropagation(edges, "s", "t", "w", iters = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(one == Map("m" -> "p", "p" -> "m", "q" -> "m"), s"got $one")
    // even an oscillating trajectory is a pure function of the graph:
    // identical at any partitioning, iteration count held fixed
    val four = Graphs.labelPropagation(edges, "s", "t", "w", iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val re = Graphs.labelPropagation(edges.repartition(7), "s", "t", "w", iters = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(re == four, "repartitioning changed the communities")
  }

  test("tokenCommunities: labels partition the retained vocabulary") {
    val docs = Graft.table(spark, sf, "documents")
    val out = graft.operators.Graphs.tokenCommunities(
      docs, "text", topV = 50, iters = 2, minW = 2L).collect()
    val total = out.map(_.getAs[Long]("n_tokens")).sum
    assert(out.nonEmpty && total > 0, "expected a non-empty community census")
    assert(out.map(_.getAs[String]("community")).distinct.length == out.length)
  }

  test("pageRank: weight-proportional split (2:1 edge weights)") {
    // c feeds a and b 2:1; a and b both feed c. After convergence
    // rank(a) > rank(b) and contributions stay integer-exact.
    val edges = Seq(("c", "a", 2L), ("c", "b", 1L), ("a", "c", 1L), ("b", "c", 1L))
      .toDF("s", "t", "w")
    val m = Graphs.pageRank(edges, "s", "t", "w", iters = 12)
      .collect().map(x => x.getAs[String]("node") -> x.getAs[Long]("rank_mu")).toMap
    assert(m("a") > m("b"))
    assert(m("c") > m("a"), "c receives from both — highest rank")
  }

  test("tokenPageRank: invariant under repartition (exact BIGINT arithmetic)") {
    val docs = Graft.table(spark, sf, "documents").limit(60)
    val a = Graphs.tokenPageRank(docs, "text", iters = 4)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_mu")).toMap
    val b = Graphs.tokenPageRank(docs.repartition(13), "text", iters = 4)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_mu")).toMap
    assert(a == b, "partial-agg order must not move a single micro-unit")
  }

  // ---- epoch allocation ----

  test("epochAllocation: huge budget caps every source at maxEpochs") {
    val docs = Graft.table(spark, sf, "documents")
    val r = Scale.epochAllocation(docs, "source", "text",
      budget = 100000000L, maxEpochs = 4.0).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Boolean]("capped"))
      assert(math.abs(row.getAs[Double]("epochs") - 4.0) < 1e-9)
      assert(row.getAs[Long]("alloc_tokens") ==
        math.round(4.0 * row.getAs[Long]("n_tokens")))
    }
  }

  test("epochAllocation: scarce budget -> nobody capped, spend ~= budget") {
    val docs = Graft.table(spark, sf, "documents")
    val budget = 1000L
    val r = Scale.epochAllocation(docs, "source", "text", budget, maxEpochs = 4.0)
      .collect()
    assert(r.forall(!_.getAs[Boolean]("capped")))
    val spent = r.map(row => row.getAs[Double]("epochs") *
      row.getAs[Long]("n_tokens")).sum
    assert(math.abs(spent - budget) < 1.0, s"uncapped spend $spent != $budget")
    val ps = r.map(_.getAs[Double]("p_target")).sum
    assert(math.abs(ps - 1.0) < 1e-6, "temperature shares must sum to 1")
  }

  test("epochAllocation: mixed regime redistributes but never overspends") {
    // skewed fixture: one giant source, three tiny ones that cap out
    val docs = (Seq.tabulate(200)(i => (s"doc$i", "big")) ++
      Seq.tabulate(3)(i => (s"t$i", s"small$i")))
      .toDF("text0", "source")
      .withColumn("text", concat_ws(" ",
        (1 to 20).map(j => concat(col("text0"), lit(s"_$j"))): _*))
    val budget = 6000L
    val r = Scale.epochAllocation(docs, "source", "text", budget, maxEpochs = 2.0)
      .collect()
    val spent = r.map(row => row.getAs[Double]("epochs") *
      row.getAs[Long]("n_tokens")).sum
    assert(spent <= budget + 1.0, s"overspent: $spent > $budget")
    val smalls = r.filter(_.getAs[String]("source").startsWith("small"))
    assert(smalls.nonEmpty && smalls.forall(_.getAs[Boolean]("capped")),
      "tiny sources must hit the epoch cap")
    val big = r.find(_.getAs[String]("source") == "big").get
    assert(!big.getAs[Boolean]("capped"))
  }

  // ---- plan shapes ----

  test("q175 plan: keyed joins only — no cartesian/nested-loop anywhere") {
    val p = SparkEntry.queries("q175_sole_late_supplier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
  }

  test("q174 plan: disjunctive predicate keeps the partkey equi-join") {
    val p = SparkEntry.queries("q174_disjunctive_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  // ---- per-group OLS ----

  test("olsByGroup: exact line -> slope 2, intercept 0, r2 1; constant x -> NULLs") {
    val df = (Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).map { case (x, y) => ("line", x, y) } ++
      Seq(("flat", 5.0, 1.0), ("flat", 5.0, 2.0))).toDF("g", "x", "y")
    val rows = Stats.olsByGroup(df, "g", "x", "y").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    val line = rows("line")
    assert(line.getAs[Long]("n") == 3)
    assert(math.abs(line.getAs[Double]("slope") - 2.0) < 1e-12)
    assert(math.abs(line.getAs[Double]("intercept")) < 1e-12)
    assert(math.abs(line.getAs[Double]("r2") - 1.0) < 1e-12)
    val flat = rows("flat")
    assert(flat.isNullAt(flat.fieldIndex("slope")))
    assert(flat.isNullAt(flat.fieldIndex("r2")))
  }

  test("olsByGroup: hand-computed non-trivial slope") {
    // (0,1),(1,3),(2,2),(3,6): n=4 sx=6 sy=12 sxy=25 sxx=14
    // slope = (100-72)/(56-36) = 1.4; intercept = (12 - 1.4*6)/4 = 0.9
    val df = Seq((0.0, 1.0), (1.0, 3.0), (2.0, 2.0), (3.0, 6.0))
      .map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val r = Stats.olsByGroup(df, "g", "x", "y").collect().head
    assert(math.abs(r.getAs[Double]("slope") - 1.4) < 1e-12)
    assert(math.abs(r.getAs[Double]("intercept") - 0.9) < 1e-12)
  }

  // ---- Spearman (tie-aware) ----

  test("spearmanByGroup: monotone with ties -> rho 1; reversed -> rho -1") {
    val df = (Seq((1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (4.0, 40.0))
      .map { case (x, y) => ("up", x, y) } ++
      Seq((1.0, 3.0), (2.0, 2.0), (3.0, 1.0)).map { case (x, y) => ("down", x, y) })
      .toDF("g", "x", "y")
    val rows = Stats.spearmanByGroup(df, "g", "x", "y").collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Double]("rho")).toMap
    assert(math.abs(rows("up") - 1.0) < 1e-12)
    assert(math.abs(rows("down") + 1.0) < 1e-12)
  }

  test("spearmanByGroup: tie-free case matches the 1 - 6*sum(d^2)/(n(n^2-1)) shortcut") {
    // ranks x=[1,2,3,4], y=[1,3,2,4]: d^2 sums to 2 -> rho = 1 - 12/60 = 0.8
    val df = Seq((1.0, 1.0), (2.0, 3.0), (3.0, 2.0), (4.0, 4.0))
      .map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val r = Stats.spearmanByGroup(df, "g", "x", "y").collect().head
    assert(math.abs(r.getAs[Double]("rho") - 0.8) < 1e-12)
  }

  // ---- chi-square contingency screen ----

  test("contingencyScreen: 2x2 hand-computed cells") {
    // yy=4 yn=1 ny=1 nn=4: all marginals 5, n=10 -> expected 2.5 everywhere;
    // chi term (4-2.5)^2/2.5 = 0.9, (1-2.5)^2/2.5 = 0.9 -> chi2 = 3.6
    val df = (Seq.fill(4)(("a", "x")) ++ Seq(("a", "y")) ++
      Seq(("b", "x")) ++ Seq.fill(4)(("b", "y"))).toDF("r", "c")
    val cells = Stats.contingencyScreen(df, "r", "c").collect()
    assert(cells.length == 4)
    cells.foreach { row =>
      assert(math.abs(row.getAs[Double]("expected") - 2.5) < 1e-12)
      assert(math.abs(row.getAs[Double]("chi_term") - 0.9) < 1e-12)
    }
    val chi2 = cells.map(_.getAs[Double]("chi_term")).sum
    assert(math.abs(chi2 - 3.6) < 1e-12)
    val yy = cells.find(r => r.getAs[String]("r") == "a" && r.getAs[String]("c") == "x").get
    assert(yy.getAs[Long]("observed") == 4)
    assert(math.abs(yy.getAs[Double]("pearson_resid") - 1.5 / math.sqrt(2.5)) < 1e-12)
  }

  // ---- autocorrelation ----

  test("acfByKey: linear series -> acf 1 at every lag; constant series -> NULL") {
    val df = ((0 to 4).map(t => ("lin", t.toLong, (t + 1).toLong)) ++
      (0 to 4).map(t => ("const", t.toLong, 7L))).toDF("k", "t", "v")
    val rows = Stats.acfByKey(df, "k", "t", "v", maxLag = 2).collect()
    val lin = rows.filter(_.getAs[String]("k") == "lin")
      .map(r => r.getAs[Int]("lag") -> r).toMap
    assert(lin(1).getAs[Long]("n_pairs") == 4 && lin(2).getAs[Long]("n_pairs") == 3)
    assert(math.abs(lin(1).getAs[Double]("acf") - 1.0) < 1e-12)
    assert(math.abs(lin(2).getAs[Double]("acf") - 1.0) < 1e-12)
    val const = rows.filter(_.getAs[String]("k") == "const")
    assert(const.nonEmpty && const.forall(_.isNullAt(3)))
  }

  test("acfByKey: gaps in the period index drop pairs, not fabricate them") {
    // t = 0,1,3: lag-1 pairs only (0,1); lag-2 pairs only (1,3)
    val df = Seq(("k", 0L, 1L), ("k", 1L, 5L), ("k", 3L, 2L)).toDF("k", "t", "v")
    val rows = Stats.acfByKey(df, "k", "t", "v", maxLag = 2).collect()
      .map(r => r.getAs[Int]("lag") -> r.getAs[Long]("n_pairs")).toMap
    assert(rows(1) == 1L && rows(2) == 1L)
  }
}
