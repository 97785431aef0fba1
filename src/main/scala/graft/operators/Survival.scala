package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Temporal.dayIdx

/** Survival analysis over event logs — the churn/retention estimator a
  * product warehouse reports: how long do users stay active, with the
  * still-active treated honestly as CENSORED (they did not churn; we
  * merely stopped watching), which is exactly what a naive "average
  * lifetime" gets wrong.
  */
object Survival {

  /** Kaplan-Meier survival curve over per-user activity spans: duration =
    * last-seen − first-seen days; a user CHURNS at their last-seen day if
    * they were silent for the final `churnGapDays` of the observation
    * window, otherwise they are censored at the window's end. Output one
    * row per distinct duration: n_risk (users whose span reaches it),
    * n_events (churns at it), and S(t) = Π_{i≤t} (1 − dᵢ/nᵢ).
    *
    * Plan: one keyed aggregate to per-user (first, last) spans, then the
    * DURATION GRID (value-range bounded, the q158 discipline): risk sets
    * are suffix-cumulative counts over the grid and the product runs as
    * exp(Σ ln(1−d/n)) over the same grid — a sequential in-frame window
    * sum, deterministic at any partitioning; survival is 6dp-quantized
    * because exp/ln are libm (the q219 discipline). Censored users leave
    * risk sets without ever counting as events — the whole point. */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
                  churnGapDays: Int): DataFrame = {
    val spans = events.groupBy(col(userCol))
      .agg(min(dayIdx(col(tsCol))).as("__first"),
        max(dayIdx(col(tsCol))).as("__last"))
    val horizon = events.agg(max(dayIdx(col(tsCol))).as("__mx"))
    val perUser = spans.crossJoin(broadcast(horizon))
      .select((col("__last") - col("__first")).as("duration"),
        (col("__last") < col("__mx") - (churnGapDays - 1)).as("__churned"))
    val grid = perUser.groupBy(col("duration"))
      .agg(count(lit(1)).as("__ending"),
        sum(when(col("__churned"), 1L).otherwise(0L)).as("n_events"))
    // risk at duration t = users whose span lasted AT LEAST t: suffix sum
    val wRisk = Window.orderBy(col("duration").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wProd = Window.orderBy(col("duration").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.withColumn("n_risk", sum(col("__ending")).over(wRisk))
      .withColumn("survival",
        round(exp(sum(log(lit(1.0) -
          col("n_events").cast("double") / col("n_risk").cast("double")))
          .over(wProd)), 6))
      .select(col("duration"), col("n_risk"), col("n_events"), col("survival"))
  }
}
