package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust (median/MAD) per-group outlier detection — the length-outlier
  * screen a corpus-QA stage runs per source before training-data export:
  * a doc is flagged when its value deviates from the group median by more
  * than `cutoff` × the group's median absolute deviation.
  *
  * Determinism: Spark's `median` is the exact interpolated 50th percentile
  * (sort-based per group), identical to DuckDB's `median` on integer input —
  * every intermediate is an exactly-representable double (halves of
  * integers), so the strict `>` comparison is bit-deterministic.
  *
  * Scale: two keyed aggregates over a narrow (key, id, value) projection and
  * two BROADCAST joins of |groups|-row stat tables — value data is scanned,
  * never shuffled. The exact per-group median (the oracle contract
  * q111/q120 pin) sorts each group.
  *
  * MAD = 0 degeneracy: when more than half a group's values are identical
  * the MAD collapses to 0 and the strict `adev > cutoff * mad` test flags
  * EVERY row with any nonzero deviation — standard MAD behavior (DuckDB
  * matches, which is why the oracle stays green) but it can flood the
  * report on near-constant groups.
  */
object Robust {

  /** Flag rows where |value - median_g| > cutoff * max(MAD_g, 0.0)
    * within each group. Output: keyCol, idCol, valCol, med, mad (stat
    * columns as double). */
  def madOutliers(df: DataFrame, keyCol: String, idCol: String, valCol: String,
                  cutoff: Double): DataFrame = {
    val vals = df.select(col(keyCol), col(idCol), col(valCol))
    val med = vals.groupBy(col(keyCol))
      .agg(median(col(valCol)).as("med"))
    // dev feeds BOTH the MAD aggregate and the output join — pin it so the
    // value scan + median join run once, not once per consumer
    val dev = CacheScope.persist(vals.join(broadcast(med), keyCol)
      .withColumn("adev", abs(col(valCol).cast("double") - col("med"))))
    val mad = dev.groupBy(col(keyCol))
      .agg(median(col("adev")).as("mad"))
    dev.join(broadcast(mad), keyCol)
      .where(col("adev") > lit(cutoff) * greatest(col("mad"), lit(0.0)))
      .select(col(keyCol), col(idCol), col(valCol), col("med"), col("mad"))
  }

  /** Deterministic RANSAC line fit (Fischler & Bolles 1981) of y on x:
    * sample `nModels` two-point candidate models, count each model's
    * inliers (|residual| ≤ tol), keep the consensus winner — the robust
    * fit that survives gross outliers OLS ([[Stats.olsByGroup]]) and even
    * Theil-Sen (breakdown 29%) cannot.
    *
    * Determinism (the no-rand() house rule): the 2·nModels seed points
    * are the smallest ids under the shared md5 uniform hash60 — ranked
    * via TopKAgg on the NEGATED hash-as-double with id tie-break, which
    * the oracle replays as ORDER BY CAST(hash AS DOUBLE), id (the
    * long→double rounding is identical in both engines, so so is the
    * order). Consecutive rank pairs form models; vertical pairs
    * (x1 = x2) drop on both sides. Slope/intercept/residuals are doubles
    * derived from exact integer coordinates with one shared operation
    * order.
    *
    * Scale: seed selection is O(nModels) TopKAgg state per map task (no
    * global sort); inlier counting is one scan against the BROADCAST
    * nModels-row model table with map-side combined counts — the
    * classic RANSAC structure is embarrassingly parallel. Output: one
    * row (model_id, slope, intercept, n_inliers, n_total, inlier_frac),
    * ties on the consensus count resolving to the smallest model_id. */
  def ransacLine(df: DataFrame, idCol: String,
                 xCol: org.apache.spark.sql.Column, yCol: org.apache.spark.sql.Column,
                 nModels: Int, tol: Double): DataFrame = {
    require(nModels >= 1 && tol > 0, "bad ransac params")
    val pts = df.select(col(idCol).cast("long").as("__id"),
      xCol.cast("long").as("__x"), yCol.cast("long").as("__y"))
    val topk = graft.functions.TopKAgg.columnAgg(2 * nModels)
    val seeds = pts
      .agg(topk(Sketches.hash60(col("__id")).cast("double") * lit(-1.0),
        col("__id")).as("__tk"))
      .select(posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(expr("CAST(__pos DIV 2 AS BIGINT)").as("model_id"),
        pmod(col("__pos"), lit(2)).as("__half"),
        col("__e._2").as("__id"))
      .join(pts, "__id")
    val models = seeds.groupBy(col("model_id"))
      .agg(min(when(col("__half") === 0, col("__x"))).as("__x1"),
        min(when(col("__half") === 0, col("__y"))).as("__y1"),
        min(when(col("__half") === 1, col("__x"))).as("__x2"),
        min(when(col("__half") === 1, col("__y"))).as("__y2"))
      .where(col("__x1") =!= col("__x2"))
      .select(col("model_id"),
        ((col("__y2").cast("double") - col("__y1").cast("double")) /
          (col("__x2").cast("double") - col("__x1").cast("double")))
          .as("slope"),
        col("__x1"), col("__y1"))
      .select(col("model_id"), col("slope"),
        (col("__y1").cast("double") - col("slope") *
          col("__x1").cast("double")).as("intercept"))
    val scored = pts.crossJoin(broadcast(models))
      .groupBy(col("model_id"), col("slope"), col("intercept"))
      .agg(sum(when(abs(col("__y").cast("double") -
          (col("intercept") + col("slope") * col("__x").cast("double")))
        <= lit(tol), 1L).otherwise(0L)).as("n_inliers"),
        count(lit(1)).as("n_total"))
    Relational.topK(scored, 1, col("n_inliers").desc, col("model_id").asc)
      .select(col("model_id"), col("slope"), col("intercept"),
        col("n_inliers"), col("n_total"),
        (col("n_inliers").cast("double") / col("n_total").cast("double"))
          .as("inlier_frac"))
  }
}
