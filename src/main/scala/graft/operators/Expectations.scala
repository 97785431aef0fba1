package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectation suite (the Deequ/Great-Expectations
  * pattern): a list of typed checks compiles to ONE aggregation pass over
  * the table, whose single metrics row is then unpivoted into one
  * (check, column, metric, threshold, pass) row per expectation.
  *
  * Scale design: every row-level metric (completeness, bounds, pattern,
  * membership) is a plain conditional-sum aggregate — all of them share
  * one scan and one partial-agg tree regardless of how many checks the
  * suite carries. `Distinctness` compiles to countDistinct, which Spark
  * plans via Expand (one duplicated stream per distinct aggregate) — the
  * documented cost of exact cardinality. The unpivot is an
  * in-row `explode` of a checks-bounded array on a ONE-row frame — no
  * second pass, no driver collect.
  */
object Expectations {

  /** One typed expectation; `metric` is the aggregate expression yielding
    * the check's [0,1] score, `pass` is metric >= threshold. */
  sealed trait Check {
    def name: String
    def column: String
    def threshold: Double
    def metric: Column
  }

  /** Fraction of rows with a non-null value. */
  final case class Completeness(column: String, threshold: Double)
      extends Check {
    val name = "completeness"
    def metric: Column =
      count(col(column)).cast("double") / count(lit(1))
  }

  /** Distinct values over non-null values (1.0 = key-like). */
  final case class Distinctness(column: String, threshold: Double) extends Check {
    val name = "distinctness"
    def metric: Column = countDistinct(col(column)).cast("double") / count(col(column))
  }

  /** Fraction of non-null values inside [lo, hi]. */
  final case class Bounds(column: String, lo: Double, hi: Double,
                          threshold: Double) extends Check {
    val name = "bounds"
    def metric: Column =
      sum(when(col(column).between(lo, hi), 1L).otherwise(0L))
        .cast("double") / count(col(column))
  }

  /** Fraction of non-null values matching an anchored regex. */
  final case class Pattern(column: String, regex: String, threshold: Double)
      extends Check {
    val name = "pattern"
    def metric: Column =
      sum(when(regexp_like(col(column), lit(regex)), 1L).otherwise(0L))
        .cast("double") / count(col(column))
  }

  /** Fraction of non-null values in an allowed set. */
  final case class Membership(column: String, allowed: Seq[String],
                              threshold: Double) extends Check {
    val name = "membership"
    def metric: Column =
      sum(when(col(column).isInCollection(allowed), 1L).otherwise(0L))
        .cast("double") / count(col(column))
  }

  /** Evaluate a suite in one pass. Output one row per check:
    * (check_name, col_name, metric, threshold, passed), in suite order
    * (names chosen to stay clear of SQL reserved words downstream). */
  def evaluate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "empty expectation suite")
    val metrics = checks.zipWithIndex.map { case (c, i) =>
      c.metric.as(s"__m$i")
    }
    val one = df.agg(metrics.head, metrics.tail: _*)
    val rows = checks.zipWithIndex.map { case (c, i) =>
      struct(lit(c.name).as("check_name"), lit(c.column).as("col_name"),
        col(s"__m$i").as("metric"), lit(c.threshold).as("threshold"))
    }
    one.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.check_name").as("check_name"),
        col("__r.col_name").as("col_name"),
        col("__r.metric").as("metric"),
        col("__r.threshold").as("threshold"),
        (col("__r.metric") >= col("__r.threshold")).as("passed"))
  }
}
