package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema-profiling discovery: how strongly does one column determine
  * another (approximate functional dependencies), and which column pairs
  * are foreign-key candidates (inclusion dependencies)? The discovery
  * stage a warehouse runs BEFORE declaring constraints — q227's FK
  * orphan audit checks keys you already trust; these two find the keys
  * worth declaring. (Reference scope: the reference pipeline declares
  * its star-schema joins by hand; this is the additive profiling shelf.)
  *
  * Scale posture:
  *  - FD strength is two keyed aggregates (det×dep cells, then per-det
  *    max/sum) and a 1-row reduce — cost is bounded by the CELL count,
  *    never the row count, and every shuffle is on the determinant key.
  *  - IND containment is distinct-project on both sides then a keyed
  *    left join — |distinct| shuffles only. At crawl scale the exact
  *    distinct projections would sit behind the q76/q130 bloom/KMV
  *    prefilters; exact is the gate-scale contract here.
  */
object SchemaDiscovery {

  /** g3-style strength of the candidate FD det → dep on one table:
    * violations = rows that would have to change for the FD to hold
    * exactly (n − Σ_det max_dep count), strength = 1 − violations/n.
    * One row: fd, n_rows, n_det, n_pairs, violations, strength. */
  def fdStrength(df: DataFrame, label: String, det: String,
                 dep: String): DataFrame =
    df.groupBy(col(det), col(dep)).agg(count(lit(1)).as("__c"))
      .groupBy(col(det))
      .agg(max(col("__c")).as("__mx"), sum(col("__c")).as("__cnt"),
        count(lit(1)).as("__ndep"))
      .agg(sum(col("__cnt")).as("n_rows"),
        count(lit(1)).as("n_det"),
        sum(col("__ndep")).as("n_pairs"),
        sum(col("__cnt") - col("__mx")).as("violations"))
      .select(lit(label).as("fd"),
        col("n_rows").cast("long").as("n_rows"),
        col("n_det").cast("long").as("n_det"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("violations").cast("long").as("violations"),
        round(lit(1.0) - col("violations").cast("double") /
          col("n_rows").cast("double"), 6).as("strength"))

  /** Inclusion coverage of child column in parent column (both sides
    * null-filtered, distinct): n_missing = distinct child values absent
    * from the parent, containment = 1 − missing/|child distinct|; a
    * full IND (containment 1.0) is a foreign-key candidate.
    * One row: ind, n_child_distinct, n_missing, containment, is_ind. */
  def indContainment(child: DataFrame, childCol: String, parent: DataFrame,
                     parentCol: String, label: String): DataFrame = {
    val a = child.select(col(childCol).cast("long").as("__v"))
      .where(col("__v").isNotNull).distinct()
    val b = parent.select(col(parentCol).cast("long").as("__v"))
      .where(col("__v").isNotNull).distinct()
      .withColumn("__hit", lit(1))
    a.join(b, Seq("__v"), "left")
      .agg(count(lit(1)).as("n_child_distinct"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_missing"))
      .select(lit(label).as("ind"),
        col("n_child_distinct").cast("long").as("n_child_distinct"),
        col("n_missing").cast("long").as("n_missing"),
        round(lit(1.0) - col("n_missing").cast("double") /
          col("n_child_distinct").cast("double"), 6).as("containment"),
        (col("n_missing") === 0L).as("is_ind"))
  }

  /** Equi-join output-cardinality estimation audit — the optimizer
    * statistic behind every join-order decision: exact |A ⋈ B| =
    * Σ_k cA(k)·cB(k) from the two per-key count tables, next to the
    * end-biased KEY-sampled estimate (keep keys with hash60(k) ≡ 0
    * mod 16, scale the sampled product mass by 16 — sampling KEYS, not
    * rows, keeps each key's contribution exact, the classic
    * distinct-value sampling posture). rel_err is the audit number: how
    * far the 1/16 sketch lands from truth on this key distribution.
    * Two keyed aggregates + one key-equi join; the per-key hash gate is
    * the same deterministic hash60 the sampling shelf replays. One row:
    * join_cand, n_keys, exact_rows, sampled_keys, est_rows, rel_err. */
  def joinSizeEstimate(child: DataFrame, childCol: String, parent: DataFrame,
                       parentCol: String, label: String): DataFrame = {
    val rate = 16
    val a = child.groupBy(col(childCol).cast("long").as("__k"))
      .agg(count(lit(1)).as("__ca"))
    val b = parent.groupBy(col(parentCol).cast("long").as("__k"))
      .agg(count(lit(1)).as("__cb"))
    val j = a.join(b, "__k").select(
      (col("__ca") * col("__cb")).as("__p"),
      (pmod(Sketches.hash60(col("__k")), lit(rate)) === 0)
        .cast("int").as("__in"))
    j.agg(count(lit(1)).as("n_keys"), sum(col("__p")).as("__exact"),
        sum(col("__in")).as("__sk"),
        (lit(rate) * sum(when(col("__in") === 1, col("__p"))
          .otherwise(0L))).as("__est"))
      .select(lit(label).as("join_cand"),
        col("n_keys").cast("long").as("n_keys"),
        col("__exact").cast("long").as("exact_rows"),
        col("__sk").cast("long").as("sampled_keys"),
        col("__est").cast("long").as("est_rows"),
        round(abs(col("__est") - col("__exact")).cast("double") /
          col("__exact").cast("double"), 6).as("rel_err"))
  }
}
