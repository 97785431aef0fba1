package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Core relational operator helpers — the generalized §2 surface of SURVEY.md
  * (projection/cast/alias, filters, global & keyed aggregation, top-k, dedup)
  * exposed as composable functions over arbitrary DataFrames.
  *
  * Numeric determinism: double addition is order-dependent, and Spark's
  * partial/final aggregation order differs run-to-run and from any single-node
  * oracle. Every SUM/AVG that must hash-match an oracle is computed over
  * DECIMAL (exact, associative) and only cast back to DOUBLE at the end. This
  * also makes results stable across partition counts — i.e. the same answer on
  * local[32] and on a 1000-executor cluster.
  */
object Relational {

  /** Exact fixed-point view of a (money-like, 2dp) double column. */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Order-independent exact sum of a 2dp double column, returned as double. */
  def sumExact(c: Column): Column = sum(dec(c)).cast("double")

  /** Order-independent exact average (sum/count in exact arithmetic, one final
    * double division). */
  def avgExact(c: Column): Column = sum(dec(c)).cast("double") / count(c)

  /** Null-safe row fingerprint of the given columns (md5 over a
    * 0x01-joined, null-marked string view) — shared by [[snapshotDiff]]
    * and its oracle. */
  def rowHash(cols: Seq[String]): Column =
    md5(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))

  /** CDC-style snapshot diff: classify every key as added / removed /
    * changed / unchanged between two versions of a table. ONE full outer
    * join on the key with a null-safe row fingerprint per side — the
    * change-detection pass a warehouse runs between loads, linear in both
    * snapshots, never a row-by-row compare loop.
    *
    * Output: (change_type, n_rows). The non-key columns are compared via
    * md5 of a null-marked byte-joined string view, so NULL ≠ '' and column
    * order is fixed by the caller. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    val valCols = oldDf.columns.filterNot(keyCols.contains).toSeq
    val o = oldDf.select(keyCols.map(col) :+ rowHash(valCols).as("__ho"): _*)
    val n = newDf.select(keyCols.map(col) :+ rowHash(valCols).as("__hn"): _*)
    o.join(n, keyCols, "full_outer")
      .select(
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") =!= col("__hn"), lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"))
      .groupBy(col("change_type")).agg(count(lit(1)).as("n_rows"))
  }

  /** Apply a CDC changeset to a snapshot: `changes` carries the same
    * schema plus an `opCol` of 'upsert' | 'delete'. Upserts replace the
    * matching key (or insert); deletes remove it. Two keyed passes —
    * a union + keep-latest dedup for the upserts, an anti join for the
    * deletes — both single-shuffle on the key; the snapshot is never
    * collected or looped. The DataFrame-level twin of the JDBC UPSERT
    * (K6, `pipeline/Upsert`). */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, opCol: String,
                   keyCols: Seq[String]): DataFrame = {
    val dataCols = snapshot.columns.toSeq
    val upserts = changes.where(col(opCol) === "upsert")
      .select(dataCols.map(col): _*)
    val deletes = changes.where(col(opCol) === "delete")
      .select(keyCols.map(col): _*)
    val merged = dedupeByKey(
      snapshot.withColumn("__pri", lit(0))
        .unionByName(upserts.withColumn("__pri", lit(1))),
      keyCols.map(col), Seq(col("__pri").desc))
      .drop("__pri")
    merged.join(deletes, keyCols, "left_anti")
  }

  /** Schema-driven column profiler — the data-quality census every engine
    * ships: per column, null count, exact distinct count, and a numeric
    * min/max view (numerics as double, timestamps as epoch seconds, other
    * types null). ONE scan: all per-column aggregates run in a single wide
    * aggregate, then `stack` pivots the 1-row result into per-column rows —
    * never a scan per column.
    *
    * Scale notes: exact `countDistinct` — k columns expand the scan
    * k-fold (Spark's multi-distinct Expand), the priced cost of exactness
    * (6.7 s of the 212-query bench is this query); [[columnProfileSketch]]
    * is the Expand-free scale form. Output: (column_name, n_rows, n_null,
    * n_distinct, min_num, max_num). */
  def columnProfile(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val aggs = fields.flatMap { f =>
      Seq(
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__null_${f.name}"),
        countDistinct(col(f.name)).as(s"__nd_${f.name}"),
        min(numView(f)).as(s"__min_${f.name}"),
        max(numView(f)).as(s"__max_${f.name}"))
    }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val stackArgs = fields.map { f =>
      s"'${f.name}', `__null_${f.name}`, `__nd_${f.name}`," +
        s" `__min_${f.name}`, `__max_${f.name}`"
    }.mkString(", ")
    wide.select(col("__rows").as("n_rows"),
      expr(s"stack(${fields.length}, $stackArgs)")
        .as(Seq("column_name", "n_null", "n_distinct", "min_num", "max_num")))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_num"), col("max_num"))
  }

  /** A profiled column's min/max view: numerics as double, timestamps as
    * epoch seconds, other types null. */
  private def numView(f: org.apache.spark.sql.types.StructField): Column = {
    import org.apache.spark.sql.types.{NumericType, TimestampNTZType, TimestampType}
    f.dataType match {
      case _: NumericType => col(f.name).cast("double")
      // NTZ first to plain TIMESTAMP (identical wall time under the
      // pinned UTC session), then to epoch seconds
      case _: TimestampType | _: TimestampNTZType =>
        col(f.name).cast("timestamp").cast("long").cast("double")
      case _ => lit(null).cast("double")
    }
  }

  /** The Expand-free scale form of [[columnProfile]] — the documented
    * q205 switch made real: per-column null counts and numeric min/max
    * stay exact in the SAME one wide aggregate pass, but each column's
    * distinct count comes from a [[graft.functions.HllAgg]] sketch
    * (constant 2^p-byte register buffer per (column, task), element-wise
    * max merge) instead of `count(DISTINCT ...)` — whose physical plan
    * replicates EVERY row once per profiled column through an Expand
    * node, the term that dominates q205 at 11 columns and would be fatal
    * at 100 TB. One scan, no Expand, no second aggregate.
    *
    * Values hash through the canonical STRING form a SQL oracle can
    * reproduce byte-for-byte: integers and strings as-is, doubles via
    * DECIMAL(18,2) (exact for currency/ratio columns; a double column
    * with more precision would need a wider canonical — widening it is a
    * caller decision, not a silent loss), timestamps as epoch seconds.
    * NULLs contribute the reserved hash key 0 (so a column with nulls
    * estimates distinct-values-plus-one; n_null reports the exact count
    * beside it) — mirrored in the oracle. Raw-Flajolet + linear-counting
    * estimate, bit-reproducible per HllAgg's scaladoc. */
  def columnProfileSketch(df: DataFrame): DataFrame = {
    val p = 12
    import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType, StringType, TimestampNTZType, TimestampType}
    val fields = df.schema.fields
    def canon(f: org.apache.spark.sql.types.StructField): Column =
      f.dataType match {
        case DoubleType | FloatType =>
          col(f.name).cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .cast("string")
        case _: NumericType => col(f.name).cast("string")
        case _: TimestampType | _: TimestampNTZType =>
          col(f.name).cast("timestamp").cast("long").cast("string")
        case StringType => col(f.name)
        case _ => col(f.name).cast("string")
      }
    // ONE bank aggregator call per row (k register banks in one buffer)
    // instead of k udaf columns — the codegen→Scala boundary is crossed
    // once per row, not once per (row, column)
    val bank = graft.functions.HllBankAgg.columnAgg(p, fields.length)
    val hashes = array(fields.map(f =>
      coalesce(Sketches.hash60(canon(f)), lit(0L))): _*)
    val aggs = fields.flatMap { f =>
      Seq(
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__null_${f.name}"),
        min(numView(f)).as(s"__min_${f.name}"),
        max(numView(f)).as(s"__max_${f.name}"))
    } :+ bank(hashes).as("__nds")
    val wide = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val stackArgs = fields.zipWithIndex.map { case (f, i) =>
      s"'${f.name}', `__null_${f.name}`, element_at(__nds, ${i + 1})," +
        s" `__min_${f.name}`, `__max_${f.name}`"
    }.mkString(", ")
    wide.select(col("__rows").as("n_rows"),
      expr(s"stack(${fields.length}, $stackArgs)")
        .as(Seq("column_name", "n_null", "hll_distinct", "min_num", "max_num")))
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("hll_distinct"), col("min_num"), col("max_num"))
  }

  /** Deterministic per-group mode of an integer-valued column: the most
    * frequent value, ties broken to the SMALLEST value (dropDuplicates-
    * style arbitrariness is exactly what a reproducible profile can't
    * have). Two keyed aggregates over the (group, value) count table —
    * grid-sized after the first shuffle, never a sort of rows. Output:
    * (group, mode_value, mode_count). */
  def modeByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val c = df.groupBy(col(groupCol), col(valueCol).cast("bigint").as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    c.groupBy(col(groupCol))
      .agg(max(struct(col("__cnt"), (-col("__v")).as("__nv"))).as("__m"))
      .select(col(groupCol), (-col("__m.__nv")).as("mode_value"),
        col("__m.__cnt").as("mode_count"))
  }

  /** Deterministic top-k: total order via explicit tie-breaker columns.
    * Physical plan is TakeOrderedAndProject — no global sort, no full shuffle;
    * each partition keeps k rows, driver merges. Safe at any scale for small k. */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Deterministic keyed dedup: keeps exactly one row per key, chosen by the
    * given total order (unlike dropDuplicates, which keeps an arbitrary row).
    * One shuffle on the key; no driver involvement. */
  def dedupeByKey(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Group-wise top-k by (score DESC, id ASC) through
    * [[graft.functions.TopKAgg]] — a k-bounded partial aggregation, NOT a
    * rank window: each map task ships at most k (score, id) pairs per group
    * instead of feeding every row of every group through a sort-shuffle.
    * Same rows as `row_number().over(partitionBy(keys).orderBy(...)) <= k`
    * (which is what a SQL oracle runs); O(k) state per (group, task).
    * Score and id are carried through the aggregate, so the output holds
    * the key columns plus (rnk, idCol, scoreCol as double). */
  def topKPerKey(df: DataFrame, keys: Seq[String], scoreCol: String,
                 idCol: String, k: Int): DataFrame = {
    val topk = graft.functions.TopKAgg.columnAgg(k)
    df.groupBy(keys.map(col): _*)
      .agg(topk(col(scoreCol).cast("double"), col(idCol).cast("long")).as("tk"))
      .select(keys.map(col) :+ posexplode(col("tk")): _*)
      .select(keys.map(col) ++ Seq(
        (col("pos") + 1).cast("bigint").as("rnk"),
        col("col._2").as(idCol),
        col("col._1").as(scoreCol)): _*)
  }

  /** Referential-integrity audit over declared FK edges: per relationship,
    * the child row count, the count of child rows whose FK value has no
    * parent (LEFT ANTI join — the decorrelated NOT EXISTS), and the orphan
    * share — the pre-flight data-quality sheet a warehouse load gates on.
    *
    * Each edge is two aggregates over one child scan; the anti join
    * shuffles on the key (AQE broadcasts small parents). Edges are
    * independent 1-row results unioned at the end — embarrassingly
    * parallel across relationships. */
  def fkAudit(edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    edges.map { case (name, child, fkCol, parent, pkCol) =>
      val orphans = child.select(col(fkCol))
        .join(parent.select(col(pkCol)), col(fkCol) === col(pkCol), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(broadcast(orphans))
        .select(lit(name).as("relationship"), col("n_child"), col("n_orphans"),
          (col("n_orphans").cast("double") / col("n_child").cast("double"))
            .as("orphan_share"))
    }.reduce(_ unionByName _)

  /** SCD Type-2 apply: merge a new snapshot into a versioned history in
    * one pass — every key's row carries (valid_from, valid_to, is_current)
    * so point-in-time joins can reconstruct any load day. `t1`/`t2` are
    * the old/new load-day indexes.
    *
    * One FULL OUTER join of the two snapshots on the key (row payloads
    * compared via the null-safe md5 fingerprint [[rowHash]]), then two
    * projections of the joined table unioned:
    *  - CLOSED rows — the old version where the key vanished or changed:
    *    (old hash, t1, t2, current = false);
    *  - OPEN rows — every key in the new snapshot: (new hash,
    *    t1 if unchanged else t2, null, current = true).
    * Deletes close, inserts open, changes do both, unchanged rows keep
    * their original valid_from — the standard warehouse contract. Linear
    * in both snapshots, one key-shuffle, no per-key history sort. */
  def scd2Apply(old: DataFrame, next: DataFrame, keyCol: String,
                valueCols: Seq[String], t1: Long, t2: Long): DataFrame = {
    val o = old.select(col(keyCol).as("__k"), rowHash(valueCols).as("__ho"))
    val n = next.select(col(keyCol).as("__k"), rowHash(valueCols).as("__hn"))
    val j = o.join(n, Seq("__k"), "full_outer")
    val closed = j
      .where(col("__ho").isNotNull &&
        (col("__hn").isNull || col("__hn") =!= col("__ho")))
      .select(col("__k").as(keyCol), col("__ho").as("row_hash"),
        lit(t1).as("valid_from"), lit(t2).cast("bigint").as("valid_to"),
        lit(false).as("is_current"))
    val open = j.where(col("__hn").isNotNull)
      .select(col("__k").as(keyCol), col("__hn").as("row_hash"),
        when(col("__ho").isNotNull && col("__ho") === col("__hn"), lit(t1))
          .otherwise(lit(t2)).as("valid_from"),
        lit(null).cast("bigint").as("valid_to"),
        lit(true).as("is_current"))
    closed.unionByName(open)
  }

  /** Erasure-impact report (the GDPR right-to-erasure dry run): given a
    * subject cohort, count the rows that would cascade along each
    * declared FK chain before anything is deleted — per chain stage:
    * affected rows and their share of the table. Each stage is a
    * LEFT SEMI join against the previous stage's keys (never a
    * materialized delete, never a collect); the shares come from 1-row
    * total aggregates broadcast onto the |stages|-row result.
    * `chain` stages: (label, table, keyCol selecting rows by the
    * previous stage's output key, outKeyCol feeding the next stage). */
  def erasureImpact(subjects: DataFrame, subjectKey: String,
                    chain: Seq[(String, DataFrame, String, String)]):
      DataFrame = {
    var keys = subjects.select(col(subjectKey).as("__key")).distinct()
    val stages = chain.map { case (label, tbl, inKey, outKey) =>
      val hit = tbl.join(keys, tbl(inKey) === col("__key"), "left_semi")
      keys = hit.select(col(outKey).as("__key")).distinct()
        .localCheckpoint()
      val counts = hit.agg(count(lit(1)).as("n_affected"))
        .crossJoin(broadcast(tbl.agg(count(lit(1)).as("__tot"))))
      counts.select(lit(label).as("stage"), col("n_affected"),
        col("__tot").as("n_total"),
        (col("n_affected").cast("double") / col("__tot")).as("share"))
    }
    stages.reduce(_ unionByName _)
  }
}
