package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Writes an id-shifted ×`factor` replica of an sf directory, the larger
  * data that scale curves are measured on (`$T` holds the sf dirs):
  *
  * {{{
  *   sbt "runMain graft.ScaleSmoke $T/sf0.01 2 /tmp/sf0.01x2"
  *   SPARK_GRAFT_SF_DIR=$T/sf0.01 SPARK_GRAFT_BENCH_OUT=a.json \
  *     SPARK_GRAFT_WARM_DIR=$T/sf0.001 sbt "runMain graft.Bench"
  *   SPARK_GRAFT_SF_DIR=/tmp/sf0.01x2 SPARK_GRAFT_BENCH_OUT=b.json \
  *     SPARK_GRAFT_WARM_DIR=$T/sf0.001 sbt "runMain graft.Bench"
  *   python3 tools/bench_diff.py a.json b.json
  * }}}
  *
  * `region` and `nation` are copied unchanged. Every other table is the
  * union of `factor` copies: copy 0 is the original, and copy i shifts each
  * key family by i × (the smallest power of ten above the family's max key).
  * Keys stay distinct across copies, every foreign key of copy i points into
  * copy i, and so each key join returns exactly `factor`× its 1× rows. Every
  * document, vector, event and user gains factor-1 exact duplicates: the
  * shape of crawl data, and the adversarial case for near-dup dedup. Tables
  * are read through [[Graft.table]], so `events.ts` is written normalised.
  * Prints the row count written for each table. */
object ScaleSmoke {

  /** Each key family as its (table, column) members. */
  private val families: Seq[Seq[(String, String)]] = Seq(
    Seq("customer" -> "c_custkey", "orders" -> "o_custkey"),
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"),
    Seq("documents" -> "doc_id"),
    Seq("embeddings" -> "vec_id"),
    Seq("events" -> "event_id"),
    Seq("events" -> "user_id"))

  private val copied = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleSmoke <sfDir> <factor> <outDir>")
    val spark = Graft.session("graft-scale-smoke")
    spark.sparkContext.setLogLevel("WARN")
    try write(spark, args(0), args(1).toInt, args(2))
      .foreach { case (t, n) => println(s"$t rows=$n") }
    finally spark.stop()
  }

  /** Write the replica of `sfDir` to `outDir`; returns (table, rows written). */
  def write(spark: SparkSession, sfDir: String, factor: Int,
            outDir: String): Seq[(String, Long)] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val replicated = families.flatten.map(_._1).distinct
    val tables = (copied ++ replicated).map(t => t -> Graft.table(spark, sfDir, t)).toMap

    // (min, max) of every key column: one aggregate job per table
    val bounds: Map[String, (Long, Long)] = families.flatten.groupBy(_._1).toSeq
      .flatMap { case (t, members) =>
        val cols = members.map(_._2)
        val r = tables(t).select(cols.flatMap(c => Seq(min(c), max(c))): _*).head()
        def at(j: Int) = if (r.isNullAt(j)) 0L else r.getAs[Number](j).longValue
        cols.zipWithIndex.map { case (c, i) => c -> (at(2 * i), at(2 * i + 1)) }
      }.toMap
    val stride: Map[String, Long] = families.flatMap { fam =>
      val cols = fam.map(_._2)
      require(cols.forall(bounds(_)._1 >= 0),
        s"key family ${cols.mkString("/")} holds a negative key; copies would collide")
      val hi = cols.map(bounds(_)._2).max
      val p = Iterator.iterate(BigInt(1))(_ * 10).find(_ > hi).get
      require(p * factor <= Long.MaxValue,
        s"key family ${cols.mkString("/")}: $factor copies overflow a 64-bit key")
      cols.map(_ -> p.toLong)
    }.toMap

    def replica(t: String): DataFrame = {
      val df = tables(t)
      val keys = families.flatten.collect { case (`t`, c) => c }
      (0 until factor).map { i =>
        if (i == 0) df
        else keys.foldLeft(df) { (d, c) =>
          d.withColumn(c, (col(c) + lit(i * stride(c))).cast(df.schema(c).dataType))
        }
      }.reduce(_ unionByName _)
    }

    (copied ++ replicated).map { t =>
      val written = Observation(t)
      val out = if (copied.contains(t)) tables(t) else replica(t)
      out.observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      t -> written.get("rows").asInstanceOf[Long]
    }
  }
}
