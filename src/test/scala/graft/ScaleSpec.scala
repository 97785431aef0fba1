package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Relational, Scale}

class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("salted aggregation matches the direct groupBy bit-for-bit") {
    val events = Graft.table(spark, sf, "events")
    val salted = Scale.saltedSumCount(events, col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    val direct = events.groupBy(col("event_type"))
      .agg(Relational.sumExact(col("value")).as("sum_value"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(salted.sameElements(direct))
  }

  test("salted aggregation plan has two aggregation exchanges (spread then combine)") {
    val events = Graft.table(spark, sf, "events")
    val plan = Scale.saltedSumCount(events, col("event_type"), col("value"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    // phase-1 key includes the salt: hot keys fan out over 16 reducers
    assert(plan.contains("__salt"))
  }

  test("co-bucketed join is shuffle-free (bucket pruning of the Exchange)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Scale.writeBucketed(
        Graft.table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders", "o_custkey", buckets = 8)
      Scale.writeBucketed(
        Graft.table(spark, sf, "customer").select("c_custkey", "c_name"),
        "b_customer", "c_custkey", buckets = 8)
      val joined = Scale.bucketedJoin(spark, "b_orders", "b_customer", "o_custkey", "c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed equi-join must not shuffle either side:\n$plan")
      // and it is still correct
      val n = joined.count()
      val expected = Graft.table(spark, sf, "orders")
        .join(Graft.table(spark, sf, "customer"), col("o_custkey") === col("c_custkey"))
        .count()
      assert(n == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("dynamic partition pruning: joining a filtered dim prunes fact partitions at runtime") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_dpp").toString
    val ev = Graft.table(spark, sf, "events")
      .withColumn("d", dayofmonth(col("ts")))
    ev.write.mode("overwrite").partitionBy("d").parquet(root)
    val fact = spark.read.parquet(root)
    val dim = ev.select(col("d").as("dim_d")).distinct().where(col("dim_d") <= 2)
    val joined = fact.join(dim, col("d") === col("dim_d"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery in the fact scan:\n$plan")
    assert(joined.select(countDistinct(col("d"))).collect().head.getLong(0) <= 2)
  }

  test("connectedComponents uses reliable checkpoints when a checkpoint dir is set") {
    import java.nio.file.Files
    import graft.operators.TextDedup
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "precondition: suite session has no checkpoint dir")
    val dir = Files.createTempDirectory("graft_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      // two components: {1,2,3} (path, diameter 2) and {10,11}
      val pairs = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
        .toDF("doc_a", "doc_b")
      val got = TextDedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.sameElements(Array((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))))
      // the reliable path actually wrote RDD checkpoint files under the dir
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      val wrote = try walk.filter(p => java.nio.file.Files.isRegularFile(p)).count()
                  finally walk.close()
      assert(wrote > 0, s"expected reliable checkpoint files under $dir")
    } finally {
      // SparkContext has no unsetCheckpointDir; null resets the Option to
      // None. This only avoids an NPE in Utils.nonLocalPaths because the
      // test master is local (isLocal short-circuits the path check).
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty)
      // remove the temp checkpoint dir (deepest-first)
      val w = Files.walk(java.nio.file.Paths.get(dir))
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }
  }

  test("ScaleSmoke replica: x3 row counts, distinct keys, per-copy joins, copy 0 is the original") {
    import org.apache.spark.sql.types.TimestampType
    val out = java.nio.file.Files.createTempDirectory("graft_replica").toString
    val factor = 3
    val written = ScaleSmoke.write(spark, sf, factor, out).toMap
    def src(t: String) = Graft.table(spark, sf, t)
    def rep(t: String) = Graft.table(spark, out, t)
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events")
    assert(written.keySet == tables.toSet)
    for (t <- tables) {
      val k = if (t == "region" || t == "nation") 1 else factor
      val n = src(t).count()
      assert(n > 0, s"$t: empty source table")
      assert(written(t) == k * n && rep(t).count() == k * n, s"$t: wrote ${written(t)}, source $n")
      assert(src(t).exceptAll(rep(t)).isEmpty, s"$t: the replica lost rows of the original")
    }
    for ((t, key) <- Seq("customer" -> "c_custkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey", "orders" -> "o_orderkey", "documents" -> "doc_id",
        "embeddings" -> "vec_id", "events" -> "event_id"))
      assert(rep(t).select(key).distinct().count() == rep(t).count(), s"$t.$key repeats")
    def joins(read: String => org.apache.spark.sql.DataFrame): Seq[Long] = Seq(
      read("orders").join(read("customer"), col("o_custkey") === col("c_custkey")),
      read("lineitem").join(read("orders"), col("l_orderkey") === col("o_orderkey")),
      read("lineitem").join(read("part"), col("l_partkey") === col("p_partkey")),
      read("lineitem").join(read("supplier"), col("l_suppkey") === col("s_suppkey"))
    ).map(_.count())
    val one = joins(src)
    assert(one.forall(_ > 0), one.toString)
    assert(joins(rep) == one.map(_ * factor))
    assert(rep("events").schema("ts").dataType == TimestampType)
    assert(SparkEntry.queries("q100_flagship")(spark, out).count() > 0)
  }

  test("streaming dedup drops within-watermark duplicate keys") {
    import spark.implicits._
    import graft.streaming.StreamingAgg
    import graft.streaming.StreamingAgg.Event
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = StreamingAgg.dedupStream(input.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      def ev(id: Long, t: String) = Event(id, Timestamp.valueOf(t), 1, "click", 1.0)
      input.addData(ev(1, "2025-01-01 10:00:00"), ev(2, "2025-01-01 10:01:00"))
      q.processAllAvailable()
      input.addData(ev(1, "2025-01-01 10:02:00"), ev(3, "2025-01-01 10:03:00")) // id 1 is a dup
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_test").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("heavy hitters: exact counts, all true hitters found, tail absent") {
    import spark.implicits._
    import graft.operators.Sketches
    // 100 docs x 1 token row each: 'hot' in half the rows, 'warm' in a
    // quarter, 200 singleton terms as the long tail
    val rows =
      (0 until 50).map(i => (i.toLong * 2, "hot")) ++      // even ids -> sampled
      (0 until 25).map(i => (i.toLong * 4, "warm")) ++     // even ids -> sampled
      (0 until 200).map(i => (1000L + i, s"tail_$i"))
    val terms = rows.toDF("doc_id", "token")
    val out = Sketches.sampledHeavyHitters(terms, "token", "doc_id",
        sampleMod = 2, minFrac = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // exact counts for the survivors, long tail filtered out
    assert(out == Map("hot" -> 50L, "warm" -> 25L), s"got $out")
    // candidate set stays bounded: at most 2/minFrac distinct terms can
    // clear half the sample threshold (pigeonhole) — the scale contract
    assert(out.size <= (2 / 0.05).toInt)
  }

  test("hllDistinct: estimate within the 1.04/sqrt(m) band; merge-invariant under repartition") {
    import spark.implicits._
    import graft.operators.Sketches
    // 5000 distinct values, p=12 (m=4096): n < 2.5m -> the linear-counting
    // branch, accurate to ~2%; assert a generous 5% band.
    val df = (1 to 5000).map(i => ("g", s"v$i")).toDF("grp", "v")
    val r = Sketches.hllDistinct(df, Seq("grp"), "v", p = 12).collect().head
    val est = r.getAs[Long]("hll_distinct")
    assert(r.getAs[Long]("exact_distinct") == 5000L)
    assert(math.abs(est - 5000L) < 250, s"estimate $est outside 5% of 5000")
    // same data, p=8 (m=256): n >> 2.5m -> the raw-estimator branch,
    // expected error ~1.04/16 = 6.5%; assert 15%.
    val r8 = Sketches.hllDistinct(df, Seq("grp"), "v", p = 8).collect().head
    val est8 = r8.getAs[Long]("hll_distinct")
    assert(math.abs(est8 - 5000L) < 750, s"raw-branch estimate $est8 off 5000")
    // partial-aggregation order must not matter: registers merge by max
    val r2 = Sketches.hllDistinct(df.repartition(13), Seq("grp"), "v", p = 12)
      .collect().head
    assert(r2.getAs[Long]("hll_distinct") == est, "repartition changed the sketch")
    // duplicates never move registers: doubling the rows keeps the estimate
    val r3 = Sketches.hllDistinct(df.unionByName(df), Seq("grp"), "v", p = 12)
      .collect().head
    assert(r3.getAs[Long]("hll_distinct") == est, "duplicates changed the sketch")
  }

  test("exportJsonlShards: JSONL roundtrip, stable shard membership, idempotent rewrite") {
    import spark.implicits._
    import graft.operators.Scale
    val root = java.nio.file.Files.createTempDirectory("jsonl").toString
    val df = (0 until 500).map(i => (i.toLong, s"text_$i")).toDF("doc_id", "text")
    val n = Scale.exportJsonlShards(df, "doc_id", s"$root/out", nShards = 8)
    assert(n == 500L)
    val back = spark.read.json(s"$root/out")
    assert(back.count() == 500)
    // shard is hash60(id) % nShards — the q105 shardPlan assignment, so the
    // written layout matches the plan's manifest counts exactly
    val planned = Scale.shardPlan(df, "doc_id", "text", nShards = 8)
      .select(col("shard"), col("n_docs")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val landed = back.groupBy(col("shard").cast("long").as("shard")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(landed == planned, s"landed $landed != planned $planned")
    // replay overwrites in place: same rows, same shards
    Scale.exportJsonlShards(df, "doc_id", s"$root/out", nShards = 8)
    assert(spark.read.json(s"$root/out").count() == 500)
  }

  test("zorderWrite: narrow y-range query skips most files; single-column sort cannot") {
    import spark.implicits._
    import graft.operators.Scale
    // 256x256 grid: a y-only-sorted layout gives every file the full x
    // range and vice versa; the Morton layout tiles BOTH dims, so a narrow
    // y slice intersects only the files whose tile touches it
    val root = java.nio.file.Files.createTempDirectory("zorder").toString
    val grid = (for { x <- 0 until 256; y <- 0 until 256 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    Scale.zorderWrite(grid, "x", "y", s"$root/z", nFiles = 16, bits = 8)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$root/linear")
    def filesTouching(dir: String): Long = {
      import org.apache.spark.sql.functions.{input_file_name, max => fmax, min => fmin}
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(fmin(col("y")).as("ymin"), fmax(col("y")).as("ymax"))
        .where(col("ymin") <= 31 && col("ymax") >= 0)
        .count()
    }
    val zTouched = filesTouching(s"$root/z")
    val linTouched = filesTouching(s"$root/linear")
    assert(linTouched == 16, s"x-sorted layout must touch all files, got $linTouched")
    assert(zTouched <= 8, s"z-order must skip most files for a y slice, touched $zTouched")
    // layout changes bytes, never rows
    assert(spark.read.parquet(s"$root/z").count() == 256L * 256)
  }

  test("compaction: many small files become few target-sized files, data identical") {
    import spark.implicits._
    import graft.operators.Scale
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    val df = (0 until 10000).map(i => (i.toLong, s"row_$i")).toDF("id", "s")
    df.repartition(64).write.parquet(s"$root/small")
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$root/small") == 64, "fixture: 64 small files")
    val n = Scale.compact(spark, s"$root/small", s"$root/compacted",
      targetFileBytes = 256L * 1024)
    assert(parquetFiles(s"$root/compacted") == n && n < 10,
      s"compacted to $n files (want < 10)")
    val before = spark.read.parquet(s"$root/small")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val after = spark.read.parquet(s"$root/compacted")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after == before)
  }

  test("schema evolution: mergeSchema unions day schemas; old rows null-fill new columns") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("evolve").toString
    Seq((1L, "a")).toDF("id", "v")
      .write.parquet(s"$root/d=2025-01-01")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score") // day 2 adds a column
      .write.parquet(s"$root/d=2025-01-02")
    val all = spark.read.option("mergeSchema", "true")
      .option("basePath", root).parquet(s"$root/d=*")
    assert(all.columns.toSet == Set("id", "v", "score", "d"))
    val rows = all.select("id", "score")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> Some(9.5)),
      "pre-evolution rows read with null in the new column")
  }

  test("salted join equals the plain inner join row-for-row") {
    import graft.operators.Scale
    val orders = Graft.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Graft.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_orderkey"), col("c_mktsegment"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val plain = rows(orders.join(cust, col("o_custkey") === col("c_custkey")))
    val salted = rows(Scale.saltedJoin(orders, cust, "o_custkey", "c_custkey"))
    assert(salted == plain)
  }

  test("count-min sketch: estimates never undercount; exact on a sparse grid; absent key = 0 exact") {
    import spark.implicits._
    import graft.operators.Sketches
    val items = (Seq.fill(40)("hot") ++ Seq.fill(7)("warm") ++
      (0 until 20).map(i => s"t$i")).toDF("token")
    val qs = Seq("hot", "warm", "t3", "ghost").toDF("token")
    val out = Sketches.cmsPointEstimates(items, "token", qs, w = 4096)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // CMS can only overcount
    out.foreach { case (k, (est, exact)) => assert(est >= exact, s"$k undercounted") }
    // 27 distinct keys in a 4 x 4096 grid: no key collides in all 4 rows
    assert(out("hot") == (40L, 40L) && out("warm") == (7L, 7L) && out("t3") == (1L, 1L))
    assert(out("ghost")._2 == 0L, "absent key has exact 0")
  }

  test("quantized re-rank: top-1 and top-10 match brute-force exactly on the test corpus") {
    import graft.operators.Similarity
    val emb = Graft.table(spark, sf, "embeddings")
    val qp = col("vec_id") < 5
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val exact = key(Similarity.bruteForceKnn(emb, "vec_id", "embedding", qp, 10))
    val rerank = key(Similarity.quantizedRerankKnn(emb, "vec_id", "embedding", qp, 10, 50))
    // with a 50-candidate pool over this corpus the int8 stage keeps every
    // true top-10 neighbor — the re-ranked list is the exact list
    assert(rerank == exact)
  }

  test("quantized re-rank plan: no rank window, candidate stage is an aggregate") {
    import graft.operators.Similarity
    val emb = Graft.table(spark, sf, "embeddings")
    val p = Similarity.quantizedRerankKnn(emb, "vec_id", "embedding",
      col("vec_id") < 5, 10, 50).queryExecution.executedPlan.toString
    assert(!p.contains("WindowExec"), "both stages must rank via bounded aggregation")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
  }

  test("histogramQuantiles: within one bin width of exact; exact when bins are fine enough") {
    val events = Graft.table(spark, sf, "events")
    val est = graft.operators.Sketches
      .histogramQuantiles(events, "value", bins = 256, ps = Seq(0.5, 0.9, 0.99))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
    assert(est.keySet == Set(0.5, 0.9, 0.99))
    val exact = events.stat.approxQuantile("value", Array(0.5, 0.9, 0.99), 0.0)
    val Array(lo, hi) = events.agg(min(col("value")), max(col("value")))
      .collect().map(r => Array(r.getDouble(0), r.getDouble(1))).head
    val width = (hi - lo) / 256
    // the target rank's bin bounds the estimate; the exact rank element can
    // sit one element over a bin edge, so the sound bound is two widths
    Seq(0.5, 0.9, 0.99).zip(exact).foreach { case (p, ex) =>
      assert(math.abs(est(p) - ex) <= 2 * width + 1e-9,
        s"p=$p est=${est(p)} exact=$ex width=$width")
    }
    // partition-invariance: the sketch is mergeable, counts are exact
    val again = graft.operators.Sketches
      .histogramQuantiles(events.repartition(9), "value", bins = 256,
        ps = Seq(0.5, 0.9, 0.99))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
    assert(est == again)
  }

  test("shardPlan: shards partition the corpus, totals conserved, assignment deterministic") {
    val docs = Graft.table(spark, sf, "documents")
    val plan = Scale.shardPlan(docs, "doc_id", "text", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(plan.map(_._1).toSet.subsetOf((0L until 8L).toSet))
    // conservation: shard totals sum back to whole-corpus totals
    val total = docs.agg(count(lit(1)),
        sum(expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)")),
        sum(expr("CAST(length(text) AS BIGINT)")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert((plan.map(_._2).sum, plan.map(_._3).sum, plan.map(_._4).sum) == total)
    // replay determinism: a second run assigns identically
    val again = Scale.shardPlan(docs, "doc_id", "text", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(plan.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // balance sanity on the test corpus: no shard is empty or >3x the mean
    val counts = plan.map(_._2)
    assert(counts.forall(c => c > 0 && c <= 3 * (counts.sum / counts.length).max(1)))
  }

  test("splitPlan: splits partition the corpus, growth never reassigns, bounds validated") {
    val docs = Graft.table(spark, sf, "documents")
    val bounds = Seq("train" -> 0.9, "val" -> 0.95)
    val plan = Scale.splitPlan(docs, "doc_id", "text", bounds, "test")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(plan.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    val total = docs.count()
    val totalIds = total // doc_ids are dense 0..n-1 in the test corpus
    assert(plan.map(_._2).sum == total, "every doc lands in exactly one split")
    assert(plan.find(_._1 == "train").exists(_._2 > total / 2), "train is the bulk")
    // growth stability: the first half of the corpus alone yields per-split
    // counts <= the full corpus's (docs never hop splits when others arrive)
    val half = Scale.splitPlan(docs.where(col("doc_id") < totalIds / 2), "doc_id", "text",
        bounds, "test")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = plan.map(t => t._1 -> t._2).toMap
    assert(half.forall { case (s, n) => n <= full.getOrElse(s, 0L) })
    assertThrows[IllegalArgumentException] {
      Scale.splitPlan(docs, "doc_id", "text", Seq("a" -> 0.9, "b" -> 0.5), "c")
    }
    // bounds outside (0,1) would silently starve lastSplit; duplicate cuts
    // shadow a split; duplicate names merge two carves — all rejected eagerly
    assertThrows[IllegalArgumentException] {
      Scale.splitPlan(docs, "doc_id", "text", Seq("a" -> 0.9, "b" -> 1.2), "c")
    }
    assertThrows[IllegalArgumentException] {
      Scale.splitPlan(docs, "doc_id", "text", Seq("a" -> 0.0), "c")
    }
    assertThrows[IllegalArgumentException] {
      Scale.splitPlan(docs, "doc_id", "text", Seq("a" -> 0.5, "b" -> 0.5), "c")
    }
    assertThrows[IllegalArgumentException] {
      Scale.splitPlan(docs, "doc_id", "text", Seq("a" -> 0.5, "c" -> 0.9), "c")
    }
  }

  test("kmvPairwiseJaccard: exact when sets fit the sketch; k caps the union") {
    import spark.implicits._
    // 5-grams: A = {"a b c d e","b c d e f"}, B = {"a b c d e","b c d e x"}
    // shared 1, union 3 -> J = 1/3 exactly while both sets fit in k
    val df = Seq(("A", "a b c d e f"), ("B", "a b c d e x"))
      .toDF("source", "text")
    val exact = graft.operators.Sketches
      .kmvPairwiseJaccard(df, "source", "text", k = 256)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(exact.toSeq == Seq(("A", "B", 1L, 3L, 1.0 / 3)))
    // k = 2: the union sketch is capped at 2 hashes; the estimate stays a
    // valid ratio of exact integers whatever the hash order picked
    val capped = graft.operators.Sketches
      .kmvPairwiseJaccard(df, "source", "text", k = 2)
      .collect().map(r => (r.getLong(3), r.getDouble(4))).head
    assert(capped._1 == 2L && capped._2 >= 0.0 && capped._2 <= 1.0)
    // short texts (< gramN tokens) contribute no grams and no pairs
    assert(graft.operators.Sketches.kmvPairwiseJaccard(
      Seq(("A", "a b"), ("B", "c d")).toDF("source", "text"),
      "source", "text", k = 4).count() == 0)
  }

  test("q128 quality tiers: monotone in n_chars, all quartiles hit, no global sort") {
    val rows = SparkEntry.queries("q128_quality_tiers")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.forall { case (_, t) => t >= 1 && t <= 4 })
    assert(rows.map(_._2).distinct.sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // tier must be monotone in the value: sketch cutpoints are global, so
    // a longer doc can never land in a lower tier
    val byChars = rows.sortBy(_._1).map(_._2)
    assert(byChars.zip(byChars.tail).forall { case (a, b) => a <= b })
    // quartile balance: each tier within [15%, 35%] of docs (sketch error
    // on 256 bins is far tighter; this bound just catches a broken carve)
    val n = rows.length.toDouble
    val shares = rows.groupBy(_._2).view.mapValues(_.length / n)
    assert(shares.values.forall(s => s > 0.15 && s < 0.35), s"$shares")
  }

  test("temperatureMix: sqrt-mass weights, probabilities sum to 1, tail upweighted") {
    import spark.implicits._
    // s1 has 9x the token mass of s2, but sqrt scaling gives it only 3x the
    // sampling probability — the tail-upweighting the alpha<1 mix exists for
    val df = Seq(("s1", ("t " * 8) + "t"), ("s2", "t")).toDF("source", "text")
    val got = Scale.temperatureMix(df, "source", "text", budget = 10000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    val (w1, w2) = (3000000L, 1000000L) // round(sqrt(9)*1e6), round(sqrt(1)*1e6)
    assert(got("s1") == ((1L, 9L, w1.toDouble / (w1 + w2), 7500L)))
    assert(got("s2") == ((1L, 1L, w2.toDouble / (w1 + w2), 2500L)))
    assert(got.values.map(_._3).sum == 1.0)
  }

  test("trainOrder: dense 1..n positions per shard, invariant under repartition") {
    val docs = Graft.table(spark, sf, "documents")
    val order = Scale.trainOrder(docs, "doc_id", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(order.length == docs.count())
    assert(order.forall { case (_, s, _) => s >= 0 && s < 4 })
    // positions are a dense 1..n permutation within each shard — proof the
    // order is shard-local, not a global rank
    order.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $s positions not dense")
    }
    // physical layout must not leak into the order: a reshuffled input
    // yields the identical address for every doc
    val re = Scale.trainOrder(docs.repartition(7), "doc_id", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re.sortBy(_._1).toSeq == order.sortBy(_._1).toSeq)
  }

  test("skippingAudit: boundary max is skippable; shares sum to 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("g1", 10.0), ("g1", 50.0), ("g2", 60.0), ("g2", 90.0))
      .toDF("g", "v")
    val rows = Scale.skippingAudit(df, col("g"), "v", threshold = 50.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getBoolean(4), r.getDouble(5))).toMap
    assert(rows("g1") == ((2L, true, 0.5)),
      "max == threshold proves `v > t` empty — skippable")
    assert(rows("g2") == ((2L, false, 0.5)))
    assert(rows.values.map(_._3).sum == 1.0)
  }

  test("kishEss: equal weights give ESS = n; one dominant weight drives ESS toward 1") {
    import spark.implicits._
    val eq = Seq(("a", 7L), ("a", 7L), ("a", 7L), ("a", 7L)).toDF("g", "w")
    val r1 = Scale.kishEss(eq, "g", col("w")).collect().head
    assert(r1.getLong(1) == 4L)            // n
    assert(r1.getDouble(4) == 4.0)         // ess == n under equal weights
    assert(r1.getDouble(5) == 1.0)         // efficiency == 1
    // one weight 1e6, three weight 1: ESS = (1e6+3)^2 / (1e12+3) ~ 1.000006
    val skew = Seq(("b", 1000000L), ("b", 1L), ("b", 1L), ("b", 1L)).toDF("g", "w")
    val r2 = Scale.kishEss(skew, "g", col("w")).collect().head
    assert(r2.getDouble(4) > 1.0 && r2.getDouble(4) < 1.001,
      s"dominant weight should hollow ESS to ~1, got ${r2.getDouble(4)}")
    assert(r2.getDouble(5) < 0.26)         // efficiency ~ 1/4
  }

  test("compactionPlan: ceil boundary and the 1-file floor") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // part a: 3 rows x 100 B = 300 B -> 2 files at 256 B target;
    // part b: 1 row -> floor of 1 file
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 9)).toDF("p", "x")
    val plan = Scale.compactionPlan(df, col("p"), lit(100L), 256L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(plan("a") == ((3L, 300L, 2L)))
    assert(plan("b") == ((1L, 100L, 1L)))
  }

  test("maxCoverageSelect: greedy picks, marginal gains, early stop when covered") {
    import spark.implicits._
    val pairs = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"), (1L, "a"), // dup deduped
      (2L, "a"), (2L, "b"), (2L, "e"),
      (3L, "e"), (3L, "f"), (3L, "g"),
      (4L, "c")).toDF("doc_id", "item")
    val r = Scale.maxCoverageSelect(pairs, "doc_id", "item", k = 4)
      .orderBy("rnk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // d1 covers {a,b,c,d}; d3 adds {e,f,g}; then every item is covered
    // and the greedy stops two picks short of k
    assert(r.toList == List((1L, 1L, 4L, 4L), (2L, 3L, 3L, 7L)))
  }

  test("maxCoverageSelect: non-string item type (the covered seed follows tok's schema)") {
    import spark.implicits._
    val pairs = Seq((1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L), (3L, 30L))
      .toDF("doc_id", "item")
    val r = Scale.maxCoverageSelect(pairs, "doc_id", "item", k = 3)
      .orderBy("rnk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toList == List((1L, 1L, 2L, 2L), (2L, 2L, 1L, 3L)))
  }

  test("maxCoverageSelect: equal-gain ties break to the smaller doc id; partition-invariant") {
    import spark.implicits._
    val pairs = Seq((7L, "x"), (7L, "y"), (2L, "p"), (2L, "q"))
      .toDF("doc_id", "item")
    def run(parts: Int) = Scale.maxCoverageSelect(
      pairs.repartition(parts), "doc_id", "item", k = 2)
      .orderBy("rnk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toList
    val a = run(1)
    assert(a == List((1L, 2L, 2L, 2L), (2L, 7L, 2L, 4L)))
    assert(run(5) == a)
  }

  test("unimaxMix: exact integer waterfilling with epoch caps") {
    import spark.implicits._
    // sources A=10, B=20, C=100 tokens; E=2 -> caps {20,40,200};
    // B = 130/2 = 65. Water level: max(65/3=21, (65-20)/2=22,
    // (65-60)/1=5) = 22 -> allocations 20/22/22 (sum 64, leftover 1),
    // epochs 2.0 / 1.1 / 0.22
    def txt(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(("A", txt(10)), ("B", txt(20)),
      ("C", txt(50)), ("C", txt(50))).toDF("source", "text")
    val out = Scale.unimaxMix(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1).toList
    graft.operators.CacheScope.drain()
    assert(out == List(("A", 10L, 20L, 20L, 2.0), ("B", 20L, 40L, 22L, 1.1),
      ("C", 100L, 200L, 22L, 0.22)))
    // budget >= total caps: every source gets its full cap (the level
    // exceeds the max cap with no special-casing) — unimaxMix's budget is
    // half its caps' total, so this runs the shared waterfill at a
    // 1-epoch cap and a whole-corpus budget
    val per = Seq(("A", 10L), ("B", 20L), ("C", 100L)).toDF("source", "s")
    val full = Scale.waterfillAlloc(per, 1, 1, 1)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(3).toDouble / r.getLong(1)))
      .sortBy(_._1).toList
    graft.operators.CacheScope.drain()
    assert(full == List(("A", 10L, 1.0), ("B", 20L, 1.0), ("C", 100L, 1.0)))
  }
}
