package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operators whose whole point is surviving 100x data: salting for skewed
  * aggregation keys and bucketing for shuffle-free co-located joins. */
object Scale {

  /** Two-phase salted sum/count for a LOW-CARDINALITY or skewed key: phase 1
    * aggregates on (key, salt) — spreading each hot key over 16 salts
    * — phase 2 combines partials per key. Decimal-exact, so the result is
    * bit-identical to a direct groupBy at any salt count or partitioning.
    * The salt is a deterministic hash of the value column (no rand(): replays
    * and retries must produce identical partials). */
  def saltedSumCount(df: DataFrame, key: Column, value: Column): DataFrame =
    df.withColumn("__salt", pmod(hash(value), lit(16)))
      .groupBy(key, col("__salt"))
      .agg(sum(Relational.dec(value)).as("__ps"), count(lit(1)).as("__pc"))
      .groupBy(key)
      .agg(sum(col("__ps")).cast("double").as("sum_value"),
        sum(col("__pc")).as("n"))

  /** Write a table bucketed+sorted on the join key: equi-joins between tables
    * bucketed the same way need NO shuffle at read time — the co-location is
    * paid once at write time, amortized over every subsequent join. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Equi-join two co-bucketed tables (shuffle-free when bucket specs match). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   leftKey: String, rightKey: String): DataFrame =
    spark.table(left).join(spark.table(right),
      col(leftKey) === col(rightKey))

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetFileBytes` each. Long-running ingest (per-batch appends,
    * per-day partitions) accumulates small files that tax the name node and
    * the scan planner; compaction restores scan-sized files. File count is
    * derived from the directory's ACTUAL bytes (Hadoop FS listing — works on
    * any filesystem), not row counts, so output size tracks the data's real
    * on-disk footprint. Returns the number of files written.
    *
    * Writes to `outDir` rather than in place: at scale the swap (write new,
    * point readers, retire old) belongs to the table format / orchestrator,
    * and an in-place rewrite that fails mid-way would lose data. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetFileBytes: Long): Int = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inDir).repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** Salted inner equi-join for a SKEWED fact key: a hot key's fact rows
    * would all land on one reducer in a plain shuffle join. Salting spreads
    * each fact key over `salts` reducers (deterministic hash of the fact's
    * whole row — no rand(), retries replay identically) and replicates each
    * dim row to all `salts` sub-keys, so the join key becomes (key, salt)
    * and the hot key's work fans out `salts`-wide. Dim-side cost: x`salts`
    * rows — right for the mid-size dim that is too big to broadcast but far
    * smaller than the fact.
    *
    * Result is EXACTLY the plain inner join (each fact row meets each
    * matching dim row at exactly one salt). AQE's skew-join splitting does
    * this adaptively for sort-merge joins; the explicit form works for any
    * join and any skew, without depending on runtime statistics. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String): DataFrame = {
    val salts = 8
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(fact.columns.toIndexedSeq.map(col): _*), lit(salts)))
    val repDim = dim.withColumn("__salt",
      explode(expr(s"sequence(0, ${salts - 1})")))
    saltedFact.join(repDim,
        saltedFact("__salt") === repDim("__salt") && col(factKey) === col(dimKey))
      .drop("__salt")
  }

  /** Per-key frequency cap — "at most `cap` documents per domain/source",
    * the crawl-balancing primitive of a training-data pipeline. Selection
    * is deterministic (smallest md5-derived uniform first, id tie-break;
    * no RNG state, so retries and replays keep the same rows) and
    * WINDOW-FREE: a cap-bounded TopKAgg partial aggregation ships at most
    * `cap` ids per (key, map task), where the row_number() formulation
    * sort-shuffles EVERY row of a hot key through one reducer — the
    * difference between a 10^9-page crawl domain costing O(cap) state and
    * costing a single-task sort. Output: (key, id) of the kept rows. */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, cap: Int): DataFrame = {
    val topk = graft.functions.TopKAgg.columnAgg(cap)
    df.withColumn("__u", Sketches.hash60(col(idCol)) / lit((1L << 60).toDouble))
      .groupBy(col(keyCol))
      .agg(topk(col("__u") * lit(-1.0), col(idCol).cast("long")).as("__tk"))
      .select(col(keyCol), explode(col("__tk")).as("e"))
      .select(col(keyCol), col("e._2").as(idCol))
  }

  /** Temperature-scaled source mixing plan — the multilingual/multi-source
    * sampling-weight computation (the alpha-scaled mixing of mBERT/XLM-R
    * and LLM data recipes): each source's sampling probability is
    * proportional to its token mass raised to alpha < 1, upweighting the
    * tail sources a proportional mix would starve. This operator fixes
    * alpha = 0.5 (sqrt — correctly rounded IEEE in every engine, so the
    * plan is exactly replayable; other alphas need pow(), whose last-ulp
    * behavior is libm-specific — quantize before summing if you add one).
    * Output per source: n_docs, n_tokens, p_sample, expected_docs (share
    * of `budget` at that probability).
    *
    * Plan: one narrow scan + a |sources|-group aggregate; weights are
    * quantized to integer micro-units BEFORE the global sum (exact BIGINT
    * arithmetic — the TextRank/TextLm discipline), and the 1-row total is
    * broadcast back. Nothing here grows with the corpus except the scan. */
  def temperatureMix(df: DataFrame, groupCol: String, textCol: String,
                     budget: Long): DataFrame = {
    val mass = df
      .select(col(groupCol), (length(col(textCol)) -
          length(replace(col(textCol), lit(" "), lit(""))) + 1)
          .cast("bigint").as("__toks"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__toks")).as("n_tokens"))
      .withColumn("__w_mu",
        expr("CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)"))
    val total = mass.agg(sum(col("__w_mu")).as("__tw"))
    mass.crossJoin(broadcast(total)) // 1-row total
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        (col("__w_mu").cast("double") / col("__tw").cast("double"))
          .as("p_sample"),
        expr(s"CAST(round(CAST(__w_mu AS DOUBLE) / CAST(__tw AS DOUBLE) * $budget) AS BIGINT)")
          .as("expected_docs"))
  }

  /** Training-shard export plan: assign every document to one of `nShards`
    * shards by a deterministic content-independent hash of its id, and
    * report each shard's document / token / char totals — the sizing pass a
    * pipeline runs before writing N tfrecord/parquet shards, and the check
    * that the hash spreads the corpus evenly (no shard hot-spots at write
    * time). The md5-derived shard id is stable across engines, replays and
    * repartitions; token counts reuse the space-count identity (no
    * tokenization pass). One narrow projection + one tiny aggregation
    * (`nShards` groups) — embarrassingly parallel at any scale. */
  def shardPlan(df: DataFrame, idCol: String, textCol: String,
                nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    df.select((Sketches.hash60(col(idCol)) % nShards).as("shard"),
        (length(col(textCol)) -
          length(replace(col(textCol), lit(" "), lit(""))) + 1)
          .cast("bigint").as("__toks"),
        length(col(textCol)).cast("bigint").as("__chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"))
  }

  /** The split-assignment COLUMN shared by [[splitPlan]] and the q118
    * leakage audit — one definition of the carve, so an audit can never
    * drift from the export it audits. Each row's md5-derived uniform picks
    * its split from explicit cumulative UPPER BOUNDS (e.g. train < 0.9 ≤
    * val < 0.95 ≤ rest): membership is a pure function of the id — stable
    * across engines, replays, repartitions, and corpus growth (a doc never
    * hops splits when other docs arrive — the property a random split
    * lacks). Bounds are caller-supplied literals, not accumulated
    * fractions, so an oracle compares against the identical doubles. */
  def splitAssign(idCol: Column, bounds: Seq[(String, Double)],
                  lastSplit: String): Column = {
    val cuts = bounds.map(_._2)
    require(cuts.forall(c => c > 0.0 && c < 1.0),
      s"split bounds must lie strictly inside (0,1): $cuts")
    require(cuts.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
      s"bounds must strictly ascend (a duplicate cut shadows a split): $cuts")
    val names = bounds.map(_._1) :+ lastSplit
    require(names.distinct == names, s"split names must be distinct: $names")
    val u = Sketches.hash60(idCol) / lit((1L << 60).toDouble)
    bounds.foldRight(lit(lastSplit)) { case ((name, cut), els) =>
      when(u < lit(cut), lit(name)).otherwise(els)
    }
  }

  /** Deterministic train/val/test split assignment + per-split sizing — the
    * holdout-carving step of a training-data export ([[splitAssign]] + one
    * narrow projection + a |splits|-group aggregate). */
  def splitPlan(df: DataFrame, idCol: String, textCol: String,
                bounds: Seq[(String, Double)], lastSplit: String): DataFrame =
    df.select(splitAssign(col(idCol), bounds, lastSplit).as("split"),
        (length(col(textCol)) -
          length(replace(col(textCol), lit(" "), lit(""))) + 1)
          .cast("bigint").as("__toks"),
        length(col(textCol)).cast("bigint").as("__chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"))

  /** Deterministic sharded training order — the reproducible "global
    * shuffle" an LLM training run needs: every example gets a (shard,
    * position) address that is a pure function of its id, so any worker
    * can materialize its shard independently and a re-run (or an elastic
    * re-schedule) reads the identical order. Shard = id-hash mod nShards;
    * position = rank of a SECOND, independent id-hash within the shard
    * (salted so shard-mates are not ordered by the same bits that
    * co-located them). Output: id, shard, pos (1-based within shard).
    *
    * Scale design: the only state is one rank window PARTITIONED BY SHARD
    * — never a global order. nShards is the caller's parallelism knob:
    * sized so a shard (corpus / nShards) fits an executor's sort spill
    * budget, exactly how a training-data export sizes its output files.
    * At 100 TB with nShards = O(corpus / 1 GB) the window sees ~1 GB per
    * partition regardless of corpus size. */
  def trainOrder(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("__ord").asc, col(idCol).asc)
    df.select(col(idCol),
        (Sketches.hash60(col(idCol)) % nShards).as("shard"),
        Sketches.hash60(concat(col(idCol).cast("string"), lit("#ord"))).as("__ord"))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Data-constrained epoch allocation: given a total training-token
    * `budget` and a per-source repeat ceiling `maxEpochs`, decide how many
    * epochs of each source to train on. Small high-value sources get
    * upsampled toward their temperature-mix share until the epoch cap bites
    * (the data-constrained-scaling regime: repeating a source only helps up
    * to a few epochs), and the budget freed by capped sources is
    * redistributed to uncapped ones in ONE redistribution round —
    * deterministic and closed-form, not an iterative water-fill; the
    * residual after one round is reported in the output rather than chased.
    *
    * Target shares use the sqrt-mass temperature weights of
    * [[temperatureMix]] (alpha = 0.5). All shares and sums are assembled
    * from micro-unit BIGINTs (exact, associative); doubles appear only in
    * final per-row formulas — the engine's standard determinism discipline.
    *
    * Output per source: n_tokens, p_target (temperature share),
    * epochs (final, ≤ maxEpochs), alloc_tokens (= epochs · n_tokens),
    * capped flag.
    *
    * Plan: one narrow scan → per-source aggregate (one row per source),
    * then two 1-row roll-ups of that table broadcast back — the q164
    * scalar-broadcast pattern. The data is read once; everything after
    * runs on the source table. */
  def epochAllocation(df: DataFrame, groupCol: String, textCol: String,
                      budget: Long, maxEpochs: Double): DataFrame = {
    require(budget > 0 && maxEpochs > 0, "budget and maxEpochs must be positive")
    val mass = df
      .select(col(groupCol), (length(col(textCol)) -
          length(replace(col(textCol), lit(" "), lit(""))) + 1)
          .cast("bigint").as("__toks"))
      .groupBy(col(groupCol))
      .agg(sum(col("__toks")).as("n_tokens"))
      .withColumn("__w_mu",
        expr("CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)"))
    val totW = mass.agg(sum(col("__w_mu")).as("__tw"))
    // round 1: proportional target, capped at maxEpochs
    val r1 = mass.crossJoin(broadcast(totW))
      .withColumn("p_target",
        col("__w_mu").cast("double") / col("__tw").cast("double"))
      .withColumn("__e1", least(lit(maxEpochs),
        col("p_target") * lit(budget.toDouble) / col("n_tokens").cast("double")))
      .withColumn("capped", col("__e1") >= lit(maxEpochs))
      // micro-unit quantized allocation so the roll-up sum is exact BIGINT
      .withColumn("__alloc1_mu", expr(
        "CAST(round(__e1 * CAST(n_tokens AS DOUBLE) * 1e6) AS BIGINT)"))
    val spent = r1.agg(sum(col("__alloc1_mu")).as("__spent_mu"),
      sum(when(!col("capped"), col("__w_mu"))).as("__w_uncapped"))
    // round 2: hand the capped sources' unspent budget to uncapped ones,
    // proportional to their temperature weight, re-capped at maxEpochs
    r1.crossJoin(broadcast(spent))
      .withColumn("__left", greatest(lit(0.0),
        lit(budget.toDouble) - col("__spent_mu").cast("double") / lit(1e6)))
      .withColumn("epochs", when(col("capped") || col("__w_uncapped").isNull,
          col("__e1"))
        .otherwise(least(lit(maxEpochs), col("__e1") +
          col("__left") * (col("__w_mu").cast("double") /
            col("__w_uncapped").cast("double")) / col("n_tokens").cast("double"))))
      .select(col(groupCol), col("n_tokens"),
        round(col("p_target"), 9).as("p_target"),
        round(col("epochs"), 9).as("epochs"),
        expr("CAST(round(round(epochs, 9) * CAST(n_tokens AS DOUBLE)) AS BIGINT)")
          .as("alloc_tokens"),
        col("capped"))
  }

  /** Morton/Z-order interleave of the low `bits` bits of two columns — the
    * multi-dimensional clustering key: sorting by it keeps rows close in
    * BOTH dimensions close in the file layout, so file/row-group min-max
    * stats prune range queries on EITHER column (a single-column sort only
    * prunes its own column). Pure bit arithmetic (codegen'd, engine-
    * reproducible — the oracle unrolls the same 2·bits terms). */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    val xs = x.cast("bigint").bitwiseAND(lit((1L << bits) - 1))
    val ys = y.cast("bigint").bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { i =>
      shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order-clustered write: range-partition on the Morton key into
    * `nFiles` files, sort within each, drop the key. The layout makes
    * min-max file skipping effective on both clustering columns at once —
    * the ScaleSpec measures the file-pruning win directly. */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, outDir: String,
                  nFiles: Int, bits: Int): Unit =
    df.withColumn("__z", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)

  /** Materialize the corpus as sharded JSON-Lines — the standard training-
    * data interchange format: one `shard=K/` directory per shard, each row
    * one JSON object of all input columns. The shard is [[shardPlan]]'s
    * assignment (`hash60(id) % nShards`) so the manifest q105 reports is
    * the export that actually lands, and membership is a pure function of
    * the id (replays and backfills rewrite the same shard, never shuffle a
    * doc across shards).
    *
    * Scale notes: `partitionBy` + repartition on the shard key writes each
    * shard from its own tasks (no driver funnel); text rows are
    * gzip-compressed. Returns the number of rows written (from a count on
    * the input — the write itself is action enough at scale; callers
    * wanting exactly-once pair this with the ledger idempotency pattern in
    * `pipeline/IncrementalAgg`). */
  def exportJsonlShards(df: DataFrame, idCol: String, outDir: String,
                        nShards: Int): Long = {
    require(nShards > 0, "nShards must be positive")
    val withShard = df
      .withColumn("shard", Sketches.hash60(col(idCol)) % nShards)
      .withColumn("__json", to_json(struct(df.columns.map(col): _*)))
    withShard
      .repartition(col("shard"))
      .select(col("shard"), col("__json"))
      .write.mode("overwrite").partitionBy("shard")
      .option("compression", "gzip")
      .text(outDir)
    df.count()
  }

  /** Data-skipping effectiveness audit: simulate file-level min/max
    * pruning (the parquet row-group / Delta file-stats mechanism) for a
    * predicate `valueCol > threshold` against a declared file grouping.
    * Per group: row count, min/max of the column, and whether its stats
    * alone prove the predicate empty (max <= threshold → the whole file
    * never opens); plus each group's share of total rows — summing the
    * skippable shares gives the scan fraction a clustered layout saves,
    * the measurement behind the q210 Z-order choice.
    *
    * One keyed aggregate + one 1-row total broadcast; the audit never
    * touches more than |groups| rows after the scan. */
  def skippingAudit(df: DataFrame, groupCol: Column, valueCol: String,
                    threshold: Double): DataFrame = {
    val stats = df.groupBy(groupCol.as("file_group"))
      .agg(count(lit(1)).as("n_rows"), min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))
    stats.crossJoin(broadcast(stats.agg(sum(col("n_rows")).as("__tot"))))
      .select(col("file_group"), col("n_rows"), col("min_v"), col("max_v"),
        (col("max_v") <= lit(threshold)).as("skippable"),
        (col("n_rows").cast("double") / col("__tot")).as("row_share"))
  }

  /** Compaction planner — the DRY-RUN sibling of [[compact]]: per
    * partition key, row count, estimated bytes (rows × an avg-row-bytes
    * estimate measured from a declared width expression), and the
    * planned output file count ceil(bytes / target). The small-file
    * report a table-maintenance service reviews before rewriting
    * anything; pure aggregates, no filesystem access, no writes. */
  def compactionPlan(df: DataFrame, partCol: Column, rowBytes: Column,
                     targetFileBytes: Long): DataFrame =
    df.groupBy(partCol.as("part"))
      .agg(count(lit(1)).as("n_rows"), sum(rowBytes).as("est_bytes"))
      .select(col("part"), col("n_rows"), col("est_bytes"),
        greatest(lit(1L),
          ceil(col("est_bytes").cast("double") / lit(targetFileBytes.toDouble))
            .cast("bigint")).as("planned_files"))

  /** Exact-k weighted sampling WITHOUT replacement per group — the A-Res
    * reservoir (Efraimidis–Spirakis): each row draws a deterministic
    * uniform u from its id hash and ranks by the exponential key
    * -ln(u)/w; the k smallest keys per group are a true weighted sample.
    * The Bernoulli sampler (q79) gives an EXPECTED rate; this gives an
    * exact count — the quota-filling primitive behind "5 exemplar docs
    * per language, length-weighted".
    *
    * Scale: the per-group selection is a cap-bounded TopKAgg — O(k) state
    * per (group, map task), no rank window, the q102 posture. Determinism:
    * u = (hash60(id)+1)/2^60 is engine-independent; the ln-touched key
    * quantizes to integer micro-units BEFORE ranking, so the order
    * (key_mu, id) is exact integer comparison on both engines.
    * Output: (group, rank 1..k, id, key_mu); weights join back by id. */
  def weightedReservoir(df: DataFrame, groupCol: String, idCol: String,
                        weight: Column, k: Int): DataFrame = {
    val topk = graft.functions.TopKAgg.columnAgg(k)
    val u = (Sketches.hash60(col(idCol)) + lit(1L)) / lit((1L << 60).toDouble)
    df.withColumn("__w", weight.cast("double"))
      .withColumn("__key_mu",
        round(-log(u) / col("__w") * lit(1e6)).cast("bigint"))
      .select(col(groupCol), col(idCol), col("__w"), col("__key_mu"))
      .groupBy(col(groupCol))
      .agg(topk(-col("__key_mu").cast("double"), col(idCol).cast("long"))
        .as("__tk"))
      .select(col(groupCol), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col(groupCol), (col("__pos") + 1).cast("bigint").as("rank"),
        col("__e._2").as(idCol),
        (-col("__e._1")).cast("bigint").as("key_mu"))
  }

  /** Kish effective sample size per group: ESS = (Σw)²/Σw² of an
    * integer weight column (Kish 1965) — "my weighted corpus is really
    * only N documents": the design-effect audit any importance-weighted
    * mix (q123's temperature weights, q151's DSIR weights) owes its
    * training-budget math, since a handful of huge weights can hollow a
    * million rows down to a few thousand effective ones.
    *
    * One keyed aggregate of exact BIGINT Σw and Σw²; ESS and the
    * ess/n efficiency ratio are two fixed-order double divisions.
    * Output: (groupCol, n, sum_w, sum_w2, ess, efficiency). */
  def kishEss(df: DataFrame, groupCol: String,
              weightCol: org.apache.spark.sql.Column): DataFrame = {
    val w = weightCol.cast("bigint")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(w).as("sum_w"),
        sum(w * w).as("sum_w2"))
      .select(col(groupCol), col("n"), col("sum_w"), col("sum_w2"),
        (col("sum_w").cast("double") * col("sum_w").cast("double") /
          col("sum_w2").cast("double")).as("ess"),
        (col("sum_w").cast("double") * col("sum_w").cast("double") /
          col("sum_w2").cast("double") / col("n").cast("double"))
          .as("efficiency"))
  }

  /** Greedy max-coverage document selection (the CELF/lazy-greedy
    * textbook objective at its exact form): pick up to k documents
    * maximizing the marginal number of NEW distinct coverage items each
    * adds — the (1 − 1/e)-approximate submodular cover that
    * data-selection pipelines run when the budget is "k exemplar docs"
    * and the utility is coverage of a discrete universe (trigram phrases
    * in q340 — the raw 31-word testdata vocabulary is covered by a
    * single doc, so the phrase universe is where the greedy actually
    * works). The discrete dual of [[Similarity.kcenterCoreset]]'s
    * space-spanning picks.
    *
    * Input: (id, item) pair rows (duplicates fine — deduped here).
    * Output: one row per pick — (rnk 1..≤k, doc_id, gain = new items
    * contributed at selection, covered_total = distinct items covered
    * AFTER the pick). Stops early when every item is covered (a fully
    * covered doc has zero marginal gain and by construction never
    * re-enters the candidate aggregate).
    *
    * Deterministic: gains are exact distinct counts, argmax ties break
    * to the smaller doc_id, so a SQL oracle unrolls the identical
    * rounds. Scale: each round is ONE anti-join of the (doc, item)
    * pairs against the covered-item table (item-keyed — at warehouse
    * scale the covered side is the smaller, broadcast or bucketed) +
    * ONE per-doc count and a 1-row argmax; the covered table grows by
    * the pick's items only and is localCheckpoint'd per round, k
    * bounded passes total — never pairwise across documents. */
  def maxCoverageSelect(pairs: DataFrame, idCol: String, itemCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    val tok = pairs.select(col(idCol).cast("bigint").as("id"),
      col(itemCol).as("token"))
      .distinct().localCheckpoint(true)
    // empty seed carved from tok itself so the covered table's item type
    // always matches (hardcoding StringType failed analysis for any
    // non-string itemCol on the first anti-join)
    var covered = tok.where(lit(false)).select(col("token"))
    val picks = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long)]
    var coveredTotal = 0L
    var done = false
    var r = 1
    while (r <= k && !done) {
      val sel = tok.join(covered, Seq("token"), "left_anti")
        .groupBy(col("id")).agg(count(lit(1)).as("gain"))
        .agg(max(struct(col("gain").as("g"), (-col("id")).as("nid"))).as("m"))
        .select(col("m.g"), col("m.nid")).head()
      if (sel.isNullAt(0)) done = true
      else {
        val (gain, selId) = (sel.getLong(0), -sel.getLong(1))
        // the anti-join only tests membership, so the covered side can
        // carry a pick's already-covered duplicates — no distinct needed;
        // and since a gain counts exactly the NEW items, the covered
        // total is the running gain sum — no count job needed
        covered = covered
          .unionByName(tok.where(col("id") === selId).select(col("token")))
          .localCheckpoint(true)
        coveredTotal += gain
        picks += ((r.toLong, selId, gain, coveredTotal))
        r += 1
      }
    }
    picks.result().toDF("rnk", "doc_id", "gain", "covered_total")
  }

  /** UniMax epoch-capped budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling" — public
    * paper): split a token budget B across sources as UNIFORMLY as
    * possible subject to the per-source cap of `epochCap` = 2 epochs —
    * allocation_i = min(epochCap·s_i, L) with the water level L the
    * LARGEST integer with Σ_i min(cap_i, L) ≤ B. The fairness-first
    * alternative to q123's temperature sampling (which still
    * over-samples heads) and q94's fixed quotas: small sources get up to
    * epochCap full epochs, large sources split the remainder evenly.
    * B = ts·1/2 of the corpus's total token count, so
    * the whole computation is exact integers derived from the data.
    *
    * Exact waterfilling, no iteration: on the cap VALUE GRID (distinct
    * cap values with prefix counts k and prefix sums p — bounded by
    * |sources|), every segment's candidate ⌊(B − p)/(n − k)⌋ is a lower
    * bound of L* (the segment's affine Σ-formula upper-bounds the true
    * one beyond its range), and the segment containing L* attains it —
    * so L* = max over segments (plus the empty prefix) of the candidate.
    * Segments with p > B are dropped: the k = 0 candidate ≥ 0 always
    * survives, and the guard keeps every evaluated division nonnegative
    * (negative integer division rounds differently across engines).
    *
    * Output per source: n_tokens, cap, allocation, epochs (house exact
    * half-up 6-dp of allocation/n_tokens). Leftover budget = B − Σ
    * allocation is the under-cap residue (≤ n − 1 unless every source
    * capped). Scale: one source-keyed aggregate over the corpus, then
    * grid-bounded arithmetic + two 1-row broadcasts. */
  def unimaxMix(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val (epochCap, budgetNum, budgetDen) = (2, 1, 2)
    val per = docs.groupBy(col(srcCol).as("source"))
      .agg(sum(size(split(coalesce(col(textCol), lit("")), " ")))
        .cast("long").as("s"))
    waterfillAlloc(per, epochCap, budgetNum, budgetDen)
      .select(col("source"), col("s").as("n_tokens"), col("cap"),
        col("allocation"),
        // 2·alloc·1e6 wraps BIGINT once a source holds > ~4.6e12 tokens
        // — below the 100 TB design point — so the rational evaluates in
        // DECIMAL(38,0) (oracle: HUGEINT); value-neutral under 2^63
        (expr("CAST((CAST(2 AS DECIMAL(38,0)) * allocation * 1000000 + s)" +
            " DIV (2 * s) AS BIGINT)")
          .cast("double") / lit(1e6)).as("epochs"))
  }

  /** The ONE exact UniMax waterfill (the q355 chain, shared verbatim by
    * [[unimaxMix]] and [[dataConstrainedMix]] so the level semantics can
    * never drift): per (source, s) compute cap = epochCap·s, the cap
    * VALUE-GRID prefix segments, L* = max over nonneg-guarded segment
    * candidates, allocation = min(cap, L*). Budget = ts·budgetNum DIV
    * budgetDen — budgetNum MAY exceed budgetDen (a data-constrained run
    * repeats the corpus, so the budget exceeds one epoch of it).
    * Output: (source, s, cap, allocation). */
  private[graft] def waterfillAlloc(per: DataFrame, epochCap: Int,
                                    budgetNum: Int, budgetDen: Int)
  : DataFrame = {
    require(epochCap >= 1 && budgetNum > 0 && budgetDen > 0,
      "need epochCap >= 1 and positive budget fraction")
    val caps = CacheScope.persist(
      per.select(col("source"), col("s"), (col("s") * epochCap).as("cap")))
    val tot = caps.agg(sum(col("s")).as("ts"), count(lit(1)).as("n"))
    val grid = caps.groupBy(col("cap"))
      .agg(count(lit(1)).as("__c"), sum(col("cap")).as("__sc"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cap"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val segs = grid
      .select(sum(col("__c")).over(w).as("k"), sum(col("__sc")).over(w).as("p"))
      .unionByName(grid.agg(lit(0L).as("k"), lit(0L).as("p")))
    val lvl = segs.crossJoin(broadcast(tot))
      .where(col("k") < col("n") &&
        expr(s"ts * $budgetNum DIV $budgetDen") >= col("p"))
      .agg(max(expr(s"(ts * $budgetNum DIV $budgetDen - p) DIV (n - k)"))
        .as("lvl"))
    caps.crossJoin(broadcast(lvl))
      .select(col("source"), col("s"), col("cap"),
        least(col("cap"), col("lvl")).as("allocation"))
  }

  /** The data-constrained recipe's epoch cap per source; its budget is
    * twice the corpus. */
  private val dcEpochCap = 4

  /** The per-epoch marginal-value grid behind [[dataConstrainedMix]],
    * shared VERBATIM with the oracle SQL builder (both sides embed the
    * same driver-computed micro constants, so libm exp can never
    * diverge between engines). Entry j (0-based, j = 0..epochCap):
    * (m = epochs fully used, cum_mu = Σ_{e<=m} δ_mu(e),
    * nxt_mu = δ_mu(m+1)) where δ_mu(1) = 1e6 (fresh tokens at full
    * value) and δ_mu(e) = round(1e6·R*·(exp(−(e−2)/R*) −
    * exp(−(e−1)/R*))) for e ≥ 2 — the discrete marginal effective-data
    * mass of the e-th epoch under Muennighoff et al. 2023's decay
    * D'(R) = U + U·R*·(1 − exp(−R/R*)), R = epochs − 1, with
    * epochCap = [[dcEpochCap]] and R* = 15.4. */
  private[graft] val muennighoffGrid: Seq[(Long, Long, Long)] = {
    val rStar = 15.4
    def dMu(e: Int): Long =
      if (e <= 1) 1000000L
      else math.round(1e6 * rStar *
        (math.exp(-(e - 2) / rStar) - math.exp(-(e - 1) / rStar)))
    val deltas = (1 to (dcEpochCap + 1)).map(dMu)
    val cums = deltas.scanLeft(0L)(_ + _)
    (0 to dcEpochCap).map(j => (j.toLong, cums(j), deltas(j)))
  }

  /** Data-constrained scaling allocation (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models" — public paper): the
    * q355 UniMax waterfill with the repeats DISCOUNTED by the paper's
    * value-decay law. Under a token budget that EXCEEDS one epoch of
    * the corpus, each source's allocation spans m full epochs plus a
    * fractional (m+1)-th; fresh tokens count at full value and the
    * e-th repeat epoch at its decayed marginal δ(e) (the
    * [[muennighoffGrid]] constants, R* = 15.4 the paper's fit), the
    * fractional epoch linearly at its epoch's rate — the house
    * piecewise-linear image of D'(R) = U·(1 + R*·(1 − exp(−R/R*))).
    *
    * Output per source: n_tokens, cap, allocation, epochs (the q355
    * 6-dp rational), eff_tokens (half-up integer effective tokens D'),
    * eff_epochs (6-dp D'/U — the "effective epochs" a corpus card
    * reports), repeat_efficiency (6-dp D'/allocation — 1.0 when
    * nothing repeats, decaying as repeats dominate;
    * 0 when the source got nothing). Everything after the waterfill is
    * exact integer arithmetic on DECIMAL(38,0)/HUGEINT (s·cum_mu wraps
    * BIGINT at ~9.2e12 tokens/source — the q355 wrap guard), so the
    * engines can never diverge.
    *
    * Scale: ONE source-keyed aggregate over the corpus + the q355
    * grid-bounded waterfill + an (epochCap+1)-row broadcast join. */
  def dataConstrainedMix(docs: DataFrame, srcCol: String, textCol: String)
  : DataFrame = {
    val per = docs.groupBy(col(srcCol).as("source"))
      .agg(sum(size(split(coalesce(col(textCol), lit("")), " ")))
        .cast("long").as("s"))
    dataConstrainedFrom(per)
  }

  /** [[dataConstrainedMix]] over a prebuilt (source, s) token-mass frame
    * — the form [[dedupAwareMixFrom]] feeds with DEDUPLICATED masses. */
  def dataConstrainedFrom(per: DataFrame): DataFrame = {
    val alloc = waterfillAlloc(per, dcEpochCap, budgetNum = 2, budgetDen = 1)
    val gridRows = muennighoffGrid
    val gridDf = alloc.sparkSession.range(1)
      .select(explode(array(gridRows.map { case (m, c, nx) =>
        struct(lit(m).as("__m"), lit(c).as("__cum"), lit(nx).as("__nxt"))
      }: _*)).as("g"))
      .select(col("g.__m").as("__m"), col("g.__cum").as("__cum"),
        col("g.__nxt").as("__nxt"))
    alloc.withColumn("__mf", expr("allocation DIV s"))
      .join(broadcast(gridDf), col("__mf") === col("__m"))
      .withColumn("__dmu", expr(
        "CAST(s AS DECIMAL(38,0)) * __cum" +
          " + CAST(allocation - __mf * s AS DECIMAL(38,0)) * __nxt"))
      .select(col("source"), col("s").as("n_tokens"), col("cap"),
        col("allocation"),
        (expr("CAST((CAST(2 AS DECIMAL(38,0)) * allocation * 1000000 + s)" +
            " DIV (2 * s) AS BIGINT)")
          .cast("double") / lit(1e6)).as("epochs"),
        expr("CAST((2 * __dmu + 1000000) DIV 2000000 AS BIGINT)")
          .as("eff_tokens"),
        (expr("CAST((2 * __dmu + s) DIV (2 * CAST(s AS DECIMAL(38,0))) AS BIGINT)")
          .cast("double") / lit(1e6)).as("eff_epochs"),
        when(col("allocation") === 0L, lit(0.0)).otherwise(
          expr("CAST((2 * __dmu + allocation) DIV" +
              " (2 * CAST(allocation AS DECIMAL(38,0))) AS BIGINT)")
            .cast("double") / lit(1e6)).as("repeat_efficiency"))
  }

  /** Dedup-DISCOUNTED data-constrained allocation — the shelf closure:
    * how many epochs is each source worth AFTER exact-substring dedup?
    * [[graft.operators.TextDedup.exactSubstringDedupFrom]] (Lee et al. 2022)
    * prices each source's duplicated token mass; the UNIQUE mass
    * U_s = raw − removed is what Muennighoff et al. 2023's repeat-value
    * decay actually applies to (repeating a corpus whose duplicates were
    * never removed double-counts the dup mass at full fresh-token value
    * — the composition the two papers' recipes assume but no single
    * operator here expressed). The q386 grid/waterfill machinery runs
    * verbatim on U_s ([[dataConstrainedFrom]]).
    *
    * Sources whose unique mass is ZERO (every token removed — possible
    * only when a source is a verbatim copy of another) are EXCLUDED:
    * epochs of nothing cannot be allocated, and m = a DIV s diverges
    * between engines at s = 0 (Spark NULL vs DuckDB error — the
    * documented divergence class the guard exists for).
    *
    * Output per source: n_raw_tokens, n_dup_tokens, then the full q386
    * column set computed on the unique mass (n_tokens = U_s, cap,
    * allocation, epochs, eff_tokens, eff_epochs, repeat_efficiency).
    * Scale: the q377 removal price (linear in duplicated mass) + one
    * source-keyed rollup + the grid-bounded q386 chain.
    *
    * `perDoc` is [[graft.operators.TextDedup.exactSubstringDedupFrom]]'s
    * output (q391/q398 consume one session-shared build). */
  def dedupAwareMixFrom(docs: DataFrame, idCol: String, srcCol: String,
                        perDoc: DataFrame): DataFrame = {
    val per = CacheScope.persist(docs
      .select(col(idCol).cast("long").as("doc_id"), col(srcCol).as("source"))
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n_raw_tokens"),
        sum(col("n_tokens_removed")).as("n_dup_tokens"),
        (sum(col("n_tokens")) - sum(col("n_tokens_removed"))).as("s"))
      .where(col("s") > 0L))
    dataConstrainedFrom(per.select(col("source"), col("s")))
      .join(per.select(col("source"), col("n_raw_tokens"),
        col("n_dup_tokens")), Seq("source"))
      .select(col("source"), col("n_raw_tokens"), col("n_dup_tokens"),
        col("n_tokens"), col("cap"), col("allocation"), col("epochs"),
        col("eff_tokens"), col("eff_epochs"), col("repeat_efficiency"))
  }

  /** SOFT-weighted data-constrained allocation — the q388 → q386
    * composition (Xia et al. 2024's SoftDedup reweighting used as the
    * allocation input, the recipe's intended downstream): each source's
    * effective mass is its WEIGHTED token sum Σ_docs w_d · tokens_d
    * (common/duplicated documents shrink the source, rare ones grow
    * it), and the Muennighoff grid/waterfill ([[dataConstrainedFrom]])
    * allocates epochs on that soft mass instead of the raw count.
    *
    * `weights` is the (idCol, loss_weight) frame from
    * [[graft.operators.TextLm.softDedupWeights]] (injectable — the
    * session-shared KN inventory feeds it); its 6-dp loss_weight's
    * integer image is recovered once (round(w·1e6), the q381 xent
    * precedent) and the per-source mass is the exact half-up BIGINT of
    * Σ wmu·tokens / 1e6, summed in DECIMAL(38,0) (wmu·tokens reaches
    * ~1e19 at 100 TB — past BIGINT). Only the SCORED population
    * contributes (docs with < 2 tokens carry no bigram, no weight, no
    * mass — the q378 contract); sources whose soft mass rounds to ZERO
    * are excluded (the q391 s = 0 divergence guard).
    *
    * Output per source: n_raw_tokens (scored-population raw sum), then
    * the full q386 column set on the soft mass (n_tokens = soft mass,
    * cap, allocation, epochs, eff_tokens, eff_epochs,
    * repeat_efficiency).
    *
    * Scale: one doc-keyed join (weights are |docs| rows) + ONE
    * source-keyed aggregate + the grid-bounded q386 chain — nothing
    * new touches text beyond the token count.
    *
    * Building the weights costs the softDedupWeights/KN-inventory pass
    * (type-bounded model, corpus-linear scan); in the suite they ride
    * the session-shared KN doc-bigram inventory. */
  def softWeightedMix(docs: DataFrame, idCol: String, srcCol: String,
                      textCol: String, weights: DataFrame): DataFrame = {
    val wmu = weights.select(col(idCol),
      expr("CAST(round(loss_weight * 1e6) AS BIGINT)").as("__wmu"))
    val per = CacheScope.persist(docs
      .select(col(idCol), col(srcCol).as("source"),
        size(split(coalesce(col(textCol), lit("")), " "))
          .cast("long").as("__nt"))
      .join(wmu, Seq(idCol))
      .groupBy(col("source"))
      .agg(sum(col("__nt")).as("n_raw_tokens"),
        expr("CAST((2 * sum(CAST(__wmu AS DECIMAL(38,0)) * __nt)" +
          " + 1000000) DIV 2000000 AS BIGINT)").as("s"))
      .where(col("s") > 0L))
    dataConstrainedFrom(per.select(col("source"), col("s")))
      .join(per.select(col("source"), col("n_raw_tokens")), Seq("source"))
      .select(col("source"), col("n_raw_tokens"), col("n_tokens"),
        col("cap"), col("allocation"), col("epochs"), col("eff_tokens"),
        col("eff_epochs"), col("repeat_efficiency"))
  }

  /** Allocation ABLATION across the three discount paths — the decision
    * table a mixing run consults before picking its recipe: per source,
    * the [[dataConstrainedMix]] allocation on the RAW mass, the
    * [[dedupAwareMixFrom]] allocation on the post-dedup UNIQUE mass (Lee et
    * al. 2022 × Muennighoff et al. 2023), and the [[softWeightedMix]]
    * allocation on the SoftDedup-weighted mass (Xia et al. 2024) — each
    * chain run VERBATIM as it would standalone (each waterfills its own
    * 2× budget over its own mass; the ablation compares the recipes,
    * not a shared budget — documented contract). Sources a discount
    * path EXCLUDES (zero unique/soft mass) carry NULLs on that path's
    * columns; the raw path is the spine.
    *
    * Output per source: n_tokens (raw), alloc_raw, eff_epochs_raw,
    * unique_tokens, alloc_dedup, eff_epochs_dedup, soft_tokens,
    * alloc_soft, eff_epochs_soft.
    *
    * Scale: pure composition — the q386 source aggregate + grid chain,
    * the q391 removal chain (linear in duplicated mass), the q394
    * weights join; the final assembly is two source-keyed left joins
    * over |sources|-row frames. Priced by its constituents (q386 / the
    * q377 removal / the KN inventory). `perDoc` is
    * [[graft.operators.TextDedup.exactSubstringDedupFrom]]'s output (the
    * dedup leg consumes the session-shared q377 build). */
  def allocationAblationFrom(docs: DataFrame, idCol: String,
                             textCol: String, srcCol: String,
                             weights: DataFrame, perDoc: DataFrame)
  : DataFrame = {
    val raw = dataConstrainedMix(docs, srcCol, textCol)
      .select(col("source"), col("n_tokens"),
        col("allocation").as("alloc_raw"),
        col("eff_epochs").as("eff_epochs_raw"))
    val ded = dedupAwareMixFrom(docs, idCol, srcCol, perDoc)
      .select(col("source"), col("n_tokens").as("unique_tokens"),
        col("allocation").as("alloc_dedup"),
        col("eff_epochs").as("eff_epochs_dedup"))
    val soft = softWeightedMix(docs, idCol, srcCol, textCol, weights)
      .select(col("source"), col("n_tokens").as("soft_tokens"),
        col("allocation").as("alloc_soft"),
        col("eff_epochs").as("eff_epochs_soft"))
    raw.join(ded, Seq("source"), "left").join(soft, Seq("source"), "left")
  }
}
