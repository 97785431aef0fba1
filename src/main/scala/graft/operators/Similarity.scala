package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Numeric determinism: every float is cast to double up front (exact), all
  * products/sums are double IEEE ops, and the dot product is a *sequential
  * left fold* (`aggregate` with 0.0 init) — the same order a single-node SQL
  * oracle folds in — so cosine scores are reproducible bit-for-bit across
  * partition counts and engines.
  *
  * Scale design (100 TB): brute force is O(|Q|x|C|) and is the correctness
  * baseline — the query side must be bounded (it is broadcast). The scale path
  * is [[lshKnn]]: candidates are generated only inside sign-LSH buckets, so
  * the join is hash-partitioned on the bucket key instead of a cross product.
  */
object Similarity {

  import graft.functions.VectorFunctions.dot_d

  /** Embeddings with double-cast vector and its L2 norm (norm = sqrt of the
    * codegen'd self dot product — same sequential fold as the oracle). */
  private def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("nrm", sqrt(dot_d(col("emb"), col("emb"))))

  private val dot = dot_d(col("q_emb"), col("c_emb"))

  /** Cosine of a (q_emb, c_emb) pair over its norms (q_nrm, c_nrm). */
  private val cosine = dot / (col("q_nrm") * col("c_nrm"))

  /** The k best (query_id, neighbor_id) pairs per query by cosine, ties to
    * the smaller neighbor, as (query_id, rnk, neighbor_id, cos_sim). */
  private def rankedCosine(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs.where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** The window-free form of [[rankedCosine]] over pairs already without
    * self-pairs: one bounded [[graft.functions.TopKAgg]] per query. */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs.withColumn("cos", cosine)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.columnAgg(k)(col("cos"), col("neighbor_id").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rnk"),
        col("col._2").as("neighbor_id"), round(col("col._1"), 6).as("cos_sim"))

  /** The `n` highest-`score` neighbor_ids per query_id: a re-rank pool. */
  private def candidatePool(scored: DataFrame, score: Column, n: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.columnAgg(n)(score, col("neighbor_id").cast("long")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t._2").as("neighbor_id"))

  /** The product-quantization re-rank: the `nCandidates` smallest summed
    * ADC distances (`adc_mu`) per query, re-scored by exact cosine over
    * `n`, the [[withNorm]] frame. */
  private def adcRerank(adc: DataFrame, n: DataFrame, idCol: String,
                        queryPred: Column, k: Int, nCandidates: Int): DataFrame = {
    // smaller ADC distance = better: negate for the max-first aggregate
    val cands = candidatePool(adc, (-col("adc_mu")).cast("double"), nCandidates)
    val q = n.where(queryPred).select(col(idCol).as("query_id"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val c = n.select(col(idCol).as("neighbor_id"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    cosineTopK(cands.join(broadcast(q), "query_id").join(c, "neighbor_id"), k)
  }

  /** Exact top-k cosine neighbors for each query vector (queries = rows of
    * `emb` matching `queryPred`). Output: query_id, rnk, neighbor_id, cos_sim
    * (rounded to 6 dp). Query side is broadcast: |Q| must be small/bounded. */
  def bruteForceKnn(emb: DataFrame, idCol: String, vecCol: String,
                    queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val q = n.where(queryPred)
      .select(col(idCol).as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val c = n.select(col(idCol).as("neighbor_id"), col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    rankedCosine(broadcast(q).crossJoin(c), k)
  }

  /** Deterministic sign-LSH bucket id over the first 4 dimensions —
    * MUST stay aligned with the DuckDB oracles of q34/q45. */
  private def signBucket = expr(
    "aggregate(transform(sequence(1, 4), " +
    "j -> IF(element_at(emb, j) > CAST(0 AS DOUBLE), shiftleft(1, j-1), 0)), 0, (a,x) -> a+x)")

  /** Embedding-cosine near-duplicate PAIRS (the dedup-flavored output, vs the
    * per-query top-k of the knn methods): all pairs sharing a sign-LSH bucket
    * with cosine >= threshold, each unordered pair once (id_a < id_b).
    * Bucketed — the join shuffles on the bucket key, never a cross product. */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double): DataFrame = {
    val n = withNorm(emb, idCol, vecCol).withColumn("bucket", signBucket)
    val a = n.select(col("bucket"), col(idCol).as("id_a"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val b = n.select(col("bucket"), col(idCol).as("id_b"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    a.join(b, "bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", cosine)
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Maximal-Marginal-Relevance rerank (Carbonell & Goldstein, SIGIR
    * 1998): per query, greedily select `k` of its top-`m` cosine
    * candidates maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    * selected — the diversity-aware retrieval stage that plain top-k
    * (q33) lacks: near-duplicate hits crowd a result list top-k cannot
    * fix. The first pick scores pure relevance.
    *
    * Determinism: relevance and pairwise sims carry the file's 6-dp
    * cosine discipline; λ = 0.5 and the score 0.5·rel − 0.5·msim are
    * exact double ops on those 6-dp values; ties break by candidate id.
    * The oracle replays the greedy rounds as unrolled CTEs.
    *
    * Scale: the query batch is bounded (queryPred — the q33 contract);
    * per query the candidate set is m rows and the pair-sim table m²,
    * so each of the k greedy rounds is a bounded keyed join + a rank
    * window over ≤ m rows per query partition. Rounds are checkpointed
    * (the PageRank lineage discipline). Output:
    * (query_id, mmr_rank, neighbor_id, score). */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: org.apache.spark.sql.Column, m: Int, k: Int): DataFrame = {
    val lambda = 0.5
    require(k >= 1 && m >= k, "need m >= k >= 1")
    def save(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val cand = save(bruteForceKnn(emb, idCol, vecCol, queryPred, m)
      .select(col("query_id"), col("neighbor_id").as("cand"),
        col("cos_sim").as("rel")))
    val n = withNorm(emb, idCol, vecCol)
    val ce = cand.select(col("query_id"), col("cand"))
      .join(n, col("cand") === col(idCol))
      .select(col("query_id"), col("cand"), col("emb"), col("nrm"))
    val x = ce.toDF("query_id", "a", "q_emb", "q_nrm")
    val y = ce.toDF("query_id", "b", "c_emb", "c_nrm")
    val sims = save(x.join(y, "query_id").where(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        round(cosine, 6).as("sim")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cand").asc)
    var acc = save(cand.withColumn("score", col("rel"))
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("query_id"), col("cand"), col("score"),
        lit(1L).as("mmr_rank")))
    for (t <- 2 to k) {
      val maxSim = sims
        .join(acc.select(col("query_id"), col("cand").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("cand"))
        .agg(max(col("sim")).as("__msim"))
      val next = cand
        .join(acc.select(col("query_id"), col("cand")),
          Seq("query_id", "cand"), "left_anti")
        .join(maxSim, Seq("query_id", "cand"))
        .withColumn("score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__msim"))
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("query_id"), col("cand"), col("score"),
          lit(t.toLong).as("mmr_rank"))
      acc = save(acc.unionByName(next))
    }
    acc.select(col("query_id"), col("mmr_rank"),
      col("cand").as("neighbor_id"), col("score"))
  }

  /** Lloyd-trained coarse quantizer for [[ivfKnn]]: `iters` k-means rounds
    * from a deterministic seed (centroids = the first `nlist` vectors by id;
    * `iters = 0` returns the seed unchanged). Each round assigns every vector
    * to its nearest centroid (squared-L2 via the same sequential-fold dot
    * products the rest of this file uses, ties broken by centroid id) and
    * recomputes each centroid as its members' coordinate-wise mean.
    *
    * Determinism: a double sum is partition-order dependent, so the mean
    * quantizes each coordinate to 1e-7 first — `round(x*1e7)` as BIGINT —
    * and sums integers (exact, order-free), then divides once in double.
    * That makes trained centroids bit-reproducible across partition counts
    * and engines (a SQL oracle replays the same arithmetic); the 1e-7 grid
    * is noise relative to k-means' own convergence tolerance.
    *
    * Scale: each round is one broadcast cross of the corpus with `nlist`
    * centroid rows plus one aggregate keyed on (cid, coord) — `nlist × dim`
    * groups, so partial aggregation collapses it map-side; training cost is
    * linear in the corpus with no wide shuffle. Nearest-centroid assignment
    * is `min(struct(d2, cid, ...))` — a map-side-combinable aggregate with
    * the tie-break (smallest cid) in the struct order, NOT a row_number
    * window: the window form sort-shuffles corpus × nlist rows per round,
    * the aggregate ships one partial min per (vector, map task).
    *
    * Classic Lloyd on emptied centroids: a centroid that loses all members
    * keeps its previous round's position (left-join new means onto the
    * previous centroids + coalesce), so nlist stays constant every round —
    * a seed that captures no points still exists as a (possibly empty)
    * inverted list rather than silently shrinking the quantizer. Both sides
    * of that join are nlist rows; the oracle replays the same coalesce. */
  def kmeansCentroids(n: DataFrame, idCol: String, nlist: Int, iters: Int): DataFrame =
    kmeansCentroidsKeyed(n.withColumn("__k", lit(0)), idCol, "__k", nlist, iters)
      .drop("__k")

  /** Keyed Lloyd: trains an INDEPENDENT `nlist`-centroid codebook per value
    * of `keyCol`, in one set of Spark jobs. Per key, the computation is
    * bit-identical to training that key's rows alone (seeds = the rows with
    * `idCol < nlist`, min-struct assignment, micro-unit quantized means,
    * carry-forward on emptied centroids) — the keyed form exists purely so
    * product quantization trains all `m` subspace codebooks in ONE pass
    * instead of `m` sequential job chains (the r9 q165/q168 hotspot: each
    * per-subspace training replayed its own assignment + mean + rebuild
    * rounds; 5 trainings serialized into the critical path). The broadcast
    * side is keys × nlist rows — bounded by construction everywhere it is
    * used (m·ksub codebook entries). */
  def kmeansCentroidsKeyed(n: DataFrame, idCol: String, keyCol: String,
                           nlist: Int, iters: Int): DataFrame = {
    var cents = n.where(col(idCol) < nlist)
      .select(col(keyCol), col(idCol).as("cid"), col("emb").as("c_emb"))
    for (_ <- 1 to iters) {
      val d2 = dot_d(col("emb"), col("emb")) -
        lit(2.0) * dot_d(col("emb"), col("c_emb")) +
        dot_d(col("c_emb"), col("c_emb"))
      val assigned = n.join(broadcast(cents), Seq(keyCol))
        .withColumn("d2", d2)
        .groupBy(col(keyCol), col(idCol))
        .agg(min(struct(col("d2"), col("cid"), col("emb"))).as("b"))
        .select(col(keyCol), col("b.cid").as("cid"), col("b.emb").as("emb"))
      val means = assigned
        .select(col(keyCol), col("cid"), posexplode(col("emb")).as(Seq("i", "x")))
        .withColumn("q", round(col("x") * lit(1e7)).cast("long"))
        .groupBy(col(keyCol), col("cid"), col("i"))
        .agg((sum(col("q")).cast("double") / count(lit(1)).cast("double") / lit(1e7)).as("m"))
      val newCents = means.groupBy(col(keyCol), col("cid"))
        .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("im"))
        .select(col(keyCol), col("cid"), expr("transform(im, e -> e.m)").as("c_new"))
      cents = cents.join(broadcast(newCents), Seq(keyCol, "cid"), "left")
        .select(col(keyCol), col("cid"), coalesce(col("c_new"), col("c_emb")).as("c_emb"))
    }
    cents
  }

  /** IVF-style ANN: a k-means-trained coarse quantizer (deterministic seed =
    * the first `nlist` vectors, `lloydIters` Lloyd rounds — see
    * [[kmeansCentroids]]) partitions the corpus into inverted lists; queries
    * probe their `nprobe` nearest centroids and rank only those lists'
    * members. The heavy join is candidates-by-centroid-id — an equi-join
    * that shuffles on the list id, never a cross product over the corpus.
    *
    * No window anywhere (r5 shipped 3 full sort-shuffles here):
    *  - corpus→list assignment is a `min(struct(d2, cid, ...))` aggregate
    *    (map-side partial min, tie-break on cid inside the struct order);
    *  - each query's `nprobe` lists come from an IN-ROW sort of its ≤ nlist
    *    centroid distances (`collect_list` of a BOUNDED group — nlist
    *    structs — then `array_sort` + `slice`);
    *  - the final per-query top-k runs through [[graft.functions.TopKAgg]],
    *    a k-bounded partial aggregation instead of a rank window over every
    *    candidate. Result is bit-identical to the window formulation (same
    *    (d2, cid) / (cos DESC, id ASC) total orders), which is exactly what
    *    the SQL oracle still runs. */
  def ivfKnn(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: org.apache.spark.sql.Column, k: Int, lloydIters: Int): DataFrame = {
    val nlist = 8
    val nprobe = 2
    // the normalized corpus feeds every Lloyd round plus the assignment and
    // probe branches (2 + lloydIters lineage replays of the parquet scan +
    // norm without pinning) — the standard cache for iterative k-means
    // training, released by the harness's CacheScope.drain()
    val n = CacheScope.persist(withNorm(emb, idCol, vecCol))
    // trained centroids are consumed by BOTH the assignment and the probe
    // branch; without pinning, each branch replays the full Lloyd lineage.
    // nlist rows — bounded, safe to cache at any corpus size.
    val cents = CacheScope.persist(kmeansCentroids(n, idCol, nlist, lloydIters))
    // squared L2 to each centroid via dot products: v.v - 2 v.c + c.c —
    // identical sequential-fold arithmetic on both engines
    val dist2 = dot_d(col("emb"), col("emb")) -
      lit(2.0) * dot_d(col("emb"), col("c_emb")) +
      dot_d(col("c_emb"), col("c_emb"))
    val scored = n.crossJoin(broadcast(cents)).withColumn("d2", dist2)
    val assign = scored
      .groupBy(col(idCol))
      .agg(min(struct(col("d2"), col("cid"), col("emb"), col("nrm"))).as("b"))
      .select(col(idCol).as("neighbor_id"), col("b.cid").as("cid"),
        col("b.emb").as("c_emb2"), col("b.nrm").as("c_nrm"))
    val probes = scored.where(queryPred)
      .groupBy(col(idCol))
      .agg(first(col("emb")).as("q_emb"), first(col("nrm")).as("q_nrm"),
        slice(array_sort(collect_list(struct(col("d2"), col("cid")))), 1, nprobe).as("top"))
      .select(col(idCol).as("query_id"), col("q_emb"), col("q_nrm"),
        explode(col("top")).as("t"))
      .select(col("query_id"), col("t.cid").as("cid"), col("q_emb"), col("q_nrm"))
    val topk = graft.functions.TopKAgg.columnAgg(k)
    probes.join(assign, "cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot_d(col("q_emb"), col("c_emb2")) / (col("q_nrm") * col("c_nrm")))
      .groupBy(col("query_id"))
      .agg(topk(col("cos"), col("neighbor_id").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rnk"),
        col("col._2").as("neighbor_id"), round(col("col._1"), 6).as("cos_sim"))
  }

  /** Two-stage quantized re-rank: int8 scalar quantization (the memory layout
    * a 100 TB vector store actually ships — 4x smaller than float32, 8x
    * smaller than the double working form) scores ALL candidates cheaply,
    * keeps `nCandidates` per query, and re-ranks only those with exact
    * double-precision cosine.
    *
    * Quantization is per-vector symmetric max-abs: `code = round(x*127/s)`
    * with `s = max |x|`, so the approximate score
    * `(qa.qb)*sa*sb/127^2/(|a||b|)` is a pure integer dot product (exact on
    * any engine) times per-pair double scale factors — deterministic, no RNG.
    *
    * Scale shape: stage 1 is the same broadcast-|Q| scan as [[bruteForceKnn]]
    * but arithmetic-light and fed through [[graft.functions.TopKAgg]] (k-
    * bounded partial aggregation, no rank window); stage 2 touches only
    * |Q| x nCandidates rows via two keyed joins. The sign-LSH/IVF operators
    * bound WHICH rows get scored; this one bounds what scoring COSTS — in a
    * production store the two compose (bucket first, quantize inside). */
  def quantizedRerankKnn(emb: DataFrame, idCol: String, vecCol: String,
                         queryPred: org.apache.spark.sql.Column, k: Int,
                         nCandidates: Int): DataFrame = {
    require(nCandidates >= k, "re-rank pool must be at least k")
    val n = withNorm(emb, idCol, vecCol)
      .withColumn("scale",
        expr("aggregate(emb, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
      .withColumn("qv", expr(
        "transform(emb, x -> CAST(round(x * CAST(127 AS DOUBLE) / greatest(scale, 1e-30)) AS BIGINT))"))
    val q = n.where(queryPred).select(col(idCol).as("query_id"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"),
      col("qv").as("q_qv"), col("scale").as("q_scale"))
    val c = n.select(col(idCol).as("neighbor_id"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"),
      col("qv").as("c_qv"), col("scale").as("c_scale"))
    // integer code dot product — exact BIGINT arithmetic on both engines
    val qdot = expr(
      "aggregate(zip_with(q_qv, c_qv, (x, y) -> x * y), CAST(0 AS BIGINT), (a, x) -> a + x)")
    val approx = qdot.cast("double") * col("q_scale") * col("c_scale") /
      lit(16129.0) / (col("q_nrm") * col("c_nrm"))
    val cands = candidatePool(broadcast(q.drop("q_emb")).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", approx), col("approx"), nCandidates)
    cosineTopK(cands
      .join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_nrm"))), "query_id")
      .join(c.select(col("neighbor_id"), col("c_emb"), col("c_nrm")), "neighbor_id"), k)
  }

  /** Bucketed approximate top-k: deterministic sign-LSH on the first 4
    * dimensions (bucket = bitmask of sign(emb[i])); candidates only within the
    * query's bucket. The candidate join shuffles on the bucket key — no cross
    * product — which is the shape that survives a 100x corpus. */
  def lshKnn(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val n = withNorm(emb, idCol, vecCol).withColumn("bucket", signBucket)
    val q = n.where(queryPred)
      .select(col("bucket"), col(idCol).as("query_id"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val c = n.select(col("bucket"), col(idCol).as("neighbor_id"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    rankedCosine(q.join(c, "bucket"), k)
  }

  /** Label-centroid confusion matrix — the embedding-quality report run
    * after labeling or clustering: each label's centroid, every vector
    * re-assigned to its nearest centroid, and the (label, predicted) counts.
    * A clean embedding space re-assigns ~everything to its own label.
    *
    * Exactness at any partitioning: coordinates are quantized to integer
    * micro-units up front, so the per-dim sums behind each centroid are
    * exact longs (|x| ≤ ~1 → sums ≤ 1e6·n, no overflow until corpora of
    * 10^12 vectors per label), the centroid is ONE deterministic double
    * division + round per dim, and squared distances are pure integer
    * arithmetic — no float accumulation anywhere, so partial-agg order
    * cannot move a single count and a SQL oracle replays bit-for-bit.
    *
    * Scale: the centroid pass shuffles (label, dim)-keyed partials
    * (map-side combined); the centroid table is |labels| rows and is
    * BROADCAST; assignment is a narrow per-row fold over |labels|
    * candidates; the argmin is a min-struct aggregate (window-free); the
    * confusion output is |labels|² rows. */
  def labelCentroidConfusion(emb: DataFrame, idCol: String, vecCol: String,
                             labelCol: String): DataFrame = {
    val mu = emb.select(col(idCol), col(labelCol).as("label"),
      expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
        .as("xmu"))
    val cen = intCentroids(mu)
    mu.crossJoin(broadcast(cen))
      .select(col(idCol), col("label"), col("lc"),
        expr("aggregate(zip_with(xmu, cen, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS BIGINT), (s, v) -> s + v)").as("dist"))
      .groupBy(col(idCol), col("label"))
      .agg(min(struct(col("dist"), col("lc"))).as("m"))
      .select(col("label"), col("m.lc").as("pred_label"))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Micro-unit integer label centroids from a (label, xmu) table: (lc,
    * cen) with cen rebuilt in explicit dim order (dims 0..d-1 are all
    * present by construction, so the map lookup is total; collect_list
    * order is not deterministic, which is why the map indirection exists).
    * Shared by [[labelCentroidConfusion]] and [[labelCentroidDistances]]. */
  private def intCentroids(mu: DataFrame): DataFrame = mu
    .select(col("label"), posexplode(col("xmu")).as(Seq("i", "x")))
    .groupBy(col("label").as("lc"), col("i"))
    .agg(expr("CAST(round(CAST(sum(x) AS DOUBLE) / CAST(count(1) AS DOUBLE)) AS BIGINT)")
      .as("c"))
    .groupBy(col("lc"))
    .agg(map_from_entries(collect_list(struct(col("i"), col("c")))).as("cm"))
    .select(col("lc"),
      expr("transform(sequence(0, size(map_keys(cm)) - 1), i -> cm[i])").as("cen"))

  /** Pairwise label-centroid cosine similarity — the class-geometry report
    * that goes with [[labelCentroidConfusion]]: which labels sit close
    * enough in embedding space to confuse a classifier (or to merge in a
    * taxonomy cleanup). Output: label_a < label_b, cos_sim (6 dp).
    *
    * Exactness: centroids are the same micro-unit integers as the
    * confusion matrix; dot products and squared norms are exact BIGINT
    * sums over them (|c| ≤ 1e6 ⇒ per-dim products ≤ 1e12, safe to ~1e6
    * dims); the one sqrt/division per PAIR happens on those exact
    * integers — no float accumulation, 6 dp round absorbs sqrt ulp.
    *
    * Scale: everything after the (label, dim)-keyed centroid pass operates
    * on |labels| rows; the pair join is |labels|² — the report's own size —
    * via a broadcast self-join. */
  def labelCentroidDistances(emb: DataFrame, idCol: String, vecCol: String,
                             labelCol: String): DataFrame = {
    val mu = emb.select(col(idCol), col(labelCol).as("label"),
      expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
        .as("xmu"))
    val cen = intCentroids(mu)
    val a = cen.select(col("lc").as("label_a"), col("cen").as("ca"))
    val b = cen.select(col("lc").as("label_b"), col("cen").as("cb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(
          expr("CAST(aggregate(zip_with(ca, cb, (x, y) -> x * y), " +
            "CAST(0 AS BIGINT), (s, v) -> s + v) AS DOUBLE)") /
          (sqrt(expr("CAST(aggregate(transform(ca, x -> x * x), " +
            "CAST(0 AS BIGINT), (s, v) -> s + v) AS DOUBLE)")) *
           sqrt(expr("CAST(aggregate(transform(cb, x -> x * x), " +
            "CAST(0 AS BIGINT), (s, v) -> s + v) AS DOUBLE)"))), 6)
          .as("cos_sim"))
  }

  /** kNN majority-vote classification: each query vector (rows matching
    * `queryPred`) takes the modal label of its `k` nearest candidates (rows
    * matching `candPred`) by exact cosine; vote ties go to the smaller
    * label. Output: query_id, pred_label, votes.
    *
    * Scale: same contract as [[bruteForceKnn]] — the query side is broadcast
    * (|Q| bounded), candidates stream through one scan, the neighbor window
    * is per-query (bounded partitions), and the vote argmax is a max-struct
    * aggregate, not a second window. For unbounded query sets route the
    * candidate generation through [[ivfKnn]]/[[lshKnn]] first. */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
                  queryPred: org.apache.spark.sql.Column,
                  candPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val base = emb.select(col(idCol), col(labelCol).as("label"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("nrm", sqrt(dot_d(col("emb"), col("emb"))))
    val q = base.where(queryPred)
      .select(col(idCol).as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val c = base.where(candPred)
      .select(col(idCol).as("neighbor_id"), col("label"),
        col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(q).crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      // argmax(votes) with smaller-label tie-break, as one max-struct agg:
      // max on (votes, -label) == most votes, then lowest label
      .groupBy(col("query_id"))
      .agg(max(struct(col("votes"), (-col("label")).as("nl"))).as("m"))
      .select(col("query_id"), (-col("m.nl")).as("pred_label"), col("m.votes").as("votes"))
  }

  /** Per-query recall@k of the sign-LSH ANN ([[lshKnn]]) against the exact
    * brute-force ranking ([[bruteForceKnn]]) — the retrieval-quality gate a
    * pipeline runs before trusting an index for production candidate
    * generation. Output: query_id, n_exact (exact neighbors found, ≤ k),
    * recall (fraction of them the ANN also returned).
    *
    * Scale: both sides inherit their producers' plans; the compare is a
    * (query, neighbor)-keyed semi join plus two tiny keyed aggregates over
    * ≤ |Q|·k rows. Queries with zero ANN hits still appear (left join,
    * recall 0), so a collapsed index cannot hide as missing rows. */
  def annRecall(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: org.apache.spark.sql.Column, k: Int): DataFrame =
    recallCompare(
      bruteForceKnn(emb, idCol, vecCol, queryPred, k)
        .select(col("query_id"), col("neighbor_id")),
      lshKnn(emb, idCol, vecCol, queryPred, k)
        .select(col("query_id"), col("neighbor_id")))

  /** The ONE exact-vs-approx recall compare behind [[annRecall]] and
    * [[jlRecall]] — a (query, neighbor)-keyed semi-join plus two tiny
    * keyed aggregates over ≤ |Q|·k rows. The exact side is persisted:
    * it is referenced twice (hits + totals) and carries the full
    * brute-force scan, which would otherwise run twice. Queries with
    * zero approx hits still appear (left join, recall 0), so a
    * collapsed index cannot hide as missing rows. */
  private def recallCompare(exactRaw: DataFrame, approx: DataFrame): DataFrame = {
    val exact = CacheScope.persist(exactRaw)
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "leftsemi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"))
  }

  /** Johnson-Lindenstrauss random-projection recall gate (Achlioptas
    * 2003's ±1 database-friendly projections — public): project the
    * embedding space to `dOut` dimensions with a DETERMINISTIC ±1 sign
    * matrix (sign(i,j) = parity of the house md5 hash of "jl#i#j" — a
    * pure function of the coordinates, replayed identically by any
    * engine; no stored matrix, no RNG) and report per-query recall@k of
    * the projected-space exact top-k against the full-dimension exact
    * top-k — the audit a pipeline runs before swapping full vectors for
    * cheap projections in its candidate generator. Complements q112
    * (sign-LSH recall): LSH approximates the SEARCH, JL approximates the
    * SPACE.
    *
    * Scale: the sign matrix is ONE broadcast row (dims·dOut entries,
    * constants); projection is an in-row fixed-order fold (narrow, no
    * shuffle); both top-k sides are [[bruteForceKnn]]'s bounded-query
    * broadcast scan; the compare is the [[annRecall]] keyed semi-join.
    * Empty embedding rows are excluded from both rankings (a zero-norm
    * vector has no cosine; unguarded it would also drive the descending
    * sequence(0, -1) trap in the projection fold). Output: query_id,
    * n_exact, recall. */
  def jlRecall(emb: DataFrame, idCol: String, vecCol: String,
               queryPred: org.apache.spark.sql.Column, k: Int,
               dOut: Int): DataFrame = {
    require(k >= 1 && dOut >= 1, "need k >= 1, dOut >= 1")
    // sequence() DESCENDS below its start (sequence(0, -1) = [0, -1]), so
    // an empty embedding would drive element_at(vec, 0) in the projection
    // fold — and a zero projection would then divide by zero in the ANSI
    // cosine. Empty vectors carry no direction (cosine is undefined at
    // zero norm), so they are excluded from BOTH rankings up front — the
    // pairBleu size-guard discipline; greatest(d, 1) keeps the sign-matrix
    // sequence ascending even when the filtered table is empty (it also
    // absorbs the NULL max of an empty table).
    val emb1 = emb.where(size(col(vecCol)) >= 1)
    val dims = emb1.agg(max(size(col(vecCol))).as("d"))
    val signs = dims.select(expr(
      s"""transform(sequence(0, ${dOut - 1}), j ->
         |  transform(sequence(0, greatest(d, 1) - 1), i ->
         |    CASE WHEN CAST(conv(substring(md5(concat('jl#',
         |        CAST(i AS STRING), '#', CAST(j AS STRING))), 1, 15),
         |        16, 10) AS BIGINT) % 2 = 0
         |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END))"""
        .stripMargin).as("sm"))
    val proj = emb1.crossJoin(broadcast(signs))
      .select(col(idCol), expr(
        s"""transform(sequence(0, ${dOut - 1}), j ->
           |  aggregate(sequence(0, size($vecCol) - 1), CAST(0 AS DOUBLE),
           |    (s, i) -> s + CAST(element_at($vecCol, i + 1) AS DOUBLE)
           |      * element_at(element_at(sm, j + 1), i + 1)))"""
          .stripMargin).as("proj"))
    recallCompare(
      bruteForceKnn(emb1, idCol, vecCol, queryPred, k)
        .select(col("query_id"), col("neighbor_id")),
      bruteForceKnn(proj, idCol, "proj", queryPred, k)
        .select(col("query_id"), col("neighbor_id")))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): partition
    * the corpus with a k-means coarse quantizer ([[kmeansCentroids]] — the
    * same deterministic Lloyd the IVF index trains), then inside each
    * cluster drop every vector whose cosine to some SMALLER-id member of
    * the same cluster reaches `threshold`. Anchor-greedy, not chain-greedy:
    * a vector is dropped if ANY earlier member is close, whether or not
    * that member itself survives — one join instead of a sequential scan,
    * and the policy is a pure function of the pair set (deterministic under
    * any execution order). Output: one row per vector — idCol, cid, keep.
    *
    * Scale: the pairwise compare is an equi-join on the cluster id, never a
    * corpus cross product, and cluster populations are controlled by
    * `nlist` — at production scale nlist grows with the corpus (SemDeDup
    * runs ~100k clusters for web scale) so the per-cluster quadratic stays
    * a bounded unit of work; the parameter IS the knob, the operator shape
    * doesn't change. Centroid training cost is linear (see
    * [[kmeansCentroids]]); the final keep/drop is one k-bounded anti-join
    * equivalent (left join + null test) on the vector id.
    *
    * `assign` is the first frame of [[semAssignmentFrames]] (the
    * shared-cache form; SharedFormsSpec compares it against a fresh
    * `semAssignmentFrames` build). */
  def semanticDedupFrom(assign: DataFrame, idCol: String,
                        threshold: Double): DataFrame = {
    val dropped = semPairsFromAssignment(assign, idCol, threshold)
      .select(col("id_a")).distinct()
      .withColumn("__drop", lit(1L))
    assign.select(col(idCol), col("cid"))
      .join(dropped.withColumnRenamed("id_a", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cid"),
        when(col("__drop").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** The q142 Lloyd assignment lineage (norms, seed centroids, Lloyd
    * rounds, min-(d2, cid) assignment): (assign, cents) where assign =
    * (idCol, cid, emb, nrm) and cents = the trained nlist-row centroid
    * frame. FOUR consumers derive this identical pair at identical
    * parameters (q142 [[semanticDedupFrom]], q362
    * [[prototypicalityBandFrom]], q387 [[semanticDecontamFrom]], and the
    * dedup-worklist builder's [[semanticDupPairsFrom]]) — the session
    * shares one build, so the tie-break/quantization semantics can never
    * drift. CONTRACT: the caller must pass frames built from the same
    * emb/idCol/vecCol/nlist/lloydIters the consumer advertises (the
    * exactSubstringSweep `runs20` rule). */
  def semAssignmentFrames(emb: DataFrame, idCol: String, vecCol: String,
                          nlist: Int, lloydIters: Int)
  : (DataFrame, DataFrame) = {
    val n = CacheScope.persist(withNorm(emb, idCol, vecCol))
    val cents = kmeansCentroids(n, idCol, nlist, lloydIters)
    val dist2 = dot_d(col("emb"), col("emb")) -
      lit(2.0) * dot_d(col("emb"), col("c_emb")) +
      dot_d(col("c_emb"), col("c_emb"))
    val assign = n.crossJoin(broadcast(cents)).withColumn("d2", dist2)
      .groupBy(col(idCol))
      .agg(min(struct(col("d2"), col("cid"), col("emb"), col("nrm"))).as("b"))
      .select(col(idCol), col("b.cid").as("cid"),
        col("b.emb").as("emb"), col("b.nrm").as("nrm"))
    (assign, cents)
  }

  /** The semantic duplicate PAIR set behind [[semanticDedupFrom]]'s keep/drop
    * verdicts: within-cell pairs (id_a > id_b) whose cosine reaches
    * `threshold`, one row per pair. This is the composable form the
    * end-to-end dedup pipeline consumes (filter the pair graph to the
    * stage's survivors, then apply the anchor-greedy policy) — computed
    * once on the FULL corpus, like every pair graph in the lineage.
    * Output: id_a, id_b, cid. Same plan shape as [[semanticDedupFrom]]
    * (cell-confined equi-join, never corpus x corpus). `assign` is the
    * first frame of [[semAssignmentFrames]]. */
  def semanticDupPairsFrom(assign: DataFrame, idCol: String,
                           threshold: Double): DataFrame =
    semPairsFromAssignment(assign, idCol, threshold)
      .select(col("id_a"), col("id_b"), col("cid"))

  /** Embedding-based semantic DECONTAMINATION (the SemDeDup machinery
    * pointed at eval contamination — Abbas et al. 2023 clustering ×
    * the q361 removal contract): drop every TRAINING vector whose
    * cosine to some EVAL-SET vector reaches `threshold`. Exact-span
    * decontamination (q361) misses paraphrases; the production recipe
    * (e.g. the phi/FineWeb decontamination stages) also gates on
    * embedding similarity — this is that gate. `evalPred` marks the
    * eval rows (a predicate over the assignment columns, normally the
    * id — the q373 query-predicate convention).
    *
    * Mechanics: ONE shared Lloyd assignment over train+eval (the q142
    * lineage verbatim — eval items land in the same cells as their
    * paraphrases), then a train×eval equi-join ON THE CELL ID, never
    * corpus × eval; cosine micro-quantized once (round(1e6·cos), the
    * q142 fold order), threshold compared on the integer image.
    * Zero-norm vectors on either side are EXCLUDED from the compare
    * (0/0 is NaN — the q373 contract) and therefore kept. `evalPred`
    * is NULL-coalesced to false: a row where the predicate evaluates
    * to NULL (e.g. over a nullable column) is TRAIN — eval membership
    * must be an affirmative true, never an accidental NULL.
    *
    * Output per TRAIN vector: idCol, cid, n_eval_hits, max_eval_cos
    * (6-dp, NULL when no hit), keep ∈ {0,1}. Scale: the assignment is
    * an nlist-row broadcast against one scan; the join is cell-confined
    * with the eval side tiny (eval benchmarks are KBs against a 100 TB
    * corpus — broadcastable); nlist grows with the corpus exactly as
    * [[semanticDedupFrom]] prescribes.
    *
    * `assign` is the first frame of [[semAssignmentFrames]]; the
    * session-shared frame arrives persisted (the train and eval sides
    * both read it). */
  def semanticDecontamFrom(assign: DataFrame, idCol: String,
                           evalPred: Column, threshold: Double): DataFrame = {
    // NULL-coalesced predicate (the q373 convention): a row where
    // evalPred evaluates to NULL is TRAIN, not silently dropped from
    // both sides — eval membership must be an affirmative true
    val evalB = coalesce(evalPred, lit(false))
    val tr = assign.where(!evalB).select(col("cid"), col(idCol),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val ev = assign.where(evalB).select(col("cid"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    val thrMu = math.round(threshold * 1e6)
    val hits = tr.join(ev, "cid")
      .where(col("q_nrm") > lit(0.0) && col("c_nrm") > lit(0.0))
      .withColumn("cmu",
        round(lit(1e6) * dot / (col("q_nrm") * col("c_nrm"))).cast("bigint"))
      .where(col("cmu") >= thrMu)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cmu")).as("__mx"))
    tr.select(col(idCol), col("cid"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("cid"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        (col("__mx").cast("double") / lit(1e6)).as("max_eval_cos"),
        when(col("__mx").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** D4-style prototypicality BAND report (Tirumala et al. 2023, "D4:
    * Improving LLM Pretraining via Document De-Duplication and
    * Diversification" — public paper): after semantic clustering, the
    * points CLOSEST to their cluster centroid are templated/prototypical
    * (redundant — D4 drops them), the FARTHEST are outliers, and the
    * middle band carries the diverse signal. The band-selection dual of
    * [[semanticDedupFrom]] (pairwise redundancy) and the q337 k-center
    * coreset (global diversity picks).
    *
    * Mechanics: the q142 assignment lineage verbatim (norms, nlist seed
    * centroids, `lloydIters` quantized-mean rounds, min-(d2, cid)
    * assignment), then cos(point, OWN centroid) — fixed-order IEEE fold,
    * micro-quantized ONCE per vector; the two band cuts are EXACT
    * integer order statistics over each cluster's (cid, cos) VALUE GRID:
    * cut1 = min v with cum·loDen ≥ n·loNum (the outlier fraction),
    * cut2 = min v with cum·hiDen ≥ n·(hiDen−hiNum) (the prototype
    * fraction); band = outlier_drop (cos ≤ cut1) / kept (≤ cut2) /
    * proto_drop, ties to the lower band — the q140/q343 discipline.
    *
    * Scale: the assignment is an nlist-row broadcast against one corpus
    * scan (the q142 contract); the cut windows run over per-cluster
    * distinct-value grids, never data rows.
    * Output: (cid, band, n_vecs, mean_cos — 6 dp). `(assign, cents)` is
    * the [[semAssignmentFrames]] pair (the shared-cache form). */
  def prototypicalityBandFrom(assign: DataFrame, cents: DataFrame,
                              idCol: String): DataFrame = {
    val loNum = 1
    val loDen = 4
    val hiNum = 1
    val hiDen = 4
    val scored = CacheScope.persist(assign
      .join(broadcast(cents), "cid")
      .withColumn("__cnrm", sqrt(dot_d(col("c_emb"), col("c_emb"))))
      // zero-norm vectors — and cells whose quantized mean cancelled to
      // the zero vector — are EXCLUDED, not banded: 0/0 is NaN, whose
      // BIGINT cast is 0 on Spark but an error on DuckDB (the known
      // divergence class); detecting zero vectors is q147's hygiene job
      .where(col("nrm") > lit(0.0) && col("__cnrm") > lit(0.0))
      .withColumn("cmu", round(lit(1e6) *
          dot_d(col("emb"), col("c_emb")) / (col("nrm") * col("__cnrm")))
        .cast("bigint"))
      .select(col("cid"), col(idCol), col("cmu")))
    val vals = scored.groupBy(col("cid"), col("cmu"))
      .agg(count(lit(1)).as("__c"))
    val cumW = Window.partitionBy(col("cid")).orderBy(col("cmu"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = vals.withColumn("__cum", sum(col("__c")).over(cumW))
    val totals = vals.groupBy(col("cid")).agg(sum(col("__c")).as("__n"))
    val cuts = cum.join(totals, "cid").groupBy(col("cid"))
      .agg(min(when(col("__cum") * loDen >= col("__n") * loNum,
          col("cmu"))).as("__cut1"),
        min(when(col("__cum") * hiDen >= col("__n") * (hiDen - hiNum),
          col("cmu"))).as("__cut2"))
    scored.join(broadcast(cuts), "cid")
      .withColumn("band",
        when(col("cmu") <= col("__cut1"), lit("outlier_drop"))
          .when(col("cmu") <= col("__cut2"), lit("kept"))
          .otherwise(lit("proto_drop")))
      .groupBy(col("cid"), col("band"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("cmu")).as("__s"))
      .select(col("cid"), col("band"), col("n_vecs"),
        round((col("__s").cast("double") / lit(1e6))
          / col("n_vecs").cast("double"), 6).as("mean_cos"))
  }

  /** Shared stage 2: the within-cell qualifying pairs (id_a > id_b,
    * cos >= threshold). */
  private def semPairsFromAssignment(assign: DataFrame, idCol: String,
                                     threshold: Double): DataFrame = {
    val a = assign.select(col("cid"), col(idCol).as("id_a"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val b = assign.select(col("cid"), col(idCol).as("id_b"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    a.join(b, "cid")
      .where(col("id_a") > col("id_b"))
      .withColumn("cos", cosine)
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cid"), col("cos"))
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the top-k most-similar corpus vectors carrying a DIFFERENT label — the
    * near-misses a dual-encoder learns the most from (random negatives are
    * trivially separable; same-label neighbors are positives, not
    * negatives). Output: query_id, rnk, neighbor_id, neighbor_label,
    * cos_sim — the (anchor, hard negative) pair sheet a triplet-loss
    * dataloader consumes.
    *
    * Scale: the bounded query batch broadcasts against one corpus scan
    * (the [[bruteForceKnn]] contract), but the per-query top-k runs through
    * [[graft.functions.TopKAgg]] — a k-bounded partial aggregation, not a
    * rank window over |Q|·|C| scored rows — and the neighbor label is
    * re-attached AFTER the cut, touching only |Q|·k rows. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String,
                    queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
      .join(emb.select(col(idCol), col(labelCol).cast("long").as("__lbl")), idCol)
    val q = n.where(queryPred).select(col(idCol).as("query_id"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"), col("__lbl").as("q_lbl"))
    val c = n.select(col(idCol).as("neighbor_id"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"), col("__lbl").as("c_lbl"))
    cosineTopK(broadcast(q).crossJoin(c).where(col("q_lbl") =!= col("c_lbl")), k)
      .join(emb.select(col(idCol).as("neighbor_id"),
        col(labelCol).cast("long").as("neighbor_label")), "neighbor_id")
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("neighbor_label"), col("cos_sim"))
  }

  /** Embedding-store hygiene audit: per label, how many vectors are
    * degenerate (near-zero norm — an encoder that emitted zeros; non-finite
    * components — a NaN that will poison every dot product downstream) plus
    * the norm distribution envelope. The first query run on a new embedding
    * drop, BEFORE any ANN index is built over it. Output: label, n_vecs,
    * n_zero_norm, n_nonfinite, min_norm, max_norm, mean_norm.
    *
    * One narrow projection (norm + finiteness are in-row folds, codegen'd)
    * and one |labels|-row aggregate — map-side combined, no shuffle beyond
    * the label key. The mean goes through micro-unit integer sums (exact
    * under any partial-agg order); min/max are order-free already. */
  def embeddingHygiene(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String): DataFrame = {
    val n = emb.select(col(labelCol).cast("long").as("label"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("nrm", sqrt(dot_d(col("emb"), col("emb"))))
      .withColumn("bad", expr(
        "exists(emb, x -> isnan(x) OR abs(x) > 1.7976931348623157e308)"))
    // the mean covers FINITE vectors only — a NaN/Inf norm cannot enter the
    // micro-unit cast (ANSI would throw) and would poison the sum anyway;
    // the min/max envelope keeps IEEE semantics (NaN sorts last)
    n.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("nrm") < 1e-6, 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"),
        sum(when(!col("bad"), expr("CAST(round(nrm * 1e6) AS BIGINT)"))
          .otherwise(0L)).as("__smu"))
      .select(col("label"), col("n_vecs"), col("n_zero_norm"),
        col("n_nonfinite"), col("min_norm"), col("max_norm"),
        round((col("__smu").cast("double") / lit(1e6)) /
          (col("n_vecs") - col("n_nonfinite")).cast("double"), 6).as("mean_norm"))
  }

  /** Full IVFADC (Jégou et al.): the q50 coarse quantizer and the q165
    * product quantizer COMPOSED, with residual encoding — the index layout
    * behind billion-scale vector search. The coarse quantizer partitions
    * the (L2-normalized) corpus into `nlist` = 8 inverted lists; each vector
    * stores only its list id + the PQ codes of its RESIDUAL (x − coarse
    * centroid), which is what makes the codes sharp: residuals concentrate
    * near 0, so a small shared codebook quantizes them with far less error
    * than raw vectors. A query probes its `nprobe` = 2 nearest lists, builds
    * one ADC lookup table per probed list from its per-list residual, and
    * scores only those lists' members as m integer table lookups.
    *
    * Scale shape: everything the corpus touches is an aggregate or a
    * keyed join — coarse assignment (min-struct), residual projection
    * (in-row zip_with), per-subspace code assignment (min-struct against
    * a broadcast m·ksub codebook), and ONE candidate join keyed on the
    * list id (the IVF restriction q165's flat scan lacks). Query-side
    * tables are nprobe·m·ksub micro-unit integers per query — broadcast.
    * Candidate ranking is an exact integer sum; re-rank is exact cosine.
    * Deterministic end to end: Lloyd seeds are the first ids, every
    * argmin is a (d2, cid)-ordered min-struct, ADC entries quantize once
    * per (query, list, centroid). */
  def ivfpqKnn(emb: DataFrame, idCol: String, vecCol: String,
               queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val (nlist, nprobe, coarseIters) = (8, 2, 1)
    val (m, subDim, ksub, pqIters, nCandidates) = (4, 16, 16, 1, 30)
    require(nCandidates >= k, "re-rank pool must be at least k")
    val n = CacheScope.persist(withNorm(emb, idCol, vecCol))
    val un = CacheScope.persist(n.select(col(idCol),
      expr("transform(emb, x -> x / greatest(nrm, CAST(1e-30 AS DOUBLE)))").as("emb")))
    val coarse = CacheScope.persist(kmeansCentroids(un, idCol, nlist, coarseIters))
    val cd2 = dot_d(col("emb"), col("emb")) -
      lit(2.0) * dot_d(col("emb"), col("c_emb")) +
      dot_d(col("c_emb"), col("c_emb"))
    val cscored = un.crossJoin(broadcast(coarse)).withColumn("d2", cd2)
    // one row per vector: its list + its residual against the list centroid
    val resid = CacheScope.persist(cscored
      .groupBy(col(idCol))
      .agg(min(struct(col("d2"), col("cid"), col("emb"), col("c_emb"))).as("b"))
      .select(col(idCol), col("b.cid").as("lcid"),
        expr("zip_with(b.emb, b.c_emb, (x, y) -> x - y)").as("r")))
    // PQ codebooks trained on residual subvectors (the residual is what
    // concentrates near zero — training on raw vectors wastes the codebook)
    // one scan → all m subvectors per row (posexplode of the in-row slice
    // list), rather than an m-way union replaying the resid lineage m times
    val subs = CacheScope.persist(resid.select(col(idCol), col("lcid"),
      posexplode(expr(s"transform(sequence(0, ${m - 1}), " +
        s"s -> slice(r, s * $subDim + 1, $subDim))")).as(Seq("sp", "semb"))))
    // all m subspace codebooks trained in ONE keyed Lloyd pass (keyed on
    // the subspace id) — per-subspace results identical to training each
    // alone, but the critical path holds one job chain instead of m
    val pqCents = CacheScope.persist(
      kmeansCentroidsKeyed(
        subs.select(col(idCol), col("sp"), col("semb").as("emb")),
        idCol, "sp", ksub, pqIters))
    val sd2 = dot_d(col("semb"), col("semb")) -
      lit(2.0) * dot_d(col("semb"), col("c_emb")) +
      dot_d(col("c_emb"), col("c_emb"))
    // lcid rides along in the grouping key (constant per vector), so no
    // join-back to resid is needed to recover each code row's list
    val codes = subs.join(broadcast(pqCents), "sp").withColumn("d2", sd2)
      .groupBy(col(idCol), col("lcid"), col("sp"))
      .agg(min(struct(col("d2"), col("cid"))).as("b"))
      .select(col(idCol).as("neighbor_id"), col("lcid"), col("sp"),
        col("b.cid").as("cid"))
    // query side: nprobe nearest lists from an IN-ROW sort of the bounded
    // centroid distances (the q50 idiom), then one residual per probed list
    val probes = cscored.where(queryPred)
      .groupBy(col(idCol))
      .agg(first(col("emb")).as("q_emb"),
        slice(array_sort(collect_list(struct(col("d2"), col("cid"), col("c_emb")))),
          1, nprobe).as("top"))
      .select(col(idCol).as("query_id"), col("q_emb"),
        explode(col("top")).as("t"))
      .select(col("query_id"), col("t.cid").as("lcid"),
        expr("zip_with(q_emb, t.c_emb, (x, y) -> x - y)").as("rq"))
    // per-(query, list) ADC tables: micro-unit distance of the query's
    // list-residual slice to every codebook entry of every subspace
    val dq = probes.select(col("query_id"), col("lcid"),
      posexplode(expr(s"transform(sequence(0, ${m - 1}), " +
        s"s -> slice(rq, s * $subDim + 1, $subDim))")).as(Seq("sp", "semb")))
      .join(broadcast(pqCents), "sp")
      .withColumn("d2", sd2)
      .select(col("query_id"), col("lcid"), col("sp"), col("cid"),
        expr("CAST(round(d2 * 1e6) AS BIGINT)").as("dmu"))
    // the IVF restriction: candidates are ONLY vectors whose list was
    // probed — the join is keyed on (list, subspace, code)
    val adc = codes.join(broadcast(dq), Seq("lcid", "sp", "cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dmu")).as("adc_mu"), count(lit(1)).as("__m"))
      // a candidate scores only if all m subspace lookups landed (always
      // true by construction; the guard documents the invariant)
      .where(col("__m") === m)
    adcRerank(adc, n, idCol, queryPred, k, nCandidates)
  }

  /** Product-quantization ANN with asymmetric distance computation (ADC) —
    * the PQ stage of Jégou et al.'s IVFADC (public paper, "Product
    * Quantization for Nearest Neighbor Search"): the vector is split into
    * `m` = 4 subvectors of `subDim` = 16 dims, each subspace trains its own
    * `ksub` = 16-centroid codebook (the shared [[kmeansCentroids]] Lloyd
    * trainer, deterministic seeds), and every corpus vector is stored as m
    * small codes — m·log2(ksub) bits instead of 8·dim·m bytes (here 4
    * bytes vs 512: 128x). A query never decodes the corpus: it
    * precomputes its distance to every centroid of every subspace (an
    * m×ksub lookup table) and scores a candidate as the SUM of m table
    * lookups — the memory-bandwidth shape that makes billion-vector scans
    * feasible. Stage 2 re-ranks the 30 best ADC survivors with exact
    * cosine, as in [[quantizedRerankKnn]].
    *
    * Scale shape: codebooks are m·ksub rows (broadcast); the corpus is
    * touched by ONE assignment pass per subspace (min-struct aggregates,
    * no windows) and ONE code-scan join against the broadcast query
    * tables; in a production store this stage sits behind the q50 IVF
    * coarse quantizer (IVFADC composes them) so the scan covers probed
    * lists only. ADC sums are exact BIGINT micro-units (each subspace
    * distance quantized once per (query, centroid) TABLE ENTRY, not per
    * candidate), so candidate ranking is deterministic on any engine; the
    * final cosines are exact doubles rounded once. */
  def pqKnn(emb: DataFrame, idCol: String, vecCol: String,
            queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val (m, subDim, ksub, lloydIters, nCandidates) = (4, 16, 16, 1, 30)
    require(nCandidates >= k, "re-rank pool must be at least k")
    val n = CacheScope.persist(withNorm(emb, idCol, vecCol))
    // codes are built from the L2-NORMALIZED vector: on the unit sphere,
    // full-vector L2 is monotone in cosine (|a-b|^2 = 2 - 2cos), so the
    // subspace-decomposed ADC distance ranks candidates in (approximate)
    // cosine order — quantizing the RAW vector would rank by raw L2, which
    // the final cosine ranking does not follow when norms vary
    val subs = CacheScope.persist(n.select(col(idCol),
      posexplode(expr(s"transform(sequence(0, ${m - 1}), s -> slice(" +
        "transform(emb, x -> x / greatest(nrm, CAST(1e-30 AS DOUBLE))), " +
        s"s * $subDim + 1, $subDim))")).as(Seq("sp", "semb"))))
    // one keyed Lloyd pass for all m subspace codebooks (see ivfpqKnn)
    val cents = CacheScope.persist(
      kmeansCentroidsKeyed(
        subs.select(col(idCol), col("sp"), col("semb").as("emb")),
        idCol, "sp", ksub, lloydIters))
    val d2 = dot_d(col("semb"), col("semb")) -
      lit(2.0) * dot_d(col("semb"), col("c_emb")) +
      dot_d(col("c_emb"), col("c_emb"))
    val scored = subs.join(broadcast(cents), "sp").withColumn("d2", d2)
    // corpus codes: nearest codebook entry per (vector, subspace) —
    // min-struct aggregate, ties to the smaller cid
    val codes = scored.groupBy(col(idCol), col("sp"))
      .agg(min(struct(col("d2"), col("cid"))).as("b"))
      .select(col(idCol).as("neighbor_id"), col("sp"), col("b.cid").as("cid"))
    // query ADC tables: micro-unit distance to EVERY centroid of every
    // subspace — m x ksub rows per query, broadcast
    val dq = scored.where(queryPred)
      .select(col(idCol).as("query_id"), col("sp"), col("cid"),
        expr("CAST(round(d2 * 1e6) AS BIGINT)").as("dmu"))
    val adc = codes.join(broadcast(dq), Seq("sp", "cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dmu")).as("adc_mu"))
    adcRerank(adc, n, idCol, queryPred, k, nCandidates)
  }

  /** Matryoshka-style dimension-truncation recall: for each query, the
    * overlap between its exact top-k cosine neighbors under the FULL
    * vector and under the first `dims` dimensions — the calibration run
    * that decides whether serving can truncate its embeddings (and cut
    * index memory proportionally) before committing the index build.
    *
    * Same contract as [[bruteForceKnn]] ×2: an offline audit on a BOUNDED
    * broadcast query sample against the corpus; the production analogue
    * swaps the exact scans for the IVF/LSH paths, the overlap join is
    * unchanged. Output: (query_id, n_overlap, recall). */
  def dimTruncationRecall(emb: DataFrame, idCol: String, vecCol: String,
                          queryPred: org.apache.spark.sql.Column, k: Int,
                          dims: Int): DataFrame = {
    val full = bruteForceKnn(emb, idCol, vecCol, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = bruteForceKnn(
        emb.select(col(idCol), expr(s"slice($vecCol, 1, $dims)").as(vecCol)),
        idCol, vecCol, queryPred, k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    full.join(trunc, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"),
        count(lit(1)).as("__k"))
      .select(col("query_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("__k")).as("recall"))
  }

  /** Margin-scored MUTUAL nearest-neighbor pairs across two sides of an
    * embedding table (bitext-mining shape, Artetxe & Schwenk's ratio
    * margin): a pair (a, b) survives iff b is a's top cross-side neighbor
    * AND a is b's, scored by cos(a,b) divided by the mean of both sides'
    * top-k cosines — the filter that separates true translations from
    * hubness artifacts.
    *
    * Contract mirrors [[bruteForceKnn]]: BOTH sides here are bounded
    * samples (the offline calibration shape); the production path swaps
    * the exact cross product for per-side ANN top-k retrieval and keeps
    * the mutual join + margin stage unchanged. Top-k selection is the
    * window-free TopKAgg; the margin denominator sums 6dp-quantized
    * cosines in integer micro-units so both engines add exactly.
    * Output: (id_a, id_b, cos_sim, margin), both rounded to 6dp. */
  def marginMutualPairs(emb: DataFrame, idCol: String, vecCol: String,
                        sideA: org.apache.spark.sql.Column,
                        k: Int): DataFrame = {
    val n = withNorm(emb, idCol, vecCol)
    val a = n.where(sideA).select(col(idCol).as("id_a"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val b = n.where(!sideA).select(col(idCol).as("id_b"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    val cos = broadcast(a).crossJoin(b)
      .withColumn("cos", cosine)
    val topk = graft.functions.TopKAgg.columnAgg(k)
    def side(keyCol: String, nbCol: String) = cos
      .groupBy(col(keyCol))
      .agg(topk(col("cos"), col(nbCol)).as("__tk"))
      .select(col(keyCol),
        col("__tk").getItem(0).getField("_2").as("best"),
        col("__tk").getItem(0).getField("_1").as("top_cos"),
        expr("aggregate(__tk, CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + CAST(round(x._1 * 1e6) AS BIGINT))")
          .as("sum_mu"))
    // disjoint names: the two sides share the `cos` lineage, so the join
    // must not reference any column name both sides carry
    val aTop = side("id_a", "id_b").toDF("id_a", "a_best", "a_cos", "a_sum")
    val bTop = side("id_b", "id_a").toDF("id_b", "b_best", "b_cos", "b_sum")
    aTop.join(bTop, col("a_best") === col("id_b") &&
        col("b_best") === col("id_a"))
      .select(col("id_a"), col("id_b"),
        round(col("a_cos"), 6).as("cos_sim"),
        round(col("a_cos") /
          ((col("a_sum") + col("b_sum")).cast("double") /
            lit(2.0 * k * 1e6)), 6).as("margin"))
  }

  /** Pairwise linear-kernel MMD² between every two label groups'
    * embedding distributions: MMD²_lin(a, b) = ‖μ_a − μ_b‖² (Gretton et
    * al., JMLR 2012 — the linear kernel collapses the full kernel MMD to
    * a mean-embedding distance) — the distribution-level drift check for
    * embedding spaces, beside the scalar drift family (JS q137 / KS
    * q158 / W1 q292): "did the encoder or the corpus move" between two
    * slices, without any pairwise example comparison.
    *
    * Exactness (the q292 discipline): each float component quantizes to
    * integer micro-units at FIRST appearance, per-(group, dim) sums are
    * exact BIGINTs, and each dim's mean difference s_a/n_a − s_b/n_b
    * re-quantizes to micro-units (one IEEE division + round per
    * (pair, dim) — deterministic in both engines) so the squared terms
    * and their sum stay exact BIGINTs regardless of group size: no
    * s·n cross-product and no n_a²·n_b² quartic, which overflowed Long
    * once a group passed ~55k vectors. |md| ≤ ~2·10⁶, so the summed
    * square is ≤ dims·4·10¹² — BIGINT-safe at any row count.
    *
    * Scale: state is the (|groups| × dim) mean table — the data scan is
    * one posexplode + keyed aggregate; the pair stage is an equi-join on
    * the dim index, |groups|²·dim rows, never data×data. Output:
    * (label_a < label_b, n_a, n_b, mmd2). */
  def linearMmdDrift(emb: DataFrame, labelCol: String,
                     vecCol: String): DataFrame = {
    val comp = emb
      .select(col(labelCol).as("g"),
        posexplode(col(vecCol)).as(Seq("d", "c")))
      .groupBy(col("g"), col("d"))
      .agg(sum(round(col("c").cast("double") * lit(1e6)).cast("bigint"))
        .as("s"), count(lit(1)).as("n"))
    mmdPairsFromComponentSums(comp, Seq.empty)
  }

  /** The shared finish of the linear-MMD twins: given per-(key…, group,
    * dim) EXACT micro-unit component sums — columns `keyCols ++ (g, d, s,
    * n)` — compute per-key pairwise MMD²: per-dim mean differences
    * re-quantized to micro-units (one IEEE division + round per (pair,
    * dim)), squared and summed as exact BIGINTs, one /1e12 finish.
    * [[linearMmdDrift]] (keyCols = ∅) and
    * [[graft.streaming.StreamingMmdDrift.mmdFromSums]] (keyCols =
    * window_start) both route through THIS, so their bit-equality is
    * structural rather than two hand-synced copies of the algebra.
    * Output: keyCols ++ (label_a < label_b, n_a, n_b, mmd2). */
  private[graft] def mmdPairsFromComponentSums(
      comp: DataFrame, keyCols: Seq[String]): DataFrame = {
    val a = comp.toDF(keyCols ++ Seq("ga", "da", "sa", "na"): _*)
    val b = comp.toDF(keyCols.map(_ + "__kb") ++ Seq("gb", "db", "sb", "nb"): _*)
    val cond = keyCols.foldLeft(
        col("da") === col("db") && col("ga") < col("gb")) {
      (c, k) => c && col(k) === col(k + "__kb") }
    val keyC = keyCols.map(col)
    a.join(b, cond)
      .select(keyC ++ Seq(col("ga"), col("gb"), col("na"), col("nb"),
        round(col("sa").cast("double") / col("na").cast("double") -
          col("sb").cast("double") / col("nb").cast("double"))
          .cast("bigint").as("__md")): _*)
      .groupBy(keyC ++ Seq(col("ga"), col("gb"), col("na"), col("nb")): _*)
      .agg(sum(col("__md") * col("__md")).as("__ss"))
      .select(keyC ++ Seq(col("ga").as("label_a"), col("gb").as("label_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        (col("__ss").cast("double") / lit(1e12)).as("mmd2")): _*)
  }

  /** k-center greedy coreset (Gonzalez 1985 farthest-first traversal) —
    * the DIVERSITY selection a training-data pipeline runs beside its
    * frequency-driven samplers (q78/q266): pick k vectors such that the
    * max distance from any point to its nearest pick (the k-center
    * objective) is greedily minimized — a 2-approximation of the optimal
    * cover. SemDeDup (q142) removes redundancy inside clusters; this is
    * the dual: choose the spanning exemplars.
    *
    * Output: one row per selected center — (rnk 1..k, center_id,
    * sel_dist_mu2 = the point's squared distance in micro-units² to the
    * already-picked set at the moment of selection, 0 for the seed;
    * it is also max-min over ALL points, i.e. the coverage radius before
    * this pick) plus final_radius_mu2 (the k-center objective after all
    * k picks, constant across rows).
    *
    * Exactness: coordinates quantize to integer micro-units at FIRST
    * appearance (|x| ≤ ~1 ⇒ per-dim squared diffs ≤ 4·10¹², × dims ≪
    * Long.Max), every distance is a pure BIGINT fold, and the argmax
    * tie-breaks on (dmin DESC, id ASC) — fully deterministic, so the
    * DuckDB oracle unrolls the same k rounds bit for bit.
    *
    * Scale: the greedy is inherently k sequential rounds; each round is
    * ONE distributed narrow pass (update running dmin against the last
    * pick, shipped as a LITERAL vector — codegen, no join) plus ONE
    * 1-row argmax aggregate (the documented bounded collect pattern the
    * PCA power iteration uses). localCheckpoint each round caps lineage
    * the way the HITS half-steps do, so cost is k scans of the point
    * set — the textbook k-center cost model — with no shuffle beyond
    * the k map-side-combined argmax trees. Cost is bounded by the 2k
    * fixed per-round job launches, not by data. */
  def kcenterCoreset(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 2, "need k >= 2")
    val spark = emb.sparkSession
    import spark.implicits._
    val mu = emb.select(col(idCol).cast("bigint").as("id"),
      expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
        .as("xmu"))
    def distTo(vec: Seq[Long]) = expr(
      s"aggregate(zip_with(xmu, array(${vec.mkString(", ")}), " +
        "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (s, v) -> s + v)")
    // seed: smallest id (struct-min carries its vector out in one job);
    // an empty input yields an empty trace, and exhausting the point set
    // before k picks stops early (the max over an empty frame is NULL) —
    // the same early-stop contract as Scale.maxCoverageSelect
    val seedRow = mu.agg(min(struct(col("id"), col("xmu"))).as("m"))
      .select(col("m.id"), col("m.xmu")).head()
    if (seedRow.isNullAt(0)) return Seq.empty[(Long, Long, Long)]
      .toDF("rnk", "center_id", "sel_dist_mu2")
      .withColumn("final_radius_mu2", lit(0L))
    var picks = List((1L, seedRow.getLong(0), 0L))
    var pts = mu.where(col("id") =!= seedRow.getLong(0))
      .withColumn("dmin", distTo(seedRow.getSeq[Long](1)))
      .localCheckpoint(true)
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      // argmax dmin, ties to the smallest id; the carried xmu never
      // participates in the comparison because id is unique
      val sel = pts.agg(max(struct(col("dmin").as("d"),
          (-col("id")).as("nid"), col("xmu").as("v"))).as("m"))
        .select(col("m.d"), col("m.nid"), col("m.v")).head()
      if (sel.isNullAt(0)) exhausted = true
      else {
        val (selDist, selId) = (sel.getLong(0), -sel.getLong(1))
        picks = (r.toLong, selId, selDist) :: picks
        pts = pts.where(col("id") =!= selId)
          .withColumn("dmin",
            least(col("dmin"), distTo(sel.getSeq[Long](2))))
          .localCheckpoint(true)
        r += 1
      }
    }
    val finalRadius = pts.agg(coalesce(max(col("dmin")), lit(0L))).head().getLong(0)
    picks.reverse.toDF("rnk", "center_id", "sel_dist_mu2")
      .withColumn("final_radius_mu2", lit(finalRadius))
  }
}
