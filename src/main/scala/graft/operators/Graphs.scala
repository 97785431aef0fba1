package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import CacheScope.checkpoint

/** Graph centrality over DataFrame edge lists — corpus-level link analysis.
  * The canonical LLM-data use: PageRank over a link/co-occurrence graph as a
  * document- or term-quality prior (web-graph centrality is a standard crawl
  * quality signal, and PageRank over the token co-occurrence graph is the
  * corpus-level TextRank keyword scheme — the global sibling of the per-doc
  * TF-IDF tagging in [[TextRank.keywordsPerDoc]]).
  *
  * Determinism: a naive power iteration sums DOUBLE contributions per node,
  * which is partial-aggregation-order dependent — a cluster run would not
  * reproduce a single-node oracle bit-for-bit. Ranks here live in BIGINT
  * micro-units (1e9 = rank 1.0) and every per-edge contribution is the exact
  * integer floor(rank_mu · w / out_w); sums are BIGINT (associative), and
  * the damping step is integer arithmetic too (85/100 as a rational, not
  * 0.85 as a double). Every engine that can do 64-bit integer math produces
  * the identical ranking — which is what lets DuckDB replay the whole
  * iteration in a recursive CTE as the oracle.
  */
object Graphs {

  /** The (src, dst, w BIGINT) edge table and its distinct node set, both
    * checkpointed — the iteration inputs of [[pageRank]],
    * [[personalizedPageRank]] and [[hits]]. */
  private def edgesAndNodes(edges: DataFrame, srcCol: String, dstCol: String,
                            wCol: String): (DataFrame, DataFrame) = {
    val e = checkpoint(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("bigint").as("w")))
    (e, checkpoint(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()))
  }

  /** Weighted PageRank, fixed `iters` power iterations, damping 85/100.
    *
    * `edges`: (srcCol, dstCol, wCol) with BIGINT-able positive weights.
    * Output: (node, rank_mu, rank) — micro-unit BIGINT rank and its double
    * view, one row per node appearing as src or dst.
    *
    * Dangling-mass convention: nodes with no out-edges absorb rank but
    * redistribute nothing (their mass decays toward the teleport floor) —
    * the common simplification; ranks therefore sum to slightly less than
    * SCALE. Stated here because engines differ on it.
    *
    * Scale design: one shuffle per iteration (contributions aggregated on
    * dst), joins keyed on node id; the node/edge tables are Zipf-bounded for
    * token graphs and |V|+|E|-bounded generally — never row-count-bounded.
    * Each iteration's state is checkpointed (reliable dir if configured,
    * else local) so iteration N's plan does not embed plans 1..N−1 — the
    * [[TextDedup.connectedComponents]] lineage discipline. Floor division
    * loses at most 1 micro-unit per edge per iteration: invisible at 1e9
    * scale, identical in every engine. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
               iters: Int): DataFrame = {
    val scale: Long = 1000000000L
    require(iters >= 1, "need at least one iteration")
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol, wCol)
    // out-weight per source, pre-joined once — the loop reuses this table
    val outW = checkpoint(e.groupBy(col("src")).agg(sum(col("w")).as("out_w")))
    val ew = checkpoint(e.join(outW, "src"))
    val nNodes = checkpoint(nodes.agg(count(lit(1)).as("__n")))

    // teleport floor: (15·scale) div (100·n). BIGINT `div`, never `/`:
    // Spark's `/` on integers is DOUBLE division, and rank_mu·w exceeds
    // 2^53 where floor(double) silently loses exactness.
    var ranks = checkpoint(nodes.crossJoin(broadcast(nNodes))
      .select(col("node"), expr(s"${scale}L div __n").as("rank_mu")))

    for (_ <- 1 to iters) {
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(rank_mu * w) div out_w")).as("__in"))
      ranks = checkpoint(nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(nNodes))
        .select(col("node"),
          expr(s"(15 * ${scale}L) div (100 * __n) + " +
            "(85 * coalesce(__in, 0L)) div 100").as("rank_mu")))
    }
    ranks.select(col("node"), col("rank_mu"),
      (col("rank_mu").cast("double") / lit(scale.toDouble)).as("rank"))
  }

  /** Personalized PageRank (Jeh & Widom 2003): [[pageRank]] with the
    * teleport mass returning to a SEED set instead of uniformly — "rank
    * relative to these starting points", the graph-proximity score behind
    * related-item recommendation and seed-expansion labeling that global
    * PageRank (q181) flattens away.
    *
    * Same exact-integer discipline: seeds IN THE GRAPH (the intersection
    * is taken; off-graph seeds are ignored) start with scale DIV |S| µ,
    * non-seeds with 0; each round gives seeds the (15·scale) DIV (100·|S|)
    * teleport floor plus damped in-mass, non-seeds damped in-mass only.
    * Floor division per edge, checkpointed rounds, oracle unrolls them.
    * Output: (node, rank_mu, rank, is_seed). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           wCol: String, seedCol: DataFrame,
                           iters: Int): DataFrame = {
    val scale: Long = 1000000000L
    require(iters >= 1, "need at least one iteration")
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol, wCol)
    val seeds = checkpoint(nodes.join(
      seedCol.toDF("node").distinct(), Seq("node"), "left_semi"))
    // An empty seed∩nodes intersection would make the teleport mass
    // `scale div __s` null-divide downstream (and a SQL mirror would
    // error) — fail fast with a named cause instead (mirrors the
    // `iters >= 1` require above).
    require(!seeds.isEmpty,
      "personalizedPageRank: no seed id intersects the graph's nodes")
    val outW = checkpoint(e.groupBy(col("src")).agg(sum(col("w")).as("out_w")))
    val ew = checkpoint(e.join(outW, "src"))
    val nSeeds = checkpoint(seeds.agg(count(lit(1)).as("__s")))

    val marked = checkpoint(nodes.join(
        seeds.select(col("node"), lit(1).as("__seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0)).as("__seed")))
    var ranks = checkpoint(marked.crossJoin(broadcast(nSeeds))
      .select(col("node"), col("__seed"),
        when(col("__seed") === 1, expr(s"${scale}L div __s"))
          .otherwise(lit(0L)).as("rank_mu")))
    for (_ <- 1 to iters) {
      val contrib = ew
        .join(ranks.select(col("node").as("src"), col("rank_mu")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(rank_mu * w) div out_w")).as("__in"))
      ranks = checkpoint(marked.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(nSeeds))
        .select(col("node"), col("__seed"),
          (when(col("__seed") === 1,
            expr(s"(15 * ${scale}L) div (100 * __s)")).otherwise(lit(0L)) +
            expr("(85 * coalesce(__in, 0L)) div 100")).as("rank_mu")))
    }
    ranks.select(col("node"), col("rank_mu"),
      (col("rank_mu").cast("double") / lit(scale.toDouble)).as("rank"),
      (col("__seed") === 1).as("is_seed"))
  }

  /** Token co-occurrence PageRank over a corpus: nodes are tokens, edge
    * (a, b) weight = corpus count of the ADJACENT ordered pair — the global
    * TextRank term-importance sheet. Vocab is Zipf-bounded, so node and
    * edge tables stay small relative to the corpus at any scale. */
  def tokenPageRank(docs: DataFrame, textCol: String, iters: Int): DataFrame =
    pageRank(tokenBigramEdges(docs, textCol), "src", "dst", "w", iters)

  /** The corpus's ADJACENT-ordered-pair token graph: (src, dst, w =
    * corpus count) — the Zipf-bounded edge table behind q181's PageRank
    * and q326's HITS. */
  def tokenBigramEdges(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.select(split(col(textCol), " ").as("t"))
      .where(size(col("t")) >= 2)
    toks.select(posexplode(col("t")).as(Seq("__i", "__a")),
        col("t"))
      .where(col("__i") < size(col("t")) - 1)
      .select(col("__a").as("src"), col("t").getItem(col("__i") + 1).as("dst"))
      .where(col("src") =!= "" && col("dst") =!= "")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) on a weighted directed
    * graph, fixed `iters` rounds of the alternating update h = W·a,
    * a = Wᵀ·h with L1 normalization each half-step (Σ = `scale` in
    * integer micro-units) — the two-sided importance sheet PageRank's
    * single score flattens: a node can matter as a POINTER (hub) or as
    * a TARGET (authority), and the bigram graph's function words split
    * exactly that way.
    *
    * Exact-integer discipline (the [[pageRank]] posture): masses are
    * BIGINT micro-units, each half-step is one dst- or src-keyed
    * aggregate plus a 1-row L1 total broadcast into the floor-division
    * normalize ((raw·scale) div S — at most 1 µ lost per node), rounds
    * are checkpointed so round N's plan does not embed rounds 1..N−1.
    * Magnitude bound: raw·scale ≤ max_mass·(Σw)·scale must stay under
    * 2⁶³ — with scale = 1e6 that holds to ~10⁶-node vocabularies and
    * ~10⁹ total edge weight; beyond that, widen to DECIMAL(38,0) on
    * both engines. A zero L1 total (empty graph) floors to all-zero
    * masses via the greatest(S, 1) guard instead of dividing by zero.
    * Output: (node, hub_mu, auth_mu, hub, authority). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, wCol: String): DataFrame = {
    val iters = 8
    val scale: Long = 1000000L
    val (e, nodes) = edgesAndNodes(edges, srcCol, dstCol, wCol)
    val nNodes = checkpoint(nodes.agg(count(lit(1)).as("__n")))

    def normalize(raw: DataFrame, outCol: String): DataFrame = {
      val full = nodes.join(raw, Seq("node"), "left")
        .select(col("node"), coalesce(col("__raw"), lit(0L)).as("__raw"))
      val s = full.agg(sum(col("__raw")).as("__s"))
      checkpoint(full.crossJoin(broadcast(s))
        .select(col("node"),
          expr(s"(__raw * ${scale}L) div greatest(__s, 1L)").as(outCol)))
    }

    var auth = checkpoint(nodes.crossJoin(broadcast(nNodes))
      .select(col("node"), expr(s"${scale}L div __n").as("a_mu")))
    // hub derives purely from auth each round (iters >= 1): no initial
    // hub mass exists in the data flow
    var hub: DataFrame = null
    // each half-step is checkpointed: a round-boundary-only variant was
    // measured SLOWER (the un-saved half-step's sub-plan re-evaluates
    // inside the next materialization job, deepening every stage) — the
    // per-half-step checkpoint keeps each of the 2·iters jobs shallow.
    for (_ <- 1 to iters) {
      hub = normalize(
        e.join(auth.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node"))
          .agg(sum(expr("w * a_mu")).as("__raw")), "h_mu")
      auth = normalize(
        e.join(hub.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("w * h_mu")).as("__raw")), "a_mu")
    }
    hub.join(auth, "node")
      .select(col("node"), col("h_mu").as("hub_mu"), col("a_mu").as("auth_mu"),
        (col("h_mu").cast("double") / lit(scale.toDouble)).as("hub"),
        (col("a_mu").cast("double") / lit(scale.toDouble)).as("authority"))
  }

  /** Deterministic synchronous label propagation (Raghavan et al., 2007),
    * fixed `iters` rounds: every node adopts the label with the largest
    * total incident edge weight among its neighbors, ties broken by the
    * SMALLEST label — so the result is a pure function of the graph, with
    * none of the random sweep order the original algorithm uses (and which
    * no two engines would replay identically).
    *
    * `edges`: (srcCol, dstCol, wCol) UNDIRECTED input — each edge is
    * expanded to both directions internally. Isolated nodes keep their own
    * label. Output: (node, community) after `iters` rounds.
    *
    * Known synchronous-LPA property: near-bipartite structures can
    * OSCILLATE between two labelings instead of converging — the contract
    * here is determinism at a fixed iteration count (the trajectory is a
    * pure function of the graph), not convergence; callers wanting a
    * fixpoint compare rounds k and k-2. (The classical fix — asynchronous
    * sweeps — trades that reproducibility away, which is why it is not
    * used here.)
    *
    * Scale design: one edge-keyed join + one (node, label) aggregate + one
    * per-node argmax per round; the argmax window partitions by node and
    * its frame is bounded by the node's distinct neighbor-label count
    * (≤ degree). Each round is checkpointed (the pageRank/
    * connectedComponents lineage discipline). A SQL oracle replays the
    * rounds as unrolled CTEs. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val dir = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
      col(wCol).cast("bigint").as("w"))
    val sym = checkpoint(dir.unionByName(
        dir.select(col("b").as("a"), col("a").as("b"), col("w")))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w")))
    val nodes = checkpoint(sym.select(col("a").as("node")).distinct())

    var labels = checkpoint(nodes.select(col("node"), col("node").as("community")))
    for (_ <- 1 to iters) {
      val gathered = sym
        .join(labels.select(col("node").as("b"), col("community")), "b")
        .groupBy(col("a").as("node"), col("community"))
        .agg(sum(col("w")).as("__sw"))
      val w = Window.partitionBy("node")
        .orderBy(col("__sw").desc, col("community").asc)
      val best = gathered.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).select(col("node"), col("community"))
      labels = checkpoint(nodes.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("community"), col("node")).as("community")))
    }
    labels
  }

  /** Iterative BFS tree/DAG traversal — the engine's answer to a recursive
    * CTE (Spark has none): starting from `roots` at depth 0, each round
    * joins the frontier against the child→parent edge list and assigns
    * depth d+1, until a round discovers nothing new (or a 100-round cap
    * guards a cycle). Output: (node, depth) — first-reached depth per node
    * (dedup-min for DAGs where multiple parents reach a node).
    *
    * Scale design: one edge-keyed equi-join per LEVEL (O(depth) rounds,
    * the connectedComponents O(diameter) argument), frontier checkpointed
    * per round so round N's plan never embeds rounds 1..N−1. The per-round
    * emptiness probe is a limit-1 action (`head(1)`), not a collect. A SQL
    * oracle replays the whole traversal as a native WITH RECURSIVE. */
  def treeDepths(edges: DataFrame, childCol: String, parentCol: String,
                 roots: DataFrame, rootCol: String): DataFrame = {
    val maxIters = 100
    val e = checkpoint(edges.select(col(childCol).as("__c"), col(parentCol).as("__p")))
    var frontier = checkpoint(roots.select(col(rootCol).as("node"),
      lit(0L).as("depth")))
    var acc = frontier
    var iter = 0
    var done = frontier.isEmpty
    while (!done && iter < maxIters) {
      val next = checkpoint(
        e.join(frontier.withColumnRenamed("node", "__p"), "__p")
          .select(col("__c").as("node"), (col("depth") + 1).as("depth"))
          .groupBy(col("node")).agg(min(col("depth")).as("depth")))
      if (next.isEmpty) done = true
      else { acc = checkpoint(acc.unionByName(next)); frontier = next; iter += 1 }
    }
    // DAG safety: keep the first (minimum) depth per node
    acc.groupBy(col("node")).agg(min(col("depth")).as("depth"))
  }

  /** Token communities: label propagation over the adjacency graph of the
    * corpus's top-`topV` tokens (deterministic Zipf cut: count DESC, token
    * ASC), edge weight = adjacent directed-pair count, edges below `minW`
    * dropped — without the sparsification a dense co-occurrence graph
    * collapses into one giant community in 2-3 rounds (measured on the
    * test corpus: minW=0 → 1 community, minW=30 → 5). `minW` is an
    * absolute count, so callers scale it with the corpus (or derive it
    * from a quantile of pair counts). Output: (community, n_tokens)
    * sizes. Vocab-bounded: ≤ topV nodes, ≤ topV² edges at any corpus
    * size. */
  def tokenCommunities(docs: DataFrame, textCol: String, topV: Int,
                       iters: Int, minW: Long): DataFrame = {
    val toks = docs.select(split(col(textCol), " ").as("t"))
      .where(size(col("t")) >= 2)
    val top = toks.select(explode(col("t")).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("token").asc).limit(topV)
      .select(col("token"))
    val pairs = toks.select(posexplode(col("t")).as(Seq("__i", "__a")),
        col("t"))
      .where(col("__i") < size(col("t")) - 1)
      .select(col("__a").as("src"), col("t").getItem(col("__i") + 1).as("dst"))
      .where(col("src") =!= "" && col("dst") =!= "" && col("src") =!= col("dst"))
      .join(broadcast(top).withColumnRenamed("token", "src"), "src")
      .join(broadcast(top).withColumnRenamed("token", "dst"), "dst")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .where(col("w") >= minW)
    labelPropagation(pairs, "src", "dst", "w", iters)
      .groupBy(col("community")).agg(count(lit(1)).as("n_tokens"))
  }

  /** Market-basket co-occurrence with lift: for every unordered item pair
    * that appears together in at least num/den of all baskets, the pair's
    * basket count and lift = N·c_ab/(c_a·c_b) — the association screen a
    * catalog/recommendation report runs (lift > 1: bought together more
    * than independence predicts).
    *
    * The support threshold is a RATIONAL share of baskets (c_ab·den ≥
    * N·num, all-integer), not an absolute count, so the same query means
    * the same thing at sf0.01 and at 100 TB.
    *
    * Scale: per-basket pair expansion is bounded by basket size squared
    * (order line counts — single digits), shuffled on the canonical
    * (item_a < item_b) pair key; item totals and the 1-row basket count
    * join AFTER the support filter prunes the pair table, and lift's
    * double arithmetic happens once per surviving pair. */
  def cooccurrenceLift(df: DataFrame, basketCol: String, itemCol: String,
                       num: Long, den: Long): DataFrame = {
    val bi = df.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
    val itemCnt = bi.groupBy(col("__i")).agg(count(lit(1)).as("__ci"))
    val nb = bi.select(col("__b")).distinct().agg(count(lit(1)).as("__n"))
    val pairs = bi.join(bi.select(col("__b").as("__b2"), col("__i").as("__j")),
        col("__b") === col("__b2") && col("__i") < col("__j"))
      .groupBy(col("__i"), col("__j")).agg(count(lit(1)).as("pair_cnt"))
    pairs.crossJoin(broadcast(nb))
      .where(col("pair_cnt") * den >= col("__n") * num)
      .join(itemCnt, "__i")
      .join(itemCnt.select(col("__i").as("__j"), col("__ci").as("__cj")), "__j")
      .select(col("__i").as("item_a"), col("__j").as("item_b"),
        col("pair_cnt"),
        (col("__n").cast("double") * col("pair_cnt").cast("double") /
          (col("__ci").cast("double") * col("__cj").cast("double"))).as("lift"))
  }

  /** Per-vertex triangle participation over an undirected edge list —
    * the clustering-structure census (a vertex in many triangles sits in a
    * dense community; triangle-free vertices are bridges). Input edges may
    * be in any orientation/duplication; they canonicalize to a < b first.
    * Output: (vertex, n_triangles), one row per vertex of at least one
    * triangle.
    *
    * The standard two-join distributed plan: wedges a—b—c from edges
    * (a<b)⋈(b<c), closed against the edge set on (a,c) — every join is an
    * equi-join on vertex keys, a<b<c canonicalization counts each
    * triangle exactly once, and the wedge table is the only intermediate
    * (bounded by Σ_v deg(v)² — the usual caveat: cap or threshold the
    * edge set for power-law graphs, as the q222 support filter does). */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(
      least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val wedges = e.join(e.select(col("a").as("b"), col("b").as("c")), "b")
    val tris = wedges.join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy(col("vertex")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Link prediction over an undirected graph: every NON-edge pair within
    * two hops, scored by common-neighbor count and Adamic–Adar
    * (Σ 1/ln(deg(z)) over shared neighbors z — rarer mutual friends count
    * more). The "customers who bought X also ended up buying Y"
    * candidate generator.
    *
    * Scale: the two-hop expansion is a self-join keyed on the MIDDLE
    * node, so each middle contributes deg² wedge pairs — the classic
    * hub blowup. `maxDeg` drops super-hub middles before the join (their
    * AA contribution ~1/ln(deg) is asymptotically negligible, the
    * standard cap, same trade as the dedup df caps); everything else is
    * keyed equi-joins. Determinism: 1/ln(deg) quantizes to integer
    * micro-units per middle, so AA sums are exact BIGINTs.
    * Output: (item_a < item_b, cn, aa_mu, aa). */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
                     maxDeg: Int): DataFrame = {
    val e = edges.select(
      least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("z")).agg(count(lit(1)).as("deg"))
    val mid = und.select(col("b").as("z"), col("a").as("x"))
      .join(deg.where(col("deg").between(2, maxDeg)), "z")
      .withColumn("aa_mu",
        expr("CAST(round(1e6 / ln(CAST(deg AS DOUBLE))) AS BIGINT)"))
    val m1 = mid.select(col("z"), col("x"), col("aa_mu"))
      .toDF("z", "xa", "aa_mu")
    val m2 = mid.select(col("z"), col("x")).toDF("z", "xb")
    val cand = m1.join(m2, "z")
      .where(col("xa") < col("xb"))
      .groupBy(col("xa"), col("xb"))
      .agg(count(lit(1)).as("cn"), sum(col("aa_mu")).as("aa_mu"))
    cand.join(e, cand("xa") === e("a") && cand("xb") === e("b"), "left_anti")
      .select(col("xa").as("item_a"), col("xb").as("item_b"), col("cn"),
        col("aa_mu"),
        round(col("aa_mu").cast("double") / lit(1e6), 6).as("aa"))
  }

  /** Bounded-round k-core peel: repeatedly drop vertices with degree < k
    * (and their edges) for `rounds` rounds, then report survivors with
    * their core degree — the standard "dense engagement core" carve.
    * Fixed rounds make the iteration a deterministic, oracle-replayable
    * contract (the q181 unrolled-iteration pattern); each round is two
    * keyed joins + one keyed agg, localCheckpointed so plan size stays
    * constant (the connected-components discipline). A round that
    * removes nothing is a fixpoint — extra rounds are no-ops. */
  def kCorePeel(edges: DataFrame, aCol: String, bCol: String, k: Int,
                rounds: Int): DataFrame = {
    val e0 = edges.select(
      least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    // checkpoint BEFORE the loop: round 1's degree filter and its edge
    // join both consume `und` — without this the (possibly expensive)
    // upstream edge derivation runs twice
    var und = e0.unionAll(e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = und.groupBy(col("a")).agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k).select(col("a"))
      und = und.join(keep, "a")
        .join(keep.withColumnRenamed("a", "b"), "b")
        .select(col("a"), col("b")).localCheckpoint()
    }
    und.groupBy(col("a").as("vertex")).agg(count(lit(1)).as("core_deg"))
  }
}
