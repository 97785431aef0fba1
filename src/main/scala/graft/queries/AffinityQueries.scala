package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.Affinity

/** Market-basket affinity batch (q257–q258): item co-occurrence with
  * capped in-row pair expansion, and the window-free per-item top-k
  * neighbor table — the item-item collaborative-filtering prep a
  * commerce/session log pipeline ships. See [[graft.operators.Affinity]]
  * for the bucketed-pair scale argument.
  */
object AffinityQueries {

  type Q = (SparkSession, String) => DataFrame

  private def pairs(s: SparkSession, d: String): DataFrame =
    Affinity.itemPairs(
      table(s, d, "lineitem").select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", cap = 12, minSupport = 2)

  val queries: Map[String, Q] = Map(

    // Top-20 co-purchased part pairs by support (full deterministic
    // order: support desc, then pair ids) — TakeOrderedAndProject, no
    // global sort materialized.
    "q257_item_cooccurrence" -> ((s, d) =>
      pairs(s, d)
        .orderBy(col("n_pair").desc, col("item_a"), col("item_b"))
        .limit(20)),

    // Per-item top-3 neighbors by lift over the symmetric pair table —
    // TopKAgg keyed by item, O(k) state per map task, no rank window.
    "q258_similar_items" -> ((s, d) =>
      Affinity.similarItems(pairs(s, d), k = 3)),

    // Top-20 length-3 event paths over each user's EARLIEST 20 events —
    // sequence mining with the hot-user cap applied BEFORE any per-user
    // collection: TopKAgg on exact negated epoch-µs keeps O(cap) state
    // per (user, map task) where a row_number window would sort-shuffle
    // a mega-user's full history through one task; the trigram expansion
    // then runs in-row over a ≤cap array. Ties break by event_id, same
    // as the oracle's ORDER BY ts, event_id.
    "q264_event_paths" -> ((s, d) =>
      Affinity.eventPaths(table(s, d, "events"), "user_id", "ts",
          "event_id", "event_type", cap = 20)
        .orderBy(col("n").desc, col("path"))
        .limit(20)))

  /** The basket item-pair counts of q257/q258 (no WITH): each order's
    * first 12 distinct parts as baskets `cb`, co-occurring pairs `p` seen
    * in at least 2 baskets, per-item basket counts `ic` and the basket
    * total `nb`. */
  private val itemPairsCte =
    """bi AS (
      |  SELECT l_orderkey AS b, l_partkey AS i,
      |    row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_partkey) AS rn
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)),
      |cb AS (SELECT b, i FROM bi WHERE rn <= 12),
      |p AS (
      |  SELECT a.i AS item_a, b2.i AS item_b,
      |    CAST(count(*) AS BIGINT) AS n_pair
      |  FROM cb a JOIN cb b2 ON a.b = b2.b AND a.i < b2.i
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM cb GROUP BY 1),
      |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS t FROM cb)""".stripMargin

  val oracle: Map[String, String] = Map(

    "q257_item_cooccurrence" ->
      s"""WITH $itemPairsCte
        |SELECT item_a, item_b, n_pair, ia.n AS n_a, ib.n AS n_b,
        |  CAST(n_pair AS DOUBLE) / (ia.n + ib.n - n_pair) AS jaccard,
        |  CAST(n_pair AS DOUBLE) * nb.t
        |    / (CAST(ia.n AS DOUBLE) * ib.n) AS lift
        |FROM p JOIN ic ia ON p.item_a = ia.i
        |  JOIN ic ib ON p.item_b = ib.i, nb
        |ORDER BY n_pair DESC, item_a, item_b LIMIT 20""".stripMargin,

    "q258_similar_items" ->
      s"""WITH $itemPairsCte,
        |pl AS (
        |  SELECT item_a, item_b,
        |    CAST(n_pair AS DOUBLE) * nb.t
        |      / (CAST(ia.n AS DOUBLE) * ib.n) AS lift
        |  FROM p JOIN ic ia ON p.item_a = ia.i
        |    JOIN ic ib ON p.item_b = ib.i, nb),
        |sym AS (
        |  SELECT item_a AS item, item_b AS nb2, lift FROM pl
        |  UNION ALL
        |  SELECT item_b AS item, item_a AS nb2, lift FROM pl),
        |r AS (
        |  SELECT item, nb2, lift, row_number() OVER (PARTITION BY item
        |    ORDER BY lift DESC, nb2) AS rnk
        |  FROM sym)
        |SELECT item, CAST(rnk AS BIGINT) AS rank, nb2 AS neighbor, lift
        |FROM r WHERE rnk <= 3""".stripMargin,

    "q264_event_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |c AS (SELECT * FROM r WHERE rn <= 20),
        |tri AS (
        |  SELECT event_type || '>' ||
        |      lead(event_type, 1) OVER w || '>' ||
        |      lead(event_type, 2) OVER w AS path,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY rn))
        |SELECT path, CAST(count(*) AS BIGINT) AS n
        |FROM tri WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin)
}
