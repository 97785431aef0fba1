package graft.queries

/** Shared DuckDB-oracle SQL fragments used by more than one query module,
  * kept in ONE place: the cross-engine numeric workarounds (so a
  * scale-dependent divergence class gets fixed, and re-diagnosed, once)
  * and the CTE chains and expressions that oracles in different modules
  * spell identically. A fragment that one module alone uses stays private
  * to that module. Every fragment is plain DuckDB SQL, written
  * independently of the Spark operators it checks.
  */
object OracleSql {

  /** DECIMAL → DOUBLE routed THROUGH VARCHAR.
    *
    * DuckDB's direct DECIMAL→DOUBLE cast double-rounds (int128 → double,
    * then /10^scale — measured 1 ulp off on sf0.1 Σx² sums whose unscaled
    * values pass 2⁶³), while Spark's BigDecimal.doubleValue and DuckDB's
    * string parse are both correctly rounded. Exact sums whose unscaled
    * value stays below 2⁵³ are unaffected either way — use this whenever
    * an oracle casts a wide exact DECIMAL sum to DOUBLE and the unscaled
    * magnitude can cross 2⁵³ at a larger scale factor (e.g. revenue sums
    * ~7e15 around sf10): the cheap insurance beats re-diagnosing the
    * 1-ulp gate failure. */
  def decToDouble(x: String): String = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"

  /** The opening CTEs of the vector-search oracles (no WITH): embeddings
    * `e(vec_id, emb)` as DOUBLE lists and `n(vec_id, emb, nrm)` with the
    * sequential-fold L2 norm; `extra` appends columns to `n` (",\n" +
    * column text). */
  def embNormsCte(extra: String = ""): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |        sqrt(list_reduce(list_transform(emb, x -> x*x), (a,x) -> a+x)) AS nrm$extra
       |      FROM e)""".stripMargin

  /** The centered co-moments dxx = n·Σxx − (Σx)², dyy = n·Σyy − (Σy)² and
    * dxy = n·Σxy − Σx·Σy over exact sums n, sx, sy, sxx, syy, sxy, in
    * Stats' double operation order (the q170 OLS and q294/q301 CUPED
    * oracles). */
  val centeredMoments: String =
    """CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dxx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dyy,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS dxy""".stripMargin

  /** Contamination shingles (no WITH): each doc's distinct 12-token
    * shingles `cs(doc_id, sh)` (docs of >= 13 tokens) and the eval set's
    * `es(eval_id, sh)` = those of docs 0..9 (the q85/q135 oracles). */
  val evalShinglesCte: String =
    """cs AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(
      |      [array_to_string(toks[i : i + 12], ' ') for i in range(1, len(toks) - 11)])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |  WHERE len(toks) >= 13),
      |es AS (SELECT doc_id AS eval_id, sh FROM cs WHERE doc_id < 10)""".stripMargin

  /** Every click's as-of purchase by the same user, `cmp` being the
    * ASOF inequality `c.ts <cmp> p.ts`: ">=" the latest purchase at or
    * before the click (q43), "<=" the earliest at or after it (q97). */
  def asofPurchaseSql(cmp: String): String =
    s"""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
       |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
       |SELECT c.event_id, c.user_id,
       |  CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) AS purchase_sec,
       |  p.value AS purchase_value
       |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts $cmp p.ts""".stripMargin

  /** The rank-sum grid of the q216/q241 oracles (no WITH): per distinct
    * n_chars value `v` of the documents passing `where` ("" or
    * "WHERE ... "), the English count `ca`, the total `cnt` and the count
    * `below` it, so mid-ranks are exact integers (2·below + cnt + 1). */
  def enRankGridCte(where: String): String =
    s"""grid AS (
       |  SELECT n_chars AS v,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents ${where}GROUP BY 1),
       |c AS (
       |  SELECT v, ca, cnt,
       |    CAST(coalesce(sum(cnt) OVER (ORDER BY v ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS below
       |  FROM grid)""".stripMargin

  /** The q101 add-one-smoothed bigram LM (no WITH): per-bigram-TYPE
    * log-prob quantized to integer micro-units in `model`, over the
    * doc-level counts `db` (CTEs toks, db, big, uni, v, model; the
    * LlmQueries LM oracles and q319). */
  private[queries] val addOneLmCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |db AS (
      |  SELECT doc_id, w1, w2, count(*) AS occ FROM (
      |    SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      |    FROM toks)
      |  GROUP BY 1, 2, 3),
      |big AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c2 FROM db GROUP BY 1, 2),
      |uni AS (SELECT w1, count(*) AS c1
      |        FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM uni),
      |model AS (
      |  SELECT big.w1, big.w2,
      |    CAST(round(ln(CAST(big.c2 + 1 AS DOUBLE) / CAST(uni.c1 + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp_mu
      |  FROM big JOIN uni ON big.w1 = uni.w1 CROSS JOIN v)""".stripMargin

  /** Per-doc tail of the LM oracles: `n` tokens and the token-weighted
    * cross-entropy over `from` (occ, lp_mu) as the house exact-integer
    * half-up 6 dp mean. */
  private[queries] def docXentSql(n: String, from: String): String =
    s"""SELECT doc_id, CAST(sum(occ) AS BIGINT) AS $n,
       |  CAST(CAST((2 * (-sum(occ * lp_mu)) + sum(occ))
       |    // (2 * sum(occ)) AS BIGINT) AS DOUBLE) / 1e6 AS xent
       |FROM $from
       |GROUP BY doc_id""".stripMargin

  /** [[docXentSql]] of every doc under the [[addOneLmCte]] model. */
  private[queries] val bigramXentSql =
    docXentSql("n_bigrams", "db JOIN model USING (w1, w2)")
}
