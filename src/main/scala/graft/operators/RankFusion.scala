package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion (RRF) of independently-produced ranked candidate
  * lists — the standard way a retrieval pipeline combines a sparse (BM25)
  * ranking with a dense (embedding-cosine) ranking without score
  * calibration: fused(d) = Σ_lists 1 / (kRrf + rank_list(d)).
  *
  * Determinism: each reciprocal is quantized to integer micro-units BEFORE
  * the per-candidate sum, so fusion is order-free integer arithmetic and the
  * final ordering ties break on the candidate id — the same discipline as
  * [[TextRank]] scoring.
  *
  * Scale: each input list is already top-k-bounded by its producer, so the
  * union is ≤ Σ k_i rows; the fuse is one tiny keyed aggregate. The heavy
  * lifting (and the shuffles) live in the producers, which are the operators
  * with the 100-TB plans (inverted index for BM25, IVF/LSH for dense).
  */
object RankFusion {

  /** Fuse ranked lists. Each input is (df, idCol, rankCol) where rankCol is
    * a 1-based dense position. Output: id (named `outId`), rrf_score. */
  def rrf(lists: Seq[(DataFrame, String, String)], outId: String, topK: Int): DataFrame = {
    val kRrf = 60
    val parts = lists.map { case (df, idCol, rankCol) =>
      df.select(col(idCol).cast("bigint").as(outId),
        // 1e6/(kRrf+rank): one double divide of exact integers, rounded to
        // micro-units — reproducible bit-for-bit in any IEEE engine
        expr(s"CAST(round(CAST(1000000 AS DOUBLE) / CAST($kRrf + $rankCol AS DOUBLE)) AS BIGINT)")
          .as("mu"))
    }
    parts.reduce(_.unionByName(_))
      .groupBy(col(outId))
      .agg(sum(col("mu")).as("mu"))
      .orderBy(col("mu").desc, col(outId).asc)
      .limit(topK)
      .select(col(outId), (col("mu").cast("double") / lit(1e6)).as("rrf_score"))
  }
}
