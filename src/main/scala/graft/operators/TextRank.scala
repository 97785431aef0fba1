package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF retrieval over an arbitrary query-term TABLE — the operator form
  * of q82's fixed-vocabulary scoring: terms arrive as data, so the
  * vocabulary can be any size without changing the plan shape.
  *
  * Plan (inverted-index shape): explode docs to (doc, term), semi-restrict
  * to the query terms with a term-keyed equi-join (AQE broadcasts a small
  * term table; a huge one stays a keyed shuffle), aggregate term frequencies
  * per (doc, term), derive each term's document frequency from that same
  * table, and score. Every shuffle is keyed on the doc or the term — nothing
  * is ever cross-joined against the corpus, which is what makes the same
  * plan hold when the vocabulary has a million entries.
  *
  * Determinism: the per-term score `tf · ln(N/df)` is quantized to integer
  * micro-units (`round(x·1e6)` as BIGINT) BEFORE the per-doc sum, so the sum
  * is exact and order-free — partial aggregation cannot move a double — and
  * ranking happens on the integer sum with doc id as tie-break. A SQL oracle
  * replays the arithmetic bit-for-bit. Only docs matching at least one query
  * term are scored (inverted-index semantics: a no-match doc has score 0 and
  * is never retrieved).
  */
object TextRank {

  /** The ONE tf·idf scoring stage behind [[tfidfTopK]] (vocabulary
    * restricted to a query-term table) and [[keywordsPerDoc]] (full
    * vocabulary, optional length floor): (id, term, mu) with
    * mu = round(tf · ln(N/df) · 1e6) as an exact long. Document frequency
    * is derived from the tf table (one row per (doc, term)) — never a
    * second pass over the corpus. */
  private def tfidfMu(docs: DataFrame, idCol: String, textCol: String,
                      queryTerms: Option[DataFrame], minTermLen: Int): DataFrame = {
    val exploded = docs.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    // minTermLen >= 1 also drops the empty tokens a run of spaces produces
    val toks = if (minTermLen >= 1) exploded.where(length(col("term")) >= minTermLen)
               else exploded
    val base = queryTerms.fold(toks)(qt => toks.join(qt, "term"))
    val tf = base.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfs, "term")
      .crossJoin(broadcast(n))
      .withColumn("mu", round(col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df").cast("double")) *
        lit(1e6)).cast("long"))
  }

  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                terms: DataFrame, termCol: String, k: Int): DataFrame = {
    val qt = terms.select(col(termCol).as("term")).distinct()
    tfidfMu(docs, idCol, textCol, Some(qt), minTermLen = 0)
      .groupBy(col(idCol)).agg(sum(col("mu")).as("mu"))
      .orderBy(col("mu").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), (col("mu").cast("double") / lit(1e6)).as("score"))
  }

  /** Per-document keyword extraction: each doc's top-k terms by tf·idf over
    * the corpus-wide document frequencies — the "what is this doc about"
    * tagging pass of a curation pipeline (the transpose of [[tfidfTopK]],
    * which ranks docs for a query set). Output: id, rnk, term, score.
    *
    * Plan: the tf/df tables are the same term-keyed aggregates as
    * [[tfidfTopK]] (full vocabulary — Zipf-bounded distinct terms), and the
    * per-doc top-k is a rank window PARTITIONED BY the doc id: bounded
    * per-partition work (a doc's distinct terms), keyed shuffle, never a
    * global window. Same micro-unit quantization discipline. */
  def keywordsPerDoc(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, minTermLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("mu").desc, col("term").asc)
    tfidfMu(docs, idCol, textCol, None, minTermLen)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("term"),
        (col("mu").cast("double") / lit(1e6)).as("score"))
  }

  /** BM25 retrieval (Robertson/Sparck-Jones, the Lucene-style formulation
    * with the +1 inside the idf log so scores are always positive):
    *
    *   score(d) = Σ_t ln((N - df + 0.5)/(df + 0.5) + 1)
    *              · tf·(k1+1) / (tf + k1·(1 - b + b·len(d)/avgLen))
    *
    * Same inverted-index plan as [[tfidfTopK]] — term-keyed joins only, doc
    * length carried through the tf aggregate (no extra corpus join), corpus
    * stats as ONE broadcast row. avgLen is the ratio of two exact integers
    * (total tokens / docs), every constant is a plain double literal, and
    * the arithmetic shape below is mirrored token-for-token by the SQL
    * oracle, so per-term scores are deterministic IEEE; they are then
    * quantized to integer micro-units before the per-doc sum (order-free)
    * and ranked on the integer with the doc id as tie-break. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: DataFrame, termCol: String, k: Int): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    // token count WITHOUT materializing the token array: split-on-single-
    // space semantics make it exactly (#space bytes + 1), so dlen and the
    // corpus total_toks cost three codegen'd string ops instead of a second
    // and third split of every document (the former 3x-tokenize was q84's
    // dominant cost at sf0.1)
    def nToks = (length(col(textCol)) -
      length(replace(col(textCol), lit(" "), lit(""))) + 1).cast("bigint")
    val toks = docs.select(col(idCol), nToks.as("dlen"),
      explode(split(col(textCol), " ")).as("term"))
    val qt = terms.select(col(termCol).as("term")).distinct()
    val tf = toks.join(qt, "term")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dlen")).as("dlen"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(nToks).as("total_toks"))
    // double literals interpolate via Double.toString, which round-trips to
    // the identical double in both engines' parsers
    val score =
      s"ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
        s"(CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1 AS DOUBLE)) * " +
      s"(CAST(tf AS DOUBLE) * CAST(${k1 + 1} AS DOUBLE)) / " +
      s"(CAST(tf AS DOUBLE) + CAST($k1 AS DOUBLE) * (CAST(${1 - b} AS DOUBLE) + " +
        s"CAST($b AS DOUBLE) * CAST(dlen AS DOUBLE) / " +
        s"(CAST(total_toks AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
    tf.join(dfs, "term")
      .crossJoin(broadcast(stats))
      .withColumn("mu", expr(s"CAST(round(($score) * 1e6) AS BIGINT)"))
      .groupBy(col(idCol)).agg(sum(col("mu")).as("mu"))
      .orderBy(col("mu").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), (col("mu").cast("double") / lit(1e6)).as("score"))
  }
}
