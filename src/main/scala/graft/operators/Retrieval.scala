package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the document corpus: Okapi BM25 top-k.
  *
  * Engine extension beyond the reference's operator list (dask-expr has
  * no retrieval surface); the ranking function is the public Okapi BM25
  * formulation (Robertson & Spärck Jones; the `k1`/`b` parameterization
  * used by Lucene/Elasticsearch):
  *
  *   score(q, d) = Σ_{t ∈ q} idf(t) · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·|d|/avgdl))
  *   idf(t)      = ln(1 + (N − df_t + 0.5) / (df_t + 0.5))
  *
  * Scale shape (the inverted-index join, not a corpus×queries product):
  *
  *  1. the token stream is SEMI-JOINED against the broadcast set of
  *     query terms before any aggregation, so every downstream shuffle
  *     is proportional to the postings of the query terms, not the
  *     corpus token stream;
  *  2. document length is computed in the same projection as the token
  *     explode and carried through the tf groupBy (functionally
  *     dependent on the doc id — no second corpus-sized join);
  *  3. per-term document frequency aggregates over the matched postings
  *     only (every posting of a matched term survives the semi-join, so
  *     the count is exact) and is broadcast back;
  *  4. the final (query, doc) score aggregation shuffles on the pair
  *     key; top-k per query is a rank window partitioned by query —
  *     bounded groups, no single-partition funnel.
  *
  * Corpus statistics N and avgdl come from one-row aggregates joined by
  * broadcast (never a driver collect of corpus data).
  */
object Retrieval {

  /** BM25 top-k: returns (query_id, doc_id, score) with `score` the
    * Okapi BM25 value, top `k` docs per query (ties broken by doc id).
    *
    * `queries` must be (query_id, term) — duplicate terms are ignored
    * (standard BM25 drops query-side term frequency). A query doc with
    * the same id as a corpus doc is not excluded here; filter upstream
    * if self-matches are unwanted.
    *
    * Precondition: `idCol` values are unique in `docs`. Document
    * frequency is derived from the per-(doc_id, term) tf rows, so two
    * docs sharing an id count once in `df` and their postings merge
    * into one tf row. This is not checked: a uniqueness check would
    * cost a job.
    */
  def bm25TopK(
      docs: DataFrame,      // (id, text, ...)
      idCol: String,
      textCol: String,
      queries: DataFrame,   // (query_id, term)
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // Distinct (query_id, term) pairs. Dedup is semantic (BM25 ignores
    // query-side term frequency, and the contrib join-back below would
    // double-count a repeated term), but the query side is broadcast-
    // bounded by contract — it ships to every executor twice below — so
    // the dedup runs as a narrow single-partition aggregate instead of a
    // full shuffle round-trip (guide §2.4: remove shuffles outright;
    // coalesce is not an exchange). The r19 shape paid that distinct
    // shuffle once per broadcast build (2-3 stage-jobs per retriever
    // stack, since the semi-join build's column pruning defeats
    // exchange reuse between the two builds).
    val qTerms = queries.select(col("query_id"), col("term"))
      .coalesce(1).distinct()

    // Token stream with doc length carried from the same projection.
    val toks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__ws"))
      .select(col("doc_id"), size(col("__ws")).cast("double").as("dl"),
        explode(col("__ws")).as("term"))

    // Cut to the query-term postings before any shuffle. LEFT SEMI
    // against the broadcast (query_id, term) pairs: a semi join never
    // multiplies rows, so the separate `qTerms.select("term")
    // .distinct()` build the r18 shape paid (one more aggregate
    // exchange + broadcast stage-job per run, ×2 in q_rrf_fusion) is
    // dropped — the broadcast hash set dedups terms by construction.
    val matched = toks.join(broadcast(qTerms), Seq("term"), "left_semi")

    // dl is functionally dependent on doc_id; grouping by it keeps the
    // aggregate deterministic (no first()) at zero extra shuffle width.
    val tf = matched.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    // tf is unique per (doc_id, term) — dl is functionally dependent on
    // doc_id — so counting tf rows per term IS count_distinct(doc_id)
    // over the matched postings. Re-aggregating tf replaces the r19
    // shape's SECOND pass over the corpus token stream (scan + explode
    // + semi join + a two-exchange count_distinct); AQE's stage cache
    // reuses tf's exchange for this branch, so df costs one small
    // re-aggregate of (doc, term) rows (guide §2.4 / §1.2: remove
    // passes, not just shuffles).
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))

    // One-row corpus stats (N over ALL docs, avgdl over ALL docs).
    val stats = docs.select(col(idCol),
        size(split(col(textCol), " ")).cast("double").as("__dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"), avg("__dl").as("avgdl"))

    val contrib = tf
      .join(broadcast(df), Seq("term"))
      .join(broadcast(qTerms), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("__c"))

    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(sum("__c").as("score"))
    // bounded partial top-k (Similarity.topKPerQuery) instead of a
    // per-query rank window: postings-bounded here, but the partial
    // aggregation shape is strictly cheaper and audit-uniform
    Similarity.topKPerQuery(scored, k, "score", scoreDesc = true,
        idCol = "doc_id")
      .select("query_id", "doc_id", "score", "rn")
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009): combine
    * ranked lists from heterogeneous retrievers (lexical BM25, dense
    * cosine, n-gram Jaccard, ...) into one list without score
    * calibration — each list contributes `1/(c + rank)` per hit and a
    * document's fused score is the sum, so retrievers with wildly
    * different score scales vote on rank alone. The standard hybrid
    * first-stage for retrieval-augmented data curation.
    *
    * Every input is already top-k-per-query (bounded), so the fused
    * candidate set is ≤ lists·k rows per query: the union is a narrow
    * map-only projection, the per-(query, doc) sum is a partial
    * aggregate over group size ≤ number of lists, and the final top-k
    * is [[Similarity.topKPerQuery]] — nothing corpus-sized moves, at
    * any scale. With ≤2 lists the fused sum is order-exact (IEEE
    * addition is commutative); beyond that it is deterministic up to
    * the usual 1-ulp association drift of any distributed sum.
    *
    * Inputs need columns (queryCol, idCol, rn); ranks must be 1-based
    * (as emitted by [[bm25TopK]], [[jaccardTopK]] and the
    * `Similarity.*TopK` family). Output: (queryCol, idCol, rrf, rn).
    */
  def rrfFuse(
      lists: Seq[DataFrame],
      k: Int,
      c: Double = 60.0,
      queryCol: String = "query_id",
      idCol: String = "doc_id"): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val weighted = lists.map(_.select(col(queryCol), col(idCol),
      (lit(1.0) / (lit(c) + col("rn").cast("double"))).as("__w")))
    val scored = weighted.reduce(_ unionByName _)
      .groupBy(queryCol, idCol)
      .agg(sum("__w").as("rrf"))
    Similarity.topKPerQuery(scored, k, "rrf", scoreDesc = true,
      idCol = idCol, queryCol = queryCol)
  }

  /** Lexical doc-kNN: the `k` corpus documents most similar to each
    * query document by word n-gram Jaccard — the "find me more like
    * these" primitive (near-dup triage, retrieval-augmented curation),
    * exact over the shared-shingle candidate set.
    *
    * Scale shape (the asymmetric-retrieval layout, like [[bm25TopK]]):
    * per-doc DISTINCT shingle-hash sets come from ONE row-local kernel
    * call each ([[graft.functions.ShingleHashes]] — no explode+distinct
    * shuffle; set size rides in the same projection), the small query
    * side is broadcast into the corpus shingle stream, intersections
    * are a (query, doc)-keyed partial-aggregate count — cost ∝ shared
    * shingle postings, never corpus × queries — and Jaccard
    * |A∩B| / (|A|+|B|−|A∩B|) is one division of exact integer sums.
    * Top-k via [[Similarity.topKPerQuery]] (bounded partial
    * aggregation; ties by doc id). A doc sharing no shingle with a
    * query scores 0 and is simply absent.
    *
    * Output: (query_id, doc_id, jaccard, rn). */
  def jaccardTopK(
      corpus: DataFrame,    // (id, textCol, ...)
      idCol: String,
      textCol: String,
      queries: DataFrame,   // (query_id, textCol) — SAME text column name
      n: Int,
      k: Int): DataFrame = {
    def shingleSets(df: DataFrame, id: Column, outId: String) = df
      .select(id.as(outId),
        graft.functions.ShingleHashes(col(textCol), n, 7, dedup = true)
          .as("__hs"))
      .select(col(outId), size(col("__hs")).cast("long").as(s"__n_$outId"),
        explode(col("__hs")).as("__h"))
    val qSh = shingleSets(queries, col("query_id"), "query_id")
    val cSh = shingleSets(corpus, col(idCol), "doc_id")
    val scored = cSh.join(broadcast(qSh), Seq("__h"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("__i"),
        max("__n_query_id").as("__qs"), max("__n_doc_id").as("__cs"))
      .select(col("query_id"), col("doc_id"),
        (col("__i").cast("double") /
          (col("__qs") + col("__cs") - col("__i")).cast("double"))
          .as("jaccard"))
    Similarity.topKPerQuery(scored, k, "jaccard", scoreDesc = true,
      idCol = "doc_id")
  }
}
