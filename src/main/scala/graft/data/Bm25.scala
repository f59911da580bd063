package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Okapi BM25 keyword retrieval + reciprocal-rank fusion — the LEXICAL
 * tier of the retrieval stack ([[Similarity]]/[[Pq]] are the semantic
 * tier; production RAG/dedup pipelines run both and fuse, which is
 * exactly what [[rrfFuse]] provides).
 *
 * Scale shape: the corpus explodes once to (doc, term, tf) rows behind
 * ONE term-keyed aggregation; scoring joins those rows to the
 * (broadcast) query terms on the term key, so corpus terms that appear
 * in no query are filtered AT the join — the per-query work is
 * |matching postings|, not |corpus|. Document frequency is counted by
 * a (query, term) window over the JOINED rows (each such partition
 * holds exactly the postings of that term, so the count IS df) —
 * post-filter, so no second corpus-wide aggregation exists in the
 * plan; the per-(query, doc) rollup is the only other shuffle.
 * Corpus-wide constants (N, avgdl) come from a map-only pass over the
 * un-exploded corpus (a projection reduced to one row — no explode,
 * no keyed shuffle) and ride along as a 1-row broadcast — one lazy
 * plan, no driver action, and `PlanSpec` pins that the corpus explodes
 * exactly once. Like the ANN entry points, a `broadcastQueries =
 * false` spelling swaps the query side to a shuffle-hash join for
 * corpus-sized query batches.
 *
 * Oracle parity: per-(query, doc, term) score components are rounded to
 * integer MICRO-UNITS and summed as longs, so the final score is exact
 * integer arithmetic regardless of aggregation order — the documented
 * repo pattern for cross-engine float-sum parity (FP addition is not
 * associative; a hash aggregate's order is not deterministic).
 *
 * Reference scope: beyond-reference LLM-pipeline operator (BM25:
 * Robertson & Walker, SIGIR 1994; idf spelling is Lucene's
 * `ln(1 + (N - df + 0.5) / (df + 0.5))`, non-negative by construction).
 */
object Bm25 {

  /** Postings: one row per (doc, term) with term frequency and doc
   * length — `(doc_id, dl, term, tf)`, one keyed shuffle. Tokens are
   * lowercased whitespace splits ([[TextFunctions.tokens]]). */
  def docTerms(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(lower(col(textCol))).as("__t"))
      .select(col("doc_id"), size(col("__t")).as("dl"),
        explode(col("__t")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Lucene-style BM25 idf — `ln(1 + (N - df + 0.5) / (df + 0.5))`,
   * ≥ 0 for every df ≤ N. */
  def idf(df: Column, nDocs: Column): Column =
    log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))

  def idf(df: Column, nDocs: Double): Column = idf(df, lit(nDocs))

  /** Corpus-wide constants `(__n, __avgdl)` from a MAP-ONLY pass over
   * the un-exploded corpus: a two-column projection reduced to one row
   * — no explode, no keyed shuffle, only the single-partition gather
   * of per-partition partials. `sum(dl)` is a sum of integer-valued
   * doubles (exact in IEEE754 far past any real corpus size), so
   * avgdl is deterministic and bit-identical across spellings and
   * aggregation orders. Doc ids are assumed unique (N = row count). */
  private def docLenConsts(corpus: DataFrame, textCol: String): DataFrame =
    broadcast(corpus
      .select(size(TextFunctions.tokens(lower(col(textCol)))).as("__dl"))
      .agg(count(lit(1)).cast("double").as("__n"), avg(col("__dl")).as("__avgdl")))

  /**
   * BM25 top-k: for each query row (`idCol`, `textCol`), the `k`
   * highest-scoring corpus documents. Query term frequency is ignored
   * (standard for short queries — each distinct query term contributes
   * once). Output matches the ANN entry points' shape
   * (`query_id, neighbor_id, score, rank`) so rankings fuse directly.
   * Self-matches are NOT excluded (query ids live in their own id
   * space); filter `query_id =!= neighbor_id` downstream when querying
   * a corpus against itself.
   */
  def bm25TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      broadcastQueries: Boolean = true,
      maxDfFrac: Double = 1.0): DataFrame = {
    // document frequency via a (query, term) window over the JOINED
    // rows: each such partition holds exactly the postings of one
    // matched term, so its count IS that term's df — identical values
    // to a stats-table join, but the plan carries no second corpus-wide
    // aggregation (PlanSpec pins a single corpus explode; the window's
    // input is already down to |matching postings|). maxDfFrac < 1 is
    // the standard STOPWORD GUARD: a term in half the corpus carries
    // ~ln(2) of idf signal but O(corpus) postings, and its (query, term)
    // window partition — like the equivalent join fan-out — is one
    // task; dropping ultra-high-df terms caps that skew. Default 1.0
    // keeps textbook BM25 (what the oracles pin). The drop runs after
    // the window (fan-out already paid): df is only known post-join.
    val joined = joinTerms(docTerms(corpus, idCol, textCol), queries, idCol,
        textCol, broadcastQueries)
      .crossJoin(docLenConsts(corpus, textCol))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("query_id"), col("term"))))
    scoreJoined(dropStopTerms(joined, maxDfFrac), k, k1, b)
  }

  /** Keep rows whose term df is within `maxDfFrac` of the corpus size
   * (`df` and `__n` must be in scope); 1.0 = identity. */
  private def dropStopTerms(rows: DataFrame, maxDfFrac: Double): DataFrame = {
    require(maxDfFrac > 0 && maxDfFrac <= 1,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    if (maxDfFrac >= 1.0) rows
    else rows.filter(col("df") <= lit(maxDfFrac) * col("__n"))
  }

  /** Explode the queries to distinct terms and meet the postings at the
   * term key. */
  private def joinTerms(postings: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, broadcastQueries: Boolean): DataFrame = {
    // distinct across ROWS as well as within one (array_distinct): a
    // resubmitted duplicate query row must not double the joined
    // postings — df is a count over them, so duplicates would inflate
    // df and corrupt the ranking. The distinct is on the small query
    // side, before any broadcast.
    val qterms = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(
        TextFunctions.tokens(lower(col(textCol))))).as("term"))
      .distinct()
    Similarity.joinQ(qterms, postings, Seq("term"), broadcastQueries)
  }

  /** Score joined `(query_id, doc_id, dl, tf, df, __n, __avgdl)` rows
   * and keep the per-query top `k`. */
  private def scoreJoined(joined: DataFrame, k: Int, k1: Double,
      b: Double): DataFrame = {
    // component spelling mirrored EXACTLY by the SQL oracle (association
    // order matters for double parity); micro-unit rounding makes the
    // per-(query, doc) sum order-independent exact integer arithmetic
    val comp = idf(col("df"), col("__n")) *
      (col("tf") * lit(k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))))
    val rank = row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id")))
    joined
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(comp * lit(1e6), 0).cast("long").as("__micro"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((sum(col("__micro")).cast("double") / lit(1e6)).as("score"))
      .withColumn("rank", rank)
      .filter(col("rank") <= k)
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
   * `score(d) = Σ over rankings r of 1 / (kRrf + rank_r(d))` — the
   * standard score-free way to merge a lexical and a semantic ranking
   * (hybrid search). Inputs are two rankings in the shared
   * `(query_id, neighbor_id, rank)` shape; a doc absent from one
   * ranking simply contributes nothing for it. One full-outer join on
   * (query, doc) — the fused score is a FIXED two-term sum, so no
   * aggregation-order caveats — then the usual per-query rank window.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60): DataFrame = {
    val ar = a.select(col("query_id"), col("neighbor_id"), col("rank").as("__ra"))
    val br = b.select(col("query_id"), col("neighbor_id"), col("rank").as("__rb"))
    val rank = row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id")))
    ar.join(br, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(lit(1.0) / (lit(kRrf) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("__rb")), lit(0.0))).as("score"))
      .withColumn("rank", rank)
      .filter(col("rank") <= k)
  }

  /**
   * RANKING-QUALITY panel — the retrieval-eval counterpart of
   * [[Probe.evaluate]]: given a ranked result list (`query_id,
   * neighbor_id, rank` — the output shape every retrieval tier here
   * emits) and a relevance set (`query_id, neighbor_id` qrels), the
   * standard cut-at-k metrics per query in EXACT ppm integers:
   *
   *   precision@k = hits·10⁶ div k          (relevant among top k)
   *   recall@k    = hits·10⁶ div n_rel      (0 when n_rel = 0)
   *   RR@k        = 10⁶ div first_rel_rank  (0 when none in top k)
   *
   * Mean-average them downstream with one more 1-row aggregate (exact:
   * `sum(x_ppm) div count`). Queries present in `results` but absent
   * from the qrels evaluate with n_rel = 0 (kept — a silent drop would
   * inflate averaged metrics); symmetrically, queries present in the
   * qrels but with ZERO result rows (retrieval returned nothing) emit
   * `(hits = 0, precision = recall = rr = 0)` rather than vanishing —
   * the full-outer join on the query set keeps both directions honest.
   * Duplicate qrel pairs collapse.
   *
   * Scale: one distinct + count over qrels, one (query, doc)-keyed left
   * join of the CUT result list (≤ k rows/query), one per-query
   * aggregate — nothing rides the corpus.
   */
  def rankingMetrics(results: DataFrame, qrels: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rel = qrels.select(col("query_id"), col("neighbor_id")).distinct()
    val nRel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val marked = results.filter(col("rank") <= k)
      .join(rel.withColumn("__rel", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
    marked.groupBy(col("query_id"))
      .agg(sum(coalesce(col("__rel"), lit(0L))).as("__hits"),
        min(when(col("__rel") === 1L, col("rank"))).as("__first"))
      .join(nRel, Seq("query_id"), "full")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("__hits"), lit(0L)).as("hits"),
        expr(s"(coalesce(__hits, 0L) * 1000000L) div ${k}L")
          .as("precision_ppm"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          expr("(coalesce(__hits, 0L) * 1000000L) div n_rel"))
          .otherwise(lit(0L)).as("recall_ppm"),
        when(col("__first").isNotNull,
          expr("1000000L div __first")).otherwise(lit(0L)).as("rr_ppm"))
  }
}
