package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Count-based n-gram language model with STUPID BACKOFF scoring (Brants
 * et al., "Large Language Models in Machine Translation", EMNLP 2007) —
 * the distributed form of the CCNet/KenLM PERPLEXITY QUALITY FILTER:
 * score each document by its mean per-token log-score under a trigram
 * model trained on (a sample of) the corpus, then drop the tail. Low
 * scores mark gibberish, boilerplate, and non-language bytes; it is the
 * standard third quality axis next to the rule-based gates
 * ([[TextFunctions.gopherKeep]]/`c4Keep`) and model-free repetition
 * signals.
 *
 * Scoring rule (no normalization — the Brants et al. point is that at
 * corpus scale backoff weights need no tuning):
 * {{{
 *   S(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)          trigram seen
 *                 = 0.4  * c(w2 w3) / c(w2)          else, bigram seen
 *                 = 0.16 * c(w3) / N                 else   (0.4²)
 * }}}
 * Shorter contexts at document start back off from their own highest
 * available order (no penalty for context that cannot exist); an
 * out-of-vocabulary token scores as count 1 (`1/N`).
 *
 * Scale shape: the model is THREE count tables built from one tokens
 * explode (one keyed aggregation per order); they are genuinely large at
 * web scale (vocab growth), so scoring joins the document's position
 * stream against them on the gram string key — count tables are NEVER
 * broadcast, and each join is an ordinary keyed shuffle. Train on a
 * [[Sampling.hashSample]] of the corpus ([[fitSampled]]) exactly as
 * CCNet trains KenLM on a Wikipedia/CC sample — counts, not the full
 * corpus, carry the signal.
 *
 * Oracle parity: per-token `ln S` components are rounded to micro-unit
 * longs and summed exactly (the repo's float-sum pattern), so the mean
 * log-score is aggregation-order independent and hash-comparable.
 */
object NgramLm {

  /** A fitted model: `uni(w, c1)`, `bi(key, c2)`, `tri(key, c3)` with
   * space-joined string keys, plus the total token count. The tables
   * are plain DataFrames. */
  final case class NgramModel(uni: DataFrame, bi: DataFrame, tri: DataFrame,
      nTokens: Long)

  /** One row per token position: `(doc id, n, i, w1, w2, w3)` with
   * 0-based `i`, `w2`/`w1` null when the context does not exist, plus
   * the three join keys. */
  private def positions(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.tokens(lower(col(textCol))).as("__t"))
      .select(col("*"), size(col("__t")).as("n"),
        posexplode(col("__t")))
      .withColumnRenamed("col", "w3").withColumnRenamed("pos", "i")
      .withColumn("w2", when(col("i") >= 1, element_at(col("__t"), col("i"))))
      .withColumn("w1", when(col("i") >= 2, element_at(col("__t"), col("i") - 1)))
      .drop("__t")
      .withColumn("tri_key",
        when(col("i") >= 2, concat_ws(" ", col("w1"), col("w2"), col("w3"))))
      .withColumn("bi_key",
        when(col("i") >= 1, concat_ws(" ", col("w2"), col("w3"))))
      .withColumn("ctx_key",
        when(col("i") >= 2, concat_ws(" ", col("w1"), col("w2"))))

  /** Fit the three count tables over the full `docs` (use [[fitSampled]]
   * for web-scale corpora). */
  def fit(docs: DataFrame, idCol: String, textCol: String): NgramModel = {
    val pos = positions(docs, idCol, textCol)
    val uni = pos.groupBy(col("w3").as("w")).agg(count(lit(1)).as("c1"))
    val bi = pos.filter(col("i") >= 1)
      .groupBy(col("bi_key").as("key")).agg(count(lit(1)).as("c2"))
    val tri = pos.filter(col("i") >= 2)
      .groupBy(col("tri_key").as("key")).agg(count(lit(1)).as("c3"))
    // sum over an empty table is NULL — fail with a diagnosis, not an NPE
    val n = Option(uni.agg(sum(col("c1"))).head().get(0))
      .fold(0L)(_.asInstanceOf[Long])
    require(n > 0,
      "NgramLm.fit saw an empty corpus (or an empty sample — raise fitSampled's fraction)")
    NgramModel(uni, bi, tri, n)
  }

  /** [[fit]] on a deterministic [[Sampling.hashSample]] of the corpus —
   * the CCNet shape: the model sees a fixed fraction, every run sees the
   * SAME fraction. */
  def fitSampled(docs: DataFrame, idCol: String, textCol: String,
      fraction: Double, salt: String = "ngramlm"): NgramModel = {
    require(fraction > 0 && fraction <= 1, s"fraction must be in (0, 1], got $fraction")
    val num = math.round(fraction * 10000).toInt
    require(num >= 1,
      s"fraction $fraction rounds to an empty 0/10000 hash-sample; use >= 0.0001")
    fit(Sampling.hashSample(docs, col(idCol), num, 10000, salt), idCol, textCol)
  }

  /**
   * Per-position micro-unit log-score components —
   * `(idCol, n, __m)` — the kernel of [[scoreDocs]]. Five keyed
   * joins of the position stream against the count tables (trigram,
   * bigram twice — gram and context, unigram twice); no broadcast
   * anywhere.
   */
  def scoreComponents(model: NgramModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val pos = positions(docs, idCol, textCol)
    val joined = pos
      .join(model.tri.select(col("key").as("tri_key"), col("c3")), Seq("tri_key"), "left")
      .join(model.bi.select(col("key").as("bi_key"), col("c2")), Seq("bi_key"), "left")
      .join(model.bi.select(col("key").as("ctx_key"), col("c2").as("c2ctx")),
        Seq("ctx_key"), "left")
      .join(model.uni.select(col("w").as("w3"), col("c1").as("c1w3")), Seq("w3"), "left")
      .join(model.uni.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
    // backoff from the highest order the position's context allows; the
    // 0.4 / 0.16 literals are spelled identically in the SQL oracle
    val uniScore = coalesce(col("c1w3").cast("double"), lit(1.0)) / lit(model.nTokens.toDouble)
    val biScore = col("c2").cast("double") / col("c1w2").cast("double")
    val s = when(col("i") >= 2,
        when(col("c3").isNotNull, col("c3").cast("double") / col("c2ctx").cast("double"))
          .when(col("c2").isNotNull, lit(0.4) * biScore)
          .otherwise(lit(0.16) * uniScore))
      .when(col("i") === 1,
        when(col("c2").isNotNull, biScore)
          .otherwise(lit(0.4) * uniScore))
      .otherwise(uniScore)
    joined.select(col(idCol), col("n"),
      round(log(s) * lit(1e6), 0).cast("long").as("__m"))
  }

  /**
   * Mean per-token log-score of each document under `model` —
   * `(idCol, n_tokens, logscore)`, natural log, micro-unit exact
   * ([[scoreComponents]] + one per-doc rollup). An empty/whitespace
   * document is NOT absent: [[TextFunctions.tokens]] yields the single
   * `""` pseudo-token for it, so it appears with `n_tokens = 1`,
   * scored like any (usually OOV) unigram — i.e. it lands at the
   * gibberish floor, which is what a quality filter wants. Pre-filter
   * `trim(text) != ''` if absence is the contract you need.
   */
  def scoreDocs(model: NgramModel, docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    scoreComponents(model, docs, idCol, textCol)
      .groupBy(col(idCol), col("n"))
      .agg((sum(col("__m")).cast("double") / lit(1e6) / col("n").cast("double"))
        .as("logscore"))
      .withColumnRenamed("n", "n_tokens")

  /**
   * CCNet perplexity BUCKETS (Wenzek et al. 2020): rank every document
   * by LM mean log-score and split into `nBuckets` equal-count tiles —
   * bucket 1 = head (most fluent), last = tail (gibberish); CCNet
   * keeps head+middle and drops (or down-weights) the tail. Returns one
   * row per bucket: `(bucket, n_docs, sum_tokens, min_logscore,
   * max_logscore)` — the table a pipeline inspects to choose the
   * cut at the tail boundary (a `logscore` filter on [[scoreDocs]]).
   *
   * Determinism: scores are micro-unit exact ([[scoreDocs]]); the tile
   * assignment orders by `(logscore DESC, id)` — a total order, so the
   * bucketing is reproducible cross-engine (ntile fills the first
   * `N mod k` tiles with the extra row in both Spark and standard SQL).
   *
   * Scale note: `ntile` over a global ORDER BY is a single-partition
   * sort of the per-DOC score table (one row per document — eval-sized,
   * not corpus-sized, and the heavy per-position work is already
   * aggregated away). For corpora where even |docs| rows overwhelm one
   * task, compute bucket THRESHOLDS from a histogram quantile
   * ([[Sketches]]) and label map-side instead.
   */
  def perplexityBuckets(model: NgramModel, docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be > 0, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    scoreDocs(model, docs, idCol, textCol)
      .withColumn("bucket", ntile(nBuckets)
        .over(Window.orderBy(col("logscore").desc, col(idCol))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        round(min(col("logscore")), 6).as("min_logscore"),
        round(max(col("logscore")), 6).as("max_logscore"))
  }
}
