package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
 * 2023): pick raw-corpus documents whose hashed n-gram feature
 * distribution looks like a TARGET domain. The standard
 * "make Common Crawl look like Wikipedia/books" selection pass of an
 * LLM data pipeline, complementing the quality axes (rules:
 * [[TextFunctions.gopherKeep]]; model: [[Probe]]/[[NgramLm]]) with a
 * DISTRIBUTION-match axis: importance weight = likelihood ratio of the
 * doc's features under bag-of-hashed-token models of target vs raw.
 *
 * Three stages, each one aggregation or one keyed join:
 *
 *  1. [[bucketCounts]]: token → 60-bit MD5 hash → `mod buckets` → count
 *     per bucket (the paper's hashed n-gram featurization; one
 *     map-side-combinable agg per corpus).
 *  2. [[fitLogRatios]]: per-bucket add-1-smoothed log-likelihood ratio
 *     `λ_b = ln((c_t(b)+1)/(N_t+B)) − ln((c_r(b)+1)/(N_r+B))`,
 *     micro-floored to exact longs. The λ table covers ALL `B` buckets
 *     (generated 0..B−1, not just observed ones — an unseen bucket
 *     still carries the smoothing mass ratio). Totals are 1-row lazy
 *     aggregates cross-joined back; nothing is collected.
 *  3. [[scoreDocs]]: per-doc bucket counts join λ (BROADCAST — the λ
 *     table is `B` rows by construction, independent of corpus size),
 *     then one per-doc rollup: `score_micro = Σ cnt_b · λ_micro(b)`
 *     (exact longs — order-independent), `n_tokens`, and the
 *     length-normalized `mean_micro = score_micro div n_tokens`
 *     (floor; the per-token mean keeps long docs from dominating).
 *
 * Determinism: λ is micro-floored per BUCKET (a handful of `ln` calls
 * on identical doubles — the same cross-engine contract as
 * [[NgramLm]]'s q78 oracle), after which every per-doc number is
 * integer arithmetic, bit-identical across engines and partitionings.
 * Selection is left to the caller: a top-k on `mean_micro` (doc id
 * tie-break) is the deterministic spelling; the paper's Gumbel-noise
 * sampling adds RNG that cannot be pinned cross-engine — compose
 * [[Sampling.weightedSample]] on `exp(score)` where sampled selection
 * is wanted.
 *
 * Scale shape: two corpus-scan aggs (fit) + one corpus-scan agg with a
 * broadcast join (score). Nothing corpus-sized
 * is ever broadcast, collected, or windowed globally.
 */
object Dsir {

  /** `(bucket, cnt)` hashed-token counts of a corpus — one map-side
   * combinable aggregation; buckets are `hash60(token) mod buckets`. */
  def bucketCounts(docs: DataFrame, textCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(pmod(TextFunctions.hash60(col("tok")), lit(buckets.toLong))
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Per-bucket micro-floored log-likelihood ratios `(bucket,
   * lam_micro)` over ALL `buckets` ids, add-1 smoothed. */
  def fitLogRatios(raw: DataFrame, target: DataFrame, textCol: String,
      buckets: Int): DataFrame = {
    val spark = raw.sparkSession
    val all = spark.range(buckets).select(col("id").as("bucket"))
    def side(df: DataFrame, cntName: String, totName: String) = {
      val c = bucketCounts(df, textCol, buckets)
      all.join(c, Seq("bucket"), "left")
        .crossJoin(broadcast(c.agg(
          coalesce(sum(col("cnt")), lit(0L)).as(totName))))
        .select(col("bucket"), coalesce(col("cnt"), lit(0L)).as(cntName),
          col(totName))
    }
    side(raw, "c_r", "n_r").join(side(target, "c_t", "n_t"), Seq("bucket"))
      .select(col("bucket"),
        floor((log((col("c_t") + 1).cast("double") /
                   (col("n_t") + lit(buckets)).cast("double")) -
               log((col("c_r") + 1).cast("double") /
                   (col("n_r") + lit(buckets)).cast("double"))) * lit(1e6))
          .as("lam_micro"))
  }

  /** Per-doc importance scores against a fitted ratio table:
   * `(idCol, n_tokens, score_micro, mean_micro)` — exact longs. Docs
   * with no tokens are absent (no feature evidence either way). */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      ratios: DataFrame, buckets: Int): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("id"),
        pmod(TextFunctions.hash60(col("tok")),
          lit(buckets.toLong)).as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("lam_micro")).as("score_micro"))
      .select(col("id").as(idCol), col("n_tokens"), col("score_micro"),
        expr("score_micro div n_tokens").as("mean_micro"))
}
