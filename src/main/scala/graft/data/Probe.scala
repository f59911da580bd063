package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * LINEAR-PROBE quality classifier over embeddings — the model-based
 * quality-filter axis of an LLM data pipeline (FineWeb-Edu / DCLM
 * shape: train a tiny classifier ON EMBEDDINGS of a labeled sample,
 * score the whole corpus, keep the top), complementing the rule-based
 * gates ([[TextFunctions.gopherKeep]]/`c4Keep`) and the n-gram LM
 * perplexity axis ([[NgramLm]]).
 *
 * Scale shape: training's ONLY corpus-touching work is one pass of
 * sum-decomposable sufficient statistics ([[suffStats]] — per-row outer
 * products, map-side combined into (d+2)² cells); the (d+1)×(d+1)
 * ridge solve happens on the driver (microseconds at embedding dims)
 * and the learned weights broadcast back as literals, so SCORING is a
 * map-only dot product ([[score]], native `vec_dot`). No iteration, no
 * gradient steps, no shuffle beyond the one 4-KB-cell aggregation —
 * a closed-form probe is the 100 TB-friendly spelling of "train a
 * quality classifier", and on frozen embeddings it is the standard one
 * (linear probing).
 *
 * Oracle parity: every sufficient-statistic cell is a sum of per-row
 * products rounded to integer MICRO-UNITS and summed as longs (the
 * repo's float-sum pattern), so the statistics — the distributed part —
 * are exact integer arithmetic reproducible from DuckDB (q84); the
 * driver-side solve is deterministic on those exact inputs and pinned
 * by `ProbeSpec`'s planted-weight recovery.
 */
object Probe {

  /**
   * Sufficient statistics of ridge regression in ONE aggregation:
   * with `z = [1.0] ++ v ++ [y]` per row, emit every `z_i · z_j`
   * product rounded to micro-units and sum per cell — `(pos, s)` with
   * `pos = i·(d+2) + j`. The top-left (d+1)² block is `XᵀX` (with
   * intercept), the last column `Xᵀy`, the corner `yᵀy`. One narrow
   * explode + one 4356-key (d=64) hash aggregation with map-side
   * combine; nothing else ever touches the corpus during training.
   */
  def suffStats(df: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val z = concat(array(lit(1.0)), col(vecCol).cast("array<double>"),
      array(col(labelCol).cast("double")))
    // the product grid is computed INSIDE the aggregation buffer (one
    // (d+2)²-long array per task, merged pairwise): each input row is
    // just its 66-element z vector, and a tight JVM loop does
    // multiply→micro-round→add per cell. No per-cell row explosion
    // (the shuffle is |partitions| arrays, not rows×cells) and no
    // per-cell Catalyst expression — the naive spellings (posexplode
    // grid, or per-row transform×transform arrays) put 4356
    // interpreted higher-order-function + BigDecimal-round evaluations
    // per row on the hot path, ~50× slower. Longs sum exactly in any
    // order, so this is value-identical to the DuckDB oracle's
    // unnest+GROUP BY.
    val gridSum = udaf(GridSum)
    df.select(z.as("__z"))
      .agg(gridSum(col("__z")).as("__sums"))
      .select(posexplode(col("__sums")))
      .select(col("pos").cast("long").as("pos"),
        (col("col").cast("double") / lit(1e6)).as("s"))
  }

  /** Accumulates the flattened micro-unit outer-product grid of each z
   * vector into a single long array (sum-decomposable; exact integers,
   * so aggregation order is irrelevant). Rounding is half-away-from-
   * zero on the binary double — the semantics of DuckDB `round` (and
   * of Spark's, away from decimal-string tie cases that these
   * statistics never hit), computed without the `floor(x+0.5)`
   * addition-rounding defect. */
  object GridSum extends org.apache.spark.sql.expressions.Aggregator[
      Array[Double], Array[Long], Array[Long]] {
    private def microRound(x: Double): Long = {
      val y = math.abs(x)
      val f = math.floor(y)
      val r = if (y - f >= 0.5) f + 1 else f
      (if (x < 0) -r else r).toLong
    }
    override def zero: Array[Long] = Array.empty
    override def reduce(b: Array[Long], z: Array[Double]): Array[Long] = {
      val m = z.length
      val buf = if (b.isEmpty) new Array[Long](m * m) else b
      require(buf.length == m * m,
        s"ragged input: ${buf.length} cells vs z of length $m")
      var i = 0
      while (i < m) {
        val zi = z(i)
        var j = 0
        while (j < m) {
          buf(i * m + j) += microRound(zi * z(j) * 1e6)
          j += 1
        }
        i += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else {
        require(a.length == b.length,
          s"ragged buffers: ${a.length} vs ${b.length} cells")
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /**
   * Closed-form ridge fit: collect the (d+2)² statistic cells (a few
   * KB — independent of corpus size), solve
   * `(XᵀX + λ·diag(0,1,…,1)) w = Xᵀy` (intercept unpenalized) on the
   * driver. Returns `[w₀ (intercept), w₁ … w_d]`.
   */
  def fitRidge(df: DataFrame, vecCol: String, labelCol: String,
      lambda: Double = 0.0): Array[Double] = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val cells = suffStats(df, vecCol, labelCol)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val m = math.sqrt(cells.size).round.toInt // d + 2
    require(m.toLong * m == cells.size && m >= 3,
      s"suffStats returned ${cells.size} cells — not a (d+2)^2 grid")
    val n = m - 1 // d + 1 unknowns (intercept + d weights)
    val xtx = new org.apache.commons.math3.linear.Array2DRowRealMatrix(n, n)
    val xty = new Array[Double](n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        val reg = if (i == j && i > 0) lambda else 0.0
        xtx.setEntry(i, j, cells(i.toLong * m + j) + reg)
        j += 1
      }
      xty(i) = cells(i.toLong * m + (m - 1))
      i += 1
    }
    new org.apache.commons.math3.linear.LUDecomposition(xtx).getSolver
      .solve(new org.apache.commons.math3.linear.ArrayRealVector(xty))
      .toArray
  }

  /**
   * Closed-form ridge fit for d = 2 via Cramer's rule — the
   * SQL-EXPRESSIBLE twin of [[fitRidge]]: the 3×3 normal-equation solve
   * is three cofactor expansions whose floating-point operation ORDER
   * is pinned (each `det` is literally
   * `a·(e·i − f·h) − b·(d·i − f·g) + c·(d·h − e·g)`), so a SQL engine
   * computing the same expansions from the same integer-exact
   * [[suffStats]] cells reproduces the weights BIT-FOR-BIT (q94's
   * oracle does). [[fitRidge]]'s LU pivoting is numerically fine but
   * not order-reproducible across engines; for the d = 2 evaluation
   * surface Cramer is exact enough and portable. Returns
   * `[w₀, w₁, w₂]`.
   */
  def fitRidge2(df: DataFrame, vecCol: String, labelCol: String,
      lambda: Double = 0.0): Array[Double] = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val cells = suffStats(df, vecCol, labelCol)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    require(cells.size == 16,
      s"fitRidge2 needs 2-dim features (16 cells), got ${cells.size}")
    def cl(i: Int, j: Int): Double = cells(i.toLong * 4 + j)
    val (a, b, c) = (cl(0, 0), cl(0, 1), cl(0, 2))
    val (d, e, f) = (cl(1, 0), cl(1, 1) + lambda, cl(1, 2))
    val (g, h, i) = (cl(2, 0), cl(2, 1), cl(2, 2) + lambda)
    val (r0, r1, r2) = (cl(0, 3), cl(1, 3), cl(2, 3))
    val det = a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    require(det != 0.0, "singular normal equations (collinear features)")
    val det0 = r0 * (e * i - f * h) - b * (r1 * i - f * r2) + c * (r1 * h - e * r2)
    val det1 = a * (r1 * i - f * r2) - r0 * (d * i - f * g) + c * (d * r2 - r1 * g)
    val det2 = a * (e * r2 - r1 * h) - b * (d * r2 - r1 * g) + r0 * (d * h - e * g)
    Array(det0 / det, det1 / det, det2 / det)
  }

  /**
   * HELD-OUT evaluation of the d = 2 probe — the metric a real pipeline
   * reports before trusting the filter: fit on `train`
   * ([[fitRidge2]], reusing [[suffStats]]), score `test` with the
   * learned weights, and return ONE row
   * `(n_test, sse_micro, rmse)` where `sse_micro =
   * Σ floor(err² · 1e6)` as an exact long (order-independent, so the
   * aggregation is reproducible across engines and partitionings —
   * `floor`, not `round`, because floor on a binary double has no tie
   * semantics to disagree on) and `rmse = sqrt(sse_micro/1e6/n)`.
   * Scoring arithmetic is order-pinned `y − (w₀ + x₁·w₁ + x₂·w₂)` to
   * match the SQL oracle term for term. Map-only over the test split;
   * training touches the corpus once ([[suffStats]]).
   */
  def evalRidge2(train: DataFrame, test: DataFrame, vecCol: String,
      labelCol: String, lambda: Double = 0.0): DataFrame = {
    val w = fitRidge2(train, vecCol, labelCol, lambda)
    val v = col(vecCol).cast("array<double>")
    val err = col(labelCol).cast("double") -
      (lit(w(0)) + element_at(v, 1) * lit(w(1)) + element_at(v, 2) * lit(w(2)))
    test.select(floor(err * err * lit(1e6)).as("e2"))
      .agg(count(lit(1)).as("n_test"), sum(col("e2")).as("sse_micro"))
      .select(col("n_test"), col("sse_micro"),
        sqrt(col("sse_micro") / lit(1e6) / col("n_test")).as("rmse"))
  }

  /**
   * Held-out ROC-AUC of the d = 2 probe used as a BINARY ranker
   * (positive = `labelCol ≥ posAt`): fit on `train` ([[fitRidge2]]),
   * score `test`, and compute the exact Mann-Whitney AUC with MIDRANK
   * tie handling — a positive and a negative sharing a score contribute
   * exactly ½, the U-statistic's definition. Breaking ties by an id
   * instead (the tempting row_number spelling) makes the metric depend
   * on arbitrary id assignment: identical (score, label) distributions
   * would report different AUCs. Ranks are integerized as DOUBLED
   * midranks `r2 = 2·rank + |tie group| − 1` (midranks end in .5, their
   * doubles never do), so the aggregation stays order-independent exact
   * longs and `auc = (Σ_{pos} r2 − P(P+1)) / (2·P·N)` is bit-reproducible
   * across engines (q94b's oracle) and partitionings. One global sort of
   * the TEST split (an eval metric is eval-sized; sample upstream if the
   * held-out set is corpus-scale). Returns ONE row
   * `(n_pos, n_neg, rank_sum2_pos, auc)`.
   */
  def rocAuc2(train: DataFrame, test: DataFrame,
      vecCol: String, labelCol: String, posAt: Double,
      lambda: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = fitRidge2(train, vecCol, labelCol, lambda)
    val v = col(vecCol).cast("array<double>")
    val s = lit(w(0)) + element_at(v, 1) * lit(w(1)) +
      element_at(v, 2) * lit(w(2))
    val ranked = test
      .select(s.as("__s"),
        (col(labelCol).cast("double") >= lit(posAt)).as("__pos"))
      .withColumn("__r2",
        rank().over(Window.orderBy(col("__s"))).cast("long") * 2 +
          count(lit(1)).over(Window.partitionBy(col("__s"))) - 1)
    ranked.agg(
        sum(when(col("__pos"), lit(1L)).otherwise(lit(0L))).as("n_pos"),
        sum(when(col("__pos"), lit(0L)).otherwise(lit(1L))).as("n_neg"),
        sum(when(col("__pos"), col("__r2")).otherwise(lit(0L)))
          .as("rank_sum2_pos"))
      .select(col("n_pos"), col("n_neg"), col("rank_sum2_pos"),
        ((col("rank_sum2_pos") - expr("n_pos * (n_pos + 1L)"))
          .cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /**
   * Held-out CALIBRATION of the d = 2 probe — the reliability-diagram
   * data a pipeline inspects before picking a quality filter's score
   * threshold: fit on `train` ([[fitRidge2]]), score `test`, bucket
   * predictions into `nBins` fixed-width bins over `[lo, hi)` (clamped
   * at both ends), and report per bin the count and the mean predicted
   * vs mean actual label. A well-calibrated probe has
   * `mean_pred ≈ mean_label` per bin; divergence localizes WHERE on the
   * score axis the filter will over- or under-admit.
   *
   * Exactness: per-row micro-unit floors (`Σ floor(pred·1e6)`,
   * `Σ floor(label·1e6)` — exact longs, order-independent) make the
   * aggregation bit-reproducible across engines and partitionings;
   * scoring arithmetic is order-pinned like [[evalRidge2]]. For
   * cross-engine bit parity of the BIN INDEX keep `(hi − lo) / nBins`
   * exactly representable (the default 10 bins over [0, 10) has
   * width 1.0). Map-only over the test split plus one `nBins`-group
   * aggregation; training touches the corpus once ([[suffStats]]).
   * Returns `(bin, n, sum_pred_micro, sum_label_micro, mean_pred,
   * mean_label)`; empty bins are absent.
   */
  def calibration2(train: DataFrame, test: DataFrame, vecCol: String,
      labelCol: String, nBins: Int = 10, lo: Double = 0.0, hi: Double = 10.0,
      lambda: Double = 0.0): DataFrame = {
    require(nBins > 0, s"nBins must be > 0, got $nBins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val w = fitRidge2(train, vecCol, labelCol, lambda)
    val v = col(vecCol).cast("array<double>")
    val pred = lit(w(0)) + element_at(v, 1) * lit(w(1)) +
      element_at(v, 2) * lit(w(2))
    val width = (hi - lo) / nBins
    val bin = least(greatest(floor((pred - lit(lo)) / lit(width)), lit(0L)),
      lit(nBins - 1L))
    test.select(bin.as("bin"),
        floor(pred * lit(1e6)).as("p6"),
        floor(col(labelCol).cast("double") * lit(1e6)).as("l6"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("p6")).as("sum_pred_micro"),
        sum(col("l6")).as("sum_label_micro"))
      .select(col("bin"), col("n"),
        col("sum_pred_micro"), col("sum_label_micro"),
        (col("sum_pred_micro").cast("double") / lit(1e6) / col("n"))
          .as("mean_pred"),
        (col("sum_label_micro").cast("double") / lit(1e6) / col("n"))
          .as("mean_label"))
  }

  /**
   * ISOTONIC (PAV) calibration over a calibration-bin table — the
   * standard "make the score a probability" post-fit step: given bins
   * ordered by predicted score with `(n, sum_label_micro)` each, fit
   * the non-decreasing step function minimizing squared error (pool
   * adjacent violators) and emit each bin's calibrated value in exact
   * ppm (`pool_sum div pool_n` — labels live in micro units, so the
   * pool mean IS ppm of the label scale).
   *
   * The PAV runs on the DRIVER over the collected bin table — bounded
   * by contract: a calibration table is ≤ a few hundred bins (the
   * [[calibration2]] output), never data. Pool-mean comparisons are
   * exact cross-multiplications (`s₁·n₂ ≥ s₂·n₁`), no float ever
   * enters, so the result is engine-reproducible: the DuckDB oracle
   * recomputes it through the minimax representation
   * `iso(i) = max_{j≤i} min_{k≥i} avg(j..k)` — floor commutes with
   * min/max (both monotone), so floored ppm segment averages give the
   * identical integers.
   *
   * Returns `(bin, n, raw_ppm, calibrated_ppm)`, calibrated
   * non-decreasing in `bin`.
   */
  def isotonicCalibrate(bins: DataFrame, binCol: String = "bin",
      nCol: String = "n", sumCol: String = "sum_label_micro"): DataFrame = {
    val spark = bins.sparkSession
    // bounded-by-contract collect: the bin table, never data rows
    val rows = bins
      .select(col(binCol).cast("long"), col(nCol).cast("long"),
        col(sumCol).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(rows.forall(_._2 > 0), "calibration bin with n <= 0")
    require(rows.map(_._1).distinct.length == rows.length,
      "duplicate bin ids")
    // pool adjacent violators: merge while prev pool mean >= cur pool
    // mean (cross-multiplied — equal-mean merges are value-neutral)
    val pools = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int)] // (sumL, n, firstRowIdx)
    rows.zipWithIndex.foreach { case ((_, n, sl), i) =>
      var cur = (sl, n, i)
      while (pools.nonEmpty &&
          pools.last._1 * cur._2 >= cur._1 * pools.last._2) {
        val p = pools.remove(pools.size - 1)
        cur = (p._1 + cur._1, p._2 + cur._2, p._3)
      }
      pools += cur
    }
    val out = pools.zipWithIndex.flatMap { case ((sl, n, start), pi) =>
      val end = if (pi + 1 < pools.size) pools(pi + 1)._3 else rows.length
      (start until end).map { i =>
        val (bin, bn, bsl) = rows(i)
        (bin, bn, bsl / bn, sl / n)
      }
    }.toSeq
    import spark.implicits._
    out.toDF(binCol, nCol, "raw_ppm", "calibrated_ppm")
  }

  /** Expected-calibration-error panel over a [[calibration2]] bin
   * table, exact integers: per bin the mean |pred − label| gap is
   * `|Σp − Σl| div n` (micro sums make `n·|meanΔ| = |Σp − Σl|`), so
   * `ece_ppm = Σ|Σp − Σl| div Σn` needs no float anywhere. One row:
   * `(n_bins, n_rows, ece_ppm, max_bin_gap_ppm)`. */
  def calibrationError(bins: DataFrame): DataFrame =
    bins.agg(count(lit(1)).as("n_bins"), sum(col("n")).as("n_rows"),
      expr("sum(abs(sum_pred_micro - sum_label_micro)) div sum(n)")
        .as("ece_ppm"),
      max(expr("abs(sum_pred_micro - sum_label_micro) div n"))
        .as("max_bin_gap_ppm"))
}
