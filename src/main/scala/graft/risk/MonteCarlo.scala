package graft.risk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Seeded Monte-Carlo market simulation — reference `03_var_monte_carlo.py`
 * + `simulate_market` (`/root/reference/utils/var_udf.py:57-67`).
 *
 * Semantics: per (run-date, trial_id), one draw from the multivariate
 * normal N(vol_avg, vol_cov), with a DETERMINISTIC per-trial seed so the
 * result is reproducible regardless of partitioning (the reference's own
 * test only asserts seed-determinism, `tests/tests_spark.py:133-162` —
 * exact numpy bit-parity across RNGs is impossible and not required).
 *
 * Scale design vs the reference:
 *  - The reference cross-joins the volatility row (with its 5x5 cov
 *    matrix) against a 32,000-row seed table — a cartesian shuffle of the
 *    wide matrix — then Cholesky-decomposes INSIDE numpy once per row
 *    (32k times per date). Here the Cholesky factor is computed ONCE per
 *    date (it only depends on the date's cov), then trials are fanned out
 *    with `explode(sequence(...))` — no shuffle at all: the fan-out and
 *    the sampling UDF run inside the date's partition.
 *  - `repartition(numPartitions, date)` only before the write, to control
 *    file layout (reference `03_var_monte_carlo.py:82`).
 */
object MonteCarlo {

  /**
   * Direct-fill trial-vector aggregate: `(trial_id, return)` rows → dense
   * `Vector` with `returns[trial_id] = return`, grown on demand.
   *
   * The composable spelling (`sort_array(collect_list(struct))` + UDF)
   * buffers every row as an object, interpret-sorts 32k structs per group
   * and unboxes two 32k Seqs per group; this aggregator writes each return
   * straight into a primitive double array — no per-row objects, no sort
   * (the index IS the order), fixed-size buffers merged positionally.
   *
   * A bitset records the ids each buffer holds, so bad ids fail the query
   * instead of corrupting the vector: a trial id seen twice in a group
   * (within a partition or across two) and a gap in a group's ids `0..max`
   * both throw `IllegalArgumentException`. A return of `0.0` is a value
   * like any other.
   */
  class TrialVectorAggregator
      extends org.apache.spark.sql.expressions.Aggregator[
        TrialVectorAggregator.In, TrialVectorAggregator.Buf,
        org.apache.spark.ml.linalg.Vector] {
    import TrialVectorAggregator.{Buf, In}

    override def zero: Buf = Buf(0, Array.emptyDoubleArray, Array.emptyLongArray)

    override def reduce(buf: Buf, r: In): Buf = {
      if (r.trial_id < 0 || r.trial_id >= Int.MaxValue)
        throw new IllegalArgumentException(s"trial id ${r.trial_id} out of range")
      val i = r.trial_id.toInt
      val b =
        if (buf.arr.length > i) buf
        else { // amortized power-of-two growth (trial ids arrive in order)
          val n = Integer.highestOneBit(math.max(i + 1, 16)) << 1
          Buf(buf.len, java.util.Arrays.copyOf(buf.arr, n),
            java.util.Arrays.copyOf(buf.seen, (n + 63) >>> 6))
        }
      if ((b.seen(i >>> 6) & (1L << i)) != 0) duplicate(i)
      b.seen(i >>> 6) |= 1L << i
      b.arr(i) = r.ret
      Buf(math.max(b.len, i + 1), b.arr, b.seen)
    }

    override def merge(a: Buf, b: Buf): Buf =
      if (a.len >= b.len) { // a's arrays cover every id b holds
        val words = (b.len + 63) >>> 6
        var w = 0
        while (w < words) {
          val both = a.seen(w) & b.seen(w)
          if (both != 0) duplicate(w * 64 + java.lang.Long.numberOfTrailingZeros(both))
          var bits = b.seen(w)
          a.seen(w) |= bits
          while (bits != 0) {
            val i = w * 64 + java.lang.Long.numberOfTrailingZeros(bits)
            a.arr(i) = b.arr(i)
            bits &= bits - 1
          }
          w += 1
        }
        a
      } else merge(b, a)

    override def finish(buf: Buf): org.apache.spark.ml.linalg.Vector = {
      var w = 0
      while (w * 64 < buf.len) {
        val want = if (buf.len - w * 64 >= 64) -1L else (1L << (buf.len - w * 64)) - 1
        val missing = ~buf.seen(w) & want
        if (missing != 0) throw new IllegalArgumentException(
          s"trial id ${w * 64 + java.lang.Long.numberOfTrailingZeros(missing)} missing " +
            s"from a group with ids up to ${buf.len - 1}")
        w += 1
      }
      org.apache.spark.ml.linalg.Vectors.dense(
        java.util.Arrays.copyOf(buf.arr, buf.len))
    }

    private def duplicate(i: Int): Nothing =
      throw new IllegalArgumentException(s"trial id $i appears twice in one group")

    override def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
      org.apache.spark.sql.Encoders.product[Buf]
    override def outputEncoder: org.apache.spark.sql.Encoder[org.apache.spark.ml.linalg.Vector] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[org.apache.spark.ml.linalg.Vector]()
  }

  object TrialVectorAggregator {
    case class In(trial_id: Long, ret: Double)
    /** `arr(0 until len)` holds the returns; bit `i` of `seen` marks id `i`. */
    case class Buf(len: Int, arr: Array[Double], seen: Array[Long])

    /** Untyped-agg column: `asColumn(trialCol, returnCol)`. */
    def asColumn(trial: org.apache.spark.sql.Column,
        ret: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.udaf(new TrialVectorAggregator,
        org.apache.spark.sql.Encoders.product[In]).apply(trial, ret)
  }

  /** Lower-triangular Cholesky factor of a symmetric PSD matrix, with a
   * tiny diagonal jitter retry for semi-definite inputs (numpy's
   * multivariate_normal tolerates PSD via SVD; we stay closer to exact). */
  def cholesky(cov: Array[Array[Double]]): Array[Array[Double]] = {
    val n = cov.length
    def attempt(jitter: Double): Option[Array[Array[Double]]] = {
      val l = Array.fill(n)(new Array[Double](n))
      var i = 0
      while (i < n) {
        var j = 0
        while (j <= i) {
          var s = cov(i)(j) + (if (i == j) jitter else 0.0)
          var k = 0
          while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
          if (i == j) {
            if (s <= 0) return None
            l(i)(i) = math.sqrt(s)
          } else l(i)(j) = s / l(j)(j)
          j += 1
        }
        i += 1
      }
      Some(l)
    }
    val scale = math.max(1e-300, cov.indices.map(i => math.abs(cov(i)(i))).max)
    attempt(0.0)
      .orElse(attempt(scale * 1e-12))
      .orElse(attempt(scale * 1e-8))
      .getOrElse(throw new IllegalArgumentException("covariance not PSD"))
  }

  /** One multivariate-normal draw: mean + L * z with z ~ N(0,I) from a
   * per-seed deterministic generator (java.util.Random's specified
   * Marsaglia polar nextGaussian — stable across JVMs). */
  def sample(mean: Array[Double], chol: Array[Array[Double]], seed: Long): Array[Double] = {
    val rng = new java.util.Random(seed)
    val n = mean.length
    val z = Array.fill(n)(rng.nextGaussian())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var s = mean(i)
      var k = 0
      while (k <= i) { s += chol(i)(k) * z(k); k += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  val cholUdf = udf { (cov: Seq[Seq[Double]]) =>
    cholesky(cov.map(_.toArray).toArray).map(_.toSeq)
  }

  val sampleUdf = udf { (mean: Seq[Double], chol: Seq[Seq[Double]], seed: Long) =>
    sample(mean.toArray, chol.map(_.toArray).toArray, seed).toSeq
  }

  /**
   * Simulate `runs` market states per volatility row.
   * Input: (dateCol, vol_avg, vol_cov); output: (dateCol, features, trial_id)
   * — the `monte_carlo_market` table shape (`03_var_monte_carlo.py:80-87`).
   */
  def simulateMarket(
      volatility: DataFrame,
      runs: Int,
      dateCol: String = "date",
      numPartitions: Int = 20): DataFrame = {
    volatility
      .withColumn("__chol", cholUdf(col("vol_cov")))
      .withColumn("trial_id", explode(sequence(lit(0L), lit(runs.toLong - 1L))))
      .withColumn("features",
        sampleUdf(col("vol_avg"), col("__chol"), col("trial_id")))
      .select(col(dateCol), col("features"), col("trial_id"))
      .repartition(numPartitions, col(dateCol))
  }

  /**
   * Gather per-(date, ticker) simulated returns into a dense trial-indexed
   * Vector — the `monte_carlo_trials` table (`03_var_monte_carlo.py:131-153`).
   * `sort_array(collect_list(struct(...)))` pins ordering (the reference
   * zips two separate collect_lists — co-ordered only by accident of
   * window row identity; SURVEY §7.5).
   */
  def collectTrialVectors(
      simulated: DataFrame,
      dateCol: String = "date",
      tickerCol: String = "ticker",
      trialCol: String = "trial_id",
      returnCol: String = "return"): DataFrame = {
    simulated
      .groupBy(col(dateCol), col(tickerCol))
      .agg(TrialVectorAggregator.asColumn(col(trialCol), col(returnCol)).as("returns"))
  }

  /** Reference-shaped composable twin of [[collectTrialVectors]]:
   * `sort_array(collect_list(struct))` + dense-vector UDF. Semantically
   * identical, but at 32k trials × 27 tickers the interpreted struct sort
   * and the boxed Seq UDF dominate the whole pipeline (measured: the
   * aggregator path collapses a >15-minute stage to seconds). */
  def collectTrialVectorsComposable(
      simulated: DataFrame,
      dateCol: String = "date",
      tickerCol: String = "ticker",
      trialCol: String = "trial_id",
      returnCol: String = "return"): DataFrame = {
    simulated
      .groupBy(col(dateCol), col(tickerCol))
      .agg(sort_array(collect_list(struct(col(trialCol), col(returnCol)))).as("__pairs"))
      .withColumn("returns", functions.toDenseVector(
        col("__pairs").getField(trialCol), col("__pairs").getField(returnCol)))
      .drop("__pairs")
  }
}
