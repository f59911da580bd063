package graft.risk

import scala.jdk.CollectionConverters._

import org.apache.commons.math3.linear.SingularMatrixException
import org.apache.commons.math3.stat.regression.OLSMultipleLinearRegression
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

/**
 * Per-ticker OLS return-prediction model — reference `02_var_model.py:118-154`
 * (statsmodels OLS per ticker inside a GROUPED_MAP pandas UDF) and its
 * MLflow-pyfunc scoring (`02_var_model.py:167-183,219-221`).
 *
 * Here: `groupByKey.mapGroups` + commons-math3 OLS (in-JVM, no Arrow hop),
 * fitted eagerly into a local relation `(ticker, weights[1+4k])` —
 * intercept first, matching `predict_non_linears`
 * (`/root/reference/utils/var_utils.py:58-62`). Scoring is 100% native
 * expressions (broadcast-joined weights + codegen'd dot product): at 100TB
 * the scored side never leaves its partitions.
 */
object Training {

  case class TrainRow(ticker: String, features: Array[Double], label: Double)
  case class ModelWeights(ticker: String, weights: Array[Double])
  /** One ticker's fit: its weights, or why it has none. */
  case class TickerFit(ticker: String, weights: Array[Double], error: String)

  /**
   * Fit one OLS per ticker on the NON-LINEAR expansion of `featuresCol`
   * (reference trains on `non_linear_features`, `02_var_model.py:141-143`).
   *
   * The fit is eager, as `Estimator.fit` is: this runs the per-ticker OLS
   * now and returns its (ticker, weights) rows, weights(0) = intercept, as
   * one local relation in the fit's row order. A plan that scores against
   * the model then holds a few hundred doubles, not the lineage that
   * trained them, exactly like a model that [[RiskModel.load]] returns.
   * A ticker with fewer rows than its `1 + 4k` coefficients, or with a
   * singular design, fails the fit with an `IllegalArgumentException`
   * naming the ticker and its row count.
   */
  def trainModels(
      df: DataFrame,
      tickerCol: String = "ticker",
      featuresCol: String = "features",
      labelCol: String = "return"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows: Dataset[TrainRow] = df
      .select(
        col(tickerCol).cast("string").as("ticker"),
        col(featuresCol).cast("array<double>").as("features"),
        col(labelCol).cast("double").as("label"))
      .na.drop()
      .as[TrainRow]

    val fits = rows
      .groupByKey(_.ticker)
      .mapGroups { (ticker, it) =>
        val data = it.toArray
        val x = data.map(r => VarMath.nonLinearFeatures(r.features))
        val coefficients = 1 + x.head.length
        def failed(why: String) =
          TickerFit(ticker, null, s"ticker $ticker, ${data.length} rows: $why")
        if (data.length < coefficients) failed(s"fewer rows than its $coefficients coefficients")
        else try TickerFit(ticker, fitOls(x, data.map(_.label)), null) catch {
          case _: SingularMatrixException => failed("singular design")
        }
      }
      .collect()
    fits.find(_.error != null).foreach(f =>
      throw new IllegalArgumentException(s"trainModels: ${f.error}"))
    spark.createDataFrame(fits.toSeq.map(f => Row(f.ticker, f.weights)).asJava,
      Encoders.product[ModelWeights].schema)
  }

  /** OLS with intercept; returns Array(intercept, beta_1..beta_k). */
  def fitOls(x: Array[Array[Double]], y: Array[Double]): Array[Double] = {
    val reg = new OLSMultipleLinearRegression()
    reg.newSampleData(y, x) // commons-math3 adds the intercept column itself
    reg.estimateRegressionParameters()
  }

  /** Normal-equation sufficient statistics: X'X (row-major, with intercept
   * column) and X'y. Sum-decomposable ⇒ partial aggregation. */
  case class OlsBuffer(xtx: Array[Double], xty: Array[Double])

  /**
   * Per-group OLS as a typed `Aggregator` over the normal equations.
   *
   * `mapGroups` ([[trainModels]]) shuffles and materializes every group's
   * rows; this aggregator reduces each row into a (d+1)² buffer with
   * map-side combine, so at 100TB only fixed-size buffers cross the wire —
   * the right shape when groups are huge. `d` = feature dim (intercept
   * added internally); expand features (e.g. `VarMath.nonLinearFeatures`)
   * before aggregating.
   */
  class OlsAggregator(d: Int)
      extends org.apache.spark.sql.expressions.Aggregator[TrainRow, OlsBuffer, Array[Double]] {
    private val n = d + 1

    override def zero: OlsBuffer = OlsBuffer(new Array(n * n), new Array(n))

    override def reduce(b: OlsBuffer, row: TrainRow): OlsBuffer = {
      val x = new Array[Double](n)
      x(0) = 1.0
      System.arraycopy(row.features, 0, x, 1, d)
      var i = 0
      while (i < n) {
        val xi = x(i)
        b.xty(i) += xi * row.label
        var j = 0
        while (j < n) { b.xtx(i * n + j) += xi * x(j); j += 1 }
        i += 1
      }
      b
    }

    override def merge(a: OlsBuffer, b: OlsBuffer): OlsBuffer = {
      var i = 0
      while (i < n * n) { a.xtx(i) += b.xtx(i); i += 1 }
      i = 0
      while (i < n) { a.xty(i) += b.xty(i); i += 1 }
      a
    }

    override def finish(b: OlsBuffer): Array[Double] = {
      val m = new org.apache.commons.math3.linear.Array2DRowRealMatrix(n, n)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) { m.setEntry(i, j, b.xtx(i * n + j)); j += 1 }
        i += 1
      }
      new org.apache.commons.math3.linear.LUDecomposition(m).getSolver
        .solve(new org.apache.commons.math3.linear.ArrayRealVector(b.xty))
        .toArray
    }

    override def bufferEncoder: org.apache.spark.sql.Encoder[OlsBuffer] =
      org.apache.spark.sql.Encoders.product[OlsBuffer]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /**
   * Score: y_hat = w0 + w[1:] . nonLinearFeatures(features). Pure native
   * plan: broadcast-join the (tiny) weights table, then codegen'd
   * zip_with/aggregate dot product — no UDF, no shuffle of `df`.
   */
  def score(
      df: DataFrame,
      weights: DataFrame,
      tickerCol: String = "ticker",
      featuresCol: String = "features",
      outCol: String = "predicted"): DataFrame = {
    df
      .join(broadcast(weights.withColumnRenamed("ticker", tickerCol)), Seq(tickerCol))
      .withColumn(outCol, call_function("predict_nonlinear",
        col("weights").cast("array<double>"),
        col(featuresCol).cast("array<double>")))
      .drop("weights")
  }

  /** Composable twin of the fused scorer in [[score]] — identical FP
   * result (graft.plans.PredictNonLinear mirrors term order); kept as the
   * portability reference. */
  def scoreComposable(
      df: DataFrame,
      weights: DataFrame,
      tickerCol: String = "ticker",
      featuresCol: String = "features",
      outCol: String = "predicted"): DataFrame = {
    df
      .join(broadcast(weights.withColumnRenamed("ticker", tickerCol)), Seq(tickerCol))
      .withColumn(outCol,
        functions.predictLinear(col("weights"),
          functions.nonLinearFeatures(col(featuresCol).cast("array<double>"))))
      .drop("weights")
  }
}
