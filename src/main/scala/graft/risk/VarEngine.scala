package graft.risk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The analyst-facing surface of the engine (SURVEY §7.1) — what a user of
 * the reference notebooks calls today, as library functions over the two
 * core tables:
 *
 *  - `trials`: `(date, ticker, returns: Vector[runs])` — monte_carlo_trials
 *  - `portfolio`: `(ticker, country, industry, weight, ...)`
 *
 * Every method returns a DataFrame plan (nothing executes until the caller
 * acts), so slices compose with arbitrary filters for free — the
 * "on-demand VaR" idea of `04_var_aggregation.py` without its driver
 * round-trips.
 */
object VarEngine {

  /** Portfolio VaR (and ES) time series — `04_var_aggregation.py:56-66`. */
  def varTimeSeries(trials: DataFrame, portfolio: DataFrame,
      confidence: Double = 99): DataFrame =
    VarAggregation.varByGroup(
      VarAggregation.weightedTrials(trials, portfolio),
      Seq("date"), confidence, withShortfall = true)
      .orderBy(col("date"))

  /** Point-in-time portfolio VaR — `04_var_aggregation.py:25-66` (uses the
   * earliest run date when `date` is None, like the notebook's min-date
   * default). */
  def pointInTimeVar(trials: DataFrame, portfolio: DataFrame,
      date: Option[java.sql.Timestamp], confidence: Double = 99): DataFrame = {
    val at = date match {
      case Some(d) => trials.filter(col("date") === lit(d))
      case None => trials.join(
        broadcast(trials.agg(min(col("date")).as("date"))), Seq("date"))
    }
    VarAggregation.varByGroup(
      VarAggregation.weightedTrials(at, portfolio), Seq("date"), confidence)
  }

  /** VaR and expected shortfall sliced by any portfolio dimension
   * (country, industry, …) — `04_var_aggregation.py:86-123`, with ES per
   * slice matching [[varTimeSeries]] (`withShortfall = false` restores the
   * VaR-only shape). */
  def riskExposure(trials: DataFrame, portfolio: DataFrame,
      sliceCol: String, confidence: Double = 99,
      withShortfall: Boolean = true): DataFrame =
    VarAggregation.varByGroup(
      VarAggregation.weightedTrials(trials, portfolio),
      Seq("date", sliceCol), confidence, withShortfall)
      .orderBy(col("date"), col(sliceCol))

  /** Row-normalized risk-contribution crosstab per date —
   * `04_var_aggregation.py:127-131`. */
  def riskContribution(trials: DataFrame, portfolio: DataFrame,
      sliceCol: String, sliceValues: Seq[String],
      confidence: Double = 99): DataFrame =
    VarAggregation.riskContribution(
      // the crosstab pivots VaR only — don't compute a per-slice
      // shortfall quantile just to drop it
      riskExposure(trials, portfolio, sliceCol, confidence,
        withShortfall = false),
      "date", sliceCol, s"var_${confidence.toInt}", sliceValues)

  /**
   * Basel traffic-light backtest, forward-filled to a daily calendar — the
   * full `05_var_compliance.py` chain including its final step, where the
   * reference pulls the series into pandas (`toPandas`) and runs a daily
   * `reindex(pad)` (`05:123-132`). Here that step is one sequential pass
   * in a single task, [[Compliance.dailyBacktest]]: the series holds one
   * row per calendar day, so its size is bounded by the calendar (a few
   * thousand rows for decades), not by the trials or tickers behind it.
   * Columns: `date` (a date), `return`, `var_99`, `breaches`, `basel`.
   */
  def complianceReport(stocks: DataFrame, portfolio: DataFrame,
      varSeries: DataFrame, windowDays: Int = 250): DataFrame =
    Compliance.dailyBacktest(Compliance.portfolioReturns(stocks, portfolio),
      varSeries, windowDays = windowDays)
}
