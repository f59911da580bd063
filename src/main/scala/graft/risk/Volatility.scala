package graft.risk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Rolling volatility statistics — reference `01_var_market_etl.py:160-188`:
 * over a trailing `windowDays`-calendar-day range window, collect the
 * 5-dim feature arrays and compute their element-wise mean (`vol_avg`)
 * and sample covariance matrix ddof=1 (`vol_cov`).
 *
 * The reference's window is UNPARTITIONED (one market series, ~500 rows) —
 * fine there, single-task at scale. [[rollingStats]] keeps that spelling
 * as the reference; [[rollingStatsChunked]] is the scale path.
 */
object Volatility {

  def rollingStats(returns: DataFrame, windowDays: Int = 90): DataFrame = {
    val w = Window
      .orderBy(col("date").cast("long"))
      .rangeBetween(-windowDays.toLong * 86400L, 0L)
    returns
      .withColumn("__window", collect_list(col("features")).over(w))
      // reference drops the first row of each window series (size > 1,
      // `01_var_market_etl.py:177`) — a 1-element window has no covariance
      .filter(size(col("__window")) > 1)
      .withColumn("vol_avg", functions.meanVectorUdf(col("__window")))
      .withColumn("vol_cov", functions.covMatrixUdf(col("__window")))
      .drop("__window")
  }

  /**
   * The 100TB path for the same computation: an UNPARTITIONED trailing
   * range window collapses to one task (SURVEY §4 pitfall 1). Here the
   * window runs through [[Windows.chunkedTrailingRange]]: the series is
   * chunked by time, each row also copied into the next chunk as
   * look-back context, so the plan is a shuffle on chunk ids + parallel
   * windows instead of a single global sort task.
   *
   * Output is bit-identical to [[rollingStats]] (same rows, same
   * in-window order).
   */
  def rollingStatsChunked(
      returns: DataFrame,
      windowDays: Int = 90,
      chunkDays: Int = 365): DataFrame =
    Windows.chunkedTrailingRange(returns, "date", windowDays, chunkDays,
        "__window" -> collect_list(col("features")))
      .filter(size(col("__window")) > 1)
      .withColumn("vol_avg", functions.meanVectorUdf(col("__window")))
      .withColumn("vol_cov", functions.covMatrixUdf(col("__window")))
      .drop("__window")
}
