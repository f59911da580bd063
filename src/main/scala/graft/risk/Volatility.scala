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
 * fine there, single-task at scale. `partitionCols` lets callers with many
 * series (per-ticker, per-region) keep the same API and get a parallel
 * plan; for one giant global series, chunk-by-time + overlap would be the
 * 100TB path (not needed for parity).
 */
object Volatility {

  def rollingStats(
      returns: DataFrame,
      windowDays: Int = 90,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(partitionCols.map(col): _*)
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
   * series is chunked by time; every row is replicated into its own chunk
   * and the next one, the window runs inside each chunk partition, and
   * only rows evaluated in their home chunk are kept. Each row still sees
   * its full trailing window (chunk length ≥ lookback guarantees the
   * window spans at most the previous chunk), but the plan is a shuffle on
   * chunk ids + parallel windows instead of a single global sort task.
   *
   * Output is bit-identical to [[rollingStats]] with no partition cols
   * (same rows, same in-window order).
   */
  def rollingStatsChunked(
      returns: DataFrame,
      windowDays: Int = 90,
      chunkDays: Int = 365): DataFrame = {
    require(chunkDays >= windowDays,
      s"chunkDays ($chunkDays) must cover the lookback ($windowDays)")
    val chunkLen = chunkDays.toLong * 86400L
    val epoch = col("date").cast("long")
    val home = floor(epoch / chunkLen)
    val w = Window
      .partitionBy(col("__chunk"))
      .orderBy(col("date").cast("long"))
      .rangeBetween(-windowDays.toLong * 86400L, 0L)
    returns
      .withColumn("__home", home)
      // replicate into home and next chunk (as look-back context)
      .withColumn("__chunk", explode(array(col("__home"), col("__home") + 1)))
      .withColumn("__window", collect_list(col("features")).over(w))
      .filter(col("__chunk") === col("__home"))
      .filter(size(col("__window")) > 1)
      .withColumn("vol_avg", functions.meanVectorUdf(col("__window")))
      .withColumn("vol_cov", functions.covMatrixUdf(col("__window")))
      .drop("__window", "__home", "__chunk")
  }
}
