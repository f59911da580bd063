package graft.risk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Scale-path window shapes.
 *
 * An unpartitioned trailing range window (`Window.orderBy(ts)
 * .rangeBetween(-N·day, 0)`) is the idiomatic Spark spelling for "trailing
 * N days over one global series" — and it collapses the whole series into
 * ONE task (SURVEY §4 pitfall 1). Fine at thousands of rows; fatal at
 * billions. Both shapes here run over time chunks instead ([[overChunks]]).
 */
object Windows {

  /**
   * Trailing range-window aggregates over a single global time series,
   * parallelized by time-chunking ([[overChunks]]). Because
   * `chunkDays ≥ windowDays`, each row still sees its complete trailing
   * window; the plan becomes shuffle-on-chunk + parallel windows instead
   * of a global single-task sort. Results are identical to the
   * unpartitioned spelling.
   *
   * `aggs` are window aggregate expressions, e.g.
   * `("rolling_sum", sum(col("x")))`.
   */
  def chunkedTrailingRange(
      df: DataFrame,
      dateCol: String,
      windowDays: Int,
      chunkDays: Int,
      aggs: (String, Column)*): DataFrame = {
    require(chunkDays >= windowDays,
      s"chunkDays ($chunkDays) must cover the lookback ($windowDays)")
    val w = byChunk
      .orderBy(col(dateCol).cast("timestamp").cast("long"))
      .rangeBetween(-windowDays.toLong * 86400L, 0L)
    overChunks(df, dateCol, chunkDays, aggs.map { case (name, a) => name -> a.over(w) })
  }

  /**
   * Global lag-1 over a single time series, parallelized the same way:
   * `lag(1)` runs per chunk partition, so each row's predecessor is found
   * as long as it lies within the previous chunk. Exact for any series
   * whose gaps between consecutive rows are ≤ 1,024 days (a daily/weekly
   * series would need a 3-year hole to differ); a row whose predecessor
   * is farther back lags to null, like a series restart, once the
   * predecessor lies before the previous chunk (always beyond 2,048 days).
   *
   * Adds `__lag_` + c for each of `lagCols`.
   */
  def chunkedLag(df: DataFrame, dateCol: String, lagCols: Seq[String]): DataFrame = {
    val w = byChunk.orderBy(col(dateCol))
    overChunks(df, dateCol, 1024, lagCols.map(c => ("__lag_" + c) -> lag(col(c), 1).over(w)))
  }

  private val byChunk = Window.partitionBy(col("__chunk"))

  /**
   * The chunk construction under both shapes: every row is replicated
   * into its home chunk (`chunkDays` wide on `dateCol`) and the next one,
   * as look-back context; `cols`, windows over [[byChunk]], are evaluated
   * inside each chunk partition; only home-chunk rows are kept. A row thus
   * sees every predecessor up to one chunk back.
   */
  private def overChunks(
      df: DataFrame,
      dateCol: String,
      chunkDays: Int,
      cols: Seq[(String, Column)]): DataFrame = {
    val chunkLen = chunkDays.toLong * 86400L
    val base = df
      .withColumn("__home", floor(col(dateCol).cast("timestamp").cast("long") / chunkLen))
      .withColumn("__chunk", explode(array(col("__home"), col("__home") + 1)))
    cols.foldLeft(base) { case (d, (name, c)) => d.withColumn(name, c) }
      .filter(col("__chunk") === col("__home"))
      .drop("__home", "__chunk")
  }
}
