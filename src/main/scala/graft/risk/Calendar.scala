package graft.risk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Calendar reindex + last-observation-carried-forward, the pure-Spark
 * replacement for the reference's pandas `reindex(method='pad')`
 * (`/root/reference/utils/var_utils.py:7-9`, `05_var_compliance.py:131-132`).
 *
 * Pure-plan throughout: the calendar bounds come from an aggregate subplan
 * cross-joined back (no driver round-trip), the calendar itself is
 * `sequence + explode` (a few KB — broadcastable), and the fill is a
 * windowed `last(ignoreNulls)`, which shuffles once on the series keys.
 */
object Calendar {

  /** One row per day between min and max of `dateCol` in `df` (inclusive).
   * Output column: `date`. */
  def calendarFor(df: DataFrame, dateCol: String): DataFrame = {
    val bounds = df.agg(
      to_date(min(col(dateCol))).as("__lo"),
      to_date(max(col(dateCol))).as("__hi"))
    bounds
      .select(explode(sequence(col("__lo"), col("__hi"), expr("interval 1 day"))).as("date"))
  }

  /**
   * Reindex `df` to a daily calendar per key and forward-fill `valueCols`.
   * Duplicate rows per (keys, day) are first reduced with `max` so the
   * result is deterministic. `dateCol` in the output is a `date`.
   *
   * With `keyCols` empty (one global series) the fill window is one task:
   * a daily calendar is a few thousand rows per decade.
   */
  def reindexFfill(
      df: DataFrame,
      keyCols: Seq[String],
      dateCol: String,
      valueCols: Seq[String]): DataFrame = {
    val reduced = df
      .groupBy((keyCols.map(col) :+ to_date(col(dateCol)).as(dateCol)): _*)
      .agg(max(col(valueCols.head)).as(valueCols.head),
        valueCols.tail.map(c => max(col(c)).as(c)): _*)

    // keys and calendar bounds derive from `reduced`, NOT from `df`: all
    // consumers then share one identical aggregation subplan, whose
    // shuffle Exchange Spark reuses (ReuseExchange), so an expensive input
    // plan is computed once instead of once per consumer
    val calendar = calendarFor(reduced, dateCol)
      .withColumnRenamed("date", dateCol)
    val grid =
      if (keyCols.isEmpty) calendar
      else calendar.crossJoin(broadcast(reduced.select(keyCols.map(col): _*).distinct()))

    val joined = grid.join(reduced, keyCols :+ dateCol, "left")
    // dates are unique per key after the reduce, so the order is total
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }
}
