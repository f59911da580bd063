package graft.risk

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Basel backtesting — reference `05_var_compliance.py`: actual weighted
 * portfolio returns per day, overlaid as-of with the VaR-99 series, then
 * trailing-250-day breach counting -> traffic-light zones, forward-filled
 * to a daily calendar.
 *
 * The backtest is one sequential pass in a single task. Each input series
 * is gathered into one row (`collect_list` of epoch micros, epoch day and
 * value), the two rows are cross-joined, and one generator hands both to
 * [[VarMath.baselBacktest]] (plus [[VarMath.padDaily]] for the daily
 * report). That is safe at any data size because both series are bounded
 * by the calendar, not by the data: one row per trading day, ~250 a year,
 * whatever the number of trials or tickers behind them. The reference does
 * the same step in pandas, in one process — `toPandas`, then a daily
 * `reindex(pad)` (`05_var_compliance.py:123-132`). Time-zone and date logic stays in
 * Catalyst, in the session time zone; the kernel sees only epoch micros and
 * epoch days. Both entry points return a plan: nothing runs until the
 * caller acts.
 */
object Compliance {

  /** Daily weighted portfolio return: W1 log returns per ticker, weighted
   * by portfolio weight, summed per date (`05_var_compliance.py:23-53`). */
  def portfolioReturns(stocks: DataFrame, portfolio: DataFrame): DataFrame =
    Returns.dailyLogReturns(stocks)
      .join(broadcast(portfolio), Seq("ticker"))
      .withColumn("weighted_return",
        functions.weightedReturn(col("return"), col("weight")))
      .groupBy(col("date"))
      .agg(sum(col("weighted_return")).as("return"))

  /**
   * Breach counting + zones (`05_var_compliance.py:84-125`): attach to each
   * daily `return` the latest `var_99` at or before its `date`, keep the
   * rows with a non-null match, and count the returns at or below that
   * VaR over the trailing `windowDays` calendar days; zone per
   * [[VarMath.baselZone]]. Semantics in [[VarMath.baselBacktest]]. VaR rows
   * sharing a timestamp count as the greatest of them, compared as
   * `(date, each other column in input order)`.
   *
   * Output: every column of `dailyReturns`, then `right_date` and
   * `right_` + each other column of `varSeries`, then `breaches` and
   * `basel`.
   */
  def baselBacktest(
      dailyReturns: DataFrame,
      varSeries: DataFrame,
      windowDays: Int = 250): DataFrame = {
    val kernel = udf((r: Seq[Row], v: Seq[Row]) => backtest(r, v, windowDays).toSeq)
    def field(series: String, at: String, c: String) =
      col(series).getItem(col(at)).getField("row").getField(c)
    gathered(dailyReturns, varSeries)
      .select(col("r"), col("v"), inline(kernel(col("r"), col("v"))))
      .select(
        dailyReturns.columns.map(c => field("r", "ret", c).as(c)).toSeq ++
          rowColumns(varSeries).map(c => field("v", "varAt", c).as("right_" + c)) ++
          Seq(col("breaches"), col("zone").as("basel")): _*)
  }

  /**
   * [[baselBacktest]] on `date` columns, reduced to one row per calendar
   * day from the first backtest day to the last (the reference's
   * `reindex(method='pad')`, `05_var_compliance.py:131-132`): each column is
   * the day's greatest non-null value, and a day without one carries that
   * column's previous value forward. Output: `date` (a date), `return`,
   * `var_99`, `breaches`, `basel`.
   */
  def dailyBacktest(
      dailyReturns: DataFrame,
      varSeries: DataFrame,
      windowDays: Int = 250): DataFrame = {
    val kernel = udf { (r: Seq[Row], v: Seq[Row]) =>
      val rows = backtest(r, v, windowDays)
      val days = rows.map(x => r(x.ret).getInt(3))
      val ints = Ordering.by[Integer, Int](_.intValue)
      def pad[T >: Null <: AnyRef: scala.reflect.ClassTag](f: VarMath.BacktestRow => T,
          ord: Ordering[T]) = VarMath.padDaily(days, rows.map(f), ord)
      val ret = pad(x => value(r(x.ret)), VarMath.sqlDoubleOrdering)
      val var99 = pad(x => value(v(x.varAt)), VarMath.sqlDoubleOrdering)
      val breaches = pad(x => Integer.valueOf(x.breaches), ints)
      val zone = pad(x => Integer.valueOf(x.zone), ints)
      val first = if (days.isEmpty) 0 else days.min
      ret.indices.map(d =>
        (first + d, ret(d), var99(d), breaches(d).intValue, zone(d).intValue))
    }
    gathered(dailyReturns, varSeries)
      .select(inline(kernel(col("r"), col("v"))))
      .select(date_from_unix_date(col("_1")).as("date"), col("_2").as("return"),
        col("_3").as("var_99"), col("_4").as("breaches"), col("_5").as("basel"))
  }

  /** `date`, then every other column of `df` in input order. */
  private def rowColumns(df: DataFrame): Seq[String] =
    "date" +: df.columns.filterNot(_ == "date").toSeq

  /** One row `(r, v)` holding the returns and the VaR series, each as an
   * array of `struct<t, row, x, day>` over its rows with a timestamp: `t`
   * epoch micros, `row` the input row as [[rowColumns]], `x` the value
   * (`return` or `var_99`) and `day` the epoch day of `date` in the
   * session time zone. The VaR array is sorted by `(t, row)`, so the last
   * row at a timestamp is the greatest. */
  private def gathered(dailyReturns: DataFrame, varSeries: DataFrame): DataFrame = {
    val t = unix_micros(col("date").cast("timestamp"))
    def series(df: DataFrame, valueCol: String) =
      df.filter(t.isNotNull).agg(collect_list(struct(t.as("t"),
        struct(rowColumns(df).map(col): _*).as("row"),
        col(valueCol).cast("double").as("x"),
        unix_date(to_date(col("date"))).as("day"))).as("s"))
    series(dailyReturns, "return").toDF("r")
      .crossJoin(series(varSeries, "var_99").select(sort_array(col("s")).as("v")))
  }

  /** [[VarMath.baselBacktest]] over two gathered series. */
  private def backtest(r: Seq[Row], v: Seq[Row], windowDays: Int): Array[VarMath.BacktestRow] =
    VarMath.baselBacktest(r.map(_.getLong(0)).toArray, r.map(value).toArray,
      v.map(_.getLong(0)).toArray, v.map(value).toArray, windowDays)

  private def value(row: Row): java.lang.Double = row.get(2).asInstanceOf[java.lang.Double]
}
