package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Incremental market ingest — the Structured Streaming face of the batch
 * engine (the reference hints at incremental runs,
 * `config/application.yaml:2-3`, but never implements them; SURVEY §2.9).
 *
 * Two canonical stateful shapes:
 *  - event-time **windowed aggregation with watermark** for indicator
 *    stats (the streaming analogue of the batch range window W2) — pure
 *    declarative plan, state bounded by the watermark;
 *  - **flatMapGroupsWithState** for running per-ticker log returns (the
 *    streaming analogue of the W1 two-row window) — explicit keyed state
 *    holding the previous close.
 *
 * Around them: a parquet file source of ticks, the portfolio (stream-
 * static) and indicator (stream-stream) enrichment joins, and windowed
 * VaR. All compose with the batch column functions unchanged: a stream is
 * just a DataFrame whose plan runs forever.
 */
object StreamingMarket {

  case class PriceTick(ticker: String, ts: Timestamp, close: Double)
  case class ReturnTick(ticker: String, ts: Timestamp, close: Double, ret: Double)
  case class PrevClose(ts: Long, close: Double)

  /**
   * Sliding event-time mean/min/max/count per indicator window. Late rows
   * beyond the watermark are dropped (state is bounded: watermark + window
   * length per key).
   */
  def windowedIndicatorStats(
      ticks: DataFrame,
      valueCol: String = "close",
      watermark: String = "1 day",
      windowLen: String = "7 days",
      slide: String = "1 day"): DataFrame =
    ticks
      .withWatermark("ts", watermark)
      .groupBy(col("ticker"), window(col("ts"), windowLen, slide))
      .agg(
        avg(col(valueCol)).as("mean"),
        min(col(valueCol)).as("min"),
        max(col(valueCol)).as("max"),
        count(lit(1)).as("n"))
      .select(col("ticker"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("mean"), col("min"),
        col("max"), col("n"))

  /**
   * Running log returns per ticker with explicit keyed state: each batch's
   * rows are processed in event-time order against the stored previous
   * close; the first tick of a series returns 0.0 (the batch W1 `first`
   * semantics — ln(close/close), not null). A tick older than the stored
   * close arrived late (a file source gives no order across files): it is
   * dropped, with no output row and the state unchanged, as a watermark
   * would drop it, so a late tick never moves the state backwards.
   */
  def runningLogReturns(ticks: Dataset[PriceTick])(
      implicit spark: SparkSession): Dataset[ReturnTick] = {
    import spark.implicits._
    ticks
      .groupByKey(_.ticker)
      .flatMapGroupsWithState[PrevClose, ReturnTick](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (ticker: String, rows: Iterator[PriceTick], state: GroupState[PrevClose]) =>
          // micro-batch iterators carry no order guarantee — impose event time
          val ordered = rows.toSeq.sortBy(_.ts.getTime)
          var prev = state.getOption
          val out = ordered.flatMap { t =>
            if (prev.exists(_.ts > t.ts.getTime)) None
            else {
              val base = prev.fold(t.close)(_.close)
              prev = Some(PrevClose(t.ts.getTime, t.close))
              Some(ReturnTick(ticker, t.ts, t.close, math.log(t.close / base)))
            }
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** File-source ingest of the batch schema (parquet drops into the same
   * transforms used by the batch pipeline). */
  def readPriceStream(spark: SparkSession, dir: String): Dataset[PriceTick] = {
    import spark.implicits._
    spark.readStream
      .schema("ticker STRING, ts TIMESTAMP, close DOUBLE")
      .parquet(dir)
      .as[PriceTick]
  }

  /**
   * Stream-STATIC join: attach the (small, slowly-changing) portfolio
   * dimension to a live tick stream. The static side is explicitly
   * broadcast — re-resolved per micro-batch, never shuffled, and the
   * stream side needs no watermark because a static join holds no state.
   * The streaming face of the batch star join (q03 /
   * `VarAggregation.weightedTrials`).
   */
  def enrichWithPortfolio(ticks: DataFrame, portfolio: DataFrame): DataFrame =
    ticks.join(org.apache.spark.sql.functions.broadcast(portfolio), Seq("ticker"))

  /**
   * Stream-STREAM interval join: pair each price tick with the indicator
   * ticks of the same ticker whose event time falls in
   * `[price ts − tolerance, price ts]` — the quote-before-trade band
   * join, the canonical two-stream enrichment (batch twin: the as-of
   * band of `graft.risk.AsOfJoin`). Both sides carry a watermark and the
   * join condition bounds event-time distance, so Spark derives exactly
   * how long each side's state must be retained — bounded state on an
   * endless pair of streams. Emits ALL in-band matches (append mode);
   * keep the max `i_ts` per (ticker, ts) downstream when latest-only
   * as-of semantics are wanted.
   */
  def enrichWithIndicators(
      prices: DataFrame,
      indicators: DataFrame,
      watermark: String = "1 day",
      tolerance: String = "10 minutes"): DataFrame = {
    val p = prices
      .select(col("ticker"), col("ts"), col("close"))
      .withWatermark("ts", watermark)
    val i = indicators
      .select(col("ticker").as("i_ticker"), col("ts").as("i_ts"),
        col("close").as("indicator_value"))
      .withWatermark("i_ts", watermark)
    p.join(i,
      col("ticker") === col("i_ticker") &&
        col("i_ts") >= col("ts") - expr(s"INTERVAL $tolerance") &&
        col("i_ts") <= col("ts"))
      .select(col("ticker"), col("ts"), col("close"),
        col("i_ts"), col("indicator_value"))
  }

  /**
   * Streaming windowed VaR: per event-time window, collect the return
   * samples and evaluate the same linear-interpolation quantile as the
   * batch engine ([[graft.risk.functions.varAtVec]]) when the watermark
   * closes the window (append mode ⇒ each window emits exactly once,
   * complete). The streaming twin of the batch `varByGroup` over a
   * trailing window; state per window is bounded by the watermark.
   */
  def streamingVar(
      returns: DataFrame,
      confidence: Double = 99,
      returnCol: String = "ret",
      tsCol: String = "ts",
      watermark: String = "1 day",
      windowLen: String = "7 days",
      slide: String = "1 day"): DataFrame =
    returns
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide))
      .agg(collect_list(col(returnCol)).as("__rets"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        size(col("__rets")).as("n"),
        graft.risk.functions.varAt(array_sort(col("__rets")),
          lit(confidence)).as(s"var_${confidence.toInt}"))
}
