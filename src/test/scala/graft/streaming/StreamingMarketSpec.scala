package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import StreamingMarket._

class StreamingMarketSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, hour: Int = 0) =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  test("runningLogReturns: stateful prev-close across micro-batches") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PriceTick]
    val q = runningLogReturns(input.toDS())
      .writeStream.format("memory").queryName("rets")
      .outputMode(OutputMode.Append()).start()

    input.addData(PriceTick("A", ts(1), 100.0), PriceTick("A", ts(2), 110.0),
      PriceTick("B", ts(1), 50.0))
    q.processAllAvailable()
    input.addData(PriceTick("A", ts(3), 121.0)) // state must remember 110
    q.processAllAvailable()

    val out = spark.table("rets").as[ReturnTick].collect()
      .map(r => (r.ticker, r.ts.toString.take(10), BigDecimal(r.ret)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).sorted
    assert(out.toSeq == Seq(
      ("A", "2024-01-01", 0.0),
      ("A", "2024-01-02", BigDecimal(math.log(110.0 / 100.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      ("A", "2024-01-03", BigDecimal(math.log(121.0 / 110.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      ("B", "2024-01-01", 0.0)))
    q.stop()
  }

  test("runningLogReturns: a late tick is dropped and never moves the state backwards") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PriceTick]
    val q = runningLogReturns(input.toDS())
      .writeStream.format("memory").queryName("laterets")
      .outputMode(OutputMode.Append()).start()

    input.addData(PriceTick("A", ts(1), 100.0), PriceTick("A", ts(3), 121.0))
    q.processAllAvailable()
    input.addData(PriceTick("A", ts(2), 110.0)) // older than the stored day-3 close
    q.processAllAvailable()
    input.addData(PriceTick("A", ts(4), 133.1)) // must be priced against day 3
    q.processAllAvailable()

    val out = spark.table("laterets").as[ReturnTick].collect()
      .map(r => (r.ts.toString.take(10), r.ret)).sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq("2024-01-01", "2024-01-03", "2024-01-04"))
    assert(out(0)._2 == 0.0)
    assert(math.abs(out(1)._2 - math.log(121.0 / 100.0)) < 1e-12)
    assert(math.abs(out(2)._2 - math.log(133.1 / 121.0)) < 1e-12)
    q.stop()
  }

  test("windowedIndicatorStats: event-time windows with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PriceTick]
    val q = windowedIndicatorStats(input.toDF(), windowLen = "2 days", slide = "1 day")
      .writeStream.format("memory").queryName("winstats")
      .outputMode(OutputMode.Append()).start()

    input.addData(PriceTick("IX", ts(1, 6), 10.0), PriceTick("IX", ts(2, 6), 20.0))
    q.processAllAvailable()
    // advance watermark far enough to close the early windows
    input.addData(PriceTick("IX", ts(10, 6), 1.0))
    q.processAllAvailable()

    val rows = spark.table("winstats")
      .select("window_start", "mean", "n").collect()
      .map(r => (r.get(0).toString.take(10), r.getDouble(1), r.getLong(2))).sorted
    // 2-day windows sliding by 1 day: day1 appears in [12-31,1-1] and [1-1,1-2] etc.
    assert(rows.contains(("2024-01-01", 15.0, 2L))) // window covering both ticks
    assert(rows.exists(_._3 == 1L))
    q.stop()
  }

  test("streamingVar: closed event-time windows emit the batch quantile") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val q = streamingVar(input.toDF().toDF("ts", "ret"),
        confidence = 95, watermark = "1 day", windowLen = "2 days", slide = "2 days")
      .writeStream.format("memory").queryName("svar")
      .outputMode(OutputMode.Append()).start()

    val rets = Seq(-0.05, -0.02, 0.01, 0.03, -0.01)
    input.addData(rets.zipWithIndex.map { case (r, i) => (ts(1, i), r) }: _*)
    q.processAllAvailable()
    input.addData((ts(20), 0.0)) // advance watermark, close the window
    q.processAllAvailable()

    val rows = spark.table("svar").collect()
      .map(r => (r.getAs[Int]("n"), r.getAs[Double]("var_95")))
    assert(rows.exists { case (n, v) =>
      n == 5 && math.abs(v - graft.risk.VarMath.valueAtRisk(rets.toArray, 95)) < 1e-12
    })
    q.stop()
  }

  test("readPriceStream: parquet file source feeds runningLogReturns, batch parity") {
    implicit val s = spark
    val dir = tempDir("graft_stream_src")
    val batch1 = Seq(PriceTick("A", ts(1), 100.0), PriceTick("A", ts(2), 110.0),
      PriceTick("B", ts(1), 50.0))
    val batch2 = Seq(PriceTick("A", ts(3), 121.0), PriceTick("B", ts(2), 55.0))
    def land(rows: Seq[PriceTick]): Unit =
      rows.toDS().toDF().write.mode("append").parquet(dir)

    land(batch1)
    val q = runningLogReturns(readPriceStream(spark, dir))
      .writeStream.format("memory").queryName("filerets")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    land(batch2) // the file source must discover files landing mid-stream
    q.processAllAvailable()

    def canon(rows: Seq[(String, Timestamp, Double)]) = rows
      .map { case (t, time, ret) => (t, time.toString.take(10),
        BigDecimal(ret).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sorted
    val got = canon(spark.table("filerets").as[ReturnTick].collect()
      .map(r => (r.ticker, r.ts, r.ret)).toSeq)
    // batch twin: the SAME files through the batch W1 window function
    import org.apache.spark.sql.functions.col
    val expect = canon(graft.risk.Returns.dailyLogReturns(
        spark.read.parquet(dir), dateCol = "ts")
      .select(col("ticker"), col("ts"), col("return"))
      .as[(String, Timestamp, Double)].collect().toSeq)
    assert(got == expect && got.size == 5)
    q.stop()
  }

  test("enrichWithIndicators: stream-stream interval join matches the batch band join") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val prices = MemoryStream[PriceTick]
    val indicators = MemoryStream[PriceTick]
    val q = enrichWithIndicators(prices.toDF(), indicators.toDF(),
        watermark = "1 day", tolerance = "6 hours")
      .writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Append()).start()

    // batch 1: in-band match (2h gap), out-of-band (8h gap), wrong ticker
    prices.addData(PriceTick("A", ts(1, 12), 100.0), PriceTick("B", ts(1, 12), 50.0))
    indicators.addData(PriceTick("A", ts(1, 10), 1.5), PriceTick("A", ts(1, 2), 9.9),
      PriceTick("C", ts(1, 11), 7.7))
    q.processAllAvailable()
    // batch 2: a LATER price matches an indicator from batch 1's state
    // (6h-tolerance band back from day2 00:00 reaches day1 18:00 — miss),
    // plus a fresh in-band pair; then advance watermarks to flush
    prices.addData(PriceTick("A", ts(2, 1), 110.0))
    indicators.addData(PriceTick("A", ts(1, 23), 2.5))
    q.processAllAvailable()
    prices.addData(PriceTick("A", ts(9), 1.0))
    indicators.addData(PriceTick("A", ts(9), 1.0))
    q.processAllAvailable()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("ticker"), col("ts").cast("string"),
        col("close"), col("i_ts").cast("string"), col("indicator_value"))
      .collect().map(_.toString).sorted.toSeq
    val streamed = canon(spark.table("enrich"))
    // batch twin: same rows, same band predicate, plain join
    val allP = Seq(PriceTick("A", ts(1, 12), 100.0), PriceTick("B", ts(1, 12), 50.0),
      PriceTick("A", ts(2, 1), 110.0), PriceTick("A", ts(9), 1.0)).toDF()
    val allI = Seq(PriceTick("A", ts(1, 10), 1.5), PriceTick("A", ts(1, 2), 9.9),
      PriceTick("C", ts(1, 11), 7.7), PriceTick("A", ts(1, 23), 2.5),
      PriceTick("A", ts(9), 1.0)).toDF()
      .select(col("ticker").as("i_ticker"), col("ts").as("i_ts"),
        col("close").as("indicator_value"))
    val batch = canon(allP.join(allI,
      col("ticker") === col("i_ticker") &&
        col("i_ts") >= col("ts") - expr("INTERVAL 6 hours") &&
        col("i_ts") <= col("ts"))
      .select(col("ticker"), col("ts"), col("close"), col("i_ts"),
        col("indicator_value")))
    // expected pairs: (A day1-12h, A day1-10h) and (A day2-1h, A day1-23h)
    // and the day-9 flush pair
    assert(streamed == batch && streamed.size == 3)
    q.stop()
  }

  test("enrichWithPortfolio: stream-static broadcast join per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val ticks = MemoryStream[PriceTick]
    val portfolio = Seq(("A", "industrial", 0.6), ("B", "tech", 0.4))
      .toDF("ticker", "sector", "weight")
    val q = enrichWithPortfolio(ticks.toDF(), portfolio)
      .writeStream.format("memory").queryName("enrichstatic")
      .outputMode(OutputMode.Append()).start()
    ticks.addData(PriceTick("A", ts(1), 100.0), PriceTick("C", ts(1), 9.9))
    q.processAllAvailable()
    ticks.addData(PriceTick("B", ts(2), 50.0))
    q.processAllAvailable()
    val out = spark.table("enrichstatic")
      .select(col("ticker"), col("sector"), col("weight"), col("close"))
      .collect().map(_.toString).sorted.toSeq
    // C has no dimension row -> dropped (inner); A and B enriched
    assert(out == Seq("[A,industrial,0.6,100.0]", "[B,tech,0.4,50.0]"))
    q.stop()
  }
}
