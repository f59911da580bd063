package graft.risk

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one-pass Basel backtest ([[Compliance.baselBacktest]],
 * [[VarEngine.complianceReport]]) against the window composition it
 * replaced, rebuilt here from the public scale operators. */
class ComplianceSpec extends SparkSpec {
  import spark.implicits._

  private val day = 86400L * 1000000L

  private def at(micros: Long) = Timestamp.from(Instant.EPOCH.plusNanos(micros * 1000L))

  private val t0 = Instant.parse("2019-03-04T00:00:00Z").getEpochSecond * 1000000L

  /** as-of join + chunked trailing window, exactly as `baselBacktest`
   * was composed before it became one pass. */
  private def composedBacktest(rets: DataFrame, vars: DataFrame, windowDays: Int = 250) = {
    val overlaid = AsOfJoin.asofJoinBroadcast(rets, vars, "date")
      .filter(col("right_var_99").isNotNull)
    Windows.chunkedTrailingRange(overlaid, "date", windowDays, chunkDays = windowDays,
        ("__trailing", collect_list(col("return"))))
      .withColumn("breaches", functions.breachCount(col("__trailing"), col("right_var_99")))
      .withColumn("basel", functions.baselZone(col("breaches")))
      .drop("__trailing")
  }

  /** ... followed by the keyless calendar reindex + forward fill. */
  private def composedReport(rets: DataFrame, vars: DataFrame) =
    Calendar.reindexFfill(composedBacktest(rets, vars), Nil, "date",
      Seq("return", "right_var_99", "breaches", "basel"))
      .withColumnRenamed("right_var_99", "var_99")

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def typed(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(typed(got) === typed(want))
    val (g, w) = (rows(got), rows(want))
    assert(g.size === w.size)
    g.zip(w).foreach { case (a, b) => assert(a == b, s"\n got $a\nwant $b") }
  }

  /** Returns with null, NaN, ±0.0 and values equal to a VaR level; two
   * timestamps on some days; gaps of 300 and 400 days; returns before the
   * first VaR date. VaR rows with duplicate timestamps, a null, a NaN and
   * −0.0. Returns `(returns, (date, var_99), (date, var_99, es_99))`; the
   * extra `es_99` column takes few values, null among them, so duplicate
   * VaR timestamps both tie and differ on it. */
  private def adversarial(seed: Int): (DataFrame, DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val esRnd = new scala.util.Random(seed + 1000)
    def es(): java.lang.Double = Seq[java.lang.Double](null, -0.05, -0.04)(esRnd.nextInt(3))
    val levels = Seq(-0.03, -0.02, -0.01, -0.0, 0.0, 0.01)
    def ret(): java.lang.Double = rnd.nextInt(20) match {
      case 0 => null
      case 1 => Double.NaN
      case 2 => -0.0
      case 3 => 0.0
      case k if k < 10 => levels(rnd.nextInt(levels.size))
      case _ => rnd.nextGaussian() * 0.02
    }
    val offsets = (0 until 900).filterNot(d => d > 200 && d < 500) ++
      (800 until 1000).filterNot(d => d % 7 == 5) ++ (1400 until 1800)
    val retRows = offsets.flatMap { d =>
      val base = t0 + d * day + rnd.nextInt(86400) * 1000000L + rnd.nextInt(1000000)
      val second = if (rnd.nextInt(6) == 0) Seq(base + rnd.nextInt(3600) * 1000000L) else Nil
      (base +: second).map(t => (at(t), ret()))
    }
    val varRows = (3 until 1800 by 3).flatMap { d =>
      val t = t0 + d * day + (if (d % 2 == 0) 0L else 13L * 3600 * 1000000L)
      val v: java.lang.Double = rnd.nextInt(25) match {
        case 0 => null
        case 1 => Double.NaN
        case 2 => -0.0
        case _ => levels(rnd.nextInt(3))
      }
      val dup = if (rnd.nextInt(8) == 0) {
        val w: java.lang.Double = if (rnd.nextBoolean()) null else levels(rnd.nextInt(4))
        Seq((at(t), w, es()))
      } else Nil
      (at(t), v, es()) +: dup
    }
    val wide = varRows.toDF("date", "var_99", "es_99").repartition(2)
    (retRows.toDF("date", "return").repartition(3), wide.select("date", "var_99"), wide)
  }

  test("baselBacktest == as-of join + chunked trailing window on adversarial series") {
    for (seed <- Seq(1, 2, 3)) {
      val (rets, vars, wide) = adversarial(seed)
      assertSame(Compliance.baselBacktest(rets, vars), composedBacktest(rets, vars))
      assertSame(Compliance.baselBacktest(rets, vars, windowDays = 30),
        composedBacktest(rets, vars, windowDays = 30))
      // Duplicate VaR timestamps reduce to the greatest (date, other columns
      // in input order): es_99 decides before var_99, then after it.
      for (v <- Seq(vars.select("var_99", "date"), wide.select("es_99", "date", "var_99"), wide))
        assertSame(Compliance.baselBacktest(rets, v), composedBacktest(rets, v))
    }
  }

  test("dailyBacktest == composition + keyless reindexFfill, in UTC and New York") {
    val (rets, vars, _) = adversarial(4)
    def report = Compliance.dailyBacktest(rets, vars)
    assertSame(report, composedReport(rets, vars))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      assertSame(report, composedReport(rets, vars))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("no overlap gives an empty result with the same schema") {
    val rets = Seq((at(t0), -0.01), (at(t0 + day), 0.02)).toDF("date", "return")
    val vars = Seq((at(t0 + 10 * day), -0.01)).toDF("date", "var_99")
    assertSame(Compliance.baselBacktest(rets, vars), composedBacktest(rets, vars))
    assertSame(Compliance.dailyBacktest(rets, vars), composedReport(rets, vars))
    assert(Compliance.dailyBacktest(rets, vars).count() === 0)
  }

  test("window boundary: exactly 250 days back is in, one second more is out") {
    val span = 250 * day
    val vars = Seq((at(t0 - day), -0.5)).toDF("date", "var_99")
    val rets = Seq(
      (at(t0), -1.0),                    // A
      (at(t0 + span), 0.0),              // B: A is exactly 250 days back
      (at(t0 + span + 500000L), 0.0),    // same floor-second as B: A still in
      (at(t0 + span + 1000000L), -0.7)   // A one second too far back
    ).toDF("date", "return")
    val got = Compliance.baselBacktest(rets, vars).orderBy(col("date"))
      .select(col("breaches")).as[Int].collect().toSeq
    assert(got === Seq(1, 1, 1, 1))
    val narrower = Compliance.baselBacktest(rets, vars, windowDays = 1).orderBy(col("date"))
      .select(col("breaches")).as[Int].collect().toSeq
    assert(narrower === Seq(1, 0, 0, 1))
  }

  test("neither entry point runs a Spark job while it builds its plan") {
    val starts = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id"))); ()
      }
    }
    val (rets, vars, _) = adversarial(5)
    val stocks = Seq(("A", at(t0), 10.0), ("A", at(t0 + day), 11.0),
      ("B", at(t0), 5.0), ("B", at(t0 + day), 4.0)).toDF("ticker", "date", "close")
    val pf = Seq(("A", 0.5), ("B", 0.5)).toDF("ticker", "weight")
    spark.sparkContext.addSparkListener(listener)
    try {
      Compliance.baselBacktest(rets, vars)
      VarEngine.complianceReport(stocks, pf, vars)
      spark.sparkContext.setJobGroup("sentinel", "after plan construction")
      spark.range(1).count()
      spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!starts.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(starts.contains("sentinel"))
      assert(starts.peek() === "sentinel", s"jobs ran before the sentinel: $starts")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
