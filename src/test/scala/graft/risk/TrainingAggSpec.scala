package graft.risk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TrainingAggSpec extends SparkSpec {
  import spark.implicits._

  test("OlsAggregator matches commons-math3 QR OLS per group") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      val g = s"G${i % 3}"
      val f = Array(rnd.nextDouble() * 2 - 1, rnd.nextDouble())
      // y = 2 + 3*f0 - 1.5*f1 + noise, different intercept per group
      val y = (i % 3) + 3.0 * f(0) - 1.5 * f(1) + rnd.nextGaussian() * 0.01
      (g, f, y)
    }
    val df = rows.toDF("ticker", "features", "label")

    val viaAgg = df.select(col("ticker"), col("features").cast("array<double>").as("features"),
        col("label")).as[Training.TrainRow]
      .groupByKey(_.ticker)
      .agg(new Training.OlsAggregator(2).toColumn.name("w"))
      .collect().toMap
    val viaQr = rows.groupBy(_._1).map { case (g, rs) =>
      g -> Training.fitOls(rs.map(_._2).toArray, rs.map(_._3).toArray)
    }

    assert(viaAgg.keySet == viaQr.keySet)
    viaAgg.foreach { case (g, w) =>
      val e = viaQr(g)
      assert(w.length == e.length)
      w.zip(e).foreach { case (a, b) => assert(math.abs(a - b) < 1e-8, s"$g: $a vs $b") }
      assert(math.abs(w(1) - 3.0) < 0.05 && math.abs(w(2) + 1.5) < 0.05)
    }
  }

  /** The pipeline's training rows (`VarPipeline.trainedWeights`' input) for
   * `cfg`: stock returns as-of joined to the indicator features. */
  private def trainingRows(cfg: VarPipeline.Config): DataFrame = {
    val market = Sources.syntheticMarketData(spark, cfg.tickers, cfg.start, cfg.days,
      globalSeed = cfg.seed)
    val ind = Sources.syntheticIndicators(spark, cfg.indicators, cfg.start, cfg.days, cfg.seed + 1)
    val indRets = Returns.indicatorLogReturns(ind, "date", cfg.indicators)
    AsOfJoin.asofJoinBroadcast(
        Returns.dailyLogReturns(market).select(col("ticker"), col("date"), col("return")),
        indRets.select(col("date"), col("features")), "date")
      .filter(col("right_features").isNotNull)
  }

  /** The per-ticker OLS as a lazy `mapGroups` plan, the fit without the
   * collect. */
  private def lazyFit(df: DataFrame): DataFrame =
    df.select(col("ticker"), col("right_features").cast("array<double>").as("features"),
        col("return").cast("double").as("label"))
      .na.drop()
      .as[Training.TrainRow]
      .groupByKey(_.ticker)
      .mapGroups { (ticker, it) =>
        val data = it.toArray
        Training.ModelWeights(ticker, Training.fitOls(
          data.map(r => VarMath.nonLinearFeatures(r.features)), data.map(_.label)))
      }
      .toDF("ticker", "weights")

  private def bits(df: DataFrame): Seq[(String, Seq[Long])] =
    df.collect().toSeq.map(r => (r.getString(0),
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)))

  test("trainModels fits eagerly into one local relation, bit-equal in order to the lazy fit") {
    val rows = trainingRows(graft.SparkEntry.miniCfg)
    val fitted = Training.trainModels(rows, "ticker", "right_features", "return")
    assert(fitted.queryExecution.logical.isInstanceOf[LocalRelation],
      s"\n${fitted.queryExecution.logical}")
    val want = lazyFit(rows)
    assert(fitted.schema === want.schema)
    val got = bits(fitted)
    assert(got.length === graft.SparkEntry.miniCfg.tickers.length)
    assert(got.forall(_._2.length == 1 + 4 * graft.SparkEntry.miniCfg.indicators.length))
    assert(got === bits(want))
  }

  test("trainModels of no rows is an empty local relation with the fit's schema") {
    val rows = trainingRows(graft.SparkEntry.miniCfg).limit(0)
    val fitted = Training.trainModels(rows, "ticker", "right_features", "return")
    assert(fitted.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(fitted.schema === lazyFit(rows).schema)
    assert(fitted.collect().isEmpty)
  }

  /** Three tickers of 2-factor rows (9 coefficients): `a` with `n` random
   * rows, `b` with 40 and `c` with 40 whose features are all 0. */
  private def fitOf(n: Int, zeroC: Boolean): DataFrame = {
    val rnd = new scala.util.Random(11)
    def rows(t: String, n: Int, zero: Boolean) = Seq.fill(n)((t,
      if (zero) Array(0.0, 0.0) else Array.fill(2)(rnd.nextGaussian()), rnd.nextGaussian()))
    val df = (rows("a", n, zero = false) ++ rows("b", 40, zero = false) ++
      rows("c", 40, zeroC)).toDF("ticker", "features", "return")
    Training.trainModels(df)
  }

  test("a ticker with fewer rows than its coefficients fails the fit, naming it") {
    assert(fitOf(9, zeroC = false).collect().length === 3) // 9 rows: exactly determined
    val e = intercept[IllegalArgumentException](fitOf(8, zeroC = false))
    assert(e.getMessage ===
      "trainModels: ticker a, 8 rows: fewer rows than its 9 coefficients")
  }

  test("a ticker with a singular design fails the fit, naming it") {
    val e = intercept[IllegalArgumentException](fitOf(40, zeroC = true))
    assert(e.getMessage === "trainModels: ticker c, 40 rows: singular design")
  }
}
