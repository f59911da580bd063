package graft.risk

import java.sql.Timestamp

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The per-date sampler behind [[MonteCarlo.simulateMarket]] and the
 * notebook-03 step [[MonteCarlo.trialVectors]]. */
class MonteCarloSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val volSchema = StructType(Seq(
    StructField("date", TimestampType),
    StructField("vol_avg", ArrayType(DoubleType, containsNull = false)),
    StructField("vol_cov", ArrayType(ArrayType(DoubleType, containsNull = false)))))

  private def date(d: Int) = Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00")

  /** `dates` vol rows of `dim` factors, a random PSD covariance each, spread
   * over `slices` input partitions. */
  private def volRows(dates: Int, dim: Int = 5, slices: Int = 3): DataFrame = {
    val rnd = new scala.util.Random(17)
    val rows = (0 until dates).map { d =>
      val a = Array.fill(dim, dim)(rnd.nextGaussian() * 0.1)
      val cov = Array.tabulate(dim, dim)((i, j) => (0 until dim).map(k => a(i)(k) * a(j)(k)).sum)
      Row(date(d), Array.fill(dim)(rnd.nextGaussian() * 0.01).toSeq, cov.map(_.toSeq).toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), volSchema)
  }

  private def vol(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), volSchema)

  // The spelling simulateMarket replaced: one boxed UDF computes the
  // Cholesky factor, explode(sequence) fans out the trials, a second boxed
  // UDF draws each one, and the trial rows are hash-partitioned by date.
  private val boxedCholesky = udf { (cov: Seq[Seq[Double]]) =>
    MonteCarlo.cholesky(cov.map(_.toArray).toArray).map(_.toSeq)
  }
  private val boxedDraw = udf { (mean: Seq[Double], chol: Seq[Seq[Double]], seed: Long) =>
    MonteCarlo.sample(mean.toArray, chol.map(_.toArray).toArray, seed).toSeq
  }
  private def reference(volatility: DataFrame, runs: Int, numPartitions: Int): DataFrame =
    volatility
      .withColumn("__chol", boxedCholesky(col("vol_cov")))
      .withColumn("trial_id", explode(sequence(lit(0L), lit(runs.toLong - 1L))))
      .withColumn("features", boxedDraw(col("vol_avg"), col("__chol"), col("trial_id")))
      .select(col("date"), col("features"), col("trial_id"))
      .repartition(numPartitions, col("date"))

  /** Every row with its partition, in partition order then row order; the
   * features as raw bits. */
  private def laidOut(df: DataFrame) =
    df.withColumn("pid", spark_partition_id()).collect().toSeq.map(r =>
      (r.getInt(3), r.getTimestamp(0), r.getLong(2),
        r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)))

  test("simulateMarket == the boxed-UDF spelling, bit for bit, partition for partition") {
    val volatility = volRows(dates = 7)
    for (numPartitions <- Seq(1, 3, 8)) {
      val got = MonteCarlo.simulateMarket(volatility, 300, numPartitions = numPartitions)
      val want = reference(volatility, 300, numPartitions)
      assert(got.schema === want.schema)
      assert(got.rdd.getNumPartitions === numPartitions)
      val (g, w) = (laidOut(got), laidOut(want))
      assert(g.length === 7 * 300)
      assert(g === w, s"numPartitions=$numPartitions")
    }
  }

  /** weights for `tickers` over the 5-factor non-linear expansion (1 + 4·5). */
  private def weights(tickers: Seq[String]): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    tickers.map(t => (t, Array.fill(21)(rnd.nextGaussian()))).toDF("ticker", "weights")
  }

  test("simulate → cross join → score → collect: one exchange, over the vol rows") {
    import spark.implicits._
    val tickers = Seq("A", "B", "C")
    val chain = Training.score(
        MonteCarlo.simulateMarket(volRows(dates = 5), 200, numPartitions = 3)
          .crossJoin(broadcast(tickers.toDF("ticker"))),
        weights(tickers), "ticker", "features", "return")
      .select(col("date"), col("ticker"), col("trial_id"), col("return"))
      .transform(MonteCarlo.collectTrialVectors(_))
    assert(chain.collect().map(_.getAs[Vector]("returns").size).toSeq === Seq.fill(15)(200))
    val plan = chain.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 1, s"\n$plan")
    assert(shuffles.head.output.map(_.name).sorted === Seq("date", "vol_avg", "vol_cov"),
      s"the exchange carries the trials, not the vol rows:\n$plan")
    val fused = collect(plan) { case f: FusedTrialVectorsExec => f }
    assert(fused.size === 1, s"\n$plan")
    assert(collect(fused.head) { case e: ShuffleExchangeExec => e }.size === 1,
      s"the exchange is not under the fused chain:\n$plan")
  }

  test("trialVectors == the composed chain, and every vector holds runs trials") {
    import spark.implicits._
    val tickers = Seq("A", "B")
    val atRun = volRows(dates = 4)
    def byKey(df: DataFrame) =
      df.collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        r.getAs[Vector](2).toArray.toSeq.map(java.lang.Double.doubleToRawLongBits)).toMap
    val got = byKey(MonteCarlo.trialVectors(atRun, weights(tickers), tickers.toDF("ticker"),
      runs = 150, numPartitions = 2))
    val want = byKey(MonteCarlo.collectTrialVectorsComposable(Training.score(
      MonteCarlo.simulateMarket(atRun, 150, numPartitions = 2)
        .crossJoin(tickers.toDF("ticker")), weights(tickers), "ticker", "features", "return")))
    assert(got.size === 8)
    assert(got.values.forall(_.length == 150))
    assert(got === want)
  }

  test("simulateMarket: runs below 1 fails when the plan is built") {
    for (runs <- Seq(0, -3)) {
      val e = intercept[IllegalArgumentException](MonteCarlo.simulateMarket(volRows(1), runs))
      assert(e.getMessage.contains(s"runs must be at least 1, got $runs"))
    }
  }

  test("simulateMarket: a null vol_avg or vol_cov fails the query, naming the date") {
    val cov = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    assert(failure(MonteCarlo.simulateMarket(vol(Row(date(2), null, cov)), 10))
      .contains("null vol_avg for date 2024-01-03"))
    assert(failure(MonteCarlo.simulateMarket(vol(Row(date(4), Seq(0.0, 0.0), null)), 10))
      .contains("null vol_cov for date 2024-01-05"))
  }

  test("simulateMarket: a mean and covariance of different sizes fail the query") {
    val cov3 = Seq(Seq(1.0, 0.1, 0.0), Seq(0.1, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
    // a short mean used to sample the covariance's top-left block
    assert(failure(MonteCarlo.simulateMarket(vol(Row(date(6), Seq(0.0, 0.0), cov3)), 10))
      .contains("vol_cov has 3 rows for a vol_avg of length 2 for date 2024-01-07"))
    val ragged = Seq(Seq(1.0, 0.1), Seq(0.1))
    assert(failure(MonteCarlo.simulateMarket(vol(Row(date(8), Seq(0.0, 0.0), ragged)), 10))
      .contains("vol_cov row 1 has length 1 for a vol_avg of length 2 for date 2024-01-09"))
  }
}
