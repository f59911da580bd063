package graft.risk

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec,
  GenerateExec, MapGroupsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** [[FuseMonteCarlo]]: the simulate → cross join → score → trial vectors
 * chain as one [[FusedTrialVectorsExec]], against the same chain with the
 * rule excluded (the plan it replaces). */
class MonteCarloFusionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val volSchema = StructType(Seq(
    StructField("date", TimestampType),
    StructField("vol_avg", ArrayType(DoubleType, containsNull = false)),
    StructField("vol_cov", ArrayType(ArrayType(DoubleType, containsNull = false)))))

  private def date(d: Int) =
    Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d).atStartOfDay())

  private def psd(rnd: scala.util.Random, dim: Int): Seq[Seq[Double]] = {
    val a = Array.fill(dim, dim)(rnd.nextGaussian() * 0.1)
    Seq.tabulate(dim, dim)((i, j) => (0 until dim).map(k => a(i)(k) * a(j)(k)).sum)
  }

  /** `dates` vol rows of 5 factors over 3 input partitions, the dates in a
   * shuffled order so that sorted and arrival orders differ. */
  private def volRows(dates: Int): DataFrame = {
    val rnd = new scala.util.Random(41)
    val rows = rnd.shuffle((0 until dates).toList).map(d =>
      Row(date(d), Seq.fill(5)(rnd.nextGaussian() * 0.01), psd(rnd, 5)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), volSchema)
  }

  private def vol(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), volSchema)

  /** Tickers out of sorted order, so that sorted and arrival orders differ. */
  private val tickers = Seq("C", "A", "D", "B")

  private def tickerRows(ts: Seq[String] = tickers): DataFrame = {
    import spark.implicits._
    ts.toDF("ticker")
  }

  /** OLS-shaped weights (1 + 4 per factor) for `ts`. */
  private def weights(ts: Seq[String] = tickers, n: Int = 21): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    ts.map(t => (t, Array.fill(n)(rnd.nextGaussian()))).toDF("ticker", "weights")
  }

  /** riskbench's composition of the chain (`Workloads.monteCarlo`). */
  private def composed(atRun: DataFrame, w: DataFrame, ts: DataFrame, runs: Int,
      numPartitions: Int): DataFrame =
    MonteCarlo.collectTrialVectors(Training.score(
        MonteCarlo.simulateMarket(atRun, runs, numPartitions = numPartitions)
          .crossJoin(broadcast(ts.select(col("ticker")))), w, "ticker", "features", "return")
      .select(col("date"), col("ticker"), col("trial_id"), col("return")))

  /** Both spellings of the chain that the rule fuses. */
  private def chains(atRun: DataFrame, w: DataFrame, ts: DataFrame, runs: Int,
      numPartitions: Int): Seq[(String, () => DataFrame)] = Seq(
    "composed" -> (() => composed(atRun, w, ts, runs, numPartitions)),
    "trialVectors" -> (() => MonteCarlo.trialVectors(atRun, w, ts, runs, numPartitions)))

  /** `body` over `chain()` planned with the rule excluded: the replaced plan. */
  private def unfused[T](chain: () => DataFrame)(body: DataFrame => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, new FuseMonteCarlo().ruleName)
    try {
      val df = chain()
      val out = body(df)
      assert(!isFused(df.queryExecution.executedPlan))
      out
    } finally spark.conf.unset(key)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def isFused(plan: SparkPlan): Boolean =
    collect(plan) { case f: FusedTrialVectorsExec => f }.size == 1

  /** Every row of `df`'s own executed plan in output order: its partition,
   * the date (micros), the ticker and the vector's raw bits. A projection
   * on top would be collapsed into the aggregate and change the tree. */
  private def laidOut(df: DataFrame): Seq[(Int, Long, String, Seq[Long])] = {
    val Seq(d, t, v) = Seq("date", "ticker", "returns").map(df.schema.fieldIndex)
    df.queryExecution.toRdd.mapPartitionsWithIndex((pid, rows) => rows.map(r =>
      (pid, r.getLong(d), r.getUTF8String(t).toString, r.getStruct(v, 4).getArray(3)
        .toDoubleArray().toSeq.map(java.lang.Double.doubleToRawLongBits)))).collect().toSeq
  }

  test("both spellings plan the fused exec, with no aggregate, no cross join, no generator") {
    for ((name, chain) <- chains(volRows(3), weights(), tickerRows(), 100, 2)) {
      val df = chain()
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(isFused(plan), s"$name:\n$plan")
      assert(collect(plan) {
        case a: ObjectHashAggregateExec => a
        case j: BroadcastNestedLoopJoinExec => j
        case g: GenerateExec if g.generator.isInstanceOf[SampleTrials] => g
      }.isEmpty, s"$name:\n$plan")
      val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.map(_.output.map(_.name).sorted) === Seq(Seq("date", "vol_avg", "vol_cov")),
        s"$name:\n$plan")
    }
  }

  test("the pipeline's trials (q30–q37) plan the fused exec") {
    val plan = VarPipeline.monteCarloTrials(spark, graft.SparkEntry.miniCfg)
      .queryExecution.executedPlan
    assert(isFused(plan), s"\n$plan")
  }

  test("the pipeline's trials carry no training lineage: the weights are a local relation") {
    val plan = VarPipeline.monteCarloTrials(spark, graft.SparkEntry.miniCfg)
      .queryExecution.executedPlan
    assert(collect(plan) {
      case m: MapGroupsExec => m
      case a: AppendColumnsExec => a
      case a: AppendColumnsWithObjectExec => a
    }.isEmpty, s"\n$plan")
  }

  test("trialReturns over blocks == a sequential loop, bit for bit, at the block edges") {
    val rnd = new scala.util.Random(59)
    val mean = Array.fill(5)(rnd.nextGaussian() * 0.01)
    val a = Array.fill(5, 5)(rnd.nextGaussian() * 0.1)
    val chol = MonteCarlo.cholesky(
      Array.tabulate(5, 5)((i, j) => (0 until 5).map(k => a(i)(k) * a(j)(k)).sum))
    val ws = Array.fill(3, 21)(rnd.nextGaussian())
    def bits(v: Array[Double]) = v.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val block = MonteCarlo.TrialBlock
    for (runs <- Seq(1, block - 1, block, block + 1, 32000)) {
      val want = Array.ofDim[Double](ws.length, runs)
      val terms = new Array[Double](4 * mean.length)
      for (t <- 0 until runs) {
        graft.plans.PredictNonLinear.terms(MonteCarlo.sample(mean, chol, t.toLong), terms)
        for (p <- ws.indices) want(p)(t) = graft.plans.PredictNonLinear.scoreTerms(ws(p), terms)
      }
      val got = MonteCarlo.trialReturns(mean, chol, ws, runs)
      assert(got.map(bits).toSeq === want.map(bits).toSeq, s"runs=$runs")
    }
  }

  test("the portfolio VaR over the fused vectors plans no second exchange") {
    import spark.implicits._
    val pf = tickers.map(t => (t, 0.25)).toDF("ticker", "weight")
    val trials = MonteCarlo.trialVectors(volRows(4), weights(), tickerRows(), 200, 3)
    val risk = VarAggregation.varByGroup(VarAggregation.weightedTrials(trials, pf), Seq("date"),
      withShortfall = true)
    assert(risk.collect().length === 4)
    val plan = risk.queryExecution.executedPlan
    assert(isFused(plan), s"\n$plan")
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size === 1, s"\n$plan")
  }

  test("fused vectors == collectTrialVectorsComposable over the same chain, bit for bit") {
    val atRun = volRows(7)
    val w = weights()
    def byKey(df: DataFrame) = laidOut(df).map { case (_, d, t, bits) => (d, t) -> bits }.toMap
    for (numPartitions <- Seq(1, 3, 8); runs <- Seq(1, 150)) {
      val want = byKey(MonteCarlo.collectTrialVectorsComposable(Training.score(
        MonteCarlo.simulateMarket(atRun, runs, numPartitions = numPartitions)
          .crossJoin(broadcast(tickerRows())), w, "ticker", "features", "return")))
      assert(want.size === 7 * tickers.length)
      for ((name, chain) <- chains(atRun, w, tickerRows(), runs, numPartitions)) {
        val df = chain()
        val got = byKey(df)
        assert(isFused(df.queryExecution.executedPlan), name)
        assert(got.values.forall(_.length == runs))
        assert(got === want, s"$name numPartitions=$numPartitions runs=$runs")
      }
    }
  }

  test("each partition's rows come out in the replaced aggregate's order") {
    // 60 dates × 4 tickers in one partition is 240 groups: the aggregate
    // falls back to sorting; at 8 partitions each holds fewer than 128
    for ((dates, numPartitions) <- Seq((6, 1), (6, 3), (60, 1), (60, 8))) {
      val atRun = volRows(dates)
      for ((name, chain) <- chains(atRun, weights(), tickerRows(), 90, numPartitions)) {
        val df = chain()
        val got = laidOut(df)
        assert(isFused(df.queryExecution.executedPlan))
        assert(got === unfused(chain)(laidOut), s"$name dates=$dates partitions=$numPartitions")
      }
    }
  }

  test("the order follows the aggregate's sort fallback at its threshold, and sort aggregates") {
    val atRun = volRows(3) // one partition: 3 dates × 4 tickers = 12 groups
    val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val settings = Seq(11, 12, 13).map(n => Seq(threshold -> n.toString)) :+
      Seq("spark.sql.execution.useObjectHashAggregateExec" -> "false")
    for (conf <- settings; runs <- Seq(1, 70); (name, chain) <- chains(atRun, weights(),
        tickerRows(), runs, 1)) withConf(conf: _*) {
      val df = chain()
      val got = laidOut(df)
      assert(isFused(df.queryExecution.executedPlan))
      assert(got === unfused(chain)(laidOut), s"$name $conf runs=$runs")
    }
  }

  /** `df` fails with `message` fused, and again with the rule excluded. */
  private def failsOnBothPaths(df: () => DataFrame, message: String): Unit = {
    val fused = df()
    assert(failure(fused).contains(message))
    assert(isFused(fused.queryExecution.executedPlan), s"\n${fused.queryExecution.executedPlan}")
    unfused(df)(plain => assert(failure(plain).contains(message)))
  }

  test("a ticker repeated on the tickers side or the weights side fails on both paths") {
    for ((name, chain) <- chains(volRows(2), weights(), tickerRows(tickers :+ "A"), 50, 2))
      withClue(name)(failsOnBothPaths(chain, "trial id 0 appears twice in one group"))
    for ((name, chain) <- chains(volRows(2), weights(tickers :+ "D"), tickerRows(), 50, 2))
      withClue(name)(failsOnBothPaths(chain, "trial id 0 appears twice in one group"))
  }

  test("a null weights array fails on both paths") {
    import spark.implicits._
    val w = weights().union(Seq(("E", null: Array[Double])).toDF("ticker", "weights"))
    for ((name, chain) <- chains(volRows(2), w, tickerRows(tickers :+ "E"), 50, 2))
      withClue(name)(failsOnBothPaths(chain, "trial_vector: null return"))
  }

  test("two vol rows of one date fail on both paths") {
    val rnd = new scala.util.Random(5)
    val twice = vol(Row(date(1), Seq.fill(5)(0.0), psd(rnd, 5)),
      Row(date(2), Seq.fill(5)(0.0), psd(rnd, 5)), Row(date(1), Seq.fill(5)(0.0), psd(rnd, 5)))
    for ((name, chain) <- chains(twice, weights(), tickerRows(), 50, 2))
      withClue(name)(failsOnBothPaths(chain, "trial id 0 appears twice in one group"))
  }

  test("every vol-row check of the sampler fails on both paths, naming the date") {
    val cov2 = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val cov3 = Seq(Seq(1.0, 0.1, 0.0), Seq(0.1, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
    val bad = Seq(
      Row(date(2), null, cov2) -> "null vol_avg for date 2024-01-03",
      Row(date(4), Seq(0.0, 0.0), null) -> "null vol_cov for date 2024-01-05",
      Row(date(6), Seq(0.0, 0.0), cov3) ->
        "vol_cov has 3 rows for a vol_avg of length 2 for date 2024-01-07",
      Row(date(8), Seq(0.0, 0.0), Seq(Seq(1.0, 0.1), Seq(0.1))) ->
        "vol_cov row 1 has length 1 for a vol_avg of length 2 for date 2024-01-09",
      Row(date(9), Seq(0.0, 0.0), Seq(Seq(1.0, 2.0), Seq(2.0, 1.0))) ->
        "covariance not PSD for date 2024-01-10")
    for ((row, message) <- bad; (name, chain) <- chains(vol(row), weights(n = 9), tickerRows(),
        10, 2))
      withClue(s"$name: ")(failsOnBothPaths(chain, message))
  }

  test("a weights array too short for the factors fails on both paths") {
    for ((name, chain) <- chains(volRows(1), weights(n = 20), tickerRows(), 10, 1))
      withClue(name)(failsOnBothPaths(chain,
        "predict_nonlinear: 20 weights, fewer than the 21 of 5 factors"))
  }

  test("a filter on the scored rows or a persisted score layer plans the aggregate") {
    val atRun = volRows(4)
    val w = weights()
    def scored = Training.score(MonteCarlo.simulateMarket(atRun, 120, numPartitions = 3)
      .crossJoin(broadcast(tickerRows())), w, "ticker", "features", "return")
      .select(col("date"), col("ticker"), col("trial_id"), col("return"))
    val want = laidOut(composed(atRun, w, tickerRows(), 120, 3))
    val layer = scored.persist()
    try for (df <- Seq(MonteCarlo.collectTrialVectors(scored.filter(col("trial_id") >= 0)),
        MonteCarlo.collectTrialVectors(layer))) {
      val got = laidOut(df)
      val plan = df.queryExecution.executedPlan
      assert(!isFused(plan), s"\n$plan")
      assert(collect(plan) { case a: ObjectHashAggregateExec => a }.nonEmpty, s"\n$plan")
      assert(got.sortBy(r => (r._2, r._3)) === want.sortBy(r => (r._2, r._3)))
    } finally layer.unpersist()
  }
}
