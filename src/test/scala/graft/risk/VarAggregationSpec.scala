package graft.risk

import scala.util.Random

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkSpec

/** `VarAggregation.weightedTrials` + `varByGroup`: the weighted vector-sum
 * aggregate against a plain `VarMath` recompute, closed forms and bad input. */
class VarAggregationSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val portfolio = Seq(
    ("A", "US", "tech", 0.5), ("B", "US", "bank", 0.25), ("C", "DE", "tech", 1.5))
    .toDF("ticker", "country", "industry", "weight")
  private val weights = Map("A" -> 0.5, "B" -> 0.25, "C" -> 1.5)
  private val industry = Map("A" -> "tech", "B" -> "bank", "C" -> "tech")

  private def trials(rows: Seq[(Int, String, Vector)], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions))
      .toDF("date", "ticker", "returns")

  private def risk(trials: DataFrame, groupCols: Seq[String], confidence: Double = 99): Seq[Row] =
    VarAggregation.varByGroup(VarAggregation.weightedTrials(trials, portfolio),
      groupCols, confidence, withShortfall = true).orderBy(groupCols.map(col): _*).collect().toSeq

  test("groups straddling partitions match a plain VarMath recompute") {
    val rnd = new Random(11)
    val n = 2000
    val rows = for (d <- 0 until 6; t <- Seq("A", "B", "C"))
      yield (d, t, Vectors.dense(Array.fill(n)(rnd.nextGaussian())))
    val df = trials(rows, 1).repartition(5)
    assert(df.withColumn("p", spark_partition_id()).groupBy($"date")
      .agg(countDistinct($"p").as("n")).agg(min($"n")).head.getLong(0) > 1,
      "every date must span partitions")

    def expected(key: ((Int, String, Vector)) => Any): Map[Any, (Double, Double)] =
      rows.groupBy(key).map { case (k, rs) =>
        val sum = new Array[Double](n)
        rs.foreach { case (_, t, v) => for (i <- 0 until n) sum(i) += weights(t) * v(i) }
        k -> (VarMath.valueAtRisk(sum, 99), VarMath.expectedShortfall(sum, 99))
      }
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.abs(b)
    def check(got: Seq[Row], want: Map[Any, (Double, Double)], key: Row => Any): Unit = {
      assert(got.map(key).toSet === want.keySet)
      got.foreach { r =>
        val (v, es) = want(key(r))
        assert(close(r.getAs[Double]("var_99"), v) && close(r.getAs[Double]("es_99"), es),
          s"${key(r)}: got (${r.getAs[Double]("var_99")}, ${r.getAs[Double]("es_99")}), want ($v, $es)")
      }
    }

    // the second threshold forces the sort-based fallback of the hash aggregate
    for (threshold <- Seq("128", "1")) {
      spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", threshold)
      try {
        check(risk(df, Seq("date")), expected(_._1), _.getInt(0))
        check(risk(df, Seq("date", "industry")), expected(r => (r._1, industry(r._2))),
          r => (r.getInt(0), r.getString(1)))
      } finally spark.conf.unset("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    }
  }

  test("closed form: weighted sums that permute 1..151 give exact VaR and ES") {
    val s = new Random(5).shuffle((1 to 151).map(_.toDouble)).toArray
    // 0.5·s + 0.25·(2s) == s, exactly
    val df = trials(Seq((0, "A", Vectors.dense(s)), (0, "B", Vectors.dense(s.map(_ * 2)))), 2)
    // rank (151-1)·0.01 = 1.5 interpolates between 2 and 3
    assert(risk(df, Seq("date"), 99) === Seq(Row(0, 2.5, 1.5)))
    assert(risk(df, Seq("date"), 100) === Seq(Row(0, 1.0, 1.0)))
    assert(risk(df, Seq("date"), 0) === Seq(Row(0, 151.0, 76.0)))
  }

  test("sparse trial vectors equal their dense form") {
    val rnd = new Random(3)
    val dense = for (d <- 0 until 3; t <- Seq("A", "B", "C")) yield (d, t,
      Vectors.dense(Array.fill(300)(if (rnd.nextBoolean()) 0.0 else rnd.nextGaussian())))
    // date 2 mixes the two forms within one group
    val sparse = dense.map { case (d, t, v) => (d, t, if (d < 2 || t == "B") v.toSparse else v) }
    assert(sparse.exists(_._3.isInstanceOf[org.apache.spark.ml.linalg.SparseVector]))
    for (groupCols <- Seq(Seq("date"), Seq("date", "industry")))
      assert(risk(trials(sparse, 1), groupCols) === risk(trials(dense, 1), groupCols))
  }

  test("a null trial vector fails the query") {
    val df = Seq((0, "A", Vectors.dense(1.0, 2.0)), (0, "B", null.asInstanceOf[Vector]))
      .toDF("date", "ticker", "returns")
    val agg = VarAggregation.varByGroup(VarAggregation.weightedTrials(df, portfolio), Seq("date"))
    assert(failure(agg).contains("null trial vector"))
  }

  test("ragged vector lengths in one group fail the query, in one partition and across two") {
    val rows = Seq((0, "A", Vectors.dense(1.0, 2.0, 3.0)), (0, "B", Vectors.dense(1.0, 2.0)))
    for (partitions <- Seq(1, 2)) {
      val agg = VarAggregation.varByGroup(
        VarAggregation.weightedTrials(trials(rows, partitions), portfolio), Seq("date"))
      assert(failure(agg).contains("trial vector of length"), s"$partitions partition(s)")
    }
  }

  test("VarEngine slices: no range exchange, one final aggregate, rows in key order") {
    val rnd = new Random(7)
    val rows = for (d <- 0 until 12; t <- Seq("A", "B", "C"))
      yield (d, t, Vectors.dense(Array.fill(50)(rnd.nextGaussian())))
    val df = trials(rnd.shuffle(rows), 4)
    val slices = Seq(
      "varTimeSeries" -> VarEngine.varTimeSeries(df, portfolio),
      "riskExposure" -> VarEngine.riskExposure(df, portfolio, "industry"),
      "riskContribution" -> VarEngine.riskContribution(df, portfolio, "industry", Seq("bank", "tech")))
    for ((name, q) <- slices) {
      val got = q.collect().toSeq
      val plan = q.queryExecution.executedPlan
      val ranges = collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.isEmpty, s"$name plans a range exchange:\n$plan")
      val finals = collect(plan) {
        case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
          e.mode == Final && e.aggregateFunction.isInstanceOf[WeightedTrialRisk]) => a
      }
      assert(finals.size === 1, s"$name:\n$plan")
      val keys = got.map(r => (r.getInt(0), if (name == "riskExposure") r.getString(1) else ""))
      assert(keys.length === (if (name == "riskExposure") 24 else 12), name)
      assert(keys === keys.sorted, s"$name rows out of order")
    }
  }

  test("output schema: group columns, var_99, and es_99 only when asked for") {
    val df = trials(Seq((0, "A", Vectors.dense(1.0, 2.0))), 1)
    val weighted = VarAggregation.weightedTrials(df, portfolio)
    assert(!weighted.columns.contains("weighted_returns"))
    for (withShortfall <- Seq(false, true)) {
      val out = VarAggregation.varByGroup(weighted, Seq("date", "country"), 99, withShortfall)
      val measures = if (withShortfall) Seq("var_99", "es_99") else Seq("var_99")
      assert(out.columns.toSeq === Seq("date", "country") ++ measures)
      measures.foreach(m => assert(out.schema(m).dataType === DoubleType))
    }
  }
}
