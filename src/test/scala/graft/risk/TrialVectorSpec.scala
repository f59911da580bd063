package graft.risk

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TrialVectorSpec extends SparkSpec {
  import spark.implicits._

  test("TrialVectorAggregator == sort_array/collect_list/UDF composable twin") {
    val rnd = new scala.util.Random(11)
    val rows = for {
      d <- 1 to 3; t <- Seq("A", "B"); trial <- 0 until 257
    } yield (java.sql.Timestamp.valueOf(f"2024-01-0$d 00:00:00"), t,
      trial.toLong, rnd.nextDouble() - 0.5)
    // shuffle row order so ids arrive unordered (exercises growth + merge)
    val df = rnd.shuffle(rows).toDF("date", "ticker", "trial_id", "return")
      .repartition(7)
    def collect(res: org.apache.spark.sql.DataFrame) =
      res.select(col("date").cast("string"), col("ticker"), col("returns"))
        .collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getAs[org.apache.spark.ml.linalg.Vector](2)))
        .sortBy(x => (x._1, x._2))
    val fast = collect(MonteCarlo.collectTrialVectors(df))
    val slow = collect(MonteCarlo.collectTrialVectorsComposable(df))
    assert(fast.length == slow.length && fast.length == 6)
    fast.zip(slow).foreach { case ((d1, t1, v1), (d2, t2, v2)) =>
      assert(d1 == d2 && t1 == t2)
      assert(v1.size == 257 && v1 == v2)
    }
  }

  /** `(date, ticker, trial_id, return)` rows in `partitions` slices, in order. */
  private def trialRows(rows: Seq[(Long, Double)], partitions: Int) =
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, r) => (1, "A", id, r) }, partitions))
      .toDF("date", "ticker", "trial_id", "return")

  test("TrialVectorAggregator: a trial id twice in one partition fails the query") {
    val rows = (0L until 10L).map(i => (i, i + 0.5)) :+ (3L -> 9.0)
    assert(failure(MonteCarlo.collectTrialVectors(trialRows(rows, 1)))
      .contains("trial id 3 appears twice"))
  }

  test("TrialVectorAggregator: a trial id in two partitions fails the query") {
    // slices 0..99 and 90..189: each partition is duplicate-free on its own
    val rows = ((0L until 100L) ++ (90L until 190L)).map(i => (i, i + 0.5))
    assert(failure(MonteCarlo.collectTrialVectors(trialRows(rows, 2)))
      .contains("trial id 90 appears twice"))
  }

  test("TrialVectorAggregator: a gap in the trial ids fails the query") {
    val rows = (0L until 70L).filter(_ != 66L).map(i => (i, i + 0.5))
    for (partitions <- Seq(1, 3))
      assert(failure(MonteCarlo.collectTrialVectors(trialRows(rows, partitions)))
        .contains("trial id 66 missing"), s"$partitions partition(s)")
  }

  test("TrialVectorAggregator: a return of 0.0 is kept, not taken for a missing id") {
    val rets = Array.tabulate(130)(i => if (i % 3 == 0) 0.0 else i - 60.5)
    for (partitions <- Seq(1, 4)) {
      val got = MonteCarlo.collectTrialVectors(
          trialRows(rets.indices.map(i => (i.toLong, rets(i))).reverse, partitions))
        .select(col("returns")).head().getAs[org.apache.spark.ml.linalg.Vector](0)
      assert(got.toArray.sameElements(rets), s"$partitions partition(s)")
    }
  }

  /** `(date, ticker, trial_id, return)` rows, one partition per slice. */
  private def slicedRows(slices: Seq[Seq[(Long, Double)]]) =
    spark.createDataFrame(spark.sparkContext.parallelize(slices, slices.length)
        .flatMap(_.map { case (id, r) => (1, "A", id, r) }))
      .toDF("date", "ticker", "trial_id", "return")

  test("TrialVectorAggregator: partials split off a word boundary merge into one vector") {
    val rets = Array.tabulate(200)(i => math.sin(i) * 0.01)
    def slice(ids: Range) = ids.map(i => (i.toLong, rets(i)))
    // ids 0..70 and 71..199: partial buffers of 71 and 200 slots, either way round
    for (slices <- Seq(Seq(slice(0 to 70), slice(71 until 200)),
        Seq(slice(71 until 200), slice(0 to 70)));
        runs <- Seq(-1, 200)) {
      val got = slicedRows(slices).groupBy(col("date"), col("ticker"))
        .agg(TrialVectorAggregator.asColumn(col("trial_id"), col("return"), runs).as("v"))
        .select(col("v")).collect().map(_.getAs[org.apache.spark.ml.linalg.Vector](0))
      assert(got.length == 1 && got(0).toArray.sameElements(rets),
        s"first slice from ${slices.head.head._1}, runs=$runs")
    }
  }

  test("TrialVectorAggregator: with runs known, missing trailing ids and ids past the end fail") {
    def gather(rows: Seq[(Long, Double)], partitions: Int) =
      trialRows(rows, partitions).groupBy(col("date"), col("ticker"))
        .agg(TrialVectorAggregator.asColumn(col("trial_id"), col("return"), 70).as("v"))
    for (partitions <- Seq(1, 3)) {
      val short = (0L until 60L).map(i => (i, i + 0.5))
      assert(failure(gather(short, partitions)).contains("trial id 60 missing from a group of 70"),
        s"$partitions partition(s)")
      val long = (0L to 70L).map(i => (i, i + 0.5))
      assert(failure(gather(long, partitions)).contains("trial id 70 out of range for 70 trials"),
        s"$partitions partition(s)")
    }
  }

  test("TrialVectorAggregator: a null trial id or return fails the query") {
    val df = Seq[(Int, String, java.lang.Long, java.lang.Double)](
        (1, "A", 0L, 1.0), (1, "A", null, 2.0), (1, "B", 0L, null))
      .toDF("date", "ticker", "trial_id", "return")
    assert(failure(MonteCarlo.collectTrialVectors(df.filter(col("ticker") === "A")))
      .contains("trial_vector: null trial id"))
    assert(failure(MonteCarlo.collectTrialVectors(df.filter(col("ticker") === "B")))
      .contains("trial_vector: null return"))
  }

  test("fused predict_nonlinear == composable predictLinear, bit-exact") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 300).map { i =>
      (s"T${i % 4}", Array.fill(5)(rnd.nextDouble() * 4 - 2))
    }
    val df = rows.toDF("ticker", "features")
    val weights = (0 to 3).map(i => (s"T$i", Array.fill(21)(rnd.nextDouble() - 0.5)))
      .toDF("ticker", "weights")
    val fused = Training.score(df, weights, outCol = "p")
      .select(col("ticker"), col("features"), col("p")).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1), r.getDouble(2))).sortBy(x => (x._1, x._2.head))
    val comp = Training.scoreComposable(df, weights, outCol = "p")
      .select(col("ticker"), col("features"), col("p")).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1), r.getDouble(2))).sortBy(x => (x._1, x._2.head))
    assert(fused.length == comp.length)
    fused.zip(comp).foreach { case ((t1, _, p1), (t2, _, p2)) =>
      assert(t1 == t2)
      assert(java.lang.Double.doubleToLongBits(p1) == java.lang.Double.doubleToLongBits(p2),
        s"$t1: $p1 != $p2")
    }
  }
}