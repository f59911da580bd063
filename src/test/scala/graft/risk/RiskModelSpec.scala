package graft.risk

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Model persistence facade: versioned save/load round-trip and scoring
 * from a loaded model (the MLflow-registry replacement). */
class RiskModelSpec extends SparkSpec {
  import spark.implicits._

  private def trainedWeights() = {
    val cfg = VarPipeline.Config(
      runs = 50, days = 100, tickers = Seq("TICK01", "TICK02"),
      indicators = Seq("IX1", "IX2"))
    VarPipeline.trainedWeights(spark, cfg)
  }

  test("save assigns increasing versions; load resolves latest or explicit") {
    val root = tempDir("riskmodel")
    val w = trainedWeights()
    val v1 = RiskModel.save(w, root, "var_model", Map("train_date" -> "2020-03-01"))
    val v2 = RiskModel.save(w, root, "var_model", Map("train_date" -> "2020-04-01"))
    assert(v1 == 1 && v2 == 2)
    assert(RiskModel.versions(spark, root, "var_model") == Seq(1, 2))

    val latest = RiskModel.load(spark, root, "var_model")
    assert(latest.version == 2)
    assert(latest.metadata("train_date") == "2020-04-01")
    assert(latest.metadata("name") == "var_model")

    val pinned = RiskModel.load(spark, root, "var_model", Some(1))
    assert(pinned.version == 1)
    assert(pinned.metadata("train_date") == "2020-03-01")
  }

  test("weights round-trip exactly and a loaded model scores like a fresh one") {
    val root = tempDir("riskmodel2")
    val w = trainedWeights()
    RiskModel.save(w, root, "m")
    val loaded = RiskModel.load(spark, root, "m")

    def canonW(df: org.apache.spark.sql.DataFrame) = df
      .select(col("ticker"), col("weights"))
      .collect().map(r => (r.getString(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq
    assert(canonW(loaded.weights) == canonW(w))

    val toScore = Seq(
      ("TICK01", Array(0.01, -0.02)),
      ("TICK02", Array(-0.005, 0.015))
    ).toDF("ticker", "features")
    def canonS(df: org.apache.spark.sql.DataFrame) = df
      .select(col("ticker"), round(col("predicted"), 12).as("p"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(canonS(loaded.score(toScore)) == canonS(Training.score(toScore, w)))
  }

  test("load of a missing model fails clearly; metadata escaping survives") {
    val root = tempDir("riskmodel3")
    intercept[IllegalArgumentException] {
      RiskModel.load(spark, root, "nope")
    }
    val w = trainedWeights()
    RiskModel.save(w, root, "esc", Map("note" -> "line1\nline2 \"quoted\" \\slash"))
    val m = RiskModel.load(spark, root, "esc")
    assert(m.metadata("note") == "line1\nline2 \"quoted\" \\slash")
  }
}
