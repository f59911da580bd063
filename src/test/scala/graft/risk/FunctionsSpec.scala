package graft.risk

import graft.SparkSpec
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import graft.risk.{functions => F}

/** Column-level semantics, mirroring `/root/reference/tests/tests_spark.py`. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("compute_return: log(close/first), ln(3/2) (tests_spark.py:20-34)") {
    val got = Seq((2.0, 3.0)).toDF("first", "close")
      .select(F.logReturn($"close", $"first").as("r")).head.getDouble(0)
    assert(math.abs(got - math.log(1.5)) < 1e-9)
  }

  test("wsse: (p-a)^2 (tests_spark.py:36-50)") {
    val got = Seq((3.0, 2.0)).toDF("p", "a")
      .select(F.wsse($"p", $"a").as("w")).head.getDouble(0)
    assert(got === 1.0)
  }

  test("varAt + shortfallAt on 0..99 (tests_spark.py:52-76)") {
    val sims = (0 until 100).map(_.toDouble)
    val df = Seq(Tuple1(sims)).toDF("sims")
    val row = df.select(
      F.varAt($"sims", lit(95.0)).as("v"),
      F.shortfallAt($"sims", lit(95.0)).as("es")).head
    assert(math.abs(row.getDouble(0) - 4.95) < 1e-9)
    val expectedEs = sims.filter(_ <= 4.95).sum / sims.count(_ <= 4.95)
    assert(math.abs(row.getDouble(1) - expectedEs) < 1e-9)
  }

  test("varAtVec on ml Vector") {
    val df = Seq(Tuple1(Vectors.dense((0 until 100).map(_.toDouble).toArray)))
      .toDF("sims")
    val v = df.select(F.varAtVec($"sims", lit(95.0)).as("v")).head.getDouble(0)
    assert(math.abs(v - 4.95) < 1e-9)
  }

  test("weightedVector scales element-wise (tests_spark.py:78-98)") {
    val df = Seq((Vectors.dense(1.0, 2.0, 3.0), 2.0)).toDF("v", "w")
    val out = df.select(F.weightedVector($"v", $"w").as("o"))
      .head.getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(out.toArray.toSeq === Seq(2.0, 4.0, 6.0))
  }

  test("breachZone native expression (var_udf.py:22-30)") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0, 10.0), 5.0),  // 3 breaches -> green 0
      (Seq(1.0, 2.0, 3.0, 4.0), 5.0),   // 4 -> yellow 1
      ((1 to 10).map(_.toDouble), 100.0) // 10 -> red 2
    ).toDF("xs", "thr")
    val zones = df.select(F.breachZone($"xs", $"thr").as("z"))
      .collect().map(_.getInt(0)).toSeq
    assert(zones === Seq(0, 1, 2))
  }

  test("nonLinearFeatures native == pure (tests_utils.py:28-30)") {
    val df = Seq(Tuple1(Seq(1.0, 4.0))).toDF("xs")
    val out = df.select(F.nonLinearFeatures($"xs").as("f")).head.getSeq[Double](0)
    assert(out === Seq(1.0, 1.0, 1.0, 1.0, 4.0, 16.0, 64.0, 2.0))
  }

  test("predictLinear native == pure") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(10.0, 100.0))).toDF("w", "f")
    val out = df.select(F.predictLinear($"w", $"f").as("p")).head.getDouble(0)
    assert(out === 321.0)
  }

  test("meanVectorUdf + covMatrixUdf circulant fixture (tests_spark.py:100-131)") {
    val rows = (0 until 5).map { r =>
      Tuple1((0 until 5).map(i => ((i + r) % 5 + 1).toDouble))
    }
    val df = Seq(Tuple1(rows.map(_._1))).toDF("xs")
    val got = df.select(
      F.meanVectorUdf($"xs").as("avg"),
      F.covMatrixUdf($"xs").as("cov")).head
    assert(got.getSeq[Double](0).forall(m => math.abs(m - 3.0) < 1e-12))
    got.getSeq[scala.collection.Seq[Double]](1).foreach(row => assert(math.abs(row.sum) < 1e-9))
    // native meanVectorCol agrees with the UDF
    val native = df.select(F.meanVectorCol($"xs").as("avg")).head.getSeq[Double](0)
    assert(native.zip(got.getSeq[Double](0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("toDenseVector places returns at trial index (03_var_monte_carlo.py:124-127)") {
    val df = Seq((Seq(2L, 0L, 1L), Seq(30.0, 10.0, 20.0))).toDF("ids", "rets")
    val v = df.select(F.toDenseVector($"ids", $"rets").as("v"))
      .head.getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.toArray.toSeq === Seq(10.0, 20.0, 30.0))
  }

  test("WeightedTrialRisk == riskOf over Summarizer.sum") {
    val rnd = new scala.util.Random(7)
    val df = (0 until 12).map { i =>
      (s"g${i % 3}", Vectors.dense(Array.fill(50)(rnd.nextGaussian())), 0.5 + rnd.nextDouble())
    }.toDF("k", "v", "w").repartition(3)
    val cs = Seq(0.0, 50.0, 99.0, 100.0) // max, median, tail, min of the sum
    val risks = cs.map(c => WeightedTrialRisk.column($"v", $"w", c))
    val mine = df.groupBy($"k").agg(risks.head, risks.tail: _*)
      .collect().map(r => r.getString(0) ->
        cs.indices.map(i => (r.getStruct(i + 1).getDouble(0), r.getStruct(i + 1).getDouble(1)))).toMap
    val sums = df.groupBy($"k")
      .agg(org.apache.spark.ml.stat.Summarizer.sum(F.weightedVector($"v", $"w")).as("s"))
      .collect().map(r => r.getString(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray).toMap
    assert(mine.keySet === Set("g0", "g1", "g2"))
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b))
    for ((k, got) <- mine; (c, (v, es)) <- cs.zip(got)) {
      val (rv, res) = VarMath.riskOf(sums(k), c)
      assert(close(v, rv) && close(es, res), s"group $k at $c: ($v, $es) vs ($rv, $res)")
    }
  }
}
