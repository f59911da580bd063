package graft.risk

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

}
