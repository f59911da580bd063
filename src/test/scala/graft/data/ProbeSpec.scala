package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Linear-probe quality classifier: sufficient-statistic exactness,
 * planted-weight recovery of the closed-form ridge solve, shrinkage
 * teeth, and the end-to-end filter contract — on the driver-generated
 * sf0.01 embeddings.
 */
class ProbeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
      col("label"))

  test("suffStats: exact micro-unit cells on a hand-checkable frame") {
    // two rows, d=2: z1 = [1, 2, 3, 10], z2 = [1, 0, -1, 4]
    val df = Seq((Seq(2.0, 3.0), 10.0), (Seq(0.0, -1.0), 4.0))
      .toDF("v", "y")
    val got = Probe.suffStats(df, "v", "y")
      .as[(Long, Double)].collect().toMap
    val z1 = Array(1.0, 2.0, 3.0, 10.0)
    val z2 = Array(1.0, 0.0, -1.0, 4.0)
    for (i <- 0 until 4; j <- 0 until 4)
      assert(got(i * 4L + j) === z1(i) * z1(j) + z2(i) * z2(j),
        s"cell ($i,$j)")
    assert(got.size === 16)
  }

  test("fitRidge recovers planted linear weights exactly (lambda=0)") {
    // label = 2 - 3 v1 + 0.5 v2 + 0.25 v64 — an exact linear function of
    // the embedding; micro-unit rounding bounds recovery at ~1e-4
    val planted = emb.select(col("v"),
      (lit(2.0) - lit(3.0) * element_at(col("v"), 1)
        + lit(0.5) * element_at(col("v"), 2)
        + lit(0.25) * element_at(col("v"), 64)).as("y"))
    val w = Probe.fitRidge(planted, "v", "y")
    assert(w.length === 65)
    assert(math.abs(w(0) - 2.0) < 1e-3, s"intercept ${w(0)}")
    assert(math.abs(w(1) + 3.0) < 1e-3, s"w1 ${w(1)}")
    assert(math.abs(w(2) - 0.5) < 1e-3, s"w2 ${w(2)}")
    assert(math.abs(w(64) - 0.25) < 1e-3, s"w64 ${w(64)}")
    val noise = (3 until 64).map(i => math.abs(w(i))).max
    assert(noise < 1e-3, s"inactive weight leaked: $noise")
    // scoring with the fitted weights reproduces the planted label
    val score = lit(w(0)) + Similarity.dotNative(col("v"), typedLit(w.drop(1).toSeq))
    val err = planted.select(abs(score - col("y")).as("e"))
      .agg(max("e")).as[Double].head()
    assert(err < 1e-2, s"max |score - label| = $err")
  }

  test("ridge shrinkage: larger lambda pulls weights toward zero") {
    val planted = emb.select(col("v"),
      (lit(1.0) + lit(2.0) * element_at(col("v"), 1)).as("y"))
    def l2(w: Array[Double]): Double =
      math.sqrt(w.drop(1).map(x => x * x).sum)
    val free = l2(Probe.fitRidge(planted, "v", "y", lambda = 0.0))
    val tight = l2(Probe.fitRidge(planted, "v", "y", lambda = 1000.0))
    assert(tight < free, s"lambda=1000 norm $tight !< lambda=0 norm $free")
    assert(tight > 0.0)
  }

  test("fitRidge2 (Cramer) agrees with fitRidge (LU) on 2-dim features") {
    val two = emb.select(slice(col("v"), 1, 2).as("v"),
      (lit(1.5) + lit(2.0) * element_at(col("v"), 1)
        - lit(0.75) * element_at(col("v"), 2)).as("y"))
    val cramer = Probe.fitRidge2(two, "v", "y")
    val lu = Probe.fitRidge(two, "v", "y")
    assert(cramer.length === 3 && lu.length === 3)
    cramer.zip(lu).foreach { case (cw, lw) =>
      assert(math.abs(cw - lw) < 1e-9, s"cramer $cw vs lu $lw")
    }
    // planted recovery through the Cramer path too
    assert(math.abs(cramer(0) - 1.5) < 1e-3)
    assert(math.abs(cramer(1) - 2.0) < 1e-3)
    assert(math.abs(cramer(2) + 0.75) < 1e-3)
  }

  test("evalRidge2: near-zero held-out RMSE on a noiseless planted label") {
    val two = emb.select(col("vec_id"), slice(col("v"), 1, 2).as("v"),
      (lit(0.5) - lit(1.25) * element_at(col("v"), 1)
        + lit(3.0) * element_at(col("v"), 2)).as("y"))
    val train = two.filter(col("vec_id") % 5 =!= 0)
    val test_ = two.filter(col("vec_id") % 5 === 0)
    val row = Probe.evalRidge2(train, test_, "v", "y").collect()(0)
    val nTest = test_.count()
    assert(row.getLong(0) === nTest)
    assert(row.getDouble(2) < 1e-3, s"rmse ${row.getDouble(2)}")
    assert(row.getLong(1) >= 0L)
    // a deliberately WRONG split direction (fit on test, eval on train)
    // still evaluates; rmse stays tiny because the relationship is exact
    val swapped = Probe.evalRidge2(test_, train, "v", "y").collect()(0)
    assert(swapped.getDouble(2) < 1e-3)
  }

  test("calibration2: a perfectly-calibrated planted probe has mean_pred == mean_label per bin") {
    val two = emb.select(col("vec_id"), slice(col("v"), 1, 2).as("v"),
      (lit(0.5) - lit(1.25) * element_at(col("v"), 1)
        + lit(3.0) * element_at(col("v"), 2)).as("y"))
    val train = two.filter(col("vec_id") % 5 =!= 0)
    val test_ = two.filter(col("vec_id") % 5 === 0)
    val rows = Probe.calibration2(train, test_, "v", "y", nBins = 10,
        lo = -10.0, hi = 10.0)
      .select($"bin", $"n", $"mean_pred", $"mean_label")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum === test_.count())
    rows.foreach { case (bin, n, mp, ml) =>
      assert(bin >= 0 && bin <= 9, s"bin $bin out of range")
      assert(n > 0)
      // the label IS the noiseless linear function the probe recovers
      assert(math.abs(mp - ml) < 1e-3, s"bin $bin: $mp vs $ml")
    }
  }

  test("calibration2 clamps out-of-range predictions into the edge bins") {
    // labels far beyond [0, 10): every prediction clamps to bin 0 or 9
    val df = Seq(
      (1L, Seq(1.0, 0.0), -50.0), (2L, Seq(2.0, 0.0), -100.0),
      (3L, Seq(-1.0, 0.0), 50.0), (4L, Seq(-2.0, 0.0), 100.0),
      (5L, Seq(0.5, 0.5), -25.0), (6L, Seq(-0.5, -0.5), 25.0)
    ).toDF("vec_id", "v", "y")
    val bins = Probe.calibration2(df, df, "v", "y")
      .select($"bin").as[Long].collect().toSet
    assert(bins.subsetOf(Set(0L, 9L)), s"expected only edge bins, got $bins")
    assert(bins === Set(0L, 9L))
  }

  test("calibration2: exact micro-unit sums on a hand-checked frame") {
    // planted y = x1 (w recovered exactly); preds 1.5 and 2.5 land in
    // bins 1 and 2 with floor(p*1e6) sums checkable by hand
    val df = Seq(
      (1L, Seq(1.5, 0.0), 1.5), (2L, Seq(2.5, 0.0), 2.5),
      (3L, Seq(0.5, 1.0), 0.5), (4L, Seq(3.5, -1.0), 3.5)
    ).toDF("vec_id", "v", "y")
    val out = Probe.calibration2(df, df, "v", "y")
      .select($"bin", $"n", $"sum_pred_micro", $"sum_label_micro")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    assert(out(1L)._2 === 1L)
    assert(math.abs(out(1L)._3 - 1500000L) <= 1L, s"got ${out(1L)._3}")
    assert(out(1L)._3 === out(1L)._4)
  }

  test("rocAuc2: separable planted label -> AUC 1; anti-label -> AUC 0") {
    // y = v1 + 2 v2 is a deterministic function of the features, so the
    // fitted ranker separates positives (y >= median-ish cut) perfectly
    val two = emb.select(col("vec_id"), slice(col("v"), 1, 2).as("v"),
      (element_at(col("v"), 1) + lit(2.0) * element_at(col("v"), 2)).as("y"))
    val train = two.filter(col("vec_id") % 5 =!= 0)
    val test_ = two.filter(col("vec_id") % 5 === 0)
    val cut = test_.select(col("y")).as[Double].collect().sorted
      .apply((test_.count() / 2).toInt)
    val row = Probe.rocAuc2(train, test_, "v", "y", posAt = cut)
      .collect()(0)
    assert(row.getLong(0) + row.getLong(1) === test_.count())
    assert(row.getLong(0) > 0 && row.getLong(1) > 0)
    assert(row.getDouble(3) === 1.0, s"auc ${row.getDouble(3)}")
    // inverting the label definition inverts the ranking: AUC -> 0
    val anti = two.withColumn("y", -col("y"))
    val rowAnti = Probe.rocAuc2(
        anti.filter(col("vec_id") % 5 =!= 0),
        anti.filter(col("vec_id") % 5 === 0),
        "v", "y", posAt = -cut)
      .collect()(0)
    // positives are now the LOWEST-scoring rows (score tracks -y's fit
    // of... fitted on anti-label, so ranking still matches: stays 1.0)
    assert(rowAnti.getDouble(3) === 1.0)
    // a label independent of the features lands near chance
    val noise = emb.select(col("vec_id"), slice(col("v"), 1, 2).as("v"),
      (col("vec_id") % 2).cast("double").as("y"))
    val aucNoise = Probe.rocAuc2(
        noise.filter(col("vec_id") % 5 =!= 0),
        noise.filter(col("vec_id") % 5 === 0),
        "v", "y", posAt = 0.5)
      .collect()(0).getDouble(3)
    assert(aucNoise > 0.3 && aucNoise < 0.7, s"noise auc $aucNoise")
  }

  test("rocAuc2 ties earn Mann-Whitney half credit, not id-order credit") {
    // two binary features, labels cycling at period 3: every (v1, v2)
    // combo collapses to ONE score shared by a MIX of positives
    // (y = 2) and negatives — heavy pos-neg score ties. An
    // id-tie-break AUC would depend on which ids landed where; the
    // midrank AUC equals the hand-computed U/(P*N) with 0.5 per tied
    // cross pair.
    val rows = (0L until 48L).map { i =>
      (i, Array((i % 2).toDouble, ((i / 2) % 2).toDouble), (i % 3).toDouble)
    }
    val df = rows.toDF("vec_id", "v", "y")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"), col("y"))
    val row = Probe.rocAuc2(df, df, "v", "y", posAt = 2.0).collect()(0)
    val (p, n) = (row.getLong(0), row.getLong(1))
    // hand Mann-Whitney: within a tie group a pos-neg pair credits 0.5;
    // across groups full credit to the pair whose positive scored higher
    val w = Probe.fitRidge2(df, "v", "y")
    val scored = rows.map { case (_, v, y) =>
      (w(0) + v(0) * w(1) + v(1) * w(2), y >= 2.0) }
    val u = (for {
      (sa, pa) <- scored if pa
      (sb, pb) <- scored if !pb
    } yield if (sa > sb) 1.0 else if (sa == sb) 0.5 else 0.0).sum
    assert(math.abs(row.getDouble(3) - u / (p * n)) < 1e-12,
      s"auc ${row.getDouble(3)} vs hand ${u / (p * n)}")
    // ties exist by construction (each score group mixes labels)
    assert(scored.groupBy(_._1).exists(_._2.map(_._2).distinct.size == 2))
    // doubled midranks are integers; their sum is pinned in the output
    assert(row.getLong(2) > 0)
  }

  private def isoOf(rows: Seq[(Long, Long, Long)]) =
    Probe.isotonicCalibrate(rows.toDF("bin", "n", "sum_label_micro"))
      .orderBy(col("bin"))
      .as[(Long, Long, Long, Long)].collect().toSeq

  test("isotonicCalibrate pools adjacent violators; hand case") {
    // bin means 0.1, 0.5, 0.3, 0.8 -> middle two pool to 0.4
    val bins = Seq(
      (0L, 10L, 1000000L), (1L, 10L, 5000000L),
      (2L, 10L, 3000000L), (3L, 10L, 8000000L))
    assert(isoOf(bins).map(r => (r._1, r._4)) ==
      Seq((0L, 100000L), (1L, 400000L), (2L, 400000L), (3L, 800000L)))
  }

  test("isotonicCalibrate: already-monotone input passes through; output monotone always") {
    val mono = Seq((0L, 5L, 500000L), (1L, 5L, 1500000L), (2L, 5L, 4000000L))
    assert(isoOf(mono).map(r => (r._1, r._4)) ==
      mono.map(b => (b._1, b._3 / b._2)))
    // pseudo-random table: output must be non-decreasing and mass-true
    val rnd = (0L until 25L).map(i =>
      (i, 3L + (i * 7) % 5, ((i * 2654435761L) % 9000000L)))
    val out = isoOf(rnd)
    assert(out.map(_._4) == out.map(_._4).sorted)
  }

  test("calibrationError: exact integer panel on hand bins") {
    // bin0: pred sum 3.0, label sum 2.0 over 10 rows -> gap 1e6 micro
    // bin1: pred sum 1.0, label sum 2.5 over 5 rows  -> gap 1.5e6 micro
    val bins = Seq(
      (0L, 10L, 3000000L, 2000000L),
      (1L, 5L, 1000000L, 2500000L))
      .toDF("bin", "n", "sum_pred_micro", "sum_label_micro")
    val got = Probe.calibrationError(bins)
      .as[(Long, Long, Long, Long)].head()
    // ece = (1e6 + 1.5e6) div 15 = 166666; max bin gap = 1.5e6/5 = 300000
    assert(got == ((2L, 15L, 166666L, 300000L)), got.toString)
  }

  test("isotonicCalibrate equals the minimax formula exactly") {
    // iso(i) = max_{j<=i} min_{k>=i} floor(avg ppm over [j..k]) — the
    // independent representation the DuckDB oracle uses
    val rnd = (0L until 20L).map(i =>
      (i, 2L + (i * 13) % 7, ((i * 40503L + 7L) * 997L) % 8000000L))
    val n = rnd.map(_._2)
    val s = rnd.map(_._3)
    def avg(j: Int, k: Int): Long =
      (j to k).map(s).sum / (j to k).map(n).sum
    val minimax = rnd.indices.map { i =>
      (0 to i).map(j => (i until rnd.size).map(k => avg(j, k)).min).max
    }
    assert(isoOf(rnd).map(_._4) == minimax)
  }
}
