package riskbench

import graft.risk.{MonteCarlo, VarMath}

/**
 * Output checks, run on the driver after each op's timed interval. Each
 * returns the list of problems found; an op passes when it is empty.
 */
object Checks {

  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-12 + rel * math.max(math.abs(a), math.abs(b))

  /** The trial vectors the chain should produce, by ticker: every trial
   * redrawn from the date's vol row and scored with each ticker's OLS
   * weights, in plain driver arithmetic. */
  def expectedVectors(volAvg: Array[Double], volCov: Array[Array[Double]],
      weights: Map[String, Array[Double]], runs: Int): Map[String, Array[Double]] = {
    val chol = MonteCarlo.cholesky(volCov)
    val ws = weights.toArray
    val out = ws.map(_ => new Array[Double](runs))
    var t = 0
    while (t < runs) {
      val f = VarMath.nonLinearFeatures(MonteCarlo.sample(volAvg, chol, t.toLong))
      var k = 0
      while (k < ws.length) { out(k)(t) = VarMath.predictLinear(ws(k)._2, f); k += 1 }
      t += 1
    }
    ws.map(_._1).zip(out).toMap
  }

  /**
   * One date's trial vectors against the driver recompute: exactly the
   * portfolio's tickers, once each; every vector `runs` long, finite, with
   * no zero-filled slot (a missing trial id) and equal to the recompute
   * (a perturbed or misplaced trial).
   */
  def trialVectors(got: Map[String, Array[Double]], tickers: Seq[String],
      expected: Map[String, Array[Double]], runs: Int): Seq[String] = {
    val keys = if (got.keySet == tickers.toSet) Nil
      else Seq(s"tickers ${got.keySet.toSeq.sorted} != ${tickers.sorted}")
    keys ++ got.toSeq.sortBy(_._1).flatMap { case (t, v) =>
      if (v.length != runs) Seq(s"$t: ${v.length} trials, want $runs")
      else {
        val bad = v.indices.find(i => v(i) == 0.0 || v(i).isNaN || v(i).isInfinite)
        bad.map(i => s"$t: trial $i is ${v(i)} (missing or non-finite)").toSeq ++
          expected.get(t).toSeq.flatMap(exp => v.indices.find(i => !close(v(i), exp(i)))
            .map(i => s"$t: trial $i = ${v(i)}, recompute gives ${exp(i)}"))
      }
    }
  }

  /** Portfolio VaR99/ES99 of one date recomputed from its weighted vectors. */
  def portfolioRisk(vectors: Map[String, Array[Double]],
      weights: Map[String, Double], runs: Int): (Double, Double) = {
    val sum = new Array[Double](runs)
    vectors.foreach { case (t, v) =>
      val w = weights(t)
      var i = 0
      while (i < runs) { sum(i) += v(i) * w; i += 1 }
    }
    (VarMath.valueAtRisk(sum, 99), VarMath.expectedShortfall(sum, 99))
  }

  /** Reported VaR/ES against the driver recompute. */
  def risk(got: (Double, Double), want: (Double, Double)): Seq[String] =
    Seq(("var_99", got._1, want._1), ("es_99", got._2, want._2)).collect {
      case (n, g, w) if !close(g, w) => s"$n = $g, recompute gives $w"
    }

  /** Answer rows (key → column → value) against the expected table. Both
   * sides must hold the same keys and the same values per column. */
  def table(what: String, got: Map[String, Map[String, Double]],
      want: Map[String, Map[String, Double]]): Seq[String] = {
    val keys =
      if (got.keySet == want.keySet) Nil
      else Seq(s"$what: ${got.size} rows, want ${want.size} " +
        s"(missing ${(want.keySet -- got.keySet).take(3)}, extra ${(got.keySet -- want.keySet).take(3)})")
    keys ++ want.toSeq.sortBy(_._1).flatMap { case (k, cols) =>
      got.get(k).toSeq.flatMap { g =>
        cols.toSeq.sortBy(_._1).collect {
          case (c, w) if !g.get(c).exists(close(_, w)) =>
            s"$what[$k].$c = ${g.get(c)}, want $w"
        }
      }
    }.take(5)
  }
}
