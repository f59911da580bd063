package graft.risk

import org.scalatest.funsuite.AnyFunSuite

/** Pure-math semantics ported from the reference's own unit tests
 * (`/root/reference/tests/tests_utils.py`, `tests/tests_spark.py`). */
class VarMathSpec extends AnyFunSuite {

  val zeroTo99: Array[Double] = (0 until 100).map(_.toDouble).toArray

  test("get_var on 0..99 at 95 ~= 5 (tests_utils.py:15-21)") {
    assert(math.abs(VarMath.valueAtRisk(zeroTo99, 95) - 4.95) < 1e-9)
  }

  test("percentile matches numpy linear interpolation") {
    // np.percentile([1,2,3,4], 25) == 1.75 ; 50 -> 2.5 ; 100 -> 4
    val xs = Array(1.0, 2.0, 3.0, 4.0)
    assert(VarMath.percentile(xs, 25) === 1.75)
    assert(VarMath.percentile(xs, 50) === 2.5)
    assert(VarMath.percentile(xs, 100) === 4.0)
    assert(VarMath.percentile(xs, 0) === 1.0)
    // unsorted input + single element
    assert(VarMath.percentile(Array(3.0, 1.0, 2.0), 50) === 2.0)
    assert(VarMath.percentile(Array(7.0), 99) === 7.0)
  }

  test("get_shortfall on 0..99 at 89 ~= mean of xs <= var (tests_utils.py:23-26)") {
    val v = VarMath.valueAtRisk(zeroTo99, 89)
    val expected = zeroTo99.filter(_ <= v).sum / zeroTo99.count(_ <= v)
    assert(math.abs(VarMath.expectedShortfall(zeroTo99, 89) - expected) < 1e-9)
    // ES <= VaR always
    assert(VarMath.expectedShortfall(zeroTo99, 95) <= VarMath.valueAtRisk(zeroTo99, 95))
  }

  test("riskOf == (valueAtRisk, expectedShortfall) bit for bit: random, ties, n = 1") {
    val rnd = new scala.util.Random(17)
    val inputs = Seq(
      Array.fill(32000)(rnd.nextGaussian()),
      Array.fill(1001)(rnd.nextGaussian() * 1e-3 + 5.0),
      Array.fill(5000)(rnd.nextInt(7).toDouble - 3.0), // heavy ties
      zeroTo99,
      Array(-2.5))
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for (xs <- inputs; c <- Seq(0.0, 50.0, 89.0, 95.0, 99.0, 99.9, 100.0)) {
      val before = xs.clone()
      val (v, es) = VarMath.riskOf(xs, c)
      assert(bits(v) === bits(VarMath.valueAtRisk(xs, c)), s"VaR n=${xs.length} c=$c")
      assert(bits(es) === bits(VarMath.expectedShortfall(xs, c)), s"ES n=${xs.length} c=$c")
      assert(xs.sameElements(before), "riskOf must not reorder its input")
    }
  }

  test("selection equals the sort path bit for bit, with and without the sort fallback") {
    val rnd = new scala.util.Random(29)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // the path the selection replaced: interpolate a sorted copy
    def sorted(xs: Array[Double], p: Double): Double = {
      val s = xs.clone()
      java.util.Arrays.sort(s)
      val rank = (s.length - 1) * (p / 100.0)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
    def below(xs: Array[Double], v: Double) = {
      val in = xs.filter(_ <= v)
      in.foldLeft(0.0)(_ + _) / in.length
    }
    val n = 1000
    val up = Array.tabulate(n)(_.toDouble)
    val inputs = Seq(
      Array.fill(32000)(rnd.nextGaussian()),
      Array.fill(777)(rnd.nextDouble() - 0.5),
      Array.fill(n)(1.25),                                     // all equal
      up, up.reverse,                                          // sorted, reverse-sorted
      Array.tabulate(n)(i => math.min(i, n - 1 - i).toDouble), // organ pipe
      Array.fill(5000)(rnd.nextInt(3).toDouble),               // ties at every rank
      // 99 and 99.9 land on ranks 9 and 0 of 1001; ties straddle them
      rnd.shuffle(Seq.fill(8)(-3.0) ++ Seq.fill(4)(-2.0) ++ Seq.fill(989)(1.0)).toArray,
      rnd.shuffle(Seq.fill(300)(-0.0) ++ Seq.fill(300)(0.0) ++ Seq(-1e-300, 1e-300)).toArray,
      Array(0.0, -0.0), Array(-0.0, 0.0, -0.0),
      Array(3.0, Double.NaN, Double.NegativeInfinity, -1.0, Double.PositiveInfinity),
      Array(2.0), Array(2.0, -2.0), Array(5.0, -1.0, 3.0)) ++
      (1 to 40).map(k => Array.fill(k)(rnd.nextInt(4) - 1.5))
    for (xs <- inputs; c <- Seq(0.0, 50.0, 95.0, 99.0, 99.9, 100.0)) {
      val p = 100.0 - c
      val want = sorted(xs, p)
      val before = xs.clone()
      val (v, es) = VarMath.riskOf(xs, c)
      assert(bits(v) === bits(want), s"VaR n=${xs.length} c=$c")
      assert(bits(VarMath.percentile(xs, p)) === bits(want), s"percentile n=${xs.length} c=$c")
      assert(bits(es) === bits(below(xs, want)), s"ES n=${xs.length} c=$c")
      // a spent round budget sorts the rest of the range: from the start, or mid-way
      for (rounds <- 0 to 3)
        assert(bits(VarMath.percentile(xs, p, rounds)) === bits(want),
          s"percentile n=${xs.length} c=$c after $rounds rounds")
      assert(xs.map(bits).sameElements(before.map(bits)), "the input must not be reordered")
    }
  }

  test("basel zones: code semantics <=3 green, <10 yellow, else red (var_udf.py:22-30)") {
    assert(VarMath.baselZone(0) === 0)
    assert(VarMath.baselZone(3) === 0)
    assert(VarMath.baselZone(4) === 1)
    assert(VarMath.baselZone(9) === 1)
    assert(VarMath.baselZone(10) === 2)
  }

  private def boxed(xs: Double*): Array[java.lang.Double] = xs.map(Double.box).toArray

  test("baselBacktest: breaches climb along a series, zones turn at 3/4 and 9/10") {
    val day = 86400L * 1000000L
    val n = 12
    val rows = VarMath.baselBacktest(
      Array.tabulate(n)(i => (n - i) * day), boxed(Seq.fill(n)(-1.0): _*),
      Array(0L), boxed(0.0), windowDays = 250)
    assert(rows.map(_.breaches).toSeq === (1 to n))
    assert(rows.map(_.zone).toSeq === Seq(0, 0, 0, 1, 1, 1, 1, 1, 1, 2, 2, 2))
    assert(rows.map(_.ret).toSeq === (n - 1 to 0 by -1), "rows come out in time order")
    // a 5-day window holds at most the row and the 5 before it
    assert(VarMath.baselBacktest(Array.tabulate(n)(i => i * day), boxed(Seq.fill(n)(-1.0): _*),
      Array(0L), boxed(0.0), windowDays = 5).map(_.breaches).toSeq ===
      Seq(1, 2, 3, 4, 5, 6, 6, 6, 6, 6, 6, 6))
  }

  test("baselBacktest: empty inputs, a single row, duplicate and null VaR rows") {
    val none = Array.empty[java.lang.Double]
    assert(VarMath.baselBacktest(Array.empty, none, Array.empty, none, 250).isEmpty)
    assert(VarMath.baselBacktest(Array(5L), boxed(-1.0), Array.empty, none, 250).isEmpty)
    assert(VarMath.baselBacktest(Array.empty, none, Array(5L), boxed(0.0), 250).isEmpty)
    assert(VarMath.baselBacktest(Array(5L), boxed(-1.0), Array(5L), boxed(0.0), 250).toSeq ===
      Seq(VarMath.BacktestRow(0, 0, 1, 0)))
    // before the first VaR row: dropped
    assert(VarMath.baselBacktest(Array(4L), boxed(-1.0), Array(5L), boxed(0.0), 250).isEmpty)
    // duplicate timestamps count as the last of them in input order
    val dup = VarMath.baselBacktest(Array(9L), boxed(-1.0),
      Array(5L, 7L, 5L, 5L, 1L), Array[java.lang.Double](null, -3.0, 0.0, -2.0, 1.0), 250)
    assert(dup.toSeq === Seq(VarMath.BacktestRow(0, 1, 0, 0)))
    val dupAt5 = VarMath.baselBacktest(Array(6L), boxed(-1.0),
      Array(5L, 7L, 5L, 5L, 1L), Array[java.lang.Double](null, -3.0, 0.0, -2.0, 1.0), 250)
    assert(dupAt5.toSeq === Seq(VarMath.BacktestRow(0, 3, 0, 0)))
    assert(VarMath.baselBacktest(Array(6L), boxed(-1.0),
      Array(5L, 5L), Array[java.lang.Double](-2.0, null), 250).isEmpty)
    // the latest VaR row is null: dropped, no fallback to an earlier one
    assert(VarMath.baselBacktest(Array(9L), boxed(-1.0),
      Array(1L, 5L), Array[java.lang.Double](0.0, null), 250).isEmpty)
    // a null return is kept but never counted; NaN is above every number
    val odd = VarMath.baselBacktest(Array(1L, 2L, 3L),
      Array[java.lang.Double](null, Double.NaN, -0.0), Array(0L), boxed(0.0), 250)
    assert(odd.map(_.breaches).toSeq === Seq(1, 1, 1))
  }

  test("padDaily: per-day max, each column carried forward on its own") {
    val days = Array(5, 0, 0, 2, 3)
    val a = VarMath.padDaily(days, boxed(2.0, 1.0, 3.0, Double.NaN, 0.0).updated(4, null),
      VarMath.sqlDoubleOrdering)
    val b = VarMath.padDaily(days, Array[java.lang.Double](null, null, -0.0, null, 7.0),
      VarMath.sqlDoubleOrdering)
    assert(a.toSeq.map(_.toString) === Seq("3.0", "3.0", "NaN", "NaN", "NaN", "2.0"))
    assert(b.toSeq === Seq(-0.0, -0.0, -0.0, 7.0, 7.0, 7.0).map(Double.box))
    val leadingNull = VarMath.padDaily(Array(1, 3), Array[java.lang.Double](null, 4.0),
      VarMath.sqlDoubleOrdering)
    assert(leadingNull.toSeq === Seq(null, null, Double.box(4.0)))
    assert(VarMath.padDaily(Array.empty[Int], Array.empty[java.lang.Double],
      VarMath.sqlDoubleOrdering).isEmpty)
  }

  test("non_linear_features([1,4]) == [1,1,1,1,4,16,64,2] (tests_utils.py:28-30)") {
    assert(VarMath.nonLinearFeatures(Array(1.0, 4.0)).toSeq ===
      Seq(1.0, 1.0, 1.0, 1.0, 4.0, 16.0, 64.0, 2.0))
    // negative factor keeps sign on even powers
    assert(VarMath.nonLinearFeatures(Array(-4.0)).toSeq ===
      Seq(-4.0, -16.0, -64.0, -2.0))
  }

  test("predict_non_linears (tests_utils.py:32-35)") {
    // weights [intercept=1, 2, 3], features [10, 100] -> 1 + 20 + 300
    assert(VarMath.predictLinear(Array(1.0, 2.0, 3.0), Array(10.0, 100.0)) === 321.0)
  }

  test("circulant mean/cov fixture (tests_spark.py:100-131)") {
    // 5 rotations of [1..5]: mean 3.0 everywhere, cov rows sum to 0 (ddof=1)
    val rows = (0 until 5).map { r =>
      (0 until 5).map(i => ((i + r) % 5 + 1).toDouble).toArray
    }
    val mean = VarMath.meanVector(rows)
    assert(mean.forall(m => math.abs(m - 3.0) < 1e-12))
    val cov = VarMath.covMatrix(rows)
    cov.foreach { row => assert(math.abs(row.sum) < 1e-9) }
    // symmetric
    for (i <- 0 until 5; j <- 0 until 5) assert(cov(i)(j) === cov(j)(i))
  }

  test("cov matches pandas ddof=1 on a simple 2-col case") {
    // pandas: [[1,2],[2,4],[3,6]].cov() -> [[1,2],[2,4]]
    val rows = Seq(Array(1.0, 2.0), Array(2.0, 4.0), Array(3.0, 6.0))
    val cov = VarMath.covMatrix(rows)
    assert(cov(0)(0) === 1.0); assert(cov(0)(1) === 2.0); assert(cov(1)(1) === 4.0)
  }

  test("cholesky reconstructs and sampling is seed-deterministic (tests_spark.py:133-162)") {
    val cov = Array(
      Array(4.0, 2.0, 0.6),
      Array(2.0, 3.0, 0.4),
      Array(0.6, 0.4, 2.0))
    val l = MonteCarlo.cholesky(cov)
    for (i <- 0 until 3; j <- 0 until 3) {
      val rec = (0 until 3).map(k => l(i)(k) * l(j)(k)).sum
      assert(math.abs(rec - cov(i)(j)) < 1e-9)
    }
    val mean = Array(1.0, 2.0, 3.0)
    val a = MonteCarlo.sample(mean, l, seed = 7L)
    val b = MonteCarlo.sample(mean, l, seed = 7L)
    val c = MonteCarlo.sample(mean, l, seed = 8L)
    assert(a.toSeq === b.toSeq)
    assert(a.toSeq !== c.toSeq)
  }

  test("OLS recovers exact linear weights") {
    val rng = new java.util.Random(1)
    val x = Array.fill(200)(Array.fill(3)(rng.nextGaussian()))
    val y = x.map(r => 0.5 + 1.0 * r(0) - 2.0 * r(1) + 0.25 * r(2))
    val w = Training.fitOls(x, y)
    assert(math.abs(w(0) - 0.5) < 1e-8)
    assert(math.abs(w(1) - 1.0) < 1e-8)
    assert(math.abs(w(2) + 2.0) < 1e-8)
    assert(math.abs(w(3) - 0.25) < 1e-8)
  }

  test("generate_prices path is deterministic, positive-clamped (var_utils.py:18-27)") {
    val p1 = Sources.generatePath(100.0, 0.05, 0.3, 50, seed = 5L)
    val p2 = Sources.generatePath(100.0, 0.05, 0.3, 50, seed = 5L)
    assert(p1.toSeq === p2.toSeq)
    assert(p1(0) === 100.0)
    assert(p1.forall(_ >= 0.0))
  }
}
