package graft.risk

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** SURVEY §5 property tests: invariants of the VaR math and the as-of
 * join, checked over generated inputs (deterministic seeds; no
 * scalatestplus bridge in the offline cache, so a local forAll). */
class PropertySpec extends SparkSpec {

  private def forAll[A](g: Gen[A], n: Int = 60)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b))(t => f(t._1, t._2))
  private def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  private val sims: Gen[Array[Double]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-10.0, 10.0)).map(_.toArray)

  test("VaR is monotone non-decreasing in confidence") {
    forAll(sims, Gen.chooseNum(1.0, 98.0)) { (xs, c) =>
      val lo = VarMath.valueAtRisk(xs, c)
      val hi = VarMath.valueAtRisk(xs, c + 1.0)
      assert(hi <= lo + 1e-12) // higher confidence → deeper (≤) quantile
    }
  }

  test("expected shortfall ≤ VaR at the same confidence") {
    forAll(sims, Gen.chooseNum(50.0, 99.0)) { (xs, c) =>
      val v = VarMath.valueAtRisk(xs, c)
      val es = VarMath.expectedShortfall(xs, c)
      assert(es <= v + 1e-12)
    }
  }

  test("VaR bounded by min/max of simulations") {
    forAll(sims, Gen.chooseNum(1.0, 99.0)) { (xs, c) =>
      val v = VarMath.valueAtRisk(xs, c)
      assert(v >= xs.min - 1e-12 && v <= xs.max + 1e-12)
    }
  }

  test("covariance matrix is symmetric with non-negative diagonal") {
    val rows = Gen.chooseNum(2, 20).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-5.0, 5.0)).map(_.toArray)))
    forAll(rows) { xs =>
      val cov = VarMath.covMatrix(xs)
      for (i <- cov.indices; j <- cov.indices) {
        assert(math.abs(cov(i)(j) - cov(j)(i)) < 1e-9)
        if (i == j) assert(cov(i)(i) >= -1e-12)
      }
    }
  }

  test("mean vector is element-wise bounded by input range") {
    val rows = Gen.chooseNum(1, 15).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(3, Gen.chooseNum(-5.0, 5.0)).map(_.toArray)))
    forAll(rows) { xs =>
      val m = VarMath.meanVector(xs)
      for (d <- m.indices) {
        val c = xs.map(_(d))
        assert(m(d) >= c.min - 1e-12 && m(d) <= c.max + 1e-12)
      }
    }
  }

  test("as-of join attaches the latest right row with ts ≤ left ts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val leftTs = Seq(5L, 10L, 15L, 20L, 25L)
    val rightTs = Seq(1L, 7L, 7L, 12L, 18L, 30L)
    val left = leftTs.map(t => ("k", new java.sql.Timestamp(t * 1000), t))
      .toDF("key", "ts", "lv")
    val right = rightTs.zipWithIndex
      .map { case (t, i) => ("k", new java.sql.Timestamp(t * 1000), t * 100 + i) }
      .toDF("key", "ts", "rv")
    val out = AsOfJoin.asofJoin(left, right, "ts", Seq("key"))
      .select(col("lv"), col("right_rv")).as[(Long, Option[Long])]
      .collect().toMap
    // brute-force oracle: max right ts ≤ t, later index wins ties
    val expect = leftTs.map { t =>
      val cand = rightTs.zipWithIndex.filter(_._1 <= t)
      t -> (if (cand.isEmpty) None
            else Some(cand.maxBy { case (ts, i) => (ts, i) })
              .map { case (ts, i) => ts * 100 + i })
    }.toMap
    assert(out == expect)
  }

  test("sorted-jaccard equals set-jaccard on random long sets") {
    import org.apache.spark.sql.functions._
    forAll(Gen.listOf(Gen.chooseNum(0L, 50L)), Gen.listOf(Gen.chooseNum(0L, 50L))) {
      (a, b) =>
        whenever(a.nonEmpty && b.nonEmpty) {
          val sa = a.distinct.sorted
          val sb = b.distinct.sorted
          val inter = sa.intersect(sb).size.toDouble
          val expect = inter / (sa.size + sb.size - inter)
          import spark.implicits._
          val got = Seq((sa, sb)).toDF("a", "b")
            .select(graft.data.Dedup.jaccardSorted(col("a"), col("b")))
            .as[Double].head()
          assert(math.abs(got - expect) < 1e-12)
        }
    }
  }

  test("chunked rolling stats == unpartitioned rolling stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val days = (1 to 60).map(d => (java.sql.Timestamp.valueOf(f"2024-${1 + (d - 1) / 28}%02d-${1 + (d - 1) % 28}%02d 00:00:00"),
      Array((d * 7 % 13).toDouble, (d * 3 % 5).toDouble)))
    val df = days.toDF("date", "features")
    val full = Volatility.rollingStats(df, windowDays = 10)
      .select(col("date"), col("vol_avg"), col("vol_cov"))
    val chunked = Volatility.rollingStatsChunked(df, windowDays = 10, chunkDays = 14)
      .select(col("date"), col("vol_avg"), col("vol_cov"))
    val a = full.orderBy("date").collect().map(_.toString)
    val b = chunked.orderBy("date").collect().map(_.toString)
    assert(a.length == b.length && a.length > 40)
    assert(a.sameElements(b))
  }

  private def epochDay(d: Int) =
    java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(d.toLong, java.time.temporal.ChronoUnit.DAYS))

  test("chunked lag: indicator log returns == a plain global lag across chunk boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 3,000 daily rows from epoch day 17,000 cross the 1,024-day chunk
    // boundaries at days 17,408, 18,432 and 19,456
    val df = (17000 until 20000).map(d => (epochDay(d), 100.0 + d % 37, 50.0 + d * 7 % 11))
      .toDF("date", "a", "b")
    val cols = Seq("a", "b")
    val w = Window.orderBy(col("date"))
    val plain = cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, functions.indicatorLogReturn(lag(col(c), 1).over(w), col(c)))
    }.na.drop(cols).select(col("date") +: cols.map(col) :+ array(cols.map(col): _*).as("features"): _*)
    val got = Returns.indicatorLogReturns(df, "date", cols).orderBy("date").collect().map(_.toString)
    val want = plain.orderBy("date").collect().map(_.toString)
    assert(got.length == 2999)
    assert(got.sameElements(want))
  }

  test("chunked lag: a predecessor more than 1,024 days back lags to null") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // chunks start at epoch days 0, 1,024, 2,048, 3,072: 1,023 -> 2,048 is
    // 1,025 days, beyond the previous chunk; 2,048 -> 3,072 is 1,024 days
    val df = Seq(0, 1023, 2048, 3072).map(d => (epochDay(d), d.toLong)).toDF("date", "v")
    val got = Windows.chunkedLag(df, "date", Seq("v")).orderBy("date")
      .select(col("v"), col("__lag_v")).as[(Long, Option[Long])].collect().toSeq
    assert(got === Seq(0L -> None, 1023L -> Some(0L), 2048L -> None, 3072L -> Some(2048L)))
  }
}
