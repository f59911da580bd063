package riskbench

import java.sql.Timestamp

import scala.util.Random

/** Tests of the benchmark's own logic; no Spark session needed. */
object SelfTest {

  private def tailRule(): Unit = {
    val xs = (1 to 41).map(_.toDouble)
    assert(Stats.tail(xs) == Some((75.0, 31.0)), Stats.tail(xs))
    assert(Stats.beyond(41, 75) == 10)
    // 38 ops still leave ten above p75's interpolated rank; one fewer
    // omits the tail instead of reporting the median as one
    assert(Stats.tail((1 to 38).map(_.toDouble)).map(_._1) == Some(75.0))
    assert(Stats.tail((1 to 37).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Seq.fill(5)(1.0)).isEmpty)
    val big = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(big).map(_._1) == Some(99.0))
    assert(Stats.beyond(1000, 99) >= 10 && Stats.beyond(1000, 99.9) < 10)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0, 4.0), 50) == 2.5)
  }

  private def nestedSelfTime(): Unit = {
    val spans = Seq(
      Span(0, "op", -1, 0, 0, 100, 0),
      Span(1, "a", 0, 0, 10, 40, 0),
      Span(2, "a.inner", 1, 0, 15, 20, 0),
      Span(3, "b", 0, 0, 30, 60, 0), // overlaps a
      Span(4, "c", 0, 0, 90, 120, 0)) // runs past its parent's end
    val self = Span.selfNs(spans)
    assert(self == Map(0 -> 40L, 1 -> 25L, 2 -> 5L, 3 -> 30L, 4 -> 30L), self)
  }

  private def seededSequences(): Unit = {
    val dates = (0 until 52).map(i => new Timestamp(i * 604800000L))
    def batch(seed: Long, n: Int) = {
      val w = new VarBatch(null, 4, "")
      w.runDates = dates
      val rng = new Random(seed)
      Seq.fill(n)(w.cycle(rng)).flatten
    }
    assert(batch(7, 120) == batch(7, 120))
    assert(batch(7, 120) != batch(8, 120))
    val pass = batch(7, 104).map(_.date)
    assert(pass.take(52).sorted == dates.indices && pass.drop(52).sorted == dates.indices,
      "each pass covers every run date once")
    def serve(seed: Long) = {
      val w = new VarServe(null, 4, "", "")
      w.runDates = dates
      val rng = new Random(seed)
      Seq.fill(20)(w.cycle(rng))
    }
    assert(serve(3) == serve(3) && serve(3) != serve(4))
    assert(serve(3).forall(_.map(_.kind.takeWhile(_ != ':')).toSet ==
      Set("point", "series", "exposure", "contribution", "compliance")))
    assert(serve(3).forall(u => u.count(_.kind.startsWith("exposure")) == 2))
  }

  private def vectorChecks(): Unit = {
    val runs = 500
    val avg = Array(0.01, -0.02, 0.005)
    val cov = Array(Array(0.04, 0.01, 0.0), Array(0.01, 0.09, 0.02), Array(0.0, 0.02, 0.16))
    val w = Map("A" -> Array.tabulate(13)(i => 0.1 * (i - 6)),
      "B" -> Array.tabulate(13)(i => 0.05 * i))
    val want = Checks.expectedVectors(avg, cov, w, runs)
    val good = want
    assert(Checks.trialVectors(good, Seq("A", "B"), want, runs).isEmpty)
    def broken(f: Array[Double] => Unit) = {
      val v = want("B").clone(); f(v); good.updated("B", v)
    }
    val perturbed = broken(v => v(123) *= 1.000001)
    assert(Checks.trialVectors(perturbed, Seq("A", "B"), want, runs).exists(_.contains("trial 123")))
    val zeroFilled = broken(v => v(7) = 0.0)
    assert(Checks.trialVectors(zeroFilled, Seq("A", "B"), want, runs).exists(_.contains("missing")))
    assert(Checks.trialVectors(good + ("B" -> want("B").take(runs - 1)), Seq("A", "B"), want, runs)
      .exists(_.contains("trials, want")))
    assert(Checks.trialVectors(good - "A", Seq("A", "B"), want, runs).exists(_.contains("tickers")))
    val weights = Map("A" -> 0.5, "B" -> 0.5)
    val risk = Checks.portfolioRisk(good, weights, runs)
    assert(Checks.risk(risk, risk).isEmpty)
    assert(Checks.risk(risk, Checks.portfolioRisk(perturbed.updated("B",
      want("B").map(_ - 0.01)), weights, runs)).nonEmpty)
    val t = Map("d1" -> Map("var_99" -> -0.1, "es_99" -> -0.2))
    assert(Checks.table("q", t, t).isEmpty)
    assert(Checks.table("q", Map("d1" -> Map("var_99" -> -0.1, "es_99" -> -0.2000001)), t).nonEmpty)
    assert(Checks.table("q", Map.empty, t).nonEmpty)
  }

  private def answerRoundTrip(dir: String): Unit = {
    val f = java.io.File.createTempFile("riskbench", ".tsv", new java.io.File(dir))
    try {
      val tables = Map("series" -> Map("2021-01-04 00:00:00.0" ->
        Map("var_99" -> -0.123456789012345, "es_99" -> Double.NaN)))
      Answers.write(f.getPath, tables)
      val back = Answers.read(f.getPath)
      assert(Checks.table("rt", back("series"), tables("series")).isEmpty, back)
    } finally { f.delete(); () }
  }

  def run(dir: String): Unit = {
    val tests = Seq("tail percentile rule" -> tailRule _,
      "self time with nested spans" -> nestedSelfTime _,
      "seed to op sequence" -> seededSequences _,
      "output checks reject perturbed and zero-filled vectors" -> vectorChecks _,
      "expected answers round-trip" -> (() => answerRoundTrip(dir)))
    val failed = tests.filterNot { case (name, f) =>
      try { f(); println(s"ok   $name"); true }
      catch { case e: Throwable => println(s"FAIL $name: $e"); false }
    }
    println(s"${tests.size - failed.size}/${tests.size} passed")
    if (failed.nonEmpty) sys.exit(1)
  }
}
