package graft.data

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** HDR-style log-histogram: bucketing exactness, relative-error bound,
  * merge/partition invariance, and quantile parity vs a sorted exact
  * reference. */
class LogHistSpec extends SparkSpec {
  import spark.implicits._

  private val subBits = 5
  private val sub = 1L << subBits

  /** Scalar reference of the bucket function, independently spelled. */
  private def refBucket(v: Long): Long = {
    val vv = math.max(v, 0L)
    if (vv < 2 * sub) vv
    else {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(vv)
      (e - subBits).toLong * sub + (vv >> (e - subBits))
    }
  }

  private def refFloor(b: Long): Long =
    if (b < 2 * sub) b else { val m = b / sub - 1; (b - m * sub) << m }

  test("logBucket matches an independent numberOfLeadingZeros reference") {
    val vs = Seq(0L, 1L, 2L, 31L, 63L, 64L, 65L, 127L, 128L, 1000L, 4095L,
      4096L, 123456789L, Long.MaxValue, Long.MaxValue - 1, -5L) ++
      (0 until 500).map(i => math.abs(scala.util.hashing.MurmurHash3
        .stringHash(s"v$i").toLong * 2654435761L) % (1L << 50))
    val got = vs.toDF("v")
      .select($"v", Sketches.logBucket($"v", subBits).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vs.foreach { v => assert(got(v) == refBucket(v), s"bucket($v)") }
  }

  test("native log_bucket expression == the portable bin()-string spelling") {
    val vs = Seq(0L, 1L, 63L, 64L, 65L, 4096L, Long.MaxValue, -7L) ++
      (0 until 3000).map(i => math.abs(scala.util.hashing.MurmurHash3
        .stringHash(s"n$i").toLong * 0x9E3779B97F4A7C15L))
    for (b <- Seq(1, 5, 8)) {
      val mismatches = vs.toDF("v")
        .select(Sketches.logBucket($"v", b).as("native"),
          Sketches.logBucketComposable($"v", b).as("portable"))
        .filter($"native" =!= $"portable").count()
      assert(mismatches == 0L, s"subBits=$b")
    }
  }

  test("bucket floor is a tight lower bound: floor <= v and relative error <= 2^-subBits") {
    val vs = (0 until 2000).map(i =>
      math.abs(scala.util.hashing.MurmurHash3.stringHash(s"x$i").toLong *
        0x9E3779B97F4A7C15L) % (1L << 55))
    vs.foreach { v =>
      val f = refFloor(refBucket(v))
      assert(f <= v, s"floor $f > $v")
      if (v >= 2 * sub)
        assert((v - f).toDouble / v <= 1.0 / sub + 1e-12,
          s"rel err ${(v - f).toDouble / v} for $v")
      else assert(f == v, s"small value $v must be exact")
    }
    // Column spelling of the floor agrees with the scalar one
    val viaCols = vs.toDF("v")
      .select(Sketches.logBucketFloor(
        Sketches.logBucket($"v", subBits), subBits).as("f"), $"v")
      .collect()
    viaCols.foreach(r => assert(r.getLong(0) == refFloor(refBucket(r.getLong(1)))))
  }

  test("histogram counts are partition-invariant and merge by summing") {
    val data = (0 until 3000).map(i => ("s" + (i % 3), (i.toLong * i) % 100000L))
    val one = Sketches.logHistogram(data.toDF("g", "v"), Seq("g"), $"v", subBits)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val re = Sketches.logHistogram(
      data.toDF("g", "v").repartition(13), Seq("g"), $"v", subBits)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(one == re)
    // merging two halves == histogram of the union
    val (h1, h2) = data.splitAt(1200)
    def hist(xs: Seq[(String, Long)]) =
      Sketches.logHistogram(xs.toDF("g", "v"), Seq("g"), $"v", subBits)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (m1, m2) = (hist(h1), hist(h2))
    val merged = (m1.keySet ++ m2.keySet).map(k =>
      k -> (m1.getOrElse(k, 0L) + m2.getOrElse(k, 0L))).toMap
    assert(merged == one)
  }

  test("quantiles within relative error of the exact order statistic") {
    val vs = (1 to 5000).map(i => ("g", (i.toLong * 7919L) % 1000000L + 1L))
    val sorted = vs.map(_._2).sorted
    val got = Sketches.logHistogramQuantiles(
      Sketches.logHistogram(vs.toDF("g", "v"), Seq("g"), $"v", subBits),
      Seq("g"), Seq(500000L, 900000L, 990000L), subBits)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    for ((ppm, q) <- got) {
      val rank = ((ppm * sorted.length + 999999L) / 1000000L).toInt
      val exact = sorted(rank - 1)
      assert(q <= exact, s"q $q above exact $exact at $ppm")
      assert((exact - q).toDouble / exact <= 1.0 / sub + 1e-12,
        s"q $q too far below exact $exact at $ppm ppm")
    }
  }

  test("exact-small regime: values below 2^(subBits+1) give exact quantiles") {
    val vs = (1 to 999).map(i => ("g", (i % 60).toLong))
    val sorted = vs.map(_._2).sorted
    val got = Sketches.logHistogramQuantiles(
      Sketches.logHistogram(vs.toDF("g", "v"), Seq("g"), $"v", subBits),
      Seq("g"), Seq(250000L, 500000L, 750000L, 1000000L), subBits)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    for ((ppm, q) <- got) {
      val rank = ((ppm * sorted.length + 999999L) / 1000000L).toInt
      assert(q == sorted(rank - 1), s"small-regime $ppm: $q vs ${sorted(rank - 1)}")
    }
  }

  test("bounded state: bucket count stays under the documented cap") {
    val vs = (0 until 20000).map(i => ("g",
      math.abs(scala.util.hashing.MurmurHash3.stringHash(s"b$i").toLong *
        0x9E3779B97F4A7C15L))) // full positive long range
    val nBuckets = Sketches.logHistogram(vs.toDF("g", "v"), Seq("g"), $"v", subBits)
      .count()
    val cap = (64 - subBits) * sub + 2 * sub
    assert(nBuckets <= cap, s"$nBuckets buckets > cap $cap")
  }
}
