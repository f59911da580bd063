package graft.risk

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("zorderKey interleaves bits; locality beats lexicographic on dim 2") {
    import graft.risk.{Sinks => S}
    // hand-checked interleave: x=0b11 (bits->positions 0,2), y=0b10 (->3)
    val r = Seq((3L, 2L)).toDF("x", "y")
      .select(S.zorderKey(Seq($"x", $"y"), bits = 2)).as[Long].head()
    assert(r == ((1L << 0) | (1L << 2) | (1L << 3))) // = 13
    // z-sorted layout: a filter on EITHER dimension touches few files
    val n = 4096
    val grid = (0 until n).map(i => (i % 64, i / 64, i)).toDF("a", "b", "v")
    val dir = tempDir("sinks_z") + "/t"
    grid.withColumn("z", S.zorderKey(Seq($"a", $"b"), bits = 6))
      .repartitionByRange(16, $"z").sortWithinPartitions($"z").drop("z")
      .write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == n)
    def filesTouched(c: String) = back.filter(col(c) === 7)
      .select(input_file_name()).distinct().count()
    // 16 files over a 64x64 z-curve: one value of either dim spans ~4
    // files (sqrt locality), never all 16 as a lexicographic sort on
    // (a,b) would for a filter on b
    assert(filesTouched("a") <= 8, s"a: ${filesTouched("a")}")
    assert(filesTouched("b") <= 8, s"b: ${filesTouched("b")}")
  }

  test("hilbertKey: bijective over the grid, consecutive indices are grid NEIGHBORS") {
    // d=2, bits=4: all 256 cells. The adjacency property is THE Hilbert
    // property (Morton fails it at every power-of-two boundary).
    val grid = (0 until 256).map(i => (i / 16, i % 16)).toDF("x", "y")
    val cells = grid.select($"x", $"y",
        Sinks.hilbertKey(Seq($"x", $"y"), bits = 4).as("h"))
      .as[(Int, Int, Long)].collect()
    val byIdx = cells.map { case (x, y, h) => h -> ((x, y)) }.toMap
    assert(byIdx.size == 256 && byIdx.keys.min == 0L && byIdx.keys.max == 255L)
    (0L until 255L).foreach { i =>
      val (x1, y1) = byIdx(i); val (x2, y2) = byIdx(i + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at $i: ($x1,$y1)->($x2,$y2)")
    }
    // Morton, by contrast, jumps: count non-adjacent consecutive steps
    val mortonByIdx = grid.select($"x", $"y",
        Sinks.zorderKey(Seq($"x", $"y"), bits = 4).as("m"))
      .as[(Int, Int, Long)].collect()
      .map { case (x, y, m) => m -> ((x, y)) }.toMap
    val mortonJumps = (0L until 255L).count { i =>
      val (x1, y1) = mortonByIdx(i); val (x2, y2) = mortonByIdx(i + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(mortonJumps > 0, "expected Morton to have diagonal jumps")
    // 3-d bijectivity at bits=2 (64 cells)
    val g3 = (0 until 64).map(i => (i / 16, (i / 4) % 4, i % 4)).toDF("a", "b", "c")
    val idx3 = g3.select(Sinks.hilbertKey(Seq($"a", $"b", $"c"), bits = 2))
      .as[Long].collect().toSet
    assert(idx3 == (0L until 64L).toSet)
  }

  test("hilbert_index == an INDEPENDENT classic rotate-and-flip 2-d implementation") {
    // second implementation from the geometric recurrence (the classic
    // xy2d rotate/reflect form), sharing no code or structure with
    // HilbertIndexExpr's Skilling transpose form — equality over full
    // grids makes the q176 golden self-checking (the q121 two-impl
    // pattern)
    def xy2d(order: Int, x0: Long, y0: Long): Long = {
      var x = x0; var y = y0; var d = 0L
      var s = 1L << (order - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0L) 1L else 0L
        val ry = if ((y & s) > 0L) 1L else 0L
        d += s * s * ((3L * rx) ^ ry)
        if (ry == 0L) { // rotate the quadrant so the sub-curve aligns
          if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    import org.apache.spark.sql.catalyst.util.ArrayData
    for (bits <- 1 to 5; x <- 0L until (1L << bits); y <- 0L until (1L << bits))
      assert(graft.plans.HilbertIndexExpr.index(
          ArrayData.toArrayData(Array(x, y)), bits) == xy2d(bits, x, y),
        s"bits=$bits ($x,$y)")
  }

  test("hilbert_index: inverse round-trips and the 3-d curve is grid-adjacent") {
    // Skilling's TransposeToAxes (the paper's OTHER direction, written
    // here independently): decode every index, re-encode through the
    // production expression, and demand the identity — bijectivity —
    // plus unit grid steps between consecutive decoded points, THE
    // Hilbert property, in both 2-d and 3-d
    def decode(idx: Long, bits: Int, n: Int): Array[Long] = {
      val x = new Array[Long](n)
      var pos = n * bits - 1
      var j = bits - 1
      while (j >= 0) {
        var k = 0
        while (k < n) { x(k) |= ((idx >>> pos) & 1L) << j; pos -= 1; k += 1 }
        j -= 1
      }
      var t = x(n - 1) >> 1
      var i = n - 1
      while (i > 0) { x(i) ^= x(i - 1); i -= 1 }
      x(0) ^= t
      var q = 2L
      while (q != (1L << bits)) {
        val p = q - 1
        var i2 = n - 1
        while (i2 >= 0) {
          if ((x(i2) & q) != 0L) x(0) ^= p
          else { val t2 = (x(0) ^ x(i2)) & p; x(0) ^= t2; x(i2) ^= t2 }
          i2 -= 1
        }
        q <<= 1
      }
      x
    }
    import org.apache.spark.sql.catalyst.util.ArrayData
    for ((n, bits) <- Seq((2, 5), (3, 3), (3, 4))) {
      var prev: Array[Long] = null
      (0L until (1L << (n * bits))).foreach { i =>
        val p = decode(i, bits, n)
        assert(graft.plans.HilbertIndexExpr.index(
          ArrayData.toArrayData(p), bits) == i, s"n=$n bits=$bits idx=$i")
        if (prev != null)
          assert((0 until n).map(k => math.abs(p(k) - prev(k))).sum == 1,
            s"jump at $i: ${prev.mkString(",")} -> ${p.mkString(",")}")
        prev = p
      }
    }
  }

  test("hilbertKey: a Hilbert-sorted layout has locality on BOTH dims") {
    val n = 4096
    val grid = (0 until n).map(i => (i % 64, i / 64, i)).toDF("a", "b", "v")
    val dir = tempDir("sinks_h") + "/t"
    grid.withColumn("h", Sinks.hilbertKey(Seq($"a", $"b"), bits = 6))
      .repartitionByRange(16, $"h").sortWithinPartitions($"h").drop("h")
      .write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == n)
    def filesTouched(c: String) = back.filter(col(c) === 7)
      .select(input_file_name()).distinct().count()
    assert(filesTouched("a") <= 8, s"a: ${filesTouched("a")}")
    assert(filesTouched("b") <= 8, s"b: ${filesTouched("b")}")
  }

  test("compactionPlan: contiguous path-ordered buckets, all but last at target") {
    val target = 1000L
    val inv = (0 until 500).map(i => (f"f-$i%04d", 37L + i % 113))
      .toDF("path", "size")
    val plan = Sinks.compactionPlan(inv, "path", "size", target)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // scalar reference: running exclusive prefix div target
    var pre = 0L
    plan.foreach { case (p, sz, b) =>
      assert(b == pre / target, s"$p: bucket $b vs ${pre / target}")
      pre += sz
    }
    // bucket sizes: every bucket but the last within one max-file of target
    val maxFile = plan.map(_._2).max
    val perBucket = plan.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val last = perBucket.keys.max
    perBucket.foreach { case (b, bytes) =>
      if (b != last) assert(bytes > target - maxFile, s"bucket $b only $bytes bytes")
      assert(bytes < target + maxFile, s"bucket $b overshoots: $bytes")
    }
    // buckets are contiguous runs in path order
    assert(plan.map(_._3).sliding(2).forall {
      case Array(a, b) => b - a >= 0 && b - a <= 1
      case _ => true
    })
    // an oversized file gets a bucket of its own boundary
    val big = Seq(("a", 10L), ("b", 5000L), ("c", 10L)).toDF("path", "size")
    val bigPlan = Sinks.compactionPlan(big, "path", "size", target)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(bigPlan("a") == 0L && bigPlan("b") == 0L && bigPlan("c") == 5L)
  }
}
