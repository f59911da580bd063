package graft.data

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def bruteRangeJoin(points: Seq[(Long, Long)],
      ranges: Seq[(String, Long, Long)]): Set[(Long, String)] =
    (for {
      (eid, pt) <- points
      (rid, lo, hi) <- ranges
      if pt >= lo && pt <= hi
    } yield (eid, rid)).toSet

  private val ranges = Seq( // overlapping, unsorted, negative values included
    ("a", -10L, 5L), ("b", 0L, 20L), ("c", 15L, 15L), ("d", 100L, 130L))
  private val points = Seq(
    (1L, -10L), (2L, -1L), (3L, 0L), (4L, 5L), (5L, 6L), (6L, 15L),
    (7L, 20L), (8L, 21L), (9L, 99L), (10L, 100L), (11L, 130L), (12L, 131L))

  test("rangeJoinBinned matches brute force for overlapping ranges, any binWidth") {
    val p = points.toDF("event_id", "pt")
    val r = ranges.toDF("range_id", "lo", "hi")
    for (bw <- Seq(1L, 3L, 7L, 1000L)) {
      val got = Relational.rangeJoinBinned(p, r, "pt", "lo", "hi", bw)
        .select($"event_id", $"range_id").as[(Long, String)].collect().toSet
      assert(got == bruteRangeJoin(points, ranges), s"binWidth=$bw")
    }
  }

  test("rangeJoinBinned emits each containing pair exactly once") {
    val p = points.toDF("event_id", "pt")
    val r = ranges.toDF("range_id", "lo", "hi")
    val rows = Relational.rangeJoinBinned(p, r, "pt", "lo", "hi", 2L)
      .select($"event_id", $"range_id").as[(Long, String)].collect()
    assert(rows.length == rows.toSet.size)
  }

  test("rangeJoinBinned rejects column collisions and bad binWidth") {
    val p = points.toDF("event_id", "pt")
    val r = ranges.toDF("range_id", "lo", "hi")
    intercept[IllegalArgumentException] {
      Relational.rangeJoinBinned(p, r, "pt", "lo", "hi", 0L)
    }
    intercept[IllegalArgumentException] {
      Relational.rangeJoinBinned(p, r.withColumnRenamed("lo", "pt"), "pt", "pt", "hi", 1L)
    }
  }

  test("rangeLookupAsOf matches brute force for non-overlapping ranges") {
    val nonOverlap = Seq(("a", 0L, 9L), ("b", 10L, 19L), ("d", 40L, 49L))
    val pts = Seq((1L, 0L), (2L, 5L), (3L, 9L), (4L, 10L), (5L, 25L),
      (6L, 39L), (7L, 40L), (8L, 49L), (9L, 50L), (10L, -1L))
    val got = Relational.rangeLookupAsOf(pts.toDF("event_id", "pt"),
        nonOverlap.toDF("id", "lo", "hi").withColumnRenamed("lo", "pt"),
        "pt", "pt", "hi")
      .select($"event_id", $"range_id").as[(Long, String)].collect().toSet
    assert(got == bruteRangeJoin(pts, nonOverlap).map { case (e, r) => (e, r) })
  }

  test("bloomPrefilterJoin is row-identical to the plain join") {
    val left = (1L to 2000L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 2000L by 17).map(i => (i, i * 2.0)).toDF("k", "rv")
    val plain = left.join(right, Seq("k"))
      .select($"k", $"lv", $"rv").as[(Long, String, Double)].collect().sorted.toSeq
    val bloomed = Relational.bloomPrefilterJoin(left, right, "k")
      .select($"k", $"lv", $"rv").as[(Long, String, Double)].collect().sorted.toSeq
    assert(bloomed == plain)
    // string keys work too
    val ls = left.select(concat(lit("k"), $"k").as("k"), $"lv")
    val rs = right.select(concat(lit("k"), $"k").as("k"), $"rv")
    assert(Relational.bloomPrefilterJoin(ls, rs, "k").count() == plain.size)
  }

  test("saltedJoin is row-identical to the plain join, inner and left") {
    val left = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"), (3L, "e"))
      .toDF("k", "lv") // key 1 is "hot"
    val right = Seq((1L, 10.0), (1L, 11.0), (2L, 20.0)).toDF("k", "rv")
    for (jt <- Seq("inner", "left")) {
      val plain = left.join(right, Seq("k"), jt)
        .select($"k", $"lv", $"rv").collect()
        .map(r => (r.getLong(0), r.getString(1), String.valueOf(r.get(2)))).sorted.toSeq
      val salted = Relational.saltedJoin(left, right, Seq("k"), 4, jt)
        .select($"k", $"lv", $"rv").collect()
        .map(r => (r.getLong(0), r.getString(1), String.valueOf(r.get(2)))).sorted.toSeq
      assert(salted == plain, jt)
    }
    intercept[IllegalArgumentException] {
      Relational.saltedJoin(left, right, Seq("k"), 4, "right")
    }
  }

  test("topKPerGroup keeps exactly k best rows per group with rank") {
    val df = Seq(
      ("g1", 1L, 5.0), ("g1", 2L, 9.0), ("g1", 3L, 9.0), ("g1", 4L, 1.0),
      ("g2", 5L, 2.0), ("g3", 6L, 3.0), ("g3", 7L, 4.0))
      .toDF("g", "id", "score")
    val got = Relational.topKPerGroup(df, Seq("g"),
        Seq($"score".desc, $"id".asc), 2)
      .select($"g", $"id", $"rank").as[(String, Long, Int)].collect().toSet
    // g1 ties on 9.0 break by id asc; only 2 survive of 4
    assert(got == Set(("g1", 2L, 1), ("g1", 3L, 2),
      ("g2", 5L, 1), ("g3", 7L, 1), ("g3", 6L, 2)))
  }

  test("intervalOverlapJoin matches brute force at any binWidth; pairs once") {
    val rng = new scala.util.Random(11)
    val as = (1 to 60).map { i =>
      val s = rng.nextInt(1000).toLong; (i.toLong, s, s + rng.nextInt(200)) }
    val bs = (1 to 40).map { i =>
      val s = rng.nextInt(1000).toLong; (i.toLong, s, s + rng.nextInt(200)) }
    val brute = (for {
      (ai, s1, e1) <- as; (bi, s2, e2) <- bs
      if s1 <= e2 && s2 <= e1
    } yield (ai, bi)).toSet
    val l = as.toDF("a_id", "a_start", "a_end")
    val r = bs.toDF("b_id", "b_start", "b_end")
    for (w <- Seq(1L, 7L, 100L, 5000L)) {
      val rows = Relational.intervalOverlapJoin(l, r,
          "a_start", "a_end", "b_start", "b_end", w)
        .select($"a_id", $"b_id").as[(Long, Long)].collect()
      assert(rows.length === rows.distinct.length, s"dup pairs at w=$w")
      assert(rows.toSet === brute, s"w=$w")
    }
  }

  test("skewReport: heavy keys first, exact ppm shares, cumulative adds up") {
    val rows = (1 to 60).map(i => Tuple1(
      if (i <= 30) "hot" else if (i <= 45) "warm" else s"cold$i")).toDF("k")
    val got = Relational.skewReport(rows, $"k", topK = 2)
      .select($"key", $"cnt", $"share_ppm", $"cum_ppm")
      .as[(String, Long, Long, Long)].collect().toList
    // hot 30/60 = 500000 ppm, warm 15/60 = 250000; cumulative 750000
    assert(got === List(("hot", 30L, 500000L, 500000L),
      ("warm", 15L, 250000L, 750000L)))
  }

  test("skewReport: count ties break by key; ppm is floor division") {
    val rows = Seq("a", "a", "b", "b", "c", "c", "d").toDF("k")
    val got = Relational.skewReport(rows, $"k", topK = 3)
      .select($"key", $"share_ppm").as[(String, Long)].collect().toList
    // 2/7 = 285714.28... floors to 285714; tie order a < b < c
    assert(got === List(("a", 285714L), ("b", 285714L), ("c", 285714L)))
  }

  test("intervalOverlapJoin: inclusive touch counts; keys separate series") {
    val l = Seq(("u1", 0L, 10L), ("u2", 0L, 10L)).toDF("user", "a_start", "a_end")
    val r = Seq(("u1", 10L, 20L), ("u1", 11L, 20L), ("u2", 50L, 60L))
      .toDF("user", "b_start", "b_end")
    val got = Relational.intervalOverlapJoin(l, r, "a_start", "a_end",
        "b_start", "b_end", binWidth = 8L, keys = Seq("user"))
      .select($"user", $"b_start").as[(String, Long)].collect().toSet
    // u1 [0,10] touches [10,20] (inclusive) but not [11,20];
    // u2's intervals never pair with u1's despite identical bins
    assert(got === Set(("u1", 10L)))
  }

  test("exactKth: matches sort-offset semantics incl. ties and negatives") {
    val rnd = new scala.util.Random(19)
    val vals = Seq.fill(500)(rnd.nextInt(40).toLong - 20L)
    val df = vals.toDF("x").repartition(6)
    val sorted = vals.sorted
    for (k <- Seq(1L, 2L, 250L, 251L, 499L, 500L)) {
      val got = Relational.exactKth(df, col("x"), k)
      assert(got === sorted((k - 1).toInt), s"k=$k")
    }
  }

  test("exactKth: null values excluded, bounds enforced") {
    val df = Seq(Some(5L), None, Some(1L), Some(9L)).toDF("x")
    assert(Relational.exactKth(df, col("x"), 1L) === 1L)
    assert(Relational.exactKth(df, col("x"), 3L) === 9L)
    intercept[IllegalArgumentException] {
      Relational.exactKth(df, col("x"), 4L)
    }
  }

  test("groupedExactMedian: sort-offset parity per group, ties included") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.tabulate(800)(_ =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(12).toLong))
    val got = Relational.groupedExactMedian(rows.toDF("g", "v").repartition(5),
        Seq("g"), col("v"))
      .select(col("g"), col("median"), col("n_rows"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    rows.groupBy(_._1).foreach { case (g, members) =>
      val sorted = members.map(_._2).sorted
      val want = sorted(((sorted.size + 1) / 2 - 1))
      val (m, n) = got(g)
      assert(m === want, s"g=$g")
      assert(n === members.size.toLong)
    }
  }

  test("joinSizePreflight: exact pair counts vs the real join, skew key on top") {
    val rnd = new scala.util.Random(77)
    // planted hot key "k0" on both sides + a null key that must not count
    val l = (Seq.fill(300)("k0") ++ Seq.tabulate(500)(_ => s"k${rnd.nextInt(40)}")
      ).map(k => (k, 1)) :+ ((null: String, 1))
    val r = (Seq.fill(200)("k0") ++ Seq.tabulate(400)(_ => s"k${rnd.nextInt(40)}")
      ).map(k => (k, 2)) :+ ((null: String, 2))
    val lf = l.toDF("k", "x"); val rf = r.toDF("k", "x")
    val rep = Relational.joinSizePreflight(lf, rf, col("k"), col("k"), topK = 50)
      .collect().map(row => (row.getString(0), row.getLong(1), row.getLong(2),
        row.getLong(3), row.getLong(4), row.getLong(5)))
    // exact total == the real join's cardinality (null keys match nothing)
    val realJoin = lf.join(rf, "k").count()
    assert(rep.head._5 == realJoin, s"total ${rep.head._5} vs join $realJoin")
    // per-key products match brute counts
    val lc = l.filter(_._1 != null).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val rc = r.filter(_._1 != null).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    rep.foreach { case (k, nl, nr, pairs, _, _) =>
      assert(nl == lc(k) && nr == rc(k) && pairs == nl * nr, s"key $k")
    }
    // the planted hot key dominates and its ppm share is exact
    assert(rep.head._1 == "k0")
    assert(rep.head._6 == rep.head._4 * 1000000L / realJoin)
    // shares of ALL matched keys sum to ~1e6 (floor-division slack only)
    val allKeys = (lc.keySet intersect rc.keySet).size
    val ppmSum = rep.map(_._6).sum
    assert(ppmSum <= 1000000L && ppmSum >= 1000000L - allKeys)
  }

  test("profileTable: exact nulls/ndv/min/max per column in one pass") {
    val df = Seq(
      (1L, Some("b"), 2.5), (2L, Some("a"), 2.5), (3L, None, -1.0),
      (3L, Some("a"), 0.0))
      .toDF("id", "s", "v")
    val got = Relational.profileTable(df)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(got("id") === ((0L, 3L, "1", "3")))
    assert(got("s") === ((1L, 2L, "a", "b")))
    assert(got("v") === ((0L, 3L, "-1.0", "2.5")))
    // approx mode: no Expand in the plan, ndv within sketch tolerance
    val approx = Relational.profileTable(df, exactDistinct = false)
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
    val nd = approx.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(nd("id") >= 2L && nd("id") <= 4L)
  }

  test("globalRank equals the single-window row_number under a total order") {
    val df = (0 until 500).map(i =>
      (i.toLong, s"k${(i * 37) % 90}")).toDF("id", "k")
    val got = Relational.globalRank(df, Seq(col("k"), col("id")))
      .orderBy($"rk").select($"id").as[Long].collect().toSeq
    val want = df.collect().map(r => (r.getString(1), r.getLong(0)))
      .sortBy(identity).map(_._2).toSeq
    assert(got == want)
    // rank is a permutation 1..N
    val rks = Relational.globalRank(df, Seq(col("k"), col("id")))
      .select($"rk").as[Long].collect().sorted.toSeq
    assert(rks == (1L to 500L))
  }

  test("globalRank is invariant to input partitioning; empty input is empty") {
    val df = (0 until 300).map(i => (i.toLong, (i * 7919) % 50)).toDF("id", "k")
    def run(d: org.apache.spark.sql.DataFrame) =
      Relational.globalRank(d, Seq(col("k"), col("id")))
        .select($"id", $"rk").as[(Long, Long)].collect().toMap
    assert(run(df) == run(df.repartition(13)))
    assert(Relational.globalRank(df.filter($"id" < 0),
      Seq(col("id"))).count() == 0L)
  }

  test("globalRank never plans an unpartitioned window") {
    val df = (0 until 50).map(i => (i.toLong, i % 5)).toDF("id", "k")
    val plan = Relational.globalRank(df, Seq(col("k"), col("id")))
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
  }

  test("sortedNeighborhoodMultiKey: a suffix twin is caught only by the reverse pass") {
    // 10 decoy docs with distinct prefixes AND suffixes; docs 100/101
    // share a SUFFIX but have prefixes that sort maximally apart
    val docs = ((0 until 10).map(i =>
      (i.toLong, f"mid$i%02d filler text body $i%02d")) ++ Seq(
      (100L, "aaaa shared ending of the pair"),
      (101L, "zzzz shared ending of the pair"))).toDF("doc_id", "text")
    val fwd = org.apache.spark.sql.functions.substring($"text", 1, 6)
    val rev = org.apache.spark.sql.functions.substring(
      org.apache.spark.sql.functions.reverse($"text"), 1, 6)
    val one = Dedup.sortedNeighborhoodPairs(docs, "doc_id", fwd, 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!one.contains((100L, 101L)))
    val multi = Dedup.sortedNeighborhoodMultiKey(docs, "doc_id",
        Seq(fwd, rev), window = 1)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(multi.contains((100L, 101L)))
    assert(multi((100L, 101L)) == 1L) // reverse pass only
  }

  test("sortedNeighborhoodPairs equals the brute rank-window reference") {
    val docs = (0 until 200).map(i =>
      (i.toLong, s"prefix${(i * 13) % 40} tail $i")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id",
        substring($"text", 1, 8), window = 4)
      .select($"id_a", $"id_b", $"gap").as[(Long, Long, Long)]
      .collect().toSet
    val ranked = docs.collect()
      .map(r => (r.getString(1).substring(0, 8), r.getLong(0)))
      .sortBy(identity).zipWithIndex
    val want = (for {
      ((_, a), ra) <- ranked.iterator
      ((_, b), rb) <- ranked.iterator
      if rb > ra && rb <= ra + 4
    } yield (a, b, (rb - ra).toLong)).toSet
    assert(got == want)
  }

  test("sortedNeighborhoodPairs: window >= N clamps at the last rank") {
    // 5 docs, window 100: every unordered pair exactly once — and the
    // probe fan-out is clamped at maxRk (no dead probes past the end),
    // so total candidates are C(5,2)=10, not 5*100
    val docs = (0 until 5).map(i => (i.toLong, s"k$i")).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", $"text",
        window = 100)
      .select($"id_a", $"id_b", $"gap").as[(Long, Long, Long)]
      .collect().toSet
    val want = (for {
      a <- 0 until 5; b <- 0 until 5 if b > a
    } yield (a.toLong, b.toLong, (b - a).toLong)).toSet
    assert(got == want)
    // single-doc corpus: the rk < maxRk guard leaves nothing to probe
    val one = Dedup.sortedNeighborhoodPairs(
      Seq((7L, "only")).toDF("doc_id", "text"), "doc_id", $"text", 3)
    assert(one.count() == 0L)
  }
}
