package graft.risk

import graft.SparkSpec
import java.sql.Timestamp

/** AS-OF join semantics: brute-force oracle, both physical variants,
 * ties and leading-null edges (SURVEY §7.5). */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  val left = Seq(
    ("A", ts("2024-01-01 00:00:00"), 1.0),
    ("A", ts("2024-01-03 00:00:00"), 2.0),
    ("A", ts("2024-01-05 00:00:00"), 3.0),
    ("B", ts("2024-01-02 00:00:00"), 4.0),
    ("B", ts("2024-01-04 00:00:00"), 5.0)
  ).toDF("ticker", "date", "lval")

  val right = Seq(
    ("A", ts("2024-01-01 00:00:00"), 10.0), // exact-ts match must attach
    ("A", ts("2024-01-04 00:00:00"), 11.0),
    ("B", ts("2024-01-03 00:00:00"), 12.0)
  ).toDF("ticker", "date", "rval")

  val expected = Map(
    ("A", "2024-01-01 00:00:00.0") -> Some(10.0), // equal ts -> inclusive
    ("A", "2024-01-03 00:00:00.0") -> Some(10.0),
    ("A", "2024-01-05 00:00:00.0") -> Some(11.0),
    ("B", "2024-01-02 00:00:00.0") -> None,       // before first right row
    ("B", "2024-01-04 00:00:00.0") -> Some(12.0))

  def check(out: org.apache.spark.sql.DataFrame): Unit = {
    val got = out.collect().map { r =>
      (r.getAs[String]("ticker"), r.getAs[Timestamp]("date").toString) ->
        Option(r.getAs[Any]("right_rval")).map(_.asInstanceOf[Double])
    }.toMap
    assert(got === expected)
  }

  test("window-variant asofJoin partitioned by ticker") {
    check(AsOfJoin.asofJoin(left, right, "date", Seq("ticker")))
  }

  test("broadcast-variant asofJoin partitioned by ticker") {
    check(AsOfJoin.asofJoinBroadcast(left, right, "date", Seq("ticker")))
  }

  test("both variants agree unpartitioned (global series)") {
    val l = left.drop("ticker").distinct()
    val r = right.drop("ticker")
      .groupBy("date").agg(org.apache.spark.sql.functions.max("rval").as("rval"))
    val a = AsOfJoin.asofJoin(l, r, "date")
      .select("date", "right_rval").collect().map(x => (x.get(0).toString, Option(x.get(1)))).toMap
    val b = AsOfJoin.asofJoinBroadcast(l, r, "date")
      .select("date", "right_rval").collect().map(x => (x.get(0).toString, Option(x.get(1)))).toMap
    assert(a === b)
  }

  test("chunked variant passes the hand oracle, partitioned, tiny chunks") {
    check(AsOfJoin.asofJoinChunked(left, right, "date", Seq("ticker"),
      nChunks = 40))
    check(AsOfJoin.asofJoinChunked(left, right, "date", Seq("ticker"),
      nChunks = 1)) // one chunk: degenerates to plain asofJoin
  }

  test("chunked == single-task form: all directions, gappy 1-day chunks") {
    // sparse right side over 40 days: at high nChunks most chunks have no
    // right rows, so matches must flow through the carry summary (and
    // leading left rows before any right row must stay null)
    val rng = new scala.util.Random(11)
    val lrows = (1 to 300).map { i =>
      (new Timestamp(1700000000000L + rng.nextInt(40) * 86400000L +
        rng.nextInt(86400) * 1000L), i.toDouble)
    }
    val rrows = rng.shuffle((1 to 2000).toList).take(15).map { d =>
      (new Timestamp(1700000000000L + (d % 40) * 86400000L +
        (d * 997 % 86400) * 1000L), d.toDouble)
    }.distinct
    val l = lrows.toDF("t", "lv")
    val r = rrows.toDF("t", "rv")
    for (dir <- Seq("backward", "forward", "nearest");
         nc <- Seq(1, 5, 40)) {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("t", "lv", "right_t", "right_rv").collect()
          .map(x => (x.get(0).toString, x.get(1),
            Option(x.get(2)).map(_.toString), Option(x.get(3))))
          .sortBy(_.toString).toSeq
      val plain = canon(AsOfJoin.asofJoin(l, r, "t", direction = dir))
      val chunked = canon(AsOfJoin.asofJoinChunked(l, r, "t",
        direction = dir, nChunks = nc))
      assert(chunked === plain, s"dir=$dir nChunks=$nc")
    }
  }

  test("chunked variant parallelizes: no unpartitioned raw-row window") {
    // the only window without real partition keys must be the
    // chunk-count-sized carry summary, never the raw union — pin the
    // shape: every Window over the union subtree partitions on __chunk
    val out = AsOfJoin.asofJoinChunked(left.drop("ticker"),
      right.drop("ticker").groupBy("date")
        .agg(org.apache.spark.sql.functions.max("rval").as("rval")),
      "date", nChunks = 20)
    val plan = out.queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    // each window must either partition on the chunk id (parallel
    // in-chunk fill) or run over the chunk-count-sized carry SUMMARY
    // (an Aggregate in its subtree) — never over raw union rows
    val rawWindows = windows.filterNot { w =>
      w.partitionSpec.exists(_.toString.contains("__chunk")) ||
        w.child.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.nonEmpty
    }
    assert(rawWindows.isEmpty,
      rawWindows.map(_.partitionSpec.mkString(",")).mkString(" | "))
  }

  test("right_ts column reports the matched timestamp") {
    val out = AsOfJoin.asofJoin(left, right, "date", Seq("ticker"))
    val row = out.filter($"ticker" === "A" && $"lval" === 3.0).head
    assert(row.getAs[Timestamp]("right_date") === ts("2024-01-04 00:00:00"))
  }

  test("broadcast variant: duplicate (key, ts) right rows do not fan out") {
    val dupRight = Seq(
      ("A", ts("2024-01-01 00:00:00"), 10.0),
      ("A", ts("2024-01-01 00:00:00"), 9.0),  // duplicate ts, smaller value
      ("A", ts("2024-01-04 00:00:00"), 11.0),
      ("A", ts("2024-01-04 00:00:00"), 11.5), // duplicate ts, larger value
      ("B", ts("2024-01-03 00:00:00"), 12.0)
    ).toDF("ticker", "date", "rval")
    val out = AsOfJoin.asofJoinBroadcast(left, right = dupRight, "date", Seq("ticker"))
    // exactly one output row per left row
    assert(out.count() === left.count())
    val got = out.collect().map { r =>
      (r.getAs[String]("ticker"), r.getAs[Timestamp]("date").toString) ->
        Option(r.getAs[Any]("right_rval")).map(_.asInstanceOf[Double])
    }.toMap
    // greatest value-tuple wins deterministically among duplicates
    assert(got(("A", "2024-01-01 00:00:00.0")) === Some(10.0))
    assert(got(("A", "2024-01-05 00:00:00.0")) === Some(11.5))
    assert(got(("B", "2024-01-04 00:00:00.0")) === Some(12.0))
  }

  test("randomized duplicate-heavy right side: one row per left row, det values") {
    val rng = new scala.util.Random(7)
    val lrows = (1 to 200).map { i =>
      ("K", new Timestamp(1700000000000L + rng.nextInt(100000) * 1000L), i.toDouble)
    }
    // every right ts appears 1-4 times with different values
    val rrows = (1 to 60).flatMap { i =>
      val t = new Timestamp(1700000000000L + rng.nextInt(100000) * 1000L)
      (0 to rng.nextInt(3)).map(j => ("K", t, i * 10.0 + j))
    }
    val out = AsOfJoin.asofJoinBroadcast(
      lrows.toDF("k", "t", "lv"), rrows.toDF("k", "t", "rv"), "t", Seq("k"))
    assert(out.count() === 200)
    // oracle: among rows with max ts <= t, the max value (greatest tuple)
    val brute = lrows.map { case (k, t, lv) =>
      val cand = rrows.filter(x => !x._2.after(t))
      val best = cand.sortBy(x => (x._2.getTime, x._3)).lastOption
      ((k, t.getTime, lv), best.map(_._3))
    }.toMap
    val got = out.collect().map { row =>
      ((row.getAs[String]("k"), row.getAs[Timestamp]("t").getTime, row.getAs[Double]("lv")),
        Option(row.getAs[Any]("right_rv")).map(_.asInstanceOf[Double]))
    }.toMap
    assert(got === brute)
  }

  test("randomized brute-force parity") {
    val rng = new scala.util.Random(42)
    val keys = Seq("X", "Y", "Z")
    val lrows = (1 to 300).map { i =>
      (keys(rng.nextInt(3)), new Timestamp(1700000000000L + rng.nextInt(1000000) * 1000L), i.toDouble)
    }
    val rrows = (1 to 80).map { i =>
      (keys(rng.nextInt(3)), new Timestamp(1700000000000L + rng.nextInt(1000000) * 1000L), i * 1.5)
    }
    // dedupe right per (key, ts) to keep the oracle unambiguous
    val rdd = rrows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val l = lrows.toDF("k", "t", "lv")
    val r = rdd.toDF("k", "t", "rv")
    val brute = lrows.map { case (k, t, lv) =>
      val best = rdd.filter(x => x._1 == k && !x._2.after(t)).sortBy(_._2.getTime).lastOption
      ((k, t.getTime, lv), best.map(_._3))
    }.toMap
    for (variant <- Seq(
        AsOfJoin.asofJoin(l, r, "t", Seq("k")),
        AsOfJoin.asofJoinBroadcast(l, r, "t", Seq("k")))) {
      val got = variant.collect().map { row =>
        ((row.getAs[String]("k"), row.getAs[Timestamp]("t").getTime, row.getAs[Double]("lv")),
          Option(row.getAs[Any]("right_rv")).map(_.asInstanceOf[Double]))
      }.toMap
      assert(got === brute)
    }
  }

  test("forward direction: earliest following right row, exact ts inclusive") {
    val fwdExpected = Map(
      ("A", "2024-01-01 00:00:00.0") -> Some(10.0), // equal ts -> inclusive
      ("A", "2024-01-03 00:00:00.0") -> Some(11.0),
      ("A", "2024-01-05 00:00:00.0") -> None,       // after last right row
      ("B", "2024-01-02 00:00:00.0") -> Some(12.0),
      ("B", "2024-01-04 00:00:00.0") -> None)
    for (out <- Seq(
        AsOfJoin.asofJoin(left, right, "date", Seq("ticker"),
          direction = "forward"),
        AsOfJoin.asofJoinBroadcast(left, right, "date", Seq("ticker"),
          direction = "forward"))) {
      val got = out.collect().map { r =>
        (r.getAs[String]("ticker"), r.getAs[Timestamp]("date").toString) ->
          Option(r.getAs[Any]("right_rval")).map(_.asInstanceOf[Double])
      }.toMap
      assert(got === fwdExpected)
    }
  }

  test("nearest direction: closer side wins, exact tie goes backward") {
    // A@01-03: backward 01-01 (2d), forward 01-04 (1d) -> forward wins
    // B@01-02: no backward -> forward; B@01-04: backward 01-03 (1d), none fwd
    val l2 = Seq(
      ("A", ts("2024-01-03 00:00:00"), 1.0),
      ("B", ts("2024-01-02 00:00:00"), 2.0),
      ("B", ts("2024-01-04 00:00:00"), 3.0),
      // exact midpoint: right at 01-01 and 01-07, left at 01-04 -> backward
      ("C", ts("2024-01-04 00:00:00"), 4.0)
    ).toDF("ticker", "date", "lval")
    val r2 = right.union(Seq(
      ("C", ts("2024-01-01 00:00:00"), 20.0),
      ("C", ts("2024-01-07 00:00:00"), 21.0)).toDF("ticker", "date", "rval"))
    val nearExpected = Map(
      ("A", "2024-01-03 00:00:00.0") -> Some(11.0),
      ("B", "2024-01-02 00:00:00.0") -> Some(12.0),
      ("B", "2024-01-04 00:00:00.0") -> Some(12.0),
      ("C", "2024-01-04 00:00:00.0") -> Some(20.0)) // tie -> backward
    for (out <- Seq(
        AsOfJoin.asofJoin(l2, r2, "date", Seq("ticker"),
          direction = "nearest"),
        AsOfJoin.asofJoinBroadcast(l2, r2, "date", Seq("ticker"),
          direction = "nearest"))) {
      val got = out.collect().map { r =>
        (r.getAs[String]("ticker"), r.getAs[Timestamp]("date").toString) ->
          Option(r.getAs[Any]("right_rval")).map(_.asInstanceOf[Double])
      }.toMap
      assert(got === nearExpected)
    }
  }

  test("directions: randomized brute-force parity, both variants") {
    val rng = new scala.util.Random(7)
    val keys = Seq("X", "Y")
    val lrows = (1 to 200).map { i =>
      (keys(rng.nextInt(2)), new Timestamp(1700000000000L + rng.nextInt(500000) * 1000L), i.toDouble)
    }
    val rrows = (1 to 60).map { i =>
      (keys(rng.nextInt(2)), new Timestamp(1700000000000L + rng.nextInt(500000) * 1000L), i * 1.5)
    }
    val rdd = rrows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val l = lrows.toDF("k", "t", "lv")
    val r = rdd.toDF("k", "t", "rv")
    def bruteOf(dir: String) = lrows.map { case (k, t, lv) =>
      val bwd = rdd.filter(x => x._1 == k && !x._2.after(t)).sortBy(_._2.getTime).lastOption
      val fwd = rdd.filter(x => x._1 == k && !x._2.before(t)).sortBy(_._2.getTime).headOption
      val best = dir match {
        case "forward" => fwd
        case "nearest" => (bwd, fwd) match {
          case (Some(b), Some(f)) =>
            if (t.getTime - b._2.getTime <= f._2.getTime - t.getTime) Some(b)
            else Some(f)
          case (b, f) => b.orElse(f)
        }
      }
      ((k, t.getTime, lv), best.map(_._3))
    }.toMap
    for (dir <- Seq("forward", "nearest");
         variant <- Seq(
           AsOfJoin.asofJoin(l, r, "t", Seq("k"), direction = dir),
           AsOfJoin.asofJoinBroadcast(l, r, "t", Seq("k"), direction = dir))) {
      val got = variant.collect().map { row =>
        ((row.getAs[String]("k"), row.getAs[Timestamp]("t").getTime, row.getAs[Double]("lv")),
          Option(row.getAs[Any]("right_rv")).map(_.asInstanceOf[Double]))
      }.toMap
      assert(got === bruteOf(dir), s"direction=$dir")
    }
  }

  test("chunked variant is unit-free: integer-SECOND long ts, all directions") {
    // the chunk width derives from the measured ts range, not a fixed
    // micros calendar — a seconds-scale long ts (the events convention)
    // must produce the same answers while genuinely spreading chunks
    val l = (0 until 400).map(i => (1700000000L + i * 97L, i.toDouble))
      .toDF("ts", "lv")
    val r = (0 until 25).map(i => (1700000000L + i * 1501L, i * 2.0))
      .toDF("ts", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("ts", "lv", "right_rv").collect()
        .map(x => (x.getLong(0), x.getDouble(1), Option(x.get(2))))
        .sortBy(_.toString).toSeq
    for (dir <- Seq("backward", "forward", "nearest")) {
      val plain = canon(AsOfJoin.asofJoin(l, r, "ts", direction = dir))
      val chunked = canon(AsOfJoin.asofJoinChunked(l, r, "ts",
        direction = dir, nChunks = 16))
      assert(chunked === plain, s"dir=$dir")
      // the broadcast variant passes the same long ts through untouched
      val broadcast = canon(AsOfJoin.asofJoinBroadcast(l, r, "ts", direction = dir))
      assert(broadcast === plain, s"broadcast dir=$dir")
    }
  }
}
