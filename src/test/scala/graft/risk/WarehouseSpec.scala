package graft.risk

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DDL surface (S7) + persisted warehouse hand-off (S3/S4): the
 * reference's configure_notebook.py:17-27 database lifecycle and the
 * 03 → 04/05 stored-table workflow. */
class WarehouseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val cfg = VarPipeline.Config(
    runs = 60, days = 100, tickers = Seq("TICK01", "TICK02", "TICK03"),
    indicators = Seq("IX1", "IX2"))

  test("database lifecycle: create at location, use, teardown cascade") {
    val loc = tempDir("graft_wh")
    Warehouse.createAndUse(spark, "graft_ddl_spec", loc)
    assert(spark.catalog.currentDatabase == "graft_ddl_spec")
    assert(spark.catalog.databaseExists("graft_ddl_spec"))
    Warehouse.teardown(spark, "graft_ddl_spec")
    assert(!spark.catalog.databaseExists("graft_ddl_spec"))
    assert(spark.catalog.currentDatabase == "default")
  }

  test("trials hand-off: stored table round-trips and VaR matches the fresh plan") {
    val loc = tempDir("graft_wh2")
    Warehouse.createAndUse(spark, "graft_handoff_spec", loc)
    try {
      val tables = Map("volatility" -> "market_volatility",
        "mc_trials" -> "monte_carlo_trials")
      VarPipeline.materializeHandoff(spark, cfg, tables)

      val stored = Warehouse.table(spark, tables("mc_trials"))
      val fresh = VarPipeline.monteCarloTrials(spark, cfg)
      assert(stored.count() == fresh.count())

      // on-demand VaR from the STORED table equals the all-in-one plan
      val pf = VarPipeline.portfolio(spark, cfg)
      def canon(df: org.apache.spark.sql.DataFrame) =
        VarEngine.varTimeSeries(df, pf)
          .select(col("date").cast("string"), round(col("var_99"), 9))
          .collect().map(_.toString).sorted.toSeq
      assert(canon(stored) == canon(fresh))

      // volatility table also round-trips
      val vol = Warehouse.table(spark, tables("volatility"))
      assert(vol.count() ==
        VarPipeline.marketVolatility(spark, cfg).count())
    } finally Warehouse.teardown(spark, "graft_handoff_spec")
  }

  test("bucketed tables join and aggregate exchange-free on the bucket key") {
    val loc = tempDir("graft_wh4")
    Warehouse.createAndUse(spark, "graft_bucket_spec", loc)
    try {
      import spark.implicits._
      val trials = (1 to 5000).map(i => (s"T${i % 40}", i.toDouble)).toDF("ticker", "v")
      val pf = (0 until 40).map(i => (s"T$i", 1.0 / 40)).toDF("ticker", "weight")
      Warehouse.saveTable(spark, trials, "b_trials", Seq("ticker"), 8)
      Warehouse.saveTable(spark, pf, "b_portfolio", Seq("ticker"), 8)

      // disable auto-broadcast so the join must rely on bucketing alone
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = Warehouse.table(spark, "b_trials")
          .join(Warehouse.table(spark, "b_portfolio"), Seq("ticker"))
          .groupBy(col("ticker")).agg(sum(col("v") * col("weight")).as("wv"))
        // values correct
        val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val exp = (1 to 5000).groupBy(i => s"T${i % 40}")
          .map { case (t, is) => t -> is.map(_.toDouble / 40).sum }
        assert(got.keySet == exp.keySet)
        exp.foreach { case (t, v) => assert(math.abs(got(t) - v) < 1e-9) }
        // bucketing co-located both sides: join + agg run with ZERO shuffle
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"expected shuffle-free plan, got:\n$plan")
        assert(plan.contains("SelectedBucketsCount"), "expected bucketed scans")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally Warehouse.teardown(spark, "graft_bucket_spec")
  }

  test("clustered table write prunes files on the cluster key") {
    val loc = tempDir("graft_wh3")
    Warehouse.createAndUse(spark, "graft_prune_spec", loc)
    try {
      import spark.implicits._
      val df = (1 to 20000).map(i => (i % 200, s"T${i % 7}", i.toDouble))
        .toDF("date", "ticker", "v")
      Warehouse.saveTable(spark, df, "clustered_t", Seq("date", "ticker"), numFiles = 8)
      val back = Warehouse.table(spark, "clustered_t")
      assert(back.count() == 20000)
      val allFiles = back.select(input_file_name()).distinct().count()
      val hitFiles = back.filter(col("date") === 5)
        .select(input_file_name()).distinct().count()
      assert(allFiles == 8, s"expected 8 files, got $allFiles")
      // bucketing: a point lookup on the leading key touches 1 file
      assert(hitFiles == 1, s"expected 1 file hit, got $hitFiles")
    } finally Warehouse.teardown(spark, "graft_prune_spec")
  }

  /** The bucket spec the catalog holds for `table`. */
  private def bucketSpec(table: String) = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    state.catalog.getTableMetadata(state.sqlParser.parseTableIdentifier(table)).bucketSpec.get
  }

  /** How many files of `table` hold each value of `key`. */
  private def filesPerKey(table: String, key: String): Seq[Long] =
    Warehouse.table(spark, table).select(col(key), input_file_name()).distinct()
      .groupBy(col(key)).count().collect().map(_.getLong(1)).toSeq

  /** Input bytes the tasks of `action`'s jobs read, from Spark's task metrics. */
  private def bytesRead(action: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val started, ended = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // the listener bus is asynchronous: a job's task ends arrive before its end
      val deadline = System.nanoTime() + 30000000000L
      while ((started.get == 0 || ended.get < started.get) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    bytes.get
  }

  test("saveTable: timestamp keys keep statistics, so a point read skips the other files") {
    val loc = tempDir("graft_wh7")
    Warehouse.createAndUse(spark, "graft_ts_spec", loc)
    try {
      import spark.implicits._
      val rnd = new scala.util.Random(3)
      val dates = (0 until 8).map(d =>
        java.sql.Timestamp.valueOf(f"2024-03-${d + 4}%02d 16:00:00.123456"))
      val rows = for (d <- dates; t <- 0 until 32)
        yield (d, s"T$t", Array.fill(2048)(rnd.nextGaussian()))
      Warehouse.saveTable(spark, rows.toDF("date", "ticker", "returns"), "ts_t",
        Seq("date", "ticker"), numFiles = 8)
      val back = Warehouse.table(spark, "ts_t")
      assert(bucketSpec("ts_t").numBuckets == 8)
      assert(filesPerKey("ts_t", "date").forall(_ == 1))
      // timestamps round-trip exactly, micros included
      assert(back.select($"date").distinct().as[java.sql.Timestamp].collect().sorted.toSeq
        === dates)
      // parquet's vectored reads run off the task thread, where Spark's
      // input metrics do not see them; plain reads are counted in full
      val vectored = "parquet.hadoop.vectored.io.enabled"
      spark.conf.set(vectored, "false")
      try {
        def scan(df: org.apache.spark.sql.DataFrame) =
          bytesRead(df.write.format("noop").mode("overwrite").save())
        val full = scan(back)
        val point = scan(back.filter($"date" === dates(3)))
        // one date per file: the point read pays for one file's data and
        // every file's footer; a second file's data would cross full / 4
        assert(point < full / 4, s"point read $point bytes of a full scan's $full")
      } finally spark.conf.unset(vectored)
    } finally Warehouse.teardown(spark, "graft_ts_spec")
  }

  test("saveTable writes uncompressed pages, and values round-trip exactly") {
    val loc = tempDir("graft_wh9")
    Warehouse.createAndUse(spark, "graft_codec_spec", loc)
    try {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val rnd = new scala.util.Random(9)
      val rows = for (d <- 0 until 6; t <- 0 until 4)
        yield (d, s"T$t", Array.fill(512)(rnd.nextGaussian()))
      Warehouse.saveTable(spark, rows.toDF("date", "ticker", "returns"), "codec_t",
        Seq("date", "ticker"), numFiles = 3)
      val back = Warehouse.table(spark, "codec_t")
      val conf = spark.sparkContext.hadoopConfiguration
      val codecs = back.inputFiles.toSeq.flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
        finally reader.close()
      }
      assert(codecs.nonEmpty)
      assert(codecs.forall(_.name == "UNCOMPRESSED"), codecs.distinct.mkString(", "))
      val got = back.as[(Int, String, Array[Double])].collect()
        .map(r => (r._1, r._2) -> r._3.toSeq.map(java.lang.Double.doubleToRawLongBits)).toMap
      assert(got === rows.map(r =>
        (r._1, r._2) -> r._3.toSeq.map(java.lang.Double.doubleToRawLongBits)).toMap)
    } finally Warehouse.teardown(spark, "graft_codec_spec")
  }

  test("saveTable leaves the session's timestamp type as it found it, also on failure") {
    val loc = tempDir("graft_wh8")
    Warehouse.createAndUse(spark, "graft_conf_spec", loc)
    val key = "spark.sql.parquet.outputTimestampType"
    def setting = spark.conf.getAll.get(key)
    val good = spark.range(10).select(col("id").as("k"))
    val bad = spark.range(10).select(col("id").as("k"),
      when(col("id") > 2, raise_error(lit("boom"))).otherwise(col("id")).as("v"))
    try {
      for (before <- Seq(None, Some("INT96"))) {
        before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        Warehouse.saveTable(spark, good, "conf_t", Seq("k"), numFiles = 2)
        assert(setting === before, "after a write")
        assert(intercept[Exception](Warehouse.saveTable(spark, bad, "conf_bad", Seq("k")))
          .toString.contains("boom"))
        assert(setting === before, "after a failed write")
      }
    } finally {
      spark.conf.unset(key)
      Warehouse.teardown(spark, "graft_conf_spec")
    }
  }

  test("incremental market ingest: upsert new days, VaR recomputes over the table") {
    // the reference's hinted incremental mode (application.yaml) spelled
    // with upsertTable: land a correction + new days into the stored
    // market table, recompute portfolio returns from the table
    val loc = tempDir("graft_wh5")
    Warehouse.createAndUse(spark, "graft_incr_spec", loc)
    try {
      import spark.implicits._
      val day0 = Sources.syntheticMarketData(spark, cfg.tickers, cfg.start,
        cfg.days, globalSeed = cfg.seed)
      Warehouse.saveTable(spark, day0.withColumn("ver", lit(1L)),
        "market_data", Seq("ticker", "date"))
      val before = Warehouse.table(spark, "market_data").count()

      // a corrected close for one existing (ticker, date) + one new day per ticker
      val lastDate = day0.agg(max($"date")).head().getTimestamp(0)
      val correction = day0.filter($"date" === lastDate)
        .withColumn("close", $"close" * 1.5)
      val newDay = day0.filter($"date" === lastDate)
        .withColumn("date", date_add($"date", 1).cast("timestamp"))
      Warehouse.upsertTable(spark, "market_data",
        correction.unionByName(newDay).withColumn("ver", lit(2L)),
        Seq("ticker", "date"), "ver")

      val after = Warehouse.table(spark, "market_data")
      assert(after.count() == before + cfg.tickers.size) // upsert + insert
      // the correction won (close scaled by 1.5 on the corrected day)
      val corrected = after.filter($"date" === lastDate).agg(sum($"close")).head().getDouble(0)
      val original = day0.filter($"date" === lastDate).agg(sum($"close")).head().getDouble(0)
      assert(math.abs(corrected - original * 1.5) < 1e-6)
      // downstream recompute runs off the stored table
      val rets = Compliance.portfolioReturns(after, VarPipeline.portfolio(spark, cfg))
      assert(rets.count() > 0)
    } finally Warehouse.teardown(spark, "graft_incr_spec")
  }

  test("upsertTable: latest version wins, updates shadow at equal version") {
    val loc = tempDir("graft_wh4")
    Warehouse.createAndUse(spark, "graft_upsert_spec", loc)
    try {
      import spark.implicits._
      val base = Seq(("k1", 1L, "old1"), ("k2", 1L, "old2"), ("k3", 5L, "keep3"))
        .toDF("k", "ver", "payload")
      Warehouse.saveTable(spark, base, "upsert_t", Seq("k"))
      val updates = Seq(
        ("k1", 2L, "new1"),  // newer version replaces
        ("k3", 5L, "tie3"),  // equal version: update wins
        ("k4", 1L, "ins4"))  // brand-new key inserts
        .toDF("k", "ver", "payload")
      Warehouse.upsertTable(spark, "upsert_t", updates, Seq("k"), "ver")
      val got = Warehouse.table(spark, "upsert_t")
        .select($"k", $"ver", $"payload").as[(String, Long, String)]
        .collect().sorted.toSeq
      assert(got == Seq(("k1", 2L, "new1"), ("k2", 1L, "old2"),
        ("k3", 5L, "tie3"), ("k4", 1L, "ins4")))
      // stale update does NOT regress the row
      val stale = Seq(("k1", 1L, "stale1")).toDF("k", "ver", "payload")
      Warehouse.upsertTable(spark, "upsert_t", stale, Seq("k"), "ver")
      val k1 = Warehouse.table(spark, "upsert_t").filter($"k" === "k1")
        .select($"payload").as[String].collect().toSeq
      assert(k1 == Seq("new1"))
    } finally Warehouse.teardown(spark, "graft_upsert_spec")
  }

  test("upsertTable with a qualified db.tbl name drops its staging table") {
    val loc = tempDir("graft_wh6")
    Warehouse.createAndUse(spark, "graft_qual_spec", loc)
    try {
      import spark.implicits._
      val base = Seq(("k1", 1L, "a")).toDF("k", "ver", "payload")
      Warehouse.saveTable(spark, base, "graft_qual_spec.q_t", Seq("k"))
      Warehouse.upsertTable(spark, "graft_qual_spec.q_t",
        Seq(("k1", 2L, "b")).toDF("k", "ver", "payload"), Seq("k"), "ver")
      val got = Warehouse.table(spark, "graft_qual_spec.q_t")
        .select($"payload").as[String].collect().toSeq
      assert(got == Seq("b"))
      // whole-name backticks would leave the staging table behind
      assert(!spark.catalog.tableExists("graft_qual_spec.q_t__upsert_staging"))
    } finally Warehouse.teardown(spark, "graft_qual_spec")
  }

  test("upsertTable keeps the target's layout: 8 buckets in, 8 out, each date in one file") {
    val loc = tempDir("graft_wh10")
    Warehouse.createAndUse(spark, "graft_upsert_layout_spec", loc)
    try {
      import spark.implicits._
      val rows = for (d <- 0 until 24; t <- 0 until 4) yield (d, s"T$t", d * 10.0 + t)
      Warehouse.saveTable(spark, rows.toDF("date", "ticker", "v"), "layout_u",
        Seq("date", "ticker"), numFiles = 8)
      Warehouse.upsertTable(spark, "layout_u",
        Seq((3, "T1", -1.0), (30, "T0", 300.0)).toDF("date", "ticker", "v"),
        Seq("date", "ticker"), "date")
      val spec = bucketSpec("layout_u")
      assert((spec.numBuckets, spec.bucketColumnNames, spec.sortColumnNames) ===
        (8, Seq("date"), Seq("date", "ticker")))
      val back = Warehouse.table(spark, "layout_u")
      assert(back.inputFiles.length <= 8)
      assert(filesPerKey("layout_u", "date").forall(_ == 1))
      assert(back.count() == rows.size + 1)
      assert(back.filter($"date" === 3 && $"ticker" === "T1").select($"v").as[Double]
        .collect().toSeq === Seq(-1.0))
    } finally Warehouse.teardown(spark, "graft_upsert_layout_spec")
  }

  test("saveTable'd trials: VarEngine plans no hash exchange, and answers bit for bit in ticker order") {
    val loc = tempDir("graft_wh11")
    Warehouse.createAndUse(spark, "graft_layout_spec", loc)
    try {
      import spark.implicits._
      import org.apache.spark.ml.linalg.Vectors
      val rnd = new scala.util.Random(10)
      val n = 400
      val dates = (0 until 16).map(d =>
        java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00"))
      val tickers = (0 until 6).map(t => s"T$t")
      val slices = Seq("MINING", "BANKING", "ENERGY")
      val industry = tickers.zipWithIndex.map { case (t, i) => t -> slices(i % 3) }.toMap
      val weight = tickers.zipWithIndex.map { case (t, i) => t -> (i + 1) / 21.0 }.toMap
      val pf = tickers.map(t => (t, industry(t), weight(t))).toDF("ticker", "industry", "weight")
      val rows = for (d <- dates; t <- tickers)
        yield (d, t, Vectors.dense(Array.fill(n)(rnd.nextGaussian())))
      val mem = spark.createDataFrame(spark.sparkContext.parallelize(rnd.shuffle(rows), 3))
        .toDF("date", "ticker", "returns")
      Warehouse.saveTable(spark, mem, "layout_t", Seq("date", "ticker"), numFiles = 8)
      val stored = Warehouse.table(spark, "layout_t")

      // (var, es) of a date's weighted sum over the tickers `in`, summed in ticker order
      def risk(d: java.sql.Timestamp, in: String => Boolean = _ => true): (Double, Double) = {
        val sum = new Array[Double](n)
        for ((_, t, v) <- rows.filter(r => r._1 == d && in(r._2)).sortBy(_._2); k <- 0 until n)
          sum(k) += weight(t) * v(k)
        VarMath.riskOf(sum, 99)
      }
      val at = dates(5)
      val want: Map[String, Map[Seq[Any], Seq[Double]]] = Map(
        "pointInTimeVar" -> Map(Seq(at) -> Seq(risk(at)._1)),
        "varTimeSeries" -> dates.map { d =>
          val (v, es) = risk(d)
          Seq(d) -> Seq(v, es)
        }.toMap,
        "riskExposure" -> (for (d <- dates; s <- slices) yield {
          val (v, es) = risk(d, industry(_) == s)
          Seq(d, s) -> Seq(v, es)
        }).toMap,
        "riskContribution" -> dates.map { d =>
          val vars = slices.map(s => risk(d, industry(_) == s)._1)
          Seq(d) -> vars.map(_ / vars.reduce(_ + _))
        }.toMap)
      def queries(trials: DataFrame): Seq[(String, DataFrame)] = Seq(
        "pointInTimeVar" -> VarEngine.pointInTimeVar(trials, pf, Some(at)),
        "varTimeSeries" -> VarEngine.varTimeSeries(trials, pf),
        "riskExposure" -> VarEngine.riskExposure(trials, pf, "industry"),
        "riskContribution" -> VarEngine.riskContribution(trials, pf, "industry", slices))
      /** Each row's non-double columns -> its double columns. */
      def answers(q: DataFrame): Map[Seq[Any], Seq[Double]] = q.collect().map { r =>
        val (vs, ks) = r.toSeq.partition(_.isInstanceOf[Double])
        ks -> vs.map(_.asInstanceOf[Double])
      }.toMap
      def bits(m: Map[Seq[Any], Seq[Double]]) =
        m.map { case (k, vs) => k -> vs.map(java.lang.Double.doubleToRawLongBits) }

      for (((name, q), (_, fromMem)) <- queries(stored).zip(queries(mem))) {
        val got = answers(q)
        // each group is summed in one partition, in the file's (date, ticker) order
        assert(bits(got) === bits(want(name)), name)
        val plan = q.queryExecution.executedPlan
        val hashed = collect(plan) {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }
        assert(hashed.isEmpty, s"$name plans a hash exchange:\n$plan")
        // the in-memory trials merge partial sums in another order
        val mine = answers(fromMem)
        assert(mine.keySet === got.keySet, name)
        for ((k, vs) <- got; (a, b) <- vs.zip(mine(k)))
          assert(math.abs(a - b) <= 1e-12 * math.abs(b), s"$name $k: $a vs $b")
        if (name == "pointInTimeVar") {
          val scan = collect(plan) { case s: FileSourceScanExec => s }.head
          assert(scan.metadata.get("SelectedBucketsCount") === Some("1 out of 8"), s"$plan")
          // Spark's numFiles metric counts the listing; the read opens one file
          val opened = scan.inputRDDs().head.partitions
            .map(_.asInstanceOf[FilePartition].files.length).sum
          assert(opened === 1)
        }
      }
    } finally Warehouse.teardown(spark, "graft_layout_spec")
  }
}
