package riskbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.risk._

/** One op of a workload's sequence: its kind and its run-date index. */
final case class Op(kind: String, date: Int = -1)

/** A finished op: what it reported (for the fingerprint) and its output
 * check, which the runner calls after the op's timed interval. */
final case class Done(var99: Double, es99: Double, check: () => Seq[String],
    release: () => Unit = () => ())

abstract class Workload(val spark: SparkSession, val cores: Int, fixture: String) {
  import Scale.cfg
  val name: String
  /** Ops in the fingerprint: the first ones of every run at any length. */
  val fingerprintOps: Int
  /** Builds the workload's state; the same fixed sequence on every run. */
  def setup(t: Tracer): Unit
  /** Fixed (seed-independent) ops run before timing starts. */
  def warmup: Seq[Op]
  /** The next unit of the seeded op sequence; the timed phase stops only
   * between units, so every run holds whole units of the mix. */
  def cycle(rng: Random): Seq[Op]
  def run(op: Op, t: Tracer): Done

  lazy val pf: DataFrame = VarPipeline.portfolio(spark, cfg).cache()
  lazy val pfWeights: Map[String, Double] =
    pf.select("ticker", "weight").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  var runDates: IndexedSeq[Timestamp] = IndexedSeq.empty

  protected def vectors(rows: Array[Row]): Map[String, Array[Double]] = {
    require(rows.map(_.getAs[String]("ticker")).distinct.length == rows.length,
      "duplicate (date, ticker) vectors")
    rows.map(r => r.getAs[String]("ticker") -> r.getAs[Vector]("returns").toArray).toMap
  }

  /** simulate → cross join the portfolio → score → trial vectors for the
   * as-of vol rows in `atRun` (the notebook 03 chain, one date per op). */
  protected def monteCarlo(t: Tracer, atRun: DataFrame, weights: DataFrame): DataFrame = {
    val sim = t.layer("MonteCarlo.simulate")(
      MonteCarlo.simulateMarket(atRun, cfg.runs, numPartitions = cores))
    val scored = t.layer("Training.score")(
      Training.score(sim.crossJoin(broadcast(pf.select(col("ticker")))), weights,
        "ticker", "features", "return")
        .select(col("date"), col("ticker"), col("trial_id"), col("return")))
    t.layer("MonteCarlo.collect")(MonteCarlo.collectTrialVectors(scored))
  }

  /** Portfolio VaR99 + ES99 of the given trial vectors (notebook 04). */
  protected def portfolioRisk(t: Tracer, trials: DataFrame): (Double, Double) = {
    val r = t.call("VarAggregation", (a: Array[Row]) => a.length.toLong)(
      VarAggregation.varByGroup(VarAggregation.weightedTrials(trials, pf),
        Seq("date"), cfg.confidence, withShortfall = true).collect())
    require(r.length == 1, s"${r.length} portfolio rows for one date")
    (r(0).getAs[Double]("var_99"), r(0).getAs[Double]("es_99"))
  }

  /** Expected trial vectors from a date's vol row and the OLS weights. */
  protected def expectedFrom(vol: Row, weights: Map[String, Array[Double]]): Map[String, Array[Double]] =
    Checks.expectedVectors(vol.getAs[collection.Seq[Double]]("vol_avg").toArray,
      vol.getAs[collection.Seq[collection.Seq[Double]]]("vol_cov").map(_.toArray).toArray,
      weights, cfg.runs)

  protected def weightsOf(df: DataFrame): Map[String, Array[Double]] =
    df.collect().map(r => r.getAs[String]("ticker") -> r.getAs[collection.Seq[Double]]("weights").toArray).toMap

  protected def asOf(dates: DataFrame, vol: DataFrame): DataFrame =
    AsOfJoin.asofJoinBroadcast(dates, vol.select(col("date"), col("vol_avg"), col("vol_cov")), "date")
      .filter(col("right_vol_cov").isNotNull)
      .select(col("date"), col("right_vol_avg").as("vol_avg"), col("right_vol_cov").as("vol_cov"))

  protected def dateRows(ds: Seq[Timestamp]): DataFrame = {
    import spark.implicits._
    ds.toDF("date")
  }

  /** The run dates `VarPipeline.runDates` gave the fixture. */
  protected def loadRunDates(): Unit =
    runDates = Answers.read(s"$fixture/expected.tsv")("series").keys.toIndexedSeq.sorted
      .map(s => Timestamp.valueOf(s))

  /** The stored trials table, copied from the build's fixture into this
   * run's private warehouse with the program's own clustered write. */
  protected def loadWarehouse(t: Tracer, dbDir: String): Unit = {
    Warehouse.createAndUse(spark, "riskbench", dbDir)
    t.call("Warehouse.write")(Warehouse.saveTable(spark,
      spark.read.parquet(s"$fixture/warehouse/${Scale.table}"),
      Scale.table, Seq("date", "ticker"), numFiles = 8))
  }

  /** Notebooks 01→02 for one market: sources, returns, 90-day volatility,
   * as-of joined training rows and per-ticker OLS. Returns (vol, weights),
   * composed as `VarPipeline.marketVolatility` and `trainedWeights` do. */
  protected def etl(t: Tracer, c: VarPipeline.Config): (DataFrame, DataFrame) = {
    val market = t.layer("Sources")(Sources.syntheticMarketData(spark, c.tickers, c.start,
      c.days, globalSeed = c.seed))
    val ind = t.layer("Sources")(Sources.syntheticIndicators(spark, c.indicators, c.start,
      c.days, c.seed + 1))
    val indRets = t.layer("Returns")(Returns.indicatorLogReturns(ind, "date", c.indicators))
    val stockRets = t.layer("Returns")(Returns.dailyLogReturns(market)
      .select(col("ticker"), col("date"), col("return")))
    val vol = t.layer("Volatility")(Volatility.rollingStatsChunked(
      indRets.select(col("date"), col("features")), windowDays = c.volWindowDays,
      chunkDays = math.max(365, c.volWindowDays)))
    val joined = t.layer("AsOfJoin")(AsOfJoin
      .asofJoinBroadcast(stockRets, indRets.select(col("date"), col("features")), "date")
      .filter(col("right_features").isNotNull))
    (vol, t.layer("Training.train")(
      Training.trainModels(joined, "ticker", "right_features", "return")))
  }
}

/** Notebooks 03→04 for one run date per op: simulate, score, trial
 * vectors, portfolio VaR/ES. Volatility, OLS and the as-of vol rows are
 * built once in setup. */
final class VarBatch(spark: SparkSession, cores: Int, fixture: String)
    extends Workload(spark, cores, fixture) {
  import Scale.cfg
  val name = "var-batch"
  val fingerprintOps = 4
  private var weights: DataFrame = _
  private var weightMap: Map[String, Array[Double]] = _
  private var volRows: Map[Timestamp, Row] = _
  private var volSchema: org.apache.spark.sql.types.StructType = _

  def setup(t: Tracer): Unit = {
    pf.count()
    loadRunDates()
    val (vol, w) = etl(t, cfg)
    weights = w.cache()
    val atRun = t.layer("AsOfJoin")(asOf(dateRows(runDates), vol))
    weightMap = weightsOf(weights)
    volRows = atRun.collect().map(r => r.getAs[Timestamp]("date") -> r).toMap
    volSchema = atRun.schema
    require(volRows.size == runDates.size, s"${volRows.size} as-of vol rows for ${runDates.size} dates")
  }

  def warmup: Seq[Op] = (0 until 10).map(i => Op("date", i * 17 % runDates.size))

  private var queue = List.empty[Int]

  /** One date per unit, each pass over the run dates in a seeded order. */
  def cycle(rng: Random): Seq[Op] = {
    if (queue.isEmpty) queue = rng.shuffle(runDates.indices.toList)
    val d = queue.head
    queue = queue.tail
    Seq(Op("date", d))
  }

  def run(op: Op, t: Tracer): Done = {
    val d = runDates(op.date)
    // the date's vol row as a local relation: every op then plans the same
    // code, where a date literal in a filter would compile code per date
    val day = spark.createDataFrame(java.util.Collections.singletonList(volRows(d)), volSchema)
    val trials = monteCarlo(t, day, weights).persist()
    val rows = t.call("MonteCarlo.collect", (a: Array[Row]) => a.length.toLong)(trials.collect())
    val (v, es) = portfolioRisk(t, trials)
    Done(v, es, () => {
      val got = vectors(rows)
      Checks.trialVectors(got, cfg.tickers, expectedFrom(volRows(d), weightMap), cfg.runs) ++
        Checks.risk((v, es), Checks.portfolioRisk(got, pfWeights, cfg.runs))
    }, () => { trials.unpersist(); () })
  }
}

/** Notebook 04/05 queries over the stored trials table. */
final class VarServe(spark: SparkSession, cores: Int, fixture: String, dbDir: String)
    extends Workload(spark, cores, fixture) {
  import Scale.cfg
  val name = "var-serve"
  val fingerprintOps = 6
  private var expected: Map[String, Answers.Table] = _
  private var stocks: DataFrame = _

  def setup(t: Tracer): Unit = {
    pf.count()
    loadRunDates()
    loadWarehouse(t, dbDir)
    expected = Answers.read(s"$fixture/expected.tsv")
    stocks = t.layer("Sources")(Sources.syntheticMarketData(spark, cfg.tickers, cfg.start,
      cfg.days, globalSeed = cfg.seed)).cache()
    stocks.count()
  }

  private val kinds = Seq("point", "series", "exposure:country", "exposure:industry",
    "contribution:industry", "compliance")

  /** One op of every kind, in a fixed order. */
  def warmup: Seq[Op] = kinds.map {
    case "point" => Op("point", runDates.size / 2)
    case k => Op(k)
  }

  /** Every query kind once, in a seeded order; the point query at a
   * seeded date. */
  def cycle(rng: Random): Seq[Op] = rng.shuffle(kinds).map {
    case "point" => Op("point", rng.nextInt(runDates.size))
    case k => Op(k)
  }

  def run(op: Op, t: Tracer): Done = {
    val read = t.layer("Warehouse.read") {
      val all = Warehouse.table(spark, Scale.table)
      if (op.kind == "point") all.filter(col("date") === lit(runDates(op.date))) else all
    }
    def engine(q: => DataFrame) = t.call("VarEngine", (a: Array[Row]) => a.length.toLong)(q.collect())
    val (got, want) = op.kind.split(':') match {
      case Array("point") =>
        val key = runDates(op.date).toString
        (Answers.of(engine(VarEngine.pointInTimeVar(read, pf, Some(runDates(op.date)))), Seq("date")),
          Map(key -> Map("var_99" -> expected("series")(key)("var_99"))))
      case Array("series") =>
        (Answers.of(engine(VarEngine.varTimeSeries(read, pf)), Seq("date")), expected("series"))
      case Array("exposure", s) =>
        (Answers.of(engine(VarEngine.riskExposure(read, pf, s)), Seq("date", s)),
          expected(s"exposure_$s"))
      case Array("contribution", s) =>
        (Answers.of(engine(VarEngine.riskContribution(read, pf, s, Scale.slices(s))), Seq("date")),
          expected(s"contribution_$s"))
      case Array("compliance") =>
        val series = t.layer("VarEngine")(VarEngine.varTimeSeries(read, pf)
          .select(col("date"), col("var_99")))
        val rows = t.call("Compliance", (a: Array[Row]) => a.length.toLong)(
          VarEngine.complianceReport(stocks, pf, series).collect())
        (Answers.of(rows, Seq("date")), expected("compliance"))
    }
    Done(Answers.sum(got, "var_99"), Answers.sum(got, "es_99"),
      () => Checks.table(op.kind, got, want))
  }
}

/** Restates one run date per op: new market for that day's seed, the
 * ETL and OLS chain, one date of Monte Carlo, an upsert of its 27 vectors
 * into the stored table, and a read-back of its VaR. */
final class VarRefresh(spark: SparkSession, cores: Int, fixture: String, dbDir: String)
    extends Workload(spark, cores, fixture) {
  import Scale.cfg
  val name = "var-refresh"
  val fingerprintOps = 1
  private var rowsStored = 0L

  def setup(t: Tracer): Unit = {
    pf.count()
    loadRunDates()
    loadWarehouse(t, dbDir)
    rowsStored = Warehouse.table(spark, Scale.table).count()
  }

  def warmup: Seq[Op] = Seq(Op("date", 3), Op("date", 29), Op("date", 45))

  def cycle(rng: Random): Seq[Op] = Seq(Op("date", rng.nextInt(runDates.size)))

  /** The restated day's market seed: a function of the date alone, so a
   * date restated twice stores the same vectors. */
  private def daySeed(i: Int): Long = cfg.seed * 1000L + 1 + i

  def run(op: Op, t: Tracer): Done = {
    val d = runDates(op.date)
    val (vol, trained) = etl(t, cfg.copy(seed = daySeed(op.date)))
    val atRun = t.layer("AsOfJoin")(asOf(dateRows(Seq(d)), vol)).persist()
    val weights = trained.persist()
    val trials = monteCarlo(t, atRun, weights).persist()
    val rows = t.call("MonteCarlo.collect", (a: Array[Row]) => a.length.toLong)(trials.collect())
    val (v, es) = portfolioRisk(t, trials)
    t.call("Warehouse.write")(
      Warehouse.upsertTable(spark, Scale.table, trials, Seq("date", "ticker"), "date"))
    val back = t.call("Warehouse.read", (a: Array[Row]) => a.length.toLong)(
      VarEngine.pointInTimeVar(Warehouse.table(spark, Scale.table), pf, Some(d)).collect())
    Done(v, es, () => {
      val got = vectors(rows)
      val stored = Warehouse.table(spark, Scale.table).count()
      Checks.trialVectors(got, cfg.tickers,
        expectedFrom(atRun.collect().head, weightsOf(weights)), cfg.runs) ++
        Checks.risk((v, es), Checks.portfolioRisk(got, pfWeights, cfg.runs)) ++
        (if (back.length == 1 && Checks.close(back(0).getAs[Double]("var_99"), v)) Nil
         else Seq(s"read-back VaR ${back.map(_.getAs[Double]("var_99")).toSeq}, wrote $v")) ++
        (if (stored == rowsStored) Nil else Seq(s"table holds $stored rows, want $rowsStored"))
    }, () => { Seq(trials, weights, atRun).foreach(_.unpersist()); () })
  }
}
