package riskbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.risk._

/** Answer tables keyed by row key, then column. */
object Answers {
  type Table = Map[String, Map[String, Double]]

  def of(rows: Array[Row], keys: Seq[String]): Table =
    rows.map { r =>
      val names = r.schema.fieldNames
      val key = keys.map(k => String.valueOf(r.get(names.indexOf(k)))).mkString("|")
      key -> names.indices.filterNot(i => keys.contains(names(i))).flatMap { i =>
        r.get(i) match {
          case null => Some(names(i) -> Double.NaN)
          case n: java.lang.Number => Some(names(i) -> n.doubleValue)
          case _ => None
        }
      }.toMap
    }.toMap

  def sum(t: Table, col: String): Double =
    t.valuesIterator.flatMap(_.get(col)).filterNot(_.isNaN).sum

  /** Tab-separated `kind key column value` lines, values round-tripping. */
  def write(path: String, tables: Map[String, Table]): Unit = {
    val lines = for {
      (kind, t) <- tables.toSeq.sortBy(_._1)
      (k, cols) <- t.toSeq.sortBy(_._1)
      (c, v) <- cols.toSeq.sortBy(_._1)
    } yield s"$kind\t$k\t$c\t${java.lang.Double.toString(v)}"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def read(path: String): Map[String, Table] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().map(_.split('\t'))
      .toSeq.groupBy(_(0)).map { case (kind, ls) =>
        kind -> ls.groupBy(_(1)).map { case (k, cs) =>
          k -> cs.map(c => c(2) -> java.lang.Double.parseDouble(c(3))).toMap
        }
      }
}

/** The reference-scale configuration every workload shares. */
object Scale {
  val cfg: VarPipeline.Config = VarPipeline.Config(
    tickers = (1 to 27).map(i => f"TICK$i%02d"),
    indicators = Seq("SP500", "NYSE", "OIL", "TREASURY", "DOWJONES"),
    days = 521, runs = 32000)
  val table = "monte_carlo_trials"
  val slices: Map[String, Seq[String]] = Map(
    "country" -> Seq("PERU", "CHILE", "MEXICO"),
    "industry" -> Seq("MINING", "BANKING", "ENERGY", "RETAIL"))
}

/**
 * Built once per source version, beside the compiled classes: the stored
 * `monte_carlo_trials` table that var-serve and var-refresh start from,
 * written by `VarPipeline.materializeHandoff` (notebook 03's hand-off), and
 * the expected answer of every var-serve query computed over the
 * in-memory `VarPipeline.sharedTrials`, so each served answer is checked
 * against the table before it was stored.
 */
object Fixture {
  def build(a: Main.Args): Unit = {
    val out = a("out")
    val spark = Main.session(a.int("cores"), a("work"))
    val cfg = Scale.cfg
    Warehouse.createAndUse(spark, "riskbench_fixture", s"$out/warehouse")
    VarPipeline.materializeHandoff(spark, cfg,
      Map("volatility" -> "market_volatility", "mc_trials" -> Scale.table))
    val mem = VarPipeline.sharedTrials(spark, cfg)
    val pf = VarPipeline.portfolio(spark, cfg)
    val stocks = Sources.syntheticMarketData(spark, cfg.tickers, cfg.start, cfg.days,
      globalSeed = cfg.seed)
    val series = VarEngine.varTimeSeries(mem, pf)
    val tables = Map(
      "series" -> Answers.of(series.collect(), Seq("date")),
      "compliance" -> Answers.of(VarEngine.complianceReport(stocks, pf,
        series.select(col("date"), col("var_99"))).collect(), Seq("date"))) ++
      Scale.slices.flatMap { case (s, values) => Seq(
        s"exposure_$s" -> Answers.of(VarEngine.riskExposure(mem, pf, s).collect(), Seq("date", s)),
        s"contribution_$s" -> Answers.of(
          VarEngine.riskContribution(mem, pf, s, values).collect(), Seq("date")))
      }
    val dates = tables("series").size
    require(dates * cfg.tickers.size == Warehouse.table(spark, Scale.table).count(),
      s"stored table does not hold $dates dates x ${cfg.tickers.size} tickers")
    Answers.write(s"$out/expected.tsv", tables)
    println(s"fixture: $dates run dates, ${tables.values.map(_.size).sum} expected rows")
    spark.stop()
  }
}
