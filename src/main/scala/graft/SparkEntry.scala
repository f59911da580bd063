package graft

import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.risk.{AsOfJoin, Calendar, MonteCarlo, Returns, Training, VarPipeline, functions => R}
import graft.data.{Dedup, Multimodal, Pq, Similarity, TextFunctions => T}

/**
 * Driver contract — one [[SparkEntry.Query]] in [[SparkEntry.registry]]
 * per implemented operator from SURVEY.md §2: its name, the function that
 * builds its Spark result and, where ANSI-expressible, the DuckDB SQL that
 * checks it, written in the same entry (seeded Monte-Carlo stays
 * rows-only; SURVEY §7.5).
 * `queries` and `oracleSql(dir)` are views over that one list, so an oracle
 * cannot drift from its query or outlive it.
 *
 * The registry and its views are `lazy val`s on purpose: the oracle
 * strings interpolate helper `val`s declared further down (`tokSql`,
 * `lexiconTerms`, `stageRoot`, ...), and object `val`s initialize in
 * textual order, so an eager registry would splice in `null`s.
 *
 * Float policy: every floating aggregate is `round`ed identically on both
 * sides so summation-order ULP noise can't break the driver's hash compare.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val deletedAtExit = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `dir`, which is deleted with everything in it when the JVM exits. */
  private def deleteAtExit(dir: String): String = {
    if (deletedAtExit.add(dir))
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)))
    dir
  }

  /** events.ts is parquet TIMESTAMP(NANOS); with
   * `spark.sql.legacy.parquet.nanosAsLong=true` it loads as long nanos —
   * normalize to a micros TIMESTAMP (UTC session). */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: epoch nanos (~1.7e18) exceed a double's
        // exact range, so float division shifts the micros by ±1
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }

  /** Fixed q188 lexicon: overlapping ("an"/"ana") and nested
   * ("an" inside "and") terms prove the Aho-Corasick all-occurrence
   * semantics against the oracle's per-term substring count. */
  private val lexiconTerms = Seq(
    "the", "and", "ing", "ent", "data", "an", "ana", "tion")

  /** q188 oracle spelling of [[lexiconTerms]] as a DuckDB list literal. */
  private def lexiconSqlList: String =
    lexiconTerms.map(t => s"'$t'").mkString("[", ", ", "]")

  /** Pairwise preference stream for q182/q186: consecutive same-user
   * events compared, higher `value` wins; ties and same-type pairs
   * dropped. Second-grain ordering + event_id tie-break (the nanos→
   * micros normalization must not create ties DuckDB's nano order
   * lacks). `first` is the earlier-presented side. */
  private def eventComparisons(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    events(s, dir)
      .withColumn("ts_s", col("ts").cast("long"))
      .withColumn("pt", lag(col("event_type"), 1).over(w))
      .withColumn("pv", lag(col("value"), 1).over(w))
      .filter(col("pt").isNotNull && col("event_type") =!= col("pt") &&
        col("value") =!= col("pv"))
      .select(col("pt").as("first"), col("event_type").as("second"),
        when(col("value") > col("pv"), col("event_type"))
          .otherwise(col("pt")).as("winner"),
        when(col("value") > col("pv"), col("pt"))
          .otherwise(col("event_type")).as("loser"))
  }

  /** Synthetic crawl page for the link-graph queries (q163/q163b/q164):
   * deterministic doc_id arithmetic fans links across an absolute
   * cross-host target, a protocol-relative CDN host, a relative local
   * path (resolves to the page's own host), and a mailto (dropped as a
   * non-crawl scheme); anchor text carries an entity + inner tag. */
  private def linkHtml: Column = concat(
    lit("<body><p>"), col("text"), lit("</p><ul><li><a href='https://h"),
    (col("doc_id") % 7).cast("string"),
    lit(".example.org/p?x=1'>Page <b>"),
    (col("doc_id") % 7).cast("string"),
    lit("</b></a></li><li><a href=\"//cdn"),
    (col("doc_id") % 3).cast("string"),
    lit(".example.net/lib.js\">CDN &amp; assets</a></li>" +
      "<li><a href='/local/"),
    col("doc_id").cast("string"),
    lit("'>Local page</a></li>" +
      "<li><a href='mailto:a@b.example'>Mail us</a></li></ul></body>"))

  /** Flagship: full Monte-Carlo VaR time-series on the synthetic market
   * (smoke-checked rows>0 by the driver). */
  def entry(spark: SparkSession): DataFrame =
    VarPipeline.portfolioVar(spark,
      VarPipeline.Config(runs = 200, days = 120,
        tickers = (1 to 4).map(i => s"TICK0$i")))

  /** One driver query: `build(session, sfDir)` is its result, and
   * `oracle` the DuckDB SQL over the same parquet that must equal it. */
  private[graft] final case class Query(name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String] = None)

  /** `qs` itself, or a failure naming every name declared twice (a `Map`
   * would silently keep the last of two equal keys). */
  private[graft] def unique(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Each oracle as run over the parquet of `dir`: a staged-encode
   * oracle reads the stage its query wrote at that scale ([[StageScale]]
   * becomes `dir`'s basename). */
  def oracleSql(dir: String): Map[String, String] = {
    val sf = new java.io.File(dir).getName
    registry.flatMap(q => q.oracle.map(q.name -> _.replace(StageScale, sf))).toMap
  }

  private[graft] lazy val registry: Seq[Query] = unique(Seq(
    // ---------------------------------------------------- relational core
    Query("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty,
        |round(sum(l_extendedprice),4) AS sum_base,
        |round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc,
        |round(avg(l_quantity),6) AS avg_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q02_filter_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |round(l_extendedprice*(1-l_discount),4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("q03_join_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("r_name"), col("n_name"))
    }, Some(
      """SELECT r_name, n_name,
        |round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),
    Query("q04_cross_join", (s, dir) => {
      t(s, dir, "region")
        .crossJoin(t(s, dir, "orders").select(col("o_orderstatus")).distinct())
        .select(col("r_name"), col("o_orderstatus"))
        .orderBy(col("r_name"), col("o_orderstatus"))
    }, Some(
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin)),
    // ------------------------------------------- windows / returns (W1/P6)
    Query("q05_window_returns", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"), col("ts"), col("value"))
      Returns.dailyLogReturns(ev, "user_id", "ts", "value", "ret", Seq("event_id"))
        .groupBy(col("user_id"))
        .agg(round(sum(col("ret")), 6).as("sum_ret"), count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    }, Some(
      """SELECT user_id, round(sum(ln(value/pv)),6) AS sum_ret, count(*) AS n
        |FROM (SELECT user_id, value,
        |  first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS pv FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("q06_rolling_window", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate").cast("long"))
        .rangeBetween(-90L * 86400L, 0L)
      // exact integer cents: float summation order and round-half rules
      // differ between engines, so keep the window outputs integral
      t(s, dir, "orders")
        .withColumn("__cents", round(col("o_totalprice") * 100, 0).cast("long"))
        .withColumn("rolling_sum_cents", sum(col("__cents")).over(w))
        .withColumn("rolling_n", count(lit(1)).over(w))
        .select(col("o_orderkey"), col("rolling_sum_cents"), col("rolling_n"))
        .orderBy(col("o_orderkey"))
    }, Some(
      """SELECT o_orderkey,
        |CAST(sum(cents) OVER w AS BIGINT) AS rolling_sum_cents,
        |count(*) OVER w AS rolling_n
        |FROM (SELECT o_orderkey, o_orderpriority, o_orderdate,
        |      CAST(round(o_totalprice*100,0) AS BIGINT) AS cents FROM orders)
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |  RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin)),
    Query("q08_rolling_global_chunked", (s, dir) => {
      // UNPARTITIONED trailing window via the chunk+overlap scale path
      // (graft.risk.Windows) — oracle is the plain global RANGE window,
      // proving the parallel plan computes identical results
      val o = t(s, dir, "orders")
        .withColumn("__cents", round(col("o_totalprice") * 100, 0).cast("long"))
      graft.risk.Windows.chunkedTrailingRange(o, "o_orderdate", 90, 365,
          ("rolling_sum_cents", sum(col("__cents"))), ("rolling_n", count(lit(1))))
        .select(col("o_orderkey"), col("rolling_sum_cents"), col("rolling_n"))
        .orderBy(col("o_orderkey"))
    }, Some(
      """SELECT o_orderkey,
        |CAST(sum(cents) OVER w AS BIGINT) AS rolling_sum_cents,
        |count(*) OVER w AS rolling_n
        |FROM (SELECT o_orderkey, o_orderdate,
        |      CAST(round(o_totalprice*100,0) AS BIGINT) AS cents FROM orders)
        |WINDOW w AS (ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |  RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin)),
    // ---------------------------------------------- VaR math (V1/V2/V3)
    Query("q07_var_es", (s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(collect_list(col("value")).as("sims"))
        .select(col("event_type"),
          round(R.varAt(col("sims"), lit(99.0)), 6).as("var_99"),
          round(R.varAt(col("sims"), lit(95.0)), 6).as("var_95"),
          round(R.shortfallAt(col("sims"), lit(95.0)), 6).as("es_95"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH q AS (SELECT event_type, quantile_cont(value, 0.01) AS v99,
        |  quantile_cont(value, 0.05) AS v95 FROM events GROUP BY 1)
        |SELECT e.event_type, round(max(q.v99),6) AS var_99,
        |  round(max(q.v95),6) AS var_95,
        |  round(avg(CASE WHEN e.value <= q.v95 THEN e.value END),6) AS es_95
        |FROM events e JOIN q USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),
    Query("q09_breach_zones", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-7L * 86400L, 0L)
      events(s, dir)
        .withColumn("trailing", collect_list(col("value")).over(w))
        .withColumn("b", R.breachCount(col("trailing"), lit(0.3)))
        .withColumn("zone", R.baselZone(col("b")))
        .groupBy(col("user_id"))
        .agg(sum(col("b")).as("sum_breaches"), sum(col("zone")).as("sum_zone"))
        .orderBy(col("user_id"))
    }, Some(
      """SELECT user_id, CAST(sum(b) AS BIGINT) AS sum_breaches,
        |CAST(sum(CASE WHEN b<=3 THEN 0 WHEN b<10 THEN 1 ELSE 2 END) AS BIGINT) AS sum_zone
        |FROM (SELECT user_id,
        |  sum(CASE WHEN value <= 0.3 THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS b FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // ------------------------------------------------- calendar ffill (J6)
    Query("q10_calendar_ffill", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("ts"), col("value"))
      Calendar.reindexFfill(ev, Seq("user_id"), "ts", Seq("value"))
        .groupBy(col("user_id"))
        .agg(count(col("value")).as("n_filled"), round(sum(col("value")), 4).as("sum_v"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH bounds AS (SELECT CAST(min(ts) AS DATE) lo, CAST(max(ts) AS DATE) hi FROM events),
        |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
        |users AS (SELECT DISTINCT user_id FROM events),
        |daily AS (SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS v FROM events GROUP BY 1,2),
        |ffill AS (SELECT u.user_id, d.day,
        |  last_value(dv.v IGNORE NULLS) OVER (PARTITION BY u.user_id ORDER BY d.day) AS v
        |  FROM users u CROSS JOIN days d
        |  LEFT JOIN daily dv ON dv.user_id=u.user_id AND dv.day=d.day)
        |SELECT user_id, count(v) AS n_filled, round(sum(v),4) AS sum_v
        |FROM ffill GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // ------------------------------------- features + model (P13/P14/A2)
    Query("q11_nonlinear_features", (s, dir) => {
      val f = R.nonLinearFeatures(array(col("l_discount") - 0.05, col("l_tax") - 0.04))
      t(s, dir, "lineitem")
        .withColumn("f", f)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(element_at(col("f"), 1)), 6).as("f0"),
          (1 until 8).map(i => round(sum(element_at(col("f"), i + 1)), 6).as(s"f$i")): _*)
        .orderBy(col("l_returnflag"))
    }, Some(
      """SELECT l_returnflag,
        |round(sum(x1),6) AS f0, round(sum(sign(x1)*x1*x1),6) AS f1,
        |round(sum(x1*x1*x1),6) AS f2, round(sum(sign(x1)*sqrt(abs(x1))),6) AS f3,
        |round(sum(x2),6) AS f4, round(sum(sign(x2)*x2*x2),6) AS f5,
        |round(sum(x2*x2*x2),6) AS f6, round(sum(sign(x2)*sqrt(abs(x2))),6) AS f7
        |FROM (SELECT l_returnflag, l_discount-0.05 AS x1, l_tax-0.04 AS x2 FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("q12_group_ols", (s, dir) => {
      import s.implicits._
      // sum-decomposable OLS Aggregator: map-side partial aggregation,
      // fixed-size normal-equation buffers per group (vs mapGroups
      // materializing every group's rows post-shuffle)
      val rows = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("ticker"),
          array(col("l_quantity")).cast("array<double>").as("features"),
          col("l_extendedprice").as("label"))
        .as[Training.TrainRow]
      rows.groupByKey(_.ticker)
        .agg(new Training.OlsAggregator(1).toColumn.name("w"))
        .toDF("l_returnflag", "w")
        .select(col("l_returnflag"),
          round(element_at(col("w"), 1), 2).as("intercept"),
          round(element_at(col("w"), 2), 4).as("slope"))
        .orderBy(col("l_returnflag"))
    }, Some(
      """SELECT l_returnflag,
        |round(regr_intercept(l_extendedprice, l_quantity),2) AS intercept,
        |round(regr_slope(l_extendedprice, l_quantity),4) AS slope
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // ------------------------------------------------------ as-of join (J5)
    Query("q13_asof_join", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      AsOfJoin.asofJoin(clicks, purch, "ts", Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(count(col("right_pv")).as("n_matched"),
          round(sum(col("right_pv")), 4).as("sum_pv"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type='click'),
        |purch AS (SELECT user_id, ts, max(value) AS pv FROM events
        |  WHERE event_type='purchase' GROUP BY 1,2)
        |SELECT c.user_id, count(p.pv) AS n_matched, round(sum(p.pv),4) AS sum_pv
        |FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),
    // forward / nearest AS-OF directions (merge_asof completions): same
    // click->purchase series, earliest-following and closest-in-time
    // matches, ties to backward
    Query("q13c_asof_directions", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      def agg(d: String, n: String, sm: String) =
        AsOfJoin.asofJoin(clicks, purch, "ts", Seq("user_id"), direction = d)
          .groupBy(col("user_id"))
          .agg(count(col("right_pv")).as(n),
            round(sum(col("right_pv")), 4).as(sm))
      agg("forward", "n_fwd", "sum_fwd")
        .join(agg("nearest", "n_near", "sum_near"), Seq("user_id"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type='click'),
        |purch AS (SELECT user_id, ts, max(value) AS pv FROM events
        |  WHERE event_type='purchase' GROUP BY 1,2),
        |f AS (SELECT c.user_id, count(p.pv) AS n_fwd,
        |    round(sum(p.pv), 4) AS sum_fwd
        |  FROM clicks c ASOF LEFT JOIN purch p
        |    ON c.user_id = p.user_id AND c.ts <= p.ts
        |  GROUP BY c.user_id),
        |ck AS (SELECT user_id, ts, count(*) AS n FROM clicks GROUP BY 1, 2),
        |cb AS (SELECT k.user_id, k.ts, k.n, p.ts AS bts, p.pv AS bpv FROM ck k
        |  ASOF LEFT JOIN purch p ON k.user_id = p.user_id AND k.ts >= p.ts),
        |cf AS (SELECT k.user_id, k.ts, p.ts AS fts, p.pv AS fpv FROM ck k
        |  ASOF LEFT JOIN purch p ON k.user_id = p.user_id AND k.ts <= p.ts),
        |nr AS (SELECT cb.user_id, cb.n,
        |    CASE WHEN cb.bts IS NULL THEN cf.fpv
        |         WHEN cf.fts IS NULL THEN cb.bpv
        |         WHEN cb.ts - cb.bts <= cf.fts - cb.ts THEN cb.bpv
        |         ELSE cf.fpv END AS pv
        |  FROM cb JOIN cf ON cb.user_id = cf.user_id AND cb.ts = cf.ts),
        |n AS (SELECT user_id,
        |    CAST(sum(CASE WHEN pv IS NOT NULL THEN n ELSE 0 END) AS BIGINT)
        |      AS n_near,
        |    round(sum(pv * n), 4) AS sum_near FROM nr GROUP BY user_id)
        |SELECT f.user_id, f.n_fwd, f.sum_fwd, n.n_near, n.sum_near
        |FROM f JOIN n ON f.user_id = n.user_id
        |ORDER BY f.user_id""".stripMargin)),
    // chunked large×large GLOBAL as-of (the scale path where the
    // unpartitioned window variant is one task and the right side is too
    // big to broadcast): 32 range-derived chunks force matches through
    // the carry
    Query("q13d_asof_chunked", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("ts")).agg(max(col("value")).as("pv"))
      AsOfJoin.asofJoinChunked(clicks, purch, "ts", Nil, nChunks = 32)
        .groupBy(col("user_id"))
        .agg(count(col("right_pv")).as("n_matched"),
          round(sum(col("right_pv")), 4).as("sum_pv"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type='click'),
        |purch AS (SELECT ts, max(value) AS pv FROM events
        |  WHERE event_type='purchase' GROUP BY 1)
        |SELECT c.user_id, count(p.pv) AS n_matched, round(sum(p.pv),4) AS sum_pv
        |FROM clicks c ASOF LEFT JOIN purch p ON c.ts >= p.ts
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),
    Query("q13b_asof_broadcast", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      AsOfJoin.asofJoinBroadcast(clicks, purch, "ts", Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(count(col("right_pv")).as("n_matched"),
          round(sum(col("right_pv")), 4).as("sum_pv"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type='click'),
        |purch AS (SELECT user_id, ts, max(value) AS pv FROM events
        |  WHERE event_type='purchase' GROUP BY 1,2)
        |SELECT c.user_id, count(p.pv) AS n_matched, round(sum(p.pv),4) AS sum_pv
        |FROM clicks c ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),
    // --------------------------------------- vector aggregation (P10/A7)
    Query("q14_weighted_vector_sum", (s, dir) => {
      val weighted = t(s, dir, "embeddings")
        .withColumn("v", R.arrayToVector(col("embedding").cast("array<double>")))
        .withColumn("wv", R.weightedVector(col("v"), lit(1.0) / (lit(1.0) + col("label"))))
      weighted.groupBy(col("label"))
        .agg(Summarizer.sum(col("wv")).as("sv"))
        .select(col("label"), posexplode(R.vectorToArray(col("sv"))))
        .select(col("label"), col("pos").cast("long").as("i"),
          round(col("col"), 4).as("val"))
        .orderBy(col("label"), col("i"))
    }, Some(
      """SELECT label, i, round(sum(CAST(e AS DOUBLE) * (1.0/(1.0+label))),4) AS val
        |FROM (SELECT label, unnest(embedding) AS e,
        |      unnest(range(len(embedding))) AS i FROM embeddings)
        |GROUP BY label, i ORDER BY label, i""".stripMargin)),
    // -------------------------------------------------- pivot / misc (A11)
    Query("q15_pivot_shares", (s, dir) => {
      val p = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice")))
      val tot = coalesce(col("F"), lit(0.0)) + coalesce(col("O"), lit(0.0)) +
        coalesce(col("P"), lit(0.0))
      p.select(col("o_orderpriority"),
        round(coalesce(col("F"), lit(0.0)) / tot, 6).as("f_share"),
        round(coalesce(col("O"), lit(0.0)) / tot, 6).as("o_share"),
        round(coalesce(col("P"), lit(0.0)) / tot, 6).as("p_share"))
        .orderBy(col("o_orderpriority"))
    }, Some(
      """SELECT o_orderpriority,
        |round(coalesce(f,0)/(coalesce(f,0)+coalesce(o,0)+coalesce(p,0)),6) AS f_share,
        |round(coalesce(o,0)/(coalesce(f,0)+coalesce(o,0)+coalesce(p,0)),6) AS o_share,
        |round(coalesce(p,0)/(coalesce(f,0)+coalesce(o,0)+coalesce(p,0)),6) AS p_share
        |FROM (SELECT o_orderpriority,
        |  sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END) AS f,
        |  sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END) AS o,
        |  sum(CASE WHEN o_orderstatus='P' THEN o_totalprice END) AS p
        |  FROM orders GROUP BY o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin)),
    Query("q16_dedup_exact", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),
    Query("q17_topk", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
    }, Some(
      """SELECT o_orderkey, round(o_totalprice,2) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),
    Query("q18_distinct", (s, dir) => {
      events(s, dir).select(col("event_type")).distinct()
        .orderBy(col("event_type"))
    }, Some(
      "SELECT DISTINCT event_type FROM events ORDER BY event_type")),
    // ------------------------- text analysis (training-data pipeline ops)
    Query("q19_text_stats", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("ltoks", T.tokens(lower(col("text"))))
        .select(col("source"), size(col("ltoks")).as("words"),
          T.bpeTokenCount(col("text")).as("bpe"), T.punctCount(col("text")).as("punct"),
          T.qualityScoreFromParts(size(col("ltoks")), T.punctCount(col("text")),
            length(col("text")), T.stopwordHits(col("ltoks"), T.StopEn)).as("q"))
        .groupBy(col("source"))
        .agg(sum(col("words")).as("sum_words"), sum(col("bpe")).as("sum_bpe"),
          sum(col("punct")).as("sum_punct"),
          // integer micro-units: exact under any summation order
          sum(round(col("q") * 1e6, 0).cast("long")).as("q_micros"),
          count(lit(1)).as("n"))
        .orderBy(col("source"))
    }, Some(
      s"""SELECT source, CAST(sum(words) AS BIGINT) AS sum_words,
         |CAST(sum(bpe) AS BIGINT) AS sum_bpe, CAST(sum(punct) AS BIGINT) AS sum_punct,
         |CAST(sum(CAST(round(($qualitySql)*1000000, 0) AS BIGINT)) AS BIGINT) AS q_micros,
         |count(*) AS n
         |FROM (SELECT source, text, len($tokSql) AS words, $bpeSql AS bpe,
         |      $punctSql AS punct, ${stopSql(T.StopEn)} AS stop_en FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin)),
    Query("q20_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("ltoks", T.tokens(lower(col("text"))))
        .select(col("lang"), T.langIdFromTokens(col("ltoks")).as("predicted"),
          T.qualityScoreFromParts(size(col("ltoks")), T.punctCount(col("text")),
            length(col("text")), T.stopwordHits(col("ltoks"), T.StopEn)).as("q"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("q") * 1e6, 0).cast("long")).as("q_micros"))
        .orderBy(col("lang"), col("predicted"))
    }, Some(
      s"""SELECT lang,
         |CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |     WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
         |     WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
         |     WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS predicted,
         |count(*) AS n,
         |CAST(sum(CAST(round(($qualitySql)*1000000, 0) AS BIGINT)) AS BIGINT) AS q_micros
         |FROM (SELECT lang, text, len($tokSql) AS words, $punctSql AS punct,
         |      ${stopSql(T.StopEn)} AS s_en, ${stopSql(T.StopEs)} AS s_es,
         |      ${stopSql(T.StopDe)} AS s_de, ${stopSql(T.StopFr)} AS s_fr,
         |      ${stopSql(T.StopEn)} AS stop_en FROM documents)
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)),
    Query("q21_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), T.fingerprint(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(countDistinct(col("fp")).as("n_distinct"), min(col("fp")).as("min_fp"),
          max(col("fp")).as("max_fp"), count(lit(1)).as("n"))
        .orderBy(col("source"))
    }, Some(
      s"""SELECT source, count(DISTINCT fp) AS n_distinct, min(fp) AS min_fp,
         |max(fp) AS max_fp, count(*) AS n
         |FROM (SELECT source,
         |  ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS fp
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin)),
    Query("q36_vocabulary", (s, dir) => {
      // corpus vocabulary stats: explode tokens -> distinct aggregation
      t(s, dir, "documents")
        .select(col("lang"), explode(T.tokens(lower(col("text")))).as("tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_vocab"),
          min(col("tok")).as("first_tok"), max(col("tok")).as("last_tok"),
          sum(length(col("tok"))).as("sum_len"))
        .orderBy(col("lang"))
    }, Some(
      s"""SELECT lang, count(*) AS n_tokens, count(DISTINCT tok) AS n_vocab,
         |min(tok) AS first_tok, max(tok) AS last_tok,
         |CAST(sum(length(tok)) AS BIGINT) AS sum_len
         |FROM (SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         |      FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------ near-dup dedup (MinHash/SimHash)
    Query("q22_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          floor(T.wordCount(col("text")) / 10), shingleN = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      s"""WITH t AS (SELECT doc_id, CAST(floor(len(toks)/10) AS BIGINT) AS block,
         |    $shingleSql AS sh
         |  FROM (SELECT doc_id, text, $tokSql AS toks FROM documents))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.sh, b.sh)) /
         |        CAST(greatest(len(list_distinct(a.sh || b.sh)), 1) AS DOUBLE), 6) AS jaccard
         |FROM t a JOIN t b ON a.block = b.block AND a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) /
         |      CAST(greatest(len(list_distinct(a.sh || b.sh)), 1) AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin)),
    Query("q23_minhash_lsh", (s, dir) => {
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, k = 16, bands = 4, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      s"""WITH t AS ($minhashSigTableSql)
         |SELECT id_a, id_b, round(est_jaccard, 6) AS est_jaccard, round(jaccard, 6) AS jaccard
         |FROM ($minhashCandidatesSql)
         |WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin)),
    // q23's whole-corpus spelling: 64-bit xxhash64 shingle hashes +
    // signatures (hashBits = 64) — no portable oracle (DuckDB has no
    // xxhash64), so golden-pinned (GoldenMcSpec) with fused-vs-composable
    // parity and a RecallSpec floor; q23 keeps the 28-bit oracle spelling
    Query("q23b_minhash64", (s, dir) => {
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, k = 16, bands = 4, threshold = 0.3, hashBits = 64)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    Query("q29_dedup_clusters", (s, dir) => {
      // near-dup pairs -> connected components -> duplicate-cluster table
      // (the survivor-selection step); oracle = recursive-CTE closure
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 16, bands = 4, threshold = 0.3)
      Dedup.dupClusters(pairs.select(col("id_a"), col("id_b")))
        .orderBy(col("cluster"))
    }, Some(
      s"""WITH RECURSIVE t AS ($minhashSigTableSql),
         |prs AS (SELECT id_a, id_b FROM ($minhashCandidatesSql) WHERE jaccard >= 0.3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION SELECT id_b, id_a FROM prs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |comp AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node)
         |SELECT cluster, count(*) AS n_docs, max(node) AS max_id
         |FROM comp GROUP BY cluster ORDER BY cluster""".stripMargin)),
    Query("q29b_dedup_survivors", (s, dir) => {
      // the step that shrinks the corpus: drop every cluster member
      // except the min id, keep unpaired docs
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleN = 3, k = 16, bands = 4, threshold = 0.3)
      Dedup.deduplicate(docs, "doc_id", pairs.select(col("id_a"), col("id_b")))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH RECURSIVE t AS ($minhashSigTableSql),
         |prs AS (SELECT id_a, id_b FROM ($minhashCandidatesSql) WHERE jaccard >= 0.3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION SELECT id_b, id_a FROM prs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |comp AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> cluster)
         |ORDER BY doc_id""".stripMargin)),
    Query("q90_length_buckets", (s, dir) => {
      // dynamic-batching report: per length bucket, how many hash-mod
      // batches, docs, tokens, and the padding waste vs the bucket bound
      import graft.data.Corpus
      Corpus.lengthBucketBatches(t(s, dir, "documents"), "doc_id",
          T.wordCount(col("text")), batchSize = 32)
        .groupBy(col("bucket"), col("batch"))
        .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("st"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_batches"), sum(col("nd")).as("n_docs"),
          sum(col("st")).as("sum_tokens"),
          (sum(col("nd")) * col("bucket") - sum(col("st"))).as("pad_waste"),
          min(col("nd")).as("min_batch_docs"), max(col("nd")).as("max_batch_docs"))
        .orderBy(col("bucket"))
    }, Some(
      s"""WITH d AS (SELECT doc_id, len($tokSql) AS n FROM documents),
         |b AS (SELECT doc_id, n,
         |  CASE WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
         |       WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
         |       WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
         |       ELSE 4096 END AS bucket
         |  FROM d),
         |s AS (SELECT bucket, CAST(ceil(count(*) / 32.0) AS BIGINT) AS n_slots
         |  FROM b GROUP BY bucket),
         |a AS (SELECT b.doc_id, b.n, b.bucket,
         |  ${h28Sql("CAST(b.doc_id AS VARCHAR)")} % s.n_slots AS batch
         |  FROM b JOIN s ON b.bucket = s.bucket),
         |p AS (SELECT bucket, batch, count(*) AS nd, sum(n) AS st
         |  FROM a GROUP BY bucket, batch)
         |SELECT bucket, count(*) AS n_batches,
         |  CAST(sum(nd) AS BIGINT) AS n_docs,
         |  CAST(sum(st) AS BIGINT) AS sum_tokens,
         |  CAST(sum(nd) * bucket - sum(st) AS BIGINT) AS pad_waste,
         |  min(nd) AS min_batch_docs, max(nd) AS max_batch_docs
         |FROM p GROUP BY bucket ORDER BY bucket""".stripMargin)),
    Query("q89_snapshot_diff", (s, dir) => {
      // corpus-version diff (crawl N vs N+1): two synthetic snapshots of
      // the documents table — different membership, some texts revised —
      // judged added/removed/changed/unchanged by content fingerprint
      import graft.data.Corpus
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 11 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      Corpus.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH o AS (SELECT doc_id,
         |  ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS fp
         |  FROM documents WHERE doc_id % 11 <> 0),
         |n AS (SELECT doc_id,
         |  ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS fp
         |  FROM (SELECT doc_id, CASE WHEN doc_id % 5 = 0
         |      THEN text || ' [rev2]' ELSE text END AS text
         |    FROM documents WHERE doc_id % 13 <> 0)),
         |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  o.fp AS fp_old, n.fp AS fp_new,
         |  o.doc_id IS NOT NULL AS in_old, n.doc_id IS NOT NULL AS in_new
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT doc_id,
         |  CASE WHEN NOT in_old THEN 'added'
         |       WHEN NOT in_new THEN 'removed'
         |       WHEN fp_old = fp_new THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  fp_old, fp_new
         |FROM d ORDER BY doc_id""".stripMargin)),
    // distribution-level drift monitor: token-frequency deltas between
    // two snapshots in exact integer ppm (floor div, cross-engine exact);
    // top-40 leaderboard by |delta|, ties broken by token
    Query("q97_token_drift", (s, dir) => {
      import graft.data.Corpus
      val docs = t(s, dir, "documents")
      Corpus.tokenDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", topK = 40)
    }, Some(
      s"""WITH bc AS (SELECT tok, count(*) AS cnt FROM (
         |    SELECT unnest($tokSql) AS tok FROM documents WHERE doc_id % 2 = 0)
         |  GROUP BY tok),
         |bt AS (SELECT sum(cnt) AS total FROM bc),
         |bb AS (SELECT tok, cnt AS n_before,
         |    (cnt * 1000000) // total AS ppm_before FROM bc, bt),
         |ac AS (SELECT tok, count(*) AS cnt FROM (
         |    SELECT unnest($tokSql) AS tok FROM documents WHERE doc_id % 2 = 1)
         |  GROUP BY tok),
         |a2 AS (SELECT sum(cnt) AS total FROM ac),
         |aa AS (SELECT tok, cnt AS n_after,
         |    (cnt * 1000000) // total AS ppm_after FROM ac, a2),
         |j AS (SELECT coalesce(bb.tok, aa.tok) AS tok,
         |    CAST(coalesce(n_before, 0) AS BIGINT) AS n_before,
         |    CAST(coalesce(n_after, 0) AS BIGINT) AS n_after,
         |    CAST(coalesce(ppm_before, 0) AS BIGINT) AS ppm_before,
         |    CAST(coalesce(ppm_after, 0) AS BIGINT) AS ppm_after
         |  FROM bb FULL OUTER JOIN aa ON bb.tok = aa.tok)
         |SELECT tok, n_before, n_after, ppm_before, ppm_after,
         |  ppm_after - ppm_before AS delta_ppm
         |FROM j ORDER BY abs(ppm_after - ppm_before) DESC, tok
         |LIMIT 40""".stripMargin)),
    Query("q88_incremental_dedup", (s, dir) => {
      // continuous-ingest admit: a new batch (doc_id % 7 == 3) checked
      // against the accepted corpus's SIGNATURE STORE — exact fp, then
      // near-dup vs store, then within-batch clustering. The accepted
      // documents themselves are never re-read.
      val docs = t(s, dir, "documents")
      // built inline for the oracle; a real pipeline probes a persisted
      // parquet store (`signatures` written once, read back) — columnar
      // scans per consumer beat materializing the corpus-scale table here
      // (measured)
      val store = Dedup.signatures(docs.filter(col("doc_id") % 7 =!= 3),
        "doc_id", "text", simhashBits = 0) // Jaccard-only admit: skip the simhash walk
      Dedup.incrementalDedup(docs.filter(col("doc_id") % 7 === 3),
          "doc_id", "text", store, threshold = 0.3)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }, Some(
      s"""WITH RECURSIVE t AS ($minhashSigTableSql),
         |f AS (SELECT doc_id,
         |  ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS fp
         |  FROM documents),
         |s1 AS (SELECT min(doc_id) AS doc_id FROM f WHERE doc_id % 7 = 3
         |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 7 <> 3)
         |  GROUP BY fp),
         |hit AS (SELECT DISTINCT a.doc_id FROM t a JOIN t c
         |  ON a.doc_id IN (SELECT doc_id FROM s1) AND c.doc_id % 7 <> 3
         |  WHERE $bandAgreeSql AND $pairJaccardSql >= 0.3),
         |s2 AS (SELECT doc_id FROM s1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
         |prs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b FROM t a JOIN t c
         |  ON a.doc_id < c.doc_id
         |  AND a.doc_id IN (SELECT doc_id FROM s2)
         |  AND c.doc_id IN (SELECT doc_id FROM s2)
         |  WHERE $bandAgreeSql AND $pairJaccardSql >= 0.3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION SELECT id_b, id_a FROM prs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |comp AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node)
         |SELECT doc_id FROM s2
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> cluster)
         |ORDER BY doc_id""".stripMargin)),
    Query("q88b_incremental_pairs", (s, dir) => {
      // the batch-vs-store probe in isolation with its similarity
      // evidence; broadcastBatch — the store is the big side
      val docs = t(s, dir, "documents")
      Dedup.crossNearDups(
          Dedup.signatures(docs.filter(col("doc_id") % 7 === 3), "doc_id", "text",
            simhashBits = 0),
          Dedup.signatures(docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text",
            simhashBits = 0),
          threshold = 0.3, broadcastBatch = true)
        .select(col("id_new"), col("id_old"),
          round(col("est_jaccard"), 6).as("est_jaccard"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_new"), col("id_old"))
    }, Some(
      s"""WITH t AS ($minhashSigTableSql)
         |SELECT a.doc_id AS id_new, c.doc_id AS id_old,
         |  round(len(list_filter(range(1,17), i -> a.sig[i] = c.sig[i])) / 16.0,
         |    6) AS est_jaccard,
         |  round($pairJaccardSql, 6) AS jaccard
         |FROM t a JOIN t c ON a.doc_id % 7 = 3 AND c.doc_id % 7 <> 3
         |WHERE $bandAgreeSql AND $pairJaccardSql >= 0.3
         |ORDER BY id_new, id_old""".stripMargin)),
    // the PRODUCTION-width Hamming ball: 64-bit xxhash64 simhash ->
    // 16-bit pigeonhole chunks, candidate volume N^2/16384 (vs N^2/32 at
    // 28 bits). xxhash64 is not DuckDB-reproducible, so this is
    // golden-pinned (GoldenMcSpec) and its recall is spec-pinned equal
    // to brute force (DataSpec); q91 keeps the portable-oracle spelling
    Query("q91b_simhash_hamming64", (s, dir) => {
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          bits = 64, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // the Hamming-tier store probe in isolation (incrementalDedup's
    // optional second tier): batch vs accepted-corpus signatures via the
    // pigeonhole chunk join, exact bit_count verify; the oracle
    // brute-forces every cross pair, so parity proves the chunk join
    // finds exactly the cross Hamming ball
    Query("q93_hamming_ingest", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossHammingPairs(
          Dedup.signatures(docs.filter(col("doc_id") % 7 === 3), "doc_id", "text"),
          Dedup.signatures(docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text"),
          maxHamming = 3, broadcastBatch = true)
        .select(col("id_new"), col("id_old"), col("sh_n"), col("sh_o"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_new"), col("id_old"))
    }, Some(
      s"""WITH t AS (SELECT doc_id, $simhashSql AS sh
         |  FROM (SELECT doc_id, list_transform(list_distinct($tokSql),
         |        tk -> ${h28Sql("tk")}) AS hs FROM documents)
         |  WHERE len(hs) > 0)
         |SELECT n.doc_id AS id_new, o.doc_id AS id_old,
         |  n.sh AS sh_n, o.sh AS sh_o,
         |  CAST(bit_count(xor(n.sh, o.sh)) AS BIGINT) AS hamming
         |FROM t n JOIN t o ON n.doc_id % 7 = 3 AND o.doc_id % 7 <> 3
         |  AND bit_count(xor(n.sh, o.sh)) <= 3
         |ORDER BY id_new, id_old""".stripMargin)),
    Query("q38_winnow", (s, dir) => {
      // winnowing (rolling k-gram hash + window-min) fingerprints via the
      // fused one-pass native expression; first repartition spreads the
      // (single-file) input across cores, the second is a barrier that
      // materializes fp ONCE — without it the 3-column projection and the
      // global sort's range-sampling pass each re-run the winnow
      // expression (no subexpression elimination across collapsed
      // projections; measured 3.4s -> 1.8s at sf0.1). Widths are
      // EXPLICIT: argless repartition() is an AQE REBALANCE sized by the
      // exchange's input bytes, which collapsed the winnow stage to one
      // task at sf0.1 — defaultParallelism keeps it cluster-derived
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), T.winnowFingerprintsNative(col("text"), 5, 4).as("fp"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          try_element_at(col("fp"), lit(1)).as("fp_min"),
          try_element_at(col("fp"), lit(-1)).as("fp_max"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH n AS (SELECT doc_id,
         |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm FROM documents),
         |g AS (SELECT doc_id,
         |    CASE WHEN len(norm) >= 5
         |      THEN list_transform(range(1, len(norm)-5+2), i -> ${h28Sql("substr(norm, i, 5)")})
         |      ELSE []::BIGINT[] END AS hs FROM n),
         |f AS (SELECT doc_id, list_sort(list_distinct(
         |    CASE WHEN len(hs) >= 4
         |      THEN list_transform(range(1, len(hs)-4+2), j -> list_min(list_slice(hs, j, j+3)))
         |      WHEN len(hs) > 0 THEN [list_min(hs)]
         |      ELSE []::BIGINT[] END)) AS fp FROM g)
         |SELECT doc_id, len(fp) AS n_fp, fp[1] AS fp_min, fp[-1] AS fp_max
         |FROM f ORDER BY doc_id""".stripMargin)),
    // Hamming-ball simhash near-dups via pigeonhole chunking: the
    // oracle BRUTE-FORCES every pair, so parity proves the chunk join
    // finds exactly the Hamming ball (the pigeonhole bound is exact)
    Query("q91_simhash_hamming", (s, dir) => {
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          bits = 28, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      s"""WITH t AS (SELECT doc_id, $simhashSql AS sh
         |  FROM (SELECT doc_id, list_transform(list_distinct($tokSql),
         |        tk -> ${h28Sql("tk")}) AS hs FROM documents))
         |SELECT a.doc_id AS id_a, c.doc_id AS id_b, a.sh AS sh_a, c.sh AS sh_b,
         |  CAST(bit_count(xor(a.sh, c.sh)) AS BIGINT) AS hamming
         |FROM t a JOIN t c ON a.doc_id < c.doc_id
         |WHERE bit_count(xor(a.sh, c.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin)),
    Query("q24_simhash", (s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), Dedup.simhash(col("text")).as("sh"))
        .groupBy(col("source"))
        .agg(countDistinct(col("sh")).as("n_distinct"), min(col("sh")).as("min_sh"),
          max(col("sh")).as("max_sh"))
        .orderBy(col("source"))
    }, Some(
      s"""SELECT source, count(DISTINCT sh) AS n_distinct, min(sh) AS min_sh, max(sh) AS max_sh
         |FROM (SELECT source, $simhashSql AS sh
         |  FROM (SELECT source, list_transform(list_distinct($tokSql),
         |        tk -> ${h28Sql("tk")}) AS hs FROM documents))
         |GROUP BY source ORDER BY source""".stripMargin)),
    Query("q25_embedding_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.cosineNearDupPairs(e, "vec_id", "v", threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT id_a, id_b, round(sim, 6) AS sim
         |FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin)),
    Query("q25b_neardup_lsh_bucketed", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.cosineNearDupPairsBucketed(e, "vec_id", "v", threshold = 0.4,
          numPlanes = 8, dim = 64)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |buck AS (SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, coef) >= 0
         |    THEN 1<<p ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e CROSS JOIN planes GROUP BY vec_id)
         |SELECT id_a, id_b, round(sim, 6) AS sim
         |FROM (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  list_dot_product(a.v, c.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
         |  FROM e a JOIN buck ba ON ba.vec_id = a.vec_id
         |  JOIN buck bc ON bc.bucket = ba.bucket
         |  JOIN e c ON c.vec_id = bc.vec_id
         |  WHERE a.vec_id < c.vec_id)
         |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin)),
    // ----------------------------------------- similarity search (ANN/KNN)
    Query("q26_knn_brute", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, "vec_id", "v", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        c.vec_id) AS rank
         |  FROM e q CROSS JOIN e c
         |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    Query("q27_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e, "vec_id", "v",
          k = 3, numPlanes = 8, dim = 64)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |buck AS (SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, coef) >= 0
         |    THEN 1<<p ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e CROSS JOIN planes GROUP BY vec_id)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        c.vec_id) AS rank
         |  FROM e q JOIN buck bq ON bq.vec_id = q.vec_id
         |  JOIN buck bc ON bc.bucket = bq.bucket
         |  JOIN e c ON c.vec_id = bc.vec_id
         |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    Query("q27b_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.ivfTopK(e.filter(col("vec_id") < 20), e, "vec_id", "v",
          k = 3, nCells = 8, nProbe = 2, dim = 64)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |cellsim AS (SELECT vec_id, p, list_dot_product(v, coef) AS s
         |  FROM e CROSS JOIN planes),
         |ccell AS (SELECT vec_id, p AS cell FROM cellsim
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) = 1),
         |qcell AS (SELECT vec_id, p AS cell FROM cellsim WHERE vec_id < 20
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) <= 2)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        c.vec_id) AS rank
         |  FROM e q JOIN qcell ON qcell.vec_id = q.vec_id
         |  JOIN ccell ON ccell.cell = qcell.cell
         |  JOIN e c ON c.vec_id = ccell.vec_id
         |  WHERE q.vec_id <> c.vec_id)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    // OR-amplified multi-table LSH — the recall configuration (RecallSpec
    // gates it at recall@3 >= 0.6 vs brute force; q27's single table is a
    // bucket-parity pin, not a recall setting)
    Query("q27d_ann_lsh_multitable", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e, "vec_id", "v",
          k = 3, numPlanes = 4, dim = 64, numTables = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $mtPlanesSql) pl(tbl, p, coef)),
         |buck AS (SELECT vec_id, tbl, CAST(sum(CASE WHEN list_dot_product(v, coef) >= 0
         |    THEN 1<<p ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e CROSS JOIN planes GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT bq.vec_id AS qid, bc.vec_id AS cid
         |  FROM buck bq JOIN buck bc ON bc.tbl = bq.tbl AND bc.bucket = bq.bucket
         |  WHERE bq.vec_id < 20 AND bq.vec_id <> bc.vec_id)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        c.vec_id) AS rank
         |  FROM cand JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.cid)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    Query("q27c_ann_ivf_kmeans", (s, dir) => {
      // IVF with Lloyd-trained centroids (deterministic MD5-seeded init)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cents = Similarity.trainIvfCentroids(e, "v", nCells = 8, dim = 64, iters = 3)
      Similarity.ivfTopKWith(e.filter(col("vec_id") < 20), e, "vec_id", "v",
          k = 3, nProbe = 2, cents)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // Matryoshka-style truncated-dim retrieval: coarse rank on the first
    // 16 of 64 dims (4x cheaper scan), exact re-rank of the shortlist
    Query("q74_matryoshka", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val pre = e.select(col("vec_id"), slice(col("v"), 1, 16).as("v"))
      val shortlist = Similarity.bruteForceTopK(
          pre.filter(col("vec_id") < 20), pre, "vec_id", "v", k = 20)
        .select(col("query_id"), col("neighbor_id"))
      val qv = e.select(col("vec_id").as("query_id"), col("v").as("q_v"),
        Similarity.norm(col("v")).as("q_n"))
      val cv = e.select(col("vec_id").as("neighbor_id"), col("v").as("c_v"),
        Similarity.norm(col("v")).as("c_n"))
      shortlist.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          (Similarity.dotNative(col("q_v"), col("c_v")) /
            (col("q_n") * col("c_n"))).as("sim"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT vec_id, list_slice(v, 1, 16) AS v FROM e),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        c.vec_id) AS rank
         |  FROM p q CROSS JOIN p c
         |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |WHERE rank <= 20)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT short.query_id, short.neighbor_id,
         |    list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim,
         |    row_number() OVER (PARTITION BY short.query_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        short.neighbor_id) AS rank
         |  FROM short JOIN e q ON q.vec_id = short.query_id
         |  JOIN e c ON c.vec_id = short.neighbor_id)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    // int8 scalar-quantized retrieval (4x compression, no codebook)
    Query("q73_sq8_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Pq.sqTopK(e.filter(col("vec_id") < 20), e, "vec_id", "v", k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sq AS (SELECT vec_id, list_min(v) AS lo,
         |    (list_max(v) - list_min(v)) / 255.0 AS scale, v FROM e),
         |enc AS (SELECT vec_id, lo, scale,
         |    CASE WHEN scale > 0
         |      THEN list_transform(v, x -> CAST(round((x - lo) / scale, 0) AS INT))
         |      ELSE list_transform(v, x -> 0) END AS codes FROM sq),
         |cs AS (SELECT vec_id, lo, scale, codes,
         |    CAST(list_aggregate(codes, 'sum') AS BIGINT) AS csum,
         |    len(codes) AS d FROM enc),
         |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    q.scale * c.scale * CAST(list_dot_product(q.codes, c.codes) AS DOUBLE)
         |    + q.lo * c.scale * CAST(c.csum AS DOUBLE)
         |    + c.lo * q.scale * CAST(q.csum AS DOUBLE)
         |    + CAST(q.d AS DOUBLE) * q.lo * c.lo AS score
         |  FROM cs q CROSS JOIN cs c
         |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
         |  SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank
         |  FROM sc)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    // pure-SQL surface: the same engine through spark.sql + the
    // GraftExtensions-registered native functions (no DataFrame API)
    Query("q72_sql_surface", (s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_v")
      s.sql("""SELECT source, count(*) AS n,
              |  count(DISTINCT md5_prefix_hash(
              |    regexp_replace(trim(lower(text)), '\\s+', ' '), 15)) AS n_fp,
              |  CAST(sum(size(winnow_fingerprint(
              |    regexp_replace(trim(lower(text)), '\\s+', ' '), 5, 4))) AS BIGINT)
              |    AS sum_winnow
              |FROM graft_docs_v GROUP BY source ORDER BY source""".stripMargin)
    }, Some(
      s"""WITH n AS (SELECT source,
         |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm FROM documents),
         |g AS (SELECT source, ${h60Sql("norm")} AS fp,
         |    CASE WHEN len(norm) >= 5
         |      THEN list_transform(range(1, len(norm)-5+2), i -> ${h28Sql("substr(norm, i, 5)")})
         |      ELSE []::BIGINT[] END AS hs FROM n),
         |f AS (SELECT source, fp, len(list_distinct(
         |    CASE WHEN len(hs) >= 4
         |      THEN list_transform(range(1, len(hs)-4+2), j -> list_min(list_slice(hs, j, j+3)))
         |      WHEN len(hs) > 0 THEN [list_min(hs)]
         |      ELSE []::BIGINT[] END)) AS nw FROM g)
         |SELECT source, count(*) AS n, count(DISTINCT fp) AS n_fp,
         |  CAST(sum(nw) AS BIGINT) AS sum_winnow
         |FROM f GROUP BY source ORDER BY source""".stripMargin)),
    // sequence packing: concat-and-chunk document layout into 512-token packs
    Query("q71_sequence_pack", (s, dir) => {
      import graft.data.Corpus
      Corpus.packSequences(t(s, dir, "documents"), "doc_id",
          T.wordCount(col("text")), contextLen = 512)
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH t AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (SELECT doc_id, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS tok_start
         |  FROM t)
         |SELECT doc_id, n_tokens, tok_start, tok_start + n_tokens AS tok_end,
         |  tok_start // 512 AS pack_first,
         |  CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
         |       ELSE tok_start // 512 - 1 END AS pack_last,
         |  CASE WHEN n_tokens > 0
         |       THEN (tok_start + n_tokens - 1) // 512 - tok_start // 512 + 1
         |       ELSE 0 END AS n_packs
         |FROM p ORDER BY doc_id""".stripMargin)),
    // CUBE subtotals (all grouping-set combinations; rollup's sibling, q45)
    Query("q69_cube", (s, dir) => {
      t(s, dir, "documents")
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("source"), col("lang"))
    }, Some(
      s"""SELECT source, lang, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(GROUPING(source, lang) AS BIGINT) AS gid
         |FROM documents GROUP BY CUBE(source, lang)
         |ORDER BY gid, source, lang""".stripMargin)),
    // ntile decile profile of the quality score (global-order window;
    // the at-scale twin is Sketches.histogramQuantile — this is the
    // window-function coverage row, run on a bounded scored sample)
    Query("q70_ntile", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), T.qualityScore(col("text")).as("q"))
        .withColumn("decile",
          ntile(10).over(Window.orderBy(col("q"), col("doc_id"))).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), round(min(col("q")), 6).as("min_q"),
          round(max(col("q")), 6).as("max_q"))
        .orderBy(col("decile"))
    }, Some(
      s"""WITH b AS (SELECT doc_id, text, len($tokSql) AS words,
         |    $punctSql AS punct, ${stopSql(T.StopEn)} AS stop_en FROM documents),
         |q AS (SELECT doc_id, ($qualitySql) AS q FROM b),
         |d AS (SELECT doc_id, q, ntile(10) OVER (ORDER BY q, doc_id) AS decile FROM q)
         |SELECT decile, count(*) AS n, round(min(q), 6) AS min_q,
         |  round(max(q), 6) AS max_q
         |FROM d GROUP BY decile ORDER BY decile""".stripMargin)),
    // URL host frequency table (domain filtering for web corpora)
    Query("q67_host_stats", (s, dir) => {
      val aug = concat(col("text"),
        lit(" see http://ex"), (col("doc_id") % 5).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit(" and https://cdn.example.com/x"), (col("doc_id") % 3).cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(T.urlHosts(aug)).as("host"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("host"))
    }, Some(
      s"""WITH aug AS (SELECT doc_id, concat(text,
         |    ' see http://ex', CAST(doc_id % 5 AS VARCHAR),
         |    '.org/p/', CAST(doc_id AS VARCHAR),
         |    ' and https://cdn.example.com/x', CAST(doc_id % 3 AS VARCHAR)) AS a
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    unnest(list_filter(
         |      list_transform(regexp_extract_all(a, 'https?://[^\\s]+'),
         |        u -> regexp_extract(u, 'https?://(?:[^/\\s@]*@)?([^/\\s:?#@]+)', 1)),
         |      x -> len(x) > 0)) AS host
         |  FROM aug)
         |SELECT host, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         |FROM h GROUP BY host ORDER BY host""".stripMargin)),
    // Gopher §A1.2 top n-gram repetition fractions (n = 1, 2, 3)
    Query("q68_top_ngram", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(T.topTokenFraction(col("text")), 6).as("top1"),
          round(T.topNgramFraction(col("text"), 2), 6).as("top2"),
          round(T.topNgramFraction(col("text"), 3), 6).as("top3"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH t AS (SELECT doc_id,
         |  regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks FROM documents),
         |g AS (SELECT doc_id, ltoks,
         |  ${ngramSql(2)} AS g2, ${ngramSql(3)} AS g3 FROM t)
         |SELECT doc_id,
         |  round(CAST(coalesce(list_max(list_transform(list_distinct(ltoks),
         |      w -> len(list_filter(ltoks, x -> x = w)))), 0) AS DOUBLE)
         |    / CAST(greatest(len(ltoks), 1) AS DOUBLE), 6) AS top1,
         |  round(CAST(coalesce(list_max(list_transform(list_distinct(g2),
         |      w -> len(list_filter(g2, x -> x = w)))), 0) AS DOUBLE)
         |    / CAST(greatest(len(g2), 1) AS DOUBLE), 6) AS top2,
         |  round(CAST(coalesce(list_max(list_transform(list_distinct(g3),
         |      w -> len(list_filter(g3, x -> x = w)))), 0) AS DOUBLE)
         |    / CAST(greatest(len(g3), 1) AS DOUBLE), 6) AS top3
         |FROM g ORDER BY doc_id""".stripMargin)),
    // corpus-wide exact LINE dedup (boilerplate pass): first occurrence wins
    Query("q66_line_dedup", (s, dir) => {
      // plant a corpus-wide boilerplate line + a per-doc unique tail
      val aug = concat_ws("\n", col("text"),
        lit("subscribe to our newsletter today"),
        concat(lit("doc tail "), col("doc_id")))
      Dedup.dedupLines(
          t(s, dir, "documents").withColumn("text", aug), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH aug AS (SELECT doc_id, concat(text, chr(10),
         |    'subscribe to our newsletter today', chr(10),
         |    'doc tail ', CAST(doc_id AS VARCHAR)) AS text FROM documents),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM aug),
         |l AS (SELECT doc_id,
         |    CAST(unnest(range(1, len(parts) + 1)) AS BIGINT) - 1 AS line_no,
         |    parts FROM ls),
         |lh AS (SELECT doc_id, line_no, parts[CAST(line_no AS INT) + 1] AS line,
         |    ${h60Sql("parts[CAST(line_no AS INT) + 1]")} AS h FROM l),
         |w1 AS (SELECT h, min(doc_id) AS d FROM lh GROUP BY h),
         |w2 AS (SELECT lh.h, lh.doc_id AS d, min(lh.line_no) AS ln
         |  FROM lh JOIN w1 ON w1.h = lh.h AND lh.doc_id = w1.d
         |  GROUP BY lh.h, lh.doc_id),
         |keep AS (SELECT lh.doc_id, lh.line_no, lh.line FROM lh
         |  JOIN w2 ON lh.h = w2.h AND lh.doc_id = w2.d AND lh.line_no = w2.ln)
         |SELECT doc_id, count(*) AS n_lines,
         |  string_agg(line, chr(10) ORDER BY line_no) AS text
         |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // train/benchmark decontamination: shingle overlap vs the test split
    Query("q65_decontaminate", (s, dir) => {
      import graft.data.Sampling
      val d = t(s, dir, "documents").withColumn("split",
        Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)))
      Dedup.contamination(
          d.filter(col("split") =!= "test"), d.filter(col("split") === "test"),
          "doc_id", "text")
        .select(col("doc_id"), col("n_shared"),
          col("n_grams").cast("long").as("n_grams"),
          round(col("containment"), 6).as("containment"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH base AS (SELECT doc_id, sh,
         |    ${h60Sql("concat(CAST(doc_id AS VARCHAR), '')")} % 10000 AS slot
         |  FROM (SELECT doc_id, $shingleSql AS sh
         |        FROM (SELECT doc_id, text, $tokSql AS toks FROM documents))
         |  WHERE len(sh) > 0),
         |cand AS (SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS h
         |  FROM base WHERE slot < 9000),
         |bench AS (SELECT DISTINCT h FROM
         |  (SELECT unnest(sh) AS h FROM base WHERE slot >= 9000))
         |SELECT doc_id, count(*) AS n_shared, n_grams,
         |  round(CAST(count(*) AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS containment
         |FROM cand JOIN bench USING (h)
         |GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin)),
    // exact-substring decontamination: maximal >=30-char verbatim spans
    // of train/valid docs that appear anywhere in the test split
    Query("q65b_decontaminate_spans", (s, dir) => {
      import graft.data.Sampling
      val d = t(s, dir, "documents").withColumn("split",
        Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)))
      Dedup.contaminationSpans(
          d.filter(col("split") =!= "test"), d.filter(col("split") === "test"),
          "doc_id", "text", k = 30)
        .orderBy(col("doc_id"), col("span_start"))
    }, Some(
      s"""WITH base AS (SELECT doc_id, text,
         |    ${h60Sql("concat(CAST(doc_id AS VARCHAR), '')")} % 10000 AS slot
         |  FROM documents),
         |cn AS (SELECT doc_id,
         |  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
         |  FROM base WHERE slot < 9000),
         |bn AS (SELECT regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
         |  FROM base WHERE slot >= 9000),
         |cp AS (SELECT doc_id, t,
         |  CAST(unnest(range(1, greatest(len(t) - 28, 1))) AS BIGINT) AS pos
         |  FROM cn),
         |cg AS (SELECT doc_id, pos,
         |  ${h60Sql("substr(t, CAST(pos AS INT), 30)")} AS h FROM cp),
         |bp AS (SELECT t,
         |  CAST(unnest(range(1, greatest(len(t) - 28, 1))) AS BIGINT) AS pos
         |  FROM bn),
         |bh AS (SELECT DISTINCT ${h60Sql("substr(t, CAST(pos AS INT), 30)")}
         |    AS h FROM bp),
         |d AS (SELECT cg.doc_id, cg.pos FROM cg JOIN bh USING (h)),
         |b AS (SELECT doc_id, pos,
         |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 30
         |    THEN 0 ELSE 1 END AS brk FROM d),
         |s AS (SELECT doc_id, pos,
         |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM b)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 29 AS span_end,
         |  count(*) AS n_grams
         |FROM s GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin)),
    // Gopher §A1.1 document-quality signals + keep decision
    Query("q64_gopher_quality", (s, dir) => {
      // plant bullet/ellipsis lines so every signal is exercised
      val aug = concat(col("text"), lit("\n"),
        when(col("doc_id") % 3 === 0, lit("- bullet item"))
          .otherwise(lit("normal line.")), lit("\n"),
        when(col("doc_id") % 5 === 0, lit("trailing thought..."))
          .otherwise(lit("closing line.")))
      t(s, dir, "documents")
        .select(col("source"), T.gopherStats(aug).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("g.n_words")).as("sum_words"),
          // integer micro-units: exact under any summation order (q19 pattern)
          sum(round(col("g.mean_word_len") * 1e6, 0).cast("long")).as("mwl_micros"),
          sum(round(col("g.symbol_word_ratio") * 1e6, 0).cast("long")).as("swr_micros"),
          sum(round(col("g.bullet_line_frac") * 1e6, 0).cast("long")).as("blf_micros"),
          sum(round(col("g.ellipsis_line_frac") * 1e6, 0).cast("long")).as("elf_micros"),
          sum(round(col("g.alpha_word_frac") * 1e6, 0).cast("long")).as("awf_micros"),
          sum(col("g.stop_hits").cast("long")).as("sum_stop"),
          sum(when(T.gopherKeep(col("g"), minWords = 20), lit(1L))
            .otherwise(lit(0L))).as("n_keep"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH aug AS (SELECT source, concat(text, chr(10),
         |    CASE WHEN doc_id % 3 = 0 THEN '- bullet item' ELSE 'normal line.' END,
         |    chr(10),
         |    CASE WHEN doc_id % 5 = 0 THEN 'trailing thought...' ELSE 'closing line.' END
         |  ) AS text FROM documents),
         |b AS (SELECT source, text, $tokSql AS toks,
         |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
         |    l -> len(l) > 0) AS lines,
         |  ${stopSql(T.StopEn)} AS stop_hits
         |  FROM aug),
         |st AS (SELECT source, len(toks) AS n_words, stop_hits,
         |  CAST(list_aggregate(list_transform(toks, t -> len(t)), 'sum') AS DOUBLE)
         |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS mwl,
         |  CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
         |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS swr,
         |  CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) AS DOUBLE)
         |    / CAST(greatest(len(lines), 1) AS DOUBLE) AS blf,
         |  CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$$'))) AS DOUBLE)
         |    / CAST(greatest(len(lines), 1) AS DOUBLE) AS elf,
         |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
         |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS awf
         |  FROM b)
         |SELECT source, count(*) AS n, CAST(sum(n_words) AS BIGINT) AS sum_words,
         |  CAST(sum(CAST(round(mwl*1000000, 0) AS BIGINT)) AS BIGINT) AS mwl_micros,
         |  CAST(sum(CAST(round(swr*1000000, 0) AS BIGINT)) AS BIGINT) AS swr_micros,
         |  CAST(sum(CAST(round(blf*1000000, 0) AS BIGINT)) AS BIGINT) AS blf_micros,
         |  CAST(sum(CAST(round(elf*1000000, 0) AS BIGINT)) AS BIGINT) AS elf_micros,
         |  CAST(sum(CAST(round(awf*1000000, 0) AS BIGINT)) AS BIGINT) AS awf_micros,
         |  CAST(sum(stop_hits) AS BIGINT) AS sum_stop,
         |  CAST(sum(CASE WHEN n_words BETWEEN 20 AND 100000
         |    AND mwl BETWEEN 3.0 AND 10.0 AND swr <= 0.1 AND blf <= 0.9
         |    AND elf <= 0.3 AND awf >= 0.8 AND stop_hits >= 2
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |FROM st GROUP BY source ORDER BY source""".stripMargin)),
    // exact duplicate-substring spans (Lee et al. 2022, k-gram form)
    Query("q63_dup_spans", (s, dir) => {
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", k = 30)
        .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"), col("n_grams"))
        .orderBy(col("doc_id"), col("span_start"))
    }, Some(
      s"""WITH norm AS (SELECT doc_id,
         |  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t FROM documents),
         |p AS (SELECT doc_id, t,
         |  CAST(unnest(range(1, greatest(len(t) - 28, 1))) AS BIGINT) AS pos FROM norm),
         |g AS (SELECT doc_id, pos,
         |  ${h60Sql("substr(t, CAST(pos AS INT), 30)")} AS h FROM p),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
         |b AS (SELECT doc_id, pos,
         |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 30
         |    THEN 0 ELSE 1 END AS brk FROM d),
         |s AS (SELECT doc_id, pos,
         |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM b)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 29 AS span_end,
         |  count(*) AS n_grams
         |FROM s GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin)),
    // the CUT step: duplicated spans excised from the normalized text —
    // the action substring-dedup takes on the corpus (Lee et al. 2022)
    Query("q63b_span_removal", (s, dir) => {
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
          k = 30)
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH norm AS (SELECT doc_id,
         |  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t FROM documents),
         |p AS (SELECT doc_id, t,
         |  CAST(unnest(range(1, greatest(len(t) - 28, 1))) AS BIGINT) AS pos FROM norm),
         |g AS (SELECT doc_id, pos,
         |  ${h60Sql("substr(t, CAST(pos AS INT), 30)")} AS h FROM p),
         |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
         |b AS (SELECT doc_id, pos,
         |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 30
         |    THEN 0 ELSE 1 END AS brk FROM d),
         |sgrp AS (SELECT doc_id, pos,
         |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM b),
         |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 29 AS e
         |  FROM sgrp GROUP BY doc_id, grp),
         |chars AS (SELECT doc_id, CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS i,
         |  t FROM norm),
         |keptc AS (SELECT c.doc_id, c.i, substr(c.t, CAST(c.i AS INT), 1) AS ch
         |  FROM chars c WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |    WHERE sp.doc_id = c.doc_id AND c.i BETWEEN sp.s AND sp.e)),
         |agg AS (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS txt
         |  FROM keptc GROUP BY doc_id)
         |SELECT n.doc_id, CAST(len(coalesce(a.txt, '')) AS BIGINT) AS n_kept,
         |  CAST(len(n.t) - len(coalesce(a.txt, '')) AS BIGINT) AS n_cut,
         |  coalesce(a.txt, '') AS text_clean
         |FROM norm n LEFT JOIN agg a USING (doc_id)
         |ORDER BY n.doc_id""".stripMargin)),
    // the WHAT-is-duplicated report: top literal 30-char substrings by
    // corpus occurrence count + distinct carrying docs (Lee 2022's
    // "most duplicated passages" table) — exact, one keyed agg + top-N
    Query("q196_top_dup_substrings", (s, dir) => {
      Dedup.topDuplicateSubstrings(t(s, dir, "documents"), "doc_id", "text",
        k = 30, topN = 20)
    }, Some(
      // q196 oracle: literal substring counts + distinct docs, top 20
      """WITH norm AS (SELECT doc_id,
        |  regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t FROM documents),
        |p AS (SELECT doc_id, t,
        |  CAST(unnest(range(1, greatest(len(t) - 28, 1))) AS BIGINT) AS pos
        |  FROM norm WHERE len(t) >= 30)
        |SELECT substr(t, CAST(pos AS INT), 30) AS sub,
        |  count(*) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM p GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_occurrences DESC, sub LIMIT 20""".stripMargin)),
    // the EXACT tier: same spans via distributed suffix ranks (Manber-
    // Myers prefix doubling on globalRank, log k rounds) — no gram-hash
    // collision caveat; oracle groups by the LITERAL substring
    Query("q63c_dup_spans_exact", (s, dir) => {
      Dedup.duplicateSpansExact(t(s, dir, "documents"), "doc_id", "text",
          k = 30)
        .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"), col("n_grams"))
        .orderBy(col("doc_id"), col("span_start"))
    }, Some(
      // q63c oracle: the LITERAL 30-char substring is the group key — no
      // hash anywhere, the strongest possible span check
      """WITH norm AS (SELECT doc_id,
        |  regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t FROM documents),
        |p AS (SELECT doc_id, t,
        |  CAST(unnest(range(1, greatest(len(t) - 28, 1))) AS BIGINT) AS pos FROM norm),
        |g AS (SELECT doc_id, pos, substr(t, CAST(pos AS INT), 30) AS sub FROM p),
        |dup AS (SELECT sub FROM g GROUP BY sub HAVING count(*) >= 2),
        |d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (sub)),
        |b AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 30
        |    THEN 0 ELSE 1 END AS brk FROM d),
        |s AS (SELECT doc_id, pos,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM b)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 29 AS span_end,
        |  count(*) AS n_grams
        |FROM s GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin)),
    // ------------------------------- product quantization (PQ) retrieval
    Query("q62_pq_encode", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      e.select(col("vec_id"), posexplode(Pq.encode(col("v"), pqCb)))
        .toDF("vec_id", "sub", "code")
        .orderBy(col("vec_id"), col("sub"))
    }, Some(
      s"""WITH $pqEncSql
         |SELECT vec_id, sub, code FROM enc ORDER BY vec_id, sub""".stripMargin)),
    Query("q62b_pq_adc", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Pq.pqTopK(e.filter(col("vec_id") < 20), e, "vec_id", "v", k = 3, pqCb)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH $pqEncSql,
         |$pqLutSql,
         |sc AS (SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $pqAdcChain AS score
         |  FROM luts l CROSS JOIN codes c WHERE l.vec_id <> c.vec_id)
         |SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
         |  SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank
         |  FROM sc)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    Query("q62c_ivfpq", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Pq.ivfPqTopK(e.filter(col("vec_id") < 20), e, "vec_id", "v", k = 3,
          nProbe = 2, coarse = Similarity.planes(8, 64), cb = pqCb)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH $pqEncSql,
         |$pqLutSql,
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |cellsim AS (SELECT vec_id, p, list_dot_product(v, coef) AS s
         |  FROM e CROSS JOIN planes),
         |ccell AS (SELECT vec_id, p AS cell FROM cellsim
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) = 1),
         |qcell AS (SELECT vec_id, p AS cell FROM cellsim WHERE vec_id < 20
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) <= 2),
         |sc AS (SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $pqAdcChain AS score
         |  FROM qcell JOIN luts l ON l.vec_id = qcell.vec_id
         |  JOIN ccell ON ccell.cell = qcell.cell
         |  JOIN codes c ON c.vec_id = ccell.vec_id
         |  WHERE l.vec_id <> c.vec_id)
         |SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
         |  SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank
         |  FROM sc)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    // true IVFADC: residual encoding + <q, cell centroid> added back
    Query("q62e_ivfpq_residual", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Pq.ivfPqTopK(e.filter(col("vec_id") < 20), e, "vec_id", "v", k = 3,
          nProbe = 2, coarse = Similarity.planes(8, 64), cb = pqCb,
          residual = true)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cb AS (SELECT * FROM (VALUES $pqCbSql) cb(sub, code, cent, cn2)),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |cellsim AS (SELECT vec_id, p, list_dot_product(v, coef) AS s
         |  FROM e CROSS JOIN planes),
         |ccell AS (SELECT vec_id, p AS cell FROM cellsim
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) = 1),
         |qcell AS (SELECT vec_id, p AS cell FROM cellsim WHERE vec_id < 20
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) <= 2),
         |er AS (SELECT e.vec_id, list_transform(range(1, 65),
         |    i -> e.v[CAST(i AS INT)] - pl.coef[CAST(i AS INT)]) AS v
         |  FROM e JOIN ccell ON ccell.vec_id = e.vec_id
         |  JOIN planes pl ON pl.p = ccell.cell),
         |${pqEncSqlOn("er")},
         |$pqLutSql,
         |sc AS (SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, pl2.coef) + ($pqAdcChain) AS score
         |  FROM qcell JOIN luts l ON l.vec_id = qcell.vec_id
         |  JOIN e q ON q.vec_id = qcell.vec_id
         |  JOIN planes pl2 ON pl2.p = qcell.cell
         |  JOIN ccell ON ccell.cell = qcell.cell
         |  JOIN codes c ON c.vec_id = ccell.vec_id
         |  WHERE l.vec_id <> c.vec_id)
         |SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
         |  SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank
         |  FROM sc)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    // big-batch retrieval: the whole corpus queries itself with the query
    // side NOT broadcast (shuffle-hash join on the cell int) — the
    // corpus-vs-corpus scale path; values identical to the broadcast
    // spelling by construction, pinned here through the oracle
    Query("q75_pq_bigbatch", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Pq.ivfPqTopK(e, e, "vec_id", "v", k = 3,
          nProbe = 2, coarse = Similarity.planes(8, 64), cb = pqCb,
          broadcastQueries = false)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH $pqEncSql,
         |${pqLutSqlFor("")},
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |cellsim AS (SELECT vec_id, p, list_dot_product(v, coef) AS s
         |  FROM e CROSS JOIN planes),
         |ccell AS (SELECT vec_id, p AS cell FROM cellsim
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) = 1),
         |qcell AS (SELECT vec_id, p AS cell FROM cellsim
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) <= 2),
         |sc AS (SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $pqAdcChain AS score
         |  FROM qcell JOIN luts l ON l.vec_id = qcell.vec_id
         |  JOIN ccell ON ccell.cell = qcell.cell
         |  JOIN codes c ON c.vec_id = ccell.vec_id
         |  WHERE l.vec_id <> c.vec_id)
         |SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
         |  SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank
         |  FROM sc)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    // two-stage retrieval: ADC shortlist (refine=20), exact-cosine re-rank
    Query("q62d_pq_refine", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Pq.pqTopK(e.filter(col("vec_id") < 20), e, "vec_id", "v", k = 3, pqCb,
          refine = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH $pqEncSql,
         |$pqLutSql,
         |sc AS (SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $pqAdcChain AS score
         |  FROM luts l CROSS JOIN codes c WHERE l.vec_id <> c.vec_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS r
         |  FROM sc) WHERE r <= 20)
         |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim,
         |    row_number() OVER (PARTITION BY cand.query_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        cand.neighbor_id) AS rank
         |  FROM cand JOIN e q ON q.vec_id = cand.query_id
         |  JOIN e c ON c.vec_id = cand.neighbor_id)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    // ------------------------------ lexical retrieval + hybrid fusion
    // Okapi BM25 over the documents table (self-match included — rank 1
    // sanity-pins the scorer); micro-unit long sums make the score exact
    Query("q76_bm25", (s, dir) => {
      import graft.data.Bm25
      val d = t(s, dir, "documents")
      Bm25.bm25TopK(d, d.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH $bm25CteSql
         |SELECT query_id, rank, neighbor_id, score FROM brank
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // hybrid search: BM25 lexical ranking ⊕ exact-cosine semantic ranking
    // via reciprocal-rank fusion (doc_id and vec_id share the id space)
    Query("q77_hybrid_rrf", (s, dir) => {
      import graft.data.Bm25
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val lex = Bm25.bm25TopK(d, d.filter(col("doc_id") < 5), "doc_id", "text",
        k = 20)
      val sem = Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e,
        "vec_id", "v", k = 20)
      Bm25.rrfFuse(lex, sem, k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH $bm25CteSql,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |crank AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.v, c.v) /
         |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |          c.vec_id) AS rank
         |    FROM e q CROSS JOIN e c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
         |  WHERE rank <= 20),
         |blim AS (SELECT query_id, neighbor_id, rank FROM brank WHERE rank <= 20),
         |fused AS (SELECT coalesce(b.query_id, s.query_id) AS query_id,
         |    coalesce(b.neighbor_id, s.neighbor_id) AS neighbor_id,
         |    coalesce(1.0 / (60 + b.rank), 0.0) + coalesce(1.0 / (60 + s.rank), 0.0) AS score
         |  FROM blim b FULL JOIN crank s
         |    ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id)
         |SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
         |  SELECT query_id, neighbor_id, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM fused)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // RAG capstone — the full offline->online composition in ONE query:
    // token-window chunking (q79's spelling) -> deterministic hash
    // embedding per chunk -> PQ index built and PUBLISHED as an immutable
    // version -> served from the LOADED snapshot (ANN searchIndex,
    // nProbe=2) fused with BM25 over the same chunks via RRF. Chunk keys
    // are doc_id*100 + chunk_id + 1 (>= 1); query ids are negative so
    // the two key spaces cannot collide
    Query("q83_rag_pipeline", (s, dir) => {
      import graft.data.{Bm25, Corpus, Pq, Versioned}
      val docs = t(s, dir, "documents")
      val chunks = Corpus.chunkDocuments(docs, "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .select((col("doc_id") * 100 + col("chunk_id") + 1).as("id"),
          col("chunk_text").as("text"))
      val emb = chunks.withColumn("__hs", Similarity.tokenHashes(col("text")))
        .select(col("id"), Similarity.hashEmbed(col("__hs"), 64).as("v"))
      val qChunks = Corpus.chunkDocuments(docs.filter(col("doc_id") < 3),
          "doc_id", "text", chunkTokens = 32, overlap = 8)
        .filter(col("chunk_id") === 0)
        // negative query ids: chunk ids are >= 1, so searchIndex's
        // self-exclusion (q_id =!= c_id) can never drop a real chunk
        .select((-(col("doc_id") + 1)).as("id"), col("chunk_text").as("text"))
      val qEmb = qChunks.withColumn("__hs", Similarity.tokenHashes(col("text")))
        .select(col("id"), Similarity.hashEmbed(col("__hs"), 64).as("v"))
      // one index dir per scale; each run publishes a new version and
      // prunes the ones below what it loaded, so the dir holds one
      val idxDir = stageDir("q83_rag_idx", dir)
      // OVERLAP the independent offline and online halves (guide §2.6):
      // the BM25 lexical chain doesn't read the index, so it
      // materializes on a background thread while the index build +
      // publish jobs run on this one — BM25 tasks back-fill executors
      // freed by the publish's stragglers instead of waiting for the
      // whole offline half to drain. localCheckpoint (eager) pins the
      // lexical top-k so the fused plan below reads the materialized
      // blocks; rrfFuse's result is unchanged.
      val lexF = scala.concurrent.Future {
        Bm25.bm25TopK(chunks, qChunks, "id", "text", k = 20).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      Pq.saveIndexVersioned(
        Pq.buildIndex(emb, "id", "v", Similarity.planes(8, 64), pqCb), idxDir)
      val (loaded, idx) = Pq.loadIndexVersioned(s, idxDir)
      Versioned.pruneVersions(s, idxDir, keep = 0, asOf = Some(loaded))
      val sem = Pq.searchIndex(idx, qEmb, "id", "v", k = 20, nProbe = 2)
      val lex = scala.concurrent.Await.result(lexF,
        scala.concurrent.duration.Duration.Inf)
      Bm25.rrfFuse(lex, sem, k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH toks AS (SELECT doc_id, $tokSql AS t FROM documents),
         |base AS (SELECT doc_id, t, len(t) AS n,
         |    greatest(CAST(ceil((len(t) - 8) / 24.0) AS INT), 1) AS nc FROM toks),
         |cht AS (SELECT doc_id * 100 + i + 1 AS doc_id,
         |    array_to_string(list_slice(t, i * 24 + 1, least(i * 24 + 32, n)), ' ') AS text
         |  FROM (SELECT doc_id, unnest(range(0, nc)) AS i, t, n FROM base)),
         |qch AS (SELECT -(doc_id + 1) AS doc_id,
         |    array_to_string(list_slice(t, 1, least(32, n)), ' ') AS text
         |  FROM base WHERE doc_id < 3),
         |che AS (${hashEmbSqlOn("cht")}),
         |qe AS (${hashEmbSqlOn("qch")}),
         |cb AS (SELECT * FROM (VALUES $pqCbSql) cb(sub, code, cent, cn2)),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |${pqEncSqlOn("che")},
         |${pqLutSqlOn("qe", "")},
         |ccs AS (SELECT vec_id, p, list_dot_product(v, coef) AS s FROM che CROSS JOIN planes),
         |ccell AS (SELECT vec_id, p AS cell FROM ccs
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) = 1),
         |qcs AS (SELECT vec_id, p, list_dot_product(v, coef) AS s FROM qe CROSS JOIN planes),
         |qcell AS (SELECT vec_id, p AS cell FROM qcs
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) <= 2),
         |sc AS (SELECT l.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $pqAdcChain AS score
         |  FROM qcell JOIN luts l ON l.vec_id = qcell.vec_id
         |  JOIN ccell ON ccell.cell = qcell.cell
         |  JOIN codes c ON c.vec_id = ccell.vec_id
         |  WHERE l.vec_id <> c.vec_id),
         |srank AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id) AS rank FROM sc)
         |  WHERE rank <= 20),
         |${bm25CteOn("cht", "qch")},
         |blim AS (SELECT query_id, neighbor_id, rank FROM brank WHERE rank <= 20),
         |fused AS (SELECT coalesce(b.query_id, s.query_id) AS query_id,
         |    coalesce(b.neighbor_id, s.neighbor_id) AS neighbor_id,
         |    coalesce(1.0 / (60 + b.rank), 0.0) + coalesce(1.0 / (60 + s.rank), 0.0) AS score
         |  FROM blim b FULL JOIN srank s
         |    ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id)
         |SELECT query_id, rank, neighbor_id, round(score, 6) AS score FROM (
         |  SELECT query_id, neighbor_id, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM fused)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // linear-probe quality classifier (FineWeb-Edu shape): the
    // distributed half of training — ONE pass of sum-decomposable
    // ridge sufficient statistics over the embeddings, micro-unit
    // exact; the driver-side (d+1)x(d+1) solve is pinned by ProbeSpec
    Query("q84_probe_stats", (s, dir) => {
      import graft.data.Probe
      Probe.suffStats(
          t(s, dir, "embeddings")
            .select(col("embedding").cast("array<double>").as("v"), col("label")),
          "v", "label")
        .orderBy(col("pos"))
    }, Some(
      s"""WITH z AS (SELECT [1.0] || CAST(embedding AS DOUBLE[]) ||
         |    [CAST(label AS DOUBLE)] AS z FROM embeddings),
         |zi AS (SELECT z, unnest(range(1, len(z) + 1)) AS i FROM z),
         |pr AS (SELECT (i - 1) * len(z) + (j - 1) AS pos,
         |    CAST(round(z[i] * z[j] * 1e6) AS BIGINT) AS m
         |  FROM (SELECT z, i, unnest(range(1, len(z) + 1)) AS j FROM zi))
         |SELECT pos, CAST(sum(m) AS DOUBLE) / 1e6 AS s FROM pr
         |GROUP BY pos ORDER BY pos""".stripMargin)),
    // held-out probe evaluation: ridge fit on the train split's
    // integer-exact sufficient stats (d=2 so the 3x3 solve is Cramer's
    // rule, FP-order-pinned in both engines -> bit-identical weights),
    // test-split SSE in exact floor-micro longs
    Query("q94_probe_eval", (s, dir) => {
      import graft.data.Probe
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 2).as("v"),
          col("label"))
      Probe.evalRidge2(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0), "v", "label")
    }, Some(
      s"""WITH $probeWeights2Sql,
         |te AS (SELECT CAST(embedding[1] AS DOUBLE) AS x1,
         |    CAST(embedding[2] AS DOUBLE) AS x2, CAST(label AS DOUBLE) AS y
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |er AS (SELECT CAST(floor(
         |    (y - (w0 + x1*w1 + x2*w2)) * (y - (w0 + x1*w1 + x2*w2)) * 1e6)
         |    AS BIGINT) AS e2 FROM te, wv)
         |SELECT CAST(count(*) AS BIGINT) AS n_test,
         |  CAST(sum(e2) AS BIGINT) AS sse_micro,
         |  sqrt(CAST(sum(e2) AS BIGINT) / 1e6 / count(*)) AS rmse
         |FROM er""".stripMargin)),
    // the probe as a binary ranker: exact Mann-Whitney AUC on the test
    // split (positive = label >= 5), ranks tie-broken by vec_id so the
    // rank assignment is bit-reproducible cross-engine
    Query("q94b_probe_auc", (s, dir) => {
      import graft.data.Probe
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 2).as("v"),
          col("label"))
      Probe.rocAuc2(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0), "v", "label", posAt = 5.0)
    }, Some(
      s"""WITH $probeWeights2Sql,
         |te AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x1,
         |    CAST(embedding[2] AS DOUBLE) AS x2, CAST(label AS DOUBLE) AS y
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |sc AS (SELECT vec_id, w0 + x1*w1 + x2*w2 AS s,
         |    (y >= 5.0) AS pos FROM te, wv),
         |rk AS (SELECT pos, 2 * rank() OVER (ORDER BY s)
         |    + count(*) OVER (PARTITION BY s) - 1 AS r2
         |  FROM sc),
         |ag AS (SELECT
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
         |    CAST(sum(CASE WHEN pos THEN r2 ELSE 0 END) AS BIGINT) AS rank_sum2_pos
         |  FROM rk)
         |SELECT n_pos, n_neg, rank_sum2_pos,
         |  CAST(rank_sum2_pos - n_pos * (n_pos + 1) AS DOUBLE)
         |    / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
         |FROM ag""".stripMargin)),
    // probe CALIBRATION: reliability-diagram bins on the held-out split —
    // per unit-width score bin, count + mean predicted vs mean actual
    // label in exact micro-units
    Query("q94c_probe_calibration", (s, dir) => {
      import graft.data.Probe
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 2).as("v"),
          col("label"))
      Probe.calibration2(
          e.filter(col("vec_id") % 5 =!= 0),
          e.filter(col("vec_id") % 5 === 0), "v", "label", nBins = 40)
        .orderBy(col("bin"))
    }, Some(
      s"""WITH $probeWeights2Sql,
         |te AS (SELECT CAST(embedding[1] AS DOUBLE) AS x1,
         |    CAST(embedding[2] AS DOUBLE) AS x2, CAST(label AS DOUBLE) AS y
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |sc AS (SELECT w0 + x1*w1 + x2*w2 AS p, y FROM te, wv),
         |bi AS (SELECT
         |    least(greatest(CAST(floor((p - 0.0) / 0.25) AS BIGINT), 0), 39)
         |      AS bin,
         |    CAST(floor(p * 1e6) AS BIGINT) AS p6,
         |    CAST(floor(y * 1e6) AS BIGINT) AS l6 FROM sc)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(p6) AS BIGINT) AS sum_pred_micro,
         |  CAST(sum(l6) AS BIGINT) AS sum_label_micro,
         |  CAST(sum(p6) AS BIGINT) / 1e6 / count(*) AS mean_pred,
         |  CAST(sum(l6) AS BIGINT) / 1e6 / count(*) AS mean_label
         |FROM bi GROUP BY bin ORDER BY bin""".stripMargin)),
    // host-graph PageRank: co-occurrence edges from per-doc URL hosts,
    // 3 damped iterations in exact integer micro-units (order-independent
    // longs, so the unrolled DuckDB recurrence matches bit-for-bit)
    Query("q85_pagerank", (s, dir) => {
      import graft.data.Graph
      val aug = concat(col("text"),
        lit(" see http://ex"), (col("doc_id") % 5).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit(" and https://cdn.example.com/x"), (col("doc_id") % 3).cast("string"))
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), explode(T.urlHosts(aug)).as("host"))
      Graph.pageRank(Graph.coOccurrenceEdges(hosts, "doc_id", "host"),
          "src", "dst", iters = 3)
        .select(col("node").as("host"), col("rank_micro").as("pr_micro"),
          col("rank").as("pr"))
        .orderBy(col("host"))
    }, Some(
      s"""WITH $hostPagerankSql
         |SELECT node AS host, CAST(r AS BIGINT) AS pr_micro,
         |  CAST(r AS DOUBLE) / 1e9 AS pr
         |FROM r3 ORDER BY host""".stripMargin)),
    // the curation USE of host PageRank: rank joined back to documents
    // as a per-doc quality prior (max authority among the doc's hosts) —
    // the Common-Crawl-style host-level weighting signal
    Query("q85b_host_authority", (s, dir) => {
      import graft.data.Graph
      val aug = concat(col("text"),
        lit(" see http://ex"), (col("doc_id") % 5).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit(" and https://cdn.example.com/x"), (col("doc_id") % 3).cast("string"))
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), explode(T.urlHosts(aug)).as("host"))
      val pr = Graph.pageRank(Graph.coOccurrenceEdges(hosts, "doc_id", "host"),
        "src", "dst", iters = 3)
      hosts.join(pr.withColumnRenamed("node", "host"), Seq("host"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("host")).as("n_hosts"),
          max(col("rank_micro")).as("auth_micro"),
          (max(col("rank_micro")).cast("double") / lit(1e9)).as("authority"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH $hostPagerankSql
         |SELECT h.doc_id, count(DISTINCT h.host) AS n_hosts,
         |  CAST(max(r3.r) AS BIGINT) AS auth_micro,
         |  CAST(max(r3.r) AS DOUBLE) / 1e9 AS authority
         |FROM h JOIN r3 ON h.host = r3.node
         |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin)),
    // DIRECTED-graph PageRank with dangling-mass redistribution: a
    // deterministic synthetic web graph (doc_id % 37 -> doc_id % 50, so
    // nodes 37..49 are sinks with no out-edges); each iteration folds
    // the sink mass back uniformly — still exact integer micro-units,
    // so the unrolled DuckDB recurrence matches bit-for-bit
    Query("q92_pagerank_dangling", (s, dir) => {
      import graft.data.Graph
      val e = t(s, dir, "documents")
        .select((col("doc_id") % 37).as("src"), (col("doc_id") % 50).as("dst"))
        .filter(col("src") =!= col("dst"))
      Graph.pageRank(e, "src", "dst", iters = 3, redistributeDangling = true)
        .select(col("node"), col("rank_micro").as("pr_micro"), col("rank").as("pr"))
        .orderBy(col("node"))
    }, Some(
      s"""WITH e AS (SELECT DISTINCT doc_id % 37 AS src, doc_id % 50 AS dst
         |  FROM documents WHERE doc_id % 37 <> doc_id % 50),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT node, 1000000000 // (SELECT n FROM nn) AS r FROM nodes),
         |d1 AS (SELECT CAST(coalesce(sum(r0.r), 0) AS BIGINT) AS dm FROM r0
         |  LEFT JOIN od ON r0.node = od.src WHERE od.src IS NULL),
         |c1 AS (SELECT e.dst AS node, CAST(sum(r0.r // od.deg) AS BIGINT) AS c
         |  FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
         |  GROUP BY e.dst),
         |r1 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
         |    + (17 * (coalesce(c1.c, 0)
         |      + (SELECT dm FROM d1) // (SELECT n FROM nn))) // 20 AS r
         |  FROM nodes nd LEFT JOIN c1 ON nd.node = c1.node),
         |d2 AS (SELECT CAST(coalesce(sum(r1.r), 0) AS BIGINT) AS dm FROM r1
         |  LEFT JOIN od ON r1.node = od.src WHERE od.src IS NULL),
         |c2 AS (SELECT e.dst AS node, CAST(sum(r1.r // od.deg) AS BIGINT) AS c
         |  FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
         |  GROUP BY e.dst),
         |r2 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
         |    + (17 * (coalesce(c2.c, 0)
         |      + (SELECT dm FROM d2) // (SELECT n FROM nn))) // 20 AS r
         |  FROM nodes nd LEFT JOIN c2 ON nd.node = c2.node),
         |d3 AS (SELECT CAST(coalesce(sum(r2.r), 0) AS BIGINT) AS dm FROM r2
         |  LEFT JOIN od ON r2.node = od.src WHERE od.src IS NULL),
         |c3 AS (SELECT e.dst AS node, CAST(sum(r2.r // od.deg) AS BIGINT) AS c
         |  FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
         |  GROUP BY e.dst),
         |r3 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
         |    + (17 * (coalesce(c3.c, 0)
         |      + (SELECT dm FROM d3) // (SELECT n FROM nn))) // 20 AS r
         |  FROM nodes nd LEFT JOIN c3 ON nd.node = c3.node)
         |SELECT node, CAST(r AS BIGINT) AS pr_micro,
         |  CAST(r AS DOUBLE) / 1e9 AS pr
         |FROM r3 ORDER BY node""".stripMargin)),
    // HITS hubs/authorities on the same directed graph — exact integer
    // micro-unit L1-normalized half-steps, bit-identical to the oracle's
    // unrolled recurrence (nodes >= 37 are never a src: hub 0 teeth)
    Query("q98_hits", (s, dir) => {
      import graft.data.Graph
      val e = t(s, dir, "documents")
        .select((col("doc_id") % 37).as("src"), (col("doc_id") % 50).as("dst"))
        .filter(col("src") =!= col("dst"))
      Graph.hits(e, "src", "dst", iters = 2)
        .orderBy(col("node"))
    }, Some(hitsOracleSql(2))),
    // BPE trainer surface: first-iteration weighted symbol-pair counts
    // over the word-type table (the argmax of this table IS merge #1)
    Query("q86_bpe_pairs", (s, dir) => {
      import graft.data.Bpe
      Bpe.pairCounts(Bpe.wordTypes(t(s, dir, "documents"), "text"), Nil)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(20)
    }, Some(
      s"""WITH w AS (SELECT unnest(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS word FROM documents),
         |ty AS (SELECT word, count(*) AS n FROM w GROUP BY word),
         |p AS (SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r, n
         |  FROM (SELECT word, n, unnest(range(1, length(word))) AS i FROM ty))
         |SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt FROM p GROUP BY l, r
         |ORDER BY cnt DESC, l, r LIMIT 20""".stripMargin)),
    // BPE merge training: ranked merges learned from the corpus word-type
    // table (golden-pinned; the iterative argmax is not SQL-expressible)
    Query("q87_bpe_merges", (s, dir) => {
      import graft.data.Bpe
      Bpe.mergesDf(s, Bpe.trainMerges(t(s, dir, "documents"), "text", 20))
        .orderBy(col("rank"))
    }),
    // the ENCODE half of BPE at the query level: corpus re-tokenized
    // under the 20 trained merges, top subwords by count. The encode is
    // deterministic given the merge ladder (itself golden-pinned at
    // q87) but not SQL-expressible, so the exploded tokens are STAGED
    // to parquet and the histogram computed FROM the stage — the DuckDB
    // oracle recounts the same files (the q126 hand-off pattern)
    Query("q87b_bpe_encode", (s, dir) => {
      import graft.data.Bpe
      val docs = t(s, dir, "documents")
      // spread the ENCODE input off a NARROW scan only (the per-word
      // merge UDF is the heavy stage and a map-only chain inherits the
      // single-file scan's one task); gated — at scale the scan has many
      // splits and no exchange is planted (r12 §10 / VERDICT r12 task 1)
      Bpe.encode(spreadIfNarrow(docs),
          "text", Bpe.trainMerges(docs, "text", 20))
        .select(explode(col("bpe_tokens")).as("tok"))
        .write.mode("overwrite").parquet(stageDir("q87b_tokens", dir))
      readStage(s, stageDir("q87b_tokens", dir))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(30)
    }, Some(
      // staged-encode oracle (the q126 hand-off pattern, shared by q87c,
      // q113, q156 and q161): the Spark query stages its deterministic
      // encode to parquet and DuckDB recounts the histogram/panel from the
      // same files — only the aggregation
      // arithmetic crosses engines; the encodes themselves stay pinned by
      // BpeSpec/UnigramSpec/WordpieceSpec hand cases and the q87/q112
      // trained-ladder goldens
      s"""SELECT tok, count(*) AS cnt
         |FROM read_parquet('${stageDir("q87b_tokens", StageScale)}/*.parquet')
         |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 30""".stripMargin)),
    // the tokenize-to-IDS surface a training pipeline feeds the model:
    // alphabet-first GPT-2-style vocabulary over the trained merges,
    // full token-id histogram recounted from the staged ids (oracle)
    Query("q87c_bpe_token_ids", (s, dir) => {
      import graft.data.Bpe
      val docs = t(s, dir, "documents")
      // ONE corpus word-type pass shared by the trainer and the
      // alphabet (each used to re-run the wordTypes aggregation);
      // checkpointed so both consumers read the materialized table;
      // map side spread off the narrow scan (gated — no-op at scale)
      val types = Bpe.wordTypes(docs, "text").localCheckpoint()
      val merges = Bpe.trainMergesFromTypes(types, 20)
      val vocab = Bpe.vocabularyFromTypes(types, merges)
      // the trainers returned driver-side values: free the checkpoint's
      // executor blocks before the (eager) stage write below
      unpersistCheckpoint(types)
      // spread the encode input off a narrow scan only (q87b note)
      Bpe.encodeIds(spreadIfNarrow(docs), "text", merges, vocab)
        .select(explode(col("token_ids")).as("tok_id"))
        .write.mode("overwrite").parquet(stageDir("q87c_ids", dir))
      readStage(s, stageDir("q87c_ids", dir))
        .groupBy(col("tok_id")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("tok_id"))
    }, Some(
      s"""SELECT tok_id, count(*) AS cnt
         |FROM read_parquet('${stageDir("q87c_ids", StageScale)}/*.parquet')
         |GROUP BY tok_id ORDER BY tok_id""".stripMargin)),
    // WordPiece (BERT) tokenizer: likelihood-ratio merges over
    // position-aware symbols, greedy longest-match encode. The trainer
    // is spec-pinned against a from-scratch recount (WordpieceSpec) and
    // the encode against hand cases; the deterministic encoded pieces
    // are staged and the usage panel recounted from the stage (oracle)
    Query("q161_wordpiece", (s, dir) => {
      import graft.data.Wordpiece
      val docs = t(s, dir, "documents")
      val vocab = Wordpiece.train(docs, "text", vocabSize = 60)
      // spread the greedy longest-match encode off a narrow scan only
      // (q87b note)
      Wordpiece.encode(spreadIfNarrow(docs), "doc_id", "text", vocab)
        .select(col("piece"))
        .write.mode("overwrite").parquet(stageDir("q161_pieces", dir))
      Wordpiece.pieceStats(readStage(s, stageDir("q161_pieces", dir)))
        .orderBy(col("piece"))
    }, Some(
      s"""WITH p AS (SELECT piece
         |  FROM read_parquet('${stageDir("q161_pieces", StageScale)}/*.parquet')),
         |t AS (SELECT count(*) AS tt FROM p)
         |SELECT piece, count(*) AS n,
         |  CAST(count(*) * 1000000 // tt AS BIGINT) AS share_ppm
         |FROM p, t GROUP BY piece, tt ORDER BY piece""".stripMargin)),
    // HTML -> text extraction (crawl front door): the whole extractor is
    // a codegen'd regexp_replace chain, so the DuckDB oracle runs the
    // IDENTICAL chain — synthesized tag soup around each doc's text,
    // per-doc extracted char/line counts + prefix, value-exact
    Query("q162_html_text", (s, dir) => {
      import graft.data.Html
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc</title></head><body><nav>" +
          "<a href='/'>Home</a> <a href='/a'>About</a></nav>" +
          "<h1>Heading &amp; more</h1><p>"),
        col("text"),
        lit(" with a <a href='/r'>ref &lt;here&gt;</a> inline</p>" +
          "<footer><a href='/t'>Terms</a></footer></body></html>"))
      docs.select(col("doc_id"), Html.htmlToText(html).as("txt"))
        .select(col("doc_id"),
          length(col("txt")).cast("long").as("n_chars"),
          size(split(col("txt"), "\n")).cast("long").as("n_lines"),
          substring(col("txt"), 1, 30).as("head30"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Doc</title></head><body><nav><a href=''/''>Home</a> <a href=''/a''>About</a></nav><h1>Heading &amp; more</h1><p>'
        |  || text ||
        |  ' with a <a href=''/r''>ref &lt;here&gt;</a> inline</p><footer><a href=''/t''>Terms</a></footer></body></html>' AS html
        |  FROM documents),
        |t1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
        |  '(?s)<!--.*?-->', '', 'g'),
        |  '(?is)<script\b.*?</script\s*>', '', 'g'),
        |  '(?is)<style\b.*?</style\s*>', '', 'g') AS s FROM h),
        |t2 AS (SELECT doc_id, regexp_replace(s,
        |  '(?i)</?(?:p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|td|th|table|thead|tbody|article|section|header|footer|nav|blockquote|pre|form|hr|title)\b[^>]*>',
        |  chr(10), 'g') AS s FROM t1),
        |t3 AS (SELECT doc_id, regexp_replace(s, '(?s)<[^>]*>', '', 'g') AS s FROM t2),
        |t4 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(s,
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |    '&#39;', '''', 'g'), '&apos;', '''', 'g'), '&nbsp;', ' ', 'g'),
        |    '&amp;', '&', 'g') AS s FROM t3),
        |t5 AS (SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(s,
        |  '[ \t\r]+', ' ', 'g'), '(?m)^ +| +$', '', 'g'), '\n{2,}', chr(10), 'g'),
        |  chr(10)) AS txt FROM t4)
        |SELECT doc_id, CAST(length(txt) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(txt, chr(10))) AS BIGINT) AS n_lines,
        |  substring(txt, 1, 30) AS head30
        |FROM t5 ORDER BY doc_id""".stripMargin)),
    // jusText-style content gate over the block frame (link density +
    // length): per-doc kept/dropped counts + extracted length. Golden —
    // the block split + per-block density chain is value-pinned by
    // HtmlSpec hand cases; no compact SQL twin for the full explode
    Query("q162b_html_content", (s, dir) => {
      import graft.data.Html
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<nav><a href='/'>Home</a> <a href='/a'>About</a> " +
          "<a href='/c'>Contact</a></nav><h1>Doc heading</h1><p>"),
        col("text"),
        lit("</p><p>short</p><footer><a href='/t'>Terms</a> " +
          "<a href='/p'>Privacy</a></footer>"))
      // exploded spelling (codegen per block row) — the faster batch
      // shape; extractContentInline is the spec-pinned value-equal
      // stateless spelling that also runs on a stream (HtmlSpec; HOF
      // interpretation costs ~1.5x here)
      Html.extractContent(
          docs.select(col("doc_id"), html.as("html")), "doc_id", "html")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          col("n_blocks_kept"), col("n_blocks_dropped"))
        .orderBy(col("doc_id"))
    }),
    // crawl link graph: per-page <a href> extraction (map-only regexp),
    // host resolution (absolute/protocol-relative/relative/other-scheme),
    // one keyed shuffle to weighted host->host edges. Mixed-case hosts
    // + a mailto link exercise lowercasing and the non-crawl-scheme drop
    Query("q163_link_graph", (s, dir) => {
      import graft.data.Html
      val d = t(s, dir, "documents")
        .withColumn("host", concat(lit("h"), (col("doc_id") % 5).cast("string"),
          lit(".Example.org")))
        .withColumn("html", linkHtml)
      Html.linkGraph(d, "doc_id", "html", "host")
        .orderBy(col("src_host"), col("dst_host"))
    }, Some(
      s"""SELECT * FROM ($linkGraphSql) ORDER BY src_host, dst_host""")),
    // host authority over the EXTRACTED graph — the crawl-prioritization
    // capstone: q163's edges (self-loops dropped) into 3 iterations of
    // exact-integer weighted PageRank; end-to-end html -> ranked hosts
    Query("q163b_host_rank", (s, dir) => {
      import graft.data.{Graph, Html}
      val d = t(s, dir, "documents")
        .withColumn("host", concat(lit("h"), (col("doc_id") % 5).cast("string"),
          lit(".Example.org")))
        .withColumn("html", linkHtml)
      val e = Html.linkGraph(d, "doc_id", "html", "host")
        .filter(col("src_host") =!= col("dst_host"))
      Graph.pageRank(e, "src_host", "dst_host", iters = 3,
          weightCol = Some("w"))
        .select(col("node"), col("rank_micro").as("pr_micro"),
          col("rank").as("pr"))
        .orderBy(col("node"))
    }, Some(
      s"""$hostRankCteSql
         |SELECT node, CAST(r AS BIGINT) AS pr_micro,
         |  CAST(r AS DOUBLE) / 1e9 AS pr
         |FROM r3 ORDER BY node""".stripMargin)),
    // anchor-text signal: the visible text of inbound links aggregated
    // per TARGET host — published pipelines index anchor text as a
    // description of the target. Extraction is the two-group zip
    // (href + inner html), anchors normalized (tags out, entities
    // decoded, whitespace collapsed); src host recomputed from doc_id
    // (derivable), so no join rides the link rows
    Query("q164_anchor_stats", (s, dir) => {
      import graft.data.Html
      val d = t(s, dir, "documents").withColumn("html", linkHtml)
      Html.extractLinks(d, "doc_id", "html")
        .withColumn("dst_host", Html.linkHost(col("href"),
          concat(lit("h"), (col("doc_id") % 5).cast("string"),
            lit(".example.org"))))
        .filter(col("dst_host").isNotNull)
        .groupBy(col("dst_host"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(length(col("anchor"))).cast("long").as("n_anchor_chars"),
          min(col("anchor")).as("first_anchor"))
        .orderBy(col("dst_host"))
    }, Some(
      s"""WITH h AS (SELECT doc_id, $linkHtmlSql AS html FROM documents),
         |x AS (SELECT doc_id,
         |    regexp_extract_all(html, $anchorReSql, 1) AS hrefs,
         |    regexp_extract_all(html, $anchorReSql, 2) AS inners FROM h),
         |i AS (SELECT doc_id, hrefs, inners,
         |    CAST(unnest(range(1, len(hrefs) + 1)) AS BIGINT) AS idx FROM x),
         |a AS (SELECT doc_id, hrefs[CAST(idx AS INT)] AS href,
         |    trim(regexp_replace(
         |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |        inners[CAST(idx AS INT)], '(?s)<[^>]*>', '', 'g'),
         |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
         |      '&#39;', '''', 'g'), '&apos;', '''', 'g'), '&nbsp;', ' ', 'g'),
         |      '&amp;', '&', 'g'),
         |    '\\s+', ' ', 'g')) AS anchor FROM i),
         |r AS (SELECT doc_id, anchor, $linkHostSql AS dst_host FROM (
         |  SELECT doc_id, href, anchor,
         |    'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.org' AS src_host
         |  FROM a))
         |SELECT dst_host, count(*) AS n_links,
         |  count(DISTINCT doc_id) AS n_docs,
         |  CAST(sum(length(anchor)) AS BIGINT) AS n_anchor_chars,
         |  min(anchor) AS first_anchor
         |FROM r WHERE dst_host IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin)),
    // crawl-budget allocation: host authority (q163b's ranks) drives a
    // Hamilton largest-remainder split of a 10k-page crawl budget —
    // the frontier-prioritization composition (authority in, per-host
    // fetch quotas out); Σ quota == 10000 exactly
    Query("q165_crawl_budget", (s, dir) => {
      import graft.data.{Graph, Html, Sampling}
      val d = t(s, dir, "documents")
        .withColumn("host", concat(lit("h"), (col("doc_id") % 5).cast("string"),
          lit(".Example.org")))
        .withColumn("html", linkHtml)
      val e = Html.linkGraph(d, "doc_id", "html", "host")
        .filter(col("src_host") =!= col("dst_host"))
      val ranks = Graph.pageRank(e, "src_host", "dst_host", iters = 3,
        weightCol = Some("w"))
      Sampling.proportionalAllocation(
          ranks.select(col("node").as("host"), col("rank_micro").as("n")),
          Seq("host"), k = 10000L)
        .select(col("host"), col("n").as("rank_micro"), col("quota"))
        .orderBy(col("host"))
    }, Some(
      s"""$hostRankCteSql,
         |tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM r3),
         |qa AS (SELECT node, r, (10000 * r) // t AS q, (10000 * r) % t AS rm
         |  FROM r3, tot),
         |sq AS (SELECT CAST(sum(q) AS BIGINT) AS sq FROM qa)
         |SELECT node AS host, CAST(r AS BIGINT) AS rank_micro,
         |  q + CASE WHEN row_number() OVER (ORDER BY rm DESC, node)
         |    <= 10000 - sq THEN 1 ELSE 0 END AS quota
         |FROM qa, sq ORDER BY host""".stripMargin)),
    // TrustRank (personalized PageRank, teleport to 2 trusted seed
    // hosts): mass flows outward from the trusted core only — hosts
    // unreachable from seeds score 0 regardless of interlinking, the
    // spam-demotion property global PageRank lacks
    // Hilbert-clustered layout audit: 16x16 customer grid -> hilbert
    // index -> 16-cell occupancy rollup. Loops make the curve genuinely
    // non-SQL (golden-pinned); adjacency/bijection are spec-pinned
    // community detection over the host co-occurrence graph (same graph
    // as q85): 3 rounds of deterministic synchronous label propagation,
    // ties to the smallest label — the per-community grouping used for
    // crawl-budget / domain-mix decisions; one keyed shuffle per round
    Query("q177_label_prop", (s, dir) => {
      import graft.data.Graph
      val aug = concat(col("text"),
        lit(" see http://ex"), (col("doc_id") % 5).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit(" and https://cdn.example.com/x"), (col("doc_id") % 3).cast("string"))
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), explode(T.urlHosts(aug)).as("host"))
      val lp = Graph.labelPropagation(
        Graph.coOccurrenceEdges(hosts, "doc_id", "host"), "src", "dst",
        iters = 3)
      val sz = lp.groupBy(col("label")).agg(count(lit(1)).as("csize"))
      lp.join(sz, Seq("label"))
        .select(col("node").as("host"), col("label").as("community"),
          col("csize"))
        .orderBy(col("host"))
    }, Some(
      s"""WITH $hostLabelPropSql,
         |sz AS (SELECT lab, count(*) AS csize FROM l3 GROUP BY lab)
         |SELECT l3.node AS host, l3.lab AS community,
         |  CAST(sz.csize AS BIGINT) AS csize
         |FROM l3 JOIN sz ON l3.lab = sz.lab ORDER BY host""".stripMargin)),
    // k-core decomposition over the same host graph: 3 h-index rounds
    // (degree -> neighbor H-index, the distributed stand-in for the
    // sequential min-degree peel) — coreness isolates the dense
    // mutual-citation cores that per-node triangle stats only score
    // locally; one keyed shuffle + one partitioned rank window per round
    Query("q195_kcore", (s, dir) => {
      import graft.data.Graph
      val aug = concat(col("text"),
        lit(" see http://ex"), (col("doc_id") % 5).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit(" and https://cdn.example.com/x"), (col("doc_id") % 3).cast("string"))
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), explode(T.urlHosts(aug)).as("host"))
      Graph.coreness(
          Graph.coOccurrenceEdges(hosts, "doc_id", "host"), "src", "dst",
          iters = 3)
        .select(col("node").as("host"), col("degree"), col("coreness"))
        .orderBy(col("host"))
    }, Some(
      // q195 oracle: same host graph, then 3 unrolled h-index rounds —
      // h(v) <- max over neighbors of min(rank_by_desc_value, value),
      // exactly the Spark side's partitioned rank window + max
      s"""WITH $hostGraphSql,
         |h0 AS (SELECT src AS node, count(*) AS h FROM e GROUP BY 1),
         |n1 AS (SELECT e.dst AS node, l.h AS hn
         |  FROM e JOIN h0 l ON e.src = l.node),
         |h1 AS (SELECT node, max(least(rn, hn)) AS h FROM (SELECT node, hn,
         |    row_number() OVER (PARTITION BY node ORDER BY hn DESC) AS rn
         |  FROM n1) GROUP BY node),
         |n2 AS (SELECT e.dst AS node, l.h AS hn
         |  FROM e JOIN h1 l ON e.src = l.node),
         |h2 AS (SELECT node, max(least(rn, hn)) AS h FROM (SELECT node, hn,
         |    row_number() OVER (PARTITION BY node ORDER BY hn DESC) AS rn
         |  FROM n2) GROUP BY node),
         |n3 AS (SELECT e.dst AS node, l.h AS hn
         |  FROM e JOIN h2 l ON e.src = l.node),
         |h3 AS (SELECT node, max(least(rn, hn)) AS h FROM (SELECT node, hn,
         |    row_number() OVER (PARTITION BY node ORDER BY hn DESC) AS rn
         |  FROM n3) GROUP BY node)
         |SELECT h0.node AS host, CAST(h0.h AS BIGINT) AS degree,
         |  CAST(h3.h AS BIGINT) AS coreness
         |FROM h0 JOIN h3 ON h0.node = h3.node ORDER BY host""".stripMargin)),
    // deterministic per-epoch corpus shuffle: hash-mod shard + in-shard
    // rank — the scalable "ORDER BY rand()" replacement (no global sort,
    // no sampled range boundaries, bit-reproducible across cluster sizes)
    Query("q180_epoch_shuffle", (s, dir) => {
      import graft.data.Corpus
      Corpus.epochShuffle(t(s, dir, "documents"), "doc_id", epoch = 2L,
          nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }, Some(
      """WITH k AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |      '#epoch2')), 1, 15)) AS BIGINT) AS key
        |  FROM documents),
        |s AS (SELECT doc_id, key, key % 8 AS shard FROM k)
        |SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY key, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin)),
    // DPR-style hard-negative mining: top-5 cosine neighbors with a
    // DIFFERENT label per anchor — label filter below the rank window
    // so rank counts negatives only; null corpus labels excluded
    Query("q181_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
      Similarity.hardNegatives(e.filter(col("vec_id") < 5), e,
          "vec_id", "v", "label", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings)
        |SELECT query_id, rank, neighbor_id, round(sim, 6) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) *
        |       sqrt(list_dot_product(c.v, c.v))) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.v, c.v) /
        |        (sqrt(list_dot_product(q.v, q.v)) *
        |         sqrt(list_dot_product(c.v, c.v))) DESC,
        |        c.vec_id) AS rank
        |  FROM e q CROSS JOIN e c
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
        |    AND c.label IS NOT NULL AND q.label IS DISTINCT FROM c.label)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // Bradley-Terry preference ranking: pairwise judgments derived from
    // consecutive same-user events (higher value wins), 3 exact-integer
    // MM rounds on the pair-count table — the RLHF reward-data ranking
    Query("q182_bradley_terry", (s, dir) => {
      import graft.data.Preference
      Preference.bradleyTerry(eventComparisons(s, dir), "winner", "loser",
          iters = 3)
        .orderBy(col("rating_micro").desc, col("item"))
    }, Some(bradleyTerrySql)),
    // noisy-label consensus: majority vote, annotator reliability (ppm
    // agreement with majorities), reliability-weighted revote — all
    // windows over (item, label) count cells, never raw votes
    Query("q183_label_consensus", (s, dir) => {
      import graft.data.Preference
      val votes = events(s, dir).select(
        (col("event_id") % 500).as("item"), col("user_id").as("annotator"),
        col("event_type").as("label"))
      Preference.weightedConsensus(votes, "item", "annotator", "label")
        .orderBy(col("item"))
    }, Some(
      """WITH v AS (SELECT event_id % 500 AS item, user_id AS annotator,
        |    event_type AS label FROM events
        |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |c1 AS (SELECT item, label, count(*) AS s FROM v GROUP BY 1, 2),
        |m AS (SELECT item, label AS majority_label FROM
        |  (SELECT item, label, row_number() OVER (PARTITION BY item
        |      ORDER BY s DESC, label) AS rk FROM c1) WHERE rk = 1),
        |rel AS (SELECT annotator,
        |    (CAST(sum(CASE WHEN label = majority_label THEN 1 ELSE 0 END)
        |      AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT) AS rel_ppm
        |  FROM v JOIN m USING (item) GROUP BY 1),
        |wcell AS (SELECT item, label, CAST(sum(rel_ppm) AS BIGINT) AS s
        |  FROM v JOIN rel USING (annotator) GROUP BY 1, 2),
        |f AS (SELECT item, label AS final_label,
        |    CAST((s * 1000000) // greatest(wtot, 1) AS BIGINT) AS conf_ppm
        |  FROM (SELECT item, label, s, row_number() OVER (PARTITION BY item
        |      ORDER BY s DESC, label) AS rk,
        |      CAST(sum(s) OVER (PARTITION BY item) AS BIGINT) AS wtot
        |    FROM wcell) WHERE rk = 1),
        |tv AS (SELECT item, count(*) AS votes_total FROM v GROUP BY 1)
        |SELECT f.item, m.majority_label, f.final_label, f.conf_ppm,
        |  tv.votes_total
        |FROM f JOIN m USING (item) JOIN tv USING (item) ORDER BY item""".stripMargin)),
    // rendezvous (HRW) sharding stability: 8 -> 10 shards moves only the
    // docs whose NEW candidates win — the (shard8, shard10) matrix pins
    // both assignments and every off-diagonal row lands on shard 8 or 9
    Query("q184_rendezvous_shards", (s, dir) => {
      import graft.data.Corpus
      val d = Corpus.rendezvousShard(
        Corpus.rendezvousShard(t(s, dir, "documents"), "doc_id", 8,
          outCol = "shard8"),
        "doc_id", 10, outCol = "shard10")
      d.groupBy(col("shard8"), col("shard10")).agg(count(lit(1)).as("n"))
        .orderBy(col("shard8"), col("shard10"))
    }, Some(
      """WITH cand AS (SELECT doc_id, unnest(range(0, 10)) AS s FROM documents),
        |h AS (SELECT doc_id, s, CAST(concat('0x', substr(md5(concat(
        |      CAST(doc_id AS VARCHAR), '#rv', CAST(s AS VARCHAR))), 1, 15))
        |    AS BIGINT) AS hv
        |  FROM cand),
        |a8 AS (SELECT doc_id, s AS shard8 FROM (SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s) AS rk
        |  FROM h WHERE s < 8) WHERE rk = 1),
        |a10 AS (SELECT doc_id, s AS shard10 FROM (SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s) AS rk
        |  FROM h) WHERE rk = 1)
        |SELECT CAST(a8.shard8 AS BIGINT) AS shard8,
        |  CAST(a10.shard10 AS BIGINT) AS shard10, count(*) AS n
        |FROM a8 JOIN a10 USING (doc_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // triangle count + clustering coefficient over a wheel-shaped host
    // graph (5-cycle of ex hosts + cdn hub): degree-ordered orientation
    // bounds the wedge join at O(sqrt(m)) out-degree — the spam-farm
    // density panel
    Query("q187_triangles", (s, dir) => {
      import graft.data.Graph
      val aug = concat(col("text"),
        lit(" http://ex"), (col("doc_id") % 5).cast("string"), lit(".org/a"),
        lit(" http://ex"), ((col("doc_id") + 1) % 5).cast("string"),
        lit(".org/b"), lit(" https://cdn.example.com/z"))
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), explode(T.urlHosts(aug)).as("host"))
      Graph.triangleStats(Graph.coOccurrenceEdges(hosts, "doc_id", "host"),
          "src", "dst")
        .orderBy(col("node"))
    }, Some(
      """WITH aug AS (SELECT doc_id, concat(text,
        |    ' http://ex', CAST(doc_id % 5 AS VARCHAR), '.org/a',
        |    ' http://ex', CAST((doc_id + 1) % 5 AS VARCHAR), '.org/b',
        |    ' https://cdn.example.com/z') AS a
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    unnest(list_filter(
        |      list_transform(regexp_extract_all(a, 'https?://[^\s]+'),
        |        u -> regexp_extract(u, 'https?://(?:[^/\s@]*@)?([^/\s:?#@]+)', 1)),
        |      x -> len(x) > 0)) AS host
        |  FROM aug),
        |und AS (SELECT DISTINCT x.host AS src, y.host AS dst
        |  FROM h x JOIN h y ON x.doc_id = y.doc_id AND x.host <> y.host),
        |deg AS (SELECT src AS node, count(*) AS degree FROM und GROUP BY 1),
        |ord_e AS (SELECT u.src, u.dst FROM und u
        |  JOIN deg a ON u.src = a.node JOIN deg b ON u.dst = b.node
        |  WHERE a.degree < b.degree
        |    OR (a.degree = b.degree AND u.src < u.dst)),
        |w AS (SELECT x.src AS a, least(x.dst, y.dst) AS b,
        |    greatest(x.dst, y.dst) AS c
        |  FROM ord_e x JOIN ord_e y ON x.src = y.src AND x.dst < y.dst),
        |cl AS (SELECT least(src, dst) AS b, greatest(src, dst) AS c FROM ord_e),
        |tri AS (SELECT w.a, w.b, w.c FROM w JOIN cl ON w.b = cl.b AND w.c = cl.c),
        |pn AS (SELECT node, count(*) AS triangles FROM (SELECT a AS node
        |    FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN d.degree < 2 THEN 0
        |    ELSE (2 * coalesce(pn.triangles, 0) * 1000000)
        |      // (d.degree * (d.degree - 1)) END AS BIGINT) AS clustering_ppm
        |FROM deg d LEFT JOIN pn ON d.node = pn.node ORDER BY d.node""".stripMargin)),
    // Aho-Corasick lexicon scan: one automaton pass per doc for the
    // whole term list (incl. overlapping + nested matches) — the
    // scalable spelling of "grep a 10k-term blocklist over 100 TB"
    Query("q188_lexicon_scan", (s, dir) => {
      import graft.data.Lexicon
      Lexicon.scanCounts(
          t(s, dir, "documents").select(col("doc_id"),
            lower(col("text")).as("lt")),
          "doc_id", "lt", lexiconTerms)
        .orderBy(col("doc_id"))
    }, Some(s"""WITH lex AS (SELECT unnest($lexiconSqlList) AS term),
        |d AS (SELECT doc_id, coalesce(lower(text), '') AS lt FROM documents),
        |cnt AS (SELECT doc_id, term,
        |    CAST(len(list_filter(range(1, greatest(len(lt) - len(term) + 2, 1)),
        |      i -> substr(lt, CAST(i AS INTEGER), len(term)) = term))
        |      AS BIGINT) AS n
        |  FROM d CROSS JOIN lex)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct
        |FROM cnt GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // exploded per-term tier of the same scan (blocklist joins hang off
    // this); bounded to a doc slice to keep the pinned surface small
    Query("q188b_lexicon_terms", (s, dir) => {
      import graft.data.Lexicon
      Lexicon.scanTerms(
          t(s, dir, "documents").filter(col("doc_id") < 50)
            .select(col("doc_id"), lower(col("text")).as("lt")),
          "doc_id", "lt", lexiconTerms)
        .orderBy(col("doc_id"), col("term"))
    }, Some(s"""WITH lex AS (SELECT unnest($lexiconSqlList) AS term),
        |d AS (SELECT doc_id, coalesce(lower(text), '') AS lt FROM documents
        |  WHERE doc_id < 50),
        |cnt AS (SELECT doc_id, term,
        |    CAST(len(list_filter(range(1, greatest(len(lt) - len(term) + 2, 1)),
        |      i -> substr(lt, CAST(i AS INTEGER), len(term)) = term))
        |      AS BIGINT) AS n
        |  FROM d CROSS JOIN lex)
        |SELECT doc_id, term, n FROM cnt WHERE n > 0
        |ORDER BY doc_id, term""".stripMargin)),
    // retrieval-eval panel: precision/recall/RR@10 in exact ppm for the
    // brute-force cosine tier against same-label relevance — the
    // recall gate every ANN tier (IVF/PQ/LSH) is graded with
    Query("q189_retrieval_eval", (s, dir) => {
      import graft.data.Bm25
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      val q5 = e.filter(col("vec_id") < 5)
      val results = Similarity.bruteForceTopK(q5, e, "vec_id", "v", k = 10)
      val qrels = q5.select(col("vec_id").as("query_id"), col("label").as("__ql"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("__cl")),
          col("__ql") === col("__cl") && col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
      Bm25.rankingMetrics(results, qrels, k = 10)
        .orderBy(col("query_id"))
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings),
        |res AS (SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_dot_product(q.v, c.v) /
        |        (sqrt(list_dot_product(q.v, q.v)) *
        |         sqrt(list_dot_product(c.v, c.v))) DESC, c.vec_id) AS rank
        |  FROM e q CROSS JOIN e c
        |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 10),
        |qrels AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM e q JOIN e c ON q.label = c.label AND q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5),
        |nr AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1),
        |m AS (SELECT r.query_id, r.rank,
        |    CASE WHEN qr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        |  FROM res r LEFT JOIN qrels qr ON r.query_id = qr.query_id
        |    AND r.neighbor_id = qr.neighbor_id),
        |agg AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS hits,
        |    min(CASE WHEN rel = 1 THEN rank END) AS frst FROM m GROUP BY 1)
        |SELECT a.query_id, CAST(coalesce(nr.n_rel, 0) AS BIGINT) AS n_rel,
        |  a.hits,
        |  CAST((a.hits * 1000000) // 10 AS BIGINT) AS precision_ppm,
        |  CAST(CASE WHEN coalesce(nr.n_rel, 0) > 0
        |    THEN (a.hits * 1000000) // nr.n_rel ELSE 0 END AS BIGINT)
        |    AS recall_ppm,
        |  CAST(CASE WHEN a.frst IS NOT NULL THEN 1000000 // a.frst
        |    ELSE 0 END AS BIGINT) AS rr_ppm
        |FROM agg a LEFT JOIN nr USING (query_id) ORDER BY query_id""".stripMargin)),
    // the panel in production use: measured recall of the IVF tier
    // against brute-force truth — qrels ARE the exact top-10, so
    // recall_ppm is the ANN quality number the nProbe knob trades
    Query("q190_ann_recall", (s, dir) => {
      import graft.data.Bm25
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val q20 = e.filter(col("vec_id") < 20)
      val ann = Similarity.ivfTopK(q20, e, "vec_id", "v", k = 10,
          nCells = 8, nProbe = 2, dim = 64)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val truth = Similarity.bruteForceTopK(q20, e, "vec_id", "v", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      Bm25.rankingMetrics(ann, truth, k = 10).orderBy(col("query_id"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |cellsim AS (SELECT vec_id, p, list_dot_product(v, coef) AS s
         |  FROM e CROSS JOIN planes),
         |ccell AS (SELECT vec_id, p AS cell FROM cellsim
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) = 1),
         |qcell AS (SELECT vec_id, p AS cell FROM cellsim WHERE vec_id < 20
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, p DESC) <= 2),
         |ann AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        c.vec_id) AS rank
         |  FROM e q JOIN qcell ON qcell.vec_id = q.vec_id
         |  JOIN ccell ON ccell.cell = qcell.cell
         |  JOIN e c ON c.vec_id = ccell.vec_id
         |  WHERE q.vec_id <> c.vec_id)
         |  WHERE rank <= 10),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_dot_product(q.v, c.v) /
         |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) DESC,
         |        c.vec_id) AS rank
         |  FROM e q CROSS JOIN e c
         |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id)
         |  WHERE rank <= 10),
         |nr AS (SELECT query_id, count(*) AS n_rel FROM truth GROUP BY 1),
         |m AS (SELECT r.query_id, r.rank,
         |    CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM ann r LEFT JOIN truth t ON r.query_id = t.query_id
         |    AND r.neighbor_id = t.neighbor_id),
         |agg AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS hits,
         |    min(CASE WHEN rel = 1 THEN rank END) AS frst FROM m GROUP BY 1)
         |SELECT a.query_id, CAST(coalesce(nr.n_rel, 0) AS BIGINT) AS n_rel,
         |  a.hits,
         |  CAST((a.hits * 1000000) // 10 AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN coalesce(nr.n_rel, 0) > 0
         |    THEN (a.hits * 1000000) // nr.n_rel ELSE 0 END AS BIGINT)
         |    AS recall_ppm,
         |  CAST(CASE WHEN a.frst IS NOT NULL THEN 1000000 // a.frst
         |    ELSE 0 END AS BIGINT) AS rr_ppm
         |FROM agg a LEFT JOIN nr USING (query_id) ORDER BY query_id""".stripMargin)),
    // isotonic (PAV) calibration of the probe's calibration bins: exact
    // integer pool means, oracle-reproduced via the minimax formula
    // (floor commutes with min/max) — driver PAV over <= 40 bins only
    Query("q191_isotonic", (s, dir) => {
      import graft.data.Probe
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 2).as("v"),
          col("label"))
      val binsDf = Probe.calibration2(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0), "v", "label", nBins = 40)
      Probe.isotonicCalibrate(binsDf).orderBy(col("bin"))
    }, Some(
      s"""WITH $probeWeights2Sql,
         |te AS (SELECT CAST(embedding[1] AS DOUBLE) AS x1,
         |    CAST(embedding[2] AS DOUBLE) AS x2, CAST(label AS DOUBLE) AS y
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |sc AS (SELECT w0 + x1*w1 + x2*w2 AS p, y FROM te, wv),
         |bi AS (SELECT
         |    least(greatest(CAST(floor((p - 0.0) / 0.25) AS BIGINT), 0), 39)
         |      AS bin,
         |    CAST(floor(y * 1e6) AS BIGINT) AS l6 FROM sc),
         |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(l6) AS BIGINT) AS sl FROM bi GROUP BY bin),
         |idx AS (SELECT bin, n, sl, row_number() OVER (ORDER BY bin) AS i
         |  FROM b),
         |pre AS (SELECT i, bin, n, sl,
         |    CAST(sum(n) OVER (ORDER BY i) AS BIGINT) AS cn,
         |    CAST(sum(sl) OVER (ORDER BY i) AS BIGINT) AS cs FROM idx),
         |seg AS (SELECT j.i AS j, k.i AS k,
         |    (k.cs - coalesce(jp.cs, 0)) // (k.cn - coalesce(jp.cn, 0)) AS a
         |  FROM pre j JOIN pre k ON j.i <= k.i
         |  LEFT JOIN pre jp ON jp.i = j.i - 1),
         |m1 AS (SELECT p.i AS i, s.j, CAST(min(s.a) AS BIGINT) AS mn
         |  FROM pre p JOIN seg s ON s.j <= p.i AND s.k >= p.i GROUP BY 1, 2),
         |m2 AS (SELECT i, CAST(max(mn) AS BIGINT) AS iso FROM m1 GROUP BY 1)
         |SELECT pre.bin, pre.n, CAST(pre.sl // pre.n AS BIGINT) AS raw_ppm,
         |  m2.iso AS calibrated_ppm
         |FROM pre JOIN m2 ON pre.i = m2.i ORDER BY pre.bin""".stripMargin)),
    // sorted-neighborhood dedup candidates: global rank by a 12-char
    // normalized-prefix blocking key (NO single-task window — the
    // range-partitioned two-pass rank) + explode/equi-join for the
    // ±5 neighborhood — the "same start, edited tail" blocking family
    Query("q192_snm_pairs", (s, dir) => {
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"), "doc_id",
          substring(T.normalizeText(col("text")), 1, 12), window = 5)
        .select(col("id_a"), col("id_b"), col("gap"))
        .orderBy(col("id_a"), col("id_b"), col("gap"))
    }, Some(
      """WITH d AS (SELECT doc_id AS id,
        |    substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 12)
        |      AS k
        |  FROM documents),
        |r AS (SELECT id, k, row_number() OVER (ORDER BY k, id) AS rk FROM d)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(b.rk - a.rk AS BIGINT) AS gap
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 5
        |ORDER BY id_a, id_b, gap""".stripMargin)),
    // full multi-pass SNM: prefix key AND reversed-text key — a pair
    // only needs to sort close under ONE key (the recall argument)
    Query("q192b_snm_multikey", (s, dir) => {
      val norm = T.normalizeText(col("text"))
      Dedup.sortedNeighborhoodMultiKey(t(s, dir, "documents"), "doc_id",
          Seq(substring(norm, 1, 12), substring(reverse(norm), 1, 12)),
          window = 5)
        .orderBy(col("a"), col("b"))
    }, Some(
      """WITH d AS (SELECT doc_id AS id,
        |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nt
        |  FROM documents),
        |k1 AS (SELECT id, substr(nt, 1, 12) AS k FROM d),
        |k2 AS (SELECT id, substr(reverse(nt), 1, 12) AS k FROM d),
        |r1 AS (SELECT id, row_number() OVER (ORDER BY k, id) AS rk FROM k1),
        |r2 AS (SELECT id, row_number() OVER (ORDER BY k, id) AS rk FROM k2),
        |p AS (
        |  SELECT least(a.id, b.id) AS a, greatest(a.id, b.id) AS b, 0 AS pass
        |  FROM r1 a JOIN r1 b ON b.rk > a.rk AND b.rk <= a.rk + 5
        |  UNION ALL
        |  SELECT least(a.id, b.id) AS a, greatest(a.id, b.id) AS b, 1 AS pass
        |  FROM r2 a JOIN r2 b ON b.rk > a.rk AND b.rk <= a.rk + 5)
        |SELECT a, b, CAST(count(DISTINCT pass) AS BIGINT) AS n_passes
        |FROM p GROUP BY 1, 2 ORDER BY a, b""".stripMargin)),
    // expected calibration error over the probe's bin table — the
    // one-number "is the score a probability" gate, exact ppm
    Query("q193_ece", (s, dir) => {
      import graft.data.Probe
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 2).as("v"),
          col("label"))
      Probe.calibrationError(Probe.calibration2(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0), "v", "label", nBins = 40))
    }, Some(
      s"""WITH $probeWeights2Sql,
         |te AS (SELECT CAST(embedding[1] AS DOUBLE) AS x1,
         |    CAST(embedding[2] AS DOUBLE) AS x2, CAST(label AS DOUBLE) AS y
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |sc AS (SELECT w0 + x1*w1 + x2*w2 AS p, y FROM te, wv),
         |bi AS (SELECT
         |    least(greatest(CAST(floor((p - 0.0) / 0.25) AS BIGINT), 0), 39)
         |      AS bin,
         |    CAST(floor(p * 1e6) AS BIGINT) AS p6,
         |    CAST(floor(y * 1e6) AS BIGINT) AS l6 FROM sc),
         |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(p6) AS BIGINT) AS sp, CAST(sum(l6) AS BIGINT) AS sl
         |  FROM bi GROUP BY bin)
         |SELECT count(*) AS n_bins, CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(CAST(sum(abs(sp - sl)) AS BIGINT) // CAST(sum(n) AS BIGINT)
         |    AS BIGINT) AS ece_ppm,
         |  CAST(max(abs(sp - sl) // n) AS BIGINT) AS max_bin_gap_ppm
         |FROM b""".stripMargin)),
    // distribution-shift panel: total-variation distance between the
    // sources' length-decile distributions in exact ppm — the
    // "did this source's profile move" gate (logs-free, cross-engine)
    Query("q194_source_shift", (s, dir) => {
      import graft.data.Corpus
      val rows = t(s, dir, "documents")
        .select(col("source"),
          least(expr("n_chars div 500"), lit(9L)).as("bkt"))
      Corpus.totalVariationByGroup(rows, "source", "bkt")
        .orderBy(col("a"), col("b"))
    }, Some(
      """WITH r AS (SELECT source AS g, least(n_chars // 500, 9) AS bkt
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |c AS (SELECT g, bkt, count(*) AS n FROM r GROUP BY 1, 2),
        |t AS (SELECT g, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
        |sh AS (SELECT c.g, c.bkt, (c.n * 1000000) // t.tot AS ppm
        |  FROM c JOIN t ON c.g = t.g),
        |grid AS (SELECT gs.g, bs.bkt,
        |    CAST(coalesce(sh.ppm, 0) AS BIGINT) AS ppm
        |  FROM (SELECT DISTINCT g FROM c) gs
        |  CROSS JOIN (SELECT DISTINCT bkt FROM c) bs
        |  LEFT JOIN sh ON sh.g = gs.g AND sh.bkt = bs.bkt)
        |SELECT x.g AS a, y.g AS b,
        |  CAST(sum(abs(x.ppm - y.ppm)) // 2 AS BIGINT) AS tv_ppm
        |FROM grid x JOIN grid y ON x.bkt = y.bkt AND x.g < y.g
        |GROUP BY 1, 2 ORDER BY a, b""".stripMargin)),
    // inter-annotator agreement: Fleiss' kappa (variable raters) in
    // exact ppm — the "are these labels better than chance" gate
    Query("q185_agreement", (s, dir) => {
      import graft.data.Preference
      val votes = events(s, dir).select(
        (col("event_id") % 500).as("item"), col("event_type").as("label"))
      Preference.agreementPanel(votes, "item", "label")
    }, Some(
      """WITH v AS (SELECT event_id % 500 AS item, event_type AS label
        |  FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT item, label, count(*) AS s FROM v GROUP BY 1, 2),
        |ist AS (SELECT item, CAST(sum(s) AS BIGINT) AS n,
        |    CAST(sum(s * (s - 1)) AS BIGINT) AS ap
        |  FROM c GROUP BY 1 HAVING sum(s) >= 2),
        |po AS (SELECT count(*) AS n_items,
        |    CAST(sum((ap * 1000000) // (n * (n - 1))) // count(*) AS BIGINT)
        |      AS po_ppm
        |  FROM ist),
        |lt AS (SELECT c.label, CAST(sum(c.s) AS BIGINT) AS sc
        |  FROM c JOIN ist ON c.item = ist.item GROUP BY 1),
        |tot AS (SELECT CAST(sum(sc) AS BIGINT) AS v FROM lt),
        |pe AS (SELECT tot.v AS n_votes,
        |    CAST(sum(((sc * 1000000) // tot.v) * ((sc * 1000000) // tot.v))
        |      // 1000000 AS BIGINT) AS pe_ppm
        |  FROM lt, tot GROUP BY tot.v)
        |SELECT po.n_items, pe.n_votes, po.po_ppm, pe.pe_ppm,
        |  CAST(CASE WHEN pe.pe_ppm >= 1000000 THEN 0
        |    ELSE ((po.po_ppm - pe.pe_ppm) * 1000000) // (1000000 - pe.pe_ppm)
        |    END AS BIGINT) AS kappa_ppm
        |FROM po, pe""".stripMargin)),
    // order-bias audit over the q182 preference stream: per unordered
    // pair, ppm of comparisons won by the SECOND-presented side
    Query("q186_order_bias", (s, dir) => {
      import graft.data.Preference
      Preference.orderBias(eventComparisons(s, dir), "first", "second",
          "winner")
        .orderBy(col("a"), col("b"))
    }, Some(
      """WITH ord AS (SELECT event_type, value,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS pt,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS pv
        |  FROM events),
        |comp AS (SELECT pt AS f, event_type AS sec,
        |    CASE WHEN value > pv THEN event_type ELSE pt END AS w
        |  FROM ord WHERE pt IS NOT NULL AND event_type <> pt AND value <> pv)
        |SELECT least(f, sec) AS a, greatest(f, sec) AS b, count(*) AS n,
        |  CAST(sum(CASE WHEN w = sec THEN 1 ELSE 0 END) AS BIGINT)
        |    AS second_wins,
        |  (CAST(sum(CASE WHEN w = sec THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // count(*) AS second_win_ppm
        |FROM comp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // LAION-shape image-caption pair gate: real PNG decode -> dHash ->
    // 64-dim surrogate embedding vs the caption's hash embedding, one
    // codegen'd vec_dot per pair; every 97th payload truncated to prove
    // the corrupt-tolerant path (decoded=false, kept=false, job lives).
    // Golden-pinned: ImageIO decode is not ANSI-SQL-reproducible
    Query("q179_pair_filter", (s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      // spread ids before synthesis/decode (q120 rationale)
      val media = docs.select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .map { id =>
          val png = Multimodal.syntheticPng(id)
          Multimodal.MediaRow(id, "img/png",
            if (id % 97 == 0) png.take(16) else png)
        }
      Multimodal.pairScores(docs.select(col("doc_id"), col("text")), media,
          "doc_id", "text", minScore = 0.05)
        .select(col("media_id"), col("decoded"),
          round(col("score"), 6).as("score"), col("kept"))
        .orderBy(col("media_id"))
    }),
    // per-SOURCE boilerplate strip: lines present in >= 60% of a
    // source's docs are dropped from every doc of that source — the
    // site-template filter; the planted copyright line dies, the unique
    // doc tail survives, cross-source repeats are untouched
    Query("q178_boilerplate", (s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("text", concat(col("text"),
          lit("\n(c) "), col("source"), lit(" media group - all rights reserved"),
          lit("\ndoc tail "), col("doc_id").cast("string")))
      Dedup.removeBoilerplate(aug, "doc_id", "text", "source",
          minSharePpm = 600000L)
        .select(col("doc_id"), col("n_lines"), col("n_dropped"), col("text"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH aug AS (SELECT doc_id, source, concat(text,
        |    chr(10), '(c) ', source, ' media group - all rights reserved',
        |    chr(10), 'doc tail ', CAST(doc_id AS VARCHAR)) AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS parts
        |  FROM aug),
        |l AS (SELECT doc_id, source,
        |    CAST(unnest(range(1, len(parts) + 1)) AS BIGINT) - 1 AS line_no,
        |    parts FROM ls),
        |lh AS (SELECT doc_id, source, line_no,
        |    parts[CAST(line_no AS INT) + 1] AS line,
        |    CAST(concat('0x', substr(md5(parts[CAST(line_no AS INT) + 1]), 1, 15))
        |      AS BIGINT) AS h FROM l),
        |gd AS (SELECT source, count(*) AS gdocs FROM documents GROUP BY source),
        |dw AS (SELECT source, h, count(DISTINCT doc_id) AS docs_with
        |  FROM lh GROUP BY source, h),
        |boiler AS (SELECT dw.source, dw.h FROM dw JOIN gd ON dw.source = gd.source
        |  WHERE gd.gdocs >= 2 AND dw.docs_with * 1000000 >= 600000 * gd.gdocs),
        |kept AS (SELECT lh.* FROM lh LEFT JOIN boiler
        |    ON lh.source = boiler.source AND lh.h = boiler.h
        |  WHERE boiler.h IS NULL),
        |reb AS (SELECT doc_id, count(*) AS n_lines,
        |    string_agg(line, chr(10) ORDER BY line_no) AS text
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(parts) AS BIGINT) AS total FROM ls)
        |SELECT tot.doc_id, CAST(coalesce(reb.n_lines, 0) AS BIGINT) AS n_lines,
        |  CAST(tot.total - coalesce(reb.n_lines, 0) AS BIGINT) AS n_dropped,
        |  coalesce(reb.text, '') AS text
        |FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
        |ORDER BY tot.doc_id""".stripMargin)),
    Query("q176_hilbert_layout", (s, dir) => {
      import graft.risk.Sinks
      t(s, dir, "customer")
        .select((col("c_custkey") % 16).as("a"), (col("c_nationkey") % 16).as("b"))
        .select(Sinks.hilbertKey(Seq(col("a"), col("b")), bits = 4).as("h"))
        .groupBy(expr("h div 16").as("run"))
        .agg(count(lit(1)).as("n_rows"), min(col("h")).as("h_min"),
          max(col("h")).as("h_max"))
        .orderBy(col("run"))
    }),
    // one-pass table profile (ANALYZE surface): per column nulls, exact
    // ndv, min/max — one scan, Expand-planned multi-distinct, stack
    // unpivot; long/string columns so min/max stringification is
    // engine-neutral
    Query("q175_table_profile", (s, dir) => {
      import graft.data.Relational
      Relational.profileTable(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_mktsegment")))
        .orderBy(col("column_name"))
    }, Some(Seq("c_custkey", "c_name", "c_nationkey",
        "c_mktsegment").map(c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value FROM customer""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))),
    // cross-source duplication matrix: near-dup pair mass per unordered
    // source pair — "which sources copy each other" before mixing
    // weights are chosen; pairs sized by duplicates, text never rides
    Query("q172_source_overlap", (s, dir) => {
      Dedup.crossSourceOverlap(t(s, dir, "documents"), "doc_id", "text",
          "source", threshold = 0.3)
        .orderBy(col("source_a"), col("source_b"))
    }, Some(
      s"""WITH t AS ($minhashSigTableSql),
         |prs AS (SELECT id_a, id_b FROM ($minhashCandidatesSql)
         |  WHERE jaccard >= 0.3),
         |s AS (SELECT doc_id, source FROM documents),
         |j AS (SELECT least(sa.source, sb.source) AS source_a,
         |    greatest(sa.source, sb.source) AS source_b
         |  FROM prs JOIN s sa ON prs.id_a = sa.doc_id
         |  JOIN s sb ON prs.id_b = sb.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // Markov transitions within 30-min sessions: where users go next,
    // per (from, to) event-type pair — shares sessionize's user shuffle
    Query("q173_session_transitions", (s, dir) => {
      import graft.data.Events
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), col("ts").cast("long").as("ts_s"))
      val sess = Events.sessionize(e, Seq("user_id"), "ts_s",
        gapSeconds = 1800L, tieBreak = Seq(col("event_id")))
      Events.transitionCounts(sess, Seq("user_id", "session_seq"), "ts_s",
          col("event_type"), tieBreak = Seq(col("event_id")))
        .orderBy(col("from_state"), col("to_state"))
    }, Some(
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
         |b AS (SELECT user_id, ts_s, event_id, event_type, CASE WHEN p IS NULL
         |      OR ts_s - p > 1800 THEN 1 ELSE 0 END AS nb
         |  FROM (SELECT user_id, ts_s, event_id, event_type, lag(ts_s) OVER
         |      (PARTITION BY user_id ORDER BY ts_s, event_id) AS p FROM e) q),
         |sess AS (SELECT user_id, ts_s, event_id, event_type,
         |    CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS session_seq FROM b),
         |tr AS (SELECT lag(event_type) OVER (PARTITION BY user_id, session_seq
         |    ORDER BY ts_s, event_id) AS f, event_type AS t FROM sess)
         |SELECT f AS from_state, t AS to_state, count(*) AS n
         |FROM tr WHERE f IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // vocabulary coverage curve: types needed for 50/90/99% of running
    // tokens — the tokenizer-sizing panel; windows over the TYPE table
    Query("q174_vocab_coverage", (s, dir) => {
      import graft.data.Corpus
      val counts = Corpus.tokenCounts(
        t(s, dir, "documents").withColumn("lt", lower(col("text"))), "lt")
      Corpus.coverageCurve(counts, Seq(500000L, 900000L, 990000L))
        .orderBy(col("p_ppm"))
    }, Some(
      s"""WITH c AS (SELECT tok, count(*) AS cnt
         |  FROM (SELECT unnest($ltokSql) AS tok FROM documents) GROUP BY 1),
         |r AS (SELECT tok, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
         |    sum(cnt) OVER (ORDER BY cnt DESC, tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER () AS total FROM c),
         |p AS (SELECT CAST(unnest([500000, 900000, 990000]) AS BIGINT) AS p_ppm)
         |SELECT p_ppm, CAST(min(rank) AS BIGINT) AS n_types,
         |  CAST(min(cum) AS BIGINT) AS cum_tokens, max(cnt) AS cutoff_count
         |FROM r JOIN p ON cum * 1000000 >= p_ppm * total
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // mixture-recipe materialization incl. UP-sampling: src0 at 2.5
    // epochs (whole copies + hash-fractional third pass), src1 at
    // exactly 3, src2 down-sampled to 0.4 — per-(source, epoch)
    // rollup pins copy counts and membership (sum of ids) exactly
    Query("q170_mixture_epochs", (s, dir) => {
      import graft.data.Sampling
      Sampling.materializeRates(t(s, dir, "documents"), col("source"),
          col("doc_id"),
          Map("src0" -> 2500000L, "src1" -> 3000000L, "src2" -> 400000L))
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"), col("epoch"))
    }, Some(
      s"""WITH r AS (SELECT doc_id, source,
         |    CASE source WHEN 'src0' THEN 2500000 WHEN 'src1' THEN 3000000
         |      WHEN 'src2' THEN 400000 ELSE 1000000 END AS rate,
         |    ${h60Sql("CAST(doc_id AS VARCHAR)")} % 1000000 AS slot
         |  FROM documents),
         |c AS (SELECT doc_id, source, rate // 1000000 +
         |    CASE WHEN slot < rate % 1000000 THEN 1 ELSE 0 END AS n FROM r),
         |e AS (SELECT doc_id, source,
         |    CAST(unnest(range(0, n)) AS BIGINT) AS epoch FROM c WHERE n > 0)
         |SELECT source, epoch, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // budget-constrained curation: per source keep the longest docs
    // while the exclusive running token sum is under budget (the
    // straddler included) — "the best 800-token slice of each source"
    Query("q171_budget_select", (s, dir) => {
      import graft.data.{Sampling, TextFunctions}
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", TextFunctions.wordCount(col("text")).cast("long"))
      Sampling.selectToBudget(d, Seq("source"),
          Seq(col("n_chars").desc, col("doc_id").asc), col("n_tokens"),
          budgetTokens = 800L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
          min(col("n_chars")).as("min_chars"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH d AS (SELECT source, doc_id, n_chars,
         |    CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents),
         |p AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY n_chars DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
         |  FROM d),
         |k AS (SELECT * FROM p WHERE pre < 800)
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  min(n_chars) AS min_chars, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),
    // join-size pre-flight: exact |A join B| and per-key pair mass from
    // count tables alone (never running the join) — the ops gate that
    // catches a quadratic self-join blow-up before it OOMs; here the
    // user-pair analysis shape over the events stream
    Query("q169_join_preflight", (s, dir) => {
      import graft.data.Relational
      val ev = events(s, dir)
      Relational.joinSizePreflight(ev, ev, col("user_id"), col("user_id"),
          topK = 15)
        .orderBy(col("pairs").desc, col("key"))
    }, Some(
      s"""WITH lc AS (SELECT user_id AS key, count(*) AS n_left FROM events
         |  WHERE user_id IS NOT NULL GROUP BY 1),
         |prod AS (SELECT key, n_left, n_left AS n_right,
         |    n_left * n_left AS pairs FROM lc),
         |tot AS (SELECT CAST(sum(pairs) AS BIGINT) AS total_pairs FROM prod)
         |SELECT key, n_left, n_right, pairs, total_pairs,
         |  pairs * 1000000 // greatest(total_pairs, 1) AS share_ppm
         |FROM prod, tot ORDER BY pairs DESC, key LIMIT 15""".stripMargin)),
    // small-file compaction plan: deterministic path-ordered bin packing
    // (bucket = exclusive prefix bytes div target) over a synthetic file
    // inventory; per-bucket rollup pins every bucket within one max-file
    // of the target — the OPTIMIZE half of the layout story
    Query("q168_compaction_plan", (s, dir) => {
      import graft.risk.Sinks
      val inv = t(s, dir, "documents")
        .select(format_string("part-%08d", col("doc_id")).as("path"),
          (col("n_chars") + lit(100L)).as("size"))
      Sinks.compactionPlan(inv, "path", "size", targetBytes = 20000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_files"), sum(col("size")).as("bytes"),
          min(col("path")).as("first_path"), max(col("path")).as("last_path"))
        .orderBy(col("bucket"))
    }, Some(
      s"""WITH inv AS (SELECT printf('part-%08d', doc_id) AS path,
         |    n_chars + 100 AS size FROM documents),
         |pre AS (SELECT path, size, coalesce(sum(size) OVER (ORDER BY path
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
         |  FROM inv),
         |pl AS (SELECT path, size, CAST(p // 20000 AS BIGINT) AS bucket FROM pre)
         |SELECT bucket, count(*) AS n_files, CAST(sum(size) AS BIGINT) AS bytes,
         |  min(path) AS first_path, max(path) AS last_path
         |FROM pl GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // mergeable HDR log-histogram quantiles: bounded sketch state
    // (~1.9k buckets/group at subBits=5) over the unbounded price-cents
    // domain; p50/p90/p99 per return flag within 2^-5 relative error —
    // integer-exact bucketing (bin-string exponent, shift/mask sub-
    // bucket) that any engine reproduces bit-for-bit
    Query("q167_log_hist_quantiles", (s, dir) => {
      import graft.data.Sketches
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      val hist = Sketches.logHistogram(
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          cents.as("v")), Seq("flag"), col("v"), subBits = 5)
      Sketches.logHistogramQuantiles(hist, Seq("flag"),
          Seq(500000L, 900000L, 990000L), subBits = 5)
        .orderBy(col("flag"), col("p_ppm"))
    }, Some(
      s"""WITH v AS (SELECT l_returnflag AS flag,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v FROM lineitem),
         |b AS (SELECT flag, CASE WHEN v < 64 THEN v
         |    ELSE (length(bin(v)) - 1 - 5) * 32 + (v >> (length(bin(v)) - 1 - 5))
         |    END AS bin FROM v),
         |h AS (SELECT flag, bin, count(*) AS bin_n FROM b GROUP BY 1, 2),
         |c AS (SELECT flag, bin,
         |    sum(bin_n) OVER (PARTITION BY flag ORDER BY bin) AS cum,
         |    sum(bin_n) OVER (PARTITION BY flag) AS n FROM h),
         |p AS (SELECT CAST(unnest([500000, 900000, 990000]) AS BIGINT) AS p_ppm),
         |sel AS (SELECT flag, p_ppm, min(bin) AS bin FROM c JOIN p
         |    ON cum * 1000000 >= p_ppm * n GROUP BY 1, 2)
         |SELECT flag, p_ppm, CAST(CASE WHEN bin < 64 THEN bin
         |    ELSE (bin - (bin // 32 - 1) * 32) << (bin // 32 - 1) END AS BIGINT) AS q
         |FROM sel ORDER BY flag, p_ppm""".stripMargin)),
    Query("q166_trust_rank", (s, dir) => {
      import s.implicits._
      import graft.data.{Graph, Html}
      val d = t(s, dir, "documents")
        .withColumn("host", concat(lit("h"), (col("doc_id") % 5).cast("string"),
          lit(".Example.org")))
        .withColumn("html", linkHtml)
      val e = Html.linkGraph(d, "doc_id", "html", "host")
        .filter(col("src_host") =!= col("dst_host"))
      val seeds = Seq("h0.example.org", "h1.example.org").toDF("host")
      Graph.personalizedPageRank(e, "src_host", "dst_host",
          seeds, "host", iters = 3, weightCol = Some("w"))
        .select(col("node"), col("rank_micro").as("tr_micro"),
          col("rank").as("tr"))
        .orderBy(col("node"))
    }, Some(
      s"""WITH e AS (SELECT src_host AS src, dst_host AS dst, w
         |  FROM ($linkGraphSql) WHERE src_host <> dst_host),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |sd AS (SELECT node, CASE WHEN node IN
         |    ('h0.example.org', 'h1.example.org') THEN 1 ELSE 0 END AS s
         |  FROM nodes),
         |ns AS (SELECT CAST(sum(s) AS BIGINT) AS n FROM sd),
         |sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY 1),
         |r0 AS (SELECT node, s * (1000000000 // (SELECT n FROM ns)) AS r
         |  FROM sd),
         |c1 AS (SELECT e.dst AS node,
         |    CAST(sum((r0.r * e.w) // sw.sw) AS BIGINT) AS c
         |  FROM e JOIN r0 ON e.src = r0.node JOIN sw ON e.src = sw.src
         |  GROUP BY 1),
         |r1 AS (SELECT sd.node, sd.s * (150000000 // (SELECT n FROM ns))
         |    + (17 * coalesce(c1.c, 0)) // 20 AS r
         |  FROM sd LEFT JOIN c1 ON sd.node = c1.node),
         |c2 AS (SELECT e.dst AS node,
         |    CAST(sum((r1.r * e.w) // sw.sw) AS BIGINT) AS c
         |  FROM e JOIN r1 ON e.src = r1.node JOIN sw ON e.src = sw.src
         |  GROUP BY 1),
         |r2 AS (SELECT sd.node, sd.s * (150000000 // (SELECT n FROM ns))
         |    + (17 * coalesce(c2.c, 0)) // 20 AS r
         |  FROM sd LEFT JOIN c2 ON sd.node = c2.node),
         |c3 AS (SELECT e.dst AS node,
         |    CAST(sum((r2.r * e.w) // sw.sw) AS BIGINT) AS c
         |  FROM e JOIN r2 ON e.src = r2.node JOIN sw ON e.src = sw.src
         |  GROUP BY 1),
         |r3 AS (SELECT sd.node, sd.s * (150000000 // (SELECT n FROM ns))
         |    + (17 * coalesce(c3.c, 0)) // 20 AS r
         |  FROM sd LEFT JOIN c3 ON sd.node = c3.node)
         |SELECT node, CAST(r AS BIGINT) AS tr_micro,
         |  CAST(r AS DOUBLE) / 1e9 AS tr
         |FROM r3 ORDER BY node""".stripMargin)),
    // deterministic shuffle-shard for training delivery: seeded hash IS
    // the permutation (reproducible cross-engine), shards balanced by
    // the hash mod; per-shard stats + key-order head pin the assignment
    Query("q95_shard_corpus", (s, dir) => {
      import graft.data.Corpus
      Corpus.shardCorpus(t(s, dir, "documents"), "doc_id", nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("shuffle_key")).as("min_key"),
          max(col("shuffle_key")).as("max_key"),
          min_by(col("doc_id"), col("shuffle_key")).as("first_doc"))
        .orderBy(col("shard"))
    }, Some(
      s"""WITH sk AS (SELECT doc_id,
         |  ${h60Sql("concat(CAST(doc_id AS VARCHAR), '#shard0')")} AS shuffle_key
         |  FROM documents),
         |sh AS (SELECT doc_id, shuffle_key, shuffle_key % 8 AS shard FROM sk)
         |SELECT shard, count(*) AS n_docs,
         |  min(shuffle_key) AS min_key, max(shuffle_key) AS max_key,
         |  arg_min(doc_id, shuffle_key) AS first_doc
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin)),
    // WITHIN-doc repeated-line removal (map-only): planted intra-doc
    // repeats drop at their second occurrence; the same boilerplate line
    // planted in EVERY doc survives once per doc — proving the cross-doc
    // tier (q66) is untouched
    Query("q96_within_doc_dedup", (s, dir) => {
      val aug = concat_ws("\n",
        lit("shared banner line"), col("text"),
        lit("shared banner line"),
        concat(lit("doc tail "), col("doc_id")),
        concat(lit("doc tail "), col("doc_id")))
      Dedup.dedupLinesWithinDoc(
          t(s, dir, "documents").withColumn("text", aug), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH aug AS (SELECT doc_id, concat('shared banner line', chr(10),
         |    text, chr(10), 'shared banner line', chr(10),
         |    'doc tail ', CAST(doc_id AS VARCHAR), chr(10),
         |    'doc tail ', CAST(doc_id AS VARCHAR)) AS text FROM documents),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM aug),
         |l AS (SELECT doc_id, parts,
         |    CAST(unnest(range(1, len(parts) + 1)) AS BIGINT) AS idx FROM ls),
         |k AS (SELECT doc_id, idx, len(parts) AS n_total,
         |    parts[CAST(idx AS INT)] AS line FROM l
         |  WHERE list_position(parts, parts[CAST(idx AS INT)]) = idx)
         |SELECT doc_id, count(*) AS n_lines,
         |  max(n_total) - count(*) AS n_dropped,
         |  string_agg(line, chr(10) ORDER BY idx) AS text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // per-dimension embedding stats: ONE Summarizer pass (no N×d explode),
    // mean/min/max/std all derived from plain sums for oracle parity
    Query("q104_embedding_stats", (s, dir) => {
      Similarity.dimensionStats(t(s, dir, "embeddings"), "embedding")
        .orderBy(col("dim"))
    }, Some(
      s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |x AS (SELECT i, v[i+1] AS x FROM e CROSS JOIN range(64) t(i))
         |SELECT CAST(i AS BIGINT) AS dim, count(*) AS n,
         |  round(sum(x), 6) AS sum_v,
         |  round(sum(x) / count(*), 6) AS mean,
         |  round(min(x), 6) AS min_v, round(max(x), 6) AS max_v,
         |  round(sqrt(greatest(
         |    (sum(x*x) - sum(x)*sum(x)/count(*)) / (count(*) - 1), 0)), 6) AS std
         |FROM x GROUP BY i ORDER BY dim""".stripMargin)),
    // edit-distance verification tier over MinHash-LSH candidates:
    // banded levenshtein (O(len·maxDist)) certifies literal few-edit dups
    Query("q105_edit_neardups", (s, dir) => {
      Dedup.editNearDups(t(s, dir, "documents"), "doc_id", "text",
          maxDist = 500)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      s"""WITH t AS ($minhashSigTableSql),
         |c AS (SELECT id_a, id_b, jaccard FROM ($minhashCandidatesSql)),
         |p AS (SELECT c.id_a, c.id_b, c.jaccard,
         |    levenshtein(a.text, b.text) AS lev,
         |    greatest(length(a.text), length(b.text), 1) AS mx
         |  FROM c JOIN documents a ON a.doc_id = c.id_a
         |  JOIN documents b ON b.doc_id = c.id_b)
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard,
         |  CAST(lev AS BIGINT) AS lev,
         |  round(1.0 - lev / CAST(mx AS DOUBLE), 6) AS edit_sim
         |FROM p WHERE lev <= 500 ORDER BY id_a, id_b""".stripMargin)),
    // semantic decontamination: corpus docs within cosine 0.35 of any
    // benchmark vector (bench side broadcast; argmax via max(struct))
    Query("q106_semantic_decon", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.contaminationReport(
          e.filter(col("vec_id") % 10 =!= 7),
          e.filter(col("vec_id") % 10 === 7),
          "vec_id", "v", threshold = 0.35)
        .orderBy(col("id"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT c.vec_id AS id, b.vec_id AS bench_id,
         |    list_dot_product(c.v, b.v) /
         |      (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
         |  FROM (SELECT * FROM e WHERE vec_id % 10 <> 7) c
         |  CROSS JOIN (SELECT * FROM e WHERE vec_id % 10 = 7) b),
         |f AS (SELECT id, bench_id, sim,
         |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, bench_id) AS rn
         |  FROM s WHERE sim >= 0.35)
         |SELECT id, bench_id, round(sim, 6) AS sim FROM f WHERE rn = 1
         |ORDER BY id""".stripMargin)),
    // incremental corpus-card maintenance: old card + delta of the diff'd
    // docs == full recompute on the new snapshot (exact longs)
    Query("q107_incremental_card", (s, dir) => {
      import graft.data.Corpus
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 19 =!= 5)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" extra tokens here")))
            .otherwise(col("text")).as("text"))
      Corpus.cardUpdate(Corpus.cardDecomposable(old, "text"), old, nw,
          "doc_id", "text")
        .orderBy(col("metric"))
    }, Some(
      s"""WITH nw AS (SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 0 THEN text || ' extra tokens here'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 19 <> 5)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM nw
         |  UNION ALL SELECT 'n_tokens',
         |    CAST(coalesce(sum(len($tokSql)), 0) AS BIGINT) FROM nw
         |  UNION ALL SELECT 'n_chars',
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM nw
         |  UNION ALL SELECT 'n_empty_docs',
         |    CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) FROM nw)
         |ORDER BY metric""".stripMargin)),
    // prototype pruning (SSL-prototypes/D4): drop the 20% most
    // centroid-typical vectors per cell; map-only assignment, per-cell rank
    Query("q108_prototype_prune", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.prototypePrune(e, "vec_id", "v",
          cents = Similarity.planes(8, 64), dropFrac = 0.2)
        .orderBy(col("id"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |asg AS (SELECT vec_id, v, p AS cell, s, coef FROM (
         |    SELECT e.vec_id, e.v, pl.p, pl.coef,
         |      list_dot_product(e.v, pl.coef) AS s,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.v, pl.coef) DESC, pl.p DESC) AS rn
         |    FROM e CROSS JOIN planes pl) WHERE rn = 1),
         |r AS (SELECT vec_id AS id, cell,
         |    s / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(coef, coef))) AS ps
         |  FROM asg),
         |w AS (SELECT id, cell, ps,
         |    row_number() OVER (PARTITION BY cell ORDER BY ps DESC, id) AS rn,
         |    count(*) OVER (PARTITION BY cell) AS nc FROM r)
         |SELECT id, CAST(cell AS BIGINT) AS cell, round(ps, 6) AS proto_sim,
         |  rn > ceil(nc * 0.2) AS kept
         |FROM w ORDER BY id""".stripMargin)),
    // VIDEO near-dups: real container parse -> per-frame ImageIO decode
    // -> 64-bit dHash set -> frame-hash Jaccard pairs (golden - frame
    // decode not ANSI-expressible); consecutive ids share 4/6 frames
    Query("q158_video_neardups", (s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 40L)
        .map(id => Multimodal.MediaRow(id, "video/gvid",
          Multimodal.syntheticVideo(id)))
      Multimodal.videoNearDups(media, thresholdPpm = 300000L)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // semi-structured JSON props: extraction + typed aggregation over
    // the event payloads (get_json_object surface)
    Query("q159_json_props", (s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("n_distinct_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }, Some(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT)
         |    AS sum_k,
         |  CAST(count(DISTINCT CAST(json_extract(props, '$$.k') AS BIGINT))
         |    AS BIGINT) AS n_distinct_k,
         |  CAST(min(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT)
         |    AS min_k,
         |  CAST(max(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT)
         |    AS max_k
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // tokenizer OOV-rate panel: vocab trained on a SUBSET (%3==0),
    // held-out docs carry planted unseen symbols -> per-source unk_ppm.
    // The segmentation is deterministic but not ANSI-expressible, so
    // the (source, id) stream is staged and the per-source panel
    // recomputed from the stage — the DuckDB oracle recounts it (the
    // q126 hand-off pattern)
    Query("q156_oov_rate", (s, dir) => {
      import graft.data.Bpe
      val docs = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 2,
          concat(col("text"), lit(" ssigß"))).otherwise(col("text")))
      val train = docs.filter(col("doc_id") % 3 === 0)
      // one shared word-type pass for trainer + alphabet (q87c pattern),
      // its map side spread off the narrow scan (gated — no-op at scale)
      val types = Bpe.wordTypes(train, "text").localCheckpoint()
      val merges = Bpe.trainMergesFromTypes(types, 20)
      val vocab = Bpe.vocabularyFromTypes(types, merges)
      unpersistCheckpoint(types)
      // spread the encode input off a narrow scan only (q87b note;
      // measured 2.7 s single-task before)
      Bpe.encodeIds(spreadIfNarrow(docs), "text", merges, vocab)
        .select(col("source"), explode(col("token_ids")).as("id"))
        .write.mode("overwrite").parquet(stageDir("q156_ids", dir))
      readStage(s, stageDir("q156_ids", dir))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_ids"),
          sum(when(col("id") === -1, 1L).otherwise(0L)).as("n_unk"))
        .withColumn("unk_ppm", expr("n_unk * 1000000 div n_ids"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH g AS (SELECT source, count(*) AS n_ids,
         |  CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
         |  FROM read_parquet('${stageDir("q156_ids", StageScale)}/*.parquet')
         |  GROUP BY source)
         |SELECT source, n_ids, n_unk, n_unk * 1000000 // n_ids AS unk_ppm
         |FROM g ORDER BY source""".stripMargin)),
    // Pearson panel from exact integer sufficient statistics: one agg,
    // closed form + round(6) as the only floating point
    Query("q157_corr_panel", (s, dir) => {
      import graft.data.Sketches
      val docs = t(s, dir, "documents")
      Sketches.pearsonExact(docs, Seq(
          ("chars_words", col("n_chars"), T.wordCount(col("text"))),
          ("words_distinct", T.wordCount(col("text")),
            size(array_distinct(T.tokens(col("text")))))))
        .orderBy(col("pair"))
    }, Some(
      s"""WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x1,
         |    CAST(len($tokSql) AS BIGINT) AS w,
         |    CAST(len(list_distinct($tokSql)) AS BIGINT) AS p
         |  FROM documents),
         |s AS (SELECT count(*) AS n,
         |  CAST(sum(x1) AS BIGINT) AS sx0, CAST(sum(w) AS BIGINT) AS sy0,
         |  CAST(sum(x1 * w) AS BIGINT) AS sxy0,
         |  CAST(sum(x1 * x1) AS BIGINT) AS sxx0,
         |  CAST(sum(w * w) AS BIGINT) AS syy0,
         |  CAST(sum(w) AS BIGINT) AS sx1, CAST(sum(p) AS BIGINT) AS sy1,
         |  CAST(sum(w * p) AS BIGINT) AS sxy1,
         |  CAST(sum(w * w) AS BIGINT) AS sxx1,
         |  CAST(sum(p * p) AS BIGINT) AS syy1
         |  FROM d)
         |SELECT 'chars_words' AS pair, n, round(
         |  (CAST(n AS DOUBLE) * CAST(sxy0 AS DOUBLE)
         |    - CAST(sx0 AS DOUBLE) * CAST(sy0 AS DOUBLE))
         |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx0 AS DOUBLE)
         |      - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE))
         |    * sqrt(CAST(n AS DOUBLE) * CAST(syy0 AS DOUBLE)
         |      - CAST(sy0 AS DOUBLE) * CAST(sy0 AS DOUBLE))), 6) AS corr
         |FROM s
         |UNION ALL
         |SELECT 'words_distinct', n, round(
         |  (CAST(n AS DOUBLE) * CAST(sxy1 AS DOUBLE)
         |    - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE))
         |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx1 AS DOUBLE)
         |      - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
         |    * sqrt(CAST(n AS DOUBLE) * CAST(syy1 AS DOUBLE)
         |      - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE))), 6) AS corr
         |FROM s
         |ORDER BY pair""".stripMargin)),
    // per-SOURCE ECDF calibration: each doc's rank within its own
    // source in exact integer ppm — the fairness step before blending
    // per-source scores (distributed bin table, no driver collect)
    Query("q155_group_ecdf", (s, dir) => {
      import graft.data.Sketches
      Sketches.ecdfNormalizeByGroup(
          t(s, dir, "documents").select(col("doc_id"), col("source"),
            col("n_chars")),
          Seq("source"), col("n_chars"), lo = 0.0, hi = 1000.0, nBins = 50)
        .select(col("doc_id"), col("source"), col("n_chars"), col("ecdf_ppm"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH d AS (SELECT doc_id, source, n_chars,
         |  CAST(least(greatest(floor((n_chars - 0.0) * 0.05), 0), 49) AS BIGINT)
         |    AS bin
         |  FROM documents),
         |h AS (SELECT source, bin, count(*) AS c FROM d GROUP BY 1, 2),
         |t AS (SELECT source, bin,
         |    CAST(sum(c) OVER (PARTITION BY source ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
         |  FROM h)
         |SELECT d.doc_id, d.source AS source, d.n_chars,
         |  CAST(t.cum * 1000000 // t.n AS BIGINT) AS ecdf_ppm
         |FROM d JOIN t ON t.source = d.source AND t.bin = d.bin
         |ORDER BY d.doc_id""".stripMargin)),
    // per-group EXACT medians over a bounded domain: one (group, value)
    // count agg + a cumulative walk over distinct values — no per-row
    // window, ties match sort-offset semantics
    Query("q154_group_median", (s, dir) => {
      import graft.data.Relational
      Relational.groupedExactMedian(t(s, dir, "lineitem"),
          Seq("l_returnflag"), col("l_quantity"))
        .orderBy(col("l_returnflag"))
    }, Some(
      s"""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
         |    count(*) AS c FROM lineitem GROUP BY 1, 2),
         |x AS (SELECT l_returnflag, v, c,
         |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(c) OVER (PARTITION BY l_returnflag) AS n FROM c)
         |SELECT l_returnflag, v AS median, CAST(n AS BIGINT) AS n_rows
         |FROM x WHERE cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2
         |ORDER BY l_returnflag""".stripMargin)),
    // exact distributed selection: median and p90 of price-cents via
    // value-range binary search (count-probes over one cached column,
    // no global sort) — matches ORDER BY/OFFSET exactly incl. ties
    Query("q153_exact_kth", (s, dir) => {
      import graft.data.Relational
      import s.implicits._
      val cents = round(col("l_extendedprice") * 100, 0).cast("long")
      val li = t(s, dir, "lineitem")
      val n = li.count()
      val med = Relational.exactKth(li, cents, (n + 1) / 2)
      val p90 = Relational.exactKth(li, cents, (n * 9 + 9) / 10)
      Seq(("median", (n + 1) / 2, med), ("p90", (n * 9 + 9) / 10, p90))
        .toDF("stat", "k", "value").orderBy(col("stat"))
    }, Some(
      s"""WITH v AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
         |  FROM lineitem),
         |n AS (SELECT count(*) AS n FROM v),
         |ks AS (SELECT 'median' AS stat, (n + 1) // 2 AS k FROM n
         |  UNION ALL SELECT 'p90', (n * 9 + 9) // 10 FROM n),
         |o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
         |SELECT stat, k, v AS value FROM ks JOIN o ON o.rn = ks.k
         |ORDER BY stat""".stripMargin)),
    // quality-preferring survivors over NEAR-dup clusters (minhash ->
    // connected components -> keep longest text, then max id) — the
    // production near-dup policy end to end
    Query("q152_best_neardup_survivor", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.3)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.connectedComponents(pairs)
      Dedup.deduplicateBest(docs, "doc_id", clusters,
          Seq(length(col("text")).desc, col("doc_id").desc))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH RECURSIVE t AS ($minhashSigTableSql),
         |prs AS (SELECT id_a, id_b FROM ($minhashCandidatesSql) WHERE jaccard >= 0.3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION SELECT id_b, id_a FROM prs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |comp AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node),
         |asg AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster,
         |    d.text FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |rk AS (SELECT doc_id, row_number() OVER (PARTITION BY cluster
         |    ORDER BY length(text) DESC, doc_id DESC) AS r FROM asg)
         |SELECT doc_id FROM rk WHERE r = 1 ORDER BY doc_id""".stripMargin)),
    // largest-remainder quota allocation + A-ES sampling under per-group
    // quotas: exact Hamilton split of 100 slots by source size, then the
    // content-addressed weighted sample fills each quota
    Query("q149_proportional_sample", (s, dir) => {
      import graft.data.Sampling
      val docs = t(s, dir, "documents")
      val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val quotas = Sampling.proportionalAllocation(sizes, Seq("source"), 100L)
      Sampling.weightedSampleAllocated(
          docs.select(col("source"), col("doc_id"), col("n_chars")),
          Seq("source"), col("doc_id"), col("n_chars"), quotas)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }, Some(
      s"""WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM sizes),
         |qa AS (SELECT source, n, (100 * n) // t AS q, (100 * n) % t AS r
         |  FROM sizes, tot),
         |sq AS (SELECT CAST(sum(q) AS BIGINT) AS sq FROM qa),
         |quo AS (SELECT source, q + CASE WHEN row_number()
         |      OVER (ORDER BY r DESC, source) <= 100 - sq
         |    THEN 1 ELSE 0 END AS quota FROM qa, sq),
         |rk AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY ln((${h60Sql("concat(CAST(doc_id AS VARCHAR), 'wsample')")} + 1.0)
         |      / 1152921504606846977.0) / CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
         |  FROM documents WHERE n_chars > 0)
         |SELECT rk.source AS source, doc_id
         |FROM rk JOIN quo ON quo.source = rk.source
         |WHERE rn <= quota ORDER BY rk.source, doc_id""".stripMargin)),
    // temperature-scaled mixture quotas (alpha = 0.5): floor(sqrt(n))
    // flattening gives small sources relatively more slots — exact
    // integers + one deterministic IEEE sqrt
    Query("q150_temperature_mixture", (s, dir) => {
      import graft.data.Sampling
      val sizes = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(T.wordCount(col("text")).cast("long")).as("n"))
      Sampling.proportionalAllocation(sizes, Seq("source"), 5000L,
          temperatureHalf = true)
        .orderBy(col("source"))
    }, Some(
      s"""WITH sizes AS (SELECT source,
         |    CAST(sum(len($tokSql)) AS BIGINT) AS n FROM documents GROUP BY 1),
         |sc AS (SELECT source, n,
         |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS scaled FROM sizes),
         |tot AS (SELECT CAST(sum(scaled) AS BIGINT) AS t FROM sc),
         |qa AS (SELECT source, n, scaled, (5000 * scaled) // t AS q,
         |    (5000 * scaled) % t AS r FROM sc, tot),
         |sq AS (SELECT CAST(sum(q) AS BIGINT) AS sq FROM qa)
         |SELECT source, n, scaled, q + CASE WHEN row_number()
         |    OVER (ORDER BY r DESC, source) <= 5000 - sq
         |  THEN 1 ELSE 0 END AS quota
         |FROM qa, sq ORDER BY source""".stripMargin)),
    // IVF index-ops health panel: per-cell occupancy with empty cells
    // present, exact counts + integer-ppm share
    Query("q147_ivf_balance", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.ivfBalanceReport(e, "v", Similarity.planes(8, 64))
        .orderBy(col("cell"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |cellsim AS (SELECT vec_id, p, list_dot_product(v, coef) AS s
         |  FROM e CROSS JOIN planes),
         |ccell AS (SELECT vec_id, p AS cell FROM cellsim
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY s DESC, p DESC) = 1),
         |cnt AS (SELECT cell, count(*) AS n FROM ccell GROUP BY 1),
         |tot AS (SELECT count(*) AS total FROM ccell)
         |SELECT CAST(p AS BIGINT) AS cell,
         |  CAST(coalesce(n, 0) AS BIGINT) AS n_vecs,
         |  coalesce(n, 0) * 1000000 // total AS share_ppm
         |FROM planes LEFT JOIN cnt ON cnt.cell = planes.p, tot
         |ORDER BY cell""".stripMargin)),
    // embedding-distribution DRIFT: per-dim mean shift between two
    // snapshots (one stats pass each side, 64-row join)
    Query("q148_embedding_drift", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val before = e.filter(col("vec_id") % 3 =!= 0)
      val after = e.withColumn("v",
        when(col("vec_id") % 5 === 0, transform(col("v"), x => x * 1.1))
          .otherwise(col("v")))
      val sb = Similarity.dimensionStats(before, "v")
        .select(col("dim"), round(col("mean"), 6).as("mean_before"))
      val sa = Similarity.dimensionStats(after, "v")
        .select(col("dim"), round(col("mean"), 6).as("mean_after"))
      sb.join(sa, "dim")
        .select(col("dim"), col("mean_before"), col("mean_after"),
          round(col("mean_after") - col("mean_before"), 6).as("delta"))
        .orderBy(col("dim"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT v FROM e WHERE vec_id % 3 <> 0),
         |a AS (SELECT CASE WHEN vec_id % 5 = 0
         |    THEN list_transform(v, x -> x * 1.1) ELSE v END AS v FROM e),
         |xb AS (SELECT i, v[i+1] AS x FROM b CROSS JOIN range(64) t(i)),
         |xa AS (SELECT i, v[i+1] AS x FROM a CROSS JOIN range(64) t(i)),
         |mb AS (SELECT i, round(sum(x) / count(*), 6) AS mean_before
         |  FROM xb GROUP BY i),
         |ma AS (SELECT i, round(sum(x) / count(*), 6) AS mean_after
         |  FROM xa GROUP BY i)
         |SELECT CAST(mb.i AS BIGINT) AS dim, mean_before, mean_after,
         |  round(mean_after - mean_before, 6) AS delta
         |FROM mb JOIN ma ON ma.i = mb.i ORDER BY dim""".stripMargin)),
    // mixed-script / homoglyph signal: per-script char counts (exact,
    // two regex passes per class, map-only) with planted Cyrillic and
    // Greek lookalikes; per-source panel
    Query("q146_script_mix", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 11 === 4,
          regexp_replace(col("text"), "a", "а"))
          .when(col("doc_id") % 11 === 7,
            regexp_replace(col("text"), "e", "ε"))
          .otherwise(col("text")))
      val sc = T.scriptCounts(col("text"))
      docs.select(col("source"), sc.as("sc"),
          T.mixedScript(sc).cast("long").as("mixed"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("mixed")).as("n_mixed"),
          sum(col("sc.n_latin")).as("sum_latin"),
          sum(col("sc.n_cyrillic")).as("sum_cyrillic"),
          sum(col("sc.n_greek")).as("sum_greek"),
          sum(col("sc.n_digit")).as("sum_digit"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH d AS (SELECT source,
         |    CASE WHEN doc_id % 11 = 4 THEN regexp_replace(text, 'a', 'а', 'g')
         |    WHEN doc_id % 11 = 7 THEN regexp_replace(text, 'e', 'ε', 'g')
         |    ELSE text END AS text
         |  FROM documents),
         |c AS (SELECT source,
         |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
         |    AS n_latin,
         |  length(text) - length(regexp_replace(text, '[\\x{0400}-\\x{04FF}]', '', 'g'))
         |    AS n_cyr,
         |  length(text) - length(regexp_replace(text, '[\\x{0370}-\\x{03FF}]', '', 'g'))
         |    AS n_greek,
         |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
         |    AS n_digit
         |  FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_latin > 0 AND (n_cyr > 0 OR n_greek > 0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
         |  CAST(sum(n_latin) AS BIGINT) AS sum_latin,
         |  CAST(sum(n_cyr) AS BIGINT) AS sum_cyrillic,
         |  CAST(sum(n_greek) AS BIGINT) AS sum_greek,
         |  CAST(sum(n_digit) AS BIGINT) AS sum_digit
         |FROM c GROUP BY source ORDER BY source""".stripMargin)),
    // edge-WEIGHTED PageRank: per-edge mass (r*w) div sum_w(src) in the
    // same integer micro-units - bit-identical to the unrolled oracle
    Query("q145_weighted_pagerank", (s, dir) => {
      import graft.data.Graph
      val e = t(s, dir, "documents").select((col("doc_id") % 23).as("src"),
          (col("doc_id") % 31).as("dst"), (col("doc_id") % 7 + 1).as("w"))
        .filter(col("src") =!= col("dst"))
      Graph.pageRank(e, "src", "dst", iters = 3, weightCol = Some("w"))
        .select(col("node"), col("rank_micro").as("pr_micro"),
          col("rank").as("pr"))
        .orderBy(col("node"))
    }, Some(
      s"""WITH e0 AS (SELECT doc_id % 23 AS src, doc_id % 31 AS dst,
         |    doc_id % 7 + 1 AS w
         |  FROM documents WHERE doc_id % 23 <> doc_id % 31),
         |e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
         |  FROM e0 GROUP BY 1, 2),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY 1),
         |r0 AS (SELECT node, 1000000000 // (SELECT n FROM nn) AS r FROM nodes),
         |c1 AS (SELECT e.dst AS node,
         |    CAST(sum((r0.r * e.w) // sw.sw) AS BIGINT) AS c
         |  FROM e JOIN r0 ON e.src = r0.node JOIN sw ON e.src = sw.src
         |  GROUP BY 1),
         |r1 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
         |    + (17 * coalesce(c1.c, 0)) // 20 AS r
         |  FROM nodes nd LEFT JOIN c1 ON nd.node = c1.node),
         |c2 AS (SELECT e.dst AS node,
         |    CAST(sum((r1.r * e.w) // sw.sw) AS BIGINT) AS c
         |  FROM e JOIN r1 ON e.src = r1.node JOIN sw ON e.src = sw.src
         |  GROUP BY 1),
         |r2 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
         |    + (17 * coalesce(c2.c, 0)) // 20 AS r
         |  FROM nodes nd LEFT JOIN c2 ON nd.node = c2.node),
         |c3 AS (SELECT e.dst AS node,
         |    CAST(sum((r2.r * e.w) // sw.sw) AS BIGINT) AS c
         |  FROM e JOIN r2 ON e.src = r2.node JOIN sw ON e.src = sw.src
         |  GROUP BY 1),
         |r3 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
         |    + (17 * coalesce(c3.c, 0)) // 20 AS r
         |  FROM nodes nd LEFT JOIN c3 ON nd.node = c3.node)
         |SELECT node, CAST(r AS BIGINT) AS pr_micro,
         |  CAST(r AS DOUBLE) / 1e9 AS pr
         |FROM r3 ORDER BY node""".stripMargin)),
    // per-group exact heavy hitters: one bounded MG summary per group +
    // exact recount; the within-group key domain never shuffles
    Query("q144_group_hitters", (s, dir) => {
      import graft.data.Sketches
      val keyed = events(s, dir)
        .withColumn("grp", col("event_type"))
        .withColumn("k", when(col("event_id") % 4 < 2, lit("hotkey"))
          .otherwise(col("user_id").cast("string")))
      Sketches.heavyHittersByGroup(keyed, Seq("grp"), col("k"), k = 5)
        .orderBy(col("grp"), col("key"))
    }, Some(
      s"""WITH keyed AS (SELECT event_type AS grp,
         |    CASE WHEN event_id % 4 < 2 THEN 'hotkey'
         |    ELSE CAST(user_id AS VARCHAR) END AS key FROM events),
         |tot AS (SELECT grp, count(*) AS total FROM keyed GROUP BY 1)
         |SELECT grp, key, count(*) AS cnt,
         |  count(*) * 1000000 // total AS share_ppm
         |FROM keyed JOIN tot USING (grp)
         |GROUP BY grp, key, total HAVING count(*) * 5 > total
         |ORDER BY grp, key""".stripMargin)),
    // incremental SCD-2 maintenance: later change batch applied to an
    // existing history (closed past untouched) == full recompute; the
    // oracle IS the full-log recompute
    Query("q143_scd2_apply", (s, dir) => {
      import graft.data.Relational
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"))
      val history = Relational.scd2(e.filter(col("event_id") < 7000),
        Seq("user_id"), "event_id", Seq("event_type"))
      Relational.scd2Apply(history, e.filter(col("event_id") >= 7000),
          Seq("user_id"), "event_id", Seq("event_type"))
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_type"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    }, Some(
      s"""WITH chg AS (SELECT user_id, event_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
         |      AS prev
         |  FROM events)
         |SELECT user_id, event_id AS valid_from,
         |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
         |    AS valid_to,
         |  event_type,
         |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
         |    IS NULL AS is_current
         |FROM chg WHERE prev IS NULL OR prev <> event_type
         |ORDER BY user_id, valid_from""".stripMargin)),
    // audio tier: deterministic PCM16 RIFF/WAV payloads parsed by a real
    // chunk walk -> exact integer features; one corrupt payload pins the
    // sentinel contract (golden - WAV bytes are not ANSI-expressible)
    Query("q142_audio_features", (s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 64L)
        .map(id =>
          if (id == 13L) Multimodal.MediaRow(id, "audio/wav",
            Array[Byte](1, 2, 3))
          else Multimodal.MediaRow(id, "audio/wav", Multimodal.syntheticWav(id)))
      Multimodal.audioFeatures(media).toDF().orderBy(col("media_id"))
    }),
    // batch gap-sessionization (streaming session_window's exact twin):
    // lag-boundary + per-key running sum, one keyed shuffle; per-session
    // rollup with exact integer durations
    Query("q139_sessionize", (s, dir) => {
      import graft.data.Events
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("ts_s"))
      Events.sessionStats(
          Events.sessionize(e, Seq("user_id"), "ts_s", gapSeconds = 1800L,
            tieBreak = Seq(col("event_id"))),
          Seq("user_id"), "ts_s")
        .orderBy(col("user_id"), col("session_seq"))
    }, Some(
      s"""WITH e AS (SELECT user_id, event_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
         |b AS (SELECT user_id, ts_s, event_id_order, CASE WHEN p IS NULL
         |      OR ts_s - p > 1800 THEN 1 ELSE 0 END AS nb
         |  FROM (SELECT user_id, ts_s, lag(ts_s) OVER
         |      (PARTITION BY user_id ORDER BY ts_s, event_id) AS p,
         |      event_id AS event_id_order FROM e) q),
         |sess AS (SELECT user_id, ts_s, CAST(sum(nb) OVER (
         |    PARTITION BY user_id ORDER BY ts_s, event_id_order
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS session_seq FROM b)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |  min(ts_s) AS t_start, max(ts_s) AS t_end,
         |  max(ts_s) - min(ts_s) AS duration_s
         |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin)),
    // ordered funnel: earliest signup -> click AFTER it -> purchase
    // after that; per-step exact conversion ppm vs step 1
    Query("q140_funnel", (s, dir) => {
      import graft.data.Events
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        col("ts").cast("long").as("ts_s"))
      Events.funnelReport(
          Events.funnel(e, Seq("user_id"), "ts_s", Seq(
            "signup" -> (col("event_type") === "signup"),
            "click" -> (col("event_type") === "click"),
            "purchase" -> (col("event_type") === "purchase"))),
          Seq("signup", "click", "purchase"))
        .orderBy(col("step"))
    }, Some(
      s"""WITH e AS (SELECT user_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
         |s1 AS (SELECT user_id, min(s) AS t1 FROM e
         |  WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(s) AS t2 FROM e JOIN s1 USING (user_id)
         |  WHERE event_type = 'click' AND s > t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(s) AS t3 FROM e JOIN s2 USING (user_id)
         |  WHERE event_type = 'purchase' AND s > t2 GROUP BY 1),
         |c AS (SELECT (SELECT count(*) FROM s1) AS n1,
         |  (SELECT count(*) FROM s2) AS n2, (SELECT count(*) FROM s3) AS n3)
         |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
         |  n1 AS n_converted, CAST(1000000 AS BIGINT) AS conversion_ppm FROM c
         |UNION ALL SELECT 2, 'click', n2, n2 * 1000000 // n1 FROM c
         |UNION ALL SELECT 3, 'purchase', n3, n3 * 1000000 // n1 FROM c
         |ORDER BY step""".stripMargin)),
    // windowed funnel: conversion only counts within a 3-day deadline of
    // step 1 (the "converted within N days" product-analytics contract)
    Query("q151_funnel_window", (s, dir) => {
      import graft.data.Events
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        col("ts").cast("long").as("ts_s"))
      Events.funnelReport(
          Events.funnel(e, Seq("user_id"), "ts_s", Seq(
            "signup" -> (col("event_type") === "signup"),
            "click" -> (col("event_type") === "click"),
            "purchase" -> (col("event_type") === "purchase")),
            maxSpanSeconds = Some(259200L)),
          Seq("signup", "click", "purchase"))
        .orderBy(col("step"))
    }, Some(
      s"""WITH e AS (SELECT user_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
         |s1 AS (SELECT user_id, min(s) AS t1 FROM e
         |  WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(s) AS t2, min(t1) AS t1b
         |  FROM e JOIN s1 USING (user_id)
         |  WHERE event_type = 'click' AND s > t1 AND s - t1 <= 259200
         |  GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(s) AS t3 FROM e JOIN s2 USING (user_id)
         |  WHERE event_type = 'purchase' AND s > t2 AND s - t1b <= 259200
         |  GROUP BY 1),
         |c AS (SELECT (SELECT count(*) FROM s1) AS n1,
         |  (SELECT count(*) FROM s2) AS n2, (SELECT count(*) FROM s3) AS n3)
         |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
         |  n1 AS n_converted, CAST(1000000 AS BIGINT) AS conversion_ppm FROM c
         |UNION ALL SELECT 2, 'click', n2, n2 * 1000000 // n1 FROM c
         |UNION ALL SELECT 3, 'purchase', n3, n3 * 1000000 // n1 FROM c
         |ORDER BY step""".stripMargin)),
    // retention cohorts: first-activity epoch-day buckets x age-days
    // distinct-active matrix, all integer-exact day arithmetic
    Query("q141_cohorts", (s, dir) => {
      import graft.data.Events
      val e = events(s, dir).select(col("user_id"),
        col("ts").cast("long").as("ts_s"))
      Events.retentionCohorts(e, Seq("user_id"), "ts_s")
        .orderBy(col("cohort_day"), col("age_days"))
    }, Some(
      s"""WITH e AS (SELECT user_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d FROM events),
         |f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1),
         |a AS (SELECT DISTINCT user_id, d FROM e)
         |SELECT cohort_day, d - cohort_day AS age_days,
         |  count(DISTINCT a.user_id) AS n_active
         |FROM a JOIN f USING (user_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // quality-aware survivor selection: keep the BEST cluster member
    // (here: longest text, then max id), not the min id — dups planted
    // by copying every %7==0 doc's text onto its %7==3 neighbor
    Query("q138_best_survivor", (s, dir) => {
      val base = t(s, dir, "documents")
      val donors = base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("donor_id"), col("text").as("donor_text"))
      val planted = base
        .join(donors,
          col("doc_id") % 7 === 3 && col("doc_id") - 3 === col("donor_id"),
          "left")
        .select(col("doc_id"),
          coalesce(col("donor_text"), col("text")).as("text"))
      val clusters = planted.select(col("doc_id").as("id"),
        T.fingerprint(col("text")).as("cluster"))
      Dedup.deduplicateBest(planted, "doc_id", clusters,
          Seq(length(col("text")).desc, col("doc_id").desc))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH planted AS (
         |  SELECT d1.doc_id, coalesce(d2.text, d1.text) AS text
         |  FROM documents d1 LEFT JOIN documents d2
         |    ON d1.doc_id % 7 = 3 AND d2.doc_id = d1.doc_id - 3),
         |fp AS (SELECT doc_id, text,
         |    ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS f
         |  FROM planted),
         |rk AS (SELECT doc_id, row_number() OVER (PARTITION BY f
         |    ORDER BY length(text) DESC, doc_id DESC) AS r FROM fp)
         |SELECT doc_id FROM rk WHERE r = 1 ORDER BY doc_id""".stripMargin)),
    // collocation mining (word2vec-phrases score): discounted bigram
    // lift in overflow-safe exact integer ppm; two count aggs + two
    // word-keyed joins, nothing quadratic
    Query("q137_collocations", (s, dir) => {
      import graft.data.Corpus
      Corpus.collocations(t(s, dir, "documents"), "text",
          minCount = 20L, minScorePpm = 0L, discount = 5L)
        .orderBy(col("score_ppm").desc, col("w1"), col("w2"))
        .limit(30)
    }, Some(
      s"""WITH t AS (SELECT $tokSql AS toks FROM documents),
         |uni AS (SELECT unnest(toks) AS w FROM t),
         |uc AS (SELECT w, count(*) AS c_w FROM uni GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM uni),
         |bi0 AS (SELECT unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || chr(1) || toks[i+1])) AS bg
         |  FROM t WHERE len(toks) >= 2),
         |bc AS (SELECT split_part(bg, chr(1), 1) AS w1,
         |    split_part(bg, chr(1), 2) AS w2, count(*) AS c_pair
         |  FROM bi0 GROUP BY bg HAVING count(*) >= 20)
         |SELECT w1, w2, c_pair,
         |  ((c_pair - 5) * 1000000 // c1.c_w) * n_total // c2.c_w AS score_ppm
         |FROM bc JOIN uc c1 ON c1.w = w1 JOIN uc c2 ON c2.w = w2, tot
         |WHERE c_pair > 5
         |ORDER BY score_ppm DESC, w1, w2 LIMIT 30""".stripMargin)),
    // SFT ingest: chat-template render (map-only) + loss-masked sequence
    // packing — the response token interval [loss_start, loss_end) rides
    // the same distributed prefix-sum layout as q71
    Query("q136_sft_pack", (s, dir) => {
      import graft.data.Corpus
      val sft = t(s, dir, "documents").select(col("doc_id"),
        Corpus.chatPromptText(lit("you are a careful assistant"),
          concat(lit("summarize: "), substring(col("text"), 1, 80))).as("p"),
        Corpus.chatResponseText(col("text")).as("r"))
      Corpus.packWithLossMask(
          sft.withColumn("pt", Corpus.chatTokenCount(col("p")))
            .withColumn("rt", Corpus.chatTokenCount(col("r"))),
          "doc_id", col("pt"), col("rt"), contextLen = 1024)
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH s AS (SELECT doc_id,
         |    concat('<|system|>', chr(10), 'you are a careful assistant',
         |      chr(10), '<|user|>', chr(10), 'summarize: ',
         |      substr(text, 1, 80), chr(10), '<|assistant|>', chr(10)) AS p,
         |    concat(text, chr(10), '<|end|>') AS r
         |  FROM documents),
         |t AS (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(p, '\\s+'),
         |      t -> t <> '')) AS BIGINT) AS prompt_tokens,
         |    CAST(len(list_filter(regexp_split_to_array(r, '\\s+'),
         |      t -> t <> '')) AS BIGINT) AS resp_tokens
         |  FROM s),
         |p2 AS (SELECT doc_id, prompt_tokens, resp_tokens,
         |    prompt_tokens + resp_tokens AS n_tokens,
         |    CAST(coalesce(sum(prompt_tokens + resp_tokens) OVER
         |      (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |        1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM t)
         |SELECT doc_id, prompt_tokens, resp_tokens, n_tokens, tok_start,
         |  tok_start + n_tokens AS tok_end,
         |  tok_start + prompt_tokens AS loss_start,
         |  tok_start + n_tokens AS loss_end,
         |  tok_start // 1024 AS pack_first,
         |  CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 1024
         |       ELSE tok_start // 1024 - 1 END AS pack_last,
         |  CASE WHEN n_tokens > 0
         |       THEN (tok_start + n_tokens - 1) // 1024 - tok_start // 1024 + 1
         |       ELSE 0 END AS n_packs
         |FROM p2 ORDER BY doc_id""".stripMargin)),
    // SCD-2 dimension history from a change log: no-op updates dropped,
    // [valid_from, valid_to) intervals per key version, one keyed shuffle
    Query("q135_scd2", (s, dir) => {
      import graft.data.Relational
      Relational.scd2(
          events(s, dir).select(col("user_id"), col("event_id"), col("event_type")),
          keyCols = Seq("user_id"), orderCol = "event_id",
          attrCols = Seq("event_type"))
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_type"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    }, Some(
      s"""WITH chg AS (SELECT user_id, event_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
         |      AS prev
         |  FROM events)
         |SELECT user_id, event_id AS valid_from,
         |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
         |    AS valid_to,
         |  event_type,
         |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
         |    IS NULL AS is_current
         |FROM chg WHERE prev IS NULL OR prev <> event_type
         |ORDER BY user_id, valid_from""".stripMargin)),
    // engine-portable Bloom bitset (32-bit words, MD5 positions): the
    // sparse word table a benchmark fingerprint set ORs into — bit-exact
    // cross-engine, mergeable by bit_or per word
    Query("q133_bloom_sketch", (s, dir) => {
      import graft.data.Sketches
      val fp = t(s, dir, "documents").filter(col("doc_id") % 17 === 3)
        .select(T.fingerprint(col("text")).as("fp")).distinct()
      Sketches.bloomSketch(fp, col("fp"), mBits = 8192, kHashes = 4)
        .orderBy(col("word_idx"))
    }, Some(
      s"""WITH fp AS (SELECT DISTINCT
         |    ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS fp
         |  FROM documents WHERE doc_id % 17 = 3),
         |pos AS (SELECT
         |    ${h60Sql("concat('bloom:', CAST(i AS VARCHAR), ':', CAST(fp AS VARCHAR))")} % 8192 AS pos
         |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS i))
         |SELECT pos // 32 AS word_idx,
         |  bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
         |FROM pos GROUP BY 1 ORDER BY 1""".stripMargin)),
    // bloom-GUARDED exact decontamination: broadcast 8KB bitset screens
    // the corpus map-side, only bloom hits enter the verify join; output
    // identical to the plain semi-join by construction
    Query("q134_bloom_decon", (s, dir) => {
      import graft.data.Corpus
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 17 === 3).select(col("text"))
      Corpus.decontaminateExact(docs, "doc_id", "text", bench)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("contaminated").cast("long")).as("n_contaminated"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH bfp AS (SELECT DISTINCT
         |    ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS fp
         |  FROM documents WHERE doc_id % 17 = 3)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN
         |    ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")}
         |    IN (SELECT fp FROM bfp) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated
         |FROM documents GROUP BY source ORDER BY source""".stripMargin)),
    // exact heavy hitters without shuffling the key domain: one
    // Misra-Gries pass (bounded state, guaranteed-superset candidates)
    // + an exact recount of <= 2k candidate keys; skew planted so the
    // threshold bites
    Query("q132_heavy_hitters", (s, dir) => {
      import graft.data.Sketches
      val keyed = events(s, dir).withColumn("k",
        when(col("event_id") % 3 < 2,
          concat(lit("hot"), (col("event_id") % 2).cast("string")))
          .otherwise(col("user_id").cast("string")))
      Sketches.heavyHitters(keyed, col("k"), k = 10)
        .orderBy(col("key"))
    }, Some(
      s"""WITH keyed AS (SELECT CASE WHEN event_id % 3 < 2
         |    THEN 'hot' || CAST(event_id % 2 AS VARCHAR)
         |    ELSE CAST(user_id AS VARCHAR) END AS key FROM events),
         |tot AS (SELECT count(*) AS total FROM keyed)
         |SELECT key, count(*) AS cnt, count(*) * 1000000 // total AS share_ppm
         |FROM keyed, tot GROUP BY key, total
         |HAVING count(*) * 10 > total ORDER BY key""".stripMargin)),
    // 1-bit sign-quantized ANN: Hamming scan over packed sign words
    // (32x less scan traffic than float32) -> exact-cosine rerank of
    // refine*k candidates only; floats never ride the scan
    Query("q131_binary_ann", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Pq.binaryTopK(e.filter(col("vec_id") < 8), e, "vec_id", "v",
          k = 5, refine = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("hamming"), round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 8),
         |ham AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(len(list_filter(range(1, 65),
         |      i -> (q.v[i] > 0) <> (c.v[i] > 0))) AS BIGINT) AS hamming
         |  FROM q JOIN e c ON q.vec_id <> c.vec_id),
         |cand AS (SELECT query_id, neighbor_id, hamming,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY hamming, neighbor_id) AS hrank
         |  FROM ham),
         |rr AS (SELECT cand.query_id, cand.neighbor_id, cand.hamming,
         |    list_dot_product(qv.v, cv.v) / (sqrt(list_dot_product(qv.v, qv.v))
         |      * sqrt(list_dot_product(cv.v, cv.v))) AS sim
         |  FROM cand JOIN e qv ON qv.vec_id = cand.query_id
         |  JOIN e cv ON cv.vec_id = cand.neighbor_id
         |  WHERE hrank <= 20)
         |SELECT query_id, rank, neighbor_id, hamming, round(sim, 6) AS sim
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id) AS rank FROM rr)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // exact Jaccard-threshold near-dup pairs via PREFIX FILTERING
    // (SSJoin/PPJoin): deterministic 100% recall — no LSH band luck —
    // with candidates keyed on globally-RARE shingles only
    Query("q130_ppjoin_pairs", (s, dir) => {
      Dedup.jaccardThresholdPairs(t(s, dir, "documents"), "doc_id", "text",
          thresholdPpm = 500000L, shingleN = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      s"""WITH sh AS (
         |  SELECT doc_id AS id, unnest(list_distinct(
         |      list_transform(range(1, len(toks)-1),
         |        i -> ${h28Sql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")}))) AS tok
         |  FROM (SELECT doc_id, $tokSql AS toks FROM documents)
         |  WHERE len(toks) >= 3),
         |sz AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b, i * 1000000 // (sa.n + sb.n - i) AS jaccard_ppm
         |FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
         |WHERE i * 1000000 // (sa.n + sb.n - i) >= 500000
         |ORDER BY id_a, id_b""".stripMargin)),
    // fill-in-the-middle transform (Bavarian 2022): content-addressed
    // apply decision + split points, PSM rearrangement, map-only
    Query("q129_fim_transform", (s, dir) => {
      import graft.data.Corpus
      Corpus.fimTransform(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", fimRate = 0.5, salt = "fim")
        .select(col("doc_id"), col("fim_applied"),
          length(col("text")).cast("long").as("out_len"),
          T.hash60(col("text")).as("out_fp"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH d AS (SELECT doc_id, text, length(text) AS len,
         |  ${h60Sql("concat(CAST(doc_id AS VARCHAR), ':fim:1')")} % 10000 AS u1,
         |  ${h60Sql("concat(CAST(doc_id AS VARCHAR), ':fim:2')")} % 10000 AS u2,
         |  ${h60Sql("concat(CAST(doc_id AS VARCHAR), ':fim:3')")} % 10000 AS u3
         |  FROM documents),
         |c AS (SELECT *,
         |  least(CAST(floor(u2 * len / 10000.0) AS INT),
         |        CAST(floor(u3 * len / 10000.0) AS INT)) AS i,
         |  greatest(CAST(floor(u2 * len / 10000.0) AS INT),
         |           CAST(floor(u3 * len / 10000.0) AS INT)) AS j
         |  FROM d),
         |f AS (SELECT doc_id, (u1 < 5000 AND len > 0) AS fim_applied,
         |  CASE WHEN u1 < 5000 AND len > 0 THEN
         |    '<PRE>' || substr(text, 1, i) || '<SUF>' ||
         |    substr(text, j + 1, len - j) || '<MID>' ||
         |    substr(text, i + 1, j - i)
         |  ELSE text END AS out FROM c)
         |SELECT doc_id, fim_applied, CAST(length(out) AS BIGINT) AS out_len,
         |  ${h60Sql("out")} AS out_fp
         |FROM f ORDER BY doc_id""".stripMargin)),
    // quality ENSEMBLE capstone: three incomparable signals (rule
    // quality, type-token ratio, length) ECDF-calibrated to ppm and
    // blended with exact integer weights; top-30 keep list
    Query("q128_quality_ensemble", (s, dir) => {
      import graft.data.Sketches
      val base = t(s, dir, "documents").select(col("doc_id"),
        T.qualityScore(col("text")).as("sq"),
        T.typeTokenRatio(col("text")).as("st"),
        T.wordCount(col("text")).cast("double").as("sw"))
      val e1 = Sketches.ecdfNormalize(base, col("sq"), 0.0, 1.0, 100)
        .withColumnRenamed("ecdf_ppm", "e_quality")
      val e2 = Sketches.ecdfNormalize(e1, col("st"), 0.0, 1.0, 100)
        .withColumnRenamed("ecdf_ppm", "e_ttr")
      val e3 = Sketches.ecdfNormalize(e2, col("sw"), 0.0, 1000.0, 50)
        .withColumnRenamed("ecdf_ppm", "e_len")
      e3.select(col("doc_id"), col("e_quality"), col("e_ttr"), col("e_len"),
          expr("(3 * e_quality + 2 * e_ttr + e_len) div 6").as("ensemble_ppm"))
        .orderBy(col("ensemble_ppm").desc, col("doc_id")).limit(30)
    }, Some(
      s"""WITH base AS (SELECT doc_id, ($qualitySql) AS sq,
         |  len(list_distinct(ltoks)) / CAST(greatest(len(ltoks), 1) AS DOUBLE)
         |    AS st,
         |  CAST(words AS DOUBLE) AS sw
         |  FROM (SELECT doc_id, text, $ltokSql AS ltoks, len($tokSql) AS words,
         |        $punctSql AS punct, ${stopSql(T.StopEn)} AS stop_en
         |        FROM documents)),
         |b1 AS (SELECT *, CAST(least(greatest(floor(sq * 100), 0), 99) AS BIGINT)
         |  AS bq FROM base),
         |h1 AS (SELECT bq, count(*) AS c FROM b1 GROUP BY bq),
         |c1 AS (SELECT bq, CAST(sum(c) OVER (ORDER BY bq ROWS BETWEEN
         |    UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
         |    // (SELECT sum(c) FROM h1) AS BIGINT) AS e_quality FROM h1),
         |b2 AS (SELECT b1.*, c1.e_quality,
         |  CAST(least(greatest(floor(st * 100), 0), 99) AS BIGINT) AS bt
         |  FROM b1 JOIN c1 ON c1.bq = b1.bq),
         |h2 AS (SELECT bt, count(*) AS c FROM b2 GROUP BY bt),
         |c2 AS (SELECT bt, CAST(sum(c) OVER (ORDER BY bt ROWS BETWEEN
         |    UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
         |    // (SELECT sum(c) FROM h2) AS BIGINT) AS e_ttr FROM h2),
         |b3 AS (SELECT b2.*, c2.e_ttr,
         |  CAST(least(greatest(floor(sw * 0.05), 0), 49) AS BIGINT) AS bw
         |  FROM b2 JOIN c2 ON c2.bt = b2.bt),
         |h3 AS (SELECT bw, count(*) AS c FROM b3 GROUP BY bw),
         |c3 AS (SELECT bw, CAST(sum(c) OVER (ORDER BY bw ROWS BETWEEN
         |    UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000
         |    // (SELECT sum(c) FROM h3) AS BIGINT) AS e_len FROM h3)
         |SELECT doc_id, e_quality, e_ttr, e_len,
         |  CAST((3 * e_quality + 2 * e_ttr + e_len) // 6 AS BIGINT)
         |    AS ensemble_ppm
         |FROM b3 JOIN c3 ON c3.bw = b3.bw
         |ORDER BY ensemble_ppm DESC, doc_id LIMIT 30""".stripMargin)),
    // tokenizer fertility panel: BPE vs unigram tokens/word and
    // chars/token in exact ppm on the same corpus. The trained encode
    // is deterministic but not SQL-expressible, so the exploded pieces
    // are STAGED to parquet (the q33b hand-off pattern) and the metrics
    // are computed FROM the staged table — the DuckDB oracle recomputes
    // them from the same parquet, turning a golden pin into a value-
    // exact oracle (only the metric arithmetic needs cross-checking;
    // the encodes themselves are spec- and golden-pinned at q87b/q113)
    Query("q126_tokenizer_eval", (s, dir) => {
      import graft.data.{Bpe, Unigram}
      val docs = t(s, dir, "documents")
      // BOTH tokenizers train from the same word-type table — one
      // corpus aggregation instead of two (q87c pattern); its map side
      // spread off the narrow scan (gated — no-op at scale)
      val types = Bpe.wordTypes(docs, "text").localCheckpoint()
      val merges = Bpe.trainMergesFromTypes(types, nMerges = 20)
      val uni = Unigram.trainFromTypes(types, vocabSize = 60,
        maxPieceLen = 4)
      // word/char totals from the TYPE table, not a third corpus pass:
      // Σ_occurrences len(w) = Σ_types len(word)·n — bit-equal, and the
      // agg runs over |types| rows instead of re-tokenizing the corpus.
      // Lazy (part of the final job), so the types checkpoint must stay
      // alive through execution — a |types|-row block, traded for the
      // removed corpus pass (the ADVICE-r12 unpersist stays in q87c/q156
      // where nothing reads the table after training).
      val wordStats = types.agg(
          sum(col("n")).cast("long").as("n_words"),
          sum(length(col("word")).cast("long") * col("n")).cast("long")
            .as("n_chars"))
      // spread both encode inputs off a narrow scan only (q87b note).
      // The two encoders prune the spread exchange to DIFFERENT
      // projections (text vs doc_id+text), so the exchanges never
      // canonicalize equal and the scan+spread ran twice (profiled:
      // twin single-task map stages) — when the spread fires, checkpoint
      // the spread rows so both encoders read ONE materialization; at
      // scale the gate is a no-op and nothing is pinned.
      val encIn = docs.select(col("doc_id"), col("text"))
      val spreadDocs = {
        val sd = spreadIfNarrow(encIn)
        if (sd ne encIn) sd.localCheckpoint(false) else sd
      }
      val pieces = Bpe.encode(spreadDocs, "text", merges)
        .select(lit("bpe_20merges").as("tokenizer"),
          explode(col("bpe_tokens")).as("p"))
        .unionByName(Unigram.encode(spreadDocs, "doc_id", "text", uni)
          .select(lit("unigram_60").as("tokenizer"),
            explode(col("pieces")).as("p")))
      // path keyed by the sf dir (concurrent scales never clobber);
      // the static oracle string pins the sf0.01 stage — the gate's SF
      pieces.write.mode("overwrite").parquet(q126StageDir(dir))
      readStage(s, q126StageDir(dir))
        .groupBy(col("tokenizer")).agg(count(lit(1)).as("n_tokens"))
        .crossJoin(wordStats)
        .select(col("tokenizer"), col("n_words"), col("n_chars"),
          col("n_tokens"),
          expr("n_tokens * 1000000 div n_words").as("tokens_per_word_ppm"),
          expr("n_chars * 1000000 div n_tokens").as("chars_per_token_ppm"))
        .orderBy(col("tokenizer"))
    }, Some(
      // q126 oracle: fertility metrics recomputed from the STAGED pieces
      // parquet the Spark query just wrote (the staged-encode hand-off) —
      // words/chars come straight from documents via the bpeTokens mirror
      s"""WITH words AS (SELECT count(*) AS n_words,
         |  CAST(sum(len(w)) AS BIGINT) AS n_chars
         |  FROM (SELECT unnest(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w FROM documents)),
         |tok AS (SELECT tokenizer, count(*) AS n_tokens
         |  FROM read_parquet('${q126StageDir(StageScale)}/*.parquet') GROUP BY 1)
         |SELECT tokenizer, n_words, n_chars, n_tokens,
         |  n_tokens * 1000000 // n_words AS tokens_per_word_ppm,
         |  n_chars * 1000000 // n_tokens AS chars_per_token_ppm
         |FROM tok CROSS JOIN words ORDER BY tokenizer""".stripMargin)),
    // histogram-ECDF score normalization: exact integer-ppm empirical
    // rank via a bin table broadcast back (no corpus-wide rank window)
    Query("q127_ecdf_normalize", (s, dir) => {
      import graft.data.Sketches
      Sketches.ecdfNormalize(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          col("n_chars"), lo = 0.0, hi = 1000.0, nBins = 50)
        .select(col("doc_id"), col("n_chars"), col("ecdf_ppm"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH d AS (SELECT doc_id, n_chars,
         |  CAST(least(greatest(floor((n_chars - 0.0) * 0.05), 0), 49) AS BIGINT)
         |    AS bin
         |  FROM documents),
         |h AS (SELECT bin, count(*) AS c FROM d GROUP BY bin),
         |cum AS (SELECT bin, CAST(sum(c) OVER (ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
         |  FROM h),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM h)
         |SELECT doc_id, n_chars,
         |  CAST(cc * 1000000 // tot AS BIGINT) AS ecdf_ppm
         |FROM d JOIN cum ON cum.bin = d.bin, t ORDER BY doc_id""".stripMargin)),
    // per-dimension z-score standardization: one stats pass broadcast
    // back, map-only apply; dead dims -> 0, not NaN
    Query("q124_standardize", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.standardize(e, "vec_id", "v")
        .select(col("vec_id"), posexplode(col("z")).as(Seq("dim", "z")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("z"))
        .orderBy(col("vec_id"), col("dim"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT i, sum(x) AS s, count(*) AS n, sum(x*x) AS s2
         |  FROM (SELECT i, v[i+1] AS x FROM e CROSS JOIN range(64) t(i))
         |  GROUP BY i),
         |a AS (SELECT list(s / n ORDER BY i) AS mean,
         |    list(sqrt(greatest((s2 - s*s/n) / (n - 1), 0)) ORDER BY i) AS sd
         |  FROM s)
         |SELECT vec_id, CAST(i AS BIGINT) AS dim,
         |  round(CASE WHEN sd[i+1] > 0 THEN (v[i+1] - mean[i+1]) / sd[i+1]
         |             ELSE 0.0 END, 6) AS z
         |FROM e CROSS JOIN range(64) t(i), a
         |ORDER BY vec_id, dim""".stripMargin)),
    // LSH recall evaluation: exact truth vs bucketed candidates on the
    // same input, exact integer-ppm recall (the config-tuning report)
    Query("q125_lsh_recall", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.lshRecallReport(e, "vec_id", "v", threshold = 0.4,
        numPlanes = 8, dim = 64)
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |tr AS (SELECT count(*) AS n_true FROM (
         |  SELECT 1 FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         |    >= 0.4)),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |buck AS (SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, coef) >= 0
         |    THEN 1<<p ELSE 0 END) AS BIGINT) AS bucket
         |  FROM e CROSS JOIN planes GROUP BY vec_id),
         |fo AS (SELECT count(*) AS n_found FROM (
         |  SELECT 1 FROM e a JOIN buck ba ON ba.vec_id = a.vec_id
         |  JOIN buck bc ON bc.bucket = ba.bucket AND bc.vec_id > a.vec_id
         |  JOIN e c ON c.vec_id = bc.vec_id
         |  WHERE list_dot_product(a.v, c.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)))
         |    >= 0.4))
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_found AS BIGINT) AS n_found,
         |  CAST(CASE WHEN n_true = 0 THEN 1000000
         |       ELSE n_found * 1000000 // n_true END AS BIGINT) AS recall_ppm
         |FROM tr, fo""".stripMargin)),
    // mergeable HLL register sketches: per-part sketches union by
    // element-wise max, and union(parts) == sketch(whole) exactly —
    // the add-only incremental-distinct maintenance path
    Query("q123_hll_union", (s, dir) => {
      import graft.data.Sketches
      val ev = events(s, dir)
      val parts = Sketches.hllSketch(ev, Seq("event_type"), col("user_id"))
      val union = Sketches.hllUnion(parts, Seq.empty, col("registers"))
        .select(col("registers").as("u"))
      val direct = Sketches.hllSketch(ev, Seq.empty, col("user_id"))
        .select(col("registers").as("d"))
      parts.agg(count(lit(1)).as("n_parts"))
        .crossJoin(union).crossJoin(direct)
        .select(col("n_parts"),
          Sketches.hllStateOf(col("u"), 8).as("union_state"),
          Sketches.hllStateOf(col("d"), 8).as("direct_state"),
          (Sketches.hllStateOf(col("u"), 8) ===
            Sketches.hllStateOf(col("d"), 8)).as("states_match"),
          Sketches.hllEstimateFromRegisters(col("u"), 8)
            .as("approx_distinct"))
    }, Some {
      val c = graft.data.Sketches.rawConstant(8)
      val rhoSql = s"""max(CASE WHEN hh % 4503599627370496 > 0
         |             THEN 53 - length(format('{:b}', hh % 4503599627370496))
         |             ELSE 53 END) AS rho""".stripMargin
      val stateSql = s"""CAST(sum((1::BIGINT) << CAST(53 - rho AS INT))
         |    + (256 - count(*)) * ((1::BIGINT) << 53) AS BIGINT)""".stripMargin
      s"""WITH h AS (SELECT event_type,
         |  ${h60Sql("CAST(user_id AS VARCHAR)")} AS hh
         |  FROM events WHERE user_id IS NOT NULL),
         |pb AS (SELECT event_type, hh // 4503599627370496 AS bucket, $rhoSql
         |  FROM h GROUP BY event_type, bucket),
         |un AS (SELECT bucket, max(rho) AS rho FROM pb GROUP BY bucket),
         |db AS (SELECT hh // 4503599627370496 AS bucket, $rhoSql
         |  FROM h GROUP BY bucket),
         |us AS (SELECT $stateSql AS union_state,
         |    CAST(count(*) AS BIGINT) AS nb FROM un),
         |ds AS (SELECT $stateSql AS direct_state FROM db),
         |np AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_parts
         |  FROM h),
         |est AS (SELECT *, $c / CAST(union_state AS DOUBLE) AS raw FROM us)
         |SELECT n_parts, union_state, direct_state,
         |  union_state = direct_state AS states_match,
         |  round(CASE WHEN raw <= 640.0 AND (256 - nb) > 0
         |             THEN 256.0 * ln(256.0 / (256 - nb))
         |             ELSE raw END, 2) AS approx_distinct
         |FROM np, est, ds""".stripMargin
    }),
    // data-contract checks: all rules in ONE pass (conditional-sum +
    // min-evidence cells, stack-unpivoted), exact ppm violation rates
    Query("q122_data_contract", (s, dir) => {
      import graft.data.Contract
      Contract.check(t(s, dir, "lineitem"), col("l_orderkey"), Seq(
        "qty_in_range" -> col("l_quantity").between(1, 50),
        "qty_small" -> (col("l_quantity") <= 25),
        "price_positive" -> (col("l_extendedprice") > 0),
        "discount_band" -> col("l_discount").between(0.0, 0.08),
        "tax_lte_discount" -> (col("l_tax") <= col("l_discount"))))
        .orderBy(col("rule"))
    }, Some(
      s"""WITH s AS (SELECT count(*) AS n,
         |  sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE)
         |    THEN 1 ELSE 0 END) AS v1,
         |  CAST(min(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE)
         |    THEN l_orderkey END) AS VARCHAR) AS b1,
         |  sum(CASE WHEN NOT coalesce(l_quantity <= 25, FALSE)
         |    THEN 1 ELSE 0 END) AS v2,
         |  CAST(min(CASE WHEN NOT coalesce(l_quantity <= 25, FALSE)
         |    THEN l_orderkey END) AS VARCHAR) AS b2,
         |  sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE)
         |    THEN 1 ELSE 0 END) AS v3,
         |  CAST(min(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE)
         |    THEN l_orderkey END) AS VARCHAR) AS b3,
         |  sum(CASE WHEN NOT coalesce(l_discount BETWEEN 0.0 AND 0.08, FALSE)
         |    THEN 1 ELSE 0 END) AS v4,
         |  CAST(min(CASE WHEN NOT coalesce(l_discount BETWEEN 0.0 AND 0.08, FALSE)
         |    THEN l_orderkey END) AS VARCHAR) AS b4,
         |  sum(CASE WHEN NOT coalesce(l_tax <= l_discount, FALSE)
         |    THEN 1 ELSE 0 END) AS v5,
         |  CAST(min(CASE WHEN NOT coalesce(l_tax <= l_discount, FALSE)
         |    THEN l_orderkey END) AS VARCHAR) AS b5
         |  FROM lineitem)
         |SELECT rule, n AS n_rows, CAST(v AS BIGINT) AS n_violations,
         |  CAST(CASE WHEN n = 0 THEN 0 ELSE v * 1000000 // n END AS BIGINT)
         |    AS violation_ppm,
         |  b AS first_bad_id
         |FROM (
         |  SELECT 'qty_in_range' AS rule, n, v1 AS v, b1 AS b FROM s
         |  UNION ALL SELECT 'qty_small', n, v2, b2 FROM s
         |  UNION ALL SELECT 'price_positive', n, v3, b3 FROM s
         |  UNION ALL SELECT 'discount_band', n, v4, b4 FROM s
         |  UNION ALL SELECT 'tax_lte_discount', n, v5, b5 FROM s)
         |ORDER BY rule""".stripMargin)),
    // zlib compression-ratio quality signal (golden — deflate not
    // ANSI-expressible): planted boilerplate docs flag via low ratio
    Query("q121_compression_signal", (s, dir) => {
      import graft.data.Corpus
      // % 7 spreads the planted boilerplate across sources (a % 10 plant
      // would alias with the %-20 source assignment)
      val docs = t(s, dir, "documents")
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat_ws(" ", array_repeat(lit("lorem spam lorem"), 40)))
          .otherwise(col("text")))
      Corpus.compressionSignal(docs, "doc_id", "text")
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("ratio_micro")).as("min_ratio"),
          expr("sum(ratio_micro) div count(1)").as("avg_ratio"),
          sum(when(col("ratio_micro") < 200000, 1L).otherwise(0L))
            .as("n_flagged"))
        .orderBy(col("source"))
    }),
    // perceptual image near-dups: real PNG decode -> 64-bit dHash ->
    // pigeonhole Hamming join (golden — ImageIO decode + dHash are not
    // ANSI-expressible); per-hamming pair histogram
    Query("q120_image_neardups", (s, dir) => {
      import s.implicits._
      implicit val sp: SparkSession = s
      // spread the 8-byte ids BEFORE the PNG synthesis + decode: the
      // single-file scan is 1 task, and mapPartitions inherits it —
      // measured 1.7 s of ImageIO work on one core at sf0.1
      val media = t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism).as[Long]
        .map(id => Multimodal.MediaRow(id, "img/png",
          Multimodal.syntheticPng(id)))
      Multimodal.imageNearDups(media, maxHamming = 6)
        .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("hamming"))
    }),
    // MMR diversity rerank (Carbonell 1998) over brute-force candidates:
    // near-dup hits stop crowding the k serving slots (golden — greedy
    // loop not ANSI-expressible)
    Query("q119_mmr_rerank", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val topk = Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "v", k = 8)
        .select(col("query_id"), col("neighbor_id"), col("sim"))
      val cands = topk.join(
        e.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
      Similarity.mmrRerank(cands, "query_id", "neighbor_id", "sim", "v",
          lambda = 0.7, k = 4)
        .orderBy(col("query_id"), col("rank"))
    }),
    // incremental token-count maintenance: old counts + diff'd doc deltas
    // == full recompute (exact longs; the daily drift-baseline refresh)
    Query("q117_incremental_counts", (s, dir) => {
      import graft.data.Corpus
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 19 =!= 5)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" extra tokens here")))
            .otherwise(col("text")).as("text"))
      Corpus.tokenCountsUpdate(Corpus.tokenCounts(old, "text"), old, nw,
          "doc_id", "text")
        .orderBy(col("cnt").desc, col("tok")).limit(50)
    }, Some(
      s"""WITH nw AS (SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 0 THEN text || ' extra tokens here'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 19 <> 5),
         |c AS (SELECT tok, count(*) AS cnt FROM (
         |    SELECT unnest($tokSql) AS tok FROM nw) GROUP BY tok)
         |SELECT tok, CAST(cnt AS BIGINT) AS cnt FROM c
         |ORDER BY cnt DESC, tok LIMIT 50""".stripMargin)),
    // domain-suffix blocklist: "block spam.com and every subdomain" as an
    // EQUI-join on reversed-label prefixes (no endswith theta join)
    Query("q118_domain_blocklist", (s, dir) => {
      import s.implicits._
      val aug = concat(col("text"),
        lit(" see http://ex"), (col("doc_id") % 5).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"),
        lit(" and https://cdn.example.com/x"), (col("doc_id") % 3).cast("string"))
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), explode(T.urlHosts(aug)).as("host"))
      val bl = Seq("ex1.org", "ex3.org", "example.com").toDF("pattern")
      T.blockByDomainSuffix(hosts, "host", bl)
        .groupBy(col("blocked_by"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy(col("blocked_by"))
    }, Some(
      s"""WITH aug AS (SELECT doc_id, concat(text,
         |    ' see http://ex', CAST(doc_id % 5 AS VARCHAR),
         |    '.org/p/', CAST(doc_id AS VARCHAR),
         |    ' and https://cdn.example.com/x', CAST(doc_id % 3 AS VARCHAR)) AS a
         |  FROM documents),
         |h AS (SELECT doc_id,
         |    unnest(list_filter(
         |      list_transform(regexp_extract_all(a, 'https?://[^\\s]+'),
         |        u -> regexp_extract(u, 'https?://(?:[^/\\s@]*@)?([^/\\s:?#@]+)', 1)),
         |      x -> len(x) > 0)) AS host
         |  FROM aug),
         |bl AS (SELECT * FROM (VALUES ('ex1.org'), ('ex3.org'),
         |    ('example.com')) b(pattern)),
         |hv AS (SELECT DISTINCT host FROM h),
         |pfx AS (SELECT host, array_to_string(list_slice(rl, 1, k), '.') AS p
         |  FROM (SELECT host, list_reverse(string_split(host, '.')) AS rl,
         |          unnest(range(1, len(string_split(host, '.')) + 1)) AS k
         |        FROM hv)),
         |v AS (SELECT pfx.host, min(bl.pattern) AS blocked_by
         |  FROM pfx JOIN bl
         |    ON pfx.p = array_to_string(list_reverse(string_split(bl.pattern, '.')), '.')
         |  GROUP BY pfx.host),
         |j AS (SELECT h.doc_id, h.host, v.blocked_by
         |  FROM h LEFT JOIN v ON v.host = h.host)
         |SELECT blocked_by, count(*) AS n_rows,
         |  count(DISTINCT doc_id) AS n_docs, count(DISTINCT host) AS n_hosts
         |FROM j GROUP BY blocked_by ORDER BY blocked_by""".stripMargin)),
    // leakage-safe split: hash on the near-dup CLUSTER id so paraphrase
    // sets never straddle train/test (per-split audit counts)
    Query("q114_cluster_split", (s, dir) => {
      import graft.data.Sampling
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.3)
        .select(col("id_a"), col("id_b"))
      Sampling.clusterSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.8, "test" -> 0.2), salt = "cs")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster").isNotNull, 1L).otherwise(0L))
            .as("n_clustered"),
          countDistinct(col("cluster")).as("n_clusters"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))
    }, Some(
      s"""WITH RECURSIVE t AS ($minhashSigTableSql),
         |prs AS (SELECT id_a, id_b FROM ($minhashCandidatesSql) WHERE jaccard >= 0.3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION SELECT id_b, id_a FROM prs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |comp AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node),
         |d AS (SELECT doc_id, c.cluster FROM documents
         |  LEFT JOIN comp c ON c.node = doc_id),
         |sp AS (SELECT doc_id, cluster,
         |  CASE WHEN ${h60Sql(
                 "concat(CAST(coalesce(cluster, doc_id) AS VARCHAR), 'cs')")}
         |    % 10000 < 8000 THEN 'train' ELSE 'test' END AS split FROM d)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN cluster IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clustered,
         |  count(DISTINCT cluster) AS n_clusters,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM sp GROUP BY split ORDER BY split""".stripMargin)),
    // subword-regularization sampled encode (Kudo 2018 FFBS, alpha=.5;
    // golden — lattice sampling is not ANSI-expressible)
    Query("q115_sampled_encode", (s, dir) => {
      import graft.data.Unigram
      val docs = t(s, dir, "documents")
      val model = Unigram.train(docs, "text", vocabSize = 60, maxPieceLen = 4)
      // spread the FFBS lattice sampler off a narrow scan only
      // (measured 3.0 s single-task unspread — the heaviest encode UDF;
      // gated like q87b)
      Unigram.sampleEncode(spreadIfNarrow(docs),
          "doc_id", "text", model, alpha = 0.5,
          salt = "sr")
        .select(explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("piece")).limit(30)
    }),
    // per-source corpus card: the release table's breakdown rows with an
    // exact integer-ppm duplicate rate
    Query("q116_source_card", (s, dir) => {
      import graft.data.Corpus
      Corpus.cardBySource(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))
    }, Some(
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(coalesce(sum(len($tokSql)), 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars,
         |  CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_empty_docs,
         |  count(DISTINCT ${h60Sql(
             "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")})
         |    AS n_distinct_fingerprints,
         |  CAST((count(*) - count(DISTINCT ${h60Sql(
             "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")}))
         |    * 1000000 // count(*) AS BIGINT) AS dup_ppm
         |FROM documents GROUP BY source ORDER BY source""".stripMargin)),
    // unigram-LM tokenizer seeding: substring-candidate counts over the
    // word-type table (the SQL-expressible surface of the Kudo trainer)
    Query("q111_unigram_seed", (s, dir) => {
      import graft.data.{Bpe, Unigram}
      Unigram.seedCounts(Bpe.wordTypes(t(s, dir, "documents"), "text"),
          maxPieceLen = 4)
        .orderBy(col("cnt").desc, col("piece"))
        .limit(40)
    }, Some(
      s"""WITH w AS (SELECT unnest(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS word FROM documents),
         |ty AS (SELECT word, count(*) AS n FROM w GROUP BY word),
         |p AS (SELECT substr(word, i, j) AS piece, n
         |  FROM (SELECT word, n, unnest(range(1, length(word) + 1)) AS i FROM ty),
         |       range(1, 5) l(j)
         |  WHERE i + j <= length(word) + 1)
         |SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM p GROUP BY piece
         |ORDER BY cnt DESC, piece LIMIT 40""".stripMargin)),
    // unigram-LM trained vocabulary (EM + prune; golden — the
    // forward-backward recurrence is not ANSI-expressible)
    Query("q112_unigram_train", (s, dir) => {
      import graft.data.Unigram
      import s.implicits._
      Unigram.train(t(s, dir, "documents"), "text", vocabSize = 60,
          maxPieceLen = 4)
        .toSeq.toDF("piece", "score_micro")
        .orderBy(col("score_micro").desc, col("piece"))
    }),
    // Viterbi corpus encode under the trained unigram model: the encode
    // is deterministic given the model (itself golden-pinned at q112)
    // — pieces staged, histogram recounted from the stage (oracle)
    Query("q113_unigram_encode", (s, dir) => {
      import graft.data.Unigram
      val docs = t(s, dir, "documents")
      val model = Unigram.train(docs, "text", vocabSize = 60, maxPieceLen = 4)
      // spread the Viterbi encode off a narrow scan only (q87b note)
      Unigram.encode(spreadIfNarrow(docs), "doc_id", "text", model)
        .select(explode(col("pieces")).as("piece"))
        .write.mode("overwrite").parquet(stageDir("q113_pieces", dir))
      readStage(s, stageDir("q113_pieces", dir))
        .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("piece")).limit(30)
    }, Some(
      s"""SELECT piece, count(*) AS cnt
         |FROM read_parquet('${stageDir("q113_pieces", StageScale)}/*.parquet')
         |GROUP BY piece ORDER BY cnt DESC, piece LIMIT 30""".stripMargin)),
    // contrastive pair mining: pos (near-dup) + hard-neg (same cell,
    // mid-similarity) pairs for embedding-model training data
    Query("q109_mine_pairs", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.minePairs(e, "vec_id", "v", Similarity.planes(8, 64),
          posThreshold = 0.35, negLo = 0.15, negHi = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |cell AS (SELECT vec_id, v, p AS cell FROM (
         |    SELECT e.vec_id, e.v, pl.p, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, pl.coef) DESC, pl.p DESC) AS rn
         |    FROM e CROSS JOIN planes pl) WHERE rn = 1),
         |prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
         |    list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
         |  FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, CAST(cell AS BIGINT) AS cell, round(sim, 6) AS sim,
         |  CASE WHEN sim >= 0.35 THEN 'pos'
         |       WHEN sim >= 0.15 AND sim < 0.3 THEN 'hard_neg' END AS pair_type
         |FROM prs WHERE sim >= 0.35 OR (sim >= 0.15 AND sim < 0.3)
         |ORDER BY id_a, id_b""".stripMargin)),
    // join-key skew report: topK heavy keys with exact ppm + cumulative
    // share — the pre-join diagnostic behind saltedJoin's salt factor
    Query("q110_skew_report", (s, dir) => {
      import graft.data.Relational
      Relational.skewReport(t(s, dir, "lineitem"), col("l_suppkey"), topK = 20)
        .orderBy(col("cnt").desc, col("key"))
    }, Some(
      s"""WITH c AS (SELECT l_suppkey AS key, count(*) AS cnt
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT sum(cnt) AS total FROM c),
         |top AS (SELECT key, cnt,
         |    CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm
         |  FROM c, t ORDER BY cnt DESC, key LIMIT 20)
         |SELECT key, cnt, share_ppm,
         |  CAST(sum(share_ppm) OVER (ORDER BY cnt DESC, key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ppm
         |FROM top ORDER BY cnt DESC, key""".stripMargin)),
    // mixture PLAN: per-source token budgeting against a recipe —
    // need/take/shortfall/implied-rate in exact integers (src0/src2
    // under-supplied at this budget, src1 fits, others weight 0)
    Query("q103_mixture_plan", (s, dir) => {
      import graft.data.Sampling
      Sampling.mixturePlan(
          t(s, dir, "documents").withColumn("n_tok", T.wordCount(col("text"))),
          col("source"), col("n_tok"),
          Map("src0" -> 900000L, "src1" -> 1000L, "src2" -> 250000L),
          budgetTokens = 100000L)
        .orderBy(col("source"))
    }, Some(
      s"""WITH av AS (SELECT source,
         |    CAST(sum(len($tokSql)) AS BIGINT) AS avail_tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT * FROM (VALUES ('src0', 900000), ('src1', 1000),
         |    ('src2', 250000)) w(source, weight_ppm)),
         |j AS (SELECT av.source,
         |    CAST(coalesce(w.weight_ppm, 0) AS BIGINT) AS weight_ppm,
         |    av.avail_tokens FROM av LEFT JOIN w ON av.source = w.source),
         |p AS (SELECT source, weight_ppm, avail_tokens,
         |    weight_ppm * 0 + (weight_ppm * 100000) // 1000000 AS need_tokens
         |  FROM j),
         |q AS (SELECT *, least(need_tokens, avail_tokens) AS take_tokens
         |  FROM p)
         |SELECT source, weight_ppm, avail_tokens, need_tokens, take_tokens,
         |  need_tokens - take_tokens AS shortfall_tokens,
         |  CASE WHEN avail_tokens > 0
         |    THEN (take_tokens * 1000000) // avail_tokens ELSE 0 END
         |    AS rate_ppm,
         |  CASE WHEN avail_tokens > 0
         |    THEN (need_tokens + avail_tokens - 1) // avail_tokens ELSE 0 END
         |    AS epochs
         |FROM q ORDER BY source""".stripMargin)),
    // corpus data card: the release-summary table (docs/tokens/chars/
    // vocab/dup-rate/empties/longest) as exact-long (metric, value) rows
    Query("q102_corpus_card", (s, dir) => {
      import graft.data.Corpus
      Corpus.corpusCard(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("metric"))
    }, Some(
      s"""WITH pd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(coalesce(sum(len($tokSql)), 0) AS BIGINT) AS n_tokens,
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars,
         |    CAST(coalesce(max(len($tokSql)), 0) AS BIGINT) AS max_doc_tokens,
         |    CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_empty_docs
         |  FROM documents),
         |vt AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |  FROM (SELECT unnest($tokSql) AS tok FROM documents)),
         |fp AS (SELECT CAST(count(DISTINCT
         |    ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")})
         |    AS BIGINT) AS v FROM documents)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM pd
         |  UNION ALL SELECT 'n_tokens', n_tokens FROM pd
         |  UNION ALL SELECT 'n_chars', n_chars FROM pd
         |  UNION ALL SELECT 'max_doc_tokens', max_doc_tokens FROM pd
         |  UNION ALL SELECT 'n_empty_docs', n_empty_docs FROM pd
         |  UNION ALL SELECT 'n_distinct_tokens', v FROM vt
         |  UNION ALL SELECT 'n_distinct_fingerprints', v FROM fp)
         |ORDER BY metric""".stripMargin)),
    // DSIR importance scoring (Xie 2023): hashed-token bucket counts,
    // add-1 log-likelihood ratios of target (src0) vs raw, per-doc
    // integer-exact scores; top-40 most target-like docs
    Query("q101_dsir_select", (s, dir) => {
      import graft.data.Dsir
      val d = t(s, dir, "documents")
      val ratios = Dsir.fitLogRatios(d,
        d.filter(col("source") === "src0"), "text", buckets = 512)
      Dsir.scoreDocs(d, "doc_id", "text", ratios, buckets = 512)
        .orderBy(col("mean_micro").desc, col("doc_id"))
        .limit(40)
    }, Some(
      s"""WITH tk AS (SELECT doc_id, source,
         |    ${h60Sql("tok")} % 512 AS bucket
         |  FROM (SELECT doc_id, source, unnest($tokSql) AS tok FROM documents)),
         |rc AS (SELECT bucket, count(*) AS c FROM tk GROUP BY bucket),
         |rn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM rc),
         |tc AS (SELECT bucket, count(*) AS c FROM tk
         |  WHERE source = 'src0' GROUP BY bucket),
         |tn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM tc),
         |al AS (SELECT CAST(unnest(range(0, 512)) AS BIGINT) AS bucket),
         |lam AS (SELECT al.bucket, CAST(floor(
         |    (ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE)
         |        / CAST(tn.n + 512 AS DOUBLE))
         |   - ln(CAST(coalesce(rc.c, 0) + 1 AS DOUBLE)
         |        / CAST(rn.n + 512 AS DOUBLE))) * 1e6) AS BIGINT) AS lam
         |  FROM al LEFT JOIN rc ON rc.bucket = al.bucket
         |    LEFT JOIN tc ON tc.bucket = al.bucket
         |    CROSS JOIN rn CROSS JOIN tn),
         |db AS (SELECT doc_id, bucket, count(*) AS cnt FROM tk
         |  GROUP BY doc_id, bucket),
         |sc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    CAST(sum(cnt * lam) AS BIGINT) AS score_micro
         |  FROM db JOIN lam ON lam.bucket = db.bucket GROUP BY doc_id)
         |SELECT doc_id, n_tokens, score_micro,
         |  score_micro // n_tokens AS mean_micro
         |FROM sc ORDER BY score_micro // n_tokens DESC, doc_id
         |LIMIT 40""".stripMargin)),
    // exact-size weighted sampling without replacement (A-ES, log form)
    Query("q81_weighted_sample", (s, dir) => {
      import graft.data.Sampling
      Sampling.weightedSample(t(s, dir, "documents"), col("doc_id"),
          col("n_chars"), k = 50)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    ln((${h60Sql("concat(CAST(doc_id AS VARCHAR), 'wsample')")} + 1.0)
         |        / 1152921504606846977.0) / CAST(n_chars AS DOUBLE) AS sk
         |  FROM documents WHERE n_chars > 0
         |  ORDER BY sk DESC, doc_id LIMIT 50)
         |ORDER BY doc_id""".stripMargin)),
    // stratified A-ES: an independent exact-size weighted sample per source
    Query("q82_weighted_stratified", (s, dir) => {
      import graft.data.Sampling
      Sampling.weightedSampleByGroup(t(s, dir, "documents"), Seq("source"),
          col("doc_id"), col("n_chars"), k = 10)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }, Some(
      s"""SELECT source, doc_id FROM (
         |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
         |      ORDER BY ln((${h60Sql("concat(CAST(doc_id AS VARCHAR), 'wsample')")} + 1.0)
         |        / 1152921504606846977.0) / CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
         |  FROM documents WHERE n_chars > 0)
         |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin)),
    // SemDeDup: embedding-cluster semantic dedup (within-cell cosine
    // pairs -> connected components -> min-id survivors)
    Query("q80_semdedup", (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
      Similarity.semDedup(e, "vec_id", "v", threshold = 0.35,
          cents = Similarity.planes(8, 64))
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .orderBy(col("vec_id"))
    }, Some(
      s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |  FROM embeddings),
         |planes AS (SELECT * FROM (VALUES $planesSql) pl(p, coef)),
         |cell AS (SELECT vec_id, v, p AS cell FROM (
         |    SELECT e.vec_id, e.v, pl.p, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, pl.coef) DESC, pl.p DESC) AS rn
         |    FROM e CROSS JOIN planes pl) WHERE rn = 1),
         |prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         |    >= 0.35),
         |edges AS (SELECT id_a AS a, id_b AS b FROM prs
         |          UNION SELECT id_b, id_a FROM prs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e2.a, r.lab FROM edges e2 JOIN reach r ON r.node = e2.b),
         |comp AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node)
         |SELECT vec_id, CAST(label AS BIGINT) AS label FROM e
         |WHERE vec_id NOT IN (SELECT node FROM comp WHERE node <> cluster)
         |ORDER BY vec_id""".stripMargin)),
    // RAG-ingest chunking: overlapping token windows, map-only at any scale
    Query("q79_chunking", (s, dir) => {
      import graft.data.Corpus
      Corpus.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("tok_start").cast("long").as("tok_start"),
          col("tok_end").cast("long").as("tok_end"), col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, Some(
      s"""WITH toks AS (SELECT doc_id, $tokSql AS t FROM documents),
         |base AS (SELECT doc_id, t, len(t) AS n,
         |    greatest(CAST(ceil((len(t) - 8) / 24.0) AS INT), 1) AS nc FROM toks),
         |ch AS (SELECT doc_id, unnest(range(0, nc)) AS i, t, n FROM base)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |  CAST(i * 24 AS BIGINT) AS tok_start,
         |  CAST(least(i * 24 + 32, n) AS BIGINT) AS tok_end,
         |  array_to_string(list_slice(t, i * 24 + 1, least(i * 24 + 32, n)), ' ')
         |    AS chunk_text
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)),
    // stupid-backoff trigram LM: CCNet-style perplexity quality scoring
    // (model fit on the same corpus; micro-unit exact mean log-scores)
    Query("q78_ngram_lm", (s, dir) => {
      import graft.data.NgramLm
      val d = t(s, dir, "documents")
      NgramLm.scoreDocs(NgramLm.fit(d, "doc_id", "text"), d, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("logscore"), 6).as("logscore"))
        .orderBy(col("doc_id"))
    }, Some(
      s"""WITH $lmDocScoresSql
         |SELECT doc_id, n_tokens, round(ls, 6) AS logscore
         |FROM docsc ORDER BY doc_id""".stripMargin)),
    // CCNet perplexity terciles: head/middle/tail by LM mean log-score,
    // per-bucket doc/token counts and score range
    Query("q78b_perplexity_buckets", (s, dir) => {
      import graft.data.NgramLm
      val d = t(s, dir, "documents")
      NgramLm.perplexityBuckets(NgramLm.fit(d, "doc_id", "text"),
          d, "doc_id", "text", nBuckets = 3)
        .orderBy(col("bucket"))
    }, Some(
      s"""WITH $lmDocScoresSql,
         |tiles AS (SELECT doc_id, n_tokens, ls,
         |    ntile(3) OVER (ORDER BY ls DESC, doc_id) AS bucket FROM docsc)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  round(min(ls), 6) AS min_logscore,
         |  round(max(ls), 6) AS max_logscore
         |FROM tiles GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // -------------------------------------------- multimodal binary (stub)
    Query("q28_multimodal", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      media
        .withColumn("meta", Multimodal.mediaMetadata(col("content"), col("format")))
        .withColumn("frames", Multimodal.sampleBytes(col("content"), stride = 7, maxFrames = 16))
        .select(col("format"), col("meta.byte_len").as("byte_len"),
          col("meta.checksum").as("checksum"),
          aggregate(col("frames"), lit(0L), (a, x) => a + x).as("frame_sum"))
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n"), sum(col("byte_len")).as("sum_bytes"),
          min(col("checksum")).as("min_checksum"), sum(col("frame_sum")).as("sum_frames"))
        .orderBy(col("format"))
    }, Some(
      s"""SELECT format, count(*) AS n, CAST(sum(byte_len) AS BIGINT) AS sum_bytes,
         |min(checksum) AS min_checksum, CAST(sum(frame_sum) AS BIGINT) AS sum_frames
         |FROM (SELECT concat('img/', source) AS format,
         |  octet_length(encode(text)) AS byte_len,
         |  ${h60Sql("lower(hex(encode(text)))")} AS checksum,
         |  list_aggregate(list_transform(
         |    range(0, least(CAST(ceil(octet_length(encode(text))/7.0) AS INT), 16)),
         |    f -> CAST(concat('0x', substr(lower(hex(encode(text))), f*14+1, 2)) AS BIGINT)),
         |    'sum') AS frame_sum
         |  FROM documents) GROUP BY format ORDER BY format""".stripMargin)),
    Query("q39_repetition", (s, dir) => {
      // Gopher-style repetition filters: type-token ratio, top-token
      // share, duplicate-line fraction — all native array expressions
      t(s, dir, "documents")
        .select(col("source"),
          T.typeTokenRatio(col("text")).as("ttr"),
          T.topTokenFraction(col("text")).as("ttf"),
          T.dupLineFraction(col("text")).as("dlf"))
        .groupBy(col("source"))
        .agg(round(avg(col("ttr")), 6).as("avg_ttr"),
          round(min(col("ttr")), 6).as("min_ttr"),
          round(avg(col("ttf")), 6).as("avg_ttf"),
          round(max(col("ttf")), 6).as("max_ttf"),
          round(sum(col("dlf")), 6).as("sum_dlf"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH base AS (SELECT source,
         |  regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
         |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
         |    l -> len(l) > 0) AS lines
         |  FROM documents),
         |m AS (SELECT source,
         |  len(list_distinct(toks)) / CAST(greatest(len(toks), 1) AS DOUBLE) AS ttr,
         |  coalesce(list_max(list_transform(list_distinct(toks),
         |    t -> len(list_filter(toks, x -> x = t)))), 0)
         |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS ttf,
         |  CASE WHEN len(lines) > 1
         |    THEN (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE)
         |    ELSE 0.0 END AS dlf
         |  FROM base)
         |SELECT source, round(avg(ttr), 6) AS avg_ttr, round(min(ttr), 6) AS min_ttr,
         |  round(avg(ttf), 6) AS avg_ttf, round(max(ttf), 6) AS max_ttf,
         |  round(sum(dlf), 6) AS sum_dlf
         |FROM m GROUP BY source ORDER BY source""".stripMargin)),
    Query("q40_sessionize", (s, dir) => {
      // gap-based sessionization (12h idle timeout): one shuffle on
      // user_id, lag + running sum inside the partition — the canonical
      // big-data event-log operator
      val gapUs = 43200L * 1000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("__new", when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gapUs, 1)
          .otherwise(0))
        .withColumn("session_id", sum(col("__new")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dur_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"),
          max(col("dur_us")).as("max_dur_us"), min(col("dur_us")).as("min_dur_us"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH g AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000 THEN 1
        |       ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g),
        |per AS (SELECT user_id, session_id, count(*) AS n_events,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        |  FROM s GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  max(dur_us) AS max_dur_us, min(dur_us) AS min_dur_us
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // PII scrub: augment each doc with synthetic id-derived PII (the corpus
    // has none), redact, hash-verify the full redacted text per source
    Query("q41_pii_redact", (s, dir) => {
      val aug = concat(col("text"), lit(" Contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com via http://ex.org/d/"), col("doc_id").cast("string"),
        lit("?x=1 or 10.0."), (col("doc_id") % 250).cast("string"),
        lit(".7, call +1 (555) 010-"), (col("doc_id") % 10000).cast("string"), lit("."))
      t(s, dir, "documents")
        .withColumn("red", T.redactPii(aug))
        .withColumn("pii", T.piiCounts(aug))
        .withColumn("h60", T.hash60(col("red")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(length(col("red"))).as("sum_chars"),
          expr("bit_xor(h60)").as("hash_xor"),
          sum(col("pii.urls")).as("n_urls"), sum(col("pii.emails")).as("n_emails"),
          sum(col("pii.ips")).as("n_ips"), sum(col("pii.phones")).as("n_phones"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH aug AS (SELECT source,
         |  concat(text, ' Contact user', CAST(doc_id AS VARCHAR),
         |    '@mail.example.com via http://ex.org/d/', CAST(doc_id AS VARCHAR),
         |    '?x=1 or 10.0.', CAST(doc_id % 250 AS VARCHAR),
         |    '.7, call +1 (555) 010-', CAST(doc_id % 10000 AS VARCHAR), '.') AS a
         |  FROM documents),
         |m1 AS (SELECT source, a,
         |  regexp_replace(a, 'https?://[^\\s]+', '<URL>', 'g') AS no_url FROM aug),
         |m2 AS (SELECT *, regexp_replace(no_url,
         |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS no_email FROM m1),
         |m3 AS (SELECT *, regexp_replace(no_email,
         |  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS no_ip FROM m2),
         |red AS (SELECT *, regexp_replace(no_ip,
         |  '\\+?\\d[\\d()./ -]{6,}\\d\\b', '<PHONE>', 'g') AS r FROM m3)
         |SELECT source, count(*) AS n, CAST(sum(length(r)) AS BIGINT) AS sum_chars,
         |  bit_xor(${h60Sql("r")}) AS hash_xor,
         |  CAST(sum(len(regexp_extract_all(a, 'https?://[^\\s]+'))) AS BIGINT) AS n_urls,
         |  CAST(sum(len(regexp_extract_all(no_url,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
         |  CAST(sum(len(regexp_extract_all(no_email,
         |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))) AS BIGINT) AS n_ips,
         |  CAST(sum(len(regexp_extract_all(no_ip,
         |    '\\+?\\d[\\d()./ -]{6,}\\d\\b'))) AS BIGINT) AS n_phones
         |FROM red GROUP BY source ORDER BY source""".stripMargin)),
    // C4 line/document quality filtering over a deterministic multi-line
    // augmentation (the raw corpus is single-line and punctuation-free)
    Query("q42_c4_filter", (s, dir) => {
      val aug = concat(lit("Header\n"), col("text"), lit(". More details follow here now.\nshort line\n"),
        when(col("doc_id") % 7 === 0, lit("code sample { x } here.")).otherwise(lit("plain tail text also here.")))
      t(s, dir, "documents")
        .withColumn("kept", T.c4KeptLines(aug))
        .withColumn("clean", T.c4CleanText(aug))
        .withColumn("keep", T.c4Keep(aug))
        .withColumn("h60", T.hash60(col("clean")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(size(col("kept"))).as("sum_kept_lines"),
          sum(length(col("clean"))).as("sum_clean_chars"),
          sum(col("keep").cast("long")).as("n_keep"),
          expr("bit_xor(h60)").as("hash_xor"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH aug AS (SELECT source,
         |  concat('Header', chr(10), text, '. More details follow here now.', chr(10),
         |    'short line', chr(10),
         |    CASE WHEN doc_id % 7 = 0 THEN 'code sample { x } here.'
         |         ELSE 'plain tail text also here.' END) AS a
         |  FROM documents),
         |k AS (SELECT source,
         |  list_filter(
         |    list_filter(list_transform(string_split(a, chr(10)), l -> trim(l)),
         |      l -> length(l) > 0),
         |    l -> len(regexp_split_to_array(l, '\\s+')) >= 5
         |      AND regexp_matches(l, '[.!?"]$$')) AS kept
         |  FROM aug),
         |c AS (SELECT source, kept, array_to_string(kept, chr(10)) AS clean FROM k),
         |w AS (SELECT *, len(regexp_split_to_array(trim(clean), '\\s+')) AS words FROM c)
         |SELECT source, count(*) AS n,
         |  CAST(sum(len(kept)) AS BIGINT) AS sum_kept_lines,
         |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_chars,
         |  CAST(sum(CASE WHEN len(kept) >= 1 AND words >= 50 AND words <= 100000
         |    AND NOT contains(lower(clean), 'lorem ipsum')
         |    AND NOT contains(clean, '{') THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  bit_xor(${h60Sql("clean")}) AS hash_xor
         |FROM w GROUP BY source ORDER BY source""".stripMargin)),
    // binned range join: events into OVERLAPPING 5-day windows placed every
    // 3 days — equi-join on bin key (no BroadcastNestedLoopJoin)
    // interval×interval OVERLAP join, binned: 5-min click windows vs
    // 3-min purchase windows per user — one (user, bin) equi-join,
    // canonical-bin dedup, exact overlap counts
    Query("q43c_interval_overlap", (s, dir) => {
      import graft.data.Relational
      val ev = events(s, dir)
      val m = unix_micros(col("ts"))
      val a = ev.filter(col("event_type") === "click")
        .select(col("user_id"), m.as("a_start"),
          (m + lit(300000000L)).as("a_end"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), m.as("b_start"),
          (m + lit(180000000L)).as("b_end"))
      Relational.intervalOverlapJoin(a, b, "a_start", "a_end",
          "b_start", "b_end", binWidth = 600000000L, keys = Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          min(col("a_start")).as("first_click_start"),
          max(col("b_end")).as("last_purchase_end"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH c AS (SELECT user_id, epoch_us(ts) AS a_start,
        |    epoch_us(ts) + 300000000 AS a_end FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS b_start,
        |    epoch_us(ts) + 180000000 AS b_end FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id, count(*) AS n_overlaps,
        |  min(a_start) AS first_click_start,
        |  max(b_end) AS last_purchase_end
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND a_start <= b_end AND b_start <= a_end
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),
    Query("q43_range_join_binned", (s, dir) => {
      import graft.data.Relational
      val day = 86400000000L // µs
      val base = 1704067200000000L // 2024-01-01T00:00:00Z µs (events epoch)
      val ranges = s.range(0, 10).select(
        concat(lit("r0"), col("id").cast("string")).as("range_id"),
        (lit(base) + col("id") * lit(3 * day)).as("lo"),
        (lit(base) + col("id") * lit(3 * day) + lit(5 * day) - 1).as("hi"))
      val points = events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
      Relational.rangeJoinBinned(points, ranges, "pt", "lo", "hi", binWidth = 7 * day)
        .groupBy(col("range_id"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          min(col("pt")).as("min_pt"), max(col("pt")).as("max_pt"))
        .orderBy(col("range_id"))
    }, Some(
      """WITH r AS (SELECT 'r0' || CAST(i AS VARCHAR) AS range_id,
        |  1704067200000000 + i*259200000000 AS lo,
        |  1704067200000000 + i*259200000000 + 431999999999 AS hi
        |  FROM range(0,10) t(i)),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS pt FROM events)
        |SELECT range_id, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  min(pt) AS min_pt, max(pt) AS max_pt
        |FROM p JOIN r ON p.pt BETWEEN r.lo AND r.hi
        |GROUP BY range_id ORDER BY range_id""".stripMargin)),
    // broadcast interval lookup (as-of + end-bound filter) over
    // NON-OVERLAPPING weekly windows; the big events side never shuffles
    Query("q43b_range_lookup_asof", (s, dir) => {
      import graft.data.Relational
      val day = 86400000000L
      val base = 1704067200000000L
      val ranges = s.range(0, 4).select(
        concat(lit("w"), col("id").cast("string")).as("id"),
        (lit(base) + col("id") * lit(7 * day)).as("pt"),
        (lit(base) + col("id") * lit(7 * day) + lit(6 * day) - 1).as("hi"))
      val points = events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
      Relational.rangeLookupAsOf(points, ranges, "pt", "pt", "hi")
        .groupBy(col("range_id"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          min(col("pt")).as("min_pt"), max(col("pt")).as("max_pt"))
        .orderBy(col("range_id"))
    }, Some(
      """WITH r AS (SELECT 'w' || CAST(i AS VARCHAR) AS range_id,
        |  1704067200000000 + i*604800000000 AS lo,
        |  1704067200000000 + i*604800000000 + 518399999999 AS hi
        |  FROM range(0,4) t(i)),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS pt FROM events)
        |SELECT range_id, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  min(pt) AS min_pt, max(pt) AS max_pt
        |FROM p JOIN r ON p.pt BETWEEN r.lo AND r.hi
        |GROUP BY range_id ORDER BY range_id""".stripMargin)),
    // per-group top-k: top-3 line items by revenue per supplier (single
    // shuffle on the group key, rank survives for verification)
    Query("q44_topk_per_group", (s, dir) => {
      import graft.data.Relational
      val li = t(s, dir, "lineitem").select(col("l_suppkey"), col("l_orderkey"),
        col("l_linenumber"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      Relational.topKPerGroup(li, Seq("l_suppkey"),
          Seq(col("revenue").desc, col("l_orderkey").asc, col("l_linenumber").asc), 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("l_suppkey"), col("rank"))
    }, Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber, revenue, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY revenue DESC, l_orderkey, l_linenumber) AS rank
        |  FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
        |        round(l_extendedprice*(1-l_discount),4) AS revenue FROM lineitem))
        |WHERE rank <= 3 ORDER BY l_suppkey, rank""".stripMargin)),
    // crawl FRONT-DOOR dedup: canonical-URL key (scheme/www/port/
    // tracking-param/fragment-insensitive) -> keep min doc per key; the
    // synthesized URLs vary cosmetically within each doc_id%100 class
    Query("q99_url_dedup", (s, dir) => {
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("http://")).otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, lit("WWW.Ex")).otherwise(lit("ex")),
        (col("doc_id") % 5).cast("string"), lit(".org"),
        when(col("doc_id") % 2 === 1, lit(":443")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 100).cast("string"), lit("/"),
        lit("?utm_source=feed&page="), (col("doc_id") % 4).cast("string"),
        lit("&fbclid=x"), col("doc_id").cast("string"),
        lit("#sec"), (col("doc_id") % 7).cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), T.canonicalUrl(url).as("url_canon"))
        .groupBy(col("url_canon"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("url_canon"))
    }, Some(
      s"""WITH u AS (SELECT doc_id,
         |  concat(CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END,
         |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.Ex' ELSE 'ex' END,
         |    CAST(doc_id % 5 AS VARCHAR), '.org',
         |    CASE WHEN doc_id % 2 = 1 THEN ':443' ELSE '' END,
         |    '/p/', CAST(doc_id % 100 AS VARCHAR), '/',
         |    '?utm_source=feed&page=', CAST(doc_id % 4 AS VARCHAR),
         |    '&fbclid=x', CAST(doc_id AS VARCHAR),
         |    '#sec', CAST(doc_id % 7 AS VARCHAR)) AS url
         |  FROM documents),
         |c1 AS (SELECT doc_id,
         |  regexp_replace(url, '^[hH][tT][tT][pP][sS]?://', '') AS x FROM u),
         |c2 AS (SELECT doc_id, regexp_replace(x, '#.*', '') AS x FROM c1),
         |c3 AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(lower(regexp_replace(
         |      regexp_extract(x, '^([^/?]*)', 1), '^[^@]*@', '')),
         |    ':(80|443)$$', ''), '^www\\.', '') AS host,
         |  regexp_extract(x, '^[^/?]*(.*)', 1) AS rest FROM c2),
         |c4 AS (SELECT doc_id, host,
         |  regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$$', '')
         |    AS path,
         |  regexp_extract(rest, '\\?(.*)', 1) AS query FROM c3),
         |c5 AS (SELECT doc_id, host, path,
         |  array_to_string(list_filter(string_split(query, '&'),
         |    p -> len(p) > 0 AND NOT regexp_matches(p,
         |      '^(utm_[A-Za-z0-9]+|gclid|fbclid|ref|ref_src)=')), '&')
         |    AS q FROM c4),
         |k AS (SELECT doc_id, concat(host, path,
         |    CASE WHEN len(q) > 0 THEN concat('?', q) ELSE '' END)
         |    AS url_canon FROM c5)
         |SELECT url_canon, count(*) AS n_docs, min(doc_id) AS keep_id
         |FROM k GROUP BY url_canon ORDER BY url_canon""".stripMargin)),
    // rollup with grouping id (subtotals + grand total in one pass)
    Query("q45_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
          count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"), col("gid"))
        .orderBy(col("gid"), col("flag"), col("status"))
    }, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  round(sum(l_quantity),4) AS sum_qty, count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, flag, status""".stripMargin)),
    // semi/anti joins: customers with an F-status order vs customers with
    // no orders at all, tagged and counted per nation
    Query("q46_semi_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o.filter(col("o_orderstatus") === "F"),
          c("c_custkey") === o("o_custkey"), "leftsemi")
        .select(col("c_nationkey"), lit("has_f_order").as("tag"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "leftanti")
        .select(col("c_nationkey"), lit("no_orders").as("tag"))
      semi.unionByName(anti)
        .groupBy(col("c_nationkey"), col("tag"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"), col("tag"))
    }, Some(
      """SELECT c_nationkey, tag, count(*) AS n FROM (
        |  SELECT c_nationkey, 'has_f_order' AS tag FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM orders o
        |                WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT c_nationkey, 'no_orders' AS tag FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |GROUP BY c_nationkey, tag ORDER BY c_nationkey, tag""".stripMargin)),
    // portable HyperLogLog: approximate distinct users per event type,
    // sketch state integer-exact and MD5-derived so the oracle reproduces
    // the sketch itself, next to the exact count for accuracy reading
    Query("q47_hll_distinct", (s, dir) => {
      import graft.data.Sketches
      val ev = events(s, dir).select(col("event_type"), col("user_id"))
      Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"), p = 8)
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact")), Seq("event_type"))
        .orderBy(col("event_type"))
    }, Some {
      val c = graft.data.Sketches.rawConstant(8) // identical double both engines
      s"""WITH h AS (SELECT event_type,
         |  ${h60Sql("CAST(user_id AS VARCHAR)")} AS hh
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT event_type, hh // 4503599627370496 AS bucket,
         |    max(CASE WHEN hh % 4503599627370496 > 0
         |             THEN 53 - length(format('{:b}', hh % 4503599627370496))
         |             ELSE 53 END) AS rho
         |  FROM h GROUP BY event_type, bucket),
         |st AS (SELECT event_type,
         |    CAST(sum((1::BIGINT) << CAST(53 - rho AS INT)) AS BIGINT) AS s_hit,
         |    CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM r GROUP BY event_type),
         |fin AS (SELECT event_type,
         |    s_hit + (256 - n_buckets) * ((1::BIGINT) << 53) AS hll_state, n_buckets
         |  FROM st),
         |est AS (SELECT *, $c / CAST(hll_state AS DOUBLE) AS raw FROM fin)
         |SELECT e.event_type, hll_state, n_buckets,
         |  round(CASE WHEN raw <= 640.0 AND (256 - n_buckets) > 0
         |             THEN 256.0 * ln(256.0 / (256.0 - n_buckets))
         |             ELSE raw END, 2) AS approx_distinct,
         |  x.n_exact
         |FROM est e JOIN (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |                 FROM events GROUP BY event_type) x USING (event_type)
         |ORDER BY event_type""".stripMargin
    }),
    // deterministic hash split + subsample: row-stable train/valid/test
    // labels and a 10% sample, reproducible on any partitioning/engine
    Query("q48_hash_split", (s, dir) => {
      import graft.data.Sampling
      t(s, dir, "documents")
        .withColumn("split", Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)))
        .withColumn("in_sample",
          Sampling.hashSlot(col("doc_id"), 10000, "s1") < 1000)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"), sum(col("in_sample").cast("long")).as("n_sampled"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("source"), col("split"))
    }, Some(
      s"""WITH d AS (SELECT source, doc_id,
         |  ${h60Sql("concat(CAST(doc_id AS VARCHAR), '')")} % 10000 AS slot,
         |  ${h60Sql("concat(CAST(doc_id AS VARCHAR), 's1')")} % 10000 AS slot2
         |  FROM documents)
         |SELECT source,
         |  CASE WHEN slot < 8000 THEN 'train'
         |       WHEN slot < 9000 THEN 'valid' ELSE 'test' END AS split,
         |  count(*) AS n,
         |  CAST(sum(CASE WHEN slot2 < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM d GROUP BY source, split ORDER BY source, split""".stripMargin)),
    // skew-safe salted join: row-identical to the plain equi join, hot
    // keys spread over 8 reducers (oracle is the plain join)
    Query("q49_salted_join", (s, dir) => {
      import graft.data.Relational
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      Relational.saltedJoin(o, c, Seq("o_custkey"), saltFactor = 8)
        .groupBy(col("c_nationkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("sum_price"), count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    }, Some(
      """SELECT c_nationkey, round(sum(o_totalprice),2) AS sum_price, count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    // CDC compaction: latest event per user (topKPerGroup k=1 — the
    // "keep newest version of each key" upsert read path)
    Query("q50_latest_per_key", (s, dir) => {
      import graft.data.Relational
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      Relational.topKPerGroup(ev, Seq("user_id"),
          Seq(col("ts_us").desc, col("event_id").desc), 1)
        .drop("rank")
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("user_id"))
    }, Some(
      """SELECT user_id, event_id, ts_us, round(value, 6) AS value FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    // Morton/z-order clustering key: bit-interleaved, engine-portable —
    // the multi-dimensional upgrade of the lexicographic clustered write
    Query("q51_zorder_key", (s, dir) => {
      import graft.risk.Sinks
      t(s, dir, "lineitem")
        .withColumn("z", Sinks.zorderKey(
          Seq(col("l_orderkey"), col("l_suppkey")), bits = 10))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("min_z"),
          max(col("z")).as("max_z"), sum(col("z")).as("sum_z"))
        .orderBy(col("l_returnflag"))
    }, Some {
      val z = Seq("l_orderkey", "l_suppkey").zipWithIndex.flatMap { case (c, i) =>
        (0 until 10).map(b => s"((($c % 1024) >> $b) & 1) * ${1L << (b * 2 + i)}")
      }.mkString(" + ")
      s"""SELECT l_returnflag, count(*) AS n, min(z) AS min_z, max(z) AS max_z,
         |  CAST(sum(z) AS BIGINT) AS sum_z
         |FROM (SELECT l_returnflag, $z AS z FROM lineitem)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    }),
    // bloom-prefiltered join: filter the big side by a broadcast Bloom of
    // the selective side's keys before the exact join (row-identical to
    // the plain join; the oracle IS the plain join)
    Query("q52_bloom_join", (s, dir) => {
      import graft.data.Relational
      val hot = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      Relational.bloomPrefilterJoin(li, hot, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("revenue")), 2).as("sum_rev"), count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }, Some(
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS sum_rev, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 300000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    // fixed-bin histogram: the 2-shuffle distribution primitive (exact
    // bin counts, oracle-checked bin by bin)
    Query("q53_histogram", (s, dir) => {
      import graft.data.Sketches
      Sketches.fixedHistogram(t(s, dir, "lineitem"), Seq("l_returnflag"),
          col("l_extendedprice"), lo = 0.0, hi = 60000.0, nBins = 20)
        .orderBy(col("l_returnflag"), col("bin"))
    }, Some {
      val scale = 20 / 60000.0 // interpolated so both engines use one double
      s"""SELECT l_returnflag,
         |  CAST(least(greatest(floor((l_extendedprice - 0.0) * $scale), 0), 19) AS BIGINT) AS bin,
         |  count(*) AS bin_n
         |FROM lineitem GROUP BY l_returnflag, bin
         |ORDER BY l_returnflag, bin""".stripMargin
    }),
    // histogram-interpolated median: approximate quantile without a sort,
    // error bounded by one bin width — exact-formula oracle
    Query("q53b_hist_quantile", (s, dir) => {
      import graft.data.Sketches
      val h = Sketches.fixedHistogram(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"), lo = 0.0, hi = 60000.0, nBins = 20)
      Sketches.histogramQuantile(h, Seq("l_returnflag"),
          lo = 0.0, hi = 60000.0, nBins = 20, p = 0.5)
        .withColumn("q_approx", round(col("q_approx"), 6))
        .orderBy(col("l_returnflag"))
    }, Some {
      val scale = 20 / 60000.0
      val width = (60000.0 - 0.0) / 20
      s"""WITH g AS (SELECT l_returnflag,
         |    CAST(least(greatest(floor((l_extendedprice - 0.0) * $scale), 0), 19) AS BIGINT) AS bin,
         |    count(*) AS bin_n
         |  FROM lineitem GROUP BY l_returnflag, bin),
         |c AS (SELECT *,
         |    sum(bin_n) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
         |    sum(bin_n) OVER (PARTITION BY l_returnflag) AS n
         |  FROM g),
         |sel AS (SELECT l_returnflag, min(bin) AS bin FROM c
         |  WHERE CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * 0.5
         |  GROUP BY l_returnflag)
         |SELECT c.l_returnflag, CAST(c.n AS BIGINT) AS n_total,
         |  round(0.0 + (c.bin + (CAST(c.n AS DOUBLE) * 0.5 - CAST(c.cum - c.bin_n AS DOUBLE))
         |               / CAST(c.bin_n AS DOUBLE)) * $width, 6) AS q_approx
         |FROM c JOIN sel ON c.l_returnflag = sel.l_returnflag AND c.bin = sel.bin
         |ORDER BY c.l_returnflag""".stripMargin
    }),
    // corpus mixture sampling: per-source keep rates, hash-deterministic
    Query("q55_mixture_sample", (s, dir) => {
      import graft.data.Sampling
      val docs = t(s, dir, "documents")
      val kept = Sampling.mixtureSample(docs, col("source"), col("doc_id"),
        Map("src0" -> 0.8, "src1" -> 0.5), defaultRate = 0.2, salt = "mix")
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
        .join(kept.groupBy(col("source")).agg(count(lit(1)).as("n_kept")),
          Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH d AS (SELECT source, doc_id,
         |  ${h60Sql("concat(CAST(doc_id AS VARCHAR), 'mix')")} % 10000 AS slot
         |  FROM documents),
         |k AS (SELECT source, count(*) AS n_kept FROM d
         |  WHERE slot < (CASE WHEN source = 'src0' THEN 8000
         |                     WHEN source = 'src1' THEN 5000
         |                     ELSE 2000 END)
         |  GROUP BY source)
         |SELECT t.source, t.n_total, coalesce(k.n_kept, 0) AS n_kept
         |FROM (SELECT source, count(*) AS n_total FROM documents GROUP BY source) t
         |LEFT JOIN k USING (source) ORDER BY source""".stripMargin)),
    // bigram top-k per source: LM corpus n-gram stats (explode sliding
    // window -> two-level count -> per-group rank)
    Query("q56_ngram_topk", (s, dir) => {
      import graft.data.Relational
      // materialize the token array behind an exchange first: higher-order
      // lambdas get no subexpression elimination, so an INLINE tokens()
      // would re-split the text per bigram index (O(n^2) — the q38 trap)
      val tokenized = t(s, dir, "documents")
        .select(col("source"), T.tokens(lower(col("text"))).as("toks"))
        // argless (AQE REBALANCE) on purpose: an explicit 32-way width
        // was tried and measured SLOWER (0.73 → 1.06 s min-of-3) — the
        // bigram stage is small enough that task overhead dominates,
        // and the barrier is here for CSE, not parallelism
        .repartition()
      val toks = col("toks")
      val bigrams = when(size(toks) > 1,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
      val counts = tokenized
        .select(col("source"), explode(bigrams).as("bg"))
        .groupBy(col("source"), col("bg"))
        .agg(count(lit(1)).as("n"))
      Relational.topKPerGroup(counts, Seq("source"),
          Seq(col("n").desc, col("bg").asc), 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("source"), col("rank"))
    }, Some(
      """WITH b AS (SELECT source, unnest(list_transform(range(1, len(toks)),
        |    i -> concat(toks[i], ' ', toks[i+1]))) AS bg
        |  FROM (SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |        FROM documents)),
        |g AS (SELECT source, bg, count(*) AS n FROM b GROUP BY source, bg),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY n DESC, bg) AS rank FROM g)
        |SELECT source, bg, n, rank FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin)),
    // full outer join with null-filled sides (customers vs suppliers per
    // nation — nations may exist on either side only)
    Query("q59_outer_join", (s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_cust"))
      val sup = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sup, Seq("nation"), "full_outer")
        .select(col("nation"), coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nation"))
    }, Some(
      """SELECT coalesce(c.nation, s.nation) AS nation,
        |  coalesce(c.n_cust, 0) AS n_cust, coalesce(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nation, count(*) AS n_cust
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nation, count(*) AS n_supp
        |      FROM supplier GROUP BY 1) s ON c.nation = s.nation
        |ORDER BY nation""".stripMargin)),
    // set operations: nations present in both key sets / only one
    Query("q60_setops", (s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nation"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nation"))
      val both = cn.intersect(sn).withColumn("tag", lit("both"))
      val custOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
      val suppOnly = sn.except(cn).withColumn("tag", lit("supp_only"))
      both.unionByName(custOnly).unionByName(suppOnly)
        .orderBy(col("tag"), col("nation"))
    }, Some(
      """SELECT nation, 'both' AS tag FROM
        |  (SELECT c_nationkey AS nation FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nation, 'cust_only' AS tag FROM
        |  (SELECT c_nationkey AS nation FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nation, 'supp_only' AS tag FROM
        |  (SELECT s_nationkey AS nation FROM supplier
        |   EXCEPT SELECT c_nationkey FROM customer)
        |ORDER BY tag, nation""".stripMargin)),
    // PCA -> ANN composition: exact top-k in the 8-dim principal subspace
    // instead of the raw 64-dim space — the reduce-then-search pattern
    // PCA exists for. Bit-deterministic (fixed-point PCA) -> golden.
    Query("q54b_pca_ann", (s, dir) => {
      import graft.data.{Pca, Similarity}
      val e = t(s, dir, "embeddings")
      val model = Pca.fit(e, "embedding", k = 8)
      val proj = Pca.transform(e, "embedding", model)
        .select(col("vec_id"),
          array((0 until 8).map(j => col(s"pc$j")): _*).as("v"))
      Similarity.bruteForceTopK(proj.filter(col("vec_id") < 10), proj,
          "vec_id", "v", k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // sample-then-fit PCA (the d >= 1k scale path as ONE call): basis from
    // a 40% hash-sample, every row transformed with it. Hash-deterministic
    // sample + fixed-point moments -> golden-pinnable projections.
    Query("q54c_pca_sampled", (s, dir) => {
      import graft.data.Pca
      val e = t(s, dir, "embeddings")
      val model = Pca.fitSampled(e, "embedding", k = 4,
        key = col("vec_id"), num = 4000)
      Pca.transform(e, "embedding", model)
        .select(col("vec_id"), col("label"),
          round(col("pc0"), 6).as("pc0"), round(col("pc1"), 6).as("pc1"),
          round(col("pc2"), 6).as("pc2"), round(col("pc3"), 6).as("pc3"))
        .orderBy(col("vec_id"))
    }),
    // quality-weighted sampling: keep probability proportional to the
    // document quality score, hash-deterministic (importance sampling
    // for corpus mixing); floor() on both engines — cast would diverge
    Query("q61_quality_sample", (s, dir) => {
      import graft.data.Sampling
      val q = T.qualityScore(col("text"))
      t(s, dir, "documents")
        .withColumn("keep",
          Sampling.hashSlot(col("doc_id"), 10000, "qs") < floor(q * 10000))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("keep").cast("long")).as("n_kept"),
          sum(floor(q * 10000).cast("long")).as("thr_sum"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH q AS (SELECT source, doc_id,
         |  floor(($qualitySql) * 10000) AS thr,
         |  ${h60Sql("concat(CAST(doc_id AS VARCHAR), 'qs')")} % 10000 AS slot
         |  FROM (SELECT source, doc_id, text, len($tokSql) AS words,
         |        $punctSql AS punct, ${stopSql(T.StopEn)} AS stop_en
         |        FROM documents))
         |SELECT source, count(*) AS n,
         |  CAST(sum(CASE WHEN slot < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CAST(thr AS BIGINT)) AS BIGINT) AS thr_sum
         |FROM q GROUP BY source ORDER BY source""".stripMargin)),
    // count-min sketch over document tokens: fixed 4x512 counter state,
    // probe estimates >= exact counts (collision error only); the sketch
    // itself is oracle-verified, completing the sketch family (HLL
    // distinct / histogram quantile / CMS frequency)
    Query("q58_cms_tokens", (s, dir) => {
      import s.implicits._
      import graft.data.Sketches
      val toks = t(s, dir, "documents")
        .select(explode(T.tokens(lower(col("text")))).as("tok"))
      val counters = Sketches.cmsCounters(toks, col("tok"), depth = 4, width = 512)
      val probes = Seq("the", "table", "query", "spark", "zzzz").toDF("tok")
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      Sketches.cmsEstimate(counters, probes, col("tok"), depth = 4, width = 512)
        .join(exact, Seq("tok"), "left")
        .select(col("tok"), col("cms_est"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .orderBy(col("tok"))
    }, Some(
      s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
         |  FROM documents),
         |c AS (SELECT row, slot, count(*) AS cnt FROM (
         |    SELECT i AS row,
         |      ${h60Sql("concat(tok, 'cms' || CAST(i AS VARCHAR))")} % 512 AS slot
         |    FROM toks CROSS JOIN range(0,4) t(i)) GROUP BY row, slot),
         |p AS (SELECT unnest(['the','table','query','spark','zzzz']) AS tok),
         |e AS (SELECT p.tok, i, coalesce(c.cnt, 0) AS cnt
         |  FROM p CROSS JOIN range(0,4) t(i)
         |  LEFT JOIN c ON c.row = i AND c.slot =
         |    ${h60Sql("concat(p.tok, 'cms' || CAST(i AS VARCHAR))")} % 512),
         |est AS (SELECT tok, CAST(min(cnt) AS BIGINT) AS cms_est FROM e GROUP BY tok),
         |ex AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok)
         |SELECT est.tok, est.cms_est, coalesce(ex.n_exact, 0) AS n_exact
         |FROM est LEFT JOIN ex USING (tok) ORDER BY tok""".stripMargin)),
    // capstone: the one-call corpus-preparation pipeline (C4 filter ->
    // PII redact -> lang/quality tag -> exact dedup -> split) over a
    // deterministic multi-line augmentation, with an id-shifted twin of
    // every doc so redaction-collapse dedup is actually exercised
    Query("q57_corpus_prepare", (s, dir) => {
      import graft.data.Corpus
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // offset far above any doc_id at any sf — twin ids must not collide
      val twins = base.unionByName(
        base.withColumn("doc_id", col("doc_id") + 10000000L))
      val aug = twins.withColumn("text", concat(
        lit("Intro line\n"), col("text"),
        lit(". Details follow in this sentence.\nContact user"),
        col("doc_id").cast("string"),
        lit("@mail.example.com or call +1 (555) 010-"),
        (col("doc_id") % 97).cast("string"), lit(" now okay.\n"),
        when(col("doc_id") % 7 === 0, lit("code sample { x } here."))
          .otherwise(lit("plain tail text also here."))))
      Corpus.prepare(aug)
        .withColumn("h60", T.hash60(col("text")))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_words")).as("sum_words"),
          sum(round(col("quality") * 1e6, 0).cast("long")).as("q_micros"),
          expr("bit_xor(h60)").as("hash_xor"))
        .orderBy(col("split"), col("lang"))
    }, Some(
      s"""WITH base AS (SELECT doc_id, text FROM documents
         |    UNION ALL SELECT doc_id + 10000000 AS doc_id, text FROM documents),
         |aug AS (SELECT doc_id, concat('Intro line', chr(10), text,
         |    '. Details follow in this sentence.', chr(10), 'Contact user',
         |    CAST(doc_id AS VARCHAR), '@mail.example.com or call +1 (555) 010-',
         |    CAST(doc_id % 97 AS VARCHAR), ' now okay.', chr(10),
         |    CASE WHEN doc_id % 7 = 0 THEN 'code sample { x } here.'
         |         ELSE 'plain tail text also here.' END) AS a
         |  FROM base),
         |cl AS (SELECT doc_id, array_to_string(
         |    list_filter(list_filter(list_transform(string_split(a, chr(10)),
         |        l -> trim(l)), l -> length(l) > 0),
         |      l -> len(regexp_split_to_array(l, '\\s+')) >= 5
         |        AND regexp_matches(l, '[.!?"]$$')), chr(10)) AS clean,
         |    len(list_filter(list_filter(list_transform(string_split(a, chr(10)),
         |        l -> trim(l)), l -> length(l) > 0),
         |      l -> len(regexp_split_to_array(l, '\\s+')) >= 5
         |        AND regexp_matches(l, '[.!?"]$$'))) AS n_lines
         |  FROM aug),
         |keepf AS (SELECT doc_id, clean FROM (SELECT *,
         |      len(regexp_split_to_array(trim(clean), '\\s+')) AS w FROM cl)
         |  WHERE n_lines >= 1 AND w >= 50 AND w <= 100000
         |    AND NOT contains(lower(clean), 'lorem ipsum')
         |    AND NOT contains(clean, '{')),
         |red AS (SELECT doc_id AS id,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(clean,
         |      'https?://[^\\s]+', '<URL>', 'g'),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         |      '\\+?\\d[\\d()./ -]{6,}\\d\\b', '<PHONE>', 'g') AS text
         |  FROM keepf),
         |tag AS (SELECT id, text, words, punct, stop_en, s_en, s_es, s_de, s_fr,
         |    ${h60Sql("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS fp
         |  FROM (SELECT id, text, len($tokSql) AS words, $punctSql AS punct,
         |      ${stopSql(T.StopEn)} AS stop_en, ${stopSql(T.StopEn)} AS s_en,
         |      ${stopSql(T.StopEs)} AS s_es, ${stopSql(T.StopDe)} AS s_de,
         |      ${stopSql(T.StopFr)} AS s_fr
         |    FROM red)),
         |surv AS (SELECT min(id) AS id FROM tag GROUP BY fp),
         |fin AS (SELECT * FROM tag WHERE id IN (SELECT id FROM surv)),
         |spl AS (SELECT *,
         |    CASE WHEN slot < 8000 THEN 'train'
         |         WHEN slot < 9000 THEN 'valid' ELSE 'test' END AS split,
         |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |         WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
         |         WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
         |         WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS lang
         |  FROM (SELECT *,
         |      ${h60Sql("concat(CAST(id AS VARCHAR), '')")} % 10000 AS slot FROM fin))
         |SELECT split, lang, count(*) AS n, CAST(sum(words) AS BIGINT) AS sum_words,
         |  CAST(sum(CAST(round(($qualitySql)*1000000, 0) AS BIGINT)) AS BIGINT) AS q_micros,
         |  bit_xor(${h60Sql("text")}) AS hash_xor
         |FROM spl GROUP BY split, lang ORDER BY split, lang""".stripMargin)),
    // distributed PCA on the embedding column (fixed-point moment
    // accumulation -> bit-deterministic under any partitioning; driver
    // Jacobi eigensolve; broadcast-literal projection). No SQL oracle —
    // golden-pinned in GoldenMcSpec like the MC chain.
    Query("q54_pca", (s, dir) => {
      import graft.data.Pca
      val e = t(s, dir, "embeddings")
      val model = Pca.fit(e, "embedding", k = 4)
      Pca.transform(e, "embedding", model)
        .select(col("vec_id"), col("label"),
          round(col("pc0"), 6).as("pc0"), round(col("pc1"), 6).as("pc1"),
          round(col("pc2"), 6).as("pc2"), round(col("pc3"), 6).as("pc3"))
        .orderBy(col("vec_id"))
    }),
    // ------------------------------- Monte-Carlo chain (rows-only checks)
    Query("q30_mc_portfolio_var", (s, _) => {
      VarPipeline.portfolioVar(s, miniCfg)
    }),
    Query("q31_var_by_country", (s, _) => {
      VarPipeline.varBySlice(s, "country", miniCfg)
    }),
    Query("q32_compliance", (s, _) => {
      VarPipeline.compliance(s, miniCfg)
    }),
    Query("q33_mc_trials", (s, _) => {
      import org.apache.spark.sql.functions.{col => c}
      VarPipeline.sharedTrials(s, miniCfg)
        .select(c("date"), c("ticker"), R.varAtVec(c("returns"), lit(95.0)).as("var_95"))
        .orderBy(c("date"), c("ticker"))
    }),
    // persisted-table hand-off: 03 writes monte_carlo_trials clustered,
    // 04 re-reads it — same result as q33 but from the STORED table
    Query("q33b_mc_trials_stored", (s, _) => {
      import org.apache.spark.sql.functions.{col => c}
      import graft.risk.Warehouse
      val prev = s.catalog.currentDatabase
      // per-JVM warehouse dir (overridable): two concurrent bench/verify
      // runs on one host must not clobber each other's table files. The
      // result reads the table lazily, so the default dir goes at JVM exit
      val whDir = sys.env.getOrElse("GRAFT_WH_DIR", deleteAtExit(
        s"${System.getProperty("java.io.tmpdir")}/graft_wh_${s.sparkContext.applicationId}"))
      Warehouse.reset(s, "graft_bench_wh", whDir)
      Warehouse.createAndUse(s, "graft_bench_wh", whDir)
      VarPipeline.materializeHandoff(s, miniCfg,
        Map("volatility" -> "market_volatility", "mc_trials" -> "monte_carlo_trials"))
      val stored = Warehouse.table(s, "monte_carlo_trials")
      s.sql(s"USE `$prev`")
      stored
        .select(c("date"), c("ticker"), R.varAtVec(c("returns"), lit(95.0)).as("var_95"))
        .orderBy(c("date"), c("ticker"))
    }),
    // file-based config sources: portfolio/indicators/app config from
    // reference-shaped JSON/YAML fixtures feeding the full pipeline
    Query("q37_file_config", (s, _) => {
      val dir = "/root/repo/src/test/resources/config"
      val (cfg, pf) = graft.risk.Configs.fromFiles(s,
        s"$dir/application.yaml", s"$dir/portfolio.json", s"$dir/indicators.json")
      VarPipeline.varBySlice(s, "country", cfg.copy(runs = 100, days = 100), Some(pf))
        .orderBy(col("date"), col("country"))
    }),
    Query("q34_risk_contribution", (s, _) => {
      import graft.risk.{VarEngine, VarPipeline => VP}
      VarEngine.riskContribution(VP.sharedTrials(s, miniCfg),
          VP.portfolio(s, miniCfg), "industry",
          Seq("MINING", "BANKING", "ENERGY", "RETAIL"))
        .orderBy(col("date"))
    }),
    Query("q35_compliance_daily", (s, _) => {
      import graft.risk.{Sources, VarEngine, VarPipeline => VP}
      val market = Sources.syntheticMarketData(s, miniCfg.tickers, miniCfg.start,
        miniCfg.days, globalSeed = miniCfg.seed)
      val varSeries = VarEngine.varTimeSeries(VP.sharedTrials(s, miniCfg),
        VP.portfolio(s, miniCfg)).select(col("date"), col("var_99"))
      VarEngine.complianceReport(market, VP.portfolio(s, miniCfg), varSeries)
        .orderBy(col("date"))
    })
  ))

  /** Root for the staged-parquet hand-offs (q126 and the staged-encode
   * oracles): a Spark query writes a deterministic intermediate here
   * and the DuckDB oracle re-reads the same files via read_parquet, so
   * both engines compute the final metrics from one staged table.
   *
   * The root is keyed by USER only, so the oracle SQL strings (which
   * embed the path) are the same in every run and two Verify dumps of
   * one tree compare with `cmp`; a leftover dir owned by another user
   * cannot fail the write. Each per-query path is further keyed by the
   * input dir's basename, so a sf0.1 Bench stage never collides with
   * the sf0.01 gate's. Every run rewrites its stage (`overwrite`) and
   * [[readStage]] refuses one without `_SUCCESS`, so a stage left by a
   * crashed run never feeds a later query. The stage is not deleted on
   * exit: the driver's DuckDB reads it after Verify's JVM has ended.
   *
   * Given up with the pid: two JVMs of one user that run the same
   * staged query at the same scale at the same time share a path and
   * can clobber each other's stage. q83's index dir is shared the same
   * way, and there a collision fails the query outright: the loser of
   * the version-pointer race throws, or one run's prune deletes the
   * version the other run's lazy search still reads. No procedure here
   * does that — Verify runs at sf0.01, Bench at sf0.1, and sbt runs are
   * never concurrent. */
  private[graft] val stageRoot: String = {
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/")
    val user = sys.props.getOrElse("user.name", "nouser")
    s"$tmp/graft_stage_$user"
  }

  private[graft] def stageDir(name: String, dir: String): String =
    s"$stageRoot/${name}_${new java.io.File(dir).getName}"

  /** Stands for the sf basename in a staged-encode oracle's stage path
   * (`stageDir(name, StageScale)`). A query writes its stage at the scale
   * it runs on, which only the caller knows: [[oracleSql]] fills it in. */
  private[graft] final val StageScale = "{sf}"

  /** Read a staged table back, refusing an absent or half-written
   * stage: the parquet job committer writes `_SUCCESS` last, so its
   * absence means the stage write never completed — fail loudly here
   * instead of letting a partial stage feed the query's metrics (and,
   * through the shared path, the DuckDB oracle compare). */
  private[graft] def readStage(s: SparkSession, path: String): DataFrame = {
    val marker = new java.io.File(path, "_SUCCESS")
    if (!marker.isFile)
      throw new IllegalStateException(
        s"stage $path is absent or incomplete (no _SUCCESS marker) — " +
          "a staged-parquet query must complete its stage write before " +
          "the read-back")
    s.read.parquet(path)
  }

  private[graft] def q126StageDir(dir: String): String =
    stageDir("q126_pieces", dir)

  /** Spread a map-only UDF chain off a NARROW scan, and only then: at
   * scale inputs have many splits and this is a no-op (no exchange is
   * planted), while an unconditional `repartition(defaultParallelism)`
   * always shuffles the full corpus — measured regressive at bench
   * scale in r12 (§10: q87b/q113/q161 consistently slower). The
   * partition probe reads only the plan (no job runs). */
  private[graft] def spreadIfNarrow(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Free the executor blocks of a localCheckpoint'd frame once its
   * consumers are done: `Dataset.unpersist` only reaches CacheManager
   * entries, not RDD-level checkpoint blocks, which otherwise linger
   * until RDD GC (ADVICE r12). Reaches the underlying RDD through the
   * plan; a non-checkpointed frame is a no-op. */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
    }.getOrElse(())

  private[graft] val miniCfg = VarPipeline.Config(
    runs = 500, days = 120, tickers = (1 to 6).map(i => s"TICK0$i"),
    indicators = Seq("IX1", "IX2", "IX3"))

  // ---- DuckDB fragments mirroring graft.data.TextFunctions/Dedup exactly
  private def sqlQuote(xs: Seq[String]) = xs.map(w => s"'$w'").mkString(", ")
  private val tokSql = "regexp_split_to_array(trim(text), '\\s+')"
  private val ltokSql = "regexp_split_to_array(trim(lower(text)), '\\s+')"

  /** BM25 oracle CTE block over corpus `src(doc_id, text)` and queries
   * `qsrc(doc_id, text)` (mirrors `Bm25.bm25TopK` exactly: Lucene idf,
   * k1=1.2, b=0.75, micro-unit long sums).
   * Exposes `brank(query_id, neighbor_id, score, rank)`. */
  private def bm25CteOn(src: String, qsrc: String) =
    s"""btoks AS (SELECT doc_id, $ltokSql AS t FROM $src),
       |btf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM btoks)
       |  GROUP BY doc_id, dl, term),
       |bstats AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
       |bc AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(t)) AS avgdl FROM btoks),
       |bq AS (SELECT DISTINCT query_id, term FROM (
       |    SELECT doc_id AS query_id, unnest($ltokSql) AS term FROM $qsrc)),
       |bcomp AS (SELECT bq.query_id, btf.doc_id AS neighbor_id,
       |    CAST(round(ln(1 + (bc.n - bstats.df + 0.5) / (bstats.df + 0.5)) *
       |      (btf.tf * 2.2 / (btf.tf + 1.2 * (0.25 + 0.75 * btf.dl / bc.avgdl))) * 1e6)
       |      AS BIGINT) AS m
       |  FROM btf JOIN bstats USING (term) JOIN bq USING (term) CROSS JOIN bc),
       |bsc AS (SELECT query_id, neighbor_id, CAST(sum(m) AS DOUBLE) / 1e6 AS score
       |  FROM bcomp GROUP BY query_id, neighbor_id),
       |brank AS (SELECT query_id, neighbor_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM bsc)""".stripMargin

  /** q76/q77's instantiation: the documents table, doc_id < 5 queries. */
  private val bm25CteSql =
    bm25CteOn("documents", "(SELECT doc_id, text FROM documents WHERE doc_id < 5)")
  private def stopSql(words: Seq[String]) =
    s"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
      s"t -> list_contains([${sqlQuote(words)}], t)))"
  private val punctSql = "len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))"
  private val bpeSql = "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))"
  private def h28Sql(x: String) = s"CAST(concat('0x', substr(md5($x),1,7)) AS BIGINT)"
  private def h60Sql(x: String) = s"CAST(concat('0x', substr(md5($x),1,15)) AS BIGINT)"
  /** quality score — operation order mirrors TextFunctions.qualityScore
   * term by term so FP results are bit-identical. */
  private val qualitySql =
    s"""0.5 * least(words / 100.0, 1.0)
       | + 0.25 * (1.0 - least((punct / greatest(length(text),1)) * 5.0, 1.0))
       | + 0.25 * least((stop_en / greatest(words,1)) * 5.0, 1.0)""".stripMargin
  /** distinct 28-bit hashes of word 3-gram shingles (Dedup.shingleHashes). */
  private val shingleSql =
    s"""list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1),
       | i -> ${h28Sql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")}))""".stripMargin
  /** 16-function minhash signature (Dedup.minhashSignature params). */
  private val sigSql =
    """list_transform(range(0,16),
      | i -> list_min(list_transform(sh, h -> (h*(2*i+1) + (7919*i+13)) % 2147483647)))""".stripMargin
  /** Synthetic crawl page of [[linkHtml]], spelled in SQL. */
  private val linkHtmlSql =
    """'<body><p>' || text || '</p><ul><li><a href=''https://h' ||
      |  CAST(doc_id % 7 AS VARCHAR) || '.example.org/p?x=1''>Page <b>' ||
      |  CAST(doc_id % 7 AS VARCHAR) ||
      |  '</b></a></li><li><a href="//cdn' || CAST(doc_id % 3 AS VARCHAR) ||
      |  '.example.net/lib.js">CDN &amp; assets</a></li><li><a href=''/local/' ||
      |  CAST(doc_id AS VARCHAR) ||
      |  '''>Local page</a></li><li><a href=''mailto:a@b.example''>Mail us</a></li></ul></body>'""".stripMargin
  /** Html.AnchorRe as a DuckDB string literal (group 1 href, 2 inner). */
  private val anchorReSql =
    """'(?is)<a\b[^>]*?href\s*=\s*[''"]([^''"]*)[''"][^>]*>(.*?)</a\s*>'"""
  /** Html.linkHost over columns `href` and `src_host`. */
  private val linkHostSql =
    """CASE WHEN regexp_extract(href,
      |      '^(?i)(?:https?:)?//(?:[^/@?#]*@)?([^/:?#]+)', 1) <> ''
      |    THEN lower(regexp_extract(href,
      |      '^(?i)(?:https?:)?//(?:[^/@?#]*@)?([^/:?#]+)', 1))
      |    WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN NULL
      |    ELSE src_host END""".stripMargin
  /** Weighted host->host edges of the synthetic crawl (q163 base). */
  private val linkGraphSql =
    s"""SELECT src_host, dst_host, count(*) AS w FROM (
       |  SELECT src_host, $linkHostSql AS dst_host FROM (
       |    SELECT 'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
       |        AS src_host,
       |      unnest(regexp_extract_all($linkHtmlSql, $anchorReSql, 1)) AS href
       |    FROM documents))
       |WHERE dst_host IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** 3-iteration weighted-PageRank recurrence over the extracted host
   * graph, self-loops dropped — `WITH … r3` (q163b/q165 share it). */
  private val hostRankCteSql =
    s"""WITH e AS (SELECT src_host AS src, dst_host AS dst, w
       |  FROM ($linkGraphSql) WHERE src_host <> dst_host),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY 1),
       |r0 AS (SELECT node, 1000000000 // (SELECT n FROM nn) AS r FROM nodes),
       |c1 AS (SELECT e.dst AS node,
       |    CAST(sum((r0.r * e.w) // sw.sw) AS BIGINT) AS c
       |  FROM e JOIN r0 ON e.src = r0.node JOIN sw ON e.src = sw.src
       |  GROUP BY 1),
       |r1 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
       |    + (17 * coalesce(c1.c, 0)) // 20 AS r
       |  FROM nodes nd LEFT JOIN c1 ON nd.node = c1.node),
       |c2 AS (SELECT e.dst AS node,
       |    CAST(sum((r1.r * e.w) // sw.sw) AS BIGINT) AS c
       |  FROM e JOIN r1 ON e.src = r1.node JOIN sw ON e.src = sw.src
       |  GROUP BY 1),
       |r2 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
       |    + (17 * coalesce(c2.c, 0)) // 20 AS r
       |  FROM nodes nd LEFT JOIN c2 ON nd.node = c2.node),
       |c3 AS (SELECT e.dst AS node,
       |    CAST(sum((r2.r * e.w) // sw.sw) AS BIGINT) AS c
       |  FROM e JOIN r2 ON e.src = r2.node JOIN sw ON e.src = sw.src
       |  GROUP BY 1),
       |r3 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
       |    + (17 * coalesce(c3.c, 0)) // 20 AS r
       |  FROM nodes nd LEFT JOIN c3 ON nd.node = c3.node)""".stripMargin

  /** 28-bit simhash terms (Dedup.simhash). */
  private val simhashSql = (0 until 28).map { j =>
    s"(CASE WHEN 2*len(list_filter(hs, h -> ((h>>$j)&1)=1)) > len(hs) THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")
  /** Per-doc shingle set + minhash signature table (q23/q29 base). */
  private val minhashSigTableSql =
    s"""SELECT doc_id, sh, $sigSql AS sig
       |  FROM (SELECT doc_id, $shingleSql AS sh
       |        FROM (SELECT doc_id, text, $tokSql AS toks FROM documents))
       |  WHERE len(sh) > 0""".stripMargin
  /** LSH band agreement between sig tables aliased `a` and `c` (4 bands
   * × 4 rows — the one spelling shared by every minhash oracle:
   * q23/q29/q29b via [[minhashCandidatesSql]], q88/q88b directly). */
  private val bandAgreeSql =
    """len(list_filter(range(0,4), b ->
      |    a.sig[b*4+1] = c.sig[b*4+1] AND a.sig[b*4+2] = c.sig[b*4+2] AND
      |    a.sig[b*4+3] = c.sig[b*4+3] AND a.sig[b*4+4] = c.sig[b*4+4])) > 0""".stripMargin
  /** Exact Jaccard between shingle sets of tables `a` and `c`. */
  private val pairJaccardSql =
    """len(list_intersect(a.sh, c.sh)) /
      |    CAST(greatest(len(list_distinct(a.sh || c.sh)), 1) AS DOUBLE)""".stripMargin
  /** LSH candidate pairs with est/exact jaccard over table `t`. */
  private val minhashCandidatesSql =
    s"""SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       |  len(list_filter(range(1,17), i -> a.sig[i] = c.sig[i])) / 16.0 AS est_jaccard,
       |  $pairJaccardSql AS jaccard
       |  FROM t a JOIN t c ON a.doc_id < c.doc_id
       |  WHERE $bandAgreeSql""".stripMargin
  /** q98 oracle: the full HITS SQL — Graph.hits' integer micro-unit
   * L1-normalized half-steps unrolled `iters` times over the q92/q98
   * synthetic directed graph. Built by loop so iteration count stays a
   * one-line change; the produced text is final SQL (no stripMargin). */
  private def hitsOracleSql(iters: Int): String = {
    val sb = new StringBuilder(
      "WITH e AS (SELECT DISTINCT doc_id % 37 AS src, doc_id % 50 AS dst\n" +
        "  FROM documents WHERE doc_id % 37 <> doc_id % 50),\n" +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),\n" +
        "nn AS (SELECT count(*) AS n FROM nodes),\n" +
        "h0 AS (SELECT node, 1000000000 // (SELECT n FROM nn) AS v FROM nodes)")
    for (i <- 1 to iters) {
      def half(rawT: String, sumT: String, outT: String, fromT: String,
          joinOn: String, groupAs: String): Unit = sb.append(s""",
$rawT AS (SELECT e.$groupAs AS node, CAST(sum($fromT.v) AS BIGINT) AS raw
  FROM e JOIN $fromT ON e.$joinOn = $fromT.node GROUP BY e.$groupAs),
$sumT AS (SELECT CAST(coalesce(sum(raw), 0) AS BIGINT) AS s FROM $rawT),
$outT AS (SELECT nd.node, CAST(coalesce(
    ($rawT.raw * 1000000000) // (SELECT s FROM $sumT), 0) AS BIGINT) AS v
  FROM nodes nd LEFT JOIN $rawT ON nd.node = $rawT.node)""")
      half(s"ar$i", s"sa$i", s"a$i", s"h${i - 1}", "src", "dst")
      half(s"hr$i", s"sh$i", s"h$i", s"a$i", "dst", "src")
    }
    sb.append(s"""
SELECT a$iters.node AS node, a$iters.v AS auth_micro, h$iters.v AS hub_micro,
  CAST(a$iters.v AS DOUBLE) / 1e9 AS auth,
  CAST(h$iters.v AS DOUBLE) / 1e9 AS hub
FROM a$iters JOIN h$iters ON a$iters.node = h$iters.node ORDER BY node""")
    sb.toString
  }

  /** Shared q78/q78b oracle prelude: the full stupid-backoff
   * trigram-LM scoring chain ending in per-doc table
   * `docsc(doc_id, n_tokens, ls)` with ls the unrounded mean
   * log-score (micro-exact sum / 1e6 / n). */
  private val lmDocScoresSql =
    s"""toks AS (SELECT doc_id, $ltokSql AS t FROM documents),
         |pos AS (SELECT doc_id, n, i, t[i] AS w3,
         |    CASE WHEN i >= 2 THEN t[i-1] END AS w2,
         |    CASE WHEN i >= 3 THEN t[i-2] END AS w1
         |  FROM (SELECT doc_id, t, len(t) AS n,
         |        unnest(range(1, len(t)+1)) AS i FROM toks)),
         |keys AS (SELECT doc_id, n, i, w1, w2, w3,
         |    CASE WHEN i >= 3 THEN concat_ws(' ', w1, w2, w3) END AS tri_key,
         |    CASE WHEN i >= 2 THEN concat_ws(' ', w2, w3) END AS bi_key,
         |    CASE WHEN i >= 3 THEN concat_ws(' ', w1, w2) END AS ctx_key
         |  FROM pos),
         |uni AS (SELECT w3 AS w, count(*) AS c1 FROM keys GROUP BY w3),
         |bi AS (SELECT bi_key AS key, count(*) AS c2 FROM keys WHERE i >= 2 GROUP BY bi_key),
         |tri AS (SELECT tri_key AS key, count(*) AS c3 FROM keys WHERE i >= 3 GROUP BY tri_key),
         |nn AS (SELECT CAST(sum(c1) AS DOUBLE) AS nt FROM uni),
         |sc AS (SELECT k.doc_id, k.n,
         |    CAST(round(ln(CASE
         |      WHEN k.i >= 3 THEN CASE
         |        WHEN t3.c3 IS NOT NULL THEN CAST(t3.c3 AS DOUBLE) / CAST(bc.c2 AS DOUBLE)
         |        WHEN b2.c2 IS NOT NULL THEN 0.4 * (CAST(b2.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE))
         |        ELSE 0.16 * (coalesce(CAST(u3.c1 AS DOUBLE), 1.0) / nn.nt) END
         |      WHEN k.i = 2 THEN CASE
         |        WHEN b2.c2 IS NOT NULL THEN CAST(b2.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE)
         |        ELSE 0.4 * (coalesce(CAST(u3.c1 AS DOUBLE), 1.0) / nn.nt) END
         |      ELSE coalesce(CAST(u3.c1 AS DOUBLE), 1.0) / nn.nt END) * 1e6) AS BIGINT) AS m
         |  FROM keys k
         |  LEFT JOIN tri t3 ON t3.key = k.tri_key
         |  LEFT JOIN bi b2 ON b2.key = k.bi_key
         |  LEFT JOIN bi bc ON bc.key = k.ctx_key
         |  LEFT JOIN uni u3 ON u3.w = k.w3
         |  LEFT JOIN uni u2 ON u2.w = k.w2
         |  CROSS JOIN nn),
         |docsc AS (SELECT doc_id, n AS n_tokens,
         |    CAST(sum(m) AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) AS ls
         |  FROM sc GROUP BY doc_id, n)""".stripMargin

  /** Shared q85/q85b oracle prelude: synthetic per-doc URL hosts, the
   * co-occurrence edge list, and the 3-iteration integer micro-unit
   * PageRank recurrence unrolled (Graph.pageRank spelling; table `h` =
   * (doc_id, host), `r3` = final (node, r)). */
  private val hostPagerankSql =
    """aug AS (SELECT doc_id, concat(text,
      |    ' see http://ex', CAST(doc_id % 5 AS VARCHAR),
      |    '.org/p/', CAST(doc_id AS VARCHAR),
      |    ' and https://cdn.example.com/x', CAST(doc_id % 3 AS VARCHAR)) AS a
      |  FROM documents),
      |h AS (SELECT doc_id,
      |    unnest(list_filter(
      |      list_transform(regexp_extract_all(a, 'https?://[^\s]+'),
      |        u -> regexp_extract(u, 'https?://(?:[^/\s@]*@)?([^/\s:?#@]+)', 1)),
      |      x -> len(x) > 0)) AS host
      |  FROM aug),
      |e AS (SELECT DISTINCT x.host AS src, y.host AS dst
      |  FROM h x JOIN h y ON x.doc_id = y.doc_id AND x.host <> y.host),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |r0 AS (SELECT node, 1000000000 // (SELECT n FROM nn) AS r FROM nodes),
      |c1 AS (SELECT e.dst AS node, CAST(sum(r0.r // od.deg) AS BIGINT) AS c
      |  FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
      |  GROUP BY e.dst),
      |r1 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
      |    + (17 * coalesce(c1.c, 0)) // 20 AS r
      |  FROM nodes nd LEFT JOIN c1 ON nd.node = c1.node),
      |c2 AS (SELECT e.dst AS node, CAST(sum(r1.r // od.deg) AS BIGINT) AS c
      |  FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
      |  GROUP BY e.dst),
      |r2 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
      |    + (17 * coalesce(c2.c, 0)) // 20 AS r
      |  FROM nodes nd LEFT JOIN c2 ON nd.node = c2.node),
      |c3 AS (SELECT e.dst AS node, CAST(sum(r2.r // od.deg) AS BIGINT) AS c
      |  FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
      |  GROUP BY e.dst),
      |r3 AS (SELECT nd.node, 150000000 // (SELECT n FROM nn)
      |    + (17 * coalesce(c3.c, 0)) // 20 AS r
      |  FROM nodes nd LEFT JOIN c3 ON nd.node = c3.node)""".stripMargin

  /** Shared host co-occurrence graph (same edges as q85/q177/q195):
   * synthetic URLs appended per doc, hosts extracted, symmetric
   * distinct within-doc pairs. */
  private val hostGraphSql =
    """aug AS (SELECT doc_id, concat(text,
      |    ' see http://ex', CAST(doc_id % 5 AS VARCHAR),
      |    '.org/p/', CAST(doc_id AS VARCHAR),
      |    ' and https://cdn.example.com/x', CAST(doc_id % 3 AS VARCHAR)) AS a
      |  FROM documents),
      |h AS (SELECT doc_id,
      |    unnest(list_filter(
      |      list_transform(regexp_extract_all(a, 'https?://[^\s]+'),
      |        u -> regexp_extract(u, 'https?://(?:[^/\s@]*@)?([^/\s:?#@]+)', 1)),
      |      x -> len(x) > 0)) AS host
      |  FROM aug),
      |e AS (SELECT DISTINCT x.host AS src, y.host AS dst
      |  FROM h x JOIN h y ON x.doc_id = y.doc_id AND x.host <> y.host)""".stripMargin

  /** q177 oracle: same host co-occurrence edges as q85, then 3 unrolled
   * synchronous label-propagation rounds — plurality neighbor label,
   * ties to the smallest (row_number ordered by count DESC, label ASC
   * is exactly the min-struct argmax on the Spark side). */
  private val hostLabelPropSql =
    s"""$hostGraphSql,
      |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),""".stripMargin +
    """
      |n1 AS (SELECT e.dst AS node, l.lab AS lab, count(*) AS c
      |  FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
      |l1 AS (SELECT node, lab FROM (SELECT node, lab, row_number() OVER
      |    (PARTITION BY node ORDER BY c DESC, lab ASC) AS rn FROM n1)
      |  WHERE rn = 1),
      |n2 AS (SELECT e.dst AS node, l.lab AS lab, count(*) AS c
      |  FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
      |l2 AS (SELECT node, lab FROM (SELECT node, lab, row_number() OVER
      |    (PARTITION BY node ORDER BY c DESC, lab ASC) AS rn FROM n2)
      |  WHERE rn = 1),
      |n3 AS (SELECT e.dst AS node, l.lab AS lab, count(*) AS c
      |  FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
      |l3 AS (SELECT node, lab FROM (SELECT node, lab, row_number() OVER
      |    (PARTITION BY node ORDER BY c DESC, lab ASC) AS rn FROM n3)
      |  WHERE rn = 1)""".stripMargin

  /** q182 oracle: pairwise comparisons from consecutive same-user events
   * (higher value wins), then 3 unrolled Bradley-Terry MM rounds in the
   * SAME exact long micro-unit arithmetic as `Preference.bradleyTerry`
   * (`//` here == `div` there, term by term). */
  private val bradleyTerrySql: String = {
    val iters = (1 to 3).map { i =>
      s"""t$i AS (SELECT p.a, p.b, (p.n * 1000000000000) // (ra.p + rb.p) AS t
         |  FROM pairs p JOIN r${i - 1} ra ON p.a = ra.item
         |  JOIN r${i - 1} rb ON p.b = rb.item),
         |d$i AS (SELECT item, CAST(sum(t) AS BIGINT) AS d FROM
         |  (SELECT a AS item, t FROM t$i UNION ALL SELECT b AS item, t FROM t$i)
         |  GROUP BY 1),
         |raw$i AS (SELECT wi.item, CASE WHEN d$i.d IS NULL
         |      THEN CAST(1000000 AS BIGINT)
         |      ELSE greatest((wi.wn * 1000000000000) // d$i.d, 1) END AS p0
         |  FROM wi LEFT JOIN d$i ON wi.item = d$i.item),
         |r$i AS (SELECT item, CAST((p0 * 1000000) //
         |    greatest((SELECT CAST(sum(p0) AS BIGINT) FROM raw$i) //
         |      (SELECT count(*) FROM items), 1) AS BIGINT) AS p
         |  FROM raw$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ord AS (SELECT event_type, value,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS pt,
       |    lag(value) OVER (PARTITION BY user_id
       |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS pv
       |  FROM events),
       |comp AS (SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS w,
       |    CASE WHEN value > pv THEN pt ELSE event_type END AS l
       |  FROM ord WHERE pt IS NOT NULL AND event_type <> pt AND value <> pv),
       |wc AS (SELECT w, l, count(*) AS n FROM comp GROUP BY 1, 2),
       |pairs AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
       |    CAST(sum(n) AS BIGINT) AS n FROM wc GROUP BY 1, 2),
       |items AS (SELECT w AS item FROM wc UNION SELECT l FROM wc),
       |wi AS (SELECT i.item, CAST(coalesce(s.wn, 0) AS BIGINT) AS wn
       |  FROM items i LEFT JOIN (SELECT w AS item, sum(n) AS wn FROM wc
       |    GROUP BY 1) s ON i.item = s.item),
       |r0 AS (SELECT item, CAST(1000000 AS BIGINT) AS p FROM items),
       |$iters,
       |g AS (SELECT item, CAST(sum(n) AS BIGINT) AS games FROM
       |  (SELECT a AS item, n FROM pairs UNION ALL SELECT b AS item, n FROM pairs)
       |  GROUP BY 1)
       |SELECT r3.item, r3.p AS rating_micro, wi.wn AS wins, g.games
       |FROM r3 JOIN wi ON r3.item = wi.item JOIN g ON r3.item = g.item
       |ORDER BY rating_micro DESC, r3.item""".stripMargin
  }

  /** Shared q94/q94b oracle prelude: d = 2 ridge weights from the
   * train split's micro-exact sufficient statistics, solved by the SAME
   * Cramer expansions (same FP operation order) as Probe.fitRidge2 —
   * table `wv` = 1 row (w0, w1, w2), bit-identical to the Spark side. */
  private val probeWeights2Sql =
    // NB interpolated into outer stripMargin'd strings — no line here may
    // start with '|' after this stripMargin, or it gets stripped twice
    """tr AS (SELECT [1.0] || CAST(embedding[1:2] AS DOUBLE[]) ||
      |    [CAST(label AS DOUBLE)] AS z
      |  FROM embeddings WHERE vec_id % 5 <> 0),
      |zi AS (SELECT z, unnest(range(1, len(z) + 1)) AS i FROM tr),
      |pr2 AS (SELECT (i - 1) * len(z) + (j - 1) AS pos,
      |    CAST(round(z[i] * z[j] * 1e6) AS BIGINT) AS m
      |  FROM (SELECT z, i, unnest(range(1, len(z) + 1)) AS j FROM zi)),
      |cells AS (SELECT pos, CAST(sum(m) AS DOUBLE) / 1e6 AS s FROM pr2
      |  GROUP BY pos),
      |gr AS (SELECT
      |    max(CASE WHEN pos = 0 THEN s END) AS a,
      |    max(CASE WHEN pos = 1 THEN s END) AS b,
      |    max(CASE WHEN pos = 2 THEN s END) AS c,
      |    max(CASE WHEN pos = 3 THEN s END) AS r0,
      |    max(CASE WHEN pos = 4 THEN s END) AS d,
      |    max(CASE WHEN pos = 5 THEN s END) AS e,
      |    max(CASE WHEN pos = 6 THEN s END) AS f,
      |    max(CASE WHEN pos = 7 THEN s END) AS r1,
      |    max(CASE WHEN pos = 8 THEN s END) AS g,
      |    max(CASE WHEN pos = 9 THEN s END) AS h,
      |    max(CASE WHEN pos = 10 THEN s END) AS i,
      |    max(CASE WHEN pos = 11 THEN s END) AS r2
      |  FROM cells),
      |dets AS (SELECT
      |    a*(e*i - f*h) - b*(d*i - f*g) + c*(d*h - e*g) AS det,
      |    r0*(e*i - f*h) - b*(r1*i - f*r2) + c*(r1*h - e*r2) AS det0,
      |    a*(r1*i - f*r2) - r0*(d*i - f*g) + c*(d*r2 - r1*g) AS det1,
      |    a*(e*r2 - r1*h) - b*(d*r2 - r1*g) + r0*(d*h - e*g) AS det2
      |  FROM gr),
      |wv AS (SELECT det0/det AS w0, det1/det AS w1, det2/det AS w2 FROM dets)""".stripMargin

  /** Hyperplane literals identical to Similarity.planes(8, 64). */
  private val planesSql = Similarity.planes(8, 64).zipWithIndex.map { case (p, i) =>
    s"($i, [${p.mkString(", ")}])"
  }.mkString(", ")

  /** PQ codebook used by q62*: 8 subspaces × 16 codes × 8 dims. */
  private val pqCb = Pq.seedCodebook(8, 16, 8)

  /** Codebook literals (sub, code, cent, |cent|²) identical to [[pqCb]] —
   * |cent|² embedded so the oracle's distance spelling matches Spark's
   * `|x|² - 2<x,c> + |c|²` bit for bit. */
  private val pqCbSql = pqCb.zipWithIndex.flatMap { case (codes, sub) =>
    codes.zipWithIndex.map { case (c, code) =>
      s"($sub, $code, [${c.mkString(", ")}], ${Pq.norm2(c)})"
    }
  }.mkString(", ")

  /** PQ-code CTEs (min-dist, ties to lower code) over source table
   * `src(vec_id, v)` — parameterized so the residual variant encodes a
   * different vector table with the same spelling. */
  private def pqEncSqlOn(src: String) =
    s"""pqd AS (SELECT s.vec_id, cb.sub, cb.code,
       |    list_dot_product(list_slice(s.v, cb.sub*8+1, cb.sub*8+8),
       |                     list_slice(s.v, cb.sub*8+1, cb.sub*8+8))
       |    - 2*list_dot_product(list_slice(s.v, cb.sub*8+1, cb.sub*8+8), cb.cent)
       |    + cb.cn2 AS dist
       |  FROM $src s CROSS JOIN cb),
       |pqm AS (SELECT vec_id, sub, min(dist) AS md FROM pqd GROUP BY vec_id, sub),
       |enc AS (SELECT pqd.vec_id, pqd.sub, min(pqd.code) AS code
       |  FROM pqd JOIN pqm ON pqm.vec_id = pqd.vec_id AND pqm.sub = pqd.sub
       |    AND pqd.dist = pqm.md
       |  GROUP BY pqd.vec_id, pqd.sub)""".stripMargin

  /** Shared q62 oracle prelude: embeddings + codebook + PQ codes. */
  private val pqEncSql =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT * FROM (VALUES $pqCbSql) cb(sub, code, cent, cn2)),
       |${pqEncSqlOn("e")}""".stripMargin

  /** LUT CTEs over query source `qsrc(vec_id, v)` (corpus codes come
   * from the `enc` CTE in scope). */
  private def pqLutSqlOn(qsrc: String, pred: String) =
    s"""codes AS (SELECT vec_id, list(code ORDER BY sub) AS cs FROM enc GROUP BY vec_id),
       |lutrow AS (SELECT e.vec_id, cb.sub,
       |    list(list_dot_product(list_slice(e.v, cb.sub*8+1, cb.sub*8+8), cb.cent)
       |         ORDER BY cb.code) AS lr
       |  FROM $qsrc e CROSS JOIN cb $pred GROUP BY e.vec_id, cb.sub),
       |luts AS (SELECT vec_id, list(lr ORDER BY sub) AS lut FROM lutrow GROUP BY vec_id)""".stripMargin

  private def pqLutSqlFor(pred: String) = pqLutSqlOn("e", pred)

  private val pqLutSql = pqLutSqlFor("WHERE e.vec_id < 20")

  /** Explicit left-to-right addition chain = PqAdc's sequential sum. */
  private val pqAdcChain = (1 to 8).map(s => s"l.lut[$s][c.cs[$s]+1]").mkString(" + ")

  /** 64-dim deterministic hash embedding of `src(doc_id, text)` —
   * mirrors `Similarity.tokenHashes` + `hashEmbed(_, 64)`: one 28-bit
   * MD5 prefix per lowercased token, each dimension an exact integer
   * sum (order-independent) divided by 1000 once. Exposes
   * `(vec_id, v)`. */
  private def hashEmbSqlOn(src: String) =
    s"""SELECT doc_id AS vec_id, list_transform(range(0, 64), j ->
       |    CAST(list_sum(list_transform(hs, h -> (h*(2*j+1) + (7919*j+13)) % 2001 - 1000))
       |      AS DOUBLE) / 1000.0) AS v
       |  FROM (SELECT doc_id, list_transform($ltokSql, w -> ${h28Sql("w")}) AS hs
       |        FROM $src)""".stripMargin

  /** Word n-grams over the `ltoks` list, mirroring Dedup.wordShingles. */
  private def ngramSql(n: Int) =
    s"""CASE WHEN len(ltoks) >= $n
       | THEN list_transform(range(1, len(ltoks) - ${n - 1} + 1),
       |   i -> concat(ltoks[i]${(1 until n).map(j => s", ' ', ltoks[i+$j]").mkString}))
       | ELSE [] END""".stripMargin

  /** Multi-table plane literals identical to q27d's 16 tables x 4 planes
   * (table t uses the independent family at offset t*4). */
  private val mtPlanesSql = (0 until 16).flatMap { tbl =>
    Similarity.planesAt(4, 64, tbl * 4).zipWithIndex.map { case (p, i) =>
      s"($tbl, $i, [${p.mkString(", ")}])"
    }
  }.mkString(", ")
}
