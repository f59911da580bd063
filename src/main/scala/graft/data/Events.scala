package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Event-log analytics — the batch relational trio every interaction /
 * telemetry corpus needs (sessionization, funnels, retention cohorts),
 * spelled so each is a handful of KEYED shuffles with per-key windows:
 * nothing global, nothing quadratic, all integer-exact arithmetic on
 * epoch seconds / day numbers so any engine reproduces the outputs
 * bit-for-bit. Spark's `session_window` is the streaming spelling of
 * sessionization; this is the batch form, with exact gap semantics over
 * a complete log.
 */
object Events {

  /**
   * GAP-BASED sessionization: a new session opens when the gap from the
   * key's previous event EXCEEDS `gapSeconds` (strict `>` — an event at
   * exactly the gap continues the session; same contract as Spark's
   * `session_window`). The classic lag-boundary + running-sum spelling:
   * `session_seq` is the 1-based per-key session index (cumulative sum
   * of boundary flags), deterministic given unique `(key, ts)` rows
   * (ties share a session — simultaneous events can't open one).
   *
   * `tsCol` must be NUMERIC (epoch seconds as long — cast timestamps
   * first) so gap arithmetic is exact integers. Pass `tieBreak` (e.g.
   * the event id) whenever `(key, ts)` can collide: tied rows always
   * share a session either way (gap 0), but WHICH row carries the
   * boundary flag — and so per-row `session_seq` — is order-dependent
   * without it. ONE shuffle on the key; both windows sort per
   * key-partition and spill locally.
   */
  def sessionize(events: DataFrame, keyCols: Seq[String], tsCol: String,
      gapSeconds: Long, tieBreak: Seq[Column] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "sessionize needs at least one key column")
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol) +: tieBreak: _*)
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__boundary",
        (col("__prev").isNull ||
          col(tsCol) - col("__prev") > gapSeconds).cast("long"))
      .withColumn("session_seq",
        sum(col("__boundary")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__prev", "__boundary")
  }

  /** Per-session rollup of [[sessionize]] output: event count, bounds,
   * exact duration seconds. One more keyed aggregation (map-side
   * combinable) on (key…, session_seq). */
  def sessionStats(sessionized: DataFrame, keyCols: Seq[String],
      tsCol: String): DataFrame =
    sessionized
      .groupBy((keyCols :+ "session_seq").map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("t_start"),
        max(col(tsCol)).as("t_end"),
        (max(col(tsCol)) - min(col(tsCol))).as("duration_s"))

  /**
   * Markov TRANSITION counts: within each key (typically a session from
   * [[sessionize]]), count consecutive `state → state` moves in time
   * order — the behavior-mining step behind "where do users go after an
   * error" / next-page prediction priors. One keyed window (the same
   * shuffle grain as sessionize, so chained they share the exchange) +
   * one map-combinable aggregation onto the ≤ |states|² matrix. The
   * first event of each key has no predecessor and contributes nothing.
   */
  def transitionCounts(df: DataFrame, keyCols: Seq[String], tsCol: String,
      stateCol: Column, tieBreak: Seq[Column] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "transitionCounts needs at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol) +: tieBreak: _*)
    df.withColumn("__to", stateCol)
      .withColumn("__from", lag(col("__to"), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_state"), col("__to").as("to_state"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * ORDERED FUNNEL: for each key, the earliest time it completed step 1,
   * then step 2 STRICTLY AFTER that, then step 3 after that, … — the
   * "signup → activate → purchase" conversion chain where order matters
   * (a purchase before signup does not count). Classic iterative min-ts
   * construction: step k's candidates join the step-(k−1) table on the
   * key, keep events after the previous step's time, take the min —
   * `steps.size` keyed aggregations + joins, each sized by the
   * SURVIVORS of the previous step (monotonically shrinking). The
   * left joins at the end keep every step-1 key with nulls where the
   * funnel broke.
   *
   * Returns one row per step-1 key: `(key…, t_1 … t_k)`. Use
   * [[funnelReport]] for the per-step conversion table.
   */
  def funnel(events: DataFrame, keyCols: Seq[String], tsCol: String,
      steps: Seq[(String, Column)],
      maxSpanSeconds: Option[Long] = None): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    maxSpanSeconds.foreach(sp =>
      require(sp > 0, s"maxSpanSeconds must be positive, got $sp"))
    val keys = keyCols.map(col)
    val first = events.filter(steps.head._2)
      .groupBy(keys: _*).agg(min(col(tsCol)).as("t_1"))
    val chain = steps.zipWithIndex.tail.foldLeft(first) {
      case (prev, ((_, pred), i)) =>
        val tPrev = s"t_$i"
        val tThis = s"t_${i + 1}"
        // the WINDOWED variant (`maxSpanSeconds`): step k also has to
        // land within the deadline of the key's step-1 time — the
        // "converted within 7 days" product-analytics contract. t_1
        // rides every stage join for the check.
        val within = maxSpanSeconds
          .map(sp => col(tsCol) - col("t_1") <= sp)
          .getOrElse(lit(true))
        val stepTs = events.filter(pred)
          .join(prev.select((keys :+ col(tPrev)) ++
            (if (i > 1) Seq(col("t_1")) else Nil): _*), keyCols)
          .filter(col(tsCol) > col(tPrev) && within)
          .groupBy(keys: _*).agg(min(col(tsCol)).as(tThis))
        prev.join(stepTs, keyCols, "left")
    }
    chain
  }

  /** Per-step conversion table from [[funnel]] output: step index/name,
   * keys converted, integer-ppm conversion vs step 1. */
  def funnelReport(funnelTimes: DataFrame, stepNames: Seq[String]): DataFrame = {
    val counts = funnelTimes.agg(
      count(lit(1)).as("n_1"),
      (2 to stepNames.size).map(i =>
        count(col(s"t_$i")).as(s"n_$i")): _*)
    val perStep = stepNames.zipWithIndex.map { case (name, idx) =>
      val i = idx + 1
      counts.select(lit(i.toLong).as("step"), lit(name).as("step_name"),
        col(s"n_$i").as("n_converted"),
        expr(s"n_$i * 1000000 div n_1").as("conversion_ppm"))
    }
    perStep.reduce(_.unionByName(_))
  }

  /**
   * RETENTION COHORTS: bucket every key by its FIRST activity day
   * (`cohort_day`, epoch-day number = `ts div 86400` — exact integer),
   * then count distinct keys active at each age (days since cohort day)
   * — the classic triangular retention matrix. Two keyed aggregations
   * (first-day, distinct activity) + one join on the key; the matrix is
   * |cohorts| × |ages| rows, tiny at any scale.
   */
  def retentionCohorts(events: DataFrame, keyCols: Seq[String],
      tsCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val day = expr(s"`$tsCol` div 86400")
    val firstDay = events.groupBy(keys: _*)
      .agg(min(day).as("cohort_day"))
    val active = events.select(keys :+ day.as("__day"): _*).distinct()
    active.join(firstDay, keyCols)
      .groupBy(col("cohort_day"), (col("__day") - col("cohort_day")).as("age_days"))
      .agg(countDistinct(keys.head, keys.tail: _*).as("n_active"))
  }
}
