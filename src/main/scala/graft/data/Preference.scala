package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Preference-data operators for RLHF-style pipelines: turning a stream of
 * pairwise human judgments into model/response rankings (Bradley-Terry),
 * and aggregating noisy multi-annotator labels into consensus labels with
 * annotator-reliability weighting.
 *
 * Everything is EXACT-integer arithmetic (micro-units / ppm) so the DuckDB
 * oracles reproduce the states bit-for-bit — the same trick as
 * [[Graph.pageRank]]: floor division is deterministic where float
 * summation order is not.
 *
 * Scale shapes:
 *  - the comparison/vote stream is only ever touched by map-side-combined
 *    aggregations (one keyed shuffle each);
 *  - the Bradley-Terry iteration runs on the PAIR-COUNT table
 *    (≤ |items|² rows) and the |items|-row rating table — corpus size
 *    never enters the loop;
 *  - consensus windows run over (item, label) count CELLS, never raw
 *    votes.
 */
object Preference {

  /** Directed win counts from a pairwise-comparison stream: one row per
   * (winner, loser) with the number of times that direction was observed.
   * Self-pairs and null items are dropped. One map-side-combined shuffle. */
  def winCounts(comparisons: DataFrame, winnerCol: String,
      loserCol: String): DataFrame =
    comparisons
      .select(col(winnerCol).as("winner"), col(loserCol).as("loser"))
      .filter(col("winner").isNotNull && col("loser").isNotNull &&
        col("winner") =!= col("loser"))
      .groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("n"))

  /**
   * Bradley-Terry strength ratings from pairwise comparisons, fit with
   * `iters` rounds of Hunter (2004)'s minorization-maximization update:
   *
   *   p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j)
   *
   * followed by a mean-1 renormalization each round, all in exact long
   * micro-units (1e6 = strength 1.0):
   *
   *   t_ij  = (n_ij · 10^12) div (p_i + p_j)   — the pair term × 1e6
   *   p'_i  = max((W_i · 10^12) div Σ_j t_ij, 1)
   *   p''_i = (p'_i · 10^6) div max(Σ p' div |items|, 1)
   *
   * The floor at 1 keeps never-winning items from hitting exact zero
   * (which would make a later (p_i + p_j) division undefined); the
   * renormalization pins the scale BT leaves free, bounding the integers.
   * Long headroom: n_ij and W_i up to ~10^6 comparisons keep every
   * product under 10^18.
   *
   * Scale: the update joins the ≤|items|² pair-count table with the
   * |items|-row rating table — comparison-stream size only enters the one
   * [[winCounts]] aggregation up front. The rating table is BROADCAST
   * into both pair-side joins (it fits by the same contract that bounds
   * the pair table) so the pair table is never shuffled; the per-pair
   * term is computed once and exploded to both endpoints, making each
   * round ONE map-side-combined aggregation. The rating table is
   * localCheckpoint'd per round (read three times per update: both
   * broadcast sides + the normalization total), the iterative-lineage
   * rule from pageRank. The normalization total rides a 1-row lazy
   * aggregate cross-joined back (broadcast), never a driver collect.
   *
   * Returns (item, rating_micro, wins, games) — rating_micro descending
   * is the ranking.
   */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String,
      loserCol: String, iters: Int = 3): DataFrame =
    bradleyTerryFromCounts(winCounts(comparisons, winnerCol, loserCol), iters)

  /** [[bradleyTerry]] starting from a (winner, loser, n) win-count table
   * — the refit entry point for stores maintained incrementally (an
   * ingest that merges per-batch counts; counts are sufficient statistics
   * for the MM update, so refit-from-store == fit-from-all-judgments). */
  def bradleyTerryFromCounts(winCountTable: DataFrame,
      iters: Int = 3): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val wins = winCountTable
      .select(col("winner"), col("loser"), col("n")).cache()
    // unordered pair table: a < b, games n = both directions summed
    val pairs = wins
      .select(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"),
        col("n"))
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("n"))
      .cache()
    try {
      // iteration-INVARIANT per-item statistics (wins W_i, games), built
      // once and localCheckpoint'd: the former per-iteration re-derive of
      // `w` from the caches cost a join + aggregation chain every round.
      val stat = wins.select(col("winner").as("item"))
        .union(wins.select(col("loser").as("item"))).distinct()
        .join(
          wins.groupBy(col("winner").as("item")).agg(sum(col("n")).as("w")),
          Seq("item"), "left")
        .join(
          pairs.select(col("a").as("item"), col("n"))
            .union(pairs.select(col("b").as("item"), col("n")))
            .groupBy(col("item")).agg(sum(col("n")).as("games")),
          Seq("item"), "left")
        .select(col("item"), coalesce(col("w"), lit(0L)).as("w"),
          col("games"))
        .localCheckpoint()
      val nItems = stat.count()
      require(nItems > 0, "bradleyTerry on an empty comparison stream")
      var r = stat.select(col("item")).withColumn("p", lit(1000000L))
      for (_ <- 1 to iters) {
        // the |items|-row rating table is BROADCAST into both pair-side
        // joins (guide §3.1: broadcast the side that fits — the rating
        // table is |items| rows by the same contract that bounds the
        // ≤|items|² pair table): the pair table, the loop's big side,
        // is never shuffled. The per-pair term t is computed ONCE and
        // exploded to both endpoints (the former union of two selects
        // over `terms` evaluated the double-join subtree twice), so
        // each iteration is one map-side-combined aggregation plus
        // broadcast hash joins — one real exchange instead of five.
        val terms = pairs
          .join(broadcast(r.select(col("item").as("a"), col("p").as("pa"))),
            Seq("a"))
          .join(broadcast(r.select(col("item").as("b"), col("p").as("pb"))),
            Seq("b"))
          .withColumn("t", expr("(n * 1000000000000L) div (pa + pb)"))
        val denom = terms
          .select(explode(array(
              struct(col("a").as("item"), col("t")),
              struct(col("b").as("item"), col("t")))).as("s"))
          .select(col("s.item").as("item"), col("s.t").as("t"))
          .groupBy(col("item")).agg(sum(col("t")).as("d"))
        // every item has >= 1 pair by construction; the null arm is a
        // belt-and-braces identity for a disconnected future caller
        val raw = stat.join(broadcast(denom), Seq("item"), "left")
          .select(col("item"),
            when(col("d").isNull, lit(1000000L))
              .otherwise(greatest(expr("(w * 1000000000000L) div d"), lit(1L)))
              .as("p0"))
        val total = raw.agg(sum(col("p0")).as("tot"))
        r = raw.crossJoin(total)
          .select(col("item"),
            expr(s"(p0 * 1000000L) div greatest(tot div ${nItems}L, 1L)")
              .as("p"))
          .localCheckpoint()
      }
      // r and stat are both checkpointed |items|-row RDDs, so the
      // returned plan is independent of the wins/pairs caches released
      // in the finally below
      r.join(stat, Seq("item"))
        .select(col("item"), col("p").as("rating_micro"),
          col("w").as("wins"), col("games"))
    } finally { wins.unpersist(); pairs.unpersist() }
  }

  /** Per-(item, label) vote counts — the cell table every consensus
   * window runs over (never raw votes). Null items/labels dropped. */
  private def cells(votes: DataFrame, itemCol: String, labelCol: String,
      weight: Column): DataFrame =
    votes
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(itemCol).as("item"), col(labelCol).as("label"))
      .agg(sum(weight).as("s"))

  /**
   * Majority-vote label per item: the label with the most votes, ties
   * broken by label ascending (deterministic). The rank window runs over
   * the (item, label) COUNT cells (≤ |labels| rows per item), not votes.
   * Returns (item, label, votes_for, votes_total).
   */
  def majorityVote(votes: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val c = cells(votes, itemCol, labelCol, lit(1L))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
    c.withColumn("rk", row_number().over(
        w.orderBy(col("s").desc, col("label"))))
      .withColumn("tot", sum(col("s")).over(w))
      .filter(col("rk") === 1)
      .select(col("item"), col("label"), col("s").as("votes_for"),
        col("tot").as("votes_total"))
  }

  /**
   * Inter-annotator agreement — Fleiss' kappa generalized to variable
   * raters per item, in exact ppm integers:
   *
   *   Po = mean_i [ Σ_c x_ic·(x_ic − 1) / (n_i·(n_i − 1)) ]   (items with n_i ≥ 2)
   *   Pe = Σ_c p_c²  with  p_c = votes(c) / votes(total)
   *   κ  = (Po − Pe) / (1 − Pe)
   *
   * spelled  po_i = Σ_c x_ic(x_ic−1)·10^6 div (n_i(n_i−1)),
   * Po = Σ po_i div m,  p_c in ppm,  Pe = Σ p_c² div 10^6,
   * κ_ppm = (Po − Pe)·10^6 div (10^6 − Pe)  — every division floored,
   * so the DuckDB oracle reproduces the panel bit-for-bit. A κ near 0
   * means the annotator pool agrees no better than chance — the
   * stop-the-line signal before training on the labels.
   *
   * Scale: one map-combined (item, label) count aggregation; everything
   * after runs on count cells. Returns one row:
   * (n_items, n_votes, po_ppm, pe_ppm, kappa_ppm).
   */
  def agreementPanel(votes: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val c = cells(votes, itemCol, labelCol, lit(1L)).cache()
    try {
      // single-vote items carry no agreement evidence: excluded from Po
      // AND from the Pe label marginals (one population for both terms)
      val itemStats = c.groupBy(col("item"))
        .agg(sum(col("s")).as("n"),
          sum(expr("s * (s - 1)")).as("agreePairs"))
        .filter(col("n") >= 2)
      val po = itemStats
        .select(expr("(agreePairs * 1000000L) div (n * (n - 1))").as("po_i"))
        .agg(count(lit(1)).as("n_items"),
          expr("sum(po_i) div count(1)").as("po_ppm"))
      val eligCells = c.join(itemStats.select(col("item")), Seq("item"),
        "left_semi")
      val labelTotals = eligCells.groupBy(col("label"))
        .agg(sum(col("s")).as("sc"))
      val pe = labelTotals
        .crossJoin(labelTotals.agg(sum(col("sc")).as("v")))
        .groupBy(col("v"))
        .agg(sum(expr("((sc * 1000000L) div v) * ((sc * 1000000L) div v)"))
          .as("pe2"))
        .select(col("v").as("n_votes"),
          expr("pe2 div 1000000L").as("pe_ppm"))
      // Pe = 1e6 exactly (every eligible vote carries ONE label) makes
      // kappa 0/0-undefined; pin it to 0 deterministically — Spark's
      // non-ANSI div would ship a silent null while DuckDB's // errors,
      // so the guard also keeps the two engines aligned
      po.crossJoin(pe)
        .select(col("n_items"), col("n_votes"), col("po_ppm"), col("pe_ppm"),
          when(col("pe_ppm") >= 1000000L, lit(0L))
            .otherwise(
              expr("((po_ppm - pe_ppm) * 1000000L) div (1000000L - pe_ppm)"))
            .as("kappa_ppm"))
    } finally { c.unpersist() }
  }

  /**
   * Order-bias audit for pairwise preference data: per unordered item
   * pair, how often the SECOND-presented side won. A stream where
   * `second_win_ppm` sits far from 500000 across pairs is position-
   * biased (lazy raters click the last thing they read) — the standard
   * pre-flight before fitting [[bradleyTerry]] on human judgments.
   * One map-combined aggregation over the comparison stream.
   * Returns (a, b, n, second_wins, second_win_ppm) with a < b.
   */
  def orderBias(comparisons: DataFrame, firstCol: String,
      secondCol: String, winnerCol: String): DataFrame =
    comparisons
      .filter(col(firstCol).isNotNull && col(secondCol).isNotNull &&
        col(firstCol) =!= col(secondCol) &&
        (col(winnerCol) === col(firstCol) ||
          col(winnerCol) === col(secondCol)))
      .select(least(col(firstCol), col(secondCol)).as("a"),
        greatest(col(firstCol), col(secondCol)).as("b"),
        when(col(winnerCol) === col(secondCol), 1L).otherwise(0L)
          .as("sw"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("sw")).as("second_wins"))
      .select(col("a"), col("b"), col("n"), col("second_wins"),
        expr("(second_wins * 1000000L) div n").as("second_win_ppm"))

  /**
   * Reliability-weighted consensus (one Dawid-Skene-style reweighting
   * round, kept exact-integer):
   *
   *  1. round-1 majority label per item ([[majorityVote]]);
   *  2. annotator reliability = ppm of their votes agreeing with their
   *     item's round-1 majority: `rel = (agree · 10^6) div total`;
   *  3. re-vote with each vote weighted by its annotator's reliability;
   *     final label = argmax weight sum (ties by label asc), confidence =
   *     ppm share of the item's total vote weight.
   *
   * An annotator who mostly disagrees with majorities is down-weighted in
   * the second round — the standard crowd-labeling cleanup. Returns one
   * row per item: (item, majority_label, final_label, conf_ppm,
   * votes_total).
   *
   * Scale: two vote-stream aggregations (cells + per-annotator agreement,
   * both map-side combined) and one vote-stream join against the |items|-
   * row majority table; every window runs over weight CELLS.
   */
  def weightedConsensus(votes: DataFrame, itemCol: String,
      annotatorCol: String, labelCol: String): DataFrame = {
    val v = votes
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull &&
        col(annotatorCol).isNotNull)
      .select(col(itemCol).as("item"), col(annotatorCol).as("annotator"),
        col(labelCol).as("label"))
    val maj = majorityVote(v, "item", "label")
      .select(col("item"), col("label").as("majority_label"))
    val rel = v.join(maj, Seq("item"))
      .groupBy(col("annotator"))
      .agg(sum(when(col("label") === col("majority_label"), 1L)
          .otherwise(0L)).as("agree"),
        count(lit(1)).as("total"))
      .select(col("annotator"),
        expr("(agree * 1000000L) div total").as("rel_ppm"))
    val weighted = cells(v.join(rel, Seq("annotator")), "item", "label",
      col("rel_ppm"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
    weighted
      .withColumn("rk", row_number().over(
        w.orderBy(col("s").desc, col("label"))))
      .withColumn("wtot", sum(col("s")).over(w))
      .filter(col("rk") === 1)
      .select(col("item"), col("label").as("final_label"),
        expr("(s * 1000000L) div greatest(wtot, 1L)").as("conf_ppm"))
      .join(maj, Seq("item"))
      .join(v.groupBy(col("item")).agg(count(lit(1)).as("votes_total")),
        Seq("item"))
      .select(col("item"), col("majority_label"), col("final_label"),
        col("conf_ppm"), col("votes_total"))
  }
}
