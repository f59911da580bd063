package graft.risk

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet,
  BindReferences, Expression, GenericInternalRow, JoinedRow, Predicate, RowOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Generate, Join,
  JoinHint, LogicalPlan, Project, RepartitionByExpression}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution,
  IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.plans.PredictNonLinear

/**
 * Fuses the notebook-03 chain into one node. Both [[MonteCarlo.trialVectors]]
 * and a caller that composes the chain itself (simulate → `crossJoin(broadcast
 * (tickers))` → [[Training.score]] → [[MonteCarlo.collectTrialVectors]])
 * optimize to
 * {{{
 * Aggregate [date, ticker] (trial_vector(trial_id, return))
 * +- Project [date, ticker, trial_id, predict_nonlinear(weights, features) AS return]
 *    +- Join Inner (ticker = ticker'), broadcast weights side
 *       :- Join Cross, broadcast tickers side
 *       :  :- Project [date, features, trial_id]
 *       :  :  +- Generate sample_trials(date, vol_avg, vol_cov, runs)
 *       :  :     +- RepartitionByExpression [date], n
 *       :  +- tickers
 *       +- weights
 * }}}
 * which this rule replaces with [[FusedTrialVectors]] over the repartitioned
 * vol rows, the tickers and the weights. Any other tree (a filter on the
 * scored rows, a persisted layer, `collectTrialVectorsComposable`) is left
 * as it is and plans the aggregate.
 */
class FuseMonteCarlo extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate => fuse(agg).getOrElse(agg)
  }

  private def same(e: Expression, a: Attribute): Boolean = e match {
    case b: Attribute => b.exprId == a.exprId
    case _ => false
  }

  private def broadcastRight(hint: JoinHint): Boolean =
    hint.rightHint.exists(_.strategy.contains(BROADCAST))

  private def fuse(agg: Aggregate): Option[FusedTrialVectors] = agg match {
    case Aggregate(Seq(date: Attribute, ticker: Attribute),
        Seq(d, t,
          Alias(AggregateExpression(tv: TrialVectorAggregator, Complete, false, None, _), _)),
        Project(scored, Join(
          Join(Project(drawn, Generate(sampler: SampleTrials, _, false, _, Seq(trialId, features),
              vol @ RepartitionByExpression(Seq(key), _, Some(_), None))),
            tickers, Cross, None, crossHint),
          weightRows, Inner, Some(cond), scoreHint)), _)
        if same(d, date) && same(t, ticker) && same(key, date) &&
          broadcastRight(crossHint) && broadcastRight(scoreHint) &&
          (tv.runs == -1 || tv.runs == sampler.runs) && same(tv.trialId, trialId) &&
          drawn.forall(_.isInstanceOf[Attribute]) &&
          Seq(date, trialId, features).forall(a => drawn.exists(same(_, a))) &&
          vol.outputSet.contains(date) && tickers.outputSet.contains(ticker) &&
          cond.deterministic &&
          cond.references.subsetOf(tickers.outputSet ++ weightRows.outputSet) =>
      val passed = scored.collect { case a: Attribute => a }
      val returned = scored.collect {
        case a @ Alias(PredictNonLinear(w, f), _)
            if same(tv.ret, a.toAttribute) && same(f, features) => w
      }
      returned match {
        case Seq(w) if passed.length + 1 == scored.length &&
            Seq(date, ticker, trialId).forall(a => passed.exists(same(_, a))) &&
            w.deterministic && w.references.subsetOf(weightRows.outputSet) &&
            w.dataType.isInstanceOf[ArrayType] &&
            w.dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
          Some(FusedTrialVectors(
            agg.output, sampler, date, ticker, cond, w, vol, tickers, weightRows))
        case _ => None
      }
    case _ => None
  }
}

/**
 * simulate → cross join → score → trial vectors as one node: per vol row of
 * `volRows` (`sampler`'s input), one dense vector of `sampler.runs` returns
 * per (ticker row, weights row) pair that `condition` matches, scored with
 * `weights` (an array<double> over the weights row). `output` is the
 * replaced aggregate's: `date` (of the vol row), `ticker` (of the ticker
 * row) and the vector. Built only by [[FuseMonteCarlo]].
 */
case class FusedTrialVectors(
    output: Seq[Attribute],
    sampler: SampleTrials,
    date: Attribute,
    ticker: Attribute,
    condition: Expression,
    weights: Expression,
    volRows: LogicalPlan,
    tickerRows: LogicalPlan,
    weightRows: LogicalPlan) extends LogicalPlan {

  override def children: Seq[LogicalPlan] = Seq(volRows, tickerRows, weightRows)

  /** The vector column; `date` and `ticker` come from the children. */
  override def producedAttributes: AttributeSet =
    AttributeSet(output.filterNot(a => children.exists(_.outputSet.contains(a))))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): FusedTrialVectors =
    copy(volRows = newChildren(0), tickerRows = newChildren(1), weightRows = newChildren(2))
}

/** Plans [[FusedTrialVectors]] as [[FusedTrialVectorsExec]]. */
class PlanFusedTrialVectors extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case f: FusedTrialVectors =>
      FusedTrialVectorsExec(f.output, f.sampler, f.date, f.ticker, f.condition, f.weights,
        planLater(f.volRows), planLater(f.tickerRows), planLater(f.weightRows)) :: Nil
    case _ => Nil
  }
}

/**
 * One task per vol-row partition does the whole chain: for each vol row it
 * factors the covariance once ([[SampleTrials.prepare]], with its checks),
 * draws the `runs` states with [[MonteCarlo.sample]] and scores every pair
 * on primitive arrays ([[MonteCarlo.trialReturns]], which spreads a date's
 * blocks of trials over the cores the other tasks leave idle). The tickers
 * and the weights arrive as broadcasts, and the output keeps the vol rows'
 * partitioning, so the vol-row exchange stays the only shuffle.
 *
 * Rows come out in the order the replaced two-phase `ObjectHashAggregate`
 * emits its groups: in the order they first arrive (vol rows in input order,
 * pairs in join order) unless a partition holds enough groups to make the
 * aggregate fall back to sorting (`spark.sql.objectHashAggregate.sortBased
 * .fallbackThreshold`) or the session plans sort aggregates, and then sorted
 * by (date, ticker). Consumers that sum a date's vectors in arrival order get
 * the same bits as before.
 *
 * It fails where the replaced plan fails, with the same messages: a bad vol
 * row; a null weights array (a null return) or one too short for the
 * factors; a ticker that reaches one date twice, from a repeated ticker, a
 * repeated weights row or two vol rows of one date (trial id 0 twice in one
 * group).
 */
case class FusedTrialVectorsExec(
    output: Seq[Attribute],
    sampler: SampleTrials,
    date: Attribute,
    ticker: Attribute,
    condition: Expression,
    weights: Expression,
    volRows: SparkPlan,
    tickerRows: SparkPlan,
    weightRows: SparkPlan) extends SparkPlan {

  override def children: Seq[SparkPlan] = Seq(volRows, tickerRows, weightRows)

  override def producedAttributes: AttributeSet =
    AttributeSet(output.filterNot(a => children.exists(_.outputSet.contains(a))))

  override def requiredChildDistribution: Seq[Distribution] = Seq(UnspecifiedDistribution,
    BroadcastDistribution(IdentityBroadcastMode), BroadcastDistribution(IdentityBroadcastMode))

  override def outputPartitioning: Partitioning = volRows.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val tickers = tickerRows.executeBroadcast[Array[InternalRow]]()
    val weightsRows = weightRows.executeBroadcast[Array[InternalRow]]()
    val kernel = FusedTrialVectorsExec.Kernel(
      BindReferences.bindReference(sampler, volRows.output),
      date, ticker, condition, weights, output,
      volRows.output, tickerRows.output, weightRows.output,
      sortsAll = !conf.useObjectHashAggregation,
      fallbackAt = math.max(conf.objectAggSortBasedFallbackThreshold, 1),
      longMetric("numOutputRows"))
    volRows.execute().mapPartitions(rows => kernel(rows, tickers.value, weightsRows.value))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): FusedTrialVectorsExec =
    copy(volRows = newChildren(0), tickerRows = newChildren(1), weightRows = newChildren(2))
}

object FusedTrialVectorsExec {

  /** The per-partition work of [[FusedTrialVectorsExec]], with everything it
   * reads bound on the driver (`sampler` to the vol rows). */
  case class Kernel(
      sampler: SampleTrials,
      date: Attribute,
      ticker: Attribute,
      condition: Expression,
      weights: Expression,
      output: Seq[Attribute],
      volOut: Seq[Attribute],
      tickerOut: Seq[Attribute],
      weightOut: Seq[Attribute],
      sortsAll: Boolean,
      fallbackAt: Int,
      numOutputRows: SQLMetric) {

    def apply(
        rows: Iterator[InternalRow],
        tickers: Array[InternalRow],
        weightRows: Array[InternalRow]): Iterator[InternalRow] = {
      // the replaced plan propagates an empty broadcast side: no row is drawn
      if (tickers.isEmpty || weightRows.isEmpty) return Iterator.empty
      val runs = sampler.runs
      val matches = Predicate.create(condition, tickerOut ++ weightOut)
      val joined = new JoinedRow
      val weightsOf = BindReferences.bindReference(weights, weightOut)
      // the ticker row and weights (or null) of every matching pair, in the
      // join's order
      val (pairs, ws) = (for (t <- tickers; w <- weightRows if matches.eval(joined(t, w)))
        yield (t, weightsOf.eval(w) match {
          case a: ArrayData => a.toDoubleArray()
          case _ => null
        })).unzip
      val tickerKey = UnsafeProjection.create(Seq(ticker), tickerOut)
      val keys = pairs.map(tickerKey(_).copy())
      val vol = rows.map(_.copy()).toArray
      val dateKey = UnsafeProjection.create(Seq(date), volOut)

      // every check, in the order the replaced plan meets the rows: each vol
      // row's own checks, then its trial 0 across the pairs
      val seen = mutable.HashSet.empty[(UnsafeRow, UnsafeRow)]
      val prepared = vol.map { r =>
        val (mean, chol) = sampler.prepare(r)
        val d = dateKey(r).copy()
        for (p <- pairs.indices) {
          if (ws(p) == null) TrialVectorAggregator.nullInput("return")
          if (!seen.add((d, keys(p)))) TrialVectorAggregator.duplicate(0)
          PredictNonLinear.checkWeights(ws(p).length, mean.length)
        }
        (mean, chol)
      }

      val groups = vol.length.toLong * pairs.length
      val sorted = sortsAll || groups > fallbackAt || (groups == fallbackAt && runs > 1)
      def ascending(key: Attribute, input: Seq[Attribute]) =
        RowOrdering.create(Seq(SortOrder(key, Ascending)), input)
      val volOrder =
        if (sorted) vol.indices.sortBy(vol(_))(ascending(date, volOut)) else vol.indices
      val pairOrder =
        if (sorted) pairs.indices.sortBy(pairs(_))(ascending(ticker, tickerOut)) else pairs.indices
      val orderedWeights = pairOrder.map(ws).toArray

      val vector = output.filterNot(a => (volOut ++ tickerOut).exists(_.exprId == a.exprId))
      val project = UnsafeProjection.create(output, volOut ++ tickerOut ++ vector)
      val cell = new GenericInternalRow(1)
      val keyed = new JoinedRow
      val row = new JoinedRow(keyed, cell)
      volOrder.iterator.flatMap { i =>
        val (mean, chol) = prepared(i)
        val returns = MonteCarlo.trialReturns(mean, chol, orderedWeights, runs)
        pairOrder.indices.iterator.map { j =>
          cell.update(0, TrialVectorAggregator.dense(returns(j), runs))
          numOutputRows += 1
          keyed(vol(i), pairs(pairOrder(j)))
          project(row)
        }
      }
    }
  }
}
