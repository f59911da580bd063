package graft.risk

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

/**
 * On-demand VaR aggregation — reference `04_var_aggregation.py`: weight
 * each instrument's 32,000-trial return vector, element-wise-sum vectors
 * by (date [, country | industry]), then extract the interpolated
 * percentile.
 *
 * Weighting, summing and the percentile are one native aggregate,
 * [[WeightedTrialRisk]]: no per-row weighted vector is built, and VaR and
 * ES come from a single sort of each group's sum.
 */
object VarAggregation {

  /** trials ⋈ portfolio (broadcast; 27 rows in the reference) —
   * `04_var_aggregation.py:13-18`. [[varByGroup]] applies the weights. */
  def weightedTrials(
      trials: DataFrame,
      portfolio: DataFrame,
      tickerCol: String = "ticker"): DataFrame =
    trials.join(broadcast(portfolio), Seq(tickerCol))

  /**
   * VaR (and ES) by group: element-wise sum of `weight · returns` per
   * group -> interpolated percentile at (100 - confidence).
   * `groupCols` = date / date+country / date+industry
   * (`04_var_aggregation.py:56-123`). Reads the `returns` and `weight`
   * columns of [[weightedTrials]]. Fails the query on a null trial vector
   * or weight, and on vectors of different lengths in one group.
   */
  def varByGroup(
      weighted: DataFrame,
      groupCols: Seq[String],
      confidence: Double = 99,
      withShortfall: Boolean = false): DataFrame = {
    val c = confidence.toInt
    val risk = WeightedTrialRisk.column(col("returns"), col("weight"), confidence)
    val measures = col("__risk.var").as(s"var_$c") +:
      (if (withShortfall) Seq(col("__risk.es").as(s"es_$c")) else Nil)
    weighted
      .groupBy(groupCols.map(col): _*)
      .agg(risk.as("__risk"))
      .select(groupCols.map(col) ++ measures: _*)
  }

  /** Risk contribution crosstab — `04_var_aggregation.py:127-131`: pivot a
   * slice column's VaR into columns and normalize each row to sum 1. */
  def riskContribution(
      varBySlice: DataFrame,
      dateCol: String,
      sliceCol: String,
      varCol: String,
      sliceValues: Seq[String]): DataFrame = {
    val pivoted = varBySlice
      .groupBy(col(dateCol))
      .pivot(sliceCol, sliceValues)
      .agg(first(col(varCol)))
    val total = sliceValues.map(col).reduce(_ + _)
    // one projection: a foldLeft of withColumn(c, c/total) would rebind
    // `total` to already-normalized columns after the first iteration
    pivoted.select(col(dateCol) +: sliceValues.map(c => (col(c) / total).as(c)): _*)
  }
}

/**
 * `struct<var, es>` of the element-wise sum of `weight · returns` over a
 * group of trial vectors (`returns` an `ml.linalg` Vector column).
 *
 * The buffer is one `double[]` per group. `update` reads the VectorUDT's
 * values array straight from the input row, dense or sparse, so no Vector
 * object is built per row. Partial buffers are serialized as raw doubles.
 * `eval` takes VaR and ES from one sort ([[VarMath.riskOf]]); an empty
 * input (a global aggregate over no rows) yields null.
 */
case class WeightedTrialRisk(
    returns: Expression,
    weight: Expression,
    confidence: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(returns, weight)
  override def nullable: Boolean = true
  override def dataType: DataType = WeightedTrialRisk.resultType
  override def prettyName: String = "weighted_trial_risk"

  override def checkInputDataTypes(): TypeCheckResult =
    if (returns.dataType == SQLDataTypes.VectorType && weight.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (vector, double) arguments, got " +
        s"(${returns.dataType.simpleString}, ${weight.dataType.simpleString})")

  /** Empty = no row seen yet; trial vectors are never empty. */
  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(sum: Array[Double], input: InternalRow): Array[Double] = {
    // VectorUDT's sql form: struct<type: 0 sparse | 1 dense, size, indices, values>
    val v = returns.eval(input).asInstanceOf[InternalRow]
    if (v == null) throw new IllegalArgumentException(s"$prettyName: null trial vector")
    val w = weight.eval(input)
    if (w == null) throw new IllegalArgumentException(s"$prettyName: null weight")
    val wd = w.asInstanceOf[Double]
    val dense = v.getByte(0) == 1
    val values = v.getArray(3)
    val n = if (dense) values.numElements() else v.getInt(1)
    if (n == 0) throw new IllegalArgumentException(s"$prettyName: empty trial vector")
    val acc = if (sum.length == 0) new Array[Double](n) else sum
    checkLength(acc.length, n)
    var k = 0
    if (dense) {
      while (k < n) { acc(k) += wd * values.getDouble(k); k += 1 }
    } else {
      val indices = v.getArray(2)
      val nnz = values.numElements()
      while (k < nnz) { acc(indices.getInt(k)) += wd * values.getDouble(k); k += 1 }
    }
    acc
  }

  override def merge(sum: Array[Double], other: Array[Double]): Array[Double] =
    if (other.length == 0) sum
    else if (sum.length == 0) other
    else {
      checkLength(sum.length, other.length)
      var i = 0
      while (i < sum.length) { sum(i) += other(i); i += 1 }
      sum
    }

  override def eval(sum: Array[Double]): Any =
    if (sum.length == 0) null
    else {
      val (v, es) = VarMath.riskOf(sum, confidence)
      InternalRow(v, es)
    }

  override def serialize(sum: Array[Double]): Array[Byte] = {
    val bytes = ByteBuffer.allocate(sum.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bytes.asDoubleBuffer().put(sum)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val sum = new Array[Double](bytes.length / 8)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(sum)
    sum
  }

  private def checkLength(group: Int, n: Int): Unit =
    if (group != n) throw new IllegalArgumentException(
      s"$prettyName: trial vector of length $n in a group of length $group")

  override def withNewMutableAggBufferOffset(offset: Int): WeightedTrialRisk =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): WeightedTrialRisk =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WeightedTrialRisk =
    copy(returns = newChildren(0), weight = newChildren(1))
}

object WeightedTrialRisk {
  val resultType: StructType = StructType(Seq(
    StructField("var", DoubleType, nullable = false),
    StructField("es", DoubleType, nullable = false)))

  /** The aggregate as a Column; `weight` is cast to double. */
  def column(returns: Column, weight: Column, confidence: Double): Column =
    ColumnBridge.column(WeightedTrialRisk(
      ColumnBridge.expression(returns),
      ColumnBridge.expression(weight.cast(DoubleType)),
      confidence).toAggregateExpression())
}
