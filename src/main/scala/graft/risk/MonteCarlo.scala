package graft.risk

import java.nio.{ByteBuffer, ByteOrder}
import java.util.stream.IntStream

import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Generator,
  GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import graft.plans.PredictNonLinear

/**
 * Seeded Monte-Carlo market simulation — reference `03_var_monte_carlo.py`
 * + `simulate_market` (`/root/reference/utils/var_udf.py:57-67`).
 *
 * Semantics: per (run-date, trial_id), one draw from the multivariate
 * normal N(vol_avg, vol_cov), with a DETERMINISTIC per-trial seed so the
 * result is reproducible regardless of partitioning (the reference's own
 * test only asserts seed-determinism, `tests/tests_spark.py:133-162` —
 * exact numpy bit-parity across RNGs is impossible and not required).
 *
 * Scale design vs the reference:
 *  - The reference cross-joins the volatility row (with its 5x5 cov
 *    matrix) against a 32,000-row seed table — a cartesian shuffle of the
 *    wide matrix — then Cholesky-decomposes INSIDE numpy once per row
 *    (32k times per date).
 *  - Here the one small volatility row per date is what crosses the wire:
 *    `repartition(numPartitions, date)` hash-partitions the vol rows
 *    (reference `03_var_monte_carlo.py:82`), and the [[SampleTrials]]
 *    generator then fans each row out into its `runs` trials inside the
 *    date's partition, with the Cholesky factor computed once per date.
 *    The trials are drawn where they are scored and gathered: from the
 *    generator to the trial vectors there is no exchange.
 *  - The draws are materialized once, in the generator's output rows. A
 *    deterministic UDF in a projection would instead be re-evaluated by
 *    every consumer fused into its codegen stage (the portfolio cross
 *    join reads each trial once per ticker).
 *  - With `graft.plans.GraftExtensions` on the session, the whole chain
 *    simulate → cross join the tickers → [[Training.score]] → trial
 *    vectors is one node: the [[FuseMonteCarlo]] rule matches the tree
 *    that [[trialVectors]] and a caller composing the same steps both
 *    optimize to, and [[FusedTrialVectorsExec]] draws each date's states
 *    and scores them on primitive arrays ([[trialReturns]]), with no
 *    864k-row intermediate, cross join or aggregate. The vectors and their
 *    order are bit-identical to the unfused plan's, which still runs for
 *    any other tree (a filter on the scored rows, a persisted layer,
 *    [[collectTrialVectorsComposable]]) and on sessions without the
 *    extension; [[SampleTrials]] and [[TrialVectorAggregator]] serve it.
 */
object MonteCarlo {

  /** Lower-triangular Cholesky factor of a symmetric PSD matrix, with a
   * tiny diagonal jitter retry for semi-definite inputs (numpy's
   * multivariate_normal tolerates PSD via SVD; we stay closer to exact). */
  def cholesky(cov: Array[Array[Double]]): Array[Array[Double]] = {
    val n = cov.length
    def attempt(jitter: Double): Option[Array[Array[Double]]] = {
      val l = Array.fill(n)(new Array[Double](n))
      var i = 0
      while (i < n) {
        var j = 0
        while (j <= i) {
          var s = cov(i)(j) + (if (i == j) jitter else 0.0)
          var k = 0
          while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
          if (i == j) {
            if (s <= 0) return None
            l(i)(i) = math.sqrt(s)
          } else l(i)(j) = s / l(j)(j)
          j += 1
        }
        i += 1
      }
      Some(l)
    }
    val scale = math.max(1e-300, cov.indices.map(i => math.abs(cov(i)(i))).max)
    attempt(0.0)
      .orElse(attempt(scale * 1e-12))
      .orElse(attempt(scale * 1e-8))
      .getOrElse(throw new IllegalArgumentException("covariance not PSD"))
  }

  /** One multivariate-normal draw: mean + L * z with z ~ N(0,I) from a
   * per-seed deterministic generator (java.util.Random's specified
   * Marsaglia polar nextGaussian — stable across JVMs). */
  def sample(mean: Array[Double], chol: Array[Array[Double]], seed: Long): Array[Double] = {
    val rng = new java.util.Random(seed)
    val n = mean.length
    val z = Array.fill(n)(rng.nextGaussian())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var s = mean(i)
      var k = 0
      while (k <= i) { s += chol(i)(k) * z(k); k += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  /** Trials per block of [[trialReturns]]. */
  private[risk] val TrialBlock = 4096

  /**
   * The trial vectors of one vol row, scored on primitive arrays:
   * `out(p)(t)` = `predict_nonlinear(weights(p), sample(mean, chol, t))` for
   * `t` in `0 until runs`. Each state's non-linear terms are computed once
   * and shared by every `weights(p)`; the terms and the order of the sums
   * are [[graft.plans.PredictNonLinear.score]]'s, so each return is
   * bit-identical to the scored row's.
   *
   * `0 until runs` is split into contiguous blocks of [[TrialBlock]] trials,
   * run as a parallel stream on the common fork-join pool: a date is one
   * Spark task, and this spreads its trials over the cores the other tasks
   * leave idle. The bits do not depend on the split: trial `t` is drawn
   * from its own seed `t` and scored into `out(p)(t)` by one thread, with a
   * scratch array of its block's own, and no sum crosses trials. At
   * `runs` ≤ [[TrialBlock]] there is one block, run on the calling thread.
   */
  def trialReturns(
      mean: Array[Double],
      chol: Array[Array[Double]],
      weights: Array[Array[Double]],
      runs: Int): Array[Array[Double]] = {
    val out = Array.ofDim[Double](weights.length, runs)
    val blocks = (runs + TrialBlock - 1) / TrialBlock
    IntStream.range(0, blocks).parallel().forEach { b =>
      val terms = new Array[Double](4 * mean.length)
      val end = math.min(runs, (b + 1) * TrialBlock)
      var t = b * TrialBlock
      while (t < end) {
        PredictNonLinear.terms(sample(mean, chol, t.toLong), terms)
        var p = 0
        while (p < weights.length) {
          out(p)(t) = PredictNonLinear.scoreTerms(weights(p), terms)
          p += 1
        }
        t += 1
      }
    }
    out
  }

  /**
   * Simulate `runs` market states per volatility row.
   * Input: (date, vol_avg, vol_cov); output: (date, features, trial_id)
   * — the `monte_carlo_market` table shape (`03_var_monte_carlo.py:80-87`),
   * hash-partitioned on `date` into `numPartitions`, each vol row's
   * trials in id order. Fails on `runs < 1` here, and at run time on a null
   * or mis-shaped `vol_avg` / `vol_cov` (naming the date).
   */
  def simulateMarket(
      volatility: DataFrame,
      runs: Int,
      numPartitions: Int = 20): DataFrame = {
    require(runs >= 1, s"simulateMarket: runs must be at least 1, got $runs")
    volatility
      .select(col("date"), col("vol_avg"), col("vol_cov"))
      .repartition(numPartitions, col("date"))
      .select(col("date"), SampleTrials.column(col("date"), col("vol_avg"), col("vol_cov"), runs))
      .select(col("date"), col("features"), col("trial_id"))
  }

  /**
   * The notebook-03 step for a set of as-of vol rows `atRun`
   * (date, vol_avg, vol_cov): simulate `runs` market states per date, score
   * each against every ticker of `tickers` with that ticker's OLS `weights`
   * ([[Training.score]]), and gather one trial vector per (date, ticker) —
   * the `monte_carlo_trials` table. Each vector must hold exactly the ids
   * `0 until runs`, so a group whose last ids never arrive fails too.
   */
  def trialVectors(
      atRun: DataFrame,
      weights: DataFrame,
      tickers: DataFrame,
      runs: Int,
      numPartitions: Int): DataFrame = {
    val fanned = simulateMarket(atRun, runs, numPartitions = numPartitions)
      .crossJoin(broadcast(tickers.select(col("ticker"))))
    Training.score(fanned, weights, "ticker", "features", "return")
      .groupBy(col("date"), col("ticker"))
      .agg(TrialVectorAggregator.asColumn(col("trial_id"), col("return"), runs).as("returns"))
  }

  /**
   * Gather per-(date, ticker) simulated returns into a dense trial-indexed
   * Vector — the `monte_carlo_trials` table (`03_var_monte_carlo.py:131-153`).
   * [[TrialVectorAggregator]] puts each return at its trial id, which pins
   * the order (the reference zips two separate collect_lists — co-ordered
   * only by accident of window row identity; SURVEY §7.5). The vector's
   * length is the group's largest id + 1; [[trialVectors]], which knows
   * `runs`, also checks that no trailing id is missing.
   */
  def collectTrialVectors(simulated: DataFrame): DataFrame =
    simulated
      .groupBy(col("date"), col("ticker"))
      .agg(TrialVectorAggregator.asColumn(col("trial_id"), col("return")).as("returns"))

  /** Reference-shaped composable twin of [[collectTrialVectors]]:
   * `sort_array(collect_list(struct))` + dense-vector UDF. Semantically
   * identical, but at 32k trials × 27 tickers the interpreted struct sort
   * and the boxed Seq UDF dominate the whole pipeline (measured: the
   * aggregator path collapses a >15-minute stage to seconds). */
  def collectTrialVectorsComposable(simulated: DataFrame): DataFrame =
    simulated
      .groupBy(col("date"), col("ticker"))
      .agg(sort_array(collect_list(struct(col("trial_id"), col("return")))).as("__pairs"))
      .withColumn("returns", functions.toDenseVector(
        col("__pairs").getField("trial_id"), col("__pairs").getField("return")))
      .drop("__pairs")
}

/**
 * The `runs` market states of one volatility row, as rows
 * `(trial_id, features)` for `trial_id` in `0 until runs`, where `features`
 * is [[MonteCarlo.sample]]`(vol_avg, cholesky(vol_cov), trial_id)`.
 *
 * The Cholesky factor is computed once per input row, and each draw goes
 * from the sampler's `double[]` straight into its output row's array, with
 * no boxed `Seq` in between. A null `vol_avg` / `vol_cov`, a null element,
 * a covariance that is not `n × n` for a mean of length `n`, or one that is
 * not PSD throws an `IllegalArgumentException` naming the row's `date`.
 */
case class SampleTrials(date: Expression, volAvg: Expression, volCov: Expression, runs: Int)
  extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(date, volAvg, volCov)
  override def elementSchema: StructType = SampleTrials.schema
  override def prettyName: String = "sample_trials"

  override def checkInputDataTypes(): TypeCheckResult = (volAvg.dataType, volCov.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, c) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<array<double>>), got " +
        s"(${a.simpleString}, ${c.simpleString})")
  }

  /** The mean and Cholesky factor of the vol row `input`, after every
   * check above; the fused Monte-Carlo exec calls it too, so both plans
   * fail on a bad vol row with the same message. */
  def prepare(input: InternalRow): (Array[Double], Array[Array[Double]]) = {
    def bad(what: String): Nothing = throw new IllegalArgumentException(
      s"$prettyName: $what for date ${date.eval(input)}")
    def doubles(a: ArrayData, what: String): Array[Double] = {
      var k = 0
      while (k < a.numElements()) { if (a.isNullAt(k)) bad(s"null element in $what"); k += 1 }
      a.toDoubleArray()
    }
    val avg = volAvg.eval(input).asInstanceOf[ArrayData]
    if (avg == null) bad("null vol_avg")
    val cov = volCov.eval(input).asInstanceOf[ArrayData]
    if (cov == null) bad("null vol_cov")
    val n = avg.numElements()
    if (n == 0) bad("empty vol_avg")
    if (cov.numElements() != n)
      bad(s"vol_cov has ${cov.numElements()} rows for a vol_avg of length $n")
    val mean = doubles(avg, "vol_avg")
    val c = Array.tabulate(n) { i =>
      if (cov.isNullAt(i)) bad(s"null vol_cov row $i")
      val row = cov.getArray(i)
      if (row.numElements() != n)
        bad(s"vol_cov row $i has length ${row.numElements()} for a vol_avg of length $n")
      doubles(row, s"vol_cov row $i")
    }
    val chol =
      try MonteCarlo.cholesky(c) catch { case e: IllegalArgumentException => bad(e.getMessage) }
    (mean, chol)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val (mean, chol) = prepare(input)
    Iterator.range(0, runs).map { t =>
      new GenericInternalRow(Array[Any](t.toLong,
        UnsafeArrayData.fromPrimitiveArray(MonteCarlo.sample(mean, chol, t.toLong))))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SampleTrials =
    copy(date = newChildren(0), volAvg = newChildren(1), volCov = newChildren(2))
}

object SampleTrials {
  val schema: StructType = StructType(Seq(
    StructField("trial_id", LongType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false))))

  /** The generator as a Column of `trial_id` and `features`; `date` only
   * names the row in error messages. */
  def column(date: Column, volAvg: Column, volCov: Column, runs: Int): Column =
    ColumnBridge.column(SampleTrials(
      ColumnBridge.expression(date.cast(StringType)),
      ColumnBridge.expression(volAvg.cast("array<double>")),
      ColumnBridge.expression(volCov.cast("array<array<double>>")),
      runs))
}

/**
 * Direct-fill trial-vector aggregate: `(trial_id, return)` rows → dense
 * `Vector` with `returns[trial_id] = return`, grown on demand.
 *
 * The composable spelling (`sort_array(collect_list(struct))` + UDF)
 * buffers every row as an object, interpret-sorts 32k structs per group
 * and unboxes two 32k Seqs per group; this aggregate reads each row's id
 * and return straight from the input row and writes the return into a
 * primitive double array — no per-row objects, no sort (the index IS the
 * order), buffers merged positionally. Partial buffers are serialized as
 * raw little-endian doubles plus the id bitset's words.
 *
 * A bitset records the ids each buffer holds, so bad ids fail the query
 * instead of corrupting the vector: a null id or return, a trial id seen
 * twice in a group (within a partition or across two) and a gap in a
 * group's ids all throw `IllegalArgumentException`. With `runs` ≥ 1 the
 * group must hold exactly the ids `0 until runs`, so an id past the end and
 * missing trailing ids fail too; with `runs` = -1 the length is the largest
 * id + 1. A return of `0.0` is a value like any other.
 */
case class TrialVectorAggregator(
    trialId: Expression,
    ret: Expression,
    runs: Int = -1,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TrialVectorAggregator.Buf] {
  import TrialVectorAggregator.{Buf, duplicate, nullInput}

  override def children: Seq[Expression] = Seq(trialId, ret)
  override def nullable: Boolean = false
  override def dataType: DataType = SQLDataTypes.VectorType
  override def prettyName: String = "trial_vector"

  override def checkInputDataTypes(): TypeCheckResult =
    if (trialId.dataType == LongType && ret.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, double) arguments, got " +
        s"(${trialId.dataType.simpleString}, ${ret.dataType.simpleString})")

  override def createAggregationBuffer(): Buf =
    new Buf(0, Array.emptyDoubleArray, Array.emptyLongArray)

  override def update(buf: Buf, input: InternalRow): Buf = {
    // a bound column is read with the row's primitive getter: nothing boxed
    val id = trialId match {
      case b: BoundReference =>
        if (input.isNullAt(b.ordinal)) nullInput("trial id") else input.getLong(b.ordinal)
      case e => val v = e.eval(input); if (v == null) nullInput("trial id") else v.asInstanceOf[Long]
    }
    val r = ret match {
      case b: BoundReference =>
        if (input.isNullAt(b.ordinal)) nullInput("return") else input.getDouble(b.ordinal)
      case e => val v = e.eval(input); if (v == null) nullInput("return") else v.asInstanceOf[Double]
    }
    if (id < 0 || id >= (if (runs >= 0) runs else Int.MaxValue))
      throw new IllegalArgumentException(s"trial id $id out of range" +
        (if (runs >= 0) s" for $runs trials" else ""))
    val i = id.toInt
    if (buf.arr.length <= i) { // amortized power-of-two growth (trial ids arrive in order)
      val n = Integer.highestOneBit(math.max(i + 1, 16)) << 1
      buf.arr = java.util.Arrays.copyOf(buf.arr, n)
      buf.seen = java.util.Arrays.copyOf(buf.seen, (n + 63) >>> 6)
    }
    if ((buf.seen(i >>> 6) & (1L << i)) != 0) duplicate(i)
    buf.seen(i >>> 6) |= 1L << i
    buf.arr(i) = r
    buf.len = math.max(buf.len, i + 1)
    buf
  }

  override def merge(a: Buf, b: Buf): Buf =
    if (a.len >= b.len) { // a's arrays cover every id b holds
      val words = (b.len + 63) >>> 6
      var w = 0
      while (w < words) {
        val both = a.seen(w) & b.seen(w)
        if (both != 0) duplicate(w * 64 + java.lang.Long.numberOfTrailingZeros(both))
        var bits = b.seen(w)
        a.seen(w) |= bits
        while (bits != 0) {
          val i = w * 64 + java.lang.Long.numberOfTrailingZeros(bits)
          a.arr(i) = b.arr(i)
          bits &= bits - 1
        }
        w += 1
      }
      a
    } else merge(b, a)

  override def eval(buf: Buf): Any = {
    val n = if (runs >= 0) runs else buf.len
    var w = 0
    while (w * 64 < n) {
      val want = if (n - w * 64 >= 64) -1L else (1L << (n - w * 64)) - 1
      val missing = ~(if (w < buf.seen.length) buf.seen(w) else 0L) & want
      if (missing != 0) throw new IllegalArgumentException(
        s"trial id ${w * 64 + java.lang.Long.numberOfTrailingZeros(missing)} missing from " +
          (if (runs >= 0) s"a group of $runs trials" else s"a group with ids up to ${n - 1}"))
      w += 1
    }
    TrialVectorAggregator.dense(buf.arr, n)
  }

  /** `len`, then the returns `0 until len`, then the bitset's words. */
  override def serialize(buf: Buf): Array[Byte] = {
    val words = (buf.len + 63) >>> 6
    val bytes = ByteBuffer.allocate(4 + 8 * (buf.len + words)).order(ByteOrder.LITTLE_ENDIAN)
    bytes.putInt(buf.len)
    bytes.asDoubleBuffer().put(buf.arr, 0, buf.len)
    bytes.position(4 + 8 * buf.len)
    bytes.asLongBuffer().put(buf.seen, 0, words)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val len = in.getInt()
    val buf = new Buf(len, new Array[Double](len), new Array[Long]((len + 63) >>> 6))
    in.asDoubleBuffer().get(buf.arr)
    in.position(4 + 8 * len)
    in.asLongBuffer().get(buf.seen)
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TrialVectorAggregator =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): TrialVectorAggregator =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TrialVectorAggregator =
    copy(trialId = newChildren(0), ret = newChildren(1))
}

object TrialVectorAggregator {
  /** `arr(0 until len)` holds the returns; bit `i` of `seen` marks id `i`. */
  final class Buf(var len: Int, var arr: Array[Double], var seen: Array[Long])

  /** `arr(0 until n)` as a dense vector, in VectorUDT's sql form:
   * struct<type: 1 dense, size, indices, values>. */
  def dense(arr: Array[Double], n: Int): InternalRow = {
    val v = new GenericInternalRow(4)
    v.setByte(0, 1)
    v.setNullAt(1)
    v.setNullAt(2)
    v.update(3, UnsafeArrayData.fromPrimitiveArray(arr, Platform.DOUBLE_ARRAY_OFFSET, n, 8))
    v
  }

  /** Fails the query: trial id `i` reached one group twice. */
  def duplicate(i: Int): Nothing =
    throw new IllegalArgumentException(s"trial id $i appears twice in one group")

  /** Fails the query: a null trial id or return (`what`). */
  def nullInput(what: String): Nothing =
    throw new IllegalArgumentException(s"trial_vector: null $what")

  /** Untyped-agg column: `asColumn(trialCol, returnCol)`, the id cast to
   * bigint and the return to double; `runs` ≥ 1 fixes the vector length. */
  def asColumn(trial: Column, ret: Column, runs: Int = -1): Column =
    ColumnBridge.column(TrialVectorAggregator(
      ColumnBridge.expression(trial.cast(LongType)),
      ColumnBridge.expression(ret.cast(DoubleType)),
      runs).toAggregateExpression())
}
