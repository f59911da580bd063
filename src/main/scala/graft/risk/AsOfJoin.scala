package graft.risk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/**
 * AS-OF join: for each left row at time t, attach the latest right row with
 * right.ts <= t (right columns prefixed `right_`, tempo-style).
 *
 * Replaces the reference's `tempo.TSDF.asofJoin` usage
 * (`/root/reference/02_var_model.py:97-112`, `03_var_monte_carlo.py:30-42`,
 * `05_var_compliance.py:84-99`).
 *
 * Three physical strategies behind one semantic:
 *
 *  1. [[asofJoin]] — union + last-over-window (tempo's own published
 *     algorithm). One shuffle on (partitionCols). Correct at any size but
 *     an UNPARTITIONED call collapses to a single task — fine for
 *     hundreds of rows, wrong at scale.
 *
 *  2. [[asofJoinBroadcast]] — when the right side is a small dimension
 *     time-series (all three reference call sites: ~500-row volatility /
 *     VaR tables), broadcast the sorted right timestamps, binary-search a
 *     match per left row, then broadcast-hash-join the right columns back.
 *     ZERO shuffles of the (possibly 100TB) left side; scales linearly
 *     with executors.
 *
 *  3. [[asofJoinChunked]] — LARGE left × LARGE right with no (or
 *     low-cardinality) series keys, where 1 collapses to one task and 2
 *     can't broadcast: time-chunk both sides, fill within each chunk in
 *     parallel, and carry the per-chunk boundary payload over a
 *     chunk-count-sized summary (a computed carry, not a replay of raw
 *     rows) — exact for ANY gap size, parallel in #chunks.
 *
 * 1 and 3 share one core: the left/right union, the two fill windows,
 * the direction pick and the payload expansion below.
 */
object AsOfJoin {

  private val Side = "__asof_side"
  private val Payload = "__asof_payload"

  /** Union + last/first-over-window as-of join.
   *
   * @param partitionCols series keys present in BOTH sides (e.g. ticker);
   *                      empty = one global series (single-task window —
   *                      prefer [[asofJoinBroadcast]] at scale).
   * @param direction `"backward"` (default, the reference semantic):
   *                  latest right with right.ts <= t; `"forward"`:
   *                  earliest right with right.ts >= t; `"nearest"`:
   *                  whichever of the two is closer in time, ties to
   *                  backward. All three inclusive: an exact-ts right row
   *                  always matches. Forward/nearest are the tempo/pandas
   *                  `merge_asof(direction=...)` completions the VaR
   *                  reference never needed but a general time-series user
   *                  expects. `nearest` evaluates BOTH window fills — two
   *                  sorts inside the one (partitionCols) shuffle, no
   *                  extra exchange.
   */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      partitionCols: Seq[String] = Nil,
      direction: String = "backward"): DataFrame = {
    checkDirection(direction)
    val keys = partitionCols.map(col)
    matched(unioned(left, right, tsCol, partitionCols), right, tsCol, partitionCols,
      direction, micros(left.schema(tsCol).dataType),
      backwardFill(keys, tsCol), forwardFill(keys, tsCol))
  }

  /**
   * Time-chunked as-of join — the scale path for LARGE left × LARGE right
   * over a single (or few-key) global series, where [[asofJoin]]'s
   * unpartitioned window is one task and [[asofJoinBroadcast]]'s right
   * side no longer fits the driver.
   *
   * Construction (a computed carry — exact for any gap size, no look-back
   * replication):
   *
   *  1. union left/right exactly as [[asofJoin]], add `__chunk =
   *     floor((ts − lo) / width)` with `width = (hi − lo)/nChunks + 1`
   *     derived from the measured ts range of the two inputs (two
   *     narrow min/max scans) — UNIT-FREE, so integer-second,
   *     integer-micro, and Timestamp columns all spread across
   *     `nChunks` real chunks (a fixed calendar width would silently
   *     collapse a differently-scaled long ts into one chunk = one
   *     task, correct but serial);
   *  2. fill within each (keys, chunk) partition — parallel in #chunks;
   *  3. reduce each chunk to its LAST right payload (backward; FIRST for
   *     forward) — one row per (keys, chunk), a chunk-count-sized frame;
   *  4. carry that summary across chunks with a window over the summary
   *     (the only sequential step, sized in chunks, not rows), shifted
   *     one chunk so a chunk only sees earlier (later) chunks;
   *  5. broadcast the carry back; a row unfilled in its own chunk takes
   *     the carry — exactly the latest right row in any earlier chunk.
   *
   * Identical to [[asofJoin]] for right sides with unique (keys, ts)
   * (spec-pinned); with duplicate right ts the in-chunk window is
   * order-dependent in BOTH spellings, so uniqueness is the contract
   * (dedup upstream, as [[asofJoinBroadcast]] does).
   */
  def asofJoinChunked(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      partitionCols: Seq[String] = Nil,
      direction: String = "backward",
      nChunks: Int = 64): DataFrame = {
    checkDirection(direction)
    require(nChunks > 0, s"nChunks must be positive, got $nChunks")
    val us = micros(left.schema(tsCol).dataType)

    // chunk width from the MEASURED ts range (two narrow min/max scans
    // on the raw inputs — parquet-stat-prunable — never the union):
    // unit-free, so any ts scale spreads across ~nChunks chunks
    val b1 = left.agg(min(us(col(tsCol))).as("lo"),
      max(us(col(tsCol))).as("hi")).collect().head
    val b2 = right.agg(min(us(col(tsCol))).as("lo"),
      max(us(col(tsCol))).as("hi")).collect().head
    val los = Seq(b1, b2).filterNot(_.isNullAt(0)).map(_.getLong(0))
    val his = Seq(b1, b2).filterNot(_.isNullAt(1)).map(_.getLong(1))
    val lo = if (los.isEmpty) 0L else los.min
    val width =
      if (his.isEmpty) 1L
      else math.max(1L, (his.max - lo) / nChunks + 1L)
    val keyCs = partitionCols.map(col)
    val base = unioned(left, right, tsCol, partitionCols)
      .withColumn("__chunk",
        floor((us(col(tsCol)) - lit(lo)) / lit(width)))

    // per-chunk boundary summary over ALL chunks seen (left-only chunks
    // get a null right payload and inherit via the carry window): one row
    // per (keys, chunk). max/min of (micros, payload) picks the
    // last/first right row of the chunk deterministically.
    val summary = base
      .groupBy(keyCs :+ col("__chunk"): _*)
      .agg(
        max(when(col(Side) === 0,
          struct(us(col(tsCol)).as("__t"), col(Payload).as("__p"))))
          .as("__last_r"),
        min(when(col(Side) === 0,
          struct(us(col(tsCol)).as("__t"), col(Payload).as("__p"))))
          .as("__first_r"))
    // with no keys, partition the (chunk-count-sized) carry window on a
    // computed constant so the single-partition step is explicit
    val carryKeys = if (keyCs.isEmpty) Seq(pmod(col("__chunk"), lit(1))) else keyCs
    val wCB = Window.partitionBy(carryKeys: _*).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCF = Window.partitionBy(carryKeys: _*).orderBy(col("__chunk"))
      .rowsBetween(1, Window.unboundedFollowing)
    val carried = summary
      .withColumn("__carry_b",
        last(col("__last_r"), ignoreNulls = true).over(wCB).getField("__p"))
      .withColumn("__carry_f",
        first(col("__first_r"), ignoreNulls = true).over(wCF).getField("__p"))
      .select(keyCs ++ Seq(col("__chunk"), col("__carry_b"), col("__carry_f")): _*)

    val joined = base.join(broadcast(carried),
      partitionCols :+ "__chunk", "left")

    // in-chunk fills: the chunk id added to the partition keys — parallel
    // in #chunks; a row unfilled in its chunk takes the carry
    val inChunk = keyCs :+ col("__chunk")
    matched(joined, right, tsCol, partitionCols, direction, us,
      coalesce(backwardFill(inChunk, tsCol), col("__carry_b")),
      coalesce(forwardFill(inChunk, tsCol), col("__carry_f")))
      .drop("__chunk", "__carry_b", "__carry_f")
  }

  /**
   * Broadcast binary-search as-of join for a SMALL right side (fits on the
   * driver; dimension time-series). The left side is never shuffled: a
   * codegen-adjacent UDF maps each left ts to the matched right ts via
   * binary search over a broadcast sorted array, then a broadcast hash
   * join attaches the right columns. Use when left is huge, right is not.
   *
   * Emits exactly ONE row per left row even when the right side has
   * duplicate (key, ts) rows: duplicates are reduced to the greatest
   * value-tuple (deterministic struct ordering) before the join.
   */
  def asofJoinBroadcast(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      partitionCols: Seq[String] = Nil,
      rightPrefix: String = "right_",
      direction: String = "backward"): DataFrame = {
    checkDirection(direction)
    val spark = left.sparkSession
    val sep = "\u001f" // unit separator: collision-safe key join, text-safe file
    val matchTs = "__asof_match_ts"
    val keyCol = "__asof_key"

    def keyExpr(df: DataFrame) =
      if (partitionCols.isEmpty) lit("")
      else concat_ws(sep, partitionCols.map(c => col(c).cast("string")): _*)
    def tsMicros(df: DataFrame) = micros(df.schema(tsCol).dataType)(col(tsCol))

    // The right side is small by contract, but its PLAN may be expensive
    // (e.g. the full MC chain producing a daily VaR series) and it is
    // consumed twice — the timestamp collect below and the broadcast
    // value join. Materialize it once; otherwise the upstream executes
    // once per consumer.
    val rightM = right.localCheckpoint()

    val rightTs: Map[String, Array[Long]] = rightM
      .select(keyExpr(right).as(keyCol), tsMicros(rightM).as("ts"))
      .groupBy(keyCol)
      .agg(sort_array(collect_list("ts")).as("ts"))
      .collect()
      .map(row => row.getString(0) -> row.getSeq[Long](1).toArray)
      .toMap
    val bc = spark.sparkContext.broadcast(rightTs)

    val dir = direction // avoid closing over the enclosing method frame
    val lookup = udf { (key: String, ts: Long) =>
      bc.value.get(key) match {
        case Some(arr) =>
          // greatest right ts <= left ts
          def bwd: Option[Long] = {
            var lo = 0; var hi = arr.length - 1; var ans = Long.MinValue
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (arr(mid) <= ts) { ans = arr(mid); lo = mid + 1 } else hi = mid - 1
            }
            if (ans == Long.MinValue) None else Some(ans)
          }
          // smallest right ts >= left ts
          def fwd: Option[Long] = {
            var lo = 0; var hi = arr.length - 1; var ans = Long.MinValue
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (arr(mid) >= ts) { ans = arr(mid); hi = mid - 1 } else lo = mid + 1
            }
            if (ans == Long.MinValue) None else Some(ans)
          }
          dir match {
            case "backward" => bwd
            case "forward" => fwd
            case _ => (bwd, fwd) match {
              case (Some(b), Some(f)) =>
                Some(if (ts - b <= f - ts) b else f) // tie -> backward
              case (b, f) => b.orElse(f)
            }
          }
        case None => None
      }
    }

    val rightValueCols = valueCols(right, tsCol, partitionCols)
    val rightRenamed = rightM.select(
      partitionCols.map(col) ++
        Seq(tsMicros(rightM).as(matchTs), col(tsCol).as(rightPrefix + tsCol)) ++
        rightValueCols.map(c => col(c).as(rightPrefix + c)): _*)

    // Duplicate (key, ts) right rows would fan the equi-join out — every
    // left row matching that ts would multiply. The as-of contract is one
    // row per left row, so reduce duplicates deterministically first:
    // greatest value-tuple wins (struct ordering). One extra shuffle of
    // the SMALL side only; a no-op for already-unique inputs.
    val payloadCols = (rightPrefix + tsCol) +: rightValueCols.map(rightPrefix + _)
    val rightUnique = rightRenamed
      .groupBy(partitionCols.map(col) :+ col(matchTs): _*)
      .agg(max(struct(payloadCols.map(col): _*)).as("__p"))
      .select(partitionCols.map(col) ++ Seq(col(matchTs)) ++
        payloadCols.map(c => col("__p").getField(c).as(c)): _*)

    left
      .withColumn(matchTs, lookup(keyExpr(left), tsMicros(left)))
      .join(broadcast(rightUnique), partitionCols :+ matchTs, "left")
      .drop(matchTs)
  }

  private def checkDirection(direction: String): Unit =
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got $direction")

  /** Epoch micros of a ts column of type `tsType`. A timestamp->long cast
   * truncates to seconds, so go through unix_micros — but an
   * already-numeric ts (epoch micros from a range-join caller, or epoch
   * seconds) passes through untouched: casting a
   * 1.7e15-micros long to timestamp reads it as SECONDS and the ×1e6
   * round-trip overflows Long, scrambling the order. */
  private def micros(tsType: DataType): Column => Column = tsType match {
    case LongType | IntegerType | ShortType | ByteType => _.cast("long")
    case _ => c => unix_micros(c.cast("timestamp"))
  }

  private def valueCols(df: DataFrame, tsCol: String, partitionCols: Seq[String]): Seq[String] =
    df.columns.toSeq.filterNot(c => c == tsCol || partitionCols.contains(c))

  /** Left and right rows in one frame: the keys, `tsCol` and the left
   * value columns (null on right rows), plus `Side` (1 left, 0 right) and
   * `Payload`, the right row's ts and value columns as a struct (null on
   * left rows). */
  private def unioned(left: DataFrame, right: DataFrame, tsCol: String,
      partitionCols: Seq[String]): DataFrame = {
    val rightStruct = struct((tsCol +: valueCols(right, tsCol, partitionCols)).map(col): _*)
    val l = left
      .withColumn(Side, lit(1))
      .withColumn(Payload, lit(null).cast(right.select(rightStruct).schema.head.dataType))
    val r = right
      .select(
        partitionCols.map(col) ++ Seq(col(tsCol)) ++
          valueCols(left, tsCol, partitionCols)
            .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          Seq(lit(0).as(Side), rightStruct.as(Payload)): _*)
    l.unionByName(r)
  }

  // backward: right rows (side 0) sort BEFORE left at equal ts, so the
  // preceding frame sees the exact-ts match; forward mirrors — right
  // rows sort AFTER left, so the following frame sees it
  private def backwardFill(part: Seq[Column], tsCol: String): Column =
    last(col(Payload), ignoreNulls = true).over(Window
      .partitionBy(part: _*)
      .orderBy(col(tsCol), col(Side))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  private def forwardFill(part: Seq[Column], tsCol: String): Column =
    first(col(Payload), ignoreNulls = true).over(Window
      .partitionBy(part: _*)
      .orderBy(col(tsCol), lit(1) - col(Side))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing))

  /** Each left row of `unioned` with the payload its `direction` picks from
   * the two fills, expanded into `right_` columns. `nearest` takes the
   * fill closer in time (`us` gives epoch micros), a tie going backward. */
  private def matched(unioned: DataFrame, right: DataFrame, tsCol: String,
      partitionCols: Seq[String], direction: String, us: Column => Column,
      bFill: Column, fFill: Column): DataFrame = {
    val filled = (direction match {
      case "backward" => unioned.withColumn(Payload, bFill)
      case "forward" => unioned.withColumn(Payload, fFill)
      case "nearest" =>
        unioned
          .withColumn("__b", bFill)
          .withColumn("__f", fFill)
          .withColumn(Payload,
            when(col("__b").isNull, col("__f"))
              .when(col("__f").isNull, col("__b"))
              .when(us(col(tsCol)) - us(col("__b").getField(tsCol)) <=
                us(col("__f").getField(tsCol)) - us(col(tsCol)),
                col("__b"))
              .otherwise(col("__f")))
          .drop("__b", "__f")
    }).filter(col(Side) === 1)

    (tsCol +: valueCols(right, tsCol, partitionCols)).foldLeft(filled) { (df, c) =>
      df.withColumn("right_" + c, col(Payload).getField(c))
    }.drop(Side, Payload)
  }
}
