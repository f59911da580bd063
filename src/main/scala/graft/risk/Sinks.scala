package graft.risk

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Clustering keys and compaction plans. The reference's only
 * physical-layout op beyond `repartition` is Delta `OPTIMIZE ZORDER BY
 * (date, ticker)` (`03_var_monte_carlo.py:162`) — pure data clustering
 * for scan locality, no semantics. The stored VaR tables get theirs from
 * `Warehouse.saveTable` (bucketed on the leading key, sorted by the
 * rest); the keys here are the multi-dimensional orders a writer can
 * range-partition and sort on, so that a filter on any one dimension
 * prunes files by parquet min/max stats.
 */
object Sinks {

  /**
   * True z-order (Morton) key: interleave the low `bits` bits of each
   * dimension round-robin, so rows sorted by the key stay clustered in
   * EVERY dimension at once — a filter on any single dimension prunes
   * ~file-count^(1/d) of the files instead of only the lead column.
   *
   * Callers normalize each dimension to a small non-negative int first
   * (pmod of a key, a date bucket, a rank); only the low `bits` bits
   * participate. Pure shift/mask arithmetic (codegen'd, engine-portable —
   * a SQL oracle reproduces it with `>> & <<`).
   */
  def zorderKey(dims: Seq[Column], bits: Int = 16): Column = {
    require(dims.nonEmpty && dims.size <= 4, s"1..4 dims, got ${dims.size}")
    require(bits * dims.size <= 60, s"bits*dims must fit a long, got $bits*${dims.size}")
    val d = dims.size
    dims.zipWithIndex.map { case (c, i) =>
      val v = pmod(c.cast("long"), lit(1L << bits))
      (0 until bits).map { b =>
        // bit b of dim i lands at interleaved position b*d + i
        (shiftrightunsigned(v, b) % 2) * lit(1L << (b * d + i))
      }.reduce(_ + _)
    }.reduce(_ + _)
  }

  /**
   * TRUE Hilbert-curve key (Skilling's transform — see
   * `plans.HilbertIndexExpr`): consecutive key values are always grid
   * NEIGHBORS, where the Morton interleave ([[zorderKey]]) jumps across
   * half the space at power-of-two boundaries — so range-partitioned
   * files cover compact d-dimensional blobs and every dimension prunes
   * a bit harder (this is the curve Delta/Iceberg OPTIMIZE actually
   * cluster by). Same normalization contract as [[zorderKey]]: the low
   * `bits` bits of each dimension participate via `pmod`.
   */
  def hilbertKey(dims: Seq[Column], bits: Int = 8): Column = {
    require(dims.nonEmpty && dims.size <= 6, s"1..6 dims, got ${dims.size}")
    require(bits * dims.size <= 62, s"bits*dims must fit a long, got $bits*${dims.size}")
    call_function("hilbert_index",
      array(dims.map(c => pmod(c.cast("long"), lit(1L << bits))): _*),
      lit(bits))
  }

  // ------------------------------------------- small-file compaction

  /**
   * Deterministic small-file COMPACTION PLAN — the OPTIMIZE/bin-packing
   * half of Delta's `OPTIMIZE` next to [[zorderKey]]'s ZORDER half.
   * Streaming ingest and per-partition writes leave thousands of
   * kilobyte parquet files whose per-file open/footer cost dominates
   * scans at scale; the fix is periodic rewrite into ~`targetBytes`
   * files.
   *
   * The plan is pure arithmetic over the file INVENTORY (one row per
   * file — metadata scale: 100 TB at 128 MB/file is under a million
   * rows, so the single global window here orders tiny metadata, never
   * data): files sort by path (keeping any path-embedded ordering —
   * dates, shards — physically adjacent), and each file's bucket is
   * `exclusive_prefix_sum(size) div targetBytes`. Consequences, all
   * exact: buckets are contiguous runs in path order; every bucket's
   * bytes land strictly within (targetBytes − maxFile, targetBytes +
   * maxFile) — the bucket boundary can shift by at most the file that
   * straddles it — except the last, which holds the remainder; a file
   * already ≥ targetBytes dominates its own bucket. The whole rule is
   * one window + one integer division — reproducible by any SQL engine,
   * so compaction plans can be audited cross-engine.
   */
  def compactionPlan(inventory: DataFrame, pathCol: String, sizeCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(pathCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    inventory
      .withColumn("__pre", coalesce(sum(col(sizeCol).cast("long")).over(w), lit(0L)))
      .withColumn("bucket", expr(s"__pre div ${targetBytes}L"))
      .drop("__pre")
  }
}
