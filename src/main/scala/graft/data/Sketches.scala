package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed sketches for 100 TB-scale approximate aggregation.
 *
 * [[hllDistinct]] is a HyperLogLog distinct-count whose ENTIRE state is
 * engine-portable: the value hash is the MD5-prefix [[TextFunctions.hash60]]
 * and the register state is reduced to one exact integer (a scaled sum of
 * dyadic rationals), so a DuckDB/Trino oracle reproduces the sketch — not
 * just the estimate — bit for bit. Spark's own `approx_count_distinct` is
 * the production choice (denser registers, HLL++ bias correction) but its
 * state is implementation-defined; this one is for verifiable pipelines.
 *
 * Shape: two partial-aggregating shuffles, both map-side combined —
 * (keys, bucket) → max(rho), then (keys) → sum. Fixed 2^p registers per
 * group regardless of input size; no collect, no UDF, all codegen.
 */
object Sketches {

  /** alpha_m constant of Flajolet et al. 2007 for m ≥ 128. */
  private def alpha(m: Int): Double = 0.7213 / (1.0 + 1.079 / m)

  /** Register scale exponent: contributions are 2^(scale − rho). scale =
   * 61−p is the unique choice that (a) keeps every exponent non-negative
   * (rho ≤ q+1 = 61−p) and (b) bounds the worst-case sum by m·2^(61−p) =
   * 2^61 < Long.Max for ALL p in [4,14] — a fixed exponent would overflow
   * at high p and go negative at low p. */
  def stateScale(p: Int): Int = 61 - p

  /** Raw-estimate numerator alpha_m · m² · 2^scale, exposed so a SQL
   * oracle can inline the IDENTICAL double (operation order matters: a
   * different association could differ by 1 ulp and shift the rounded
   * estimate). */
  def rawConstant(p: Int): Double = {
    val m = 1 << p
    alpha(m) * m.toDouble * m.toDouble * math.pow(2.0, stateScale(p))
  }

  /**
   * Per-group HyperLogLog distinct estimate of `value`.
   *
   * @param p precision bits (m = 2^p registers); 4 ≤ p ≤ 14. Standard
   *          error ≈ 1.04/sqrt(m) — p=8 ⇒ ~6.5%.
   * Output per group: `hll_state` (exact long: Σ 2^(scale−rho_j), empty
   * registers contributing 2^scale with scale = [[stateScale]](p) — the
   * integer-exact harmonic-sum numerator; fits a Long for every allowed
   * p), `n_buckets` (registers hit), and `approx_distinct`
   * (the corrected estimate, rounded to 2dp so a 1-ulp libm difference
   * cross-engine cannot flip the hash compare).
   */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], value: Column,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 14, s"precision p must be in [4,14], got $p")
    val m = 1 << p
    val q = 60 - p // low bits of the 60-bit portable hash feed rho
    // nulls are ignored (COUNT(DISTINCT) / approx_count_distinct
    // semantics) — hashing them would form a phantom register and add ~1
    val withH = df.filter(value.isNotNull)
      .withColumn("__graft_hll_h", TextFunctions.hash60(value.cast("string")))
    val bucket = expr(s"__graft_hll_h div ${1L << q}L")
    val w = expr(s"__graft_hll_h % ${1L << q}L")
    // rho = position of the first 1-bit of w in q bits (1-based); q+1 if w=0.
    // bits(w) = length(bin(w)) = floor(log2 w)+1, integer-exact both engines.
    val rho = when(w > 0, lit(q + 1) - length(bin(w))).otherwise(lit(q + 1))

    val sc = stateScale(p)
    val perBucket = withH
      .groupBy((groupCols.map(col) :+ bucket.as("__graft_hll_b")): _*)
      .agg(max(rho).as("__graft_hll_rho"))
    perBucket
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(expr(s"shiftleft(1L, cast($sc - __graft_hll_rho as int))")).as("__graft_hll_s"),
        count(lit(1)).cast("long").as("n_buckets"))
      .select(groupCols.map(col) ++ Seq(
        // empty registers: rho=0 ⇒ each adds 2^scale to the harmonic sum
        (col("__graft_hll_s") + (lit(m.toLong) - col("n_buckets")) * lit(1L << sc))
          .as("hll_state"),
        col("n_buckets")): _*)
      .withColumn("approx_distinct", round(hllEstimate(col("hll_state"),
        col("n_buckets"), m), 2))
  }

  /**
   * Per-group MERGEABLE HLL sketch — the m register maxima as an
   * `array<int>`. [[hllDistinct]] pre-sums the harmonic numerator (one
   * long, cheapest to ship) but pre-summing destroys mergeability;
   * register arrays union by element-wise max — associative,
   * commutative, IDEMPOTENT — which is what makes per-shard / per-day
   * sketches maintainable under continuous adds: `union(parts)` is
   * BIT-IDENTICAL to the sketch of the whole (q123 pins exactly that),
   * re-unioning a part is a no-op, and the persisted sketch is m ints
   * per group regardless of cardinality. Same portable MD5 hash / rho
   * spelling as [[hllDistinct]], so the registers themselves are
   * oracle-verifiable, not just the estimates.
   */
  def hllSketch(df: DataFrame, groupCols: Seq[String], value: Column,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 14, s"precision p must be in [4,14], got $p")
    val m = 1 << p
    val q = 60 - p
    val withH = df.filter(value.isNotNull)
      .withColumn("__graft_hll_h", TextFunctions.hash60(value.cast("string")))
    val bucket = expr(s"__graft_hll_h div ${1L << q}L")
    val w = expr(s"__graft_hll_h % ${1L << q}L")
    val rho = when(w > 0, lit(q + 1) - length(bin(w))).otherwise(lit(q + 1))
    withH
      .groupBy((groupCols.map(col) :+ bucket.as("__graft_hll_b")): _*)
      .agg(max(rho).as("__graft_hll_rho"))
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(
        col("__graft_hll_b").cast("int").as("b"),
        col("__graft_hll_rho").cast("int").as("r")))).as("__graft_hll_mp"))
      .select(groupCols.map(col) :+
        transform(sequence(lit(0), lit(m - 1)),
          i => coalesce(element_at(col("__graft_hll_mp"), i), lit(0)))
          .as("registers"): _*)
  }

  /** Union register sketches per group: element-wise max. Spelled as
   * posexplode → (group, register) max → array rebuild, so the shuffle
   * key space is `groups × m` ints (combines map-side) — never the
   * underlying values. */
  def hllUnion(df: DataFrame, groupCols: Seq[String],
      registersCol: Column, p: Int = 8): DataFrame = {
    val m = 1 << p
    df.select(groupCols.map(col) :+
        posexplode(registersCol).as(Seq("__reg", "__rho")): _*)
      .groupBy((groupCols.map(col) :+ col("__reg")): _*)
      .agg(max(col("__rho")).as("__rho"))
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("__reg"), col("__rho"))))
        .as("__graft_hll_mp"))
      .select(groupCols.map(col) :+
        transform(sequence(lit(0), lit(m - 1)),
          i => coalesce(element_at(col("__graft_hll_mp"), i), lit(0)))
          .as("registers"): _*)
  }

  /** The [[hllDistinct]]-compatible integer state of a register array
   * (Σ 2^(scale − rho), empty registers at rho 0 contribute 2^scale) —
   * the bridge from the mergeable form back to the estimate. */
  def hllStateOf(registers: Column, p: Int): Column =
    aggregate(registers, lit(0L), (acc, r) =>
      acc + call_function("shiftleft", lit(1L),
        (lit(stateScale(p)) - r).cast("int")))

  /** Corrected estimate from a register array (same formula path as
   * [[hllDistinct]], rounded to 2dp for cross-engine hash stability). */
  def hllEstimateFromRegisters(registers: Column, p: Int): Column =
    round(hllEstimate(hllStateOf(registers, p),
      size(filter(registers, r => r > 0)).cast("long"), 1 << p), 2)

  /** Corrected HLL estimate from the integer state: raw harmonic-mean
   * estimate, switched to linear counting (m·ln(m/V)) in the small range
   * per Flajolet et al. §4. */
  private def hllEstimate(state: Column, nBuckets: Column, m: Int): Column = {
    val raw = lit(rawConstant(java.lang.Integer.numberOfTrailingZeros(m))) /
      state.cast("double")
    val empty = lit(m.toDouble) - nBuckets.cast("double")
    when(raw <= lit(2.5 * m) && empty > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / empty))
      .otherwise(raw)
  }

  /**
   * Count-min sketch counters over `key`: `depth` independent hash rows ×
   * `width` slots, one partial-aggregated shuffle, fixed depth×width
   * state no matter the key cardinality. Hashes are salted MD5 prefixes,
   * so — like [[hllDistinct]] — the sketch itself is engine-portable and
   * oracle-verifiable, not just its estimates.
   */
  def cmsCounters(df: DataFrame, key: Column, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"need depth>=1, width>=2, got $depth×$width")
    val rows = (0 until depth).map { i =>
      struct(lit(i).as("row"),
        pmod(TextFunctions.hash60(concat(key.cast("string"), lit(s"cms$i"))),
          lit(width)).as("slot"))
    }
    df.select(explode(array(rows: _*)).as("rs"))
      .groupBy(col("rs.row").as("row"), col("rs.slot").as("slot"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates from [[cmsCounters]]: for each probe key,
   * the MINIMUM counter across its `depth` slots (the count-min bound:
   * estimate ≥ true count, error from collisions only). Probes are tiny —
   * the counter table broadcasts. */
  def cmsEstimate(counters: DataFrame, probes: DataFrame, key: Column,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val slotted = (0 until depth).foldLeft(probes) { (acc, i) =>
      acc.withColumn(s"__slot$i",
        pmod(TextFunctions.hash60(concat(key.cast("string"), lit(s"cms$i"))),
          lit(width)))
    }
    val joined = (0 until depth).foldLeft(slotted) { (acc, i) =>
      acc.join(broadcast(counters
          .select(col("row"), col("slot").as(s"__slot$i"), col("cnt").as(s"__cnt$i")))
          .filter(col("row") === i).drop("row"),
        Seq(s"__slot$i"), "left")
    }
    val est = least((0 until depth).map(i => coalesce(col(s"__cnt$i"), lit(0L))): _*)
    joined.withColumn("cms_est", est)
      .drop((0 until depth).flatMap(i => Seq(s"__slot$i", s"__cnt$i")): _*)
  }

  /**
   * Fixed-bin histogram of `value` per group over [lo, hi): one
   * partial-aggregated shuffle, fixed nBins-row state per group — the
   * quantile/distribution primitive that replaces a full sort at 100 TB.
   * Values below `lo` clamp to bin 0, at/above `hi` to bin nBins-1, so
   * mass is never dropped. Bin ids are integer-exact cross-engine (one
   * double multiply+floor, same IEEE result everywhere).
   */
  def fixedHistogram(df: DataFrame, groupCols: Seq[String], value: Column,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, s"need nBins>0 and hi>lo, got $nBins, [$lo,$hi)")
    val raw = floor((value.cast("double") - lit(lo)) * lit(nBins / (hi - lo)))
    val bin = least(greatest(raw, lit(0.0)), lit((nBins - 1).toDouble)).cast("long")
    df.groupBy((groupCols.map(col) :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("bin_n"))
  }

  /**
   * Histogram-ECDF score NORMALIZATION — map a raw score column to its
   * empirical-CDF rank in exact integer ppm, the calibration step
   * before COMBINING heterogeneous quality signals (LM logscore, probe
   * score, compression ratio live on incomparable scales; their ECDFs
   * all live on [0, 1e6]). Rank-window-free by design: a
   * `percent_rank()` over an unpartitioned window single-threads the
   * corpus, while this is one [[fixedHistogram]] aggregation (nBins
   * cells), a cumulative sum over the TINY bin table, and a broadcast
   * join back — resolution is 1/nBins of the range, the honest trade at
   * 100 TB. `ecdf_ppm` = fraction of rows in bins ≤ the row's bin
   * (`cum·1e6 div total`), so ties in a bin share a rank and the top
   * bin maps to exactly 1e6.
   */
  def ecdfNormalize(df: DataFrame, value: Column, lo: Double, hi: Double,
      nBins: Int): DataFrame = {
    val raw = floor((value.cast("double") - lit(lo)) * lit(nBins / (hi - lo)))
    val bin = least(greatest(raw, lit(0.0)), lit((nBins - 1).toDouble))
      .cast("long")
    // the bin-count table is ≤ nBins rows — BOUNDED collect (the
    // broadcast-literal boundary, like codebooks/centroids), so the
    // apply is a pure MAP over a literal lookup array: no join, and
    // chained normalizations (the ensemble shape) don't multiply the
    // input lineage through self-join fan-out
    val counts = fixedHistogram(df, Seq.empty, value, lo, hi, nBins)
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val total = math.max(1L, counts.valuesIterator.sum)
    val ppm = new Array[Long](nBins)
    var cumN = 0L
    var i = 0
    while (i < nBins) {
      cumN += counts.getOrElse(i, 0L)
      ppm(i) = cumN * 1000000L / total
      i += 1
    }
    df.withColumn("ecdf_ppm",
      element_at(array(ppm.toIndexedSeq.map(lit): _*), bin.cast("int") + 1))
  }

  /**
   * Per-GROUP [[ecdfNormalize]] — per-domain score CALIBRATION: each
   * group's raw score maps to its empirical-CDF rank WITHIN THE GROUP
   * (exact integer ppm), so "top decile of its own source" means the
   * same thing for a 10⁹-doc domain and a 10⁴-doc one — the fairness
   * step before blending per-source scores into one keep decision.
   *
   * Unlike the global form (bounded literal lookup), the bin table here
   * is |groups|·nBins rows, so it stays DISTRIBUTED: per-(group, bin)
   * counts (one map-combinable agg), per-group cumulative sums (a
   * window over ≤ nBins cells per group), then one equi-join back on
   * (group, bin) — left to the planner: AQE broadcasts the table while
   * it is small and falls back to a shuffle join at extreme group
   * cardinality. Same floor-division ppm arithmetic as the global form
   * — bit-identical cross-engine.
   */
  def ecdfNormalizeByGroup(df: DataFrame, groupCols: Seq[String],
      value: Column, lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi]")
    val keys = groupCols.map(col)
    val raw = floor((value.cast("double") - lit(lo)) * lit(nBins / (hi - lo)))
    val bin = least(greatest(raw, lit(0.0)), lit((nBins - 1).toDouble))
      .cast("long")
    val counts = df.select(keys :+ bin.as("__bin"): _*)
      .groupBy(keys :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__c"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("__bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    val table = counts
      .withColumn("__cum", sum(col("__c")).over(wOrd))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .select(keys ++ Seq(col("__bin"),
        expr("__cum * 1000000 div __n").as("ecdf_ppm")): _*)
    df.withColumn("__bin", bin)
      .join(table, groupCols :+ "__bin")
      .drop("__bin")
  }

  /**
   * Quantile estimated from a [[fixedHistogram]] result by linear
   * interpolation inside the covering bin (one more tiny shuffle on the
   * group key). Error ≤ one bin width. `p` in (0,1).
   */
  def histogramQuantile(hist: DataFrame, groupCols: Seq[String],
      lo: Double, hi: Double, nBins: Int, p: Double): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    val width = (hi - lo) / nBins
    val agg = hist.groupBy(groupCols.map(col): _*)
      .agg(collect_list(struct(col("bin"), col("bin_n"))).as("bins"),
        sum(col("bin_n")).as("n_total"))
      .withColumn("bins", sort_array(col("bins")))
    // walk the sorted (bin, count) list: find the bin where the running
    // count crosses p*n, interpolate position within it
    agg.select(groupCols.map(col) ++ Seq(
      col("n_total"),
      aggregate(col("bins"),
        struct(lit(0L).as("cum"), lit(Double.NaN).as("q")),
        (acc, b) => {
          val target = col("n_total").cast("double") * lit(p)
          val cum2 = acc.getField("cum") + b.getField("bin_n")
          val frac = (target - acc.getField("cum").cast("double")) /
            b.getField("bin_n").cast("double")
          struct(cum2.as("cum"),
            when(isnan(acc.getField("q")) && cum2.cast("double") >= target,
              lit(lo) + (b.getField("bin").cast("double") + frac) * lit(width))
              .otherwise(acc.getField("q")).as("q"))
        },
        acc => acc.getField("q")).as("q_approx")): _*)
  }

  // ------------------------- HDR log-histogram (relative-error quantiles)

  /**
   * Bucket index of a non-negative integer `value` in a base-2
   * LOG-HISTOGRAM layout with `2^subBits` sub-buckets per octave — the
   * HdrHistogram/Prometheus-native-histogram bucketing, spelled in pure
   * integer ops so ANY engine reproduces it bit-for-bit (`bin()` string
   * length for the exponent, shift + mask for the sub-bucket; no
   * floating-point `log`, whose rounding at exact powers of two differs
   * across engines).
   *
   * Unlike [[fixedHistogram]] this needs NO [lo, hi) range up front —
   * the natural fit for unbounded positive domains (bytes, latencies,
   * token counts, price cents) where a fixed range either truncates the
   * tail or wastes all its resolution on it. Guarantees:
   *
   *  - values `< 2^(subBits+1)` are EXACT (bucket == value);
   *  - above that, bucket width is `2^(e-subBits)` for values with bit
   *    length `e+1`, i.e. relative error ≤ `2^-subBits` — every decade
   *    of the domain gets the same relative resolution;
   *  - total bucket count is bounded by `(64-subBits)·2^subBits +
   *    2^(subBits+1)` (~1.9k at subBits=5) REGARDLESS of data size or
   *    range — the mergeable fixed-state property that makes the
   *    histogram a sketch.
   *
   * Negative values clamp to bucket 0 (the contract is non-negative
   * measures; callers with signed domains shift first).
   */
  def logBucket(value: Column, subBits: Int = 5): Column = {
    require(subBits >= 1 && subBits <= 16, s"subBits in [1,16], got $subBits")
    // native codegen expression (one numberOfLeadingZeros intrinsic per
    // row); bit-identical to [[logBucketComposable]], the engine-portable
    // spelling SQL oracles mirror — equality pinned in LogHistSpec
    call_function("log_bucket", value.cast("long"), lit(subBits))
  }

  /** Engine-portable spelling of [[logBucket]]: the exponent read off
   * `length(bin(v)) − 1` (no leading zeros in either Spark or DuckDB
   * `bin()`), sub-bucket by shift + mask — built-ins only, so any SQL
   * engine reproduces the bucket without the graft extension. Costs a
   * binary-string allocation per row; the native form is the default. */
  def logBucketComposable(value: Column, subBits: Int = 5): Column = {
    require(subBits >= 1 && subBits <= 16, s"subBits in [1,16], got $subBits")
    val v = greatest(value.cast("long"), lit(0L))
    val e = (length(bin(v)) - lit(1)).cast("long")
    val sub = lit(1L << subBits)
    when(v < sub * 2L, v)
      .otherwise((e - subBits) * sub +
        call_function("shiftright", v, (e - lit(subBits)).cast("int")))
  }

  /** Inverse of [[logBucket]]: the smallest value mapping to `bucket`
   * (the bucket's inclusive lower bound), again pure integer. Quantiles
   * answered from bucket floors are ≤ the true quantile by at most one
   * relative bucket width. */
  def logBucketFloor(bucket: Column, subBits: Int = 5): Column = {
    val sub = lit(1L << subBits)
    val m = (bucket / sub).cast("long") - 1L // = e − subBits for the log range
    when(bucket < sub * 2L, bucket)
      .otherwise(call_function("shiftleft",
        (bucket - m * sub).cast("long"), m.cast("int")))
  }

  /**
   * Per-group log-histogram: one map-combinable aggregation to a
   * BOUNDED (`|groups| · ~1.9k` at subBits=5) bucket table. The state is
   * plain `(bucket, count)` rows, so histograms merge by summing counts
   * — the property multi-snapshot monitors lean on — and the whole
   * sketch is oracle-reproducible in any SQL engine.
   */
  def logHistogram(df: DataFrame, groupCols: Seq[String], value: Column,
      subBits: Int = 5): DataFrame =
    df.groupBy((groupCols.map(col) :+ logBucket(value, subBits).as("bin")): _*)
      .agg(count(lit(1)).as("bin_n"))

  /**
   * Quantiles from a [[logHistogram]] — `psPpm` are quantile ranks in
   * integer ppm (500000 = median). Exact integer rank semantics: the
   * answer for rank p is the FLOOR of the first bucket whose cumulative
   * count reaches `ceil(p·n / 1e6)`, so the result is a real data-domain
   * lower bound within `2^-subBits` relative error of the true order
   * statistic. All arithmetic stays in longs (safe to n ≤ 9.2e12 rows
   * per group); the windows run over the tiny bucket table, never the
   * data.
   */
  def logHistogramQuantiles(hist: DataFrame, groupCols: Seq[String],
      psPpm: Seq[Long], subBits: Int = 5): DataFrame = {
    require(psPpm.nonEmpty && psPpm.forall(p => p > 0 && p <= 1000000L),
      s"quantile ranks must be in (0, 1e6] ppm, got $psPpm")
    val keys = groupCols.map(col)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    hist
      .withColumn("__cum", sum(col("bin_n")).over(wOrd))
      .withColumn("__n", sum(col("bin_n")).over(wAll))
      .withColumn("p_ppm", explode(array(psPpm.map(lit): _*)))
      .where(col("__cum") * 1000000L >= col("p_ppm") * col("__n"))
      .groupBy(keys :+ col("p_ppm"): _*)
      .agg(min(col("bin")).as("__bin"))
      .select(keys ++ Seq(col("p_ppm"),
        logBucketFloor(col("__bin"), subBits).as("q")): _*)
  }

  // --------------------------------------- Bloom filter (portable bitset)

  /** The `kHashes` MD5-derived bit positions of one value in an
   * `mBits`-bit Bloom filter — independent salted [[TextFunctions.hash60]]
   * draws mod m, so any engine with `md5()` reproduces the filter
   * bit-for-bit. */
  private def bloomPositions(value: Column, mBits: Int, kHashes: Int): Seq[Column] =
    (0 until kHashes).map(i =>
      pmod(TextFunctions.hash60(concat(lit(s"bloom:$i:"), value)),
        lit(mBits.toLong)))

  /**
   * Engine-portable BLOOM bitset over `value`: each element sets
   * `kHashes` positions in an `mBits`-bit filter stored as 32-BIT words
   * (`word = bit_or(1 << (pos mod 32))` — word values stay < 2³¹, so a
   * BIGINT-only engine reproduces them with no shift-overflow edge; a
   * 64-bit spelling would need `1 << 63`, which signed-overflows
   * differently across engines). Output is the SPARSE non-zero word
   * table `(word_idx, word)`; two sketches union by `bit_or` per
   * `word_idx` — add-only mergeable, same contract as the HLL
   * registers. Shape: one map-combinable aggregation over k·N position
   * rows; filter size is fixed (`mBits/32` words max) regardless of N.
   */
  def bloomSketch(df: DataFrame, value: Column, mBits: Int = 8192,
      kHashes: Int = 4): DataFrame = {
    require(mBits > 0 && mBits % 32 == 0,
      s"mBits must be a positive multiple of 32, got $mBits")
    require(kHashes >= 1, s"kHashes must be >= 1, got $kHashes")
    df.select(explode(array(bloomPositions(value, mBits, kHashes): _*)).as("pos"))
      .select(expr("pos div 32").as("word_idx"),
        call_function("shiftleft", lit(1L),
          pmod(col("pos"), lit(32L)).cast("int")).as("mask"))
      .groupBy(col("word_idx"))
      .agg(call_function("bit_or", col("mask")).as("word"))
  }

  /** Densify a sparse [[bloomSketch]] into ONE row `(words
   * array<long>)` of length `mBits/32` — the broadcastable form a scan
   * filter probes (8 KB at mBits = 2¹⁶; fixed size at any corpus). */
  def bloomDense(sketch: DataFrame, mBits: Int): DataFrame =
    sketch
      .agg(map_from_entries(collect_list(
        struct(col("word_idx"), col("word")))).as("m"))
      .select(transform(sequence(lit(0L), lit(mBits / 32L - 1L)),
        i => coalesce(element_at(col("m"), i), lit(0L))).as("words"))

  /** Membership probe against a DENSE word array: true iff all `kHashes`
   * bits are set. No false negatives ever; false-positive rate ≈
   * `(1 − e^(−kN/m))^k`. */
  def bloomMightContain(words: Column, value: Column, mBits: Int,
      kHashes: Int): Column =
    bloomPositions(value, mBits, kHashes).map { pos =>
      val word = element_at(words, (shiftright(pos, 5) + 1L).cast("int"))
      val mask = call_function("shiftleft", lit(1L),
        pmod(pos, lit(32L)).cast("int"))
      word.bitwiseAND(mask) =!= 0L
    }.reduce(_ && _)

  // --------------------------------- heavy hitters (Misra-Gries summary)

  /**
   * Mergeable MISRA-GRIES summary over string keys: at most `c` (key,
   * residual) counters. The reduce step is the classic stream update
   * (hit → +1; miss with room → insert; miss when full → decrement all,
   * drop zeros); the merge step sums two summaries and subtracts the
   * (c+1)-th largest residual (Agarwal et al., "Mergeable Summaries",
   * PODS 2012) — so the summary survives arbitrary partitioning/merge
   * trees with total error ≤ N/(c+1): **every key with true frequency
   * > N/(c+1) is guaranteed present** in the final map. Residuals (and
   * hence the map) are order-dependent; [[heavyHitters]] makes the final
   * answer deterministic with an exact recount.
   */
  class MisraGries(c: Int) extends org.apache.spark.sql.expressions.Aggregator[
      String, Map[String, Long], Map[String, Long]] {
    type Buf = Map[String, Long]
    override def zero: Buf = Map.empty
    override def reduce(b: Buf, k: String): Buf = {
      if (k == null) b
      else b.get(k) match {
        case Some(v) => b.updated(k, v + 1)
        case None if b.size < c => b.updated(k, 1L)
        case None =>
          // decrement-all: amortized O(1) per input (each decrement
          // cancels one prior increment), worst-case O(c) per miss
          b.iterator.collect {
            case (key, v) if v > 1L => key -> (v - 1L)
          }.toMap
      }
    }
    override def merge(a: Buf, b: Buf): Buf = {
      var m = a
      b.foreach { case (k, v) => m = m.updated(k, m.getOrElse(k, 0L) + v) }
      if (m.size > c) {
        // subtract the (c+1)-th largest residual; everything ≤ it drops,
        // leaving ≤ c survivors (deterministic given the merged map)
        val cut = m.values.toArray.sorted(Ordering[Long].reverse).apply(c)
        m.iterator.collect {
          case (k, v) if v > cut => k -> (v - cut)
        }.toMap
      } else m
    }
    override def finish(b: Buf): Map[String, Long] = b
    // immutable Map rides Spark's NATIVE map encoding (no kryo, no
    // module-opens dependency, compact shuffle bytes); the in-memory
    // buffer between serialization boundaries is the object itself, so
    // the per-row cost is one HAMT update
    override def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /**
   * EXACT heavy hitters over an unbounded key domain in two passes —
   * every key whose frequency strictly exceeds `N/k`, with its exact
   * count and integer ppm share. Pass 1 is ONE Misra-Gries aggregation
   * (bounded `counters`-entry state per task, merged pairwise — the row
   * count rides the same pass) whose map is a GUARANTEED superset of the
   * qualifying keys (requires `counters ≥ k − 1`; default `2k` for
   * margin). Pass 2 recounts ONLY the ≤ `counters` candidate keys: the
   * candidate set broadcasts, the count aggregation map-side-combines,
   * and the full key domain never shuffles — the point at 100 TB, where
   * a plain `groupBy(key)` would shuffle billions of distinct keys to
   * answer a question about the top handful. Deterministic despite MG's
   * order-dependent residuals: the recount is exact, so the output is
   * exactly "keys with cnt·k > N" regardless of partitioning.
   */
  def heavyHitters(df: DataFrame, key: Column, k: Int,
      counters: Int = 0): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val c = if (counters > 0) counters else 2 * k
    require(c >= k - 1, s"counters must be >= k-1 for the superset " +
      s"guarantee, got $c vs k=$k")
    val keyed = df.select(key.cast("string").as("key"))
    val mg = udaf(new MisraGries(c))
    val cand = keyed.agg(mg(col("key")).as("m"), count(lit(1)).as("total"))
      .select(explode(map_keys(col("m"))).as("key"), col("total"))
    keyed.join(broadcast(cand), Seq("key"))
      .groupBy(col("key"), col("total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > col("total"))
      .select(col("key"), col("cnt"),
        expr("cnt * 1000000 div total").as("share_ppm"))
  }

  /**
   * Per-GROUP exact heavy hitters — [[heavyHitters]] stratified by
   * `groupCols`: every key whose frequency within its group strictly
   * exceeds `group_N/k`. One Misra-Gries summary PER GROUP in pass 1
   * (c-entry state per group inside the aggregation, merged pairwise;
   * the group's row count rides along), then an exact recount of the
   * ≤ c·|groups| candidate (group, key) rows. The within-group key
   * domain never shuffles — the per-source "what dominates each slice"
   * panel at corpus scale. Same strict-threshold, guaranteed-superset,
   * deterministic-output contract as the global pass.
   */
  def heavyHittersByGroup(df: DataFrame, groupCols: Seq[String],
      key: Column, k: Int, counters: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "pass at least one group column")
    require(k >= 2, s"k must be >= 2, got $k")
    val c = if (counters > 0) counters else 2 * k
    require(c >= k - 1, s"counters must be >= k-1 for the superset " +
      s"guarantee, got $c vs k=$k")
    val gcols = groupCols.map(col)
    val keyed = df.select(gcols :+ key.cast("string").as("key"): _*)
    val mg = udaf(new MisraGries(c))
    val cand = keyed.groupBy(gcols: _*)
      .agg(mg(col("key")).as("m"), count(lit(1)).as("total"))
      .select(gcols ++ Seq(explode(map_keys(col("m"))).as("key"),
        col("total")): _*)
    keyed.join(broadcast(cand), groupCols :+ "key")
      .groupBy(gcols ++ Seq(col("key"), col("total")): _*)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > col("total"))
      .select(gcols ++ Seq(col("key"), col("cnt"),
        expr("cnt * 1000000 div total").as("share_ppm")): _*)
  }

  /**
   * PEARSON correlation panel from EXACT integer sufficient statistics:
   * one aggregation computes (Σx, Σy, Σxy, Σx², Σy², n) for every pair
   * — exact longs, order-independent — and the only floating-point is
   * the final closed form `(n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²̂)·√(…))`,
   * evaluated in one documented operation order and rounded to 6 dp, so
   * any engine reproduces the panel from the same sums bit-for-bit.
   * Input columns must be integer-valued (cast upstream); long sums
   * bound the exact range to ~10⁹ rows of ~10⁴-magnitude values —
   * scale the units down for wider corpora.
   */
  def pearsonExact(df: DataFrame,
      pairs: Seq[(String, Column, Column)]): DataFrame = {
    require(pairs.nonEmpty, "pass at least one (name, x, y) pair")
    val aggs = pairs.zipWithIndex.flatMap { case ((_, x, y), i) =>
      val xl = x.cast("long"); val yl = y.cast("long")
      Seq(sum(xl).as(s"sx_$i"), sum(yl).as(s"sy_$i"),
        sum(xl * yl).as(s"sxy_$i"), sum(xl * xl).as(s"sxx_$i"),
        sum(yl * yl).as(s"syy_$i"))
    } :+ count(lit(1)).as("n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    // ONE stats pass, panel rows via explode — a per-pair union would let
    // column pruning specialize each branch's aggregate (sx_0 vs sx_1),
    // defeating exchange reuse and scanning the corpus once per pair
    // (the BM25 df-stats lesson); plan-pinned single-Aggregate in PlanSpec
    val panel = array(pairs.zipWithIndex.map { case ((name, _, _), i) =>
      val n = col("n").cast("double")
      val cov = n * col(s"sxy_$i").cast("double") -
        col(s"sx_$i").cast("double") * col(s"sy_$i").cast("double")
      val vx = n * col(s"sxx_$i").cast("double") -
        col(s"sx_$i").cast("double") * col(s"sx_$i").cast("double")
      val vy = n * col(s"syy_$i").cast("double") -
        col(s"sy_$i").cast("double") * col(s"sy_$i").cast("double")
      // a zero-variance side has no defined correlation: NULL, not an
      // ANSI divide-by-zero abort (constant columns are routine)
      struct(lit(name).as("pair"), col("n").as("n"),
        when(vx > 0 && vy > 0, round(cov / (sqrt(vx) * sqrt(vy)), 6))
          .otherwise(lit(null).cast("double")).as("corr"))
    }: _*)
    row.select(explode(panel).as("__r")).select(col("__r.*"))
  }
}
