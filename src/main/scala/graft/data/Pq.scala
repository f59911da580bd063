package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Product quantization (PQ) for embedding columns — the memory-bound
 * scale path for similarity search at corpus sizes where even IVF cell
 * scans are dominated by reading full float vectors.
 *
 * A `dim`-dimensional vector is split into `m` contiguous subvectors of
 * `subDim = dim / m` components; each subvector is replaced by the id of
 * its nearest centroid from a per-subspace codebook of `ksub` entries
 * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
 * Search", IEEE TPAMI 2011). A 64-dim float vector (256 B) becomes `m`
 * small ints (8 B at m=8) — a 32× scan-size reduction, which at 100 TB
 * is the difference between an in-memory candidate scan and an I/O-bound
 * one.
 *
 * Query-time scoring is ADC (asymmetric distance computation): the query
 * stays un-quantized; a per-query lookup table
 * `lut[sub][code] = <q_sub, centroid[sub][code]>` turns the approximate
 * inner product into `m` table lookups + adds per corpus row — no float
 * dot products touch the corpus side. The hot loop is the codegen'd
 * native [[graft.plans.PqAdc]] (`pq_adc`).
 *
 * Determinism & oracle parity: the seed codebook is MD5-derived (like
 * [[Similarity.planeCoef]]) so an external SQL engine can rebuild the
 * exact codes; distances are spelled `|x|² - 2<x,c> + |c|²` with the
 * dot products summed sequentially (bit-identical to DuckDB's
 * `list_dot_product`) and `|c|²` embedded as a driver-computed literal,
 * so encode and ADC scores hash-match across engines. Argmin ties break
 * toward the LOWER code id in both spellings.
 *
 * Scale notes: encoding is a narrow per-row map (no shuffle); the flat
 * ADC scan broadcasts only the (small) query LUTs; [[ivfPqTopK]] joins
 * on the coarse cell id so each query scores only its probed cells'
 * codes. Codebooks are KBs and live on the driver by design.
 *
 * Reference scope: beyond-reference LLM-pipeline operator (the reference
 * has no ANN surface); companion to `Similarity.ivfTopK`
 * (`03_var_monte_carlo.py`'s scale ethos applied to retrieval).
 */
object Pq {

  /** codebook(sub)(code) = centroid vector; dims implied by shape. */
  type Codebook = Array[Array[Array[Double]]]

  /** Deterministic MD5-derived seed coefficient in [-0.25, 0.25) — the
   * component scale of unit-norm embeddings (namespaced so no value
   * collides with [[Similarity.planeCoef]]'s families). */
  def codeCoef(sub: Int, code: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pq_${sub}_${code}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(7)
    val h = java.lang.Long.parseLong(hex, 16)
    (h % 2001 - 1000) / 4000.0
  }

  /** Untrained, engine-portable codebook: `m` subspaces × `ksub` codes
   * × `subDim` components. */
  def seedCodebook(m: Int, ksub: Int, subDim: Int): Codebook =
    Array.tabulate(m, ksub, subDim)(codeCoef)

  private def lits(xs: Array[Double]): Column = array(xs.toIndexedSeq.map(lit): _*)

  /** |c|² computed once on the driver, embedded as a literal (sequential
   * sum — same value an external engine derives from the same literals). */
  def norm2(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Squared L2 distance from the `sub`-th subvector of `v` to centroid
   * `c`, spelled `|x|² - 2<x,c> + |c|²` for cross-engine bit parity. */
  private def subDist(v: Column, sub: Int, subDim: Int, c: Array[Double]): Column = {
    val xs = slice(v, sub * subDim + 1, subDim)
    Similarity.dotNative(xs, xs) -
      lit(2.0) * Similarity.dotNative(xs, lits(c)) + lit(norm2(c))
  }

  /** PQ codes for `v`: `array<int>` of length `m`; per subspace the
   * argmin-distance code, ties to the lower code id. Native codegen'd
   * path ([[graft.plans.PqEncodeExpr]]) — the composable spelling's
   * m × ksub struct tree exceeds Janino's 64 KB method limit and drops
   * the whole corpus stage out of codegen. Bit-identical to
   * [[encodeComposable]] (spec-pinned). */
  def encode(v: Column, cb: Codebook): Column =
    call_function("pq_encode", v,
      typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq))

  /** Extension-free composable twin of [[encode]] (oracle mirror shape;
   * use [[encode]] in hot paths). */
  def encodeComposable(v: Column, cb: Codebook): Column = {
    val subDim = cb(0)(0).length
    array(cb.indices.map { sub =>
      sort_array(array(cb(sub).indices.map { code =>
        struct(subDist(v, sub, subDim, cb(sub)(code)).as("d"), lit(code).as("code"))
      }: _*))(0)("code")
    }: _*)
  }

  /** Per-query ADC lookup table: `lut[sub][code] = <q_sub, centroid>`
   * (`array<array<double>>`, m × ksub). */
  def lutFor(v: Column, cb: Codebook): Column = {
    val subDim = cb(0)(0).length
    array(cb.indices.map { sub =>
      array(cb(sub).indices.map { code =>
        Similarity.dotNative(slice(v, sub * subDim + 1, subDim), lits(cb(sub)(code)))
      }: _*)
    }: _*)
  }

  /** Approximate inner product via the codegen'd native lookup-sum;
   * requires `graft.plans.GraftExtensions` (all graft entries register it). */
  def adcScore(codes: Column, lut: Column): Column =
    call_function("pq_adc", codes, lut)

  private def rankCol(score: Column) = row_number().over(
    Window.partitionBy(col("query_id")).orderBy(score.desc, col("neighbor_id")))

  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Query-side join strategy — the shared [[Similarity.joinQ]] dial.
   *
   * `broadcastQueries = true` (default, the serving shape): the query side
   * — queries × nProbe rows each carrying an m × ksub-double LUT — is
   * broadcast, so the corpus side never shuffles. That envelope breaks for
   * corpus-vs-corpus batches (e.g. re-ranking a whole corpus against
   * itself): the broadcast table is built ON THE DRIVER, and a
   * 10⁸-query × LUT build OOMs it. `broadcastQueries = false` is the
   * big-batch path: a shuffle-hash join keyed on the (small-int) join key
   * — both sides shuffle on the key, nothing is driver-materialized, and
   * the per-key work is unchanged. Keyless flat scans ([[pqTopK]],
   * [[sqTopK]]) fall back to a shuffle-replicate cartesian for the same
   * reason. Plan shapes for both modes are pinned by `PlanSpec`. */
  private def joinQueries(q: DataFrame, c: DataFrame, keys: Seq[String],
      broadcastQueries: Boolean): DataFrame =
    Similarity.joinQ(q, c, keys, broadcastQueries)

  private def crossQueries(q: DataFrame, c: DataFrame,
      broadcastQueries: Boolean): DataFrame =
    Similarity.crossQ(q, c, broadcastQueries)

  /**
   * Flat-PQ top-k by approximate inner product: the corpus is scanned as
   * codes only (encoded once, inline here; persist the encoded table for
   * repeated query batches), each row scored by `m` lookups against the
   * broadcast query LUTs. With `refine > 0`, the top-`refine` ADC
   * candidates per query are re-ranked by EXACT cosine — the standard
   * two-stage retrieval: the wide float vectors are fetched (joined back)
   * for only `refine` rows per query instead of the whole corpus.
   *
   * `broadcastQueries = false` for corpus-sized query batches (see
   * [[joinQueries]]): the scan becomes a shuffle-replicate cartesian —
   * no driver-side broadcast build, same scores.
   */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      cb: Codebook,
      refine: Int = 0,
      broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), lutFor(col(vecCol), cb).as("q_lut"))
    val c = spread(corpus).select(col(idCol).as("c_id"), encode(col(vecCol), cb).as("c_codes"))
    val scored = crossQueries(q, c, broadcastQueries)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        adcScore(col("c_codes"), col("q_lut")).as("score"))
    if (refine <= 0) {
      scored.withColumn("rank", rankCol(col("score"))).filter(col("rank") <= k)
    } else {
      require(refine >= k, s"refine ($refine) must be >= k ($k)")
      val cand = scored.withColumn("rank", rankCol(col("score")))
        .filter(col("rank") <= refine)
        .select(col("query_id"), col("neighbor_id"))
      // fetch float vectors for the short candidate list only
      val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"),
        Similarity.norm(col(vecCol)).as("q_n"))
      val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v"),
        Similarity.norm(col(vecCol)).as("c_n"))
      val exact = joinQueries(qv, cand, Seq("query_id"), broadcastQueries)
        .join(cv, "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          (Similarity.dotNative(col("q_v"), col("c_v")) / (col("q_n") * col("c_n"))).as("sim"))
      exact.withColumn("rank", rankCol(col("sim"))).filter(col("rank") <= k)
    }
  }

  /** Per-centroid coarse-cell scores (same spelling as
   * `Similarity.ivfTopKWith` — max dot, ties to the larger cell id). */
  private def cellSims(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(Similarity.dotNative(v, lits(c)).as("s"), lit(i).as("cell"))
    }: _*)

  /**
   * IVF-PQ: corpus rows live in their best coarse cell storing only PQ
   * codes; queries probe `nProbe` cells and ADC-score just those cells'
   * codes. The join key is the small cell int — the corpus codes shuffle
   * at most once, and the per-query work is |probed cells| × m lookups.
   *
   * `residual = true` is true IVFADC (Jégou et al. §IV): each row
   * encodes its RESIDUAL v − centroid(cell) instead of v, and the score
   * adds back the exactly-known `<q, centroid(cell)>` term — residuals
   * are much smaller than raw vectors, so the same codebook bytes buy a
   * finer quantization. The query LUT is unchanged (it tables
   * `<q_sub, code>` against the same codebook).
   */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      coarse: Array[Array[Double]],
      cb: Codebook,
      residual: Boolean = false,
      broadcastQueries: Boolean = true): DataFrame =
    searchIndex(buildIndex(corpus, idCol, vecCol, coarse, cb, residual),
      queries, idCol, vecCol, k, nProbe, broadcastQueries)

  /** A built ANN index: the encoded corpus plus everything needed to
   * search it. `rows` is (id, cell, codes) — 8 code bytes per vector
   * instead of the raw floats. */
  final case class Index(rows: DataFrame, coarse: Array[Array[Double]],
      cb: Codebook, residual: Boolean)

  /** Encode the corpus ONCE into an [[Index]] — the build-once /
   * search-many shape ([[ivfPqTopK]] re-encodes per call, right for
   * one-shot jobs; an index amortizes the encode across query batches
   * and is what [[saveIndex]] persists). */
  def buildIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Double]],
      cb: Codebook,
      residual: Boolean = false): Index = {
    val centsLit = typedLit(coarse.map(_.toSeq).toSeq)
    val base = spread(corpus).select(col(idCol).as("c_id"), col(vecCol).as("__v"),
      sort_array(cellSims(col(vecCol), coarse), asc = false)(0)("cell").as("cell"))
    val enc = if (residual)
      encode(zip_with(col("__v"), element_at(centsLit, col("cell") + 1),
        (a, b) => a - b), cb)
    else encode(col("__v"), cb)
    Index(base.select(col("c_id"), col("cell"), enc.as("c_codes")),
      coarse, cb, residual)
  }

  /** Append a DELTA to an existing index without touching its rows:
   * encode only `newCorpus` with the index's FROZEN coarse centroids
   * and codebook and union the code rows. With [[saveIndexVersioned]]
   * this makes an hourly publish cost O(|new documents|), not
   * O(|corpus|): load the published version, append the delta, publish
   * v+1. Because the quantizers are frozen by construction, searching
   * the appended index is EXACTLY a full rebuild under the same
   * codebook (spec-pinned) — refresh the codebook on a slower cadence
   * with a real rebuild when the data distribution drifts. Caller owns
   * id uniqueness across the union (duplicate ids would both answer). */
  def appendToIndex(index: Index, newCorpus: DataFrame, idCol: String,
      vecCol: String): Index =
    index.copy(rows = index.rows.unionByName(
      buildIndex(newCorpus, idCol, vecCol, index.coarse, index.cb,
        index.residual).rows))

  /** Remove documents from an index by id — the GDPR-delete /
   * recrawl-retire half of index maintenance, [[appendToIndex]]'s
   * mirror: ONE anti join on the id key (sized by the delete list —
   * AQE broadcasts it when small), no re-encode, frozen quantizers
   * untouched. Searching the shrunk index is EXACTLY a rebuild without
   * those documents (spec-pinned); publish through
   * [[saveIndexVersioned]] so in-flight readers keep their snapshot. */
  def removeFromIndex(index: Index, deleteIds: DataFrame,
      idCol: String): Index =
    index.copy(rows = index.rows.join(
      deleteIds.select(col(idCol).as("c_id")), Seq("c_id"), "left_anti"))

  /** Persist an index: encoded rows as (cell-partitioned) parquet, the
   * coarse centroids and codebook as plain parquet tables — no bespoke
   * serialization, any engine can read the layout back.
   *
   * NOTE: `mode("overwrite")` rewrites IN PLACE — re-saving over a
   * directory some live reader already loaded deletes the row files
   * under it. For publish-while-serving (a reader that polls for
   * rebuilds) use [[saveIndexVersioned]], which writes each rebuild to a
   * fresh immutable subdirectory and flips a pointer last. */
  def saveIndex(index: Index, dir: String): Unit = {
    val spark = index.rows.sparkSession
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // the four outputs are independent tables under distinct paths —
    // submit them CONCURRENTLY (guide §2.6: actions are only sequential
    // because driver code calls them sequentially). The three
    // driver-local tables are one-task writes that back-fill executors
    // while the row write's tail drains; a publish was four sequential
    // job round-trips, now it is wall-clocked by the row write alone.
    val writes = Seq(
      Future {
        index.rows.write.mode("overwrite").partitionBy("cell")
          .parquet(s"$dir/rows")
      },
      Future {
        index.coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "cent").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/coarse")
      },
      Future {
        index.cb.zipWithIndex.flatMap { case (codes, sub) =>
          codes.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
        }.toSeq.toDF("sub", "code", "cent").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/codebook")
      },
      Future {
        Seq(Tuple1(index.residual)).toDF("residual").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/meta")
      })
    // await ALL writes before returning, success or failure: a plain
    // fail-fast await could return failure while sibling writes are
    // still running, and an immediate retry (mode overwrite) would race
    // them on the same paths. Lift each outcome, await everything, then
    // rethrow the first failure.
    val outcomes = Await.result(
      Future.sequence(writes.map(_.transform(scala.util.Success(_)))),
      Duration.Inf)
    outcomes.collectFirst { case scala.util.Failure(e) => throw e }
    ()
  }

  /** Publish `index` as a NEW immutable version under `dir`
   * (`dir/v<N>/…`), flipping the tiny `dir/latest` pointer LAST — a
   * reader that loaded version N keeps a consistent snapshot while
   * N+1 lands (an in-place [[saveIndex]] overwrite would delete row
   * files under it mid-query). Old versions stay on disk for in-flight
   * readers; garbage-collect them with [[pruneVersions]] once no
   * reader can hold them. Single publisher at a time (rename-committed
   * — see [[Versioned.publish]]). Returns the new version number. */
  def saveIndexVersioned(index: Index, dir: String): Long =
    Versioned.publish(index.rows.sparkSession, dir)(saveIndex(index, _))

  /** Currently-published version under a [[saveIndexVersioned]] dir —
   * None when no pointer exists (including the sub-millisecond window
   * while a publisher rewrites it; callers keep their current index). */
  def latestVersion(spark: org.apache.spark.sql.SparkSession, dir: String): Option[Long] =
    Versioned.latestVersion(spark, dir)

  /** Drop versions older than the published pointer minus `keep` —
   * bounded storage for a rebuild-hourly publish cadence. See
   * [[Versioned.pruneVersions]] for the in-flight-reader contract.
   * Returns the versions deleted. */
  def pruneVersions(spark: org.apache.spark.sql.SparkSession, dir: String,
      keep: Int = 1): Seq[Long] =
    Versioned.pruneVersions(spark, dir, keep)

  /** Load the currently-published version of a [[saveIndexVersioned]]
   * index: `(version, index)`. */
  def loadIndexVersioned(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Long, Index) = {
    val v = latestVersion(spark, dir).getOrElse(throw new IllegalStateException(
      s"no index published under $dir (write one with Pq.saveIndexVersioned)"))
    (v, loadIndex(spark, s"$dir/v$v"))
  }

  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // three independent KB-scale collects — overlap them (guide §2.6)
    // so a snapshot load pays one job round-trip, not three
    val coarseF = Future {
      spark.read.parquet(s"$dir/coarse")
        .orderBy("cell").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("cent")).toArray)
    }
    val cbF = Future {
      val cbRows = spark.read.parquet(s"$dir/codebook")
        .orderBy("sub", "code").collect()
      val m = cbRows.map(_.getInt(0)).max + 1
      Array.tabulate(m) { sub =>
        cbRows.filter(_.getInt(0) == sub).sortBy(_.getInt(1))
          .map(r => r.getSeq[Double](r.fieldIndex("cent")).toArray)
      }
    }
    val residualF = Future {
      spark.read.parquet(s"$dir/meta").collect().head.getBoolean(0)
    }
    Index(spark.read.parquet(s"$dir/rows"),
      Await.result(coarseF, Duration.Inf), Await.result(cbF, Duration.Inf),
      Await.result(residualF, Duration.Inf))
  }

  /** Query-side probe prep of [[searchIndex]] — one row per (query,
   * probed cell) carrying the ADC LUT and the residual centroid term;
   * extra columns of `queries` pass through. */
  def probeQueries(
      index: Index,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int): DataFrame = {
    val centsLit = typedLit(index.coarse.map(_.toSeq).toSeq)
    queries
      .withColumn("q_lut", lutFor(col(vecCol), index.cb))
      .withColumn("cell",
        explode(slice(transform(
          sort_array(cellSims(col(vecCol), index.coarse), asc = false),
          s => s("cell")), 1, nProbe)))
      .withColumn("q_cell_dot",
        if (index.residual)
          Similarity.dotNative(col(vecCol), element_at(centsLit, col("cell") + 1))
        else lit(0.0))
      .withColumnRenamed(idCol, "q_id")
      .drop(vecCol)
  }

  /** The ADC score column over a [[probeQueries]] ⋈ index-rows join. */
  def indexScore(index: Index): Column =
    if (index.residual) col("q_cell_dot") + adcScore(col("c_codes"), col("q_lut"))
    else adcScore(col("c_codes"), col("q_lut"))

  /** ADC search against a built (or loaded) index — identical output to
   * [[ivfPqTopK]] with the index's configuration, but the corpus-side
   * encode is already paid. For a [[loadIndex]]-ed (cell-PARTITIONED
   * parquet) index on the default broadcast path, the probed cells PRUNE
   * at the scan — a query batch touching p of C cells reads p/C of the
   * index files (`PlanSpec` pins the PartitionFilters). A fresh
   * [[buildIndex]] output is not partitioned on disk, so it gets no scan
   * pruning — save/load the index to earn it. `broadcastQueries = false`
   * (big query batches, see [[joinQueries]]) shuffles both sides on the
   * cell int instead: no driver broadcast build, and note the corpus-side
   * shuffle also forfeits scan pruning — the right trade when the query
   * batch probes most cells anyway. */
  def searchIndex(
      index: Index,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    val q = probeQueries(index, queries.select(col(idCol), col(vecCol)),
      idCol, vecCol, nProbe)
    joinQueries(q, index.rows, Seq("cell"), broadcastQueries)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        indexScore(index).as("score"))
      .withColumn("rank", rankCol(col("score")))
      .filter(col("rank") <= k)
  }

  // ------------------------------------------- scalar quantization (SQ8)

  /** Per-vector int8 scalar quantization (FAISS `SQ8` shape): each
   * component maps to `round((x − lo) / scale)` ∈ [0, 255] with
   * per-vector `lo = min(x)`, `scale = (max − min) / 255` — 4× smaller
   * than float32 with no codebook to train. Constant vectors get
   * scale = 0 and all-zero codes (dequantizing exactly to `lo`).
   * Returns a struct `(codes array<int>, lo, scale, csum)` where `csum`
   * is the integer code sum the dot reconstruction needs. All-integer
   * codes: an external oracle reproduces them exactly. */
  def sqEncode(v: Column): Column = {
    val lo = array_min(v)
    val scale = (array_max(v) - lo) / lit(255.0)
    val codes = when(scale > 0,
        transform(v, x => round((x - lo) / scale, 0).cast("int")))
      .otherwise(transform(v, _ => lit(0)))
    struct(codes.as("codes"), lo.as("lo"), scale.as("scale"),
      aggregate(codes, lit(0L), (a, c) => a + c).as("csum"))
  }

  /** [[sqEncode]] minus the code sum (one transform evaluation). */
  private def sqCodes(v: Column): Column = {
    val lo = array_min(v)
    val scale = (array_max(v) - lo) / lit(255.0)
    val codes = when(scale > 0,
        transform(v, x => round((x - lo) / scale, 0).cast("int")))
      .otherwise(transform(v, _ => lit(0)))
    struct(codes.as("codes"), lo.as("lo"), scale.as("scale"))
  }

  /** Complete a MATERIALIZED [[sqCodes]] struct with its code sum — run
   * in a separate projection behind an exchange so the per-component
   * round/transform chain is evaluated ONCE per row ([[sqEncode]]
   * inline re-runs it for the `csum` aggregate; HOFs get no
   * subexpression elimination). */
  private def sqFinalize(sq: Column): Column =
    struct(sq("codes").as("codes"), sq("lo").as("lo"), sq("scale").as("scale"),
      aggregate(sq("codes"), lit(0L), (a, c) => a + c).as("csum"))

  /** Approximate inner product of two SQ8-encoded vectors:
   * `<a, b> ≈ sa·sb·Σ(ca·cb) + la·sb·Σcb + lb·sa·Σca + d·la·lb`
   * (expanding `(la + sa·ca_i)(lb + sb·cb_i)`). The code-pair sum is
   * exact integer arithmetic; only the final 4-term combination is FP —
   * spelled left-to-right for cross-engine parity. */
  def sqDot(a: Column, b: Column): Column = {
    val codeDot = aggregate(zip_with(a("codes"), b("codes"),
      (x, y) => (x * y).cast("long")), lit(0L), _ + _)
    val d = size(a("codes")).cast("double")
    a("scale") * b("scale") * codeDot.cast("double") +
      a("lo") * b("scale") * b("csum").cast("double") +
      b("lo") * a("scale") * a("csum").cast("double") +
      d * a("lo") * b("lo")
  }

  /** Brute-force top-k by SQ8 approximate inner product — the
   * [[bruteForceTopK]] scan shape over 4×-compressed codes ([[pqTopK]]
   * compresses 32× but needs a codebook; SQ8 is the drop-in no-training
   * tier). Queries broadcast by default; corpus never shuffles.
   * `broadcastQueries = false` for corpus-sized query batches (see
   * [[joinQueries]]). */
  def sqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), sqEncode(col(vecCol)).as("q_sq"))
    // the spread() exchange doubles as the projection barrier that keeps
    // the encode single-evaluation on the hot corpus side
    val c = spread(corpus.select(col(idCol).as("c_id"), sqCodes(col(vecCol)).as("__sq")))
      .select(col("c_id"), sqFinalize(col("__sq")).as("c_sq"))
    crossQueries(q, c, broadcastQueries)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        sqDot(col("q_sq"), col("c_sq")).as("score"))
      .withColumn("rank", rankCol(col("score")))
      .filter(col("rank") <= k)
  }

  // ------------------------------------- binary (1-bit sign) quantization

  /** Sign-bit binary code (Charikar hyperplane hashing degenerated to the
   * coordinate axes — the "binary quantization" tier of modern vector
   * stores): bit `d mod 64` of word `d div 64` is set iff `v[d] > 0`,
   * packing `dim` floats into `ceil(dim/64)` longs — 32× smaller than
   * float32, and Hamming distance over the words approximates angular
   * distance. Integer-exact by construction: any engine with a
   * `>` comparison reproduces the codes bit-for-bit. */
  def signBits(v: Column): Column =
    // empty-vector guard: size 0 would make the word range sequence(0,-1)
    // = [0,-1] and the inner element_at(v, 0) errors at runtime; an empty
    // embedding gets an empty code (Hamming 0 vs itself) instead of
    // failing the whole job
    when(size(v) > 0,
      transform(sequence(lit(0), shiftright(size(v) - lit(1), 6)), w =>
        aggregate(sequence(w * 64, least(w * 64 + 63, size(v) - 1)),
          lit(0L), (acc, d) => acc +
            when(element_at(v, d.cast("int") + 1) > 0,
              call_function("shiftleft", lit(1L), (d - w * 64).cast("int")))
              .otherwise(lit(0L)))))
      .otherwise(array().cast("array<bigint>"))

  /** Exact Hamming distance between two [[signBits]] codes (same dim):
   * Σ popcount(xor) over the words. */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  /**
   * Two-stage binary ANN — the cheapest retrieval tier: scan the corpus
   * as sign-bit words only (8 bytes per 64 dims — memory-bandwidth-bound
   * at ~1/32 the float traffic, and XOR+popcount beats FMA per element),
   * keep the `refine·k` Hamming-nearest candidates per query, then
   * re-rank ONLY those by exact cosine. The wide float vectors never
   * ride the scan: they come back by id for `refine·k` rows per query
   * ([[Pq.pqTopK]]'s refine shape). Ties break on `neighbor_id` both
   * stages, so results are deterministic and engine-portable.
   *
   * `broadcastQueries = false` for corpus-sized query batches (see
   * [[joinQueries]]).
   */
  def binaryTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      refine: Int = 4,
      broadcastQueries: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val q = queries.select(col(idCol).as("q_id"), signBits(col(vecCol)).as("q_code"))
    val c = spread(corpus.select(col(idCol).as("c_id"), signBits(col(vecCol)).as("c_code")))
    val cand = crossQueries(q, c, broadcastQueries)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        hammingDist(col("q_code"), col("c_code")).as("hamming"))
      .withColumn("hrank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("hamming"), col("neighbor_id"))))
      .filter(col("hrank") <= k.toLong * refine)
    cand
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v")),
        Seq("neighbor_id"))
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v")),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        Similarity.cosine(col("q_v"), col("c_v")).as("sim"))
      .withColumn("rank", rankCol(col("sim")))
      .filter(col("rank") <= k)
  }

  /** Residual view of a vector table: `vecCol` ↦ v − centroid(best
   * coarse cell) — the training input for an IVFADC codebook
   * ([[trainCodebook]] on this frame, then `ivfPqTopK(residual = true)`
   * with the same `coarse`). */
  def residualFrame(vectors: DataFrame, vecCol: String,
      coarse: Array[Array[Double]]): DataFrame = {
    val centsLit = typedLit(coarse.map(_.toSeq).toSeq)
    vectors.withColumn(vecCol,
      zip_with(col(vecCol),
        element_at(centsLit,
          sort_array(cellSims(col(vecCol), coarse), asc = false)(0)("cell") + 1),
        (a, b) => a - b))
  }

  /**
   * Distributed per-subspace Lloyd k-means for the codebook (the train
   * step [[seedCodebook]] stands in for). One `posexplode` fans each
   * vector into its `m` subvectors, then per iteration ONE hash
   * aggregation recomputes all `m × ksub` centroids — element-wise
   * partial sums mean only `m × ksub × subDim` doubles cross the wire
   * regardless of corpus size. Deterministic: MD5-seeded init, ties to
   * the lower code, empty cells keep their previous centroid.
   */
  def trainCodebook(
      vectors: DataFrame,
      vecCol: String,
      m: Int,
      ksub: Int,
      dim: Int,
      iters: Int = 5): Codebook = {
    require(dim % m == 0, s"dim ($dim) must be divisible by m ($m)")
    val subDim = dim / m
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val data = spread(vectors)
      .select(col(vecCol).cast("array<double>").as("v"))
      .cache()
    var cb = seedCodebook(m, ksub, subDim)
    try {
      for (_ <- 0 until iters) {
        // one native encode per vector assigns all m subspaces at once,
        // then ONE hash aggregation recomputes every (sub, code) centroid
        val stats = data
          .select(col("v"), posexplode(encode(col("v"), cb)))
          .toDF("v", "sub", "code")
          .select(col("sub"), col("code"),
            slice(col("v"), col("sub") * subDim + 1, lit(subDim)).as("xs"))
          .groupBy(col("sub"), col("code"))
          .agg(count(lit(1)).as("n"),
            vector_to_array(org.apache.spark.ml.stat.Summarizer
              .sum(array_to_vector(col("xs")))).as("s"))
          .collect()
        val next = cb.map(_.map(_.clone()))
        stats.foreach { r =>
          val sub = r.getInt(0); val code = r.getInt(1)
          val n = r.getLong(2).toDouble
          next(sub)(code) = r.getSeq[Double](3).map(_ / n).toArray
        }
        cb = next
      }
      cb
    } finally { data.unpersist(); () }
  }
}
