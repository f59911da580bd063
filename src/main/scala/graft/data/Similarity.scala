package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`array<float>`/`array<double>`):
 *
 *  - brute-force cosine top-k — the exact baseline. Plan: queries ⋈cross
 *    corpus with the (small) query side **broadcast**, so the corpus never
 *    shuffles; ranking is a per-query-partition window.
 *  - random-hyperplane **LSH** (sign-bucket) ANN — the scale path: one
 *    narrow projection to a bucket id, shuffle on the bucket int only,
 *    quadratic work confined to within-bucket candidates.
 *
 * Hot-loop design: the per-pair cosine uses the codegen'd native
 * [[graft.plans.DotProduct]] expression (`vec_dot`, registered by
 * `graft.plans.GraftExtensions`) and **norms are computed once per
 * vector**, not per pair — at sf0.1 this turns a 40s all-pairs scan into
 * ~2s. FP results are bit-identical to the composable spelling (both sum
 * sequentially), so oracle parity holds.
 *
 * Hyperplane coefficients are derived from MD5 (computed once, driver
 * side, embedded as literals) so an external SQL oracle can reproduce the
 * exact buckets — swap for Gaussian planes from a seeded RNG in
 * production.
 */
object Similarity {

  /** Codegen'd dot product; requires `graft.plans.GraftExtensions` on the
   * session (all graft entry points register it). */
  def dotNative(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dotNative(a, a))

  def cosine(a: Column, b: Column): Column = dotNative(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random coefficient in [-1, 1): MD5-derived so
   * any engine can re-generate it. */
  def planeCoef(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${plane}_$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(7)
    val h = java.lang.Long.parseLong(hex, 16)
    (h % 2001 - 1000) / 1000.0
  }

  /** `numPlanes` hyperplanes for `dim`-dimensional vectors. */
  def planes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)(planeCoef)

  /**
   * Deterministic hash EMBEDDING of a text column — `dim` doubles in
   * [-1, 1]: one MD5 prefix hash per (lowercased whitespace) token,
   * then per dimension `j` the exact-integer sum over tokens of
   * `(h·(2j+1) + (7919j+13)) mod 2001 − 1000` (the [[planeCoef]] /
   * minhash permutation trick: one hash fans out to `dim` decorrelated
   * coordinates without `dim` MD5 calls), divided by 1000 once at the
   * end. The integer sum makes every coordinate order-independent and
   * engine-portable — a DuckDB/Trino oracle reproduces it bit-for-bit.
   *
   * This is the STUB seam for a real encoder: it has an embedding's
   * exact shape and determinism (same text ⇒ same vector; shared
   * tokens ⇒ correlated vectors) with none of its semantics, so every
   * downstream consumer — ANN indexes, SemDeDup, hybrid retrieval —
   * exercises real distributed plumbing against it and a model UDF can
   * replace it without touching any of them. Map-only at any scale.
   */
  def hashEmbed(tokenHashes: Column, dim: Int): Column =
    call_function("hash_embed", tokenHashes, lit(dim))

  /** Extension-free composable twin of [[hashEmbed]] — identical output
   * (integer arithmetic), kept as the portability reference for SQL
   * oracles. ONE aggregate pass carrying all `dim` accumulators: the
   * naive per-dimension spelling (transform over j of an aggregate over
   * the hashes) references the hash array once STATICALLY but walks it
   * `dim` times at RUNTIME — and once CollapseProject inlines the
   * defining expression, that is `dim` MD5 passes per row (Spark does
   * not CSE through higher-order functions). */
  def hashEmbedComposable(tokenHashes: Column, dim: Int): Column = {
    val sums = aggregate(tokenHashes, array_repeat(lit(0L), dim),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(dim - 1)), (a, j) =>
        a + ((h * (j * 2 + 1) + (lit(7919) * j + lit(13))) % 2001 - 1000)))
    transform(sums, s => s.cast("double") / lit(1000.0))
  }

  /** The token-hash input of [[hashEmbed]]: one 28-bit MD5 prefix per
   * lowercased whitespace token. */
  def tokenHashes(text: Column): Column =
    transform(TextFunctions.tokens(lower(text)), w => TextFunctions.hash28(w))

  /** An independent hyperplane family at `offset` (multi-table LSH: table
   * `t` uses offset `t * numPlanes`, so no plane is shared between
   * tables). `planes(n, d)` ≡ `planesAt(n, d, 0)`. */
  def planesAt(numPlanes: Int, dim: Int, offset: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)((p, d) => planeCoef(offset + p, d))

  /** Sign-bucket id: bit p set iff dot(v, plane_p) >= 0. */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val d = dotNative(v, array(p.toIndexedSeq.map(lit): _*))
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** id + vector + its norm, computed once. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
      prefix: String): DataFrame =
    df.select(col(idCol).as(s"${prefix}id"), col(vecCol).as(s"${prefix}v"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as(s"${prefix}n"))

  private def simCol(ap: String, bp: String): Column =
    dotNative(col(s"${ap}v"), col(s"${bp}v")) / (col(s"${ap}n") * col(s"${bp}n"))

  /** Explode each row into one `(tbl, bucket)` per hash table. The struct
   * array is built inside the generator input, so each bucket's
   * `numPlanes` dot products are computed exactly once per (row, table). */
  private def withTableBuckets(df: DataFrame, prefix: String,
      tables: IndexedSeq[Array[Array[Double]]]): DataFrame =
    df.withColumn("__tb", explode(array(tables.zipWithIndex.map { case (ps, t) =>
        struct(lit(t).as("tbl"), lshBucket(col(s"${prefix}v"), ps).as("b"))
      }: _*)))
      .select(col(s"${prefix}id"), col(s"${prefix}v"), col(s"${prefix}n"),
        col("__tb")("tbl").as("tbl"), col("__tb")("b").as("bucket"))

  /** Query-side join strategy shared by EVERY retrieval entry point in
   * this package (here and in [[Pq]] — one definition so the big-batch
   * strategy cannot drift between the tiers): `broadcastQueries = true`
   * is the serving shape — small query batch broadcast, corpus never
   * shuffles; `false` is the corpus-vs-corpus shape — a shuffle join
   * (shuffle-hash on the key, or shuffle-replicate cartesian when
   * keyless), nothing materialized on the driver. */
  private[data] def joinQ(q: DataFrame, c: DataFrame, keys: Seq[String],
      broadcastQueries: Boolean): DataFrame =
    if (broadcastQueries) broadcast(q).join(c, keys)
    else q.hint("shuffle_hash").join(c, keys)

  private[data] def crossQ(q: DataFrame, c: DataFrame,
      broadcastQueries: Boolean): DataFrame =
    if (broadcastQueries) broadcast(q).crossJoin(c)
    else q.hint("shuffle_replicate_nl").crossJoin(c)

  /**
   * Exact top-k cosine neighbors for each query vector (self excluded).
   * `queries` is expected to be small (it is broadcast); the corpus side
   * stays partition-local — no corpus shuffle, ranking shuffles only
   * (query_id, k) sized data. For a corpus-sized query batch pass
   * `broadcastQueries = false` (see [[joinQ]]).
   */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "q_")
    val c = withNorm(repartitioned(corpus), idCol, vecCol, "c_")
    val rank = row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id")))
    crossQ(q, c, broadcastQueries)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        simCol("q_", "c_").as("sim"))
      .withColumn("rank", rank)
      .filter(col("rank") <= k)
  }

  /**
   * HARD-NEGATIVE MINING for contrastive / retrieval training
   * (Karpukhin et al. 2020's DPR recipe): for every anchor, the `k`
   * most cosine-similar corpus items whose LABEL DIFFERS — the
   * "close but wrong" pairs that carry the gradient signal random
   * negatives don't. Same scored-candidate machinery as
   * [[bruteForceTopK]] with the different-label predicate placed
   * BELOW the rank window, so rank counts negatives only (an anchor
   * surrounded by its own class still yields k true negatives, not a
   * truncated list). NULL-labeled rows are excluded on BOTH sides —
   * an unknown corpus label can't be certified a negative, and an
   * unknown ANCHOR label can't certify anything a negative either
   * (a NULL-labeled anchor emits no rows, consistent with the
   * corpus-side rule).
   *
   * Serving shape (`broadcastAnchors = true`): anchor batch broadcasts,
   * corpus never shuffles. Corpus-vs-corpus mining passes `false` —
   * the same shuffle-replicate big-batch plan as the retrieval tiers;
   * at real scale swap this brute-force candidate arm for the IVF/LSH
   * candidate stream and keep everything downstream unchanged.
   *
   * Returns `(query_id, rank, neighbor_id, sim)` with `rank ∈ [1, k]`.
   */
  def hardNegatives(
      anchors: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      broadcastAnchors: Boolean = true): DataFrame = {
    val q = anchors.select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("q_n"),
      col(labelCol).as("q_label"))
      .filter(col("q_label").isNotNull)
    val c = repartitioned(corpus).select(col(idCol).as("c_id"),
      col(vecCol).as("c_v"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("c_n"),
      col(labelCol).as("c_label"))
    val rank = row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id")))
    crossQ(q, c, broadcastAnchors)
      .filter(col("q_id") =!= col("c_id") &&
        col("c_label").isNotNull && !(col("q_label") <=> col("c_label")))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        simCol("q_", "c_").as("sim"))
      .withColumn("rank", rank)
      .filter(col("rank") <= k)
  }

  /**
   * ANN top-k: candidates restricted to the query's LSH bucket. Same
   * output shape as [[bruteForceTopK]]; recall < 1 by construction.
   *
   * `numTables` > 1 turns on OR-amplification: each table hashes with an
   * independent plane family and a pair is a candidate if it collides in
   * ANY table, lifting pair-recall from p to 1-(1-p)^L for per-table
   * collision probability p = (1-θ/π)^numPlanes. Shuffle volume and
   * candidate work grow ≤ L× — the standard recall/cost dial. Candidates
   * found by several tables are deduped before ranking.
   */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int,
      dim: Int,
      numTables: Int = 1,
      broadcastQueries: Boolean = true): DataFrame = {
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    val tables = (0 until numTables).map(t => planesAt(numPlanes, dim, t * numPlanes))
    val q = withTableBuckets(withNorm(queries, idCol, vecCol, "q_"), "q_", tables)
    val c = withTableBuckets(
      withNorm(repartitioned(corpus), idCol, vecCol, "c_"), "c_", tables)
    val rank = row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id")))
    val cands = joinQ(q, c, Seq("tbl", "bucket"), broadcastQueries)
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        simCol("q_", "c_").as("sim"))
    // single-table: a pair collides in at most one bucket — already unique
    val unique = if (numTables == 1) cands
      else cands.dropDuplicates(Seq("query_id", "neighbor_id"))
    unique
      .withColumn("rank", rank)
      .filter(col("rank") <= k)
  }

  /**
   * All pairs with cosine ≥ threshold (embedding near-dup). Quadratic —
   * appropriate below ~10^4 rows per block; above that, pre-bucket with
   * [[lshBucket]] and run per bucket. The right side is broadcast and the
   * left side repartitioned so the O(n²) loop parallelizes across all
   * cores instead of tracking the (single-file) input partitioning.
   */
  def cosineNearDupPairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val a = withNorm(repartitioned(vectors), idCol, vecCol, "a_")
    val b = withNorm(vectors, idCol, vecCol, "b_")
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"),
        simCol("a_", "b_").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /**
   * Scale path for [[cosineNearDupPairs]]: LSH-bucket the corpus first and
   * compare only within buckets — shuffle on a small int key, quadratic
   * work confined per bucket (recall < 1; more planes ⇒ smaller buckets ⇒
   * faster and lower recall; more `numTables` ⇒ OR-amplified recall at
   * ≤ L× candidate cost, see [[lshTopK]]). Same output shape.
   */
  def cosineNearDupPairsBucketed(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int,
      dim: Int,
      numTables: Int = 1): DataFrame = {
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    val tables = (0 until numTables).map(t => planesAt(numPlanes, dim, t * numPlanes))
    def side(prefix: String) = withTableBuckets(
      withNorm(repartitioned(vectors), idCol, vecCol, prefix), prefix, tables)
    val cands = side("a_").join(side("b_"), Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
    // single-table: a pair collides in at most one bucket — already unique
    val unique = if (numTables == 1) cands
      else cands.dropDuplicates(Seq("a_id", "b_id"))
    unique
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"),
        simCol("a_", "b_").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /**
   * IVF-style ANN: corpus assigned to the nearest of `nCells` seed
   * centroids (deterministic MD5-derived seeds — swap for trained k-means
   * centroids in production); each query probes its `nProbe` closest cells.
   * Same output shape as [[bruteForceTopK]]; recall < 1.
   */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbe: Int,
      dim: Int): DataFrame =
    ivfTopKWith(queries, corpus, idCol, vecCol, k, nProbe,
      planes(nCells, dim)) // deterministic seed centroids

  /** Per-centroid dot scores as (s, cell) structs — `sort_array desc`
   * picks max-dot cells (struct ordering is lexicographic, so ties
   * break toward the HIGHER cell id — the oracles' `ORDER BY s DESC,
   * p DESC` spelling). */
  private def cellSims(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(dotNative(v, array(c.toIndexedSeq.map(lit): _*)).as("s"), lit(i).as("cell"))
    }: _*)

  /**
   * Per-CELL occupancy report for an IVF layout — the index-ops health
   * panel: per-cell exact counts and integer-ppm share with EMPTY cells
   * present. A skewed layout (one cell holding half the corpus) means
   * probes degrade toward brute force; many empty cells mean the
   * centroids no longer fit the data — either way the fix is retraining
   * ([[trainIvfCentroids]]) and this report is the trigger. One max-dot
   * assignment (centroids as broadcast literals, map-only), one
   * map-combinable count, a |cells|-row left join. Same
   * ties-toward-higher-cell argmax contract as [[ivfTopKWith]].
   */
  def ivfBalanceReport(vectors: DataFrame, vecCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    val assigned = repartitioned(vectors)
      .select(sort_array(cellSims(col(vecCol), cents), asc = false)(0)("cell")
        .as("cell"))
    val counts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    vectors.sparkSession.range(cents.length)
      .select(col("id").cast("int").as("cell"))
      .join(counts, Seq("cell"), "left")
      .crossJoin(broadcast(total))
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("n"), lit(0L)).as("n_vecs"),
        expr("coalesce(n, 0) * 1000000 div total").as("share_ppm"))
  }

  /** [[ivfTopK]] against explicit centroids (seed planes or
   * [[trainIvfCentroids]] output). */
  def ivfTopKWith(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      cents: Array[Array[Double]]): DataFrame = {
    // corpus rows land in their single best cell
    val c = withNorm(repartitioned(corpus), idCol, vecCol, "c_")
      .withColumn("cell", sort_array(cellSims(col("c_v"), cents), asc = false)(0)("cell"))
    // queries probe their nProbe best cells
    val q = withNorm(queries, idCol, vecCol, "q_")
      .withColumn("cell",
        explode(slice(transform(sort_array(cellSims(col("q_v"), cents), asc = false),
          s => s("cell")), 1, nProbe)))
    val rank = row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id")))
    broadcast(q).join(c, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        simCol("q_", "c_").as("sim"))
      .withColumn("rank", rank)
      .filter(col("rank") <= k)
  }

  /**
   * SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): drop documents whose
   * EMBEDDINGS are near-identical — semantic duplicates (translations,
   * templated rewrites, near-copies) that survive lexical dedup.
   *
   * The SemDeDup approximation: assign every vector to its max-dot
   * cluster (centroids as broadcast literals — no shuffle for the
   * assignment), compare pairs only WITHIN a cluster, connect the
   * ≥ `threshold` pairs, and keep each duplicate cluster's min-id member
   * plus every unpaired row ([[Dedup.deduplicate]]). Quadratic work is
   * confined per cell — at web scale pick enough k-means centroids
   * ([[trainIvfCentroids]]) that cells stay ~10⁴ rows; the one shuffle
   * is on the small cell int.
   */
  def semDedup(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      cents: Array[Array[Double]]): DataFrame = {
    def side(prefix: String, df: DataFrame) =
      withNorm(df, idCol, vecCol, prefix)
        .withColumn("cell",
          sort_array(cellSims(col(s"${prefix}v"), cents), asc = false)(0)("cell"))
    val pairs = side("a_", repartitioned(vectors)).join(side("b_", vectors), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(simCol("a_", "b_") >= threshold)
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
    Dedup.deduplicate(vectors, idCol, pairs)
  }

  /**
   * Distributed Lloyd k-means for the IVF cell centroids (the "train"
   * step the seed planes stand in for). Per iteration: assign every
   * vector to its max-dot centroid (broadcast literals, no shuffle of
   * the vectors), then recompute each cell's mean in ONE hash
   * aggregation — `Summarizer.sum` gives element-wise partial sums, so
   * only nCells × dim doubles cross the wire regardless of corpus size.
   * Deterministic end to end: MD5-seeded init, deterministic
   * assignment ties (lower cell id wins), empty cells keep their
   * previous centroid. Centroids (KBs) live on the driver — that is
   * the IVF design, not a scale compromise.
   */
  def trainIvfCentroids(
      vectors: DataFrame,
      vecCol: String,
      nCells: Int,
      dim: Int,
      iters: Int = 5): Array[Array[Double]] = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val data = repartitioned(vectors)
      .select(col(vecCol).cast("array<double>").as("v"))
      .cache()
    var cents = planes(nCells, dim)
    try {
      for (_ <- 0 until iters) {
        val stats = data
          .withColumn("cell", sort_array(cellSims(col("v"), cents), asc = false)(0)("cell"))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"),
            vector_to_array(org.apache.spark.ml.stat.Summarizer
              .sum(array_to_vector(col("v")))).as("s"))
          .collect()
        val next = cents.map(_.clone())
        stats.foreach { r =>
          val cell = r.getInt(0)
          val n = r.getLong(1).toDouble
          next(cell) = r.getSeq[Double](2).map(_ / n).toArray
        }
        cents = next
      }
      cents
    } finally { data.unpersist(); () }
  }

  /**
   * Per-DIMENSION statistics of an embedding column — the sanity panel a
   * pipeline renders before trusting a new embedding drop (a dead
   * dimension, a scale blow-up, or a NaN-poisoned shard shows up here
   * first). Output: one row per dimension with `n, sum_v, mean, min_v,
   * max_v, std` (std via the sum/sum-of-squares identity, ddof = 1, so
   * every value derives from plain sums and an external SQL oracle
   * reproduces it bit-for-bit up to summation association).
   *
   * Scale shape: ONE aggregation pass, no explode — `Summarizer` keeps
   * a dim-length buffer per task and merges map-side, so only
   * `numPartitions × dim` doubles cross the wire regardless of corpus
   * size (the posexplode at the end unnests a SINGLE dim-length row).
   * The naive `posexplode(v)` + groupBy(dim) spelling shuffles N × dim
   * rows — 64× the corpus — and is the anti-pattern this replaces.
   */
  def dimensionStats(vectors: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val v = array_to_vector(col(vecCol).cast("array<double>"))
    val agg = vectors
      .select(v.as("vv"),
        array_to_vector(transform(col(vecCol).cast("array<double>"),
          x => x * x)).as("vv2"))
      .agg(
        Summarizer.metrics("sum", "min", "max", "count").summary(col("vv"))
          .as("s"),
        Summarizer.sum(col("vv2")).as("sq"))
      .select(
        vector_to_array(col("s.sum")).as("sums"),
        vector_to_array(col("s.min")).as("mins"),
        vector_to_array(col("s.max")).as("maxs"),
        col("s.count").as("n"),
        vector_to_array(col("sq")).as("sumsqs"))
    agg
      .select(posexplode(col("sums")).as(Seq("dim", "sum_v")), col("mins"),
        col("maxs"), col("n"), col("sumsqs"))
      .select(
        col("dim").cast("long").as("dim"),
        col("n"),
        round(col("sum_v"), 6).as("sum_v"),
        round(col("sum_v") / col("n"), 6).as("mean"),
        round(element_at(col("mins"), col("dim") + 1), 6).as("min_v"),
        round(element_at(col("maxs"), col("dim") + 1), 6).as("max_v"),
        // n = 1 guard: the numerator is exactly 0 there, so the naive
        // spelling is 0/0 = NaN, not a sample std of 0
        round(when(col("n") > 1, sqrt(greatest(
          (element_at(col("sumsqs"), col("dim") + 1) -
            col("sum_v") * col("sum_v") / col("n")) / (col("n") - 1),
          lit(0.0)))).otherwise(lit(0.0)), 6).as("std"))
  }

  /**
   * SEMANTIC decontamination report — the embedding-space complement of
   * the n-gram [[Dedup.contamination]]: flag corpus documents whose
   * embedding is within cosine `threshold` of ANY benchmark/eval-set
   * vector (paraphrased or translated test questions that share no
   * 8-gram with the original slip the lexical net; they do not slip
   * this one). Emits one row per contaminated corpus id with its
   * BEST-matching benchmark id (ties at equal similarity break toward
   * the lower bench id, deterministically).
   *
   * Scale shape: the benchmark side is eval sets — thousands of rows,
   * KBs–MBs — so it is **broadcast** and the corpus never shuffles; the
   * per-corpus-row argmax is a partial-aggregable `max(struct)` (no
   * window over a corpus-wide partition). For a benchmark too large to
   * broadcast, route both sides through [[ivfTopKWith]] cells instead.
   */
  def contaminationReport(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "c_")
    val b = withNorm(bench, idCol, vecCol, "b_")
    c.crossJoin(broadcast(b))
      .select(col("c_id"), col("b_id"), simCol("c_", "b_").as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("c_id"))
      .agg(max(struct(col("sim").as("sim"), (-col("b_id")).as("nb"))).as("best"))
      .select(col("c_id").as("id"), (-col("best")("nb")).as("bench_id"),
        round(col("best")("sim"), 6).as("sim"))
  }

  /**
   * Prototype-based pruning (Sorscher et al. 2022, "Beyond neural
   * scaling laws: beating power law scaling via data pruning"; the
   * "SSL prototypes" metric also used by D4): within each embedding
   * cluster, the vectors MOST similar to their cluster centroid are the
   * most prototypical — and at web scale the least informative — so
   * drop the top `dropFrac` fraction per cell. Complements [[semDedup]]
   * (which removes near-DUPLICATE pairs; this thins dense typical
   * regions even when no pair is a near-dup).
   *
   * Output: every input id with its cell, `round(proto_sim, 6)` and a
   * `kept` flag — callers filter `kept` for the pruned corpus; emitting
   * the flag keeps the drop auditable. Deterministic end to end:
   * centroid assignment ties break toward the higher cell (the
   * [[cellSims]] contract), rank ties toward the lower id.
   *
   * Scale shape: centroids are broadcast literals (the IVF design), so
   * assignment is map-only; the per-cell rank is a window PARTITIONED
   * by cell — pick `cents` large enough that cells stay ~10⁴–10⁶ rows
   * ([[trainIvfCentroids]]), and the sort stays in-executor.
   */
  def prototypePrune(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]],
      dropFrac: Double): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac <= 1.0, s"dropFrac $dropFrac")
    val centNorms = array(cents.toIndexedSeq.map(c =>
      lit(math.sqrt(c.map(x => x * x).sum))): _*)
    val v = withNorm(repartitioned(vectors), idCol, vecCol, "")
      .withColumn("best", sort_array(cellSims(col("v"), cents), asc = false)(0))
      .withColumn("cell", col("best")("cell"))
      .withColumn("proto_sim",
        col("best")("s") / (col("n") * element_at(centNorms, col("cell") + 1)))
    val w = Window.partitionBy(col("cell"))
    val byProto = w.orderBy(col("proto_sim").desc, col("id"))
    v.withColumn("rn", row_number().over(byProto))
      .withColumn("n_cell", count(lit(1)).over(w))
      .select(col("id"), col("cell").cast("long").as("cell"),
        round(col("proto_sim"), 6).as("proto_sim"),
        (col("rn") > ceil(col("n_cell") * dropFrac)).as("kept"))
  }

  /**
   * CONTRASTIVE pair mining for embedding-model training data: from
   * within-cell candidate pairs, emit `pos` pairs (near-duplicates /
   * paraphrases, sim ≥ `posThreshold`) and `hard_neg` pairs (same
   * semantic neighborhood but NOT duplicates, sim ∈ [`negLo`, `negHi`))
   * — the in-batch-negatives recipe's hard tail. Random negatives are
   * cheap anywhere; HARD negatives are exactly the same-cell pairs a
   * random sampler almost never draws, which is why mining rides the
   * cell structure.
   *
   * Scale shape: identical to [[semDedup]]'s — centroid assignment from
   * broadcast literals (map-only), ONE shuffle on the small cell int,
   * quadratic candidate work confined per cell (size cells via
   * [[trainIvfCentroids]]). Pairs outside both bands are dropped before
   * anything downstream sees them.
   */
  def minePairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]],
      posThreshold: Double,
      negLo: Double,
      negHi: Double): DataFrame = {
    require(negLo <= negHi && negHi <= posThreshold,
      s"bands must not overlap: neg [$negLo, $negHi) vs pos >= $posThreshold")
    def side(prefix: String, df: DataFrame) =
      withNorm(df, idCol, vecCol, prefix)
        .withColumn("cell",
          sort_array(cellSims(col(s"${prefix}v"), cents), asc = false)(0)("cell"))
    side("a_", repartitioned(vectors)).join(side("b_", vectors), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id").as("id_a"), col("b_id").as("id_b"),
        col("cell"), simCol("a_", "b_").as("sim"))
      .withColumn("pair_type",
        when(col("sim") >= posThreshold, lit("pos"))
          .when(col("sim") >= negLo && col("sim") < negHi, lit("hard_neg")))
      .filter(col("pair_type").isNotNull)
      .select(col("id_a"), col("id_b"), col("cell").cast("long").as("cell"),
        round(col("sim"), 6).as("sim"), col("pair_type"))
  }

  /**
   * STANDARDIZE an embedding column (per-dimension z-score) — the
   * feature-preprocessing mate of [[dimensionStats]]: one stats pass
   * (the same Summarizer shape — dim-length task buffers, map-side
   * merge), the 1-row mean/std arrays broadcast back, and a MAP-ONLY
   * `(x − μ)/σ` transform; a dead dimension (σ = 0) maps to 0 rather
   * than NaN-poisoning downstream cosines. Values round to 6dp for
   * cross-engine hash stability (q124's oracle derives μ/σ from the
   * same plain sums).
   */
  def standardize(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val v = col(vecCol).cast("array<double>")
    val stats = vectors
      .select(array_to_vector(v).as("vv"),
        array_to_vector(transform(v, x => x * x)).as("vv2"))
      .agg(Summarizer.metrics("sum", "count").summary(col("vv")).as("s"),
        Summarizer.sum(col("vv2")).as("sq"))
      .select(vector_to_array(col("s.sum")).as("__sums"),
        col("s.count").as("__n"), vector_to_array(col("sq")).as("__sumsqs"))
      .select(
        transform(col("__sums"), s => s / col("__n")).as("__mean"),
        zip_with(col("__sums"), col("__sumsqs"), (s, s2) =>
          when(col("__n") > 1, sqrt(greatest(
            (s2 - s * s / col("__n")) / (col("__n") - 1), lit(0.0))))
            .otherwise(lit(0.0))).as("__sd"))
    vectors.crossJoin(broadcast(stats))
      .select(col(idCol),
        transform(v, (x, i) => {
          val m = element_at(col("__mean"), i + 1)
          val sd = element_at(col("__sd"), i + 1)
          round(when(sd > 0, (x - m) / sd).otherwise(lit(0.0)), 6)
        }).as("z"))
  }

  /**
   * Near-dup RECALL report — the offline evaluation that tunes an LSH
   * configuration before trusting it at corpus scale: exact quadratic
   * truth ([[cosineNearDupPairs]]) vs the bucketed candidate path
   * ([[cosineNearDupPairsBucketed]]) on the SAME (sampled) input, one
   * row of exact counts + integer-ppm recall. Precision is 1 by
   * construction (the bucketed path verifies true cosine), so the one
   * number that matters is recall — run per candidate `numPlanes` and
   * pick the cheapest config above the recall bar. Quadratic truth is
   * the point, not a scale bug: this runs on an eval SAMPLE.
   */
  def lshRecallReport(
      vectors: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numPlanes: Int, dim: Int): DataFrame = {
    val truth = cosineNearDupPairs(vectors, idCol, vecCol, threshold)
      .select(col("id_a"), col("id_b"))
    val found = cosineNearDupPairsBucketed(vectors, idCol, vecCol, threshold,
        numPlanes, dim)
      .select(col("id_a"), col("id_b"))
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .select(col("n_true"), col("n_found"),
        when(col("n_true") === 0, lit(1000000L))
          .otherwise(expr("n_found * 1000000 div n_true")).as("recall_ppm"))
  }

  /**
   * Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998) — the
   * DIVERSITY pass serving stacks run on a retrieved candidate list:
   * greedily pick `argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`, so
   * near-duplicate hits (which ANN over a deduplicated-imperfectly
   * corpus returns in runs) don't crowd out the k slots. λ = 1 is pure
   * relevance order; λ = 0 pure diversity.
   *
   * Input is a CANDIDATE table `(queryCol, idCol, simCol, vecCol)` from
   * any retrieval tier (e.g. [[bruteForceTopK]]/[[lshTopK]] output
   * joined back to vectors). Per query the candidates collect into one
   * aggregation buffer (bounded by the candidate count N — a serving
   * constant, ~10²) and the greedy loop runs in the finish step:
   * O(N²·dim) per query, shuffled only on the query key. Deterministic:
   * candidates sort by (sim DESC, id) before the loop and score ties
   * break toward the lower id.
   */
  def mmrRerank(
      cands: DataFrame, queryCol: String, idCol: String, simCol: String,
      vecCol: String, lambda: Double, k: Int): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"lambda $lambda")
    require(k >= 1, s"k $k")
    val pick = udf((rows: Seq[org.apache.spark.sql.Row]) => {
      val cs = rows.map { r =>
        (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray)
      }.sortBy { case (id, sim, _) => (-sim, id) }
      val norms = cs.map { case (_, _, v) =>
        math.sqrt(v.map(x => x * x).sum) }
      def cos(i: Int, j: Int): Double = {
        val (a, b) = (cs(i)._3, cs(j)._3)
        var s = 0.0; var d = 0
        while (d < a.length) { s += a(d) * b(d); d += 1 }
        s / (norms(i) * norms(j))
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      val used = Array.fill(cs.length)(false)
      while (selected.length < math.min(k, cs.length)) {
        var bestI = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cs.length) {
          if (!used(i)) {
            var maxSel = 0.0
            selected.foreach { case (s, _) =>
              val c = cos(i, s); if (c > maxSel) maxSel = c }
            val score = lambda * cs(i)._2 -
              (1 - lambda) * (if (selected.isEmpty) 0.0 else maxSel)
            // strict > keeps the earliest (highest-sim, lowest-id) on ties
            if (score > bestScore) { bestScore = score; bestI = i }
          }
          i += 1
        }
        used(bestI) = true
        selected += ((bestI, bestScore))
      }
      selected.toSeq.zipWithIndex.map { case ((i, sc), rank) =>
        (rank + 1, cs(i)._1, math.rint(sc * 1e6) / 1e6)
      }
    })
    cands
      .groupBy(col(queryCol))
      .agg(collect_list(struct(col(idCol).cast("long"),
        col(simCol).cast("double"), col(vecCol).cast("array<double>")))
        .as("__c"))
      .select(col(queryCol), explode(pick(col("__c"))).as("__r"))
      .select(col(queryCol), col("__r")("_1").as("rank"),
        col("__r")("_2").as(idCol), col("__r")("_3").as("mmr"))
  }

  /** Spread a (typically single-file) input across the session's
   * parallelism for CPU-bound pair scans. */
  private def repartitioned(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
