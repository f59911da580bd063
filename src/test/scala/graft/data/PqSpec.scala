package graft.data

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Product quantization: encode/ADC semantics, native-vs-composable
 * bit-equality, and recall gates vs the exact brute-force twin on the
 * driver-generated sf0.01 embeddings (near-orthogonal — the same hard
 * retrieval set RecallSpec documents; floors are empirical with margin,
 * teeth shown by a deliberately tiny codebook).
 */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  private lazy val queries = emb.filter($"vec_id" < 20)

  private lazy val seed = Pq.seedCodebook(8, 16, 8)
  private lazy val trained = Pq.trainCodebook(emb, "v", 8, 16, 64, iters = 5)
  private lazy val tiny = Pq.seedCodebook(8, 2, 8)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .as[(Long, Long)].collect().toSet

  private lazy val exactTop3 =
    pairs(Similarity.bruteForceTopK(queries, emb, "vec_id", "v", k = 3))

  private def recall(approx: Set[(Long, Long)]): Double =
    (approx & exactTop3).size.toDouble / exactTop3.size

  /** `v` minus the centroid of the cell `buildIndex` assigns it: the
   * vectors that `residual = true` encodes. */
  private def residuals(coarse: Array[Array[Double]]): DataFrame = {
    val cells = Pq.buildIndex(emb, "vec_id", "v", coarse, seed).rows
      .select(col("c_id").as("vec_id"), col("cell"))
    emb.join(cells, "vec_id").select(col("vec_id"), zip_with(col("v"),
      element_at(typedLit(coarse.map(_.toSeq).toSeq), col("cell") + 1),
      (a, b) => a - b).as("v"))
  }

  /** Mean |ADC score − true inner product| over queries × corpus. */
  private def quantErr(cb: Pq.Codebook): Double = {
    val q = queries.select(col("v").as("q_v"), Pq.lutFor(col("v"), cb).as("lut"))
    val c = emb.select(col("v").as("c_v"), Pq.encode(col("v"), cb).as("codes"))
    q.crossJoin(c)
      .select(abs(Pq.adcScore(col("codes"), col("lut")) -
        Similarity.dotNative(col("q_v"), col("c_v"))).as("e"))
      .agg(avg("e")).as[Double].head()
  }

  test("encode: one in-range code per subspace, deterministic") {
    val codes = emb.select(col("vec_id"), Pq.encode(col("v"), seed).as("c"))
      .as[(Long, Seq[Int])].collect()
    assert(codes.length === 500)
    assert(codes.forall(_._2.length == 8))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 16)))
    val again = emb.select(col("vec_id"), Pq.encode(col("v"), seed).as("c"))
      .as[(Long, Seq[Int])].collect()
    assert(codes.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("pq_encode native expression equals the composable spelling on every row") {
    val df = emb.select(col("vec_id"),
        Pq.encode(col("v"), seed).as("native"),
        Pq.encodeComposable(col("v"), seed).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(df.count() === 0L)
  }

  test("pq_adc native expression is bit-identical to the composable spelling") {
    val df = queries.select(Pq.lutFor(col("v"), seed).as("lut"),
        Pq.encode(col("v"), seed).as("codes"))
      .select(Pq.adcScore(col("codes"), col("lut")).as("native"),
        aggregate(zip_with(col("codes"), col("lut"),
          (c, row) => element_at(row, c + lit(1))), lit(0.0), _ + _).as("composed"))
    assert(df.filter(col("native") =!= col("composed")).count() === 0L)
  }

  test("trained codebook cuts quantization error: trained < seed < tiny") {
    val (et, es, ey) = (quantErr(trained), quantErr(seed), quantErr(tiny))
    info(f"mean |ADC - dot|: trained=$et%.4f seed=$es%.4f tiny=$ey%.4f")
    assert(et < es, "Lloyd-trained codebook must beat the MD5 seed codebook")
    assert(es < ey, "16-code codebook must beat a 2-code one")
  }

  test("two-stage refine recall@3 >= 0.6 with trained codebook; tiny codebook has teeth") {
    val good = recall(pairs(
      Pq.pqTopK(queries, emb, "vec_id", "v", k = 3, trained, refine = 50)))
    val bad = recall(pairs(
      Pq.pqTopK(queries, emb, "vec_id", "v", k = 3, tiny, refine = 50)))
    info(f"refine=50 recall@3: trained=$good%.3f tiny=$bad%.3f")
    assert(good >= 0.6, f"trained refine recall $good%.3f below 0.6 floor")
    assert(bad < 0.6, "degraded codebook should fall below the gate")
  }

  test("exact re-rank lifts recall over raw ADC ranking") {
    val raw = recall(pairs(
      Pq.pqTopK(queries, emb, "vec_id", "v", k = 3, trained)))
    val refined = recall(pairs(
      Pq.pqTopK(queries, emb, "vec_id", "v", k = 3, trained, refine = 50)))
    info(f"recall@3: adc-only=$raw%.3f refined=$refined%.3f")
    assert(refined > raw, "refine stage must improve over ADC-order top-k")
  }

  test("residual-path encode: native equals composable on residual vectors too") {
    // the residuals are the exact input ivfPqTopK(residual = true)
    // encodes — pin the native/composable twins on THAT distribution so
    // the two spellings can't drift on the path q62e exercises
    val coarse = Similarity.planes(8, 64)
    val resid = residuals(coarse)
    for (cb <- Seq(seed, tiny)) {
      val diff = resid.select(
          Pq.encode(col("v"), cb).as("native"),
          Pq.encodeComposable(col("v"), cb).as("composed"))
        .filter(col("native") =!= col("composed"))
      assert(diff.count() === 0L)
    }
  }

  test("broadcastQueries=false returns identical rows to the broadcast path") {
    def canon(df: DataFrame) = df
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank"), round(col(df.columns.find(c => c == "score" || c == "sim").get), 9))
      .collect().map(_.toString).sorted.toSeq
    val coarse = Similarity.planes(8, 64)
    assert(canon(Pq.pqTopK(queries, emb, "vec_id", "v", k = 3, seed, refine = 10)) ===
      canon(Pq.pqTopK(queries, emb, "vec_id", "v", k = 3, seed, refine = 10,
        broadcastQueries = false)))
    assert(canon(Pq.sqTopK(queries, emb, "vec_id", "v", k = 3)) ===
      canon(Pq.sqTopK(queries, emb, "vec_id", "v", k = 3, broadcastQueries = false)))
    assert(canon(Pq.ivfPqTopK(queries, emb, "vec_id", "v", k = 3, nProbe = 2,
        coarse, seed, residual = true)) ===
      canon(Pq.ivfPqTopK(queries, emb, "vec_id", "v", k = 3, nProbe = 2,
        coarse, seed, residual = true, broadcastQueries = false)))
    assert(canon(Similarity.lshTopK(queries, emb, "vec_id", "v", k = 3,
        numPlanes = 6, dim = 64, numTables = 2)) ===
      canon(Similarity.lshTopK(queries, emb, "vec_id", "v", k = 3,
        numPlanes = 6, dim = 64, numTables = 2, broadcastQueries = false)))
    assert(canon(Similarity.bruteForceTopK(queries, emb, "vec_id", "v", k = 3)) ===
      canon(Similarity.bruteForceTopK(queries, emb, "vec_id", "v", k = 3,
        broadcastQueries = false)))
  }

  test("trainCodebook is deterministic across runs") {
    val again = Pq.trainCodebook(emb, "v", 8, 16, 64, iters = 5)
    assert(trained.flatten.flatten.toSeq === again.flatten.flatten.toSeq)
  }

  test("residual encoding (IVFADC) beats plain IVF-PQ when trained on residuals") {
    // true IVFADC needs BOTH trained parts: k-means coarse centroids
    // (residuals are only small w.r.t. real centroids) and a PQ codebook
    // fit on the residual distribution. q62e's seed-plane configuration
    // is a value pin, not a recall configuration.
    val coarse = Similarity.trainIvfCentroids(emb, "v", nCells = 8, dim = 64, iters = 3)
    val cbResid = Pq.trainCodebook(residuals(coarse), "v", 8, 16, 64, iters = 5)
    def rec(cb: Pq.Codebook, residual: Boolean) = recall(pairs(
      Pq.ivfPqTopK(queries, emb, "vec_id", "v", k = 3, nProbe = 4,
        coarse = coarse, cb = cb, residual = residual)))
    val plain = rec(trained, residual = false)
    val resid = rec(cbResid, residual = true)
    info(f"ivfpq recall@3 (k-means coarse, nProbe=4): plain=$plain%.3f residual=$resid%.3f")
    assert(resid >= plain,
      "residuals quantize finer at the same bytes — recall must not drop")
  }

  test("index round-trip: build -> save -> load -> search == direct ivfPqTopK") {
    val coarse = Similarity.planes(8, 64)
    for (residual <- Seq(false, true)) {
      val dir = tempDir("pq_index")
      val idx = Pq.buildIndex(emb, "vec_id", "v", coarse, seed, residual)
      Pq.saveIndex(idx, dir)
      val loaded = Pq.loadIndex(spark, dir)
      assert(loaded.residual === residual)
      assert(loaded.coarse.flatten.toSeq === coarse.flatten.toSeq)
      assert(loaded.cb.flatten.flatten.toSeq === seed.flatten.flatten.toSeq)
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 9))
        .collect().map(_.toString).sorted.toSeq
      val viaIndex = canon(Pq.searchIndex(loaded, queries, "vec_id", "v",
        k = 3, nProbe = 2))
      val direct = canon(Pq.ivfPqTopK(queries, emb, "vec_id", "v", k = 3,
        nProbe = 2, coarse, seed, residual))
      assert(viaIndex === direct, s"residual=$residual")
    }
  }

  test("pruneVersions: GC old versions, retained snapshot keeps answering") {
    val coarse = Similarity.planes(8, 64)
    val dir = tempDir("pq_prune")
    def publish(corpus: org.apache.spark.sql.DataFrame): Long =
      Pq.saveIndexVersioned(
        Pq.buildIndex(corpus, "vec_id", "v", coarse, seed), dir)
    assert(publish(emb.filter($"vec_id" < 100)) === 1L)
    assert(publish(emb.filter($"vec_id" < 200)) === 2L)
    // a reader loads v2 while it is still the published version…
    val oldReader = Pq.loadIndex(spark, s"$dir/v2")
    assert(publish(emb) === 3L)
    // keep=1 retains the pointer (v3) plus one older version (v2): only
    // v1 is dropped
    assert(Versioned.pruneVersions(spark, dir, keep = 1) === Seq(1L))
    assert(!new java.io.File(s"$dir/v1").exists())
    // the in-flight reader on the retained old version still answers
    assert(Pq.searchIndex(oldReader, queries, "vec_id", "v", k = 3, nProbe = 2)
      .count() > 0L)
    // and the published pointer is untouched
    val (v, idx) = Pq.loadIndexVersioned(spark, dir)
    assert(v === 3L)
    assert(idx.rows.count() === 500L)
    // pruning again is a no-op; keep=0 drops v2 as well
    assert(Versioned.pruneVersions(spark, dir, keep = 1) === Seq.empty)
    assert(Versioned.pruneVersions(spark, dir, keep = 0) === Seq(2L))
    assert(Pq.loadIndexVersioned(spark, dir)._1 === 3L)
  }

  test("Versioned.publish never clobbers an existing version (orphan skipped)") {
    val dir = tempDir("pq_race")
    val idx = Pq.buildIndex(emb.filter($"vec_id" < 50), "vec_id", "v",
      Similarity.planes(8, 64), seed)
    assert(Pq.saveIndexVersioned(idx, dir) === 1L)
    // a v2 already landed but its pointer flip never happened (a crashed
    // publisher): the next publish must neither clobber it nor wedge —
    // it skips to v3 and leaves the orphan untouched
    assert(new java.io.File(s"$dir/v2").mkdirs())
    val marker = new java.io.File(s"$dir/v2/marker")
    assert(marker.createNewFile())
    assert(Pq.saveIndexVersioned(idx, dir) === 3L)
    assert(marker.exists()) // orphan contents untouched
    assert(Pq.latestVersion(spark, dir) === Some(3L))
    assert(Pq.loadIndexVersioned(spark, dir)._1 === 3L)
  }

  test("SQ8 int8 quantization: near-exact recall, tiny dot-product error") {
    val sq = recall(pairs(Pq.sqTopK(queries, emb, "vec_id", "v", k = 3)))
    info(f"sq8 recall@3 = $sq%.3f")
    // per-vector int8 grids quantize unit embeddings to ~0.2%% relative
    // error — far above any codebook method on this corpus
    assert(sq >= 0.9, f"sq8 recall $sq%.3f below 0.9 floor")
    val err = queries.select(col("v").as("q_v"), Pq.sqEncode(col("v")).as("q_sq"))
      .crossJoin(emb.select(col("v").as("c_v"), Pq.sqEncode(col("v")).as("c_sq")))
      .select(abs(Pq.sqDot(col("q_sq"), col("c_sq")) -
        Similarity.dotNative(col("q_v"), col("c_v"))).as("e"))
      .agg(max("e")).as[Double].head()
    info(f"sq8 max |dot error| = $err%.5f")
    assert(err < 0.01, "int8 reconstruction error must stay tiny")
  }

  test("ivfPqTopK: at most k rows per query, self excluded") {
    val out = Pq.ivfPqTopK(queries, emb, "vec_id", "v", k = 3,
        nProbe = 4, coarse = Similarity.planes(8, 64), cb = trained)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank")).as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (q, n, r) => q != n && r >= 1 && r <= 3 })
    assert(out.groupBy(_._1).values.forall(_.length <= 3))
  }
}
