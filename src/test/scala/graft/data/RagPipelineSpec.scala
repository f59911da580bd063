package graft.data

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The RAG capstone composition (q83): token-window chunking ->
 * deterministic hash embedding -> versioned index publish -> hybrid
 * BM25+ANN retrieval with RRF — plus the embedding primitive's
 * engine-portability contract, and the serve-while-rebuild behavior
 * none of the single-operator specs exercises end to end.
 */
class RagPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h28(w: String): Long =
    java.lang.Long.parseLong(md5hex(w).take(7), 16)

  private def chunksOf(d: DataFrame): DataFrame =
    Corpus.chunkDocuments(d, "doc_id", "text", chunkTokens = 32, overlap = 8)
      .select((col("doc_id") * 100 + col("chunk_id") + 1).as("id"),
        col("chunk_text").as("text"))

  private def embed(ch: DataFrame): DataFrame =
    ch.withColumn("__hs", Similarity.tokenHashes(col("text")))
      .select(col("id"), Similarity.hashEmbed(col("__hs"), 64).as("v"))

  test("hashEmbed: exact integer-sum coordinates, reproducible off-engine") {
    val got = Seq((1L, "  Alpha BETA  ")).toDF("id", "text")
      .withColumn("hs", Similarity.tokenHashes(col("text")))
      .select(Similarity.hashEmbed(col("hs"), 4)).as[Seq[Double]].head()
    // the documented spelling, computed by hand: per dim j the integer
    // sum over tokens of (h*(2j+1) + (7919j+13)) mod 2001 - 1000, /1000
    val toks = Seq("alpha", "beta")
    val want = (0 until 4).map { j =>
      toks.map(w => (h28(w) * (2 * j + 1) + (7919 * j + 13)) % 2001 - 1000)
        .sum / 1000.0
    }
    assert(got === want)
    // determinism + shape on real text
    val e = embed(chunksOf(docs))
    val twice = embed(chunksOf(docs))
    assert(e.select("v").as[Seq[Double]].head().length === 64)
    assert(e.exceptAll(twice).count() === 0L)
    // every coordinate bounded by |tokens| (each term is in [-1, 1])
    val viol = embed(chunksOf(docs))
      .join(chunksOf(docs), "id")
      .select(col("v"), size(TextFunctions.tokens(col("text"))).as("n"))
      .filter(exists(col("v"), x => abs(x) > col("n")))
    assert(viol.count() === 0L)
    // native expression bit-equal to the composable oracle-reference twin
    val diff = chunksOf(docs)
      .withColumn("__hs", Similarity.tokenHashes(col("text")))
      .select(Similarity.hashEmbed(col("__hs"), 64).as("native"),
        Similarity.hashEmbedComposable(col("__hs"), 64).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(diff.count() === 0L)
  }

  test("end-to-end: publish, serve from loaded snapshot, republish swaps answers") {
    val cb = Pq.seedCodebook(8, 16, 8)
    val coarse = Similarity.planes(8, 64)
    val chunks = chunksOf(docs)
    val emb = embed(chunks)
    val qChunks = Corpus.chunkDocuments(docs.filter(col("doc_id") < 3),
        "doc_id", "text", chunkTokens = 32, overlap = 8)
      .filter(col("chunk_id") === 0)
      // negative query ids — disjoint from the >= 1 chunk keys, so the
      // searcher's self-exclusion can never drop a real chunk
      .select((-(col("doc_id") + 1)).as("id"), col("chunk_text").as("text"))
    val qEmb = embed(qChunks)

    val idxDir = tempDir("rag_e2e")
    // v1: an index over only the odd chunk keys (a half-built corpus)
    assert(Pq.saveIndexVersioned(
      Pq.buildIndex(emb.filter(col("id") % 2 === 1), "id", "v", coarse, cb),
      idxDir) === 1L)
    val sem1 = Pq.searchIndex(Pq.loadIndexVersioned(spark, idxDir)._2,
        qEmb, "id", "v", k = 20, nProbe = 2)
      .select(col("neighbor_id").cast("long")).as[Long].collect()
    assert(sem1.nonEmpty && sem1.forall(_ % 2 == 1))

    // offline republish over the full corpus; the pointer flips to v2
    assert(Pq.saveIndexVersioned(
      Pq.buildIndex(emb, "id", "v", coarse, cb), idxDir) === 2L)
    val (v, idx) = Pq.loadIndexVersioned(spark, idxDir)
    assert(v === 2L)

    def canon(df: DataFrame) = df
      .select(col("query_id").cast("long"), col("rank"),
        col("neighbor_id").cast("long"), round(col("score"), 9))
      .collect().map(_.toString).sorted.toSeq
    // the loaded snapshot answers exactly like the direct (no-index) path
    val viaIndex = Pq.searchIndex(idx, qEmb, "id", "v", k = 20, nProbe = 2)
    val direct = Pq.ivfPqTopK(qEmb, emb, "id", "v", k = 20, nProbe = 2,
      coarse, cb)
    assert(canon(viaIndex) === canon(direct))

    // hybrid fusion over the served snapshot: exactly 5 ranked rows per
    // query, and a doc in both tiers carries the two-term RRF score
    val lex = Bm25.bm25TopK(chunks, qChunks, "id", "text", k = 20)
    val fused = Bm25.rrfFuse(lex, viaIndex, k = 5).cache()
    val perQuery = fused.groupBy("query_id")
      .agg(count(lit(1)).as("c"), collect_set("rank").as("rs"))
      .as[(Long, Long, Seq[Int])].collect()
    assert(perQuery.map(_._1).sorted.toSeq === Seq(-3L, -2L, -1L))
    assert(perQuery.forall(r => r._2 === 5L && r._3.sorted == (1 to 5)))
    val both = lex.select(col("query_id"), col("neighbor_id"), col("rank").as("ra"))
      .join(viaIndex.select(col("query_id"), col("neighbor_id"), col("rank").as("rb")),
        Seq("query_id", "neighbor_id"))
      .join(fused, Seq("query_id", "neighbor_id"))
      .select((col("score") - (lit(1.0) / (lit(60) + col("ra")) +
        lit(1.0) / (lit(60) + col("rb")))).as("d"))
      .filter(abs(col("d")) > 1e-12)
    assert(both.count() === 0L)

    // each query's identical twin chunk (doc d chunk 0 = key 100d+1,
    // with d = -query_id - 1) is retrieved by the lexical tier
    val twins = lex.filter(col("neighbor_id") ===
        (-col("query_id") - 1) * 100 + 1)
      .select(col("query_id")).as[Long].collect().toSet
    assert(twins === Set(-1L, -2L, -3L))
  }
}
