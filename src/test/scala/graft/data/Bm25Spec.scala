package graft.data

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 scoring semantics, RRF fusion, and the broadcast/non-broadcast
 * parity of the lexical retrieval tier. */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "spark shuffle join optimizer"),
    (2L, "spark spark spark spark shuffle"),
    (3L, "quantum entanglement paper"),
    (4L, "join strategies in spark and the optimizer"),
    (5L, "the the the the the the the the")).toDF("doc_id", "text")

  private def topFor(q: String, k: Int = 5,
      broadcastQueries: Boolean = true): Seq[(Long, Double)] =
    Bm25.bm25TopK(corpus, Seq((100L, q)).toDF("doc_id", "text"),
        "doc_id", "text", k, broadcastQueries = broadcastQueries)
      .orderBy(col("rank"))
      .select($"neighbor_id", $"score").as[(Long, Double)].collect().toSeq

  test("rare terms outweigh common ones; non-matching docs are absent") {
    val got = topFor("quantum spark")
    // doc 3 holds the rarest term (df=1) in a 3-token doc -> top
    assert(got.head._1 === 3L)
    // doc 5 shares no query term -> absent entirely
    assert(!got.map(_._1).contains(5L))
    assert(got.map(_._2).sameElements(got.map(_._2).sorted.reverse))
  }

  test("tf saturates (k1): 4x term repetitions < 4x score") {
    val one = topFor("spark").find(_._1 == 1L).get._2
    val four = topFor("spark").find(_._1 == 2L).get._2
    assert(four > one, "more occurrences must still score higher")
    assert(four < 4 * one, "BM25 tf term must saturate, not grow linearly")
  }

  test("length normalization (b): same tf in a longer doc scores lower") {
    val short = topFor("join").find(_._1 == 1L).get._2 // 4 tokens
    val long = topFor("join").find(_._1 == 4L).get._2  // 7 tokens
    assert(short > long)
  }

  test("query term frequency is ignored; scores are order-exact integers") {
    assert(topFor("spark spark spark") === topFor("spark"))
    // micro-unit contract: every score is a whole number of 1e-6 units
    assert(topFor("spark optimizer join").forall { case (_, s) =>
      (s * 1e6).round / 1e6 === s })
  }

  test("broadcastQueries=false: identical rows, no BroadcastExchange") {
    assert(topFor("spark optimizer") === topFor("spark optimizer",
      broadcastQueries = false))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = Bm25.bm25TopK(corpus, corpus.filter($"doc_id" < 2), "doc_id",
          "text", k = 3, broadcastQueries = false)
        .queryExecution.executedPlan.toString
      // the only broadcast allowed is the 1-row (N, avgdl) constants frame
      assert("BroadcastExchange".r.findAllIn(p).size <= 1, p.take(2000))
      assert(!p.contains("BroadcastHashJoin"), p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("maxDfFrac stopword guard: ultra-high-df terms stop contributing") {
    // corpus of 5 docs: "spark" is in 4/5 (df frac 0.8), "optimizer" in 2/5
    val q = Seq((100L, "spark optimizer")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"neighbor_id", $"score").as[(Long, Double)].collect().toSet
    val guarded = rows(Bm25.bm25TopK(corpus, q, "doc_id", "text", k = 5,
      maxDfFrac = 0.5))
    // equals scoring with a query stripped of the stopword term
    val stripped = rows(Bm25.bm25TopK(corpus, q.withColumn("text",
      lit("optimizer")), "doc_id", "text", k = 5))
    assert(guarded === stripped)
    assert(guarded.nonEmpty)
    // and docs matched ONLY via the stopword drop out entirely
    assert(!guarded.map(_._1).contains(2L)) // doc 2 is all "spark"
  }

  test("a duplicated query row scores identically to the single row") {
    val once = Seq((100L, "spark optimizer")).toDF("doc_id", "text")
    val twice = once.union(once)
    def canon(df: DataFrame) = df
      .select($"query_id", $"rank", $"neighbor_id", round($"score", 9))
      .collect().map(_.toString).sorted.toSeq
    // df comes from a window over joined rows — a duplicate row must
    // not inflate it
    assert(canon(Bm25.bm25TopK(corpus, twice, "doc_id", "text", 5)) ===
      canon(Bm25.bm25TopK(corpus, once, "doc_id", "text", 5)))
  }

  private def ranking(rows: (Long, Long, Int)*): DataFrame =
    rows.toSeq.toDF("query_id", "neighbor_id", "rank")

  test("rrfFuse: both-list docs beat single-list docs at comparable ranks") {
    val lex = ranking((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
    val sem = ranking((1L, 11L, 1), (1L, 13L, 2))
    val fused = Bm25.rrfFuse(lex, sem, k = 4)
      .orderBy($"rank").select($"neighbor_id", $"score").as[(Long, Double)]
      .collect().toSeq
    // doc 11: 1/62 + 1/61 beats doc 10's 1/61 alone
    assert(fused.head._1 === 11L)
    assert(math.abs(fused.head._2 - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    // single-list docs carry exactly their one term
    val d13 = fused.find(_._1 == 13L).get._2
    assert(math.abs(d13 - 1.0 / 62) < 1e-12)
    assert(fused.map(_._1).toSet === Set(10L, 11L, 12L, 13L))
  }

  test("rrfFuse keeps queries independent") {
    val lex = ranking((1L, 10L, 1), (2L, 20L, 1))
    val sem = ranking((1L, 10L, 1), (2L, 21L, 1))
    val fused = Bm25.rrfFuse(lex, sem, k = 2)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(fused === Set((1L, 10L, 1), (2L, 20L, 1), (2L, 21L, 2)))
  }

  test("rankingMetrics: hand-computed cut-at-k panel, exact ppm") {
    // q1: rel at ranks 2 and 3 of 3 results, 4 relevant total
    // q2: no relevant retrieved (2 qrels exist)
    // q3: results but NO qrels at all -> n_rel 0, all metrics 0
    val results = ranking(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4), // rank 4 cut
      (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1))
    val qrels = Seq(
      (1L, 11L), (1L, 12L), (1L, 90L), (1L, 91L),
      (1L, 11L), // duplicate qrel collapses
      (2L, 95L), (2L, 96L)).toDF("query_id", "neighbor_id")
    val got = Bm25.rankingMetrics(results, qrels, k = 3)
      .orderBy($"query_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 2L, 666666L, 500000L, 500000L), // p=2/3, r=2/4, rr=1/2
      (2L, 2L, 0L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("rankingMetrics: zero-result qrel queries emit a zero row, not a drop") {
    // q1 retrieved something; q7 is in the qrels but retrieval returned
    // NOTHING for it — dropping it would inflate downstream means, so it
    // must surface as (n_rel=2, hits=0, all metrics 0)
    val results = ranking((1L, 10L, 1))
    val qrels = Seq((1L, 10L), (7L, 70L), (7L, 71L))
      .toDF("query_id", "neighbor_id")
    val got = Bm25.rankingMetrics(results, qrels, k = 2)
      .orderBy($"query_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 1L, 500000L, 1000000L, 1000000L),
      (7L, 2L, 0L, 0L, 0L, 0L)))
  }
}
