package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stupid-backoff trigram LM: planted-count scoring, backoff ladder,
 * quality ordering, and the sampled-fit determinism contract. */
class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  // model corpus: N=6; uni a:2 b:2 c:1 d:1; bi "a b":2 "b c":1 "b d":1;
  // tri "a b c":1 "a b d":1
  private lazy val corpus = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
  private lazy val model = NgramLm.fit(corpus, "doc_id", "text")

  private def micro(x: Double): Double = math.round(math.log(x) * 1e6) / 1e6

  private def scores(docs: Seq[(Long, String)]): Map[Long, Double] =
    NgramLm.scoreDocs(model, docs.toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id", $"logscore").as[(Long, Double)].collect().toMap

  test("fit counts the three orders exactly") {
    assert(model.nTokens === 6L)
    assert(model.uni.as[(String, Long)].collect().toMap ===
      Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
    assert(model.bi.as[(String, Long)].collect().toMap ===
      Map("a b" -> 2L, "b c" -> 1L, "b d" -> 1L))
    assert(model.tri.as[(String, Long)].collect().toMap ===
      Map("a b c" -> 1L, "a b d" -> 1L))
  }

  test("scoring walks the backoff ladder with the planted counts") {
    val got = scores(Seq((10L, "a b c"), (11L, "c a d"), (12L, "z")))
    // "a b c": uni(a)=2/6, bi(a b|a)=2/2, tri(a b c|a b)=1/2
    val fluent = (micro(2.0 / 6) + micro(1.0) + micro(0.5)) / 3
    assert(math.abs(got(10L) - fluent) < 1e-9, got(10L).toString)
    // "c a d": uni(c)=1/6; "c a" unseen -> 0.4*uni(a); "c a d"/"a d"
    // unseen -> 0.16*uni(d)
    val gib = (micro(1.0 / 6) + micro(0.4 * 2 / 6) + micro(0.16 * 1.0 / 6)) / 3
    assert(math.abs(got(11L) - gib) < 1e-9, got(11L).toString)
    // OOV token scores as count 1
    assert(math.abs(got(12L) - micro(1.0 / 6)) < 1e-9)
    // and the quality ordering the filter relies on
    assert(got(10L) > got(11L))
  }

  test("fitSampled is deterministic and a strict subset fit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = NgramLm.fitSampled(docs, "doc_id", "text", fraction = 0.5)
    val b = NgramLm.fitSampled(docs, "doc_id", "text", fraction = 0.5)
    assert(a.nTokens === b.nTokens)
    assert(a.nTokens > 0)
    val full = NgramLm.fit(docs, "doc_id", "text")
    assert(a.nTokens < full.nTokens)
    // same sample -> bit-identical scores
    val q = Seq((900L, "key agg row scan")).toDF("doc_id", "text")
    val sa = NgramLm.scoreDocs(a, q, "doc_id", "text")
      .select($"logscore").as[Double].head()
    val sb = NgramLm.scoreDocs(b, q, "doc_id", "text")
      .select($"logscore").as[Double].head()
    assert(sa === sb)
  }

  test("perplexityBuckets: equal-count terciles, head holds the top scores") {
    // 6 docs: two fluent (repeated in-model phrases), two middling, two
    // gibberish-ish (rare token salad) — 3 buckets of 2
    val docs = Seq(
      (1L, "the model scores the model scores the model scores"),
      (2L, "the model scores the model scores the model again"),
      (3L, "scores appear in the middle of this table today"),
      (4L, "middle table rows appear in scores of the model"),
      (5L, "zxq qqv wvx jjk pqz xxo vvq mmz kkj"),
      (6L, "vvq mmz kkj zxq qqv wvx jjk pqz xxo extra")
    ).toDF("doc_id", "text")
    val model = NgramLm.fit(docs, "doc_id", "text")
    val buckets = NgramLm.perplexityBuckets(model, docs, "doc_id", "text", 3)
      .orderBy($"bucket")
      .select($"bucket", $"n_docs", $"min_logscore", $"max_logscore")
      .as[(Int, Long, Double, Double)].collect()
    assert(buckets.map(_._1).toSeq === Seq(1, 2, 3))
    assert(buckets.map(_._2).toSeq === Seq(2L, 2L, 2L))
    // buckets are descending, non-overlapping score bands
    assert(buckets(0)._3 >= buckets(1)._4)
    assert(buckets(1)._3 >= buckets(2)._4)
    // head bucket holds the corpus-max logscore
    val maxScore = NgramLm.scoreDocs(model, docs, "doc_id", "text")
      .agg(max(round($"logscore", 6))).as[Double].head()
    assert(buckets(0)._4 === maxScore)
    // uneven split: 7 docs over 3 buckets -> first bucket gets the extra
    val seven = docs.union(Seq((7L, "the model appears in the table"))
      .toDF("doc_id", "text"))
    val n7 = NgramLm.perplexityBuckets(NgramLm.fit(seven, "doc_id", "text"),
        seven, "doc_id", "text", 3)
      .orderBy($"bucket").select($"n_docs").as[Long].collect().toSeq
    assert(n7 === Seq(3L, 2L, 2L))
  }
}
