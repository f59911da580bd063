package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Collocation mining ([[Corpus.collocations]]) and quality-preferring
 * survivor selection ([[Dedup.deduplicateBest]]): hand-computed scores,
 * overflow-safe spelling semantics, and best-not-first survivor policy
 * (over hand-built clusters and over connected components).
 */
class CollocationSpec extends SparkSpec {
  import spark.implicits._

  test("collocations: hand-computed discounted lift") {
    // "new york" 4x, "new deal" 1x; c(new)=5, c(york)=4, c(deal)=1, N=16
    val docs = Seq(
      "new york new york is big",
      "new york loves new york",
      "a new deal arrived today").toDF("text")
    val got = Corpus.collocations(docs, "text", minCount = 2L,
        minScorePpm = 0L, discount = 1L)
      .filter(col("w1") === "new")
      .select(col("w1"), col("w2"), col("c_pair"), col("score_ppm"))
      .as[(String, String, Long, Long)].collect().toSet
    // score(new york) = ((4-1)*1e6 div 5) * 16 div 4 = 600000*16 div 4
    assert(got === Set(("new", "york", 4L, 2400000L)))
  }

  test("collocations: a uniform-independence bigram scores near 1e6") {
    // every token distinct -> each bigram count 1; with discount 0 and
    // minCount 1, score = ((1*1e6) div 1) * N div 1 = N*1e6? no: c_1=c_2=1,
    // N=4 -> ((1)*1e6 div 1) * 4 div 1 = 4e6 = N/(c_a c_b) * 1e6 exactly
    val docs = Seq("a b c d").toDF("text")
    val got = Corpus.collocations(docs, "text", minCount = 1L)
      .select(col("score_ppm")).as[Long].collect().toSet
    assert(got === Set(4000000L))
  }

  test("collocations: minCount and discount gates") {
    val docs = Seq("x y x y x y", "p q").toDF("text")
    // c(xy)=3 (plus y-x bridges 2)
    val all = Corpus.collocations(docs, "text", minCount = 3L, discount = 3L)
    // c_pair=3 fails the c_pair > discount strict gate
    assert(all.filter(col("w1") === "x").count() === 0L)
  }

  test("deduplicateBest: best member survives, not the min id") {
    val docs = Seq(
      (1L, "short", 10L), (2L, "a much longer copy", 10L),
      (3L, "unpaired doc", 11L), (4L, "same len A", 12L),
      (5L, "same len B", 12L))
      .toDF("doc_id", "text", "grp")
    // clusters: 1,2 share grp 10; 4,5 share grp 12; 3 alone
    val clusters = docs.select(col("doc_id").as("id"), col("grp").as("cluster"))
    val got = Dedup.deduplicateBest(docs, "doc_id", clusters,
        Seq(length(col("text")).desc, col("doc_id").desc))
      .select(col("doc_id")).as[Long].collect().toSet
    // grp10 -> 2 (longer); grp12 -> 5 (tie on length, max id); 3 unpaired
    assert(got === Set(2L, 3L, 5L))
  }

  test("deduplicateBest: docs without a cluster row always survive") {
    val docs = Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("doc_id", "text")
    val clusters = Seq((1L, 100L), (2L, 100L)).toDF("id", "cluster")
    val got = Dedup.deduplicateBest(docs, "doc_id", clusters,
        Seq(col("doc_id").asc))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got === Set(1L, 3L))
  }

  test("deduplicateBest composes with connectedComponents clusters") {
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 7L), (4L, 1L), (9L, 2L))
      .toDF("doc_id", "quality")
    // pairs chain 1-2-3 into one component; 4 pairs with 9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 9L)).toDF("id_a", "id_b")
    val clusters = Dedup.connectedComponents(pairs)
    val got = Dedup.deduplicateBest(docs, "doc_id", clusters,
        Seq(col("quality").desc, col("doc_id").asc))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got === Set(2L, 9L)) // max quality per component
  }
}
