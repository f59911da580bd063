package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Hot-key stress for the dedup pipeline — the 100 TB failure mode the plan
 * comments argue: a page mirrored tens of thousands of times puts every
 * copy in the same LSH bands (quadratic band join) and the same Jaccard
 * block (one reducer does all the work). These specs pin the two defenses
 * with measured cardinalities, not comments: the exact-first stage caps
 * the band blow-up, and the salted block join spreads a hot block without
 * duplicating or dropping pairs.
 */
class DedupSkewSpec extends SparkSpec {
  import spark.implicits._

  private val hotCopies = 10000
  // 10k exact copies of one "viral page" + 100 mutually-disjoint docs
  // (token ranges [37i, 37i+33] never overlap between docs)
  private lazy val corpus = {
    val dup = (0 until hotCopies).map(i =>
      (i.toLong, "the same viral page text repeated across mirrors " +
        "with enough words to form shingles"))
    val distinct = (0 until 100).map(i =>
      ((hotCopies + i).toLong,
        (0 until 12).map(j => s"tok${i * 37 + j * 3}").mkString(" ")))
    (dup ++ distinct).toDF("doc_id", "text")
  }

  test("without the exact stage, a 300-copy family already joins quadratically") {
    // the blow-up is real: every copy agrees on every band, so the band
    // join emits all C(300,2) pairs — at 10k copies that is 5e7, at 100 TB
    // scale it is the job-killing reducer
    val smallHot = corpus.filter($"doc_id" < 300 || $"doc_id" >= hotCopies)
    val candidates = Dedup.minhashNearDups(smallHot, "doc_id", "text",
      threshold = 0.0).count()
    assert(candidates >= 300L * 299 / 2,
      s"expected >= ${300L * 299 / 2} quadratic candidates, got $candidates")
  }

  test("exact-first stage collapses 10k identical docs before the band join") {
    // the exact-first stage, measured: 10_000 copies -> 1 representative,
    // so the LSH stage sees 101 docs and its candidate count is bounded by
    // C(101,2) = 5050 instead of the ~5e7 the previous test extrapolates to
    val keep = corpus.withColumn("__fp", TextFunctions.fingerprint($"text"))
      .groupBy($"__fp").agg(min($"doc_id").as("doc_id"))
    assert(keep.count() == 101)
    val collapsed = corpus.join(keep.select($"doc_id"), Seq("doc_id"), "left_semi")
    val candidates = Dedup.minhashNearDups(collapsed, "doc_id", "text",
      threshold = 0.0).count()
    assert(candidates <= 101L * 100 / 2, s"candidate blow-up: $candidates")
  }

  test("blocked jaccard salts a hot block; every pair meets exactly once") {
    val docs = corpus.filter($"doc_id" >= hotCopies) // 100 docs, ONE block
    val salted = Dedup.ngramJaccardPairs(docs, "doc_id", "text", lit(0),
      threshold = 0.0, salts = 8)
    val unsalted = Dedup.ngramJaccardPairs(docs, "doc_id", "text", lit(0),
      threshold = 0.0, salts = 1)
    // salting must neither duplicate nor drop any candidate pair
    assert(salted.count() == unsalted.count())
    assert(salted.count() == 100L * 99 / 2)
    // and the hot block's shuffle key carries the salt — the spread
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("__salt"), p.take(2000))
  }
}
