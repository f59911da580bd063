package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * DSIR importance scoring: planted target/raw vocabularies must
 * rank target-like docs first, the smoothing mass must behave, and
 * the integer bookkeeping must be exact.
 */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val B = 64

  // raw corpus: mostly "spam"-vocabulary docs, a few "wiki"-vocabulary
  private val raw = Seq(
    (1L, "wiki article history science reference citation"),
    (2L, "spam casino pills winner lottery jackpot"),
    (3L, "spam casino pills winner lottery jackpot"),
    (4L, "wiki article history science reference citation"),
    (5L, "spam casino pills winner lottery jackpot"),
    (6L, "casino jackpot winner spam pills lottery")
  ).toDF("doc_id", "text")

  private val target = Seq(
    (100L, "wiki article history science reference citation"),
    (101L, "article science citation wiki reference history")
  ).toDF("doc_id", "text")

  test("scoreDocs ranks target-vocabulary docs first") {
    val scores = Dsir.scoreDocs(raw, "doc_id", "text",
        Dsir.fitLogRatios(raw, target, "text", B), B)
      .select($"doc_id", $"mean_micro").as[(Long, Long)].collect().toMap
    // the top 2 by mean ratio (doc id tie-break) are the two wiki docs
    val top2 = scores.toSeq.sortBy { case (id, m) => (-m, id) }.take(2)
    assert(top2.map(_._1).toSet === Set(1L, 4L))
    // and the spam docs carry strictly lower mean scores
    assert(scores(1L) > scores(2L))
    assert(scores(4L) === scores(1L)) // identical text, identical score
  }

  test("fitLogRatios covers every bucket; unseen buckets carry the smoothing ratio") {
    val ratios = Dsir.fitLogRatios(raw, target, "text", B)
    assert(ratios.count() === B.toLong)
    // a bucket unseen in BOTH corpora: lam = ln((Nr+B)/(Nt+B)) micro-floored
    val nR = raw.select(explode(TextFunctions.tokens($"text"))).count()
    val nT = target.select(explode(TextFunctions.tokens($"text"))).count()
    val expected = math.floor(
      (math.log(1.0 / (nT + B)) - math.log(1.0 / (nR + B))) * 1e6).toLong
    val seen = (raw.select(explode(TextFunctions.tokens($"text")).as("t"))
        union target.select(explode(TextFunctions.tokens($"text")).as("t")))
      .select(pmod(TextFunctions.hash60($"t"), lit(B.toLong)).as("b"))
      .distinct().as[Long].collect().toSet
    val unseenLams = ratios.filter(!$"bucket".isin(seen.toSeq: _*))
      .select($"lam_micro").as[Long].collect().toSet
    assert(unseenLams === Set(expected))
  }

  test("scoreDocs: exact token counts and sum-of-products bookkeeping") {
    val ratios = Dsir.fitLogRatios(raw, target, "text", B)
    val lam = ratios.select($"bucket", $"lam_micro").as[(Long, Long)]
      .collect().toMap
    val row = Dsir.scoreDocs(raw, "doc_id", "text", ratios, B)
      .filter($"doc_id" === 2L)
      .select($"n_tokens", $"score_micro", $"mean_micro")
      .as[(Long, Long, Long)].head()
    val toks = "spam casino pills winner lottery jackpot".split(" ")
    assert(row._1 === toks.length.toLong)
    // reference: per-token bucket lookup summed on the driver
    val bucketOf = raw.filter($"doc_id" === 2L)
      .select(explode(TextFunctions.tokens($"text")).as("t"))
      .select(pmod(TextFunctions.hash60($"t"), lit(B.toLong)).as("b"))
      .as[Long].collect()
    assert(row._2 === bucketOf.map(lam).sum)
    assert(row._3 === row._2 / row._1) // negative-safe: both truncate
  }

  test("word-order permutation does not change a doc's score (bag of tokens)") {
    val ratios = Dsir.fitLogRatios(raw, target, "text", B)
    val scores = Dsir.scoreDocs(raw, "doc_id", "text", ratios, B)
      .select($"doc_id", $"score_micro").as[(Long, Long)].collect().toMap
    assert(scores(2L) === scores(6L)) // same tokens, shuffled order
  }
}
