package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Chat templating + loss-masked packing ([[Corpus.chatPromptText]] /
 * [[Corpus.packWithLossMask]]): prompt ⊕ response token counts add up to
 * the rendered example's count, the loss interval covers exactly the
 * response region, and the pack layout agrees with [[Corpus.packSequences]]
 * on the combined counts.
 */
class SftPackSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "epsilon zeta"),
    (3L, "eta theta iota kappa lambda mu nu xi"),
    (4L, ""))
    .toDF("doc_id", "text")

  private lazy val sft = docs.select(col("doc_id"),
    Corpus.chatPromptText(lit("sys"), concat(lit("q: "), col("text"))).as("p"),
    Corpus.chatResponseText(col("text")).as("r"))
    .withColumn("pt", Corpus.chatTokenCount(col("p")))
    .withColumn("rt", Corpus.chatTokenCount(col("r")))

  test("prompt + response token counts equal the rendered example's") {
    // the rendered example is the prompt region ⊕ the response region
    val whole = docs.select(col("doc_id"), Corpus.chatTokenCount(concat(
        Corpus.chatPromptText(lit("sys"), concat(lit("q: "), col("text"))),
        Corpus.chatResponseText(col("text")))).as("wt"))
    val parts = sft.select(col("doc_id"), (col("pt") + col("rt")).as("st"))
    val joined = whole.join(parts, "doc_id")
      .select(col("wt").cast("long"), col("st").cast("long"))
      .as[(Long, Long)].collect()
    joined.foreach { case (w, s) => assert(w === s) }
  }

  test("loss interval is exactly the response region of each doc") {
    val got = Corpus.packWithLossMask(sft, "doc_id", col("pt"), col("rt"),
        contextLen = 8)
      .select(col("doc_id"), col("tok_start"), col("prompt_tokens"),
        col("loss_start"), col("loss_end"), col("tok_end"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, ts, pt, ls, le, te) =>
      assert(ls === ts + pt)
      assert(le === te)
      assert(ls <= le)
    }
  }

  test("pack layout agrees with packSequences on the combined counts") {
    val masked = Corpus.packWithLossMask(sft, "doc_id", col("pt"), col("rt"),
        contextLen = 8)
      .select(col("doc_id"), col("tok_start"), col("tok_end"),
        col("pack_first"), col("pack_last"), col("n_packs"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val plain = Corpus.packSequences(
        sft.withColumn("nt", col("pt") + col("rt")), "doc_id", col("nt"),
        contextLen = 8)
      .select(col("doc_id"), col("tok_start"), col("tok_end"),
        col("pack_first"), col("pack_last"), col("n_packs"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(masked === plain)
  }

  test("zero-token response yields an empty loss interval") {
    val ex = Seq((1L, 3L, 0L), (2L, 2L, 4L)).toDF("id", "pt", "rt")
    val got = Corpus.packWithLossMask(ex, "id", col("pt"), col("rt"),
        contextLen = 4)
      .select(col("id"), col("loss_start"), col("loss_end"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((3L, 3L)))
    assert(got(2L) === ((5L, 9L)))
  }
}
