package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * BPE vocabulary induction: the hand-computed Sennrich et al. 2016
 * corpus pins the merge ladder, encode pins greedy rank-order
 * application, segmentation is a partition of every word, and the
 * incremental trainer reproduces the distributed one's ladder.
 */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the classic subword-NMT example: low*5 lower*2 newest*6 widest*3
  private lazy val sennrich = Seq(
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
    .toDF("text")

  test("trainMerges reproduces the hand-computed merge ladder") {
    // pair counts: (e,s)=9 ties (s,t)=9 -> lexicographic (e,s); then
    // (es,t)=9; then (l,o)=7 ties (o,w)=7 -> (l,o); then (lo,w)=7
    val merges = Bpe.trainMerges(sennrich, "text", nMerges = 4)
    assert(merges === Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
  }

  test("encode applies merges greedily in rank order") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val got = Bpe.encode(Seq("lowest newest low").toDF("text"), "text", merges)
      .select(col("bpe_tokens")).as[Seq[String]].head()
    // lowest: l o w e s t -> l o w es t -> l o w est -> lo w est -> low est
    assert(got === Seq("low", "est", "n", "e", "w", "est", "low"))
  }

  test("segmentation is a partition: tokens concat back to the word") {
    val merges = Bpe.trainMerges(sennrich, "text", nMerges = 8)
    val docs = Seq("The widest rivers flow slowest, 42 km!",
      "newest lowest estates").toDF("text")
    val pre = docs.select(explode(TextFunctions.bpeTokens(col("text"))).as("w"))
      .as[String].collect()
    val enc = Bpe.encode(docs, "text", merges)
      .select(col("bpe_tokens")).as[Seq[String]].collect().flatten
    assert(enc.mkString === pre.mkString)
    assert(enc.length >= pre.length) // each word yields >= 1 subword
  }

  test("pairCounts with no merges is weighted character-bigram counting") {
    val counts = Bpe.pairCounts(Bpe.wordTypes(sennrich, "text"), Nil)
      .as[(String, String, Long)].collect()
      .map { case (l, r, n) => (l, r) -> n }.toMap
    assert(counts(("e", "s")) === 9L) // 6 newest + 3 widest
    assert(counts(("s", "t")) === 9L)
    assert(counts(("l", "o")) === 7L) // 5 low + 2 lower
    assert(counts(("w", "e")) === 8L) // 2 lower + 6 newest
    assert(counts(("i", "d")) === 3L)
  }

  test("trainMerges stops when no pair reaches minCount") {
    // every word distinct, every pair seen once -> nothing to merge
    val merges = Bpe.trainMerges(Seq("ab cd ef").toDF("text"), "text", 10)
    assert(merges.isEmpty)
    // minCount=1 merges the lexicographically-first singleton pair
    val one = Bpe.trainMerges(Seq("ab cd ef").toDF("text"), "text", 1,
      minCount = 1L)
    assert(one === Seq(("a", "b")))
  }

  test("incremental trainer == distributed trainer, bit-identical ladder") {
    // messier corpus than the Sennrich fixture: punctuation pre-tokens,
    // digits, repeated bigram structure, count ties — 20 merges deep the
    // delta-maintained pair counts must reproduce the full
    // re-segmentation argmax exactly, tie-breaks included
    val corpus = Seq(
      "the cat sat on the mat, the cat ate; 2020 vision 2020!",
      "lower lowest low low low slower slowest newest widest",
      "ab ab ab abc abc bc bcd cd cde de a b c d e",
      "résumé naïve café café résumé: naïve café 123 123 12").toDF("text")
    val inc = Bpe.trainMerges(corpus, "text", nMerges = 20)
    val dist = Bpe.trainMergesDistributed(corpus, "text", nMerges = 20)
    assert(inc === dist)
    assert(inc.size === 20, "fixture too small to reach 20 merges")
    // minCount early stop agrees too
    assert(Bpe.trainMerges(corpus, "text", 200, minCount = 4L) ===
      Bpe.trainMergesDistributed(corpus, "text", 200, minCount = 4L))
  }

  test("incremental trainer: deep ladders stay cheap (no per-merge jobs)") {
    // 200 merges on the mixed corpus: exhausts to the full reachable
    // ladder at minCount=1 and matches the distributed reference on a
    // prefix — and completes in driver time, not 200 Spark jobs
    val corpus = Seq(
      "interdependence independence interdependent independent",
      "internationalization internalization internationalize",
      "the quick brown fox jumps over the lazy dog again and again").toDF("text")
    val deep = Bpe.trainMerges(corpus, "text", nMerges = 200, minCount = 1L)
    assert(deep.nonEmpty)
    assert(deep === deep.distinct, "a merge pair repeated in the ladder")
    val prefix = Bpe.trainMergesDistributed(corpus, "text", nMerges = 12,
      minCount = 1L)
    assert(deep.take(12) === prefix)
  }

  test("astral-plane characters stay one symbol (code points, not chars)") {
    assert(Bpe.segmentWord("a😀b", Nil) ===
      Seq("a", "😀", "b"))
    assert(Bpe.segmentWord("😀", Nil).length === 1)
  }

  test("vocabulary: alphabet-first ids, merges appended in rank order") {
    val merges = Bpe.trainMerges(sennrich, "text", nMerges = 4)
    val vocab = Bpe.vocabularyFromTypes(Bpe.wordTypes(sennrich, "text"), merges)
    val byToken = vocab.map { case (i, t) => (t, i) }.toMap
    // ids are contiguous from 0
    assert(vocab.map(_._1) === vocab.indices.toSeq)
    // the corpus alphabet (d e i l n o r s t w) comes first, UTF-8 sorted
    val alpha = "deilnorstw".map(_.toString)
    alpha.zipWithIndex.foreach { case (c, i) => assert(byToken(c) === i, c) }
    // then the merge outputs, in rank order
    assert(byToken("es") === 10 && byToken("est") === 11 &&
      byToken("lo") === 12 && byToken("low") === 13)
  }

  test("vocabulary dedupes duplicate merge spellings to the earliest rank") {
    // a hand-built ladder (encode accepts these) where two merges spell
    // the same token: ("lo","w") and ("l","ow") both emit "low". The
    // GPT-2 layout dedupes — one id per token, first rank wins, ids
    // stay dense (no dead embedding rows)
    val ladder = Seq(("l", "o"), ("o", "w"), ("lo", "w"), ("l", "ow"))
    val vocab = Bpe.vocabularyFromTypes(Bpe.wordTypes(sennrich, "text"), ladder)
    assert(vocab.map(_._1) === vocab.indices.toSeq, "ids must stay dense")
    assert(vocab.count(_._2 == "low") === 1)
    // first spelling's position: alphabet (10 symbols) + ranks lo, ow, low
    val byToken = vocab.map { case (i, t) => (t, i) }.toMap
    assert(byToken("low") === 12)
    // encodeIds emits the surviving id for the token
    val ids = Bpe.encodeIds(Seq("low").toDF("text"), "text", ladder, vocab)
      .select(col("token_ids")).as[Seq[Int]].head()
    assert(ids === Seq(byToken("low")))
  }

  test("encodeIds: ids decode to encode()'s tokens; unseen chars -> unkId") {
    val merges = Bpe.trainMerges(sennrich, "text", nMerges = 4)
    val vocab = Bpe.vocabularyFromTypes(Bpe.wordTypes(sennrich, "text"), merges)
    val byId = vocab.toMap
    val docs = Seq("lowest newest low").toDF("text")
    val ids = Bpe.encodeIds(docs, "text", merges, vocab)
      .select(col("token_ids")).as[Seq[Int]].head()
    val toks = Bpe.encode(docs, "text", merges)
      .select(col("bpe_tokens")).as[Seq[String]].head()
    assert(ids.map(byId) === toks)
    // 'z' and 'q' never occur in the Sennrich corpus -> unkId
    val unk = Bpe.encodeIds(Seq("lazy quiz").toDF("text"), "text", merges,
        vocab, unkId = -7)
      .select(col("token_ids")).as[Seq[Int]].head()
    // alphabet is {d e i l n o r s t w}: a, z, y, q, u, z are unknown
    assert(unk.count(_ === -7) === 6)
    assert(unk.exists(_ >= 0)) // known chars (l, i) still map
  }

  test("rank-lookup segmentation == rank-order segmentation, every fixture") {
    // the encode-path scale spelling must be extensionally identical to
    // the reference full-list walk — chained merges included (the
    // es -> est -> lo -> low ladder exercises pairs created mid-stream)
    val corpus = Seq(
      "the cat sat on the mat, the cat ate; 2020 vision 2020!",
      "lower lowest low low low slower slowest newest widest",
      "ab ab ab abc abc bc bcd cd cde de a b c d e",
      "résumé naïve café café résumé: naïve café 123 123 12").toDF("text")
    val merges = Bpe.trainMerges(corpus, "text", nMerges = 20)
    val rank = merges.zipWithIndex.reverse.toMap
    val words = Bpe.wordTypes(corpus, "text").select(col("word"))
      .as[String].collect() ++
      Seq("lowest", "newest", "a😀b", "unseen", "xyzzy", "", "q")
    words.foreach { w =>
      assert(Bpe.segmentWordRanked(w, rank) === Bpe.segmentWord(w, merges),
        s"word '$w'")
    }
    // and at the encode surface, token streams match exactly
    val docs = Seq("The widest rivers flow slowest, 42 km!",
      "lowest newest estates 2020").toDF("text")
    val viaRank = Bpe.encode(docs, "text", merges)
      .select(col("bpe_tokens")).as[Seq[String]].collect().toSeq
    val segFull = udf((ws: Seq[String]) =>
      ws.flatMap(w => Bpe.segmentWord(w, merges)))
    val viaFull = docs.withColumn("bpe_tokens",
        segFull(TextFunctions.bpeTokens(col("text"))))
      .select(col("bpe_tokens")).as[Seq[String]].collect().toSeq
    assert(viaRank === viaFull)
  }
}
