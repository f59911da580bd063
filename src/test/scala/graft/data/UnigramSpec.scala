package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Unigram-LM tokenizer ([[Unigram]]): hand-computed forward-backward
 * expectations, EM partition invariance, Viterbi vs brute-force
 * segmentation, prune/coverage contracts, planted-vocabulary recovery,
 * and sampled segmentation.
 */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  test("forward-backward expectations match the two-segmentation hand case") {
    // word "ab", pieces a, b, ab with probs .25, .25, .5:
    //   P([ab]) = .5, P([a,b]) = .0625; Z = .5625
    //   E[ab] = .5/.5625 = 8/9; E[a] = E[b] = .0625/.5625 = 1/9
    val logp = Map("a" -> math.log(0.25), "b" -> math.log(0.25),
      "ab" -> math.log(0.5))
    val acc = Unigram.expectedCounts("ab", logp, maxPieceLen = 2).get
    assert(math.abs(acc("ab") - 8.0 / 9) < 1e-12)
    assert(math.abs(acc("a") - 1.0 / 9) < 1e-12)
    assert(math.abs(acc("b") - 1.0 / 9) < 1e-12)
  }

  test("emCounts is partition-invariant (micro-rounded per type)") {
    val types = Seq(("spark", 10L), ("spar", 3L), ("park", 7L), ("ark", 5L))
      .toDF("word", "n")
    val model: Unigram.Model = Map("s" -> -1600000L, "p" -> -1600000L,
      "a" -> -1600000L, "r" -> -1600000L, "k" -> -1600000L,
      "ar" -> -1200000L, "park" -> -900000L)
    def run(parts: Int) =
      Unigram.emCounts(types.repartition(parts), model, maxPieceLen = 4)
        .orderBy(col("piece")).as[(String, Long)].collect().toList
    assert(run(1) === run(7))
  }

  test("viterbi equals brute-force best segmentation on random words") {
    val rng = new scala.util.Random(5)
    val pieces = Seq("a", "b", "c", "ab", "bc", "abc", "ca", "bca")
    val model: Unigram.Model =
      pieces.map(p => p -> (-1000000L - rng.nextInt(3000000))).toMap
    def bruteBest(w: String): Long = {
      if (w.isEmpty) 0L
      else (1 to math.min(3, w.length)).flatMap { l =>
        val p = w.take(l)
        model.get(p).map(_ + bruteBest(w.drop(l)))
      }.max
    }
    for (_ <- 1 to 50) {
      val w = (1 to (1 + rng.nextInt(8))).map(_ => "abc" (rng.nextInt(3))).mkString
      val segs = Unigram.viterbi(w, model, maxPieceLen = 3)
      assert(segs.mkString === w)
      val score = segs.map(model).sum
      assert(score === bruteBest(w), s"word $w segs $segs")
    }
  }

  test("viterbi ties resolve to the longest piece; unknown chars emit <unk>") {
    // p(ab) == p(a)+p(b) exactly in micro-units -> tie -> longest wins
    val model: Unigram.Model =
      Map("a" -> -1000000L, "b" -> -1000000L, "ab" -> -2000000L)
    assert(Unigram.viterbi("ab", model, 2) === Seq("ab"))
    assert(Unigram.viterbi("axb", model, 2) ===
      Seq("a", Unigram.UnkPiece, "b"))
  }

  test("train recovers a planted high-frequency piece and normalizes") {
    val docs = (1 to 80).map(i => (i.toLong, "spark row"))
      .toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", vocabSize = 16,
      maxPieceLen = 4, emIters = 2, postPruneIters = 1)
    // all chars survive; some multi-char piece of "spark" makes the cut
    assert(Set("s", "p", "a", "r", "k", "o", "w").subsetOf(model.keySet))
    assert(model.keysIterator.exists(p => p.length > 1 && "spark".contains(p)))
    // scores are log-probs of a (near-)normalized distribution
    val mass = model.valuesIterator.map(m => math.exp(m / 1e6)).sum
    assert(mass > 0.9 && mass <= 1.0 + 1e-3, s"mass $mass")
  }

  test("prune keeps every single character even at minimal vocabSize") {
    val docs = Seq((1L, "abcd abcd")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", vocabSize = 4, maxPieceLen = 3)
    assert(model.keySet === Set("a", "b", "c", "d"))
  }

  test("seedCounts weights substrings by type frequency") {
    val types = Seq(("aba", 2L), ("ba", 3L)).toDF("word", "n")
    val got = Unigram.seedCounts(types, maxPieceLen = 2)
      .as[(String, Long)].collect().toMap
    // 'a': 2 per "aba" x2 + 1 per "ba" x3 = 7; "ab": 2; "ba": 2 + 3 = 5
    assert(got === Map("a" -> 7L, "b" -> 5L, "ab" -> 2L, "ba" -> 5L))
  }

  test("sampled segmentation frequencies match lattice probabilities at alpha=1") {
    // "ab" with p(a)=p(b)=.25, p(ab)=.5: P([ab]) = 8/9 (hand case above)
    val model: Unigram.Model = Map(
      "a" -> math.floor(math.log(0.25) * 1e6).toLong,
      "b" -> math.floor(math.log(0.25) * 1e6).toLong,
      "ab" -> math.floor(math.log(0.5) * 1e6).toLong)
    // one draw per document: the uniforms hash (salt, doc id, word, step)
    val n = 4000
    val docs = (1 to n).map(i => (i.toLong, "ab")).toDF("doc_id", "text")
    val whole = Unigram.sampleEncode(docs, "doc_id", "text", model,
        alpha = 1.0, salt = "17", maxPieceLen = 2)
      .filter(col("pieces") === array(lit("ab"))).count()
    assert(math.abs(whole.toDouble / n - 8.0 / 9) < 0.02, s"got $whole/$n")
  }

  test("sampling at large alpha collapses to Viterbi; deterministic per salt") {
    val docs = Seq((1L, "spark row table row")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", vocabSize = 20, maxPieceLen = 4)
    val vit = Unigram.encode(docs, "doc_id", "text", model, 4)
      .select(col("pieces")).as[Seq[String]].head()
    // alpha must dominate the micro-unit score resolution (1e-6 in log
    // space) for near-ties to collapse — 1e6 · Δscore ≥ 1 for any
    // non-tied pair of segmentations
    val cold = Unigram.sampleEncode(docs, "doc_id", "text", model,
        alpha = 1e6, salt = "s1", maxPieceLen = 4)
      .select(col("pieces")).as[Seq[String]].head()
    // at large alpha the sample is AN argmax segmentation — equal total
    // score to Viterbi (tied argmaxes may differ in tiling, e.g. t+able
    // vs ta+ble, so compare scores, not sequences)
    def score(segs: Seq[String]) =
      segs.map(p => model.getOrElse(p, Unigram.UnkScoreMicro)).sum
    assert(score(cold) === score(vit))
    assert(cold.mkString === vit.mkString)
    def run(salt: String) = Unigram.sampleEncode(docs, "doc_id", "text",
        model, alpha = 0.5, salt = salt, maxPieceLen = 4)
      .select(col("pieces")).as[Seq[String]].head()
    assert(run("s1") === run("s1")) // reproducible
    assert(run("s1").mkString === run("s2").mkString) // same text, any salt
  }

  test("encode is deterministic and concatenation-faithful on the corpus") {
    val docs = Seq((1L, "spark row table"), (2L, "row row spark"))
      .toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", vocabSize = 20, maxPieceLen = 4)
    val enc = Unigram.encode(docs, "doc_id", "text", model, maxPieceLen = 4)
      .orderBy(col("doc_id")).as[(Long, Seq[String])].collect()
    assert(enc(0)._2.mkString === "sparkrowtable")
    assert(enc(1)._2.mkString === "rowrowspark")
  }
}
